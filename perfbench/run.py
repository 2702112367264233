"""Benchmark of the zentity_spark engine: end-to-end and per layer.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload committed_closure --seed 1 --seconds 8 --trace 0

Workloads (sizes are part of their definition; the seed picks the
corpus and the requests). README.md has the full description.

- committed_closure: ``pipeline.resolve_all_checkpointed`` with entity
  closure and candidate scoring on, into a fresh snapshot root, then the
  same call again on that root, which must resume every stage; 500
  entities, about 1/12 of them split-attribute (linked only through
  closure).
- seeded_requests: one client in a closed loop sending rounds of
  ``resolve.resolve`` requests (email, name+signup, phone+signup seeds)
  over a 500-entity corpus.
- batch_fused (run by hand, not in BENCHMARK.json): ``pipeline.resolve_all``
  in bench.py's headline config over 1k entities.

With ``--trace 0`` the last stdout line is one JSON object with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
of a traced call sequence (see spans.py). Every run checks the
program's outputs against the corpus ground truth; a run whose checks
fail reports ``"correct": false``. The machine, session config, workload
size and latencies go to stderr as one JSON line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import span  # noqa: E402

F1_GATE = 0.99
GEN_REPEATS = 3


# ------------------------------------------------------------- session

def machine() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return {"nproc": os.cpu_count() or 1, "ram_mb": mem_kb // 1024}


def session_conf(work: str, trace: bool) -> dict:
    m = machine()
    nproc = m["nproc"]
    # heap: a fifth of RAM, within [1g, 4g] -- the host is shared
    heap_mb = max(1024, min(4096, m["ram_mb"] // 5))
    conf = {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "zentity-perfbench",
        # one task per core: the corpora are small, so a second wave
        # of tasks would only add scheduling
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.default.parallelism": str(nproc),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{heap_mb}m",
        # C1 only: a run lives well under a minute, and with tiered C2
        # the same pass kept getting faster for ~10 passes, so each
        # run's numbers depended on how far compilation had got. The
        # code cache must be larger than C1's default or it fills and
        # compilation stops midway through a run.
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC -XX:TieredStopAtLevel=1 "
            f"-XX:ReservedCodeCacheSize=256m -Djava.io.tmpdir={work}/tmp"
        ),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Session:
    """One local Spark session whose files all live under ``work``."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.conf = session_conf(work, trace)
        for sub in ("tmp", "spark-local", "warehouse", "eventlog", "snapshots"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        builder = SparkSession.builder
        for k, v in self.conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def event_log(self) -> str:
        d = os.path.join(self.work, "eventlog")
        (name,) = os.listdir(d)
        return os.path.join(d, name)

    def stop(self) -> None:
        """Stop Spark, then the JVM (which ends the PySpark daemon and
        its workers), and wait for it."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


# ------------------------------------------------------------- scoring

def pairwise_f1(assignment: dict[str, str], truth: dict[str, int]) -> float:
    """Pairwise F1 of a (record -> cluster) assignment against the
    ground-truth (record -> entity) map. Computed on the driver from the
    collected assignment, so checking adds no Spark jobs to the run."""
    from collections import Counter

    def pairs(n):
        return n * (n - 1) // 2

    clusters = Counter(assignment.values())
    entities = Counter(truth.values())
    both = Counter((c, truth[r]) for r, c in assignment.items())
    tp = sum(pairs(n) for n in both.values())
    pred = sum(pairs(n) for n in clusters.values())
    true = sum(pairs(n) for n in entities.values())
    return 2 * tp / (pred + true) if pred + true else 1.0


def set_f1(got: set, want: set) -> float:
    tp = len(got & want)
    return 2 * tp / (len(got) + len(want)) if got or want else 1.0


def p80(samples: list[float]) -> float:
    """Nearest-rank 80th percentile."""
    s = sorted(samples)
    return s[max(0, math.ceil(0.8 * len(s)) - 1)]


# ----------------------------------------------------------- workloads

class Workload:
    """One workload: a corpus, a unit of user work (``op``) and the
    checks on its output. ``op`` returns the output; ``check`` returns
    (f1, problems); ``same`` compares two outputs of the same op."""

    entities: int
    hot_fraction = 0.01
    split_every = 12
    warmup_ops = 1
    trace_ops = 1
    round_ops = 1
    tracer = None  # set while the traced call sequence runs

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    def generate(self):
        from corpus import make_corpus

        corpus = make_corpus(self.spark, self.seed, self.entities,
                             hot_fraction=self.hot_fraction,
                             split_every=self.split_every)
        turns = corpus.turns.localCheckpoint()
        return corpus, turns, turns.count()

    def prepare(self, repeats: int = 1) -> float:
        """Build the corpus ``repeats`` times (the seed fixes it, so each
        build must give the same turn count); returns the median build
        time."""
        times, counts = [], set()
        for _ in range(repeats):
            t0 = time.perf_counter()
            corpus, turns, n = self.generate()
            times.append(time.perf_counter() - t0)
            counts.add(n)
        if len(counts) != 1:
            raise RuntimeError(f"corpus builds disagree: {sorted(counts)} turns")
        self.turns, self.n_turns = turns, n
        self.truth = {r["conv_id"]: r["eid"] for r in corpus.truth.collect()}
        self.corpus = corpus
        return statistics.median(times)

    def model(self):
        from zentity_spark.generator import BENCH_MODEL
        from zentity_spark.model import Model

        return Model(BENCH_MODEL)

    def size(self) -> dict:
        return {"entities": self.entities, "turns": self.n_turns,
                "conversations": len(self.truth), "hot_fraction": self.hot_fraction,
                "split_every": self.split_every}


class BatchFused(Workload):
    entities = 1000
    # closure is off in this config, so no split-attribute entities:
    # they link only through closure
    split_every = 0

    def config(self):
        from zentity_spark.pipeline import ResolutionConfig

        # bench.py's headline config, with its value-frequency cap
        # scaled from 100 at 20k entities to this corpus: the 1% hot
        # phone slice (~20 records) is junk, real values sit on <= 3
        return ResolutionConfig(entity_closure=False, max_block_size=5000,
                                max_value_frequency=5, score_candidate_pairs=True)

    def op(self, i: int):
        from pyspark.sql import functions as F

        from zentity_spark.pipeline import resolve_all

        r = resolve_all(self.spark, self.turns, self.model(), self.config())
        clusters = {row["record_id"]: row["cluster_id"] for row in r.clusters.collect()}
        scored = r.scored_pairs.agg(F.count("*").alias("n"), F.sum("jw_text").alias("jw")).first()
        return clusters, (scored["n"], scored["jw"])

    def check(self, out):
        clusters, (n_scored, jw) = out
        problems = []
        if set(clusters) != set(self.truth):
            problems.append("cluster assignment does not cover the corpus")
        if not n_scored or jw is None or jw <= 0:
            problems.append(f"scored pairs missing: n={n_scored} jw={jw}")
        return pairwise_f1(clusters, self.truth), problems

    def same(self, a, b) -> bool:
        return a[0] == b[0] and a[1][0] == b[1][0]


class CommittedClosure(Workload):
    entities = 500
    hot_fraction = 0.02
    warmup_ops = 0
    roots = 0

    def config(self):
        from zentity_spark.pipeline import ResolutionConfig

        # value-frequency cap scaled to the corpus: the 2% hot phone
        # slice (~20 records) is junk, real values sit on <= 3 records
        return ResolutionConfig(entity_closure=True, max_block_size=5000,
                                max_value_frequency=5, score_candidate_pairs=True)

    def _run(self, root: str):
        from zentity_spark.pipeline import resolve_all_checkpointed

        out = resolve_all_checkpointed(self.spark, self.turns, self.model(), root,
                                       input_token=f"perfbench-{self.seed}",
                                       config=self.config())
        return out, {r["record_id"]: r["cluster_id"] for r in out["clusters"].collect()}

    def op(self, i: int):
        # a fresh root per op: the first call commits every stage
        self.roots += 1
        root = os.path.join(self.work, "snapshots", f"op{self.roots}")
        first, clusters = self._run(root)
        with span(self.tracer, "storage.resume"):
            again, resumed_clusters = self._run(root)
        if self.tracer is not None:
            self.tracer.rows["storage.resume"] += len(resumed_clusters)
        resumed = {k: bool(m.get("resumed")) for k, m in again["stages"].items()}
        return clusters, (resumed_clusters, resumed), first["stages"]

    def check(self, out):
        clusters, (resumed_clusters, resumed), stages = out
        problems = []
        if set(clusters) != set(self.truth):
            problems.append("cluster assignment does not cover the corpus")
        for stage in ("clusters_closed", "scored_pairs"):
            if not stages.get(stage, {}).get("rows"):
                problems.append(f"stage {stage} missing or empty")
        if set(resumed) != set(stages) or not all(resumed.values()):
            problems.append(f"resume did not serve every stage: {resumed}")
        if resumed_clusters != clusters:
            problems.append("resumed clusters differ from the committed run's")
        return pairwise_f1(clusters, self.truth), problems

    def same(self, a, b) -> bool:
        return a[0] == b[0]


SEED_KINDS = (("email",), ("name", "signup"), ("phone", "signup"))


class SeededRequests(Workload):
    entities = 500
    # the seeded path has no value-frequency filter (the reference
    # resolves one entity per request and has none either), so a shared
    # junk phone would legitimately pull unrelated conversations into a
    # request; the hot slice exists for the batch block and value caps
    hot_fraction = 0.0
    # an extracted date joins later hops only when the input carries a
    # date (reference semantics), so an email seed cannot reach the
    # {name, signup} third of a split entity: split entities are a
    # closure workload's input, not this one's
    split_every = 0
    trace_ops = round_ops = len(SEED_KINDS)
    pool = 64

    def prepare(self, repeats: int = 1) -> float:
        gen_s = super().prepare(repeats)
        by_entity: dict[int, list] = {}
        for r in self.corpus.convs.collect():
            by_entity.setdefault(r["eid"], []).append(r)
        # the seed draws the entities, among those with three
        # conversations (each request then has to find two more); the
        # seed kinds rotate in a fixed order, so every run times the
        # same mix of request shapes
        rng = random.Random(self.seed)
        order = sorted(e for e, convs in by_entity.items() if len(convs) == 3)
        self.requests = []
        while len(self.requests) < self.pool:
            attrs = SEED_KINDS[len(self.requests) % len(SEED_KINDS)]
            convs = by_entity[rng.choice(order)]
            first = min(convs, key=lambda r: r["j"])
            if all(first[a] is not None for a in attrs):
                self.requests.append(({a: [first[a]] for a in attrs},
                                      {r["conv_id"] for r in convs}))
        return gen_s

    def op(self, i: int):
        from zentity_spark.resolve import Input, resolve

        attrs, _ = self.requests[i % len(self.requests)]
        with span(self.tracer, "resolve.request"):
            hits = resolve(self.spark, self.turns, self.model(), Input(attributes=attrs))
        if self.tracer is not None:
            self.tracer.rows["resolve.request"] += len(hits)
        return i % len(self.requests), hits

    def check(self, out):
        i, hits = out
        _, want = self.requests[i]
        return set_f1({h.record_id for h in hits}, want), []

    def same(self, a, b) -> bool:
        return sorted((h.record_id, h.hop) for h in a[1]) == sorted((h.record_id, h.hop) for h in b[1])


WORKLOADS = {
    "batch_fused": BatchFused,
    "committed_closure": CommittedClosure,
    "seeded_requests": SeededRequests,
}


# ----------------------------------------------------------------- runs

def run_ops(wl: Workload, start: int, count: int | None, seconds: float = 0.0):
    """Run ops back to back: ``count`` of them, or whole rounds of
    ``wl.round_ops`` until ``seconds`` have passed. Returns (latencies,
    f1s, failures, problems, outputs)."""
    lat, f1s, outs, problems = [], [], [], []
    failed = 0
    t_start = time.perf_counter()
    i = start
    while count is None or i < start + count:
        t0 = time.perf_counter()
        try:
            out = wl.op(i)
            lat.append(time.perf_counter() - t0)
            f1, bad = wl.check(out)
            f1s.append(f1)
            problems += bad
            outs.append(out)
        except Exception:  # a failed op is counted, never dropped
            traceback.print_exc(file=sys.stderr)
            failed += 1
            lat.append(math.inf)
            f1s.append(0.0)
        i += 1
        # stop only after whole rounds, so every run times the same mix
        if (count is None and (i - start) % wl.round_ops == 0
                and time.perf_counter() - t_start >= seconds):
            break
    return lat, f1s, failed, problems, outs


def end_to_end(wl: Workload, sess: Session, seconds: float, gen_s: float) -> dict:
    from spans import tree_cpu_s, tree_peak_rss_mb

    t0 = time.perf_counter()
    _, warm_f1s, warm_failed, problems, _ = run_ops(wl, -wl.warmup_ops, wl.warmup_ops)
    warmup_s = time.perf_counter() - t0

    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    lat, f1s, failed, bad, _ = run_ops(wl, 0, None, seconds)
    timed_s = time.perf_counter() - t0
    cpu_s = tree_cpu_s() - cpu0
    problems += bad
    ops = len(lat)
    # a failed op misses every latency limit: it counts as the whole
    # timed section
    lat = [x if math.isfinite(x) else timed_s for x in lat]
    f1 = statistics.fmean(f1s)
    gate_f1 = statistics.fmean(warm_f1s + f1s)
    if gate_f1 < F1_GATE:
        problems.append(f"result_f1 {gate_f1:.4f} < {F1_GATE} (warm-up included)")
    metrics = {
        "setup_s": (sess.start_s + gen_s + warmup_s, "s"),
        "wall_s": (timed_s / ops, "s"),
        "turns_per_s": (wl.n_turns * ops / timed_s, "1/s"),
        "req_p50_s": (statistics.median(lat), "s"),
        "req_p80_s": (p80(lat), "s"),
        "cpu_s": (cpu_s / ops, "s"),
        "peak_rss_mb": (tree_peak_rss_mb(), "MB"),
        "result_f1": (f1, "ratio"),
        "ok_ratio": ((ops - failed) / ops, "ratio"),
    }
    info = {"ops": ops, "latencies_s": [round(x, 4) for x in lat],
            "session_s": sess.start_s, "gen_s": gen_s, "warmup_s": warmup_s}
    return {"attempted": wl.warmup_ops + ops, "failed": warm_failed + failed,
            "problems": problems, "metrics": metrics, "info": info}


def _sources_digest() -> str:
    root = os.getcwd()
    h = hashlib.sha256()
    for d in ("zentity_spark", os.path.relpath(HERE, root)):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(root, d))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def traced(wl: Workload, sess: Session, name: str, state_dir: str) -> dict:
    """After the workload's warm-up, its op(s) untraced, then the same
    ops under the tracer; the two must return the same results. Returns
    the per-layer metrics."""
    import spans as tr

    n, warm = wl.trace_ops, wl.warmup_ops
    _, _, failed_plain, problems, _ = run_ops(wl, -warm, warm)
    plain_lat, _, failed, bad, plain = run_ops(wl, 0, n)
    failed_plain += failed
    problems += bad
    with tr.Tracer(sess.spark) as tracer:
        wl.tracer = tracer
        t0 = time.perf_counter()
        _, _, failed_traced, bad, outs = run_ops(wl, 0, n)
        traced_wall = time.perf_counter() - t0
        wl.tracer = None
    problems += bad
    failed = failed_plain + failed_traced
    if failed == 0 and not all(wl.same(a, b) for a, b in zip(plain, outs)):
        problems.append("traced call sequence returned other results than the untraced one")

    sess.stop()  # flushes the event log
    log = tr.fold_event_log(sess.event_log())
    m = tr.span_metrics(tracer, log)
    cand = m["blocking.candidates.rows_out"]
    recs = m["transcripts.records.rows_out"]
    traced_tasks = [t for t in log["tasks"] if t["group"].startswith(tr.GROUP_PREFIX)]
    task_s = sum(t["run_s"] for t in traced_tasks)
    op_wall = sum(t1 - t0 for s, t0, t1 in tracer.calls if s == tr.ROOT_SPAN)
    hops = [max((h.hop for h in out[1]), default=-1) + 2
            for out in outs] if isinstance(wl, SeededRequests) else []
    m.update({
        "pairs.match_ratio": m["pairs.verify.rows_out"] / cand if cand else 0.0,
        "blocking.candidates_per_record": cand / recs if recs else 0.0,
        "blocking.dropped_blocks": tracer.counts["blocking.dropped_blocks"],
        "blocking.key_capped_records": tracer.counts["blocking.key_capped_records"],
        "scoring.python_cpu_s": tracer.counts["scoring.python_cpu_s"],
        "storage.written_mb": tracer.counts["storage.written_mb"],
        # hops run per request: the last hit's hop, plus hop 0, plus
        # the final hop that found nothing new
        "resolve.hops_per_request": statistics.fmean(hops) if hops else 0.0,
        "spark.slot_util": task_s / (machine()["nproc"] * op_wall) if op_wall else 0.0,
        "spark.spill_mb": sum(t["spill_mb"] for t in traced_tasks),
        "trace.overhead_s": (traced_wall - sum(plain_lat)) / n,
    })

    # rows_out must repeat exactly for a fixed seed: compare with any
    # earlier traced run of the same sources, workload and seed
    rows = {k: v for k, v in m.items() if k.endswith(".rows_out")}
    os.makedirs(state_dir, exist_ok=True)
    key = os.path.join(state_dir, f"{_sources_digest()}-{name}-{wl.seed}.json")
    if os.path.exists(key):
        with open(key) as fh:
            before = json.load(fh)
        if before != rows:
            problems.append(f"rows_out differ from an earlier run with this seed: {before} vs {rows}")
    else:
        with open(key, "w") as fh:
            json.dump(rows, fh)

    units = {**{f"{s}.{k}": u for s in tr.SPANS for k, (u, _) in tr.SPAN_METRICS.items()},
             **{k: u for k, (u, _) in tr.EXTRA_METRICS.items()}}
    return {"attempted": warm + 2 * n, "failed": failed, "problems": problems,
            "metrics": {k: (m[k], units[k]) for k in units},
            "info": {"traced_wall_s": traced_wall, "plain_latencies_s": plain_lat}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    # the program under test is the checkout's own source tree, for the
    # driver and for the PySpark workers alike
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    import zentity_spark  # noqa: F401  (fails fast outside a checkout)

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    sess = None
    try:
        sess = Session(work, trace=bool(args.trace))
        wl = WORKLOADS[args.workload](sess.spark, args.seed, work)
        gen_s = wl.prepare(repeats=1 if args.trace else GEN_REPEATS)
        if args.trace:
            res = traced(wl, sess, args.workload, os.path.join(base, "rows_out"))
        else:
            res = end_to_end(wl, sess, args.seconds, gen_s)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "machine": machine(), "session": sess.conf,
                          "size": wl.size(), "problems": res["problems"],
                          **res["info"]}), file=sys.stderr)
    finally:
        if sess is not None:
            sess.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": not res["problems"] and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
