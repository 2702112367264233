"""Benchmark harness (driver contract).

Runs the headline entity-resolution pipeline over deterministic synthetic
transcripts (the workload the engine is built for) plus timed contract
queries over $SPARK_GRAFT_SF_DIR, and prints ONE JSON line:

  {"metric": ..., "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "turns": N, "turns_per_sec": T, "pair_precision": p, "pair_recall": r}

Env:
  SPARK_GRAFT_SF_DIR   default /root/testdata/sf0.1
  SPARK_GRAFT_CPUS     default: the CPUs this process may run on
  BENCH_ENTITIES       override synthetic entity count
  BENCH_SCALING=1      also run the N vs 4N scaling probe (scaling_probe)
                       and append its record to BENCH_SCALING.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    """Half the machine's RAM, at most 48g."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(48 * 1024, kb // 2048)}m"


# cli._spark stays a separate builder: under spark-submit it must defer to
# the conf set at submit time, where this one sets the bench's own values.
def make_spark(cpus: int, app: str = "zentity-bench", conf: dict | None = None):
    """The one local-session builder of the bench and the tools; `conf`
    overrides or adds Spark settings for one caller."""
    from pyspark.sql import SparkSession

    settings = {
        "spark.sql.shuffle.partitions": str(max(cpus * 2, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": _driver_memory(),
        # shuffle/spill bytes are the scarce resource both at 100 TB
        # (network) and on this DRAM-capped host: zstd's ~2× better
        # ratio beat lz4 1.44× end-to-end in an interleaved fresh-JVM
        # A/B at pinned local[8] (tools/ab_codec.py, 2026-08-19 01:45Z)
        "spark.io.compression.codec": "zstd",
        # zstd's better ratio shrinks COMPRESSED shuffle sizes ~3×, and
        # AQE's coalescing sizes post-shuffle parallelism by compressed
        # bytes: at the default minPartitionSize (1m) the compute-dense
        # verify stages (array_intersect over millions of candidate
        # pairs behind a ~10 MB shuffle) coalesced to 8 tasks on 32
        # cores — 2× wall for free. 64k keeps small-bytes/heavy-CPU
        # stages wide; large shuffles are untouched (they clear 1m
        # per partition anyway). Measured on ngram_jaccard: 33.7s →
        # 9.6s warm under zstd with this alone.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        # G1 (JDK17 default) throttles allocation-heavy Spark local-mode
        # jobs to ~8 cores' worth of throughput on this class of machine;
        # the throughput collector keeps scaling (measured 2.5-2.7× from
        # local[8] to local[32] on an md5-generation microbench where G1
        # was flat)
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        **(conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for key, value in settings.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def timed_resolve(spark, turns):
    """The timed part of the headline: resolve_all over `turns` with its
    clusters and scored pairs forced; returns (wall_sec, clusters,
    n_clusters)."""
    from pyspark.sql import functions as F

    from zentity_spark.generator import BENCH_MODEL
    from zentity_spark.model import Model
    from zentity_spark.pipeline import ResolutionConfig, resolve_all

    t0 = time.time()
    result = resolve_all(
        spark,
        turns,
        Model(BENCH_MODEL),
        ResolutionConfig(entity_closure=False, max_block_size=5000,
                         max_value_frequency=100,
                         score_candidate_pairs=True),
    )
    clusters = result.clusters.localCheckpoint()
    n_clusters = clusters.select("cluster_id").distinct().count()
    # force the scored-pairs artifact (the pandas-UDF scoring stage is
    # part of the headline workload, per the north-star pipeline shape)
    result.scored_pairs.agg(F.sum("lev_prefix"), F.sum("jw_text")).collect()
    return time.time() - t0, clusters, n_clusters


def run_pipeline(spark, n_entities: int):
    """Headline: full resolve_all on synthetic transcripts; returns
    (wall_sec, n_turns, precision, recall, n_clusters)."""
    from pyspark.sql import functions as F

    from zentity_spark.generator import synth_transcripts, true_pairs

    turns = synth_transcripts(spark, n_entities=n_entities).localCheckpoint()
    n_turns = turns.count()
    wall, clusters, n_clusters = timed_resolve(spark, turns)

    # pair-level quality vs ground truth (same-cluster pairs vs same-entity pairs)
    pred = (
        clusters.alias("l")
        .join(clusters.alias("r"), F.col("l.cluster_id") == F.col("r.cluster_id"))
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("id_l"), F.col("r.record_id").alias("id_r")
        )
    )
    truth = true_pairs(turns)
    tp = pred.join(truth, ["id_l", "id_r"]).count()
    np_ = pred.count()
    nt = truth.count()
    precision = tp / np_ if np_ else 1.0
    recall = tp / nt if nt else 1.0
    return wall, n_turns, precision, recall, n_clusters


def ann_probe(spark, sf_dir: str) -> dict:
    """Sub-quadratic evidence for the banded-LSH ANN path: candidate
    pair count vs the all-pairs quadratic at this scale, plus bucketed
    top-k recall against the brute-force baseline."""
    from pyspark.sql import functions as F

    from zentity_spark.extras import (
        ann_topk_bruteforce,
        ann_topk_bucketed,
        banded_lsh_buckets,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = e.count()
    b = banded_lsh_buckets(e, dim=64, bands=8, planes_per_band=8)
    cand = (
        b.alias("l")
        .join(b.alias("r"), ["band", "bucket"])
        .where(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(F.col("l.vec_id"), F.col("r.vec_id"))
        .distinct()
        .count()
    )
    bands, r = 16, 8
    bk = banded_lsh_buckets(e, dim=64, bands=bands, planes_per_band=r)
    qb = bk.where(F.col("vec_id") == 0).select("band", "bucket")
    probe = (
        bk.join(F.broadcast(qb), ["band", "bucket"])
        .where(F.col("vec_id") != 0).select("vec_id").distinct().count()
    )
    brute = {row["vec_id"] for row in ann_topk_bruteforce(e, 0, 10).collect()}
    bucketed = {
        row["vec_id"]
        for row in ann_topk_bucketed(e, 0, 10, dim=64, bands=bands,
                                     planes_per_band=r).collect()
    }
    # the multiprobe end of the recall/scan curve: probing each band's
    # Hamming-1 bucket neighborhood on a NO-structure corpus buys recall
    # by scanning a much larger fraction — both ends reported so the
    # tradeoff is visible (clustered corpora concentrate far harder)
    mp_bucketed = {
        row["vec_id"]
        for row in ann_topk_bucketed(e, 0, 10, dim=64, bands=bands,
                                     planes_per_band=r, multiprobe=1).collect()
    }
    from zentity_spark.extras import multiprobe_bucket_variants

    qb_mp = qb.select(
        "band",
        F.explode(
            multiprobe_bucket_variants(F.col("bucket"), r)
        ).alias("bucket"),
    ).distinct()
    mp_probe = (
        bk.join(F.broadcast(qb_mp), ["band", "bucket"])
        .where(F.col("vec_id") != 0).select("vec_id").distinct().count()
    )
    from zentity_spark.extras import ann_topk_ivf

    ivf_cents, ivf_probe = 32, 8
    ivf = {
        row["vec_id"]
        for row in ann_topk_ivf(e, 0, 10, n_centroids=ivf_cents,
                                n_probe=ivf_probe, n_iters=1).collect()
    }
    # NOTE: the synthetic embeddings are near-uniform random, so top-k
    # "neighbors" sit barely above the cosine noise floor — recall at a
    # small probe fraction measures LSH concentration (recall ÷
    # probe_fraction ≫ 1), not absolute retrieval quality; real corpora
    # with cluster structure concentrate far harder.
    topk_probe_fraction = round(probe / max(n - 1, 1), 6)
    topk_recall = round(len(brute & bucketed) / 10, 3)
    ivf_probe_fraction = round(ivf_probe / ivf_cents, 6)
    ivf_recall = round(len(brute & ivf) / 10, 3)

    # planted-cluster corpus: ground truth where the random sf* vectors
    # have none — a broken index cannot pass recall ≥ 0.9 here
    # (same corpora/params as tests/test_ann_clustered.py)
    from zentity_spark.generator import synth_clustered_embeddings

    cl = synth_clustered_embeddings(
        spark, n_clusters=30, per_cluster=25, dim=64
    ).localCheckpoint()
    cl_brute = {row["vec_id"] for row in ann_topk_bruteforce(cl, 7, 10).collect()}
    cl_bucketed = {
        row["vec_id"]
        for row in ann_topk_bucketed(cl, 7, 10, dim=64, bands=bands,
                                     planes_per_band=r).collect()
    }
    cl_ivf = {
        row["vec_id"]
        for row in ann_topk_ivf(cl, 7, 10, n_centroids=ivf_cents,
                                n_probe=ivf_probe, n_iters=1).collect()
    }
    clustered = {
        "topk_recall_vs_bruteforce": round(len(cl_brute & cl_bucketed) / 10, 3),
        "ivf_recall_vs_bruteforce": round(len(cl_brute & cl_ivf) / 10, 3),
    }
    return {
        "clustered": clustered,
        "vectors": n,
        "candidate_pairs": cand,
        "all_pairs": n * (n - 1) // 2,
        "candidate_fraction": round(cand / max(n * (n - 1) // 2, 1), 6),
        "topk_probe_fraction": topk_probe_fraction,
        "topk_recall_vs_bruteforce": topk_recall,
        # enrichment = recall ÷ probe fraction: how much better the probe
        # set concentrates true neighbors than a random scan of the same
        # size (a random probe of fraction f has expected recall f)
        "topk_enrichment_vs_random": round(topk_recall / max(topk_probe_fraction, 1e-9), 1),
        # multiprobe end of the same curve (Hamming-1 bucket neighbors)
        "topk_multiprobe_probe_fraction": round(mp_probe / max(n - 1, 1), 6),
        "topk_multiprobe_recall_vs_bruteforce": round(len(brute & mp_bucketed) / 10, 3),
        # IVF-flat path: scan-to-score fraction ≈ n_probe/n_centroids
        "ivf_probe_fraction": ivf_probe_fraction,
        "ivf_recall_vs_bruteforce": ivf_recall,
        "ivf_enrichment_vs_random": round(ivf_recall / max(ivf_probe_fraction, 1e-9), 1),
    }


QUERY_SUBSET = [
    "conv_assembly",
    "blocking_keys",
    "candidate_pairs",
    "pairs_levenshtein",
    "pairs_jaro_winkler",
    "date_parse_chain",
    # scored_pairs is exercised inside the headline resolve_all (the
    # sf0.1 events-derived pair set alone is ~0.9M pairs / ~2 min)
    "connected_components",
    "bfs_hops",
    "composite_score",
    "attribute_score_chain",
    "dedup_exact",
    "minhash_signatures",
    "simhash_near_dup",
    "embedding_near_dup",
    "ann_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_quality",
    "repetition_metrics",
    "sessionize",
    # round-3 session-6 additions
    "ngram_jaccard",
    "pii_scrub",
    "vocab_stats",
    "pack_sequences",
    "corpus_curation",
    # round-3 session-8 additions
    "near_dup_dedup",
    "decontaminate",
    "stratified_sample",
    "domain_mixture",
    # round-3 session-9 additions
    "semantic_dedup",
    "lm_quality",
    "tfidf_keywords",
    # round-3 session-10 additions
    "substring_dedup",
    "sorted_neighborhood",
    # round-3 session-11 additions
    "stable_entity_ids",
    "clerical_review_queue",
    "inferred_pairs",
    # round-3 session-14 additions
    "review_decisions_applied",
    # round-3 session-15 additions
    "doc_chunks",
    "corpus_shards",
    "boilerplate_strip",
    "entity_timeline",
    "muc_lsh",
    "vmeasure_lsh",
    "block_stats",
    "cluster_diff",
]


def _entities() -> int:
    return int(os.environ.get("BENCH_ENTITIES", "20000"))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    n_entities = _entities()

    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from zentity_spark.entry_queries import all_queries

    run_pipeline(spark, 1000)  # warm up JVM/codegen before timing
    # best of 2 full runs: this host's effective capacity swings ±50%
    # minute-to-minute (hypervisor neighbors), which otherwise dominates
    # round-over-round headline comparisons
    wall, n_turns, precision, recall, n_clusters = run_pipeline(spark, n_entities)
    wall2, _, _, _, _ = run_pipeline(spark, n_entities)
    wall = min(wall, wall2)

    queries = {}
    qmap = all_queries()
    for name in QUERY_SUBSET:
        # best of 2: the first execution of a query pays codegen compile
        # + scan-cache cold costs that swamp sub-second plans and made
        # round-over-round comparisons noisy
        best = None
        for _ in range(2):
            t0 = time.time()
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        queries[name] = round(best, 3)

    ann = ann_probe(spark, sf_dir)
    spark.stop()

    scaling = None
    if os.environ.get("BENCH_SCALING") == "1":
        scaling = scaling_probe()
        append_scaling_history(scaling, _SCALING_FILE)

    # The ANN detail block goes on its OWN earlier line: the driver's tail
    # capture is byte-bounded, and round 2's single giant line lost the
    # headline off the front (BENCH_r02.json parsed: null). The LAST line
    # is the compact headline contract the driver parses.
    print(json.dumps({"detail": {"ann": ann}}))
    out = {
        "metric": "resolve_all_wallclock",
        "value": round(wall, 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "turns": n_turns,
        "turns_per_sec": round(n_turns / wall, 1),
        "entities": n_entities,
        "clusters": n_clusters,
        "pair_precision": round(precision, 6),
        "pair_recall": round(recall, 6),
        "cpus": cpus,
        "ann_topk_recall": ann.get("topk_recall_vs_bruteforce"),
        "ann_topk_multiprobe_recall": ann.get(
            "topk_multiprobe_recall_vs_bruteforce"),
        "ann_clustered_recall": ann.get("clustered", {}).get(
            "topk_recall_vs_bruteforce"),
        "ann_clustered_ivf_recall": ann.get("clustered", {}).get(
            "ivf_recall_vs_bruteforce"),
        "scaling": scaling,
    }
    sys.stdout.flush()
    print(json.dumps(out, separators=(",", ":")))


_SCALING_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json")


def append_scaling_history(record: dict, path: str) -> None:
    """Append one probe record to the `history` list of the scaling file
    at `path`. Every other key stays as it is: the top level of
    BENCH_SCALING.json is the frozen round-5 record of the retired
    32-CPU host."""
    with open(path) as fh:
        banked = json.load(fh)
    banked.setdefault("history", []).append(record)
    with open(path, "w") as fh:
        json.dump(banked, fh)


def stage_runs(spark) -> dict[tuple[int, int], tuple[str, float]]:
    """Every stage attempt the live status store holds, once the listener
    bus has drained: (stage id, attempt id) -> (status, executor run time
    in seconds). Without the drain, the last stage of a finished job can
    still read ACTIVE with a partial run time."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    stages = jsc.statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    runs = {}
    it = stages.iterator()
    while it.hasNext():
        st = it.next()
        runs[(st.stageId(), st.attemptId())] = (
            st.status().toString(), st.executorRunTime() / 1000.0)
    return runs


def _probe_run(cpus: int) -> dict | None:
    """One fresh pinned worker at local[cpus]; its JSON line, or None
    (reported on stderr) when it fails or times out."""
    cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, os.path.abspath(__file__)]
    env = dict(os.environ, BENCH_SCALING_WORKER=str(cpus))
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=3600)
    except subprocess.TimeoutExpired:
        print(f"scaling_probe: worker local[{cpus}] timed out", file=sys.stderr)
        return None
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(
            f"scaling_probe: worker local[{cpus}] failed (rc={proc.returncode}); "
            "stderr tail: " + "\n".join(proc.stderr.strip().splitlines()[-5:]),
            file=sys.stderr,
        )
        return None
    return json.loads(lines[-1])


def scaling_probe() -> dict:
    """N-vs-4N scaling evidence: the headline job (BENCH_ENTITIES) at
    local[lo] and local[hi], where hi is every CPU this process may use
    and lo = max(1, hi // 4).

    Efficiency E = (T_hi / T_lo) / (hi / lo) for throughput T = turns /
    wall. It splits into two factors. Slot utilisation u = S / (n * wall),
    with S the summed executor run time of the timed stages, is what the
    code controls: driver gaps, scheduling, skew, under-partitioning. S
    itself is what the host controls: memory bandwidth, turbo, GC. Both
    legs time the same turns, so E = E_util * E_task exactly, with
    E_util = u_hi / u_lo and E_task = S_lo / S_hi.

    Methodology:
    - a FRESH subprocess per run: restarting a SparkSession in-process
      reuses the old JVM (heap garbage, stale state) and skews the
      second run by 2x+;
    - PINNED to CPUs 0..n-1 (taskset): a local[n] JVM is not an n-CPU
      job unpinned, as GC threads, Python UDF workers and shuffle IO
      threads run beyond the n task slots and inflate the small-n leg;
    - INTERLEAVED best-of-3 by throughput: a shared host's speed drifts
      over minutes, so the levels alternate rep by rep.

    A failed worker is reported and its rep skipped; a level with no
    successful rep leaves `error` in place of the efficiencies.
    """
    nproc = len(os.sched_getaffinity(0))
    levels = (max(1, nproc // 4), nproc)
    reps = 3
    best: dict[int, dict] = {}
    failed = []
    for _ in range(reps):
        for cpus in levels:
            run = _probe_run(cpus)
            if run is None:
                failed.append(cpus)
                continue
            run["throughput"] = run["turns"] / run["wall"]
            run["u"] = run["run_s"] / (cpus * run["wall"])
            if cpus not in best or run["throughput"] > best[cpus]["throughput"]:
                best[cpus] = run
    record = {
        "levels": list(levels),
        "pinned": True,
        "nproc": nproc,
        "entities": _entities(),
        "reps": reps,
        "failed": failed,
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    lo, hi = levels
    if lo not in best or hi not in best:
        return {**record, "error": "no successful rep at one or both levels"}
    for cpus in levels:
        record[f"local{cpus}"] = {
            k: best[cpus][k] for k in ("throughput", "wall", "run_s", "u")}
    record["E"] = (best[hi]["throughput"] / best[lo]["throughput"]) / (hi / lo)
    record["E_util"] = best[hi]["u"] / best[lo]["u"]
    record["E_task"] = best[lo]["run_s"] / best[hi]["run_s"]
    return record


def scaling_worker_main(cpus: int):
    """One probe leg: warm up, build the corpus, then time the headline's
    resolve with the executor run time of exactly the stages it ran."""
    from zentity_spark.generator import synth_transcripts

    spark = make_spark(cpus, app=f"zentity-scaling-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    run_pipeline(spark, 2000)  # warm up JVM/codegen before timing
    turns = synth_transcripts(spark, n_entities=_entities()).localCheckpoint()
    n_turns = turns.count()
    before = stage_runs(spark)
    wall = timed_resolve(spark, turns)[0]
    run_s = sum(t for key, (_, t) in stage_runs(spark).items() if key not in before)
    spark.stop()
    print(json.dumps({"cpus": cpus, "turns": n_turns, "wall": wall, "run_s": run_s}))


if __name__ == "__main__":
    worker = os.environ.get("BENCH_SCALING_WORKER")
    if worker:
        scaling_worker_main(int(worker))
    else:
        main()
