"""Benchmark harness (driver contract).

Runs the headline entity-resolution pipeline over deterministic synthetic
transcripts (the workload the engine is built for) plus timed contract
queries over $SPARK_GRAFT_SF_DIR, and prints ONE JSON line:

  {"metric": ..., "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "turns": N, "turns_per_sec": T, "pair_precision": p, "pair_recall": r}

Env:
  SPARK_GRAFT_SF_DIR   default /root/testdata/sf0.1
  SPARK_GRAFT_CPUS     default 32
  BENCH_ENTITIES       override synthetic entity count
  BENCH_SCALING=1      also run the N vs 4N parallelism scaling probe
                       (local[8] vs local[32]) and report efficiency
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


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
        "spark.driver.memory": "48g",
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


def run_pipeline(spark, n_entities: int):
    """Headline: full resolve_all on synthetic transcripts; returns
    (wall_sec, n_turns, precision, recall)."""
    from pyspark.sql import functions as F

    from zentity_spark.generator import BENCH_MODEL, synth_transcripts, true_pairs
    from zentity_spark.model import Model
    from zentity_spark.pipeline import ResolutionConfig, resolve_all

    turns = synth_transcripts(spark, n_entities=n_entities).localCheckpoint()
    n_turns = turns.count()

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
    wall = time.time() - t0

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


def host_weather_snapshot(secs: int = 4) -> dict:
    """Compact membw probe (the 2→8 stream ratio from
    tools/host_weather.py) so the headline JSON itself records which
    capacity window the measurement landed in: this host's bandwidth
    swings 3-4× between windows, and a 37s-vs-14s headline delta is
    machine-attributable only with the window stamped alongside."""
    try:
        from tools.host_weather import _stream, run as hw_run

        bw = {n: round(hw_run(_stream, n, secs=secs), 1) for n in (2, 8)}
        return {
            "membw_GBps": bw,
            "membw_2_to_8": round(bw[8] / max(bw[2], 0.1), 2),
        }
    except Exception as exc:  # never let the weather probe kill the bench
        return {"error": str(exc)[:200]}


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


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    n_entities = int(os.environ.get("BENCH_ENTITIES", "20000"))

    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from zentity_spark.entry_queries import all_queries

    run_pipeline(spark, 1000)  # warm up JVM/codegen before timing
    weather_before = host_weather_snapshot()
    # best of 2 full runs: this host's effective capacity swings ±50%
    # minute-to-minute (hypervisor neighbors), which otherwise dominates
    # round-over-round headline comparisons
    wall, n_turns, precision, recall, n_clusters = run_pipeline(spark, n_entities)
    wall2, _, _, _, _ = run_pipeline(spark, n_entities)
    wall = min(wall, wall2)
    weather_after = host_weather_snapshot()

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
        scaling = merge_scaling_cache(scaling_probe())
    elif os.path.exists(_SCALING_CACHE):
        # attach the last measured scaling evidence, labeled as cached —
        # the probe takes ~40 min and is run explicitly (BENCH_SCALING=1;
        # method + numbers documented in BASELINE.md "Measured")
        with open(_SCALING_CACHE) as fh:
            scaling = {**json.load(fh), "cached": True}

    # Detail blocks (ANN quality probe, scaling host-evidence history) go
    # on their OWN earlier line: the driver's tail capture is
    # byte-bounded, and round 2's single giant line lost the headline
    # off the front (BENCH_r02.json parsed: null). The LAST line is the
    # compact headline contract the driver parses.
    print(json.dumps({"detail": {"ann": ann, "scaling_full": scaling}}))
    scaling_summary = None
    if scaling is not None:
        scaling_summary = {
            k: scaling[k]
            for k in ("levels", "pinned", "efficiency", "measured_at",
                      "cached", "probe_error", "best_window",
                      *(f"throughput_local{n}" for n in scaling.get("levels", [])))
            if k in scaling
        }
        # the banked top level is max-over-windows and may predate HEAD;
        # surface the freshest clean probe too so the artifact answers
        # "was scaling re-evidenced at THIS code" on its own
        clean = [h for h in scaling.get("history", [])
                 if not h.get("burst_inflated") and h.get("measured_at")]
        if clean:
            fresh = max(clean, key=lambda h: h["measured_at"])
            scaling_summary["freshest_clean_probe"] = {
                k: fresh[k] for k in ("measured_at", "efficiency", "levels")
                if k in fresh
            }
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
        "scaling": scaling_summary,
        # window stamp bracketing the headline runs (membw 2→8 stream
        # ratio; healthy ≈ 3-4×, degraded ≈ 1.1-1.7× — BASELINE.md)
        "host_weather_at_headline": {
            "before": weather_before, "after": weather_after,
        },
    }
    sys.stdout.flush()
    print(json.dumps(out, separators=(",", ":")))


_SCALING_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json")


def merge_scaling_cache(probe: dict) -> dict:
    """Merge a fresh probe into BENCH_SCALING.json: keep the
    host-evidence history and the best verified window (this sandbox's
    capacity swings 2-3× between windows — BASELINE.md "Scaling
    re-measurement"), promote the new probe to best_window when it
    wins, and return the merged record."""
    prior = {}
    if os.path.exists(_SCALING_CACHE):
        with open(_SCALING_CACHE) as fh:
            prior = json.load(fh)
    if "error" in probe:
        # a failed probe must not re-stamp measured_at over the prior
        # run's surviving numbers (they'd be misattributed to now) —
        # report the failure without touching the cache
        return {**prior, "probe_error": probe["error"]}
    stamped = {**probe, "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    merged = {**prior, **stamped}
    merged.pop("probe_error", None)
    # a probe at different levels (e.g. 1,4 instead of 2,8) must not
    # leave the prior levels' throughput keys dangling next to the new
    # "levels" list — they'd read as one measurement
    new_keys = {f"throughput_local{n}" for n in probe.get("levels", [])}
    for k in list(merged):
        if k.startswith("throughput_local") and k not in new_keys:
            del merged[k]
    best = prior.get("best_window")
    if "efficiency" in stamped and (
        best is None or stamped["efficiency"] > best.get("efficiency", 0.0)
    ):
        merged["best_window"] = {
            k: stamped[k]
            for k in ("efficiency", "measured_at", "levels",
                      *(f"throughput_local{n}" for n in probe.get("levels", [])))
            if k in stamped
        }
    with open(_SCALING_CACHE, "w") as fh:
        json.dump(merged, fh)
    return merged


def scaling_probe() -> dict:
    """N-vs-4N scaling evidence: the SAME job on the SAME input at two
    parallelism levels (default local[2] vs local[8]).

    Methodology (each choice is load-bearing on a shared/noisy host):
    - FRESH subprocess per run: restarting a SparkSession in-process
      reuses the old JVM (heap garbage, stale state) and skews the
      second run by 2×+.
    - CPU PINNING (taskset 0..N-1): a local[N] JVM is NOT an N-CPU job —
      GC threads, Python UDF workers, and shuffle IO threads all run
      beyond the N task slots, which silently inflates the small-N
      baseline. Pinning makes "N cores" true.
    - INTERLEAVED BEST-OF-reps: this VM's effective CPU capacity
      fluctuates minute to minute (hypervisor neighbors; measured 3×
      swings on identical runs); best-of interleaved reps compares the
      two levels at their achievable capability rather than comparing
      two different weather windows.
    - Default levels 2 and 8 (not 8 and 32): sustained multi-core
      microbenchmarks top out at ~14-16 cores' worth of throughput on
      this VM regardless of the 32 visible CPUs, so 8→32 measures the
      hypervisor's ceiling, not the pipeline's scaling. 2→8 stays inside
      the machine's real capacity. Override: BENCH_SCALING_LEVELS=8,32.
    """
    import subprocess

    levels = sorted(
        int(x) for x in os.environ.get("BENCH_SCALING_LEVELS", "2,8").split(",")
    )
    reps = int(os.environ.get("BENCH_SCALING_REPS", "3"))
    pin = os.environ.get("BENCH_SCALING_PIN", "1") == "1"
    best: dict[int, float] = {n: 0.0 for n in levels}
    for _ in range(reps):
        for n in levels:
            cmd = [sys.executable, os.path.abspath(__file__)]
            if pin:
                cmd = ["taskset", "-c", f"0-{n - 1}"] + cmd
            env = dict(os.environ, BENCH_SCALING_WORKER=str(n))
            proc = subprocess.run(
                cmd, capture_output=True, text=True, env=env, timeout=3600
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                # a crashed/timed-out worker must not crash ~40 min of
                # probe work: report and skip the rep
                print(
                    f"scaling_probe: worker local[{n}] failed "
                    f"(rc={proc.returncode}); stderr tail: "
                    + "\n".join(proc.stderr.strip().splitlines()[-5:]),
                    file=sys.stderr,
                )
                continue
            best[n] = max(best[n], float(json.loads(lines[-1])["turns_per_sec"]))
    lo, hi = levels[0], levels[-1]
    if best[lo] <= 0.0 or best[hi] <= 0.0:
        return {
            "levels": levels,
            "pinned": pin,
            "error": "scaling probe failed: no successful rep at one or both levels",
        }
    return {
        **{f"throughput_local{n}": round(best[n], 1) for n in levels},
        "levels": levels,
        "pinned": pin,
        # workload shape, so downstream comparisons (burst detection
        # keys on absolute per-leg throughput) can prefer same-size
        # references — a 200k-entity fast probe and a 400k full probe
        # have comparable RATIOS but not identical absolute legs
        "entities": int(os.environ.get("BENCH_SCALING_ENTITIES", "400000")),
        "reps": reps,
        "efficiency": round((best[hi] / best[lo]) / (hi / lo), 4),
    }


def scaling_worker_main(cpus: int):
    sc_entities = int(os.environ.get("BENCH_SCALING_ENTITIES", "400000"))
    spark = make_spark(cpus, app=f"zentity-scaling-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    run_pipeline(spark, 2000)  # warm up JVM/codegen before timing
    w, nt, _, _, _ = run_pipeline(spark, sc_entities)
    spark.stop()
    print(json.dumps({"cpus": cpus, "turns": nt, "wall": round(w, 3),
                      "turns_per_sec": round(nt / w, 1)}))


if __name__ == "__main__":
    worker = os.environ.get("BENCH_SCALING_WORKER")
    if worker:
        scaling_worker_main(int(worker))
    else:
        main()
