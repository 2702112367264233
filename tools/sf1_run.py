"""One-shot large-corpus evidence run: resolve_all at 10x the bench
corpus (default 200k entities ≈ 4.8M turns vs the sf0.1 headline's
20k/480k), recording (a) the honest end-to-end wall, (b) per-stage
walls with output cardinalities, (c) total + peak-stage shuffle bytes
via the Spark REST status API, and (d) the cap/salt lineage counters
(key-capped records, dropped blocks) — the design says linear in
corpus size with no fallback anomalies; this measures one point.

Per-stage numbers come from a resolve_all_checkpointed run into a temp
root: every stage is a committed snapshot, so a stage's wall is the gap
between consecutive `committed_at` times (it includes the previous
stage's read-back and lineage commit), its rows are the manifest's, and
(d) is read from the `metrics` table. The stage walls sum to more than
the fused end-to-end wall — committing disables cross-stage pipelining;
use the fused number for throughput.

Usage: python tools/sf1_run.py [n_entities]
Prints one JSON line for BASELINE.md.
"""

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the REST status API is the only way to read shuffle bytes without an
# event-log pass. 4057 is a STARTING port — Spark retries upward on
# collision, which is why readers must use sc.uiWebUrl.
UI_CONF = {"spark.ui.enabled": "true", "spark.ui.port": "4057"}


def _stage_metrics(spark) -> list:
    # sc.uiWebUrl is the ACTUALLY-BOUND UI address (Spark port-retries
    # on collision), and a local UI serves exactly this app — a
    # hardcoded localhost:PORT could silently read another app's
    # stages after a collision
    base = f"{spark.sparkContext.uiWebUrl}/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications"))
    app_id = apps[0]["id"]
    return json.load(urllib.request.urlopen(
        f"{base}/applications/{app_id}/stages?status=complete"))


def shuffle_totals(spark) -> tuple[int, int]:
    stages = _stage_metrics(spark)
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return rd, wr


def shuffle_stats(spark) -> dict:
    stages = _stage_metrics(spark)
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    peak = max((s.get("shuffleWriteBytes", 0) for s in stages), default=0)
    return {
        "stages": len(stages),
        "shuffle_read_GB": round(rd / 1e9, 2),
        "shuffle_write_GB": round(wr / 1e9, 2),
        "peak_stage_shuffle_write_GB": round(peak / 1e9, 2),
    }


def stage_walls(spark, turns, n_entities: int) -> dict:
    """(b) and (d) from one committed run of bench.py's headline config."""
    from pyspark.sql import functions as F

    from zentity_spark.generator import BENCH_MODEL
    from zentity_spark.model import Model
    from zentity_spark.pipeline import ResolutionConfig, resolve_all_checkpointed
    from zentity_spark.storage import SnapshotStore

    config = ResolutionConfig(entity_closure=False, max_block_size=5000,
                              max_value_frequency=100,
                              score_candidate_pairs=False)
    root = tempfile.mkdtemp(prefix="sf1-stages-")
    try:
        t = time.time()
        res = resolve_all_checkpointed(spark, turns, Model(BENCH_MODEL), root,
                                       input_token=f"sf1-{n_entities}",
                                       config=config)
        stages = {}
        for name, m in res["stages"].items():
            stages[name] = {"sec": round(m["committed_at"] - t, 1), "rows": m["rows"]}
            t = m["committed_at"]
        n_clusters = res["clusters"].select("cluster_id").distinct().count()
        lineage = {
            r["stage"]: r["rows"]
            for r in SnapshotStore(root).read_all(spark, "metrics")
            .where(F.col("run_id") == res["run_id"])
            .groupBy("stage").agg(F.sum("rows").alias("rows")).collect()
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # non-zero key_capped/dropped at this corpus would mean the caps
    # started biting 10x earlier than designed
    return {"stage_walls": stages, "clusters_stagewise": n_clusters,
            "lineage": {"key_capped_records": lineage.get("blocking.key_capped", 0),
                        "dropped_blocks": lineage.get("blocking.dropped", 0)}}


def main():
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    from bench import make_spark, run_pipeline
    from zentity_spark.generator import synth_transcripts

    spark = make_spark(len(os.sched_getaffinity(0)), "zentity-sf1", conf=UI_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    run_pipeline(spark, 1000)  # JVM/codegen warmup, same as bench.py

    # (a) honest end-to-end wall through the same entry bench.py times
    wall, n_turns, precision, recall, n_clusters = run_pipeline(spark, n_entities)
    turns = synth_transcripts(spark, n_entities=n_entities).localCheckpoint()
    staged = stage_walls(spark, turns, n_entities)

    stats = shuffle_stats(spark)
    spark.stop()
    print(json.dumps({
        "n_entities": n_entities,
        "turns": n_turns,
        "resolve_all_wall_sec": round(wall, 1),
        "turns_per_sec": round(n_turns / wall, 1),
        "pair_precision": round(precision, 6),
        "pair_recall": round(recall, 6),
        "clusters_end_to_end": n_clusters,
        **staged,
        "shuffle": stats,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
