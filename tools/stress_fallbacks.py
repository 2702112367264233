"""One-shot stress evidence for the two documented fallback regimes —
the paths that only engage ABOVE the driver-fast-path caps (round-4
VERDICT item 6: both are unit-tested but had no at-scale measurement).

A) Distributed connected components: a synthetic graph with > 1M edges
   (the driver_edge_cap) forces the large-star/small-star loop. Records
   wall, star rounds, shuffle bytes — and proves label parity against
   the driver union-find on the SAME edges (cap raised): identical
   component count and an order-insensitive xor-hash over the full
   (record_id, cluster_id) assignment.

B) Blocking salt tier: a bench-scale blocks table with hot keys past
   salt_threshold (and one degenerate key past max_block_size) drives
   candidate_pairs through the salted self-join + deterministic cap.
   Records wall and shuffle for the salted plan vs the unsalted plan on
   the same input, the dropped-block lineage, and proves exactly-once
   pair parity (count + xor-hash) between the two plans.

Usage: python tools/stress_fallbacks.py [n_nodes] [hot_block_size]
Prints one JSON line for BASELINE.md.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import make_spark  # noqa: E402
from tools.sf1_run import shuffle_totals  # noqa: E402

# the UI's REST API serves shuffle_totals; 4058 is a starting port only,
# shuffle_totals reads sc.uiWebUrl
UI_CONF = {"spark.ui.enabled": "true", "spark.ui.port": "4058"}


def _assignment_hash(df):
    """Order-insensitive fold over the full assignment — O(1) to the
    driver, so parity never needs a big collect."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("n_components"),
        F.coalesce(F.bit_xor(F.xxhash64("record_id", "cluster_id")),
                   F.lit(0)).alias("h"),
    ).collect()[0]
    return {"n_assigned": row["n"], "n_components": row["n_components"],
            "xor_hash": row["h"]}


def _pair_hash(df):
    from pyspark.sql import functions as F

    row = df.select(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("resolver", "id_l", "id_r")),
                   F.lit(0)).alias("h"),
    ).collect()[0]
    return {"n_pairs": row["n"], "xor_hash": row["h"]}


def stress_cc(spark, n_nodes: int) -> dict:
    import zentity_spark.clustering as cl
    from pyspark.sql import functions as F

    # K components of m members each; every node attaches to two
    # pseudo-random members of ITS component -> 2*n_nodes edges, well
    # past the 1M driver_edge_cap at the default n_nodes
    k_components = n_nodes // 8
    edges = None
    base = spark.range(n_nodes).select(
        F.col("id"), (F.col("id") % k_components).alias("c"))
    m = n_nodes // k_components
    for salt in (1, 2):
        e = base.select(
            F.col("id").alias("src"),
            (F.col("c") + F.lit(k_components)
             * F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(m))).alias("dst"),
        )
        edges = e if edges is None else edges.union(e)
    edges = edges.where(F.col("src") != F.col("dst")).localCheckpoint()
    n_edges = edges.count()

    rounds = {"n": 0}
    real_sig = cl._signature

    def counting_sig(e):
        rounds["n"] += 1
        return real_sig(e)

    cl._signature = counting_sig
    try:
        rd0, wr0 = shuffle_totals(spark)
        t = time.time()
        dist = cl.connected_components(edges).localCheckpoint()
        dist_h = _assignment_hash(dist)
        wall_dist = round(time.time() - t, 1)
        rd1, wr1 = shuffle_totals(spark)
    finally:
        cl._signature = real_sig

    # ground truth: the driver union-find on the same edges (cap lifted)
    t = time.time()
    drv = cl.connected_components(edges, driver_edge_cap=1 << 62)
    drv_h = _assignment_hash(drv)
    wall_drv = round(time.time() - t, 1)

    return {
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "driver_edge_cap": 1_000_000,
        "star_rounds": rounds["n"],
        "wall_distributed_sec": wall_dist,
        "wall_driver_unionfind_sec": wall_drv,
        "shuffle_read_GB": round((rd1 - rd0) / 1e9, 2),
        "shuffle_write_GB": round((wr1 - wr0) / 1e9, 2),
        "distributed": dist_h,
        "driver": drv_h,
        "label_parity": dist_h == drv_h,
    }


def stress_salt(spark, hot_block_size: int) -> dict:
    from pyspark.sql import functions as F

    from zentity_spark.blocking import candidate_pairs

    # bench-scale blocks table: 40k cold blocks of 5, 3 hot blocks past
    # salt_threshold (salted tier), 1 degenerate block past
    # max_block_size (deterministic cap + lineage)
    cold = spark.range(200_000).select(
        F.lit("r0").alias("resolver"),
        F.concat(F.lit("cold"), (F.col("id") % 40_000)).alias("ckey"),
        F.concat(F.lit("rec"), F.col("id")).alias("record_id"),
    )
    hot = spark.range(3 * hot_block_size).select(
        F.lit("r0").alias("resolver"),
        F.concat(F.lit("hot"), (F.col("id") % 3)).alias("ckey"),
        F.concat(F.lit("hrec"), F.col("id")).alias("record_id"),
    )
    degen = spark.range(12_000).select(
        F.lit("r0").alias("resolver"),
        F.lit("degenerate").alias("ckey"),
        F.concat(F.lit("drec"), F.col("id")).alias("record_id"),
    )
    blocks = cold.union(hot).union(degen).localCheckpoint()

    rd0, wr0 = shuffle_totals(spark)
    t = time.time()
    cand_salted, dropped = candidate_pairs(
        blocks, max_block_size=10_000, salt_threshold=2000, salt_target=500)
    salted_h = _pair_hash(cand_salted)
    wall_salted = round(time.time() - t, 1)
    rd1, wr1 = shuffle_totals(spark)

    t = time.time()
    cand_plain, _ = candidate_pairs(
        blocks, max_block_size=10_000, salt_threshold=None)
    plain_h = _pair_hash(cand_plain)
    wall_plain = round(time.time() - t, 1)
    rd2, wr2 = shuffle_totals(spark)

    dropped_rows = [r.asDict() for r in dropped.collect()]
    expect_hot_pairs = 3 * hot_block_size * (hot_block_size - 1) // 2
    expect_cold_pairs = 40_000 * (5 * 4 // 2)
    return {
        "hot_block_size": hot_block_size,
        "n_salts_per_hot_block": -(-hot_block_size // 500),
        "wall_salted_sec": wall_salted,
        "wall_unsalted_sec": wall_plain,
        "salted_shuffle_write_GB": round((wr1 - wr0) / 1e9, 2),
        "unsalted_shuffle_write_GB": round((wr2 - wr1) / 1e9, 2),
        "salted": salted_h,
        "unsalted": plain_h,
        "pair_parity": salted_h == plain_h,
        "expected_pairs": expect_hot_pairs + expect_cold_pairs,
        "count_matches_closed_form":
            salted_h["n_pairs"] == expect_hot_pairs + expect_cold_pairs,
        "dropped_blocks": dropped_rows,
    }


def main():
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000
    hot_block_size = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    spark = make_spark(len(os.sched_getaffinity(0)), "zentity-stress-fallbacks",
                       conf=UI_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    cc = stress_cc(spark, n_nodes)
    salt = stress_salt(spark, hot_block_size)
    spark.stop()
    print(json.dumps({
        "cc_distributed_regime": cc,
        "salt_tier_regime": salt,
    }))


if __name__ == "__main__":
    main()
