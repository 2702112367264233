"""Pairwise F1 ≥ 0.99 on zentity-fixture labeled pairs at shared blocking
keys — the BASELINE.json headline correctness metric.

Labels (FIXTURES.md §5): positives = all unordered pairs within a golden
cluster (derived from ResolutionActionIT expected doc sets); negatives =
pairs that SHARE a blocking key (per-resolver composite keys) but are not
in the same golden cluster. Predictions come from the batch resolve_all
clusters."""

import itertools

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import fixture_transcripts
from zentity_spark.blocking import blocking_keys
from zentity_spark.compiler import compile_model
from zentity_spark.model import Model
from zentity_spark.pipeline import resolve_all
from zentity_spark.transcripts import build_records, build_values

pytestmark = requires_reference


def _labeled_pairs(spark, turns, model, golden_clusters):
    """(pair → label) for pairs at shared blocking keys plus all golden
    positives."""
    compiled = compile_model(model)
    values = build_values(spark, turns, compiled)
    records = build_records(values, compiled)
    blocks = blocking_keys(records, compiled)
    from pyspark.sql import functions as F

    l = blocks.select("resolver", "ckey", F.col("record_id").alias("id_l"))
    r = blocks.select("resolver", "ckey", F.col("record_id").alias("id_r"))
    shared = (
        l.join(r, ["resolver", "ckey"])
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r")
        .distinct()
        .collect()
    )
    cluster_of = {}
    for ci, members in enumerate(golden_clusters):
        for m in members:
            cluster_of[m] = ci

    labels = {}
    for row in shared:
        a = row["id_l"].split("/")[1]
        b = row["id_r"].split("/")[1]
        if a in cluster_of or b in cluster_of:
            labels[(row["id_l"], row["id_r"])] = (
                a in cluster_of and b in cluster_of and cluster_of[a] == cluster_of[b]
            )
    # golden positives regardless of blocking
    prefix = {}
    for row in records.select("record_id").collect():
        prefix[row["record_id"].split("/")[1]] = row["record_id"]
    for members in golden_clusters:
        for a, b in itertools.combinations(sorted(members), 2):
            if a in prefix and b in prefix:
                key = tuple(sorted([prefix[a], prefix[b]]))
                labels[key] = True
    return labels


def _predicted_pairs(result):
    assign = {
        r["record_id"]: r["cluster_id"] for r in result.clusters.collect()
    }
    return assign


def _f1(labels, assign):
    tp = fp = fn = 0
    for (a, b), pos in labels.items():
        pred = assign.get(a) is not None and assign.get(a) == assign.get(b)
        if pred and pos:
            tp += 1
        elif pred and not pos:
            fp += 1
        elif not pred and pos:
            fn += 1
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def test_pairwise_f1_fixture_worlds(spark):
    """Aggregate pairwise F1 over the fixture worlds must be ≥ 0.99."""
    turns_all = fixture_transcripts(spark).cache()

    worlds = []

    # world 1: model A, indices a/b/c, resolvers a/b — golden cluster from
    # testJobAttributes (the other docs form their own transitive closures,
    # so only the asserted cluster is labeled)
    m1 = Model(load_reference_model("TestEntityModelA.json"))
    m1.prune({"include": {"indices": ["zentity_test_index_a", "zentity_test_index_b",
                                      "zentity_test_index_c"],
                          "resolvers": ["resolver_a", "resolver_b"]}})
    t1 = turns_all.where(turns_all.conv_id.rlike("^zentity_test_index_[abc]/"))
    worlds.append((t1, m1, [{"a0", "b0", "c0", "a1", "b1", "c1"}]))

    # world 2: model B, index a — weight gating (a6/a7 share bc-blocks with
    # a2/a3 but must NOT merge: labeled negatives)
    m2 = Model(load_reference_model("TestEntityModelB.json"))
    m2.prune({"include": {"indices": ["zentity_test_index_a"]}})
    t2 = turns_all.where(turns_all.conv_id.rlike("^zentity_test_index_a/"))
    worlds.append((t2, m2, [{"a2", "a3", "a4", "a5"}]))

    # world 3: arrays — transitive closure via shared array value
    m3 = Model(load_reference_model("TestEntityModelArrays.json"))
    t3 = fixture_transcripts(spark, filenames=("TestDataArrays.txt",))
    worlds.append((t3, m3, [{"1", "2"}]))

    # world 4: full model A, no scope — whole 40-doc collapse
    m4 = Model(load_reference_model("TestEntityModelA.json"))
    all40 = {f"{i}{n}" for i in "abcd" for n in range(10)}
    worlds.append((turns_all, m4, [all40]))

    total_tp = total_fp = total_fn = 0
    for turns, model, golden in worlds:
        labels = _labeled_pairs(spark, turns, model, golden)
        result = resolve_all(spark, turns, model)
        assign = _predicted_pairs(result)
        for (a, b), pos in labels.items():
            pred = assign.get(a) is not None and assign.get(a) == assign.get(b)
            total_tp += 1 if (pred and pos) else 0
            total_fp += 1 if (pred and not pos) else 0
            total_fn += 1 if (not pred and pos) else 0

    precision = total_tp / (total_tp + total_fp) if total_tp + total_fp else 1.0
    recall = total_tp / (total_tp + total_fn) if total_tp + total_fn else 1.0
    f1 = 2 * precision * recall / (precision + recall)
    print(f"pairwise F1 = {f1:.6f} (P={precision:.6f}, R={recall:.6f}, "
          f"tp={total_tp}, fp={total_fp}, fn={total_fn})")
    assert f1 >= 0.99, f"pairwise F1 {f1} below 0.99"
