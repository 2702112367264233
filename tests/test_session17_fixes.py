"""Round-5 session-17 fixes: the round-4 ADVICE items that aren't
covered elsewhere — _parquet_rows must apply Spark's hidden-path
filter, and the zero-universe cluster metrics contract."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from zentity_spark.storage import _parquet_rows


def _write_part(path, n):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"x": list(range(n))}), path)


def test_parquet_rows_skips_hidden_and_staging_paths(tmp_path):
    """Spark readers ignore any path component starting with '_' or
    '.' (HadoopFsRelation pathFilter); the manifest row count must
    match what a read-back would return, so a leftover _temporary/
    staging file or a ._COPYING_ temp must not be counted."""
    root = str(tmp_path / "data")
    _write_part(os.path.join(root, "part-00000.parquet"), 7)
    _write_part(os.path.join(root, "k=1", "part-00001.parquet"), 5)
    # invisible to Spark readers — all must be excluded
    _write_part(os.path.join(root, "_temporary", "0", "part-x.parquet"), 100)
    _write_part(os.path.join(root, ".staging", "part-y.parquet"), 100)
    _write_part(os.path.join(root, "._part-z.parquet"), 100)
    _write_part(os.path.join(root, "_committed_123.parquet"), 100)
    # a hive partition dir on an underscore-named column IS read by
    # Spark (shouldFilterOutPathName keeps '_' names containing '=')
    _write_part(os.path.join(root, "_src=a", "part-00002.parquet"), 3)
    assert _parquet_rows(root) == 15


def test_parquet_rows_empty_dir(tmp_path):
    assert _parquet_rows(str(tmp_path)) == 0


def test_cluster_metrics_zero_universe_all_non_null(spark):
    """A present metrics row must never carry NULL metric columns
    (round-4 ADVICE): in the zero-overlap case every ratio coalesces to
    0.0 (ari to its trivially-identical 1.0, pair_tp to 0), and
    weighted folds key off n_records = 0."""
    from zentity_spark.clustering import (
        bcubed_metrics,
        information_cluster_metrics,
        muc_metrics,
        pairwise_cluster_metrics,
    )

    pred = spark.createDataFrame(
        [("a", "c1")], "record_id string, cluster_id string")
    gold = spark.createDataFrame(
        [("z", "g1")], "record_id string, gold_id string")
    for fn in (muc_metrics, information_cluster_metrics,
               bcubed_metrics, pairwise_cluster_metrics):
        row = fn(pred, gold).collect()[0].asDict()
        assert row["n_records"] == 0, fn.__name__
        nulls = [k for k, v in row.items() if v is None]
        assert not nulls, (fn.__name__, nulls)
    row = pairwise_cluster_metrics(pred, gold).collect()[0]
    assert row["pair_tp"] == 0 and row["ari"] == 1.0


def test_resolve_all_batch_path_never_collects_data(spark, monkeypatch):
    """PLANS.md's 'no collect() in the batch path' claim, enforced
    (round-4 VERDICT item 3): resolve_all must never route through the
    request-scoped resolve._collect_with_budget, and — with the CC
    driver fast path disabled (driver_edge_cap=0 forces the fully
    distributed star loop) — every DataFrame.collect during the whole
    batch comes from a documented bounded fold:
      _signature            1-row convergence hash per star round
      global_rank/cumsum    O(#partitions) offset rows
      resolve_physical_paths schema-sized (source, path) distinct
    Anything else collecting data rows on this path is a scale bug."""
    import functools
    import sys

    import zentity_spark.clustering as cl
    import zentity_spark.pipeline as pl
    import zentity_spark.resolve as rv
    from tests.fixture_data import split_model, split_turns

    def _boom(*a, **k):
        raise AssertionError("_collect_with_budget entered from resolve_all")

    monkeypatch.setattr(rv, "_collect_with_budget", _boom)
    monkeypatch.setattr(
        pl, "connected_components",
        functools.partial(cl.connected_components, driver_edge_cap=0))

    callers = []
    # the class sessions actually return: Spark 4's classic DataFrame
    # overrides collect, so a spy on pyspark.sql.DataFrame never fires
    DataFrame = type(spark.range(0))
    real_collect = DataFrame.collect

    def spy(self):
        callers.append(sys._getframe(1).f_code.co_name)
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    model = split_model(weighted=True)
    turns = split_turns(spark)
    result = pl.resolve_all(spark, turns, model)
    n = result.clusters.count()
    assert n > 0
    allowed = {"_signature", "global_rank", "global_cumsum",
               "resolve_physical_paths"}
    bad = [c for c in callers if c not in allowed]
    assert not bad, f"undocumented batch-path collects from: {bad}"


def test_cluster_metrics_singleton_universe(spark):
    """n=1: no pairs exist — the ARI total C(1,2)=0 division must not
    evaluate (ANSI mode) and every metric stays non-null."""
    from zentity_spark.clustering import pairwise_cluster_metrics

    pred = spark.createDataFrame(
        [("a", "c1")], "record_id string, cluster_id string")
    gold = spark.createDataFrame(
        [("a", "g1")], "record_id string, gold_id string")
    row = pairwise_cluster_metrics(pred, gold).collect()[0].asDict()
    assert row["n_records"] == 1
    assert row["ari"] == 1.0
    assert not [k for k, v in row.items() if v is None]
