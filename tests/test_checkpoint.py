"""Checkpoint/resume semantics (north_rule: resumable from last committed
snapshot per stage, with per-partition lineage metrics)."""

import json
import os
import shutil

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import fixture_transcripts, split_model, split_turns
from zentity_spark.model import Model
from zentity_spark.pipeline import ResolutionConfig, resolve_all_checkpointed
from zentity_spark.storage import SnapshotStore


@pytest.fixture()
def out_root(tmp_path):
    return str(tmp_path / "warehouse")


def _model():
    m = Model(load_reference_model("TestEntityModelA.json"))
    m.prune(
        {"include": {"indices": ["zentity_test_index_a", "zentity_test_index_b",
                                 "zentity_test_index_c"],
                     "resolvers": ["resolver_a", "resolver_b"]}}
    )
    return m


def test_stage_commits_and_metrics(spark, out_root):
    turns = split_turns(spark)
    res = resolve_all_checkpointed(
        spark, turns, split_model(), out_root, input_token="split"
    )
    store = SnapshotStore(out_root)
    for stage in ("records", "pairs", "edges", "clusters"):
        snap = store.latest(stage)
        assert snap is not None and snap["rows"] > 0
        assert not res["stages"][stage].get("resumed")
    # lineage metrics: one commit per computed stage, rows per partition
    metrics = store.read_all(spark, "metrics")
    assert metrics is not None
    rows = metrics.collect()
    assert {r["stage"] for r in rows} >= {"records", "pairs", "clusters"}
    assert all(r["rows"] > 0 for r in rows)
    assert all(r["run_id"] == res["run_id"] for r in rows)


@requires_reference
def test_resume_from_snapshots(spark, out_root):
    """Second run with identical input/config resumes every stage."""
    turns = fixture_transcripts(spark)
    turns = turns.where(turns.conv_id.rlike("^zentity_test_index_[abc]/"))
    first = resolve_all_checkpointed(
        spark, turns, _model(), out_root, input_token="fixture-abc"
    )
    second = resolve_all_checkpointed(
        spark, turns, _model(), out_root, input_token="fixture-abc"
    )
    for stage in ("records", "pairs", "edges", "clusters"):
        assert second["stages"][stage].get("resumed"), f"{stage} not resumed"
    a = sorted(map(tuple, first["clusters"].collect()))
    b = sorted(map(tuple, second["clusters"].collect()))
    assert a == b


@requires_reference
def test_resume_after_partial_crash(spark, out_root):
    """Kill/resume: wipe the clusters stage (simulating a crash before its
    commit); rerun recomputes ONLY clusters, resuming earlier stages."""
    turns = fixture_transcripts(spark)
    turns = turns.where(turns.conv_id.rlike("^zentity_test_index_[abc]/"))
    first = resolve_all_checkpointed(
        spark, turns, _model(), out_root, input_token="fixture-abc"
    )
    a = sorted(map(tuple, first["clusters"].collect()))
    shutil.rmtree(os.path.join(out_root, "clusters"))
    second = resolve_all_checkpointed(
        spark, turns, _model(), out_root, input_token="fixture-abc"
    )
    assert second["stages"]["records"].get("resumed")
    assert second["stages"]["pairs"].get("resumed")
    assert not second["stages"]["clusters"].get("resumed")
    b = sorted(map(tuple, second["clusters"].collect()))
    assert a == b


def test_config_change_invalidates(spark, out_root):
    """A changed fingerprint (different config) must NOT resume."""
    turns = split_turns(spark)
    resolve_all_checkpointed(spark, turns, split_model(), out_root, input_token="split")
    second = resolve_all_checkpointed(
        spark, turns, split_model(), out_root, input_token="split",
        config=ResolutionConfig(max_block_size=123),
    )
    assert not second["stages"]["records"].get("resumed")


def test_crash_consistency_orphan_data(spark, out_root):
    """Data written without a manifest (crash between write and commit)
    must be invisible to readers."""
    turns = split_turns(spark)
    turns = turns.where(turns.conv_id.rlike("^idx_a/"))
    store = SnapshotStore(out_root)
    # simulate orphan: data dir exists, no snapshot manifest
    df = turns.limit(5)
    df.write.mode("overwrite").parquet(os.path.join(out_root, "ghost", "data", "dead"))
    assert store.latest("ghost") is None
    assert store.read(spark, "ghost") is None


def test_candidates_stage_and_key_cap_lineage(spark, out_root):
    """Round 2: candidates are a committed stage (blocking runs once per
    run) and the max_keys_per_record truncation leaves a lineage row."""
    turns = split_turns(spark)
    # one record with three names: three r_name keys, over a cap of 2
    turns = turns.unionByName(spark.createDataFrame(
        [("idx_a/w", t, "user", f"name=w{t}", None, None) for t in range(3)],
        turns.schema))
    res = resolve_all_checkpointed(
        spark, turns, split_model(), out_root, input_token="split",
        config=ResolutionConfig(entity_closure=False, max_keys_per_record=2),
    )
    store = SnapshotStore(out_root)
    assert store.latest("candidates") is not None
    metrics = store.read_all(spark, "metrics")
    stages = {r["stage"] for r in metrics.collect()}
    assert "blocking.key_capped" in stages  # cap=2 must truncate somebody
    second = resolve_all_checkpointed(
        spark, turns, split_model(), out_root, input_token="split",
        config=ResolutionConfig(entity_closure=False, max_keys_per_record=2),
    )
    assert second["stages"]["candidates"].get("resumed")


@requires_reference
def test_checkpointed_closure_matches_batch(spark, out_root):
    """entity_closure in the checkpointed path must produce the same
    clusters as resolve_all with closure (it was silently skipped before
    round 2)."""
    from zentity_spark.pipeline import resolve_all

    turns = fixture_transcripts(spark)
    turns = turns.where(turns.conv_id.rlike("^zentity_test_index_[abc]/"))
    cfg = ResolutionConfig(entity_closure=True)
    res = resolve_all_checkpointed(
        spark, turns, _model(), out_root, input_token="fixture-abc", config=cfg
    )
    assert "clusters_closed" in res["stages"]
    batch = resolve_all(spark, turns, _model(), cfg)
    a = sorted(map(tuple, res["clusters"].collect()))
    b = sorted(map(tuple, batch.clusters.collect()))
    assert a == b


# ----------------------------------------------------------------------
# The stage list, on the split-attribute corpus

_FULL = ResolutionConfig(entity_closure=True, score_candidate_pairs=True)
_STAGES = ["records", "candidates", "pairs", "edges", "clusters",
           "clusters_closed", "scored_pairs"]


def _assignment(df):
    return sorted(map(tuple, df.select("record_id", "cluster_id").collect()))


def _lineage_stages(spark, store, run_id):
    return {r["stage"] for r in store.read_all(spark, "metrics").collect()
            if r["run_id"] == run_id}


@pytest.mark.parametrize("weighted", [False, True])
def test_fused_committed_and_resumed_agree(spark, out_root, weighted):
    from zentity_spark.pipeline import resolve_all

    turns, model = split_turns(spark), split_model(weighted)
    fused = resolve_all(spark, turns, model, _FULL)
    fresh = resolve_all_checkpointed(spark, turns, model, out_root,
                                     input_token="split", config=_FULL)
    again = resolve_all_checkpointed(spark, turns, model, out_root,
                                     input_token="split", config=_FULL)
    clusters = _assignment(fused.clusters)
    assert _assignment(fresh["clusters"]) == clusters
    assert _assignment(again["clusters"]) == clusters
    # closure merged every entity's c into its a/b cluster
    by_id = dict(clusters)
    assert by_id["idx_b/c0"] == by_id["idx_a/a0"] == by_id["idx_b/b0"]
    n_scored = fused.scored_pairs.count()
    assert n_scored > 0
    assert fresh["stages"]["scored_pairs"]["rows"] == n_scored
    assert again["stages"]["scored_pairs"]["rows"] == n_scored
    assert list(fresh["stages"]) == _STAGES
    assert all(m.get("resumed") for m in again["stages"].values())


def test_crash_at_every_stage_boundary(spark, out_root, monkeypatch):
    """A crash after stage k commits (later stages' tables gone, and
    stage k's lineage manifest lost) resumes stages ≤ k, recomputes the
    rest, backfills stage k's lineage row and ends on the uninterrupted
    clusters. The values table is built once per fresh run, never on a
    full resume."""
    import zentity_spark.pipeline as pl

    calls = []
    real = pl.build_values
    monkeypatch.setattr(pl, "build_values",
                        lambda *a, **k: calls.append(1) or real(*a, **k))
    turns, model = split_turns(spark), split_model(False)

    def run():
        return resolve_all_checkpointed(spark, turns, model, out_root,
                                        input_token="split", config=_FULL)

    base = run()
    assert len(calls) == 1
    clusters = _assignment(base["clusters"])
    calls.clear()
    assert all(m.get("resumed") for m in run()["stages"].values())
    assert calls == []

    store = SnapshotStore(out_root)
    for k, name in enumerate(_STAGES):
        for later in _STAGES[k + 1:]:
            shutil.rmtree(os.path.join(out_root, later))
        snap_id = store.latest(name)["snapshot_id"]
        meta_dir = os.path.join(out_root, "metrics", "snapshots")
        for f in os.listdir(meta_dir):
            with open(os.path.join(meta_dir, f)) as fh:
                if json.load(fh)["fingerprint"] == snap_id:
                    os.remove(os.path.join(meta_dir, f))
        assert not store.contains_fingerprint("metrics", snap_id)

        res = run()
        resumed = [s for s in _STAGES if res["stages"][s].get("resumed")]
        assert resumed == _STAGES[:k + 1], name
        assert _assignment(res["clusters"]) == clusters, name
        assert store.contains_fingerprint("metrics", snap_id), name
        lineage = _lineage_stages(spark, store, res["run_id"])
        assert lineage >= {name, *_STAGES[k + 1:]}, name


def test_committed_block_cap_leaves_lineage(spark, out_root):
    """max_block_size truncation leaves a `blocking.dropped` lineage row
    in committed mode, as the fused result's metrics report it."""
    from zentity_spark.pipeline import resolve_all

    turns = spark.createDataFrame(
        [(f"idx_a/x{i}", 0, "user", "name=same", None, None) for i in range(3)]
        + [("idx_a/y0", 0, "user", "name=pair", None, None),
           ("idx_a/y1", 0, "user", "name=pair", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")
    cfg = ResolutionConfig(entity_closure=False, max_block_size=2)
    model = split_model(False)
    fused = resolve_all(spark, turns, model, cfg)
    assert dict(fused.metrics)["blocking.dropped_blocks"].count() == 1
    res = resolve_all_checkpointed(spark, turns, model, out_root,
                                   input_token="cap", config=cfg)
    store = SnapshotStore(out_root)
    assert "blocking.dropped" in _lineage_stages(spark, store, res["run_id"])
    assert _assignment(res["clusters"]) == _assignment(fused.clusters)


def test_tools_do_not_restate_the_stage_list():
    """The stage sequence lives in pipeline._stages only: no tool or
    bench script imports the stage functions to run it again."""
    import ast

    banned = {"blocking_keys", "candidate_pairs", "verify_pairs", "gate_edges",
              "_build_filtered_values", "_cluster_assignments"}
    # one stage in isolation, not the sequence: the salt-tier stress run
    allowed = {("stress_fallbacks.py", "candidate_pairs")}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    paths = [os.path.join(tools, f) for f in sorted(os.listdir(tools))
             if f.endswith(".py")] + [os.path.join(root, "bench.py")]
    bad = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                bad += [(os.path.basename(path), a.name) for a in node.names
                        if a.name in banned
                        and (os.path.basename(path), a.name) not in allowed]
    assert not bad, f"stage functions imported outside pipeline.py: {bad}"
