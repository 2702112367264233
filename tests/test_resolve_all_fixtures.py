"""End-to-end batch resolution against the reference's golden clusters.

The cluster containing each seeded doc must equal the expected doc set of
the corresponding ResolutionActionIT test (hop structure is checked by
the seeded-mode tests; here we check set equality of the transitive
closure, which is what the batch pipeline computes)."""

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import (
    fixture_transcripts,
    golden_clusters,
    split_model,
    split_turns,
)
from zentity_spark.model import Model
from zentity_spark.pipeline import ResolutionConfig, resolve_all


def _cluster_of(clusters_df, record_id):
    row = clusters_df.where(clusters_df.record_id == record_id).collect()
    assert row, f"{record_id} missing from clusters"
    cid = row[0]["cluster_id"]
    members = {
        r["record_id"].split("/")[1]
        for r in clusters_df.where(clusters_df.cluster_id == cid).collect()
    }
    return members


@pytest.fixture(scope="module")
def turns_abc(spark):
    t = fixture_transcripts(spark)
    return t.where(t.conv_id.rlike("^zentity_test_index_[abc]/")).cache()


@requires_reference
def test_job_attributes_cluster(spark, turns_abc):
    """testJobAttributes (ResolutionActionIT.java:726-742): with model A
    scoped to indices a,b,c and resolvers a,b, the entity containing a0
    is exactly {a0,b0,c0,a1,b1,c1}."""
    model = Model(load_reference_model("TestEntityModelA.json"))
    model.prune(
        {
            "include": {
                "indices": [
                    "zentity_test_index_a",
                    "zentity_test_index_b",
                    "zentity_test_index_c",
                ],
                "resolvers": ["resolver_a", "resolver_b"],
            }
        }
    )
    result = resolve_all(spark, turns_abc, model)
    expected = set(golden_clusters("attributes"))
    assert _cluster_of(result.clusters, "zentity_test_index_a/a0") == expected


@requires_reference
def test_resolver_weight_cluster(spark):
    """testJobResolverWeight (ResolutionActionIT.java:1384-1397): model B
    on index a only; the entity containing a2 is exactly {a2,a3,a4,a5} —
    resolver_bc (weight 1) must NOT pull in a6 via (b_10,c_10)."""
    t = fixture_transcripts(spark)
    turns_a = t.where(t.conv_id.rlike("^zentity_test_index_a/"))
    model = Model(load_reference_model("TestEntityModelB.json"))
    model.prune({"include": {"indices": ["zentity_test_index_a"]}})
    result = resolve_all(spark, turns_a, model)
    assert _cluster_of(result.clusters, "zentity_test_index_a/a2") == set(
        golden_clusters("weight")
    )


@requires_reference
def test_arrays_cluster(spark):
    """testJobArrays (ResolutionActionIT.java:1485-1515): docs 1 and 2 of
    the arrays index link transitively via array value 444."""
    t = fixture_transcripts(spark, filenames=("TestDataArrays.txt",))
    model = Model(load_reference_model("TestEntityModelArrays.json"))
    result = resolve_all(spark, t, model)
    assert _cluster_of(result.clusters, "zentity_test_index_arrays/1") == {"1", "2"}


@requires_reference
def test_object_arrays_cluster(spark):
    """testJobObjectArrays: docs 1,2 share phone 555-987-6543 and
    last_name jones (resolver name_phone)."""
    t = fixture_transcripts(spark, filenames=("TestDataObjectArrays.txt",))
    model = Model(load_reference_model("TestEntityModelObjectArrays.json"))
    result = resolve_all(spark, t, model)
    assert _cluster_of(result.clusters, "zentity_test_index_object_arrays/1") == {"1", "2"}


@requires_reference
def test_no_scope_whole_dataset_collapses(spark):
    """testJobNoScope (ResolutionActionIT.java:686-692): with the full
    model A over all four indices, the dataset collapses into one
    40-doc entity (over-merge stress case)."""
    t = fixture_transcripts(spark)
    model = Model(load_reference_model("TestEntityModelA.json"))
    result = resolve_all(spark, t, model)
    members = _cluster_of(result.clusters, "zentity_test_index_a/a0")
    assert len(members) == 40


def test_prev_assignments_stable_ids(spark):
    """Run-over-run entity-id persistence: resolve the split-attribute
    corpus, feed the assignment back as prev_assignments on an
    unchanged second run — every record keeps its entity id and nothing
    mints a new: id (split/merge/new-cluster edge semantics are covered
    record-level in tests/test_cluster_ops.py)."""
    turns = split_turns(spark)
    model = split_model()
    first = resolve_all(spark, turns, model)
    prev = first.clusters.selectExpr(
        "record_id", "concat('E', cluster_id) AS entity_id"
    )

    cfg = ResolutionConfig(prev_assignments=prev)
    second = resolve_all(spark, turns, model, cfg)
    assert second.entity_ids is not None
    got = {r["record_id"]: r["entity_id"] for r in second.entity_ids.collect()}
    for r in prev.collect():
        assert got[r["record_id"]] == r["entity_id"]
    assert not any(e.startswith("new:") for e in got.values())
