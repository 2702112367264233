"""stable_entity_ids / clerical_review_queue / inferred_pairs edge semantics.

The entity-id crosswalk mirrors what the reference's callers get for free
by resolving one entity per request (the request IS the entity key,
ResolutionAction.java handles one entity_type+input per call): a batch
engine that re-derives cluster labels each run must preserve ids across
runs explicitly. Splits, merges, ties, and brand-new clusters are the
cases that corrupt a crosswalk if mishandled.
"""

import pytest
from pyspark.sql import functions as F

from zentity_spark.clustering import (
    clerical_review_queue,
    inferred_pairs,
    stable_entity_ids,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


class TestStableEntityIds:
    def test_carry_merge_split_new(self, spark):
        # prev run: E1={a,b,c}, E2={d,e}, E3={f}
        prev = _df(spark, [("a", "E1"), ("b", "E1"), ("c", "E1"),
                           ("d", "E2"), ("e", "E2"), ("f", "E3")],
                   "record_id string, entity_id string")
        # curr run: E1 splits (a,b | c+d merge into E2's d), e alone,
        # plus a brand-new cluster {x,y}
        curr = _df(spark, [("a", "a"), ("b", "a"),          # split major
                           ("c", "c"), ("d", "c"),          # c(E1)+d(E2)
                           ("e", "e"), ("f", "f"),
                           ("x", "x"), ("y", "x")],
                   "record_id string, cluster_id string")
        out = {r["cluster_id"]: r for r in stable_entity_ids(prev, curr).collect()}
        # cluster {a,b}: overlap E1=2 — wins E1 (bigger half of the split)
        assert out["a"]["entity_id"] == "E1" and out["a"]["overlap"] == 2
        assert not out["a"]["is_new"]
        # cluster {c,d}: nominee is min(-1,E1) vs (-1,E2) → tie on count,
        # smaller entity wins the nomination → E1; but E1 was awarded to
        # {a,b} (overlap 2 > 1), so {c,d} mints a new id
        assert out["c"]["entity_id"].startswith("new:c#") and out["c"]["is_new"]
        # {e}: E2 uncontested
        assert out["e"]["entity_id"] == "E2" and out["e"]["overlap"] == 1
        assert out["f"]["entity_id"] == "E3"
        # all-new records
        assert out["x"]["entity_id"].startswith("new:x#")
        assert out["x"]["overlap"] == 0
        assert out["x"]["is_new"]

    def test_entity_awarded_to_largest_overlap(self, spark):
        # E1 splits 1-vs-3: the 3-member half keeps E1
        prev = _df(spark, [(r, "E1") for r in "abcd"],
                   "record_id string, entity_id string")
        curr = _df(spark, [("a", "a"), ("b", "b"), ("c", "b"), ("d", "b")],
                   "record_id string, cluster_id string")
        out = {r["cluster_id"]: r["entity_id"]
               for r in stable_entity_ids(prev, curr).collect()}
        assert out["b"] == "E1"
        assert out["a"].startswith("new:a#")

    def test_idempotent_when_unchanged(self, spark):
        prev = _df(spark, [("a", "E1"), ("b", "E1"), ("c", "E7")],
                   "record_id string, entity_id string")
        curr = _df(spark, [("a", "a"), ("b", "a"), ("c", "c")],
                   "record_id string, cluster_id string")
        once = stable_entity_ids(prev, curr)
        # feed the crosswalk back as prev: ids must not drift
        prev2 = curr.join(once, "cluster_id").select("record_id", "entity_id")
        twice = {r["cluster_id"]: r["entity_id"]
                 for r in stable_entity_ids(prev2, curr).collect()}
        for r in once.collect():
            assert twice[r["cluster_id"]] == r["entity_id"]


    def test_split_of_minted_entity_no_id_collision(self, spark):
        """Feedback-loop regression: run 1 mints an id for an all-new
        cluster {c,d,e}; run 2 splits it — {d,e} carries the minted id
        by overlap and the loser {c} must NOT re-mint the same string
        (the membership digest in the mint makes the collision
        impossible, not just unlikely)."""
        prev0 = _df(spark, [], "record_id string, entity_id string")
        curr1 = _df(spark, [("c", "c"), ("d", "c"), ("e", "c")],
                    "record_id string, cluster_id string")
        run1 = stable_entity_ids(prev0, curr1)
        prev1 = curr1.join(run1, "cluster_id").select("record_id", "entity_id")
        minted = run1.collect()[0]["entity_id"]
        assert minted.startswith("new:c#")
        curr2 = _df(spark, [("c", "c"), ("d", "d"), ("e", "d")],
                    "record_id string, cluster_id string")
        out = {r["cluster_id"]: r["entity_id"]
               for r in stable_entity_ids(prev1, curr2).collect()}
        assert out["d"] == minted          # bigger half carries the id
        assert out["c"] != minted          # loser mints a DIFFERENT id
        assert len(set(out.values())) == len(out)


class TestClericalReviewQueue:
    def test_band_and_rank(self, spark):
        scored = _df(spark, [("a", "b", 0.90), ("a", "c", 0.74),
                             ("b", "c", 0.70), ("c", "d", 0.66),
                             ("d", "e", 0.40)],
                     "src string, dst string, score double")
        out = clerical_review_queue(scored, "score", 0.70, 0.05).collect()
        got = [(r["src"], r["dst"], r["review_rank"]) for r in
               sorted(out, key=lambda r: r["review_rank"])]
        # 0.70 dist 0 first, then 0.74/0.66 dist 0.04 tie → (a,c) < (c,d)
        assert got == [("b", "c", 1), ("a", "c", 2), ("c", "d", 3)]
        dist = {(r["src"], r["dst"]): r["distance"] for r in out}
        assert dist[("a", "c")] == pytest.approx(0.04)

    def test_per_block_cap(self, spark):
        rows = [("a%d" % i, "b%d" % i, 0.70 + i * 0.001, "blk1")
                for i in range(5)]
        rows += [("c0", "d0", 0.71, "blk2")]
        scored = _df(spark, rows, "src string, dst string, score double,"
                                  " blk string")
        out = clerical_review_queue(scored, "score", 0.70, 0.10,
                                    per_block=2, block_col="blk").collect()
        by_blk = {}
        for r in out:
            blk = "blk2" if r["src"] == "c0" else "blk1"
            by_blk.setdefault(blk, []).append(r)
        assert len(by_blk["blk1"]) == 2  # capped
        assert len(by_blk["blk2"]) == 1
        # kept blk1 pairs are the two closest to the threshold
        assert {r["src"] for r in by_blk["blk1"]} == {"a0", "a1"}


class TestInferredPairs:
    def test_transitive_only_pairs(self, spark):
        # path a-b-c-d: verified edges are the path; inferred = the
        # other 3 co-membership pairs
        assign = _df(spark, [(r, "a") for r in "abcd"],
                     "record_id string, cluster_id string")
        edges = _df(spark, [("a", "b"), ("b", "c"), ("d", "c")],
                    "src string, dst string")
        out = {(r["src"], r["dst"]) for r in
               inferred_pairs(assign, edges).collect()}
        assert out == {("a", "c"), ("a", "d"), ("b", "d")}

    def test_reverse_edge_and_cap(self, spark):
        assign = _df(spark, [("a", "a"), ("b", "a"),
                             ("x", "x"), ("y", "x"), ("z", "x")],
                     "record_id string, cluster_id string")
        edges = _df(spark, [("b", "a"), ("x", "y"), ("y", "z")],
                    "src string, dst string")
        # reversed verified edge (b,a) removes pair (a,b)
        out = {(r["src"], r["dst"]) for r in
               inferred_pairs(assign, edges).collect()}
        assert out == {("x", "z")}
        # cap excludes the 3-cluster entirely
        capped = {(r["src"], r["dst"]) for r in
                  inferred_pairs(assign, edges, max_cluster_size=2).collect()}
        assert capped == set()


# ----- apply_review_decisions (clerical-review loop closure) -----

def test_apply_review_decisions_semantics(spark):
    """non_match removes the edge (splitting when it was the only
    path), match merges, violations surface non_match pairs still
    connected via an independent path — never silently split."""
    from zentity_spark.clustering import apply_review_decisions

    # a-b-c chain; triangle x-y-z; isolated pair p-q
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"), ("x", "z"),
         ("p", "q")],
        "src string, dst string",
    )
    assign = spark.createDataFrame(
        [(n,) for n in "abcxyzpq"], "record_id string"
    ).withColumn("cluster_id", F.col("record_id"))
    decisions = spark.createDataFrame(
        [("b", "a", "non_match"),   # only path: a splits off (orientation flipped)
         ("x", "y", "non_match"),   # x-z-y path survives → violation
         ("p", "c", "match")],      # must-link merges the pair into the chain
        "src string, dst string, decision string",
    )
    assignments, violations = apply_review_decisions(assign, edges, decisions)
    got = {(r["record_id"], r["cluster_id"]) for r in assignments.collect()}
    # a singleton; b-c-p-q one cluster (min id b); x-y-z intact (min x)
    assert got == {("a", "a"), ("b", "b"), ("c", "b"), ("p", "b"),
                   ("q", "b"), ("x", "x"), ("y", "x"), ("z", "x")}
    v = {(r["src"], r["dst"], r["cluster_id"]) for r in violations.collect()}
    assert v == {("x", "y", "x")}


def test_apply_review_decisions_validation(spark):
    from zentity_spark.clustering import apply_review_decisions

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    assign = spark.createDataFrame([("a", "a"), ("b", "a")],
                                   "record_id string, cluster_id string")
    with pytest.raises(ValueError, match="unknown review decision"):
        apply_review_decisions(
            assign, edges,
            spark.createDataFrame([("a", "b", "nonmatch")],
                                  "src string, dst string, decision string"))
    with pytest.raises(ValueError, match="conflicting decisions"):
        apply_review_decisions(
            assign, edges,
            spark.createDataFrame(
                [("a", "b", "match"), ("b", "a", "non_match")],
                "src string, dst string, decision string"))


@pytest.mark.parametrize("cap", [0, 3, 4, 1 << 62])
def test_connected_components_regimes_agree(spark, cap):
    """The driver regime's bounded probe: at most cap edges stay on the
    driver (cap=4 holds all 4 distinct edges, cap=3 overflows into the
    star loop, cap=0 skips the probe), and a cap past a Java int still
    runs. Every regime labels each node with its component minimum."""
    from zentity_spark.clustering import connected_components

    edges = _df(spark, [("b", "a"), ("c", "b"), ("c", "b"), ("d", "d"),
                        ("x", "y"), ("z", "y")], "src string, dst string")
    got = sorted(map(tuple, connected_components(edges, driver_edge_cap=cap).collect()))
    assert got == [("a", "a"), ("b", "a"), ("c", "a"),
                   ("x", "x"), ("y", "x"), ("z", "x")]
