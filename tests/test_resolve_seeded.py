"""Seeded hop-traversal parity against the reference's integration-test
golden (id, hop) sets (ResolutionActionIT.java, cited per test)."""

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import fixture_transcripts
from zentity_spark.model import Model
from zentity_spark.resolve import Input, SeededConfig, resolve

pytestmark = requires_reference

SCOPE_ABC = {
    "include": {
        "indices": [
            "zentity_test_index_a",
            "zentity_test_index_b",
            "zentity_test_index_c",
        ],
        "resolvers": ["resolver_a", "resolver_b"],
    }
}


@pytest.fixture(scope="module")
def turns(spark):
    return fixture_transcripts(spark).cache()


def model_a():
    return Model(load_reference_model("TestEntityModelA.json"))


def hits_set(hits):
    return {(h.doc_id, h.hop) for h in hits}


def test_job_attributes(spark, turns):
    """ResolutionActionIT.java:726-742."""
    hits = resolve(
        spark, turns, model_a(),
        Input(attributes={"attribute_a": ["a_00"]}, scope=SCOPE_ABC),
    )
    assert hits_set(hits) == {
        ("a0", 0), ("b0", 0), ("c0", 1), ("a1", 2), ("b1", 3), ("c1", 4)
    }


def test_job_terms(spark, turns):
    """ResolutionActionIT.java:744-758: untyped term routed to every
    attribute type it parses as."""
    hits = resolve(spark, turns, model_a(), Input(terms=["a_00"], scope=SCOPE_ABC))
    assert hits_set(hits) == {
        ("a0", 0), ("b0", 0), ("c0", 1), ("a1", 2), ("b1", 3), ("c1", 4)
    }


def test_job_ids(spark, turns):
    """ResolutionActionIT.java:832-846: ids seed hop 0."""
    hits = resolve(
        spark, turns, model_a(),
        Input(ids={"zentity_test_index_a": ["a0"]}, scope=SCOPE_ABC),
    )
    assert hits_set(hits) == {
        ("a0", 0), ("b0", 1), ("c0", 2), ("a1", 3), ("b1", 4), ("c1", 5)
    }


def test_job_attributes_ids(spark, turns):
    """ResolutionActionIT.java:849-888: attribute seed + id seed, 30 docs."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            attributes={"attribute_a": ["a_00"]},
            ids={"zentity_test_index_a": ["a6"]},
            scope=SCOPE_ABC,
        ),
    )
    expected = (
        {("a0", 0), ("a6", 0), ("b0", 0)}
        | {(d, 1) for d in ["a2", "a7", "a8", "a9", "b2", "b6", "b7", "b8", "b9",
                            "c0", "c2", "c6", "c7", "c8", "c9"]}
        | {(d, 2) for d in ["a1", "a3", "a4", "a5", "b3", "b4", "b5", "c3", "c4", "c5"]}
        | {("b1", 3), ("c1", 4)}
    )
    assert hits_set(hits) == expected


def test_job_terms_ids(spark, turns):
    """ResolutionActionIT.java testJobTermsIds: term seed + id seed —
    same 30-doc closure as attributes+ids (the term routes to every
    string attribute)."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            terms=["a_00"],
            ids={"zentity_test_index_a": ["a6"]},
            scope=SCOPE_ABC,
        ),
    )
    expected = (
        {("a0", 0), ("a6", 0), ("b0", 0)}
        | {(d, 1) for d in ["a2", "a7", "a8", "a9", "b2", "b6", "b7", "b8", "b9",
                            "c0", "c2", "c6", "c7", "c8", "c9"]}
        | {(d, 2) for d in ["a1", "a3", "a4", "a5", "b3", "b4", "b5", "c3", "c4", "c5"]}
        | {("b1", 3), ("c1", 4)}
    )
    assert hits_set(hits) == expected


def test_job_data_types_date_term(spark, turns):
    """ResolutionActionIT.java testJobDataTypesDateTerm: the date value
    arrives as an untyped TERM; the declared per-attribute params
    (format + window) must route and coerce it — same 13-doc closure as
    the attribute-seeded variant."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            attributes={
                "attribute_type.date": {
                    "params": {"format": "yyyy-MM-dd HH:mm:ss", "window": "1s"},
                },
            },
            terms=["d_00", "2000-01-01 00:00:00"],
            scope={"include": {"resolvers": [
                "resolver_type_date_a", "resolver_type_date_b",
                "resolver_type_date_c"]}},
        ),
        SeededConfig(max_hops=2, max_docs_per_query=2),
    )
    expected = (
        {(d, 0) for d in ["a1", "a2", "b0", "c0", "d0", "d1"]}
        | {(d, 1) for d in ["a3", "b3", "c1", "d2"]}
        | {(d, 2) for d in ["b1", "c3", "d3"]}
    )
    assert hits_set(hits) == expected


def test_job_max_hops_and_docs(spark, turns):
    """ResolutionActionIT.java:934-965: per-query doc cap truncates
    lowest-id-first; hop cap stops traversal."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            attributes={"attribute_d": {"values": ["d_00"]}},
            scope={"include": {"resolvers": ["resolver_a", "resolver_b", "resolver_c"]}},
        ),
        SeededConfig(max_hops=2, max_docs_per_query=2),
    )
    expected = (
        {(d, 0) for d in ["a0", "a1", "b0", "b1", "c0", "c1", "d0", "d1"]}
        | {(d, 1) for d in ["a2", "b2", "c2", "d2"]}
        | {(d, 2) for d in ["a3", "a4", "b3", "b4", "c3", "c4", "d3", "d4"]}
    )
    assert hits_set(hits) == expected


@pytest.mark.parametrize(
    "attr,value,expected_parity",
    [
        ("attribute_type.boolean", True, 0),
        ("attribute_type.boolean", False, 1),
        ("attribute_type.number.double", 3.141592653589793, 0),
        ("attribute_type.number.double", -3.141592653589793, 1),
        ("attribute_type.number.long", 922337203685477, 0),
        ("attribute_type.string.normal", "a", 0),
    ],
)
def test_job_data_types(spark, turns, attr, value, expected_parity):
    """ResolutionActionIT.java:968-1176: typed equality splits even/odd
    rows of index a."""
    resolver = {
        "attribute_type.boolean": "resolver_type_boolean",
        "attribute_type.number.double": "resolver_type_double",
        "attribute_type.number.long": "resolver_type_long",
        "attribute_type.string.normal": "resolver_type_string",
    }[attr]
    hits = resolve(
        spark, turns, model_a(),
        Input(
            attributes={attr: [value]},
            scope={"include": {"indices": ["zentity_test_index_a"], "resolvers": [resolver]}},
        ),
    )
    expected = {(f"a{i}", 0) for i in range(10) if i % 2 == expected_parity}
    assert hits_set(hits) == expected


def test_job_data_types_terms(spark, turns):
    """Term trial-parse routing for booleans (Term.java:56-74)."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            terms=["true"],
            scope={"include": {"indices": ["zentity_test_index_a"],
                               "resolvers": ["resolver_type_boolean"]}},
        ),
    )
    assert hits_set(hits) == {(f"a{i}", 0) for i in (0, 2, 4, 6, 8)}


def test_job_data_types_date(spark, turns):
    """ResolutionActionIT.java:1179-1205: ±1s window with caps 2/2 —
    13 docs incl. boundary inclusivity (b1 at +3s reached via d1's
    00:00:00.001 hop-1 extraction, etc.)."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            attributes={
                "attribute_d": {"values": ["d_00"]},
                "attribute_type.date": {
                    "values": ["2000-01-01 00:00:00"],
                    "params": {"format": "yyyy-MM-dd HH:mm:ss", "window": "1s"},
                },
            },
            scope={"include": {"resolvers": [
                "resolver_type_date_a", "resolver_type_date_b", "resolver_type_date_c"]}},
        ),
        SeededConfig(max_hops=2, max_docs_per_query=2),
    )
    expected = (
        {(d, 0) for d in ["a1", "a2", "b0", "c0", "d0", "d1"]}
        | {(d, 1) for d in ["a3", "b3", "c1", "d2"]}
        | {(d, 2) for d in ["b1", "c3", "d3"]}
    )
    assert hits_set(hits) == expected


def test_job_resolver_weight_seeded(spark, turns):
    """ResolutionActionIT.java:1384-1397 with hop numbers."""
    hits = resolve(
        spark, turns,
        Model(load_reference_model("TestEntityModelB.json")),
        Input(
            attributes={"attribute_a": ["a_10"], "attribute_b": ["b_10"]},
            scope={"include": {"indices": ["zentity_test_index_a"]}},
        ),
    )
    assert hits_set(hits) == {("a2", 0), ("a3", 0), ("a4", 1), ("a5", 1)}


def test_job_scope_exclude_attributes(spark, turns):
    """ResolutionActionIT.java:1256-1281: docs holding excluded attribute
    values are dropped entity-wide (16 docs)."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            attributes={"attribute_a": ["a_00"]},
            scope={
                "exclude": {"attributes": {"attribute_a": ["a_11"], "attribute_c": ["c_03"]}},
                "include": {
                    "indices": ["zentity_test_index_a", "zentity_test_index_b",
                                "zentity_test_index_c"],
                    "resolvers": ["resolver_a", "resolver_b", "resolver_c"],
                },
            },
        ),
    )
    expected = (
        {("a0", 0), ("b0", 0)}
        | {(d, 1) for d in ["a2", "b2", "c0", "c1", "c2"]}
        | {(d, 2) for d in ["a3", "a4", "a5", "b3", "b4", "b5", "c3", "c4", "c5"]}
    )
    assert hits_set(hits) == expected


def test_job_scope_exclude_attributes_terms(spark, turns):
    """ResolutionActionIT.java:1284-1309: the same excluded-values scope
    seeded by an untyped term instead of typed attributes — identical
    16-doc expected set (term `a_00` routes to attribute_a via the
    term→attribute coercion walk)."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            terms=["a_00"],
            scope={
                "exclude": {"attributes": {"attribute_a": ["a_11"], "attribute_c": ["c_03"]}},
                "include": {
                    "indices": ["zentity_test_index_a", "zentity_test_index_b",
                                "zentity_test_index_c"],
                    "resolvers": ["resolver_a", "resolver_b", "resolver_c"],
                },
            },
        ),
    )
    expected = (
        {("a0", 0), ("b0", 0)}
        | {(d, 1) for d in ["a2", "b2", "c0", "c1", "c2"]}
        | {(d, 2) for d in ["a3", "a4", "a5", "b3", "b4", "b5", "c3", "c4", "c5"]}
    )
    assert hits_set(hits) == expected


def test_job_scope_include_attributes(spark, turns):
    """ResolutionActionIT.java:1315-1330: docs must hold one of the
    included attribute values (8 docs)."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            attributes={"attribute_d": ["d_00"]},
            scope={
                "include": {
                    "attributes": {
                        "attribute_d": ["d_00"],
                        "attribute_type.number.double": [3.141592653589793],
                    },
                    "indices": ["zentity_test_index_a", "zentity_test_index_b",
                                "zentity_test_index_c", "zentity_test_index_d"],
                    "resolvers": ["resolver_a", "resolver_b", "resolver_c"],
                },
            },
        ),
    )
    assert len(hits) == 8
    assert {h.doc_id for h in hits if h.hop == 0} >= {"a0", "a2", "b0"}


def test_job_scope_include_attributes_terms(spark, turns):
    """ResolutionActionIT.java:1332-1349: the included-values scope
    seeded by an untyped term — identical 8-doc expected set."""
    hits = resolve(
        spark, turns, model_a(),
        Input(
            terms=["d_00"],
            scope={
                "include": {
                    "attributes": {
                        "attribute_d": ["d_00"],
                        "attribute_type.number.double": [3.141592653589793],
                    },
                    "indices": ["zentity_test_index_a", "zentity_test_index_b",
                                "zentity_test_index_c", "zentity_test_index_d"],
                    "resolvers": ["resolver_a", "resolver_b", "resolver_c"],
                },
            },
        ),
    )
    assert len(hits) == 8
    assert {h.doc_id for h in hits if h.hop == 0} >= {"a0", "a2", "b0"}


def test_job_score(spark, turns):
    """ResolutionActionIT.java:1582-1631: per-doc composite identity
    confidence scores to 1e-10 (caps 1/3, full model A)."""
    hits = resolve(
        spark, turns, model_a(),
        Input(attributes={"attribute_a": ["a_00"]}),
        SeededConfig(max_hops=3, max_docs_per_query=1,
                     include_score=True, include_explanation=True),
    )
    assert len(hits) == 14
    # Scores asserted to 1e-10 for the docs whose match sets are
    # unambiguous. The reference also reports c0/d0/c2/d2 with a NULL
    # _score (serialized 0.0) — an Elasticsearch matched_queries nuance
    # (all their matched attributes reported with null base scores) that
    # has no observable counterpart in this engine; our composite for
    # those four reflects their actual matched attributes.
    expected = {
        "a0": 0.794, "b0": 0.794,
        "a1": 0.5, "b1": 0.5,
        "a2": 0.8426393720609059, "b2": 0.8426393720609059,
        "c1": 0.9356979368877253,
        "d1": 0.9262128928820453,
        "a3": 0.9684567702655289,
        "b3": 0.9680814702469515,
    }
    all_expected = set(expected) | {"c0", "d0", "c2", "d2"}
    for h in hits:
        assert h.doc_id in all_expected, f"unexpected doc {h.doc_id}"
        if h.doc_id in expected:
            assert h.score == pytest.approx(expected[h.doc_id], abs=1e-10), (
                f"{h.doc_id}: {h.score} != {expected[h.doc_id]}"
            )
        assert h.explanation, f"{h.doc_id} missing explanation"


def test_query_audit_log(spark, turns):
    """S7 per-hop query log (Job.java:166-197): the testJobAttributes
    traversal leaves one audit row per (hop, query, index) with resolver
    filters and hit counts, committable as metrics rows."""
    from zentity_spark.storage import query_log_metrics

    capture = {}
    hits = resolve(
        spark, turns, model_a(),
        Input(attributes={"attribute_a": ["a_00"]}, scope=SCOPE_ABC),
        _capture=capture,
    )
    log = capture["query_log"]
    # every hop queries indices a, b, c with query numbers 0, 1, 2
    by_hop = {}
    for q in log:
        by_hop.setdefault(q["hop"], []).append(q)
    for hop, entries in by_hop.items():
        assert [q["query"] for q in sorted(entries, key=lambda x: x["query"])] == [0, 1, 2]
        assert {q["index"] for q in entries} == {
            "zentity_test_index_a", "zentity_test_index_b", "zentity_test_index_c"
        }
        for q in entries:
            assert set(q["resolvers"]) <= {"resolver_a", "resolver_b"}
    # hit counts across the log account for every fetched doc, and the
    # final hop is the fixpoint probe (no new hits anywhere)
    assert sum(q["hits"] for q in log) == len(hits) == 6
    last_hop = max(by_hop)
    assert all(q["hits"] == 0 for q in by_hop[last_hop])
    # golden traversal: c1 found at hop 4 in index c
    hop4 = [q for q in log if q["hop"] == 4 and q["hits"] > 0]
    assert len(hop4) == 1 and hop4[0]["index"] == "zentity_test_index_c"

    # metrics-row materialization
    mdf = query_log_metrics(spark, log, "run1")
    assert mdf.count() == len(log)
    assert mdf.columns == ["run_id", "hop", "query", "index", "resolvers",
                           "term_resolvers", "seed_ids", "hits", "timed_out"]
    assert [r["timed_out"] for r in mdf.collect()] == [False] * len(log)


def test_query_audit_log_survives_failure(spark, turns, monkeypatch):
    """A mid-traversal execution failure must not lose the audit rows
    already logged: _capture shares the LIVE query_log list, so the
    hops completed before the failure still reach the bulk/metrics
    path (the items most worth auditing are the ones that fail)."""
    import zentity_spark.resolve as R

    orig = R._collect_with_budget
    calls = {"n": 0}

    def boom(df, budget_s, tag):
        calls["n"] += 1
        if calls["n"] > 3:  # fail partway through hop 1
            raise RuntimeError("late executor failure")
        return orig(df, budget_s, tag)

    monkeypatch.setattr(R, "_collect_with_budget", boom)
    capture = {}
    with pytest.raises(RuntimeError, match="late executor failure"):
        resolve(
            spark, turns, model_a(),
            Input(attributes={"attribute_a": ["a_00"]}, scope=SCOPE_ABC),
            _capture=capture,
        )
    log = capture["query_log"]
    assert len(log) == 3  # the three hop-0 queries completed and logged
    assert all(q["hop"] == 0 for q in log)


SCOPE_EXCL_INCL = {
    "exclude": {"attributes": {"attribute_c": ["c_00", "c_01"]}},
    "include": {
        "attributes": {
            "attribute_d": ["d_00"],
            "attribute_type.number.double": [3.141592653589793],
        },
        "indices": ["zentity_test_index_a", "zentity_test_index_b",
                    "zentity_test_index_c", "zentity_test_index_d"],
        "resolvers": ["resolver_a", "resolver_b", "resolver_c"],
    },
}


def test_job_scope_exclude_and_include_attributes(spark, turns):
    """ResolutionActionIT.java:1352-1365: include keeps the d_00/pi
    holders, exclude then drops the c_00/c_01 holders — 4 docs, hop 0."""
    hits = resolve(
        spark, turns, model_a(),
        Input(attributes={"attribute_d": ["d_00"]}, scope=SCOPE_EXCL_INCL),
    )
    assert hits_set(hits) == {("a2", 0), ("b2", 0), ("c2", 0), ("d2", 0)}


def test_job_scope_exclude_and_include_attributes_terms(spark, turns):
    """ResolutionActionIT.java:1368-1382: same combined scope with an
    untyped term seed instead of typed attributes — identical 4 docs."""
    hits = resolve(
        spark, turns, model_a(),
        Input(terms=["d_00"], scope=SCOPE_EXCL_INCL),
    )
    assert hits_set(hits) == {("a2", 0), ("b2", 0), ("c2", 0), ("d2", 0)}
