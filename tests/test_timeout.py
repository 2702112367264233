"""O9 per-query time budget — the batch analog of the reference's
max_time_per_query search timeout (Job.java:72 default "10s", applied
to each hop query at Query.java:427-428 via TimeValue.parseTimeValue).

ES semantics are best-effort early termination; Spark's cancellation
unit is the job, so a timed-out query contributes zero hits, the
traversal continues, and the audit log records timed_out=true."""

import time

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import fixture_transcripts, split_model, split_turns
from zentity_spark.errors import ValidationException
from zentity_spark.model import Model
from zentity_spark.resolve import (
    Input,
    SeededConfig,
    _collect_with_budget,
    parse_time_value,
    resolve,
)

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


# ---------------------------------------------------------------- grammar

def test_time_value_grammar():
    """TimeValue.parseTimeValue: unit suffixes, the two unitless forms,
    case-insensitivity, fractional values."""
    assert parse_time_value("10s") == 10.0
    assert parse_time_value("500ms") == 0.5
    assert parse_time_value("2m") == 120.0
    assert parse_time_value("1h") == 3600.0
    assert parse_time_value("1d") == 86400.0
    assert parse_time_value("250micros") == pytest.approx(250e-6)
    assert parse_time_value("100nanos") == pytest.approx(100e-9)
    assert parse_time_value("1.5s") == 1.5
    assert parse_time_value("10S") == 10.0
    assert parse_time_value(" 10s ") == 10.0
    assert parse_time_value("-1") is None  # no timeout
    assert parse_time_value("0") == 0.0
    assert parse_time_value(None) is None


@pytest.mark.parametrize("bad", ["-5s", "-0.5s", "-10ms"])
def test_time_value_rejects_negative(bad):
    """Negative durations with a unit are rejected (TimeValue parity):
    a negative Event.wait timeout fires instantly, so accepting them
    would silently cancel every query — data loss, not a 400. Only the
    bare "-1" no-timeout form is negative-shaped and legal."""
    with pytest.raises(ValidationException):
        parse_time_value(bad)


@pytest.mark.parametrize("bad", ["10", "10x", "s", "ten s", ""])
def test_time_value_rejects(bad):
    """Bare numbers (other than 0/-1) and unknown units are 400s, like
    TimeValue's 'unit is missing or unrecognized'."""
    with pytest.raises(ValidationException):
        parse_time_value(bad)


# ---------------------------------------------------------------- budget

def _slow_df(spark, per_batch_sleep=8.0):
    """A query whose single Arrow batch sleeps longer than any budget
    used below — deterministic slowness without wall-clock flakiness."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    df = spark.range(0, 32, 1, 1)

    def slow(batches):
        for b in batches:
            time.sleep(per_batch_sleep)
            yield b

    return df.mapInPandas(slow, "id long")


def test_budget_cancels_slow_job(spark):
    """A query slower than its budget is cancelled: zero rows,
    timed_out=True, and the wall time tracks the budget (not the
    query's own duration)."""
    t0 = time.time()
    rows, timed_out = _collect_with_budget(_slow_df(spark), 1.0, "t-slow")
    wall = time.time() - t0
    assert rows == [] and timed_out is True
    assert wall < 7.0, f"cancellation took {wall:.1f}s — budget not enforced"


def test_budget_passes_fast_job(spark):
    """A query faster than its budget completes normally."""
    rows, timed_out = _collect_with_budget(spark.range(5), 30.0, "t-fast")
    assert timed_out is False and [r["id"] for r in rows] == [0, 1, 2, 3, 4]


def test_budget_none_is_plain_collect(spark):
    rows, timed_out = _collect_with_budget(spark.range(3), None, "t-none")
    assert timed_out is False and len(rows) == 3


def test_budget_propagates_real_failures(spark):
    """A genuine execution error inside the budget window must NOT be
    misreported as a timeout."""
    from pyspark.sql import functions as F

    bad = spark.range(3).select(F.assert_true(F.col("id") < 0).alias("x"))
    with pytest.raises(Exception):
        _collect_with_budget(bad, 30.0, "t-fail")


# ---------------------------------------------------------------- seeded

def test_resolve_hop_query_times_out(spark, monkeypatch):
    """Traversal behavior under timeouts: every hop query exceeding its
    budget yields zero hits, the traversal terminates at the hop-0
    fixpoint instead of erroring, and every audit row records
    timed_out=True. (Real job cancellation can't be forced through the
    public input — values_df is localCheckpointed before the loop, so
    input-level slowness is paid once, unbudgeted; the cancellation
    mechanics themselves are covered by the _collect_with_budget tests
    above. Here the helper is stubbed to time out, which also verifies
    the config string reaches the helper parsed to seconds.)"""
    import zentity_spark.resolve as rmod

    seen = []

    def fake_budget_collect(df, budget_s, tag):
        seen.append((budget_s, tag))
        return [], True

    monkeypatch.setattr(rmod, "_collect_with_budget", fake_budget_collect)
    capture = {}
    hits = resolve(
        spark, split_turns(spark), split_model(),
        Input(attributes={"name": ["n0"]}),
        SeededConfig(max_time_per_query="1s"),
        _capture=capture,
    )
    assert hits == []
    assert seen and all(b == 1.0 for b, _ in seen)
    tags = [t for _, t in seen]
    assert len(set(tags)) == len(tags)  # unique cancellation scope per query
    log = capture["query_log"]
    assert log and all(q["timed_out"] and q["hits"] == 0 for q in log)
    assert {q["hop"] for q in log} == {0}  # no new docs → fixpoint at hop 0


@requires_reference
def test_resolve_under_generous_budget(spark, turns):
    """With a budget no query hits, results are identical to the
    unbudgeted golden traversal (ResolutionActionIT.java:726-742) and
    every audit row records timed_out=False."""
    capture = {}
    hits = resolve(
        spark, turns, model_a(),
        Input(attributes={"attribute_a": ["a_00"]}, scope=SCOPE_ABC),
        SeededConfig(max_time_per_query="5m"),
        _capture=capture,
    )
    assert {(h.doc_id, h.hop) for h in hits} == {
        ("a0", 0), ("b0", 0), ("c0", 1), ("a1", 2), ("b1", 3), ("c1", 4)
    }
    assert capture["query_log"] and all(
        q["timed_out"] is False for q in capture["query_log"]
    )
