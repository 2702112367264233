"""Bulk-resolution envelope + request-level validation parity.

Ports the remaining ResolutionActionIT cases: testInvalidJob* (6 cases,
IT:1636-1784), testBulkResolution (IT:1851-1913),
testBulkResolutionWithMalformed (IT:1787-1848),
testBulkResolutionOverrideEntityType (IT:1915-1960),
testJobEmbeddedModel (IT:694-712).
"""

import copy
import json

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import fixture_transcripts
from zentity_spark.bulk import bulk_resolve_response, split_bulk_lines
from zentity_spark.envelope import request_error_json
from zentity_spark.errors import NotFoundException, ValidationException
from zentity_spark.model import Model
from zentity_spark.models_store import ModelStore

SCOPE_ABC = {
    "include": {
        "indices": ["zentity_test_index_a", "zentity_test_index_b",
                    "zentity_test_index_c"],
        "resolvers": ["resolver_a", "resolver_b"],
    }
}

# the two payload constants the bulk IT cases reuse (IT:105-147)
PAYLOAD_TERMS = {"terms": ["a_00"], "scope": SCOPE_ABC}
PAYLOAD_EXPLANATION = {
    "attributes": {"attribute_a": ["a_00"], "attribute_b": ["b_00"]},
    "scope": {"exclude": {"indices": ["zentity_test_index_d"]}},
}


@pytest.fixture(scope="module")
def turns(spark):
    return fixture_transcripts(spark).cache()


@pytest.fixture()
def store(tmp_path):
    s = ModelStore(str(tmp_path / "models"))
    s.setup()
    s.create("zentity_test_entity_a", load_reference_model("TestEntityModelA.json"))
    return s


# ---------------------------------------------------------------- invalid jobs

# a valid model with the index and field the reasons below name; each
# case breaks one part of it
VALID_MODEL = {
    "attributes": {"attribute_a": {}},
    "resolvers": {"resolver_a": {"attributes": ["attribute_a"]}},
    "matchers": {"matcher_a": {"clause": {"match": {"{{ field }}": "{{ value }}"}}}},
    "indices": {"zentity_test_index_a": {"fields": {
        "field_a.clean": {"attribute": "attribute_a", "matcher": "matcher_a"}}}},
}


@pytest.mark.parametrize(
    "mutate, reason",
    [
        (lambda m: m.__setitem__("attributes", {}),
         "'attributes' must not be empty in the entity model."),
        (lambda m: m.__setitem__("resolvers", {}),
         "'resolvers' must not be empty in the entity model."),
        (lambda m: m.__setitem__("matchers", {}),
         "'matchers' must not be empty in the entity model."),
        (lambda m: m.__setitem__("indices", {}),
         "'indices' must not be empty in the entity model."),
        (lambda m: m["indices"]["zentity_test_index_a"].__setitem__("fields", {}),
         "'indices.zentity_test_index_a.fields' must not be empty in the entity model."),
        (lambda m: m["indices"]["zentity_test_index_a"]["fields"].__setitem__(
            "field_a.clean", {}),
         "'indices.zentity_test_index_a.fields.field_a.clean' is missing"
         " required field 'attribute'."),
    ],
    ids=["attributes", "resolvers", "matchers", "indices", "fields", "field"],
)
def test_invalid_job_model(mutate, reason):
    """testInvalidJob*Empty (IT:1636-1784): exact validation reason and
    the ES-style request error body with type=validation_exception and
    status=400."""
    spec = copy.deepcopy(VALID_MODEL)
    mutate(spec)
    with pytest.raises(ValidationException) as exc:
        Model(spec)
    assert str(exc.value) == reason
    body = json.loads(request_error_json(exc.value))
    assert body["error"]["type"] == "validation_exception"
    assert body["error"]["reason"] == reason
    assert body["error"]["root_cause"][0]["type"] == "validation_exception"
    assert body["status"] == 400


def test_unknown_entity_type_request_error(tmp_path):
    """ResolutionAction.java:102 — unknown entity type is a 404
    NotFoundException with the reference's exact message."""
    store = ModelStore(str(tmp_path / "models"))
    store.setup()
    with pytest.raises(NotFoundException) as exc:
        store.get("zentity_test_entity_unknown")
    assert str(exc.value) == "Entity type 'zentity_test_entity_unknown' not found."
    body = json.loads(request_error_json(exc.value))
    assert body["error"]["type"] == "not_found_exception"
    assert body["status"] == 404


# ---------------------------------------------------------------- bulk actions


def _items(resp: str) -> list[dict]:
    body = json.loads(resp)
    assert isinstance(body["took"], int) and body["took"] >= 0
    assert isinstance(body["errors"], bool)
    return body["items"]


@requires_reference
def test_bulk_resolution(spark, turns, store):
    """testBulkResolution (IT:1851-1913): URL entity type, per-item
    `_source`/`_explanation` param overrides, two successful items each
    with took + hits.hits."""
    ndjson = "\n".join([
        json.dumps({"_source": False}),
        json.dumps(PAYLOAD_TERMS),
        json.dumps({"_explanation": True}),
        json.dumps(PAYLOAD_EXPLANATION),
    ])
    resp = bulk_resolve_response(
        spark, turns, ndjson, model_store=store,
        default_entity_type="zentity_test_entity_a",
        request_params={"_explanation": "false", "_source": "true"},
    )
    body = json.loads(resp)
    assert body["errors"] is False
    items = _items(resp)
    assert len(items) == 2
    for item in items:
        assert isinstance(item["took"], int)
        assert isinstance(item["hits"]["hits"], list)
        assert item["hits"]["total"] == len(item["hits"]["hits"]) > 0
    # the first item disabled _source, the second enabled _explanation
    # (IT:1899-1912 asserts on the first hit of each item)
    first_terms_hit = items[0]["hits"]["hits"][0]
    assert "_source" not in first_terms_hit
    assert "_explanation" not in first_terms_hit
    first_explanation_hit = items[1]["hits"]["hits"][0]
    assert "_source" in first_explanation_hit
    assert "_explanation" in first_explanation_hit


@requires_reference
def test_bulk_resolution_with_malformed(spark, turns, store):
    """testBulkResolutionWithMalformed (IT:1787-1848): malformed params
    line, unknown entity type, and empty payload line each fail ONLY
    their item — 4 items, first 3 failures carrying error + empty hits +
    took, last succeeds."""
    ndjson = "\n".join([
        "malformed json",
        json.dumps(PAYLOAD_TERMS),
        json.dumps({"entity_type": "unknown"}),
        json.dumps(PAYLOAD_TERMS),
        json.dumps({"entity_type": "zentity_test_entity_a"}),
        "",  # empty payload body
        json.dumps({"entity_type": "zentity_test_entity_a"}),
        json.dumps(PAYLOAD_EXPLANATION),
    ])
    resp = bulk_resolve_response(
        spark, turns, ndjson, model_store=store,
        request_params={"_explanation": "false", "_source": "true"},
    )
    body = json.loads(resp)
    assert body["errors"] is True
    items = body["items"]
    assert len(items) == 4
    for failure in items[:3]:
        assert isinstance(failure["error"], dict)
        assert failure["hits"] == {"total": 0, "hits": []}
        assert isinstance(failure["took"], int)
    assert "error" not in items[3]
    assert items[3]["hits"]["total"] > 0


@requires_reference
def test_bulk_resolution_override_entity_type(spark, turns, store):
    """testBulkResolutionOverrideEntityType (IT:1915-1960): params-line
    entity_type overrides the URL default; overriding to an unknown type
    fails only that item."""
    ndjson = "\n".join([
        json.dumps({"entity_type": "zentity_test_entity_a", "_source": False}),
        json.dumps(PAYLOAD_TERMS),
        json.dumps({"entity_type": "zentity_test_entity_unknown",
                    "_explanation": True}),
        json.dumps(PAYLOAD_EXPLANATION),
    ])
    resp = bulk_resolve_response(
        spark, turns, ndjson, model_store=store,
        default_entity_type="zentity_test_entity_b",
        request_params={"_explanation": "false", "_source": "true"},
    )
    body = json.loads(resp)
    assert body["errors"] is True
    ok, bad = body["items"]
    assert ok["hits"]["total"] > 0
    assert bad["error"]["reason"] == (
        "Entity type 'zentity_test_entity_unknown' not found."
    )
    assert bad["hits"] == {"total": 0, "hits": []}


@requires_reference
def test_job_embedded_model(spark, turns):
    """testJobEmbeddedModel (IT:694-712): a payload-embedded model (no
    store) resolves like testJobNoScope — 40 docs — and `_attributes`
    omits never-populated model attributes."""
    payload = {
        "attributes": {"attribute_a": ["a_00"]},
        "model": load_reference_model("TestEntityModelA.json"),
    }
    resp = bulk_resolve_response(
        spark, turns, json.dumps({}) + "\n" + json.dumps(payload)
    )
    body = json.loads(resp)
    assert body["errors"] is False
    hits = body["items"][0]["hits"]
    assert hits["total"] == 40
    for doc in hits["hits"]:
        assert "_attributes" in doc
        assert "attribute_type.string.null" not in doc["_attributes"]
        assert "attribute_type.string.unused" not in doc["_attributes"]


def test_split_bulk_lines_parity():
    """Interior empty lines are entries; only trailing empties drop
    (Java Pattern.split semantics); odd counts fail with the reference
    message (BulkAction.java:40-47)."""
    pairs = split_bulk_lines('{}\n\n{}\n{"a":1}\n')
    assert pairs == [("{}", ""), ("{}", '{"a":1}')]
    with pytest.raises(ValidationException) as exc:
        split_bulk_lines('{}\n{"a":1}\n{}')
    assert "repeating pairs of params and payloads" in str(exc.value)


def test_setup_acknowledged_and_deconflict(tmp_path):
    """SetupActionIT testSetupDefault/testSetupDeconflict: first setup
    acknowledges; strict re-setup is the 400
    resource_already_exists_exception."""
    from zentity_spark.errors import ResourceAlreadyExistsException

    s = ModelStore(str(tmp_path / "models"))
    assert s.setup() == {"acknowledged": True}
    assert s.setup() == {"acknowledged": True}  # idempotent by default
    with pytest.raises(ResourceAlreadyExistsException) as exc:
        s.setup(exist_ok=False)
    body = json.loads(request_error_json(exc.value))
    assert body["error"]["type"] == "resource_already_exists_exception"
    assert body["status"] == 400


@requires_reference
def test_bulk_max_time_per_query_param(spark, turns, store):
    """max_time_per_query rides the same per-item-params > request-params
    walk as max_hops (ResolutionAction.java:134): a valid budget on one
    item leaves it green, while an unparseable TimeValue fails ONLY its
    item with a 400-style error (TimeValue 'unit is missing').
    Generous budgets so no query actually times out."""
    ndjson = "\n".join([
        json.dumps({"max_time_per_query": "5m"}),
        json.dumps(PAYLOAD_TERMS),
        json.dumps({"max_time_per_query": "10 bogons"}),
        json.dumps(PAYLOAD_TERMS),
    ])
    resp = bulk_resolve_response(
        spark, turns, ndjson, model_store=store,
        default_entity_type="zentity_test_entity_a",
        request_params={"max_time_per_query": "5m"},
    )
    body = json.loads(resp)
    assert body["errors"] is True
    ok, bad = body["items"]
    assert "error" not in ok and ok["hits"]["total"] > 0
    assert bad["hits"] == {"total": 0, "hits": []}
    assert "unit is missing" in json.dumps(bad["error"])


@requires_reference
def test_bulk_audit_rows_reach_metrics_table(spark, turns, store):
    """S7 for the bulk path: each bulk item's per-hop query audit rows
    (incl. timed_out) are captured and survive into the metrics table
    via storage.query_log_metrics. Item 0 gets a generous budget (no
    timeouts); item 1 gets a 1-nano budget, so its queries must be
    audit-logged timed_out=true with zero hits."""
    from zentity_spark.storage import query_log_metrics

    ndjson = "\n".join([
        json.dumps({"max_time_per_query": "5m"}),
        json.dumps(PAYLOAD_TERMS),
        json.dumps({"max_time_per_query": "1nanos"}),
        json.dumps(PAYLOAD_TERMS),
    ])
    audit: list = []
    resp = bulk_resolve_response(
        spark, turns, ndjson, model_store=store,
        default_entity_type="zentity_test_entity_a",
        audit=audit,
    )
    body = json.loads(resp)
    assert [a["item"] for a in audit] == [0, 1]
    # item 0: real queries ran, none timed out
    assert audit[0]["query_log"] and not any(
        q["timed_out"] for q in audit[0]["query_log"]
    )
    assert body["items"][0]["hits"]["total"] > 0
    # item 1: under the 1-nano budget queries are cancelled best-effort
    # (ES timeout semantics — a collect that beats the cancel is a
    # completed query), so at least one row must be audit-logged
    # timed_out=true with zero hits
    assert any(
        q["timed_out"] and q["hits"] == 0 for q in audit[1]["query_log"]
    )

    # the audit rows commit to the metrics table with per-item run ids
    rows = []
    for a in audit:
        rows.extend(
            query_log_metrics(spark, a["query_log"],
                              run_id=f"bulk-item-{a['item']}").collect()
        )
    timed = [r for r in rows if r["timed_out"]]
    assert timed and all(r["run_id"] == "bulk-item-1" for r in timed)
    assert all(r["hits"] == 0 for r in timed)
