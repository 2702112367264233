"""Response-envelope byte parity with the reference's golden JSON.

- testJobExplanationTerms arrays case (ResolutionActionIT.java:1490-1515):
  exact `_attributes` and `_explanation` strings per doc.
- testJobExplanation (ResolutionActionIT.java:761-793): exact
  `_explanation` strings for a0/a1/a2 under max_hops=1,
  max_docs_per_query=2.
- envelope shape {took, hits{total, hits[]}} and the structured error
  envelope (Job.java:139-153, :1179-1194).
"""

from __future__ import annotations

import json

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import ARRAYS_MODEL, arrays_transcripts, fixture_transcripts
from zentity_spark.envelope import resolve_response, serialize_exception
from zentity_spark.model import Model
from zentity_spark.resolve import Input, SeededConfig

# golden strings from ResolutionActionIT.java:1499-1514
ARRAYS_ATTRIBUTES = {
    "1": '{"array":["111","222","333","444"],"string":["abc"]}',
    "2": '{"array":["444","555"],"string":["xyz"]}',
}
ARRAYS_EXPLANATION = {
    "1": '{"resolvers":{"array":{"attributes":["array"]},"string":{"attributes":["string"]}},"matches":[{"attribute":"array","target_field":"array_2","target_value":["222","222"],"input_value":"222","input_matcher":"exact","input_matcher_params":{}},{"attribute":"array","target_field":"array_4","target_value":["222","333","444"],"input_value":"222","input_matcher":"exact","input_matcher_params":{}},{"attribute":"string","target_field":"string","target_value":"abc","input_value":"abc","input_matcher":"exact","input_matcher_params":{}}]}',
    "2": '{"resolvers":{"array":{"attributes":["array"]}},"matches":[{"attribute":"array","target_field":"array_1","target_value":"444","input_value":"444","input_matcher":"exact","input_matcher_params":{}}]}',
}

# golden strings from ResolutionActionIT.java:779-793 (testJobExplanation)
EXPLANATION_A = {
    "a0": '{"resolvers":{"resolver_a":{"attributes":["attribute_a"]},"resolver_type_date_a":{"attributes":["attribute_a","attribute_type.date"]}},"matches":[{"attribute":"attribute_a","target_field":"field_a.clean","target_value":"a_00","input_value":"a_00","input_matcher":"matcher_a","input_matcher_params":{}},{"attribute":"attribute_a","target_field":"field_a.keyword","target_value":"a_00","input_value":"a_00","input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.date","target_field":"type_date","target_value":"1999-12-31T23:59:57.0000","input_value":"1999-12-31T23:59:57.0000","input_matcher":"matcher_c","input_matcher_params":{"format":"yyyy-MM-dd\'T\'HH:mm:ss.0000","window":"1d"}}]}',
    "a1": '{"resolvers":{"resolver_c":{"attributes":["attribute_d"]},"resolver_type_date_c":{"attributes":["attribute_d","attribute_type.date"]}},"matches":[{"attribute":"attribute_d","target_field":"field_d.clean","target_value":"d_00","input_value":"d_00","input_matcher":"matcher_a","input_matcher_params":{}},{"attribute":"attribute_d","target_field":"field_d.keyword","target_value":"d_00","input_value":"d_00","input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.date","target_field":"type_date","target_value":"1999-12-31T23:59:59.0000","input_value":"1999-12-31T23:59:57.0000","input_matcher":"matcher_c","input_matcher_params":{"format":"yyyy-MM-dd\'T\'HH:mm:ss.0000","window":"1d"}}]}',
    "a2": '{"resolvers":{"resolver_c":{"attributes":["attribute_d"]},"resolver_object":{"attributes":["attribute_object"]},"resolver_type_boolean":{"attributes":["attribute_type.boolean"]},"resolver_type_date_c":{"attributes":["attribute_d","attribute_type.date"]},"resolver_type_double":{"attributes":["attribute_type.number.double"]},"resolver_type_float":{"attributes":["attribute_type.number.float"]},"resolver_type_integer":{"attributes":["attribute_type.number.integer"]},"resolver_type_long":{"attributes":["attribute_type.number.long"]},"resolver_type_string":{"attributes":["attribute_type.string.normal"]}},"matches":[{"attribute":"attribute_d","target_field":"field_d.clean","target_value":"d_00","input_value":"d_00","input_matcher":"matcher_a","input_matcher_params":{}},{"attribute":"attribute_d","target_field":"field_d.keyword","target_value":"d_00","input_value":"d_00","input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_object","target_field":"object.a.b.c.keyword","target_value":"a","input_value":"a","input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.boolean","target_field":"type_boolean","target_value":true,"input_value":true,"input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.date","target_field":"type_date","target_value":"2000-01-01T00:00:00.0000","input_value":"1999-12-31T23:59:57.0000","input_matcher":"matcher_c","input_matcher_params":{"format":"yyyy-MM-dd\'T\'HH:mm:ss.0000","window":"1d"}},{"attribute":"attribute_type.number.double","target_field":"type_double","target_value":3.141592653589793,"input_value":3.141592653589793,"input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.number.float","target_field":"type_float","target_value":1.0,"input_value":1.0,"input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.number.integer","target_field":"type_integer","target_value":1,"input_value":1,"input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.number.long","target_field":"type_long","target_value":922337203685477,"input_value":922337203685477,"input_matcher":"matcher_b","input_matcher_params":{}},{"attribute":"attribute_type.string.normal","target_field":"type_string","target_value":"a","input_value":"a","input_matcher":"matcher_b","input_matcher_params":{}}]}',
}


def _doc_by_id(resp: str) -> dict:
    return {h["_id"]: h for h in json.loads(resp)["hits"]["hits"]}


@requires_reference
def test_arrays_golden_envelope(spark):
    """ResolutionActionIT.java:1490-1515 — _attributes and _explanation
    byte parity on the arrays fixture."""
    turns = fixture_transcripts(spark, filenames=("TestDataArrays.txt",))
    resp = resolve_response(
        spark, turns,
        Model(load_reference_model("TestEntityModelArrays.json")),
        Input(attributes={"string": ["abc"], "array": ["222"]}),
        include_attributes=True, include_explanation=True,
    )
    assert json.loads(resp)["hits"]["total"] == 2
    for doc_id, expected in ARRAYS_ATTRIBUTES.items():
        assert f'"_attributes":{expected}' in resp, doc_id
    for doc_id, expected in ARRAYS_EXPLANATION.items():
        assert f'"_explanation":{expected}' in resp, doc_id


@requires_reference
def test_explanation_golden_envelope(spark):
    """ResolutionActionIT.java:761-793 — _explanation byte parity for
    a0/a1/a2 (max_hops=1, max_docs_per_query=2, index a only)."""
    turns = fixture_transcripts(spark)
    resp = resolve_response(
        spark, turns,
        Model(load_reference_model("TestEntityModelA.json")),
        Input(
            attributes={
                "attribute_a": ["a_00"],
                "attribute_type.date": {
                    "values": ["1999-12-31T23:59:57.0000"],
                    "params": {"format": "yyyy-MM-dd'T'HH:mm:ss.0000",
                               "window": "1d"},
                },
            },
            scope={"include": {"indices": ["zentity_test_index_a"]}},
        ),
        SeededConfig(max_hops=1, max_docs_per_query=2),
        include_attributes=False, include_explanation=True,
    )
    docs = _doc_by_id(resp)
    assert {(d["_id"], d["_hop"]) for d in docs.values()} == {
        ("a0", 0), ("a1", 1), ("a2", 1)
    }
    for doc_id, expected in EXPLANATION_A.items():
        got = resp[resp.index(f'"_id":"{doc_id}"'):]
        assert f'"_explanation":{expected}' in resp, doc_id


def test_envelope_shape_and_queries(spark):
    turns = arrays_transcripts(spark)
    resp = resolve_response(
        spark, turns,
        Model(ARRAYS_MODEL),
        Input(attributes={"string": ["abc"]}),
        include_queries=True,
    )
    obj = json.loads(resp)
    assert set(obj) == {"took", "hits", "queries"}
    assert isinstance(obj["took"], int)
    assert obj["hits"]["total"] == len(obj["hits"]["hits"])
    doc = obj["hits"]["hits"][0]
    assert list(doc)[:4] == ["_index", "_id", "_hop", "_query"]
    # query audit rows: (hop, query, index, resolvers, hit count)
    q0 = obj["queries"][0]
    assert q0["_hop"] == 0 and q0["_index"] == "zentity_test_index_arrays"
    assert "string" in q0["filters"]["attributes"]["resolvers"]
    assert q0["_hits"] >= 1


def test_error_envelope(spark):
    """Structured error envelope (by=zentity, Java canonical type name,
    reason, stack_trace) — ResolutionActionIT.java:1447-1459 assertions."""
    turns = arrays_transcripts(spark)
    resp = resolve_response(
        spark, turns,
        Model(ARRAYS_MODEL),
        Input(attributes={"no_such_attribute": ["x"]}),
    )
    obj = json.loads(resp)
    err = obj["error"]
    assert err["by"] == "zentity"
    assert err["type"] == "io.zentity.model.ValidationException"
    assert "no_such_attribute" in err["reason"]
    assert err["stack_trace"].startswith("io.zentity.model.ValidationException: ")

    # error_trace=false drops the stack trace (IT:1463-1475)
    from zentity_spark.errors import ValidationException

    inner = serialize_exception(ValidationException("boom"), include_trace=False)
    assert "stack_trace" not in inner and '"by":"zentity"' in inner


def test_source_echo_for_document_corpora(spark):
    """_source=true echoes the original document JSON for corpora
    ingested from raw docs (transcripts have no _source; the reference
    moves _source to the end of the doc — Job.java:995-1002)."""
    from tests.fixture_data import arrays_docs_df

    docs = arrays_docs_df(spark)
    from zentity_spark.documents import documents_to_turns

    turns = documents_to_turns(docs)
    source_docs = docs.selectExpr(
        "concat(source, '/', record_id) AS record_id", "_source"
    )
    resp = resolve_response(
        spark, turns,
        Model(ARRAYS_MODEL),
        Input(attributes={"string": ["abc"]}),
        include_attributes=False, include_source=True, source_docs=source_docs,
    )
    obj = json.loads(resp)
    doc = obj["hits"]["hits"][0]
    assert doc["_id"] == "1"
    assert doc["_source"]["string"] == "abc"
    assert list(doc)[-1] == "_source"  # _source is last, reference order
