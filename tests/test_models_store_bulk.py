"""Models API (store CRUD + bulk, ModelsActionIT semantics), bulk
resolution (BulkAction semantics), and the two error taxonomies."""

import json

import pytest

from tests.conftest import load_reference_model, requires_reference
from tests.fixture_data import fixture_transcripts
from zentity_spark.bulk import bulk_resolve, split_bulk_entries
from zentity_spark.errors import ValidationException, ZentityError
from zentity_spark.model import Model
from zentity_spark.models_store import ModelStore

VALID = {
    "attributes": {"name": {}},
    "resolvers": {"r": {"attributes": ["name"]}},
    "matchers": {"m": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
    "indices": {"idx": {"fields": {"f": {"attribute": "name", "matcher": "m"}}}},
}


# ---------------------------------------------------------------- store

def test_store_crud(tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    store.setup()
    store.create("person", VALID)
    assert store.exists("person")
    assert isinstance(store.get("person"), Model)
    # create again must fail (the reference's `_create` op)
    with pytest.raises(ValidationException):
        store.create("person", VALID)
    store.update("person", VALID)  # overwrite OK
    assert list(store.get_all()) == ["person"]
    store.delete("person")
    assert not store.exists("person")
    # missing entity type is the 404 taxonomy with the reference's
    # quoted-name message (ResolutionAction.java:102)
    from zentity_spark.errors import NotFoundException

    with pytest.raises(NotFoundException, match="Entity type 'person' not found."):
        store.delete("person")


def test_store_validates_before_write(tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    with pytest.raises(ValidationException):
        store.create("bad", {"attributes": {}})
    assert not store.exists("bad")
    with pytest.raises(ValidationException):
        store.create("UPPER", VALID)  # strict entity-type name


def test_store_bulk_serial_with_item_errors(tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    items = store.bulk(
        [
            ("create", "a", VALID),
            ("create", "a", VALID),   # duplicate → per-item error
            ("update", "b", VALID),
            ("delete", "zzz", None),  # missing → per-item error
            ("delete", "a", None),
        ]
    )
    oks = [list(i.values())[0]["ok"] for i in items]
    assert oks == [True, False, True, False, True]
    assert list(store.get_all()) == ["b"]


# ---------------------------------------------------------------- bulk resolution

def test_split_bulk_entries_odd_lines():
    with pytest.raises(ValidationException):
        split_bulk_entries('{}\n{"attributes": {}}\n{}')


@requires_reference
def test_bulk_resolve(spark, tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    store.setup()
    store.create("zentity_test_entity_a", load_reference_model("TestEntityModelA.json"))
    turns = fixture_transcripts(spark)
    scope = {
        "include": {
            "indices": ["zentity_test_index_a", "zentity_test_index_b",
                        "zentity_test_index_c"],
            "resolvers": ["resolver_a", "resolver_b"],
        }
    }
    ndjson = "\n".join(
        [
            json.dumps({"entity_type": "zentity_test_entity_a"}),
            json.dumps({"attributes": {"attribute_a": ["a_00"]}, "scope": scope}),
            json.dumps({"entity_type": "zentity_test_entity_a"}),
            json.dumps({"attributes": {"attribute_a": ["a_10"]},
                        "scope": {"include": {"indices": ["zentity_test_index_a"],
                                              "resolvers": ["resolver_a"]}}}),
            json.dumps({}),  # malformed: no entity type or model
            json.dumps({"attributes": {"attribute_a": ["a_00"]}}),
        ]
    )
    out = bulk_resolve(spark, turns, ndjson, model_store=store)
    assert out["errors"] is True
    assert len(out["items"]) == 3
    first = out["items"][0]["hits"]
    assert first["total"] == 6
    assert {h["_id"] for h in first["hits"]} == {"a0", "b0", "c0", "a1", "b1", "c1"}
    second = out["items"][1]["hits"]
    assert {h["_id"] for h in second["hits"]} == {"a2", "a3", "a4", "a5"}
    assert out["items"][2]["error"]["by"] == "zentity"


# ---------------------------------------------------------------- error taxonomies

@requires_reference
def test_zentity_error_type_mismatch(spark):
    """testJobZentityError (ResolutionActionIT.java:1446-1462): resolving
    with a value that doesn't match the attribute type → ValidationException
    with the reference's exact reason."""
    from zentity_spark.resolve import Input, resolve

    turns = fixture_transcripts(spark)
    model = Model(load_reference_model("TestEntityModelZentityError.json"))
    with pytest.raises(ValidationException, match="Expected 'number' attribute data type."):
        resolve(spark, turns, model,
                Input(attributes={"attribute_a": ["a_10"], "attribute_b": ["b_10"]}))


@requires_reference
def test_engine_error_malformed_matcher():
    """testJobElasticsearchError analog: a matcher clause the engine can't
    interpret fails at compile with an engine-side (non-validation) error."""
    from zentity_spark.compiler import compile_model

    model = Model(load_reference_model("TestEntityModelElasticsearchError.json"))
    with pytest.raises(ZentityError):
        compile_model(model)


# ------------------------------------------------- bulk NDJSON format

def test_bulk_ndjson_roundtrip(tmp_path):
    """ModelsAction.java:759-883: action-line NDJSON — create, update,
    delete with params merged over request defaults."""
    store = ModelStore(str(tmp_path / "models"))
    store.setup()
    body = "\n".join(
        [
            json.dumps({"create": {"entity_type": "person"}}),
            json.dumps(VALID),
            json.dumps({"update": {"entity_type": "person"}}),
            json.dumps(VALID),
            json.dumps({"delete": {"entity_type": "person"}}),
            "{}",
        ]
    )
    items = store.bulk_ndjson(body)
    assert [list(i)[0] for i in items] == ["create", "update", "delete"]
    assert all("error" not in i[list(i)[0]] for i in items)
    assert not store.exists("person")


def test_bulk_ndjson_errors_continue(tmp_path):
    """Per-item error envelopes; the batch continues (delegateFailure)."""
    store = ModelStore(str(tmp_path / "models"))
    store.setup()
    body = "\n".join(
        [
            json.dumps({"create": {"entity_type": "a"}}),
            json.dumps(VALID),
            # duplicate create → error, batch continues
            json.dumps({"create": {"entity_type": "a"}}),
            json.dumps(VALID),
            # unknown action key
            json.dumps({"upsert": {"entity_type": "b"}}),
            json.dumps(VALID),
            # two action keys in one line
            json.dumps({"create": {"entity_type": "c"}, "delete": {"entity_type": "c"}}),
            json.dumps(VALID),
            # still processes the valid tail
            json.dumps({"create": {"entity_type": "d"}}),
            json.dumps(VALID),
        ]
    )
    items = store.bulk_ndjson(body)
    assert len(items) == 5
    assert "error" not in items[0]["create"]
    err1 = items[1]["create"]["error"]
    assert err1["by"] == "zentity" and "already exists" in err1["reason"]
    assert "not a recognized action" in items[2]["action"]["error"]["reason"]
    # with two action keys, the FIRST recognized action names the error
    # envelope (the reference's `action` variable holds it at throw time)
    k3 = list(items[3])[0]
    assert k3 == "create" and "only one action" in items[3][k3]["error"]["reason"]
    assert "error" not in items[4]["create"]
    assert store.exists("a") and store.exists("d")


def test_bulk_ndjson_odd_lines(tmp_path):
    store = ModelStore(str(tmp_path / "models"))
    store.setup()
    with pytest.raises(ValidationException, match="pairs"):
        store.bulk_ndjson(json.dumps({"create": {"entity_type": "x"}}))


def test_bulk_ndjson_default_params(tmp_path):
    """entity_type may come from request-level params (the URL-path
    entity_type in the reference), overridden per line."""
    store = ModelStore(str(tmp_path / "models"))
    store.setup()
    body = "\n".join([json.dumps({"create": {}}), json.dumps(VALID)])
    items = store.bulk_ndjson(body, default_params={"entity_type": "from_url"})
    assert "error" not in items[0]["create"]
    assert store.exists("from_url")
