"""Model validation matrix, ported from the reference's unit tests
(ModelTest/AttributeTest/ResolverTest/MatcherTest/IndexTest/IndexFieldTest
semantics) plus parsing of the real fixture models."""

import pytest

from tests.conftest import load_reference_model, requires_reference
from zentity_spark.errors import ValidationException
from zentity_spark.model import Model, validate_strict_name

VALID = {
    "attributes": {"name": {"type": "string", "score": 0.8}},
    "resolvers": {"r": {"attributes": ["name"]}},
    "matchers": {"m": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
    "indices": {"idx": {"fields": {"f": {"attribute": "name", "matcher": "m"}}}},
}


def _with(section, value):
    spec = {k: dict(v) for k, v in VALID.items()}
    spec[section] = value
    return spec


def test_valid_model_parses():
    m = Model(VALID)
    assert list(m.attributes) == ["name"]
    assert m.resolvers["r"].weight == 0
    assert m.matchers["m"].variables == ["field", "value"]


@pytest.mark.parametrize("missing", ["attributes", "resolvers", "matchers", "indices"])
def test_missing_required_section(missing):
    spec = {k: v for k, v in VALID.items() if k != missing}
    with pytest.raises(ValidationException):
        Model(spec)


@pytest.mark.parametrize("section", ["attributes", "resolvers", "matchers", "indices"])
def test_empty_required_section(section):
    with pytest.raises(ValidationException):
        Model(_with(section, {}))


def test_unknown_top_level_field():
    spec = dict(VALID)
    spec["bogus"] = {}
    with pytest.raises(ValidationException):
        Model(spec)


# Model.java:97-124 validateStrictName
@pytest.mark.parametrize(
    "bad",
    ["", None, "UPPER", "_x", "-x", "+x", ".", "..", "a#b", "a:b", "a b", "a,b",
     "a/b", "a\\b", "a*b", "a?b", 'a"b', "a<b", "a>b", "a|b", "x" * 256],
)
def test_strict_name_invalid(bad):
    with pytest.raises(ValidationException):
        validate_strict_name(bad)


@pytest.mark.parametrize("good", ["a", "name.first", "a-b_c+d", "x" * 255])
def test_strict_name_valid(good):
    validate_strict_name(good)


# Model.java:142-155 attribute nesting
def test_attribute_nesting_override_invalid():
    spec = _with(
        "attributes",
        {"name": {}, "name.first": {}},
    )
    with pytest.raises(ValidationException):
        Model(spec)


def test_attribute_nesting_siblings_valid():
    spec = _with("attributes", {"name.first": {}, "name.last": {}})
    spec["resolvers"] = {"r": {"attributes": ["name.first"]}}
    spec["indices"] = {
        "idx": {"fields": {"f": {"attribute": "name.first", "matcher": "m"}}}
    }
    Model(spec)


# Attribute.java
@pytest.mark.parametrize("score", [-0.1, 1.1, "x", True])
def test_attribute_bad_score(score):
    with pytest.raises(ValidationException):
        Model(_with("attributes", {"name": {"score": score}}))


def test_attribute_bad_type():
    with pytest.raises(ValidationException):
        Model(_with("attributes", {"name": {"type": "array"}}))


def test_attribute_default_type_is_string():
    m = Model(VALID)
    assert m.attributes["name"].type == "string"


# Resolver.java
@pytest.mark.parametrize("attrs", [[], None, "name", [""], [1]])
def test_resolver_bad_attributes(attrs):
    with pytest.raises(ValidationException):
        Model(_with("resolvers", {"r": {"attributes": attrs}}))


@pytest.mark.parametrize("weight", [0.5, "x", True])
def test_resolver_bad_weight(weight):
    with pytest.raises(ValidationException):
        Model(_with("resolvers", {"r": {"attributes": ["name"], "weight": weight}}))


def test_resolver_integral_float_weight_ok():
    m = Model(_with("resolvers", {"r": {"attributes": ["name"], "weight": 2.0}}))
    assert m.resolvers["r"].weight == 2


def test_resolver_undefined_attribute():
    with pytest.raises(ValidationException):
        Model(_with("resolvers", {"r": {"attributes": ["nope"]}}))


# Matcher.java
@pytest.mark.parametrize("clause", [None, {}, "x", []])
def test_matcher_bad_clause(clause):
    with pytest.raises(ValidationException):
        Model(_with("matchers", {"m": {"clause": clause}}))


@pytest.mark.parametrize("quality", [-0.1, 1.1, "x"])
def test_matcher_bad_quality(quality):
    with pytest.raises(ValidationException):
        Model(
            _with(
                "matchers",
                {"m": {"clause": {"term": {"{{ field }}": "{{ value }}"}}, "quality": quality}},
            )
        )


# Index / IndexField
def test_index_requires_fields():
    with pytest.raises(ValidationException):
        Model(_with("indices", {"idx": {}}))


def test_index_field_requires_attribute():
    with pytest.raises(ValidationException):
        Model(_with("indices", {"idx": {"fields": {"f": {"matcher": "m"}}}}))


def test_index_field_undefined_matcher():
    with pytest.raises(ValidationException):
        Model(_with("indices", {"idx": {"fields": {"f": {"attribute": "name", "matcher": "zz"}}}}))


def test_index_field_no_matcher_is_unusable_not_invalid():
    # Job.java:296-303: a field with no matcher parses fine but cannot be queried
    m = Model(
        _with("indices", {"idx": {"fields": {"f": {"attribute": "name"}}}}),
        validate_runnable=True,
    )
    assert m.usable_fields("idx", "name") == []


# Real fixture models must all parse
@requires_reference
@pytest.mark.parametrize(
    "name",
    [
        "TestEntityModelA.json",
        "TestEntityModelB.json",
        "TestEntityModelArrays.json",
        "TestEntityModelObjectArrays.json",
    ],
)
def test_reference_fixture_models_parse(name):
    m = Model(load_reference_model(name))
    assert m.attributes and m.resolvers and m.matchers and m.indices


@requires_reference
def test_model_a_shape():
    m = Model(load_reference_model("TestEntityModelA.json"))
    assert len(m.attributes) == 14
    assert len(m.resolvers) == 15
    assert len(m.matchers) == 3
    assert len(m.indices) == 4
    assert m.attributes["attribute_a"].score == 0.8
    assert m.attributes["attribute_c"].score is None
    assert m.matchers["matcher_c"].params == {
        "format": "yyyy-MM-dd'T'HH:mm:ss.0000",
        "window": "2s",
    }
    # quality=0.0 is legal (TestEntityModelA.json index_d field_c.keyword)
    assert m.indices["zentity_test_index_d"].fields["field_c.keyword"].quality == 0.0


@requires_reference
def test_weight_groups_model_b():
    m = Model(load_reference_model("TestEntityModelB.json"))
    groups = m.resolver_weight_groups(list(m.resolvers))
    assert list(groups) == [-1, 0, 1]
    assert groups[-1] == ["resolver_ab", "resolver_ac", "resolver_cd"]
    assert groups[1] == ["resolver_bc"]


def test_scope_prune_include_exclude():
    fields = {"field_a": {"attribute": "attribute_a", "matcher": "m"},
              "field_c": {"attribute": "attribute_c", "matcher": "m"}}
    m = Model({
        "attributes": {"attribute_a": {}, "attribute_c": {}},
        "resolvers": {"resolver_a": {"attributes": ["attribute_a"]},
                      "resolver_c": {"attributes": ["attribute_c"]}},
        "matchers": VALID["matchers"],
        "indices": {"zentity_test_index_a": {"fields": fields},
                    "zentity_test_index_b": {"fields": fields}},
    })
    m.prune({"include": {"indices": ["zentity_test_index_a"]},
             "exclude": {"resolvers": ["resolver_c"]}})
    assert list(m.indices) == ["zentity_test_index_a"]
    assert "resolver_c" not in m.resolvers
    assert "resolver_a" in m.resolvers
