"""Test corpora: the reference's integration-test documents, and the
in-repo corpora that stand in for them where a test does not assert the
reference's own goldens.

Reference documents load as transcripts through the ENGINE's generic
JSON ingestion path.

FIXTURES.md §2: each reference test doc (44 total: TestData.txt,
TestDataArrays.txt, TestDataObjectArrays.txt) becomes one conversation.
The raw `_source` JSON is flattened by
zentity_spark.documents.documents_to_turns (the batch analog of
Job.java:199-286 extractValues — dotted paths, arrays, object arrays,
dotted key names), NOT by a test-side pre-flattener, so the golden
cluster tests exercise the real ingestion surface end to end.
conv_id = `<index>/<doc_id>`; ts = the doc's type_date where present
else epoch (used only by conversation assembly, not by matching).
These loaders read the reference checkout and need it present; tests
that call them carry `tests.conftest.requires_reference`.

In-repo corpora (no checkout needed):
- the two arrays documents of FIXTURES.md §3.2 with a model shaped like
  the reference's arrays model, ingested by the same
  `documents_to_turns` path;
- the split-attribute corpus (`split_model` / `split_turns`).
"""

from __future__ import annotations

import datetime
import json

from tests.conftest import REFERENCE_RESOURCES

_TS_EPOCH = datetime.datetime(1970, 1, 1)


def load_reference_docs(filenames=("TestData.txt",)) -> list[dict]:
    """Parse NDJSON bulk files → [{index, id, doc}]."""
    docs = []
    for fn in filenames:
        with open(f"{REFERENCE_RESOURCES}/{fn}") as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        for meta_line, doc_line in zip(lines[0::2], lines[1::2]):
            meta = json.loads(meta_line)["index"]
            docs.append(
                {"index": meta["_index"], "id": meta["_id"], "doc": json.loads(doc_line)}
            )
    return docs


def fixture_docs_df(spark, filenames=("TestData.txt",)):
    """Raw-document DataFrame (record_id, source, _source) — the input
    shape of the generic JSON ingestion path."""
    docs = load_reference_docs(filenames)
    rows = [(d["id"], d["index"], json.dumps(d["doc"])) for d in docs]
    return spark.createDataFrame(
        rows, "record_id string, source string, _source string"
    )


def fixture_transcripts(spark, filenames=("TestData.txt",)):
    from pyspark.sql import functions as F

    from zentity_spark.documents import documents_to_turns

    docs = load_reference_docs(filenames)
    turns = documents_to_turns(fixture_docs_df(spark, filenames))

    # per-doc ts: type_date where present (old fixture behavior; matching
    # never reads it — date semantics ride in the turn text)
    ts_rows = []
    for d in docs:
        ts = _TS_EPOCH
        raw_date = d["doc"].get("type_date")
        if raw_date:
            ts = datetime.datetime.strptime(raw_date, "%Y-%m-%dT%H:%M:%S.%f")
        ts_rows.append((f"{d['index']}/{d['id']}", ts))
    ts_df = spark.createDataFrame(ts_rows, "conv_id string, _doc_ts timestamp")
    return (
        turns.drop("ts")
        .join(ts_df, "conv_id", "left")
        .withColumn("ts", F.coalesce("_doc_ts", F.lit("1970-01-01").cast("timestamp")))
        .drop("_doc_ts")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


def golden_clusters(case: str) -> dict[str, int]:
    """Expected (record short id → hop) sets from ResolutionActionIT."""
    cases = {
        # testJobAttributes (:726-742): attribute_a=a_00, indices a/b/c,
        # resolvers a/b
        "attributes": {"a0": 0, "b0": 0, "c0": 1, "a1": 2, "b1": 3, "c1": 4},
        # testJobIds (:832-846)
        "ids": {"a0": 0, "b0": 1, "c0": 2, "a1": 3, "b1": 4, "c1": 5},
        # testJobResolverWeight (:1384-1397): model B, index a only
        "weight": {"a2": 0, "a3": 0, "a4": 1, "a5": 1},
        # testJobArrays (:1485-1515)
        "arrays": {"1": 0, "2": 1},
    }
    return cases[case]


# FIXTURES.md §3.2: the two zentity_test_index_arrays documents, with
# nulls, duplicates and an empty array inside the arrays
ARRAYS_INDEX = "zentity_test_index_arrays"
ARRAYS_DOCS = [
    ("1", {"string": "abc", "array_1": ["111"], "array_2": ["222", None, "222"],
           "array_3": [], "array_4": ["222", "333", "444"]}),
    ("2", {"string": "xyz", "array_1": ["444"], "array_2": None,
           "array_4": ["555"]}),
]

ARRAYS_MODEL = {
    "attributes": {"string": {}, "array": {}},
    "resolvers": {"string": {"attributes": ["string"]},
                  "array": {"attributes": ["array"]}},
    "matchers": {"exact": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
    "indices": {
        ARRAYS_INDEX: {
            "fields": {
                "string": {"attribute": "string", "matcher": "exact"},
                "array_1": {"attribute": "array", "matcher": "exact"},
                "array_2": {"attribute": "array", "matcher": "exact"},
                "array_3": {"attribute": "array", "matcher": "exact"},
                "array_4": {"attribute": "array", "matcher": "exact"},
            }
        }
    },
}


def arrays_docs_df(spark):
    """The arrays documents as a raw-document DataFrame (record_id,
    source, _source), the shape `fixture_docs_df` gives."""
    rows = [(doc_id, ARRAYS_INDEX, json.dumps(doc)) for doc_id, doc in ARRAYS_DOCS]
    return spark.createDataFrame(
        rows, "record_id string, source string, _source string"
    )


def arrays_transcripts(spark):
    """The arrays documents as transcripts, through documents_to_turns."""
    from zentity_spark.documents import documents_to_turns

    return documents_to_turns(arrays_docs_df(spark))


def split_model(weighted=False):
    """r_pe needs phone AND email; a weight on one resolver turns on the
    weight-tier gate (gate_edges' slow path)."""
    from zentity_spark.model import Model

    resolvers = {"r_name": {"attributes": ["name"]},
                 "r_pe": {"attributes": ["phone", "email"]}}
    if weighted:
        resolvers["r_pe"]["weight"] = 1
    fields = {a: {"attribute": a, "matcher": "m"} for a in ("name", "phone", "email")}
    return Model({
        "attributes": {"name": {}, "phone": {}, "email": {}},
        "resolvers": resolvers,
        "matchers": {"m": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
        "indices": {idx: {"fields": fields} for idx in ("idx_a", "idx_b")},
    })


def split_turns(spark, n=6):
    """Per entity i: a{name,phone} in idx_a and b{name,email} in idx_b
    link by name; c{phone,email} links only to the closed cluster's
    phone+email. Every third entity also has a name-only d, and one
    singleton shares nothing."""
    rows = []
    for i in range(n):
        docs = {f"idx_a/a{i}": [f"name=n{i}", f"phone=p{i}"],
                f"idx_b/b{i}": [f"name=n{i}", f"email=e{i}"],
                f"idx_b/c{i}": [f"phone=p{i}", f"email=e{i}"]}
        if i % 3 == 0:
            docs[f"idx_a/d{i}"] = [f"name=n{i}"]
        for conv, texts in docs.items():
            rows += [(conv, t, "user", text, None, None) for t, text in enumerate(texts)]
    rows.append(("idx_a/z", 0, "user", "name=zz", None, None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string, ts timestamp")
