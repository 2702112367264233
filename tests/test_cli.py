"""spark-submit entrypoint end-to-end: batch and resolve subcommands
produce their JSON contracts (run in-process against the shared test
session; SparkSession.stop is stubbed so the session survives)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import SparkSession

from tests.fixture_data import ARRAYS_MODEL as MODEL, arrays_transcripts
from zentity_spark import cli


@pytest.fixture()
def setup(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    turns_path = str(tmp_path / "turns")
    arrays_transcripts(spark).write.parquet(turns_path)
    model_path = str(tmp_path / "model.json")
    with open(model_path, "w") as fh:
        json.dump(MODEL, fh)
    return turns_path, model_path


def test_cli_resolve_envelope(setup, capsys):
    turns_path, model_path = setup
    cli.main([
        "resolve", "--model", model_path, "--input", turns_path,
        "--attributes", '{"string": ["abc"], "array": ["222"]}',
        "--explanation",
    ])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    obj = json.loads(out)
    assert set(obj) == {"took", "hits"}
    assert obj["hits"]["total"] == 2
    doc = {h["_id"]: h for h in obj["hits"]["hits"]}["1"]
    assert doc["_hop"] == 0 and "_explanation" in doc and "_attributes" in doc


def test_cli_resolve_error_envelope(setup, capsys):
    turns_path, model_path = setup
    cli.main([
        "resolve", "--model", model_path, "--input", turns_path,
        "--attributes", '{"no_such": ["x"]}',
    ])
    obj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert obj["error"]["by"] == "zentity"
    assert obj["error"]["type"] == "io.zentity.model.ValidationException"


def test_cli_batch(setup, tmp_path, capsys):
    turns_path, model_path = setup
    out_root = str(tmp_path / "warehouse")
    cli.main([
        "batch", "--model", model_path, "--input", turns_path,
        "--output", out_root,
    ])
    obj = json.loads(capsys.readouterr().out.strip())
    assert obj["stages"]["clusters"]["rows"] > 0
    assert os.path.isdir(os.path.join(out_root, "clusters"))


def test_cli_home(capsys):
    """`home` prints the HomeAction metadata body (HomeActionIT.java:34-56
    field assertions) without starting a Spark session."""
    cli.main(["home"])
    obj = json.loads(capsys.readouterr().out)
    assert obj["name"] == "zentity_spark"
    assert obj["description"]
    assert obj["website"]
    assert set(obj["version"]) == {"zentity_spark", "spark"}


def test_cli_bulk(setup, tmp_path, capsys):
    """`bulk` runs the NDJSON batch against a ModelStore and prints the
    reference {took,errors,items} body with per-item error isolation."""
    from zentity_spark.models_store import ModelStore

    turns_path, model_path = setup
    store_root = str(tmp_path / "models")
    store = ModelStore(store_root)
    store.setup()
    store.create("arrays", MODEL)
    body_path = str(tmp_path / "bulk.ndjson")
    with open(body_path, "w") as fh:
        fh.write("\n".join([
            json.dumps({"entity_type": "arrays"}),
            json.dumps({"attributes": {"string": ["abc"], "array": ["222"]}}),
            json.dumps({"entity_type": "missing_type"}),
            json.dumps({"attributes": {"string": ["abc"]}}),
        ]))
    cli.main([
        "bulk", "--input", turns_path, "--body", body_path,
        "--models-dir", store_root, "--no-source",
    ])
    obj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert obj["errors"] is True
    ok, bad = obj["items"]
    assert ok["hits"]["total"] == 2
    assert bad["error"]["reason"] == "Entity type 'missing_type' not found."
    assert bad["hits"] == {"total": 0, "hits": []}


def test_cli_models_crud(tmp_path, capsys):
    """models subcommand e2e: setup / create / get / list / update /
    delete with the reference's create-vs-update exists semantics
    (ModelsAction.java:86-99)."""
    models_dir = str(tmp_path / "models")
    spec_path = str(tmp_path / "m.json")
    with open(spec_path, "w") as fh:
        json.dump(MODEL, fh)

    def run(*argv):
        code = 0
        try:
            cli.main(list(argv))
        except SystemExit as e:
            code = e.code or 0
        return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    code, out = run("models", "setup", "--models-dir", models_dir)
    assert code == 0 and out == {"acknowledged": True}
    # re-setup: ok by default, conflict with --no-exist-ok
    code, out = run("models", "setup", "--models-dir", models_dir,
                    "--no-exist-ok")
    assert code == 1 and out["error"]["root_cause"][0]["type"].startswith(
        "resource_already_exists"
    )

    code, out = run("models", "create", "--models-dir", models_dir,
                    "--entity-type", "person", "--spec", spec_path)
    assert code == 0 and out["result"] == "created"
    # create again: exists → error envelope, exit 1
    code, out = run("models", "create", "--models-dir", models_dir,
                    "--entity-type", "person", "--spec", spec_path)
    assert code == 1 and "already exists" in json.dumps(out)
    # update over existing: fine (PUT semantics)
    code, out = run("models", "update", "--models-dir", models_dir,
                    "--entity-type", "person", "--spec", spec_path)
    assert code == 0 and out["result"] == "updated"

    code, out = run("models", "get", "--models-dir", models_dir,
                    "--entity-type", "person")
    assert code == 0 and out == MODEL
    code, out = run("models", "get", "--models-dir", models_dir,
                    "--entity-type", "nobody")
    assert code == 1 and "not found" in json.dumps(out)

    code, out = run("models", "list", "--models-dir", models_dir)
    assert code == 0 and set(out) == {"person"}

    code, out = run("models", "delete", "--models-dir", models_dir,
                    "--entity-type", "person")
    assert code == 0 and out["result"] == "deleted"
    code, out = run("models", "delete", "--models-dir", models_dir,
                    "--entity-type", "person")
    assert code == 1
    code, out = run("models", "list", "--models-dir", models_dir)
    assert code == 0 and out == {}

    # invalid model spec → validation error envelope
    bad_path = str(tmp_path / "bad.json")
    with open(bad_path, "w") as fh:
        json.dump({"attributes": {}}, fh)
    code, out = run("models", "create", "--models-dir", models_dir,
                    "--entity-type", "person", "--spec", bad_path)
    assert code == 1 and "error" in out


def test_cli_models_bulk(tmp_path, capsys):
    """models bulk NDJSON: strictly-serial ops with per-item error
    envelopes and batch continuation (ModelsAction.java:759-883); the
    URL-path default entity type merges under per-action params."""
    models_dir = str(tmp_path / "models")
    body_path = str(tmp_path / "bulk.ndjson")
    with open(body_path, "w") as fh:
        fh.write(json.dumps({"create": {"entity_type": "a"}}) + "\n")
        fh.write(json.dumps(MODEL) + "\n")
        fh.write(json.dumps({"create": {"entity_type": "a"}}) + "\n")  # dup → item error
        fh.write(json.dumps(MODEL) + "\n")
        fh.write(json.dumps({"update": {}}) + "\n")  # entity_type from URL path
        fh.write(json.dumps(MODEL) + "\n")
        fh.write(json.dumps({"delete": {"entity_type": "a"}}) + "\n")
        fh.write("{}\n")

    try:
        cli.main(["models", "bulk", "--models-dir", models_dir,
                  "--body", body_path, "--entity-type", "b"])
        code = 0
    except SystemExit as e:
        code = e.code or 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0
    items = out["items"]
    assert len(items) == 4
    assert items[0]["create"]["result"] == "ok"
    assert "error" in items[1]["create"]  # duplicate create failed, batch continued
    assert items[2]["update"]["entity_type"] == "b"  # URL-path default
    assert items[3]["delete"]["result"] == "ok"
    # store state after the batch: only 'b' remains
    try:
        cli.main(["models", "list", "--models-dir", models_dir])
    except SystemExit as e:
        assert (e.code or 0) == 0
    left = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(left) == {"b"}


def test_cli_stream(spark, tmp_path, monkeypatch, capsys):
    """`stream` runs incremental linkage over a watched directory and its
    summary reports the delta-mode assignments; a second invocation with
    the same checkpoint/store resumes without re-processing (batch count
    unchanged) and sees a newly arrived file."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    in_dir = str(tmp_path / "in")
    rows = [
        ("c1", 0, "user", "k=1", None, "2024-01-01 00:00:00"),
        ("c2", 0, "user", "k=1", None, "2024-01-01 00:00:01"),
        ("c3", 0, "user", "k=2", None, "2024-01-01 00:00:02"),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    df = spark.createDataFrame(rows, schema).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(in_dir)
    model_path = str(tmp_path / "m.json")
    with open(model_path, "w") as fh:
        json.dump({
            "attributes": {"k": {}},
            "resolvers": {"r": {"attributes": ["k"]}},
            "matchers": {"x": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
            "indices": {"default": {"fields": {"k": {"attribute": "k", "matcher": "x"}}}},
        }, fh)
    out_root = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    argv = ["stream", "--model", model_path, "--input", in_dir,
            "--output", out_root, "--checkpoint", ck,
            "--clusters-mode", "delta",
            "--assignments-output", str(tmp_path / "assign_out")]
    cli.main(argv)
    obj = json.loads(capsys.readouterr().out)
    assert obj["records"] == 3 and obj["clusters"] == 2
    n_batches = len(obj["batches"])
    got = {(r["record_id"], r["cluster_id"]) for r in
           spark.read.parquet(str(tmp_path / "assign_out")).collect()}
    assert got == {("c1", "c1"), ("c2", "c1"), ("c3", "c3")}

    # second run: nothing new → no new batches; then a new file links c4
    cli.main(argv)
    obj2 = json.loads(capsys.readouterr().out)
    assert len(obj2["batches"]) == n_batches and obj2["records"] == 3
    extra = spark.createDataFrame(
        [("c4", 0, "user", "k=2", None, "2024-01-02 00:00:00")], schema
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    extra.coalesce(1).write.mode("append").parquet(in_dir)
    cli.main(argv)
    obj3 = json.loads(capsys.readouterr().out)
    assert obj3["records"] == 4 and obj3["clusters"] == 2
    got = {(r["record_id"], r["cluster_id"]) for r in
           spark.read.parquet(str(tmp_path / "assign_out")).collect()}
    assert got == {("c1", "c1"), ("c2", "c1"), ("c3", "c3"), ("c4", "c3")}


def test_cli_dedup_stream(spark, tmp_path, monkeypatch, capsys):
    """`dedup-stream` runs incremental near-dup dedup over a watched
    directory; a rerun with the same checkpoint/store resumes without
    re-processing and picks up a newly arrived duplicate. Ids come
    back as strings: the store normalizes ids at ingest (the zero-pad
    keeper rule is string-keyed); callers needing the source type cast
    on the way out, as q_incremental_dedup does."""
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa")
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, base), (2, base.replace("india", "xray")), (3, "totally "
          "unrelated words about something else entirely different here "
          "nothing shared with the first family at all")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(in_dir)
    out_root = str(tmp_path / "store")
    argv = ["dedup-stream", "--input", in_dir, "--output", out_root,
            "--checkpoint", str(tmp_path / "ck"),
            "--bands", "8", "--jaccard-threshold", "0.3",
            "--keepers-output", str(tmp_path / "keep_out")]
    cli.main(argv)
    obj = json.loads(capsys.readouterr().out)
    assert obj["docs"] == 3 and obj["groups"] == 2 and obj["duplicates"] == 1
    n_batches = len(obj["batches"])
    got = {(r["doc_id"], r["group_id"], r["kept"]) for r in
           spark.read.parquet(str(tmp_path / "keep_out")).collect()}
    assert got == {("1", "1", True), ("2", "1", False), ("3", "3", True)}

    # rerun: nothing new → unchanged; then a new near-dup of doc 3 lands
    cli.main(argv)
    obj2 = json.loads(capsys.readouterr().out)
    assert len(obj2["batches"]) == n_batches and obj2["docs"] == 3
    spark.createDataFrame(
        [(4, "totally unrelated words about something else entirely "
             "different here nothing shared with the zulu family at all")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(in_dir)
    cli.main(argv)
    obj3 = json.loads(capsys.readouterr().out)
    assert obj3["docs"] == 4 and obj3["groups"] == 2 and obj3["duplicates"] == 2
    got = {(r["doc_id"], r["group_id"], r["kept"]) for r in
           spark.read.parquet(str(tmp_path / "keep_out")).collect()}
    assert got == {("1", "1", True), ("2", "1", False), ("3", "3", True),
                   ("4", "3", False)}


def test_cli_ann_stream_and_query(spark, tmp_path, monkeypatch, capsys):
    """`ann-stream` builds the incremental ANN index from arriving
    embedding files; `ann-query` answers a partition-pruned top-k query
    from the committed store, matching the library surface's result. A
    rerun resumes without re-processing; a newly arrived file is picked
    up and becomes queryable."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    dim = 8

    def emb(lo, hi):
        comps = F.array(*[
            ((F.crc32(F.concat_ws("_", F.col("vec_id"), F.lit(j))) % 2001)
             - 1000).cast("double") / 1000.0
            for j in range(dim)
        ])
        return (spark.range(lo, hi).select(F.col("id").alias("vec_id"))
                .select("vec_id",
                        F.concat(F.lit("v"), F.col("vec_id")).alias("label"),
                        comps.alias("embedding")))

    in_dir = str(tmp_path / "in")
    emb(0, 40).coalesce(1).write.parquet(in_dir)
    out_root = str(tmp_path / "store")
    argv = ["ann-stream", "--input", in_dir, "--output", out_root,
            "--checkpoint", str(tmp_path / "ck"),
            "--dim", str(dim), "--bands", "4", "--planes-per-band", "4",
            "--n-buckets", "8"]
    cli.main(argv)
    obj = json.loads(capsys.readouterr().out)
    assert obj["vectors"] == 40
    n_batches = len(obj["batches"])

    cli.main(["ann-query", "--store", out_root, "--vec-id", "5",
              "--k", "3", "--multiprobe", "1"])
    q = json.loads(capsys.readouterr().out)
    assert q["query_vec_id"] == 5 and len(q["results"]) <= 3
    assert all(r["vec_id"] != 5 for r in q["results"])
    assert q["metrics"]["probe_ids"] >= len(q["results"])
    # parity with the library surface
    from zentity_spark.streaming import ann_index_query

    lib = [(r.vec_id, r.label, r.cosine) for r in ann_index_query(
        spark, out_root, 5, k=3, multiprobe=1).collect()]
    assert [(r["vec_id"], r["label"], r["cosine"])
            for r in q["results"]] == lib

    # rerun: nothing new → batch count unchanged; new arrivals land
    cli.main(argv)
    obj2 = json.loads(capsys.readouterr().out)
    assert len(obj2["batches"]) == n_batches and obj2["vectors"] == 40
    emb(40, 60).coalesce(1).write.mode("append").parquet(in_dir)
    cli.main(argv)
    obj3 = json.loads(capsys.readouterr().out)
    assert obj3["vectors"] == 60
    cli.main(["ann-query", "--store", out_root, "--vec-id", "50",
              "--k", "3", "--multiprobe", "1"])
    q2 = json.loads(capsys.readouterr().out)
    assert q2["query_vec_id"] == 50  # new arrival is queryable
