"""The north-star launch path, for real: `spark-submit --py-files
zentity_spark.zip` from a NEUTRAL working directory, so the zip is the
ONLY source of the package for the driver AND the Python UDF workers
(driver-side sys.path hacks do not reach workers — the failure mode this
test pins down)."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(path: str) -> None:
    pkg = os.path.join(REPO, "zentity_spark")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for fn in sorted(os.listdir(pkg)):
            if fn.endswith(".py"):
                zf.write(os.path.join(pkg, fn), f"zentity_spark/{fn}")


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_py_files(spark, tmp_path):
    from tests.fixture_data import arrays_transcripts

    turns_path = str(tmp_path / "turns")
    arrays_transcripts(spark).write.parquet(turns_path)
    model = {
        "attributes": {"string": {}},
        "resolvers": {"string": {"attributes": ["string"]}},
        "matchers": {"exact": {"clause": {"term": {"{{ field }}": "{{ value }}"}}}},
        "indices": {"zentity_test_index_arrays": {"fields": {
            "string": {"attribute": "string", "matcher": "exact"}}}},
    }
    model_path = str(tmp_path / "model.json")
    with open(model_path, "w") as fh:
        json.dump(model, fh)

    zip_path = str(tmp_path / "zentity_spark.zip")
    _build_zip(zip_path)
    launcher = str(tmp_path / "launch.py")
    with open(launcher, "w") as fh:
        fh.write("import sys\nfrom zentity_spark.cli import main\nmain(sys.argv[1:])\n")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            launcher,
            "resolve", "--model", model_path, "--input", turns_path,
            "--attributes", '{"string": ["abc"]}',
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    envelope = json.loads(proc.stdout.strip().splitlines()[-1])
    assert envelope["hits"]["total"] >= 1
    assert {h["_index"] for h in envelope["hits"]["hits"]} == {
        "zentity_test_index_arrays"
    }
