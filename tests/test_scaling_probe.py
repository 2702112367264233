"""bench.scaling_probe with fake workers (no Spark), and bench.stage_runs,
the executor run-time reader each worker uses, on the suite's session.

The probe's levels and pin come from the CPUs the process may use, each
level keeps its best rep, E splits exactly into E_util * E_task, a
failed worker is reported rather than raised, and a probe record is
appended to the scaling file without touching anything already in it.
"""

import json
import os
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

import bench


def _leg(wall, run_s, turns=120_000):
    return {"turns": turns, "wall": wall, "run_s": run_s}


def fake_workers(monkeypatch, nproc, legs):
    """Serve each worker call the next entry of legs[cpus]: a leg dict,
    or an int exit code for a failed worker. Returns the calls made."""
    calls = []

    def run(cmd, env, **kwargs):
        cpus = int(env["BENCH_SCALING_WORKER"])
        calls.append((cpus, cmd))
        out = legs[cpus].pop(0)
        if isinstance(out, int):
            return subprocess.CompletedProcess(cmd, out, "", "java.lang.OutOfMemoryError")
        line = json.dumps({"cpus": cpus, **out})
        return subprocess.CompletedProcess(cmd, 0, "log noise\n" + line + "\n", "")

    monkeypatch.setattr(bench.subprocess, "run", run)
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: set(range(nproc)))
    return calls


@pytest.mark.parametrize("nproc,levels", [(4, [1, 4]), (32, [8, 32])])
def test_levels_and_pin_follow_the_machine(monkeypatch, nproc, levels):
    lo, hi = levels
    legs = {lo: [_leg(10.0, 8.0)] * 3, hi: [_leg(4.0, 9.0)] * 3}
    calls = fake_workers(monkeypatch, nproc, legs)
    rec = bench.scaling_probe()
    assert rec["levels"] == levels and rec["nproc"] == nproc and rec["pinned"]
    # interleaved: lo, hi, lo, hi, lo, hi
    assert [cpus for cpus, _ in calls] == [lo, hi] * 3
    for cpus, cmd in calls:
        assert cmd[:3] == ["taskset", "-c", f"0-{cpus - 1}"]
        assert cmd[-1] == os.path.abspath(bench.__file__)


def test_each_level_keeps_its_best_rep_and_e_decomposes(monkeypatch):
    legs = {
        1: [_leg(12.0, 9.5), _leg(10.0, 8.0), _leg(11.0, 9.0)],
        4: [_leg(4.0, 11.0), _leg(5.0, 12.0), _leg(3.5, 10.0)],
    }
    fake_workers(monkeypatch, 4, legs)
    rec = bench.scaling_probe()
    assert rec["local1"]["wall"] == 10.0 and rec["local1"]["run_s"] == 8.0
    assert rec["local4"]["wall"] == 3.5 and rec["local4"]["run_s"] == 10.0
    assert rec["local1"]["throughput"] == 120_000 / 10.0
    assert rec["local4"]["u"] == pytest.approx(10.0 / (4 * 3.5))
    assert rec["E"] == pytest.approx((10.0 / 3.5) / 4)
    assert rec["E_util"] == pytest.approx((10.0 / (4 * 3.5)) / (8.0 / 10.0))
    assert rec["E_task"] == pytest.approx(8.0 / 10.0)
    assert abs(rec["E"] - rec["E_util"] * rec["E_task"]) < 1e-9
    assert rec["failed"] == [] and "error" not in rec


def test_failed_worker_is_reported_not_raised(monkeypatch, capsys):
    legs = {1: [_leg(10.0, 8.0), 137, _leg(11.0, 8.5)], 4: [1, 1, 1]}
    fake_workers(monkeypatch, 4, legs)
    rec = bench.scaling_probe()
    assert rec["failed"] == [4, 1, 4, 4]
    assert "error" in rec and "E" not in rec
    err = capsys.readouterr().err
    assert "worker local[1] failed (rc=137)" in err
    assert "worker local[4] failed (rc=1)" in err
    assert "OutOfMemoryError" in err

    legs = {1: [_leg(10.0, 8.0), 137, _leg(11.0, 8.5)], 4: [_leg(4.0, 9.0), 1, 1]}
    fake_workers(monkeypatch, 4, legs)
    rec = bench.scaling_probe()
    assert rec["failed"] == [1, 4, 4]
    assert rec["E"] == pytest.approx(10.0 / 4.0 / 4)


def test_append_keeps_every_prior_byte(tmp_path):
    path = str(tmp_path / "BENCH_SCALING.json")
    shutil.copy(bench._SCALING_FILE, path)
    with open(path) as fh:
        before_text = fh.read()
    before = json.loads(before_text)
    record = {"levels": [1, 4], "E": 0.66, "E_util": 0.81, "E_task": 0.815}
    bench.append_scaling_history(record, path)
    with open(path) as fh:
        after = json.load(fh)
    assert list(after) == list(before)
    assert after["history"] == before["history"] + [record]
    # the file minus the new entry is the old file, byte for byte
    assert json.dumps({**after, "history": after["history"][:-1]}) == before_text


def test_stage_runs_sums_only_later_stages_after_drain(spark):
    spark.range(50_000).selectExpr("id % 13 AS k").groupBy("k").count().collect()
    before = bench.stage_runs(spark)
    (spark.range(300_000)
     .select((F.col("id") % 17).alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("h"))
     .groupBy("k").agg(F.countDistinct("h")).collect())
    after = bench.stage_runs(spark)
    assert all(after[key] == before[key] for key in before if key in after)
    new = {key: v for key, v in after.items() if key not in before}
    assert new
    assert min(stage for stage, _ in new) > max(stage for stage, _ in before)
    assert all(status != "ACTIVE" for status, _ in new.values())
    assert sum(run_s for _, run_s in new.values()) > 0
