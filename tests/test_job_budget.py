"""Job-count ratchet for a committed run. At this corpus size a
committed run's wall is per-job driver overhead, not data, so the number
of Spark jobs it launches is the cost a change can move. Each budget is
the largest count seen over three runs of the code that set it, on this
suite's session config (equal 87, weighted 95; an earlier version's
weighted count was seen to move by one job between runs). A change that
adds jobs must raise its budget here openly and say why in CHANGES.md."""

import pytest

from tests.fixture_data import split_model, split_turns
from zentity_spark.pipeline import resolve_all_checkpointed

BUDGET = {False: 87, True: 95}


@pytest.mark.parametrize("weighted", [False, True])
def test_committed_run_job_budget(spark, tmp_path, weighted):
    sc = spark.sparkContext
    turns, model = split_turns(spark), split_model(weighted)
    group = f"job-budget-{weighted}"
    sc.setJobGroup(group, "committed run job budget")
    try:
        res = resolve_all_checkpointed(spark, turns, model, str(tmp_path / "root"),
                                       input_token="split")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert not any(m.get("resumed") for m in res["stages"].values())
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= BUDGET[weighted], n_jobs
