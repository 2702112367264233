"""Entity-closure termination without a cluster-count guard: the loop
stops on an empty delta, so a corpus with at most one cluster leaves the
round-0 clusters unchanged."""

import pytest

from tests.fixture_data import split_model, split_turns
from zentity_spark.pipeline import ResolutionConfig, resolve_all


def _assignment(df):
    return sorted(map(tuple, df.select("record_id", "cluster_id").collect()))


@pytest.mark.parametrize("weighted", [False, True])
def test_one_cluster_and_empty_corpus_close_to_round_zero(spark, weighted):
    model = split_model(weighted)
    # entity 0's a, b and d share name n0: one cluster before closure
    one = split_turns(spark).where("conv_id in ('idx_a/a0', 'idx_b/b0', 'idx_a/d0')")
    empty = split_turns(spark).limit(0)
    for turns, n_records in ((one, 3), (empty, 0)):
        closed = _assignment(resolve_all(
            spark, turns, model, ResolutionConfig(entity_closure=True)).clusters)
        base = _assignment(resolve_all(
            spark, turns, model, ResolutionConfig(entity_closure=False)).clusters)
        assert closed == base
        assert len(closed) == n_records
        assert len({c for _, c in closed}) == min(n_records, 1)
