"""Batch resolution pipeline: transcripts → clusters.

The stage list (SURVEY.md §3.1 "Spark equivalent lifecycle") is written
once, in `_stages`; each stage's build reads the outputs of earlier ones:

  records          scan + extract: transcripts → long values → wide records
  candidates       per-resolver composite blocking keys → candidate pairs
  pairs            vectorized matcher predicates → matched pairs
  edges            weight-tier gating
  clusters         large-star/small-star connected components
  clusters_closed  entity closure, see below (config.entity_closure)
  scored_pairs     similarity features per candidate pair
                   (config.score_candidate_pairs)

`_run_stages` executes the list. The entry points differ only in how a
stage's output is kept: `resolve_all` keeps it in memory
(localCheckpoint where two consumers read it), `resolve_all_checkpointed`
commits it as a snapshot and serves it from that snapshot on rerun.

Entity closure: the reference matches documents against the ACCUMULATED
value set of the growing entity (Job.java:1096-1113), so a document can
join via a combination of values that no single prior document holds
(e.g. resolver_b with attribute_b from doc X and attribute_c from doc Y).
Pairwise edges can't see such cross-document combinations; the closure
loop re-blocks CLUSTERS as super-records (their unioned value sets),
finds inter-cluster matches, adds them as edges between cluster
representatives (cluster id = min record id = a real record), re-runs CC,
and repeats to fixpoint — exactly the accumulate-and-query semantics,
amortized over all entities at once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zentity_spark.blocking import blocking_keys, candidate_pairs
from zentity_spark.clustering import connected_components
from zentity_spark.compiler import CompiledModel, compile_model
from zentity_spark.model import Model
from zentity_spark.pairs import gate_edges, verify_pairs
from zentity_spark.transcripts import build_records, build_values, parse_turns


@dataclass
class ResolutionConfig:
    max_block_size: int | None = 10_000
    max_keys_per_record: int = 256
    entity_closure: bool = True
    closure_max_rounds: int = 10
    cc_max_iterations: int = 50
    # junk-value suppression: drop attribute values held by more than
    # this many records (None = off). The scale analog of the
    # reference's blank-value skipping (Query.java:206-208): a value
    # shared by thousands of records (support@..., 000-000-0000, empty
    # defaults) carries no identity signal and otherwise chains false
    # merges through connected components.
    max_value_frequency: int | None = None
    # compute the scored-pairs artifact (JW/Lev/Soundex/Jaccard features
    # per candidate pair over assembled conversation text — the
    # _explanation/_score analog, Arrow-batched pandas UDF)
    score_candidate_pairs: bool = False
    # last run's (record_id, entity_id) assignment: when set, the result
    # carries `entity_ids` — this run's clusters keyed by PERSISTENT
    # entity ids via clustering.stable_entity_ids (greedy max-overlap
    # crosswalk; splits keep the id on the bigger half, new clusters
    # mint `new:<cluster_id>#<membership-digest>`). The reference never
    # needs this because
    # it resolves one entity per request — the request is the key; a
    # batch engine re-deriving CC labels each run must carry them.
    prev_assignments: DataFrame | None = None


@dataclass
class ResolutionResult:
    records: DataFrame
    pairs: DataFrame      # matched pairs + matched_resolvers (pre-gating)
    edges: DataFrame      # post weight-gating (id_l, id_r)
    clusters: DataFrame   # (record_id, cluster_id)
    metrics: list = field(default_factory=list)
    scored_pairs: DataFrame | None = None  # similarity features per candidate pair
    # (record_id, entity_id) under run-over-run-stable ids; None unless
    # config.prev_assignments was provided
    entity_ids: DataFrame | None = None


def _build_filtered_values(spark, turns, compiled, config) -> DataFrame:
    """Long values table with the hot-value (junk-value) filter applied."""
    values = build_values(spark, turns, compiled)
    if config.max_value_frequency is not None:
        # rule 18 (two consumers): the frequency aggregate AND the
        # anti-join's left side both read the full values derivation
        # (scan + regex extraction + key hashing); uncheckpointed, the
        # whole thing runs twice. Neutral at bench scale (the input is
        # memory-resident; interleaved A/B within window noise) but
        # decisive at corpus scale, where the doubled work is two full
        # scans of the raw input vs one scan plus a write+read of the
        # much smaller values table.
        values = values.localCheckpoint()
        hot = (
            values.groupBy("attribute", "raw")
            .agg(F.count_distinct("record_id").alias("freq"))
            .where(F.col("freq") > config.max_value_frequency)
            .select("attribute", "raw")
        )
        values = values.join(F.broadcast(hot), ["attribute", "raw"], "left_anti")
    return values


def _cluster_assignments(records: DataFrame, edges: DataFrame,
                         cc_max_iterations: int) -> DataFrame:
    assignments = connected_components(
        edges.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst")),
        max_iterations=cc_max_iterations,
    )
    return (
        records.select("record_id")
        .join(assignments, "record_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "record_id"))
    )


# ----------------------------------------------------------------------
# The stage list. Builds look the stage functions up as module globals
# at call time, so a caller can patch them here (tracing, tests).

class _Run:
    """Inputs of one pass over the stage list, the values table (built
    lazily, at most once: records and the closure read it, and a resumed
    records stage never needs it), and the truncation frames the stages
    report as (metric name, DataFrame)."""

    def __init__(self, spark, turns, compiled, config):
        self.spark, self.turns = spark, turns
        self.compiled, self.config = compiled, config
        self.parsed = parse_turns(turns)
        self.metrics: list = []
        self._values = None

    def values(self) -> DataFrame:
        if self._values is None:
            self._values = _build_filtered_values(
                self.spark, self.turns, self.compiled, self.config
            )
        return self._values


def _records(run, out):
    return build_records(run.values(), run.compiled, run.parsed)


def _candidates(run, out):
    blocks, key_capped = blocking_keys(
        out["records"], run.compiled,
        max_keys_per_record=run.config.max_keys_per_record, return_key_capped=True,
    )
    cand, dropped = candidate_pairs(blocks, max_block_size=run.config.max_block_size)
    # both caps are recall losses and must stay observable (PLANS rule 10)
    run.metrics.append(("blocking.key_capped_records", key_capped))
    if dropped is not None:
        run.metrics.append(("blocking.dropped_blocks", dropped))
    return cand


def _pairs(run, out):
    # keeps the weight-gate columns (app_*/fields_*), so a committed
    # edges stage never re-runs blocking + verify for weighted models
    return verify_pairs(out["candidates"], run.compiled, out["records"])


def _edges(run, out):
    return gate_edges(out["pairs"], run.compiled)


def _clusters(run, out):
    return _cluster_assignments(out["records"], out["edges"], run.config.cc_max_iterations)


def _clusters_closed(run, out):
    return _entity_closure(run.spark, run.values(), out["records"], out["edges"],
                           out["clusters"], run.compiled, run.config)


def _scored_pairs(run, out):
    from zentity_spark.scoring import score_pairs
    from zentity_spark.transcripts import assemble_conversations

    # ALL candidate pairs (pre-verification) carry similarity features
    conv_texts = assemble_conversations(run.turns).select(
        F.col("conv_id").alias("record_id"), "conv_text"
    )
    return score_pairs(
        out["candidates"].select("id_l", "id_r").dropDuplicates(["id_l", "id_r"]),
        conv_texts,
    )


def _stages(config: ResolutionConfig) -> list:
    """The stage list in run order: (name, build(run, earlier outputs))."""
    stages = [("records", _records), ("candidates", _candidates),
              ("pairs", _pairs), ("edges", _edges), ("clusters", _clusters)]
    if config.entity_closure:
        stages.append(("clusters_closed", _clusters_closed))
    if config.score_candidate_pairs:
        stages.append(("scored_pairs", _scored_pairs))
    return stages


def _run_stages(run: _Run, keep) -> dict:
    """Run the stage list. keep(name, build) stores one stage's output
    and returns the DataFrame later stages read."""
    out = {}
    for name, build in _stages(run.config):
        out[name] = keep(name, lambda: build(run, out))
    return out


def resolve_all(
    spark: SparkSession,
    turns: DataFrame,
    model: Model | CompiledModel,
    config: ResolutionConfig | None = None,
) -> ResolutionResult:
    """Resolve ALL entities in one batch."""
    config = config or ResolutionConfig()
    compiled = model if isinstance(model, CompiledModel) else compile_model(model)
    run = _Run(spark, turns, compiled, config)
    # rule 18 (two consumers): records feed blocking, verify and CC;
    # edges feed CC and the closure; with scoring on, the candidates feed
    # verify and the scored pairs — without a checkpoint each consumer
    # re-runs the whole lineage behind it
    checkpointed = {"records", "edges"}
    if config.score_candidate_pairs:
        checkpointed.add("candidates")

    def keep(name, build):
        df = build()
        return df.localCheckpoint() if name in checkpointed else df

    out = _run_stages(run, keep)
    clusters = out.get("clusters_closed", out["clusters"])

    entity_ids = None
    if config.prev_assignments is not None:
        from zentity_spark.clustering import stable_entity_ids

        # clusters feeds BOTH the crosswalk's overlap join and the
        # member expansion below — one materialization (rule 18)
        clusters = clusters.localCheckpoint()
        xwalk = stable_entity_ids(config.prev_assignments, clusters)
        entity_ids = clusters.join(
            xwalk.select("cluster_id", "entity_id"), "cluster_id"
        ).select("record_id", "entity_id")

    return ResolutionResult(records=out["records"], pairs=out["pairs"],
                            edges=out["edges"], clusters=clusters,
                            metrics=run.metrics, scored_pairs=out.get("scored_pairs"),
                            entity_ids=entity_ids)


def _entity_closure(spark, values, records, edges, clusters, compiled, config) -> DataFrame:
    """Iterate: re-block clusters as super-records until no merges."""
    edges = edges.select("id_l", "id_r")
    # every round re-reads values (and round 0's lineage reaches back to
    # the raw turns) — materialize once, not once per round
    values = values.localCheckpoint()
    for _ in range(config.closure_max_rounds):
        # ≤1 cluster needs no guard: blocking finds no inter-cluster
        # pair, so the empty-delta test below ends the loop
        clusters = clusters.localCheckpoint()
        # cluster-level wide records: the union of member value material
        # ACROSS sources — build_records groups by (record_id, source),
        # so the member docs' sources must collapse or a cluster spanning
        # indices gets one PARTIAL record per index and a resolver whose
        # attributes are spread across indices never sees the
        # accumulated set (the exact Job.java:1096-1113 semantics this
        # loop exists for)
        cvalues = (
            values.join(clusters, "record_id").drop("record_id")
            .withColumnRenamed("cluster_id", "record_id")
            .withColumn("source", F.lit("__cluster__"))
        )
        crecords = build_records(cvalues, compiled, parsed=None)
        if not compiled.weights_all_equal:
            # weight-tier exists-gates need the cluster's field presence:
            # the union of member records' attr_name_fields. parsed=None
            # above leaves them empty, which would make must_not(exists)
            # pass vacuously and re-admit edges round 0 suppressed.
            cfields = (
                records.select("record_id",
                               F.explode("attr_name_fields").alias("f"))
                .join(clusters, "record_id")
                .groupBy("cluster_id")
                .agg(F.sort_array(F.collect_set("f")).alias("_af"))
                .withColumnRenamed("cluster_id", "record_id")
            )
            crecords = (
                crecords.drop("attr_name_fields")
                .join(cfields, "record_id", "left")
                .withColumn(
                    "attr_name_fields",
                    F.coalesce(F.col("_af"), F.array().cast("array<string>")),
                )
                .drop("_af")
            )
        # rule 18: blocking's branches and verify's two joins all read
        # the super-records — build them once per round, not per reader
        crecords = crecords.localCheckpoint()
        cblocks = blocking_keys(
            crecords, compiled, max_keys_per_record=config.max_keys_per_record
        )
        ccand, _ = candidate_pairs(cblocks, max_block_size=config.max_block_size)
        cpairs = verify_pairs(ccand, compiled, crecords)
        # materialized once: the emptiness test and the union read it
        cedges = gate_edges(cpairs, compiled).select("id_l", "id_r").localCheckpoint()
        if cedges.isEmpty():
            break
        # cluster ids are real record ids (component minimum) — new
        # inter-cluster edges are just more record edges.
        edges = edges.union(cedges).distinct().localCheckpoint()
        clusters = _cluster_assignments(
            records, edges.select(F.col("id_l"), F.col("id_r")), config.cc_max_iterations
        )
    return clusters


# ----------------------------------------------------------------------
# Snapshot-committed, resumable pipeline (north_rule: every stage writes
# per-partition lineage metrics and resumes from the last committed
# snapshot/checkpoint)

def _fingerprint(model_spec: dict, config: ResolutionConfig, input_token: str) -> str:
    import hashlib
    import json as _json

    blob = _json.dumps(
        {
            # bump when a stage's committed schema changes (v2: candidates
            # stage added; pairs stage now keeps the gate columns) so
            # resume never reads an old-shape snapshot
            "stage_schema_version": 2,
            "model": model_spec,
            "config": {
                "max_block_size": config.max_block_size,
                "max_keys_per_record": config.max_keys_per_record,
                "entity_closure": config.entity_closure,
                # iteration caps change the RESULT (a run capped short
                # of fixpoint must not be resumed as if it converged)
                "closure_max_rounds": config.closure_max_rounds,
                "cc_max_iterations": config.cc_max_iterations,
                "max_value_frequency": config.max_value_frequency,
            },
            "input": input_token,
        },
        sort_keys=True,
    )
    return hashlib.md5(blob.encode()).hexdigest()


# lineage stage of each truncation metric in the `metrics` table
_LINEAGE_STAGE = {"blocking.key_capped_records": "blocking.key_capped",
                  "blocking.dropped_blocks": "blocking.dropped"}


def resolve_all_checkpointed(
    spark: SparkSession,
    turns: DataFrame,
    model,
    output_root: str,
    input_token: str = "",
    config: ResolutionConfig | None = None,
    run_id: str | None = None,
) -> dict:
    """Stage-committed resolution: every stage of the stage list is
    committed as a snapshot (storage.SnapshotStore) and served from its
    last snapshot on rerun with an unchanged fingerprint. Every stage
    also commits per-partition lineage counters to the `metrics` table.
    Returns {stage: manifest} for the run."""
    import uuid as _uuid

    from zentity_spark.storage import SnapshotStore, partition_metrics

    config = config or ResolutionConfig()
    compiled = model if isinstance(model, CompiledModel) else compile_model(model)
    # the FULL canonical spec: matcher clauses, params (fuzziness!), and
    # resolver weights all change the result, so they must change the
    # fingerprint — a derived summary (attr types + resolver attrs)
    # would serve stale snapshots after a matcher edit
    model_spec = compiled.model.spec
    fp = _fingerprint(model_spec, config, input_token)
    run_id = run_id or _uuid.uuid4().hex[:8]
    store = SnapshotStore(output_root)
    run = _Run(spark, turns, compiled, config)
    manifests = {}

    def stage(name, build):
        """Resume-or-compute one stage, then make sure its lineage row
        exists. The lineage commit's fingerprint is the stage snapshot's
        id, so a crash between the two commits is backfilled on resume
        (the stage's own rows; its truncation rows would need the build
        to run again)."""
        snap = store.latest(name, fingerprint=fp)
        truncations = []
        if snap is not None:
            manifests[name] = {**snap, "resumed": True}
            out = store.read(spark, name, fingerprint=fp)
            if store.contains_fingerprint("metrics", snap["snapshot_id"]):
                return out
        else:
            n = len(run.metrics)
            df = build()
            snap = manifests[name] = store.commit(df, name, stage=name, fingerprint=fp)
            truncations = run.metrics[n:]
            out = store.read(spark, name, fingerprint=fp)
        lineage = partition_metrics(out, name, run_id)
        for metric, frame in truncations:
            lineage = lineage.unionByName(
                partition_metrics(frame, _LINEAGE_STAGE[metric], run_id))
        store.commit(lineage, "metrics", stage=name, fingerprint=snap["snapshot_id"])
        return out

    out = _run_stages(run, stage)
    return {"run_id": run_id, "fingerprint": fp, "stages": manifests,
            "clusters": out.get("clusters_closed", out["clusters"])}
