"""Transitive clustering: large-star / small-star connected components.

The reference resolves transitivity by its hop loop — an iterative
expanding semi-join against Elasticsearch until no new documents arrive
(Job.java:1075-1172 traverse; fixpoint at Job.java:1110-1113). The batch
analog over ALL entities at once is connected components on the verified
edge set. We implement the large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) —
GraphFrames-free, pure DataFrame self-joins, O(log n) rounds:

  large-star: every node connects its LARGER neighbors to its minimum
              neighborhood label
  small-star: every node connects its smaller-or-equal neighbors (and
              itself) to that minimum

Each round is checkpointed (localCheckpoint) to truncate the growing
lineage — without this the plan doubles per iteration and the driver
OOMs long before the data does. Convergence = edge set unchanged,
detected with a deterministic (count, xor-of-hashes) signature: one
cheap aggregate instead of a full anti-join per round.

Cluster id = min record_id of the component (deterministic; string
ordering), matching the reference's determinism discipline (TreeMap /
TreeSet everywhere, CONTRIBUTING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _large_star(edges: DataFrame, n_parts: int) -> DataFrame:
    # explicit hash partitioning on the join/group key: the groupBy and
    # the join both reuse it (no further exchange), and an explicit
    # numPartitions is exempt from AQE coalescing — the round runs at
    # the edge-sized parallelism regardless of the session setting
    b = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition(n_parts, "src")
    mins = b.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
    return (
        b.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .repartition(n_parts, "src", "dst")
        .dropDuplicates()
    )


def _small_star(edges: DataFrame, n_parts: int) -> DataFrame:
    # orient larger → smaller
    b = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst")).repartition(n_parts, "src")
    mins = b.groupBy("src").agg(F.min("dst").alias("m"))
    joined = b.join(mins, "src")
    nbr_edges = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edges = joined.select("src", F.col("m").alias("dst"))
    return (
        nbr_edges.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .repartition(n_parts, "src", "dst")
        .dropDuplicates()
    )


def _driver_union_find(rows) -> list[tuple[str, str]]:
    """Union-find with path compression; the component label is the
    minimum member in UTF-8 byte order — identical to the star loop's
    F.least on Spark UTF8 strings (UTF-8 preserves code-point order, and
    Python str comparison is code-point order)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for src, dst in rows:
        a, b = find(src), find(dst)
        if a != b:
            # attach under the smaller label so every root stays the
            # component minimum
            if b < a:
                a, b = b, a
            parent[b] = a
    return sorted((x, find(x)) for x in parent)


def connected_components(edges: DataFrame, max_iterations: int = 50,
                         driver_edge_cap: int = 1_000_000) -> DataFrame:
    """edges(src, dst) → assignments(record_id, cluster_id) for every
    node that appears in an edge. Callers add singletons (records with no
    edges) as their own clusters.

    Two regimes (same policy as bfs_depths): an edge set at or under
    driver_edge_cap — probed by collecting at most cap + 1 edges, so
    the probe is the collect — is solved with union-find (microseconds,
    vs ~7 star rounds × ~3 jobs each for a typical graph; measured ~5×
    at bench scale). The cap bounds driver memory the way a broadcast
    threshold does (~50 B/edge → ~50 MB at the default). Above it, the
    large-star/small-star loop runs fully distributed — that path's
    cost is O(E log n) shuffles at edge-sized parallelism and never
    holds the graph in one place.

    Shuffle sizing: the edge set after verification is typically orders
    of magnitude smaller than the input, and each round runs ~6 small
    shuffles — at the session's shuffle-partition setting the loop is
    pure task-scheduling overhead (measured: 64-partition rounds were
    3× slower than the same loop at 8 partitions on a 133K-edge graph).
    The loop therefore sizes every round's shuffles to ~250K
    edges/partition via EXPLICIT repartition(numPartitions, keys) on the
    join/group keys (never above the session setting, so big edge sets
    keep full parallelism). Explicit repartitioning — rather than
    mutating spark.sql.shuffle.partitions for the loop's duration —
    keeps the override scoped to these queries: concurrent work on the
    same SparkSession is unaffected."""
    e = (
        edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    spark = e.sparkSession
    if driver_edge_cap > 0:
        # one bounded collect job both decides the regime and carries
        # the edges (the cap bounds it to ~50 MB). coalesce(1) keeps it
        # one job: a bare limit scans 1, then 4, 16, … partitions, one
        # job each; toLocalIterator costs a job per partition
        cap = min(driver_edge_cap, 2**31 - 2)  # limit() takes a Java int
        rows = e.coalesce(1).limit(cap + 1).collect()
        if len(rows) <= cap:
            assignments = _driver_union_find((r[0], r[1]) for r in rows)
            return spark.createDataFrame(
                assignments, "record_id string, cluster_id string"
            )
    n_edges = e.count()
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        session_parts = spark.sparkContext.defaultParallelism
    target = min(session_parts, max(8, n_edges // 250_000 + 1))
    prev_sig = None
    for _ in range(max_iterations):
        # each star is checkpointed separately — NOT fused into one job:
        # _small_star consumes its joined input twice (neighbor + self
        # edges), so fusing duplicates the whole large-star subplan in
        # both union branches (measured 1.6× slower than the extra
        # materialization job it saves)
        e = _large_star(e, target).localCheckpoint()
        e = _small_star(e, target).localCheckpoint()
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: e is a star graph node→root
    roots = e.select(F.col("dst").alias("record_id")).distinct().withColumn(
        "cluster_id", F.col("record_id")
    )
    members = e.select(F.col("src").alias("record_id"), F.col("dst").alias("cluster_id"))
    return members.union(roots).dropDuplicates(["record_id"])


def bfs_depths(edges: DataFrame, seeds: DataFrame, max_hops: int = 100,
               driver_frontier_cap: int = 50_000) -> DataFrame:
    """Iterative BFS over the edge set from seed records → (record_id,
    hop). The batch counterpart of the reference's `_hop` decoration: a
    doc's hop is the first iteration whose accumulated values reach it,
    which equals its BFS depth from the hop-0 set (value accumulation =
    frontier expansion).

    Two regimes, mirroring the reference's own shape (Job.java's
    traverse loop accumulates the frontier on the coordinating node and
    re-queries per hop):

    - While the accumulated level set stays ≤ driver_frontier_cap, each
      hop is ONE map-only job: filter the checkpointed edge partitions
      by the (small) frontier and fold new neighbors with a map-side
      collect_set — zero shuffles, no per-hop materialization. This is
      the request-scoped seeded walk, where the frontier is bounded by
      the same caps as the reference's per-request hop loop.
    - If a level outgrows the cap (a giant component in batch use), the
      walk switches to the distributed loop: shuffle-join expansion with
      an anti-join against the visited union, each level checkpointed.
      That path's cost is O(frontier) per hop at edge-sized parallelism
      and never holds a level on the driver."""
    sym = edges.select("src", "dst").union(edges.select(F.col("dst"), F.col("src")))
    sym = sym.toDF("src", "dst").distinct().localCheckpoint()
    spark = sym.sparkSession

    seed_rows = seeds.select(F.col("record_id")).distinct()
    hop = 0
    visited_local: dict[str, int] | None = None
    visited = frontier = None

    # ---- driver-frontier regime ----
    seed_ids = [r[0] for r in seed_rows.limit(driver_frontier_cap + 1).collect()]
    if len(seed_ids) <= driver_frontier_cap:
        visited_local = {s: 0 for s in seed_ids}
        frontier_ids = set(seed_ids)
        while hop < max_hops and frontier_ids:
            hop += 1
            # one single-row aggregate job: partial collect_set dedupes
            # map-side, only distinct neighbors reach the driver. Small
            # levels filter with an isin literal (pure map, no exchange);
            # larger ones broadcast-join (an isin tree of 50K literals
            # is an analyzer cost, not a win).
            if len(frontier_ids) <= 1024:
                touched = sym.where(F.col("src").isin(list(frontier_ids)))
            else:
                fdf = spark.createDataFrame(
                    [(k,) for k in frontier_ids], "src string"
                )
                touched = sym.join(F.broadcast(fdf), "src")
            # the collected set is SLICED inside the aggregate so at most
            # cap+1 ids ever ship to the driver — a hub level with 50M
            # neighbors must trip the handoff below, not maxResultSize.
            # (The aggregation buffer itself is executor-side, same
            # memory class as any hot groupBy key.)
            row = touched.agg(
                F.expr(
                    f"slice(collect_set(dst), 1, {int(driver_frontier_cap) + 1})"
                ).alias("n")
            ).collect()[0]
            got = row["n"] or []
            if len(got) > driver_frontier_cap:
                # the raw neighbor set (pre visited-subtraction) outgrew
                # the driver budget: hand off BEFORE establishing this
                # level — the distributed loop re-expands from the same
                # frontier
                hop -= 1
                visited = spark.createDataFrame(
                    [(k, h) for k, h in visited_local.items()],
                    "record_id string, hop int",
                ).localCheckpoint()
                frontier = spark.createDataFrame(
                    [(k,) for k in frontier_ids], "record_id string"
                ).withColumn("hop", F.lit(hop)).localCheckpoint()
                visited_local = None
                break
            nxt = {d for d in got if d not in visited_local}
            if not nxt:
                frontier_ids = set()
                break
            for d in nxt:
                visited_local[d] = hop
            frontier_ids = nxt
        if visited_local is not None:
            return spark.createDataFrame(
                [(k, h) for k, h in sorted(visited_local.items())],
                "record_id string, hop int",
            )
    else:
        visited = seed_rows.withColumn("hop", F.lit(0)).localCheckpoint()
        frontier = visited

    # ---- distributed regime ----
    # size the per-hop shuffles to the edge set, never above the session
    # setting (same round sizing as connected_components)
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        session_parts = spark.sparkContext.defaultParallelism
    target = min(session_parts, max(8, sym.count() // 250_000 + 1))
    while hop < max_hops:
        hop += 1
        nxt = (
            sym.join(frontier.select(F.col("record_id").alias("src")), "src")
            .select(F.col("dst").alias("record_id"))
            .repartition(target, "record_id")
            .distinct()
            .join(visited.select("record_id"), "record_id", "left_anti")
            .withColumn("hop", F.lit(hop))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # visited stays a LAZY union of already-checkpointed frontiers:
        # every leaf is materialized so lineage stays shallow, and we
        # skip re-materializing the whole accumulated set each hop
        # (which cost an O(|visited|) job per hop)
        visited = visited.union(nxt)
        frontier = nxt
    return visited


def _contingency(pred: DataFrame, gold: DataFrame, id_col: str,
                 pred_col: str, gold_col: str) -> DataFrame:
    """Inner-join pred/gold on the record id and reduce to the
    (cluster, class) contingency table (_c, _g, n_cg) — the shared
    substrate of every extrinsic metric in this module (records missing
    from either side are dropped: both clusterings must cover a record
    for it to be scoreable)."""
    t = (
        pred.select(F.col(id_col).alias("_id"), F.col(pred_col).alias("_c"))
        .join(
            gold.select(F.col(id_col).alias("_id"), F.col(gold_col).alias("_g")),
            "_id",
        )
    )
    return t.groupBy("_c", "_g").agg(F.count("*").alias("n_cg"))


def bcubed_metrics(pred: DataFrame, gold: DataFrame,
                   id_col: str = "record_id",
                   pred_col: str = "cluster_id",
                   gold_col: str = "gold_id") -> DataFrame:
    """B-cubed clustering quality (Bagga & Baldwin 1998; the standard
    extrinsic entity-resolution metric alongside pairwise F1 — per
    record, precision = |pred∩gold|/|pred cluster| and recall =
    |pred∩gold|/|gold cluster|, averaged over records). → ONE row
    (n_records, bcubed_precision, bcubed_recall, bcubed_f1).

    Identity: sum over records of |c(r)∩g(r)|/|c(r)| equals
    Σ_{(c,g)} n_cg² / n_c where n_cg = |cluster c ∩ gold class g| —
    so the whole metric is three keyed aggregations (map-side partial
    counts), two broadcast-sized joins of the contingency table against
    the per-cluster / per-class size tables, and one global fold. No
    per-record state survives the first groupBy: at 10¹² records the
    shuffles carry (cluster, class, count) triples, bounded by the
    number of DISTINCT (cluster, class) co-occurrences, not records.
    Records missing from either side are inner-join-dropped (both
    clusterings must cover a record for it to be scoreable)."""
    cont = _contingency(pred, gold, id_col, pred_col, gold_col)
    c_sizes = cont.groupBy("_c").agg(F.sum("n_cg").alias("n_c"))
    g_sizes = cont.groupBy("_g").agg(F.sum("n_cg").alias("n_g"))
    joined = cont.join(F.broadcast(c_sizes), "_c").join(F.broadcast(g_sizes), "_g")
    # n_cg² in DOUBLE: a long product wraps silently past n_cg ≈ 3e9
    # (the sums are ratio inputs, so double's 2^53 mantissa is the
    # right precision/overflow trade here)
    n_cg_d = F.col("n_cg").cast("double")
    agg = joined.select(
        F.sum("n_cg").alias("n"),
        F.sum(n_cg_d * n_cg_d / F.col("n_c")).alias("p_sum"),
        F.sum(n_cg_d * n_cg_d / F.col("n_g")).alias("r_sum"),
    )
    return agg.select(
        # coalesce: SUM over the zero-row contingency (no shared ids
        # after the inner join) is NULL — report n_records = 0 AND the
        # ratio metrics 0.0 (not NULL/NULL = NULL) so a present row
        # always carries non-null metrics and downstream weighted folds
        # stay total; weight by n_records to ignore the empty case
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_records"),
        F.when(F.col("n") > 0, F.col("p_sum") / F.col("n"))
         .otherwise(F.lit(0.0)).alias("bcubed_precision"),
        F.when(F.col("n") > 0, F.col("r_sum") / F.col("n"))
         .otherwise(F.lit(0.0)).alias("bcubed_recall"),
        F.when(
            (F.col("p_sum") + F.col("r_sum")) > 0,
            2.0 * (F.col("p_sum") / F.col("n")) * (F.col("r_sum") / F.col("n"))
            / ((F.col("p_sum") / F.col("n")) + (F.col("r_sum") / F.col("n"))),
        ).otherwise(F.lit(0.0)).alias("bcubed_f1"),
    )


def pairwise_cluster_metrics(pred: DataFrame, gold: DataFrame,
                             id_col: str = "record_id",
                             pred_col: str = "cluster_id",
                             gold_col: str = "gold_id") -> DataFrame:
    """Pairwise clustering quality + Adjusted Rand Index — the other
    two standard extrinsic ER metrics next to bcubed_metrics, computed
    from the same (cluster, class) contingency table: over all C(n,2)
    record pairs, TP = pairs co-clustered in BOTH, precision =
    TP / same-pred pairs, recall = TP / same-gold pairs; ARI is the
    chance-adjusted Rand index (Hubert & Arabie 1985, sklearn's
    convention: 1.0 when the chance-adjusted denominator is 0, i.e.
    both clusterings trivially identical). → ONE row (n_records,
    pair_tp, pair_precision, pair_recall, pair_f1, ari).

    Every pair count is an exact integer fold of the contingency table
    (Σ n(n-1)/2 — never a join over pairs, so 10¹² records cost the
    same three keyed aggregations as bcubed_metrics); the products are
    computed in DECIMAL(38,0) because a long n*(n-1) wraps silently
    past n ≈ 3e9, far below the 10¹² design point (ANSI mode would
    instead throw there — either way long is wrong). The reported
    pair_tp stays a long, valid while pair counts ≤ 2⁶³-1 (single
    cluster/class up to ~4.3e9 members); the ratios are double."""
    cont = _contingency(pred, gold, id_col, pred_col, gold_col)
    # C(x,2) in DECIMAL(38,0): the product is exact to 38 digits and
    # always even, so floor(x*(x-1)/2) is the exact pair count
    pairs2 = lambda c: F.sum(F.expr(  # noqa: E731
        f"CAST(floor(CAST({c} AS DECIMAL(38,0))"
        f" * (CAST({c} AS DECIMAL(38,0)) - 1) / 2) AS DECIMAL(38,0))"
    ))
    tp = cont.agg(
        F.sum("n_cg").alias("n"), pairs2("n_cg").alias("tp")
    )
    c_pairs = (
        cont.groupBy("_c").agg(F.sum("n_cg").alias("n_c"))
        .agg(pairs2("n_c").alias("sum_c"))
    )
    g_pairs = (
        cont.groupBy("_g").agg(F.sum("n_cg").alias("n_g"))
        .agg(pairs2("n_g").alias("sum_g"))
    )
    j = tp.crossJoin(c_pairs).crossJoin(g_pairs)
    # ratio-land is double: decimal division would silently quantize to
    # scale 6, and doubles carry C(10¹²,2)-sized counts at ~1e-16
    # relative error — invisible in a ratio
    tp_d = F.col("tp").cast("double")
    sum_c_d = F.col("sum_c").cast("double")
    sum_g_d = F.col("sum_g").cast("double")
    total = F.expr(
        "CAST(floor(CAST(n AS DECIMAL(38,0))"
        " * (CAST(n AS DECIMAL(38,0)) - 1) / 2) AS DOUBLE)"
    )
    exp_idx = sum_c_d * sum_g_d / total
    denom = (sum_c_d + sum_g_d) / F.lit(2.0) - exp_idx
    prec = F.when(F.col("sum_c") > 0, tp_d / sum_c_d).otherwise(F.lit(0.0))
    rec = F.when(F.col("sum_g") > 0, tp_d / sum_g_d).otherwise(F.lit(0.0))
    return j.select(
        # coalesce: SUM over the zero-row contingency (no shared ids
        # after the inner join) is NULL — report n_records = 0, pair_tp
        # 0, and non-null ratios so a present row always carries
        # non-null metrics; weighted folds key off n_records
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_records"),
        F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("pair_tp"),
        prec.alias("pair_precision"),
        rec.alias("pair_recall"),
        F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
         .otherwise(F.lit(0.0)).alias("pair_f1"),
        # n < 2 ⇒ no pairs at all: the ultimate trivially-identical
        # case (and exp_idx's total=0 division never evaluates — the
        # matched CaseWhen branch is the only one run)
        F.when(F.coalesce(F.col("n"), F.lit(0)) < 2, F.lit(1.0))
         .when(denom == 0, F.lit(1.0))
         .otherwise((tp_d - exp_idx) / denom).alias("ari"),
    )


def muc_metrics(pred: DataFrame, gold: DataFrame,
                id_col: str = "record_id",
                pred_col: str = "cluster_id",
                gold_col: str = "gold_id") -> DataFrame:
    """MUC link-based clustering quality (Vilain et al. 1995) — the
    third standard coreference/ER metric next to pairwise F1 and
    B-cubed (bcubed_metrics, pairwise_cluster_metrics), completing the
    family: MUC counts the minimum link edits, so it rewards/penalizes
    merges and splits per BOUNDARY rather than per member pair.

      recall    = Σ_g (|g| − p(g)) / Σ_g (|g| − 1)   where p(g) = how
                  many predicted clusters class g's members fall into
      precision = the mirror image with pred/gold swapped

    Everything folds out of the same (cluster, class) contingency table
    as the sibling metrics: p(g) is the per-class row count, |g| the
    per-class n_cg sum — three keyed aggregations, no per-record state
    survives the first groupBy, shuffles bounded by distinct (cluster,
    class) co-occurrences, never records. Records missing from either
    side are inner-join-dropped (same scoreability rule as the
    siblings). All-singleton inputs make a denominator 0; both ratios
    report 0.0 then (the CoNLL scorer convention — MUC is undefined on
    link-free clusterings, and 0 keeps downstream f1 folds total).
    → ONE row (n_records, muc_precision, muc_recall, muc_f1).
    """
    cont = _contingency(pred, gold, id_col, pred_col, gold_col)
    per_g = cont.groupBy("_g").agg(
        F.sum("n_cg").alias("n_g"), F.count("*").alias("p_g"))
    per_c = cont.groupBy("_c").agg(
        F.sum("n_cg").alias("n_c"), F.count("*").alias("p_c"))
    r = per_g.agg(
        F.sum("n_g").alias("n"),
        F.sum(F.col("n_g") - F.col("p_g")).alias("r_num"),
        F.sum(F.col("n_g") - 1).alias("r_den"),
    )
    p = per_c.agg(
        F.sum(F.col("n_c") - F.col("p_c")).alias("p_num"),
        F.sum(F.col("n_c") - 1).alias("p_den"),
    )
    j = r.crossJoin(p)
    prec = F.when(F.col("p_den") > 0,
                  F.col("p_num").cast("double") / F.col("p_den")
                  ).otherwise(F.lit(0.0))
    rec = F.when(F.col("r_den") > 0,
                 F.col("r_num").cast("double") / F.col("r_den")
                 ).otherwise(F.lit(0.0))
    return j.select(
        # coalesce: SUM over the zero-row contingency (no shared ids
        # after the inner join) is NULL — report n_records = 0 so the
        # 'keeps downstream folds total' promise holds in the
        # degenerate case too
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_records"),
        prec.alias("muc_precision"),
        rec.alias("muc_recall"),
        F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
         .otherwise(F.lit(0.0)).alias("muc_f1"),
    )


def information_cluster_metrics(pred: DataFrame, gold: DataFrame,
                                id_col: str = "record_id",
                                pred_col: str = "cluster_id",
                                gold_col: str = "gold_id") -> DataFrame:
    """Information-theoretic clustering quality — homogeneity,
    completeness, V-measure (Rosenberg & Hirschberg 2007) and
    sqrt-normalized mutual information — the fourth extrinsic metric
    family next to pairwise+ARI, B-cubed, and MUC:

      homogeneity  = 1 − H(G|C)/H(G)   (each cluster holds one class)
      completeness = 1 − H(C|G)/H(C)   (each class sits in one cluster)
      v_measure    = their harmonic mean
      nmi          = MI / sqrt(H(C)·H(G))

    Like the siblings, everything folds out of the (cluster, class)
    contingency table: three keyed aggregations, two broadcast joins of
    the (already reduced) size tables, one global fold of n_cg·ln terms
    — shuffles bounded by distinct (cluster, class) co-occurrences,
    never records. Records missing from either side are
    inner-join-dropped. Degenerate-entropy conventions (documented, so
    downstream folds stay total): H(G)=0 ⇒ homogeneity 1.0 (nothing to
    split), H(C)=0 ⇒ completeness 1.0, v_measure 0.0 when h+c=0, and
    nmi 1.0 when BOTH entropies are 0 (two trivial identical
    partitions) but 0.0 when exactly one is (a trivial clustering
    carries no information about a non-trivial one).
    → ONE row (n_records, homogeneity, completeness, v_measure, nmi).
    """
    cont = _contingency(pred, gold, id_col, pred_col, gold_col)
    c_sizes = cont.groupBy("_c").agg(F.sum("n_cg").alias("n_c"))
    g_sizes = cont.groupBy("_g").agg(F.sum("n_cg").alias("n_g"))
    n_row = cont.agg(F.sum("n_cg").cast("double").alias("_n"))
    # marginal entropies (per-side tables are already reduced)
    hc = (c_sizes.crossJoin(F.broadcast(n_row))
          .agg((-F.sum((F.col("n_c") / F.col("_n"))
                       * F.log(F.col("n_c") / F.col("_n")))).alias("h_c")))
    hg = (g_sizes.crossJoin(F.broadcast(n_row))
          .agg((-F.sum((F.col("n_g") / F.col("_n"))
                       * F.log(F.col("n_g") / F.col("_n")))).alias("h_g")))
    joined = (cont.join(F.broadcast(c_sizes), "_c")
              .join(F.broadcast(g_sizes), "_g")
              .crossJoin(F.broadcast(n_row)))
    ncg = F.col("n_cg").cast("double")
    folds = joined.agg(
        F.sum("n_cg").alias("n"),
        (-F.sum((ncg / F.col("_n")) * F.log(ncg / F.col("n_c"))))
         .alias("h_g_given_c"),
        (-F.sum((ncg / F.col("_n")) * F.log(ncg / F.col("n_g"))))
         .alias("h_c_given_g"),
        F.sum((ncg / F.col("_n"))
              * F.log(F.col("_n") * ncg
                      / (F.col("n_c") * F.col("n_g")))).alias("mi"),
    )
    j = folds.crossJoin(F.broadcast(hc)).crossJoin(F.broadcast(hg))
    homog = F.when(F.col("h_g") > 0,
                   1.0 - F.col("h_g_given_c") / F.col("h_g")
                   ).otherwise(F.lit(1.0))
    compl = F.when(F.col("h_c") > 0,
                   1.0 - F.col("h_c_given_g") / F.col("h_c")
                   ).otherwise(F.lit(1.0))
    nmi = (F.when((F.col("h_c") > 0) & (F.col("h_g") > 0),
                  F.col("mi") / F.sqrt(F.col("h_c") * F.col("h_g")))
           .when((F.col("h_c") <= 0) & (F.col("h_g") <= 0), F.lit(1.0))
           .otherwise(F.lit(0.0)))
    return j.select(
        # coalesce: SUM over the zero-row contingency (no shared ids
        # after the inner join) is NULL — report n_records = 0 so the
        # 'keeps downstream folds total' promise holds in the
        # degenerate case too
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_records"),
        homog.alias("homogeneity"),
        compl.alias("completeness"),
        F.when(homog + compl > 0,
               2 * homog * compl / (homog + compl))
         .otherwise(F.lit(0.0)).alias("v_measure"),
        nmi.alias("nmi"),
    )


def threshold_sweep(scored: DataFrame, score_col: str,
                    label_col: str) -> DataFrame:
    """Precision/recall/F1 at EVERY distinct score threshold in one
    pass (the ROC/PR sweep Splink plots as roc_chart; predict positive
    when score >= threshold).

    Shape: one groupBy(score) collapses the pair table to at most
    |distinct scores| rows carrying (positives, negatives) at that
    score, then ONE descending cumulative sum over that score-keyed
    table (global_cumsum — range-partitioned two-pass, no
    single-partition window) yields TP/FP at every threshold
    simultaneously; total positives arrive as an O(1) broadcast. At
    100 TB the sweep table is bounded by the score vocabulary (scores
    are rounded/bucketed upstream, e.g. the 6dp convention all scoring
    here uses), never by the pair count.

    Returns (threshold, tp, fp, fn, precision, recall, f1) rounded to
    6dp, one row per distinct score, highest threshold first.
    """
    from zentity_spark.blocking import global_cumsum

    lbl = F.col(label_col).cast("int")
    g = (
        scored.groupBy(F.col(score_col).alias("threshold"))
        .agg(
            F.sum(lbl).alias("_pos"),
            F.sum(1 - lbl).alias("_neg"),
        )
        .withColumn("_negthr", -F.col("threshold"))
    )
    c = global_cumsum(g, ["_negthr"], ["_pos", "_neg"])
    totals = scored.agg(F.sum(lbl).alias("_tot_pos"))
    prec = F.col("tp") / (F.col("tp") + F.col("fp"))
    # a sweep over zero true positives (no labeled matches) is a valid
    # input: recall is 0.0 by convention, not a NULL that silently
    # drops every row from a recall>=x filter downstream
    rec = F.when(F.col("_tot_pos") > 0,
                 F.col("tp") / F.col("_tot_pos")).otherwise(F.lit(0.0))
    return (
        c.crossJoin(F.broadcast(totals))
        .select(
            "threshold",
            F.col("cum__pos").alias("tp"),
            F.col("cum__neg").alias("fp"),
            (F.col("_tot_pos") - F.col("cum__pos")).alias("fn"),
            "_tot_pos",
        )
        .select(
            "threshold", "tp", "fp", "fn",
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(
                F.when(prec + rec > 0, 2 * prec * rec / (prec + rec))
                .otherwise(F.lit(0.0)), 6
            ).alias("f1"),
        )
        .orderBy(F.desc("threshold"))
    )


def cluster_graph_metrics(assign: DataFrame, edges: DataFrame,
                          weight_col: str | None = None) -> DataFrame:
    """Per-cluster graph diagnostics (Splink's cluster metrics; the
    standard ER review surface): node count, intra-cluster edge count,
    density = 2E / (n·(n-1)), and — when `weight_col` is given — the
    min/avg edge weight. Low-density or low-min-weight clusters are
    exactly the ones a reviewer should audit (a single weak bridge edge
    gluing two real entities).

    assign: (record_id, cluster_id); edges: (src, dst [, weight]) with
    src != dst, each undirected edge once. Edges are mapped to clusters
    by TWO id-keyed joins (skinny: id + cluster only) and kept when
    both endpoints land in the same cluster; one groupBy(cluster_id)
    folds nodes and edges together via a unioned tagged table, so the
    whole metric set costs two hash joins + one aggregation regardless
    of cluster count. Returns (cluster_id, n_nodes, n_edges, density
    [, min_weight, avg_weight]) — singleton clusters report density
    0.0 (no possible pairs).
    """
    a = assign.select(F.col("record_id").alias("_id"),
                      F.col("cluster_id").alias("_cid"))
    w = F.col(weight_col).cast("double") if weight_col else F.lit(None).cast("double")
    e = edges.select(F.col("src").alias("_src"), F.col("dst").alias("_dst"),
                     w.alias("_w"))
    intra = (
        e.join(a.select(F.col("_id").alias("_src"),
                        F.col("_cid").alias("_cid_s")), "_src")
        .join(a.select(F.col("_id").alias("_dst"),
                       F.col("_cid").alias("_cid_d")), "_dst")
        .where(F.col("_cid_s") == F.col("_cid_d"))
        .select(F.col("_cid_s").alias("_cid"), F.lit(0).alias("_is_node"),
                F.col("_w"))
    )
    nodes = a.select("_cid", F.lit(1).alias("_is_node"),
                     F.lit(None).cast("double").alias("_w"))
    agg = (
        nodes.unionAll(intra)
        .groupBy("_cid")
        .agg(
            F.sum("_is_node").alias("n_nodes"),
            F.sum(1 - F.col("_is_node")).alias("n_edges"),
            F.min("_w").alias("min_weight"),
            F.round(F.avg("_w"), 6).alias("avg_weight"),
        )
    )
    out = agg.select(
        F.col("_cid").alias("cluster_id"),
        "n_nodes", "n_edges",
        F.round(
            F.when(F.col("n_nodes") > 1,
                   2.0 * F.col("n_edges")
                   / (F.col("n_nodes") * (F.col("n_nodes") - 1)))
            .otherwise(F.lit(0.0)), 6
        ).alias("density"),
        "min_weight", "avg_weight",
    )
    if weight_col is None:
        out = out.drop("min_weight", "avg_weight")
    return out


def stable_entity_ids(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """Persistent entity keys across re-resolution runs.

    The reference resolves one entity per request, so its callers key
    entities by the request; a batch engine re-resolving the whole
    corpus needs the OPPOSITE guarantee: an entity that survives from
    run to run keeps its id even though connected components re-derives
    cluster labels from scratch. This is the standard "entity id
    crosswalk" every production linkage system maintains (Splink calls
    it cluster stability; MDM products call it persistent entity keys).

    prev: (record_id, entity_id) — last run's assignment.
    curr: (record_id, cluster_id) — this run's CC output.

    Greedy max-overlap matching, deterministic: each current cluster
    nominates the prior entity_id the plurality of its members carried
    (ties → smaller entity_id); each prior entity then awards its id to
    the nominating cluster with the LARGEST overlap (ties → smaller
    cluster_id), so a split entity keeps its id on the bigger half and
    the other half mints a fresh id. Clusters of entirely-new records,
    and split losers, mint `new:<cluster_id>#<membership-digest>`
    (cluster_id is already the min record_id — deterministic; the
    digest is bit_xor over a 60-bit md5 of each member id). Both argmax
    passes are window-free: groupBy + min over an encoded (count, key)
    struct, so nothing materializes a per-key sort at 100 TB.

    Why the digest (and not just `new:<cluster_id>`): when the output
    is fed back as next run's `prev` (resolve_all's feedback loop), a
    bare mint can COLLIDE with a carried id — prev mints "new:c" for
    cluster {c,d,e}; the next run splits it, {d,e} is awarded "new:c"
    by overlap, and the loser {c} re-mints "new:c" → one persistent id
    on two entities. Encoding the current membership makes that
    impossible, not merely unlikely: a carried copy of
    `new:c#H(members)` implies prev held an entity whose holder set IS
    this run's cluster-c membership (md5 injectivity); those records
    are all in cluster c now, so no OTHER cluster can have positive
    overlap with that entity (a record is in exactly one current
    cluster), so cluster c itself wins the award and never mints.

    Returns (cluster_id, entity_id, overlap, is_new) — one row per
    current cluster.
    """
    ov = (
        curr.join(prev, "record_id")
        .groupBy("cluster_id", "entity_id")
        .agg(F.count("*").alias("overlap"))
    )
    # argmax per cluster: max (overlap, rev-entity) struct == max
    # overlap with ties broken toward the SMALLER entity_id, done by
    # min over (neg overlap, entity_id)
    nominee = (
        ov.groupBy("cluster_id")
        .agg(F.min(F.struct((-F.col("overlap")).alias("n"),
                            F.col("entity_id").alias("e"))).alias("_m"))
        .select("cluster_id", F.col("_m.e").alias("entity_id"),
                (-F.col("_m.n")).alias("overlap"))
    )
    # argmax per entity over the nominating clusters
    winner = (
        nominee.groupBy("entity_id")
        .agg(F.min(F.struct((-F.col("overlap")).alias("n"),
                            F.col("cluster_id").alias("c"))).alias("_m"))
        .select(F.col("_m.c").alias("cluster_id"),
                F.col("entity_id").alias("_won"))
    )
    kept = nominee.join(winner,
                        ["cluster_id"], "left").where(
        F.col("_won").isNotNull() & (F.col("_won") == F.col("entity_id"))
    ).select("cluster_id", "entity_id", "overlap")
    # per-cluster membership digest for collision-free minting (see
    # docstring): order-free bit_xor of a 60-bit md5 per member, hex
    all_clusters = curr.groupBy("cluster_id").agg(
        F.lower(F.hex(F.expr(
            "bit_xor(cast(conv(substring(md5(record_id), 1, 15), 16, 10)"
            " as bigint))"
        ))).alias("_dig")
    )
    return (
        all_clusters.join(kept, "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce(F.col("entity_id"),
                       F.concat(F.lit("new:"), F.col("cluster_id"),
                                F.lit("#"), F.col("_dig"))
                       ).alias("entity_id"),
            F.coalesce(F.col("overlap"), F.lit(0)).alias("overlap"),
            F.col("entity_id").isNull().alias("is_new"),
        )
    )


def clerical_review_queue(scored: DataFrame, score_col: str,
                          threshold: float, band: float,
                          id_cols: tuple[str, str] = ("src", "dst"),
                          per_block: int | None = None,
                          block_col: str | None = None) -> DataFrame:
    """Pairs near the decision threshold, ranked for human review.

    Fellegi-Sunter's third region: pairs whose score falls inside
    [threshold - band, threshold + band] are neither auto-link nor
    auto-reject — they go to clerical review. Rank = distance from the
    threshold (closest first; ties → (src, dst) ascending) computed by
    the distributed two-pass global rank (blocking.global_rank), NOT a
    single-partition window. With `per_block`/`block_col`, the queue is
    additionally capped per block (window row_number top-k — the
    per-block sort spills, no whole-block aggregation buffer) so one
    pathological block cannot flood the reviewers.

    Returns (src, dst, score, distance, review_rank).
    """
    from zentity_spark.blocking import global_rank

    s, d = id_cols
    q = (
        scored.where(
            (F.col(score_col) >= threshold - band)
            & (F.col(score_col) <= threshold + band))
        .select(F.col(s).alias("src"), F.col(d).alias("dst"),
                F.col(score_col).cast("double").alias("score"))
        .withColumn("distance",
                    F.round(F.abs(F.col("score") - F.lit(threshold)), 6))
    )
    if per_block is not None and block_col is not None:
        # per-block top-k via a window row_number, NOT a collect_list
        # buffer: a pathological block's whole in-band pair set would
        # otherwise sit in ONE aggregation buffer (the exact skew this
        # cap exists to contain) — the window's partition sort spills
        # to disk instead
        b = scored.select(F.col(s).alias("src"), F.col(d).alias("dst"),
                          F.col(block_col).alias("_blk"))
        wb = Window.partitionBy("_blk").orderBy("distance", "src", "dst")
        q = (
            q.join(b, ["src", "dst"])
            .withColumn("_rn", F.row_number().over(wb))
            .where(F.col("_rn") <= per_block)
            .select("src", "dst", "score", "distance")
        )
    ranked = global_rank(q, ["distance", "src", "dst"])
    return ranked.select("src", "dst", "score", "distance",
                         F.col("rank").alias("review_rank"))


def inferred_pairs(assign: DataFrame, edges: DataFrame,
                   max_cluster_size: int = 1000) -> DataFrame:
    """Transitivity audit: member pairs implied by cluster co-membership
    that were NEVER verified as an edge — exactly the links created
    only by transitive closure. The reference's hop loop makes these
    implicitly (every doc in the accumulated set is "the entity", even
    when doc A and doc C share no resolver — they both matched B); a
    reviewer auditing over-merge wants them listed.

    Scale guard: within-cluster pair count is Σ n_i·(n_i-1)/2, so
    clusters above `max_cluster_size` are excluded up front (they'd
    dominate the quadratic blowup) — excluded clusters are the caller's
    signal that the graph needs a higher threshold, and they are cheap
    to find via cluster_graph_metrics. The self-join runs on the skinny
    (record_id, cluster_id) projection; verified edges are removed with
    one canonicalized (lo, hi) anti-join.

    Returns (cluster_id, src, dst) with src < dst, verified edges
    removed.
    """
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("_n"))
    ok = sizes.where((F.col("_n") > 1) & (F.col("_n") <= max_cluster_size))
    a = assign.join(ok.select("cluster_id"), "cluster_id").select(
        "cluster_id", "record_id")
    pairs = (
        a.alias("x").join(a.alias("y"), "cluster_id")
        .where(F.col("x.record_id") < F.col("y.record_id"))
        .select("cluster_id",
                F.col("x.record_id").alias("src"),
                F.col("y.record_id").alias("dst"))
    )
    canon = edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).distinct()
    return pairs.join(canon, ["src", "dst"], "left_anti")


def apply_review_decisions(assign: DataFrame, edges: DataFrame,
                           decisions: DataFrame,
                           max_iterations: int = 50):
    """Close the clerical-review loop: re-cluster with human decisions
    applied to the verified edge set. `decisions` is
    (src, dst, decision) with decision in {'match', 'non_match'} —
    the output of reviewing clerical_review_queue pairs.

      non_match  removes the canonicalized edge (either orientation).
                 Transitive paths THROUGH other records survive: the
                 reviewer rejected one piece of evidence, not the
                 records' global identity — pairs still co-clustered
                 via an independent path come back as VIOLATIONS for
                 escalation instead of being silently split (splitting
                 at an arbitrary other edge would fabricate a decision
                 no human made).
      match      adds the edge (must-link), merging components.

    Returns (assignments, violations):
      assignments  (record_id, cluster_id) over the union of assign's
                   universe and all decision endpoints (min-id labels,
                   same convention as connected_components; records
                   left with no edges become singletons)
      violations   (src, dst, cluster_id) — non_match pairs still
                   co-clustered after the rebuild

    Scale shape: decisions are human-review output — inherently tiny —
    so the removal anti-join and both violation joins broadcast them;
    the only corpus-sized work is the CC rebuild itself (edge-sized,
    see connected_components) and one left join of the universe onto
    the component map. Unknown decision labels are a hard error (a
    typo'd 'nonmatch' silently treated as no-op would un-apply a
    human decision).
    """
    # isNull checked explicitly: ~isin(...) is NULL (not true) for a
    # NULL decision, which would slip past the guard and then match
    # NEITHER branch below — a human decision silently un-applied
    bad = (decisions.select("decision").distinct()
           .where(F.col("decision").isNull()
                  | ~F.col("decision").isin("match", "non_match")).collect())
    if bad:
        raise ValueError(
            f"unknown review decision {bad[0][0]!r}: expected "
            "'match' or 'non_match'"
        )
    dec = decisions.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "decision",
    ).distinct().localCheckpoint()
    both = (dec.groupBy("src", "dst")
            .agg(F.countDistinct("decision").alias("_n"))
            .where(F.col("_n") > 1).limit(1).collect())
    if both:
        raise ValueError(
            f"conflicting decisions for pair ({both[0][0]!r}, "
            f"{both[0][1]!r}): both match and non_match"
        )
    canon = edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    ).distinct()
    non_match = dec.where(F.col("decision") == "non_match").select("src", "dst")
    must_link = dec.where(F.col("decision") == "match").select("src", "dst")
    new_edges = (
        canon.join(F.broadcast(non_match), ["src", "dst"], "left_anti")
        .unionByName(must_link).distinct()
    )
    cc = connected_components(new_edges, max_iterations)
    universe = (
        assign.select("record_id")
        .unionByName(dec.select(F.col("src").alias("record_id")))
        .unionByName(dec.select(F.col("dst").alias("record_id")))
        .distinct()
    )
    assignments = (
        universe.join(cc, "record_id", "left")
        .select("record_id",
                F.coalesce("cluster_id", F.col("record_id")).alias("cluster_id"))
    )
    a_l = assignments.select(F.col("record_id").alias("src"),
                             F.col("cluster_id").alias("_cl"))
    a_r = assignments.select(F.col("record_id").alias("dst"),
                             F.col("cluster_id").alias("_cr"))
    violations = (
        a_l.join(F.broadcast(non_match), "src")
        .join(a_r, "dst")
        .where(F.col("_cl") == F.col("_cr"))
        .select("src", "dst", F.col("_cl").alias("cluster_id"))
    )
    return assignments, violations


def cluster_diff(prev: DataFrame, curr: DataFrame,
                 id_col: str = "record_id",
                 prev_col: str = "entity_id",
                 curr_col: str = "cluster_id") -> DataFrame:
    """Run-over-run clustering change report — the summary an operator
    reads after a re-resolution before trusting the new assignment
    (the aggregate companion to stable_entity_ids' per-cluster
    crosswalk): how many entities survived 1-1, how many merged, split,
    appeared, or dissolved.

    Over the contingency table of records present in BOTH runs:
      n_exact            (cluster, entity) pairs in 1-1 correspondence
                         on the shared universe (the cluster's known
                         members all carry that entity, and that
                         entity's surviving members all sit in it —
                         new records don't break exactness)
      n_merge_clusters   current clusters holding ≥2 prior entities
      n_split_entities   prior entities spread over ≥2 current clusters
      n_new_clusters     current clusters with NO member known to prev
      n_dissolved_entities  prior entities none of whose records exist
                         in curr (nonzero only when records left)

    Every statistic folds from the (cluster, entity) contingency table
    and the two id universes: four keyed aggregations + anti-joins of
    DISTINCT-key tables, then single-row crossJoins — shuffles bounded
    by distinct co-occurrences, output is ONE row.
    """
    p = prev.select(F.col(id_col).alias("_id"), F.col(prev_col).alias("_e"))
    c = curr.select(F.col(id_col).alias("_id"), F.col(curr_col).alias("_c"))
    cont = p.join(c, "_id").groupBy("_c", "_e").agg(F.count("*").alias("n_ce"))
    kc = cont.groupBy("_c").agg(F.count("*").alias("k_c"))
    ke = cont.groupBy("_e").agg(F.count("*").alias("k_e"))
    exact = (
        cont.join(kc.where(F.col("k_c") == 1), "_c")
        .join(ke.where(F.col("k_e") == 1), "_e")
        .agg(F.count("*").alias("n_exact"))
    )
    merges = kc.agg(F.coalesce(F.sum((F.col("k_c") > 1).cast("long")),
                               F.lit(0)).alias("n_merge_clusters"))
    splits = ke.agg(F.coalesce(F.sum((F.col("k_e") > 1).cast("long")),
                               F.lit(0)).alias("n_split_entities"))
    shared = cont.agg(F.coalesce(F.sum("n_ce"), F.lit(0))
                      .alias("n_shared_records"))
    curr_cl = c.select("_c").distinct()
    prev_en = p.select("_e").distinct()
    n_curr = curr_cl.agg(F.count("*").alias("n_curr_clusters"))
    n_prev = prev_en.agg(F.count("*").alias("n_prev_entities"))
    new_cl = (curr_cl.join(cont.select("_c").distinct(), "_c", "left_anti")
              .agg(F.count("*").alias("n_new_clusters")))
    dissolved = (prev_en.join(cont.select("_e").distinct(), "_e", "left_anti")
                 .agg(F.count("*").alias("n_dissolved_entities")))
    out = n_prev.crossJoin(n_curr).crossJoin(shared).crossJoin(exact) \
        .crossJoin(merges).crossJoin(splits).crossJoin(new_cl) \
        .crossJoin(dissolved)
    return out.select(
        "n_prev_entities", "n_curr_clusters",
        F.col("n_shared_records").cast("long").alias("n_shared_records"),
        F.col("n_exact").cast("long").alias("n_exact"),
        "n_merge_clusters", "n_split_entities",
        "n_new_clusters", "n_dissolved_entities",
    )
