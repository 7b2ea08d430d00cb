"""Link analysis over graphs derived from the warehouse tables.

The reference templates stop at per-table monitors; a data platform
also asks graph questions of its fact tables — which suppliers sit at
the center of the purchase network, which customers bridge otherwise
disjoint supplier pools (influence ranking, entity resolution
support). This module supplies the canonical primitive, PageRank,
expressed Spark-first: edges and ranks are DataFrames, one iteration
is two shuffles (contribution groupBy + rank rebuild), and the
iterative state is eagerly ``localCheckpoint``-ed so Catalyst never
replays iteration t-1's lineage into iteration t (the
no-exchange-reuse trap; at cluster scale the same role is played by
persisting the rank table between supersteps).

Cross-engine exactness design (same idea as operators/cluster.py):
PageRank's float update `r = (1-d)/N + d * Σ r_u/deg_u` is summation-
order-dependent, so an oracle would diverge in last ulps and compound
across iterations. The fit therefore runs entirely in INTEGER
micro-units (1e-9 of probability mass): shares are integer divisions
``r // deg``, inflow sums are exact integers, and damping applies as
``(85 * inflow) // 100``. Every engine computes the identical rank
trajectory, so a DuckDB oracle with unrolled iterations certifies it
(sparkobs.queries). The floor divisions leak ≤ deg units of mass
per node per round — irrelevant for ranking, and identically on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sparkobs.io import collect_at_most

UNIT = 1_000_000_000  # 1e-9 rank micro-units
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio

# dense-dispatch cap for the fixed-point PageRank kernel: below this
# many edge rows the whole iteration runs as ONE bounded collect (3
# int64 columns ≤ ~48 MB) + numpy integer supersteps instead of
# 2·iters Spark jobs — the same proven-bound discipline as the
# triangle census / PCA dim² collects. The arithmetic is EXACT int64
# either way, so the tiers are bit-identical (property-tested).
DENSE_PR_MAX_EDGES = 2_000_000


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    weight_col: str | None = None,
    teleport: DataFrame | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """PageRank in fixed-point arithmetic over a directed edge list
    ``(src, dst)`` (BIGINT node ids; callers wanting undirected
    semantics pass both directions). Returns (node, rank_units) for
    every node that appears as a source — with symmetric edges that is
    every node; dangling-node handling is therefore the caller's
    encoding choice, kept out of the kernel.

    ``weight_col`` selects WEIGHTED PageRank: each edge carries an
    integer weight (callers pre-aggregate to one row per (src, dst))
    and a node's rank splits proportionally — share_e = (r·w_e) //
    W_u with W_u the node's total out-weight, still exact integer
    arithmetic (r ≤ 1e9 so r·w stays far inside BIGINT for any sane
    weight). Unweighted is the same formula at w ≡ 1: (r·1) // W_u ≡
    r // outdeg, so one kernel serves both and the unweighted oracle
    is unchanged.

    ``teleport`` selects PERSONALIZED PageRank: a 1-column (node)
    frame restricting the random surfer's restart to that subset —
    rank init and the (1−d) base mass spread over |T| instead of N
    (zero elsewhere), so ranks measure proximity TO the teleport set.
    Teleport nodes must be graph nodes (the caller's contract).

    ``iters`` supersteps; per superstep: contributions = one groupBy
    on dst of the integer shares, then a rank rebuild over the node
    table. Edge/out-weight/node tables are checkpointed once up front
    (they are reused every superstep), rank tables once per superstep.

    Dense dispatch: ≤ ``DENSE_PR_MAX_EDGES`` edges run in numpy
    (:func:`sparkobs.io.collect_at_most`).
    """
    if weight_col is None:
        # edges_distinct=True lets a caller that PROVES (src, dst)
        # uniqueness (e.g. copurchase_edges: a distinct pair table
        # unioned with its disjoint direction swap) skip this
        # full-edge-list dedup shuffle — distinct-of-distinct is a
        # no-op exchange the optimizer cannot remove (r14, guide §2.4)
        e = edges.select("src", "dst")
        if not edges_distinct:
            e = e.distinct()
        e = e.withColumn("w", F.lit(1).cast("long"))
    else:
        # negative weights fail LOUDLY at materialization (the eager
        # checkpoint below), in-plan so no extra validation job: the
        # non-negativity assumption was previously documented but
        # unvalidated, and the tiers diverge on it (numpy floor
        # division vs SQL truncate-toward-zero for negative operands).
        # NULL < 0 is NULL -> ELSE branch, so NULL parity is unchanged.
        e = edges.select(
            "src",
            "dst",
            F.expr(
                f"CASE WHEN {weight_col} < 0 THEN raise_error("
                f"'pagerank_fixed: negative weight in {weight_col}') "
                f"ELSE CAST({weight_col} AS BIGINT) END"
            ).alias("w"),
        )
    e = e.localCheckpoint(eager=True)
    pdf = collect_at_most(e, DENSE_PR_MAX_EDGES)
    if pdf is not None:
        return _dense_pagerank(pdf, e.sparkSession, iters, teleport)
    outdeg = (
        e.groupBy("src").agg(F.sum("w").alias("od"))
        .localCheckpoint(eager=True)
    )
    # the node table IS outdeg's key set (distinct srcs ≡ the groupBy
    # keys), so derive it narrowly from the checkpointed aggregate —
    # the old separate e.distinct() paid its own exchange AND its own
    # checkpoint job for a frame the plan already held (guide §2.4)
    nodes = outdeg.select(F.col("src").alias("node"))
    # |teleport| / |nodes| is a scalar the old shape carried as a
    # 1-row aggregate crossJoin(broadcast(n)) — rebuilt by EVERY
    # superstep's checkpoint action (iters+1 broadcast builds). One
    # bounded driver count folds it into the init/base literals;
    # integer div semantics are unchanged (x div 0 still folds to
    # NULL for an empty graph/teleport set, like SUM/COUNT before).
    if teleport is not None:
        tele = (
            teleport.select(F.col(teleport.columns[0]).alias("node"))
            .distinct()
            .withColumn("__t", F.lit(1))
            .localCheckpoint(eager=True)
        )
        nn = tele.count()
        nodes_t = nodes.join(F.broadcast(tele), "node", "left")
        init_r = F.expr(f"CASE WHEN __t = 1 THEN {UNIT} div {nn} ELSE 0 END")
        base = F.expr(
            f"CASE WHEN __t = 1 "
            f"THEN {UNIT * (DAMP_DEN - DAMP_NUM) // DAMP_DEN} div {nn} "
            f"ELSE 0 END"
        )
    else:
        nn = outdeg.count()
        nodes_t = nodes
        if nn == 0:
            # empty graph: the node table is empty so no init value is
            # ever materialized — any literal keeps the (empty) result
            # identical, while `div 0` would throw at ANSI plan-time
            # constant folding (the teleport CASE branch above is not
            # eagerly folded, so it needs no guard)
            init_r = F.lit(0).cast("long")
            base = F.lit(0).cast("long")
        else:
            init_r = F.expr(f"{UNIT} div {nn}")
            base = F.expr(
                f"{UNIT * (DAMP_DEN - DAMP_NUM) // DAMP_DEN} div {nn}"
            )
    ranks = (
        nodes_t.select("node", init_r.alias("r"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        inflow = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outdeg, "src")
            .select("dst", F.expr("(r * w) div od").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("inf"))
        )
        ranks = (
            nodes_t.join(inflow, nodes_t["node"] == inflow["dst"], "left")
            .select(
                "node",
                (
                    base
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(inf, 0)) div {DAMP_DEN}"
                    )
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("rank_units"))


def _dense_pagerank(
    pdf, spark, iters: int, teleport: DataFrame | None
) -> DataFrame:
    """The dense tier of :func:`pagerank_fixed`: identical fixed-point
    integer supersteps in numpy int64 over the collected edges ``pdf``
    (src, dst, w). Every operation mirrors the distributed plan exactly — UNIT div
    nn init, share = (r·w) div od, r' = base + (85·inflow) div 100,
    inflow to a non-source dst dropped (ranks cover source nodes
    only, the kernel's documented contract) — all on non-negative
    int64, where SQL div ≡ numpy floor division. Overflow headroom:
    r ≤ UNIT = 1e9, so r·w and 85·inflow sit far inside int64 for
    any sane weight.

    NULL parity with the distributed plan: a NULL-weight edge emits
    no share and adds nothing to its src's out-weight (SQL SUM/NULL
    propagation), but the src still appears in the node table —
    mirrored here by keeping every src in ``nodes`` and dropping
    null-w rows from the superstep arrays. A NULL teleport row counts
    toward nn (SUM over the distinct frame) but matches no node."""
    import numpy as np

    if len(pdf) == 0:
        return spark.createDataFrame([], "node long, rank_units long")
    src_all = pdf["src"].to_numpy(np.int64)
    nodes = np.unique(src_all)
    w_col = pdf["w"]
    if w_col.isna().any():
        pdf = pdf[w_col.notna()]
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    w = pdf["w"].to_numpy(np.int64)
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    # a dst with no out-edges is not a node: its inflow vanishes,
    # exactly as the distributed plan's left join drops it
    di_ok = (di < len(nodes)) & (nodes[np.minimum(di, len(nodes) - 1)] == dst)
    # exact int64 accumulation (a float64 bincount would silently
    # round a per-node out-weight past 2^53); one-time cost
    od = np.zeros(len(nodes), dtype=np.int64)
    np.add.at(od, si, w)
    base_total = UNIT * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    if teleport is not None:
        # one plain collect: the set dedupes, as the distributed
        # plan's distinct does
        tele = {row[0] for row in teleport.select(teleport.columns[0]).collect()}
        # a NULL teleport row counts toward nn but matches no node —
        # the distributed SUM(__t)/left-join behavior
        nn = len(tele)
        tele.discard(None)
        if nn == 0:
            # the distributed plan's left join yields no __t=1 rows:
            # every rank inits (and stays) 0
            t_mask = np.zeros(len(nodes), dtype=bool)
            nn = 1
        else:
            t_mask = np.isin(
                nodes, np.fromiter(tele, dtype=np.int64, count=len(tele))
            )
        r = np.where(t_mask, UNIT // nn, 0).astype(np.int64)
        base = np.where(t_mask, base_total // nn, 0).astype(np.int64)
    else:
        nn = len(nodes)
        r = np.full(len(nodes), UNIT // nn, dtype=np.int64)
        base = np.full(len(nodes), base_total // nn, dtype=np.int64)
    for _ in range(iters):
        share = (r[si] * w) // od[si]
        # bincount's float64 accumulator is exact here: Σ share ≤
        # Σ r ≈ UNIT = 1e9 ≪ 2^53 (shares are rank splits)
        inflow = np.bincount(
            di[di_ok], weights=share[di_ok].astype(np.float64), minlength=len(nodes)
        ).astype(np.int64)
        r = base + (DAMP_NUM * inflow) // DAMP_DEN
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "rank_units": r}),
        "node long, rank_units long",
    )


def copurchase_edges(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Supplier–customer co-purchase graph: an undirected edge for
    every (supplier, customer) pair connected through an order,
    encoded into one BIGINT node space (supplier key → 2k, customer
    key → 2k+1) and emitted in both directions."""
    pairs = (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    # both directions via ONE row-local explode instead of a self-union:
    # Catalyst reuses no subtree statically, so the union form ran the
    # join+distinct derivation once per branch (guide §2.4). Same rows,
    # same multiplicity (each direction exactly once per distinct pair).
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def copurchase_edges_weighted(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """Weighted co-purchase graph: edge weight = number of DISTINCT
    orders linking the supplier and customer (relationship strength),
    same 2k/2k+1 node encoding, both directions."""
    pairs = (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .groupBy(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .agg(F.count_distinct(F.col("o_orderkey")).alias("w"))
    )
    # one explode for both directions — same rationale as
    # copurchase_edges: the union form re-ran the join+groupBy per branch
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("src"), F.col("c").alias("dst")
                ),
                F.struct(
                    F.col("c").alias("src"), F.col("s").alias("dst")
                ),
            )
        ).alias("e"),
        "w",
    ).select("e.src", "e.dst", "w")


def decode_copurchase_node(df: DataFrame) -> DataFrame:
    """Decode the 2k/2k+1 node space back to (node_type, node_key)."""
    return df.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        *[c for c in df.columns if c != "node"],
    )


def cooccurrence_edges(
    df: DataFrame, group_col: str, node_col: str, weighted: bool = False
) -> DataFrame:
    """Canonical undirected edge list (u < v, distinct) between nodes
    that share a group — e.g. suppliers co-occurring in an order. The
    self-join is keyed by the group column, so its cost is bounded by
    the per-group degree (Σ per-group pairs), never nodes².
    ``weighted`` adds ``w`` = the number of shared groups (the
    relationship-strength weight mutual-kNN sparsification ranks
    by)."""
    base = df.select(
        F.col(group_col).alias("__g"), F.col(node_col).alias("__n")
    ).distinct()
    a, b = base.alias("a"), base.alias("b")
    joined = a.join(
        b,
        (F.col("a.__g") == F.col("b.__g")) & (F.col("a.__n") < F.col("b.__n")),
    )
    if weighted:
        return joined.groupBy(
            F.col("a.__n").alias("u"), F.col("b.__n").alias("v")
        ).agg(F.count(F.lit(1)).cast("long").alias("w"))
    return (
        joined.select(F.col("a.__n").alias("u"), F.col("b.__n").alias("v"))
        .distinct()
    )


DENSE_TRI_MAX_NODES = 4096
DENSE_TRI_MAX_EDGES = 4_000_000


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census with a density dispatch.

    DISTRIBUTED PATH (the default, any scale): DEGREE-ORDERED
    ORIENTATION — each undirected edge is directed from its
    lower-(degree, node) endpoint to the higher, so every node's
    out-degree is O(sqrt(m)); triangles are counted per oriented edge
    as |N⁺(u) ∩ N⁺(v)| over out-neighbor arrays
    (``array_intersect``, hash-based — no sort needed), which enumerates each triangle exactly once
    without MATERIALIZING the wedge set — the r10 rewrite of the
    wedge self-join, same Σ d⁺(u)² work bound but the wedges live
    inside a hash probe instead of 100s-of-millions of shuffled rows
    (measured 1.5× on the near-complete supplier graph). A naive
    u<v<w 3-way self-join instead explodes on hub nodes, whose wedge
    count is degree² — exactly the skew a 100 TB graph has. Rank
    packs (degree, node) into one BIGINT (degree·2³² + node; node
    keys must fit 32 bits) so orientation is a single integer
    compare. Adjacency rows are bounded at O(sqrt(m)) longs each,
    total size m — broadcast when small, shuffle-joined otherwise
    (Spark picks by size statistics).

    DENSE PATH (small graphs, the igraph/cuGraph-style dispatch):
    when the census output itself proves the graph tiny —
    n_nodes ≤ ``DENSE_TRI_MAX_NODES`` AND n_edges ≤ ``DENSE_TRI_MAX_EDGES``
    (counts the operator must compute anyway) — the edge list is a
    bounded collect (≤ 64 MB at the defaults, the same justified-
    bound discipline as the PCA dim² Gram collect) and the count is
    exact dense linear algebra: trace(A³)/6 in float64 BLAS (exact —
    every intermediate ≤ n³ < 2⁵³). A 1000-node/450k-edge graph
    drops from ~10 s of joins to one matmul; graphs past the bounds
    never collect.

    The edge list and the oriented list feed several plan legs, so
    both are localCheckpoint-ed (Catalyst's no-aggregate-subtree-
    reuse trap; at cluster scale the same cut is a persist). Output
    is ONE row of exact integers — n_nodes, n_edges, n_wedges,
    n_triangles — plus the global clustering coefficient
    3·triangles/wedges left unrounded (a single division of identical
    integers is bit-identical on any engine).

    PRECONDITION (unchanged from the wedge-join original): ``edges``
    is a canonical DEDUPED undirected list (u < v, one row per edge —
    what :func:`cooccurrence_edges` emits). Duplicate rows would
    inflate n_edges/n_wedges in both tiers and the triangle count in
    the distributed tier (each duplicate oriented row probes its
    intersection again), while the dense adjacency matrix dedupes
    incidentally — don't feed either tier duplicates.
    """
    e = edges.localCheckpoint()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint()
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        # empty edge list: SUM over zero rows is NULL — pin the
        # all-integer contract with an explicit 0
        F.coalesce(F.sum(F.expr("(d * (d - 1)) div 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
    ).crossJoin(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
    n_nodes, n_wedges, n_edges = stats.first()

    if n_nodes <= DENSE_TRI_MAX_NODES and n_edges <= DENSE_TRI_MAX_EDGES:
        n_triangles = _dense_triangle_count(e.toPandas()) if n_edges else 0
    else:
        rk = deg.select(
            "node",
            (F.col("d") * F.lit(2**32).cast("long") + F.col("node")).alias("rk"),
        )
        eu = e.join(
            rk.select(F.col("node").alias("u"), F.col("rk").alias("rk_u")), "u"
        ).join(rk.select(F.col("node").alias("v"), F.col("rk").alias("rk_v")), "v")
        o = eu.select(
            F.when(F.col("rk_u") < F.col("rk_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("rk_u") < F.col("rk_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
        ).localCheckpoint()
        # collect_list unsorted: array_intersect is hash-based, so the
        # intersection COUNT is order-invariant and sorting the
        # adjacency arrays would be O(Σ d⁺ log d⁺) of pure waste
        adj = o.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
        # Catalyst can't size an aggregated-array relation, so it
        # won't pick broadcast on its own — but the adjacency payload
        # is exactly n_edges longs (already counted above): hint it
        # below ~32 MB, let the planner shuffle-join past that.
        if n_edges * 16 <= 32 * 1024 * 1024:
            adj = F.broadcast(adj)
        n_triangles = (
            o.join(adj, "src")
            .join(
                adj.select(
                    F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_v")
                ),
                "dst",
            )
            .select(F.size(F.array_intersect("nbrs", "nbrs_v")).alias("c"))
            .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long"))
            .first()[0]
        )

    # a wedge-free graph (all degree <= 1) has an undefined
    # coefficient — NULL, not a divide-by-zero
    clustering = (3.0 * n_triangles) / n_wedges if n_wedges > 0 else None
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(n_nodes, n_edges, n_wedges, n_triangles, clustering)],
        "n_nodes long, n_edges long, n_wedges long, n_triangles long, "
        "global_clustering double",
    )


def _dense_triangle_count(pdf) -> int:
    """Exact triangle count of a SMALL graph as trace(A³)/6 over a
    dense float64 adjacency matrix — BLAS does in one matmul what the
    oriented join does in Σ d⁺² hash probes. float64 keeps every
    intermediate exact: A² entries ≤ n, the trace ≤ n·wedges < 2⁵³
    at the dispatch bounds. ``pdf`` is the collected (u, v) edge list;
    the caller collects it only after checking n_nodes/n_edges against
    the dense dispatch caps.

    Driver memory honesty: the edge COLLECT is ≤ 64 MB at the caps,
    but the kernel's true peak is the two dense n×n float64 matrices
    (A and A@A) — 2·n²·8 B ≈ 268 MB at n = 4096. The node cap is
    sized for that matmul footprint and its n³ flops, not just the
    collect; past it the distributed tier never builds a matrix."""
    import numpy as np

    nodes = np.unique(np.concatenate([pdf["u"].values, pdf["v"].values]))
    ui = np.searchsorted(nodes, pdf["u"].values)
    vi = np.searchsorted(nodes, pdf["v"].values)
    a = np.zeros((len(nodes), len(nodes)), dtype=np.float64)
    a[ui, vi] = 1.0
    a[vi, ui] = 1.0
    return int(round(np.einsum("ij,ji->", a @ a, a) / 6.0))


DENSE_CC_MAX_NODES = 4_000_000


def min_label_components(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 8,
) -> DataFrame:
    """Connected components by FIXED-ROUND min-label propagation —
    the entity-resolution / graph-partitioning primitive, expressed
    so an oracle can replay it: every node starts labeled with its
    own id; each round every node takes the min of its label and its
    neighbors' labels (edges must be symmetric). Min-propagation is
    DETERMINISTIC, so a fixed round count is bit-reproducible on any
    engine — if ``rounds`` ≥ the component diameter the labels are
    the true components, and if not, both engines produce the
    identical intermediate labeling (certification never flakes; the
    unconverged case just means "raise rounds"). Contrast with the
    dedup closure (dedup.py pairs→groups), which iterates to
    convergence for production use; this variant trades that for
    replayability, exactly like pagerank_fixed.

    The update is expressed with SELF-LOOP edges (node→node added to
    the edge list): one round is then a single src-keyed join +
    dst-keyed min agg that references the previous label table
    EXACTLY ONCE — which keeps the oracle's unrolled CTE chain
    linear (a keep-my-own-label formulation references l(t) twice
    per round, and an inlining engine evaluates that tree
    exponentially: 2⁸ ≈ 130 s measured at sf0.01 before this shape).
    Isolated nodes keep their own label via their self-loop. The
    node-table-sized label state is eagerly checkpointed per round
    (no lineage replay across rounds). Output: (node, component).

    Dense dispatch: ≤ ``DENSE_PR_MAX_EDGES`` edges and ≤
    ``DENSE_CC_MAX_NODES`` nodes run the same rounds in numpy
    (:func:`sparkobs.io.collect_at_most`, edges first).
    """
    # distinct(): duplicate node rows are contract-violating but must
    # not make the tiers diverge — the dense tier dedupes via
    # np.unique, and without this the rounds=0 distributed path would
    # return the duplicates verbatim (rounds >= 1 dedupes via the dst
    # group-by). Same dispatch-boundary fix as reachable_set's
    # duplicate seeds (r10); property-tested with duplicated node rows.
    nd = nodes.select("node").distinct().localCheckpoint()
    ed = edges.select("src", "dst").localCheckpoint()
    epdf = collect_at_most(ed, DENSE_PR_MAX_EDGES)
    npdf = collect_at_most(nd, DENSE_CC_MAX_NODES) if epdf is not None else None
    if npdf is not None:
        return _dense_min_label_components(npdf, epdf, nd.sparkSession, rounds)
    lbl = nd.select(F.col("node"), F.col("node").alias("lbl"))
    e = (
        ed.unionAll(
            nd.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .localCheckpoint()
    )
    for _ in range(rounds):
        lbl = (
            e.join(
                lbl.select(F.col("node").alias("src"), F.col("lbl").alias("__l")),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("__l").alias("lbl"))
            .localCheckpoint()
        )
    return lbl.select("node", F.col("lbl").alias("component"))


def _dense_min_label_components(
    npdf, epdf, spark, rounds: int
) -> DataFrame:
    """The dense tier of :func:`min_label_components`: identical
    fixed-round min-label supersteps in numpy int64 over the collected
    node (``npdf``) and edge (``epdf``) tables. NOT union-find: a
    converged-components kernel would diverge from the fixed-round
    contract whenever rounds < diameter, so this replays the SAME
    supersteps, tier-equal including unconverged intermediates
    (property-tested). Mirrors the distributed plan exactly — the edge
    list is edges ∪ node self-loops; the round-t label table holds
    ONLY dsts with ≥1 labeled in-edge; a src outside the node table
    joins nothing until it first appears as a dst (gains a label),
    then its out-edges participate. All of that falls out of one sentinel:
    "no label" = int64 max, per-dst new label = min over in-edges of
    the src's current label (sentinel loses every min against a real
    label, a dst with only unlabeled in-srcs stays sentinel = no
    row). Per round: one gather + np.minimum.reduceat over the
    dst-sorted edge order (computed once — the order never changes,
    only the labels).

    Byte budget at the caps: node collect ≤ 4M·8 B = 32 MB, edge
    collect ≤ 2M·16 B = 32 MB, working arrays (N + 2E)·8 B ≈ 64 MB;
    per-round work is O(E) vectorized. Node ids must be non-null
    BIGINTs (the kernel contract shared by every dense tier).
    """
    import numpy as np
    import pandas as pd

    nd = npdf["node"].to_numpy(np.int64)
    s = np.concatenate([epdf["src"].to_numpy(np.int64), nd])
    d = np.concatenate([epdf["dst"].to_numpy(np.int64), nd])
    uni = np.unique(np.concatenate([nd, s, d]))
    if len(uni) == 0:
        return spark.createDataFrame([], "node long, component long")
    si = np.searchsorted(uni, s)
    di = np.searchsorted(uni, d)
    INF = np.iinfo(np.int64).max
    lbl = np.full(len(uni), INF, dtype=np.int64)
    lbl[np.searchsorted(uni, nd)] = nd
    order = np.argsort(di, kind="stable")
    si_sorted = si[order]
    di_sorted = di[order]
    seg_starts = np.flatnonzero(
        np.r_[True, di_sorted[1:] != di_sorted[:-1]]
    )
    seg_dst = di_sorted[seg_starts]
    for _ in range(rounds):
        mins = np.minimum.reduceat(lbl[si_sorted], seg_starts)
        nxt = np.full(len(uni), INF, dtype=np.int64)
        nxt[seg_dst] = mins
        lbl = nxt
    mask = lbl != INF
    return spark.createDataFrame(
        pd.DataFrame({"node": uni[mask], "component": lbl[mask]}),
        "node long, component long",
    )


def mutual_topk_edges(pairs: DataFrame, k: int = 3) -> DataFrame:
    """Mutual-kNN sparsification of a weighted pair list — the
    standard preprocessing that turns a dense similarity/co-occurrence
    graph into one with community structure: keep edge {u, v} only
    when v is among u's top-k strongest partners AND u is among v's.
    Input: canonical (u, v, w) with u < v; output: symmetric (src,
    dst) in both directions.

    Per-node top-k is a per-key window (rank by weight desc with id
    tiebreak — deterministic on any engine), never a global sort; the
    mutuality test is a self-join on the directed survivor set, which
    is ≤ k·|nodes| rows regardless of input density. The pair list
    (usually an aggregate) is checkpointed before the two-direction
    union and the survivor set before its self-join — Catalyst reuses
    neither subtree, so without the cuts the upstream derivation runs
    2–4×."""
    p = pairs.select("u", "v", "w").localCheckpoint()
    directed = p.select(
        F.col("u").alias("a"), F.col("v").alias("b"), "w"
    ).unionAll(p.select(F.col("v").alias("a"), F.col("u").alias("b"), "w"))
    wnd = W.partitionBy("a").orderBy(F.desc("w"), F.asc("b"))
    top = (
        directed.withColumn("__r", F.row_number().over(wnd))
        .where(F.col("__r") <= k)
        .select("a", "b")
        .localCheckpoint()  # <= k * |nodes| rows
    )
    mutual = top.join(
        top.select(F.col("b").alias("a"), F.col("a").alias("b")),
        ["a", "b"],
        "semi",
    )
    return mutual.select(F.col("a").alias("src"), F.col("b").alias("dst"))


def reachable_set(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Hop-labeled BFS reachability — the lineage / impact-analysis
    primitive the reference's monitor graph implies (which downstream
    datasets does a failed source touch, and how directly?): from a
    seed set, expand the directed edge list ``max_hops`` rounds and
    report every reachable node with its FIRST-VISIT hop (= exact
    shortest hop distance, so the result is set-deterministic and a
    recursive-CTE oracle replays it as min(hop) over the bounded
    expansion).

    Each round is one frontier-keyed equi join + distinct, then an
    anti join against the visited set — never a full transitive
    closure (which is quadratic on dense graphs); each round's new
    frontier LEG is node-bounded and eagerly checkpointed (Catalyst
    would otherwise replay round t−1 inside round t), while the
    visited set stays a shallow union of those checkpointed legs —
    prior rounds' rows are never re-checkpointed.
    At cluster scale the edge list is the big side — it shuffles once
    per round on its join key, or stays resident via persist when the
    loop owns the lifecycle. Rounds are FIXED (no convergence test):
    like pagerank_fixed/min_label_components, a bounded hop count is
    what makes the trajectory bit-reproducible AND is the honest
    semantic for blast-radius questions ("within 3 hops"), while an
    exhausted-frontier early exit would add a per-round count job
    only to optimize the already-cheap empty tail.

    ``edges`` is directed (src, dst); ``seeds`` is a (node) set —
    duplicate seed rows are deduped (distinct in the distributed
    tier, the seed dict in the dense one, so the dispatch boundary
    cannot change the output even for contract-violating
    duplicate-seed input). Output: (node, hop)
    with hop 0 = the seeds themselves.

    Dense dispatch: ≤ ``DENSE_PR_MAX_EDGES`` edges run the BFS in
    Python sets (:func:`sparkobs.io.collect_at_most`).
    """
    pdf = collect_at_most(edges.select("src", "dst"), DENSE_PR_MAX_EDGES)
    if pdf is not None:
        return _dense_reachable_set(pdf, seeds, max_hops)
    seed0 = (
        seeds.select("node")
        .distinct()
        .select("node", F.lit(0).alias("hop"))
        .localCheckpoint()
    )
    legs = [seed0]
    visited = seed0.select("node")
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(h).alias("hop"))
            .localCheckpoint()
        )
        legs.append(nxt)
        # only the per-round LEG is ever checkpointed — the visited set
        # is a shallow union of checkpointed legs, so accumulating it
        # never rewrites prior rounds' rows (no O(V·hops) re-checkpoint)
        visited = visited.unionByName(nxt.select("node"))
        frontier = nxt.select("node")
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _dense_reachable_set(
    pdf, seeds: DataFrame, max_hops: int
) -> DataFrame:
    """The dense tier of :func:`reachable_set`: hop-labeled BFS over
    the collected (src, dst) edges ``pdf``, in plain Python sets —
    integer set logic is tier-equal by construction (first-visit hop =
    shortest hop). The seed frame is node-bounded by its nature."""
    import pandas as pd

    spark = seeds.sparkSession
    adj: dict = {}
    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        adj.setdefault(s, []).append(d)
    # one plain collect: the dict dedupes seeds (NULL included), as the
    # distributed tier's distinct does
    hop_of = {row[0]: 0 for row in seeds.select("node").collect()}
    frontier = set(hop_of)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in hop_of:
                    nxt.add(v)
        for v in nxt:
            hop_of[v] = h
        frontier = nxt
    return spark.createDataFrame(
        pd.DataFrame(
            {"node": list(hop_of), "hop": [hop_of[n] for n in hop_of]}
        ),
        "node long, hop int",
    )
