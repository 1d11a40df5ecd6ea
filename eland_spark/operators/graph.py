"""Graph operators for corpus curation: PageRank and degree stats.

No reference analog (eland has no graph layer); PageRank (Page et al.
1999, "The PageRank citation ranking") is the canonical web-crawl
quality prior — CommonCrawl-derived corpora routinely carry a
host-graph centrality signal next to the text-quality gates in
``operators/text.py``. Weighted edges and personalization (the
restart-vector variant of the same paper, popularized for
graph-similarity by Jeh & Widom 2003's scaled expansion) are the two
standard extensions. Connected components (the other graph primitive
a dedup pipeline needs) already lives in ``operators/dedup.py``
(large-star/small-star contraction).

Scale shape: a fixed-K power iteration is K rounds of
(ranks join edges on src) -> (sum contributions by dst). The rank
frame is node-sized, the edge frame is edge-sized; edges are hashed by
``src`` once and the partitioning is reused every round (one
``repartition`` up front, no per-round edge shuffle), while the
node-sized rank updates are the only thing that moves. Dangling mass
is folded back via a single scalar aggregate per round —
never a driver collect of node data. Each round lazily checkpoints the
node-sized rank frame: the round's two consumers (contribution join +
dangling scalar) share one computation instead of re-executing the
prior lineage per branch, and lineage depth stays O(1) for any K.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["degrees", "pagerank", "label_propagation", "random_walks"]


def _lazy_unroll(iterations: int, branches: int) -> bool:
    """True when a fixed-K iterative plan should stay FULLY LAZY instead
    of taking a per-round ``localCheckpoint(eager=False)`` barrier.

    Under AQE, ``localCheckpoint(eager=False)`` is not free at plan-build
    time: resolving the final physical plan executes every upstream
    shuffle stage, so K rounds of barriers cost K synchronous job waves
    before the query's one real action even starts (measured 0.7-2.8 s
    of build-time waves per barrier at bench scale, dwarfing the 0.2-0.4
    s of actual compute). Leaving the unrolled plan lazy runs ALL rounds
    in one AQE job: the ``branches``-way references a round makes to its
    predecessor produce canonically-equal exchange subtrees that AQE's
    stage cache / ReuseExchange executes ONCE, so there is no 2^K
    recompute — only a 2^K *analysis-tree* copy count, which is why this
    is gated: lazy only while ``branches ** iterations`` stays small
    (<= 64 subtree copies) AND the unrolled depth itself is small
    (<= 8 rounds — single-branch chains grow no copies but still grow
    analysis depth per round); beyond either bound the barrier's
    lineage truncation wins. Checkpointed and lazy plans compute
    identical results.
    """
    if iterations > 8:
        return False
    return branches**iterations <= 64


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node in/out degree in one pass: explode each edge into two
    (node, role) rows, then a single hash aggregation."""
    both = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("node"), F.lit(1).alias("is_out")),
                F.struct(F.col(dst).alias("node"), F.lit(0).alias("is_out")),
            )
        ).alias("r")
    ).select("r.node", "r.is_out")
    return both.groupBy("node").agg(
        F.sum(F.col("is_out")).cast("bigint").alias("out_degree"),
        F.sum(1 - F.col("is_out")).cast("bigint").alias("in_degree"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    dangling: str = "redistribute",
    weight: Optional[str] = None,
    personalized: Optional[DataFrame] = None,
    tol: Optional[float] = None,
) -> DataFrame:
    """Fixed-K PageRank power iteration, optionally weighted and/or
    personalized.

    ``rank_v = (1-d)*p_v + d * (sum_{u->v} rank_u * w_uv / wout_u
    + D * p_v)`` where ``p`` is the teleport vector (uniform ``1/N``,
    or ``1/|S|`` over the seed set with ``personalized``), ``w`` the
    edge weight (1 for every deduplicated edge when ``weight`` is
    None; duplicate (src, dst) rows SUM their weights otherwise, and
    non-positive/null weights are dropped), and ``D`` the rank mass on
    dangling nodes — redistributed along ``p`` per the original
    formulation, or dropped with ``dangling="ignore"`` (the textbook
    simplification; documents which one an oracle must replay). Ranks
    initialize at ``p`` (for the uniform case that is the classic
    ``1/N``), so a fixed K is exactly reproducible.

    Returns ``(node, rank)``; with ``dangling="redistribute"`` ranks
    sum to ~1. ``personalized`` is a one-column frame of seed node ids
    (broadcast — seed sets are small by construction); seeds absent
    from the graph still receive teleport mass.

    Plan shape: see the module docstring — one up-front edge
    dedup/weight-sum hash-partitioned by ``src`` and reused every
    round; per-round shuffle volume is O(nodes + contributions); rank
    lineage truncates every round so K can grow without plan-depth or
    recompute blowup.

    ``tol`` enables early exit: after each round one extra scalar
    aggregate (the same shape as the dangling term — a node-keyed join
    of the round's checkpointed ranks with the previous round's, folded
    to ``sum(|rank - prev|)``) is collected on the driver, and the
    loop stops when that L1 delta drops below ``tol``. ``iterations``
    then acts as the cap. With ``tol=None`` (default — the oracle
    path) the plan stays fully lazy and runs exactly ``iterations``
    rounds.
    """
    if dangling not in ("redistribute", "ignore"):
        raise ValueError(f"dangling must be redistribute|ignore, got {dangling!r}")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")

    # ONE src-hashed shuffle builds the deduped/weight-summed edge frame
    # reused across all K rounds: repartition FIRST, then aggregate —
    # HashPartitioning(__src__) satisfies the (__src__, __dst__) agg's
    # clustered distribution, so the dedup/weight-sum adds no second
    # exchange (r9 opt: the agg-then-repartition order shuffled the
    # edge frame twice at checkpoint-build time). The localCheckpoint
    # barrier makes this subtree compute ONCE instead of being
    # re-inlined into every round's join (at a real deployment this is
    # a persisted/bucketed edge table).
    if weight is None:
        e = (
            edges.select(F.col(src).alias("__src__"), F.col(dst).alias("__dst__"))
            .repartition("__src__")
            .distinct()
            .withColumn("__w__", F.lit(1.0))
        )
    else:
        e = (
            edges.where(F.col(weight).isNotNull() & (F.col(weight) > 0))
            .select(
                F.col(src).alias("__src__"),
                F.col(dst).alias("__dst__"),
                F.col(weight).cast("double").alias("__w__"),
            )
            .repartition("__src__")
            .groupBy("__src__", "__dst__")
            .agg(F.sum("__w__").alias("__w__"))
        )
    e = e.localCheckpoint(eager=False)

    nodes = (
        e.select(F.col("__src__").alias("node"))
        .unionByName(e.select(F.col("__dst__").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("__src__").alias("node")).agg(
        F.sum("__w__").alias("__outdeg__")
    )
    if personalized is not None:
        seed_col = personalized.columns[0]
        seeds = (
            personalized.select(F.col(seed_col).alias("node"))
            .where(F.col("node").isNotNull())
            .distinct()
        )
        # seeds outside the edge set still get teleport mass
        nodes = nodes.unionByName(seeds).distinct()
    # node-sized; computed once, reused every round
    base = nodes.join(outdeg, "node", "left").select(
        "node", F.coalesce(F.col("__outdeg__"), F.lit(0.0)).alias("__outdeg__")
    )
    if personalized is None:
        n_nodes = base.select(F.count(F.lit(1)).cast("double").alias("__n__"))
        base = base.crossJoin(F.broadcast(n_nodes)).select(
            "node", "__outdeg__", (F.lit(1.0) / F.col("__n__")).alias("__p__")
        )
    else:
        n_seeds = seeds.select(F.count(F.lit(1)).cast("double").alias("__ns__"))
        flagged = base.join(
            F.broadcast(seeds.withColumn("__seed__", F.lit(1))), "node", "left"
        )
        base = flagged.crossJoin(F.broadcast(n_seeds)).select(
            "node", "__outdeg__",
            F.when(F.col("__seed__") == 1, F.lit(1.0) / F.col("__ns__"))
            .otherwise(F.lit(0.0)).alias("__p__"),
        )

    ranks = base.select("node", "__outdeg__", "__p__",
                        F.col("__p__").alias("rank"))

    d = float(damping)
    # ranks branches 2-3x per round (contribution join + left side +
    # the dangling scalar under "redistribute"). For small fixed K with
    # no tol action the unrolled plan stays FULLY LAZY: the branches
    # are canonically equal so AQE's stage cache executes each round
    # once, and the per-round localCheckpoint barriers' build-time job
    # waves disappear (see _lazy_unroll; r8 measured the barriers
    # SLOWER only while a where(outdeg > 0) pre-filter on the contrib
    # branch was pushed below the previous round's projection,
    # de-canonicalizing the branch subtrees — that filter is gone, see
    # the contrib note below). With tol set, the per-round delta
    # action needs the materialization anyway — barriers stay.
    lazy = tol is None and _lazy_unroll(
        int(iterations), branches=3 if dangling == "redistribute" else 2
    )
    # the initial rank frame is base + a literal column — its two
    # round-1 branches share base's exchanges (canonically equal, AQE
    # reuses them), so barrier-ing it would only add a build-time job
    # wave; barriers start AFTER round 1, where the branched subtrees
    # stop being exchange-aligned (r9 re-measured: an up-front lazy
    # barrier that flattens the unrolled tree to a LogicalRDD leaf is
    # NEUTRAL-to-slightly-slower — 2.73/2.98 vs 2.67/2.95 s — the
    # analysis of the unrolled tree is not the cost, the wave is real)
    checkpointed = True
    for i in range(int(iterations)):
        # without lazy reuse, one checkpoint per round keeps the
        # branched recompute linear (the Pregel/GraphX iteration
        # pattern) and doubles as lineage truncation for large K
        if not checkpointed and not lazy:
            ranks = ranks.localCheckpoint(eager=False)
        checkpointed = False
        prev = ranks
        # no where(__outdeg__ > 0) pre-filter: dangling nodes never
        # appear as __src__ in e (weights are > 0 by construction), so
        # the inner join already excludes them — and the division below
        # only evaluates on matched rows, where __outdeg__ >= __w__ > 0.
        # The explicit filter was REDUNDANT and actively harmful: its
        # pushdown below the previous round's projection made the
        # contrib branch's exchange subtree non-canonical, defeating
        # the AQE stage reuse the lazy unroll depends on.
        contrib = (
            ranks.join(e, ranks["node"] == e["__src__"])
            .select(
                F.col("__dst__").alias("node"),
                (F.col("rank") * F.col("__w__") / F.col("__outdeg__"))
                .alias("__c__"),
            )
            .groupBy("node")
            .agg(F.sum("__c__").alias("__in__"))
        )
        if dangling == "redistribute":
            dang = ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("__outdeg__") == 0, F.col("rank"))),
                    F.lit(0.0),
                ).alias("__dang__")
            )
            joined = ranks.join(contrib, "node", "left").crossJoin(
                F.broadcast(dang)
            )
        else:
            # no dangling term: skip the per-round scalar aggregate and
            # its broadcast entirely (one fewer job per round)
            joined = ranks.join(contrib, "node", "left").withColumn(
                "__dang__", F.lit(0.0)
            )
        ranks = (
            joined
            .select(
                "node", "__outdeg__", "__p__",
                (
                    (F.lit(1.0) - F.lit(d)) * F.col("__p__")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("__in__"), F.lit(0.0))
                        + F.col("__dang__") * F.col("__p__")
                    )
                ).alias("rank"),
            )
        )
        if tol is not None:
            # the delta action materializes this checkpoint, and the
            # next round (if any) reuses it — no recompute
            ranks = ranks.localCheckpoint(eager=False)
            checkpointed = True
            delta = (
                ranks.select("node", "rank")
                .join(prev.select("node", F.col("rank").alias("__pr__")),
                      "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("__pr__")))
                     .alias("__delta__"))
                .first()["__delta__"]
            )
            if delta is not None and float(delta) < float(tol):
                break
    return ranks.select("node", "rank")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    seeds: "Optional[DataFrame]" = None,
    fixed_seeds: bool = True,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    DETERMINISTIC tie rule, in two modes:

    - community detection (``seeds=None``): every node starts with its
      own id as label; after K synchronous rounds dense regions agree
      on their minimum member id — the modularity-free community
      primitive that complements ``dedup.connected_components`` (which
      merges ANY connectivity; LPA only merges densely linked nodes).
    - semi-supervised spreading (``seeds`` = (node, label) frame):
      seed labels diffuse outward; with ``fixed_seeds`` the seed
      nodes never change (the standard label-spreading clamp), and
      unlabeled nodes with no labeled neighbor stay null.

    Update rule per round, per node: the label with the highest
    neighbor count, ties to the SMALLEST label — labels must therefore
    be numeric (community ids / class ids), which makes the argmax one
    ``max_by(label, struct(count, -label))`` hash aggregation and the
    whole update exactly replayable in SQL. Synchronous = all nodes
    update from the PREVIOUS round's labels, so round count (not data
    order) fully determines the result. A node with no neighbors
    keeps its label.

    Scale shape: the symmetrized edge table is hash-partitioned once
    and reused every round; each round is one (labels join edges) +
    two hash aggs, all node- or edge-sized; labels localCheckpoint per
    round so lineage stays O(1) in K.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull())
    # community mode references the label frame ONCE per round (the
    # keep-old-label join is dead code there), seeds mode 2-3 times;
    # small-K plans stay lazy (one AQE job, exchange reuse dedups the
    # repeated sym/label subtrees) instead of paying one build-time
    # job wave per localCheckpoint barrier — see _lazy_unroll
    lazy = _lazy_unroll(int(iterations), branches=1 if seeds is None else 2)
    # repartition FIRST: HashPartitioning(u) satisfies the (u, v)
    # dedup's clustered distribution, so the distinct adds no second
    # exchange of the symmetrized edge frame (r9, the pagerank fix)
    sym = (
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .repartition("u")
        .distinct()
    )
    if not lazy:
        sym = sym.localCheckpoint(eager=False)
    nodes = sym.select(F.col("u").alias("node")).distinct()
    if seeds is None:
        labels = nodes.select("node", F.col("node").cast("long").alias("label"))
        seed_tbl = None
    else:
        ncol, lcol = seeds.columns[0], seeds.columns[1]
        seed_tbl = (
            seeds.select(
                F.col(ncol).alias("node"), F.col(lcol).cast("long").alias("label")
            )
            .where(F.col("node").isNotNull() & F.col("label").isNotNull())
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        nodes = nodes.unionByName(seed_tbl.select("node")).distinct()
        labels = nodes.join(seed_tbl, "node", "left")
    if not lazy:
        labels = labels.localCheckpoint(eager=False)

    for _ in range(iterations):
        contrib = (
            sym.join(
                labels.withColumnRenamed("node", "v").withColumnRenamed(
                    "label", "__nl__"
                ),
                "v",
            )
            .where(F.col("__nl__").isNotNull())
            .groupBy(F.col("u").alias("node"), F.col("__nl__").alias("cand"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        best = contrib.groupBy("node").agg(
            F.max_by(
                F.col("cand"), F.struct(F.col("n"), (-F.col("cand")).alias("t"))
            ).alias("__new__")
        )
        if seed_tbl is None:
            # community mode: the graph is symmetrized, so every node
            # has >= 1 (always-labeled) neighbor — contributions cover
            # all nodes and the keep-old-label join would be dead code
            upd = best.select("node", F.col("__new__").alias("label"))
        else:
            upd = labels.join(best, "node", "left").select(
                "node", F.coalesce("__new__", "label").alias("label")
            )
        if seed_tbl is not None and fixed_seeds:
            upd = (
                upd.join(
                    seed_tbl.withColumnRenamed("label", "__seed__"),
                    "node",
                    "left",
                )
                .select(
                    "node", F.coalesce("__seed__", "label").alias("label")
                )
            )
        labels = upd if lazy else upd.localCheckpoint(eager=False)
    return labels


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int = 3,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic pseudo-random walks: from every start node, take
    ``length`` steps, at each step choosing the neighbor that
    MINIMIZES ``md5(current || '|' || step || '|' || neighbor || seed)``
    — under ideal hashing the argmin over the neighbor set is a
    uniform random choice, yet the walk is fully reproducible on any
    engine with md5, independent of row/partition order. The
    positive-pair generator for contrastive/graph-embedding training
    that composes with ``sampling.negative_sample`` for the negatives.
    A walk stops early at a node with no out-neighbors.

    Returns (walk, step, node): step 0 is the start node itself.

    Scale shape: ``length`` rounds of (frontier join edges on the
    current node) -> one ``min_by`` hash agg per walk — frontier is
    walk-sized, the edge table is hash-partitioned once on ``src`` and
    reused every round; no windows, no driver state.
    """
    from .sampling import _md5_rank_key

    if length < 1:
        raise ValueError("length must be >= 1")
    # the frontier branches twice per step (next join + output union);
    # small fixed walk lengths stay lazy — AQE exchange reuse computes
    # the repeated edge/frontier subtrees once in ONE job instead of
    # paying a build-time job wave per step (see _lazy_unroll)
    lazy = _lazy_unroll(int(length), branches=2)
    # repartition first — the (u, v) dedup reuses the u-hash exchange
    # (r9, the pagerank fix)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .repartition("u")
        .distinct()
    )
    if not lazy:
        e = e.localCheckpoint(eager=False)
    scol = starts.columns[0]
    frontier = (
        starts.select(F.col(scol).alias("walk"))
        .where(F.col("walk").isNotNull())
        .distinct()
        .select("walk", F.col("walk").alias("node"))
    )
    out = frontier.select(
        "walk", F.lit(0).cast("int").alias("step"), "node"
    )
    for step in range(1, length + 1):
        key = _md5_rank_key(
            F.concat_ws(
                "|",
                F.col("node").cast("string"),
                F.lit(str(step)),
                F.col("v").cast("string"),
            ),
            seed,
        )
        frontier = (
            frontier.join(e, frontier["node"] == e["u"])
            .groupBy("walk")
            .agg(F.min_by(F.col("v"), key).alias("node"))
        )
        if not lazy:
            frontier = frontier.localCheckpoint(eager=False)
        out = out.unionByName(
            frontier.select(
                "walk", F.lit(step).cast("int").alias("step"), "node"
            )
        )
    return out
