"""Training-data sampling operators.

No reference analog beyond row-level ``sample`` (eland's seeded
random_score, eland/tasks.py:188-220); these are the dataset-curation
extensions every large-scale pipeline needs: per-stratum sampling
(balance sources/languages) and weighted dataset mixing (the "data
mixture" step of LLM training runs). Both are pure row-filter maps —
no shuffle, no driver data, deterministic under a seed."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._literals import map_lit

__all__ = ["stratified_sample", "mix_datasets", "sample_exact_n"]


def stratified_sample(
    sdf: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``df.sampleBy``): keep a
    different fraction of each stratum — e.g. downsample a dominant
    source to balance a corpus. Strata absent from ``fractions`` are
    dropped (sampleBy's contract). One scan, no shuffle."""
    return sdf.sampleBy(strata_col, fractions={k: float(v) for k, v in fractions.items()}, seed=seed)


def mix_datasets(
    parts: list[tuple[DataFrame, float]],
    seed: int = 42,
) -> DataFrame:
    """Weighted dataset mixture: subsample each source by its weight
    (0..1 keep-fraction) and union. The mixture is lazy — each source
    keeps its own scan + pushdown, and the union is a zero-cost plan
    node, so mixing N corpora adds no shuffle at any scale.

    Schemas must union by name (missing columns are not invented)."""
    if not parts:
        raise ValueError("mix_datasets needs at least one (frame, weight)")
    sampled = []
    for i, (sdf, w) in enumerate(parts):
        if not (0.0 <= w <= 1.0):
            raise ValueError(f"weight {w} not in [0, 1]")
        # vary the seed per source so identical frames don't correlate
        sampled.append(sdf.sample(fraction=float(w), seed=seed + i))
    out = sampled[0]
    for s in sampled[1:]:
        out = out.unionByName(s)
    return out


def _md5_rank_key(col, seed: int):
    """Engine-agnostic 60-bit ranking key: md5 of ``str(col) || str(seed)``,
    first 15 hex chars parsed as an integer. md5 is bit-identical across
    engines (unlike xxhash64), so DuckDB reproduces the exact ordering:
    ``CAST(('0x' || substr(md5(col::VARCHAR || 'seed'), 1, 15)) AS BIGINT)``."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(str(seed)))), 1, 15),
        16,
        10,
    ).cast("bigint")


def sample_exact_n(
    sdf: DataFrame,
    n: int,
    seed: int = 42,
    order_col: str | None = None,
    portable: bool = False,
) -> DataFrame:
    """Exactly-n random sample: rank by a seeded hash and take n.
    Unlike fraction sampling this is exact; the cost is one TakeOrdered
    (per-partition top-n + driver merge of n rows — no full sort
    shuffle). Deterministic given seed (+ a unique order_col for
    tie-free ordering; defaults to the hash of the whole row).

    ``portable=True`` (requires ``order_col``) ranks by an md5-derived
    key instead of xxhash64 — the same sample reproduces on any engine
    with md5 (the differential-oracle contract)."""
    if portable:
        if not order_col:
            raise ValueError("portable sampling needs an order_col")
        key = _md5_rank_key(F.col(order_col), seed)
    elif order_col:
        key = F.xxhash64(F.col(order_col), F.lit(seed))
    else:
        # MapType columns are unhashable; hash the hashable subset
        hashable = [
            f.name for f in sdf.schema.fields
            if not isinstance(f.dataType, T.MapType)
        ]
        key = F.xxhash64(*[F.col(c) for c in hashable], F.lit(seed))
    # collision-free temp name even if the frame has a __rand__ column
    tmp = "__rand__"
    while tmp in sdf.columns:
        tmp += "_"
    return sdf.withColumn(tmp, key).orderBy(tmp).limit(n).drop(tmp)


def split_by_hash(
    sdf,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "",
    split_col: str = "split",
):
    """Deterministic train/val/test assignment: md5(id || salt) prefix
    mod 10000 against cumulative fraction thresholds. Engine-agnostic
    (md5 is identical everywhere — unlike xxhash64), reproducible
    across runs/partitionings, zero shuffle (a pure projection; the
    split can be pushed into any downstream filter). Change ``salt``
    to re-deal the split without touching ids."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
    )
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        cond = h < int(round(cum * 10000))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return sdf.withColumn(split_col, expr)


def weighted_sample_n(
    sdf,
    weight_col: str,
    n: int,
    seed: int = 42,
    id_col: str | None = None,
):
    """Weighted sampling WITHOUT replacement (curation: sample
    documents proportional to a quality weight): Efraimidis-Spirakis
    exponential keys — each row draws u = hash-uniform(0,1) and keys on
    ``-ln(u)/w``; the n SMALLEST keys are an exact w-weighted sample.
    One scan + TakeOrdered (per-partition heaps, no full sort, no
    shuffle of the data itself); deterministic for a fixed seed via
    hash-derived uniforms, so the same sample reproduces across runs
    and engines reading the same rows. Zero-or-negative weights never
    get sampled.

    Pass ``id_col`` (a unique key) to derive the uniforms from md5 of
    the id instead of xxhash64 of the whole row — portable to any
    engine with md5 (the differential-oracle contract)."""
    if n <= 0:
        raise ValueError("n must be positive")
    w = F.col(weight_col).cast("double")
    if id_col:
        # 52-bit md5-derived uniform: first 13 hex chars of
        # md5(str(id) || str(seed)) — always < 2^52, exact in a double
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(str(seed)))), 1, 13
            ),
            16,
            10,
        ).cast("bigint")
        u = h.cast("double") / F.lit(float(2**52))
    else:
        # uniform(0,1) from a 64-bit hash of the whole row + seed
        h = F.abs(F.xxhash64(F.struct(*[F.col(c) for c in sdf.columns]), F.lit(seed)))
        u = (h % F.lit(2**52)).cast("double") / F.lit(float(2**52))
    # clamp away 0 so ln() stays finite
    key = -F.log(F.greatest(u, F.lit(1e-15))) / w
    tmp = "__wkey__"
    while tmp in sdf.columns:
        tmp += "_"
    return (
        sdf.filter(w > 0)
        .withColumn(tmp, key)
        .orderBy(F.col(tmp).asc())
        .limit(n)
        .drop(tmp)
    )


def cap_per_key(
    sdf: DataFrame,
    key_col: str,
    n: int,
    order_col: str,
    descending: bool = False,
):
    """Per-key row cap — the "at most N documents per domain/source"
    rule every web-scale curation pipeline applies so no single site
    dominates the corpus. Keeps the first ``n`` rows of each key in
    ``order_col`` order (descending=True keeps the last — e.g. cap by
    newest-first). Deterministic: ties are impossible when order_col is
    unique; otherwise the (order_col) sort is stable only up to ties,
    so pass a unique column.

    One shuffle (hash partition by key + in-partition sort); row_number
    + filter never materializes more than the partition being ranked,
    and AQE splits skewed keys. At 100 TB this beats any groupBy/
    collect_list shape — no per-key array is ever built.
    """
    from pyspark.sql import Window

    if n <= 0:
        raise ValueError("n must be positive")
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(key_col).orderBy(oc)
    tmp = "__rn__"
    while tmp in sdf.columns:
        tmp += "_"
    return (
        sdf.withColumn(tmp, F.row_number().over(w))
        .filter(F.col(tmp) <= int(n))
        .drop(tmp)
    )


def sample_to_token_budget(
    sdf: DataFrame,
    cost_col: str,
    budget: int,
    id_col: str,
    group_col: str | None = None,
    seed: int = 42,
):
    """Budgeted mixture sampling: keep a random-but-deterministic subset
    of each group whose CUMULATIVE cost (tokens, chars, bytes) stays
    within ``budget`` — the "give me ~1B tokens per source" step of
    assembling a training mixture, where per-row sampling fractions
    can't hit an exact token target.

    Rows are ordered by an md5-derived key of (id, seed) — an unbiased
    deterministic shuffle that reproduces bit-identically on any engine
    with md5 (the differential-oracle contract) — then a running sum
    over that order admits rows while the inclusive prefix total is
    <= budget. Changing ``seed`` re-deals the sample.

    One hash shuffle (partition by group + in-partition sort) when
    ``group_col`` is given — the window is a streaming prefix sum, no
    per-group state beyond the accumulator, no driver data, and AQE
    splits skewed groups. WITHOUT a group the global prefix sum uses
    the windowless bucket plan of ``ranking.with_global_cumagg``
    (range-bucketed positions + driver-combined bucket offsets) — no
    single-partition window at any scale. Rows with non-positive cost
    pass through free (they never consume budget).
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    key = _md5_rank_key(F.col(id_col), seed)
    cost = F.greatest(F.col(cost_col).cast("double"), F.lit(0.0))
    tmp = "__cum__"
    while tmp in sdf.columns:
        tmp += "_"
    if group_col is None:
        from .ranking import with_global_cumagg

        kcol, ccol = tmp + "k", tmp + "c"
        staged = sdf.withColumn(kcol, key).withColumn(ccol, cost)
        out = with_global_cumagg(
            staged, [kcol, id_col], [(ccol, "sum", tmp)]
        )
        return out.filter(F.col(tmp) <= float(budget)).drop(kcol, ccol, tmp)
    w = (
        Window.partitionBy(group_col)
        .orderBy(key.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sdf.withColumn(tmp, F.sum(cost).over(w))
        .filter(F.col(tmp) <= float(budget))
        .drop(tmp)
    )


def temperature_weights(
    sizes: dict[str, int], alpha: float = 0.5
) -> dict[str, float]:
    """Temperature-scaled mixture proportions from corpus sizes:
    ``p_i = n_i^alpha / sum_j n_j^alpha`` (alpha=1 reproduces natural
    proportions, alpha->0 approaches uniform — the standard
    multilingual/multi-corpus rebalancing rule)."""
    if not sizes:
        return {}
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    powed = {k: float(n) ** alpha for k, n in sizes.items() if n > 0}
    z = sum(powed.values())
    return {k: v / z for k, v in powed.items()}


def sample_by_temperature(
    sdf: DataFrame,
    source_col: str,
    id_col: str,
    target_rows: int,
    alpha: float = 0.5,
    seed: int = 42,
    allow_oversample: bool = False,
) -> DataFrame:
    """Temperature-based mixture sampling over ONE frame with a source
    column: per-source keep-rates are derived from the temperature
    proportions (``rate_i = target * p_i / n_i``) and applied with the
    deterministic md5 threshold — the SAME engine-agnostic key as
    :func:`sample_exact_n`, so the whole op (counts -> rates -> keep)
    replays in plain SQL.

    ``allow_oversample=False`` (default) caps rates at 1 (pure
    subsampling). ``allow_oversample=True`` lets upweighted small
    sources REPEAT (the standard low-resource epoch-repetition rule):
    each row yields ``floor(rate)`` copies plus one more when its md5
    key falls under the fractional remainder; the output gains a
    0-based ``copy`` column so (id, copy) stays a key. Replication is
    a zero-shuffle explode — no per-source scans, no union.

    Scale shape: one count aggregation (k rows to the driver), then a
    zero-shuffle filter/explode."""
    counts = {
        r["s"]: r["n"]
        for r in sdf.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    props = temperature_weights(counts, alpha)
    rates = {k: target_rows * p / counts[k] for k, p in props.items()}
    if not allow_oversample:
        rates = {k: min(1.0, r) for k, r in rates.items()}
    if not rates:
        return sdf.filter(F.lit(False))
    rate_map = map_lit(
        rates, sdf.schema[source_col].dataType.simpleString(), "double"
    )
    # md5 key is uniform on [0, 16^15); compare against rate * 16^15
    key = _md5_rank_key(F.col(id_col), seed).cast("double")
    r = rate_map[F.col(source_col)]
    space = F.lit(float(16 ** 15))
    if not allow_oversample:
        return sdf.filter(key < r * space)
    base = F.floor(r).cast("int")
    extra = (key < (r - F.floor(r)) * space).cast("int")
    return (
        sdf.withColumn("__n__", base + extra)
        .filter(F.col("__n__") > 0)
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.col("__n__") - 1)).alias("copy"),
        )
        .drop("__n__")
    )


def allocate_budget(
    domains: DataFrame,
    domain_col: str,
    weight_col: str,
    cap_col: str,
    total: float,
) -> DataFrame:
    """Water-filling budget allocation: split a total token budget
    across domains proportionally to ``weight_col``, never exceeding
    each domain's availability ``cap_col`` — surplus from capped
    domains redistributes to the rest (the allocation rule behind
    "give me a 1T-token mix at these weights from what each source
    actually has").

    alloc_i = min(cap_i, lambda * w_i) with lambda chosen so the total
    is min(total, sum(cap)). Closed form, no iteration: sort by the
    fill ratio r_i = cap_i / w_i; lambda is (total - caps already
    exhausted) / (weight not yet capped) at the first domain that does
    NOT cap out. Every step is declarative: the prefix sums ride the
    windowless bucket-cumsum plan (one balanced exchange — the domain
    table is small, but no single-partition window on principle), the
    threshold is one min_by aggregate, and the final projection joins
    it back as a broadcast literal. Exactly replayable in SQL.

    Zero-weight domains get 0. Returns (domain, weight, cap, alloc)
    with fractional double allocations; integer rounding policy is the
    caller's.
    """
    from .ranking import with_global_cumagg

    if total < 0:
        raise ValueError("total must be >= 0")
    base = domains.select(
        F.col(domain_col).alias("domain"),
        F.col(weight_col).cast("double").alias("w"),
        F.col(cap_col).cast("double").alias("cap"),
    )
    zero_w = base.filter(~(F.col("w") > 0)).select(
        "domain", "w", "cap", F.lit(0.0).alias("alloc")
    )
    pos = base.filter(F.col("w") > 0).withColumn("r", F.col("cap") / F.col("w"))
    cum = with_global_cumagg(
        pos,
        ["r", "domain"],
        [("cap", "sum", "cum_cap"), ("w", "sum", "cum_w")],
    )
    tot = pos.agg(F.sum("w").alias("W"), F.sum("cap").alias("C")).collect()[0]
    w_total = float(tot["W"] or 0.0)
    if w_total == 0.0:
        return zero_w
    lam_i = (F.lit(float(total)) - (F.col("cum_cap") - F.col("cap"))) / (
        F.lit(w_total) - (F.col("cum_w") - F.col("w"))
    )
    flagged = cum.withColumn("lam", lam_i).filter(F.col("lam") <= F.col("r"))
    lam_row = flagged.agg(
        F.min_by("lam", F.struct("r", "domain")).alias("lam")
    )
    out = (
        cum.crossJoin(F.broadcast(lam_row))
        .select(
            "domain",
            "w",
            "cap",
            F.when(F.col("lam").isNull(), F.col("cap"))
            .otherwise(
                F.greatest(
                    F.lit(0.0), F.least(F.col("cap"), F.col("lam") * F.col("w"))
                )
            )
            .alias("alloc"),
        )
    )
    return out.unionByName(zero_w)


def negative_sample(
    positives: DataFrame,
    corpus: DataFrame,
    anchor_col: str,
    positive_col: str,
    corpus_id_col: str,
    k: int = 5,
    seed: int = 42,
    oversample: int = 3,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every distinct anchor in ``positives``, draw ``k`` corpus ids that
    are NOT among the anchor's positives — the (anchor, negative)
    pairs a contrastive/embedding trainer consumes next to its
    (anchor, positive) pairs.

    Draws are md5-hash pseudo-randoms mod the corpus id span
    (``max(id) + 1``), so the sample is reproducible on any engine
    with md5 and independent of row order. Draw j for an anchor is
    ``md5(anchor || '|' || j || seed)`` — NOTE: no separator before
    the seed, the ``_md5_rank_key`` convention every portable sampler
    in this module shares; an oracle reimplementing the recipe must
    concatenate exactly this way. Anchors don't share draws, reruns
    don't reshuffle. Ids are drawn UNIFORMLY over
    [0, max+1): ids absent from the corpus (sparse id spaces) and
    collisions with the anchor's positives simply drop, and
    ``oversample`` extra draws per slot cover the loss; the contract
    is "k negatives when the corpus is dense and positives are few"
    (ValueError would be wrong — a sparse tail anchor with fewer
    survivors keeps what it has). Dense contiguous ids (the layout
    ``zorder``/sharding writes) lose nothing.

    Scale shape: distinct anchors -> explode ``k * oversample`` draw
    slots (bounded fan-out) -> one hash join against corpus ids (drops
    gaps) -> one anti-join against the positives -> per-anchor top-k
    by slot order via a window over anchor partitions, each bounded to
    k * oversample rows. No global window, no driver state.

    Returns (anchor, neg_id, slot) with slot = the draw's rank among
    the anchor's surviving draws (1..k).
    """
    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    n_draws = k * oversample
    span = corpus.agg(
        (F.max(F.col(corpus_id_col)) + 1).cast("bigint").alias("__span__")
    )
    anchors = positives.select(
        F.col(anchor_col).alias("__anchor__")
    ).where(F.col("__anchor__").isNotNull()).distinct()
    draws = (
        anchors.crossJoin(F.broadcast(span))
        .select(
            "__anchor__",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_draws - 1))
            ).alias("__j__"),
            "__span__",
        )
        .select(
            "__anchor__",
            "__j__",
            (
                _md5_rank_key(
                    F.concat_ws(
                        "|", F.col("__anchor__").cast("string"),
                        F.col("__j__").cast("string"),
                    ),
                    seed,
                )
                % F.col("__span__")
            ).alias("__cand__"),
        )
    )
    # keep only ids that exist in the corpus (gaps drop)
    existing = corpus.select(
        F.col(corpus_id_col).alias("__cand__")
    ).distinct()
    draws = draws.join(existing, "__cand__")
    # exclude the anchor's own positives (and the anchor itself when
    # the two id spaces coincide)
    pos = positives.select(
        F.col(anchor_col).alias("__anchor__"),
        F.col(positive_col).alias("__cand__"),
    ).unionByName(
        positives.select(
            F.col(anchor_col).alias("__anchor__"),
            F.col(anchor_col).alias("__cand__"),
        )
    ).distinct()
    draws = draws.join(pos, ["__anchor__", "__cand__"], "left_anti")
    # duplicate draws of one id collapse to the earliest slot
    firsts = draws.groupBy("__anchor__", "__cand__").agg(
        F.min("__j__").alias("__j__")
    )
    w = Window.partitionBy("__anchor__").orderBy(F.col("__j__").asc())
    return (
        firsts.withColumn("__rk__", F.row_number().over(w))
        .where(F.col("__rk__") <= k)
        .select(
            F.col("__anchor__").alias("anchor"),
            F.col("__cand__").cast("long").alias("neg_id"),
            F.col("__rk__").cast("int").alias("slot"),
        )
    )
