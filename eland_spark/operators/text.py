"""Text-analysis operators for large-scale document pipelines.

No reference analog beyond the es_match predicate; these are the
training-data extensions (language-ID heuristic, quality scoring, token
counting, document fingerprinting). Everything is built-in Column
expressions — whole-stage-codegen'd, no Python in the hot path, so the
same plan runs on 100 TB of documents with zero serialization overhead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .._literals import array_lit, map_lit

# Per-language stopword marker sets for the n-gram/stopword language-ID
# heuristic. Tiny on purpose: broadcastable as literals inside the plan.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans"],
    "es": ["el", "los", "las", "es", "una", "que", "por"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"],
}

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be",
]


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text -> array<string>."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens(text))
    ).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-approximate token count: word pieces of <=4 chars — a
    deterministic regex stand-in for subword tokenization: count of
    alnum runs plus extra pieces for long words (ceil(len/4))."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )


def punct_ratio(text: Column) -> Column:
    total = F.length(text)
    punct = total - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or EN_STOPWORDS
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score(text: Column) -> Column:
    """Composite heuristic in [0,1]: rewards moderate length, low
    punctuation, presence of stopwords (prose-likeness)."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / 100.0, F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    sw_score = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    return (len_score + punct_score + sw_score) / 3.0


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker hit-count (the n-gram-heuristic language ID)."""
    toks = tokens(F.lower(text))
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax over language marker scores; ties break by language code
    order (deterministic). Unknown when no marker hits.

    One ``array_max`` over (score, -code_index) structs: struct
    ordering picks the highest score and, on ties, the larger ``-i`` —
    i.e. the EARLIEST code — exactly the old chained strict-'>' scan.
    (The chained form doubled the expression tree per language —
    ``best_score`` fed both the next condition and its fallback — a
    2^N blowup in plan size and codegen; this form is linear.)"""
    scores = lang_scores(text)
    pairs = sorted(scores.items())
    entries = F.array(
        *[
            F.struct(score.alias("s"), F.lit(-i).alias("j"))
            for i, (_lang, score) in enumerate(pairs)
        ]
    )
    m = F.array_max(entries)
    langs = array_lit([lang for lang, _ in pairs], "string")
    return F.when(
        m["s"] > 0, F.element_at(langs, -m["j"] + 1)
    ).otherwise(F.lit("unknown"))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the sorted de-duplicated lowercase
    token set (the classic 'fingerprint' clustering key — invariant to
    word order and repetition)."""
    toks = F.array_sort(F.array_distinct(tokens(F.lower(text))))
    return F.md5(F.concat_ws(" ", toks))


def vocabulary(
    sdf,
    text: Column,
    min_count: int = 1,
    top_k: int | None = None,
    normalized: bool = True,
):
    """Corpus vocabulary with frequencies: explode tokens -> one
    hash-partial-aggregated groupBy (map-side combine bounds the shuffle
    by |vocab| per partition, not by token count — the property that
    makes this viable on 100 TB of text). Deterministic order: count
    desc, token asc.

    Returns a Spark DataFrame (token string, count long)."""
    from pyspark.sql import functions as F

    from .dedup import normalized_tokens

    toks = normalized_tokens(text) if normalized else tokens(text)
    out = (
        sdf.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
        .orderBy(F.desc("count"), F.asc("token"))
    )
    if top_k is not None:
        out = out.limit(top_k)
    return out


def unigram_logppl(
    sdf,
    text: Column,
    id_col: Column,
    top_v: int = 1000,
    floor_count: float = 0.5,
    extra_cols: list[Column] | None = None,
):
    """Unigram-LM log-perplexity per document — the classic
    perplexity-filter stage of a corpus-curation pipeline (score against
    a language model, drop the tails). The LM here is the corpus's own
    top-``top_v`` unigram table; a real pipeline swaps in counts from a
    reference corpus unchanged.

    score(doc) = -(1/n) * sum_t ln(count(t) / total), with unseen/OOV
    tokens floored at ``floor_count`` occurrences; empty docs score
    null.

    Plan: one explode+groupBy pass builds the count table (map-side
    combined, bounded by |vocab|), the top-``top_v`` rows collect to the
    driver (bounded, like a pivot's explicit values) and ship as a
    broadcast map literal; scoring is then a PURE MAP STAGE — an
    ordered fold over each doc's token array, zero shuffle, no join.
    That is the 100 TB shape: the LM is a small broadcast table, the
    corpus streams through codegen once.

    Returns a Spark DataFrame (id, n_tokens, logppl[, *extra_cols])
    — ``extra_cols`` are zero-cost passthrough projections (e.g. the
    language column for downstream per-language bucketing).
    """
    from pyspark.sql import functions as F

    from .dedup import normalized_tokens

    vocab_rows = vocabulary(sdf.select(text.alias("__t__")),
                            F.col("__t__"), top_k=top_v).collect()
    total = sdf.select(
        F.sum(F.size(normalized_tokens(text))).alias("n")
    ).collect()[0]["n"] or 0
    if vocab_rows:
        lm = map_lit(
            {r["token"]: float(r["count"]) for r in vocab_rows}, "string", "double"
        )
        lookup = lm.__getitem__
    else:
        # empty corpus: no LM table — every token floors (the score is
        # only reachable for docs with tokens, which implies total>0)
        lookup = lambda t: F.lit(None).cast("double")  # noqa: E731
    toks = normalized_tokens(text)
    logp = lambda t: F.log(  # noqa: E731
        F.coalesce(lookup(t), F.lit(float(floor_count)))
        / F.lit(float(max(total, 1)))
    )
    n = F.size(toks)
    score = F.when(
        n > 0,
        -F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + logp(t)
        ) / n,
    )
    return sdf.select(
        id_col.alias("id"),
        n.cast("long").alias("n_tokens"),
        score.alias("logppl"),
        *(extra_cols or []),
    )


def remove_boilerplate(
    sdf,
    text: Column,
    id_col: Column,
    delim: str = ". ",
    min_docs: int = 5,
):
    """Corpus-frequent segment scrub — the boilerplate-removal stage of
    web-corpus curation (cookie banners, nav text, license footers):
    drop every ``delim``-separated segment whose trimmed form appears
    in at least ``min_docs`` DISTINCT documents, preserving the order
    of what remains.

    Plan: posexplode segments once; the boilerplate set is a
    distinct(doc, segment) -> groupBy(segment) count (map-side
    combined, bounded by |distinct segments|); a join marks segments
    (AQE broadcasts the small boilerplate side) and ONE hash shuffle on
    the doc id rebuilds documents via an order-preserving
    collect_list/array_sort fold. Null-text rows produce no output row
    (split(null) explodes to nothing) — filter or fillna first.

    Returns a Spark DataFrame (id, clean_text, n_removed).
    """
    import re as _re

    from pyspark.sql import functions as F

    segs = sdf.select(
        id_col.alias("__id__"),
        F.posexplode(F.split(text, _re.escape(delim))).alias("__pos__", "__seg__"),
    ).withColumn("__norm__", F.trim(F.col("__seg__")))
    boiler = (
        segs.filter(F.col("__norm__") != "")
        .select("__id__", "__norm__")
        .distinct()
        .groupBy("__norm__")
        .agg(F.count(F.lit(1)).alias("__nd__"))
        .filter(F.col("__nd__") >= min_docs)
        .select("__norm__", F.lit(True).alias("__b__"))
    )
    marked = segs.join(boiler, "__norm__", "left")
    kept_struct = F.when(
        F.col("__b__").isNull(), F.struct("__pos__", "__seg__")
    )
    return marked.groupBy("__id__").agg(
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["__seg__"],
            ),
        ).alias("clean_text"),
        F.sum(F.when(F.col("__b__"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    ).withColumnRenamed("__id__", "id")


def repetition_stats(tokens_col: Column) -> dict[str, Column]:
    """Within-document repetition signals (Gopher-style quality
    filters for training-data curation) over a MATERIALIZED token-array
    column: fraction of repeated words, fraction of repeated bigrams,
    and the top word's frequency share. Per-row higher-order functions
    — embarrassingly parallel, no shuffle, no UDF:

    - ``word_rep_frac``  = 1 - |distinct words| / |words|
    - ``bigram_rep_frac`` = 1 - |distinct bigrams| / |bigrams|
    - ``top_word_frac``  = count of most frequent word / |words|,
      computed as the max run length of the SORTED token array via one
      ``aggregate`` fold (no per-doc groupBy, no map build).

    ``tokens_col`` MUST be an already-projected array column (use
    ``repetition_frame`` for the two-step select) — passing an inline
    ``normalized_tokens(text)`` expression would re-split the text on
    every ``element_at`` access inside the HOF lambdas (HOFs are
    interpreted, no common-subexpression elimination: measured ~90x
    slower, same trap as ``shingle_rows``).

    Returns named Column expressions; attach with ``select``/``assign``.
    High values on any of them mark boilerplate/spam documents.
    """
    l = tokens_col
    n = F.size(l)
    bi = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(l, i + 1), F.element_at(l, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    nbi = F.size(bi)
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top_cnt = F.aggregate(F.array_sort(l), acc0, _step, lambda a: a["best"])
    return {
        "n_words": n.cast("long"),
        "word_rep_frac": F.when(n == 0, 0.0).otherwise(
            1.0 - F.size(F.array_distinct(l)) / n
        ),
        "bigram_rep_frac": F.when(nbi == 0, 0.0).otherwise(
            1.0 - F.size(F.array_distinct(bi)) / nbi
        ),
        "top_word_frac": F.when(n == 0, 0.0).otherwise(top_cnt / n),
    }


def repetition_frame(sdf, text: Column, id_col: Column):
    """Per-document repetition signals as a Spark DataFrame
    (id, n_words, word_rep_frac, bigram_rep_frac, top_word_frac).
    Two chained projections: the first materializes the token array
    ONCE per row, the second computes the HOF signals over it — one
    codegen'd map stage, zero shuffles."""
    from .dedup import normalized_tokens

    toks = sdf.select(id_col.alias("__id__"), normalized_tokens(text).alias("__toks__"))
    s = repetition_stats(F.col("__toks__"))
    return toks.select("__id__", *[v.alias(k) for k, v in s.items()])


DEFAULT_REDACTIONS: dict[str, str] = {
    # order matters: longer/structured patterns first
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IPV4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "PHONE": r"(?:\+\d{1,3}[-. ]*)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b",
    "SSN": r"\b\d{3}-\d{2}-\d{4}\b",
    "CREDIT_CARD": r"\b(?:\d[ -]*?){13,16}\b",
}


def redact(text: Column, patterns: dict[str, str] | None = None) -> Column:
    """Scrub sensitive spans: each match is replaced with its
    ``[LABEL]`` tag (curation-pipeline PII pass). A chained
    ``regexp_replace`` — codegen'd, zero shuffle, scan-speed at any
    scale. Patterns are label -> regex; defaults cover email/IP/
    phone/SSN/card shapes (heuristic, not a compliance tool)."""
    out = text
    for label, pat in (patterns or DEFAULT_REDACTIONS).items():
        out = F.regexp_replace(out, pat, f"[{label}]")
    return out


def redaction_counts(text: Column, patterns: dict[str, str] | None = None) -> dict:
    """Per-label match counts (audit twin of :func:`redact`)."""
    return {
        label: F.size(F.regexp_extract_all(text, F.lit(f"({pat})"), 1))
        for label, pat in (patterns or DEFAULT_REDACTIONS).items()
    }


def rolling_hash(text: Column, base: int = 31, mod: int = 2**31 - 1) -> Column:
    """Polynomial rolling hash over tokens (order-sensitive fingerprint):
    h = sum(hash_i * base^(n-i)) mod m, computed as fold
    h = (h*base + xxhash64(tok)) mod m."""
    return F.aggregate(
        tokens(F.lower(text)),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + F.pmod(F.xxhash64(t), F.lit(mod))) % mod,
    )


def tfidf_top_terms(
    sdf,
    text: Column,
    id_col: Column,
    k: int = 5,
    min_df: int = 1,
):
    """Per-document top-k TF-IDF terms.

    Plan shape (all codegen'd, two shuffles total): explode tokens ->
    one groupBy (doc, term) for term frequencies (map-side combined);
    document frequencies AND the document count both aggregated from
    that same tf table (never a second pass over raw text, no separate
    driver-side count job — N rides along as a broadcast single-row
    cross join, so it counts documents contributing >= 1 token);
    idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn-style); per-doc
    top-k via rank window partitioned by doc. The df table is
    broadcast back (|vocab| rows, small by Zipf) so the join adds no
    shuffle. Deterministic ties: score desc, term asc.

    Returns a Spark DataFrame (doc_id, term, tf long, score double,
    rnk int).
    """
    from pyspark.sql import Window

    from .dedup import normalized_tokens

    toks = sdf.select(
        id_col.alias("doc_id"), F.explode(normalized_tokens(text)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint(eager=False)  # df + join + N all read it; compute once
    nd = tf.agg(F.countDistinct("doc_id").alias("__n__"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    idf = F.log((F.col("__n__").cast("double") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nd))
        .select("doc_id", "term", "tf", (F.col("tf") * idf).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", F.round("score", 6).alias("score"), "rnk")
    )


def perplexity_buckets(
    sdf,
    text: Column,
    id_col: Column,
    lang_col: Column,
    n_buckets: int = 3,
    top_v: int = 1000,
):
    """CCNet-style quality bucketing: score each document with the
    unigram-LM log-perplexity, then split EACH LANGUAGE into
    ``n_buckets`` equal-size tiers (ntile) by ascending perplexity —
    bucket 1 is the "head" (most fluent), the last bucket the "tail"
    (candidates for dropping or downweighting). CCNet keeps head+middle
    for LM pretraining; the bucket column makes that a trivial filter.

    Empty documents (no tokens → null score) are excluded — they carry
    no signal and their tier would be arbitrary.

    The tier order key is the score ROUNDED to 6 decimals (+ id
    tiebreak): rounding makes the ordering — hence the tile boundaries —
    bit-stable across engines whose float folds differ in the last ulp
    (the differential-oracle contract).

    Plan: the LM is a broadcast map literal (see unigram_logppl), so
    scoring is a pure map stage; the only shuffle is the per-language
    ntile exchange, which partitions by language — at 100 TB ntile
    within a language is a range computation over that language's
    partition set, and skewed corpora (one dominant language) are
    exactly the case where per-language partitioning beats a global
    sort.

    Returns a Spark DataFrame (id, lang, n_tokens, logppl, bucket,
    tier) where tier is 'head' / 'middle' / 'tail' (middle collapses
    for n_buckets < 3).
    """
    from pyspark.sql import Window

    scored = unigram_logppl(
        sdf, text, id_col, top_v=top_v, extra_cols=[lang_col.alias("lang")]
    ).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("lang").orderBy(
        F.round(F.col("logppl"), 6).asc(), F.col("id").asc()
    )
    bucket = F.ntile(int(n_buckets)).over(w)
    tier = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == int(n_buckets), F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return scored.select(
        "id",
        "lang",
        "n_tokens",
        "logppl",
        bucket.alias("bucket"),
        tier.alias("tier"),
    )


def linear_classifier_score(
    text: Column,
    weights: dict[str, float],
    bias: float = 0.0,
    normalize: bool = True,
) -> Column:
    """fastText-style linear text classifier score, all JVM-side: mean
    of per-token weights (OOV tokens weigh 0) plus a bias, through a
    sigmoid. ``weights`` is the trained vocabulary->weight table,
    broadcast as a map literal (fastText averages bag-of-words vectors
    through a linear layer — with a 1-d output this IS that model).

    The standard pretraining-data quality gate (CCNet/fastText-style
    classifiers): train offline, score at corpus scale with zero
    Python, zero shuffle. ``normalize=False`` sums instead of
    averaging."""
    if not weights:
        raise ValueError("weights must be a non-empty dict")
    wmap = map_lit(dict(sorted(weights.items())), "string", "double")
    toks = F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != ""
    )
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(wmap[t], F.lit(0.0)),
    )
    n = F.size(toks)
    raw = (
        F.when(n > 0, total / n).otherwise(F.lit(0.0))
        if normalize
        else total
    )
    z = raw + F.lit(float(bias))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def classifier_quality_gate(
    sdf,
    text: Column,
    weights: dict[str, float],
    bias: float = 0.0,
    threshold: float = 0.5,
    score_col: str = "quality_prob",
):
    """Filter a corpus by classifier probability >= threshold, keeping
    the score column for tiering. Zero shuffle — the gate is a scan
    predicate; at 100 TB this is the cheapest possible quality pass."""
    scored = sdf.withColumn(
        score_col, linear_classifier_score(text, weights, bias)
    )
    return scored.filter(F.col(score_col) >= threshold)


def remove_repeated_segments(
    text: Column, sep: str = r"\n\n+", joiner: str = "\n\n",
    drop_empty: bool = True,
) -> Column:
    """Intra-document dedup: split on ``sep``, keep the FIRST
    occurrence of each exact segment (order preserved), rejoin with
    ``joiner`` — the within-doc half of repetition cleaning (the
    corpus-frequency half is :func:`remove_boilerplate`).

    Pure Column fold, zero shuffle. The contains-check is O(k^2) per
    doc over the SEGMENT count (paragraphs/lines — tens, not tokens),
    so the quadratic term is bounded by document structure, not size.
    """
    parts = F.split(text, sep)
    empty = F.array().cast("array<string>")
    keep = F.aggregate(
        parts,
        empty,
        lambda acc, x: F.when(
            F.array_contains(acc, x)
            | (F.lit(drop_empty) & (F.length(F.trim(x)) == 0)),
            acc,
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.array_join(keep, joiner)


def wordpiece_tokenize(
    sdf,
    text: Column,
    id_col: Column,
    vocab: "list[str]",
    unk: str = "[UNK]",
    max_word_chars: int = 64,
):
    """REAL WordPiece tokenization (BERT tokenizer semantics): each
    whitespace/alnum word is split by greedy LONGEST-MATCH against
    ``vocab`` — continuation pieces carry the ``##`` prefix, and a word
    with no valid segmentation becomes a single ``unk`` token, exactly
    like HF's WordpieceTokenizer. This is the vocab-faithful upgrade of
    ``bpe_ish_token_count``: pass a model's real vocabulary and the
    token counts/budgets downstream (packing, chunking, mixtures) match
    the model's own tokenizer.

    Plan: Arrow-batched mapInPandas (the greedy per-word loop is
    imperative by nature); the vocabulary ships once per executor via a
    closure-captured frozenset (broadcast semantics), so the stage is a
    pure map — no shuffle beyond the small-input fan-out exchange
    (``ensure_parallelism``, a no-op at real scale). Words longer than
    ``max_word_chars`` map to ``unk`` without scanning (HF's
    max_input_chars_per_word guard).

    Returns (id, tokens array<string>, n_tokens long). Engine-portable:
    greedy longest-match is deterministic, so a SQL engine replays it
    with a recursive CTE over (word, position) states — see the
    ``wordpiece`` driver query's DuckDB oracle.
    """
    from pyspark.sql import types as T

    from .dedup import normalized_tokens

    heads = frozenset(v for v in vocab if not v.startswith("##"))
    conts = frozenset(v[2:] for v in vocab if v.startswith("##"))
    max_piece = max((len(v) for v in heads | conts), default=1)

    def _word(word: str) -> "list[str]":
        if len(word) > max_word_chars:
            return [unk]
        out, pos, n = [], 0, len(word)
        while pos < n:
            table = heads if pos == 0 else conts
            end = min(n, pos + max_piece)
            while end > pos and word[pos:end] not in table:
                end -= 1
            if end == pos:
                return [unk]
            out.append(word[pos:end] if pos == 0 else "##" + word[pos:end])
            pos = end
        return out

    from .parallelism import ensure_parallelism

    # spread single-file inputs before the Python stage (no-op at real
    # scale); keyed by id so any downstream per-doc agg reuses it
    words_df = ensure_parallelism(
        sdf.select(id_col.alias("id"), normalized_tokens(text).alias("__w__")),
        "id",
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            toks = [
                # Arrow delivers the array column as numpy ndarray (or
                # None for null text) — no bool() on it
                [t for w in (ws if ws is not None else []) for t in _word(w)]
                for ws in pdf["__w__"]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    schema = T.StructType(
        [
            words_df.schema["id"],
            T.StructField("tokens", T.ArrayType(T.StringType())),
            T.StructField("n_tokens", T.LongType()),
        ]
    )
    return words_df.mapInPandas(run, schema)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def add_gopher_columns(
    sdf,
    text: "str | Column" = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
):
    """Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    ... Gopher", Appendix A1.1) as one per-row Column expression pass —
    the canonical pre-training quality filter, zero shuffle, zero UDF,
    fully pushdown-compatible downstream.

    Signals per document, each with its published default threshold:
    word count in [50, 100k]; mean word length in [3, 10]; symbol
    ('#' or '...') to word ratio <= 0.1; < 90% of lines starting with
    a bullet; < 30% of lines ending with an ellipsis; >= 80% of words
    containing an alphabetic character; >= 2 distinct stopwords from
    {the, be, to, of, and, that, have, with}. ``gopher_pass`` is the
    conjunction. Thresholds are keyword-overridable; counting uses
    non-overlapping occurrences (string replace semantics) so any SQL
    engine replays it bit-identically.

    APPENDS the signal/rule/pass columns to the input frame (existing
    columns kept) — stateless and append-mode safe, so the same
    builder serves batch frames and streams; use
    :func:`gopher_quality_frame` for the per-doc projection.
    """
    tcol = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.trim(tcol), r"\s+"), lambda t: t != "")
    n_words = F.size(toks).cast("long")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    mean_wl = F.when(n_words > 0, total_len.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    n_hash = F.length(tcol) - F.length(F.replace(tcol, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(tcol) - F.length(F.replace(tcol, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis).cast("double") / n_words
    ).otherwise(F.lit(0.0))

    lines = F.filter(F.split(tcol, r"\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.ltrim(ln).startswith("- ")
            | F.ltrim(ln).startswith("* ")
            | F.ltrim(ln).startswith("•"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...") | F.rtrim(ln).endswith("…"),
        )
    )
    bullet_frac = F.when(
        n_lines > 0, bullet_lines.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0, ellipsis_lines.cast("double") / n_lines
    ).otherwise(F.lit(0.0))

    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.when(
        n_words > 0, alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))

    sw_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            array_lit(GOPHER_STOPWORDS, "string"),
        )
    ).cast("long")

    out = sdf.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": F.round(mean_wl, 6),
            "symbol_word_ratio": F.round(symbol_ratio, 6),
            "bullet_line_frac": F.round(bullet_frac, 6),
            "ellipsis_line_frac": F.round(ellipsis_frac, 6),
            "alpha_word_frac": F.round(alpha_frac, 6),
            "stopword_hits": sw_hits,
        }
    )
    rules = {
        "rule_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "rule_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "rule_symbol_ratio": F.col("symbol_word_ratio") <= max_symbol_word_ratio,
        "rule_bullet_lines": F.col("bullet_line_frac") < max_bullet_line_frac,
        "rule_ellipsis_lines": F.col("ellipsis_line_frac") < max_ellipsis_line_frac,
        "rule_alpha_words": F.col("alpha_word_frac") >= min_alpha_word_frac,
        "rule_stopwords": F.col("stopword_hits") >= min_stopword_hits,
    }
    for name, expr in rules.items():
        out = out.withColumn(name, expr)
    passed = None
    for name in rules:
        passed = F.col(name) if passed is None else passed & F.col(name)
    return out.withColumn("gopher_pass", passed)


GOPHER_COLUMNS = [
    "n_words", "mean_word_len", "symbol_word_ratio", "bullet_line_frac",
    "ellipsis_line_frac", "alpha_word_frac", "stopword_hits",
    "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
    "rule_bullet_lines", "rule_ellipsis_lines", "rule_alpha_words",
    "rule_stopwords", "gopher_pass",
]


def gopher_quality_frame(
    sdf,
    text: "str | Column" = "text",
    id_col: str = "doc_id",
    **thresholds,
):
    """Per-document Gopher signal/rule projection: ``(id, <signals>,
    <rule_*>, gopher_pass)``. See :func:`add_gopher_columns` (the
    batch/stream-shared builder — streaming gates use it directly to
    keep the full row)."""
    out = add_gopher_columns(sdf, text, **thresholds)
    return out.select(F.col(id_col).alias("id"), *GOPHER_COLUMNS)


def add_c4_columns(
    sdf,
    text: "str | Column" = "text",
    line_sep: str = r"\n",
    joiner: str = "\n",
    min_words_per_line: int = 5,
    require_terminal_punct: bool = True,
    drop_line_tokens: "list[str] | None" = None,
    min_kept_lines: int = 3,
    page_blocklist: "list[str] | None" = None,
    bad_words: "list[str] | None" = None,
):
    """C4 cleanup (Raffel et al. 2020, "Exploring the Limits of
    Transfer Learning...", §2.2) as one per-row Column pass — the
    line-level half of the canonical curation stack (Gopher rules are
    the doc-level half; see ``gopher_quality_frame``).

    Line rules (each line must pass ALL): ends in a terminal
    punctuation mark (``. ! ? "``); has >= ``min_words_per_line``
    words (paper: 5); contains none of ``drop_line_tokens`` (paper:
    the word "javascript", case-insensitive). Page rules on the
    REBUILT page: >= ``min_kept_lines`` retained lines (the paper's
    ">= 3 sentences" gate); none of ``page_blocklist`` substrings
    (paper: "lorem ipsum", "{"); none of ``bad_words`` as a token.

    Everything is array/HOF Column expressions — zero shuffle, zero
    UDF, replayable in any SQL engine. APPENDS ``clean_text, n_lines,
    n_kept_lines, page_blocked, has_bad_word, c4_keep`` to the input
    frame (existing columns kept) — stateless and append-mode safe, so
    the same builder serves batch frames and streams; use
    :func:`c4_clean_frame` for the per-doc projection.
    """
    tcol = F.col(text) if isinstance(text, str) else text
    drop_toks = [t.lower() for t in (
        drop_line_tokens if drop_line_tokens is not None else ["javascript"]
    )]
    blocklist = [b.lower() for b in (
        page_blocklist if page_blocklist is not None else ["lorem ipsum", "{"]
    )]
    bad = [w.lower() for w in (bad_words or [])]

    lines = F.filter(F.split(tcol, line_sep), lambda ln: F.trim(ln) != "")

    def line_ok(ln):
        t = F.trim(ln)
        ok = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != "")) >= min_words_per_line
        if require_terminal_punct:
            ok = ok & (
                t.endswith(".") | t.endswith("!") | t.endswith("?") | t.endswith('"')
            )
        low = F.lower(t)
        for tok in drop_toks:
            ok = ok & ~low.contains(tok)
        return ok

    kept = F.filter(lines, line_ok)
    clean = F.array_join(F.transform(kept, F.trim), joiner)
    low_clean = F.lower(clean)
    blocked = F.lit(False)
    for b in blocklist:
        blocked = blocked | low_clean.contains(b)
    toks = F.array_distinct(
        F.filter(F.split(F.lower(clean), r"\s+"), lambda w: w != "")
    )
    has_bad = (
        F.arrays_overlap(toks, array_lit(bad, "string"))
        if bad
        else F.lit(False)
    )

    n_lines = F.coalesce(F.size(lines), F.lit(0)).cast("long")
    n_kept = F.coalesce(F.size(kept), F.lit(0)).cast("long")
    return sdf.withColumns(
        {
            "clean_text": F.coalesce(clean, F.lit("")),
            "n_lines": n_lines,
            "n_kept_lines": n_kept,
            "page_blocked": F.coalesce(blocked, F.lit(False)),
            "has_bad_word": F.coalesce(has_bad, F.lit(False)),
            "c4_keep": (
                (n_kept >= min_kept_lines)
                & ~F.coalesce(blocked, F.lit(False))
                & ~F.coalesce(has_bad, F.lit(False))
            ),
        }
    )


C4_COLUMNS = [
    "clean_text", "n_lines", "n_kept_lines",
    "page_blocked", "has_bad_word", "c4_keep",
]


def c4_clean_frame(
    sdf,
    text: "str | Column" = "text",
    id_col: str = "doc_id",
    **options,
):
    """Per-document C4 projection: ``(id, clean_text, n_lines,
    n_kept_lines, page_blocked, has_bad_word, c4_keep)``. See
    :func:`add_c4_columns` (the batch/stream-shared builder)."""
    out = add_c4_columns(sdf, text, **options)
    return out.select(F.col(id_col).alias("id"), *C4_COLUMNS)


def bm25_topk(
    sdf,
    text: "str | Column",
    id_col: "str | Column",
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 ranked retrieval: top-k documents for a free-text query.

    The reference engine's `es_match` compiles to a BOOLEAN filter
    (eland/filter.py, eland/dataframe.py es_match) — Elasticsearch
    itself ranks those matches with Okapi BM25 (the Lucene
    `BM25Similarity` default since ES 5). This operator supplies that
    ranking half: Lucene's exact formula,
    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` and
    ``tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`` summed over
    query terms (OR semantics, like a bool-should match).

    Plan shape — built for the 100 TB corpus, not the 500-row test:

    * **stats pass**: one full scan reduced to ``2 + |query|`` scalars
      (N, total token count, per-term document frequencies). Document
      length and per-term tf come from ``size``/``filter`` higher-order
      functions on the token array — codegen'd JVM lambdas, NO explode,
      NO (doc, term) shuffle, unlike the tf-idf operator above which
      must materialize per-term rows because its vocabulary is open.
      A BM25 query's vocabulary is the handful of query terms, so the
      whole pass is a mergeable partial aggregation.
    * **score pass**: idf/avgdl fold back in as LITERALS (no join), the
      score is one codegen'd expression, and top-k plans as
      TakeOrderedAndProject — per-partition heaps, driver merges
      ``k × partitions`` rows, never a global sort.

    Zero-match documents are dropped (score > 0), ties break on id
    ascending. Returns (id, bm25 double rounded 6dp)."""
    import math

    t = F.col(text) if isinstance(text, str) else text
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    from .dedup import normalized_tokens

    terms = list(dict.fromkeys(
        w for w in __import__("re").split(r"[^a-z0-9]+", query.lower()) if w
    ))
    if not terms:
        raise ValueError("bm25_topk: query has no indexable terms")
    toks = normalized_tokens(t)

    def _is(w):
        # arity-1 closure: a 2-arg lambda (even with a default) would be
        # introspected by F.filter as the (element, index) form
        return lambda x: x == F.lit(w)

    # materialize the token array ONCE per row: Column trees expand on
    # reuse, so referencing `toks` in dl + every tf would re-run the
    # regex tokenizer 1 + |terms| times per row (measured ~3x on the
    # bench at 3 terms)
    tokenized = sdf.select(i.alias("__id__"), toks.alias("__tk__"))
    tk = F.col("__tk__")
    dl = F.size(tk).alias("__dl__")
    tfs = [
        F.size(F.filter(tk, _is(w))).alias(f"__tf{j}__")
        for j, w in enumerate(terms)
    ]
    per = tokenized.select("__id__", dl, *tfs)
    stats = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__dl__").alias("sdl"),
        *[
            F.sum((F.col(f"__tf{j}__") > 0).cast("long")).alias(f"df{j}")
            for j in range(len(terms))
        ],
    ).collect()[0]
    n = stats["n"]
    if not n or not stats["sdl"]:
        return per.select(
            F.col("__id__").alias("id"), F.lit(0.0).alias("bm25")
        ).limit(0)
    avgdl = stats["sdl"] / n
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b / avgdl) * F.col("__dl__"))
    score = None
    for j in range(len(terms)):
        idf = math.log(1.0 + (n - stats[f"df{j}"] + 0.5) / (stats[f"df{j}"] + 0.5))
        tf = F.col(f"__tf{j}__").cast("double")
        part = F.lit(idf) * tf * F.lit(k1 + 1.0) / (tf + norm)
        score = part if score is None else score + part
    return (
        per.select(F.col("__id__").alias("id"), F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("id"))
        .limit(k)
    )
