"""SimHash hamming-radius near-dup: pigeonhole banding must find
EXACTLY the pairs an exhaustive all-pairs scan finds."""

from pyspark.sql import functions as F

import eland_spark as es
from eland_spark.operators.dedup import simhash_frame, simhash_near_dup_pairs

SF = "/root/testdata/sf0.001"


def test_banded_pairs_equal_exhaustive(spark):
    docs = es.read_parquet(spark, f"{SF}/documents.parquet").to_spark()
    sub = docs.filter(F.col("doc_id") < 200)
    fp = simhash_frame(sub, F.col("text"), F.col("doc_id"), 2)
    l, r = fp.alias("l"), fp.alias("r")
    exhaustive = sorted(
        (row["a"], row["b"])
        for row in (
            l.crossJoin(r)
            .filter(F.col("l.__id__") < F.col("r.__id__"))
            .select(
                F.col("l.__id__").alias("a"),
                F.col("r.__id__").alias("b"),
                F.bit_count(
                    F.col("l.__simhash__").bitwiseXOR(F.col("r.__simhash__"))
                ).alias("h"),
            )
            .filter(F.col("h") <= 3)
            .collect()
        )
    )
    banded = sorted(
        (row["id_a"], row["id_b"])
        for row in simhash_near_dup_pairs(
            sub, F.col("text"), F.col("doc_id"), 2, 3
        ).collect()
    )
    assert banded == exhaustive
    assert len(banded) >= 1  # fixture contains at least one near-dup pair


def test_block_keys_candidate_count_subquadratic(spark):
    """The 100x-scale contract of the two-level pigeonhole blocking:
    on RANDOM (unrelated) fingerprints the candidate-pair count must
    stay near-zero, not O(n^2 / 2^16) as single-level 16-bit bands
    give. n=20k random fingerprints -> single-level banding expects
    ~12k random candidate pairs (4 * C(n,2) / 2^16); two-level blocks
    on 28-bit keys expect ~12 (16 * C(n,2) / 2^28). Deterministic:
    fingerprints are xxhash64 of a fixed id range."""
    from eland_spark.operators.dedup import simhash_block_keys

    n = 20_000
    fp = spark.range(n).select(
        F.col("id"), F.xxhash64(F.col("id")).alias("h")
    )
    blocked = fp.select(
        "id", F.explode(simhash_block_keys(F.col("h"), 3)).alias("blk")
    ).select("id", "blk.bs", "blk.bits", "blk.sub")
    l, r = blocked.alias("l"), blocked.alias("r")
    candidates = (
        l.join(r, on=["bs", "bits", "sub"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id"), F.col("r.id"))
        .distinct()
        .count()
    )
    # generous 10x headroom over the ~12 expected; single-level banding
    # would land ~3 orders of magnitude above this bound
    assert candidates < 150, candidates


def test_block_keys_pigeonhole_guarantee(spark):
    """Any two fingerprints within the hamming radius share >= 1 block
    key — across radii including ones where 64 doesn't divide evenly
    (widths 64/(h+1) with remainders). Planted pairs: base fingerprint
    XOR a mask of exactly h deterministic bit positions."""
    from eland_spark.operators.dedup import simhash_block_keys

    rows = []
    for h in (0, 1, 2, 3, 4, 5):
        for seed in range(40):
            base = (seed * 0x9E3779B97F4A7C15 + 0x243F6A8885A308D3) % (1 << 64)
            # h deterministic, distinct bit positions spread over all 64
            positions = {(seed * 13 + i * 23 + h * 7) % 64 for i in range(h)}
            while len(positions) < h:
                positions.add((max(positions, default=0) + 11) % 64)
            mask = 0
            for p in positions:
                mask |= 1 << p
            a = base - (1 << 64) if base >= (1 << 63) else base
            bm = base ^ mask
            b = bm - (1 << 64) if bm >= (1 << 63) else bm
            rows.append((h, a, b))
    sdf = spark.createDataFrame(rows, "h int, a long, b long")
    for h in (0, 1, 2, 3, 4, 5):
        sub = sdf.filter(F.col("h") == h)
        shared = sub.select(
            F.size(
                F.array_intersect(
                    simhash_block_keys(F.col("a"), h),
                    simhash_block_keys(F.col("b"), h),
                )
            ).alias("n_shared")
        )
        assert shared.filter(F.col("n_shared") < 1).count() == 0, h


def test_connected_components_synthetic(spark):
    from eland_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (9, 10), (10, 7)],
        "id_a long, id_b long",
    )
    out = connected_components(pairs).toPandas()
    comp = dict(zip(out.node, out.component))
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 7: 7, 8: 7, 9: 7, 10: 7}


def test_connected_components_deep_chain(spark):
    """Large-star/small-star contraction: a 10k-node path (diameter
    9999) must fully collapse within the default max_iter=20 — round
    count ≪ diameter, which min-label propagation could never do.
    driver_fold_max_edges=0 pins the fully DISTRIBUTED path (the
    unbounded-scale contract) regardless of the small-graph fold."""
    from eland_spark.operators.dedup import connected_components

    n = 10_000
    pairs = spark.range(n - 1).selectExpr("id as id_a", "id + 1 as id_b")
    pdf = connected_components(pairs, driver_fold_max_edges=0).toPandas()
    assert len(pdf) == n
    assert (pdf["component"] == 0).all()


def test_connected_components_driver_fold_matches_distributed(spark):
    """The bounded driver union-find finish (triggered once the
    per-round fingerprint count drops under driver_fold_max_edges)
    must label every node identically to the distributed fixed point —
    on a chain (contracts over multiple rounds, so the fold kicks in
    mid-contraction) and on a seeded random graph with singletons,
    cliques and open chains."""
    import random

    from eland_spark.operators.dedup import connected_components

    chain = spark.range(2_000 - 1).selectExpr("id as id_a", "id + 1 as id_b")
    rng = random.Random(7)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(300)]
    rand = spark.createDataFrame(edges, "id_a long, id_b long")
    for pairs in (chain, rand):
        # default bound: the whole input fits -> round-0 driver fold
        fold = connected_components(pairs).toPandas()
        # bound between contracted and initial edge counts -> the
        # distributed loop runs first, the fold finishes MID-contraction
        mid = connected_components(
            pairs, driver_fold_max_edges=500
        ).toPandas()
        dist = connected_components(
            pairs, driver_fold_max_edges=0
        ).toPandas()
        f = dict(zip(fold.node, fold.component))
        m = dict(zip(mid.node, mid.component))
        d = dict(zip(dist.node, dist.component))
        assert f == d
        assert m == d


def test_near_dup_components_end_to_end(spark, sf_dir):
    import eland_spark as es
    from eland_spark.operators.dedup import near_dup_components

    docs = es.read_parquet(spark, f"{sf_dir}/documents.parquet", index_col="doc_id")
    cc = near_dup_components(docs, "text", "doc_id", threshold=0.6).toPandas()
    assert len(cc) > 0
    # canonical representative is always a member of its own cluster
    assert set(cc.component).issubset(set(cc.node))
    # transitivity: clustered pairs via a shared middle doc collapse
    assert cc.component.nunique() < len(cc)


def test_contamination_flags_semantics(spark):
    """Decontamination gate: a doc is flagged iff it shares a full word
    k-shingle with the benchmark; partial (k-1) overlap stays clean."""
    from eland_spark.frame import DataFrame as EDF
    from eland_spark.operators.dedup import contamination_flags

    corpus = EDF(
        spark.createDataFrame(
            [
                (1, "the quick brown fox jumps"),     # contains bench shingle
                (2, "a totally different sentence"),  # clean
                (3, "quick brown cat sleeps today"),  # only 2-word overlap
                (4, ""),                              # empty -> clean
            ],
            ["doc_id", "text"],
        ),
        index_cols=("doc_id",),
    )
    bench = spark.createDataFrame(
        [("lazy dogs and the quick brown fox of lore",)], ["text"]
    )
    out = contamination_flags(corpus, bench, "text", "doc_id", k=3).toPandas()
    flags = dict(zip(out.doc_id, out.contaminated))
    assert flags == {1: True, 2: False, 3: False, 4: False}
    # every corpus doc gets exactly one row
    assert len(out) == 4


def test_unigram_logppl_semantics(spark):
    """Perplexity filter: repeated common tokens score LOWER (more
    probable) than rare ones; OOV tokens hit the floor; empty doc is
    null."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from eland_spark.operators.text import unigram_logppl

    sdf = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "rare"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = unigram_logppl(
        sdf, F.col("text"), F.col("doc_id"), top_v=1, floor_count=0.5
    ).toPandas().set_index("id")
    # LM = {common: 4}, total tokens = 5; 'rare' is OOV -> floor 0.5
    assert math.isclose(out.loc[1, "logppl"], -math.log(4 / 5))
    assert math.isclose(out.loc[2, "logppl"], -math.log(0.5 / 5))
    assert out.loc[1, "logppl"] < out.loc[2, "logppl"]
    assert out.loc[3, "n_tokens"] == 0 and pd.isna(out.loc[3, "logppl"])


def test_remove_boilerplate_semantics(spark):
    """Boilerplate scrub: a segment repeated across >= min_docs docs is
    dropped everywhere (order preserved); unique segments survive."""
    from pyspark.sql import functions as F

    from eland_spark.operators.text import remove_boilerplate

    sdf = spark.createDataFrame(
        [
            (1, "unique one. subscribe now. more text"),
            (2, "subscribe now. second doc"),
            (3, "third doc. subscribe now"),
            (4, "clean doc entirely"),
        ],
        ["doc_id", "text"],
    )
    out = (
        remove_boilerplate(sdf, F.col("text"), F.col("doc_id"), ". ", 3)
        .toPandas()
        .set_index("id")
    )
    assert out.loc[1, "clean_text"] == "unique one. more text"
    assert out.loc[1, "n_removed"] == 1
    assert out.loc[2, "clean_text"] == "second doc"
    assert out.loc[3, "clean_text"] == "third doc"
    assert out.loc[4, "clean_text"] == "clean doc entirely"
    assert out.loc[4, "n_removed"] == 0


def test_unigram_logppl_empty_corpus(spark):
    """Empty corpus: no LM table — must not crash building the map
    literal; every doc scores null (no tokens anywhere)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from eland_spark.operators.text import unigram_logppl

    sdf = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    out = unigram_logppl(sdf, F.col("text"), F.col("doc_id")).toPandas()
    assert (out["n_tokens"] == 0).all()
    assert out["logppl"].isna().all()


def test_groupby_shift_and_cumsum_match_pandas(spark):
    """Per-group shift (strings included) and cumsum vs pandas."""
    import pandas as pd

    from eland_spark.frame import DataFrame as EDF

    pdf = pd.DataFrame(
        {
            "_id": range(6),
            "k": ["a", "b", "a", "b", "a", "b"],
            "v": [1, 10, 2, 20, 3, 30],
            "s": ["x", "y", "z", "w", "u", "t"],
        }
    )
    edf = EDF(
        spark.createDataFrame(pdf, schema="_id long, k string, v long, s string"),
        index_cols=("_id",),
    )
    got = edf.groupby("k").shift(1).to_pandas().set_index("_id").sort_index()
    exp = pdf.set_index("_id").groupby("k")[["v", "s"]].shift(1)
    assert list(got["s"].fillna("-")) == list(exp["s"].fillna("-"))
    assert got["v"].fillna(-1).tolist() == exp["v"].fillna(-1).tolist()

    gotc = edf.groupby("k").cumsum().to_pandas().set_index("_id").sort_index()
    expc = pdf.set_index("_id").groupby("k")[["v"]].cumsum()
    assert gotc["v"].tolist() == expc["v"].tolist()


def test_groupby_rolling_expanding_match_pandas(spark):
    """Per-group rolling/expanding vs pandas (min_periods, null values,
    group boundaries never leak)."""
    import numpy as np
    import pandas as pd

    from eland_spark.frame import DataFrame as EDF

    pdf = pd.DataFrame(
        {
            "_id": range(8),
            "k": ["a", "b", "a", "b", "a", "b", "a", "b"],
            "v": [1.0, 10.0, None, 20.0, 3.0, None, 4.0, 40.0],
        }
    )
    edf = EDF(
        spark.createDataFrame(pdf, schema="_id long, k string, v double"),
        index_cols=("_id",),
    )
    got_r = (
        edf.groupby("k").rolling(2).sum().to_pandas().set_index("_id").sort_index()
    )
    exp_r = (
        pdf.set_index("_id").groupby("k")["v"].rolling(2).sum()
        .reset_index(0, drop=True).sort_index()
    )
    assert np.allclose(
        got_r["v"].to_numpy(dtype="float64"),
        exp_r.to_numpy(dtype="float64"),
        equal_nan=True,
    )
    got_e = (
        edf.groupby("k").expanding().mean().to_pandas().set_index("_id").sort_index()
    )
    exp_e = (
        pdf.set_index("_id").groupby("k")["v"].expanding(1).mean()
        .reset_index(0, drop=True).sort_index()
    )
    assert np.allclose(
        got_e["v"].to_numpy(dtype="float64"),
        exp_e.to_numpy(dtype="float64"),
        equal_nan=True,
    )


def test_groupby_rank_matches_pandas(spark):
    """Per-group rank vs pandas across all tie methods, with nulls and
    pct."""
    import numpy as np
    import pandas as pd

    from eland_spark.frame import DataFrame as EDF

    pdf = pd.DataFrame(
        {
            "_id": range(9),
            "k": ["a", "a", "a", "a", "b", "b", "b", "b", "b"],
            "v": [2.0, 1.0, 2.0, None, 5.0, 5.0, 5.0, 1.0, None],
        }
    )
    edf = EDF(
        spark.createDataFrame(pdf, schema="_id long, k string, v double"),
        index_cols=("_id",),
    )
    for method in ["average", "min", "max", "first", "dense"]:
        for pct in [False, True]:
            got = (
                edf.groupby("k").rank(method=method, pct=pct)
                .to_pandas().set_index("_id").sort_index()["v"]
                .to_numpy(dtype="float64")
            )
            exp = (
                pdf.set_index("_id").groupby("k")["v"]
                .rank(method=method, pct=pct).sort_index()
                .to_numpy(dtype="float64")
            )
            assert np.allclose(got, exp, equal_nan=True), (method, pct, got, exp)


def test_edit_similarity_semantics(spark):
    """edit_similarity: 1 - lev/max(len), empty-empty -> 1.0, checked
    against python-computed Levenshtein on hand cases."""
    import pandas as pd
    from pyspark.sql import functions as F

    from eland_spark.operators.dedup import edit_similarity

    cases = [
        ("kitten", "sitting", 3),   # classic
        ("abc", "abc", 0),
        ("", "", None),             # convention: 1.0
        ("", "abcd", 4),
        ("ab", "ba", 2),
    ]
    pdf = pd.DataFrame(
        [(a, b) for a, b, _ in cases], columns=["a", "b"]
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select("a", "b", edit_similarity(F.col("a"), F.col("b")).alias("s"))
        .collect()
    )
    by_pair = {(r["a"], r["b"]): r["s"] for r in got}
    for a, b, lev in cases:
        want = 1.0 if lev is None else 1.0 - lev / max(len(a), len(b))
        assert by_pair[(a, b)] == want, (a, b)


def test_groupby_rolling_std_var_and_apply_match_pandas(spark):
    """r5: per-group rolling/expanding std/var (keyed JVM window) and
    the arbitrary-fn apply path (one Arrow pass per group shuffle) vs
    pandas; null group keys get null results (repo convention)."""
    import numpy as np
    import pandas as pd

    from eland_spark.frame import DataFrame as EDF

    rng = np.random.RandomState(7)
    pdf = pd.DataFrame({
        "_id": range(30),
        "k": [["a", "b", "c"][i % 3] for i in range(30)],
        "v": rng.randn(30).round(3),
        "w": rng.randn(30).round(3),
    })
    pdf.loc[[4, 11], "v"] = None
    edf = EDF(
        spark.createDataFrame(
            pdf, schema="_id long, k string, v double, w double"),
        index_cols=("_id",),
    )
    gp = pdf.set_index("_id").groupby("k")

    got = (edf.groupby("k").rolling(4, min_periods=2).std()
           .to_pandas().set_index("_id").sort_index())
    exp = (gp["v"].rolling(4, min_periods=2).std()
           .reset_index(0, drop=True).sort_index())
    assert np.allclose(got["v"].to_numpy(), exp.to_numpy(),
                       equal_nan=True, rtol=1e-9)

    got = (edf.groupby("k").expanding().var()
           .to_pandas().set_index("_id").sort_index())
    exp = (gp["v"].expanding(1).var()
           .reset_index(0, drop=True).sort_index())
    assert np.allclose(got["v"].to_numpy(), exp.to_numpy(),
                       equal_nan=True, rtol=1e-9)

    fn = lambda a: float(np.nanmax(a) - np.nanmin(a))  # noqa: E731
    got = (edf.groupby("k").rolling(3, min_periods=2).apply(fn, raw=True)
           .to_pandas().set_index("_id").sort_index())
    for c in ("v", "w"):
        exp = (gp[c].rolling(3, min_periods=2).apply(fn, raw=True)
               .reset_index(0, drop=True).sort_index())
        assert np.allclose(got[c].to_numpy(), exp.to_numpy(),
                           equal_nan=True, rtol=1e-12), c

    got = (edf.groupby("k").expanding(min_periods=2).apply(fn, raw=True)
           .to_pandas().set_index("_id").sort_index())
    exp = (gp["v"].expanding(2).apply(fn, raw=True)
           .reset_index(0, drop=True).sort_index())
    assert np.allclose(got["v"].to_numpy(), exp.to_numpy(),
                       equal_nan=True, rtol=1e-12)

    # null group key -> null result, row kept
    pdf2 = pdf.copy()
    pdf2.loc[0, "k"] = None
    edf2 = EDF(
        spark.createDataFrame(
            pdf2, schema="_id long, k string, v double, w double"),
        index_cols=("_id",),
    )
    got = (edf2.groupby("k").rolling(3, min_periods=1).apply(fn, raw=True)
           .to_pandas().set_index("_id").sort_index())
    assert len(got) == 30 and np.isnan(got.loc[0, "v"])


def test_leakage_safe_split_keeps_clusters_together(spark):
    """The leakage guarantee itself: every near-dup component's members
    land in ONE split; singletons split exactly like a plain id-keyed
    split_by_hash (so the marginal fractions still hold); the split
    column is deterministic across calls."""
    from eland_spark.operators.dedup import (
        leakage_safe_split, near_dup_components,
    )
    from eland_spark.operators.sampling import split_by_hash

    docs = es.read_parquet(spark, f"{SF}/documents.parquet", index_col="doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(docs, "text", "doc_id", fr, threshold=0.6)
    pdf = out.to_spark().select("doc_id", "split").toPandas()
    comp = near_dup_components(docs, "text", "doc_id", threshold=0.6)
    cpdf = comp.toPandas()
    assert len(cpdf) > 0  # fixture must exercise the clustered path
    merged = cpdf.merge(pdf, left_on="node", right_on="doc_id")
    nunique = merged.groupby("component")["split"].nunique()
    assert (nunique == 1).all(), nunique[nunique > 1]
    # cluster members share the split of their component representative
    rep = pdf.set_index("doc_id")["split"]
    for _, r in cpdf.iterrows():
        assert rep[r["node"]] == rep[r["component"]]
    # singletons = plain id hash split
    plain = split_by_hash(
        docs.to_spark().select("doc_id"), "doc_id", fr
    ).toPandas().set_index("doc_id")["split"]
    clustered = set(cpdf["node"])
    singles = pdf[~pdf["doc_id"].isin(clustered)]
    assert len(singles) > 0
    got = singles.set_index("doc_id")["split"]
    assert (got == plain.loc[got.index]).all()
    # deterministic
    again = out.to_spark().select("doc_id", "split").toPandas()
    assert pdf.sort_values("doc_id").reset_index(drop=True).equals(
        again.sort_values("doc_id").reset_index(drop=True)
    )


def test_connected_components_mixed_int_widths_share_one_schema(spark):
    """Pairs typed ``id_a int, id_b bigint``: the round-0 driver fold and
    the distributed path both return ``(node bigint, component
    bigint)`` with the same rows, small ids or ids past 2^31."""
    from eland_spark.operators.dedup import connected_components

    for big in (9, 5_000_000_000):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, big), (6, 6)], "id_a int, id_b bigint"
        )
        fold = connected_components(pairs)
        dist = connected_components(pairs, driver_fold_max_edges=0)
        assert fold.schema.simpleString() == dist.schema.simpleString()
        assert fold.schema.simpleString() == "struct<node:bigint,component:bigint>"
        assert sorted(fold.collect()) == sorted(dist.collect())
