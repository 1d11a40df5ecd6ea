"""ETL — sources and sinks (reference eland/etl.py).

``pandas_to_spark`` mirrors ``pandas_to_eland`` (eland/etl.py:40-232):
existence policy fail/replace/append with schema-compat verification
(eland/field_mappings.py:892-931), pandas index frozen as the engine
index column(s). Where the reference streams chunked bulk requests, the
frame is converted to Arrow on the driver and written straight into the
target directory as parquet part files, then read back under the schema
it was written with: an ingest fires no Spark job and never ships rows
inside task binaries.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from urllib.parse import urlsplit

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ._literals import array_lit
from .frame import DataFrame
from .schema import pd_to_spark_type

__all__ = [
    "read_parquet",
    "read_orc",
    "read_csv",
    "read_json",
    "read_binary",
    "read_table",
    "save_as_table",
    "pandas_to_spark",
    "spark_to_pandas",
    "csv_to_spark",
    "write_bucketed",
    "write_sized",
    "write_sorted",
]

# widened-compat lattice for append verification
# (reference eland/field_mappings.py:47-61)
_COMPATIBLE = {
    ("long", "bigint"),
    ("bigint", "long"),
    ("int", "bigint"),
    ("bigint", "int"),
    ("float", "double"),
    ("double", "float"),
}


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark's vectorized
    reader rejects them outright (PARQUET_TYPE_ILLEGAL). A file is
    read by its footer, a directory by its dataset schema (the first
    data file's footer; ``_``/``.``-prefixed files are skipped)."""
    try:
        if os.path.isdir(path):
            import pyarrow.dataset as ds

            schema = ds.dataset(path, format="parquet").schema
        else:
            import pyarrow.parquet as pq

            schema = pq.read_schema(path)
        return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


def read_parquet(
    spark: SparkSession, path: str | list[str],
    index_col: str | list[str] | None = None,
    columns: list[str] | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet source. ``path`` may be a list (or glob) — the analog of
    the reference's multi-index patterns. Conflicting column types
    across multiple paths resolve like the reference's mapping merge
    (eland/field_mappings.py:280-327): warn and keep the FIRST path's
    type, casting later paths to it; columns missing from a path
    surface as nulls. ``merge_schema=True`` instead uses Spark's
    parquet schema merging (fails loudly on true conflicts).

    Parquet TIMESTAMP(NANOS) columns of the first path (a file or a
    directory) come back as microsecond TIMESTAMP_NTZ. Reading them
    sets ``spark.sql.legacy.parquet.nanosAsLong=true`` for the whole
    session and leaves it set: the scan is lazy and reads the setting
    when it runs, so restoring it on return would break the frame."""
    import warnings

    from pyspark.sql import functions as F

    paths = [path] if isinstance(path, str) else list(path)
    nanos_cols = _nanos_ts_columns(paths[0])
    if nanos_cols:
        # read nanos as raw int64, then rebuild microsecond-precision
        # NTZ timestamps with integer math (nanos exceed double's 2^53
        # mantissa — `div` keeps it lossless; timestamp_add on an NTZ
        # base is timezone-independent, matching DuckDB's ns->us read)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    sdf = None
    if len(paths) > 1 and not merge_schema:
        # first-wins type resolution across paths (footer reads only)
        schemas = [spark.read.parquet(p).schema for p in paths]
        first: dict[str, object] = {}
        conflicts: dict[str, tuple] = {}
        for sch in schemas:
            for f in sch:
                if f.name not in first:
                    first[f.name] = f.dataType
                elif f.dataType != first[f.name]:
                    conflicts.setdefault(f.name, (first[f.name], f.dataType))
        if conflicts:
            detail = ", ".join(
                f"{c}: keeping {a.simpleString()}, casting {b.simpleString()}"
                for c, (a, b) in sorted(conflicts.items())
            )
            warnings.warn(
                f"read_parquet: conflicting types across paths ({detail}); "
                "first path wins (reference field_mappings merge semantics)"
            )
            parts = []
            for p, sch in zip(paths, schemas):
                part = spark.read.parquet(p)
                parts.append(
                    part.select(
                        *[
                            F.col(f.name).cast(first[f.name]).alias(f.name)
                            if f.name in conflicts
                            else F.col(f.name)
                            for f in sch
                        ]
                    )
                )
            sdf = parts[0]
            for part in parts[1:]:
                sdf = sdf.unionByName(part, allowMissingColumns=True)
    if sdf is None:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        sdf = reader.parquet(*paths)
    for c in nanos_cols:
        micros = F.expr(f"`{c}` div 1000")
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        sdf = sdf.withColumn(c, F.timestamp_add("MICROSECOND", micros, epoch))
    if columns:
        keep = list(columns)
        if index_col:
            ics = [index_col] if isinstance(index_col, str) else list(index_col)
            keep = ics + [c for c in keep if c not in ics]
        sdf = sdf.select(*keep)
    idx = (
        (index_col,) if isinstance(index_col, str) else tuple(index_col or ())
    )
    return DataFrame(sdf, index_cols=idx)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    schema: T.StructType | None = None,
    index_col: str | None = None,
    infer_schema: bool = True,
    **options,
) -> DataFrame:
    """csv_to_eland analog (reference eland/etl.py:297-561) — the chunked
    pandas read_csv + repeated bulk appends collapse into one distributed
    csv scan."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    sdf = reader.csv(path)
    return DataFrame(sdf, index_cols=(index_col,) if index_col else ())


csv_to_spark = read_csv


def read_json(
    spark: SparkSession, path: str, index_col: str | None = None, **options
) -> DataFrame:
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    sdf = reader.json(path)
    return DataFrame(sdf, index_cols=(index_col,) if index_col else ())


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: str | list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> "DataFrame":
    """Write parquet range-partitioned + sorted on ``sort_cols``.

    The data-layout lever for range predicates at 100 TB: each output
    file owns a disjoint key range, so parquet footer min/max stats let
    a filtered scan skip whole files (and row groups within them) —
    complementing ``write_bucketed`` (equality/join keys) with the
    range-scan case (time-series, ids). Disjointness is asserted in
    tests/test_etl_sinks.py straight from the parquet metadata.
    """
    sc = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    sdf = df.to_spark() if isinstance(df, DataFrame) else df
    parts = n_files or int(
        sdf.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    out = sdf.repartitionByRange(parts, *[F.col(c) for c in sc]).sortWithinPartitions(
        *sc
    )
    out.write.mode(mode).parquet(path)
    idx = df._schema.index_cols if isinstance(df, DataFrame) else ()
    return read_parquet(sdf.sparkSession, path, index_col=list(idx) or None)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
    bits: int = 8,
) -> "DataFrame":
    """Write parquet clustered on a Z-order (Morton) curve over
    ``cols`` — the MULTI-column file-skipping layout: where
    ``write_sorted`` makes one column's per-file min/max ranges tight,
    Z-ordering keeps EVERY listed column's per-file range tight, so
    footer stats prune files for filters on any of them.

    Plan: one tiny driver-side ``approxQuantile`` per column builds
    2^bits range-bucket boundaries; each value maps to its bucket id
    via a codegen'd CASE ladder; bucket codes bit-interleave into the
    Z key (pure shifts/ors); one range shuffle on the key + local sort,
    then write. Everything after the quantile probe is a single
    repartitionByRange — the same cost as a plain sorted write.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("z-ordering needs >= 2 columns (use write_sorted for 1)")
    sdf = df.to_spark() if isinstance(df, DataFrame) else df
    n_buckets = 1 << bits
    qs = [i / n_buckets for i in range(1, n_buckets)]
    codes = []
    for c in cols:
        cuts = sdf.stat.approxQuantile(c, qs, 0.01)
        # strictly increasing boundary ladder (ties collapse)
        ladder: list[float] = []
        for v in cuts:
            if not ladder or v > ladder[-1]:
                ladder.append(v)
        # bucket id = number of boundaries strictly below the value
        # (array HOF — compact codegen vs a 2^bits-branch CASE ladder)
        arr = array_lit([float(v) for v in ladder], "double")
        code = F.size(F.filter(arr, lambda b: F.col(c).cast("double") > b))
        codes.append(F.coalesce(code, F.lit(0)).cast("long"))
    # Morton interleave: shared core with operators/zorder (which also
    # offers the linear min/max bucketing variant with a SQL oracle)
    from .operators.zorder import zvalue

    z = zvalue(codes, bits)
    parts = n_files or int(sdf.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    tmp = "__z__"
    out = (
        sdf.withColumn(tmp, z)
        .repartitionByRange(parts, F.col(tmp))
        .sortWithinPartitions(tmp)
        .drop(tmp)
    )
    out.write.mode(mode).parquet(path)
    idx = df._schema.index_cols if isinstance(df, DataFrame) else ()
    return read_parquet(sdf.sparkSession, path, index_col=list(idx) or None)


def read_orc(
    spark: SparkSession, path: str, index_col: str | list[str] | None = None, **options
) -> DataFrame:
    """ORC source (columnar like parquet; same snapshot-from-immutable-
    files semantics). Predicate pushdown and column pruning apply as
    with parquet — pinned in tests/test_etl_sinks.py."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    sdf = reader.orc(path)
    idx = (index_col,) if isinstance(index_col, str) else tuple(index_col or ())
    return DataFrame(sdf, index_cols=idx)


def read_binary(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    index_col: str | list[str] | None = "path",
) -> DataFrame:
    """Raw-file source for multimodal ingestion (Spark's built-in
    ``binaryFile`` format): one row per file with ``path``,
    ``modificationTime``, ``length``, ``content`` (binary) — the
    entry point that feeds ``operators/multimodal.py`` decode/resize/
    feature UDFs. ``glob`` filters file names (``pathGlobFilter``, e.g.
    ``"*.jpg"``). Column pruning applies: a query that never touches
    ``content`` reads only file metadata, so listings over petabyte
    image stores stay cheap; filters on path/length prune before any
    bytes load."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    sdf = reader.load(path)
    idx = (index_col,) if isinstance(index_col, str) else tuple(index_col or ())
    return DataFrame(sdf, index_cols=idx)


def read_table(
    spark: SparkSession, name: str, index_col: str | list[str] | None = None
) -> DataFrame:
    """Catalog table source (metastore-managed: bucketed tables written
    by write_bucketed re-enter the engine through here with their
    bucket metadata intact)."""
    idx = (index_col,) if isinstance(index_col, str) else tuple(index_col or ())
    return DataFrame(spark.table(name), index_cols=idx)


def save_as_table(
    df: DataFrame, name: str, mode: str = "overwrite", partition_by=None
) -> DataFrame:
    """Catalog sink: saveAsTable with optional partitioning. Partition
    columns become directory-level partition pruning at read time — the
    scale lever for time-partitioned fact tables."""
    sdf = df.to_spark() if isinstance(df, DataFrame) else df
    writer = sdf.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.saveAsTable(name)
    idx = df._schema.index_cols if isinstance(df, DataFrame) else ()
    return read_table(sdf.sparkSession, name, index_col=list(idx) or None)


def _verify_compat(existing: T.StructType, incoming: T.StructType) -> None:
    """Schema-compat check for append mode (reference
    verify_mapping_compatibility, eland/field_mappings.py:892-931)."""
    problems = []
    have = {f.name: f.dataType.simpleString() for f in existing.fields}
    for f in incoming.fields:
        if f.name not in have:
            problems.append(f"{f.name}: missing from existing table")
            continue
        a, b = have[f.name], f.dataType.simpleString()
        if a != b and (a, b) not in _COMPATIBLE:
            problems.append(f"{f.name}: existing {a} != incoming {b}")
    if problems:
        raise ValueError(
            "DataFrame schema is not compatible with existing table: "
            + "; ".join(problems)
        )


def _arrow_column(s: pd.Series, dt: T.DataType, tz: str) -> pa.Array:
    """One pandas column as the Arrow array of Spark type ``dt``, with
    the values ``spark.createDataFrame(pdf, schema)`` would hold:
    naive timestamps are wall times in the session zone ``tz``,
    sub-microsecond values floor to the microsecond (pre-1970 too),
    out-of-range integers raise, and a string column stringifies
    whatever objects it holds."""
    if isinstance(s.dtype, pd.CategoricalDtype):
        cats = s.dtype.categories.dtype
        # integer and bool categories cannot hold the missing values
        s = s.astype(object if cats.kind in "iub" and s.hasnans else cats)
    is_ts = pd.api.types.is_datetime64_any_dtype(s.dtype)
    if is_ts and isinstance(dt, T.TimestampType):
        if s.dt.tz is None:
            s = s.dt.tz_localize(tz, ambiguous=False)
        s = s.dt.tz_convert("UTC")
    if is_ts and s.dt.unit == "ns":
        s = s.dt.floor("us")
    mask = None if hasattr(s.array, "__arrow_array__") else s.isna()
    try:
        return pa.Array.from_pandas(s, mask=mask, type=to_arrow_type(dt), safe=True)
    except (pa.ArrowException, TypeError, ValueError) as e:
        if isinstance(dt, T.StringType):
            vals = s.dt.to_pytimedelta() if pd.api.types.is_timedelta64_dtype(s.dtype) else s
            return pa.array(
                [None if m else str(v) for v, m in zip(vals, s.isna())], pa.string()
            )
        raise ValueError(
            f"pandas_to_spark: column {s.name!r} ({s.dtype}) does not fit "
            f"Spark type {dt.simpleString()}: {e}"
        ) from None


def _local_path(path: str) -> str:
    scheme = urlsplit(path).scheme
    if scheme == "file":
        return urlsplit(path).path
    if len(scheme) > 1:
        raise ValueError(
            f"pandas_to_spark writes to the local filesystem only; "
            f"{path!r} has scheme {scheme!r}"
        )
    return path


def pandas_to_spark(
    pd_df: pd.DataFrame,
    spark: SparkSession,
    path: str,
    if_exists: str = "fail",
    use_pandas_index_for_id: bool = True,
    dropna: bool = False,
    type_overrides: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """pandas_to_eland analog (reference eland/etl.py:40-232): infer Spark
    schema from dtypes (+overrides), honor fail/replace/append, freeze the
    pandas index as the index column(s), return a fresh lazy frame.

    - ``path`` is a local directory (a bare path or a ``file:`` URI;
      any other scheme raises ``ValueError``).
    - The frame converts to Arrow on the driver under the Spark schema
      that ``pd_to_spark_type`` and ``type_overrides`` decide, typed by
      PySpark's own Spark -> Arrow map (``to_arrow_type``): boolean,
      tinyint/smallint/int/bigint, float/double, decimal(p, s), string,
      binary, date32, ``timestamp_ntz`` as naive microseconds and
      ``timestamp`` as UTC-adjusted microseconds, which is how Spark's
      parquet reader tells the two apart. Naive
      values bound for ``timestamp`` are wall times in
      ``spark.sql.session.timeZone``; tz-aware ones keep their instant;
      sub-microsecond values floor to the microsecond. The values match
      ``spark.createDataFrame(pdf, schema)``, except that a missing
      value is null in every column (``createDataFrame`` writes a
      missing timedelta as the string ``'NaT'`` and rejects a missing
      integer category).
    - The rows split into ``sparkContext.defaultParallelism`` parquet
      files (fewer for short frames), so a scan of the result runs as
      many tasks as one of ``createDataFrame``'s output.
    - ``replace`` (or a new path) writes into a hidden sibling temp dir
      and swaps it in, so a write that fails midway leaves the old
      table as it was. ``append`` checks ``_verify_compat`` against the
      existing table first, then moves uniquely named part files in; a
      widened column (int + bigint, float + double) reads back as the
      wider type. ``fail`` raises ``ValueError`` on an existing path.
    - The result reads back with the known schema: no Spark job runs
      on ``replace``, not even a schema inference (``append`` reads
      the existing table's schema first).
    - A MultiIndex becomes one index column per level (unnamed levels
      are ``level_<i>``, as ``reset_index`` names them); an unnamed
      flat index becomes ``_id``.
    """
    local = os.path.abspath(_local_path(path))
    pdf = pd_df.dropna() if dropna else pd_df
    index_cols: tuple[str, ...] = ()
    if use_pandas_index_for_id:
        if isinstance(pdf.index, pd.MultiIndex):
            levels = pdf.index.nlevels
            pdf = pdf.reset_index()
            index_cols = tuple(pdf.columns[:levels])
        else:
            name = pdf.index.name or "_id"
            pdf = pdf.reset_index().rename(columns={pdf.index.name or "index": name})
            index_cols = (name,)
    overrides = type_overrides or {}
    schema = T.StructType([
        T.StructField(c, overrides.get(c) or pd_to_spark_type(pdf[c].dtype), True)
        for c in pdf.columns
    ])

    exists = os.path.exists(local)
    if exists and if_exists == "fail":
        raise ValueError(
            f"Could not create table {path!r} because it already exists. "
            "Change the if_exists parameter to 'append' or 'replace'."
        )
    append = exists and if_exists == "append"
    read_schema = schema
    if append:
        existing = spark.read.parquet(local).schema
        _verify_compat(existing, schema)
        wide = {
            f.name: f.dataType for f in schema
            if f.dataType.simpleString() in ("bigint", "double")
        }
        read_schema = T.StructType(
            [T.StructField(f.name, wide.get(f.name, f.dataType), True) for f in existing]
        )

    tz = spark.conf.get("spark.sql.session.timeZone")
    table = pa.Table.from_arrays(
        [_arrow_column(pdf[f.name], f.dataType, tz) for f in schema], names=schema.names
    )
    n_files = max(1, min(spark.sparkContext.defaultParallelism, table.num_rows))
    parent = os.path.dirname(local)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{os.path.basename(local)}.", dir=parent)
    try:
        tag = uuid.uuid4().hex
        bounds = [table.num_rows * i // n_files for i in range(n_files + 1)]
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(
                table.slice(lo, hi - lo),
                os.path.join(tmp, f"part-{i:05d}-{tag}.snappy.parquet"),
                compression="snappy",
            )
        if append:
            for f in os.listdir(tmp):
                os.replace(os.path.join(tmp, f), os.path.join(local, f))
        else:
            if exists:
                old = tmp + ".old"
                os.rename(local, old)
                os.rename(tmp, local)
                if os.path.isdir(old):
                    shutil.rmtree(old)
                else:
                    os.remove(old)
            else:
                os.rename(tmp, local)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return DataFrame(spark.read.schema(read_schema).parquet(local), index_cols=index_cols)


def spark_to_pandas(df: DataFrame, show_progress: bool = False) -> pd.DataFrame:
    """eland_to_pandas analog (reference eland/etl.py:235-294)."""
    return df.to_pandas(show_progress=show_progress)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: str | list[str],
    n_buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> "DataFrame":
    """Persist as a bucketed (+optionally sorted) parquet table.

    The 100 TB co-location primitive: two tables bucketed on their join
    keys with the same bucket count join with ZERO shuffle (asserted in
    tests/test_plans.py), and repeated aggs on the bucket key skip their
    exchange. This is how a fact table that joins the same dimensions
    every day amortizes its shuffle once at write time.
    """
    bc = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    sdf = df.to_spark() if isinstance(df, DataFrame) else df
    spark = sdf.sparkSession
    writer = sdf.write.format("parquet").mode(mode).bucketBy(n_buckets, *bc)
    if sort_cols:
        sc = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sc)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
    idx = df._schema.index_cols if isinstance(df, DataFrame) else ()
    return DataFrame(spark.table(table_name), index_cols=tuple(idx))


def write_sized(
    df,
    path: str,
    target_file_mb: int = 256,
    sample_rows: int = 2000,
    mode: str = "overwrite",
) -> int:
    """Write parquet with files sized ~``target_file_mb`` — the
    small-files/giant-files layout lever.

    A stream of micro-batches (or a naive high-parallelism write)
    leaves thousands of KB-sized files that crush scan planning at
    100 TB; one executor writing multi-GB files serializes the job.
    This measures the ENCODED bytes/row by writing a ``sample_rows``
    sample to a scratch parquet (compression included — schema-based
    guesses are off by 10x on text), then repartitions to
    ``ceil(total_bytes / target)`` files. Returns the file count.

    The repartition is a round-robin exchange — combine with
    write_sorted/write_bucketed when a key layout matters more than
    file size.
    """
    import math
    import shutil
    import tempfile

    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    n = sdf.count()
    if n == 0:
        sdf.write.mode(mode).parquet(path)
        return 1
    frac = min(1.0, sample_rows / n)
    scratch = tempfile.mkdtemp(prefix="sized_probe_")
    try:
        probe = sdf.sample(fraction=frac, seed=7).limit(sample_rows)
        probe.write.mode("overwrite").parquet(scratch)
        import os

        probe_rows = (
            sdf.sparkSession.read.parquet(scratch).count()
        )
        probe_bytes = sum(
            os.path.getsize(os.path.join(scratch, f))
            for f in os.listdir(scratch)
            if f.endswith(".parquet")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    bytes_per_row = probe_bytes / max(probe_rows, 1)
    total = bytes_per_row * n
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    sdf.repartition(n_files).write.mode(mode).parquet(path)
    return n_files


def overwrite_partitions(
    df: "DataFrame", path: str, partition_by: "str | list[str]"
) -> None:
    """Dynamic partition overwrite to a path-based parquet dataset: only
    the partitions PRESENT in ``df`` are replaced; every other existing
    partition directory survives untouched. This is the incremental
    nightly-refresh sink (recompute yesterday's date partition, leave
    the rest of the year alone) — without dynamic mode, Spark's
    overwrite would truncate the whole dataset.

    Scoped config: partitionOverwriteMode flips to ``dynamic`` for this
    one write and is restored afterwards, so the session default stays
    whatever the caller runs with."""
    sdf = df.to_spark() if isinstance(df, DataFrame) else df
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    spark = sdf.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        sdf.write.mode("overwrite").partitionBy(*cols).parquet(path)
    finally:
        spark.conf.set(key, old)


def corpus_manifest(
    sdf: DataFrame,
    cols: "list[str] | None" = None,
    by: "list[str] | tuple" = (),
    portable: bool = True,
) -> DataFrame:
    """Content-integrity manifest: per ``by``-group row count plus an
    ORDER-INSENSITIVE content checksum — the reproducibility primitive
    a multi-stage 100 TB pipeline checkpoints between stages (did the
    rewrite/compaction/migration preserve the data bit-for-bit?) and
    the nightly drift tripwire (pair two manifests via
    ``dedup.snapshot_diff`` keyed on the group).

    The checksum is the SUM of per-row hashes over the canonical row
    serialization (columns cast to string, null kept distinct from
    empty via a sentinel, unit-separator joined): sums commute, so the
    value is independent of partitioning and row order, and unlike XOR
    duplicate row PAIRS don't cancel. The sum lives in DECIMAL(38,0)
    (no 64-bit overflow, exact) and ships as a string.

    ``portable=True`` hashes with md5 (15 hex chars -> bigint) so any
    engine reproduces the exact checksum (the minhash/Bloom hash
    contract); ``False`` uses xxhash64 (faster, Spark-only). Doubles
    hash via their string cast — canonicalize float columns upstream.

    One hash aggregation; scales to any corpus."""
    by = list(by)
    cols = cols or [c for c in sdf.columns if c not in by]
    canon = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in cols
        ],
    )
    if portable:
        h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast(
            "decimal(38,0)"
        )
    else:
        h = F.xxhash64(canon).cast("decimal(38,0)")
    agg = sdf.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h).cast("decimal(38,0)").cast("string").alias("checksum"),
    )
    return agg.orderBy(*by) if by else agg


def verify_manifest(sdf: DataFrame, manifest: DataFrame, **kwargs) -> DataFrame:
    """Recompute :func:`corpus_manifest` over ``sdf`` and full-outer
    join it against a stored ``manifest``: returns one row per group
    with ``status`` in {'ok', 'changed', 'added', 'removed'} —
    'added'/'removed' mean the group exists on only one side. Feed the
    'changed' groups to the incremental stages; everything else is
    verified untouched."""
    by = list(kwargs.get("by", ()))
    fresh = corpus_manifest(sdf, **kwargs)
    f = fresh.select(
        *[F.col(c).alias(f"__f_{c}__") for c in by],
        F.col("n_rows").alias("__f_n__"),
        F.col("checksum").alias("__f_c__"),
    )
    o = manifest.select(
        *[F.col(c).alias(f"__o_{c}__") for c in by],
        F.col("n_rows").alias("__o_n__"),
        F.col("checksum").alias("__o_c__"),
    )
    cond = None
    for c in by:
        eq = F.col(f"__f_{c}__").eqNullSafe(F.col(f"__o_{c}__"))
        cond = eq if cond is None else cond & eq
    joined = f.join(o, cond, "full_outer") if by else f.crossJoin(o)
    status = (
        F.when(F.col("__f_n__").isNull(), F.lit("removed"))
        .when(F.col("__o_n__").isNull(), F.lit("added"))
        .when(
            (F.col("__f_n__") == F.col("__o_n__"))
            & (F.col("__f_c__") == F.col("__o_c__")),
            F.lit("ok"),
        )
        .otherwise(F.lit("changed"))
    )
    out = joined.select(
        *[
            F.coalesce(F.col(f"__f_{c}__"), F.col(f"__o_{c}__")).alias(c)
            for c in by
        ],
        F.col("__f_n__").alias("n_rows"),
        F.col("__o_n__").alias("n_rows_expected"),
        status.alias("status"),
    )
    return out.orderBy(*by) if by else out
