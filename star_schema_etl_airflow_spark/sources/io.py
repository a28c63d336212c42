"""Readers and partitioned writers (operators S1, S2, S8, S9, S10).

Reader parity with the reference's CSV load (utils/operators.py:49-90):
declared schema (never inferred), permissive tolerance knobs mapped from
BigQuery load options, and an ``ingestion_timestamp`` audit column stamped
at load (the column every core transform filters on but the YAML never
declares — SURVEY.md §1.4 quirk).

Writer parity with the three DML idioms:
- ``write_append``               ← WRITE_APPEND / INSERT INTO ... SELECT
- ``write_partition_overwrite``  ← DELETE WHERE date=X; INSERT (per-date
  refresh, sales_summary.sql:6-7) via dynamic partition overwrite
- ``write_full_overwrite``       ← DELETE WHERE TRUE; INSERT (full refresh,
  customer_analytics.sql:6-7)

Scale design: tables are written partitioned by their date column
(README.md:113-116 partitioning model), so per-date refreshes rewrite one
partition, date-predicate queries prune to one partition, and backfills
parallelize per date.  ``ingest_date`` is materialized as an explicit DATE
partition column because pruning on ``DATE(timestamp_col)`` cannot prune a
timestamp-partitioned layout (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# BigQuery load-option parity (utils/operators.py:27-30,64-71):
#   max_bad_records>0 / ignore_unknown_values → PERMISSIVE, else fail-fast.
DEFAULT_CSV_OPTIONS = {
    "header": "true",
    "sep": ",",
    "multiLine": "true",   # allow_quoted_newlines
    "enforceSchema": "true",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "dateFormat": "yyyy-MM-dd",
}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    tolerant: bool = False,
    field_delimiter: str = ",",
    skip_leading_rows: int = 1,
    allow_jagged_rows: bool = False,
    ignore_unknown_values: bool = False,
    options: dict | None = None,
    stamp_ingestion: bool = True,
) -> DataFrame:
    """CSV load with declared schema (S1).

    BigQuery load-option parity, pinned knob by knob
    (reference ``utils/operators.py:25-30,64-71``):

    - ``tolerant=True`` ≈ ``max_bad_records>0``: malformed rows are
      dropped instead of failing the load.
    - ``field_delimiter`` → Spark ``sep`` (same single-character contract).
    - ``skip_leading_rows`` → BigQuery skips N leading rows *per file*.
      0 → no header (``header=false``, every line is data); 1 → Spark's
      ``header=true`` drops exactly the first line of every file —
      identical semantics (the schema is declared either way, never read
      from the header).  N>1 is rejected: Spark reads files in parallel
      byte splits, so a correct "skip N" needs a serial per-file pre-scan
      — preprocess the landing zone instead of silently mis-skipping.
    - ``allow_jagged_rows=True`` → PERMISSIVE: rows with missing trailing
      columns load with those columns NULL (BigQuery's jagged semantics).
      Caveat, documented deliberately: Spark's PERMISSIVE cannot tell a
      short-but-valid row from a corrupt one, so unparseable rows also
      surface as NULL-padded instead of failing — when rejects must be
      audited, use :func:`read_csv_quarantine`, which captures them.
    - ``ignore_unknown_values=True`` → PERMISSIVE: rows with *extra*
      trailing values (columns not in the declared schema) keep their
      schema-prefix and the extras are dropped — verified to match
      Spark's PERMISSIVE extra-token behavior.  Shares the PERMISSIVE
      caveat above with ``allow_jagged_rows`` (the two BigQuery flags
      collapse onto one Spark parser mode).
    """
    if skip_leading_rows not in (0, 1):
        raise ValueError(
            "skip_leading_rows must be 0 or 1: Spark splits files by byte "
            "range, so skipping N>1 leading rows cannot be expressed as a "
            "parallel scan option — preprocess the files instead "
            f"(got {skip_leading_rows})"
        )
    opts = dict(DEFAULT_CSV_OPTIONS)
    opts["sep"] = field_delimiter
    opts["header"] = "true" if skip_leading_rows == 1 else "false"
    if allow_jagged_rows or ignore_unknown_values:
        opts["mode"] = "PERMISSIVE"
    else:
        opts["mode"] = "DROPMALFORMED" if tolerant else "FAILFAST"
    if options:
        opts.update(options)
    df = spark.read.schema(schema).options(**opts).csv(path)
    if stamp_ingestion:
        df = df.withColumn("ingestion_timestamp", F.current_timestamp())
        df = df.withColumn("ingest_date", F.to_date("ingestion_timestamp"))
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    tolerant: bool = False,
    options: dict | None = None,
    stamp_ingestion: bool = True,
) -> DataFrame:
    """JSON-lines load with declared schema — the training-data interchange
    format (one JSON document per line).

    Schema is always declared, never inferred: at 100 TB inference is a
    full extra pass over the data before the real read.  ``tolerant=True``
    drops malformed lines (a corrupt record in a billion-line crawl dump
    must not kill the job); the default fails fast like the CSV path.
    """
    opts = {
        "timestampFormat": DEFAULT_CSV_OPTIONS["timestampFormat"],
        "dateFormat": DEFAULT_CSV_OPTIONS["dateFormat"],
        "mode": "DROPMALFORMED" if tolerant else "FAILFAST",
    }
    if options:
        opts.update(options)
    df = spark.read.schema(schema).options(**opts).json(path)
    if stamp_ingestion:
        df = df.withColumn("ingestion_timestamp", F.current_timestamp())
        df = df.withColumn("ingest_date", F.to_date("ingestion_timestamp"))
    return df


def resolve_dated_path(template: str, run_date: str) -> str:
    """Date-templated path resolution (S2, dags/ingest_raw_sales.py:66-84).

    ``sales/orders/*.csv`` + run_date 2024-01-15 →
    ``sales/orders/20240115/orders_20240115.csv`` (reference GCS layout,
    README.md:70-88: per-date folder, per-date file suffix).
    """
    nodash = run_date.replace("-", "")
    if "*" in template:
        prefix, star_suffix = template.rsplit("/", 1)
        entity = prefix.rsplit("/", 1)[-1]
        ext = star_suffix.split(".", 1)[1] if "." in star_suffix else "csv"
        return f"{prefix}/{nodash}/{entity}_{nodash}.{ext}"
    return template.format(ds=run_date, ds_nodash=nodash)


def _target_exists(path: str, spark: SparkSession | None) -> bool:
    """Existence check that works for any Hadoop-resolvable URI
    (``hdfs://``, ``s3a://``, ``file:``, bare local paths), not just the
    local filesystem: resolve through the JVM ``FileSystem`` for the
    path's own scheme.  Falls back to ``os.path.exists`` when no session
    is available (pure-local helper callers)."""
    if spark is None:
        return os.path.exists(path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _apply_create_disposition(
    path: str, create_disposition: str, spark: SparkSession | None = None
) -> None:
    """BigQuery create-disposition parity (reference
    ``utils/operators.py:23,58``): ``CREATE_IF_NEEDED`` (default) creates
    the target on first write; ``CREATE_NEVER`` fails if the target does
    not already exist — the guard for pipelines that must only ever land
    into pre-provisioned tables."""
    if create_disposition == "CREATE_IF_NEEDED":
        return
    if create_disposition == "CREATE_NEVER":
        if not _target_exists(path, spark):
            raise FileNotFoundError(
                f"CREATE_NEVER: target {path!r} does not exist"
            )
        return
    raise ValueError(
        f"unknown create_disposition {create_disposition!r} "
        "(expected CREATE_IF_NEEDED or CREATE_NEVER)"
    )


def write_append(
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
    create_disposition: str = "CREATE_IF_NEEDED",
) -> None:
    """S10 / WRITE_APPEND."""
    _apply_create_disposition(path, create_disposition, df.sparkSession)
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def write_partition_overwrite(
    df: DataFrame,
    path: str,
    partition_by: str,
    create_disposition: str = "CREATE_IF_NEEDED",
) -> None:
    """S8: idempotent per-partition refresh (requires
    spark.sql.sources.partitionOverwriteMode=dynamic, set by the session
    factory) — only partitions present in ``df`` are replaced."""
    _apply_create_disposition(path, create_disposition, df.sparkSession)
    df.write.mode("overwrite").partitionBy(partition_by).parquet(path)


def write_full_overwrite(
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
    create_disposition: str = "CREATE_IF_NEEDED",
) -> None:
    """S9: full-table refresh."""
    _apply_create_disposition(path, create_disposition, df.sparkSession)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    n_buckets: int = 32,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (hash-bucketed by the join/merge key).

    The 100 TB join strategy for big⋈big on a stable key (fact⋈fact, the
    daily MERGE anti-join, repeated order-key joins): both sides bucketed
    by the key join WITHOUT a shuffle — Catalyst sees the matching
    ``HashPartitioning`` from the bucket spec and drops the Exchange on
    each bucketed side (see tests/test_bucketing.py for the plan-level
    proof).  Bucketing requires a managed table (metastore carries the
    bucket spec), hence ``saveAsTable`` rather than a path write."""
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = df.write.mode(mode).bucketBy(n_buckets, *keys)
    if sort_by:
        sort_keys = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sort_keys)
    w.format("parquet").saveAsTable(table)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered, internally-sorted layout for scan-time pruning.

    ``repartitionByRange`` gives each output file a *disjoint* ``sort_col``
    range; ``sortWithinPartitions`` orders rows inside, so parquet
    row-group min/max statistics let point/range predicates skip all but
    O(1) files.  This is the single-key data-layout optimization (the
    1-D case of z-ordering): at 100 TB a ``WHERE key BETWEEN a AND b``
    scan touches only the files whose range intersects, instead of every
    file.  See tests/test_io.py for the disjointness proof.
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .parquet(path)
    )


def morton_expr_n(cols: list[str], bits: int = 16) -> str:
    """Morton (z-order) code of N non-negative integer expressions:
    interleaves the low ``bits`` bits of each round-robin, so points close
    in EVERY dimension are close in the 1-D code.  Pure shift/mask
    built-ins — stays inside whole-stage codegen.  ``bits`` is clamped so
    the code fits a signed int64 (``bits * N <= 62``)."""
    n = len(cols)
    eff_bits = min(bits, 62 // n)
    terms = []
    for i in range(eff_bits):
        for j, c in enumerate(cols):
            terms.append(
                f"(shiftleft((shiftright({c}, {i}) & 1), {n * i + j}))"
            )
    return "(" + " | ".join(terms) + ")"


def morton_expr(col_a: str, col_b: str, bits: int = 16) -> str:
    """2-D convenience wrapper over :func:`morton_expr_n`."""
    return morton_expr_n([col_a, col_b], bits)


def write_zorder(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-ordered layout: cluster files by the Morton code of two columns.

    The 2-D generalization of :func:`write_sorted_parquet`: a single-key
    sort gives perfect pruning on one column and none on the other;
    z-ordering makes every file cover a small RECTANGLE in (a, b) space,
    so parquet min/max stats prune selective predicates on EITHER column
    (~√F of F files touched per point lookup, vs F for the unsorted and
    the wrong-key-sorted layouts).  This is what Delta/Iceberg OPTIMIZE
    ZORDER does; here it is explicit and table-format-free.
    """
    write_zorder_n(df, path, [col_a, col_b], bits, n_files, mode)


def hilbert_steps(
    bits: int,
    div: str = "div",
    x: str = "hx",
    y: str = "hy",
    d: str = "hd",
) -> list[tuple[str, str, str]]:
    """Hilbert xy→d walk (order ``bits``) unrolled into ``bits``
    data-independent projection steps — each step rewrites columns
    ``(d, x, y)`` from the previous step's values via pure integer
    div/mod and CASE rotations, so the chain stays inside whole-stage
    codegen (no loop, no UDF) and the SAME text runs in DuckDB with
    ``div="//"`` (the audit oracle in ``plans/zorder_layout.py``).
    Returns per-step ``(d_expr, x_expr, y_expr)`` replacement strings.
    Inputs must already be clamped to ``[0, 2**bits)``."""
    n = 1 << bits
    steps = []
    for s in [1 << i for i in range(bits - 1, -1, -1)]:
        rx = f"(({x} {div} {s}) % 2)"
        ry = f"(({y} {div} {s}) % 2)"
        q = f"(CASE WHEN {rx} = 1 THEN 3 - {ry} ELSE {ry} END)"
        flip = f"{ry} = 0 AND {rx} = 1"
        xf = f"(CASE WHEN {flip} THEN {n - 1} - {x} ELSE {x} END)"
        yf = f"(CASE WHEN {flip} THEN {n - 1} - {y} ELSE {y} END)"
        steps.append((
            f"{d} + {s * s} * {q}",
            f"(CASE WHEN {ry} = 0 THEN {yf} ELSE {x} END)",
            f"(CASE WHEN {ry} = 0 THEN {xf} ELSE {y} END)",
        ))
    return steps


def write_hilbert(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 8,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Hilbert-ordered 2-D layout: cluster files by the Hilbert-curve
    index of two (clamped-to-``[0, 2**bits)``) integer columns.

    The locality upgrade over :func:`write_zorder`: consecutive Hilbert
    positions are always grid-ADJACENT, where Morton takes long jumps at
    quadrant boundaries — so equal key-range file cuts get
    tighter-or-equal min-max boxes on average, and 2-D predicates prune
    more files.  The ``zorder_skip_stats`` audit
    (``plans/zorder_layout.py``) measured exactly this on the fixture
    fact table and Hilbert won; this writer makes the audited winner
    writable.  Cost shape is identical to the z-order writer: one
    range-repartition shuffle on the curve key, a within-partition sort,
    no UDF (the xy→d walk is ``bits`` chained projection steps).
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    hi = (1 << bits) - 1
    out = df.withColumns({
        "__hx": F.expr(
            f"least({hi}, greatest(0, cast({col_a} as bigint)))"),
        "__hy": F.expr(
            f"least({hi}, greatest(0, cast({col_b} as bigint)))"),
        "__hd": F.lit(0).cast("bigint"),
    })
    for d_e, x_e, y_e in hilbert_steps(bits, "div", "__hx", "__hy", "__hd"):
        out = out.withColumns({
            "__hd": F.expr(d_e), "__hx": F.expr(x_e), "__hy": F.expr(y_e),
        })
    (
        out.drop("__hx", "__hy")
        .repartitionByRange(n, F.col("__hd"))
        .sortWithinPartitions("__hd")
        .drop("__hd")
        .write.mode(mode)
        .parquet(path)
    )


def write_zorder_n(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """N-dimensional z-ordered layout (see :func:`write_zorder`): each
    file covers a small N-box in the clustered columns' space, so min/max
    stats prune selective predicates on ANY of them.  Pruning power per
    dimension decays as N grows (each file's box widens per axis —
    ~F^(1/N) of F files touched per point lookup); 2-4 columns is the
    practical lakehouse range, same as Delta/Iceberg OPTIMIZE ZORDER."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    z = F.expr(morton_expr_n(cols, bits))
    (
        df.withColumn("__z", z)
        .repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite ``path`` into ~``target_file_bytes``
    files.  Returns the new file count.

    Streaming sinks and per-date micro-batch appends accumulate thousands
    of tiny files; at 100 TB that is a metadata bomb (every query lists
    and opens all of them).  Periodic compaction keeps file count
    proportional to data size.  Uses the swap writer because the rewrite
    reads its own target.  (Table formats — Delta/Iceberg — do this as
    OPTIMIZE; this is the raw-parquet equivalent.)
    """
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n = max(1, -(-total // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    write_swap(df.repartition(n), path)
    return sum(
        1
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def _swap_publish(tmp: str, path: str) -> None:
    """Publish a fully-written ``tmp`` dir at ``path`` such that a crash
    at ANY point leaves at least one complete copy on disk:
    rename-old-aside → rename-tmp-in → delete-old.  The previous
    rmtree-then-rename shape had a window (after the rmtree, before the
    rename) where NO copy existed — a crash there made a restarted
    streaming job silently rebuild state from one micro-batch
    (round-12 advice).  ``recover_swap`` is the matching crash-recovery
    half: it adopts ``tmp`` or restores the aside copy when ``path`` is
    missing.  An aside is deleted only while the target exists: with no
    target, a leftover aside is the last complete copy and stays the
    aside until ``tmp`` is in."""
    import shutil

    old = path + "__old_swap"
    if os.path.exists(path):
        if os.path.exists(old):  # stale aside from a crash after publish
            shutil.rmtree(old)
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def recover_swap(path: str) -> bool:
    """Crash-recovery for ``_swap_publish``: if ``path`` is missing but a
    COMPLETE ``__tmp_swap`` sibling exists (Spark's ``_SUCCESS`` marker
    committed), adopt it — it holds the full merged state; else restore
    the ``__old_swap`` aside.  Returns True if a copy was recovered.
    Callers that treat a missing target as "day 0" (streaming sketch /
    dim folds, the sales pipeline's ``read_or_empty``) MUST call this
    before the existence check, or a crash mid-publish silently restarts
    state from a single batch."""
    path = path.rstrip("/")
    if os.path.exists(path):
        return False
    tmp, old = path + "__tmp_swap", path + "__old_swap"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)
        return True
    if os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def write_swap(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Read-modify-write rewrite: write to a temp sibling, then swap.

    Required when ``df``'s lineage READS ``path`` (SCD2 dim rewrite, merge
    upsert) — overwriting a path mid-read self-truncates.  Also the
    publish step of every streaming fold and of the drift-gated refresh,
    whose restarts rely on ``recover_swap``.  The publish is
    the rename-aside protocol (``_swap_publish``) so a complete copy
    exists at every instant; renames are atomic on a local/HDFS
    filesystem; on object stores use a table format (Delta/Iceberg)
    instead — documented in SURVEY §7.4.
    """
    path = path.rstrip("/")
    tmp = path + "__tmp_swap"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(tmp)
    _swap_publish(tmp, path)
    # the rename happened outside Spark's writers — drop the session's
    # cached file listing for the path or later reads serve deleted files
    df.sparkSession.catalog.refreshByPath(path)


def write_orc(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """ORC sink (S16) — the columnar interchange format for Hive-adjacent
    stacks; Spark's ORC writer is built in and carries the same predicate
    pushdown / column pruning contract as parquet."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.orc(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read across an EVOLVING schema (``mergeSchema=true``):
    batches written before a column existed surface it as NULL; the
    unified schema is the union of every footer.

    Scale note: schema merging footer-reads every file on the driver —
    fine for a landing zone of daily batches, wrong for a million-file
    lake.  There, pin the unified schema explicitly
    (``spark.read.schema(unified).parquet(...)``) and keep per-file
    evolution to ADDED nullable columns only (parquet's compatible
    direction); type CHANGES go through the schema-drift contract
    (``sources/schema.py::schema_drift``) and a rewrite."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (S16).  Schema comes from the ORC footer (self-describing,
    no inference pass)."""
    return spark.read.orc(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    options: dict | None = None,
    stamp_ingestion: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """CSV load with a quarantine channel: returns ``(good, bad)`` where
    malformed rows are CAPTURED (raw line + file) instead of silently
    dropped — the auditable version of ``read_csv(tolerant=True)``
    (BigQuery's ``max_bad_records`` counts rejects; this keeps them).

    Implementation: PERMISSIVE mode routes unparseable lines into
    ``_corrupt_record``; the two output frames split on its nullness.
    One scan feeds both (same cached plan); at scale write ``bad`` to a
    quarantine sink and alert on its count."""
    corrupt_col = "_corrupt_record"
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    opts = dict(DEFAULT_CSV_OPTIONS)
    opts.update({"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col})
    if options:
        opts.update(options)
    df = spark.read.schema(full_schema).options(**opts).csv(path)
    # File provenance must be captured BEFORE the cache: rows served from
    # cache have no file context and input_file_name() returns ''.
    df = df.withColumn("__src", F.input_file_name())
    # Spark requires caching/materializing before filtering on the corrupt
    # column alone (SPARK-21610: the column is only populated when other
    # columns are also referenced) — a cache makes the split sound.
    df = df.cache()
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col, "__src")
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line"),
        F.col("__src").alias("source_file"),
    )
    if stamp_ingestion:
        good = good.withColumn("ingestion_timestamp", F.current_timestamp())
        good = good.withColumn("ingest_date", F.to_date("ingestion_timestamp"))
    return good, bad


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    options: dict | None = None,
    stamp_ingestion: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """JSONL load with a quarantine channel — the S1 disposition surface
    carried to the training-data interchange format.  Same mechanics as
    :func:`read_csv_quarantine` (PERMISSIVE + ``_corrupt_record`` split,
    one cached scan feeding both channels); a corrupt line in a
    billion-line crawl dump lands in ``bad`` with file provenance
    instead of being silently dropped or killing the job."""
    corrupt_col = "_corrupt_record"
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    opts = {
        "timestampFormat": DEFAULT_CSV_OPTIONS["timestampFormat"],
        "dateFormat": DEFAULT_CSV_OPTIONS["dateFormat"],
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": corrupt_col,
    }
    if options:
        opts.update(options)
    df = spark.read.schema(full_schema).options(**opts).json(path)
    df = df.withColumn("__src", F.input_file_name())
    df = df.cache()  # SPARK-21610: see read_csv_quarantine
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col, "__src")
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line"),
        F.col("__src").alias("source_file"),
    )
    if stamp_ingestion:
        good = good.withColumn("ingestion_timestamp", F.current_timestamp())
        good = good.withColumn("ingest_date", F.to_date("ingestion_timestamp"))
    return good, bad
