"""Shared helpers for operator query builders.

Determinism conventions (FIXTURES.md §5, SURVEY.md §2B preamble):

- **Exact-decimal aggregation.** All testdata money/price columns are
  2-decimal doubles. Summing doubles directly is summation-order-dependent
  (Spark's partial aggregation order varies with partitioning; DuckDB's with
  its own morsel order), so instead cast to ``DECIMAL`` first: the decimal sum
  is exact in both engines, and casting the exact result to double yields a
  bit-identical value on both sides. This also scales: decimal sum is still a
  single-pass partial+final hash aggregate, no extra shuffle.
- **Double division only after exact sums** (avg = exact-sum / count).
- **UTC + aliased columns** everywhere (driver hash-matches by column name).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iot_data_pipeline_spark.session import prepare
from iot_data_pipeline_spark.sources.readers import load_table

DEC = "decimal(18,4)"


def dist_global_rank(df: DataFrame, *order: Column) -> DataFrame:
    """DISTRIBUTED global dense row-number — the two-pass rewrite of
    ``row_number().over(Window.orderBy(...))`` with no partition key, which
    Spark executes as ``Exchange SinglePartition`` + a single-task Sort: a
    wall once the ranked frame is corpus-scale (one row per document at
    100 TB is billions of rows through ONE task — VERDICT r12).

    Classic two-pass global sort instead: range-repartition on the order
    expressions (sampled boundaries), rank locally within each range
    partition, then add each partition's row-count prefix sum — a
    ``numPartitions``-row side table, broadcast back. The result is exact
    regardless of where the sampled boundaries fall (every row in partition
    p sorts after all rows of partitions < p), proven bit-identical to the
    builtin by ``win_ntile_dist``'s unchanged DuckDB builtin-window oracle
    since round 3.

    Returns ``df``'s columns plus ``rnk`` (1-based global row number,
    bigint) and ``n_total`` (bigint). The order expressions must be a
    TOTAL order (tie-break to a unique key) or ``rnk`` is
    boundary-placement-dependent, exactly like the builtin row_number.

    Plan note: the per-``_pid`` window adds a SECOND (hash) exchange of
    the narrow frame after the range exchange — Catalyst cannot know the
    synthetic partition id already clusters itself. The known dodge
    (sortWithinPartitions + ``monotonically_increasing_id`` bit-sliced
    into (pid, local index)) would make it one shuffle, but it rests on
    the id's *current-implementation* bit layout and on physical row
    order surviving every planner decision — determinism by convention.
    This engine keeps the window form: determinism BY CONSTRUCTION on
    any cluster, paid for with one extra shuffle of a narrow
    (key + rank) frame.
    """
    from pyspark.storagelevel import StorageLevel

    from iot_data_pipeline_spark.cache_tracker import tracked_cache

    # ``rnk``/``n_total`` are RESERVED OUTPUT names and ``_pid``/``_lrank``/
    # ``_off`` internal scratch (ADVICE r13): a shared utility silently
    # overwriting a caller column of the same name — or joining/windowing
    # on a pre-existing ``_pid`` — would corrupt the rank logic without a
    # diagnostic. Three call sites today; fail loudly at the seam.
    clash = {"_pid", "_lrank", "_off", "rnk", "n_total"} & set(df.columns)
    if clash:
        raise ValueError(
            f"dist_global_rank reserves column names {sorted(clash)} "
            "(outputs rnk/n_total, internals _pid/_lrank/_off); rename "
            "them on the input frame first"
        )

    spark = df.sparkSession
    parts = max(2, spark.sparkContext.defaultParallelism)
    ranged = df.repartitionByRange(parts, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    lw = Window.partitionBy("_pid").orderBy(*order)
    # cache: the ranked frame feeds three branches (ranks, per-partition
    # counts, total); one scan + one range shuffle instead of three, and
    # the materialized _pid column can never disagree between branches.
    # DISK_ONLY (review finding, r13): callers rank CORPUS-SCALE frames
    # (one row per document); a default-level pin in the protected
    # storage region starves same-stage hash aggregations at tight heaps
    # (the repo caching rule, cache_tracker.py).
    local = tracked_cache(
        ranged.withColumn("_lrank", F.row_number().over(lw)),
        StorageLevel.DISK_ONLY,
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pn"))
    # counts has ≤ `parts` rows: the global window over it is free, and
    # both side tables broadcast.
    ow = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_pn").over(ow), F.lit(0)).alias("_off")
    )
    total = counts.agg(F.sum("_pn").cast("bigint").alias("n_total"))
    return (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn("rnk", (F.col("_off") + F.col("_lrank")).cast("bigint"))
        .drop("_pid", "_lrank", "_off")
    )


def ntile_closed_form(k: int) -> Column:
    """``ntile(k)`` as a closed form of the (``rnk``, ``n_total``) columns
    ``dist_global_rank`` produces: the first (N mod k) tiles hold
    (N div k)+1 rows, the rest N div k — pure integer arithmetic
    (ceil(a/b) = (a+b-1) div b), bit-identical to the engines' builtin
    NTILE allocation. When N < k, base = 0 and every rank falls in the
    first branch, so the else-branch's div-by-zero is unreachable."""
    return F.expr(
        f"CASE WHEN rnk <= (n_total % {k}) * (n_total div {k} + 1)"
        f" THEN (rnk + n_total div {k}) div (n_total div {k} + 1)"
        f" ELSE n_total % {k}"
        f"  + (rnk - (n_total % {k}) * (n_total div {k} + 1)"
        f"     + n_total div {k} - 1) div (n_total div {k})"
        f" END"
    )


def per_user_tmp_suffix() -> int:
    """Suffix for world-shared /tmp artifact paths and catalog table names:
    two users on one host must never overwrite each other's staged data
    (sticky-bit /tmp also forbids it), while one user's processes reuse and
    overwrite in place (no per-run leak). Shared by the bucketed-join
    tables and the staged media directory.

    Where ``os.getuid`` is unavailable (Windows), fall back to a stable
    per-user token derived from the login name — NOT a constant, which
    would collapse every user onto one shared suffix and reintroduce the
    cross-user overwrite hazard this helper exists to prevent (ADVICE r6).
    """
    import os

    if hasattr(os, "getuid"):
        return os.getuid()
    import getpass
    import zlib

    try:
        user = getpass.getuser()
    except Exception:
        user = os.environ.get("USERNAME") or os.environ.get("USER") or "anon"
    return zlib.crc32(user.encode("utf-8", "surrogatepass"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table with session conventions pinned."""
    prepare(spark)
    return load_table(spark, sf_dir, name)


def spread_input(df: DataFrame, *cols: str) -> DataFrame:
    """Scale-ADAPTIVE under-split guard for scans feeding expensive
    narrow stages (r16 optimization, guide §2.5 "input skew: one huge
    unsplittable file → repartition immediately after the read").
    Partitioning is best-effort: a frame already at ``defaultParallelism``
    splits or more is returned as is, NOT hash-clustered on ``cols``, so
    no caller may rely on rows sharing a ``cols`` value being co-located.

    A small table arriving as fewer splits than cores serializes every
    downstream narrow operator (explode, per-position hashing, Python
    decode) onto that many tasks — the sf-scale corpora are single
    parquet row groups, so whole pipelines ran one-task wide. Repartition
    to ``defaultParallelism`` ONLY when the frame is under-split; a
    production-scale scan (thousands of splits) passes through untouched,
    so this never adds a corpus-wide shuffle where parallelism already
    exists. On the repartition path, hash-partition on ``cols`` when
    given (deterministic under retries with no local sort); round-robin
    otherwise. Values are untouched — plans differ, results cannot.

    Probe cost (ADVICE r16): ``df.rdd.getNumPartitions()`` forces
    analysis + a DataFrame→RDD conversion per call, and reads the
    PRE-AQE partition count. Fine for the current call sites (plain
    scans, probed once per query); do not reuse on deep plans or in
    loops — gate on the leaf scan's split count there instead."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p, *[F.col(c) for c in cols]) if cols else df.repartition(p)


def dsum(col: Column | str, alias: str) -> Column:
    """Exact decimal sum of a ≤4-decimal double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Deterministic average: exact decimal sum (as double) / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def dec(col: Column | str) -> Column:
    """Cast to the shared exact-decimal type."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum_prod(col: Column, alias: str) -> Column:
    """Deterministic double for sums of DECIMAL PRODUCTS (scale ≥ 8).

    Scale-4 sums (``dsum``) cast to double identically on both engines, but
    high-scale sums at big magnitudes do not: Spark converts via correctly-
    rounded BigDecimal while DuckDB double-rounds (int128→double, ×10⁻ˢ) —
    a 1-ulp divergence first seen at sf0.1 on ~5e9 revenue sums. And simply
    rescaling the decimal first is no better (Spark rounds HALF_UP, DuckDB
    truncates). Deterministic recipe: floor the exact sum to integer
    ten-thousandths (exact both sides, < 2^53) and divide once in IEEE
    double arithmetic."""
    return (
        F.floor(F.sum(col) * 10000).cast("bigint").cast("double") / 10000
    ).alias(alias)


# The matching DuckDB SQL fragments (keep in sync with dsum/davg above).
def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) AS {alias}"


def sql_dsum_prod(expr: str, alias: str) -> str:
    """DuckDB fragment matching ``dsum_prod`` (expr is a decimal product)."""
    return (
        f"CAST(CAST(FLOOR(SUM({expr}) * 10000) AS BIGINT) AS DOUBLE)"
        f" / 10000 AS {alias}"
    )


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
