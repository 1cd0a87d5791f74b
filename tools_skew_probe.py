"""Hot-key (Zipf-head) skew-stress probe — VERDICT r7 item 4.

Every prior 25x/125x probe used key-offset copies that PRESERVE uniformity,
so "full shuffle on a skewed key" — the one named scale-killer class — was
never exercised. This probe stages two 25x variants of sf0.1 in /tmp:

- ``uniform``: 25 key-offset copies of events/orders (+ a matching 25x
  customer dim) — the usual shape, every key equally loaded.
- ``hotkey``: same rows, but ~20% of events.user_id and orders.o_custkey are
  reassigned to ONE key (HOT_KEY) — a 500k-row hot key in a 2.5M-row fact,
  the head of a Zipf distribution and far beyond AQE's 5x skew factor.

It then times the flagship shapes over both variants under three configs:

- ``default``    — engine defaults (broadcast allowed): the dim broadcasts,
                   so joins are skew-immune BY PLAN CHOICE; records that the
                   optimizer's first line of defense works.
- ``nobc``       — autoBroadcastJoinThreshold=-1 (models a dim too big to
                   broadcast at 100 TB) with AQE skew-join ON and its
                   byte threshold lowered to 4 MB so the mechanism engages
                   at probe scale (the default 256 MB threshold is sized for
                   production partitions; the RATIO test — hot partition
                   >= 5x median — is the scale-invariant part and is hit
                   honestly here: ~560k rows vs ~60k median).
- ``nobc_noskew``— same but skew-split disabled: the naive skewed
                   sort-merge join, the plan a 100 TB cluster must avoid.

Shapes: plain equi-join (events x customer), salted_join (the explicit
mitigation, operators/skew.py), plain groupBy sum/count (partial aggregation
should absorb the hot key — map-side combine emits one row per key per map
partition), salted two-phase agg, orders x customer join, and a top-k-per-key
window (row_number over partitionBy(user_id)) — the one shape AQE CANNOT
split, since a window partition is indivisible.

Correctness gates (run on the hotkey variant before timing): salted join ==
plain join row count; salted agg == plain agg value-for-value; window top-k
emits exactly 3 rows per surviving key.

Usage: python tools_skew_probe.py [--reps 2] [--skip-stage] [--copies 25]
                                  [--match SUBSTRING]
Writes one JSON line per measurement and a summary table to stdout; NOTES_r08
records the table. ``--copies 125`` stages a 12.5M-row fact (2.5M-row hot
partition, ~100 MB post-shuffle) where the skew penalties separate clearly
from parallel-headroom noise; ``--match join`` runs only matching cells.
"""

from __future__ import annotations

import argparse
import json
import os
import tempfile
import time

import duckdb

from iot_data_pipeline_spark.operators._util import per_user_tmp_suffix

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 25
HOT_KEY = 7          # exists in copy-0's customer range
HOT_FRACTION = 5     # 1-in-5 rows -> ~20% on HOT_KEY
KEY_STRIDE = 100_000         # per-copy custkey/user_id offset (disjoint)
ROW_STRIDE = 10_000_000      # per-copy event/order id offset (stays unique)

CONFIGS: dict[str, dict[str, str]] = {
    "default": {},
    "nobc": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    },
    "nobc_noskew": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    },
}


def base_dir(copies: int = COPIES) -> str:
    tag = "" if copies == COPIES else f"_{copies}x"
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_skew_{per_user_tmp_suffix()}{tag}"
    )


def stage(copies: int = COPIES) -> None:
    """Stage both 25x variants with DuckDB (plain µs-timestamp parquet, the
    same files ``load_table`` reads). Idempotent overwrite."""
    for variant in ("uniform", "hotkey"):
        d = os.path.join(base_dir(copies), variant)
        os.makedirs(d, exist_ok=True)
        hot_user = (
            f"CASE WHEN hash(e.event_id + i*{ROW_STRIDE}) % {HOT_FRACTION} = 0 "
            f"THEN {HOT_KEY} ELSE e.user_id + i*{KEY_STRIDE} END"
            if variant == "hotkey"
            else f"e.user_id + i*{KEY_STRIDE}"
        )
        hot_cust = (
            f"CASE WHEN hash(o.o_orderkey + i*{ROW_STRIDE}) % {HOT_FRACTION} = 0 "
            f"THEN {HOT_KEY} ELSE o.o_custkey + i*{KEY_STRIDE} END"
            if variant == "hotkey"
            else f"o.o_custkey + i*{KEY_STRIDE}"
        )
        duckdb.sql(
            f"""COPY (SELECT e.event_id + i*{ROW_STRIDE} AS event_id, e.ts,
                       CAST({hot_user} AS BIGINT) AS user_id,
                       e.event_type, e.value, e.props
                FROM '{SF_DIR}/events.parquet' e, range({copies}) t(i))
                TO '{d}/events.parquet' (FORMAT parquet)"""
        )
        duckdb.sql(
            f"""COPY (SELECT o.o_orderkey + i*{ROW_STRIDE} AS o_orderkey,
                       CAST({hot_cust} AS BIGINT) AS o_custkey,
                       o.o_orderstatus, o.o_totalprice, o.o_orderdate,
                       o.o_orderpriority
                FROM '{SF_DIR}/orders.parquet' o, range({copies}) t(i))
                TO '{d}/orders.parquet' (FORMAT parquet)"""
        )
        duckdb.sql(
            f"""COPY (SELECT c.c_custkey + i*{KEY_STRIDE} AS c_custkey,
                       c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
                FROM '{SF_DIR}/customer.parquet' c, range({copies}) t(i))
                TO '{d}/customer.parquet' (FORMAT parquet)"""
        )
        print(f"staged {variant} -> {d}", flush=True)


def _queries(spark, d):
    """Shape name -> lazily-built DataFrame over staging dir ``d``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.operators import skew
    from iot_data_pipeline_spark.operators._util import table
    from iot_data_pipeline_spark.operators.skew import salted_join

    def join_plain():
        e = table(spark, d, "events")
        c = table(spark, d, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        return e.join(c, "user_id").select(
            "event_id", "user_id", "c_mktsegment", "value"
        )

    def join_salted():
        e = table(spark, d, "events")
        c = table(spark, d, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        return salted_join(e, c, "user_id").select(
            "event_id", "user_id", "c_mktsegment", "value"
        )

    def agg_plain():
        e = table(spark, d, "events")
        return e.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )

    def agg_salted():
        # the REGISTERED operator, so the probe times exactly what ships
        return skew.skew_salted_agg(spark, d)

    def ord_join():
        o = table(spark, d, "orders")
        c = table(spark, d, "customer")
        return o.join(c, o.o_custkey == c.c_custkey).select(
            "o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice"
        )

    def win_topk():
        e = table(spark, d, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id")
        )
        return (
            e.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("user_id", "event_id", "rn")
        )

    def win_topk_twophase():
        # the REGISTERED skew_topk_bounded operator (skew.bounded_topk),
        # so the probe times exactly the shipped mitigation
        return skew.skew_topk_bounded(spark, d)

    return {
        "join_plain": join_plain,
        "join_salted": join_salted,
        "agg_plain": agg_plain,
        "agg_salted": agg_salted,
        "ord_join": ord_join,
        "win_topk": win_topk,
        "win_topk_twophase": win_topk_twophase,
    }


# Which (shape, config) cells matter; default config joins broadcast (skew-
# immune by plan choice) so salted/naive variants are only timed under nobc.
MATRIX: list[tuple[str, str]] = [
    ("join_plain", "default"),
    ("join_plain", "nobc"),
    ("join_plain", "nobc_noskew"),
    ("join_salted", "nobc_noskew"),
    ("agg_plain", "default"),
    ("agg_salted", "default"),
    ("ord_join", "nobc"),
    ("ord_join", "nobc_noskew"),
    ("win_topk", "default"),
    ("win_topk_twophase", "default"),
]


def timed(spark, build, reps: int) -> float:
    """Warmed best-of-``reps``: one warm run, then min of ``reps`` runs."""
    best = float("inf")
    for i in range(reps + 1):
        t0 = time.monotonic()
        build().write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        if i > 0:
            best = min(best, dt)
    return best


def correctness(spark, copies: int = COPIES) -> None:
    """Salted plans must be EXACTLY the plain answer on the hot-key data."""
    d = os.path.join(base_dir(copies), "hotkey")
    q = _queries(spark, d)
    n_plain = q["join_plain"]().count()
    n_salted = q["join_salted"]().count()
    assert n_plain == n_salted, (n_plain, n_salted)
    a = {r["user_id"]: (r["n"], r["total"]) for r in q["agg_plain"]().collect()}
    b = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in q["agg_salted"]().collect()
    }
    assert a == b, "salted agg diverged from plain agg"
    t1 = sorted(map(tuple, q["win_topk"]().collect()))
    t2 = sorted(map(tuple, q["win_topk_twophase"]().collect()))
    assert t1 == t2, "two-phase top-k diverged from plain window top-k"
    hot = sum(1 for r in a if r == HOT_KEY)
    print(
        f"correctness OK on hotkey: join rows={n_plain}, agg keys={len(a)}, "
        f"hot-key present={bool(hot)}, topk rows={len(t1)}",
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--skip-stage", action="store_true")
    ap.add_argument("--copies", type=int, default=COPIES)
    ap.add_argument(
        "--match",
        default="",
        help="comma-separated substrings; run only cells containing any "
        "(plain substrings, NOT regex — 'a|b' matches nothing)",
    )
    ap.add_argument(
        "--driver-memory",
        default="4g",
        help="local-mode JVM heap; 125x naive-skew SMJ sorts a ~2.5M-row hot "
        "partition in one task and needs >=8g to avoid allocation failure",
    )
    args = ap.parse_args()

    if not args.skip_stage:
        stage(args.copies)

    from iot_data_pipeline_spark import harness
    from iot_data_pipeline_spark.session import prepare, scoped_conf

    spark = harness.session(
        os.environ.get("SPARK_GRAFT_CPUS", "32"),
        **{
            "spark.driver.memory": args.driver_memory,
            "spark.sql.shuffle.partitions": "32",
        },
    )
    prepare(spark)
    if args.copies == COPIES:
        # plain==salted equivalence is scale-invariant; gate it once at the
        # default staging (at 125x the gate's count() would broadcast a
        # 1.875M-row dim and exhaust default driver memory — the timing
        # cells themselves run with broadcast disabled or the 25x dim).
        correctness(spark, args.copies)

    results: dict[str, dict[str, float]] = {}
    for shape, cfg_name in MATRIX:
        cell = f"{shape}@{cfg_name}"
        if args.match and not any(
            s in cell for s in args.match.split(",") if s
        ):
            continue
        results[cell] = {}
        for variant in ("uniform", "hotkey"):
            d = os.path.join(base_dir(args.copies), variant)
            with scoped_conf(spark, **CONFIGS[cfg_name]):
                sec = timed(spark, _queries(spark, d)[shape], args.reps)
            results[cell][variant] = round(sec, 2)
            print(
                json.dumps({"cell": cell, "variant": variant, "sec": round(sec, 3)}),
                flush=True,
            )

    print(
        f"\n| shape @ config | uniform {args.copies}x s "
        f"| hotkey {args.copies}x s | hot/uniform |"
    )
    print("|---|---|---|---|")
    for cell, row in results.items():
        ratio = row["hotkey"] / row["uniform"] if row["uniform"] else float("nan")
        print(f"| {cell} | {row['uniform']} | {row['hotkey']} | {ratio:.2f} |")


if __name__ == "__main__":
    main()
