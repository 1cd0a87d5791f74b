"""Scalar-function suite queries (SURVEY.md §2B "Scalar functions") plus the
reference's CSV-scan contract exercised end-to-end on a quirk fixture.

Everything stays inside whole-stage codegen — built-in ``pyspark.sql.functions``
only, no Python in the hot path. Oracle parity notes inline; where Spark and
DuckDB dialects could drift (round-half behavior, libm last-ulp), computed
values are rounded AFTER transcendental functions and tie-prone roundings are
avoided (FIXTURES.md §5, SURVEY.md §7 risk 1).
"""

from __future__ import annotations

import csv
import os
import tempfile

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from iot_data_pipeline_spark.functions.transforms import (
    duration_to_seconds,
    normalize_columns,
    transform_iot,
)
from iot_data_pipeline_spark.operators._util import table
from iot_data_pipeline_spark.session import prepare
from iot_data_pipeline_spark.sources.readers import IOT_SCHEMA, read_iot_csv

# Duration quirk fixture (FIXTURES.md §1): id → raw Zeek duration string.
# Expected values under reference semantics (quirks 1-2, float32 casts),
# rounded to 6 decimals — computed once and pinned as oracle literals.
DURATION_FIXTURE: list[tuple[int, str | None]] = [
    (1, "0 days 00:00:03.000123"),
    (2, "1 days 02:03:04.500000"),
    (3, "0 days 00:00:03"),  # no fractional dot → NULL (quirk 2)
    (4, "0 days 00:00:03.5"),  # ".5" ÷ 1e6 → 3.000005 (quirk 1)
    (5, "3.12"),  # plain numeric fallback
    (6, "2 days 10:20:30.123456"),
    (7, None),  # '-' at scan time → NULL
]

DURATION_ORACLE_SQL = (
    "SELECT * FROM (VALUES"
    " (1, CAST(3.000123 AS DOUBLE)),"
    " (2, CAST(93784.5 AS DOUBLE)),"
    " (3, CAST(NULL AS DOUBLE)),"
    " (4, CAST(3.000005 AS DOUBLE)),"
    " (5, CAST(3.12 AS DOUBLE)),"
    " (6, CAST(210030.123456 AS DOUBLE)),"
    " (7, CAST(NULL AS DOUBLE))"
    ") t(id, duration_sec)"
)


def _duration_fixture_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [Row(id=i, duration=d) for i, d in DURATION_FIXTURE],
        "id INT, duration STRING",
    )


def fn_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F1-F3: the 6×regexp_extract duration parse with exact quirk
    semantics, as a pure Catalyst expression. Oracle = pinned golden values."""
    prepare(spark)
    df = _duration_fixture_df(spark)
    return df.select(
        "id",
        F.round(duration_to_seconds(F.col("duration")).cast("double"), 6).alias(
            "duration_sec"
        ),
    )


# CSV fixture exercising the full scan contract: '-' null sentinel, header,
# recursive directory lookup, enforced schema, plus the downstream transforms.
_CSV_ROWS = [
    # uid, orig_h, orig_p, resp_h, resp_p, proto, service, duration,
    # orig_bytes, resp_bytes, conn_state, local_orig, local_resp,
    # missed_bytes, history, orig_pkts, orig_ip_bytes, resp_pkts,
    # resp_ip_bytes, tunnel_parents, label, detailed-label
    ["u1", "10.0.0.1", "443", "10.0.0.2", "51000", "tcp", "http",
     "0 days 00:00:03.000123", "100", "200", "SF", "T", "F", "0", "ShADad",
     "3", "300", "2", "250", "-", "Benign", "-"],
    ["u2", "10.0.0.3", "53", "10.0.0.4", "51001", "udp", "dns",
     "3.12", "-", "80", "S0", "F", "-", "0", "D", "1", "60", "1", "90",
     "-", "Malicious", "PartOfAHorizontalPortScan"],
    ["u3", "10.0.0.5", "22", "10.0.0.6", "51002", "tcp", "",
     "0 days 00:00:03", "55", "-", "OTH", "-", "T", "5", "-", "2", "110",
     "0", "0", "-", "Malicious", "C&C"],
    ["u4", "10.0.0.7", "80", "10.0.0.8", "51003", "icmp", "-",
     "-", "-", "-", "REJ", "", "", "-", "-", "0", "0", "0", "0", "-",
     "Benign", "-"],
]


def _write_csv_fixture() -> str:
    """Write the fixture under a nested subdir so recursiveFileLookup is
    actually exercised."""
    root = tempfile.mkdtemp(prefix="iot_csv_fixture_")
    sub = os.path.join(root, "capture-1", "bro")
    os.makedirs(sub, exist_ok=True)
    with open(os.path.join(sub, "conn.log.labeled.csv"), "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow([fld.name for fld in IOT_SCHEMA.fields])
        w.writerows(_CSV_ROWS)
    return root


def scan_csv_opts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference S1→P1→F1-F7 end-to-end: schema-enforced recursive CSV scan
    ('-'→NULL), name normalization, full IoT transform. Oracle = pinned
    golden rows."""
    prepare(spark)
    raw = read_iot_csv(spark, _write_csv_fixture())
    out = transform_iot(normalize_columns(raw))
    return out.select(
        "uid",
        "id_orig_h",
        "id_orig_p",
        "proto",
        "service",
        "orig_bytes",
        "label",
        "detailed_label",
        F.round(F.col("duration_sec").cast("double"), 6).alias("duration_sec"),
        "local_orig_bool",
        "local_resp_bool",
    )


SCAN_CSV_ORACLE_SQL = (
    "SELECT * FROM (VALUES"
    " ('u1', '10.0.0.1', 443, 'tcp', 'http', CAST(100 AS BIGINT), 'Benign',"
    "  CAST(NULL AS VARCHAR), CAST(3.000123 AS DOUBLE), true, true),"
    " ('u2', '10.0.0.3', 53, 'udp', 'dns', CAST(NULL AS BIGINT), 'Malicious',"
    "  'PartOfAHorizontalPortScan', CAST(3.12 AS DOUBLE), true, false),"
    " ('u3', '10.0.0.5', 22, 'tcp', CAST(NULL AS VARCHAR), CAST(55 AS BIGINT),"
    "  'Malicious', 'C&C', CAST(NULL AS DOUBLE), false, true),"
    " ('u4', '10.0.0.7', 80, 'icmp', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),"
    "  'Benign', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), false, false)"
    ") t(uid, id_orig_h, id_orig_p, proto, service, orig_bytes, label,"
    "    detailed_label, duration_sec, local_orig_bool, local_resp_bool)"
)


def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/trim/substring/concat/split/length/replace over part."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias(
            "brand_trim"
        ),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.size(F.split("p_name", " ")).alias("n_words"),
    )


def fn_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/date_trunc/datediff/last_day over l_shipdate."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
        F.dayofmonth("l_shipdate").alias("ship_day"),
        F.date_trunc("month", F.col("l_shipdate")).alias("ship_month_start"),
        F.datediff(F.col("l_shipdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.last_day(F.col("l_shipdate")).alias("ship_month_end"),
        F.to_date(F.col("l_shipdate")).alias("ship_date"),
    )


def fn_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round/abs/ceil/floor/ln/sqrt/pow over part prices. Transcendentals are
    rounded to 4 AFTER evaluation (libm last-ulp absorption); ceil/floor cast
    to BIGINT on both sides (DuckDB returns double, Spark returns long)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_retailprice") - 1500.0).alias("abs_diff"),
        F.ceil("p_retailprice").cast("long").alias("price_ceil"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
        F.round(F.log("p_retailprice"), 4).alias("price_ln"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
        F.pow(F.col("p_size").cast("double"), F.lit(2.0)).alias("size_sq"),
    )


def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the events.props JSON string — both the
    path-based get_json_object and schema-based from_json routes."""
    e = table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_path"),
        parsed.getField("k").cast("long").alias("k_typed"),
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("k_mod"),
    )


def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: parse once
    with ``parse_json``, then typed ``variant_get`` path extraction —
    the shredded-at-scan path for schema-flexible columns (vs the string
    re-parse ``get_json_object`` does per call). Missing paths yield NULL
    via ``try_variant_get`` on both engines' equivalents."""
    e = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_int"),
        F.try_variant_get(v, "$.missing", "bigint").alias("k_missing"),
        (F.variant_get(v, "$.k", "bigint") * 2).alias("k_doubled"),
    )


def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation-aware grouping: p_type is deliberately case-mangled
    per row (upper for even keys, lower for odd), then grouped under the
    ``UTF8_LCASE`` collation — the COLLATION merges the case variants, with
    no lower() rewrite in the grouping key. The collated key is folded and
    cast back to a binary-collation string only for the stable output
    contract. Collation-aware grouping runs fully JVM-side (no UDF) and
    shuffles on the collation key like any hash agg."""
    p = table(spark, sf_dir, "part")
    mixed = (
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_type"))
        .otherwise(F.lower("p_type"))
    )
    return (
        p.select(F.collate(mixed, "UTF8_LCASE").alias("t_ci"))
        .groupBy("t_ci")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.expr("cast(lower(t_ci) as string collate UTF8_BINARY)").alias(
                "type_norm"
            ),
            "n",
        )
    )


def fn_xml_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion functions (native since Spark 4): rows are serialized
    to an XML fragment, then recovered BOTH ways — schema-based ``from_xml``
    and path-based ``xpath_long``/``xpath_string`` (the XML twins of
    from_json/get_json_object). The oracle selects the source columns
    directly, so any parse drift (whitespace, typing, entity handling)
    breaks the hash."""
    p = table(spark, sf_dir, "part")
    xml = F.concat(
        F.lit("<part><key>"),
        F.col("p_partkey").cast("string"),
        F.lit("</key><brand>"),
        F.col("p_brand"),
        F.lit("</brand><size>"),
        F.col("p_size").cast("string"),
        F.lit("</size></part>"),
    )
    return p.select(
        "p_partkey",
        F.from_xml(xml, "key BIGINT, brand STRING, size INT").alias("x"),
        F.xpath_long(xml, F.lit("/part/key")).alias("k_xpath"),
        F.xpath_string(xml, F.lit("/part/brand")).alias("b_xpath"),
    ).select("p_partkey", "x.key", "x.brand", "x.size", "k_xpath", "b_xpath")


def fn_map_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build a per-row map, rewrite values with
    ``transform_values``, prune entries with ``map_filter``, and explode to
    long form — all JVM-side lambdas. The multiset compare makes map entry
    order irrelevant; values go through floor() before the bigint cast
    because double→int casts truncate in Spark but round in DuckDB."""
    li = table(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"),
        F.floor("l_quantity").cast("bigint"),
        F.lit("line"),
        F.col("l_linenumber").cast("bigint"),
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(doubled, lambda k, v: v > 6)
    return li.select(
        "l_orderkey", "l_linenumber", F.explode(kept).alias("k", "v")
    )


def fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-matching primitive: Levenshtein distance of every customer
    name to a probe (the record-linkage / fuzzy-dedup building block), and
    a ≤2-edits match flag. Exact integer DP — identical in both engines —
    and embarrassingly parallel (per-row, no shuffle); blocking/LSH keeps
    the pair space down at scale exactly as in the MinHash dedup family."""
    c = table(spark, sf_dir, "customer")
    dist = F.levenshtein("c_name", F.lit("Customer#000000001"))
    return c.select(
        "c_custkey",
        dist.alias("dist_to_probe"),
        (dist <= 2).alias("fuzzy_match"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_dist"),
    )


def fn_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over embeddings: size, element access,
    fold (aggregate), filter, min/max. All JVM-side — no UDF; at 100 TB this
    is the cheap path for vector math on array columns."""
    e = table(spark, sf_dir, "embeddings")
    emb_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(emb_d, 1), 4).alias("first_val"),
        F.round(
            F.aggregate(emb_d, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("emb_sum"),
        F.round(F.array_min(emb_d), 4).alias("emb_min"),
        F.round(F.array_max(emb_d), 4).alias("emb_max"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
    )


def fn_map_from_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a word→length map from p_type tokens, then probe it. Output is
    scalar (map internals never surface), so the oracle can express the same
    lookups with list functions; map iteration order never matters."""
    prepare(spark)
    p = table(spark, sf_dir, "part")
    words = F.split("p_type", " ")
    # Distinct keys: a repeated word would raise DUPLICATED_MAP_KEY under
    # the default dedup policy, which Spark reads when the plan executes.
    m = F.map_from_entries(
        F.transform(
            F.array_distinct(words),
            lambda w: F.struct(w.alias("key"), F.length(w).alias("value")),
        )
    )
    return p.select(
        "p_partkey",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(m, F.element_at(words, 1)).alias("first_word_len"),
        F.array_contains(F.map_keys(m), "PLATED").alias("has_plated"),
    )


def fn_bitwise_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise ops (shift, and/or/xor) on integer keys and trig/exp rounded
    post-evaluation."""
    p = table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return p.select(
        "p_partkey",
        F.shiftleft(k, 3).alias("shl3"),
        F.shiftright(k, 2).alias("shr2"),
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(1365)).alias("bxor"),
        F.round(F.sin(F.col("p_size").cast("double")), 4).alias("sin_size"),
        F.round(F.cos(F.col("p_size").cast("double")), 4).alias("cos_size"),
        F.round(F.atan2(F.col("p_size").cast("double"), F.lit(10.0)), 4).alias(
            "atan2_size"
        ),
        F.round(F.exp(F.col("p_size").cast("double") / 50.0), 4).alias("exp_size"),
    )


def fn_json_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured → JSON text (to_json of a struct): both engines emit
    compact key-ordered JSON, so the strings compare exactly — the
    serialization half of the fn_json_extract pair."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.to_json(
            F.struct(
                F.col("p_partkey").alias("id"),
                F.col("p_brand").alias("brand"),
                F.col("p_size").alias("size"),
            )
        ).alias("doc"),
    )


def fn_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str_to_map round trip: serialize columns to 'k:v,k:v' text, parse
    back with str_to_map, extract typed values — the config-string parsing
    shape. The oracle computes the expected values straight from the source
    columns, so the parse is verified end-to-end."""
    p = table(spark, sf_dir, "part")
    kv = F.concat(
        F.lit("brand:"),
        F.col("p_brand"),
        F.lit(",size:"),
        F.col("p_size").cast("string"),
    )
    m = F.expr("str_to_map(concat('brand:', p_brand, ',size:', p_size), ',', ':')")
    return p.select(
        "p_partkey",
        kv.alias("kv_text"),
        F.element_at(m, "brand").alias("brand_back"),
        F.element_at(m, "size").cast("int").alias("size_back"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


def fn_array_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second array batch: slice, position, descending sort, flatten over
    the embedding vectors (scalar outputs only, rounded)."""
    e = table(spark, sf_dir, "embeddings")
    embd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sliced = F.slice(embd, 2, 4)
    sorted_desc = F.sort_array(embd, asc=False)
    return e.select(
        "vec_id",
        F.size(sliced).alias("slice_len"),
        F.round(F.element_at(sliced, 1), 4).alias("slice_first"),
        F.round(F.element_at(sorted_desc, 1), 4).alias("largest"),
        F.round(F.element_at(sorted_desc, -1), 4).alias("smallest"),
        F.size(F.flatten(F.array(embd, sliced))).alias("flat_len"),
        F.array_position(embd, F.element_at(embd, 3)).alias("pos_of_third"),
    )


def fn_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing (parse_url): host/path/query/fragment extraction over
    deterministic synthesized URLs. The oracle re-derives the parts with
    regexes, cross-checking Spark's java.net-based parser."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://data.example.com/corpus/"),
        F.col("lang"),
        F.lit("/doc?id="),
        F.col("doc_id").cast("string"),
        F.lit("&src="),
        F.col("source"),
        F.lit("#s1"),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("id_param"),
        F.parse_url(url, F.lit("REF")).alias("fragment"),
    )


def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: try_divide / try_add return NULL where strict
    ANSI evaluation would raise (division by zero here — l_discount is 0 for
    many rows), keeping pipelines total without disabling ANSI mode."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 4
        ).alias("price_per_disc"),
        F.try_divide(F.col("l_quantity"), F.col("l_tax")).isNull().alias(
            "tax_div_undef"
        ),
    )


def fn_null_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalars: coalesce/nullif/greatest/least/isnull over the
    left-joined customer→orders frame (real NULLs from the outer join)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.select(
        "c_custkey",
        "o_orderkey",
        F.coalesce(F.col("o_totalprice"), F.lit(0.0)).alias("price_or_zero"),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_not_open"),
        F.greatest(F.col("c_acctbal"), F.coalesce(F.col("o_totalprice"), F.lit(0.0)))
        .alias("max_val"),
        F.least(F.col("c_acctbal"), F.coalesce(F.col("o_totalprice"), F.lit(0.0)))
        .alias("min_val"),
        F.col("o_orderkey").isNull().alias("no_big_order"),
    )


def fn_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: fixed-interval shifts, month addition with
    end-of-month clamping (identical in both engines), quarter/week fields."""
    o = table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).alias("plus_30d"),
        F.date_sub(d, 7).alias("minus_7d"),
        F.add_months(d, 2).alias("plus_2mo"),
        F.quarter("o_orderdate").alias("q"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.dayofyear("o_orderdate").alias("doy"),
    )


def fn_generator_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in generator (table-valued) functions — the JVM-side UDTF
    family: ``posexplode_outer`` over an array, ``stack`` (the columns→rows
    unpivot generator), and ``inline`` over an array of structs, all
    unified into one long-form (gen, pos, k, v) result. Generators run
    inside the scan projection — zero shuffles, each output row derived
    from exactly one input row (linear at any scale)."""
    n = table(spark, sf_dir, "nation")
    pose = n.select(
        "n_nationkey",
        F.lit("posexplode").alias("gen"),
        F.posexplode_outer(
            F.array(F.col("n_name"), F.lower("n_name"))
        ).alias("pos", "v"),
    ).select(
        "n_nationkey", "gen", F.col("pos").cast("bigint").alias("pos"),
        F.lit("elem").alias("k"), "v",
    )
    stacked = n.selectExpr(
        "n_nationkey",
        "'stack' AS gen",
        "stack(2, 'name', n_name, 'region',"
        " CAST(n_regionkey AS STRING)) AS (k, v)",
    ).select(
        "n_nationkey", "gen", F.lit(None).cast("bigint").alias("pos"),
        "k", "v",
    )
    inlined = n.select(
        "n_nationkey",
        F.lit("inline").alias("gen"),
        F.inline(
            F.array(
                F.struct(
                    F.lit("nk").alias("k"),
                    F.col("n_nationkey").cast("string").alias("v"),
                ),
                F.struct(
                    F.lit("rk").alias("k"),
                    F.col("n_regionkey").cast("string").alias("v"),
                ),
            )
        ),
    ).select(
        "n_nationkey", "gen", F.lit(None).cast("bigint").alias("pos"),
        "k", "v",
    )
    return pose.unionByName(stacked).unionByName(inlined)


_SQL_PIVOT = """
SELECT o_orderpriority, COALESCE(n_f, 0) AS n_f, COALESCE(n_o, 0) AS n_o,
       COALESCE(n_p, 0) AS n_p
FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
PIVOT (COUNT(*) FOR o_orderstatus IN ('F' AS n_f, 'O' AS n_o, 'P' AS n_p))
ORDER BY o_orderpriority
"""


def sql_entry_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``PIVOT`` clause (distinct surface from the DataFrame
    ``groupBy().pivot()`` used by ``agg_pivot``): explicit IN-list keeps
    the output schema static — no distinct-scan job — and the plan is the
    same single partial+final pivot aggregate either way."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_PIVOT)


QUERIES = {
    "scan_csv_opts": scan_csv_opts,
    "fn_generator_suite": fn_generator_suite,
    "sql_entry_pivot": sql_entry_pivot,
    "fn_null_suite": fn_null_suite,
    "fn_date_arith": fn_date_arith,
    "fn_bitwise_trig": fn_bitwise_trig,
    "fn_json_build": fn_json_build,
    "fn_str_to_map": fn_str_to_map,
    "fn_url_suite": fn_url_suite,
    "fn_try_arith": fn_try_arith,
    "fn_array_suite2": fn_array_suite2,
    "fn_regexp_extract": fn_regexp_extract,
    "fn_string_suite": fn_string_suite,
    "fn_date_suite": fn_date_suite,
    "fn_math_suite": fn_math_suite,
    "fn_json_extract": fn_json_extract,
    "fn_variant_json": fn_variant_json,
    "fn_collation": fn_collation,
    "fn_xml_suite": fn_xml_suite,
    "fn_map_suite2": fn_map_suite2,
    "fn_edit_distance": fn_edit_distance,
    "fn_array_suite": fn_array_suite,
    "fn_map_from_entries": fn_map_from_entries,
}

ORACLES = {
    "scan_csv_opts": SCAN_CSV_ORACLE_SQL,
    # Fixed-size arrays → literal UNION ALL branches (no WITH ORDINALITY
    # needed); NULL pos for the non-positional generators.
    "fn_generator_suite": (
        "SELECT n_nationkey, 'posexplode' AS gen, CAST(0 AS BIGINT) AS pos,"
        " 'elem' AS k, n_name AS v FROM nation"
        " UNION ALL"
        " SELECT n_nationkey, 'posexplode', 1, 'elem', lower(n_name)"
        " FROM nation"
        " UNION ALL"
        " SELECT n_nationkey, 'stack', NULL, 'name', n_name FROM nation"
        " UNION ALL"
        " SELECT n_nationkey, 'stack', NULL, 'region',"
        " CAST(n_regionkey AS VARCHAR) FROM nation"
        " UNION ALL"
        " SELECT n_nationkey, 'inline', NULL, 'nk',"
        " CAST(n_nationkey AS VARCHAR) FROM nation"
        " UNION ALL"
        " SELECT n_nationkey, 'inline', NULL, 'rk',"
        " CAST(n_regionkey AS VARCHAR) FROM nation"
    ),
    "sql_entry_pivot": (
        "SELECT o_orderpriority,"
        " COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,"
        " COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,"
        " COUNT(*) FILTER (o_orderstatus = 'P') AS n_p"
        " FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "fn_null_suite": (
        "SELECT c_custkey, o_orderkey,"
        " COALESCE(o_totalprice, 0.0) AS price_or_zero,"
        " NULLIF(o_orderstatus, 'O') AS status_not_open,"
        " GREATEST(c_acctbal, COALESCE(o_totalprice, 0.0)) AS max_val,"
        " LEAST(c_acctbal, COALESCE(o_totalprice, 0.0)) AS min_val,"
        " o_orderkey IS NULL AS no_big_order"
        " FROM customer LEFT JOIN (SELECT * FROM orders"
        "   WHERE o_totalprice > 300000.0) o ON c_custkey = o_custkey"
    ),
    "fn_array_suite2": (
        "WITH b AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings)"
        " SELECT vec_id, len(e[2:5]) AS slice_len,"
        " ROUND(e[2], 4) AS slice_first,"
        " ROUND(list_sort(e, 'DESC')[1], 4) AS largest,"
        " ROUND(list_sort(e, 'DESC')[-1], 4) AS smallest,"
        " len(flatten([e, e[2:5]])) AS flat_len,"
        " list_position(e, e[3]) AS pos_of_third"
        " FROM b"
    ),
    "fn_url_suite": (
        "WITH u AS (SELECT doc_id,"
        " 'https://data.example.com/corpus/' || lang || '/doc?id=' || doc_id"
        "   || '&src=' || source || '#s1' AS url FROM documents)"
        " SELECT doc_id, url,"
        " regexp_extract(url, '://([^/]+)', 1) AS host,"
        " regexp_extract(url, '://[^/]+(/[^?#]*)', 1) AS path,"
        " regexp_extract(url, '\\?([^#]*)', 1) AS query,"
        " regexp_extract(url, 'id=([^&#]*)', 1) AS id_param,"
        " regexp_extract(url, '#(.*)$', 1) AS fragment"
        " FROM u"
    ),
    "fn_try_arith": (
        "SELECT l_orderkey, l_linenumber,"
        " ROUND(CASE WHEN l_discount = 0 THEN NULL"
        "       ELSE l_extendedprice / l_discount END, 4) AS price_per_disc,"
        " (CASE WHEN l_tax = 0 THEN NULL ELSE l_quantity / l_tax END)"
        "   IS NULL AS tax_div_undef"
        " FROM lineitem"
    ),
    "fn_json_build": (
        "SELECT p_partkey, to_json(struct_pack(id := p_partkey,"
        " brand := p_brand, size := p_size)) AS doc FROM part"
    ),
    "fn_str_to_map": (
        "SELECT p_partkey,"
        " 'brand:' || p_brand || ',size:' || p_size AS kv_text,"
        " p_brand AS brand_back, p_size AS size_back, 2 AS n_keys"
        " FROM part"
    ),
    "fn_bitwise_trig": (
        "SELECT p_partkey,"
        " p_partkey << 3 AS shl3, p_partkey >> 2 AS shr2,"
        " p_partkey & 255 AS band, p_partkey | 4096 AS bor,"
        " xor(p_partkey, 1365) AS bxor,"
        " ROUND(SIN(CAST(p_size AS DOUBLE)), 4) AS sin_size,"
        " ROUND(COS(CAST(p_size AS DOUBLE)), 4) AS cos_size,"
        " ROUND(ATAN2(CAST(p_size AS DOUBLE), 10.0), 4) AS atan2_size,"
        " ROUND(EXP(CAST(p_size AS DOUBLE) / 50.0), 4) AS exp_size"
        " FROM part"
    ),
    "fn_date_arith": (
        "SELECT o_orderkey,"
        " CAST(o_orderdate AS DATE) + 30 AS plus_30d,"
        " CAST(o_orderdate AS DATE) - 7 AS minus_7d,"
        " CAST(CAST(o_orderdate AS DATE) + INTERVAL '2 months' AS DATE)"
        "   AS plus_2mo,"
        " QUARTER(o_orderdate) AS q,"
        " WEEKOFYEAR(o_orderdate) AS iso_week,"
        " DAYOFYEAR(o_orderdate) AS doy"
        " FROM orders"
    ),
    "fn_regexp_extract": DURATION_ORACLE_SQL,
    "fn_string_suite": (
        "SELECT p_partkey, UPPER(p_name) AS name_upper,"
        " LOWER(p_brand) AS brand_lower, LENGTH(p_name) AS name_len,"
        " SUBSTRING(p_name, 1, 5) AS name_pfx,"
        " CONCAT_WS('|', p_brand, p_type) AS brand_type,"
        " TRIM(CONCAT('  ', p_brand, ' ')) AS brand_trim,"
        " REPLACE(p_type, ' ', '_') AS type_snake,"
        " LEN(STRING_SPLIT(p_name, ' ')) AS n_words"
        " FROM part"
    ),
    "fn_date_suite": (
        "SELECT l_orderkey, l_linenumber,"
        " YEAR(l_shipdate) AS ship_year, MONTH(l_shipdate) AS ship_month,"
        " DAY(l_shipdate) AS ship_day,"
        " CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS ship_month_start,"
        " DATEDIFF('day', DATE '1995-01-01', l_shipdate) AS days_since_95,"
        " LAST_DAY(l_shipdate) AS ship_month_end,"
        " CAST(l_shipdate AS DATE) AS ship_date"
        " FROM lineitem"
    ),
    "fn_math_suite": (
        "SELECT p_partkey, ABS(p_retailprice - 1500.0) AS abs_diff,"
        " CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,"
        " CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,"
        " ROUND(LN(p_retailprice), 4) AS price_ln,"
        " ROUND(SQRT(p_retailprice), 4) AS price_sqrt,"
        " POW(CAST(p_size AS DOUBLE), 2.0) AS size_sq"
        " FROM part"
    ),
    "fn_edit_distance": (
        "SELECT c_custkey,"
        " levenshtein(c_name, 'Customer#000000001') AS dist_to_probe,"
        " levenshtein(c_name, 'Customer#000000001') <= 2 AS fuzzy_match,"
        " levenshtein(c_mktsegment, 'BUILDING') AS seg_dist"
        " FROM customer"
    ),
    "fn_map_suite2": (
        "SELECT l_orderkey, l_linenumber, 'qty' AS k,"
        " CAST(FLOOR(l_quantity) AS BIGINT) * 2 AS v FROM lineitem"
        " WHERE CAST(FLOOR(l_quantity) AS BIGINT) * 2 > 6"
        " UNION ALL"
        " SELECT l_orderkey, l_linenumber, 'line' AS k,"
        " CAST(l_linenumber AS BIGINT) * 2 AS v FROM lineitem"
        " WHERE l_linenumber * 2 > 6"
    ),
    "fn_xml_suite": (
        "SELECT p_partkey, p_partkey AS key, p_brand AS brand,"
        " CAST(p_size AS INTEGER) AS size, p_partkey AS k_xpath,"
        " p_brand AS b_xpath FROM part"
    ),
    "fn_collation": (
        "SELECT lower(p_type) AS type_norm, count(*) AS n"
        " FROM part GROUP BY 1"
    ),
    "fn_variant_json": (
        "SELECT event_id,"
        " CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,"
        " CAST(json_extract(props, '$.missing') AS BIGINT) AS k_missing,"
        " CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled"
        " FROM events"
    ),
    "fn_json_extract": (
        "SELECT event_id,"
        " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,"
        " CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,"
        " CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod"
        " FROM events"
    ),
    "fn_array_suite": (
        "SELECT vec_id, len(embedding) AS dim,"
        " ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_val,"
        " ROUND(list_aggregate(list_transform(embedding,"
        "   x -> CAST(x AS DOUBLE)), 'sum'), 4) AS emb_sum,"
        " ROUND(list_aggregate(list_transform(embedding,"
        "   x -> CAST(x AS DOUBLE)), 'min'), 4) AS emb_min,"
        " ROUND(list_aggregate(list_transform(embedding,"
        "   x -> CAST(x AS DOUBLE)), 'max'), 4) AS emb_max,"
        " len(list_filter(embedding, x -> x > 0)) AS n_pos"
        " FROM embeddings"
    ),
    "fn_map_from_entries": (
        "SELECT p_partkey,"
        " len(list_distinct(string_split(p_type, ' '))) AS n_keys,"
        " length(string_split(p_type, ' ')[1]) AS first_word_len,"
        " list_contains(string_split(p_type, ' '), 'PLATED') AS has_plated"
        " FROM part"
    ),
}
