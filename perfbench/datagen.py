"""Seeded inputs and their oracle answers, made in a process of their own.

``generate(out_dir, seed, workload)`` writes:

- ``tables/<name>.parquet``: the ten analytics tables with the schemas of
  FIXTURES.md section 3, at the row counts of ``SIZES`` (sf0.01's). The
  value distributions follow the ones measured on the sf0.01 tables with
  ``perfbench.shapes``; ``SF001_SHAPES`` there holds those figures, and
  ``perfbench/tests/test_datagen.py`` keeps the generator within them. The
  same seed gives the same bytes.
- ``csv/flows/part-*.csv`` (``ingest`` only): the IoT-23-shaped CSV the ETL
  op reads, made by DuckDB from ``events.parquet`` -- not by the engine.
- ``oracle.json``: for every op of the workload with an oracle in
  ``__spark_entry__.oracle_sql()``, DuckDB's answer over the same tables,
  normalised with ``verify_local._rows_multiset``.
- ``inputs.json``: row counts and the CSV's size.

Run as ``python3 -m perfbench.datagen --out DIR --seed N --workload W`` from
the checkout root; ``run.py`` does so in a child process, so DuckDB's memory
never counts in the engine's peak RSS.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
# Each events row becomes this many flow records in the ETL CSV (~23 MB).
CSV_REPLICAS = 16
CSV_FILES = 8

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# The 30 words of sf0.01's documents, drawn uniformly.
_WORDS = (
    "a the row query stream fast spark line small customer group value hash"
    " batch sort data big filter key agg scan slow table part merge window"
    " order column join vector"
).split()
# sf0.01 plants near-duplicates: 25 of its 500 documents repeat another
# document's text with this word appended (3-shingle Jaccard 0.8-0.99).
_DUP_WORD = "dup"
_DUP_SHARE = 0.05
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
# sf0.01's embeddings are unit vectors with no cluster structure: each one's
# cosine to its own label's centroid is 0.15, what independent random
# directions give.
_EMBED_DIM = 64
_LABELS = 10


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "ms")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("ms"))


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_ADJ, np_), rng.choice(_NOUN, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": rng.choice(_PTYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2404, no)),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2498, nl)),
        }
    )
    ne = n["events"]
    gaps_us = rng.exponential(259e6, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, nd)
    ]
    n_dup = round(nd * _DUP_SHARE)
    picked = rng.permutation(nd)
    for copy, orig in zip(picked[:n_dup], picked[n_dup : 2 * n_dup]):
        texts[copy] = f"{texts[orig]} {_DUP_WORD}"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, _LABELS, nv)
    vecs = rng.normal(0.0, 1.0, (nv, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


# The Zeek conn.log shape of FIXTURES.md section 1, derived from events rows
# (the same derivation as bench.py's ETL staging).
_CSV_SELECT = """
SELECT
  'C' || event_id || 'x' || rep AS "uid",
  '10.0.' || (user_id % 256) || '.1' AS "id.orig_h",
  CAST(event_id % 65535 AS INTEGER) AS "id.orig_p",
  '10.1.0.2' AS "id.resp_h",
  443 AS "id.resp_p",
  'tcp' AS "proto",
  'http' AS "service",
  '0 days 00:00:' || lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') || '.'
    || lpad(CAST((event_id * 7919) % 1000000 AS VARCHAR), 6, '0') AS "duration",
  event_id % 100000 AS "orig_bytes",
  event_id % 50000 AS "resp_bytes",
  'SF' AS "conn_state",
  'T' AS "local_orig",
  '-' AS "local_resp",
  0 AS "missed_bytes",
  'ShADad' AS "history",
  event_id % 100 AS "orig_pkts",
  event_id % 10000 AS "orig_ip_bytes",
  event_id % 90 AS "resp_pkts",
  event_id % 9000 AS "resp_ip_bytes",
  '-' AS "tunnel_parents",
  CASE WHEN event_id % 3 = 0 THEN 'Malicious' ELSE 'Benign' END AS "label",
  'PartOfAHorizontalPortScan' AS "detailed-label"
FROM read_parquet('{events}'), range({replicas}) r(rep)
WHERE (event_id + rep) % {files} = {part}
ORDER BY event_id, rep
"""


def _write_csv(con, events_path: str, csv_dir: str) -> tuple[int, int]:
    os.makedirs(csv_dir)
    for part in range(CSV_FILES):
        sql = _CSV_SELECT.format(
            events=events_path, replicas=CSV_REPLICAS, files=CSV_FILES, part=part
        )
        path = os.path.join(csv_dir, f"part-{part:02d}.csv")
        con.sql(f"COPY ({sql}) TO '{path}' (FORMAT CSV, HEADER)")
    n_bytes = sum(
        os.path.getsize(os.path.join(csv_dir, f)) for f in os.listdir(csv_dir)
    )
    return n_bytes, SIZES["events"] * CSV_REPLICAS


def _oracles(con, table_dir: str, ops: list[str]) -> dict[str, dict]:
    import __spark_entry__ as entrymod
    from iot_data_pipeline_spark.sources.readers import TABLES
    from verify_local import _rows_multiset

    for name in TABLES:
        path = os.path.join(table_dir, f"{name}.parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    sqls = entrymod.oracle_sql()
    out = {}
    for op in ops:
        if op not in sqls:
            continue
        rel = con.sql(sqls[op])
        cols = list(rel.columns)
        out[op] = {"cols": cols, "rows": _rows_multiset(cols, rel.fetchall())}
    return out


def generate(out_dir: str, seed: int, workload: str) -> dict:
    import duckdb

    from perfbench.workloads import ETL_OP, WORKLOADS

    ops = WORKLOADS[workload]["ops"]
    table_dir = os.path.join(out_dir, "tables")
    os.makedirs(table_dir)
    rows = {}
    for name, tbl in _tables(seed).items():
        pq.write_table(tbl, os.path.join(table_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    inputs: dict = {"seed": seed, "rows": rows}
    con = duckdb.connect()
    if ETL_OP in ops:
        csv_dir = os.path.join(out_dir, "csv", "flows")
        n_bytes, n_rows = _write_csv(
            con, os.path.join(table_dir, "events.parquet"), csv_dir
        )
        inputs.update(csv_dir=csv_dir, csv_bytes=n_bytes, csv_rows=n_rows)
    with open(os.path.join(out_dir, "oracle.json"), "w") as fh:
        json.dump(_oracles(con, table_dir, ops), fh)
    con.close()
    with open(os.path.join(out_dir, "inputs.json"), "w") as fh:
        json.dump(inputs, fh)
    return inputs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    generate(args.out, args.seed, args.workload)


if __name__ == "__main__":
    main()
