"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and, where ``oracle_sql()`` has a
matching key, the oracle on DuckDB over the same parquet tables; compares
row count, sorted column names, and an order-insensitive multiset of
stringified rows. Usage::

    python verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
import traceback

import duckdb

from iot_data_pipeline_spark.sources.readers import TABLES

SF_DIR = "/root/testdata/sf0.01"


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # collapse -0.0/0.0 and use repr for full precision
        if v == 0.0:
            return "0.0"
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    try:
        import datetime

        if isinstance(v, datetime.datetime):
            # Driver-strict: keep tzinfo. A session-TZ divergence between
            # Spark and DuckDB must FAIL here, exactly as the driver's
            # type/zone-sensitive hash would (round-3 verdict item 2).
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
    except Exception:
        pass
    try:
        from decimal import Decimal

        if isinstance(v, Decimal):
            return repr(float(v))
    except Exception:
        pass
    return str(v)


def _oracle_type_problems(con, sql, scols, sdtypes):
    """Result-type parity between the DuckDB oracle and the Spark result.

    The driver's value hash is type-sensitive (round-3 verdict: three
    uncast integer SUMs widened to HUGEINT and hash-FAILed despite exact
    value matches).  Hard-fail on any HUGEINT/UHUGEINT oracle column and
    flag DECIMAL-vs-floating divergence so it can't ship again.
    """
    problems = []
    try:
        desc = con.sql(f"DESCRIBE {sql}").fetchall()
    except Exception as ex:  # pragma: no cover - describe should not fail
        return [f"DESCRIBE failed: {str(ex)[:120]}"]
    stypes = {c.lower(): t for c, t in zip(scols, sdtypes)}
    for row in desc:
        col, dtype = row[0], row[1].upper()
        if "HUGEINT" in dtype:
            problems.append(
                f"oracle column {col} is {dtype} (uncast integer SUM?);"
                " CAST it to BIGINT in the oracle SQL"
            )
            continue
        if "WITH TIME ZONE" in dtype:
            # Spark collects naive session-TZ datetimes; a TIMESTAMPTZ
            # oracle column compares tz-aware vs naive and the driver's
            # hash (like the strict _norm_cell) would diverge.
            problems.append(
                f"oracle column {col} is {dtype}; CAST it to TIMESTAMP"
                " so both sides compare naive session-TZ instants"
            )
            continue
        st = stypes.get(col.lower())
        if st is None:
            continue  # name mismatch is reported by the schema check
        duck_is_dec = dtype.startswith("DECIMAL")
        spark_is_float = st in ("double", "float")
        spark_is_dec = st.startswith("decimal")
        if duck_is_dec and spark_is_float:
            problems.append(
                f"oracle column {col} is {dtype} but Spark emits {st};"
                " CAST the oracle expression to DOUBLE"
            )
        elif dtype == "DOUBLE" and spark_is_dec:
            problems.append(
                f"oracle column {col} is DOUBLE but Spark emits {st}"
            )
    return problems


def _driver_unsortable_cols(schema) -> list[str]:
    """Columns the driver's canonicalizer cannot sort.

    The driver canonicalizes both result sets with pandas
    ``sort_values`` over ALL columns before hashing; array/map/struct
    columns arrive as numpy arrays / dicts / Rows, which are unhashable,
    so ``sort_values`` raises and the query is scored FAIL regardless of
    values (round-4 ``llm_embed_quantize``). Ban the types up front:
    emit long form or ``array_join`` instead."""
    return [
        f.name
        for f in schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]


def _rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = SF_DIR
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    import __spark_entry__ as entrymod
    from iot_data_pipeline_spark import harness
    from iot_data_pipeline_spark.sources.schema_guard import check_testdata_schemas

    # Fail loudly (with observed arrow types) on testdata schema drift
    # before running a single query — see round 2's events.ts regression.
    check_testdata_schemas(sf_dir)

    spark = harness.session(8, **{"spark.driver.memory": "8g"})

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    selected = args or list(qs)

    from iot_data_pipeline_spark.cache_tracker import evict_tracked

    n_pass = n_fail = n_rows_only = 0
    for name in selected:
        # Evict the previous query's tracked caches so one query's pinned
        # frames can't perturb the next query's plan (round-3 ADVICE). The
        # other memos stay: reusing a trained BPE rule table or codebook
        # across queries is what they are for, and nothing here is timed.
        evict_tracked()
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            unsortable = _driver_unsortable_cols(sdf.schema)
            if name in oracles and unsortable:
                # verdict is decidable from the lazy schema — don't pay
                # for the collect first
                print(
                    f"FAIL {name}: driver-unsortable output column(s)"
                    f" {unsortable} (array/map/struct crash the driver's"
                    " pandas sort_values canonicalizer — emit long form"
                    " or array_join)"
                )
                n_fail += 1
                continue
            srows = sdf.collect()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            note = (
                f"  [note: non-scalar cols {unsortable} — fine rows-only,"
                " but never add an oracle without reshaping]"
                if unsortable
                else ""
            )
            print(f"rows-only {name}: {len(srows)} rows  ({dt:.1f}s){note}")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = _oracle_type_problems(
            con, oracles[name], scols, [t for _, t in sdf.dtypes]
        )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sm = _rows_multiset(scols, [tuple(r) for r in srows])
            dm = _rows_multiset(dcols, drows)
            if sm != dm:
                diffs = [(a, b) for a, b in zip(sm, dm) if a != b]
                problems.append(
                    f"values differ ({len(diffs)} of {len(sm)} rows);"
                    f" first: spark={diffs[0][0]} duck={diffs[0][1]}"
                )
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows  ({dt:.1f}s)")
            n_pass += 1

    evict_tracked()
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
