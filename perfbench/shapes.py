"""The shapes of a set of input tables that decide how the ops behave.

``measure(table_dir)`` returns row counts and the value distributions the
benchmark's ops are sensitive to: duplicate and near-duplicate documents
(``llm_dedup_*``, TF-IDF), vocabulary and document length (tokenisers),
embedding dimension and cluster structure (``llm_sim_*``), and the user,
type and time spread of ``events`` (streams, ETL).

``SF001_SHAPES`` is what ``measure`` gave on the sf0.01 tables the engine's
correctness runs use (seed 42, read-only). ``datagen.py`` is set from these
figures, and ``perfbench/tests/test_datagen.py`` checks that it stays so.

    python3 -m perfbench.shapes TABLE_DIR
"""

from __future__ import annotations

import argparse
import itertools
import json
import os

import numpy as np

SF001_SHAPES = {
    "rows": {
        "region": 5,
        "nation": 25,
        "customer": 1500,
        "supplier": 100,
        "part": 2000,
        "orders": 15000,
        "lineitem": 60000,
        "events": 10000,
        "documents": 500,
        "embeddings": 500,
    },
    "doc_exact_dup_share": 0.0,
    "doc_near_dup_pairs": 25,
    "doc_vocabulary": 31,
    "doc_words_mean": 54.33,
    "doc_words_min": 10,
    "doc_words_max": 99,
    "doc_lang_en_share": 0.436,
    "doc_sources": 20,
    "embed_dim": 64,
    "embed_labels": 10,
    "embed_cos_to_label_centroid": 0.146,
    "event_users": 150,
    "event_types": 5,
    "event_value_mean": 49.63,
    "event_value_median": 34.59,
    "event_span_days": 30.0,
    "event_props_distinct": 100,
    "lineitem_orders_share": 0.983,
}


def _shingles(text: str, n: int = 3) -> set[str]:
    w = text.lower().split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def measure(table_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()

    def path(name: str) -> str:
        return os.path.join(table_dir, f"{name}.parquet")

    def one(sql: str):
        return con.sql(sql).fetchone()

    rows = {
        name: one(f"SELECT count(*) FROM read_parquet('{path(name)}')")[0]
        for name in SF001_SHAPES["rows"]
    }
    docs = path("documents")
    texts = [
        r[0]
        for r in con.sql(
            f"SELECT text FROM read_parquet('{docs}') ORDER BY doc_id"
        ).fetchall()
    ]
    sets = [_shingles(t) for t in texts]
    near = sum(
        len(a & b) >= 0.5 * len(a | b)
        for a, b in itertools.combinations(sets, 2)
        if a and b
    )
    words = [len(t.split()) for t in texts]
    lang_en, n_sources = one(
        f"SELECT avg((lang = 'en')::int), count(DISTINCT source)"
        f" FROM read_parquet('{docs}')"
    )
    emb = con.sql(
        f"SELECT embedding, label FROM read_parquet('{path('embeddings')}')"
        " ORDER BY vec_id"
    ).fetchall()
    vecs = np.array([r[0] for r in emb], dtype=np.float64)
    labels = np.array([r[1] for r in emb])
    cos = []
    for k in np.unique(labels):
        members = vecs[labels == k]
        centroid = members.mean(axis=0)
        centroid /= np.linalg.norm(centroid)
        cos.extend(members @ centroid / np.linalg.norm(members, axis=1))
    ev = one(
        "SELECT count(DISTINCT user_id), count(DISTINCT event_type), avg(value),"
        " median(value), (epoch(max(ts)) - epoch(min(ts))) / 86400,"
        f" count(DISTINCT props) FROM read_parquet('{path('events')}')"
    )
    (orders_with_lines,) = one(
        f"SELECT count(DISTINCT l_orderkey) FROM read_parquet('{path('lineitem')}')"
    )
    return {
        "rows": rows,
        "doc_exact_dup_share": 1 - len(set(texts)) / len(texts),
        "doc_near_dup_pairs": near,
        "doc_vocabulary": len({w for t in texts for w in t.split()}),
        "doc_words_mean": float(np.mean(words)),
        "doc_words_min": min(words),
        "doc_words_max": max(words),
        "doc_lang_en_share": float(lang_en),
        "doc_sources": n_sources,
        "embed_dim": vecs.shape[1],
        "embed_labels": len(np.unique(labels)),
        "embed_cos_to_label_centroid": float(np.mean(cos)),
        "event_users": ev[0],
        "event_types": ev[1],
        "event_value_mean": float(ev[2]),
        "event_value_median": float(ev[3]),
        "event_span_days": float(ev[4]),
        "event_props_distinct": ev[5],
        "lineitem_orders_share": orders_with_lines / rows["orders"],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("table_dir")
    print(json.dumps(measure(ap.parse_args().table_dir), indent=1))


if __name__ == "__main__":
    main()
