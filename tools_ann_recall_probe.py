"""Planted-cluster recall probe for the ANN ladder (r10 verdict item 2).

The r10 attempt to measure recall at 125x by REPLICATING sf0.1's embeddings
was a documented negative result: that corpus's exact top-10 cosines are
0.30-0.42, so any replication scheme displaces the true neighbors and the
measurement grades the staged corpus, not the engine (NOTES_r10). This probe
fixes the precondition by SYNTHESIZING corpora with known cluster structure
— and, after a first iteration, with a structure that is a fair instrument
for every ladder member:

- Tiny 11-member cliques (the obvious "top-10 = co-members" design) are
  ADVERSARIAL for graph ANN: layer-0 kNN edges collapse to the clique, so a
  cluster with no layer-1 node is UNREACHABLE by construction and recall
  measures a connectivity lottery (measured: hnsw 0.0 at n=2002), not
  routing. Real corpora have similarity continua that beam search descends.
- This probe therefore plants clusters of 500 members: every cluster holds
  ~31 layer-1 nodes (P[none] ~ (15/16)^500 ~ 1e-14), the within-cluster
  layer-0 kNN graph is navigable, and the exact top-10 (the 10 NEAREST
  co-members out of 499) requires genuine fine-grained search — what the
  beam's refinement hops exist for.

Corpus (deterministic numpy Generator, seed pinned):
- n/500 unit Gaussian centroids in 64 dims (matching the testdata
  embedding schema); member = centroid + 0.08 Gaussian/dim, so
  member-member cosine ~0.71 in-cluster vs ~0.43 worst-case cross-cluster.
- vec_id i belongs to cluster i % n_clusters (queries 0..4 spread across
  clusters); ground truth per query = numpy exact top-10, VERIFIED to lie
  inside the query's cluster with a real cosine margin before any recall
  number is trusted.
- ``label`` (the IVF/PQ coarse cell) is anchor-quantized with SIGNED
  argmax cosine over 10 fixed unit anchors, whole clusters at a time —
  spatially coherent lists like a real k-means coarse quantizer. (|cos|
  assignment was the first iteration's bug: the IVF probe ranks lists by
  signed cosine, so anti-aligned clusters never probed their own list —
  recall 0.4 at n=2002 graded the staging, not the engine.)

Sizes: 2_000 (sf0.1-scale), 22_000 (11x), 250_000 (125x). For each size and
each of hnsw/ivf/pq: verify the precondition, run the registered operator
unchanged against the staged dir, report recall@10 vs exact + wall.

Usage: python tools_ann_recall_probe.py [--sizes 2000,22000,250000]
Prints one JSON line per (size, op) and a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import tempfile
import time

_SEED = 1107
_DIM = 64
_CLUSTER = 500  # members per cluster (see module docstring)
_N_ANCHORS = 10  # label cardinality, matching the testdata corpus
_NOISE = 0.08


def _stage(n_vectors: int) -> str:
    """Write the planted corpus as <dir>/embeddings.parquet; memoized by
    (size, seed, scheme, uid) + existence — the corpus is a pure function
    of its parameters, no source-content key needed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_clusters = n_vectors // _CLUSTER
    n_vectors = n_clusters * _CLUSTER
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_planted_v2_{n_vectors}_{_SEED}_{os.getuid()}",
    )
    path = os.path.join(base, "embeddings.parquet")
    if os.path.exists(path):
        return base
    os.makedirs(base, exist_ok=True)
    rng = np.random.default_rng(_SEED)
    cents = rng.standard_normal((n_clusters, _DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    anchors = rng.standard_normal((_N_ANCHORS, _DIM))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    cluster_label = (cents @ anchors.T).argmax(axis=1).astype(np.int32)
    # vec_id i -> cluster i % n_clusters, member slot i // n_clusters
    cluster_of = np.arange(n_vectors, dtype=np.int64) % n_clusters
    vecs = (
        cents[cluster_of]
        + _NOISE * rng.standard_normal((n_vectors, _DIM))
    ).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), _DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(cluster_label[cluster_of]),
        }
    )
    pq.write_table(tbl, path)
    return base


def _relabel_learned(spark, base: str, llm) -> str:
    """Stage <base>_learned/embeddings.parquet with ``label`` REPLACED by
    the llm_kmeans_train codebook's nearest-centroid assignment (r14
    verdict item 5's second half: the IVF/PQ coarse quantizer measured
    with LEARNED centroids instead of the staging's anchor labels).
    Assignment runs in the trainer's own exact integer domain, so the
    lists are exactly the trained clusters."""
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    out = base + "_learned"
    path = os.path.join(out, "embeddings.parquet")
    if os.path.exists(path):
        return out
    cent_rows = llm.llm_kmeans_train(spark, base).collect()
    k = max(r["cluster_id"] for r in cent_rows) + 1
    dim = max(r["dim"] for r in cent_rows) + 1
    cent = np.zeros((k, dim), dtype=np.int64)
    for r in cent_rows:
        cent[r["cluster_id"], r["dim"]] = r["c"]
    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    q = llm._kmeans_quantized(emb)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(list(pdf["xq"]), dtype=np.int64)
            d2 = (-2 * (x @ cent.T)) + (cent * cent).sum(axis=1)[None, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": d2.argmin(axis=1).astype("int32"),
                }
            )

    lab = q.mapInPandas(assign, "vec_id LONG, label INT")
    os.makedirs(out, exist_ok=True)
    (
        emb.drop("label")
        .join(lab, "vec_id")
        .select("vec_id", "embedding", "label")
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(path)
    )
    return out


def _exact_truth(base: str) -> dict[int, set[int]]:
    """Numpy exact top-10 for queries 0..4, with the instrument checks:
    every exact neighbor must lie in the query's planted cluster, and the
    weakest exact cosine must clear the strongest cross-cluster cosine —
    else the corpus failed its own precondition and recall would grade the
    staging (abort loudly, as the r10 negative result prescribed)."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(base, "embeddings.parquet"))
    vecs = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    n = len(vecs)
    n_clusters = n // _CLUSTER
    norms = np.linalg.norm(vecs, axis=1)
    cluster_of = np.arange(n, dtype=np.int64) % n_clusters
    truth: dict[int, set[int]] = {}
    for q in range(5):
        cos = (vecs @ vecs[q]) / (norms * norms[q])
        cos[q] = -2.0
        top = np.argsort(-cos)[:10]
        same = cluster_of[top] == cluster_of[q]
        if not same.all():
            raise AssertionError(
                f"planted precondition failed at n={n}, q={q}: exact "
                "top-10 leaves the planted cluster — margins too thin"
            )
        out_mask = cluster_of != cluster_of[q]
        margin = cos[top].min() - cos[out_mask].max()
        if margin <= 0.02:
            raise AssertionError(
                f"planted precondition failed at n={n}, q={q}: in/out "
                f"cosine margin {margin:.4f} too thin to trust recall"
            )
        truth[q] = {int(i) for i in top}
    return truth


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="2000,22000,250000")
    ap.add_argument("--ops", default="hnsw,ivf,pq")
    ap.add_argument(
        "--learned",
        action="store_true",
        help="(r16: a no-op kept for invocation compatibility — the "
        "registered IVF/PQ ids now ALWAYS train their coarse quantizer "
        "via _kmeans_train_core and ignore the staged label column; "
        "the flag still routes through the relabeled staging to prove "
        "the label column is dead)",
    )
    args = ap.parse_args()

    from iot_data_pipeline_spark import harness
    from iot_data_pipeline_spark.cache_tracker import evict_tracked
    from iot_data_pipeline_spark.operators import llm

    # bench.py's harness sizing: the default 1g driver heap measured fine
    # for ivf/pq at 250k, but hnsw's edge+vector caches need real executor
    # memory — this is a measurement harness, sized like bench, not a
    # memory-pressure probe (tools_pressure_probe owns that axis).
    spark = harness.session(
        os.environ.get("SPARK_GRAFT_CPUS", "32"),
        **{"spark.driver.memory": "16g", "spark.sql.shuffle.partitions": "32"},
    )
    ops = {
        "hnsw": llm.llm_sim_hnsw,
        "ivf": llm.llm_sim_ivf,
        "pq": llm.llm_sim_pq,
    }
    results = []
    for size in [int(s) for s in args.sizes.split(",")]:
        base = _stage(size)
        truth = _exact_truth(base)
        for op in args.ops.split(","):
            src = base
            if args.learned and op in ("ivf", "pq"):
                src = _relabel_learned(spark, base, llm)
            t0 = time.time()
            got = ops[op](spark, src).collect()
            evict_tracked()
            wall = round(time.time() - t0, 2)
            hits = sum(
                1
                for r in got
                if r["vec_id"] in truth.get(r["query_id"], set())
            )
            rec = {
                "probe": "planted_ann_recall",
                "n_vectors": size // _CLUSTER * _CLUSTER,
                "op": op,
                "labels": "learned"
                if src.endswith("_learned")
                else "anchor",
                "recall_at_10": round(hits / 50.0, 3),
                "wall_sec": wall,
            }
            results.append(rec)
            print(json.dumps(rec), flush=True)
    print(
        json.dumps(
            {
                "probe": "planted_ann_recall_summary",
                "results": {
                    f"{r['op']}@{r['n_vectors']}": r["recall_at_10"]
                    for r in results
                },
            }
        )
    )


if __name__ == "__main__":
    main()
