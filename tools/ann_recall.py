"""ANN recall@k report: approximate strategies vs exhaustive cosine.

Determinism-vs-oracle (CORRECTNESS_r*.json) proves each ANN algorithm
computes what it claims; it says nothing about RESULT QUALITY — a user
picking ``nprobe``/``bits`` needs recall@k against the exhaustive
baseline (round-6 directive #3). This harness measures it on the real
testdata embeddings:

    python tools/ann_recall.py [sf_dir] [n_queries]

Ground truth is ``cosine_topk`` (exact brute force). For each strategy
and parameter, recall@5 = mean over queries of
|approx top-5 ∩ exact top-5| / 5. Prints a markdown table (pasted into
BENCH.md) plus one machine-readable JSON line.
"""

from __future__ import annotations

import json
import os
import sys

# the checkout this script lives in, not whichever copy is installed
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from morph_kgc_spark.operators import similarity as S  # noqa: E402

K = 5


def _topk_sets(df) -> dict:
    """(query_id, neighbor_id, rank, ...) → {query_id: set(neighbor_id)}."""
    out: dict = {}
    for r in df.select("query_id", "neighbor_id").collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def recall_at_k(approx, exact: dict) -> float:
    """Mean per-query overlap with the exact top-k. Queries the approx
    strategy returns NOTHING for (empty bucket/cell) count as recall 0 —
    dropping them would overstate quality."""
    got = _topk_sets(approx)
    return sum(len(got.get(q, set()) & ref) / len(ref)
               for q, ref in exact.items()) / len(exact)


def run_report(spark, sf_dir: str, n_queries: int = 50) -> dict:
    """{strategy: (recall@5, nominal scan fraction)}. Scan fraction is
    nominal — nprobe/k for IVF, probed-buckets/2^bits for LSH — and
    matches the measured cell/bucket sizes on this data to within a few
    percent (cells and sign buckets are near-balanced on the
    near-uniform synthetic embeddings)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < n_queries)
    exact = _topk_sets(S.cosine_topk(emb, queries, "vec_id", "embedding",
                                     k=K))

    results: dict[str, tuple[float, float]] = {}
    n_labels = emb.select("label").distinct().count()
    for nprobe in (1, 2, 4):
        approx = S.ivf_topk(emb, queries, "vec_id", "embedding",
                            cell_col="label", k=K, nprobe=nprobe)
        results[f"ivf_label nprobe={nprobe}"] = (
            recall_at_k(approx, exact), nprobe / n_labels)

    for km_k in (8, 16):
        cents = S.kmeans_train(emb, "vec_id", "embedding", k=km_k, iters=2)
        corpus = S.with_kmeans_cell(emb, "embedding", cents)
        for nprobe in (1, 2, 4) if km_k == 8 else (2, 4, 8):
            approx = S.ivf_topk(corpus, queries, "vec_id", "embedding",
                                cell_col="cell", k=K, nprobe=nprobe)
            results[f"ivf_kmeans k={km_k} nprobe={nprobe}"] = (
                recall_at_k(approx, exact), nprobe / km_k)

    for bits in (2, 4, 8):
        for h in (0, 1):
            approx = S.lsh_topk(emb, queries, "vec_id", "embedding", k=K,
                                bits=bits, probe_hamming=h)
            probes = 1 + (bits if h else 0)
            results[f"lsh bits={bits} probe_hamming={h}"] = (
                recall_at_k(approx, exact), probes / 2 ** bits)

    return results


def main() -> None:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    spark = (SparkSession.builder.master("local[8]")
             .appName("ann-recall")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    results = run_report(spark, sf_dir, n_queries)

    print(f"\n| strategy | recall@{K} | scan fraction |")
    print("|---|---|---|")
    for name, (r, frac) in results.items():
        print(f"| {name} | {r:.3f} | {frac:.3f} |")
    print()
    print(json.dumps({"sf_dir": sf_dir, "n_queries": n_queries, "k": K,
                      "recall": {n: [round(r, 4), round(f, 4)]
                                 for n, (r, f) in results.items()}}))


if __name__ == "__main__":
    main()
