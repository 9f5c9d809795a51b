"""Dedup candidate-pair quality report: approximate vs exact Jaccard.

The correctness oracles prove each pairing algorithm computes exactly
what it claims; they say nothing about RESULT QUALITY — a user tuning
MinHash bands or a SimHash hamming budget needs precision/recall
against exact similarity, the same gap the ANN recall harness closes
for similarity search (tools/ann_recall.py).

    python tools/dedup_quality.py [sf_dir] [jaccard_threshold]

Ground truth: exact n-gram Jaccard for every pair sharing >=1 shingle
(``ngram_capped_pairs`` with an effectively-infinite star cap — exact
within the corpus sizes this harness targets). A "true duplicate" is a
pair with jaccard >= threshold. For each strategy:

- recall    = |emitted ∩ true| / |true|
- precision = |emitted ∩ true| / |emitted|  (candidate precision: how
  much of the candidate stream survives exact re-verification — the
  cost driver of the verify stage at 100 TB)

Prints a markdown table (pasted into BENCH.md) plus one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

# the checkout this script lives in, not whichever copy is installed
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

from morph_kgc_spark.operators import dedup as D  # noqa: E402
from morph_kgc_spark.operators.cache import release  # noqa: E402


def pair_set(df) -> set:
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def true_pair_set(docs, threshold: float) -> set:
    """Exact >=threshold-jaccard ground truth: ngram_capped_pairs with
    an effectively-infinite star cap. The ONE definition both the
    BENCH.md report (main() below) and the CI gate
    (tests/test_dedup_quality.py) use — keep them from drifting."""
    exact = D.ngram_capped_pairs(docs, "doc_id", "text",
                                 star_cap=1_000_000_000)
    truth = {(r.id_a, r.id_b) for r in exact.collect()
             if r.jaccard >= threshold}
    release(exact)
    return truth


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    thresh = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5

    spark = (SparkSession.builder.master("local[8]")
             .appName("dedup-quality")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    truth = true_pair_set(docs, thresh)

    rows = []
    strategies = {
        "minhash_lsh (4x4 bands)":
            lambda: D.minhash_lsh_pairs(docs, "doc_id", "text"),
        "minhash_lsh capped (bucket_cap=8)":
            lambda: D.minhash_lsh_pairs(docs, "doc_id", "text",
                                        bucket_cap=8),
        "simhash (hamming<=6, 32 bits)":
            lambda: D.simhash_pairs(docs, "doc_id", "text",
                                    max_hamming=6),
        "simhash (hamming<=3, 32 bits)":
            lambda: D.simhash_pairs(docs, "doc_id", "text",
                                    max_hamming=3),
        "ngram_capped (star_cap=3)":
            lambda: D.ngram_capped_pairs(docs, "doc_id", "text",
                                         star_cap=3),
    }
    for name, fn in strategies.items():
        out = fn()
        emitted = pair_set(out)
        release(out)
        hit = emitted & truth
        recall = len(hit) / len(truth) if truth else 1.0
        precision = len(hit) / len(emitted) if emitted else 1.0
        rows.append({"strategy": name, "emitted": len(emitted),
                     "recall": round(recall, 3),
                     "precision": round(precision, 3)})

    print(f"\n| strategy | pairs emitted | recall@j>={thresh} | "
          "candidate precision |")
    print("|---|---|---|---|")
    for r in rows:
        print(f"| {r['strategy']} | {r['emitted']} | {r['recall']} | "
              f"{r['precision']} |")
    print()
    print(json.dumps({"sf": sf_dir, "threshold": thresh,
                      "n_true_pairs": len(truth), "strategies": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
