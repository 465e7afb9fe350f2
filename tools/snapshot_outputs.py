"""Snapshot exact outputs of the vector-block and dedup operators, so
before/after equivalence of a refactor is provable bit-for-bit (floats
compared by raw IEEE bits, not tolerance).

Usage: python tools/snapshot_outputs.py <out.pkl> [sf_dir]
       python tools/snapshot_outputs.py --compare <a.pkl> <b.pkl>

The package is imported from the checkout that holds this file, so copy
the file into a checkout of the older commit to snapshot that commit.
"""

from __future__ import annotations

import os
import pickle
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v):
    if isinstance(v, float):
        return struct.pack(">d", v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def snapshot(out_path: str, sf_dir: str):
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from entitylinking_spark.session import get_spark

    spark = get_spark(app_name="snapshot-outputs")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    results = {}

    # declared oracle queries over the rewritten operators
    qs = entry_mod.queries()
    for name in [
        "ann_topk_shuffle", "ivf_topk_probe", "semdedup_docs",
        "embedding_near_dup", "embedding_dup_clusters",
        "hard_negatives_probe", "similarity_topk", "er_clusters",
        "dedup_minhash_docs", "dedup_simhash_docs",
        "dedup_ngram_jaccard_docs", "g3_connected_components",
    ]:
        if name not in qs:
            continue
        df = qs[name](spark, sf_dir)
        rows = sorted(
            tuple(canon(v) for v in r) for r in df.collect()
        )
        results[name] = (tuple(df.columns), rows)
        print(f"# {name}: {len(rows)} rows")

    # bench-shaped raw-float paths (exercise the float32 kernel arithmetic)
    from entitylinking_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semdedup,
    )
    from entitylinking_spark.operators.ivf import ivf_topk
    from entitylinking_spark.operators.similarity import lsh_topk_shuffle

    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    for name, df in [
        ("bench_ann_f32",
         lsh_topk_shuffle(emb, q, k=10, n_planes=8, probe_bits=1, dim=64)),
        ("bench_ann_f32_salted",
         lsh_topk_shuffle(emb, q, k=5, n_planes=4, probe_bits=1, dim=64,
                          bucket_cap=40)),
        ("bench_ivf_f32", ivf_topk(emb, q, k=10, n_cells=32, nprobe=2)),
        ("bench_semdedup", semdedup(emb, eps=0.9)),
        # tiny caps put every block on the salted path of the kernels
        ("bench_near_dup_salted",
         embedding_near_dup_pairs(emb, threshold=0.3, block_cap=8,
                                  skip_block_threshold=2**31 - 1)),
        ("bench_semdedup_salted", semdedup(emb, eps=0.3, cell_cap=8)),
    ]:
        rows = sorted(tuple(canon(v) for v in r) for r in df.collect())
        results[name] = (tuple(df.columns), rows)
        print(f"# {name}: {len(rows)} rows")

    with open(out_path, "wb") as f:
        pickle.dump(results, f)
    print(f"wrote {out_path}")
    spark.stop()


def compare(a_path: str, b_path: str):
    with open(a_path, "rb") as f:
        a = pickle.load(f)
    with open(b_path, "rb") as f:
        b = pickle.load(f)
    ok = True
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{name}: MISSING on one side")
            ok = False
            continue
        if a[name] == b[name]:
            print(f"{name}: IDENTICAL ({len(a[name][1])} rows)")
        else:
            ok = False
            ra, rb = a[name][1], b[name][1]
            print(f"{name}: DIFFER (rows {len(ra)} vs {len(rb)})")
            diff = [x for x in ra if x not in set(rb)][:3]
            print(f"  first only-in-A rows: {diff}")
    print("RESULT:", "IDENTICAL" if ok else "DIFFERS")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        snapshot(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else
                 "/root/testdata/sf0.01")
