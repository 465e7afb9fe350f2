"""Vector-block kernels: the one implementation of block-wise cosine work.

The reference's dense candidate channel is an embedding top-k probe
(Sparkle `database.py`: np.dot + argsort per query). Every distributed
variant here partitions vectors into blocks (SRP buckets, IVF cells,
SemDeDup cells) and hands each block to ONE Arrow-batched numpy kernel
that scores it as a matrix. No per-pair rows are ever materialized:
the cost of a Python UDF sits at the per-row serialization boundary, so
whole blocks per call is the only shape worth keeping.

  blocked_topk    bipartite per-query top-k (ANN / IVF probes); hot
                  corpus blocks are salted, the query side replicates
  blocked_pairs   all pairs within a block above a cosine threshold
                  (near-dup, SemDeDup); hot blocks are triangle-salted

Bit-exactness: `dot` / `norm` are the JVM folds the DuckDB oracles
recompute, and `_jvm_exact_dots` reproduces the fold's per-element
rounding and sequential float64 sum, so a kernel's cosine equals the
cosine a per-pair JVM expression would have computed, bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v.cast("double")
        )
    )


def _stack_vecs(cells) -> np.ndarray:
    """(n, dim) matrix from a pandas object column of Arrow list values,
    PRESERVING the element dtype (float32 stays float32) so kernel
    arithmetic can reproduce the JVM's per-element rounding exactly."""
    first = cells[0]
    if isinstance(first, np.ndarray):
        return np.stack(cells)
    return np.array(list(cells), dtype=np.float64)


def _jvm_exact_dots(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(nq, d) x (nc, d) -> (nq, nc) float64 dot products BIT-IDENTICAL to
    the interpreted JVM fold `dot()`: each per-element product is computed
    in the INPUT element type (float32 inputs round every product to
    float32, exactly like Spark's float*float), then accumulated into a
    float64 in ascending dimension order (the fold's sequential sum; a
    BLAS matmul/einsum would reassociate the sum and drift in the last
    ulp). Vectorized across all pairs, so it runs at numpy speed while
    changing nothing about the computed values."""
    if Q.dtype != C.dtype:
        # mixed float32/float64 sides: Spark promotes both to double
        # before multiplying (float32 -> float64 is exact)
        Q = Q.astype(np.float64)
        C = C.astype(np.float64)
    nq, d = Q.shape
    nc = C.shape[0]
    acc = np.zeros((nq, nc), dtype=np.float64)
    if d == 0 or nq == 0 or nc == 0:
        return acc
    prod = np.empty((nq, nc), dtype=Q.dtype)
    for j in range(d):
        np.multiply(Q[:, j, None], C[None, :, j], out=prod)
        acc += prod
    return acc


def _id_order_key(ids: np.ndarray) -> np.ndarray:
    """Sort key matching Spark's ordering for the id column: UTF8 byte
    order for strings (Spark compares UTF8String bytes; Python compares
    code points — encode so both agree beyond ASCII), natural order for
    numerics."""
    if ids.dtype == object:
        return np.array(
            [s.encode("utf-8") if isinstance(s, str) else s for s in ids],
            dtype=object,
        )
    return ids


def _sorted_block(pdf: pd.DataFrame, id_col: str, vec_col: str,
                  norm_col: str):
    """(ids, vectors, norms, order) of a block sorted by id in Spark's
    order, so a stable sort over the block's columns breaks ties by id."""
    ids = pdf[id_col].to_numpy()
    order = np.argsort(_id_order_key(ids), kind="stable")
    vecs = _stack_vecs(pdf[vec_col].to_numpy()[order])
    norms = pdf[norm_col].to_numpy().astype(np.float64, copy=False)[order]
    return ids[order], vecs, norms, order


def _cosines(Q: np.ndarray, qn: np.ndarray, C: np.ndarray,
             cn: np.ndarray) -> np.ndarray:
    """when(denom == 0, 0.0, dot / denom) for every (q, c) pair — the
    arithmetic of the JVM cosine expression, with per-row JVM norms."""
    dots = _jvm_exact_dots(Q, C)
    denom = qn[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, 0.0, dots / denom)


def _desc_topk(cos: np.ndarray, k: int) -> np.ndarray:
    """Column indices of each row's first k in Spark's `desc` order: NaN
    greatest, then cosine descending; ties keep column order (callers
    sort columns by id, so ties go to the smaller id)."""
    nan = np.isnan(cos)
    return np.lexsort((-np.where(nan, 0.0, cos), ~nan), axis=1)[:, :k]


def _cogrouped_topk(corp: DataFrame, q: DataFrame, keys: list[str],
                    k: int) -> DataFrame:
    """Per-group top-k candidates of a cogrouped block join: each group's
    query x corpus block is one score matrix, and only each query's
    first k in the rank window's order leave the kernel. A row of the
    true global top-k ranks <= k inside its own group (the group's
    candidates are a subset of the query's), so the union of per-group
    lists contains the global top-k and the downstream window returns
    the rows and ranks of a per-pair join.

    corp: (*keys, vec_id, _vec, _n); q: (*keys, query_id, _qvec, _qn).
    Returns (query_id, vec_id, cosine) candidates.
    """
    out_schema = T.StructType([
        T.StructField("query_id", q.schema["query_id"].dataType),
        T.StructField("vec_id", corp.schema["vec_id"].dataType),
        T.StructField("cosine", T.DoubleType()),
    ])

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "cosine": []})
        vid, C, cn, _ = _sorted_block(cdf, "vec_id", "_vec", "_n")
        kk = min(k, len(vid))
        qid_all = qdf["query_id"].to_numpy()
        qn_all = qdf["_qn"].to_numpy().astype(np.float64, copy=False)
        qvec_all = qdf["_qvec"].to_numpy()
        qids_out, vids_out, cos_out = [], [], []
        # bound the (chunk x nc) score matrix to ~16 MB however large the
        # group's query fan-in is
        chunk = max(1, int(2_000_000 // len(vid)))
        for s in range(0, len(qid_all), chunk):
            cos = _cosines(_stack_vecs(qvec_all[s:s + chunk]),
                           qn_all[s:s + chunk], C, cn)
            sel = _desc_topk(cos, kk)
            qids_out.append(np.repeat(qid_all[s:s + chunk], kk))
            vids_out.append(vid[sel].ravel())
            cos_out.append(np.take_along_axis(cos, sel, axis=1).ravel())
        return pd.DataFrame({
            "query_id": np.concatenate(qids_out),
            "vec_id": np.concatenate(vids_out),
            # Arrow-backed so a NaN cosine crosses as NaN: PySpark turns a
            # NaN of a numpy float column into null, which ranks last
            "cosine": pd.arrays.ArrowExtensionArray(
                pa.array(np.concatenate(cos_out))),
        })

    return (
        corp.groupBy(*keys)
        .cogroup(q.groupBy(*keys))
        .applyInPandas(score, out_schema)
    )


def blocked_topk(corp: DataFrame, q: DataFrame, key: str, k: int, cap: int,
                 max_salt: int, metric_name: str, metrics=None,
                 **metric_tags) -> DataFrame:
    """Exact cosine top-k of every query over the corpus rows that share
    one of its blocks; (query_id, vec_id, cosine, rank <= k), ties by
    vec_id — the contract of `similarity.brute_force_topk`.

    corp: (key, vec_id, _vec) with every corpus row in exactly ONE block,
    so no (query_id, vec_id) dedup is needed before ranking. q: (key,
    query_id, _qvec), one row per probed block.

    Skew: one census of block sizes (persisted so the metrics collect
    does not recompute it); only HOT blocks (size > cap) are collected
    and broadcast back, so the broadcast is O(skewed blocks). A hot block
    of size S gets min(ceil(S/cap), max_salt) salt groups; each corpus
    row lands in ONE group (hash of vec_id) and each probe replicates to
    all of them, so salting changes task boundaries, never results.
    Census stats (n_buckets / max_bucket / mean_bucket / n_hot /
    max_n_salt) plus `metric_tags` are recorded under `metric_name` when
    `metrics` is set.
    """
    corp = corp.withColumn("_n", norm(F.col("_vec")))
    q = q.withColumn("_qn", norm(F.col("_qvec")))
    key_type = corp.schema[key].dataType.simpleString()
    census = corp.groupBy(key).agg(F.count("*").alias("_bsize")).persist()
    n_salt = F.least(F.ceil(F.col("_bsize") / cap), F.lit(max_salt))
    if metrics is not None:
        stats = census.agg(
            F.count("*").alias("n_buckets"),
            F.max("_bsize").alias("max_bucket"),
            F.avg("_bsize").alias("mean_bucket"),
            F.sum((F.col("_bsize") > cap).cast("long")).alias("n_hot"),
            F.max(n_salt).alias("max_n_salt"),
        ).collect()[0].asDict()
        metrics.record(
            metric_name, max_salt=max_salt, **metric_tags,
            **{kk: (float(v) if v is not None else None) for kk, v in stats.items()},
        )
    hot_rows = census.filter(F.col("_bsize") > cap).select(
        key, n_salt.cast("int").alias("n_salt")
    ).collect()
    census.unpersist()
    hot = F.broadcast(corp.sparkSession.createDataFrame(
        hot_rows, f"{key} {key_type}, n_salt int"
    ))
    corp = corp.join(hot, key, "left").withColumn(
        "salt",
        F.pmod(F.xxhash64("vec_id"), F.coalesce(F.col("n_salt"), F.lit(1))).cast("int"),
    )
    # probes into cold blocks replicate once; probes into empty blocks
    # match nothing in the cogroup
    q = q.join(hot, key, "left").withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)),
    )
    cand = _cogrouped_topk(
        corp.select(key, "salt", "vec_id", "_vec", "_n"),
        q.select(key, "salt", "query_id", "_qvec", "_qn"),
        [key, "salt"], k,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def blocked_pairs(blocks: DataFrame, census: DataFrame, vecs: DataFrame,
                  cap: int, skip_threshold: int,
                  threshold: float) -> DataFrame:
    """Every within-block pair with cosine >= threshold, as (id_l, id_r,
    cosine) with id_l < id_r in Spark's order — one grouped numpy kernel
    per block, no pair rows, no per-pair vector joins.

    blocks: (block_key, row_id), every row in at most one block; census:
    (block_key, block_size) of `blocks`; vecs: (row_id, vec). Blocks of
    one row, and blocks above `skip_threshold` that do not fit one task,
    are dropped (the degenerate mass-collision skip).

    Hot blocks follow the triangle-salt rule of `pairs.candidate_pairs`:
    a member of a block of size S gets salt pmod(xxhash64(row_id),
    ceil(S/cap)) and is replicated to the groups (block_key, least(salt,
    v), greatest(salt, v)) for every v. Group (u, u) scores the upper
    triangle of its members, group (u, v) the full cross of salt-u
    members with salt-v members, so every unordered pair is scored in
    exactly one group and no group holds more than ~2*cap rows. A block
    of size <= cap has one salt and stays a single group.
    """
    id_type = vecs.schema["row_id"].dataType
    out_schema = T.StructType([
        T.StructField("id_l", id_type),
        T.StructField("id_r", id_type),
        T.StructField("cosine", T.DoubleType()),
    ])
    n_salt = F.ceil(F.col("block_size") / F.lit(cap)).cast("int")
    members = (
        blocks.join(census, "block_key")
        .filter((F.col("block_size") > 1)
                & (F.col("block_size") <= max(cap, skip_threshold)))
        .join(vecs, "row_id")
        .withColumn("_n", norm(F.col("vec")))
        .withColumn("salt", F.pmod(F.xxhash64("row_id"), n_salt).cast("int"))
        .withColumn("_g", F.explode(F.transform(
            F.sequence(F.lit(0), n_salt - 1),
            lambda v: F.struct(F.least(F.col("salt"), v).alias("u"),
                               F.greatest(F.col("salt"), v).alias("v")),
        )))
        .select("block_key", "_g.u", "_g.v", "row_id", "vec", "_n", "salt")
    )

    def edges(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, V, nn, order = _sorted_block(pdf, "row_id", "vec", "_n")
        salt = pdf["salt"].to_numpy()[order]
        u, v = pdf["u"].iat[0], pdf["v"].iat[0]
        # group (u, u) holds only salt-u members: both sides are the block
        li, ri = np.flatnonzero(salt == u), np.flatnonzero(salt == v)
        cos = _cosines(V[li], nn[li], V[ri], nn[ri])
        hit = cos >= threshold
        if u == v:
            hit = np.triu(hit, k=1)
        a, b = np.nonzero(hit)
        c = cos[a, b]
        a, b = li[a], ri[b]
        return pd.DataFrame({
            "id_l": ids[np.minimum(a, b)],
            "id_r": ids[np.maximum(a, b)],
            "cosine": c,
        })

    return members.groupBy("block_key", "u", "v").applyInPandas(edges, out_schema)
