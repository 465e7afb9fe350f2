"""The benchmark workloads: inputs, one timed pass, its traced twin, and
the output check.

A pass starts at the parquet scan of the cached inputs and ends with the
last action's result collected on the driver. `check` compares that
result with the planted ground truth and returns (ok, quality metrics);
it runs outside the timed region. `traced` performs the same work as one
call per layer, each inside its own tracer span, and must return a
result equal to the pass's (`same`), so a decomposition that drifts from
the library fails loudly.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen

# er_large lowers two corpus-size gates of ERConfig so that a 1.2k-row
# input exercises what the defaults only open on large corpora: the
# suppression census (default gate 50k rows) and the triangle-salted join
# of blocks above block_cap (default 200). er_small keeps ERConfig()
# unchanged.
ER_LARGE_CFG = {"suppress_min_corpus": 1_000, "block_cap": 20}
EL_SIZE = (500, 200)          # entities, mentions
N_DOCS = 500
SEMDEDUP_EPS = 0.98


@dataclass(frozen=True)
class Workload:
    name: str
    build: Callable      # seed -> {name: pandas frame}
    run: Callable        # (spark, paths) -> result
    traced: Callable     # (tracer, spark, paths, truth) -> result
    same: Callable       # (traced result, pass result) -> bool
    check: Callable      # (result, truth) -> (ok, {quality metric: value})
    records: Callable    # truth -> records handled by one pass
    props: Callable      # truth -> input properties to print
    warm: Callable | None = None  # (spark, paths) -> None; default: run


# ---------------------------------------------------------------- ER ----

def _er_build(n_rows, replica_frac=0.0, n_families=0, family_size=0):
    def build(seed):
        return {"rows": gen.er_rows(n_rows, seed, replica_frac, n_families,
                                    family_size)}
    return build


def _er_run(cfg_kw):
    def run(spark, paths):
        from entitylinking_spark.operators.blocking import ERConfig
        from entitylinking_spark.plans.pipeline import resolve

        rows = spark.read.parquet(paths["rows"]).drop("truth")
        res = resolve(rows, ERConfig(**cfg_kw), id_col="row_id")
        try:
            return res.clusters.select("row_id", "cluster_id").toPandas()
        finally:
            res.unpersist()
    return run


def _er_traced(cfg_kw):
    """resolve() as one call per layer; mirrors plans/pipeline.py (no
    checkpoint store, no metric-only actions)."""
    def traced(tr, spark, paths, truth):
        from entitylinking_spark.operators.blocking import (
            ERConfig, block_candidates, block_census, shingle_blacklist, with_keys)
        from entitylinking_spark.operators.cc import connected_components
        from entitylinking_spark.operators.pairs import candidate_pairs
        from entitylinking_spark.operators.scoring import matched_edges, score_pairs

        cfg = ERConfig(**cfg_kw)
        rows = spark.read.parquet(paths["rows"]).drop("truth")
        with tr.untimed():
            census_open = (cfg.suppress_shingle_df is not None
                           and rows.count() >= cfg.suppress_min_corpus)
        blacklist = None
        if census_open:
            with tr.span("blocking.census"):
                blacklist = shingle_blacklist(rows, cfg)
        n_bl = 0 if blacklist is None else int(len(blacklist))
        tr.rows_out["blocking.census"] += n_bl
        tr.counts["blocking.suppressed_shingles"] = n_bl

        held = []
        with tr.span("blocking.keys"):
            keyed_full = with_keys(rows, cfg, id_col="row_id", blacklist=blacklist)
            keyed = keyed_full.drop("content").persist()
            tr.rows_out["blocking.keys"] += keyed.count()
        held.append(keyed)
        content_df = keyed_full.select("row_id", "content")
        reps = keyed.groupBy("content_sha").agg(F.min("row_id").alias("rep_id"))
        exact_edges = (
            keyed.select("row_id", "content_sha").join(reps, "content_sha")
            .filter(F.col("row_id") != F.col("rep_id"))
            .select(F.col("rep_id").alias("src"), F.col("row_id").alias("dst"))
        )
        rep_rows = keyed.join(reps.select(F.col("rep_id").alias("row_id")),
                              "row_id", "left_semi").persist()
        held.append(rep_rows)

        with tr.span("blocking.blocks"):
            blocks = block_candidates(rep_rows, cfg).persist()
            census = block_census(blocks).persist()
            tr.rows_out["blocking.blocks"] += blocks.count()
            census.count()
        held += [blocks, census]
        with tr.untimed():
            s = census.agg(
                F.sum(((F.col("block_size") > cfg.block_cap)
                       & (F.col("block_size") <= cfg.skip_block_threshold))
                      .cast("long")).alias("hot"),
                F.max("block_size").alias("max")).first()
        tr.counts["pairs.hot_blocks"] = int(s["hot"] or 0)
        tr.counts["pairs.max_block"] = int(s["max"] or 0)

        with tr.span("pairs.candidates"):
            pairs = candidate_pairs(blocks, cfg, census=census).persist()
            n_pairs = pairs.count()
        held.append(pairs)
        tr.rows_out["pairs.candidates"] += n_pairs

        with tr.span("scoring.score"):
            scored = score_pairs(pairs, rep_rows, cfg, content_df=content_df).persist()
            near = matched_edges(scored, cfg).persist()
            n_edges = near.count()
        held += [scored, near]
        tr.rows_out["scoring.score"] += n_edges
        with tr.untimed():
            s = scored.agg(
                F.count("*").alias("n"),
                F.sum(F.col("name_sim").isNotNull().cast("long")).alias("surv"),
                F.sum(F.col("jw_evaluated").cast("long")).alias("jw")).first()
        n = max(1, int(s["n"]))
        tr.counts["scoring.prescreen_survivor_frac"] = int(s["surv"] or 0) / n
        tr.counts["scoring.jw_frac"] = int(s["jw"] or 0) / n
        tr.counts["scoring.match_frac"] = n_edges / max(1, n_pairs)

        try:
            with tr.span("cc.components"):
                clusters = connected_components(
                    near.unionByName(exact_edges), all_ids=keyed.select("row_id"),
                    assume_distinct=True,
                ).select("row_id", "cluster_id").toPandas()
            tr.rows_out["cc.components"] += len(clusters)
            return clusters
        finally:
            for df in held:
                df.unpersist()
    return traced


def _sorted(df: pd.DataFrame, key) -> pd.DataFrame:
    return df.sort_values(key).reset_index(drop=True)


def _er_same(a, b) -> bool:
    return _sorted(a, "row_id").equals(_sorted(b, "row_id"))


def pair_f1(truth: pd.Series, pred: pd.Series) -> float:
    """Pairwise F1 of a predicted clustering against the truth clustering
    over ALL row pairs (contingency-table pair counts, no sampling). Both
    series are indexed by row id."""
    pred = pred.reindex(truth.index)

    def pairs(sizes) -> float:
        sizes = np.asarray(sizes, dtype=np.int64)
        return float((sizes * (sizes - 1) // 2).sum())

    joint = pd.DataFrame({"t": truth.to_numpy(), "p": pred.to_numpy()})
    tp = pairs(joint.groupby(["t", "p"]).size())
    n_true, n_pred = pairs(truth.value_counts()), pairs(pred.value_counts())
    return 1.0 if n_true + n_pred == 0 else 2.0 * tp / (n_true + n_pred)


def _er_check(result, truth):
    rows = truth["rows"]
    ids = result["row_id"]
    if not (ids.is_unique and len(ids) == len(rows) and set(ids) == set(rows["row_id"])):
        return False, {"pairwise_f1": 0.0}
    f1 = pair_f1(rows.set_index("row_id")["truth"],
                 result.set_index("row_id")["cluster_id"])
    return f1 >= 0.99, {"pairwise_f1": f1}


def _er_props(truth):
    rows = truth["rows"]
    fam = rows["row_id"].str.startswith("f")
    return {"rows": len(rows),
            "exact_dup_share": round(float(rows["content"].duplicated().mean()), 4),
            "family_rows": int(fam.sum()),
            "families": int(rows.loc[fam, "row_id"].str[:4].nunique())}


# ---------------------------------------------------------------- EL ----

def _el_build(seed):
    ent, ment = gen.el_inputs(EL_SIZE[0], EL_SIZE[1], seed)
    return {"entities": ent, "mentions": ment}


def _el_frames(spark, paths):
    ent = spark.read.parquet(paths["entities"])
    men = spark.read.parquet(paths["mentions"])
    return (ent, men,
            men.select("corpus", "mention_id", "text", "label_document_id"),
            ent.select("corpus", "document_id", "title", "text"))


def _kept(dedup, ent):
    return dedup.filter("is_kept").select(F.col("row_id").alias("document_id")) \
        .join(ent.select("document_id", "embedding"), "document_id")


def _el_run(spark, paths):
    from entitylinking_spark.operators.dedup import semdedup
    from entitylinking_spark.operators.ivf import ivf_topk
    from entitylinking_spark.operators.linking import link_mentions

    ent, men, m, e = _el_frames(spark, paths)
    linked = link_mentions(m, e).select("mention_id", "entity_id").toPandas()
    dedup = semdedup(ent.select("document_id", "embedding"), eps=SEMDEDUP_EPS,
                     id_col="document_id").select("row_id", "is_kept").persist()
    try:
        kept_ids = dedup.toPandas()
        topk = ivf_topk(_kept(dedup, ent), men.select("mention_id", "embedding"),
                        k=10, id_col="document_id", qid_col="mention_id") \
            .select("query_id", "vec_id").toPandas()
    finally:
        dedup.unpersist()
    return {"linked": linked, "dedup": kept_ids, "topk": topk}


def entity_group(entities: pd.DataFrame) -> pd.Series:
    """document_id -> the original entity it duplicates (itself if none)."""
    return entities["dup_of"].fillna(entities["document_id"]).set_axis(
        entities["document_id"])


def _el_traced(tr, spark, paths, truth):
    from entitylinking_spark.operators.dedup import semdedup
    from entitylinking_spark.operators.ivf import auto_n_cells, fit_centroids, ivf_topk
    from entitylinking_spark.operators.linking import candidate_channels, rank_candidates

    ent, men, m, e = _el_frames(spark, paths)
    with tr.span("linking.channels"):
        cands = candidate_channels(m, e).persist()
        tr.rows_out["linking.channels"] += cands.count()
    try:
        with tr.untimed():
            pairs = cands.select("mention_id", "document_id").distinct().toPandas()
        with tr.span("linking.rank"):
            ranked = rank_candidates(cands, top_k=10) \
                .select("mention_id", "document_id", "rank").toPandas()
        tr.rows_out["linking.rank"] += len(ranked)
    finally:
        cands.unpersist()
    group = entity_group(truth["entities"])
    n_men = len(truth["mentions"])
    label = truth["mentions"].set_index("mention_id")["label_document_id"].map(group)
    hit = pairs["document_id"].map(group).to_numpy() == \
        label.reindex(pairs["mention_id"]).to_numpy()
    tr.counts["linking.candidates_per_mention"] = len(pairs) / n_men
    tr.counts["linking.candidate_recall"] = pairs.loc[hit, "mention_id"].nunique() / n_men

    with tr.span("dedup.semdedup"):
        dedup = semdedup(ent.select("document_id", "embedding"), eps=SEMDEDUP_EPS,
                         id_col="document_id").select("row_id", "is_kept").persist()
        tr.rows_out["dedup.semdedup"] += dedup.count()
    try:
        with tr.untimed():
            kept_ids = dedup.toPandas()
        tr.counts["dedup.kept_frac"] = float(kept_ids["is_kept"].mean())
        kept = _kept(dedup, ent)
        with tr.span("ivf.fit"):
            cent = fit_centroids(kept, auto_n_cells(kept.count()), id_col="document_id")
        tr.rows_out["ivf.fit"] += len(cent)
        with tr.span("ivf.topk"):
            topk = ivf_topk(kept, men.select("mention_id", "embedding"), k=10,
                            centroids=cent, id_col="document_id",
                            qid_col="mention_id").select("query_id", "vec_id").toPandas()
        tr.rows_out["ivf.topk"] += len(topk)
    finally:
        dedup.unpersist()
    top1 = ranked[ranked["rank"] == 1].rename(columns={"document_id": "entity_id"})
    return {"linked": top1[["mention_id", "entity_id"]], "dedup": kept_ids, "topk": topk}


def _el_same(a, b) -> bool:
    linked = b["linked"].dropna(subset=["entity_id"])
    return (_sorted(a["linked"], "mention_id").equals(_sorted(linked, "mention_id"))
            and _sorted(a["dedup"], "row_id").equals(_sorted(b["dedup"], "row_id"))
            and _sorted(a["topk"], ["query_id", "vec_id"]).equals(
                _sorted(b["topk"], ["query_id", "vec_id"])))


def _el_check(result, truth):
    ent, men = truth["entities"], truth["mentions"]
    linked = result["linked"]
    ok = (linked["mention_id"].is_unique and len(linked) == len(men)
          and set(linked["mention_id"]) == set(men["mention_id"])
          and result["dedup"]["row_id"].is_unique and len(result["dedup"]) == len(ent))
    group = entity_group(ent)
    label = men.set_index("mention_id")["label_document_id"].map(group)
    pred = linked.set_index("mention_id")["entity_id"].map(group)
    acc = float((pred.reindex(label.index) == label).mean())
    topk = result["topk"]
    hit = topk["vec_id"].map(group).to_numpy() == label.reindex(topk["query_id"]).to_numpy()
    recall = topk.loc[hit, "query_id"].nunique() / len(men)
    return bool(ok), {"link_accuracy": acc, "dense_recall_at_10": float(recall)}


def _el_props(truth):
    ent = truth["entities"]
    return {"entities": len(ent), "mentions": len(truth["mentions"]),
            "corpora": int(ent["corpus"].nunique()),
            "kb_dup_share": round(float(ent["dup_of"].notna().mean()), 4)}


# ------------------------------------------------------------ curate ----

def _cur_build(seed):
    docs, bench, ref = gen.curate_docs(N_DOCS, seed)
    return {"docs": docs, "benchmark": bench, "reference": ref}


def curate_config():
    from entitylinking_spark.plans.curation import CurationConfig

    # the hashed classifier and a per-domain cap at ~80 % of the mean
    # per-source count (12 sources), so the cap binds
    return CurationConfig(model_n_buckets=4096, domain_cap=N_DOCS * 2 // 30)


def _cur_frames(spark, paths):
    return (spark.read.parquet(paths["docs"]).drop("planted"),
            spark.read.parquet(paths["benchmark"]),
            spark.read.parquet(paths["reference"]))


_VERDICT = ["doc_id", "is_duplicate", "contaminated", "keep"]


def _cur_run(spark, paths):
    from entitylinking_spark.operators.lm import ngram_lm_fit
    from entitylinking_spark.plans.curation import curate

    docs, bench, ref = _cur_frames(spark, paths)
    lm = ngram_lm_fit(ref, n=3)
    try:
        return curate(docs, bench, curate_config(), lm=lm).select(*_VERDICT).toPandas()
    finally:
        lm.grams.unpersist()
        lm.contexts.unpersist()


def _cur_traced(tr, spark, paths, truth):
    from entitylinking_spark.operators.lm import ngram_lm_fit
    from entitylinking_spark.plans.curation import curate

    docs, bench, ref = _cur_frames(spark, paths)
    with tr.span("lm.fit"):
        lm = ngram_lm_fit(ref, n=3)
    tr.rows_out["lm.fit"] += lm.n_grams
    try:
        with tr.span("curation.curate"):
            out = curate(docs, bench, curate_config(), lm=lm).select(*_VERDICT).toPandas()
    finally:
        lm.grams.unpersist()
        lm.contexts.unpersist()
    tr.rows_out["curation.curate"] += len(out)
    tr.counts["curation.keep_frac"] = float(out["keep"].mean())
    return out


def _cur_same(a, b) -> bool:
    return _sorted(a, "doc_id").equals(_sorted(b, "doc_id"))


def _cur_check(result, truth):
    docs = truth["docs"]
    ok = (result["doc_id"].is_unique and len(result) == len(docs)
          and set(result["doc_id"]) == set(docs["doc_id"]))
    v = docs[["doc_id", "planted"]].merge(result, on="doc_id")
    dup, ovl = v[v["planted"] == "dup"], v[v["planted"] == "overlap"]
    flagged = int(dup["is_duplicate"].sum()) + int(ovl["contaminated"].sum())
    return bool(ok), {"curate_flag_recall": flagged / max(1, len(dup) + len(ovl))}


def _cur_props(truth):
    planted = truth["docs"]["planted"]
    return {"docs": len(planted), "planted_dups": int((planted == "dup").sum()),
            "planted_overlaps": int((planted == "overlap").sum()),
            "benchmark_items": len(truth["benchmark"])}


# ------------------------------------------------------------ compose ---

def _both(f, g):
    """el_curate: the EL pass, then the curation pass, as one workload."""
    return lambda *a: {"el": f(*a), "cur": g(*a)}


def _concurrently(*parts):
    """el_curate's warm-up: its EL and curation halves in two threads at
    once. A cold pass is mostly serial latency (interpreted planning, class
    loading, JIT queues), not CPU, so the two halves overlap: measured
    22-24 s for both against 32-37 s one after the other, with the same
    first timed pass afterwards."""
    def warm(spark, paths):
        with ThreadPoolExecutor(len(parts)) as ex:
            for done in [ex.submit(p, spark, paths) for p in parts]:
                done.result()
    return warm


def _el_cur_build(seed):
    return {**_el_build(seed), **_cur_build(seed)}


def _el_cur_traced(tr, spark, paths, truth):
    return {"el": _el_traced(tr, spark, paths, truth),
            "cur": _cur_traced(tr, spark, paths, truth)}


def _el_cur_check(result, truth):
    ok1, q1 = _el_check(result["el"], truth)
    ok2, q2 = _cur_check(result["cur"], truth)
    return ok1 and ok2, {**q1, **q2}


WORKLOADS = {
    "er_small": Workload("er_small", _er_build(4_000), _er_run({}), _er_traced({}),
                         _er_same, _er_check, lambda t: len(t["rows"]), _er_props),
    "er_large": Workload("er_large", _er_build(600, 0.5, 4, 75),
                         _er_run(ER_LARGE_CFG), _er_traced(ER_LARGE_CFG),
                         _er_same, _er_check, lambda t: len(t["rows"]), _er_props),
    "el_link": Workload("el_link", _el_build, _el_run, _el_traced, _el_same,
                        _el_check, lambda t: len(t["mentions"]), _el_props),
    "curate_docs": Workload("curate_docs", _cur_build, _cur_run, _cur_traced,
                            _cur_same, _cur_check, lambda t: len(t["docs"]), _cur_props),
    "el_curate": Workload(
        "el_curate", _el_cur_build, _both(_el_run, _cur_run), _el_cur_traced,
        lambda a, b: _el_same(a["el"], b["el"]) and _cur_same(a["cur"], b["cur"]),
        _el_cur_check, lambda t: len(t["mentions"]) + len(t["docs"]),
        lambda t: {**_el_props(t), **_cur_props(t)},
        warm=_concurrently(_el_run, _cur_run)),
}
