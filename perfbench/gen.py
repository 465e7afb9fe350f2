"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and returns plain pandas
frames plus the planted ground truth; nothing here touches Spark. The same
seed always gives the same frames (numpy PCG64 streams, no hash
randomisation). `materialize` writes a workload's frames to parquet once
per seed, so generation never lands inside a timed region.

  er_rows      repo_files rows shaped like synthdata.generate_repo_files:
               60/30/8/2 % singleton/pair/3-10/11-50 clusters, chain
               mutations, a shared licence header on ~15 % of clusters;
               optionally exact replicas and same-stem template families
  el_inputs    an ambiguous entity KB (6 corpora, shared first title
               tokens, planted near-duplicate entities, embeddings) and
               noisy mentions labelled with their entity
  curate_docs  documents with planted exact duplicates and planted
               benchmark overlaps, plus the benchmark and a clean
               reference corpus for the LM gate
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

LANGS = np.array(["python", "java", "js", "go", "c", "rust"])
LANG_P = [0.40, 0.20, 0.15, 0.10, 0.10, 0.05]
EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "c": "c", "rust": "rs"}
DIRS = ["src/main/util", "src/core", "lib/internal", "pkg/api", "cmd/tool",
        "src/test/helpers", "internal/runtime", "app/models"]
HEADER = (
    "license apache version 2.0 copyright contributors permission granted "
    "free of charge to any person obtaining a copy of this software and "
    "associated documentation files to deal in the software without restriction"
).split()
# template-family file names: (stem file, lang)
FAMILY_FILES = [("__init__.py", "python"), ("index.js", "js"), ("mod.rs", "rust"),
                ("main.go", "go"), ("utils.py", "python"), ("Main.java", "java"),
                ("util.c", "c"), ("setup.py", "python")]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, purpose): adding a stream never shifts
    the draws of another. Sizes (cluster sizes, document lengths) come
    from seed 0 and are only permuted by the run's seed, so every seed
    gives an input of the same shape and only its content varies."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def _code_vocab(rng: np.random.Generator, n: int = 600) -> np.ndarray:
    kw = ("def class return import if else for while try except fn func var let "
          "const static void int str map list vec push append self this new").split()
    syll = np.array(["get", "set", "load", "parse", "node", "tree", "hash", "key",
                     "val", "buf", "ctx", "cfg", "idx", "ptr", "row", "col", "tmp",
                     "acc", "res", "data", "item", "pack", "sync", "lock", "pool",
                     "task", "job", "span"])
    words = dict.fromkeys(kw)
    while len(words) < n:
        a, b = rng.integers(0, len(syll), 2)
        words[f"{syll[a]}_{syll[b]}{int(rng.integers(0, 100))}"] = None
    return np.array(list(words), dtype=object)


def _render(words) -> str:
    """Space-joined tokens with a newline every 12 tokens."""
    parts = []
    for i in range(0, len(words), 12):
        parts.append(" ".join(words[i:i + 12]))
    return " \n ".join(parts)


def _cluster_sizes(rng: np.random.Generator, n_rows: int) -> list[int]:
    u = rng.random(n_rows)
    big = rng.integers(11, 51, n_rows)
    mid = rng.integers(3, 11, n_rows)
    sizes = np.where(u < 0.60, 1, np.where(u < 0.90, 2, np.where(u < 0.98, mid, big)))
    ends = np.cumsum(sizes)
    k = int(np.searchsorted(ends, n_rows))
    out = sizes[:k + 1].tolist()
    out[-1] -= int(ends[k]) - n_rows
    return [s for s in out if s > 0]


def er_rows(n_rows: int, seed: int, replica_frac: float = 0.0,
            n_families: int = 0, family_size: int = 0) -> pd.DataFrame:
    """repo_files rows + planted truth column `truth` (cluster label).

    n_rows generated rows in planted near-duplicate clusters; then
    `replica_frac * n_rows` exact replicas of random generated rows (new
    row_id and repo, same path and content; same truth cluster); then
    `n_families` template families of `family_size` singleton rows each,
    sharing one file name and ~60 % of their tokens (a fixed template)
    but with a private identifier tail, so every pair of members stays
    well below the match threshold while their MinHash bands collide.
    """
    rng = _rng(seed, "er")
    vocab = _code_vocab(rng)
    shape = _rng(0, "er-shape")
    sizes = _cluster_sizes(shape, n_rows)
    lengths = shape.integers(30, 600, len(sizes))
    headers = shape.random(len(sizes)) < 0.15
    rows = []
    i = 0
    for c_idx in rng.permutation(len(sizes)):
        size, header = sizes[c_idx], headers[c_idx]
        lang = str(rng.choice(LANGS, p=LANG_P))
        toks = rng.integers(0, len(vocab), int(lengths[c_idx]))
        d = DIRS[int(rng.integers(0, len(DIRS)))]
        stem = f"{vocab[int(rng.integers(0, len(vocab)))]}_{c_idx}"
        truth = f"c{c_idx}"
        for m in range(size):
            path = f"{d}/{stem}.{EXT[lang]}"
            if m > 0:
                toks = toks.copy()  # chain mutation: 2-5 % of tokens
                n_mut = max(1, int(len(toks) * rng.uniform(0.02, 0.05)))
                toks[rng.integers(0, len(toks), n_mut)] = rng.integers(0, len(vocab), n_mut)
                kind = int(rng.integers(0, 3))
                if kind == 0:
                    path = f"{DIRS[int(rng.integers(0, len(DIRS)))]}/{stem}.{EXT[lang]}"
                elif kind == 1:
                    path = f"{d}/{stem}_v{m}.{EXT[lang]}"
                else:
                    path = f"{d}/{stem}.{EXT[lang].upper()}"
            words = list(vocab[toks])
            rows.append((f"r{i:08d}", f"org{i % 20}/repo{i % 137}", path, lang,
                         _render(HEADER + words if header else words), truth))
            i += 1
    n_rep = int(round(replica_frac * n_rows))
    for j, src in enumerate(rng.integers(0, n_rows, n_rep)):
        _, _, path, lang, content, truth = rows[int(src)]
        rows.append((f"x{j:08d}", f"mirror{j % 31}/repo{j % 97}", path, lang,
                     content, truth))
    for f in range(n_families):
        fname, lang = FAMILY_FILES[f % len(FAMILY_FILES)]
        template = list(vocab[rng.integers(0, len(vocab), 60)])
        for m in range(family_size):
            tail = [f"id_{x:012x}" for x in rng.integers(0, 1 << 48, 40)]
            rows.append((f"f{f:03d}_{m:05d}", f"fam{f}/pkg{m}",
                         f"pkg{m % 50}/sub{m}/{fname}", lang,
                         _render(template + tail), f"f{f}_{m}"))
    df = pd.DataFrame(rows, columns=["row_id", "repo", "path", "lang", "content", "truth"])
    df.insert(3, "commit", [hashlib.sha1(r.encode()).hexdigest() for r in df["row_id"]])
    return df


def _unit(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


EMB_DIM = 32
KB_DUP_FRAC = 0.05        # planted near-duplicate entities
DOC_DUP_FRAC = 0.05       # planted exact-duplicate documents
DOC_OVERLAP_FRAC = 0.03   # documents with a planted benchmark passage


def el_inputs(n_entities: int, n_mentions: int,
              seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(entities, mentions) for entity linking + dense retrieval.

    entities: corpus, document_id, title, text, embedding, dup_of
      Titles are `<head> <word> <word>`: a small pool of head tokens per
      corpus makes first-token blocks crowded and titles ambiguous.
      KB_DUP_FRAC of the rows are planted near-duplicates of another
      entity (same title and text, embedding within cosine ~0.999);
      dup_of names the original (None otherwise).
    mentions: corpus, mention_id, text, embedding, label_document_id
      Mention text is a noisy title: head kept, one word sometimes
      dropped or swapped, plus two description words. Its embedding is
      the label's embedding plus noise, so dense top-1 is not trivial.
    """
    rng = _rng(seed, "el")
    words = np.array([f"w{x}" for x in range(4000)], dtype=object)
    heads = np.array([f"h{x}" for x in range(60)], dtype=object)
    n_orig = n_entities - int(n_entities * KB_DUP_FRAC)
    corpus = rng.permutation(np.arange(n_orig) % 6)
    head = heads[corpus * 10 + rng.integers(0, 10, n_orig)]
    title_w = words[rng.integers(0, len(words), (n_orig, 2))]
    desc_w = words[rng.integers(0, len(words), (n_orig, 12))]
    topics = _unit(rng, 48, EMB_DIM)
    emb = topics[rng.integers(0, len(topics), n_orig)] + 0.35 * _unit(rng, n_orig, EMB_DIM)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ent = pd.DataFrame({
        "corpus": [f"c{c}" for c in corpus],
        "document_id": [f"e{j:07d}" for j in range(n_orig)],
        "title": [f"{h} {a} {b}" for h, (a, b) in zip(head, title_w)],
        "text": [" ".join(r) for r in desc_w],
        "embedding": list(emb),
        "dup_of": None,
    })
    src = rng.integers(0, n_orig, n_entities - n_orig)
    dups = ent.iloc[src].copy()
    dups["document_id"] = [f"d{j:07d}" for j in range(len(dups))]
    dups["dup_of"] = ent["document_id"].to_numpy()[src]
    demb = emb[src] + 0.01 * _unit(rng, len(src), EMB_DIM)
    dups["embedding"] = list(demb / np.linalg.norm(demb, axis=1, keepdims=True))
    ent = pd.concat([ent, dups], ignore_index=True)

    label = rng.integers(0, n_orig, n_mentions)
    m_words = title_w[label].copy()
    swap = rng.random(n_mentions) < 0.3
    m_words[swap, 1] = words[rng.integers(0, len(words), int(swap.sum()))]
    drop = rng.random(n_mentions) < 0.2
    ctx = desc_w[label, rng.integers(0, 12, (2, n_mentions))].T
    text = [
        " ".join([head[l], a] + ([] if dr else [b]) + list(c))
        for l, (a, b), dr, c in zip(label, m_words, drop, ctx)
    ]
    memb = emb[label] + 0.45 * _unit(rng, n_mentions, EMB_DIM)
    ment = pd.DataFrame({
        "corpus": ent["corpus"].to_numpy()[label],
        "mention_id": [f"m{j:07d}" for j in range(n_mentions)],
        "text": text,
        "embedding": list(memb / np.linalg.norm(memb, axis=1, keepdims=True)),
        "label_document_id": ent["document_id"].to_numpy()[label],
    })
    for df in (ent, ment):
        df["embedding"] = [v.astype(np.float32) for v in df["embedding"]]
    return ent, ment


_DOC_WORDS = ("batch part spark line column order small sort value scan hash slow "
              "fast group agg filter big query key window row table stream merge "
              "data join plan cache index shard node task stage file block page "
              "the a of and to in is for on with as by at from that this it be are").split()


def curate_docs(n_docs: int, seed: int, n_bench: int = 200,
                n_ref: int = 1000) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(docs, benchmark, reference) for the curation plan.

    docs: doc_id, text, lang, source, planted ('' | 'dup' | 'overlap')
      Texts are word sequences over a small shared vocabulary plus a
      per-doc random tail, so every doc is distinct before planting.
      DOC_DUP_FRAC of docs are replaced by an exact copy of an earlier
      doc; DOC_OVERLAP_FRAC get a 30-token benchmark passage spliced in.
    benchmark: bench_id, text — the passages.
    reference: text — a clean corpus from the same generator for the LM.
    """
    rng = _rng(seed, "curate")
    vocab = np.array(_DOC_WORDS + [f"t{x}" for x in range(3000)], dtype=object)
    p = np.r_[np.full(len(_DOC_WORDS), 30.0), np.ones(3000)]
    p /= p.sum()

    def texts(n):
        lens = rng.permutation(_rng(0, "doc-lengths").integers(20, 160, n))
        toks = rng.choice(len(vocab), size=int(lens.sum()), p=p)
        cuts = np.cumsum(lens)[:-1]
        return [" ".join(vocab[t]) for t in np.split(toks, cuts)]

    bench = [" ".join(vocab[rng.choice(len(vocab), 30, p=p)]) for _ in range(n_bench)]
    text = texts(n_docs)
    planted = np.full(n_docs, "", dtype=object)
    # plant into the later 90 %: a duplicate copies an UNPLANTED doc with a
    # smaller id, so the copy (not its source) is the one flagged
    order = rng.permutation(np.arange(n_docs // 10, n_docs))
    n_dup = int(n_docs * DOC_DUP_FRAC)
    n_ovl = int(n_docs * DOC_OVERLAP_FRAC)
    planted[order[:n_dup]] = "dup"
    planted[order[n_dup:n_dup + n_ovl]] = "overlap"
    clean = np.flatnonzero(planted == "")
    for j in order[:n_dup]:
        src = clean[:int(np.searchsorted(clean, j))]
        text[j] = text[int(src[rng.integers(0, len(src))])]
    for j in order[n_dup:n_dup + n_ovl]:
        text[j] = f"{text[j]} {bench[int(rng.integers(0, n_bench))]}"
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.where(rng.random(n_docs) < 0.9, "en", "de"),
        "source": [f"src{x}" for x in rng.integers(0, 12, n_docs)],
        "planted": planted.astype(str),
    })
    benchmark = pd.DataFrame({"bench_id": np.arange(n_bench, dtype=np.int64),
                              "text": bench})
    reference = pd.DataFrame({"text": texts(n_ref)})
    return docs, benchmark, reference


def materialize(cache_dir: str, name: str, build) -> dict[str, str]:
    """Write the frames `build()` returns (a dict name -> DataFrame) as
    parquet under cache_dir/name once; return name -> path. A finished
    set is marked by a `_done` file, so an interrupted write is redone."""
    out = os.path.join(cache_dir, name)
    done = os.path.join(out, "_done")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for key, df in build().items():
            df.to_parquet(os.path.join(out, f"{key}.parquet"), index=False)
        open(done, "w").close()
    return {f[:-8]: os.path.join(out, f) for f in sorted(os.listdir(out))
            if f.endswith(".parquet")}
