"""Seeded fixture generator with ground truth.

Everything a workload feeds the library is written here as plain files
(parquet through pyarrow, JSONL through the stdlib), from one
``numpy.random.Generator`` seeded by the workload seed. The same seed
gives byte-identical files; ``fixture_digest`` hashes them so a run can
prove it. Ground truth (planted duplicates, unmatched registry rows,
held-out queries and their exact top-k) stays in memory and is never
shown to the library.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 1024
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "with"]
GERMAN = ["der", "die", "das", "und", "mit", "ist", "nicht", "ein"]


def _vocab(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words - set(STOPWORDS) - set(GERMAN)))


def _english(rng, vocab, n_words: int) -> list[str]:
    """Pseudo-English: vocabulary words with ~30% stopwords, so the
    curation chain scores it as good-quality ``en``."""
    words = rng.choice(vocab, n_words).astype(object)
    stop = rng.random(n_words) < 0.3
    words[stop] = rng.choice(STOPWORDS, int(stop.sum()))
    return list(words)


def _sentences(rng, words: list[str]) -> str:
    out, i = [], 0
    while i < len(words):
        k = int(rng.integers(8, 16))
        out.append(" ".join(words[i:i + k]) + ".")
        i += k
    return " ".join(out)


def _edit(rng, vocab, text: str, frac: float) -> str:
    """Replace ``frac`` of the tokens of ``text`` (rounded, at least
    one) with random words, keeping sentence punctuation in place."""
    words = text.split(" ")
    n = max(1, int(round(len(words) * frac)))
    for i in rng.choice(len(words), n, replace=False):
        end = "." if words[i].endswith(".") else ""
        words[i] = str(rng.choice(vocab)) + end
    return " ".join(words)


def _write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _vec_table(ids: np.ndarray, X: np.ndarray, id_col: str) -> pa.Table:
    flat = pa.array(X.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, X.size + 1, X.shape[1]), pa.int32())
    return pa.table(
        {
            id_col: pa.array(ids.astype(np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
        }
    )


def fixture_digest(root: str) -> str:
    """sha256 over every fixture file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------- ingest


@dataclass
class IngestTruth:
    n_docs: int
    unmatched_ids: set
    stream_ids: list
    stream_planted: set  # stream titles planted as near-dups of bulk docs


def make_ingest(
    root: str, seed: int, n_docs: int, n_stream: int, n_files: int,
    min_chars: int, max_chars: int,
) -> IngestTruth:
    """Bulk corpus (parquet, ``n_files`` files) with a registry missing
    5% of it, plus one JSONL file of new docs for the stream, of which
    20% are planted near-duplicates (0.5% token edits) of bulk docs."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    # ~7.5 chars per token (word + space, pseudo-words of 4-9 letters)
    lens = rng.integers(min_chars // 7, max_chars // 7, n_docs)
    contents = [_sentences(rng, _english(rng, vocab, int(k))) for k in lens]
    ids = np.arange(n_docs, dtype=np.int64)
    titles = [f"Doc{i}" for i in ids]
    docs = pa.table(
        {
            "doc_id": pa.array(ids),
            "title": pa.array(titles),
            "pub_time": pa.array(["2025-04-27"] * n_docs),
            "source": pa.array(["synthetic"] * n_docs),
            "content": pa.array(contents),
        }
    )
    _write_parquet(docs, os.path.join(root, "docs"), n_files)

    unmatched = set(
        rng.choice(n_docs, int(round(n_docs * 0.05)), replace=False).tolist()
    )
    s_ids = np.arange(n_docs, n_docs + n_stream, dtype=np.int64)
    n_planted = int(round(n_stream * 0.2))
    # sources of at least 100 words: one edit then keeps the word-3-gram
    # Jaccard above 0.9, clear of the gate's 0.8 threshold
    long_docs = [i for i, c in enumerate(contents) if c.count(" ") >= 99]
    planted_pos = set(rng.choice(n_stream, n_planted, replace=False).tolist())
    stream_rows, planted = [], set()
    for pos, sid in enumerate(s_ids):
        if pos in planted_pos:
            src = int(rng.choice(long_docs))
            content = _edit(rng, vocab, contents[src], 0.005)
            planted.add(f"Doc{sid}")
        else:
            k = int(rng.integers(min_chars // 7, max_chars // 7))
            content = _sentences(rng, _english(rng, vocab, k))
        stream_rows.append(
            {
                "title": f"Doc{sid}",
                "pub_time": "2025-04-27",
                "source": "stream",
                "content": content,
            }
        )
    sdir = os.path.join(root, "stream")
    os.makedirs(sdir, exist_ok=True)
    with open(os.path.join(sdir, "batch-000.json"), "w") as fh:
        for r in stream_rows:
            fh.write(json.dumps(r, ensure_ascii=False) + "\n")

    reg_ids = np.array(
        [i for i in ids if int(i) not in unmatched] + list(s_ids),
        dtype=np.int64,
    )
    registry = pa.table(
        {
            "id": pa.array(reg_ids),
            "name": pa.array([f"Doc{i}_{i}.pdf" for i in reg_ids]),
        }
    )
    _write_parquet(registry, os.path.join(root, "registry"), 1)
    return IngestTruth(
        n_docs=n_docs,
        unmatched_ids=unmatched,
        stream_ids=[f"Doc{i}" for i in s_ids],
        stream_planted=planted,
    )


# --------------------------------------------------------------- curate


@dataclass
class CurateTruth:
    n_docs: int
    exact_dups: set  # ids that must be removed (higher id of an exact copy)
    near_dups: set  # near-dup pair members other than the lower id
    boilerplate: set  # template-group ids except the group's lowest
    low_quality: set  # punctuation-only rows and German rows
    pairs: set  # (lower id, higher id) of every planted copy and source
    boiler_group: set  # every template-group id


def make_curate(root: str, seed: int, n_docs: int, n_files: int) -> CurateTruth:
    """Text corpus for the minhash curation chain: 5% exact copies, 15%
    near-copies, a 2% boilerplate-template group and 10% low-quality or
    other-language rows."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    n_exact = int(n_docs * 0.05)
    n_near = int(n_docs * 0.15)
    n_boiler = int(n_docs * 0.02)
    n_low = int(n_docs * 0.10)
    n_base = n_docs - n_exact - n_near - n_boiler - n_low
    texts = [
        _sentences(rng, _english(rng, vocab, int(k)))
        for k in rng.integers(20, 300, n_base)
    ]
    kind = ["base"] * n_base
    origin = list(range(n_base))
    # at most one copy per base doc: the chain's lowest-id-wins rule is
    # pairwise, so two copies of one doc would only be removed if they
    # also matched each other
    sources = rng.choice(n_base, n_exact + n_near, replace=False)
    for src in sources[:n_exact]:
        texts.append(texts[src])
        kind.append("exact")
        origin.append(int(src))
    for src in sources[n_exact:]:
        # 3% token edits (at least one) keep the word-3-gram Jaccard
        # above 0.7, far over the chain's 0.5 threshold
        texts.append(_edit(rng, vocab, texts[src], 0.03))
        kind.append("near")
        origin.append(int(src))
    template = _sentences(rng, _english(rng, vocab, 120))
    for j in range(n_boiler):
        texts.append(_edit(rng, vocab, template, 0.02) + f" Reference {j}.")
        kind.append("boiler")
        origin.append(-1)
    for j in range(n_low):
        if j % 2:
            # German marker words: pred_lang 'de', filtered by the
            # ``allowed_langs=['en']`` the chain runs with
            words = list(rng.choice(GERMAN + list(vocab[:200]), 60))
            texts.append(_sentences(rng, [str(w) for w in words]))
        else:
            # punctuation-heavy, stopword-free fragments: quality < 0.5
            texts.append(" ".join(f"{w}!?;" for w in rng.choice(vocab, 12)))
        kind.append("low")
        origin.append(-1)
    ids = rng.permutation(n_docs).astype(np.int64)  # row r -> doc_id
    # each planted copy pairs with its source; the chain keeps the
    # pair's lower id and must remove the higher one

    pairs = {
        k: {
            tuple(sorted((int(ids[r]), int(ids[origin[r]]))))
            for r in range(n_docs) if kind[r] == k
        }
        for k in ("exact", "near")
    }
    boiler_ids = [int(ids[r]) for r in range(n_docs) if kind[r] == "boiler"]
    boiler = set(boiler_ids) - {min(boiler_ids)} if boiler_ids else set()
    low = {int(ids[r]) for r in range(n_docs) if kind[r] == "low"}
    order = np.argsort(ids)
    docs = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[r] for r in order]),
        }
    )
    _write_parquet(docs, os.path.join(root, "docs"), n_files)
    return CurateTruth(
        n_docs=n_docs,
        exact_dups={hi for _, hi in pairs["exact"]},
        near_dups={hi for _, hi in pairs["near"]},
        boilerplate=boiler,
        low_quality=low,
        pairs=pairs["exact"] | pairs["near"],
        boiler_group=set(boiler_ids),
    )


@dataclass
class SemTruth:
    n_vecs: int
    sem_pairs: list  # (original, planted copy) vec id pairs


def make_semdedup(root: str, seed: int, n_vecs: int, n_files: int) -> SemTruth:
    """Embeddings in 20 clusters of Zipf-skewed size, 5% of them planted
    semantic duplicates (cosine > 0.999 to their original)."""
    rng = np.random.default_rng([seed, 4])
    k = 20
    w = 1.0 / np.arange(1, k + 1) ** 1.1
    n_sem = int(n_vecs * 0.05)
    n_orig = n_vecs - n_sem
    sizes = np.maximum(1, np.floor(w / w.sum() * n_orig)).astype(int)
    sizes[0] += n_orig - sizes.sum()
    cents = rng.standard_normal((k, DIM)).astype(np.float32)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = np.repeat(np.arange(k), sizes)
    # spread 0.6 keeps non-dup pairs far below cos 0.99 (eps=0.01)
    X = cents[labels] + 0.6 * rng.standard_normal(
        (n_orig, DIM)
    ).astype(np.float32) / np.sqrt(DIM)
    src = rng.choice(n_orig, n_sem, replace=False)
    D = X[src] + 0.02 * rng.standard_normal(
        (n_sem, DIM)
    ).astype(np.float32) / np.sqrt(DIM)
    V = np.vstack([X, D])
    vids = rng.permutation(n_vecs).astype(np.int64)
    sem_pairs = [
        (int(vids[s]), int(vids[n_orig + j])) for j, s in enumerate(src)
    ]
    vorder = np.argsort(vids)
    _write_parquet(
        _vec_table(vids[vorder], V[vorder], "vec_id"),
        os.path.join(root, "vecs"),
        n_files,
    )
    return SemTruth(n_vecs=n_vecs, sem_pairs=sem_pairs)


# ---------------------------------------------------------------- index


@dataclass
class IndexTruth:
    base: np.ndarray  # (n_base, DIM) float32, ids 0..n_base-1
    upsert_ids: np.ndarray
    upsert: np.ndarray  # (n_upsert, DIM) float32
    queries: np.ndarray  # (n_queries, DIM), held out of the store
    k: int = 10

    def exact_topk(self) -> np.ndarray:
        """Exact L2 top-k ids over the base plus the upsert batch, for
        every held-out query (numpy, float64)."""
        allid = np.concatenate([np.arange(len(self.base)), self.upsert_ids])
        A = np.vstack([self.base, self.upsert]).astype(np.float64)
        Q = self.queries.astype(np.float64)
        d = (A * A).sum(1)[None, :] - 2.0 * Q @ A.T
        top = np.argsort(d, axis=1, kind="stable")[:, : self.k]
        return allid[top]


def make_index(
    root: str, seed: int, n_base: int, n_upsert: int, n_queries: int,
    n_files: int,
) -> IndexTruth:
    """Clustered vectors: a base store, one upsert batch of ``n_upsert``
    (``n_files`` files, one per arriving partition) and ``n_queries``
    held-out queries from the same distribution."""
    rng = np.random.default_rng([seed, 3])
    k = 64
    cents = rng.standard_normal((k, DIM)).astype(np.float32)

    def draw(n):
        lab = rng.integers(0, k, n)
        return (
            cents[lab] + 0.7 * rng.standard_normal((n, DIM)).astype(np.float32)
        ).astype(np.float32)

    base = draw(n_base)
    _write_parquet(
        _vec_table(np.arange(n_base), base, "vec_id"),
        os.path.join(root, "base"),
        n_files,
    )
    ids = np.arange(n_upsert, dtype=np.int64) + n_base
    U = draw(n_upsert)
    _write_parquet(
        _vec_table(ids, U, "vec_id"), os.path.join(root, "upsert"), n_files
    )
    Q = draw(n_queries)
    _write_parquet(
        _vec_table(np.arange(n_queries), Q, "query_id"),
        os.path.join(root, "queries"),
        1,
    )
    return IndexTruth(base=base, upsert_ids=ids, upsert=U, queries=Q)
