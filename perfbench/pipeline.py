"""The timed phases of one benchmark cycle, their output checks, and
the traced per-layer measurements.

Every phase is a call into the library's public functions, timed from
outside and tagged with a Spark job group named after the phase, so a
traced run's event log can be folded back onto it (``eventlog.py``).
"""

from __future__ import annotations

import collections
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embedding_to_vectordatabase_spark.operators.chunking import chunk_recursive
from embedding_to_vectordatabase_spark.operators.dedup import (
    build_minhash_index,
    dedup_against_index,
    minhash_lsh_pairs,
    minhash_signatures,
    semdedup,
)
from embedding_to_vectordatabase_spark.operators.embedding import embed_text
from embedding_to_vectordatabase_spark.operators.joins import registry_lookup
from embedding_to_vectordatabase_spark.operators.metrics import compact_index
from embedding_to_vectordatabase_spark.operators.search import (
    ann_topk_ivfsq8,
    build_ivfsq8_index,
    upsert_ivfsq8_index,
)
from embedding_to_vectordatabase_spark.plans.clean import clean_corpus
from embedding_to_vectordatabase_spark.plans.curate import curate_corpus
from embedding_to_vectordatabase_spark.plans.ingest import IngestConfig, ingest
from embedding_to_vectordatabase_spark.sinks.parquet_sink import (
    write_rotating_parquet,
)
from embedding_to_vectordatabase_spark.sources.corpus import with_file_name
from embedding_to_vectordatabase_spark.store import rel_path
from embedding_to_vectordatabase_spark.functions.text import reformat_doc
from embedding_to_vectordatabase_spark.streaming.ingest_stream import (
    stream_ingest_jsonl,
)

from . import fixtures as fx

INGEST_CFG = IngestConfig(chunk_size=1024, overlap=100, dense_dim=fx.DIM)
GATE_THRESHOLD = 0.8
CURATE_KW = dict(
    allowed_langs=["en"],
    min_quality=0.5,
    n=3,
    jaccard_threshold=0.5,
    method="minhash",
    num_perm=64,
    bands=16,
    hash_fn="xxhash64",
)
# 20,000 vectors in 8 learned clusters: the largest clusters hold
# several 2,048-row strips, so semdedup's multi-strip path runs
STRIP_ROWS = 2048
HOT_CLUSTERS = 2  # learned clusters checked to exceed one strip
SEMDEDUP_KW = dict(n_clusters=8, eps=0.01, seed=42, strip_rows=STRIP_ROWS)
NLIST = 16
NPROBE = 3
TOP_K = 10
REFINE_K = 40

# Fixture sizes. One cycle of a workload takes a few seconds on 4 cores,
# so a run's median is over several cycles (see README.md).
INGEST_DOCS = 160
INGEST_CHARS = (200, 8000)
STREAM_DOCS = 120
CURATE_DOCS = 600
SEMDEDUP_VECS = 20000
INDEX_VECS = 4000
UPSERT_VECS = 400
QUERIES = 64


@dataclass
class Bench:
    spark: SparkSession
    scratch: str
    seed: int
    cores: int
    samples: dict = field(default_factory=dict)  # metric -> [values]
    layer: dict = field(default_factory=dict)  # per-layer metric -> value
    checks: dict = field(default_factory=dict)  # check name -> bool
    attempted: int = 0
    failed: int = 0
    group_prefix: str = ""  # job-group prefix (the warm-up tags its own)
    stream_ids: list = field(default_factory=list)  # measured query ids
    # (group, wall seconds) per call
    ledger: list = field(default_factory=list)
    # stores built in set-up, before the warm-up
    gate: str | None = None  # the stream's near-dup gate
    index_built: str | None = None  # the IVF-SQ8 index
    last: dict = field(default_factory=dict)  # phase -> its latest outputs
    curate_hashes: list = field(default_factory=list)  # survivor digests

    # ------------------------------------------------------------ plumbing

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def timed(self, group: str, fn, *args, **kw):
        """Run one public call under job group ``group``; returns
        (result, seconds). A raising call ends the run."""
        sc = self.spark.sparkContext
        group = self.group_prefix + group
        sc.setJobGroup(group, group, False)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kw)
        finally:
            sc.setJobGroup("bench", "bench", False)
        dt = time.perf_counter() - t0
        self.ledger.append((group, dt))
        return out, dt

    def sample(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def check(self, name: str, ok: bool) -> None:
        ok = bool(ok)
        self.checks[name] = self.checks.get(name, True) and ok
        self.attempted += 1
        if not ok:
            self.failed += 1

    def noop(self, group: str, df: DataFrame) -> float:
        """Materialise ``df`` to the ``noop`` sink; returns seconds."""
        _, dt = self.timed(
            group, lambda: df.write.format("noop").mode("overwrite").save()
        )
        return dt


def _files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for dirpath, _, files in os.walk(path):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(suffix)]
    return out


def _code_files(spark, index_path: str) -> list[str]:
    """Parquet files of the current version of an index store's codes."""
    return _files(rel_path(spark, index_path, "codes"))


def _hash_agg(df: DataFrame, cols: list[str]) -> tuple:
    """Order-insensitive content digest of ``df`` over ``cols``."""
    h = F.xxhash64(*cols)
    r = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1_000_003))).alias("s"),
    ).first()
    return (r["n"], r["x"], r["s"])


# ================================================================= setup


class Fixtures:
    """Every input of the given phases for one seed, generated with
    numpy and pyarrow (no Spark job), with its ground truth."""

    def __init__(self, b: Bench, phases):
        root, seed = b.path("fixtures"), b.seed
        self.root = root
        if "ingest" in phases:
            self.ingest = fx.make_ingest(
                self.p("ingest"), seed, INGEST_DOCS, STREAM_DOCS, b.cores,
                *INGEST_CHARS,
            )
        if "curate" in phases:
            self.curate = fx.make_curate(
                self.p("curate"), seed, CURATE_DOCS, b.cores
            )
        if "semdedup" in phases:
            self.sem = fx.make_semdedup(
                self.p("semdedup"), seed, SEMDEDUP_VECS, b.cores
            )
        if "index" in phases:
            self.index = fx.make_index(
                self.p("index"), seed, INDEX_VECS, UPSERT_VECS, QUERIES,
                b.cores,
            )
            self.exact = self.index.exact_topk()
        self.digest = fx.fixture_digest(root)

    def p(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


# ================================================================ ingest


def _bulk_ingest(spark, f: Fixtures, out: str):
    docs = spark.read.parquet(f.p("ingest", "docs"))
    reg = spark.read.parquet(f.p("ingest", "registry"))
    chunks, unmatched = ingest(docs, reg, config=INGEST_CFG)
    write_rotating_parquet(chunks, out, mode="overwrite")
    return unmatched


def phase_ingest(b: Bench, f: Fixtures) -> None:
    out = b.path("out", "ingest")
    unmatched, dt = b.timed("ingest", _bulk_ingest, b.spark, f, out)
    b.sample("ingest_docs_per_s", f.ingest.n_docs / dt)
    b.last["ingest"] = (out, unmatched, dt)


def check_ingest(b: Bench, f: Fixtures) -> None:
    out, unmatched, _ = b.last["ingest"]
    got = {int(r[0]) for r in unmatched.select("doc_id").collect()}
    b.check("ingest.unmatched_equals_planted", got == f.ingest.unmatched_ids)
    chunks = b.spark.read.parquet(out)
    norm = F.sqrt(
        F.aggregate("dense_embedding", F.lit(0.0), lambda a, x: a + x * x)
    )
    r = chunks.agg(
        F.min(F.size("dense_embedding")).alias("dmin"),
        F.max(F.size("dense_embedding")).alias("dmax"),
        F.min(norm).alias("nmin"),
        F.max(norm).alias("nmax"),
        F.countDistinct("file_id").alias("docs"),
        F.count("*").alias("chunks"),
    ).first()
    b.check(
        "ingest.vectors_1024d_unit_norm",
        r["dmin"] == fx.DIM == r["dmax"]
        and abs(r["nmin"] - 1) < 1e-3 and abs(r["nmax"] - 1) < 1e-3,
    )
    matched = f.ingest.n_docs - len(f.ingest.unmatched_ids)
    b.check("ingest.every_matched_doc_written", r["docs"] == matched)
    b.layer["ingest.unmatched_rows"] = len(got)
    b.layer["ingest.chunks_per_doc"] = r["chunks"] / max(r["docs"], 1)
    files = _files(out)
    b.layer["ingest.files_written"] = len(files)
    b.layer["ingest.bytes_per_chunk"] = (
        sum(os.path.getsize(p) for p in files) / max(r["chunks"], 1)
    )


def trace_ingest(b: Bench, f: Fixtures) -> None:
    """Prefix self-times of the ingest plan: scan+join, chunk, embed,
    write. Each prefix is rebuilt from the same public operators
    ``plans.ingest`` composes and materialised to the noop sink."""
    spark = b.spark
    docs = spark.read.parquet(f.p("ingest", "docs"))
    reg = spark.read.parquet(f.p("ingest", "registry"))
    named = with_file_name(docs.withColumn("row_no", F.col("doc_id")))
    matched, _ = registry_lookup(named, reg)
    text = matched.select(
        "file_id", "file_name", "source",
        reformat_doc(
            F.col("title"), F.col("pub_time"), F.col("source"), F.col("content")
        ).alias("text"),
    )
    chunked = chunk_recursive(
        text, "text", INGEST_CFG.chunk_size, INGEST_CFG.overlap
    ).withColumnRenamed("chunk", "content")
    embedded = embed_text(chunked, "content", "mock", fx.DIM, hybrid=True)
    p1 = b.noop("trace.ingest.scan_join", matched)
    p2 = b.noop("trace.ingest.chunk", chunked)
    p3 = b.noop("trace.ingest.embed", embedded)
    phase_ingest(b, f)  # the last prefix is the whole timed call
    p4 = b.last["ingest"][2]
    b.layer["ingest.scan_join_s"] = p1
    b.layer["ingest.chunk_s"] = p2 - p1
    b.layer["ingest.embed_s"] = p3 - p2
    b.layer["ingest.write_s"] = p4 - p3


# ================================================================ stream


def _stream_batch_fn(batch: DataFrame, registry: DataFrame) -> DataFrame:
    """Per micro-batch ingest plan: the doc id is the title's number,
    so registry file names match the bulk numbering."""
    docs = batch.withColumn(
        "doc_id", F.regexp_extract("title", r"(\d+)$", 1).cast("long")
    )
    return ingest(docs, registry, config=INGEST_CFG)[0]


def setup_stream(b: Bench, f: Fixtures) -> None:
    """Build the stream's near-dup gate store over the bulk corpus."""
    b.gate = b.path("gate_store")
    docs = b.spark.read.parquet(f.p("ingest", "docs")).select("title", "content")
    b.timed(
        "setup.gate_build", build_minhash_index, docs, b.gate,
        text_col="content", id_col="title",
    )


def _run_stream(spark, f: Fixtures, gate: str, out: str, ckpt: str):
    q = stream_ingest_jsonl(
        spark,
        f.p("ingest", "stream"),
        out,
        ckpt,
        spark.read.parquet(f.p("ingest", "registry")),
        batch_fn=_stream_batch_fn,
        max_files_per_trigger=1,
        neardup_index_path=gate,
        neardup_threshold=GATE_THRESHOLD,
        neardup_text_col="content",
        neardup_id_col="title",
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return q.id, q.recentProgress


def phase_stream(b: Bench, f: Fixtures) -> None:
    gate = b.path("gate_run")
    out, ckpt = b.path("out", "stream"), b.path("stream_ckpt")
    for p in (gate, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    # every run starts from the same gate store: the stream upserts
    # its survivors into it
    shutil.copytree(b.gate, gate)
    (qid, progress), dt = b.timed(
        "stream", _run_stream, b.spark, f, gate, out, ckpt
    )
    b.stream_ids.append(qid)
    b.sample("stream_docs_per_s", len(f.ingest.stream_ids) / dt)
    b.last["stream"] = (out, progress)


def check_stream(b: Bench, f: Fixtures) -> None:
    spark = b.spark
    out, progress = b.last["stream"]
    got = spark.read.parquet(out).drop("batch_id")
    kept = {
        f"Doc{int(r[0])}" for r in got.select("file_id").distinct().collect()
    }
    dropped = set(f.ingest.stream_ids) - kept
    b.check(
        "stream.gate_drops_every_planted_neardup",
        f.ingest.stream_planted <= dropped,
    )
    b.check("stream.gate_keeps_distinct_docs", dropped <= f.ingest.stream_planted)
    # the stream's output equals one bulk ingest of the gate survivors
    src = spark.read.schema(
        "title string, pub_time string, source string, content string"
    ).json(f.p("ingest", "stream"))
    bulk = _stream_batch_fn(src.filter(F.col("title").isin(*sorted(kept))),
                            spark.read.parquet(f.p("ingest", "registry")))
    cols = ["file_id", "block_id", "content", "dense_embedding"]
    b.check(
        "stream.output_equals_bulk_ingest_of_survivors",
        _hash_agg(got, cols) == _hash_agg(bulk, cols),
    )
    b.layer["stream.gate_dropped"] = len(dropped)
    durs = [
        p["durationMs"]["triggerExecution"] / 1e3
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    b.layer["stream.batches"] = len(durs)
    b.layer["stream.first_batch_s"] = durs[0] if durs else 0.0
    b.layer["stream.batch_p50_s"] = statistics.median(durs) if durs else 0.0


def trace_stream(b: Bench, f: Fixtures) -> None:
    """The timed stream phase, then one gate call on the stream's one
    micro-batch (the probe + anti-join the stream runs per batch)
    against a fresh copy of the gate store."""
    phase_stream(b, f)
    gate = b.path("gate_probe")
    shutil.rmtree(gate, ignore_errors=True)
    shutil.copytree(b.gate, gate)
    batch = b.spark.read.schema(
        "title string, pub_time string, source string, content string"
    ).json(f.p("ingest", "stream"))
    survivors = dedup_against_index(
        b.spark, gate, batch, threshold=GATE_THRESHOLD,
        text_col="content", id_col="title", intra_batch=True,
        exclude_self=True,
    )
    b.layer["stream.gate_s"] = b.noop("trace.stream.gate", survivors)


# ================================================================ curate


def _curate(spark, f: Fixtures, out: str) -> None:
    docs = spark.read.parquet(f.p("curate", "docs"))
    curate_corpus(docs, **CURATE_KW).write.mode("overwrite").parquet(out)


def phase_curate(b: Bench, f: Fixtures) -> None:
    out = b.path("out", "curate")
    _, dt = b.timed("curate", _curate, b.spark, f, out)
    b.sample("curate_docs_per_s", f.curate.n_docs / dt)
    ids = b.spark.read.parquet(out).select("doc_id")
    h = _hash_agg(ids, ["doc_id"])
    b.curate_hashes.append(h)
    b.last["curate"] = (out, dt)


def check_curate(b: Bench, f: Fixtures) -> None:
    t = f.curate
    out, _ = b.last["curate"]
    kept = {int(r[0]) for r in b.spark.read.parquet(out).select("doc_id").collect()}
    removed = set(range(t.n_docs)) - kept
    b.check(
        "curate.survivor_hash_stable", len(set(b.curate_hashes)) == 1
    )
    b.check("curate.every_exact_dup_removed", t.exact_dups <= removed)
    b.check("curate.every_low_quality_row_removed", t.low_quality <= removed)
    planted = t.exact_dups | t.near_dups | t.boilerplate | t.low_quality
    near = t.near_dups | t.boilerplate
    recall = len(near & removed) / max(len(near), 1)
    false_rm = len(removed - planted) / max(t.n_docs - len(planted), 1)
    b.layer["curate.neardup_recall"] = recall
    b.layer["curate.false_removal_rate"] = false_rm
    # sanity floors on the near-dup chain; the exact rates are reported
    b.check("curate.neardup_recall_at_least_0.95", recall >= 0.95)
    b.check("curate.false_removal_below_0.01", false_rm < 0.01)


def trace_curate(b: Bench, f: Fixtures) -> None:
    """Prefix self-times of the minhash chain: clean, signatures,
    LSH pairs, anti-join + write; plus the emitted pairs' precision."""
    spark = b.spark
    kw = CURATE_KW
    docs = spark.read.parquet(f.p("curate", "docs"))
    clean = clean_corpus(docs, kw["allowed_langs"], kw["min_quality"])
    sigs = minhash_signatures(
        clean, n=kw["n"], num_perm=kw["num_perm"], hash_fn=kw["hash_fn"]
    )
    pairs = minhash_lsh_pairs(
        clean, n=kw["n"], num_perm=kw["num_perm"], bands=kw["bands"],
        threshold=kw["jaccard_threshold"], hash_fn=kw["hash_fn"],
    )
    p1 = b.noop("trace.curate.clean", clean)
    p2 = b.noop("trace.curate.signatures", sigs)
    p3 = b.noop("trace.curate.pairs", pairs)
    phase_curate(b, f)  # the last prefix is the whole timed call
    p4 = b.last["curate"][1]
    b.layer["curate.clean_s"] = p1
    b.layer["curate.signatures_s"] = p2 - p1
    b.layer["curate.pairs_s"] = p3 - p2
    b.layer["curate.antijoin_s"] = p4 - p3
    b.layer["curate.clean_rows_out"] = clean.count()
    got = pairs.select("doc_a", "doc_b").collect()
    b.layer["curate.pairs_out"] = len(got)
    t = f.curate
    tbl = pq.read_table(f.p("curate", "docs")).to_pydict()
    texts = dict(zip(tbl["doc_id"], tbl["text"]))
    good = sum(
        (min(a, c), max(a, c)) in t.pairs
        or {a, c} <= t.boiler_group
        or _jaccard3(texts[a], texts[c]) >= kw["jaccard_threshold"]
        for a, c in got
    )
    b.layer["curate.pair_precision"] = good / max(len(got), 1)


def _jaccard3(a: str, b: str) -> float:
    """Word-3-gram Jaccard over the same normal form the chain hashes
    (lowercase, whitespace-split)."""

    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}

    x, y = sh(a), sh(b)
    return len(x & y) / max(len(x | y), 1)


# ============================================================== semdedup


def _semdedup(spark, f: Fixtures, out: str) -> None:
    vecs = spark.read.parquet(f.p("semdedup", "vecs"))
    semdedup(vecs, **SEMDEDUP_KW).select("vec_id", "cluster").write.mode(
        "overwrite"
    ).parquet(out)


def phase_semdedup(b: Bench, f: Fixtures) -> None:
    out = b.path("out", "semdedup")
    _, dt = b.timed("semdedup", _semdedup, b.spark, f, out)
    b.sample("semdedup_vecs_per_s", f.sem.n_vecs / dt)
    b.last["semdedup"] = out


def check_semdedup(b: Bench, f: Fixtures) -> None:
    t = f.sem
    rows = b.spark.read.parquet(b.last["semdedup"]).collect()
    kept = {int(r["vec_id"]) for r in rows}
    # the largest learned clusters must span several strips, so the
    # multi-strip dominance test runs
    sizes = collections.Counter(r["cluster"] for r in rows).most_common()
    b.layer["semdedup.largest_cluster_rows"] = sizes[0][1]
    b.check(
        "semdedup.hot_clusters_exceed_strip",
        all(n > STRIP_ROWS for _, n in sizes[:HOT_CLUSTERS]),
    )
    dropped = set(range(t.n_vecs)) - kept
    hit = sum(1 for a, c in t.sem_pairs if a in dropped or c in dropped)
    recall = hit / max(len(t.sem_pairs), 1)
    pair_ids = {i for p in t.sem_pairs for i in p}
    false_drop = len(dropped - pair_ids) / t.n_vecs
    b.layer["semdedup.dropped"] = len(dropped)
    b.layer["semdedup.planted_recall"] = recall
    b.check("semdedup.planted_recall_at_least_0.95", recall >= 0.95)
    b.check("semdedup.false_drops_below_0.01", false_drop < 0.01)


# ================================================================= index


def _search(spark, idx: str, queries: DataFrame,
            live: DataFrame | None) -> dict:
    rows = ann_topk_ivfsq8(
        spark, idx, queries, k=TOP_K, nprobe=NPROBE, refine=live,
        refine_k=REFINE_K if live is not None else None,
    ).collect()
    out: dict = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["vec_id"]))
        )
    return {q: [v for _, v in sorted(lst)] for q, lst in out.items()}


def _recall(got: dict, exact: np.ndarray) -> float:
    hits = 0
    for q in range(len(exact)):
        hits += len(set(got.get(q, [])) & set(exact[q].tolist()))
    return hits / exact.size


def _build(b: Bench, f: Fixtures, group: str, path: str) -> float:
    _, dt = b.timed(group, build_ivfsq8_index,
                    b.spark.read.parquet(f.p("index", "base")), path,
                    nlist=NLIST)
    return dt


def setup_index(b: Bench, f: Fixtures) -> None:
    """Build the index over the base vectors once, before the warm-up;
    every cycle starts from a copy of it."""
    b.index_built = b.path("index_built")
    _build(b, f, "setup.index_build", b.index_built)


def phase_index(b: Bench, f: Fixtures) -> None:
    """One round on a fresh copy of the built store: upsert, then
    search the store the upsert just wrote to."""
    spark = b.spark
    idx = b.path("index_store")
    shutil.rmtree(idx, ignore_errors=True)
    shutil.copytree(b.index_built, idx)
    base, upsert = f.p("index", "base"), f.p("index", "upsert")
    queries = spark.read.parquet(f.p("index", "queries")).cache()
    queries.count()
    before = len(_code_files(spark, idx))
    _, dt = b.timed("index.upsert", upsert_ivfsq8_index, idx,
                    spark.read.parquet(upsert))
    b.sample("upsert_vecs_per_s", UPSERT_VECS / dt)
    b.layer["index.upsert_files_added"] = len(_code_files(spark, idx)) - before
    live = spark.read.parquet(base, upsert)
    got, dt = b.timed("index.search", _search, spark, idx, queries, live)
    b.sample("search_qps", QUERIES / dt)
    recall = _recall(got, f.exact)
    b.sample("recall_at_10", recall)
    b.check("index.recall_at_10_at_least_0.9", recall >= 0.9)
    b.last["index"] = (idx, queries, live, got, dt)


def trace_index(b: Bench, f: Fixtures) -> None:
    """A warm build, the timed index phase, then compaction and the
    same search on the compacted store, then the search-cost split:
    1-query calls, a call without refine, the same call with refine."""
    spark = b.spark
    built = b.path("index_rebuilt")
    b.sample("index_build_s", _build(b, f, "index.build", built))
    b.layer["index.build_files"] = len(_code_files(spark, built))
    phase_index(b, f)
    idx, queries, live, got, fragmented_s = b.last["index"]
    b.layer["index.code_files_before_compact"] = len(_code_files(spark, idx))
    _, dt = b.timed("index.compact", compact_index, spark, idx)
    b.sample("compact_s", dt)
    b.layer["index.code_files_after_compact"] = len(_code_files(spark, idx))
    got_c, compacted_s = b.timed("index.search", _search, spark, idx,
                                 queries, live)
    b.check("index.topk_identical_after_compact", got == got_c)
    one = queries.limit(1).cache()
    one.count()
    floors = [
        b.timed("trace.index.search_floor", _search, spark, idx, one, live)[1]
        for _ in range(3)
    ]
    _, score = b.timed("trace.index.search_score", _search, spark, idx,
                       queries, None)
    _, full = b.timed("trace.index.search_refine", _search, spark, idx,
                      queries, live)
    b.layer["index.search_floor_s"] = statistics.median(floors)
    b.layer["index.search_score_s"] = score
    b.layer["index.search_refine_s"] = full - score
    b.layer["index.search_s_fragmented"] = fragmented_s
    b.layer["index.search_s_compacted"] = compacted_s
    b.layer["index.code_bytes_per_vec"] = (
        sum(os.path.getsize(p) for p in _code_files(spark, idx))
        / (INDEX_VECS + UPSERT_VECS)
    )
