"""Vector search operators (reference J4/W3/O4, V4-V7, K9).

The reference's dense index is FLAT/IP — an exact scan
(vector_database/milvus_connector.py:65-69) — so exact brute-force
top-k IS reference parity, not a fallback. The sparse index is
SPARSE_INVERTED_INDEX/IP (:71-74), which is exactly the
posexplode'd (token, weight, id) relational form below.

Scale notes (100 TB):
- ``dense_topk``: queries broadcast to every task as a numpy matrix;
  each Arrow batch scores via one BLAS matmul and emits only its LOCAL
  top-k per query, so the shuffle into the global per-query Window is
  <= batches × Q × k rows — the corpus itself never shuffles. (The
  naive crossJoin+Window form, kept as ``dense_topk_crossjoin`` for
  the oracle/explain tests, shuffles the full rows × Q score stream.)
- ``ann_topk_bucketed``: seeded random-hyperplane LSH buckets turn the
  crossJoin into an equi-join on bucket; the query side multi-probes
  its hamming-1 neighbor buckets to recover near-boundary recall —
  the IVF-style scale path.
- ``sparse_topk_inverted``: inverted index as a relational join;
  shuffle is on token (bounded vocab), partial aggregation map-side.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..store import current_rel as _crel
from ..store import pin_index_path as _pin
from ..functions.vector import (
    dense_cosine,
    dense_ip,
    dense_l2,
    random_hyperplanes,
    rerank_fusion,
)

DEFAULT_TOP_K = 5  # reference search default (milvus_connector.py:175)

_METRICS = {
    "IP": (dense_ip, F.desc),
    "COSINE": (dense_cosine, F.desc),
    "L2": (dense_l2, F.asc),
}


def _score_col(metric: str, a, b):
    try:
        fn, order = _METRICS[metric.upper()]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; use IP|COSINE|L2")
    return fn(a, b), order


def _pa_matrix(arr, dtype=np.float64) -> np.ndarray:
    """(n, dim) numpy matrix straight from an Arrow list-of-number
    array's flat values buffer — no per-row Python objects.

    The pandas route (`np.array(series.tolist())`) materializes
    n × dim Python floats: measured 28 s for a 100k × 1024 corpus pass
    where this reshape takes ~4 s (the residual is Arrow IPC to the
    Python worker). At the reference's dim=1024 contract width
    (embed_to_milvus.py:252) that difference is the whole vector-scan
    budget. Dense vector columns are fixed-width by contract; ragged
    rows or NULLs raise rather than silently degrade.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("vector column contains NULLs")

    def _no_element_nulls(start: int, length: int) -> None:
        # top-level null_count misses nulls INSIDE vectors
        # ([1.0, null]): those live on the child values array and
        # would silently become NaN scores that distort top-k
        # ordering. Checked on the slice this array actually covers.
        if arr.values.slice(start, length).null_count:
            raise ValueError("vector column contains NULL elements")

    t = arr.type
    if pa.types.is_fixed_size_list(t):
        # .values is the UNsliced child: apply this array's offset
        w = t.list_size
        start = arr.offset * w
        _no_element_nulls(start, len(arr) * w)
        vals = arr.values.to_numpy(zero_copy_only=False)
        return (
            vals[start:start + len(arr) * w]
            .reshape(len(arr), w)
            .astype(dtype, copy=False)
        )
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        offs = arr.offsets.to_numpy()
        if len(offs) < 2:
            return np.empty((0, 0), dtype=dtype)
        widths = np.diff(offs)
        dim = widths[0]
        if not (widths == dim).all():
            raise ValueError("ragged vector column (rows differ in length)")
        _no_element_nulls(int(offs[0]), int(offs[-1] - offs[0]))
        vals = arr.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]]
        return vals.reshape(len(arr), int(dim)).astype(dtype, copy=False)
    raise TypeError(f"not a list-of-number arrow array: {t}")


def _score_block(
    X: np.ndarray, qmat: np.ndarray, metric: str, q2: np.ndarray | None = None
) -> np.ndarray:
    """(batch, dim) × (Q, dim) -> (batch, Q) scores, one BLAS matmul.

    Peak extra memory is O(batch × Q) doubles for every metric — the
    L2 branch uses ||x||² + ||q||² − 2x·q rather than materializing
    the (batch × Q × dim) difference tensor (which at a 10k-row Arrow
    batch × Q=1000 × dim=1024 would be ~80 GB per task). Cancellation
    can dip microscopically below zero for near-identical vectors;
    clamped before the sqrt. COSINE assumes qmat was pre-normalized.
    """
    if metric == "IP":
        return X @ qmat.T
    if metric == "COSINE":
        xn = np.linalg.norm(X, axis=1, keepdims=True)
        xn[xn == 0] = 1.0
        return (X / xn) @ qmat.T
    x2 = (X**2).sum(axis=1, keepdims=True)
    if q2 is None:
        q2 = (qmat**2).sum(axis=1)
    return np.sqrt(np.maximum(x2 + q2[None, :] - 2.0 * (X @ qmat.T), 0.0))


def _topk_indices(
    key: "np.ndarray", ids_np: "np.ndarray", kk: int
) -> "np.ndarray":
    """Indices of the kk smallest (key, id) pairs, exact under the
    total order. O(n) argpartition to ~kk candidates, then sort only
    those — a full lexsort is O(n log n) per query and dominated
    profile time at 500k rows (r7). Exactness is kept by re-admitting
    ALL boundary-key ties before the final sort (and falling back to
    the full index set if the boundary is NaN-degenerate). kk >= 1
    guard: argpartition(key, -1) on kk=0 would crash on the empty
    boundary slice; kk=0 returns empty."""
    n = len(key)
    if kk < 1:
        return np.empty(0, dtype=np.int64)
    if kk >= 1 and n > 4 * kk:
        part = np.argpartition(key, kk - 1)[:kk]
        cand = np.flatnonzero(key <= key[part].max())
        if cand.size < kk:
            cand = np.arange(n)
    else:
        cand = np.arange(n)
    return cand[np.lexsort((ids_np[cand], key[cand]))][:kk]


def _query_matrix(
    queries: DataFrame, query_id: str, query_vec: str
) -> tuple[list, np.ndarray]:
    """Collect the (small, broadcast-by-contract) query set to the
    driver as a float64 matrix — the reference's search() call shape
    (Q query vectors per request, milvus_connector.py:167-178)."""
    rows = queries.select(query_id, query_vec).collect()
    if not rows:
        raise ValueError("queries DataFrame is empty")
    qids = [r[0] for r in rows]
    qmat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return qids, qmat


# DDL of the tiny store relations, shared by their writers and
# ``_load_small`` (a load reads with it instead of inferring it)
_CENTROIDS_DDL = "list_id int, centroid array<double>"
_PQ_BOOKS_DDL = "sub int, code int, centroid array<double>"
_IVF_META_DDL = "metric string"
_OPQ_ROTATION_DDL = "row_idx int, row array<double>"
_SQ8_PARAMS_DDL = "dim_idx int, vmin double, vdiff double"


def _load_small(
    spark, index_path: str, rel: str, schema: str, key: str | None = None
) -> pa.Table:
    """A tiny store relation (quantizer, params, meta) as an Arrow
    table in ``key`` order, for ONE Spark job: the relation's known
    DDL schema skips the schema-inference job, and the sort runs in
    numpy on the driver instead of a range-partitioned ``orderBy``
    (sample + sort jobs). Every persisted-index search and upsert
    loads 2–3 of these, so their job count is the per-call floor.
    An existing but empty relation raises: an empty quantizer would
    otherwise surface as a shape error deep in the scoring path."""
    tbl = spark.read.schema(schema).parquet(_crel(index_path, rel)).toArrow()
    if tbl.num_rows == 0:
        raise ValueError(f"empty {rel} relation under {index_path}")
    if key is not None:
        tbl = tbl.take(np.argsort(tbl.column(key).to_numpy(), kind="stable"))
    return tbl


def _append_codes(
    df: DataFrame, index_path: str, nlist: int | None = None,
    rel: str = "codes",
) -> int:
    """Append encoded rows to a store relation and return how many
    were written. The count is a ``DataFrame.observe`` metric of the
    write itself: the batch lineage runs once (the documented ingest
    shape derives batches from expensive pipelines), and the store is
    neither re-read nor re-listed to diff row counts. ``nlist`` marks
    an IVF store partitioned by ``list_id``: rows repartition on the
    key first — the build path's small-files fix — so an append adds
    at most ``nlist`` files instead of tasks × touched lists."""
    from pyspark.sql import Observation

    obs = Observation()
    if nlist is not None:
        df = df.repartition(nlist, "list_id")
    w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append")
    if nlist is not None:
        w = w.partitionBy("list_id")
    w.parquet(_crel(index_path, rel))
    return int(obs.get["n"])


def dense_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    k: int = DEFAULT_TOP_K,
    metric: str = "IP",
) -> DataFrame:
    """Exact top-k per query, pre-pruned: each Arrow batch scores all
    queries with one BLAS matmul and emits only its local top-k per
    query (ties broken by corpus id), then one tiny global Window
    finishes. Shuffle volume <= batches × Q × k rows.

    Output: (query_id, <corpus_id>, score double, rank int).
    """
    metric = metric.upper()
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; use IP|COSINE|L2")
    qids, qmat = _query_matrix(queries, query_id, query_vec)
    if metric == "COSINE":
        qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
        qnorm[qnorm == 0] = 1.0
        qmat = qmat / qnorm
    # Ship the query matrix as a broadcast variable instead of a task
    # closure: one torrent distribution per job rather than re-serialized
    # closures per stage, and no driver round-trip on retries.
    bc_queries = corpus.sparkSession.sparkContext.broadcast((qids, qmat))

    qid_field = queries.schema[query_id].dataType
    cid_field = corpus.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_field, False),
            T.StructField(corpus_id, cid_field, False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    descending = metric != "L2"

    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa = to_arrow_type(qid_field)

    # mapInArrow, not mapInPandas: each batch arrives as a
    # RecordBatch whose vector column reshapes to the BLAS matrix via
    # _pa_matrix — no n × dim Python floats on the hot path
    def local_topk(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        qids, qmat = bc_queries.value
        q2 = (qmat**2).sum(axis=1)  # reused across batches
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _pa_matrix(rb.column(rb.schema.get_field_index(corpus_vec)))
            ids = rb.column(rb.schema.get_field_index(corpus_id))
            ids_np = ids.to_numpy(zero_copy_only=False)
            S = _score_block(X, qmat, metric, q2)
            kk = min(k, rb.num_rows)
            qcol: list = []
            icol: list = []
            scol: list = []
            for qi in range(len(qids)):
                s = S[:, qi]
                idx = _topk_indices(
                    -s if descending else s, ids_np, kk
                )
                qcol.extend([qids[qi]] * kk)
                icol.append(ids.take(pa.array(idx)))
                scol.append(s[idx])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qcol, type=qid_pa),
                    pa.concat_arrays(icol),
                    pa.array(np.concatenate(scol), type=pa.float64()),
                ],
                names=["query_id", corpus_id, "score"],
            )

    local = corpus.select(corpus_id, corpus_vec).mapInArrow(
        local_topk, out_schema
    )
    order = F.desc if descending else F.asc
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    return local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def dense_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    k: int = DEFAULT_TOP_K,
    metric: str = "IP",
    rerank_candidates: int | None = None,
    quant_col: str | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """Exact-quality top-k over an int8-quantized corpus scan: the
    4x-smaller codes column drives an approximate scoring pass that
    keeps ``rerank_candidates`` (default 4k, min k+10) per query, and
    the float column is touched only for that candidate set, which is
    re-scored EXACTLY and re-ranked.

    The 100 TB shape: stage 1 scans codes+scale (one quarter of the
    float bytes — the scan-dominated regime's win, see
    functions/vector.quantize_int8); stage 2 broadcast-semi-joins the
    Q x c candidate ids back onto the corpus, so the float column is
    read for a vanishing fraction of rows. Pass ``quant_col`` (a
    struct<codes:array<tinyint>,scale:double> column built once at
    write time) to skip inline quantization; omitted, codes are
    derived on the fly — correct, but then the scan still reads
    floats, so materialize the codes for the byte savings.

    Approximation error only affects which candidates enter the
    re-rank; with symmetric int8 (<0.5% cosine error) and c >= 4k,
    recall@k vs exact is ~1.0 (asserted in tests). Output matches
    ``dense_topk``'s schema: (query_id, <corpus_id>, score, rank).

    ``symmetric=True`` (IP only) additionally quantizes the QUERY
    vectors, making the stage-1 candidate score
    ``(int_dot * corpus_scale) * query_scale`` where ``int_dot`` is
    an integer dot of int8 codes — every partial sum is an integer
    < 2^53, so float accumulation is EXACT regardless of summation
    order and the candidate set is bit-reproducible across engines
    (the asymmetric default's float-BLAS reassociation is not). This
    is what lets the operator carry a full DuckDB value oracle
    (VERDICT r6 item 9); accuracy impact is one more <0.5%-error
    quantization on the side whose error the re-rank cancels anyway.
    """
    from ..functions.vector import quantize_int8

    metric = metric.upper()
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; use IP|COSINE|L2")
    c_keep = rerank_candidates if rerank_candidates is not None else max(
        4 * k, k + 10
    )
    if c_keep < k:
        raise ValueError("rerank_candidates must be >= k")
    if symmetric and metric != "IP":
        raise ValueError(
            "symmetric quantized scoring is defined for metric='IP' "
            "(cosine normalization / L2 expansion happen in float)"
        )
    qids, qmat = _query_matrix(queries, query_id, query_vec)
    if metric == "COSINE":
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        qn[qn == 0] = 1.0
        qmat = qmat / qn
    qquant = None
    if symmetric:
        # numpy mirror of functions/vector.quantize_int8 (same
        # clamp(floor(x/scale + 0.5)) semantics, same 0-scale rule)
        mq = np.abs(qmat).max(axis=1)
        qscale = mq / 127.0
        safe = np.where(qscale == 0, 1.0, qscale)
        qcodes = np.clip(
            np.floor(qmat / safe[:, None] + 0.5), -127.0, 127.0
        )
        qcodes[qscale == 0] = 0.0
        qquant = (qcodes, qscale)
    bc_queries = corpus.sparkSession.sparkContext.broadcast(
        (qids, qmat, qquant)
    )

    if quant_col is None:
        cq = corpus.select(
            corpus_id, quantize_int8(F.col(corpus_vec)).alias("__q")
        )
    else:
        cq = corpus.select(corpus_id, F.col(quant_col).alias("__q"))
    flat = cq.select(
        corpus_id,
        F.col("__q.codes").alias("__codes"),
        F.col("__q.scale").alias("__scale"),
    )

    qid_field = queries.schema[query_id].dataType
    cid_field = corpus.schema[corpus_id].dataType
    cand_schema = T.StructType(
        [
            T.StructField("query_id", qid_field, False),
            T.StructField(corpus_id, cid_field, False),
            T.StructField("ascore", T.DoubleType(), False),
        ]
    )
    descending = metric != "L2"

    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa = to_arrow_type(qid_field)

    def local_topc(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        qids, qmat, qquant = bc_queries.value
        q2 = (qmat**2).sum(axis=1)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _pa_matrix(
                rb.column(rb.schema.get_field_index("__codes"))
            )
            scale = rb.column(
                rb.schema.get_field_index("__scale")
            ).to_numpy(zero_copy_only=False)
            ids = rb.column(rb.schema.get_field_index(corpus_id))
            ids_np = ids.to_numpy(zero_copy_only=False)
            if symmetric:
                # int8 x int8 dot in float64: every product and
                # partial sum is an integer < 2^53, so the float
                # accumulation is exact and order-independent —
                # bit-identical to the SQL oracle's sequential sum
                qcodes, qscale = qquant
                S_int = C.astype(np.float64) @ qcodes.T
                S = (S_int * scale[:, None]) * qscale[None, :]
            elif metric == "IP":
                # stage-1 scores only CHOOSE candidates (the re-rank
                # re-scores exactly in float64), so the asymmetric
                # matmul runs in float32 — half the memory traffic of
                # the r7 float64 path, measured 1.6x on the 500k
                # stage-1 job. x = scale*codes — factor the scale out
                S = (
                    C.astype(np.float32) @ qmat.astype(np.float32).T
                ) * scale[:, None].astype(np.float32)
            elif metric == "COSINE":
                # scale cancels in x/||x||: cosine is scale-free
                C32 = C.astype(np.float32)
                cn = np.linalg.norm(C32, axis=1, keepdims=True)
                cn[cn == 0] = 1.0
                S = (C32 / cn) @ qmat.astype(np.float32).T
            else:
                S = _score_block(
                    C.astype(np.float32)
                    * scale[:, None].astype(np.float32),
                    qmat.astype(np.float32),
                    "L2",
                    q2.astype(np.float32),
                )
            kk = min(c_keep, rb.num_rows)
            qcol: list = []
            icol: list = []
            scol: list = []
            for qi in range(len(qids)):
                s = S[:, qi].astype(np.float64)
                idx = _topk_indices(
                    -s if descending else s, ids_np, kk
                )
                qcol.extend([qids[qi]] * kk)
                icol.append(ids.take(pa.array(idx)))
                scol.append(s[idx])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qcol, type=qid_pa),
                    pa.concat_arrays(icol),
                    pa.array(np.concatenate(scol), type=pa.float64()),
                ],
                names=["query_id", corpus_id, "ascore"],
            )

    order = F.desc if descending else F.asc
    wc = Window.partitionBy("query_id").orderBy(
        order("ascore"), F.asc(corpus_id)
    )
    cand = (
        flat.mapInArrow(local_topc, cand_schema)
        .withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= c_keep)
        .select("query_id", corpus_id)
    )
    # stage 2: exact re-rank — attach the query vector to each
    # candidate (both tiny), broadcast, and fetch floats by equi-join
    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
    )
    cand_q = F.broadcast(cand.join(qv, "query_id"))
    score, _ = _score_col(metric, F.col("__qvec"), F.col(corpus_vec))
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    return (
        corpus.select(corpus_id, corpus_vec)
        .join(cand_q, corpus_id)
        .select("query_id", corpus_id, score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def dense_topk_crossjoin(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    k: int = DEFAULT_TOP_K,
    metric: str = "IP",
) -> DataFrame:
    """Pure-SQL exact top-k (broadcast crossJoin + native score expr +
    Window). Same answers as ``dense_topk``; shuffles the full
    rows × Q score stream, so it's the oracle/plan-readability form,
    not the scale path."""
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qvec"),
        )
    )
    score, order = _score_col(metric, F.col("__qvec"), F.col(corpus_vec))
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    return (
        corpus.crossJoin(q)
        .select(
            "query_id",
            corpus_id,
            score.alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _empty_topk(corpus, queries, corpus_id: str, query_id: str):
    """Empty (query_id, <corpus_id>, score, rank) frame with the
    standard top-k schema — the no-queries fast path."""
    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id].dataType),
            T.StructField(corpus_id, corpus.schema[corpus_id].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return corpus.sparkSession.createDataFrame([], schema)


def _lsh_planes(bits: int, dim: int, seed: int) -> "np.ndarray":
    """(dim, bits) hyperplane matrix — THE kernel both the corpus
    bucket UDF and the driver-side adaptive probe path must share:
    bucket = (X @ planes > 0) @ (1 << arange(bits)). Any divergence
    in seed/orientation/sign rule desynchronizes query probes from
    corpus buckets."""
    return np.array(random_hyperplanes(bits, dim, seed)).T


def _lsh_bucket_ids(X: "np.ndarray", pm: "np.ndarray") -> "np.ndarray":
    """Bucket ids for row vectors X under planes pm (see _lsh_planes)."""
    weights = (1 << np.arange(pm.shape[1])).astype(np.int64)
    return ((X @ pm) > 0).astype(np.int64) @ weights


def _probe_sequence_with_costs(
    margins: "np.ndarray", home: int, budget: int
) -> list[tuple[float, int]]:
    """First ``budget`` (flip cost, bucket) pairs in increasing flip
    cost, where flipping hyperplane i costs |margins[i]| (the query's
    distance to that boundary) and a bucket's cost is the sum over
    its flipped bits — the perturbation-sequence enumeration of
    query-adaptive multi-probe (Lv et al., VLDB 2007). Subsets are
    generated lazily with the classic two-op heap expansion
    (extend-with-next / shift-last), which enumerates ALL flip
    subsets in nondecreasing cost without materializing 2^bits
    candidates. Deterministic: equal-cost ties break by the
    sorted-index tuple pushed into the heap."""
    import heapq

    bits = len(margins)
    out = [(0.0, home)]
    if budget <= 1 or bits == 0:
        return out[:budget]
    order = np.argsort(np.abs(margins), kind="stable")
    costs = np.abs(margins)[order]
    # heap holds (cost, subset-of-indices-into-`order`)
    heap: list[tuple[float, tuple[int, ...]]] = [(float(costs[0]), (0,))]
    while heap and len(out) < budget:
        cost, subset = heapq.heappop(heap)
        b = home
        for j in subset:
            b ^= 1 << int(order[j])
        out.append((cost, b))
        last = subset[-1]
        if last + 1 < bits:
            heapq.heappush(
                heap, (cost + float(costs[last + 1]), subset + (last + 1,))
            )
            heapq.heappush(
                heap,
                (
                    cost - float(costs[last]) + float(costs[last + 1]),
                    subset[:-1] + (last + 1,),
                ),
            )
    return out


def _probe_sequence(margins: "np.ndarray", home: int, budget: int) -> list[int]:
    """Buckets only — see _probe_sequence_with_costs."""
    return [b for _, b in _probe_sequence_with_costs(margins, home, budget)]


def _bucket_udf(bits: int, seed: int):
    """Vectorized sign-LSH bucket id: one matmul per Arrow batch,
    straight off the Arrow buffer (arrow_udf + _pa_matrix — no
    per-row Python floats). The hyperplane matrix is derived lazily
    from the FIRST batch's vector width — seeded generation is
    deterministic, so every task (and both join sides) materializes
    the identical planes without a driver-side ``first()`` probe job.
    Both sides MUST use this same kernel so boundary signs agree."""
    state: dict[str, np.ndarray] = {}

    @F.arrow_udf(T.IntegerType())
    def bucket(vecs: pa.Array) -> pa.Array:
        if len(vecs) == 0:
            return pa.array([], type=pa.int32())
        X = _pa_matrix(vecs)
        pm = state.get("pm")
        if pm is None or pm.shape[0] != X.shape[1]:
            pm = _lsh_planes(bits, X.shape[1], seed)
            state["pm"] = pm
        return pa.array(
            _lsh_bucket_ids(X, pm).astype(np.int32), type=pa.int32()
        )

    return bucket


def ann_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    k: int = DEFAULT_TOP_K,
    metric: str = "IP",
    bits: int = 8,
    seed: int = 42,
    probe_radius: int = 1,
    adaptive: bool = True,
    probe_budget: int | None = None,
    reallocate: bool = True,
) -> DataFrame:
    """Approximate top-k: seeded random-hyperplane LSH buckets prune
    the candidate set, then exact scoring within the probed buckets.
    Equi-join on bucket replaces the crossJoin — the 100 TB path.

    The query side probes every bucket within hamming distance
    ``probe_radius`` of its own (multi-probe), recovering the recall
    lost to vectors near a hyperplane: probes = sum_{r<=R} C(bits, r)
    of 2^bits buckets. Recall is data-dependent — clustered real
    embeddings prune hard at radius 1; the driver's synthetic
    near-random embeddings (top-5 cosine ~0.3) need bits=6,
    probe_radius=3 for recall >= 0.9 (see tests/test_search.py) —
    there is no free pruning on unstructured data.

    ``adaptive=True`` switches to QUERY-ADAPTIVE multi-probe (the
    perturbation-sequence idea of Lv et al., VLDB 2007): instead of
    probing every bucket within a fixed hamming radius, each query
    enumerates flip sets in increasing total |margin| (the query's
    projection onto each flipped hyperplane) and probes the
    ``probe_budget`` most likely buckets. A cluster-boundary query
    has small margins exactly on the planes it straddles, so its
    budget concentrates on 3-4-bit flips of those planes that a
    radius cap never reaches — better recall at the SAME probe
    count (``probe_budget`` defaults to the radius set's size, so
    adaptive vs radius is apples-to-apples). Query vectors are
    driver-collected (queries are small by contract, as in
    ``_query_matrix``); the corpus side is untouched — the same
    bucket equi-join, just with a per-query probe list. Adaptive is
    the DEFAULT (r8): on the hard benchmark fixture it beats the
    fixed radius at the same probe count everywhere measured; pass
    ``adaptive=False`` for the classic hamming-ball probe set.

    ``reallocate=True`` (default, adaptive mode only) additionally
    moves probe budget BETWEEN queries at an unchanged total
    (n_queries × probe_budget): the pool buys the globally cheapest
    flip sets across all queries (raw |margin| cost, floor of
    budget/4 per query). A cluster-boundary query sits close to
    several hyperplanes, so its flip sets are intrinsically cheap
    and it draws more probes — the freed budget comes from queries
    deep inside a cluster whose flips are all expensive (r7 verdict:
    boundary recall was the bucketed family's measured weak spot at
    uniform budgets; the hard-fixture boundary recall moves 0.8 ->
    0.93 at the same 336-probe total).
    """
    import itertools

    bucket = _bucket_udf(bits, seed)

    c = corpus.withColumn("__bucket", bucket(F.col(corpus_vec)))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qvec"),
    )
    if adaptive:
        if probe_budget is not None:
            if probe_budget < 1:
                raise ValueError("probe_budget must be >= 1")
            budget = probe_budget
        else:
            import math

            budget = sum(
                math.comb(bits, r) for r in range(probe_radius + 1)
            )
        qrows = q.collect()
        if not qrows:
            return _empty_topk(corpus, queries, corpus_id, query_id)
        dim = len(qrows[0]["__qvec"])
        pm = _lsh_planes(bits, dim, seed)
        margins = [
            np.asarray(r["__qvec"], dtype=np.float64) @ pm
            for r in qrows
        ]
        homes = [
            int(
                _lsh_bucket_ids(
                    np.asarray(r["__qvec"], dtype=np.float64)[None, :],
                    pm,
                )[0]
            )
            for r in qrows
        ]
        finite = all(np.isfinite(m).all() for m in margins)
        if reallocate and len(qrows) > 1 and finite:
            # GLOBAL COST MERGE (r8): the pooled budget (n_queries ×
            # probe_budget, UNCHANGED total) buys the globally
            # cheapest flip sets across all queries — raw |margin|
            # sums, deliberately NOT normalized per query, so a
            # query sitting close to several hyperplanes (exactly the
            # cluster-boundary case) has intrinsically cheap flips
            # and naturally draws more of the pool. Under the
            # perturbation model the raw cost orders buckets by how
            # likely they are to hold each query's neighbors, so this
            # is a probability-mass allocation of the workload's
            # probes. Two rejected predictors, measured on the hard
            # benchmark fixture: per-query margin hardness does not
            # separate boundary from cluster queries on clustered
            # data, and candidate-count equalization STARVES the
            # boundary query whose true neighbors hide at deep
            # sequence positions behind dense early buckets. Every
            # query keeps a floor of budget//4 probes; ties break by
            # (cost, query index, position) — deterministic.
            floor_b = max(1, budget // 4)
            cap_len = min(1 << bits, 8 * budget)
            entries: list[tuple[float, int, int, int]] = []
            granted: list[list[int]] = []
            for i, (m, h) in enumerate(zip(margins, homes)):
                seq = _probe_sequence_with_costs(m, h, cap_len)
                granted.append([b for _, b in seq[:floor_b]])
                entries.extend(
                    (cost, i, pos, b)
                    for pos, (cost, b) in enumerate(seq[floor_b:])
                )
            entries.sort()
            pool = budget * len(qrows) - sum(len(g) for g in granted)
            for cost, i, pos, b in entries[: max(pool, 0)]:
                granted[i].append(b)
            probe_rows = [
                (r["query_id"], b)
                for r, g in zip(qrows, granted)
                for b in g
            ]
        else:
            probe_rows = [
                (r["query_id"], b)
                for r, m, h in zip(qrows, margins, homes)
                for b in _probe_sequence(m, h, budget)
            ]
        qid_t = queries.schema[query_id].dataType
        probes_df = corpus.sparkSession.createDataFrame(
            probe_rows,
            T.StructType(
                [
                    T.StructField("query_id", qid_t),
                    T.StructField("__bucket", T.IntegerType()),
                ]
            ),
        )
        q = q.join(probes_df, "query_id")
    else:
        q = q.withColumn("__qbucket", bucket(F.col("__qvec")))
        masks = [0] + [
            sum(1 << i for i in combo)
            for r in range(1, probe_radius + 1)
            for combo in itertools.combinations(range(bits), r)
        ]
        if len(masks) > 1:
            probes = F.array(
                *[F.col("__qbucket").bitwiseXOR(F.lit(m)) for m in masks]
            )
            q = q.select(
                "query_id",
                "__qvec",
                F.explode(probes).alias("__bucket"),
            )
        else:
            q = q.withColumnRenamed("__qbucket", "__bucket")
    _, order = _score_col(metric, F.col("__qvec"), F.col(corpus_vec))
    score = _pair_score_udf(metric)(F.col(corpus_vec), F.col("__qvec"))
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    return (
        c.join(F.broadcast(q), "__bucket")
        .select("query_id", corpus_id, score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _spread_sample(
    corpus: DataFrame,
    corpus_vec: str,
    train_cap: int,
    seed: int,
    train_fraction: float | None,
    n_corpus: int | None,
) -> "np.ndarray":
    """Bounded driver-side training sample as a float64 matrix.

    No exact pre-count: the default sample takes a bounded HEAD OF
    EVERY PARTITION (the Arrow kernel stops pulling batches once its
    task's share of the cap is met), so a 100 TB corpus never pays a
    full pass AND a corpus sorted/clustered by content still trains on
    vectors spread across its whole range — a bare LIMIT would train
    the quantizer on the first cluster only. Callers that know the
    corpus size can pass n_corpus or train_fraction for a true
    Bernoulli sample instead."""
    import math

    import numpy as np

    if train_fraction is None and n_corpus is not None:
        train_fraction = min(1.0, train_cap / max(n_corpus, 1))
    base = corpus.select(corpus_vec)
    if train_fraction is not None:
        base = base.sample(fraction=train_fraction, seed=seed)
    else:
        cores = corpus.sparkSession.sparkContext.defaultParallelism
        per_part = max(1, math.ceil(train_cap / max(cores, 1)))

        # mapInArrow + RecordBatch.slice: the head is taken without
        # converting ANY full batch to pandas (the old pandas head
        # still paid the object conversion of one whole Arrow batch
        # per partition — 10k × dim floats to keep ~100 rows)
        def _heads(batches):
            taken = 0
            for rb in batches:
                if taken >= per_part:
                    break
                yield rb.slice(0, per_part - taken)
                taken += rb.num_rows

        base = base.mapInArrow(_heads, base.schema)
    # r17: Arrow transfer instead of row collect — the pickled-row
    # path materialized train_cap × dim Python floats (measured ~1 s
    # extra at 1000 × 1024 on the semdedup bench fixture); same rows in
    # the same deterministic CollectLimit order, so the trained
    # centroids are unchanged (asserted in tests).
    tbl = base.limit(train_cap).toArrow()
    if tbl.num_rows == 0:
        X = np.zeros((0, 0), dtype=np.float64)
    else:
        X = _pa_matrix(tbl.column(0), dtype=np.float64)
    if len(X) == 0:
        raise ValueError(
            "empty training sample — corpus empty or train_fraction too small"
        )
    return X


def _lloyd(X: "np.ndarray", k: int, seed: int) -> "np.ndarray":
    """Fixed-iteration numpy k-means on a driver-side sample matrix;
    returns the (k_eff, dim) centroid matrix."""
    import numpy as np

    k = max(1, min(k, len(X)))
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=k, replace=False)]
    x2 = (X**2).sum(axis=1, keepdims=True)
    for _ in range(10):  # Lloyd iterations; fixed count keeps it bounded
        # same O(n × k) BLAS identity as _score_block — the
        # (n × k × dim) difference tensor would be ~1.7 GB/iter at
        # the 1024-dim contract width (argmin unaffected by the
        # constant x2 row shift, kept only for clamped magnitudes)
        d2 = np.maximum(
            x2 + (cent**2).sum(axis=1)[None, :] - 2.0 * (X @ cent.T), 0.0
        )
        assign = d2.argmin(axis=1)
        # centroid update via ONE stable sort instead of k boolean
        # masks (the masks were O(k x n) per iteration and dominated
        # the train wall at k=256): a stable argsort groups each
        # cluster's rows contiguously IN ORIGINAL ROW ORDER, so every
        # per-segment .mean(axis=0) sees exactly the rows (same order,
        # same contiguous float64 layout) the boolean-masked copy saw
        # -> the pairwise summation tree and hence the centroids are
        # bit-identical; absent clusters keep their previous centroid
        # exactly as the old `if m.any()` skip did
        order = np.argsort(assign, kind="stable")
        sorted_assign = assign[order]
        Xs = X[order]
        starts = np.flatnonzero(
            np.r_[True, sorted_assign[1:] != sorted_assign[:-1]]
        )
        bounds = np.r_[starts, len(sorted_assign)]
        for i, s in enumerate(starts):
            cent[sorted_assign[s]] = Xs[s : bounds[i + 1]].mean(axis=0)
    return cent


def _fit_pq_books(
    X: "np.ndarray",
    m: int,
    ksub: int,
    seed: int,
    sc=None,
) -> "np.ndarray":
    """Fit the m per-subspace Lloyd codebooks off one sample matrix.

    The m fits are independent (subspace j trains on X[:, j*dsub:
    (j+1)*dsub] at seed+j), so when a SparkContext is passed they run
    as m parallel tasks over a broadcast of the sample instead of a
    serial driver loop — the driver-side train wall was the largest
    term of every PQ/OPQ/IVFADC build (guide S5: the driver should do
    almost no data work). ``_lloyd`` is deterministic given
    (X, k, seed), so the distributed books are bit-identical to the
    serial ones (asserted in tests). Returns (m, ksub, dsub) float64.
    """
    import numpy as np

    dim = X.shape[1]
    dsub = dim // m

    def _fit_one(j: int, Xfull: "np.ndarray") -> "np.ndarray":
        cb = _lloyd(Xfull[:, j * dsub : (j + 1) * dsub], ksub, seed + j)
        # tiny training sets can yield < ksub centroids; keep the
        # books rectangular by repeating the last row (harmless:
        # argmin just never picks duplicates' higher index)
        if len(cb) < ksub:
            cb = np.vstack([cb, np.repeat(cb[-1:], ksub - len(cb), 0)])
        return cb

    books = np.empty((m, ksub, dsub), dtype=np.float64)
    if sc is not None and m >= 4:
        bx = sc.broadcast(np.ascontiguousarray(X))
        try:
            fitted = (
                sc.parallelize(range(m), m)
                .map(lambda j: (j, _fit_one(j, bx.value)))
                .collect()
            )
        finally:
            bx.unpersist()
        for j, cb in fitted:
            books[j] = cb
    else:
        for j in range(m):
            books[j] = _fit_one(j, X)
    return books


def _train_ivf_centroids(
    corpus: DataFrame,
    corpus_vec: str,
    nlist: int,
    seed: int,
    train_fraction: float | None,
    n_corpus: int | None,
):
    """Driver-side numpy k-means on a bounded spread sample (see
    ``_spread_sample``). Returns the (nlist_eff, dim) centroid
    matrix."""
    train_cap = max(nlist * 50, 256)
    X = _spread_sample(
        corpus, corpus_vec, train_cap, seed, train_fraction, n_corpus
    )
    return _lloyd(X, nlist, seed)


def _pair_score_udf(metric: str):
    """Row-wise (vector, vector) -> score as one vectorized numpy
    kernel per Arrow batch. Semantics match _score_col/_score_block.

    Used on PRUNED candidate streams (post bucket/list join) where
    Catalyst's higher-order aggregate(zip_with(...)) interprets the
    lambda per element with boxing — measured ~8k rows/s at the
    1024-dim contract width vs ~1M rows/s for this kernel. The
    pruning joins stay native; only the arithmetic drops to numpy.
    """

    @F.arrow_udf(T.DoubleType())
    def pair_score(a: pa.Array, b: pa.Array) -> pa.Array:
        if len(a) == 0:
            return pa.array([], type=pa.float64())
        X = _pa_matrix(a)
        Q = _pa_matrix(b)
        if metric == "IP":
            s = np.einsum("ij,ij->i", X, Q)
        elif metric == "COSINE":
            xn = np.linalg.norm(X, axis=1)
            xn[xn == 0] = 1.0
            qn = np.linalg.norm(Q, axis=1)
            qn[qn == 0] = 1.0
            s = np.einsum("ij,ij->i", X, Q) / (xn * qn)
        else:
            s = np.linalg.norm(X - Q, axis=1)
        return pa.array(s, type=pa.float64())

    return pair_score


def _nearest_list_udf(cm: np.ndarray, c2: np.ndarray):
    """Arrow-native nearest-centroid assignment: one (batch × nlist)
    BLAS matmul per Arrow batch, vectors read via _pa_matrix."""

    @F.arrow_udf(T.IntegerType())
    def nearest_list(vecs: pa.Array) -> pa.Array:
        if len(vecs) == 0:
            return pa.array([], type=pa.int32())
        V = _pa_matrix(vecs)
        d = c2[None, :] - 2.0 * (V @ cm)  # ||v-c||² up to +||v||²
        return pa.array(d.argmin(axis=1).astype(np.int32), type=pa.int32())

    return nearest_list


def _cluster_sim_udf(cm: np.ndarray, c2: np.ndarray):
    """Arrow-native (nearest cluster, cosine-to-own-centroid) in ONE
    (batch × nlist) BLAS matmul per Arrow batch — the dots serve both
    the argmin distance and the cosine numerator. Used by
    operators.dedup.semdedup, kept here with the other ANN kernels
    (module-level pa/np/T are what arrow_udf's hint inference needs)."""
    cnorm = np.sqrt(c2)
    cnorm[cnorm == 0] = 1.0
    out_t = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("cent_sim", T.DoubleType()),
        ]
    )

    @F.arrow_udf(out_t)
    def cluster_sim(vecs: pa.Array) -> pa.Array:
        if len(vecs) == 0:
            return pa.array(
                [],
                type=pa.struct(
                    [("cluster", pa.int32()), ("cent_sim", pa.float64())]
                ),
            )
        V = _pa_matrix(vecs)
        dots = V @ cm  # (n, nlist)
        d = c2[None, :] - 2.0 * dots  # ||v-c||² up to +||v||²
        a = d.argmin(axis=1)
        vn = np.linalg.norm(V, axis=1)
        vn[vn == 0] = 1.0
        sims = dots[np.arange(len(a)), a] / (vn * cnorm[a])
        return pa.StructArray.from_arrays(
            [
                pa.array(a.astype(np.int32), type=pa.int32()),
                pa.array(sims, type=pa.float64()),
            ],
            names=["cluster", "cent_sim"],
        )

    return cluster_sim


def _probe_lists_udf(cm: np.ndarray, c2: np.ndarray, npb: int):
    """Arrow-native npb-nearest-centroid probe lists (query side —
    a handful of rows, but the same kernel keeps both sides exact)."""

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def probe_lists(vecs: pa.Array) -> pa.Array:
        if len(vecs) == 0:
            return pa.array([], type=pa.list_(pa.int32()))
        V = _pa_matrix(vecs)
        d = c2[None, :] - 2.0 * (V @ cm)
        idx = np.argsort(d, axis=1)[:, :npb].astype(np.int32)
        return pa.array(
            [row.tolist() for row in idx], type=pa.list_(pa.int32())
        )

    return probe_lists


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    k: int = DEFAULT_TOP_K,
    metric: str = "IP",
    nlist: int = 128,
    nprobe: int = 10,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: k-means coarse quantizer (the
    reference's dense index family — nlist=128 / nprobe=10 are its own
    DDL + search defaults, vector_database/milvus_connector.py:65-69,
    168-169), centroids trained on a sample, corpus partitioned by
    nearest centroid, queries probing their ``nprobe`` nearest lists.

    Plan shape: centroid fit on a driver-side sample (bounded), then
    ONE map-only pass assigns corpus rows to lists (numpy matmul per
    Arrow batch), an equi-join on list id prunes candidates to
    ~nprobe/nlist of the corpus, exact scoring + per-query Window
    finish. On clustered real embeddings this is the high-recall
    pruning path; LSH (``ann_topk_bucketed``) needs no training.
    """
    import numpy as np

    metric = metric.upper()
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; use IP|COSINE|L2")
    cent = _train_ivf_centroids(
        corpus, corpus_vec, nlist, seed, train_fraction, n_corpus
    )
    nlist = len(cent)
    cm = cent.T  # (dim, nlist)
    c2 = (cent**2).sum(axis=1)
    nearest_list = _nearest_list_udf(cm, c2)
    npb = min(nprobe, nlist)
    probe_lists = _probe_lists_udf(cm, c2, npb)

    c = corpus.withColumn("__list", nearest_list(F.col(corpus_vec)))
    q = (
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qvec"),
        )
        .withColumn("__probes", probe_lists(F.col("__qvec")))
        .select(
            "query_id", "__qvec", F.explode("__probes").alias("__list")
        )
    )
    _, order = _score_col(metric, F.col("__qvec"), F.col(corpus_vec))
    score = _pair_score_udf(metric)(F.col(corpus_vec), F.col("__qvec"))
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    return (
        c.join(F.broadcast(q), "__list")
        .select("query_id", corpus_id, score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
    nlist: int = 128,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
) -> int:
    """Persisted IVF index build — the lifecycle split a production
    vector store has (reference DDL creates the index once,
    milvus_connector.py:65-69; searches then only probe it):

    - ``<index_path>/centroids.parquet`` — (list_id, centroid) — the
      coarse quantizer, tiny (nlist rows), loaded to the driver at
      search time;
    - ``<index_path>/assignments.parquet`` — (corpus_id, list_id) —
      every vector's inverted-list membership, ONE map-only pass over
      the corpus at build time so searches never re-assign.

    Returns the effective nlist (clamped to the training sample).
    """
    import numpy as np

    cent = _train_ivf_centroids(
        corpus, corpus_vec, nlist, seed, train_fraction, n_corpus
    )
    nlist_eff = len(cent)
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in cent[i]]) for i in range(nlist_eff)],
        _CENTROIDS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "centroids")
    )
    cm = cent.T
    c2 = (cent**2).sum(axis=1)
    nearest_list = _nearest_list_udf(cm, c2)

    corpus.select(
        F.col(corpus_id),
        nearest_list(F.col(corpus_vec)).alias("list_id"),
    ).write.mode("overwrite").parquet(_crel(index_path, "assignments"))
    return nlist_eff


@_pin
def upsert_ivf_index(
    index_path: str,
    new_vectors: DataFrame,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
) -> int:
    """Incremental IVF maintenance: assign a batch of NEW vectors to
    the EXISTING centroids and append their (corpus_id, list_id) rows
    to the assignments store — no retraining, no re-assignment of the
    existing corpus (the vector-store lifecycle: DDL builds the index
    once, inserts keep it current; reference inserts at
    milvus_connector.py:100-117 never rebuild the index).

    One map-only pass over the batch + an append write; searches via
    ``ann_topk_ivf_index`` see the new vectors immediately. Quantizer
    drift (centroids trained before the new data) is the standard
    IVF upsert tradeoff — recall on new clusters degrades until the
    next ``build_ivf_index``; a production store tracks the
    append-to-rebuild ratio. Returns the number of rows appended.
    """
    cent = _load_ivf_centroids(new_vectors.sparkSession, index_path)
    nearest_list = _nearest_list_udf(cent.T, (cent**2).sum(axis=1))
    return _append_codes(
        new_vectors.select(
            F.col(corpus_id),
            nearest_list(F.col(corpus_vec)).alias("list_id"),
        ),
        index_path,
        rel="assignments",
    )


@_pin
def ann_topk_ivf_index(
    spark,
    index_path: str,
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    k: int = DEFAULT_TOP_K,
    metric: str = "IP",
    nprobe: int = 10,
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Search against a ``build_ivf_index`` store: no training, no
    corpus re-assignment — centroids load to the driver (nlist rows),
    queries probe their ``nprobe`` nearest lists, and the candidate
    set is corpus ⋈ assignments ⋈ probed-lists (the assignments join
    is on the corpus id — bucket/co-partition both by id at scale for
    a shuffle-free join)."""
    metric = metric.upper()
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; use IP|COSINE|L2")
    cent = _load_ivf_centroids(spark, index_path)
    cm = cent.T
    c2 = (cent**2).sum(axis=1)
    npb = min(nprobe, len(cent))
    probe_lists = _probe_lists_udf(cm, c2, npb)

    assignments = spark.read.parquet(_crel(index_path, "assignments"))
    c = _apply_allowed(corpus, allowed_ids, corpus_id).join(
        assignments, corpus_id
    ).withColumnRenamed("list_id", "__list")
    q = (
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("__qvec"),
        )
        .withColumn("__probes", probe_lists(F.col("__qvec")))
        .select("query_id", "__qvec", F.explode("__probes").alias("__list"))
    )
    _, order = _score_col(metric, F.col("__qvec"), F.col(corpus_vec))
    score = _pair_score_udf(metric)(F.col(corpus_vec), F.col("__qvec"))
    w = Window.partitionBy("query_id").orderBy(order("score"), F.asc(corpus_id))
    return (
        c.join(F.broadcast(q), "__list")
        .select("query_id", corpus_id, score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_similarity_join_mllib(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    distance_threshold: float = 1.0,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH ``approxSimilarityJoin`` —
    the off-the-shelf Euclidean LSH alternative to the hand-rolled
    sign-LSH/IVF paths (SURVEY §2.3 J4 large-Q option). Multiple hash
    tables OR-amplify recall; the join is on hash buckets, never
    all-pairs. Output: (query_id, <corpus_id>, l2 double) for pairs
    within ``distance_threshold``.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(corpus_id),
        array_to_vector(
            F.col(corpus_vec).cast("array<double>")
        ).alias("features"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        array_to_vector(
            F.col(query_vec).cast("array<double>")
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(c)
    joined = model.approxSimilarityJoin(
        q, c, distance_threshold, distCol="l2"
    )
    return joined.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col(f"datasetB.{corpus_id}").alias(corpus_id),
        F.round(F.col("l2"), 6).alias("l2"),
    )


DEFAULT_SPARSE_MAX_DOC_FREQ = 1000


def sparse_topk_inverted(
    corpus_postings: DataFrame,
    query_postings: DataFrame,
    k: int = DEFAULT_TOP_K,
    max_doc_freq: int | None = DEFAULT_SPARSE_MAX_DOC_FREQ,
) -> DataFrame:
    """Sparse IP top-k via the inverted relational form.

    Inputs are posting tables: corpus (doc_id, token, weight) and
    queries (query_id, token, weight) — i.e. posexplode'd
    map<int,float> sparse vectors. score(q, d) = sum over shared
    tokens of qw * dw; join on token, groupBy (query, doc), top-k.
    This is the reference's SPARSE_INVERTED_INDEX/IP expressed
    relationally (vector_database/milvus_connector.py:71-74).

    ``max_doc_freq`` drops corpus postings for tokens appearing in
    more than that many documents (df-pruning, same policy as
    ``dedup.DEFAULT_MAX_DOC_FREQ``): a stop-token present in half the
    corpus is a single hot join key whose posting list lands on one
    task at scale. Stop-tokens carry near-zero IDF signal, so the
    standard IR move is to cap them; scores then range over the
    surviving token space — deterministic, and mirrored exactly by an
    oracle that applies the same cap. Pass ``None`` to disable (exact
    over all tokens; tiny corpora only).
    """
    cp = corpus_postings
    if max_doc_freq is not None:
        dfc = cp.groupBy("token").agg(F.count("*").alias("__df"))
        cp = (
            cp.join(dfc, "token")
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    q = F.broadcast(
        query_postings.select(
            "query_id", "token", F.col("weight").alias("__qw")
        )
    )
    scored = (
        cp.join(q, "token")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.col("weight").cast("double") * F.col("__qw").cast("double")
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def build_sparse_index(
    corpus_postings: DataFrame,
    index_path: str,
    num_buckets: int = 64,
    doc_id: str = "doc_id",
    store_doc_stats: bool = False,
) -> tuple[int, int]:
    """Persisted sparse inverted index — the build-once store behind
    the reference's SPARSE_INVERTED_INDEX DDL
    (vector_database/milvus_connector.py:71-74), completing index
    parity with the dense lifecycles (``build_pq_index`` /
    ``build_ivfadc_index`` / ``build_opq_index``):
    ``sparse_topk_inverted`` re-derives postings AND df stats from the
    corpus on every call — correct, but at 100 TB the postings build
    is the dominant per-query cost. This store pays it once:

    - ``<index_path>/postings.parquet`` — (<doc_id>, token, weight)
      PARTITIONED BY ``token_bucket = pmod(xxhash64(token),
      num_buckets)``: a search touching Q tokens prunes to their
      buckets at the parquet layer (driver-known literals, the same
      mechanism as IVFADC's probed-list pruning), then the in-bucket
      ``token IN (...)`` filter rides the scan via column min/max;
    - ``<index_path>/df_stats.parquet`` — (token, df) PARTIAL counts,
      same partitioning, APPEND-ONLY: each build/upsert appends its
      batch's per-token document counts and the search sums the
      segments for its (query-vocab-bounded) tokens — no
      read-modify-write cycle on a vocabulary-sized table, so upsert
      stays an append like the dense code stores;
    - ``<index_path>/meta.parquet`` — (num_buckets, doc_stats), one
      row.

    ``store_doc_stats=True`` additionally denormalizes the document
    length onto every posting row (``dl`` = sum of the doc's weights,
    one window over the build input — BM25's per-doc norm then rides
    the pruned scan with NO corpus-sized join at query time) and
    appends a (n_docs, total_dl) segment to
    ``<index_path>/corpus_stats.parquet`` — the N/avgdl scalars as
    mergeable per-batch partials, same append-only discipline as the
    df segments. This is what ``bm25_topk_index`` searches.

    Returns (num_buckets, n_postings)."""
    if num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")
    spark = corpus_postings.sparkSession
    # the hash input is ALWAYS cast to string: Spark's xxhash64
    # hashes int/bigint/string differently, and the bucket derivation
    # must be stable across build/upsert/search regardless of the
    # caller's token column type — hashed tokens (ints) and raw terms
    # (strings, the BM25 leg) both normalize to their string form
    bucket = F.pmod(
        F.xxhash64(F.col("token").cast("string")), F.lit(num_buckets)
    ).cast("int")
    _write_sparse_segment(
        corpus_postings, index_path, bucket, doc_id, store_doc_stats,
        mode="overwrite",
    )
    # row count off the just-written parquet FOOTERS — a .count() on
    # the input would re-execute the whole postings lineage (often a
    # corpus-wide explode) purely for this return value
    n = spark.read.parquet(_crel(index_path, "postings")).count()
    spark.createDataFrame(
        [(int(num_buckets), bool(store_doc_stats))],
        "num_buckets int, doc_stats boolean",
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "meta")
    )
    return num_buckets, n


def _write_sparse_segment(
    postings: DataFrame,
    index_path: str,
    bucket,
    doc_id: str,
    store_doc_stats: bool,
    mode: str,
) -> None:
    """One build/upsert segment: bucket-partitioned postings (with the
    per-doc length denormalized on when doc stats are kept), a df
    partial-count segment, and — when doc stats are kept — a one-row
    (n_docs, total_dl) corpus_stats partial. All three are plain
    appends on upsert.

    The input lineage (often a corpus-wide explode + groupBy)
    executes exactly ONCE: the staged segment is persisted
    (memory-and-disk) for the duration of the three writes and
    unpersisted after — without it the df and corpus-stats writes
    would each re-run the full input pipeline (review finding r14)."""
    staged = postings.select(
        F.col(doc_id).alias("__doc"),
        "token",
        "weight",
        bucket.alias("token_bucket"),
    )
    if store_doc_stats:
        dl_w = Window.partitionBy("__doc")
        staged = staged.withColumn(
            "dl", F.sum(F.col("weight").cast("double")).over(dl_w)
        )
    staged = staged.persist()
    try:
        out_cols = [F.col("__doc").alias(doc_id), "token", "weight"]
        if store_doc_stats:
            out_cols.append(F.col("dl"))
        # r18 (guide S6, small files): repartition on the partition
        # key before each partitioned write — without it every
        # upstream task writes one file into every bucket dir it
        # touches (measured 4228 files and ~20 s for the 250k-doc
        # build vs ~130 files and ~11 s repartitioned), and every
        # later probe pays the per-file open cost. The extra exchange
        # moves only the narrow (id, token, weight) rows.
        staged.select(
            *out_cols, "token_bucket"
        ).repartition("token_bucket").write.mode(mode).partitionBy(
            "token_bucket"
        ).parquet(_crel(index_path, "postings"))
        staged.groupBy("token_bucket", "token").agg(
            F.count("*").alias("df")
        ).select("token", "df", "token_bucket").repartition(
            "token_bucket"
        ).write.mode(mode).partitionBy("token_bucket").parquet(
            _crel(index_path, "df_stats")
        )
        if store_doc_stats:
            staged.agg(
                F.countDistinct("__doc").alias("n_docs"),
                F.sum(F.col("weight").cast("double")).alias(
                    "total_dl"
                ),
            ).coalesce(1).write.mode(mode).parquet(
                _crel(index_path, "corpus_stats")
            )
    finally:
        staged.unpersist()


def upsert_sparse_index(
    index_path: str,
    new_postings: DataFrame,
    doc_id: str = "doc_id",
    count_appended: bool = True,
) -> int:
    """Incremental sparse-index maintenance: append the new batch's
    postings into their bucket partitions and its per-token document
    counts as a new df segment — both pure appends (the dense-index
    upsert contract; no retrain analog exists here, so index-vs-
    rebuild equivalence is EXACT and asserted in tests). Batches are
    DOCUMENT-granularity: on a doc-stats store the per-doc length and
    the (n_docs, total_dl) partial are computed within the batch, so
    a document split across two upserts would double-count its dl AND
    its per-token df (a token seen in both halves counts twice,
    inflating df toward — or past — n_docs and so deflating that
    term's BM25 idf; ``bm25_topk_index`` clamps df ≤ n_docs so the
    idf only floors, never domain-errors) — ship each document's
    postings in one batch (the natural ingest shape). Returns the
    number of postings appended — or -1 with
    ``count_appended=False``: the before/after counts are footer
    reads (no data pages), but footer-read cost grows with the
    store's accumulated segment count, so a tight ingest loop that
    doesn't consume the return value can skip both (r15; pair with
    ``compact_index`` to keep the file count bounded either way)."""
    spark = new_postings.sparkSession
    meta = spark.read.parquet(_crel(index_path, "meta")).first()
    nb = int(meta["num_buckets"])
    store_doc_stats = bool(
        meta["doc_stats"] if "doc_stats" in meta.asDict() else False
    )
    bucket = F.pmod(
        F.xxhash64(F.col("token").cast("string")), F.lit(nb)
    ).cast("int")
    # appended-row count from parquet FOOTERS (metadata-only reads)
    # rather than a .count() that re-executes the batch lineage
    n_before = (
        spark.read.parquet(_crel(index_path, "postings")).count()
        if count_appended
        else 0
    )
    _write_sparse_segment(
        new_postings, index_path, bucket, doc_id, store_doc_stats,
        mode="append",
    )
    if not count_appended:
        return -1
    n_after = spark.read.parquet(
        _crel(index_path, "postings")
    ).count()
    return n_after - n_before


def _sparse_token_buckets(spark, index_path: str, toks: list):
    """(num_buckets, {token: bucket}) for a query token list: the
    bucket ids come from the SAME engine expression the build used
    (xxhash64 over the string-cast token — no Python reimplementation
    to drift), one driver-side job over the tiny list. Shared by the
    IP and BM25 searches over the store."""
    nb = int(
        spark.read.parquet(_crel(index_path, "meta")).first()[
            "num_buckets"
        ]
    )
    tok_schema = (
        "token string" if isinstance(toks[0], str) else "token bigint"
    )
    bucket_rows = (
        spark.createDataFrame([(t,) for t in toks], tok_schema)
        .select(
            "token",
            F.pmod(
                F.xxhash64(F.col("token").cast("string")), F.lit(nb)
            )
            .cast("int")
            .alias("token_bucket"),
        )
        .collect()
    )
    return nb, {r["token"]: r["token_bucket"] for r in bucket_rows}


def _sum_df_segments(spark, index_path: str, toks: list, tok_bucket):
    """{token: total df} summed across the append-only df segments,
    bucket-pruned and token-filtered to the (query-vocab-bounded)
    list."""
    buckets = sorted({tok_bucket[t] for t in toks})
    seg = (
        spark.read.parquet(_crel(index_path, "df_stats"))
        .filter(
            F.col("token_bucket").isin(buckets)
            & F.col("token").isin(toks)
        )
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    return {r["token"]: int(r["df"]) for r in seg}


@_pin
def sparse_topk_index(
    spark,
    index_path: str,
    query_postings: DataFrame,
    k: int = DEFAULT_TOP_K,
    max_doc_freq: int | None = DEFAULT_SPARSE_MAX_DOC_FREQ,
    doc_id: str = "doc_id",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a ``build_sparse_index`` store: identical scoring (and
    df-cap semantics) to ``sparse_topk_inverted``, but the corpus-wide
    postings/df derivation is replaced by a pruned read of the
    persisted store.

    Driver side (all bounded by the query-set contract): the query
    token set and its bucket ids collect (one tiny job), then the df
    segments for EXACTLY those tokens — a bucket-pruned, token-
    filtered scan of df_stats — sum driver-side and decide which
    tokens survive ``max_doc_freq``. Cluster side: ONE bucket-pruned
    scan of postings restricted to the surviving tokens (the bucket
    list is a planning-time literal → PartitionFilters; the token
    IN-list prunes row groups via column stats), broadcast-joined to
    the query weights, one (query, doc) aggregation, per-query top-k.
    Scanned bytes ~ |query tokens' buckets| / num_buckets of the
    store — never the corpus."""
    tok_rows = (
        query_postings.select("token").distinct().collect()
    )
    toks = sorted({r["token"] for r in tok_rows})
    store = spark.read.parquet(_crel(index_path, "postings"))

    def _empty():
        # schema-faithful empty result (doc_id keeps the STORE's type)
        return (
            query_postings.select("query_id")
            .limit(0)
            .withColumn(
                doc_id, F.lit(None).cast(store.schema[doc_id].dataType)
            )
            .withColumn("score", F.lit(None).cast("double"))
            .withColumn("rank", F.lit(None).cast("int"))
        )

    if not toks:
        return _empty()
    nb, tok_bucket = _sparse_token_buckets(spark, index_path, toks)
    if max_doc_freq is not None:
        df_tot = _sum_df_segments(spark, index_path, toks, tok_bucket)
        toks = [t for t in toks if df_tot.get(t, 0) <= max_doc_freq]
        if not toks:
            return _empty()
    buckets = sorted({tok_bucket[t] for t in toks})
    # allowed_ids = the Milvus-style scalar PRE-filter (see
    # _apply_allowed): restricts the pruned postings scan before any
    # scoring, so the top-k are the best among the allowed
    cp = _apply_allowed(
        store.filter(
            F.col("token_bucket").isin(buckets)
            & F.col("token").isin(toks)
        ),
        allowed_ids,
        doc_id,
    )
    q = F.broadcast(
        query_postings.select(
            "query_id", "token", F.col("weight").alias("__qw")
        )
    )
    scored = (
        cp.join(q, "token")
        .groupBy("query_id", doc_id)
        .agg(
            F.sum(
                F.col("weight").cast("double")
                * F.col("__qw").cast("double")
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(doc_id)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


@_pin
def bm25_topk_index(
    spark,
    index_path: str,
    query_terms: DataFrame,
    k: int = DEFAULT_TOP_K,
    k1: float = 1.2,
    b: float = 0.75,
    max_doc_freq: int | None = None,
    doc_id: str = "doc_id",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """BM25 over a ``build_sparse_index(store_doc_stats=True)`` store —
    the persisted lexical leg (the reference's SPARSE_INVERTED_INDEX
    with corpus statistics instead of learned weights): identical
    scoring to ``bm25_topk`` (Lucene idf, per-term 6dp round +
    DECIMAL(18,6) sum for engine-exact determinism) but every corpus
    statistic comes off the store, not a per-query corpus pass.

    Driver side (query-vocab-bounded): token buckets, df segment sums,
    the (N, avgdl) scalars off the corpus_stats partials, and the
    per-token idf — all tiny, idf lands as a column of the broadcast
    query table. Cluster side: ONE bucket-pruned postings scan (tf
    AND the denormalized dl ride each row, so there is NO corpus-
    sized doclen join — the same property the inline ``bm25_topk``
    engineers with a window), broadcast query join, map-side term
    scores, one (query, doc) aggregation, per-query top-k.

    ``max_doc_freq`` optionally df-prunes stop terms (same policy as
    ``sparse_topk_index``). Output: (query_id, <doc_id>, score
    double, rank int)."""
    import math

    meta = spark.read.parquet(_crel(index_path, "meta")).first()
    if not bool(
        meta["doc_stats"] if "doc_stats" in meta.asDict() else False
    ):
        raise ValueError(
            "bm25_topk_index needs a store built with "
            "store_doc_stats=True (doc lengths + corpus stats)"
        )
    tok_rows = query_terms.select("token").distinct().collect()
    toks = sorted({r["token"] for r in tok_rows})
    store = spark.read.parquet(_crel(index_path, "postings"))
    empty = (
        query_terms.select("query_id")
        .limit(0)
        .withColumn(
            doc_id, F.lit(None).cast(store.schema[doc_id].dataType)
        )
        .withColumn("score", F.lit(None).cast("double"))
        .withColumn("rank", F.lit(None).cast("int"))
    )
    if not toks:
        return empty
    _, tok_bucket = _sparse_token_buckets(spark, index_path, toks)
    df_tot = _sum_df_segments(spark, index_path, toks, tok_bucket)
    if max_doc_freq is not None:
        toks = [t for t in toks if df_tot.get(t, 0) <= max_doc_freq]
    toks = [t for t in toks if df_tot.get(t, 0) > 0]
    if not toks:
        return empty
    buckets = sorted({tok_bucket[t] for t in toks})
    stats = (
        spark.read.parquet(_crel(index_path, "corpus_stats"))
        .agg(F.sum("n_docs").alias("n"), F.sum("total_dl").alias("tdl"))
        .first()
    )
    n_docs = int(stats["n"])
    avgdl = float(stats["tdl"]) / max(n_docs, 1)
    # df is a SUM of per-segment postings counts while n_docs counts
    # distinct docs, so duplicate (doc, token) postings in one build —
    # or one document's tokens split across upsert batches — can push
    # df above n_docs; the Lucene form log((N+1)/(df+0.5)) then goes
    # NEGATIVE (df > N + 0.5), flipping that term's contribution to a
    # penalty. Clamp df to n_docs so idf keeps Lucene's nonnegative
    # floor log((N+1)/(N+0.5)). Same batch-granularity caveat as dl:
    # upsert whole documents.
    idf = {
        t: math.log(
            1.0
            + (n_docs - min(df_tot[t], n_docs) + 0.5)
            / (min(df_tot[t], n_docs) + 0.5)
        )
        for t in toks
    }
    # duplicate (query_id, token) rows keep their multiplicity — the
    # inline bm25_topk scores one term contribution per occurrence,
    # and "identical scoring" includes that edge
    tok_schema = (
        "token string" if isinstance(toks[0], str) else "token bigint"
    )
    qt = F.broadcast(
        query_terms.filter(F.col("token").isin(toks))
        .select("query_id", "token")
        .join(
            F.broadcast(
                spark.createDataFrame(
                    [(t, float(idf[t])) for t in toks],
                    f"{tok_schema}, __idf double",
                )
            ),
            "token",
        )
    )
    # scalar PRE-filter on the pruned postings scan (_apply_allowed);
    # the df/idf statistics stay CORPUS statistics by design — BM25
    # under a filter still weights terms by their corpus rarity (the
    # Lucene/Milvus filtered-search behavior)
    cp = _apply_allowed(
        store.filter(
            F.col("token_bucket").isin(buckets)
            & F.col("token").isin(toks)
        ),
        allowed_ids,
        doc_id,
    )
    tf = F.col("weight").cast("double")
    norm = tf + F.lit(float(k1)) * (
        F.lit(1.0 - float(b))
        + F.lit(float(b)) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    term_score = F.round(
        F.col("__idf") * tf * F.lit(float(k1) + 1.0) / norm, 6
    ).cast("decimal(18,6)")
    scored = (
        cp.join(qt, "token")
        .select("query_id", doc_id, term_score.alias("__ts"))
        .groupBy("query_id", doc_id)
        .agg(F.sum("__ts").cast("double").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(doc_id)
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def hybrid_topk_rrf(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    k: int = DEFAULT_TOP_K,
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query rankings — the
    retrieval-level hybrid (dense + sparse) a vector store exposes as
    an RRF ranker (the reference's stack does weighted fusion at the
    rerank stage, m3_server.py:41-49; RRF is the rank-based,
    score-scale-free retrieval twin). rrf(d) = sum over rankings of
    1/(k0 + rank_d); docs absent from one ranking contribute 0 from
    it. Inputs are the OUTPUTS of any two top-k operators here —
    (query_id, <id_col>, rank) — so the fusion composes with
    dense_topk / sparse_topk_inverted / the ANN paths unchanged.

    Scale shape: both inputs are already pruned to <= Q x k_retriever
    rows, so the full-outer join and the final per-query window run
    on vanishing row counts regardless of corpus size. Output:
    (query_id, <id_col>, rrf_score double, rank int).
    """
    fa = a.select("query_id", id_col, F.col("rank").alias("__ra"))
    fb = b.select("query_id", id_col, F.col("rank").alias("__rb"))
    fused = fa.join(fb, ["query_id", id_col], "full_outer").select(
        "query_id",
        id_col,
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(k0)) + F.col("__ra")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(k0)) + F.col("__rb")),
                F.lit(0.0),
            )
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return fused.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = DEFAULT_TOP_K,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    inlist_max_vocab: int = 2000,
) -> DataFrame:
    """Classical BM25 lexical top-k over a raw text column — the
    exact-statistics counterpart of the reference's learned sparse
    retrieval (BGE-M3 sparse weights feed the same inverted-index/IP
    plan, vector_database/milvus_connector.py:71-74; BM25 replaces the
    model weights with corpus term statistics, so it needs no serving
    boundary and is the standard lexical leg of a hybrid stack).

    score(q, d) = sum over query terms t of
      idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len_d / avgdl))
    with the Lucene idf ln(1 + (N - df + 0.5)/(df + 0.5)) (always
    positive).

    ``query_terms`` is a (query_id, token) table; tokenization is
    lowercase whitespace splitting, matching the corpus-wide token
    ops (textanalysis/topn). Determinism across engines: each
    per-term score is rounded to 6dp and cast DECIMAL(18,6) BEFORE
    the per-document sum, so the sum is exact decimal arithmetic —
    order-insensitive and bit-identical in any engine — and only the
    final total is cast back to double. (A raw double sum would be
    summation-order-dependent; ln() ulp noise is absorbed by the 6dp
    round.)

    Scale shape: the corpus-wide (doc, token) tf relation is NEVER
    materialized, and there is NO corpus-sized join anywhere. Doc
    length rides the exploded token stream as a map-side column
    (``size(split(...))`` computed once per doc before the explode),
    so N and avgdl cost one map-only scan + a 1-row agg, and the
    per-doc length reaches the scorer without joining a corpus-sized
    doclen relation. Non-query tokens are dropped map-side (in-array
    IN-list for small vocabularies, broadcast semi-join past
    ``inlist_max_vocab``) and never shuffle; the pruned postings
    aggregate ONCE into a query-independent (token, doc, tf, dl)
    relation, df rides it as a per-token window count (one row per
    (token, doc), so no second aggregation branch re-running the
    corpus lineage), and only then do the query terms broadcast-join
    in. Every join is broadcast (query terms, the 2-scalar
    crossJoin). Total: two map-only corpus scans + shuffles over
    query-token postings only.
    ``max_doc_freq`` optionally df-prunes hot query tokens (same
    policy as ``sparse_topk_inverted``); stop-term postings are
    otherwise bounded by the query vocabulary, not the corpus one.
    """
    words = F.filter(
        F.split(
            F.trim(F.lower(F.coalesce(text_col, F.lit("")))), r"\s+"
        ),
        lambda s: s != "",
    )
    # prune to the query vocabulary INSIDE the token array, before
    # anything becomes a row: exploding all corpus tokens and probing
    # the broadcast join per token measured 6.5 s at 100k docs where
    # this in-array IN-list filter + explode of matches only is ~1 s.
    # The vocabulary is driver-collected — same "queries are small by
    # contract" rule as _query_matrix (Q terms per request); this
    # makes plan CONSTRUCTION run one tiny Spark job. An empty query
    # set returns the (provably empty) result WITHOUT touching the
    # corpus — no error, no full-corpus explode.
    # ONE driver collect serves both the vocabulary and (for the
    # map-side path) the per-query token lists: a separate
    # distinct().collect() costs a full shuffle job (~0.5 s of pure
    # scheduling at any scale) for a relation that is small by
    # contract.
    qrows = [
        (r["query_id"], r["token"])
        for r in query_terms.select("query_id", "token").collect()
    ]
    vocab = list(dict.fromkeys(t for _, t in qrows))
    if not vocab:
        empty_schema = T.StructType(
            [
                T.StructField(
                    "query_id", query_terms.schema["query_id"].dataType
                ),
                T.StructField("doc_id", docs.schema[id_col].dataType),
                T.StructField("score", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return docs.sparkSession.createDataFrame([], empty_schema)
    # (dl, hits) are packed into a struct in their OWN projection
    # below the Generate: columns that ride alongside an explode are
    # otherwise re-evaluated per OUTPUT row, so `size(split(text))`
    # was re-running the tokenizer once per emitted token — the
    # struct barrier precomputes both once per document (measured
    # 3.5x on the token stage at 100k docs, r7)
    fused_max_vocab = 64
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    spark = docs.sparkSession

    if len(vocab) <= fused_max_vocab:
        # Fully MAP-SIDE scoring (r8): with a bounded query
        # vocabulary nothing relational is needed until the final
        # top-k. Per-token tf is counted INSIDE the hit array; df and
        # N/avgdl are V+2 scalar aggregates over ONE shared corpus
        # pass (the packed (dl, hits) projection is exchanged once
        # and reused by both the scalar agg and the scorer —
        # ReuseExchange — so the tokenizer runs once per document,
        # period); each query's score is a per-row expression over
        # the staged tf struct and the broadcast scalars. The ONLY
        # data-sized shuffles left are the packed respread and the
        # per-query rank window (docs-with-hits × Q rows). The r7
        # relational plan at 100k docs spent ~0.7 s shuffling 1.08M
        # postings into tf and ~0.6 s re-aggregating them per query;
        # both are gone.
        qid_type = query_terms.schema["query_id"].dataType
        hits = F.filter(words, lambda s: s.isin(*vocab))
        # corpus statistics collected to the driver as ONE row of
        # V+2 scalars (n_docs, avgdl, per-token df) — the same
        # bounded-collect contract as the vocabulary itself and
        # auto_join's 1-row pre-flight sketch. Inlining them as plan
        # literals (idf even folds to a Python constant) removes the
        # broadcast build, the crossJoin, and a whole plan branch
        # from the hot job; the stats pass is one map-side-combined
        # scalar aggregation over the corpus.
        # the dl>0 restriction lives INSIDE the aggregates (not a
        # Filter node): a pushed-down filter re-evaluates the
        # tokenizer in its own stage, outside the projection's
        # common-subexpression elimination. Empty-hit docs
        # contribute 0 to every df sum, so only n_docs/avgdl need
        # the conditional.
        stats = (
            docs.select(
                F.size(words).alias("dl"), hits.alias("__h")
            )
            .agg(
                F.sum(
                    (F.col("dl") > 0).cast("long")
                ).alias("n_docs"),
                F.sum("dl").alias("sum_dl"),
                *[
                    F.sum(
                        F.array_contains("__h", tok).cast("long")
                    ).alias(f"__df_{i}")
                    for i, tok in enumerate(vocab)
                ],
            )
            .first()
        )
        if not stats or not stats["n_docs"]:
            return docs.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("query_id", qid_type),
                        T.StructField(
                            "doc_id", docs.schema[id_col].dataType
                        ),
                        T.StructField("score", T.DoubleType()),
                        T.StructField("rank", T.IntegerType()),
                    ]
                ),
            )
        n_docs = int(stats["n_docs"])
        avgdl = float(stats["sum_dl"]) / n_docs
        dfs = {
            tok: int(stats[f"__df_{i}"] or 0)
            for i, tok in enumerate(vocab)
        }
        # stage per-token tf counts once (struct barrier: each tf is
        # referenced by every query carrying the token, and norm by
        # every pair — inlined they would recount per reference)
        slot = {tok: i for i, tok in enumerate(vocab)}

        def _tok_count(tok: str):
            # closure factory, NOT a default-arg lambda: a 2-param
            # lambda would make pyspark's HOF introspection pass the
            # element INDEX as the second argument
            return F.size(
                F.filter(F.col("__p.hits"), lambda x: x == tok)
            )

        # conditional respread of the RAW docs, not an unconditional
        # shuffle of the packed projection: the old
        # `.repartition(defaultParallelism)` exchanged the packed
        # rows on EVERY call — measured 0.84 s vs 0.45 s for the
        # scoring job at 100k docs on a well-partitioned input (r12)
        # — and, being placed after the projection, it did not even
        # spread the tokenizer (which ran pre-shuffle at input
        # parallelism). ensure_parallelism shuffles only when the
        # scan splits would under-fill the cores, and upstream of
        # the tokenizer when it does.
        from ..util import ensure_parallelism

        packed = ensure_parallelism(docs).select(
            F.col(id_col).alias("doc_id"),
            F.struct(
                F.size(words).alias("dl"), hits.alias("hits")
            ).alias("__p"),
        )
        staged = packed.select(
            "doc_id",
            F.struct(
                *[
                    _tok_count(tok).cast("long").alias(f"t{i}")
                    for i, tok in enumerate(vocab)
                ]
            ).alias("__tf"),
            (
                F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * F.col("__p.dl").cast("double")
                    / F.lit(avgdl)
                )
            ).alias("__norm"),
        )
        import math

        def pair_score(tok: str):
            i = slot[tok]
            df_t = dfs[tok]
            if max_doc_freq is not None and df_t > max_doc_freq:
                # df-pruned tokens contribute nothing (same semantics
                # as the relational dfreq filter)
                return F.lit(0).cast("long")
            # idf is a pure function of the collected stats: fold it
            # to a constant (ln ulp differences vs any engine are
            # absorbed by the 6dp round, as for the relational path)
            idf_t = math.log(
                1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)
            )
            tfd = F.col(f"__tf.t{i}").cast("double")
            # 6dp-round then snap to a scaled long: summing exact
            # integers is the same exact arithmetic as a
            # DECIMAL(18,6) sum (exact rational, one correctly-
            # rounded double conversion at the end), order-free and
            # engine-exact. tf=0 contributes exactly 0.
            return F.round(
                F.round(
                    F.lit(idf_t)
                    * tfd
                    * F.lit(k1 + 1.0)
                    / (tfd + F.col("__norm")),
                    6,
                )
                * F.lit(1e6),
                0,
            ).cast("long")

        def pair_hits(tok: str):
            # df-pruned tokens are NOT hits either: a doc matching
            # only pruned tokens must emit no row (relational-path
            # semantics, where the dfreq filter drops its postings)
            if max_doc_freq is not None and dfs[tok] > max_doc_freq:
                return F.lit(0).cast("long")
            return F.col(f"__tf.t{slot[tok]}")

        qids = list(dict.fromkeys(q for q, _ in qrows))
        per_q = F.array(
            *[
                F.struct(
                    F.lit(qid).cast(qid_type).alias("query_id"),
                    sum(
                        (pair_score(t) for q, t in qrows if q == qid),
                        F.lit(0).cast("long"),
                    ).alias("s"),
                    sum(
                        (pair_hits(t) for q, t in qrows if q == qid),
                        F.lit(0).cast("long"),
                    ).alias("h"),
                )
                for qid in qids
            ]
        )
        scored = (
            staged.select("doc_id", F.explode(per_q).alias("__q"))
            .filter(F.col("__q.h") > 0)
            .select(
                F.col("__q.query_id").alias("query_id"),
                "doc_id",
                (F.col("__q.s") / F.lit(1e6)).alias("score"),
            )
        )
        return scored.withColumn(
            "rank", F.row_number().over(w)
        ).filter(F.col("rank") <= k)

    # ---- relational paths (large vocabularies) ----
    if len(vocab) <= inlist_max_vocab:
        hits = F.filter(words, lambda s: s.isin(*vocab))
        packed = docs.select(
            F.col(id_col).alias("doc_id"),
            F.struct(
                F.size(words).alias("dl"), hits.alias("hits")
            ).alias("__p"),
        )
        # in-array tf: count each distinct hit token inside the
        # array instead of exploding raw hits into a (token, doc)
        # groupBy — the pruned-postings shuffle disappears, the
        # explode emits one already-aggregated row per
        # (doc, distinct token). hits is small by construction
        # (query-vocab tokens only).
        tf_pairs = F.transform(
            F.array_distinct(F.col("__p.hits")),
            lambda t: F.struct(
                t.alias("token"),
                F.size(
                    F.filter(F.col("__p.hits"), lambda x: x == t)
                ).alias("tf"),
            ),
        )
        tf_dt = packed.select(
            "doc_id",
            F.col("__p.dl").alias("dl"),
            F.explode(tf_pairs).alias("__tp"),
        ).select(
            "doc_id",
            "dl",
            F.col("__tp.token").alias("token"),
            F.col("__tp.tf").cast("long").alias("tf"),
        )
        toks = None
    else:
        # the IN-list compiles one literal per token into codegen; a
        # huge vocabulary would blow Janino's 64KB method limit (and
        # the driver-side plan). Past ~2k tokens fall back to the
        # explode + broadcast-semi-join plan: still map-side pruning
        # (broadcast hash probe per token), just not in-array.
        packed = docs.select(
            F.col(id_col).alias("doc_id"),
            F.struct(
                F.size(words).alias("dl"), words.alias("hits")
            ).alias("__p"),
        )
        toks = packed.select(
            "doc_id",
            F.col("__p.dl").alias("dl"),
            F.explode("__p.hits").alias("token"),
        ).join(
            F.broadcast(query_terms.select("token").distinct()),
            "token",
            "left_semi",
        )
    scal = (
        docs.select(F.size(words).alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
    )
    if toks is not None:
        # semi-join path: tf per (token, doc) BEFORE the query join —
        # tf/df/dl are query-independent, so aggregating after the qt
        # join (r7 shape) inflated the pre-agg relation by the number
        # of queries sharing each token. The agg's own exchange on
        # (token, doc_id) is shared by the df branch below via
        # ReuseExchange, so the corpus scan/explode runs once.
        tf_dt = toks.groupBy("token", "doc_id").agg(
            F.count("*").alias("tf"),
            # dl is functionally dependent on doc_id; min() is exact
            F.min("dl").alias("dl"),
        )
    else:
        # in-array tf path with a large vocab: materialize ONE shared
        # exchange so the df aggregate and the scorer both read it
        # (ReuseExchange) instead of each re-running the corpus scan;
        # the exchange moves pruned postings only
        tf_dt = tf_dt.repartition("token", "doc_id")
    dfreq = tf_dt.groupBy("token").agg(F.count("*").alias("df"))
    if max_doc_freq is not None:
        dfreq = dfreq.filter(F.col("df") <= max_doc_freq)
    term = (
        tf_dt.join(F.broadcast(dfreq), "token")
        .join(
            F.broadcast(query_terms.select("query_id", "token")),
            "token",
        )
        .crossJoin(F.broadcast(scal))
    )
    idf = F.log(
        F.lit(1.0)
        + (
            F.col("n_docs").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    # same scaled-long exact sum as the map-side path
    term_score = F.round(
        F.round(idf * tf_d * F.lit(k1 + 1.0) / (tf_d + norm), 6)
        * F.lit(1e6),
        0,
    ).cast("long")
    scored = (
        term.select("query_id", "doc_id", term_score.alias("__ts"))
        .groupBy("query_id", "doc_id")
        .agg((F.sum("__ts") / F.lit(1e6)).alias("score"))
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def explode_sparse(
    df: DataFrame, sparse_col: str, id_col: str, id_alias: str = "doc_id"
) -> DataFrame:
    """map<int,float> -> (id, token, weight) posting rows."""
    return df.select(
        F.col(id_col).alias(id_alias),
        F.explode(F.col(sparse_col)).alias("token", "weight"),
    )


def rerank(
    pairs: DataFrame,
    colbert_col: str = "colbert_score",
    sparse_col: str = "sparse_score",
    dense_col: str = "dense_score",
) -> DataFrame:
    """V6/J5: weighted fusion 0.4*colbert + 0.2*sparse + 0.4*dense over
    (query, passage) score columns, ranked per query."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("passage_id")
    )
    return pairs.withColumn(
        "score",
        F.round(
            rerank_fusion(
                F.col(colbert_col), F.col(sparse_col), F.col(dense_col)
            ),
            6,
        ),
    ).withColumn("rank", F.row_number().over(w))


def rerank_texts(
    pairs: DataFrame,
    query_col: str = "query",
    passage_col: str = "passage",
    query_id: str = "query_id",
    passage_id: str = "passage_id",
    client_kind: str = "mock",
) -> DataFrame:
    """J5/V6 full path: (query, passage) TEXT pairs → model scores →
    0.4/0.2/0.4 fusion → per-query rank. The reference posts the raw
    pairs to the m3 server which returns colbert/sparse/dense scores
    and fuses server-side (baai_m3_simple_server/m3_server.py:41-49);
    here the model call is one Arrow-batched mapInPandas stage with
    the same pluggable client pattern as the embedder (deterministic
    mock in this container; truncation limits max_q 256 / max_passage
    10000 chars applied as in m3_server.py:17).
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np

    if client_kind != "mock":
        raise NotImplementedError(
            "live rerank model not available in this container"
        )

    out_schema = T.StructType(
        list(pairs.schema.fields)
        + [
            T.StructField("colbert_score", T.DoubleType(), False),
            T.StructField("sparse_score", T.DoubleType(), False),
            T.StructField("dense_score", T.DoubleType(), False),
        ]
    )

    def _score(q: str, p: str, salt: int) -> float:
        # deterministic pseudo-score in [0,1) from the truncated pair,
        # md5-derived (first 15 hex chars = 60 bits / 2^60) so a SQL
        # oracle can reproduce the whole fusion end-to-end
        h = hashlib.md5(
            f"{salt}|{(q or '')[:256]}|{(p or '')[:10000]}".encode()
        ).hexdigest()
        return int(h[:15], 16) / 2**60

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scores = {
                name: np.array(
                    [
                        _score(q, p, salt)
                        for q, p in zip(pdf[query_col], pdf[passage_col])
                    ]
                )
                for salt, name in (
                    (1, "colbert_score"),
                    (2, "sparse_score"),
                    (3, "dense_score"),
                )
            }
            yield pdf.assign(**scores)

    scored = pairs.mapInPandas(run, out_schema)
    w = Window.partitionBy(query_id).orderBy(
        F.desc("score"), F.asc(passage_id)
    )
    return scored.withColumn(
        "score",
        F.round(
            rerank_fusion(
                F.col("colbert_score"),
                F.col("sparse_score"),
                F.col("dense_score"),
            ),
            6,
        ),
    ).withColumn("rank", F.row_number().over(w))


def point_query(
    chunks: DataFrame, expr: str, output_fields: list[str]
) -> DataFrame:
    """K6-era point query: Milvus boolean-expr filter → Spark SQL expr
    (a superset). E.g. expr='file_id == 42' (milvus_connector.py:155-165)."""
    return chunks.filter(F.expr(expr)).select(*output_fields)


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011: "Product Quantization
# for Nearest Neighbor Search") — the byte-budget ANN path completing the
# int8-scalar-quantized scan (4 bytes/dim -> 1) and IVF (pruned lists):
# PQ stores m BYTES per vector regardless of dim (128x smaller than
# float32 at the 1024-dim contract width with m=8), and scores queries
# against codes via an asymmetric-distance lookup table (ADC) — one
# (m x ksub) LUT per query, score = sum of m byte-indexed lookups.
# ---------------------------------------------------------------------------


def _auto_pq_m(dim: int) -> int:
    """Width-aware default PQ segment count: target max(16, dim//16)
    bytes — bytes/dim >= 1/16, the budget the committed m-sweep
    measures as usable (dim-1024 refined recall@5: 0.13 at m=16 but
    0.9 at m=64+refine; the byte budget, not the algorithm, is the
    recall knob) — clamped to the largest divisor of ``dim`` so
    subspaces stay equal-width, and to ``dim`` itself for tiny
    vectors."""
    target = min(dim, max(16, dim // 16))
    return max(d for d in range(1, target + 1) if dim % d == 0)


def _resolve_pq_m(dim: int, m: int | None) -> int:
    """Resolve an explicit-or-default m against the vector width, and
    warn loudly when an EXPLICIT m underspends the byte budget
    (bytes/dim < 1/32): a defaults-era caller at dim 1024 silently
    got the measured-inadequate 8-byte point (r15 verdict #3)."""
    import warnings

    if m is None:
        return _auto_pq_m(dim)
    if m * 32 < dim:
        warnings.warn(
            f"PQ m={m} spends {m} bytes on dim-{dim} vectors "
            f"(bytes/dim < 1/32): the committed m-sweep measures "
            f"refined recall@5 ~0.07-0.13 at this budget on hard "
            f"fixtures; use m~dim//16 (the auto default when m is "
            f"omitted), raise refine_k, or prefer SQ8 at this width",
            RuntimeWarning,
            stacklevel=4,
        )
    return m


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int | None = None,
    nbits: int = 8,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
) -> "np.ndarray":
    """Train PQ codebooks: split the vector into ``m`` subspaces and
    k-means each to ``2**nbits`` centroids. ``m=None`` (the default)
    resolves width-aware to ``max(16, dim//16)`` bytes — see
    ``_auto_pq_m``; an explicit under-budget m warns. ONE bounded
    spread sample feeds all m sub-quantizers (the IVF trainer's
    sampling contract — heads of every partition, never a full pass),
    each trained with the shared fixed-iteration Lloyd at seed+j so
    the codebooks are deterministic. Returns an (m, ksub, dsub)
    float64 array."""
    import numpy as np

    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in 1..8 (codes are one byte)")
    ksub = 1 << nbits
    X = _spread_sample(
        corpus,
        vec_col,
        train_cap if train_cap is not None else max(ksub * 50, 256),
        seed,
        train_fraction,
        n_corpus,
    )
    dim = X.shape[1]
    m = _resolve_pq_m(dim, m)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    # the m sub-fits run as parallel tasks (bit-identical to the old
    # serial driver loop - see _fit_pq_books)
    return _fit_pq_books(
        X, m, ksub, seed, sc=corpus.sparkSession.sparkContext
    )


def _pa_codes(arr, m: int) -> "np.ndarray":
    """(n, m) uint8 code matrix straight off a BinaryArray's buffers —
    the code twin of _pa_matrix (no per-row Python bytes objects)."""
    import numpy as np

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("code column contains NULLs")
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    if not (np.diff(offs) == m).all():
        raise ValueError(f"code column rows are not {m} bytes")
    vals = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return vals[offs[0] : offs[0] + len(arr) * m].reshape(len(arr), m)


def pq_encode(
    corpus: DataFrame,
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to m-byte PQ codes — MAP-ONLY Arrow kernel, one
    (batch x ksub) BLAS matmul per subspace per batch; output is a
    binary column of exactly m bytes per row (the persistable ANN
    index payload: 8 bytes replace 4 KB at dim=1024/m=8).

    Output: (<corpus_id>, <code_col> binary)."""
    import numpy as np

    mm, ksub, dsub = codebooks.shape
    if ksub > 256:
        # hand-built codebooks bypass pq_train's nbits check; >256
        # centroids would silently wrap in the uint8 argmin cast
        raise ValueError(f"codebooks have {ksub} centroids; max 256")
    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)
    cid_type = corpus.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField(corpus_id, cid_type, False),
            T.StructField(code_col, T.BinaryType(), False),
        ]
    )

    def encode(batches):
        # float32 kernel: the assignment argmin is tie-stable enough
        # for codes (FAISS encodes in fp32 for the same reason) and
        # the (batch × ksub) matmuls run ~2× faster than fp64 — the
        # encode pass is the index build's wall clock at scale
        books = bc.value.astype(np.float32)
        c2 = [(books[j] ** 2).sum(axis=1) for j in range(mm)]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _pa_matrix(
                rb.column(rb.schema.get_field_index(vec_col)),
                dtype=np.float32,
            )
            n = X.shape[0]
            codes = np.empty((n, mm), dtype=np.uint8)
            for j in range(mm):
                Xj = X[:, j * dsub : (j + 1) * dsub]
                # argmin of ||x-c||^2 == argmin of c2 - 2 x.c
                d = c2[j][None, :] - np.float32(2.0) * (Xj @ books[j].T)
                codes[:, j] = d.argmin(axis=1).astype(np.uint8)
            flat = codes.reshape(-1)
            offsets = np.arange(0, (n + 1) * mm, mm, dtype=np.int32)
            code_arr = pa.BinaryArray.from_buffers(
                pa.binary(),
                n,
                [None, pa.py_buffer(offsets), pa.py_buffer(flat)],
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index(corpus_id)), code_arr],
                names=[corpus_id, code_col],
            )

    return corpus.select(corpus_id, vec_col).mapInArrow(
        encode, out_schema
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: "np.ndarray",
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    code_col: str = "pq_code",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over PQ codes by asymmetric distance (ADC):
    per query, ONE (m x ksub) lookup table of subspace distances (L2)
    or inner products (IP) against the codebooks; each code row scores
    as m byte-indexed LUT gathers — no float vectors are read at all.
    The scan shape mirrors ``dense_topk`` (per-batch local top-k, one
    tiny global window), so shuffle volume is batches x Q x k rows
    over a corpus whose scanned payload is m BYTES per vector.

    Two-stage exact refinement (the standard PQ recipe): pass
    ``refine`` = the float-vector DataFrame and ``refine_k`` > k —
    stage 1 takes refine_k ADC candidates, stage 2 re-scores exactly
    those rows via an equi-join back to the float column (same
    candidates-join shape as ``dense_topk_quantized``) and re-ranks.

    Output: (query_id, <corpus_id>, score double, rank int); score is
    the ADC estimate (unrefined) or the exact metric (refined)."""
    import numpy as np

    metric = metric.upper()
    if metric not in ("L2", "IP"):
        raise ValueError(f"unknown metric {metric!r}; use L2|IP")
    mm, ksub, dsub = codebooks.shape
    if ksub > 256:
        # one-byte codes can only index 256 centroids (pq_encode's
        # guard, repeated here for codebooks built elsewhere)
        raise ValueError(f"codebooks have {ksub} centroids; max 256")
    qids, qmat = _query_matrix(queries, query_id, query_vec)
    if qmat.shape[1] != mm * dsub:
        raise ValueError(
            f"query dim {qmat.shape[1]} != codebook dim {mm * dsub}"
        )
    # (Q, m, ksub) LUTs: subspace squared distances / inner products
    luts = np.empty((len(qids), mm, ksub), dtype=np.float64)
    for j in range(mm):
        Qj = qmat[:, j * dsub : (j + 1) * dsub]
        ips = Qj @ codebooks[j].T  # (Q, ksub)
        if metric == "IP":
            luts[:, j, :] = ips
        else:
            luts[:, j, :] = (
                (Qj**2).sum(axis=1, keepdims=True)
                + (codebooks[j] ** 2).sum(axis=1)[None, :]
                - 2.0 * ips
            )
    bc = codes.sparkSession.sparkContext.broadcast((qids, luts))
    kk1 = max(k, refine_k or 0)
    descending = metric == "IP"

    qid_field = queries.schema[query_id].dataType
    cid_field = codes.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_field, False),
            T.StructField(corpus_id, cid_field, False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa = to_arrow_type(qid_field)
    jidx = np.arange(mm)

    def local_topk(batches):
        qids_b, luts_b = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _pa_codes(
                rb.column(rb.schema.get_field_index(code_col)), mm
            )
            ids = rb.column(rb.schema.get_field_index(corpus_id))
            ids_np = ids.to_numpy(zero_copy_only=False)
            kk = min(kk1, rb.num_rows)
            qcol, icol, scol = [], [], []
            for qi in range(len(qids_b)):
                s = luts_b[qi][jidx[None, :], C].sum(axis=1)
                if metric == "L2":
                    s = np.sqrt(np.maximum(s, 0.0))
                idx = _topk_indices(-s if descending else s, ids_np, kk)
                qcol.extend([qids_b[qi]] * len(idx))
                icol.append(ids.take(pa.array(idx)))
                scol.append(s[idx])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qcol, type=qid_pa),
                    pa.concat_arrays(icol),
                    pa.array(np.concatenate(scol), type=pa.float64()),
                ],
                names=["query_id", corpus_id, "score"],
            )

    local = codes.select(corpus_id, code_col).mapInArrow(
        local_topk, out_schema
    )
    order = F.desc if descending else F.asc
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    approx = local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= kk1
    )
    if refine is None:
        return approx.filter(F.col("rank") <= k)
    return _exact_rerank(
        approx, refine, queries, metric, k,
        corpus_id, query_id, query_vec, vec_col, w,
    )


def _exact_rerank(
    approx: DataFrame,
    refine: DataFrame,
    queries: DataFrame,
    metric: str,
    k: int,
    corpus_id: str,
    query_id: str,
    query_vec: str,
    vec_col: str,
    w,
) -> DataFrame:
    """Stage-2 exact re-rank shared by the ADC searches (flat PQ and
    IVFADC): broadcast the bounded (Q × refine_k)-row candidate set
    into the float corpus, score with the vectorized pair kernel,
    re-rank with the same per-query window."""
    cand = approx.select("query_id", corpus_id)
    qvecs = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
    )
    scored = (
        refine.select(corpus_id, vec_col)
        .join(F.broadcast(cand), corpus_id)
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            corpus_id,
            _pair_score_udf(metric)(F.col(vec_col), F.col("__qv")).alias(
                "score"
            ),
        )
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# Persisted PQ index lifecycle (build / load / search / upsert — parity
# with the IVF lifecycle above) and the IVFADC composition (Jégou et
# al. 2011 §IV): coarse quantizer routes each vector to one of nlist
# inverted lists, PQ encodes the RESIDUAL vector - centroid, and
# queries run ADC only inside their nprobe probed lists — the recipe
# that turns the flat code scan into an nprobe/nlist-bounded one at
# billion scale while keeping m bytes/vector.
# ---------------------------------------------------------------------------


def _write_pq_codebooks(
    spark, index_path: str, codebooks: "np.ndarray"
) -> None:
    """Persist (m, ksub, dsub) codebooks as a tiny parquet —
    (sub, code, centroid) rows, m×ksub of them — the PQ twin of the
    IVF centroids store."""
    import numpy as np

    # r18: Arrow table instead of m x ksub pickled Python rows — the
    # row spelling cost 6-8 s per build at m=64 (262k float() calls +
    # per-row pickling), which was the hidden majority of every
    # PQ/OPQ/IVFADC build wall after the Lloyd fits were distributed
    # (guide S6 "Arrow for driver transfers"). Same rows, same order,
    # same float64 bits land in the parquet.
    mm, ksub, dsub = codebooks.shape
    n = mm * ksub
    flat = pa.array(
        np.ascontiguousarray(codebooks, dtype=np.float64).reshape(-1)
    )
    offsets = pa.array(
        np.arange(0, (n + 1) * dsub, dsub, dtype=np.int32)
    )
    tbl = pa.table(
        {
            "sub": pa.array(
                np.repeat(np.arange(mm, dtype=np.int32), ksub)
            ),
            "code": pa.array(
                np.tile(np.arange(ksub, dtype=np.int32), mm)
            ),
            "centroid": pa.ListArray.from_arrays(offsets, flat),
        }
    )
    spark.createDataFrame(tbl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_crel(index_path, "pq_codebooks"))


def load_pq_codebooks(spark, index_path: str) -> "np.ndarray":
    """Load persisted PQ codebooks back to the (m, ksub, dsub) float64
    array (m×ksub rows — driver-side by size, like IVF centroids)."""
    # rows scatter to [sub, code] below, so no sort is needed
    tbl = _load_small(spark, index_path, "pq_codebooks", _PQ_BOOKS_DDL)
    sub = tbl.column("sub").to_numpy()
    code = tbl.column("code").to_numpy()
    mm = 1 + int(sub.max())
    ksub = 1 + int(code.max())
    cent = _pa_matrix(tbl.column("centroid"), dtype=np.float64)
    dsub = cent.shape[1]
    books = np.empty((mm, ksub, dsub), dtype=np.float64)
    books[sub, code] = cent
    return books


def build_pq_index(
    corpus: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    m: int | None = None,
    nbits: int = 8,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
) -> tuple[int, int]:
    """Persisted flat-PQ index build — the train-once contract the
    reference's index DDL has (milvus_connector.py:65-69: the index is
    created once; searches and inserts never retrain):

    - ``<index_path>/pq_codebooks.parquet`` — (sub, code, centroid),
      m×ksub rows, loaded to the driver at search time;
    - ``<index_path>/codes.parquet`` — (corpus_id, pq_code binary),
      m BYTES per vector, ONE map-only Arrow pass at build time so
      searches scan codes without ever touching the float column.

    Returns (m, ksub)."""
    books = pq_train(
        corpus, vec_col, m, nbits, seed, train_fraction, n_corpus,
        train_cap,
    )
    _write_pq_codebooks(corpus.sparkSession, index_path, books)
    pq_encode(corpus, books, vec_col, corpus_id).write.mode(
        "overwrite"
    ).parquet(_crel(index_path, "codes"))
    return books.shape[0], books.shape[1]


@_pin
def upsert_pq_index(
    index_path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> int:
    """Incremental PQ maintenance: encode a batch of NEW vectors with
    the EXISTING codebooks and append their code rows — no retrain,
    no re-encode of the existing corpus (the IVF upsert contract;
    quantizer drift on novel clusters is the same documented tradeoff
    until the next build). Returns the number of rows appended."""
    spark = new_vectors.sparkSession
    books = load_pq_codebooks(spark, index_path)
    return _append_codes(
        pq_encode(new_vectors, books, vec_col, corpus_id), index_path
    )


@_pin
def pq_topk_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Search against a ``build_pq_index`` store: codebooks load to
    the driver (m×ksub rows), the code column is scanned with ADC —
    byte-identical plan shape to inline ``pq_topk`` (the equivalence
    is asserted in tests), the float corpus only appears if
    ``refine`` is passed. ``allowed_ids`` applies the Milvus-style
    scalar PRE-filter on the code scan (see ``_apply_allowed``)."""
    books = load_pq_codebooks(spark, index_path)
    codes = _apply_allowed(
        spark.read.parquet(_crel(index_path, "codes")),
        allowed_ids, corpus_id,
    )
    return pq_topk(
        codes,
        queries,
        books,
        k=k,
        metric=metric,
        corpus_id=corpus_id,
        query_id=query_id,
        query_vec=query_vec,
        refine=refine,
        refine_k=refine_k,
        vec_col=vec_col,
    )


def _train_ivfadc(
    corpus: DataFrame,
    vec_col: str,
    nlist: int,
    m: int | None,
    nbits: int,
    seed: int,
    train_fraction: float | None,
    n_corpus: int | None,
    train_cap: int | None = None,
):
    """Train the IVFADC pair (coarse centroids, residual PQ codebooks)
    off ONE bounded spread sample: Lloyd for the coarse quantizer,
    then per-subspace Lloyd over the sample's RESIDUALS (vector −
    nearest centroid) — residual energy is what the sub-quantizers
    must cover (Jégou et al. 2011 §IV.A); PQ trained on raw vectors
    would waste its 2^nbits cells re-describing the coarse structure.
    Returns (centroids (nlist_eff, dim), codebooks (m, ksub, dsub))."""
    import numpy as np

    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in 1..8 (codes are one byte)")
    ksub = 1 << nbits
    X = _spread_sample(
        corpus,
        vec_col,
        train_cap
        if train_cap is not None
        else max(nlist * 50, ksub * 50, 256),
        seed,
        train_fraction,
        n_corpus,
    )
    dim = X.shape[1]
    m = _resolve_pq_m(dim, m)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    cent = _lloyd(X, nlist, seed)
    d2 = (cent**2).sum(axis=1)[None, :] - 2.0 * (X @ cent.T)
    R = X - cent[d2.argmin(axis=1)]
    books = _fit_pq_books(
        R, m, ksub, seed, sc=corpus.sparkSession.sparkContext
    )
    return cent, books


def _write_ivf_meta(spark, index_path: str, metric: str) -> None:
    """Persist the index metric (the FAISS/Milvus index-metric
    contract): list ASSIGNMENT must follow it at build AND upsert, or
    high-IP vectors get L2-assigned to lists the IP probe ranks low
    (r14 ADVICE). One tiny single-row parquet."""
    spark.createDataFrame(
        [(metric,)], _IVF_META_DDL
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "ivf_meta")
    )


def _load_ivf_meta(spark, index_path: str) -> str:
    """Index metric off the meta store; stores built before the meta
    existed assigned by L2 — that stays their contract. Only a
    MISSING meta store falls back to L2 (checked explicitly, like
    ``_index_exists``); a genuine read error propagates — swallowing
    it would silently reroute an IP store's upsert/rebalance
    assignment to L2 with no signal (r15 ADVICE)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(_crel(index_path, "ivf_meta"))
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return "L2"
    tbl = _load_small(spark, index_path, "ivf_meta", _IVF_META_DDL)
    return str(tbl.column("metric")[0].as_py())


def _ivfadc_encode(
    corpus: DataFrame,
    cent: "np.ndarray",
    books: "np.ndarray",
    vec_col: str,
    corpus_id: str,
    metric: str = "L2",
) -> DataFrame:
    """ONE map-only Arrow pass: centroid assignment under the INDEX
    metric (L2 → nearest, IP → max inner product, the FAISS
    IndexIVF assignment contract), residual, and m-byte residual-PQ
    code per vector — the coarse matmul and the m subspace matmuls
    run per batch, codes built zero-copy off Arrow buffers (the
    pq_encode kernel plus the routing column).

    Output: (<corpus_id>, list_id int, pq_code binary)."""
    import numpy as np

    mm, ksub, dsub = books.shape
    bc = corpus.sparkSession.sparkContext.broadcast((cent, books))
    cid_type = corpus.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField(corpus_id, cid_type, False),
            T.StructField("list_id", T.IntegerType(), False),
            T.StructField("pq_code", T.BinaryType(), False),
        ]
    )

    def encode(batches):
        # fp32 for the same reason as pq_encode: the route + residual
        # + m assignment matmuls are the build pass's wall clock
        cent_b = bc.value[0].astype(np.float32)
        books_b = bc.value[1].astype(np.float32)
        cm = cent_b.T
        c2 = (cent_b**2).sum(axis=1)
        b2 = [(books_b[j] ** 2).sum(axis=1) for j in range(mm)]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _pa_matrix(
                rb.column(rb.schema.get_field_index(vec_col)),
                dtype=np.float32,
            )
            n = X.shape[0]
            if metric == "IP":
                a = (X @ cm).argmax(axis=1)
            else:
                a = (c2[None, :] - np.float32(2.0) * (X @ cm)).argmin(
                    axis=1
                )
            R = X - cent_b[a]
            codes = np.empty((n, mm), dtype=np.uint8)
            for j in range(mm):
                Rj = R[:, j * dsub : (j + 1) * dsub]
                d = b2[j][None, :] - np.float32(2.0) * (Rj @ books_b[j].T)
                codes[:, j] = d.argmin(axis=1).astype(np.uint8)
            offsets = np.arange(0, (n + 1) * mm, mm, dtype=np.int32)
            code_arr = pa.BinaryArray.from_buffers(
                pa.binary(),
                n,
                [None, pa.py_buffer(offsets), pa.py_buffer(codes.reshape(-1))],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index(corpus_id)),
                    pa.array(a.astype(np.int32), type=pa.int32()),
                    code_arr,
                ],
                names=[corpus_id, "list_id", "pq_code"],
            )

    return corpus.select(corpus_id, vec_col).mapInArrow(
        encode, out_schema
    )


def build_ivfadc_index(
    corpus: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    nlist: int = 64,
    m: int | None = None,
    nbits: int = 8,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
    metric: str = "L2",
) -> tuple[int, int]:
    """Persisted IVFADC index build (Jégou et al. 2011 §IV — the
    billion-scale composition the reference's FLAT Milvus index would
    graduate to): coarse quantizer routes each vector to one of
    ``nlist`` inverted lists, PQ encodes the residual in m bytes.
    ``metric`` is the INDEX metric: list assignment follows it at
    build and upsert (IP stores assign by max inner product — the
    FAISS/Milvus contract; an L2-assigned store under an IP probe
    under-recalls on unnormalized corpora), it's recorded in
    ``ivf_meta.parquet``, and searches may still score either metric
    (assignment only shapes recall at low nprobe, never scores).

    - ``<index_path>/centroids.parquet``    — (list_id, centroid);
    - ``<index_path>/pq_codebooks.parquet`` — (sub, code, centroid),
      trained on residuals;
    - ``<index_path>/codes.parquet``        — (corpus_id, pq_code),
      PARTITIONED BY list_id: a search probing nprobe lists prunes to
      those partitions at the parquet layer — scanned bytes per query
      ~ nprobe/nlist × m bytes/vector, the two multiplicative
      reductions composed.

    One bounded sample trains both quantizers (``train_cap``
    overrides the default bound — each Lloyd fit is driver-side, so
    deadline-bounded callers trade sample size for wall); ONE
    map-only Arrow pass encodes the corpus. Returns
    (nlist_eff, ksub)."""
    metric = metric.upper()
    if metric not in ("L2", "IP"):
        raise ValueError(f"unknown metric {metric!r}; use L2|IP")
    cent, books = _train_ivfadc(
        corpus, vec_col, nlist, m, nbits, seed, train_fraction,
        n_corpus, train_cap,
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in cent[i]]) for i in range(len(cent))],
        _CENTROIDS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "centroids")
    )
    _write_pq_codebooks(spark, index_path, books)
    _write_ivf_meta(spark, index_path, metric)
    # r18 (guide S6, small files): repartition by the partition key
    # before the partitioned write — without it every scan task
    # writes a file into every list dir it touches (measured 1662
    # files and 5.4 s at the bench fixture vs 64 files and 3.1 s;
    # probes then open nprobe files instead of nprobe x tasks). The
    # shuffle moves only (id, list_id, m-byte code) rows.
    _ivfadc_encode(
        corpus, cent, books, vec_col, corpus_id, metric
    ).repartition(len(cent), "list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(_crel(index_path, "codes"))
    return len(cent), books.shape[1]


def _load_ivf_centroids(spark, index_path: str) -> "np.ndarray":
    """(nlist, dim) float64 centroid matrix off the tiny store."""
    tbl = _load_small(
        spark, index_path, "centroids", _CENTROIDS_DDL, "list_id"
    )
    return _pa_matrix(tbl.column("centroid"))


@_pin
def upsert_ivfadc_index(
    index_path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> int:
    """Incremental IVFADC maintenance: route + residual-encode a batch
    of NEW vectors with the EXISTING quantizers — assignment under
    the STORE's recorded metric, so IP stores keep max-IP routing
    across upserts — and append into the partitioned code store; no
    retrain, no re-encode (the IVF/PQ upsert contract; quantizer
    drift until the next build is the standard tradeoff). Returns
    the number of rows appended."""
    spark = new_vectors.sparkSession
    cent = _load_ivf_centroids(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    metric = _load_ivf_meta(spark, index_path)
    return _append_codes(
        _ivfadc_encode(new_vectors, cent, books, vec_col, corpus_id, metric),
        index_path,
        nlist=len(cent),
    )


@_pin
def ann_topk_ivfadc(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    nprobe: int = 8,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a ``build_ivfadc_index`` store: nprobe-bounded ADC.
    ``allowed_ids`` applies the Milvus-style scalar PRE-filter on the
    pruned code scan (see ``_apply_allowed``).

    Driver side (all tiny): centroids + codebooks load, each query
    picks its ``nprobe`` nearest lists, and the (m × ksub) lookup
    tables are built per metric's exact decomposition — for L2 one
    table per (query, probed list) over the SHIFTED query q − c_l
    (‖q − (c_l + r)‖² = ‖(q − c_l) − r‖² decomposes over subspaces
    exactly like flat ADC); for IP ONE list-independent table per
    query over the UNSHIFTED query (q·(c_l + r) = q·c_l + q·r — the
    per-list part is entirely in the bias q·c_l, never in the
    residual lookup).

    Cluster side: the code scan reads ONLY the probed list partitions
    (the union of probed lists is a driver-known literal, so the
    ``isin`` filter prunes the partitioned parquet store at planning
    time — asserted in tools/plan_audit.py), each code row scores as
    m byte-indexed gathers against its list's LUT, and each batch
    emits only its local top-k per query before one tiny global
    window — the dense_topk/pq_topk scan contract at
    ~nprobe/nlist × m bytes per corpus vector.

    Two-stage exact refinement: pass ``refine`` (the float corpus)
    and ``refine_k`` > k for the standard re-rank of the bounded
    candidate set. Output: (query_id, <corpus_id>, score double,
    rank int)."""
    import numpy as np

    metric = metric.upper()
    if metric not in ("L2", "IP"):
        raise ValueError(f"unknown metric {metric!r}; use L2|IP")
    cent = _load_ivf_centroids(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    mm, ksub, dsub = books.shape
    qids, qmat = _query_matrix(queries, query_id, query_vec)
    if qmat.shape[1] != mm * dsub:
        raise ValueError(
            f"query dim {qmat.shape[1]} != codebook dim {mm * dsub}"
        )
    npb = min(nprobe, len(cent))
    # probe selection follows the INDEX metric (the FAISS/Milvus IVF
    # recipe): L2 probes the nearest centroids, IP probes the largest
    # inner products — an L2 probe under IP would skip the high-norm
    # lists where the max-IP neighbors of an unnormalized corpus live
    if metric == "IP":
        key = -(qmat @ cent.T)
    else:
        key = (cent**2).sum(axis=1)[None, :] - 2.0 * (qmat @ cent.T)
    probes = np.argsort(key, axis=1, kind="stable")[:, :npb].astype(
        np.int32
    )
    probed = sorted({int(x) for x in probes.ravel()})

    nq = len(qids)
    biases = np.zeros((nq, npb), dtype=np.float64)
    if metric == "IP":
        # q·(c_l + r̂) = q·c_l + q·r̂: the residual lookup uses the
        # UNSHIFTED query (list-independent — one (m, ksub) table per
        # query, hoisted out of the probe loop), and the per-list term
        # is exactly the bias q·c_l. Building the lookup from q − c_l
        # would smuggle a code-dependent −c_l·r̂ into every score.
        luts = np.empty((nq, mm, ksub), dtype=np.float64)
        for qi in range(nq):
            for j in range(mm):
                luts[qi, j] = books[j] @ qmat[qi][j * dsub : (j + 1) * dsub]
            for pi in range(npb):
                biases[qi, pi] = float(qmat[qi] @ cent[int(probes[qi, pi])])
    else:
        # L2 decomposes over the SHIFTED query: ‖q − (c_l + r̂)‖² =
        # ‖(q − c_l) − r̂‖², so the table is per (query, probed list).
        luts = np.empty((nq, npb, mm, ksub), dtype=np.float64)
        for qi in range(nq):
            for pi in range(npb):
                shifted = qmat[qi] - cent[int(probes[qi, pi])]
                for j in range(mm):
                    sj = shifted[j * dsub : (j + 1) * dsub]
                    luts[qi, pi, j] = ((sj[None, :] - books[j]) ** 2).sum(
                        axis=1
                    )

    bc = spark.sparkContext.broadcast((qids, probes, luts, biases))
    kk1 = max(k, refine_k or 0)
    descending = metric == "IP"
    codes = spark.read.parquet(_crel(index_path, "codes")).filter(
        F.col("list_id").isin(probed)
    )
    qid_field = queries.schema[query_id].dataType
    cid_field = codes.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_field, False),
            T.StructField(corpus_id, cid_field, False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa = to_arrow_type(qid_field)
    jidx = np.arange(mm)

    def local_topk(batches):
        qids_b, probes_b, luts_b, biases_b = bc.value
        # list_id -> [(qi, pi)] probing it, built ONCE per task: the
        # batch is grouped by list with one argsort instead of the
        # former nq × nprobe boolean scans over every Arrow batch
        # (O(rows log rows) once vs O(nq·nprobe·rows) per batch).
        probe_map: dict[int, list[tuple[int, int]]] = {}
        for qi in range(len(qids_b)):
            for pi in range(probes_b.shape[1]):
                probe_map.setdefault(int(probes_b[qi, pi]), []).append(
                    (qi, pi)
                )
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _pa_codes(
                rb.column(rb.schema.get_field_index("pq_code")), mm
            )
            L = (
                rb.column(rb.schema.get_field_index("list_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int32)
            )
            ids = rb.column(rb.schema.get_field_index(corpus_id))
            ids_np = ids.to_numpy(zero_copy_only=False)
            order = np.argsort(L, kind="stable")
            uniq, starts = np.unique(L[order], return_index=True)
            bounds = np.append(starts, len(order))
            per_q_s: dict[int, list] = {}
            per_q_rows: dict[int, list] = {}
            for ui in range(len(uniq)):
                pairs = probe_map.get(int(uniq[ui]))
                if not pairs:
                    continue
                rows_l = order[bounds[ui] : bounds[ui + 1]]
                Csub = C[rows_l]
                for qi, pi in pairs:
                    lut = luts_b[qi] if metric == "IP" else luts_b[qi, pi]
                    s = (
                        lut[jidx[None, :], Csub].sum(axis=1)
                        + biases_b[qi, pi]
                    )
                    per_q_s.setdefault(qi, []).append(s)
                    per_q_rows.setdefault(qi, []).append(rows_l)
            qcol, icol, scol = [], [], []
            for qi, parts_i in per_q_rows.items():
                s = np.concatenate(per_q_s[qi])
                rows = np.concatenate(parts_i)
                if metric == "L2":
                    s = np.sqrt(np.maximum(s, 0.0))
                kk = min(kk1, len(s))
                sel = _topk_indices(
                    -s if descending else s, ids_np[rows], kk
                )
                take = rows[sel]
                qcol.extend([qids_b[qi]] * len(take))
                icol.append(ids.take(pa.array(take)))
                scol.append(s[sel])
            if not icol:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qcol, type=qid_pa),
                    pa.concat_arrays(icol),
                    pa.array(np.concatenate(scol), type=pa.float64()),
                ],
                names=["query_id", corpus_id, "score"],
            )

    local = _apply_allowed(codes, allowed_ids, corpus_id).select(
        corpus_id, "list_id", "pq_code"
    ).mapInArrow(local_topk, out_schema)
    order = F.desc if descending else F.asc
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    approx = local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= kk1
    )
    if refine is None:
        return approx.filter(F.col("rank") <= k)
    return _exact_rerank(
        approx, refine, queries, metric, k,
        corpus_id, query_id, query_vec, vec_col, w,
    )


# ---------------------------------------------------------------------------
# OPQ — Optimized Product Quantization (Ge, He, Ke, Sun 2013, CVPR:
# "Optimized Product Quantization for Approximate Nearest Neighbor
# Search", the non-parametric OPQ-NP variant): one orthogonal rotation
# R learned so the rotated data's variance spreads evenly across the m
# subspaces before sub-quantization — same m bytes per vector, lower
# quantization error on anisotropic/correlated embeddings (real text
# embeddings are strongly anisotropic), hence better recall at equal
# byte budget. Rotation is distance-preserving (R orthogonal), so L2
# and IP semantics are unchanged in the rotated space.
# ---------------------------------------------------------------------------


def opq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int | None = None,
    nbits: int = 8,
    seed: int = 42,
    n_iter: int = 5,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
):
    """Train (rotation R, PQ codebooks) with OPQ-NP alternation on the
    same bounded spread sample all quantizer training uses: repeat
    [train/assign PQ in the rotated space → solve the orthogonal
    Procrustes problem min_R ‖XR − quantized(XR)‖_F via one SVD of
    XᵀŶ] for ``n_iter`` rounds (Ge et al. 2013 Alg. 2). Deterministic
    for a fixed seed. ``train_cap`` overrides the default sample
    bound (each OPQ round refits all m sub-quantizers on the sample,
    so a deadline-bounded caller can trade sample size for wall —
    the rotation needs far fewer samples than the final codebooks).
    Returns (R (dim, dim) float64, codebooks (m, ksub, dsub)
    float64)."""
    import numpy as np

    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in 1..8 (codes are one byte)")
    ksub = 1 << nbits
    X = _spread_sample(
        corpus, vec_col,
        train_cap if train_cap is not None else max(ksub * 50, 256),
        seed, train_fraction, n_corpus,
    )
    dim = X.shape[1]
    m = _resolve_pq_m(dim, m)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    _sc = corpus.sparkSession.sparkContext

    def _fit_books(Y):
        return _fit_pq_books(Y, m, ksub, seed, sc=_sc)

    def _reconstruct(Y, books):
        out = np.empty_like(Y)
        for j in range(m):
            Yj = Y[:, j * dsub : (j + 1) * dsub]
            d = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (
                Yj @ books[j].T
            )
            out[:, j * dsub : (j + 1) * dsub] = books[j][d.argmin(axis=1)]
        return out

    # no pre-loop _fit_books(X): iteration 1 computes Y = X @ eye — an
    # exact identity (products by 1.0/0.0 are exact) — and refits the
    # identical books, so the old init fit was a bit-for-bit redundant
    # fourth full m×Lloyd pass (~25% of the train wall at n_iter=2)
    R = np.eye(dim)
    for _ in range(n_iter):
        Y = X @ R
        books = _fit_books(Y)
        Yq = _reconstruct(Y, books)
        # orthogonal Procrustes: R = U Vᵀ of the SVD of Xᵀ Ŷ
        U, _, Vt = np.linalg.svd(X.T @ Yq)
        R = U @ Vt
    books = _fit_books(X @ R)
    return R, books


def rotate_vectors(
    df: DataFrame,
    R: "np.ndarray",
    vec_col: str = "embedding",
) -> DataFrame:
    """MAP-ONLY Arrow kernel: replace ``vec_col`` with vec @ R (one
    BLAS matmul per batch) — the OPQ pre-rotation stage. All other
    columns pass through unchanged."""
    import numpy as np

    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(R, dtype=np.float64)
    )
    out_schema = df.schema
    vec_idx = [f.name for f in df.schema.fields].index(vec_col)
    from pyspark.sql.pandas.types import to_arrow_type

    vec_pa = to_arrow_type(df.schema.fields[vec_idx].dataType)

    def rot(batches):
        Rb = bc.value.astype(np.float32)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _pa_matrix(rb.column(vec_idx), dtype=np.float32) @ Rb
            n, dim = X.shape
            # zero-copy list column off the matmul output — a
            # per-row pa.array build measured ~40 s at 55k × 1024
            flat = pa.array(np.ascontiguousarray(X).reshape(-1))
            offsets = pa.array(
                np.arange(0, (n + 1) * dim, dim, dtype=np.int32),
                type=pa.int32(),
            )
            rotated = pa.ListArray.from_arrays(offsets, flat).cast(vec_pa)
            arrs = list(rb.columns)
            arrs[vec_idx] = rotated
            yield pa.RecordBatch.from_arrays(
                arrs, names=[f.name for f in out_schema.fields]
            )

    return df.mapInArrow(rot, out_schema)


def opq_encode(
    corpus: DataFrame,
    R: "np.ndarray",
    codebooks: "np.ndarray",
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode under the OPQ rotation: rotate (map-only) then PQ-encode
    (map-only) — still one fused scan, codes are m bytes."""
    return pq_encode(
        rotate_vectors(corpus, R, vec_col),
        codebooks,
        vec_col,
        corpus_id,
        code_col,
    )


def opq_topk(
    codes: DataFrame,
    queries: DataFrame,
    R: "np.ndarray",
    codebooks: "np.ndarray",
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    code_col: str = "pq_code",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC search over OPQ codes: queries rotate into the code space
    for the LUT stage (R is orthogonal, so rotated-space L2/IP equals
    original-space L2/IP), the exact refine stage — if requested —
    re-scores the bounded candidates with the ORIGINAL query and
    float vectors, exactly like ``pq_topk``'s stage 2."""
    kk1 = max(k, refine_k or 0)
    rq = rotate_vectors(queries, R, query_vec)
    approx = pq_topk(
        codes, rq, codebooks,
        k=kk1 if refine is not None else k,
        metric=metric, code_col=code_col, corpus_id=corpus_id,
        query_id=query_id, query_vec=query_vec,
    )
    if refine is None:
        return approx
    metric = metric.upper()
    descending = metric == "IP"
    order = F.desc if descending else F.asc
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    return _exact_rerank(
        approx, refine, queries, metric, k,
        corpus_id, query_id, query_vec, vec_col, w,
    )


def build_opq_index(
    corpus: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    m: int | None = None,
    nbits: int = 8,
    seed: int = 42,
    n_iter: int = 5,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
) -> tuple[int, int]:
    """Persisted OPQ index build — the rotation is PART of the index
    (Ge et al. 2013: codes are meaningless without the R that
    produced them), so it persists beside the codebooks:

    - ``<index_path>/opq_rotation.parquet`` — (row_idx, row), the
      (dim × dim) orthogonal R, tiny;
    - ``<index_path>/pq_codebooks.parquet`` — trained in the rotated
      space (the flat-PQ store layout, reused);
    - ``<index_path>/codes.parquet`` — m-byte codes of the ROTATED
      vectors, one fused rotate+encode map-only pass.

    Returns (m, ksub)."""
    R, books = opq_train(
        corpus, vec_col, m, nbits, seed, n_iter, train_fraction,
        n_corpus, train_cap,
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in R[i]]) for i in range(len(R))],
        _OPQ_ROTATION_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "opq_rotation")
    )
    _write_pq_codebooks(spark, index_path, books)
    opq_encode(corpus, R, books, vec_col, corpus_id).write.mode(
        "overwrite"
    ).parquet(_crel(index_path, "codes"))
    return books.shape[0], books.shape[1]


def load_opq_rotation(spark, index_path: str) -> "np.ndarray":
    """(dim, dim) float64 rotation off the tiny store."""
    tbl = _load_small(
        spark, index_path, "opq_rotation", _OPQ_ROTATION_DDL, "row_idx"
    )
    return _pa_matrix(tbl.column("row"))


@_pin
def upsert_opq_index(
    index_path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> int:
    """Incremental OPQ maintenance: rotate + encode a NEW batch with
    the EXISTING rotation/codebooks and append — the PQ/IVF upsert
    contract (no retrain; drift until the next build is the standard
    tradeoff). Returns rows appended."""
    spark = new_vectors.sparkSession
    R = load_opq_rotation(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    return _append_codes(
        opq_encode(new_vectors, R, books, vec_col, corpus_id), index_path
    )


@_pin
def opq_topk_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a ``build_opq_index`` store: rotation + codebooks load
    to the driver (both tiny), queries rotate into the code space for
    the ADC stage, exact refine — if requested — re-scores with the
    ORIGINAL query and float vectors (R is orthogonal, so the two
    spaces agree on L2/IP). Byte-identical results to inline
    ``opq_train``+``opq_encode``+``opq_topk`` at the same seed —
    asserted in tests."""
    R = load_opq_rotation(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    codes = _apply_allowed(
        spark.read.parquet(_crel(index_path, "codes")),
        allowed_ids, corpus_id,
    )
    return opq_topk(
        codes, queries, R, books,
        k=k, metric=metric, corpus_id=corpus_id, query_id=query_id,
        query_vec=query_vec, refine=refine, refine_k=refine_k,
        vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the cheap sibling completing the
# quantization menu (int8 symmetric / PQ / OPQ / IVFADC / SQ8): one
# byte PER DIMENSION with per-dimension trained [vmin, vmax] ranges
# (the public FAISS ScalarQuantizer QT_8bit / Milvus IVF_SQ8 recipe) —
# 4x compression with near-exact recall, no codebooks, and ADC scoring
# that is TWO BLAS matmuls per batch via the affine decode identity
# x̂ = vmin + c·s (s = vdiff/255):
#   IP:  q·x̂  = q·vmin + (q∘s)·c
#   L2²: ‖q−x̂‖² = ‖y‖² − 2(y∘s)·c + (s∘s)·(c∘c),   y = q − vmin
# so codes are never decoded to floats row-by-row.
# ---------------------------------------------------------------------------


def _sq8_query_weights(qmat, vmin, vdiff, metric: str):
    """(W (dim, Q), bias (Q,), extra) for the affine ADC identities in
    the section header — shared by the flat and IVF searches so the
    scoring math lives in exactly one place:
    IP → W = (q∘s)ᵀ, bias = q·vmin, extra None;
    L2 → W = (y∘s)ᵀ, bias = ‖y‖², extra = s∘s (y = q − vmin)."""
    s = vdiff / 255.0
    if metric == "IP":
        return (qmat * s[None, :]).T, qmat @ vmin, None
    Y = qmat - vmin[None, :]
    return (Y * s[None, :]).T, (Y**2).sum(axis=1), s**2


def _sq8_code_batch(X, vmin_f, scale_f):
    """uint8 SQ8 codes of a batch: clip(rint((x − vmin) × 255/vdiff),
    0, 255) — the one encode kernel both the flat and the IVF-routed
    passes run. Encode arithmetic is float64 everywhere (callers pass
    float64 X/params): codes are then a pure function of the input
    values, reproducible by any engine's double arithmetic (the SQL
    oracles mirror this expression with ``round_even``), and identical
    between inline and persisted builds. Encode is a one-time map-only
    pass, so the 2× traffic vs float32 never sits on the scan path."""
    import numpy as np

    return np.clip(
        np.rint((X - vmin_f[None, :]) * scale_f[None, :]), 0, 255
    ).astype(np.uint8)


def _apply_allowed(df: DataFrame, allowed_ids, corpus_id: str):
    """Milvus-style scalar PRE-filter for a vector search: restrict
    the scored rows to an id set BEFORE any top-k, so the returned
    neighbors are the best among the allowed — not a post-filtered
    (and possibly short) tail of an unfiltered top-k. ``allowed_ids``
    is a one-column DataFrame; it broadcasts into the code/corpus
    scan as a left-semi join (the bitset-prefilter shape — the
    filter relation is metadata-sized by contract, the corpus-sized
    side never shuffles)."""
    if allowed_ids is None:
        return df
    ids = allowed_ids.select(
        F.col(allowed_ids.columns[0]).alias(corpus_id)
    ).dropDuplicates()
    return df.join(F.broadcast(ids), corpus_id, "left_semi")


def _sq8_symmetric_weights(qmat, vmin, vdiff):
    """(W, bias, extra) casting SYMMETRIC code-space squared-L2 into
    the same (bias − 2·C@W + (C²)@extra) scoring shape the asymmetric
    kernel runs: encode the queries with the corpus quantizer, then
    ‖c_q − c‖² = ‖c_q‖² − 2 c·c_q + ‖c‖², i.e. W = C_qᵀ, bias =
    rowsum(C_q²), extra = 1⃗. Every term is an integer ≤ dim·255²
    (< 2⁵³), so float64 accumulation is EXACT and order-independent —
    the property that lets the DuckDB oracles reproduce the candidate
    set bit-for-bit (the same trick ``dense_topk_quantized``'s
    symmetric mode uses). L2-only by construction."""
    import numpy as np

    scale = 255.0 / vdiff
    CQ = _sq8_code_batch(
        qmat.astype(np.float64), vmin, scale
    ).astype(np.float64)
    return CQ.T, (CQ**2).sum(axis=1), np.ones(len(vmin))


def sq8_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
):
    """Train per-dimension (vmin, vdiff) off ONE bounded spread sample
    (the shared sampling contract of all quantizer trainers here).
    Values outside the trained range clip at encode time — the
    standard SQ tradeoff. Returns (vmin (dim,), vdiff (dim,)) float64,
    vdiff floored at a tiny epsilon so constant dimensions encode to
    code 0 instead of dividing by zero."""
    import numpy as np

    X = _spread_sample(
        corpus,
        vec_col,
        train_cap if train_cap is not None else 4096,
        seed,
        train_fraction,
        n_corpus,
    )
    vmin = X.min(axis=0).astype(np.float64)
    vdiff = X.max(axis=0).astype(np.float64) - vmin
    vdiff[vdiff <= 0] = 1.0
    return vmin, vdiff


def sq8_encode(
    corpus: DataFrame,
    vmin: "np.ndarray",
    vdiff: "np.ndarray",
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    code_col: str = "sq8_code",
) -> DataFrame:
    """Encode vectors to dim-byte SQ8 codes — MAP-ONLY Arrow kernel:
    code_d = clip(rint((x_d − vmin_d) × 255 / vdiff_d), 0, 255), one
    vectorized pass per batch, codes built zero-copy off Arrow
    buffers exactly like ``pq_encode``.

    Output: (<corpus_id>, <code_col> binary of exactly dim bytes)."""
    import numpy as np

    dim = int(len(vmin))
    bc = corpus.sparkSession.sparkContext.broadcast(
        (
            np.asarray(vmin, dtype=np.float64),
            np.asarray(vdiff, dtype=np.float64),
        )
    )
    cid_type = corpus.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField(corpus_id, cid_type, False),
            T.StructField(code_col, T.BinaryType(), False),
        ]
    )

    def encode(batches):
        # float64 encode arithmetic — see _sq8_code_batch for why
        vmin_b = bc.value[0]
        scale_b = 255.0 / bc.value[1]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _pa_matrix(
                rb.column(rb.schema.get_field_index(vec_col)),
                dtype=np.float64,
            )
            if X.shape[1] != dim:
                raise ValueError(
                    f"vector dim {X.shape[1]} != trained dim {dim}"
                )
            n = X.shape[0]
            codes = _sq8_code_batch(X, vmin_b, scale_b)
            flat = np.ascontiguousarray(codes).reshape(-1)
            offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            code_arr = pa.BinaryArray.from_buffers(
                pa.binary(),
                n,
                [None, pa.py_buffer(offsets), pa.py_buffer(flat)],
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index(corpus_id)), code_arr],
                names=[corpus_id, code_col],
            )

    return corpus.select(corpus_id, vec_col).mapInArrow(
        encode, out_schema
    )


def sq8_topk(
    codes: DataFrame,
    queries: DataFrame,
    vmin: "np.ndarray",
    vdiff: "np.ndarray",
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    code_col: str = "sq8_code",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
    symmetric: bool = False,
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k over SQ8 codes by asymmetric scoring against
    the affine decode (see the section header identities): the whole
    batch scores against ALL queries in two BLAS matmuls — C @ W and
    (for L2) C² @ s² — with no per-row decode, run in FLOAT32 (the
    codes are 8-bit, the stage-1 ranking is approximate by contract
    and the refine stage is exact, so float32's ~1e-7 relative error
    buys half the memory traffic and ~2× BLAS throughput over the
    float64 kernel — top-k equivalence asserted in tests). Scan
    payload is dim bytes/vector (4× under float32); same per-batch
    local top-k + tiny global window shape as ``pq_topk``, same
    optional exact refine stage.

    ``symmetric=True`` (L2 only) scores in CODE SPACE against the
    quantized queries instead — every partial an exact integer in
    float64, making the candidate set order-independent and
    bit-reproducible by a SQL oracle (see ``_sq8_symmetric_weights``);
    this path keeps the float64 matmul because integer sums up to
    dim·255² exceed float32's 2²⁴ mantissa. Output: (query_id,
    <corpus_id>, score double, rank int)."""
    import numpy as np

    metric = metric.upper()
    if metric not in ("L2", "IP"):
        raise ValueError(f"unknown metric {metric!r}; use L2|IP")
    if symmetric and metric != "L2":
        raise ValueError("symmetric SQ8 scoring is L2-only")
    vmin = np.asarray(vmin, dtype=np.float64)
    vdiff = np.asarray(vdiff, dtype=np.float64)
    dim = len(vmin)
    qids, qmat = _query_matrix(queries, query_id, query_vec)
    if qmat.shape[1] != dim:
        raise ValueError(f"query dim {qmat.shape[1]} != trained dim {dim}")
    if symmetric:
        W, bias, extra = _sq8_symmetric_weights(qmat, vmin, vdiff)
    else:
        W, bias, extra = _sq8_query_weights(qmat, vmin, vdiff, metric)
    bc = codes.sparkSession.sparkContext.broadcast(
        (qids, W, bias, extra)
    )
    kk1 = max(k, refine_k or 0)
    descending = metric == "IP"

    qid_field = queries.schema[query_id].dataType
    cid_field = codes.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_field, False),
            T.StructField(corpus_id, cid_field, False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa = to_arrow_type(qid_field)

    def local_topk(batches):
        qids_b, W_b, bias_b, extra_b = bc.value
        # float64 only when exactness is the contract (symmetric mode)
        dt = np.float64 if symmetric else np.float32
        Wf = W_b.astype(dt)
        extra_f = None if extra_b is None else extra_b.astype(dt)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _pa_codes(
                rb.column(rb.schema.get_field_index(code_col)), dim
            ).astype(dt)
            ids = rb.column(rb.schema.get_field_index(corpus_id))
            ids_np = ids.to_numpy(zero_copy_only=False)
            if metric == "IP":
                # float32 matmul; float64 bias add upcasts the result
                S = C @ Wf + bias_b[None, :]          # (n, Q)
            else:
                S = (
                    bias_b[None, :]
                    - 2.0 * (C @ Wf)
                    + ((C**2) @ extra_f)[:, None]
                )
                S = np.sqrt(np.maximum(S, 0.0))
            kk = min(kk1, rb.num_rows)
            qcol, icol, scol = [], [], []
            for qi in range(len(qids_b)):
                sq = S[:, qi]
                idx = _topk_indices(-sq if descending else sq, ids_np, kk)
                qcol.extend([qids_b[qi]] * len(idx))
                icol.append(ids.take(pa.array(idx)))
                scol.append(sq[idx])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qcol, type=qid_pa),
                    pa.concat_arrays(icol),
                    pa.array(np.concatenate(scol), type=pa.float64()),
                ],
                names=["query_id", corpus_id, "score"],
            )

    local = _apply_allowed(codes, allowed_ids, corpus_id).select(
        corpus_id, code_col
    ).mapInArrow(local_topk, out_schema)
    order = F.desc if descending else F.asc
    w = Window.partitionBy("query_id").orderBy(
        order("score"), F.asc(corpus_id)
    )
    approx = local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= kk1
    )
    if refine is None:
        return approx.filter(F.col("rank") <= k)
    return _exact_rerank(
        approx, refine, queries, metric, k,
        corpus_id, query_id, query_vec, vec_col, w,
    )


def build_sq8_index(
    corpus: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
    params: tuple | None = None,
) -> int:
    """Persisted SQ8 index build (train-once contract, parity with the
    PQ/IVFADC/OPQ lifecycles):

    - ``<index_path>/sq8_params.parquet`` — (dim_idx, vmin, vdiff),
      dim rows, loaded to the driver at search time;
    - ``<index_path>/codes.parquet`` — (<corpus_id>, sq8_code binary),
      dim BYTES per vector off ONE map-only Arrow pass.

    ``params=(vmin, vdiff)`` pins the per-dim ranges instead of
    training them off the spread sample — the FAISS
    ``QT_8bit_direct``-style fixed-range mode; with pinned ranges the
    whole encode is deterministic double arithmetic, which is what
    lets the SQL oracles reproduce the store. Returns dim."""
    import numpy as np

    if params is not None:
        vmin = np.asarray(params[0], dtype=np.float64)
        vdiff = np.asarray(params[1], dtype=np.float64)
    else:
        vmin, vdiff = sq8_train(
            corpus, vec_col, seed, train_fraction, n_corpus, train_cap
        )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [
            (i, float(vmin[i]), float(vdiff[i]))
            for i in range(len(vmin))
        ],
        _SQ8_PARAMS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "sq8_params")
    )
    sq8_encode(corpus, vmin, vdiff, vec_col, corpus_id).write.mode(
        "overwrite"
    ).parquet(_crel(index_path, "codes"))
    return len(vmin)


def load_sq8_params(spark, index_path: str):
    """(vmin, vdiff) float64 arrays off the tiny params store."""
    tbl = _load_small(
        spark, index_path, "sq8_params", _SQ8_PARAMS_DDL, "dim_idx"
    )
    return (
        tbl.column("vmin").to_numpy().astype(np.float64),
        tbl.column("vdiff").to_numpy().astype(np.float64),
    )


@_pin
def upsert_sq8_index(
    index_path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> int:
    """Incremental SQ8 maintenance: encode a NEW batch with the
    EXISTING per-dimension ranges and append — no retrain (range
    drift on novel data clips until the next build, the standard SQ
    tradeoff). Returns rows appended."""
    spark = new_vectors.sparkSession
    vmin, vdiff = load_sq8_params(spark, index_path)
    return _append_codes(
        sq8_encode(new_vectors, vmin, vdiff, vec_col, corpus_id), index_path
    )


@_pin
def sq8_topk_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
    symmetric: bool = False,
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a ``build_sq8_index`` store: params load to the driver
    (dim rows), the code column is scanned with the two-matmul
    asymmetric kernel — byte-identical results to inline
    ``sq8_train``+``sq8_encode``+``sq8_topk`` at the same seed
    (asserted in tests). ``symmetric`` as in ``sq8_topk``."""
    vmin, vdiff = load_sq8_params(spark, index_path)
    codes = spark.read.parquet(_crel(index_path, "codes"))
    return sq8_topk(
        codes, queries, vmin, vdiff,
        k=k, metric=metric, corpus_id=corpus_id, query_id=query_id,
        query_vec=query_vec, refine=refine, refine_k=refine_k,
        vec_col=vec_col, symmetric=symmetric, allowed_ids=allowed_ids,
    )


def build_ivfsq8_index(
    corpus: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    nlist: int = 64,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    train_cap: int | None = None,
    params: tuple | None = None,
    metric: str = "L2",
) -> tuple[int, int]:
    """Persisted IVF_SQ8 index build — the public Milvus IVF_SQ8 /
    FAISS IndexIVFScalarQuantizer composition: coarse quantizer routes
    each vector to one of ``nlist`` inverted lists, SQ8 codes the RAW
    vector at one byte per dimension (by_residual=False: the per-dim
    range already covers the whole corpus, so list-local residual
    coding buys little at 8 bits/dim and raw codes keep the scoring
    kernel list-independent — one broadcast (W, bias) per query, no
    per-list LUT rebuild). ``params=(vmin, vdiff)`` pins the per-dim
    ranges (deterministic encode — see ``build_sq8_index``);
    ``metric`` is the INDEX metric driving list assignment at build
    and upsert, recorded in ``ivf_meta.parquet`` (see
    ``build_ivfadc_index``):

    - ``<index_path>/centroids.parquet``  — (list_id, centroid);
    - ``<index_path>/sq8_params.parquet`` — (dim_idx, vmin, vdiff);
    - ``<index_path>/codes.parquet``      — (<corpus_id>, sq8_code),
      PARTITIONED BY list_id: a search probing nprobe lists prunes to
      those partitions at the parquet layer, scanning
      ~ nprobe/nlist × dim bytes/vector.

    ONE bounded spread sample trains both (coarse Lloyd + per-dim
    min/max); ONE map-only Arrow pass routes + encodes. Returns
    (nlist_eff, dim)."""
    import numpy as np

    metric = metric.upper()
    if metric not in ("L2", "IP"):
        raise ValueError(f"unknown metric {metric!r}; use L2|IP")
    X = _spread_sample(
        corpus,
        vec_col,
        train_cap if train_cap is not None else max(nlist * 50, 4096),
        seed,
        train_fraction,
        n_corpus,
    )
    cent = _lloyd(X, nlist, seed)
    if params is not None:
        vmin = np.asarray(params[0], dtype=np.float64)
        vdiff = np.asarray(params[1], dtype=np.float64)
    else:
        vmin = X.min(axis=0).astype(np.float64)
        vdiff = X.max(axis=0).astype(np.float64) - vmin
        vdiff[vdiff <= 0] = 1.0
    dim = X.shape[1]
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in cent[i]]) for i in range(len(cent))],
        _CENTROIDS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "centroids")
    )
    spark.createDataFrame(
        [(i, float(vmin[i]), float(vdiff[i])) for i in range(dim)],
        _SQ8_PARAMS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(
        _crel(index_path, "sq8_params")
    )
    _write_ivf_meta(spark, index_path, metric)
    # r18: same small-files fix as build_ivfadc_index (guide S6)
    _ivfsq8_encode(
        corpus, cent, vmin, vdiff, vec_col, corpus_id, metric
    ).repartition(len(cent), "list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(_crel(index_path, "codes"))
    return len(cent), dim


def _ivfsq8_encode(
    corpus: DataFrame,
    cent: "np.ndarray",
    vmin: "np.ndarray",
    vdiff: "np.ndarray",
    vec_col: str,
    corpus_id: str,
    metric: str = "L2",
) -> DataFrame:
    """ONE map-only Arrow pass: centroid routing under the INDEX
    metric (see ``_ivfadc_encode``) + dim-byte SQ8 code per vector
    (the coarse matmul plus one vectorized clip/rint), codes built
    zero-copy off Arrow buffers. The SQ8 encode itself runs in
    float64 (see ``_sq8_code_batch``); only the routing matmul stays
    float32 — routing has no value-parity contract.

    Output: (<corpus_id>, list_id int, sq8_code binary)."""
    import numpy as np

    dim = int(len(vmin))
    bc = corpus.sparkSession.sparkContext.broadcast(
        (
            np.asarray(cent, dtype=np.float64),
            np.asarray(vmin, dtype=np.float64),
            np.asarray(vdiff, dtype=np.float64),
        )
    )
    cid_type = corpus.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField(corpus_id, cid_type, False),
            T.StructField("list_id", T.IntegerType(), False),
            T.StructField("sq8_code", T.BinaryType(), False),
        ]
    )

    def encode(batches):
        cent_b = bc.value[0].astype(np.float32)
        vmin_b = bc.value[1]
        scale_b = 255.0 / bc.value[2]
        cm = cent_b.T
        c2 = (cent_b**2).sum(axis=1)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _pa_matrix(
                rb.column(rb.schema.get_field_index(vec_col)),
                dtype=np.float64,
            )
            n = X.shape[0]
            X32 = X.astype(np.float32)
            if metric == "IP":
                a = (X32 @ cm).argmax(axis=1)
            else:
                a = (c2[None, :] - np.float32(2.0) * (X32 @ cm)).argmin(
                    axis=1
                )
            codes = _sq8_code_batch(X, vmin_b, scale_b)
            flat = np.ascontiguousarray(codes).reshape(-1)
            offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            code_arr = pa.BinaryArray.from_buffers(
                pa.binary(),
                n,
                [None, pa.py_buffer(offsets), pa.py_buffer(flat)],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index(corpus_id)),
                    pa.array(a.astype(np.int32), type=pa.int32()),
                    code_arr,
                ],
                names=[corpus_id, "list_id", "sq8_code"],
            )

    return corpus.select(corpus_id, vec_col).mapInArrow(
        encode, out_schema
    )


@_pin
def upsert_ivfsq8_index(
    index_path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> int:
    """Incremental IVF_SQ8 maintenance: route (under the store's
    recorded metric) + encode a NEW batch with the EXISTING quantizers
    and append into the partitioned code store — no retrain (the
    shared upsert contract). Returns rows appended."""
    spark = new_vectors.sparkSession
    cent = _load_ivf_centroids(spark, index_path)
    vmin, vdiff = load_sq8_params(spark, index_path)
    metric = _load_ivf_meta(spark, index_path)
    return _append_codes(
        _ivfsq8_encode(
            new_vectors, cent, vmin, vdiff, vec_col, corpus_id, metric
        ),
        index_path,
        nlist=len(cent),
    )


def rebalance_ivfsq8_index(
    spark,
    index_path: str,
    nlist: int | None = None,
    seed: int = 42,
    train_cap: int | None = None,
) -> int:
    """Rebalance an IVF_SQ8 store's inverted lists WITHOUT the
    original vectors — the maintenance move a long upsert drift
    eventually needs (new data far from the build-time sample routes
    into a few overweight lists, visible as ``index_stats``
    skew_ratio, and an overweight list defeats nprobe pruning).
    Possible precisely because SQ8 codes are DECODABLE: x̂ = vmin +
    c·(vdiff/255) reconstructs every vector to ≤½-step error, so the
    coarse quantizer retrains on a bounded decoded sample and ONE
    map-only pass re-routes every code row (decode → assign under
    the store's recorded metric → same code bytes, new list_id).
    PQ/IVFADC stores cannot do this (their codes are residuals
    AGAINST the old lists); for them rebalancing is a rebuild.

    The code payload is byte-identical after the move, so full-probe
    search results are UNCHANGED (asserted in tests) — only the
    partition layout (and with it low-nprobe recall) improves. Both
    relations stage to fresh versioned dirs and flip in ONE manifest
    publish (``..store``), so a concurrent search resolves the old
    (codes, centroids) pair or the new one, never old centroids
    against new list ids — the r15 two-store consistency window,
    closed. Still single-maintainer by contract. Returns the
    effective nlist."""
    import math

    import numpy as np

    cent_old = _load_ivf_centroids(spark, index_path)
    vmin, vdiff = load_sq8_params(spark, index_path)
    metric = _load_ivf_meta(spark, index_path)
    dim = len(vmin)
    k = int(nlist) if nlist is not None else len(cent_old)
    cap = train_cap if train_cap is not None else max(k * 50, 4096)
    codes_p = _crel(index_path, "codes")
    codes = spark.read.parquet(codes_p)

    # bounded head-of-every-partition sample of CODE rows (the
    # _spread_sample contract for a binary column), decoded on the
    # driver — one tiny job, no full pass
    cores = spark.sparkContext.defaultParallelism
    per_part = max(1, math.ceil(cap / max(cores, 1)))

    def _heads(batches):
        taken = 0
        for rb in batches:
            if taken >= per_part:
                break
            take = min(per_part - taken, rb.num_rows)
            yield rb.slice(0, take)
            taken += take

    head_rows = (
        codes.select("sq8_code")
        .mapInArrow(_heads, "sq8_code binary")
        .limit(cap)
        .collect()
    )
    if not head_rows:
        raise ValueError(f"empty code store under {index_path}")
    C = np.stack(
        [
            np.frombuffer(bytes(r["sq8_code"]), dtype=np.uint8)
            for r in head_rows
        ]
    ).astype(np.float64)
    s = vdiff / 255.0
    X = vmin[None, :] + C * s[None, :]
    cent = _lloyd(X, k, seed)

    # ONE map-only re-route pass: decode + assign, code bytes kept
    bc = spark.sparkContext.broadcast(
        (cent, np.asarray(vmin), np.asarray(vdiff), metric)
    )
    cid_cols = [c for c in codes.columns if c not in ("list_id", "sq8_code")]
    cid = cid_cols[0]
    cid_type = codes.schema[cid].dataType
    out_schema = T.StructType(
        [
            T.StructField(cid, cid_type, False),
            T.StructField("list_id", T.IntegerType(), False),
            T.StructField("sq8_code", T.BinaryType(), False),
        ]
    )

    def reroute(batches):
        import numpy as np

        cent_b = bc.value[0].astype(np.float32)
        vmin_b = bc.value[1].astype(np.float32)
        s_b = (bc.value[2] / 255.0).astype(np.float32)
        met = bc.value[3]
        cm = cent_b.T
        c2 = (cent_b**2).sum(axis=1)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            Cb = _pa_codes(
                rb.column(rb.schema.get_field_index("sq8_code")), dim
            ).astype(np.float32)
            Xb = vmin_b[None, :] + Cb * s_b[None, :]
            if met == "IP":
                a = (Xb @ cm).argmax(axis=1)
            else:
                a = (c2[None, :] - np.float32(2.0) * (Xb @ cm)).argmin(
                    axis=1
                )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index(cid)),
                    pa.array(a.astype(np.int32), type=pa.int32()),
                    rb.column(rb.schema.get_field_index("sq8_code")),
                ],
                names=[cid, "list_id", "sq8_code"],
            )

    rerouted = codes.select(cid, "sq8_code").mapInArrow(
        reroute, out_schema
    )
    # stage BOTH relations to fresh versioned dirs, then ONE manifest
    # publish — a concurrent reader resolves (old codes, old
    # centroids) or (new, new), never the mixed pair the r15 verdict
    # documented as this operator's consistency window
    from ..store import publish, staged_rel_dir

    codes_stage = staged_rel_dir("codes")
    cent_stage = staged_rel_dir("centroids")
    rerouted.repartition(max(len(cent), 1), "list_id").write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(f"{index_path}/{codes_stage}")
    spark.createDataFrame(
        [(i, [float(x) for x in cent[i]]) for i in range(len(cent))],
        _CENTROIDS_DDL,
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{index_path}/{cent_stage}"
    )
    publish(
        spark, index_path, {"codes": codes_stage, "centroids": cent_stage}
    )
    return len(cent)


@_pin
def ann_topk_ivfsq8(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = DEFAULT_TOP_K,
    metric: str = "L2",
    nprobe: int = 8,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    refine: DataFrame | None = None,
    refine_k: int | None = None,
    vec_col: str = "embedding",
    symmetric: bool = False,
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a ``build_ivfsq8_index`` store: nprobe-bounded SQ8 ADC.
    ``allowed_ids`` applies the Milvus-style scalar PRE-filter on the
    pruned code scan (see ``_apply_allowed``).
    ``symmetric`` as in ``sq8_topk`` (exact code-space L2; at full
    probe the result set equals flat symmetric ``sq8_topk`` exactly —
    the property the SQL oracle relies on).

    Driver side (all tiny): centroids + per-dim params load, each
    query picks its ``nprobe`` nearest lists, and the scoring weights
    are ONE list-independent (dim, Q) matrix + per-query bias (raw
    SQ8 codes — see ``build_ivfsq8_index`` — so nothing per-list to
    rebuild). Cluster side: the code scan reads ONLY the probed list
    partitions (driver-known literal → parquet partition pruning,
    exactly like IVFADC), rows group by list once per batch, and each
    list's rows score only for the queries that probe it — full-probe
    results equal flat ``sq8_topk``'s exactly (asserted in tests).
    Optional exact refine re-ranks the bounded candidates on the
    float corpus."""
    import numpy as np

    metric = metric.upper()
    if metric not in ("L2", "IP"):
        raise ValueError(f"unknown metric {metric!r}; use L2|IP")
    if symmetric and metric != "L2":
        raise ValueError("symmetric SQ8 scoring is L2-only")
    cent = _load_ivf_centroids(spark, index_path)
    vmin, vdiff = load_sq8_params(spark, index_path)
    dim = len(vmin)
    qids, qmat = _query_matrix(queries, query_id, query_vec)
    if qmat.shape[1] != dim:
        raise ValueError(f"query dim {qmat.shape[1]} != trained dim {dim}")
    npb = min(nprobe, len(cent))
    # metric-faithful probe selection — see ann_topk_ivfadc
    if metric == "IP":
        key = -(qmat @ cent.T)
    else:
        key = (cent**2).sum(axis=1)[None, :] - 2.0 * (qmat @ cent.T)
    probes = np.argsort(key, axis=1, kind="stable")[:, :npb]
    probed = sorted({int(x) for x in probes.ravel()})
    if symmetric:
        W, bias, extra = _sq8_symmetric_weights(qmat, vmin, vdiff)
    else:
        W, bias, extra = _sq8_query_weights(qmat, vmin, vdiff, metric)

    probe_sets = [set(int(x) for x in probes[qi]) for qi in range(len(qids))]
    bc = spark.sparkContext.broadcast((qids, probe_sets, W, bias, extra))
    kk1 = max(k, refine_k or 0)
    descending = metric == "IP"

    qid_field = queries.schema[query_id].dataType
    codes = spark.read.parquet(_crel(index_path, "codes")).filter(
        F.col("list_id").isin(probed)
    )
    cid_field = codes.schema[corpus_id].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_field, False),
            T.StructField(corpus_id, cid_field, False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa = to_arrow_type(qid_field)

    def local_topk(batches):
        qids_b, probe_sets_b, W_b, bias_b, extra_b = bc.value
        # float32 scan kernel unless symmetric exactness is required
        # — see sq8_topk
        dt = np.float64 if symmetric else np.float32
        Wf = W_b.astype(dt)
        extra_f = None if extra_b is None else extra_b.astype(dt)
        # list_id -> probing query indices, built ONCE per task
        probe_map: dict[int, list[int]] = {}
        for qi, ps in enumerate(probe_sets_b):
            for li in ps:
                probe_map.setdefault(li, []).append(qi)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _pa_codes(
                rb.column(rb.schema.get_field_index("sq8_code")), dim
            ).astype(dt)
            L = (
                rb.column(rb.schema.get_field_index("list_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            ids = rb.column(rb.schema.get_field_index(corpus_id))
            ids_np = ids.to_numpy(zero_copy_only=False)
            order = np.argsort(L, kind="stable")
            uniq, starts = np.unique(L[order], return_index=True)
            bounds = np.append(starts, len(order))
            per_q_s: dict[int, list] = {}
            per_q_rows: dict[int, list] = {}
            for ui in range(len(uniq)):
                qis = probe_map.get(int(uniq[ui]))
                if not qis:
                    continue
                rows_l = order[bounds[ui] : bounds[ui + 1]]
                Csub = C[rows_l]
                M = Csub @ Wf[:, qis]  # (rows, |qis|)
                if extra_f is not None:
                    sq = (Csub**2) @ extra_f
                for col, qi in enumerate(qis):
                    # float64 bias upcasts the float32 kernel output
                    if extra_f is None:
                        sc = M[:, col] + bias_b[qi]
                    else:
                        sc = bias_b[qi] - 2.0 * M[:, col] + sq
                    per_q_s.setdefault(qi, []).append(sc)
                    per_q_rows.setdefault(qi, []).append(rows_l)
            qcol, icol, scol = [], [], []
            for qi, parts_i in per_q_rows.items():
                sc = np.concatenate(per_q_s[qi])
                rows = np.concatenate(parts_i)
                if metric == "L2":
                    sc = np.sqrt(np.maximum(sc, 0.0))
                kk = min(kk1, len(rows))
                idx = _topk_indices(
                    -sc if descending else sc, ids_np[rows], kk
                )
                qcol.extend([qids_b[qi]] * len(idx))
                icol.append(ids.take(pa.array(rows[idx])))
                scol.append(sc[idx])
            if not qcol:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qcol, type=qid_pa),
                    pa.concat_arrays(icol),
                    pa.array(np.concatenate(scol), type=pa.float64()),
                ],
                names=["query_id", corpus_id, "score"],
            )

    local = _apply_allowed(codes, allowed_ids, corpus_id).select(
        corpus_id, "list_id", "sq8_code"
    ).mapInArrow(local_topk, out_schema)
    order_f = F.desc if descending else F.asc
    w = Window.partitionBy("query_id").orderBy(
        order_f("score"), F.asc(corpus_id)
    )
    approx = local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= kk1
    )
    if refine is None:
        return approx.filter(F.col("rank") <= k)
    return _exact_rerank(
        approx, refine, queries, metric, k,
        corpus_id, query_id, query_vec, vec_col, w,
    )
