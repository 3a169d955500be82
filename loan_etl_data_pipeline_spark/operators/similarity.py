"""Similarity search over embedding columns (EXT E3 — SURVEY.md §2 Part B).

The embeddings table is ``(vec_id bigint, embedding array<float>, label
int)``. Three tiers:

- :func:`cosine_topk_bruteforce` — exact top-k. The query side is a
  small probe batch (the common case against a 100 TB corpus): it is
  collected + broadcast, and the corpus streams through ONE
  Arrow-batched numpy kernel (`mapInPandas`) that emits a per-batch
  local top-k; a final tiny window merges local top-ks into the global
  answer. No corpus shuffle, no per-pair rows materialized.
- :func:`cosine_neardup_pairs` — all pairs above a threshold via
  block-pair `applyInPandas`: each vector is replicated to B block
  pairs, so the shuffle is B×n rows (never n²) and every block pair is
  a vectorized (n/B)² numpy kernel. B is the parallelism/memory knob.
- :func:`lsh_topk` — the approximate scale path: deterministic
  random-hyperplane signatures computed INSIDE the same corpus kernel
  (no signature join at all); per query only equal-signature candidates
  get the exact cosine re-rank.

Why numpy kernels and not `zip_with`/`aggregate` expressions: Spark's
higher-order array functions are CodegenFallback — evaluated
interpreted, one object-allocating lambda walk per pair — measured
~0.5 ms/pair, i.e. 300+ s for a 2 M-pair near-dup join at sf0.1. The
Arrow kernel does the same math 100×+ faster and is the idiomatic
Spark answer for dense-vector math.

Determinism (the oracle contract): every dot product is the exact
int64 sum of ``floor((x*y)*1e12)`` — one IEEE multiply and a tie-free
floor per element are bit-identical in numpy, the JVM, and DuckDB, and
integer addition is associative, so results do not depend on batch or
partition boundaries. Cosine is then
``(dot/1e12) / (sqrt(qq) * sqrt(cc))`` evaluated in that fixed order.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:  # pandas only types hints here — see note below
    import pandas as pd
    import pyarrow as pa

# NOTE (opt r9): pandas is imported LAZILY (inside the two
# applyInPandas kernels that genuinely need it). The scan kernels run
# as mapInArrow with numpy-only worker code: a fresh Python worker
# that unpickles a similarity closure imports THIS module, and a
# top-level pandas import added ~0.4-2 s (host-dependent) of cold-start
# to every first task on every worker — measured as the whole
# "regression" of q_knn_bruteforce/q_rbo_truncation in round 8's bench
# (warm-worker walls were at their round-7 levels all along).

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.session import ensure_worker_imports
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_PAIR_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


def _mat(series: "pd.Series") -> np.ndarray:
    """Stack an Arrow list<float> column into an (n, d) float64 matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in series])


def _mat_rb(col: "pa.Array") -> np.ndarray:
    """(n, d) float64 matrix from an Arrow list<float/double> column —
    one offsets-aware flatten + reshape instead of the per-row
    np.asarray loop of :func:`_mat` (opt r9). Values are identical:
    float32→float64 widening is exact either way.

    Raises ``ValueError`` on a null vector or on ragged widths: the
    flatten drops null slots and the reshape only checks the total
    size, so either would otherwise silently shift vectors against
    their ids (a ``[[.1, .2], None]`` batch reshapes to 2×1). The
    check reads the null count and the offsets buffer — one vectorized
    pass per batch, no per-row Python."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(
            f"{col.null_count} null embedding vector(s) in a batch of "
            f"{len(col)}: drop or fill them before the similarity kernel"
        )
    if not pa.types.is_fixed_size_list(col.type):
        widths = np.diff(col.offsets.to_numpy())
        if widths.size and (widths != widths[0]).any():
            raise ValueError(
                f"ragged embedding vectors (widths {widths.min()}.."
                f"{widths.max()}): embeddings must be fixed-width"
            )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(col), -1)


def _ids_rb(col: "pa.Array") -> np.ndarray:
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _floored_self_dot(m: np.ndarray) -> np.ndarray:
    """int64 sum_j floor((x_j*x_j)*1e12) per row — exact, order-free."""
    return np.floor((m * m) * 1e12).astype(np.int64).sum(axis=1)


def _floored_cross_dot(a: np.ndarray, b: np.ndarray, chunk: int = 32) -> np.ndarray:
    """(na, nb) int64 matrix of sum_j floor((a_j*b_j)*1e12).

    Chunked over rows of ``a`` to bound the (chunk, nb, d) temporary,
    with the scale/floor applied IN PLACE on that one temporary (opt
    r8): the old chunk=256 with three derived temporaries peaked at
    ~1 GB of transient allocations per task for a 2 k-corpus batch —
    measured as multi-second page-reclaim stalls on memory-pressured
    hosts. Values are bit-identical (same per-element multiply, floor,
    int64 cast, same j-sum order)."""
    out = np.empty((a.shape[0], b.shape[0]), dtype=np.int64)
    for s in range(0, a.shape[0], chunk):
        e = min(s + chunk, a.shape[0])
        prod = a[s:e, None, :] * b[None, :, :]
        np.multiply(prod, 1e12, out=prod)
        np.floor(prod, out=prod)
        out[s:e] = prod.astype(np.int64).sum(axis=2)
    return out


def _cosine_matrix(dots: np.ndarray, qq: np.ndarray, cc: np.ndarray) -> np.ndarray:
    """cos = (dot/1e12) / (sqrt(qq/1e12) * sqrt(cc/1e12)), fixed op order."""
    return (dots.astype(np.float64) / 1e12) / (
        np.sqrt(qq.astype(np.float64) / 1e12)[:, None]
        * np.sqrt(cc.astype(np.float64) / 1e12)[None, :]
    )


#: Slack for the BLAS prefilter in _threshold_pairs_exact. The floored
#: cosine differs from the float BLAS cosine by ≤ ~d·1e-12/‖x‖‖y‖ from
#: floor quantization plus ~1e-13 BLAS rounding — orders of magnitude
#: below this margin for any sanely-scaled embedding.
_PREFILTER_MARGIN = 1e-4


def _threshold_pairs_exact(
    a: np.ndarray, b: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ia, ib, cosine) for all cross pairs with floored-cosine ≥ threshold.

    Two-phase: a BLAS matmul on unit-normalized rows finds candidates
    above ``threshold − margin`` (one dgemm instead of the O(n²d)
    explicit floor/astype temporaries — ~50× less memory traffic), then
    ONLY those pairs are re-scored with the exact order-free
    floored-int64 arithmetic that defines the operator's output. The
    returned cosines are bit-identical to scoring every pair exactly.
    """
    an = np.linalg.norm(a, axis=1)
    bn = np.linalg.norm(b, axis=1)
    an[an == 0] = 1.0
    bn[bn == 0] = 1.0
    fast = (a / an[:, None]) @ (b / bn[:, None]).T
    ia, ib = np.nonzero(fast >= threshold - _PREFILTER_MARGIN)
    if len(ia) == 0:
        return ia, ib, np.array([], dtype=np.float64)
    dots = np.floor((a[ia] * b[ib]) * 1e12).astype(np.int64).sum(axis=1)
    cos = (dots.astype(np.float64) / 1e12) / (
        np.sqrt(_floored_self_dot(a)[ia].astype(np.float64) / 1e12)
        * np.sqrt(_floored_self_dot(b)[ib].astype(np.float64) / 1e12)
    )
    keep = cos >= threshold
    return ia[keep], ib[keep], cos[keep]


#: Hard cap on the driver-collected query batch: at 64 float64 dims a
#: batch this size is ~35 MB on the driver — comfortably broadcastable.
#: Callers with more probes should join/batch instead of brute-force.
MAX_QUERY_BATCH = 65536


def _collect_query_batch(
    queries_df: DataFrame, id_col: str, vec_col: str, max_queries: int
) -> list:
    """Collect the probe batch with an explicit size guard.

    The query side is driver-collected + broadcast by design (the
    common shape: a few probes against a huge corpus). An unbounded
    ``collect()`` would OOM the driver if someone passes the corpus as
    the query side — fail fast with a clear error instead.
    """
    rows = queries_df.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"query batch exceeds max_queries={max_queries}; the brute-force/"
            "LSH top-k path driver-collects and broadcasts the query side — "
            "for query sets this large, run in batches or use a join-based plan"
        )
    return rows


def cosine_topk_bruteforce(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: collect the (small, ``max_queries``-capped) query batch to the
    driver, broadcast it, stream the corpus through a numpy kernel that
    keeps only a local top-k per query per batch, then window-merge
    local top-ks. Local top-k → global top-k is exact because per-pair
    cosine is deterministic and max is monotone under union.

    Output: (query_id, neighbor_id, cosine, rank); self-pairs excluded;
    ties broken by neighbor_id ascending.
    """
    ensure_worker_imports(queries_df.sparkSession)
    q_rows = _collect_query_batch(queries_df, id_col, vec_col, max_queries)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qq = _floored_self_dot(q_mat)
    sc = corpus_df.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, qq))

    def _scan(batches):
        import pyarrow as pa

        q_ids_, q_mat_, qq_ = bq.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            c_ids = _ids_rb(rb.column(rb.schema.get_field_index(id_col)))
            c_mat = _mat_rb(rb.column(rb.schema.get_field_index(vec_col)))
            cc = _floored_self_dot(c_mat)
            cos = _cosine_matrix(_floored_cross_dot(q_mat_, c_mat), qq_, cc)
            # exclude self-pairs
            cos[q_ids_[:, None] == c_ids[None, :]] = -np.inf
            kk = min(k, cos.shape[1])
            # local top-k per query: sort by (-cosine, neighbor_id)
            order = np.lexsort((c_ids[None, :].repeat(len(q_ids_), 0), -cos), axis=1)
            top = order[:, :kk]
            qid = np.repeat(q_ids_, kk)
            nid = c_ids[top].ravel()
            cv = np.take_along_axis(cos, top, axis=1).ravel()
            keep = np.isfinite(cv)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qid[keep]), pa.array(nid[keep]), pa.array(cv[keep])],
                names=["query_id", "neighbor_id", "cosine"],
            )

    local = corpus_df.select(id_col, vec_col).mapInArrow(_scan, schema=_PAIR_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    block_col: str | None = None,
) -> DataFrame:
    """All embedding pairs with cosine >= threshold (near-dup detection).

    Block-nested-loop: vectors land in ``n_blocks`` hash blocks; every
    unordered block pair (i <= j) becomes one `applyInPandas` group that
    numpy-scores its (n/B)×(n/B) pair matrix. Each vector is shuffled to
    exactly B groups, so total shuffle is B×n rows and compute is the
    same n²/2 pair scores — but vectorized and spread over B(B+1)/2
    parallel tasks. Raise ``n_blocks`` for bigger corpora (tune so one
    block pair's matrix fits executor memory).

    ``block_col``: optional semantic blocking (e.g. a k-means cell id) —
    when set, only pairs WITHIN the same ``block_col`` value are scored
    and the group key becomes (block, ba, bb).  The hash sub-blocking
    still applies inside each semantic block, so one huge block (a
    skewed cluster) is spread over B(B+1)/2 tasks instead of melting a
    single executor — the skew story a plain groupBy(block) kernel
    would not have.

    Output: (id_a, id_b, cosine) with id_a < id_b
    (plus ``block_col`` when set).
    """
    ensure_worker_imports(df.sparkSession)
    spark = df.sparkSession
    sel = [F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")]
    if block_col is not None:
        sel.append(F.col(block_col).alias("sblk"))
    v = df.select(*sel).withColumn(
        "blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int")
    )

    from loan_etl_data_pipeline_spark.functions.localframe import values_frame

    pairs = values_frame(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        "ba int, bb int",
    )
    grp = ["ba", "bb"] if block_col is None else ["sblk", "ba", "bb"]
    # side 0 rows feed the "a" matrix of a group; side 1 the "b".
    left = v.join(F.broadcast(pairs), v.blk == pairs.ba).select(
        *grp, "id", "vec", F.lit(0).alias("side")
    )
    right = v.join(F.broadcast(pairs), v.blk == pairs.bb).select(
        *grp, "id", "vec", F.lit(1).alias("side")
    )
    tagged = left.unionByName(right)

    out_fields = [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
    if block_col is not None:
        out_fields.insert(
            0, StructField(block_col, tagged.schema["sblk"].dataType)
        )
    out_schema = StructType(out_fields)

    def _score(key, pdf):
        import pandas as pd  # applyInPandas boundary — pandas inherent

        ba, bb = key[-2], key[-1]
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        empty = {
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
        }
        if len(a) == 0 or len(b) == 0:
            out = pd.DataFrame(empty)
        else:
            a_ids = a["id"].to_numpy(dtype=np.int64)
            b_ids = b["id"].to_numpy(dtype=np.int64)
            a_m, b_m = _mat(a["vec"]), _mat(b["vec"])
            ia, ib, cos = _threshold_pairs_exact(a_m, b_m, threshold)
            if ba == bb:
                # diagonal group: both sides are the same rows — strict
                # id order keeps each unordered pair once and kills
                # self-pairs
                keep = a_ids[ia] < b_ids[ib]
                ia, ib, cos = ia[keep], ib[keep], cos[keep]
            xa, xb = a_ids[ia], b_ids[ib]
            # off-diagonal blocks are disjoint but ids are unordered
            # across them — normalize so id_a < id_b always
            out = pd.DataFrame(
                {
                    "id_a": np.minimum(xa, xb),
                    "id_b": np.maximum(xa, xb),
                    "cosine": cos,
                }
            )
        if block_col is not None:
            out.insert(0, block_col, pd.Series([key[0]] * len(out)))
        return out

    return tagged.groupBy(*grp).applyInPandas(_score, schema=out_schema)


#: deterministic pseudo-random hyperplanes: plane p, dim d weight derived
#: from a fixed LCG — reproducible across runs/clusters with no RNG state.
def _hyperplane(dim: int, plane: int) -> list[float]:
    out = []
    state = (plane + 1) * 2654435761 % (1 << 32)
    for _ in range(dim):
        state = (1103515245 * state + 12345) % (1 << 31)
        out.append((state / float(1 << 31)) * 2.0 - 1.0)
    return out


def _plane_matrix(dim: int, n_planes: int) -> np.ndarray:
    return np.stack([np.asarray(_hyperplane(dim, p)) for p in range(n_planes)])


def _band_signatures(
    m: np.ndarray, planes: np.ndarray, bands: int, planes_per_band: int
) -> np.ndarray:
    """(n, bands) int64 matrix of per-band sign-LSH signatures.

    Bit p of band b is set iff the exact int64 sum of
    floor((x_j*w_j)*1e12) against plane b*planes_per_band+p is positive
    — associative integer math, so signatures are identical on any
    engine/partitioning (a plain float dot would flip sign bits for
    near-orthogonal vectors depending on summation order).

    Banding is the OR-amplification: two vectors are *candidates* if
    ANY band signature matches. P[band match] = p^r with p =
    1 − θ/π per plane and r = planes_per_band; P[candidate] =
    1 − (1 − p^r)^bands — the classic LSH S-curve. More bands → higher
    recall; more planes per band → smaller buckets (harder pruning).
    """
    dots = _floored_cross_dot(m, planes)  # (n, bands*planes_per_band) int64
    bits = (dots > 0).astype(np.int64).reshape(m.shape[0], bands, planes_per_band)
    return (bits << np.arange(planes_per_band, dtype=np.int64)[None, None, :]).sum(axis=2)


def lsh_signatures(
    df: DataFrame,
    *,
    dim: int,
    bands: int = 16,
    planes_per_band: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane banded LSH signatures: (id, sigs array<bigint>)."""
    from pyspark.sql.types import ArrayType

    ensure_worker_imports(df.sparkSession)
    planes = _plane_matrix(dim, bands * planes_per_band)
    sc = df.sparkSession.sparkContext
    bp = sc.broadcast(planes)
    schema = StructType(
        [StructField("id", LongType()), StructField("sigs", ArrayType(LongType()))]
    )

    def _scan(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            n = rb.num_rows
            sigs = _band_signatures(
                _mat_rb(rb.column(rb.schema.get_field_index(vec_col))),
                bp.value,
                bands,
                planes_per_band,
            )
            sig_list = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * bands, bands, dtype=np.int32)
                ),
                pa.array(np.ascontiguousarray(sigs).ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        _ids_rb(rb.column(rb.schema.get_field_index(id_col)))
                    ),
                    sig_list,
                ],
                names=["id", "sigs"],
            )

    return df.select(id_col, vec_col).mapInArrow(_scan, schema=schema)


def lsh_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    *,
    dim: int,
    k: int = 5,
    bands: int = 16,
    planes_per_band: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """Approximate top-k: candidates = any matching band, exact re-rank.

    Banded signatures for BOTH sides are computed inside one corpus
    kernel (the query batch and plane matrix are broadcast), so there is
    no signature table and no join — the corpus is read once, each batch
    scores only candidates sharing ≥1 band signature with the query
    (OR-amplification across ``bands`` bands — a single AND-only
    signature has vanishing recall for moderately similar vectors), and
    a tiny window merges local winners. Tuning: recall rises with
    ``bands``, pruning rises with ``planes_per_band``; the defaults
    measure candidate recall 1.0 vs exact brute force on the driver
    testdata at sf0.001-0.01 (asserted in tests/test_similarity.py).
    """
    ensure_worker_imports(corpus_df.sparkSession)
    planes = _plane_matrix(dim, bands * planes_per_band)
    q_rows = _collect_query_batch(queries_df, id_col, vec_col, max_queries)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_sig = _band_signatures(q_mat, planes, bands, planes_per_band)
    qq = _floored_self_dot(q_mat)
    sc = corpus_df.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, q_sig, qq, planes))

    def _scan(batches):
        import pyarrow as pa

        q_ids_, q_mat_, q_sig_, qq_, planes_ = bq.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            c_ids = _ids_rb(rb.column(rb.schema.get_field_index(id_col)))
            c_mat = _mat_rb(rb.column(rb.schema.get_field_index(vec_col)))
            c_sig = _band_signatures(c_mat, planes_, bands, planes_per_band)
            cc = _floored_self_dot(c_mat)
            qids, nids, coss = [], [], []
            for qi in range(len(q_ids_)):
                hit = (c_sig == q_sig_[qi][None, :]).any(axis=1)
                cand = np.nonzero(hit & (c_ids != q_ids_[qi]))[0]
                if len(cand) == 0:
                    continue
                cos = _cosine_matrix(
                    _floored_cross_dot(q_mat_[qi : qi + 1], c_mat[cand]),
                    qq_[qi : qi + 1],
                    cc[cand],
                )[0]
                order = np.lexsort((c_ids[cand], -cos))[:k]
                qids.append(np.full(len(order), q_ids_[qi], dtype=np.int64))
                nids.append(c_ids[cand][order])
                coss.append(cos[order])
            if qids:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(qids)),
                        pa.array(np.concatenate(nids)),
                        pa.array(np.concatenate(coss)),
                    ],
                    names=["query_id", "neighbor_id", "cosine"],
                )

    local = corpus_df.select(id_col, vec_col).mapInArrow(_scan, schema=_PAIR_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_neardup_lsh(
    df: DataFrame,
    *,
    threshold: float,
    dim: int,
    bands: int = 16,
    planes_per_band: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded LSH buckets — the scale path for
    :func:`cosine_neardup_pairs` (whose block design bounds shuffle but
    still computes all n²/2 pair scores).

    Plan: one corpus kernel replicates each vector to its ``bands`` band
    buckets (shuffle = bands×n rows), a signature-equality
    ``groupBy(band, bucket)`` + `applyInPandas` scores only WITHIN-bucket
    pairs exactly (same floored-int64 math as the exact operator), and a
    final ``groupBy`` on the pair key dedups pairs found in multiple
    bands. Compute is Σ bucket²/2 instead of n²/2 — at a production
    threshold (≥0.9, ``planes_per_band`` 8-16) buckets are tiny and the
    pruning is massive. With 2⁶-ish buckets per band, expected bucket
    size is n/2^planes_per_band; set ``max_bucket`` to drop degenerate
    buckets (skew guard, mirroring minhash's ``max_band_group``).

    The defaults are tuned for the driver testdata, whose synthetic
    embeddings have NO high-cosine pairs (max ≈ 0.51): wide buckets
    (planes_per_band=2) + 16 OR'd bands give measured recall 1.0 vs the
    exact operator at threshold 0.4 for sf0.001/0.01/0.1 — so the
    output is bit-identical to brute force and oracle-checkable
    (tests/test_similarity.py also asserts set-equality on a synthetic
    high-threshold corpus with real near-dups).

    Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    """
    from pyspark.sql.types import ArrayType, FloatType, IntegerType

    ensure_worker_imports(df.sparkSession)
    planes = _plane_matrix(dim, bands * planes_per_band)
    sc = df.sparkSession.sparkContext
    bp = sc.broadcast(planes)

    banded_schema = StructType(
        [
            StructField("band_no", IntegerType()),
            StructField("band_key", LongType()),
            StructField("id", LongType()),
            StructField("vec", ArrayType(FloatType())),
        ]
    )

    def _explode_bands(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            n = rb.num_rows
            vec_raw = rb.column(rb.schema.get_field_index(vec_col))
            sigs = _band_signatures(
                _mat_rb(vec_raw), bp.value, bands, planes_per_band
            )
            # replicate each vector to its `bands` buckets, cast to the
            # declared list<float> exactly as the old pandas→Arrow
            # serializer did (same IEEE narrowing)
            vec_rep = pc.cast(
                vec_raw.take(
                    pa.array(np.repeat(np.arange(n, dtype=np.int64), bands))
                ),
                pa.list_(pa.float32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
                    pa.array(np.ascontiguousarray(sigs).ravel()),
                    pa.array(
                        np.repeat(
                            _ids_rb(
                                rb.column(rb.schema.get_field_index(id_col))
                            ),
                            bands,
                        )
                    ),
                    vec_rep,
                ],
                names=["band_no", "band_key", "id", "vec"],
            )

    banded = df.select(id_col, vec_col).mapInArrow(_explode_bands, schema=banded_schema)

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )
    def _score_bucket(key, pdf):
        import pandas as pd  # applyInPandas boundary — pandas inherent

        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "cosine": np.array([], dtype=np.float64),
            }
        )
        n = len(pdf)
        if n < 2 or (max_bucket is not None and n > max_bucket):
            return empty
        ids = pdf["id"].to_numpy(dtype=np.int64)
        m = _mat(pdf["vec"])
        ia, ib, cos = _threshold_pairs_exact(m, m, threshold)
        keep = ids[ia] < ids[ib]
        return pd.DataFrame(
            {"id_a": ids[ia][keep], "id_b": ids[ib][keep], "cosine": cos[keep]}
        )

    scored = banded.groupBy("band_no", "band_key").applyInPandas(
        _score_bucket, schema=out_schema
    )
    # a pair surfaces once per matching band; cosine is deterministic
    # (floored-int64 math), so max() == the single exact value
    return scored.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def floored_dot_expr(a, b):
    """Codegen Column: Σ floor((aᵢ·bᵢ)·1e12) as int64 — the array-HOF
    twin of the numpy kernels' floored dot, usable in any join/filter
    (pure built-ins, engine-portable: the SQL oracle replays it as
    SUM(CAST(FLOOR((x*y)*1e12) AS BIGINT)) over UNNESTed pairs)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                (x.cast("double") * y.cast("double")) * F.lit(1e12)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )


def semantic_dedup(
    df: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    parallelism: int | None = None,
    kernel: str = "arrow",
    n_blocks: int = 4,
) -> DataFrame:
    """SemDeDup-style pruning (Abbas et al. 2023): drop every vector
    that has a SMALLER-id neighbor at floored-cosine ≥ ``threshold``
    inside its block; return the surviving rows of ``df``.

    ``block_col`` is the clustering that makes this tractable: SemDeDup
    uses k-means cluster ids (here: ``train_ivf_centroids`` + in-kernel
    assignment, the pipeline certified by q_ivf_exhaustive) so only
    within-cluster pairs are ever scored — Σ cᵢ²/2 pair scores instead
    of n²/2. Any categorical column works as the block.

    Keep rule: min-id representative, NOT SemDeDup's greedy chain. The
    greedy chain ("keep v only if no *kept* smaller neighbor") is
    sequentially dependent — not partition-stable and not expressible
    as one relational query on any engine. The min-id rule is a pure
    pairwise predicate (keep v ⟺ ∄ u<v with cos(u,v) ≥ τ), keeps at
    most as many rows as the chain rule, and is bit-reproducible: the
    cosine is the floored-int64 dot/norm contract shared with the rest
    of this module, evaluated here as pure codegen array expressions
    (zip_with/aggregate — no Python, no kernel).

    Plan: one narrow scan computes each vector's floored self-norm, the
    self-join shuffles on ``block_col`` only (within-block pairs), and
    the survivors come back via a broadcast-size anti-join on the
    dropped ids. Zero-norm vectors never match anything (guarded on
    both sides of the oracle contract).

    ``kernel`` selects the pair-scoring engine:

    - ``"arrow"`` (default): within-block pairs are scored by the same
      BLAS block-pair kernel as :func:`cosine_neardup_pairs` (group key
      (block, ba, bb), ``n_blocks`` hash sub-blocks inside each
      semantic block).  This is the scale path: the round-3 8× probe
      measured the HOF route ×10.5 wall at ×8 data (interpreted
      higher-order functions allocate one lambda walk per element —
      JVM allocation churn), while the dgemm kernel stays linear; the
      sub-blocking also means a skewed block spreads over
      B(B+1)/2 tasks instead of one.  Cosines are bit-identical to the
      HOF route (shared floored-int64 contract, pinned by
      tests/test_curation.py's kernel-equivalence test), so the oracle
      is unchanged.  ``n_blocks`` trades per-task memory
      ((block/B)² pair matrix) against replication (each vector
      shuffles to B groups): the default 4 suits many-small-blocks
      (k-means cells — measured fastest from sf0.1 through ×64);
      raise it when individual blocks are large enough that a
      (block/B)² matrix presses executor memory.
    - ``"hof"``: pure codegen-free JVM evaluation via
      zip_with/aggregate expressions — no Python workers at all, kept
      for environments where Arrow workers are unavailable and as the
      independent implementation the equivalence test checks against.

    ``parallelism``: optional fan-out before the norm projection — the
    interpreted HOF dot products are compute-dense per input byte, so
    a corpus arriving as one parquet split runs single-threaded
    without it (measured 6.1 s → 1.7 s at 32× on 2 k vectors); at real
    scale the scan parallelism makes it unnecessary. HOF pair-scoring
    parallelism is bounded by the number of distinct blocks (the join
    key); the arrow kernel's by blocks × B(B+1)/2.
    """
    if kernel not in ("arrow", "hof"):
        raise ValueError(f"unknown kernel {kernel!r}")
    if parallelism and kernel == "hof":
        # the arrow route redistributes in its own (block, ba, bb) group
        # shuffle — a pre-repartition would just add a shuffle
        df = df.repartition(parallelism)
    if kernel == "arrow":
        pairs = cosine_neardup_pairs(
            df,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            n_blocks=n_blocks,
            block_col=block_col,
        )
        dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
        # no broadcast hint — same unbounded-dropped-set reasoning as
        # the hof route below; AQE broadcasts when measured size permits
        return df.join(dropped, id_col, "left_anti")
    _floored_dot = floored_dot_expr

    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).alias("_vec"),
    ).withColumn("_n2", _floored_dot(F.col("_vec"), F.col("_vec")))
    a = v.select(
        F.col("_id").alias("ia"),
        F.col("_blk").alias("blk"),
        F.col("_vec").alias("va"),
        F.col("_n2").alias("na"),
    )
    b = v.select(
        F.col("_id").alias("ib"),
        F.col("_blk").alias("blk"),
        F.col("_vec").alias("vb"),
        F.col("_n2").alias("nb"),
    )
    pairs = a.join(b, "blk").filter(F.col("ia") < F.col("ib"))
    dot = _floored_dot(F.col("va"), F.col("vb"))
    cosine = (dot.cast("double") / F.lit(1e12)) / (
        F.sqrt(F.col("na").cast("double") / F.lit(1e12))
        * F.sqrt(F.col("nb").cast("double") / F.lit(1e12))
    )
    dropped = (
        pairs.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .filter(cosine >= F.lit(threshold))
        .select(F.col("ib").alias(id_col))
        .distinct()
    )
    # no broadcast hint: the dropped set is UNBOUNDED (a redundant
    # corpus can drop a large fraction of all ids), and a forced
    # broadcast of that is a driver/executor OOM; AQE plans the anti-
    # join as a broadcast exactly when the measured size permits
    return df.join(dropped, id_col, "left_anti")


def mmr_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    *,
    k: int = 5,
    pool: int = 15,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily pick ``k`` results per query
    maximizing ``lam*rel(d) - (1-lam)*max_{s in S} sim(d, s)`` — the
    standard redundancy-killer for retrieval-augmented pipelines
    (near-identical passages waste the whole context window; MMR is
    what dedups a result LIST, where corpus-level near-dup removal
    dedups the corpus).

    Plan shape: (1) a ``pool``-sized relevance candidate set per query
    from :func:`cosine_topk_bruteforce` (at corpus scale swap in any
    ANN tier — IVF/PQ — the greedy stage only sees the pool); (2) ONE
    pool×pool pairwise-similarity join per query (bounded at pool²
    rows, JVM-side quantized dot via :func:`floored_dot_expr`); (3)
    k-1 greedy rounds, each a max-agg + window argmax over pool-sized
    frames keyed by query_id — every query advances in parallel, the
    loop is over k (a constant), never over data.

    Determinism: relevance and pairwise cosines use the house int64-
    quantized dot, ties break by ascending id, and the score arithmetic
    (lam*rel - (1-lam)*maxsim with literal coefficients) is fixed-order
    IEEE — so the greedy trajectory is bit-reproducible and the whole
    operator carries a FULL value oracle (k unrolled SQL rounds).

    Output: (query_id, mmr_rank, neighbor_id, mmr_score); rank 1 is the
    pure-relevance argmax with score lam*rel (S empty).
    """
    if not (1 <= k <= pool):
        raise ValueError(f"need 1 <= k <= pool, got k={k} pool={pool}")
    if not (0.0 < lam <= 1.0):
        raise ValueError(f"lam must be in (0, 1], got {lam}")
    cand = cosine_topk_bruteforce(
        queries_df, corpus_df, k=pool, id_col=id_col, vec_col=vec_col
    ).select("query_id", F.col("neighbor_id").alias("cand_id"),
             F.col("cosine").alias("rel"), "rank").localCheckpoint(eager=False)

    emb = corpus_df.select(
        F.col(id_col).alias("eid"), F.col(vec_col).alias("evec")
    )
    ce = cand.join(emb, cand["cand_id"] == emb["eid"]).select(
        "query_id", "cand_id", "evec",
        floored_dot_expr(F.col("evec"), F.col("evec")).alias("selfdot"),
    )
    a = ce.select(
        "query_id", F.col("cand_id").alias("ca"),
        F.col("evec").alias("va"), F.col("selfdot").alias("aa"),
    )
    b = ce.select(
        "query_id", F.col("cand_id").alias("cb"),
        F.col("evec").alias("vb"), F.col("selfdot").alias("bb"),
    )
    # (dot/1e12) / (sqrt(aa/1e12) * sqrt(bb/1e12)) — the exact fixed
    # op order the SQL oracle replays
    dot = floored_dot_expr(F.col("va"), F.col("vb"))
    sim = (dot.cast("double") / F.lit(1e12)) / (
        F.sqrt(F.col("aa").cast("double") / F.lit(1e12))
        * F.sqrt(F.col("bb").cast("double") / F.lit(1e12))
    )
    cand_sims = (
        a.join(b, "query_id")
        .filter(F.col("ca") != F.col("cb"))
        .select("query_id", "ca", "cb", sim.alias("sim"))
        .localCheckpoint(eager=False)
    )

    lam_lit, rest_lit = F.lit(float(lam)), F.lit(round(1.0 - lam, 15))
    selected = (
        cand.filter(F.col("rank") == 1)
        .select(
            "query_id",
            F.lit(1).cast("bigint").alias("mmr_rank"),
            F.col("cand_id").alias("neighbor_id"),
            (lam_lit * F.col("rel")).alias("mmr_score"),
        )
    )
    for r in range(2, k + 1):
        maxsim = (
            cand_sims.join(
                selected.select(
                    "query_id", F.col("neighbor_id").alias("cb")
                ),
                ["query_id", "cb"],
            )
            .groupBy("query_id", "ca")
            .agg(F.max("sim").alias("maxsim"))
            .select(
                F.col("query_id").alias("qid"),
                F.col("ca").alias("cand_id"),
                "maxsim",
            )
        )
        scored = (
            cand.join(
                selected.select(
                    "query_id", F.col("neighbor_id").alias("cand_id")
                ),
                ["query_id", "cand_id"],
                "left_anti",
            )
            .join(
                maxsim,
                (F.col("query_id") == F.col("qid"))
                & (cand["cand_id"] == maxsim["cand_id"]),
            )
            .select(
                "query_id", cand["cand_id"].alias("cand_id"),
                (lam_lit * F.col("rel") - rest_lit * F.col("maxsim")).alias(
                    "score"
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("cand_id")
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).cast("bigint").alias("mmr_rank"),
                F.col("cand_id").alias("neighbor_id"),
                F.col("score").alias("mmr_score"),
            )
        )
        selected = selected.union(pick).localCheckpoint(eager=False)
    return selected


def cosine_threshold_scan(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """ALL (query, corpus) pairs with cosine >= threshold — the
    cross-table sibling of :func:`cosine_topk_bruteforce` (which keeps
    top-k) and :func:`cosine_neardup_pairs` (which pairs a table with
    itself). The canonical use is SEMANTIC EVAL-SET DECONTAMINATION:
    the query side is a small benchmark/eval set, the corpus side the
    training candidate pool, and any hit above the threshold flags a
    training document for removal — n-gram decontamination
    (ngram_decontaminate) catches verbatim leakage, this catches
    paraphrased leakage.

    Plan: collect + broadcast the capped query batch, one corpus scan
    through the quantized-cosine numpy kernel, emit pairs above the
    threshold. No shuffle at all — the output is the (small) flagged
    set, and corpus rows stream through once whatever the corpus size.
    Same int64-floored arithmetic as the whole ANN family, so the scan
    is value-oracle-able; threshold compare uses a 1e-4 pre-filter
    margin nowhere — the exact cosine is compared directly.
    """
    ensure_worker_imports(queries_df.sparkSession)
    q_rows = _collect_query_batch(queries_df, id_col, vec_col, max_queries)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qq = _floored_self_dot(q_mat)
    sc = corpus_df.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, qq))
    thr = float(threshold)

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("corpus_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def _scan(batches):
        import pyarrow as pa

        q_ids_, q_mat_, qq_ = bq.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            c_ids = _ids_rb(rb.column(rb.schema.get_field_index(id_col)))
            c_mat = _mat_rb(rb.column(rb.schema.get_field_index(vec_col)))
            cc = _floored_self_dot(c_mat)
            cos = _cosine_matrix(_floored_cross_dot(q_mat_, c_mat), qq_, cc)
            qi, ci = np.nonzero(cos >= thr)
            if len(qi) == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(q_ids_[qi]),
                    pa.array(c_ids[ci]),
                    pa.array(cos[qi, ci]),
                ],
                names=["query_id", "corpus_id", "cosine"],
            )

    return corpus_df.select(id_col, vec_col).mapInArrow(
        _scan, schema=out_schema
    )
