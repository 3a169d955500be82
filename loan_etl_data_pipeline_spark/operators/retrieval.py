"""Text retrieval / relevance scoring over the documents table (EXT E4+).

The reference pipeline stops at descriptive stats; a training-data
pipeline also needs *retrieval-shaped* scoring — "which documents match
this term set" (corpus slicing, eval-set mining, targeted decontam) and
"which terms characterize this document" (topic tagging, boilerplate
discovery). Both are classic IR primitives:

- :func:`bm25_topk` — Okapi BM25 ranking of a fixed small term set
  against the whole corpus.
- :func:`tfidf_top_terms` — per-document top-N terms by exact
  tf/df weight.

Scale design (the interesting part):

``bm25_topk`` never explodes tokens and never shuffles the corpus.
Because the query term set is small and fixed, per-term term
frequencies are computed ROW-LOCALLY with ``size(filter(tokens, ...))``
— one projection over the scan. Corpus statistics (N, Σdl, per-term
document frequency) come from ONE global aggregate (partial aggs, a
single scalar row to the driver), idf is computed on the driver from
those scalars, and the second scan scores + TakeOrdered(k). Two scans,
zero wide shuffles, O(k) driver result — this survives 100 TB as-is.
The scan could even be shared via ``.persist()``; it is deliberately
not, because at 100 TB re-scanning parquet is cheaper than caching the
corpus, and locally both scans are sub-second.

``tfidf_top_terms`` is the vocabulary-wide variant: it must explode
(every term matters, not a fixed few), so it pays one shuffle to build
(doc, term, tf) postings, aggregates document frequency from those
postings (vocabulary-sized, broadcast back), and ranks per-doc with a
bounded window. Exact-integer score (``div(tf*1e9, df)``) keeps it
bit-identical across engines; a log-idf variant is the same plan with
``ln`` in the final projection.

Determinism contract (mirrored by the DuckDB oracles in queries.py):
k1=1.5 and b=0.75 are chosen exactly representable in binary64 (so
k1+1=2.5 and 1-b=0.25 are exact literals both sides); idf arguments are
exact-int-derived doubles, and ``ln`` is bit-identical between the
JVM-side plan (driver ``math.log``) and DuckDB (both delegate to the
platform libm — verified empirically); every double expression is
written with one fixed association order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window

from loan_etl_data_pipeline_spark.functions.localframe import values_frame
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.operators.text import tokens
from loan_etl_data_pipeline_spark.session import intermediates, pin
from loan_etl_data_pipeline_spark.sources.tables import _read_parquet


def _bm25_score(n_terms: int, idf: list[float], avgdl: float, k1: float, b: float):
    """The BM25 score Column over (dl, tf_0..tf_{n-1}) — ONE definition
    shared by the scan and indexed operators; their bit-equality claim
    rests on both folding through this exact expression order."""
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl))
    )
    per_term = [
        F.lit(idf[i])
        * (
            (F.col(f"tf_{i}").cast("double") * F.lit(k1 + 1.0))
            / (F.col(f"tf_{i}").cast("double") + norm)
        )
        for i in range(n_terms)
    ]
    score = per_term[0]
    for s in per_term[1:]:  # left-fold: ((s0 + s1) + s2)... — oracle mirrors
        score = score + s
    return score


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.5,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by Okapi BM25 for a fixed small term set.

    Output: (id, per-term tf columns ``tf_<i>``, dl, score) ordered by
    score desc with an id tie-break. Only documents containing at least
    one query term are candidates.

    Plan: scan #1 → one global aggregate (N, Σdl, df per term) →
    driver-side idf; scan #2 → row-local score projection →
    TakeOrderedAndProject. No explode, no wide shuffle.
    """
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    if len(query_terms) != len(set(query_terms)):
        raise ValueError("query_terms must be distinct")

    arr = tokens(F.lower(F.col(text_col)))

    def _eq(term):
        # one-arg closure: a two-arg lambda would make F.filter pass the
        # element INDEX as the second argument
        return lambda x: x == F.lit(term)

    # bigint casts: DuckDB len()/count() are int64 — keep schemas identical
    tf_cols = [
        F.size(F.filter(arr, _eq(t))).cast("bigint").alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    base = df.select(
        F.col(id_col).alias("id"), F.size(arr).cast("bigint").alias("dl"), *tf_cols
    )

    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    ).collect()[0]
    n = stats["n"]
    if n == 0:
        raise ValueError("bm25_topk over an empty corpus")
    # one double division, same op order as the oracle's
    # CAST(sum_dl AS DOUBLE) / n
    avgdl = float(stats["sum_dl"]) / float(n)
    # BM25+-style idf (always positive): ln((N - df + 0.5)/(df + 0.5) + 1)
    idf = [
        math.log((n - stats[f"df_{i}"] + 0.5) / (stats[f"df_{i}"] + 0.5) + 1.0)
        for i in range(len(query_terms))
    ]

    score = _bm25_score(len(query_terms), idf, avgdl, k1, b)
    any_hit = sum(F.col(f"tf_{i}") for i in range(len(query_terms))) > 0

    return (
        base.filter(any_hit)
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    top_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``top_n`` terms by exact tf/df weight.

    Output: (id, tok, tf, dfc, score_scaled, rnk) where
    ``score_scaled = div(tf * 1e9, dfc)`` (exact int64) and ``rnk`` is
    the dense per-doc rank by (score desc, tok asc). Ties in score are
    broken by token so the selected set is total-order deterministic.

    Plan: explode → (doc, term) partial-agg postings (shuffle #1, keyed
    on (doc, term) so the "the"-per-doc combine happens map-side) →
    vocabulary DF as a second agg over the postings → broadcast DF back
    onto the postings (no shuffle) → per-doc window (shuffle #2, bounded
    by per-doc vocabulary). At 100 TB the vocabulary table is the only
    broadcast and is bounded by vocab size, not corpus size; if the
    vocab outgrows broadcast, drop the hint and AQE falls back to a
    shuffle join with skew split on the hot terms.
    """
    posts = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = posts.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    scored = posts.join(F.broadcast(dfreq), "tok").withColumn(
        "score_scaled", F.expr("div(tf * 1000000000, dfc)")
    )
    w = Window.partitionBy("id").orderBy(F.desc("score_scaled"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= top_n)
        .select("id", "tok", "tf", "dfc", "score_scaled", "rnk")
    )


def sparse_topk(
    query_df: DataFrame,
    corpus_df: DataFrame,
    *,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    w_scale: int = 10**6,
    w_cap: int = 3 * 10**6,
) -> DataFrame:
    """Sparse-vector similarity search: top-``k`` corpus documents per
    query document by the TF-IDF dot product, computed as a postings
    join — the sparse counterpart to the dense ANN family
    (operators/similarity.py), and the third retrieval shape after
    bm25_topk (fixed term set) and tfidf_top_terms (per-doc terms).

    Weights are quantized integers at creation:
    ``w = least(div(tf · w_scale, dfc), w_cap)`` with dfc from the
    CORPUS postings (queries are scored in the corpus's weight space,
    the standard IR convention), so per-pair Σ w_q·w_c is exact int64
    arithmetic under any partitioning and fully value-oracle-able.
    ``w_cap`` is the overflow guard, not a tuning knob: without it a
    df=1 token with tf≈3.5k yields w≈3.5e9 whose square exceeds int64
    and SUM silently wraps negative, burying the genuinely-best match.
    At the default cap, Σ products ≤ shared_terms · 9e12 — exact to
    ~10⁵ shared terms. Semantically it is BM25-style tf saturation: a
    term's weight stops growing once div(tf·w_scale, dfc) passes the
    cap, which for real corpora only triggers on degenerate
    repeated-token documents.

    Plan: both sides collapse to (id, tok, tf) postings (one shuffle
    each, partial-agged), join on the TOKEN key — the classic
    impact-ordered posting traversal as a relational join; candidate
    volume is Σ_t q_df(t)·c_df(t), pruned by dropping stop tokens via
    ``max_df`` in callers if needed. Then one (qid, did) aggregate and
    a per-query top-k window (bounded by k·|queries|). The corpus
    side never broadcasts: vocabulary² can be arbitrarily large.
    Self-matches (same id on both sides) are excluded.
    """
    def _posts(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(f"{prefix}id"),
                F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
            )
            .groupBy(f"{prefix}id", "tok")
            .agg(F.count(F.lit(1)).alias(f"{prefix}tf"))
        )

    c_posts = _posts(corpus_df, "c_")
    q_posts = _posts(query_df, "q_")
    dfreq = c_posts.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    cw = c_posts.join(dfreq, "tok").select(
        "tok",
        "c_id",
        F.expr(f"least(div(c_tf * {w_scale}L, dfc), {w_cap}L)").alias("c_w"),
    )
    qw = q_posts.join(dfreq, "tok").select(
        "tok",
        "q_id",
        F.expr(f"least(div(q_tf * {w_scale}L, dfc), {w_cap}L)").alias("q_w"),
    )
    scored = (
        qw.join(cw, "tok")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("q_w") * F.col("c_w")).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("corpus_id"),
            "score",
            "rnk",
        )
    )


def build_text_index(
    df: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist an inverted index for repeated BM25 search.

    Three tables under ``index_dir``:

    - ``postings`` — (tok, id, tf), written ``partitionBy('bucket')``
      with ``bucket = pmod(xxhash64(tok), 64)`` and sorted by tok
      inside each file, so a query's term lookups prune to the terms'
      buckets at the partition level and to their row groups via
      min/max on the sorted tok column;
    - ``doclens`` — (id, dl): per-document token counts;
    - ``stats`` — one row (n, sum_dl): the BM25 global constants.

    Build cost is the one explode shuffle any inverted index pays.
    """
    from pyspark import StorageLevel

    arr = tokens(F.lower(F.col(text_col)))
    # pinned across the three consumers (postings write, doclens
    # write, stats agg) — otherwise the corpus is scanned and
    # re-tokenized three times per build; released before returning
    # since the build is terminal.
    with intermediates():
        base = pin(
            df.select(
                F.col(id_col).alias("id"),
                F.size(arr).cast("bigint").alias("dl"),
                arr.alias("__toks"),
            ),
            StorageLevel.MEMORY_AND_DISK,
        )
        posts = (
            base.select("id", F.explode("__toks").alias("tok"))
            .groupBy("tok", "id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .withColumn("bucket", F.pmod(F.xxhash64("tok"), F.lit(64)).cast("int"))
        )
        (
            posts.repartition("bucket")
            .sortWithinPartitions("tok", "id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/postings")
        )
        base.select("id", "dl").write.mode("overwrite").parquet(
            f"{index_dir}/doclens"
        )
        _swap_stats(
            df.sparkSession,
            index_dir,
            base.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")),
        )


def bm25_topk_indexed(
    spark,
    index_dir: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over a persisted inverted index — same scores as
    :func:`bm25_topk` on the indexed corpus, but the read is
    postings-sized, not corpus-sized: only the query terms' hash-bucket
    partitions are opened, and within them row-group min/max on the
    sorted tok column skips unrelated terms. The repeated-search
    pattern: index once, answer every query from postings.

    Output: (id, dl, tf_0..tf_{n-1}, score) — identical schema and
    bit-identical scores to the scan-based operator (asserted by test).
    """
    if not query_terms:
        raise ValueError("bm25_topk_indexed needs at least one query term")
    if len(query_terms) != len(set(query_terms)):
        raise ValueError("query_terms must be distinct")

    stats = _read_stats(spark, index_dir)
    n, sum_dl = stats["n"], stats["sum_dl"]
    if n == 0:
        raise ValueError("bm25_topk_indexed over an empty index")
    avgdl = float(sum_dl) / float(n)

    # the terms' hash buckets, computed by the same JVM xxhash64 that
    # bucketed the postings (one tiny local job) — filtering on tok
    # alone would NOT prune the bucket partitions
    term_buckets = sorted(
        {
            r["b"]
            for r in values_frame(
                spark, [(t,) for t in query_terms], "tok string"
            )
            .select(F.pmod(F.xxhash64("tok"), F.lit(64)).cast("int").alias("b"))
            .collect()
        }
    )
    posts = spark.read.parquet(f"{index_dir}/postings")
    hits = posts.filter(
        F.col("bucket").isin(term_buckets) & F.col("tok").isin(list(query_terms))
    )
    # pivot the (tok, id, tf) hits into per-term tf columns; docs absent
    # from a term's postings get tf=0 exactly like the scan's filter()
    tf_cols = [
        F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("tf"))), F.lit(0)
        )
        .cast("bigint")
        .alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = hits.groupBy("id").agg(*tf_cols)
    doclens = _read_parquet(spark, f"{index_dir}/doclens")
    base = per_doc.join(doclens, "id")

    # df per term from the same hits (tiny aggregate)
    df_row = hits.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc")).collect()
    dfs = {r["tok"]: r["dfc"] for r in df_row}
    idf = [
        math.log(
            (n - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5) + 1.0
        )
        for t in query_terms
    ]
    score = _bm25_score(len(query_terms), idf, avgdl, k1, b)
    return (
        base.select("id", "dl", *[f"tf_{i}" for i in range(len(query_terms))])
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def _read_stats(spark, index_dir: str):
    """Read the one-row stats table, self-healing a missing/torn copy.

    ``update_text_index`` swaps stats via tmp-write + delete + rename —
    a crash inside that (sub-millisecond) window leaves no ``stats``
    dir. Since stats is strictly derivable from ``doclens``, a reader
    that can't open it recomputes (and does NOT write back: repair is
    the updater's job, readers stay read-only).
    """
    try:
        return _read_parquet(spark, f"{index_dir}/stats").collect()[0]
    except Exception:
        return (
            _read_parquet(spark, f"{index_dir}/doclens")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl"))
            .collect()[0]
        )


def _swap_stats(spark, index_dir: str, stats_df: DataFrame) -> None:
    """Replace ``<index_dir>/stats`` with ``stats_df`` near-atomically.

    ``mode("overwrite")`` deletes the target and then runs a whole
    Spark job to rewrite it — readers see no stats table for the entire
    job. Instead: write aside to ``stats.tmp`` (full job, old stats
    still readable), then delete+rename — two metadata ops, a
    sub-millisecond window instead of a job-length one. A crash inside
    that window is healed by :func:`_read_stats` recomputing from
    doclens, so the index is never wedged.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/stats.tmp")
    final = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/stats")
    if fs.exists(tmp):  # leftover from a crashed predecessor
        fs.delete(tmp, True)
    stats_df.coalesce(1).write.parquet(f"{index_dir}/stats.tmp")
    if fs.exists(final):
        fs.delete(final, True)
    if not fs.rename(tmp, final):
        raise RuntimeError(f"stats swap rename failed under {index_dir!r}")


def update_text_index(
    new_df: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new document batch to an existing inverted index.

    The continuous-ingest counterpart of :func:`build_text_index`: the
    delta's postings append into the same bucket partitions (new files,
    no rewrite of existing ones), doclens appends, and the stats row is
    recomputed from the doclens table (a tiny aggregate — never a
    corpus scan). After the update, :func:`bm25_topk_indexed` scores
    the union corpus exactly as a fresh full build would (asserted by
    test).

    CONTRACT: ``new_df`` ids must be disjoint from the indexed ids —
    postings are per-(tok, id) rows, so a re-ingested id would double
    its term frequencies. Dedup the delta against doclens first if ids
    may repeat (an id-keyed anti join).
    """
    from pyspark import StorageLevel

    arr = tokens(F.lower(F.col(text_col)))
    with intermediates():
        base = pin(
            new_df.select(
                F.col(id_col).alias("id"),
                F.size(arr).cast("bigint").alias("dl"),
                arr.alias("__toks"),
            ),
            StorageLevel.MEMORY_AND_DISK,
        )
        posts = (
            base.select("id", F.explode("__toks").alias("tok"))
            .groupBy("tok", "id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .withColumn("bucket", F.pmod(F.xxhash64("tok"), F.lit(64)).cast("int"))
        )
        (
            posts.repartition("bucket")
            .sortWithinPartitions("tok", "id")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/postings")
        )
        spark = new_df.sparkSession
        base.select("id", "dl").write.mode("append").parquet(f"{index_dir}/doclens")
        stats = (
            _read_parquet(spark, f"{index_dir}/doclens")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl"))
        )
        _swap_stats(spark, index_dir, stats)


def bm25_prf(
    df: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (RM3-lite): round 1 retrieves
    ``fb_docs`` top docs for ``query_terms``; the ``fb_terms`` heaviest
    non-query tokens of that feedback set expand the query; round 2
    rescores the corpus over the expanded set — the classic recall
    lever when queries are short (the expansion terms are the corpus's
    own vocabulary for the topic).

    Exactness: this uses the POSTS-based BM25 shape (term set is
    data-dependent, so per-term columns can't be fixed), and a posts
    aggregate sums per-term scores in partitioning order — so each
    (doc, term) score is 1e-9-floor-quantized to int64 BEFORE the
    per-doc sum, and every ranking (round-1 top, feedback terms,
    final top-k) orders on exact ints with id/token tie-breaks.
    idf keeps the fixed-column oracle's exact expression shape.

    Scale: posts build once (one doc-keyed agg), df table once; both
    rounds are broadcast-term-set semi-joins against the posts — the
    corpus scans twice, never self-joins; feedback frames are ≤
    fb_docs/fb_terms rows.
    """
    from loan_etl_data_pipeline_spark.operators.text import tokens as _toks

    spark = df.sparkSession
    toks = _toks(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    posts = (
        base.select("id", F.size("t").alias("dl"), F.explode("t").alias("tok"))
        .groupBy("id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size("t")).cast("bigint").alias("sumdl"),
    )
    dfreq = posts.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("dfc")
    )

    def scored(term_df):
        j = (
            posts.join(F.broadcast(term_df), "tok")
            .join(dfreq, "tok")
            .crossJoin(F.broadcast(stats))
        )
        nn = F.col("n").cast("double")
        idf = F.log(
            (nn - F.col("dfc").cast("double") + 0.5)
            / (F.col("dfc").cast("double") + 0.5)
            + 1.0
        )
        avgdl = F.col("sumdl").cast("double") / nn
        tfd = F.col("tf").cast("double")
        part = (tfd * 2.5) / (
            tfd + 1.5 * (0.25 + 0.75 * (F.col("dl").cast("double") / avgdl))
        )
        q = F.floor(idf * part * F.lit(1e9)).cast("bigint")
        return j.groupBy("id").agg(F.sum(q).alias("sq"))

    qterms = values_frame(spark, [(t,) for t in query_terms], "tok string")
    top1 = (
        scored(qterms)
        .orderBy(F.desc("sq"), F.asc("id"))
        .limit(fb_docs)
        .select("id")
    )
    fb = (
        posts.join(F.broadcast(top1), "id")
        .join(F.broadcast(qterms), "tok", "left_anti")
        .groupBy("tok")
        .agg(F.sum("tf").alias("w"))
        .orderBy(F.desc("w"), F.asc("tok"))
        .limit(fb_terms)
        .select("tok")
    )
    expanded = qterms.unionByName(fb).distinct()
    return (
        scored(expanded)
        .orderBy(F.desc("sq"), F.asc("id"))
        .limit(k)
        .select("id", (F.col("sq").cast("double") / 1e9).alias("score"))
    )


def build_positional_index(
    df: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist a POSITIONAL inverted index: (tok, id, pos) — one row
    per token OCCURRENCE — written with the same
    ``partitionBy(bucket = pmod(xxhash64(tok), 64))`` + sorted-tok
    layout as :func:`build_text_index`, so a phrase query's token
    lookups prune to the phrase tokens' buckets at the partition level
    and to their row groups via min/max on the sorted tok column.

    Positions are what tf-only postings can't express: phrase queries
    ("exact words in this order"), proximity windows, and term-offset
    snippets. Build cost is the same one explode shuffle; the index is
    |tokens| rows instead of |distinct (tok, doc)| — the classic
    positional-index size trade.
    """
    arr = tokens(F.lower(F.col(text_col)))
    posts = (
        df.select(F.col(id_col).alias("id"), F.posexplode(arr).alias("pos", "tok"))
        .withColumn("bucket", F.pmod(F.xxhash64("tok"), F.lit(64)).cast("int"))
    )
    (
        posts.repartition("bucket")
        .sortWithinPartitions("tok", "id", "pos")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/postings")
    )



def _term_buckets(spark, terms) -> list[int]:
    """Bucket ids for a term set under the index layout's
    pmod(xxhash64(tok), 64) scheme — computed via the JVM hash so the
    probe's IN-list matches what the build wrote. One definition for
    every index probe (phrase / proximity / KWIC)."""
    return sorted(
        {
            r["b"]
            for r in values_frame(
                spark, [(t,) for t in set(terms)], "tok string"
            )
            .select(F.pmod(F.xxhash64("tok"), F.lit(64)).cast("int").alias("b"))
            .collect()
        }
    )


def phrase_count_indexed(spark, index_dir: str, phrase: str) -> DataFrame:
    """Exact phrase occurrence counts from the positional index:
    (id, n_hits) for every document containing the phrase's tokens at
    CONSECUTIVE positions, n_hits = number of occurrences.

    The probe reads ONLY the phrase tokens' postings — the bucket
    IN-list prunes at the partition level (asserted by plan test) and
    the sorted tok column prunes row groups inside each bucket. Each
    phrase token i becomes a (id, pos−i) stream; intersecting the k
    streams on (id, start) via equality joins leaves exactly the
    phrase starts (repeated tokens in the phrase just reuse a stream
    at two offsets). k−1 equality joins on (id, start), each
    posting-sized for ONE vocabulary term — never a text rescan.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    buckets = _term_buckets(spark, terms)
    posts = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("tok").isin(list(set(terms))))
        .select("tok", "id", "pos")
    )
    acc = None
    for i, t in enumerate(terms):
        stream = posts.filter(F.col("tok") == t).select(
            "id", (F.col("pos") - i).alias("start")
        )
        acc = stream if acc is None else acc.join(stream, ["id", "start"])
    return acc.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))


def proximity_count_indexed(
    spark, index_dir: str, term_a: str, term_b: str, *, window: int
) -> DataFrame:
    """Proximity search from the positional index: (id, n_hits) where
    n_hits counts (posA, posB) occurrence pairs of the two terms with
    0 < |posA − posB| ≤ window in the same document — the "NEAR/k"
    operator (phrase search is the degenerate ordered window=1 case).

    The range condition |pa − pb| ≤ w becomes EQUALITY joins via
    position banding: band = pos div w, and a B occurrence can only
    lie in A's band ± 1 — so each A row fans out to 3 band keys and
    the join stays a hash join with a row-local |diff| verify, never a
    range-condition nested loop (the operators/joins.py range-join
    discipline applied to token positions). Probe reads only the two
    terms' buckets, partition-pruned like phrase_count_indexed.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    ta, tb = term_a.lower(), term_b.lower()
    buckets = _term_buckets(spark, [ta, tb])
    posts = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("tok").isin([ta, tb]))
        .select("tok", "id", "pos")
    )
    a = (
        posts.filter(F.col("tok") == ta)
        .select(
            "id",
            F.col("pos").alias("pa"),
            F.explode(
                F.array(
                    F.expr(f"pos div {window} - 1"),
                    F.expr(f"pos div {window}"),
                    F.expr(f"pos div {window} + 1"),
                )
            ).alias("band"),
        )
    )
    b = posts.filter(F.col("tok") == tb).select(
        "id", F.col("pos").alias("pb"), F.expr(f"pos div {window}").alias("band")
    )
    pairs = (
        a.join(b, ["id", "band"])
        .filter(
            (F.abs(F.col("pa") - F.col("pb")) <= window)
            & (F.col("pa") != F.col("pb"))
        )
        .select("id", "pa", "pb")
    )
    # no dedup needed: b carries ONE band per occurrence, so each
    # (pa, pb) pair matches in exactly one of a's three fanned bands
    return pairs.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )


def kwic_indexed(
    spark,
    index_dir: str,
    docs: DataFrame,
    term: str,
    *,
    context: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context (KWIC) snippets: one row per occurrence of
    ``term`` — (id, pos, snippet), snippet = the ±``context`` token
    window around the hit, joined as one string.

    The positional index supplies the hit LIST (bucket-pruned, like
    phrase_count_indexed); only matching documents are then joined
    back to the corpus for the row-local array slice — the corpus scan
    is a semi-join-reduced lookup, never a full-text regex pass, and
    the slice itself is codegen (no Python). The classic concordance
    view reviewers ask for when a filter flags a term.
    """
    if context < 0:
        raise ValueError(f"context must be >= 0, got {context}")
    t = term.lower().strip()
    if not t or " " in t:
        raise ValueError(
            f"term must be exactly one token, got {term!r} — "
            "multi-token lookups are phrase_count_indexed's job"
        )
    bucket = _term_buckets(spark, [t])[0]
    hits = (
        spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket") == bucket)
        .filter(F.col("tok") == t)
        .select("id", "pos")
    )
    toks = docs.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    # slice() is 1-based; pos is 0-based; clamp the left edge at 1
    start = F.greatest(F.col("pos") + 1 - context, F.lit(1))
    length = F.col("pos") + 1 + context - start + 1
    return (
        hits.join(toks, "id")
        .select(
            F.col("id").alias(id_col),
            F.col("pos").cast("bigint").alias("pos"),
            F.array_join(F.slice("__toks", start, length), " ").alias(
                "snippet"
            ),
        )
    )


def maxscore_skiprate(
    df: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MaxScore/WAND dynamic-pruning audit (Turtle & Flood 1995;
    Broder et al. 2003): how many candidate documents could a top-k
    engine SKIP WITHOUT SCORING, given per-term score upper bounds?
    A document whose sum of term upper bounds over the query terms it
    contains is below theta (the k-th best full score) can never enter
    the top k — that inequality is the entire basis of WAND/MaxScore
    index traversal, and this measures the skip fraction it would buy
    on THIS corpus and query (near 0 ⇒ dynamic pruning won't help;
    near 1 ⇒ per-term max-score metadata pays for itself).

    Emits one row per query term — its exact-int upper bound and
    document frequency — with the exact theta and the candidate /
    skippable counts broadcast alongside (skip_rate = skippable /
    candidates, the one float).  Every (doc, term) score is the
    1e-9-floor-quantized int64 of the bm25_prf posts path, so theta,
    the bounds, and the inequality are all exact-integer comparisons.

    Scale: the posts aggregate is the only fact-sized shuffle; upper
    bounds are a term-keyed aggregate over the query-term posts, the
    skip test one broadcast compare per candidate — exactly the
    metadata cost profile of a real MaxScore index build.
    """
    from loan_etl_data_pipeline_spark.operators.text import tokens as _toks

    spark = df.sparkSession
    toks = _toks(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    posts = (
        base.select("id", F.size("t").alias("dl"), F.explode("t").alias("tok"))
        .groupBy("id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size("t")).cast("bigint").alias("sumdl"),
    )
    dfreq = posts.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("dfc")
    )
    qterms = values_frame(spark, [(t,) for t in query_terms], "tok string")
    j = (
        posts.join(F.broadcast(qterms), "tok")
        .join(dfreq, "tok")
        .crossJoin(F.broadcast(stats))
    )
    nn = F.col("n").cast("double")
    idf = F.log(
        (nn - F.col("dfc").cast("double") + 0.5)
        / (F.col("dfc").cast("double") + 0.5)
        + 1.0
    )
    avgdl = F.col("sumdl").cast("double") / nn
    tfd = F.col("tf").cast("double")
    part = (tfd * 2.5) / (
        tfd + 1.5 * (0.25 + 0.75 * (F.col("dl").cast("double") / avgdl))
    )
    qscored = j.select(
        "id", "tok", F.floor(idf * part * F.lit(1e9)).cast("bigint").alias("q")
    ).localCheckpoint(eager=False)
    theta = (
        qscored.groupBy("id")
        .agg(F.sum("q").cast("bigint").alias("sq"))
        .orderBy(F.desc("sq"), F.asc("id"))
        .limit(k)
        .agg(F.min("sq").cast("bigint").alias("theta"))
    )
    ub = qscored.groupBy("tok").agg(
        F.max("q").cast("bigint").alias("ub"),
        F.count(F.lit(1)).cast("bigint").alias("df_t"),
    )
    docub = (
        qscored.join(F.broadcast(ub.select("tok", "ub")), "tok")
        .groupBy("id")
        .agg(F.sum("ub").cast("bigint").alias("ub_sum"))
    )
    counts = (
        docub.crossJoin(F.broadcast(theta))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum((F.col("ub_sum") < F.col("theta")).cast("bigint")).alias(
                "n_skippable"
            ),
        )
    )
    return (
        ub.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(counts))
        .select(
            "tok",
            "ub",
            "df_t",
            "theta",
            "n_candidates",
            "n_skippable",
            (
                F.col("n_skippable").cast("double")
                / F.col("n_candidates").cast("double")
            ).alias("skip_rate"),
        )
    )
