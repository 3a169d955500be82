"""Round-3 curation-family queries: winnowing fingerprints, SemDeDup,
integer PageRank, and the TPC-H-Q9-style profit rollup.

These extend the EXT surface (SURVEY.md §2 Part B) with the remaining
classic data-curation primitives the catalog did not yet exercise:

- q_winnow_fingerprint — Schleimer et al. winnowing (the MOSS document
  fingerprint), computed entirely inside array expressions (zero
  shuffles before the output agg);
- q_semantic_dedup — SemDeDup-style embedding dedup with a blocked
  pair scan and an engine-portable min-id keep rule;
- q_pagerank — damped PageRank in exact int64 fixed-point, the only
  form of PageRank that CAN be oracle-checked (float PR re-associates
  sums per partition);
- q_part_profit — the Q9 plan shape (two fact-side joins on different
  keys + three broadcast dimensions), absent from queries_tpch.py
  because the testdata has no partsupp: adapted to a synthetic
  retail-price cost model.

The reference (loan-etl-data-pipeline) has no analog for any of these;
its whole engine is single-table aggregates
(``airflow/dags/etl/pyspark_etl.py``) — EXT rows per the build mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

# imported for its registrations: q_leakage_safe_split's oracle reuses
# q_dup_components' SQL
import loan_etl_data_pipeline_spark.queries  # noqa: F401
from loan_etl_data_pipeline_spark.catalog import oracle, oracle_sql, query
from loan_etl_data_pipeline_spark.functions.deterministic import dsum_sql
from loan_etl_data_pipeline_spark.sources.tables import load_table
from loan_etl_data_pipeline_spark.session import intermediates

_WINNOW_K = 8
_WINNOW_W = 4
_SEMANTIC_TAU = 0.25
_PR_ITERS = 3


@query
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint summary (operators/text.py
    winnow_fingerprints, k=8, w=4): distinct-fp count plus an exact
    integer checksum (sum/min/max) of the selected 48-bit hashes.

    The checksum certifies the full fingerprint SET per document
    without shipping ~0.4·len rows/doc through the driver compare; the
    set itself is what a postings join dedups on. The whole query is
    one narrow projection + one final groupBy — at 100 TB the
    fingerprinting happens at scan speed and only ≤|docs| summary rows
    shuffle.
    """
    from loan_etl_data_pipeline_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = winnow_fingerprints(
        docs,
        "doc_id",
        "text",
        k=_WINNOW_K,
        w=_WINNOW_W,
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("fp").alias("fp_sum"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


@query
def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing ≥5 winnowing fingerprints after dropping
    stop-fingerprints with df > 20 (operators/text.py
    winnow_neardup_pairs) — the MOSS overlap join, exact for shared
    substrings ≥ k+w-1 whose fps survive the df cap.

    The df cap is the skew guard: candidate volume is Σ df(fp)² ≤
    max_df·|postings| — linear in the corpus, never quadratic, no
    matter how common a boilerplate gram is.
    """
    from loan_etl_data_pipeline_spark.operators.text import winnow_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_neardup_pairs(
        docs,
        "doc_id",
        "text",
        k=_WINNOW_K,
        w=_WINNOW_W,
        max_df=20,
        min_shared=5,
        parallelism=spark.sparkContext.defaultParallelism,
    )


@query
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level SemDeDup (operators/similarity.py
    semantic_dedup): inside each ``label`` block, drop every vector
    with a smaller-id neighbor at cosine ≥ 0.25; return survivors.

    ``label`` stands in for the k-means cluster id SemDeDup blocks on
    (train_ivf_centroids + assignment at scale — certified by
    q_ivf_exhaustive); the oracle replays the identical floored-int64
    cosine and NOT-EXISTS keep rule in SQL.
    """
    from loan_etl_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    kept = semantic_dedup(
        emb,
        threshold=_SEMANTIC_TAU,
        id_col="vec_id",
        vec_col="embedding",
        block_col="label",
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return kept.select("vec_id", "label")


@query
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by integer-fixed-point PageRank over the symmetric
    co-purchase graph (operators/graph.py pagerank, 3 iterations,
    damping 0.85, scale 1e9).

    Exercises the iterative join+agg family end to end with a FULL
    value oracle — possible only because every step is exact int64
    (the oracle unrolls the three iterations as CTEs). The graph is
    the support≥2 co-purchase edge set shared with
    q_copurchase_degrees/triangles.
    """
    from loan_etl_data_pipeline_spark.operators.graph import pagerank
    from loan_etl_data_pipeline_spark.queries import _copurchase_edges

    und = _copurchase_edges(spark, sf_dir)
    sym = und.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).union(und.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    pr = pagerank(sym, "src", "dst", iterations=_PR_ITERS)
    return (
        pr.select(F.col("id").cast("bigint").alias("part"), F.col("pr"))
        .orderBy(F.desc("pr"), F.asc("part"))
        .limit(20)
    )


@query
def q_part_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation × order year for widget-family parts
    (TPC-H-Q9-style; no partsupp in the testdata, so the supply cost is
    the synthetic 10% of retail: profit = revenue − 0.1·retail·qty).

    Plan shape Q9 is famous for: the fact table joins on TWO different
    keys — partkey (against a filtered broadcast dim) and orderkey
    (against the orders fact) — so exactly one wide shuffle pair on
    orderkey survives; part, supplier, and nation all broadcast. The
    filtered part dim prunes lineitem BEFORE the orderkey shuffle,
    which is the 100 TB ordering that matters.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.expr(
                dsum_sql(
                    "l_extendedprice * (1 - l_discount)"
                    " - 0.1 * (p_retailprice * l_quantity)"
                )
            ).alias("profit")
        )
    )


@query
def q_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SemDeDup pipeline (Abbas et al. 2023): k-means the
    embeddings (deterministic Lloyd, operators/ivf.py), block on the
    learned cell ids, drop within-cell near-dups by the min-id rule,
    return (vec_id, cell) survivors.

    Rows-only by design — the cell assignment comes from trained
    centroids no SQL engine can replay; every piece is certified
    separately (training determinism + probe-all==bruteforce via
    q_ivf_exhaustive; the keep rule via q_semantic_dedup's oracle;
    the within-cell guarantee via tests/test_curation.py's
    brute-force check on the composed output).
    """
    from loan_etl_data_pipeline_spark.operators.ivf import (
        assign_cells_df,
        train_ivf_centroids,
    )
    from loan_etl_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, dim=64, n_cells=16, iters=3)
    assigned = assign_cells_df(emb, cents)
    kept = semantic_dedup(
        assigned,
        threshold=_SEMANTIC_TAU,
        id_col="vec_id",
        vec_col="embedding",
        block_col="cell",
        parallelism=spark.sparkContext.defaultParallelism,
    )
    return kept.select("vec_id", F.col("cell").cast("int").alias("cell"))


@query
def q_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding validity gate per label: wrong-dimension, NaN-bearing,
    and all-zero vectors counted in one narrow scan — the vector twin
    of the declarative data-quality gate (operators/quality.py), run
    before any ANN/dedup operator trusts the column.

    All three predicates are array expressions (size / exists(isnan) /
    array_max(abs)=0), so the scan shuffles only ≤|labels| summary
    rows; the oracle replays them with DuckDB list lambdas.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.size(e) != 64, 1).otherwise(0))
        .cast("bigint")
        .alias("n_wrong_dim"),
        F.sum(
            F.when(F.exists(e, lambda x: F.isnan(x.cast("double"))), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_with_nan"),
        F.sum(
            F.when(
                F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
                == F.lit(0.0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_zero"),
    )


@query
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 for 10 probes (operators/pq.py:
    m=8 subspaces × 64 codewords → 32× smaller scan than floats).

    Rows-only by design, like q_ivf_topk: ADC scores approximate
    cosine through the trained codebook reconstruction, so no SQL
    engine can replay them — correctness is pinned by tests/test_pq.py
    (bit-exact kernel-vs-reference parity, training partitioning
    invariance, recall floors, exact-re-rank composition).
    """
    from loan_etl_data_pipeline_spark.operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return pq_topk(q, emb, dim=64, k=5, m=8, ksub=64, iters=3)


@query
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts of the per-user event stream: for each
    (event_type → next event_type) pair, how often it occurs.

    The behavioral-analytics primitive behind funnels and
    next-action models: one lead() window per user (single shuffle on
    user_id — the same partitioning sessions/funnels use) then a
    count per transition pair (≤|types|² rows). Ordering ties on ts
    are broken by event_id so the sequence — and the oracle — is
    total-order deterministic.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier variety per (brand, size) for selected part
    sizes, excluding negative-balance suppliers (TPC-H-Q16-style;
    partsupp-free adaptation counts suppliers who actually shipped).

    The Q16 shape the catalog lacked: an exclusion ANTI-join feeding a
    grouped COUNT(DISTINCT) — the anti side broadcasts (it is a
    filtered dim), the distinct-agg shuffles once on the group key
    with partial per-partition dedup. The size IN-list reaches the
    part scan as a pushed filter.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").isin(1, 5, 9))
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
    )


@query
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN hard-negative mining: for each probe vector, the top-3
    nearest neighbors with a DIFFERENT label — the contrastive-training
    staple (nearest wrong-class examples are the informative negatives,
    vs q_negatives' hash-ring random ones).

    The label-inequality theta join compiles to a
    BroadcastNestedLoopJoin with the 10-row PROBE side broadcast —
    correct here because the probe batch is capped by construction; at
    a 1M-probe scale you run the capped-kernel path instead
    (cosine_topk_bruteforce's scan with the label test in-kernel). The
    floored-int64 cosine keeps the oracle bit-exact.
    """
    from loan_etl_data_pipeline_spark.operators.similarity import floored_dot_expr

    emb = load_table(spark, sf_dir, "embeddings")
    with_n2 = emb.withColumn(
        "n2", floored_dot_expr(F.col("embedding"), F.col("embedding"))
    )
    q = with_n2.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qvec"),
        F.col("n2").alias("qn"),
    )
    c = with_n2.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("cvec"),
        F.col("n2").alias("cn"),
    )
    dot = floored_dot_expr(F.col("qvec"), F.col("cvec"))
    cosine = (dot.cast("double") / F.lit(1e12)) / (
        F.sqrt(F.col("qn").cast("double") / F.lit(1e12))
        * F.sqrt(F.col("cn").cast("double") / F.lit(1e12))
    )
    from pyspark.sql import Window

    scored = (
        F.broadcast(q)
        .join(c, F.col("qlabel") != F.col("clabel"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@query
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: hash-split documents by their
    near-duplicate COMPONENT, not their own id — the leakage guard
    every eval needs (an 80/20 doc-id split puts one copy of a
    near-dup pair in train and its twin in test, inflating eval).

    Composition of certified parts: the Jaccard≥0.5 pair graph →
    connected components (same construction as q_dup_components;
    singletons keep their own id as component) → md5-bucket split on
    the component id (functions/splits.py hash_split) — every member
    of a component lands on the same side, forever, on any engine.
    """
    from loan_etl_data_pipeline_spark.functions.splits import hash_split
    from loan_etl_data_pipeline_spark.operators.graph import connected_components
    from loan_etl_data_pipeline_spark.queries import _jaccard_pair_graph

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with intermediates():
        pairs = _jaccard_pair_graph(spark, sf_dir)
        comp = connected_components(pairs, "id_a", "id_b")
    labeled = docs.join(
        comp.select(F.col("id").alias("doc_id"), "component"), "doc_id", "left"
    ).withColumn("component", F.coalesce("component", "doc_id"))
    return hash_split(labeled, "component", train_frac=0.8).select(
        "doc_id", "component", "split"
    )


@query
def q_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percentile normalization of document length —
    quantile normalization across corpus feeds, so a "long doc" means
    the same thing in every source before mixing.

    Scale-correct construction: ONE distributed global_rank over the
    total order (source, n_chars, doc_id) — range partitions, never an
    Exchange SinglePartition — then per-source (offset, count)
    broadcast back: in-source rank = global rank − source offset,
    percentile = (r−1)/(cnt−1). A bare percent_rank() OVER (PARTITION
    BY source ...) puts each source's ENTIRE corpus in one task (a
    handful of giant sources = a handful of straggler tasks); the
    oracle runs exactly that window, certifying the decomposition.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ranked_full = global_rank(
        docs,
        [F.asc("source"), F.asc("n_chars"), F.asc("doc_id")],
        rank_col="__gr",
    )
    per_src = ranked_full.groupBy("source").agg(
        F.min("__gr").alias("__off"), F.count(F.lit(1)).alias("__cnt")
    )
    return (
        ranked_full.join(F.broadcast(per_src), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.when(F.col("__cnt") > 1,
                   (F.col("__gr") - F.col("__off")).cast("double")
                   / (F.col("__cnt") - 1).cast("double"))
            .otherwise(F.lit(0.0))
            .alias("pct_in_source"),
        )
    )


@query
def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources: shared
    distinct tokens and the overlap coefficient |Va∩Vb|/min(|Va|,|Vb|)
    — the drift diagnostic read before mixing sources (disjoint
    vocabularies ⇒ a tokenizer trained on one underfits the other;
    near-1 overlap ⇒ near-duplicate feeds).

    Scale shape: tokens collapse to the (source, token) DISTINCT set
    first (one shuffle, corpus → vocabulary-sized), the pair join runs
    on the token key over vocab rows only, and per-source vocab sizes
    broadcast back — with exact integer counts throughout, so the
    coefficient is one double division per pair.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    shared = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("v").alias("va"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("v").alias("vb"))
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("va", "vb").cast("double")
            ).alias("overlap_coef"),
        )
    )


@query
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: predicted (operators/text.py
    lang_id) × golden ``lang`` label, one count per cell — the
    classifier-eval loop every curation heuristic needs before it
    gates a corpus. ≤|langs|² output rows; the prediction join is on
    the documents' own key so the matrix costs one aggregate beyond
    the lang_id scan itself.
    """
    from loan_etl_data_pipeline_spark.operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query
def q_sliding_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users over a trailing 6-hour sliding window via HLL
    tumble-merge (functions/sketches.py sliding_distinct): raw events
    sketched ONCE per hour, sliding answers from kilobyte sketch
    unions — the pre-aggregate pattern a naive per-window COUNT
    DISTINCT (width× re-scan of raw rows) cannot match at 100 TB.

    Rows-only by design, like q_approx_users: DuckDB's HLL is a
    different implementation with different estimates. The
    merge-equals-direct (lossless-union) and error-vs-exact contracts
    are pinned in tests/test_sketches.py.
    """
    from loan_etl_data_pipeline_spark.functions.sketches import sliding_distinct

    ev = load_table(spark, sf_dir, "events")
    return sliding_distinct(ev, "ts", "user_id", slide="1 hour", width_slides=6)


@query
def q_sliding_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users over the trailing 6 OBSERVED hourly tumbles
    — the value-oracle sibling certifying q_sliding_users' HLL
    semantics. "Observed tumbles", not a 6-hour time interval: the HLL
    variant's window is ``rowsBetween(-5, 0)`` over tumbles that EXIST,
    so on gapped data a calendar-interval twin would count a different
    window and the certification would be false; this query ranks the
    distinct tumbles and joins on rank distance, the exact mirror.
    Raw events collapse to DISTINCT (hour, user) pairs first (the only
    corpus-sized shuffle). At 100 TB the pair table is the
    pre-aggregate; the HLL variant replaces it with kilobyte sketches
    when even pairs are too wide."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "user_id"
    ).distinct()
    tumbles = pairs.select("h").distinct().withColumn(
        "rk", F.row_number().over(Window.orderBy("h"))
    )
    p = pairs.join(F.broadcast(tumbles), "h").select(
        F.col("rk").alias("prk"), "user_id"
    )
    t = tumbles.select(F.col("h").alias("th"), F.col("rk").alias("trk"))
    joined = p.join(
        F.broadcast(t),
        (F.col("prk") <= F.col("trk")) & (F.col("prk") >= F.col("trk") - 5),
    )
    return (
        joined.groupBy("th")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
        .select(
            F.date_format("th", "yyyy-MM-dd HH:mm:ss").alias("latest_tumble"),
            "n_users",
        )
    )


@query
def q_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ deterministic concatenation-offset packing
    (operators/packing.py pack_next_fit): corpus laid end to end in
    doc_id order, pack_id = start_offset div 2048 chars — the
    concat-then-slice discipline real LM pipelines use, and the
    packing variant that CAN carry a full value oracle (q_pack_docs'
    bin packing is legitimately partitioning-dependent)."""
    from loan_etl_data_pipeline_spark.operators.packing import pack_next_fit

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_next_fit(d, capacity=2048, length_col="n_chars")


@query
def q_sole_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 suppliers who were the ONLY returner on multi-supplier
    orders (TPC-H-Q21-style; adapted — no commit/receipt dates in the
    testdata, returnflag plays the "failed the order" role).

    Q21's famous shape is EXISTS(another supplier) AND NOT
    EXISTS(another failing supplier) against the same fact table.
    Decorrelated the scale-right way: ONE distinct-collapse of
    lineitem to (orderkey, suppkey, returned), ONE per-order aggregate
    (n_suppliers, n_returners), and the per-(order,supplier) predicate
    becomes a filter on the re-join — three passes over co-partitioned
    orderkey data instead of two correlated subqueries per row.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("ret")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("ret").alias("n_ret"),
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_os.join(per_o, "l_orderkey")
        .filter((F.col("ret") == 1) & (F.col("n_supp") >= 2) & (F.col("n_ret") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "n_orders")
        .orderBy(F.desc("n_orders"), F.asc("s_name"))
        .limit(10)
    )


_COPURCHASE_CTE_SQL = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cop AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e AS (SELECT pa AS u, pb AS v FROM cop UNION ALL SELECT pb, pa FROM cop)
"""

_PR_ITER_SQL = """
    {cur} AS (
        SELECT nodes.id,
               150000000 + (85 * COALESCE(agg.s, 0)) // 100 AS pr
        FROM nodes LEFT JOIN (
            SELECT e.v AS id, SUM({prev}.pr // odeg.odeg) AS s
            FROM e
            JOIN odeg ON e.u = odeg.u
            JOIN {prev} ON {prev}.id = e.u
            GROUP BY e.v
        ) agg ON nodes.id = agg.id
    )
"""

@query
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ corpus LM quality scoring (operators/lm.py): train the
    add-one-smoothed bigram model on documents, score every document
    against it — the CCNet/KenLM perplexity-filter shape with the
    probability quantized to int64 at creation (p9 = ((c12+1)·1e9) div
    (c1+V)), so the per-doc sums are exact and the ENTIRE
    train→score pipeline carries a full value oracle (a float log-prob
    could never: partition-order re-association)."""
    from loan_etl_data_pipeline_spark.operators.lm import (
        bigram_lm_score,
        bigram_lm_train,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model, vocab = bigram_lm_train(d)
    return bigram_lm_score(d, model, vocab)


@query
def q_kn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ held-out Kneser–Ney quality scoring (operators/lm.py
    kneser_ney_train/score): train the interpolated-KN bigram model
    (D = 3/4, add-one-smoothed continuation distribution) on the EVEN
    doc_ids, score EVERY document — unlike q_bigram_lm's
    train-on-everything shape, the held-out half exercises all three
    backoff branches (seen bigram / unseen bigram in a seen context /
    unseen context) that a real filter meets on fresh crawl data. The
    per-bigram probability quantizes to int64 at creation through one
    DECIMAL(38,0) cross-multiplied division, so the whole train→score
    pipeline carries a full value oracle."""
    from loan_etl_data_pipeline_spark.operators.lm import (
        kneser_ney_score,
        kneser_ney_train,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model, stats = kneser_ney_train(d.filter(F.col("doc_id") % 2 == 0))
    return kneser_ney_score(d, model, stats)


@query
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ deterministic training-epoch shuffle (functions/splits.py
    epoch_shuffle): global pseudo-random position under
    (md5_coord48(doc_id||'ep0'), doc_id) + round-robin shard — the
    reproducible alternative to orderBy(rand()) sharding, with the
    global sort kept parallel via functions/ranking.global_rank."""
    from loan_etl_data_pipeline_spark.functions.splits import epoch_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(d, "doc_id", n_shards=8, salt="ep0")


@query
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ per-source budget fill (functions/splits.py
    token_budget_select): biggest-first greedy prefix under a
    2000-char budget per source — one partitioned window cumsum,
    exact ints."""
    from loan_etl_data_pipeline_spark.functions.splits import token_budget_select

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return token_budget_select(d, "n_chars", 2000, by="source")


@query
def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+ exact 3-gram-shingle-set Jaccard ≥ 1/2 via prefix filtering
    (operators/dedup.py prefix_jaccard_pairs): the PPJoin-style exact
    scale path — candidates join only on each set's rarest shingles,
    the verify is row-local, and the integer cross-multiplied
    threshold keeps the pair set engine-exact. The oracle replays the
    same pairs with the naive every-shingle postings join: the filter
    must be invisible in the result. (Shingles, not tokens: this
    corpus's small vocabulary makes token SETS of almost any two docs
    ≥ 1/2-similar — 8.9M pairs at sf0.1 — while 3-gram sets keep the
    signal: 256 pairs.)"""
    from loan_etl_data_pipeline_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold_num=1,
        threshold_den=2,
        ngram=3,
    )


@query
def q_sparse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+/E4+ sparse-vector retrieval (operators/retrieval.py
    sparse_topk): TF-IDF dot-product top-5 for probes doc_id < 10 as a
    token-keyed postings join — the sparse counterpart to the dense
    ANN family, with integer-quantized weights so the whole
    score→rank pipeline is value-exact."""
    from loan_etl_data_pipeline_spark.operators.retrieval import sparse_topk

    d = load_table(spark, sf_dir, "documents")
    return sparse_topk(d.filter(F.col("doc_id") < 10), d, k=5)


@query
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ temperature-scaled (α=0.5) source rebalancing
    (functions/splits.py temperature_sample): sample every source down
    so the mix follows w ∝ √count, targeting 300 rows — the
    multilingual data-mixing staple, with the weight math in exact
    integers (isqrt-scaled shares, integer div thresholds) so the kept
    set is value-oracle-able."""
    from loan_etl_data_pipeline_spark.functions.splits import temperature_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_sample(d, "doc_id", "source", budget=300, salt="tmix")


@query
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.7 set-op completion: nation keys serving BOTH customers and
    suppliers (INTERSECT) and customer-only nations (EXCEPT), labeled
    and unioned — the remaining two of the three relational set
    operators (q_union_nations covers UNION). Each side collapses to
    its distinct key set BEFORE the set op, so the exchanges carry
    ≤|nations| rows."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey")
    )
    both = c.intersect(s).select(F.lit("both").alias("op"), "nationkey")
    only_c = c.subtract(s).select(F.lit("customer_only").alias("op"), "nationkey")
    return both.union(only_c)


# hash_split's md5-bucket threshold for train_frac=0.8 (see
# functions/splits.py: format(round(0.8 * 65536), "04x"))
_SPLIT_THR_80 = "cccd"

#: shared winnowing-fingerprint CTE (grams → 48-bit md5 hashes →
#: window minima → distinct per-doc fp set), the SQL twin of
#: operators/text.py winnow_fingerprints at k=8, w=4
_WINNOW_FPS_CTE = f"""
        g AS (
            SELECT doc_id, gs.i,
                   CAST(('0x' || substr(md5(substr(text, CAST(gs.i AS INTEGER),
                                                   {_WINNOW_K})), 1, 12))
                        AS BIGINT) AS h
            FROM documents,
                 UNNEST(generate_series(1, length(text) - {_WINNOW_K - 1})) AS gs(i)
            WHERE length(text) >= {_WINNOW_K + _WINNOW_W - 1}
        ), wm AS (
            SELECT doc_id, i,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN {_WINNOW_W - 1} PRECEDING
                                         AND CURRENT ROW) AS fp
            FROM g
        ), fps AS (
            SELECT DISTINCT doc_id, fp FROM wm WHERE i >= {_WINNOW_W}
        )
"""

oracle("q_bigram_lm", r"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS l
            FROM documents
        ), big AS (
            SELECT doc_id,
                   l[CAST(g.i AS INTEGER)] AS w1,
                   l[CAST(g.i AS INTEGER) + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(l) - 1)) AS g(i)
        ), c12 AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM big GROUP BY w1, w2
        ), c1 AS (
            SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
        ), vocab AS (
            SELECT CAST(count(DISTINCT t.tok) AS BIGINT) AS v
            FROM toks, UNNEST(l) AS t(tok)
        ), scored AS (
            SELECT big.doc_id,
                   ((c12.c12 + 1) * 1000000000) // (c1.c1 + vocab.v) AS p9
            FROM big
            JOIN c12 USING (w1, w2)
            JOIN c1 USING (w1)
            CROSS JOIN vocab
        ), per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(p9) AS BIGINT) AS sum_p9
            FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(p.n_bigrams, 0) AS n_bigrams,
               coalesce(p.sum_p9, 0) AS sum_p9,
               CAST(p.sum_p9 AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE) AS mean_p9
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """)

oracle("q_epoch_shuffle", """
        WITH ranked AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                       ORDER BY CAST(('0x' || substr(
                           md5(CAST(doc_id AS VARCHAR) || 'ep0'), 1, 12))
                           AS BIGINT) ASC,
                                doc_id ASC) AS pos
            FROM documents
        )
        SELECT doc_id, pos, (pos - 1) % 8 AS shard FROM ranked
    """)

oracle("q_prefix_jaccard", r"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS t
            FROM documents
        ), sets AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in generate_series(1, len(t) - 2)])
                     AS l
            FROM toks WHERE len(t) >= 3
        ), posts AS (
            SELECT doc_id, UNNEST(l) AS tok FROM sets WHERE len(l) > 0
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS inter_size
            FROM posts a JOIN posts b USING (tok)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), szs AS (
            SELECT doc_id, CAST(len(l) AS BIGINT) AS sz
            FROM sets WHERE len(l) > 0
        )
        SELECT id_a, id_b, inter_size,
               sa.sz AS size_a, sb.sz AS size_b,
               CAST(inter_size AS DOUBLE)
                 / CAST(sa.sz + sb.sz - inter_size AS DOUBLE) AS jaccard
        FROM inter
        JOIN szs sa ON id_a = sa.doc_id
        JOIN szs sb ON id_b = sb.doc_id
        WHERE 2 * inter_size >= 1 * (sa.sz + sb.sz - inter_size)
    """)

oracle("q_sparse_topk", r"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(regexp_split_to_array(trim(lower(text)), '\s+'))
                     AS tok
            FROM documents
        ), cp AS (
            SELECT doc_id AS c_id, tok, CAST(count(*) AS BIGINT) AS c_tf
            FROM toks GROUP BY doc_id, tok
        ), qp AS (
            SELECT doc_id AS q_id, tok, CAST(count(*) AS BIGINT) AS q_tf
            FROM toks WHERE doc_id < 10 GROUP BY doc_id, tok
        ), dfq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS dfc FROM cp GROUP BY tok
        ), cw AS (
            SELECT tok, c_id,
                   LEAST((c_tf * 1000000) // dfc, 3000000) AS c_w
            FROM cp JOIN dfq USING (tok)
        ), qw AS (
            SELECT tok, q_id,
                   LEAST((q_tf * 1000000) // dfc, 3000000) AS q_w
            FROM qp JOIN dfq USING (tok)
        ), sc AS (
            SELECT q_id, c_id, CAST(SUM(q_w * c_w) AS BIGINT) AS score
            FROM qw JOIN cw USING (tok)
            WHERE q_id <> c_id
            GROUP BY q_id, c_id
        ), r AS (
            SELECT q_id, c_id, score,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY score DESC, c_id ASC) AS rnk
            FROM sc
        )
        SELECT q_id AS query_id, c_id AS corpus_id, score, rnk
        FROM r WHERE rnk <= 5
    """)

oracle("q_temperature_mix", """
        WITH cnt AS (
            SELECT source AS st, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY source
        ), sq AS (
            SELECT st, c,
                   CAST(FLOOR(sqrt(CAST(c * 1000000 AS DOUBLE))) AS BIGINT)
                     AS s
            FROM cnt
        ), tot AS (
            SELECT CAST(SUM(s) AS BIGINT) AS stot FROM sq
        ), thr AS (
            SELECT st,
                   CASE WHEN (300 * s) // stot >= c THEN 'zzzz'
                        ELSE printf('%04x', (((300 * s) // stot) * 65536) // c)
                   END AS t
            FROM sq CROSS JOIN tot
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN thr ON d.source = thr.st
        WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'tmix'), 1, 4) < thr.t
    """)

oracle("q_sliding_users_exact", """
        WITH pairs AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
        ), tumbles AS (
            SELECT h, row_number() OVER (ORDER BY h) AS rk
            FROM (SELECT DISTINCT h FROM pairs)
        )
        SELECT strftime(t.h, '%Y-%m-%d %H:%M:%S') AS latest_tumble,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
        FROM tumbles t
        JOIN tumbles pt ON pt.rk <= t.rk AND pt.rk >= t.rk - 5
        JOIN pairs p ON p.h = pt.h
        GROUP BY t.h
    """)

oracle("q_pack_nextfit", """
        WITH c AS (
            SELECT doc_id, n_chars,
                   CAST(SUM(n_chars) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
            FROM documents
        )
        SELECT doc_id, n_chars,
               CAST(cum - n_chars AS BIGINT) AS start_offset,
               (cum - n_chars) // 2048 AS pack_id
        FROM c
    """)

oracle("q_set_ops", """
        WITH c AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey
                   FROM customer),
             s AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey
                   FROM supplier)
        SELECT 'both' AS op, nationkey
        FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
        UNION ALL
        SELECT 'customer_only' AS op, nationkey
        FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
    """)

oracle("q_token_budget", """
        WITH c AS (
            SELECT doc_id, source, n_chars,
                   CAST(SUM(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_weight
            FROM documents
        )
        SELECT doc_id, source, n_chars, cum_weight
        FROM c WHERE cum_weight <= 2000
    """)

oracle("q_winnow_fingerprint", f"""
        WITH {_WINNOW_FPS_CTE}
        SELECT doc_id,
               count(*) AS n_fp,
               CAST(SUM(fp) AS BIGINT) AS fp_sum,
               min(fp) AS fp_min,
               max(fp) AS fp_max
        FROM fps GROUP BY doc_id
    """)

oracle("q_winnow_neardup", f"""
        WITH {_WINNOW_FPS_CTE},
        keepfp AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM fps a
        JOIN keepfp k ON a.fp = k.fp
        JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 5
    """)

oracle("q_semantic_dedup", f"""
        WITH v AS (SELECT vec_id, label, embedding FROM embeddings),
        nrm AS (
            SELECT vec_id,
                   CAST(SUM(CAST(FLOOR((x * x) * 1e12) AS BIGINT)) AS BIGINT) AS n2
            FROM (SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS x FROM v)
            GROUP BY vec_id
        ),
        ex AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   CAST(UNNEST(a.embedding) AS DOUBLE) AS x,
                   CAST(UNNEST(b.embedding) AS DOUBLE) AS y
            FROM v a JOIN v b
              ON a.label = b.label AND a.vec_id < b.vec_id
        ),
        dots AS (
            SELECT ia, ib,
                   CAST(SUM(CAST(FLOOR((x * y) * 1e12) AS BIGINT)) AS BIGINT) AS dot_s
            FROM ex GROUP BY ia, ib
        ),
        dropped AS (
            SELECT DISTINCT d.ib
            FROM dots d
            JOIN nrm na ON na.vec_id = d.ia
            JOIN nrm nb ON nb.vec_id = d.ib
            WHERE na.n2 > 0 AND nb.n2 > 0
              AND (CAST(d.dot_s AS DOUBLE) / 1e12)
                    / (sqrt(CAST(na.n2 AS DOUBLE) / 1e12)
                       * sqrt(CAST(nb.n2 AS DOUBLE) / 1e12)) >= {_SEMANTIC_TAU}
        )
        SELECT vec_id, label FROM v
        WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE dropped.ib = v.vec_id)
    """)

oracle("q_pagerank", f"""
        WITH {_COPURCHASE_CTE_SQL},
        odeg AS (SELECT u, count(*) AS odeg FROM e GROUP BY u),
        nodes AS (SELECT DISTINCT u AS id FROM e),
        p0 AS (
            SELECT id,
                   1000000000 // (SELECT count(*) FROM nodes) AS pr
            FROM nodes
        ),
        {_PR_ITER_SQL.format(cur="p1", prev="p0")},
        {_PR_ITER_SQL.format(cur="p2", prev="p1")},
        {_PR_ITER_SQL.format(cur="p3", prev="p2")}
        SELECT CAST(id AS BIGINT) AS part, CAST(pr AS BIGINT) AS pr
        FROM p3 ORDER BY pr DESC, id ASC LIMIT 20
    """)

oracle("q_hard_negatives", """
        WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qe
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, label AS cl, embedding AS ce
              FROM embeddings),
        ex AS (
            SELECT q.query_id, c.neighbor_id,
                   CAST(UNNEST(q.qe) AS DOUBLE) AS x,
                   CAST(UNNEST(c.ce) AS DOUBLE) AS y
            FROM q JOIN c ON q.ql <> c.cl
        ), sums AS (
            SELECT query_id, neighbor_id,
                   SUM(CAST(FLOOR((x * y) * 1e12) AS BIGINT)) AS dot_s,
                   SUM(CAST(FLOOR((x * x) * 1e12) AS BIGINT)) AS qn_s,
                   SUM(CAST(FLOOR((y * y) * 1e12) AS BIGINT)) AS cn_s
            FROM ex GROUP BY query_id, neighbor_id
        ), cos AS (
            SELECT query_id, neighbor_id,
                   (CAST(dot_s AS DOUBLE) / 1e12)
                     / (sqrt(CAST(qn_s AS DOUBLE) / 1e12)
                        * sqrt(CAST(cn_s AS DOUBLE) / 1e12)) AS cosine
            FROM sums
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id ASC)
                        AS BIGINT) AS rank
            FROM cos
        ) WHERE rank <= 3
    """)

oracle("q_quality_percentiles", """
        SELECT doc_id, source, n_chars,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS pct_in_source
        FROM documents
    """)

oracle("q_vocab_overlap", """
        WITH vocab AS (
            SELECT DISTINCT source,
                   UNNEST(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ), sizes AS (
            SELECT source, count(*) AS v FROM vocab GROUP BY source
        ), shared AS (
            SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
            FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT src_a, src_b, n_shared,
               CAST(n_shared AS DOUBLE) / least(sa.v, sb.v) AS overlap_coef
        FROM shared
        JOIN sizes sa ON sa.source = shared.src_a
        JOIN sizes sb ON sb.source = shared.src_b
    """)

oracle("q_langid_confusion", """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
            FROM documents
        ), h AS (
            SELECT doc_id,
                   len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS hits_en,
                   len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS hits_de,
                   len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS hits_fr,
                   len(list_filter(toks, x -> x IN ('el','los','las','que','y'))) AS hits_es
            FROM t
        ), pred AS (
            SELECT doc_id,
                   CASE WHEN hits_en >= greatest(hits_de, hits_fr, hits_es) AND hits_en > 0 THEN 'en'
                        WHEN hits_de >= greatest(hits_fr, hits_es) AND hits_de > 0 THEN 'de'
                        WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
                        WHEN hits_es > 0 THEN 'es'
                        ELSE 'unknown' END AS lang_pred
            FROM h
        )
        SELECT d.lang, p.lang_pred, count(*) AS n_docs
        FROM documents d JOIN pred p USING (doc_id)
        GROUP BY 1, 2
    """)

oracle("q_sole_returner", """
        WITH per_os AS (
            SELECT l_orderkey, l_suppkey,
                   max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
            FROM lineitem GROUP BY 1, 2
        ), per_o AS (
            SELECT l_orderkey, count(*) AS n_supp, SUM(ret) AS n_ret
            FROM per_os GROUP BY 1
        )
        SELECT s_name, count(*) AS n_orders
        FROM per_os
        JOIN per_o USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE ret = 1 AND n_supp >= 2 AND n_ret = 1
        GROUP BY s_name
        ORDER BY n_orders DESC, s_name ASC LIMIT 10
    """)

oracle("q_embedding_quality", """
        SELECT label,
               count(*) AS n_vectors,
               CAST(SUM(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_wrong_dim,
               CAST(SUM(CASE WHEN len(list_filter(embedding,
                                 x -> isnan(CAST(x AS DOUBLE)))) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nan,
               CAST(SUM(CASE WHEN list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) = 0.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        FROM embeddings GROUP BY label
    """)

oracle("q_event_transitions", """
        WITH s AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events
        )
        SELECT event_type AS from_type, to_type, count(*) AS n
        FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2
    """)

oracle("q_supplier_variety", """
        SELECT p_brand, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_size IN (1, 5, 9)
          AND NOT EXISTS (SELECT 1 FROM supplier
                          WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
        GROUP BY 1, 2
    """)

oracle("q_part_profit", f"""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {dsum_sql("l_extendedprice * (1 - l_discount)"
                         " - 0.1 * (p_retailprice * l_quantity)")} AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    """)


# The components construction is certified by q_dup_components' oracle;
# reuse that exact SQL as a CTE.
oracle("q_leakage_safe_split", f"""
    WITH comps AS ({oracle_sql("q_dup_components")})
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           CASE WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)
                                || ''), 1, 4) < '{_SPLIT_THR_80}'
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
""")


# Interpolated Kneser–Ney with D=3/4 over the even-doc_id training half:
# p9 = (max(4·c12−3,0)·(nct+v) + 3·n1p·(ncont+1))·1e9 // (4·c1·(nct+v)),
# all HUGEINT (the numerator passes int64 even at sf0.01) — DuckDB //
# and Spark DECIMAL(38,0) div truncate identically on positives.
oracle("q_kn_lm", r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS l
        FROM documents
    ), tbig AS (
        SELECT l[CAST(g.i AS INTEGER)] AS w1,
               l[CAST(g.i AS INTEGER) + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(l) - 1)) AS g(i)
        WHERE doc_id % 2 = 0
    ), c12 AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM tbig GROUP BY w1, w2
    ), ctx AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS n1p
        FROM c12 GROUP BY w1
    ), cont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM c12 GROUP BY w2
    ), stats AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM c12) AS nct,
               (SELECT CAST(count(DISTINCT t.tok) AS BIGINT)
                FROM toks, UNNEST(l) AS t(tok)
                WHERE doc_id % 2 = 0) AS v
    ), sbig AS (
        SELECT doc_id,
               l[CAST(g.i AS INTEGER)] AS w1,
               l[CAST(g.i AS INTEGER) + 1] AS w2
        FROM toks, UNNEST(generate_series(1, len(l) - 1)) AS g(i)
    ), scored AS (
        SELECT sbig.doc_id,
               CASE WHEN ctx.c1 IS NULL THEN
                   (CAST(coalesce(cont.ncont, 0) + 1 AS HUGEINT) * 1000000000)
                     // CAST(stats.nct + stats.v AS HUGEINT)
               ELSE
                   ((CAST(greatest(4 * coalesce(c12.c12, 0) - 3, 0) AS HUGEINT)
                       * CAST(stats.nct + stats.v AS HUGEINT)
                     + CAST(3 * ctx.n1p AS HUGEINT)
                       * CAST(coalesce(cont.ncont, 0) + 1 AS HUGEINT))
                    * 1000000000)
                     // (CAST(4 * ctx.c1 AS HUGEINT)
                         * CAST(stats.nct + stats.v AS HUGEINT))
               END AS p9
        FROM sbig
        LEFT JOIN c12 USING (w1, w2)
        LEFT JOIN ctx USING (w1)
        LEFT JOIN cont USING (w2)
        CROSS JOIN stats
    ), per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(p9) AS BIGINT) AS sum_p9
        FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           coalesce(p.sum_p9, 0) AS sum_p9,
           CAST(p.sum_p9 AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE) AS mean_p9
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
""")


@query
def q_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ maximum spanning forest of the nation trade graph
    (operators/graph.py boruvka_msf): nodes = nations, edge weight =
    lineitem count between a customer's and a supplier's nation; the
    forest is the trade backbone (max spanning = Borůvka min over the
    negated volume). Edge order (w, u, v) is a strict total order, so
    the MSF is UNIQUE — the oracle replays unrolled Borůvka rounds
    with recursive-CTE component resolution and must land on the
    identical edge set. 24 rows out on a connected 25-nation graph.
    """
    from loan_etl_data_pipeline_spark.operators.graph import boruvka_msf

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("volume"))
    )
    msf = boruvka_msf(
        vol.select("u", "v", (-F.col("volume")).alias("w")), "u", "v", "w"
    )
    return msf.select("u", "v", (-F.col("w")).cast("bigint").alias("volume"))


def _msf_oracle(rounds: int = 5) -> str:
    """Unrolled-Borůvka oracle generator: round k resolves components
    of forest_{k-1} with a recursive reach CTE (min reachable id),
    picks each component's (w, u, v)-minimal cross edge, and unions it
    in. 5 rounds cover any 25-node graph (components at least halve);
    converged rounds are no-ops. Same generated-iteration-oracle
    pattern as the k-means/power-iteration/PageRank families."""
    parts = [
        """
    WITH RECURSIVE nat AS (SELECT n_nationkey AS id FROM nation),
    vol AS MATERIALIZED (
        SELECT LEAST(c_nationkey, s_nationkey) AS u,
               GREATEST(c_nationkey, s_nationkey) AS v,
               CAST(count(*) AS BIGINT) AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey
        GROUP BY 1, 2
    ),
    e AS MATERIALIZED (SELECT u, v, -volume AS w FROM vol),
    ce1 AS MATERIALIZED (SELECT u AS cu, v AS cv, u, v, w FROM e),
    cand1 AS MATERIALIZED (SELECT cu AS c, u, v, w FROM ce1
              UNION ALL SELECT cv AS c, u, v, w FROM ce1),
    chosen1 AS MATERIALIZED (
        SELECT DISTINCT u, v, w FROM (
            SELECT c, u, v, w,
                   row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
            FROM cand1) WHERE rn = 1
    ),
    forest1 AS MATERIALIZED (SELECT u, v, w FROM chosen1)"""
    ]
    for k in range(2, rounds + 1):
        p = k - 1
        parts.append(f""",
    sym{p} AS MATERIALIZED (SELECT u AS a, v AS b FROM forest{p}
               UNION SELECT v AS a, u AS b FROM forest{p}),
    reach{k}(id, label) AS (
        SELECT id, id FROM nat
        UNION
        SELECT s.a, r.label FROM sym{p} s JOIN reach{k} r ON s.b = r.id
    ),
    comp{k} AS MATERIALIZED (SELECT id, min(label) AS c FROM reach{k} GROUP BY id),
    ce{k} AS MATERIALIZED (
        SELECT a.c AS cu, b.c AS cv, e.u, e.v, e.w
        FROM e JOIN comp{k} a ON e.u = a.id JOIN comp{k} b ON e.v = b.id
        WHERE a.c <> b.c
    ),
    cand{k} AS MATERIALIZED (SELECT cu AS c, u, v, w FROM ce{k}
                UNION ALL SELECT cv AS c, u, v, w FROM ce{k}),
    chosen{k} AS MATERIALIZED (
        SELECT DISTINCT u, v, w FROM (
            SELECT c, u, v, w,
                   row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
            FROM cand{k}) WHERE rn = 1
    ),
    forest{k} AS MATERIALIZED (SELECT u, v, w FROM forest{p}
                  UNION SELECT u, v, w FROM chosen{k})""")
    parts.append(f"""
    SELECT u, v, CAST(-w AS BIGINT) AS volume FROM forest{rounds}""")
    return "".join(parts)


oracle("q_msf", _msf_oracle())


def _monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ym, cents): total order value per calendar month, exact cents —
    the shared series for the time-series decomposition family (same
    construction as q_ses_level's oracle)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .groupBy("ym")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )


_MONTHLY_SQL = """
        SELECT CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) AS BIGINT) AS ym,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS cents
        FROM orders GROUP BY 1
"""


@query
def q_seasonal_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ classical additive seasonal decomposition by moving
    averages over the monthly revenue series: trend = the 2×12
    centered MA (weights 1,2,…,2,1 over ±6 months — computed EXACTLY
    as S₁₃+S₁₁, two RANGE-window sums, kept as 24× integer cents),
    seasonal = per-month-of-year mean of the detrended interior,
    residual = what's left; every division happens once, on exact
    int64 numerators/denominators, so the whole decomposition is
    value-oracle-able. Windows are single-partition by design — the
    series is CALENDAR-sized (months, data-size-free), the documented
    q_ses_level/q_theil_sen regime, never a fact-table sort.
    """
    from loan_etl_data_pipeline_spark.operators.windows import (
        seasonal_decompose,
    )

    return seasonal_decompose(
        _monthly_revenue(spark, sf_dir), "ym", "cents", period=12
    )


oracle("q_seasonal_decomp", f"""
    WITH monthly AS MATERIALIZED ({_MONTHLY_SQL}),
    t AS MATERIALIZED (
        SELECT ym, cents,
               (SUM(cents) OVER w13 + SUM(cents) OVER w11) AS t24,
               (COUNT(*) OVER w13 + COUNT(*) OVER w11) AS nw
        FROM monthly
        WINDOW w13 AS (ORDER BY ym RANGE BETWEEN 6 PRECEDING AND 6 FOLLOWING),
               w11 AS (ORDER BY ym RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)
    ), det AS MATERIALIZED (
        SELECT ym, cents,
               CASE WHEN nw = 24 THEN CAST(t24 AS BIGINT) END AS trend_c24,
               CASE WHEN nw = 24 THEN 24 * cents - t24 END AS det24,
               ym % 12 AS moy
        FROM t
    ), seas AS MATERIALIZED (
        SELECT moy, CAST(SUM(det24) AS BIGINT) AS s_sum,
               CAST(COUNT(*) AS BIGINT) AS s_n
        FROM det WHERE det24 IS NOT NULL GROUP BY moy
    )
    SELECT d.ym, d.cents,
           CAST(d.trend_c24 AS DOUBLE) / 24 AS trend,
           CAST(s.s_sum AS DOUBLE) / CAST(24 * s.s_n AS DOUBLE) AS seasonal,
           CAST(d.det24 * s.s_n - s.s_sum AS DOUBLE)
             / CAST(24 * s.s_n AS DOUBLE) AS resid
    FROM det d LEFT JOIN seas s USING (moy)
""")


@query
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Theil–Sen robust trend: the median of all pairwise slopes
    of the monthly revenue series — breakdown point 29%, immune to the
    outlier months that wreck the q_ols_trend least-squares line. The
    pair join and the single-partition median are CALENDAR²-sized
    (~3.5k pairs on 84 months — data-size-free, the documented
    q_ses_level regime). Slopes are one IEEE division of exact cents
    by exact month gaps; the even-n median averages the two
    positional middles (equal-valued ties make the position choice
    value-neutral). 1 row out: (n_pairs, slope_med) in cents/month.
    """
    from loan_etl_data_pipeline_spark.operators.windows import theil_sen

    return theil_sen(_monthly_revenue(spark, sf_dir), "ym", "cents")


oracle("q_theil_sen", f"""
    WITH monthly AS MATERIALIZED ({_MONTHLY_SQL}),
    slopes AS MATERIALIZED (
        SELECT CAST(b.cents - a.cents AS DOUBLE)
                 / CAST(b.ym - a.ym AS DOUBLE) AS slope
        FROM monthly a JOIN monthly b ON a.ym < b.ym
    ), ranked AS (
        SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
               (SELECT count(*) FROM slopes) AS n
        FROM slopes
    )
    SELECT CAST(n AS BIGINT) AS n_pairs, AVG(slope) AS slope_med
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
    GROUP BY n
""")


@query
def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ cross-source quantile normalization
    (functions/ranking.py quantile_normalize): every document's length
    is mapped onto the pooled length distribution at its within-source
    quantile (midpoint rule, exact int64 index arithmetic) — the
    batch-effect correction for a source whose scale is shifted. Two
    distributed global ranks + one equality join; the oracle replays
    the same rule with plain windows. One row per document.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import (
        quantile_normalize,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quantile_normalize(d, "n_chars", "source", "doc_id")


oracle("q_quantile_norm", """
    WITH d AS MATERIALIZED (SELECT doc_id, source, n_chars FROM documents),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM d),
    sr AS MATERIALIZED (
        SELECT doc_id, source, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT)
                 AS r,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        FROM d
    ),
    pooled AS MATERIALIZED (
        SELECT n_chars AS pv,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                 AS j
        FROM d
    )
    SELECT sr.doc_id, sr.source, sr.n_chars, p.pv AS norm
    FROM sr CROSS JOIN nt
    JOIN pooled p
      ON p.j = greatest(((2 * sr.r - 1) * nt.nt + 2 * sr.n - 1)
                          // (2 * sr.n), 1)
""")


def _positional_index(spark: SparkSession, sf_dir: str) -> str:
    """The (tok, id, pos) positional index both q_phrase_search and
    q_proximity_search probe — the _kmeans_assign multi-consumer
    discipline applied to an on-disk index: under the driver's
    correctness gate each query rebuilds it (self-contained), but into
    a DETERMINISTIC per-(sf_dir, process) directory (overwrite mode),
    so repeated runs in one process reuse one path instead of leaking
    a fresh mkdtemp per invocation — per-PROCESS because a shared path
    races under concurrent test sessions (tests/partest.py): one
    worker's overwrite deletes parquet out from under another's plan
    build (observed as a flaky q_kwic AnalysisException); with
    ``SPARK_GRAFT_MATERIALIZE_DIR`` set (bench mode) the build is
    memoized — the second consumer only probes."""
    import hashlib
    import os
    import tempfile

    from loan_etl_data_pipeline_spark.operators.retrieval import (
        build_positional_index,
    )

    key = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    root = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
    if root:
        idx = f"{root}/posidx_{key}"
        if os.path.exists(f"{idx}/postings/_SUCCESS"):
            return idx
    else:
        idx = os.path.join(
            tempfile.gettempdir(), f"spark_graft_posidx_{key}_{os.getpid()}"
        )
        if idx not in _POSIDX_CLEANUP:
            # per-pid paths would otherwise accumulate across test
            # processes — reclaim on interpreter exit, and sweep any
            # stale sibling dirs whose owning pid is gone (atexit never
            # runs on SIGKILL/crash, so aborted partest workers leave
            # spark_graft_posidx_*_<pid> orphans in /tmp)
            import atexit
            import glob
            import shutil

            _POSIDX_CLEANUP.add(idx)
            atexit.register(shutil.rmtree, idx, ignore_errors=True)
            for stale in glob.glob(
                os.path.join(tempfile.gettempdir(), "spark_graft_posidx_*_*")
            ):
                try:
                    pid = int(stale.rsplit("_", 1)[1])
                except ValueError:
                    continue
                if pid == os.getpid():
                    continue
                try:
                    os.kill(pid, 0)  # raises if the owner is gone
                except ProcessLookupError:
                    shutil.rmtree(stale, ignore_errors=True)
                except PermissionError:
                    pass  # pid alive under another uid — leave it
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    build_positional_index(d, idx)
    return idx


_POSIDX_CLEANUP: set[str] = set()


@query
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ positional-index phrase search (operators/retrieval.py
    build_positional_index / phrase_count_indexed): build the
    (tok, id, pos) index bucket-partitioned on the token hash, then
    count exact occurrences of the phrase "table hash" by intersecting
    the two tokens' position streams on (id, pos−offset) — the probe
    reads only the phrase tokens' buckets (partition-pruned,
    plan-asserted), never the text. The oracle counts the same phrase
    by direct array scan over the raw text: index path == text path.
    """
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        phrase_count_indexed,
    )

    out = phrase_count_indexed(
        spark, _positional_index(spark, sf_dir), "table hash"
    )
    return out.select(F.col("id").alias("doc_id"), "n_hits")


oracle("q_phrase_search", r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS l
        FROM documents
    ), hits AS (
        SELECT doc_id,
               len(list_filter(range(1, len(l)),
                               i -> l[i] = 'table' AND l[i+1] = 'hash'))
                 AS n_hits
        FROM toks
    )
    SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits
    FROM hits WHERE n_hits > 0
""")


@query
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ NEAR/k proximity search from the positional index
    (operators/retrieval.py proximity_count_indexed): per document,
    the number of ("table", "hash") occurrence pairs within 3 tokens
    of each other — the range condition turned into equality joins by
    position banding (band ±1 fan-out + row-local verify), probe
    partition-pruned to the two terms' buckets. The oracle replays the
    pair count by direct array scan: index path == text path.
    """
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        proximity_count_indexed,
    )

    out = proximity_count_indexed(
        spark, _positional_index(spark, sf_dir), "table", "hash", window=3
    )
    return out.select(F.col("id").alias("doc_id"), "n_hits")


oracle("q_proximity_search", r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS l
        FROM documents
    ), pa AS (
        SELECT doc_id, g.i AS p
        FROM toks, UNNEST(generate_series(1, len(l))) AS g(i)
        WHERE l[CAST(g.i AS INTEGER)] = 'table'
    ), pb AS (
        SELECT doc_id, g.i AS p
        FROM toks, UNNEST(generate_series(1, len(l))) AS g(i)
        WHERE l[CAST(g.i AS INTEGER)] = 'hash'
    )
    SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM pa JOIN pb ON pa.doc_id = pb.doc_id
    WHERE abs(pa.p - pb.p) <= 3 AND pa.p <> pb.p
    GROUP BY pa.doc_id
""")


@query
def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5+/E2 image near-dup by perceptual hash
    (operators/multimodal.py phash_media + operators/dedup.py
    fingerprint_near_duplicates): payload → grayscale raster → 2-D DCT
    → 64-bit pHash, then the SAME pigeonhole band join SimHash text
    dedup uses finds all pairs within 6 Hamming bits. No SQL oracle —
    a DCT isn't expressible in DuckDB; semantics are pinned by tests
    (determinism, brightness-shift invariance, near-vs-distinct
    separation, exact banding guarantee shared with SimHash).
    """
    from loan_etl_data_pipeline_spark.operators.dedup import (
        fingerprint_near_duplicates,
    )
    from loan_etl_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        phash_media,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the synthetic corpus has no image-level near-dups (min observed
    # pHash distance ≈ 12 bits between distinct docs), so plant a
    # replica set the way a thumbnail/re-encode pipeline produces them:
    # every 25th doc appears again exactly, every 25th+1 with a one-word
    # suffix edit (≤ a few low-order DCT bits)
    replicas = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    edited = docs.filter(F.col("doc_id") % 25 == 1).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    pool = docs.unionByName(replicas).unionByName(edited)
    fp = phash_media(attach_binary_payload(pool))
    return fingerprint_near_duplicates(
        fp, max_hamming=6, id_col="media_id", fp_col="phash"
    )


@query
def q_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ count–min sketch (functions/sketches.py cms_build/cms_query):
    4×256-cell frequency sketch over lineitem part keys, point-queried
    for parts < 50 — the mergeable bounded-space answer to per-key
    frequency where the exact table is unbounded. Because the row
    hashes are the engine's shared md5 coordinate, the WHOLE sketch —
    cells and min-over-rows estimates — is value-exact cross-engine:
    a sketch with a full SQL oracle.
    """
    from loan_etl_data_pipeline_spark.functions.sketches import (
        cms_build,
        cms_query,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    sketch = cms_build(li, "l_partkey", depth=4, width=256)
    keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 50)
        .select(F.col("p_partkey").alias("partkey"))
    )
    return cms_query(sketch, keys, "partkey", depth=4, width=256)


oracle("q_cms_freq", """
    WITH d(row) AS (VALUES (0), (1), (2), (3)),
    cells AS MATERIALIZED (
        SELECT d.row AS row,
               CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)
                         || 'cms' || CAST(d.row AS VARCHAR) || '|'), 1, 12))
                    AS BIGINT) % 256 AS col,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem, d
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT p_partkey AS partkey, d.row AS row,
               CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)
                         || 'cms' || CAST(d.row AS VARCHAR) || '|'), 1, 12))
                    AS BIGINT) % 256 AS col
        FROM part, d
        WHERE p_partkey < 50
    )
    SELECT partkey, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
    FROM probes LEFT JOIN cells USING (row, col)
    GROUP BY partkey
""")


@query
def q_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ keyword-in-context concordance (operators/retrieval.py
    kwic_indexed): every occurrence of "vector" with its ±2-token
    window — hit positions from the shared positional index
    (bucket-pruned), snippets from a semi-join-reduced row-local array
    slice. The oracle rebuilds the same snippets by direct array scan:
    index path == text path, down to the clamped left edges.
    """
    from loan_etl_data_pipeline_spark.operators.retrieval import kwic_indexed

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return kwic_indexed(
        spark, _positional_index(spark, sf_dir), d, "vector", context=2
    )


oracle("q_kwic", r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS l
        FROM documents
    ), hits AS (
        SELECT doc_id, l, CAST(g.i AS BIGINT) AS i
        FROM toks, UNNEST(generate_series(1, len(l))) AS g(i)
        WHERE l[CAST(g.i AS INTEGER)] = 'vector'
    )
    SELECT doc_id, i - 1 AS pos,
           array_to_string(
               l[CAST(greatest(i - 2, 1) AS INTEGER)
                 : CAST(least(i + 2, len(l)) AS INTEGER)], ' ') AS snippet
    FROM hits
""")


@query
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9/E4 corpus DATA CARD: the one-row model-card-style summary a
    dataset release ships — size (docs/tokens/vocabulary), exact-dup
    rate, English share, and exact length order statistics (median,
    p90) — composed from the certified operators (dedup_by_fingerprint
    normalization, lang_id, global_rank order statistics) in one
    query with a FULL value oracle. Rates quantize to 1e-9 by integer
    division; order statistics use the explicit j = ⌈q·n⌉ rule, so
    nothing depends on an engine's percentile interpolation.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import global_rank
    from loan_etl_data_pipeline_spark.operators.text import lang_id, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    toks = tokens(F.lower(F.col("text")))
    # one corpus scan for all three plain scalars (count, token sum,
    # distinct fingerprints — same normalization contract as
    # dedup_by_fingerprint / q_docs_dedup); only vocabulary (explode),
    # lang-id, and the rank need their own passes
    size_stats = docs.select(
        F.size(toks).alias("__nt"),
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("fp"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__nt").cast("bigint").alias("n_tokens"),
        F.count_distinct("fp").cast("bigint").alias("n_distinct"),
    )
    vocab = docs.select(F.explode(toks).alias("tok")).agg(
        F.count_distinct("tok").cast("bigint").alias("vocab")
    )
    n_en = (
        lang_id(docs.select("doc_id", "text"))
        .filter(F.col("lang_pred") == "en")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_en"))
    )
    ranked = global_rank(
        docs.select("doc_id", "n_chars"),
        [F.asc("n_chars"), F.asc("doc_id")],
        rank_col="r",
        total_col="__n",
    )
    # order-statistic ranks as in-plan arithmetic on the total column
    # (opt r8: collect-free global_rank)
    med = ranked.filter(F.col("r") == F.expr("(__n + 1) div 2")).select(
        F.col("n_chars").alias("median_chars")
    )
    p90 = ranked.filter(F.col("r") == F.expr("(9 * __n + 9) div 10")).select(
        F.col("n_chars").alias("p90_chars")
    )
    return (
        size_stats.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_en))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(p90))
        .select(
            "n_docs",
            "n_tokens",
            "vocab",
            F.expr("((n_docs - n_distinct) * 1000000000L) div n_docs").alias(
                "dup_rate9"
            ),
            F.expr("(n_en * 1000000000L) div n_docs").alias("share_en9"),
            "median_chars",
            "p90_chars",
        )
    )


oracle("q_data_card", r"""
    WITH t AS MATERIALIZED (
        SELECT doc_id, n_chars,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    ), size_stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct
        FROM t
    ), vocab AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
        FROM t, UNNEST(toks) AS u(tok)
    ), lang AS (
        SELECT CAST(count(*) AS BIGINT) AS n_en FROM (
            SELECT CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS BIGINT) AS hits_en,
                   CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
                   CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS hits_fr,
                   CAST(len(list_filter(toks, x -> x IN ('el','los','las','que','y'))) AS BIGINT) AS hits_es
            FROM t)
        WHERE hits_en >= greatest(hits_de, hits_fr, hits_es) AND hits_en > 0
    ), ranked AS (
        SELECT n_chars,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                 AS r
        FROM t
    ), med AS (
        SELECT n_chars AS median_chars FROM ranked, size_stats
        WHERE r = (n_docs + 1) // 2
    ), p90 AS (
        SELECT n_chars AS p90_chars FROM ranked, size_stats
        WHERE r = (9 * n_docs + 9) // 10
    )
    SELECT n_docs, n_tokens, vocab,
           ((n_docs - n_distinct) * 1000000000) // n_docs AS dup_rate9,
           (n_en * 1000000000) // n_docs AS share_en9,
           median_chars, p90_chars
    FROM size_stats, vocab, lang, med, p90
""")


@query
def q_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+ ER blocking-quality evaluation: recall and pair-precision of
    sorted-neighborhood blocking (window 6) against the COMPLETE
    edit-distance-≤1 truth from the deletion-neighborhood join — the
    measurement every merge/purge deployment needs before trusting a
    window size (recall < 1 means typo pairs the sort failed to
    co-locate; precision is the verify workload per true match). All
    counts exact, ratios 1e-9-integer-quantized; the oracle replays
    both pair sets (quadratic levenshtein truth, rank-window
    candidates) and the same arithmetic. 1 row out.
    """
    from loan_etl_data_pipeline_spark.operators.entity import (
        del1_pairs,
        sorted_neighborhood_pairs,
    )

    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 1500)
        .select("c_custkey", "c_name")
    )
    truth = del1_pairs(c, "c_custkey", "c_name").select(
        F.col("id_a").alias("lo"), F.col("id_b").alias("hi")
    )
    cand = sorted_neighborhood_pairs(c, "c_custkey", "c_name", window=6).select(
        F.least("id_a", "id_b").alias("lo"),
        F.greatest("id_a", "id_b").alias("hi"),
    ).distinct()
    hit = truth.join(cand, ["lo", "hi"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(hit))
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.expr("(n_hit * 1000000000L) div n_truth").alias("recall9"),
            F.expr("(n_hit * 1000000000L) div n_cand").alias("precision9"),
        )
    )


oracle("q_blocking_eval", """
    WITH c AS MATERIALIZED (
        SELECT c_custkey AS id, c_name AS name
        FROM customer WHERE c_custkey < 1500
    ), truth AS MATERIALIZED (
        SELECT a.id AS lo, b.id AS hi
        FROM c a JOIN c b ON a.id < b.id
        WHERE levenshtein(a.name, b.name) <= 1
    ), ranked AS (
        SELECT id, name, row_number() OVER (ORDER BY name ASC, id ASC) AS r
        FROM c
    ), cand AS MATERIALIZED (
        SELECT DISTINCT LEAST(a.id, b.id) AS lo, GREATEST(a.id, b.id) AS hi
        FROM ranked a JOIN ranked b
          ON b.r > a.r AND b.r <= a.r + 5
    ), agg AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(count(*) AS BIGINT)
                FROM truth JOIN cand USING (lo, hi)) AS n_hit
    )
    SELECT n_truth, n_cand, n_hit,
           (n_hit * 1000000000) // n_truth AS recall9,
           (n_hit * 1000000000) // n_cand AS precision9
    FROM agg
""")


@query
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ isotonic calibration (operators/quality.py isotonic_fit):
    PAVA over the discount-bucket return-rate curve — the monotone fix
    applied after q_calibration's audit flags a non-monotone
    reliability curve. The L2-isotonic solution is unique, so the
    oracle's unrolled merge-first-violation rounds are FORCED to agree
    with the stack PAVA (same pools, same exact rational means,
    quantized once). Distributed stage = the bucket aggregation; the
    fit runs on the bounded bin grid by contract. 11 rows out.
    """
    from loan_etl_data_pipeline_spark.operators.quality import isotonic_fit

    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 100).cast("bigint").alias("bucket"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    # localCheckpoint: the fit's collect AND the obs9 join both read
    # the 11-row aggregate — without it the lineitem scan runs twice
    bins = li.groupBy("bucket").agg(
        F.sum("y").cast("bigint").alias("r"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).localCheckpoint(eager=False)
    fit = isotonic_fit(bins, "bucket", "r", "n")
    return bins.join(fit, "bucket").select(
        "bucket",
        "pool_lo",
        F.expr("(r * 1000000000L) div n").alias("obs9"),
        "fitted9",
    )


def _isotonic_oracle(rounds: int = 12) -> str:
    """Unrolled merge-first-violation PAVA rounds (≤ bins−1 merges for
    an 11-bucket grid; converged rounds are no-ops) — the generated-
    iteration-oracle pattern. Uniqueness of the isotonic solution is
    what lets this different merge schedule certify the stack PAVA."""
    parts = [
        """
    WITH bins AS MATERIALIZED (
        SELECT CAST(FLOOR(l_discount * 100) AS BIGINT) AS bucket,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS BIGINT) AS r,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    ),
    pools0 AS MATERIALIZED (
        SELECT bucket AS lo, bucket AS hi, r AS sy, n FROM bins
    )"""
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(f""",
    v{k} AS MATERIALIZED (
        SELECT l.lo AS llo, r.lo AS rlo, r.hi AS rhi,
               l.sy + r.sy AS msy, l.n + r.n AS mn
        FROM pools{p} l JOIN pools{p} r ON r.lo = l.hi + 1
        WHERE l.sy * r.n > r.sy * l.n
        ORDER BY l.lo LIMIT 1
    ),
    pools{k} AS MATERIALIZED (
        SELECT p.lo, p.hi, p.sy, p.n
        FROM pools{p} p LEFT JOIN v{k}
          ON p.lo = v{k}.llo OR p.lo = v{k}.rlo
        WHERE v{k}.llo IS NULL
        UNION ALL
        SELECT llo AS lo, rhi AS hi, msy AS sy, mn AS n FROM v{k}
    )""")
    parts.append(f"""
    SELECT b.bucket, p.lo AS pool_lo,
           (b.r * 1000000000) // b.n AS obs9,
           (p.sy * 1000000000) // p.n AS fitted9
    FROM bins b JOIN pools{rounds} p
      ON b.bucket BETWEEN p.lo AND p.hi""")
    return "".join(parts)


oracle("q_isotonic_calibration", _isotonic_oracle())


@query
def q_jaccard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 dedup threshold-selection curve: how many near-dup pairs a
    3-gram Jaccard threshold of 0.1…0.9 would flag — the measurement
    behind every "what τ do we dedup at?" decision (too low merges
    topical neighbors, too high misses paraphrases; the knee of this
    curve is where the duplicate mass lives). ONE postings join
    produces every pair sharing a gram; per-decile counts compare by
    exact cross-multiplication (10·|∩| ≥ t·|∪|), so the whole curve is
    value-exact. 9 rows out.
    """
    from loan_etl_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.0)
    thr = F.explode(F.expr("sequence(1, 9)")).alias("thr_decile")
    return (
        pairs.select(
            "inter_size",
            (F.col("size_a") + F.col("size_b") - F.col("inter_size")).alias(
                "u"
            ),
            thr,
        )
        .filter(F.col("inter_size") * 10 >= F.col("thr_decile") * F.col("u"))
        .groupBy("thr_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(F.col("thr_decile").cast("bigint").alias("thr_decile"), "n_pairs")
    )


oracle("q_jaccard_curve", r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, list_distinct(
                 CASE WHEN len(t) >= 3
                      THEN list_transform(range(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                      ELSE [] END) AS gs
        FROM toks
    ), posts AS (
        SELECT doc_id AS id, UNNEST(gs) AS ngram FROM grams
    ), sizes AS (
        SELECT id, CAST(count(*) AS BIGINT) AS sz FROM posts GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(count(*) AS BIGINT) AS inter_size
        FROM posts a JOIN posts b ON a.ngram = b.ngram AND a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT inter_size, sa.sz + sb.sz - inter_size AS u
        FROM inter
        JOIN sizes sa ON id_a = sa.id
        JOIN sizes sb ON id_b = sb.id
    ), d(thr_decile) AS (
        VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9)
    )
    SELECT CAST(thr_decile AS BIGINT) AS thr_decile,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs JOIN d ON inter_size * 10 >= thr_decile * u
    GROUP BY 1
""")


@query
def q_homoglyph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+/E4 homoglyph-spam dedup (operators/text.py
    normalize_confusables): every 25th document re-appears with its
    Latin vowels swapped for Cyrillic lookalikes — byte-distinct, so
    RAW exact fingerprints miss every replica — and the
    confusable-folded fingerprint collapses them. Output is the
    normalized dup ledger restricted to real groups, plus the raw
    group count for the same fingerprint as proof of the miss
    (raw_groups = 0 planted groups caught). The oracle replays the
    identical translate()+md5 pipeline.
    """
    from loan_etl_data_pipeline_spark.operators.text import (
        normalize_confusables,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spam = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.translate(F.col("text"), "aeo", "аео").alias("text"),
    )
    pool = docs.unionByName(spam)
    norm_fp = F.md5(
        F.regexp_replace(
            F.lower(F.trim(normalize_confusables(F.col("text")))), r"\s+", " "
        )
    )
    raw_fp = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    )
    ledger = (
        pool.select("doc_id", norm_fp.alias("fp"), raw_fp.alias("rfp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
            F.count_distinct("rfp").cast("bigint").alias("n_raw_variants"),
        )
        .filter(F.col("dup_count") > 1)
    )
    return ledger.select("keep_id", "dup_count", "n_raw_variants")


oracle("q_homoglyph_dedup", r"""
    WITH pool AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id,
               translate(text, 'aeo', 'аео') AS text
        FROM documents WHERE doc_id % 25 = 0
    ), fps AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(
                   translate(text, 'аеорсхуАЕОРСХУ', 'aeopcxyAEOPCXY'))),
                   '\s+', ' ', 'g')) AS fp,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS rfp
        FROM pool
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_count,
           CAST(count(DISTINCT rfp) AS BIGINT) AS n_raw_variants
    FROM fps
    GROUP BY fp
    HAVING count(*) > 1
""")


@query
def q_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 tokenizer fertility by detected language: chars-per-token per
    lang_id bucket — the multilingual budgeting metric (a language
    whose tokens carry fewer characters pays more sequence length for
    the same text; fertility differences decide per-language sampling
    budgets). Exact counts, one 1e-9-quantized division per language.
    """
    from loan_etl_data_pipeline_spark.operators.text import lang_id, tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    per_doc = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("nc"),
        F.size(tokens(F.lower(F.col("text")))).cast("bigint").alias("nt"),
    )
    langs = lang_id(docs.select("doc_id", "text")).select(
        "doc_id", F.col("lang_pred").alias("lang")
    )
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum("nc").cast("bigint").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.expr("(n_chars * 1000000000L) div n_tokens").alias(
                "chars_per_token9"
            ),
        )
    )


oracle("q_lang_fertility", r"""
    WITH t AS (
        SELECT doc_id, n_chars,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ), h AS (
        SELECT doc_id, n_chars, CAST(len(toks) AS BIGINT) AS nt,
               CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS BIGINT) AS hits_en,
               CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
               CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS hits_fr,
               CAST(len(list_filter(toks, x -> x IN ('el','los','las','que','y'))) AS BIGINT) AS hits_es
        FROM t
    ), lbl AS (
        SELECT doc_id, n_chars, nt,
               CASE WHEN hits_en >= greatest(hits_de, hits_fr, hits_es) AND hits_en > 0 THEN 'en'
                    WHEN hits_de >= greatest(hits_fr, hits_es) AND hits_de > 0 THEN 'de'
                    WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
                    WHEN hits_es > 0 THEN 'es'
                    ELSE 'unknown' END AS lang
        FROM h
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST((SUM(n_chars) * 1000000000) // SUM(nt) AS BIGINT) AS chars_per_token9
    FROM lbl GROUP BY lang
""")
