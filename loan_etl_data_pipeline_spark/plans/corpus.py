"""Corpus-preparation plan: the training-data pipeline as ONE DataFrame.

The reference's only pipeline is loans-CSV → clean → insights
(reference: airflow/dags/etl/pyspark_etl.py:48-64); this is the
equivalent composed plan for the LLM-data side of the engine
(SURVEY.md §2 Part B): quality-score → exact-dedup → language-filter →
token-budget, all built from the operator library (operators/text.py,
operators/dedup.py) so every stage is the same code the standalone
queries certify.

Plan shape (and why it scales — three exchanges planned, the dedup
one reused at runtime; measured: AQE shows 1 ReusedExchange and the
documents file is scanned once per consumer of the un-shuffled stage):

1. **quality filter** — pure char-class expressions on the scan
   (text_quality with passthrough, no join-back); junk is dropped
   before anything pays a shuffle for it.
2. **exact dedup** — groupBy on md5(normalized text) with
   ``min``/``min_by`` so the surviving row rides the agg instead of a
   join-back. Near-dup tiers (MinHash/SimHash) are deliberately
   separate operators — at 100 TB you run them as their own stage over
   this plan's output.
3. **language filter** — stopword-hit lang-id via explode + partial
   agg (that shuffle carries (id, 4 ints) per partition, never
   tokens), joined back on id; the join's dedup-side input reuses the
   stage-2 shuffle files (ReusedExchange) instead of recomputing.
4. **token stats** — pure expressions appended to the survivors.

All shuffles key on doc_id or the fingerprint — well-distributed, no
skew hazard; nothing ever collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.operators.dedup import dedup_by_fingerprint
from loan_etl_data_pipeline_spark.operators.text import lang_id, text_quality, token_counts
from loan_etl_data_pipeline_spark.session import intermediates, pin


def remove_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.7,
    method: str = "minhash",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Drop all but one document per near-duplicate cluster.

    Composition of the certified pieces: candidate pairs from the
    sketch tier (``minhash`` banding at corpus scale, or exact
    ``jaccard`` for small/verification runs), clustered into connected
    components (operators/graph.py), keeping each component's min-id
    representative. The join back is a left-anti on the loser set —
    losers ≪ corpus, so the anti join broadcasts on real data.

    This is the standard fuzzy-dedup shape (pairs → components →
    representative): pairwise "drop the higher id" alone is not
    transitive — A~B, B~C without A~C would keep both A and C or drop
    documents inconsistently across partitions.

    ``pairs``: optionally inject a prebuilt (id_a, id_b) edge frame —
    e.g. a certified materialized snapshot of the pair graph
    (sources/versioned.py materialize) shared with other consumers.
    The caller owns the guarantee that its construction parameters
    match; ``method``/``threshold`` are ignored for edge building when
    given.
    """
    from loan_etl_data_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard_pairs,
    )
    from loan_etl_data_pipeline_spark.operators.graph import connected_components

    with intermediates():
        if pairs is not None:
            edges = pairs
        elif method == "minhash":
            edges = minhash_near_duplicates(df, id_col, text_col).filter(
                F.col("est_jaccard") >= threshold
            )
        elif method == "jaccard":
            edges = ngram_jaccard_pairs(df, id_col, text_col, threshold=threshold)
        else:
            raise ValueError(
                f"method must be 'minhash' or 'jaccard', got {method!r}"
            )
        comps = connected_components(edges, "id_a", "id_b")
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Filter + dedup + annotate a document table for training use.

    Keeps documents that (a) pass the quality heuristic
    (operators/text.py text_quality: >= 5 tokens, > 0.5 alpha ratio),
    (b) survive exact dedup (lowest id per normalized-text fingerprint
    wins), and (c) are identified as one of ``langs``. Output one row
    per surviving document:
    (id, lang_pred, n_words, n_bpe_tokens, bpe_per_word).
    """
    q = text_quality(df, id_col, text_col, keep_cols=(text_col,)).filter(
        F.col("quality_flag") == "keep"
    )
    deduped = dedup_by_fingerprint(q, id_col, text_col, keep_text=True).select(
        F.col("keep_id").alias(id_col), text_col
    )
    lang = lang_id(deduped, id_col, text_col).select(id_col, "lang_pred")
    if langs:
        lang = lang.filter(F.col("lang_pred").isin(*langs))
    survivors = deduped.join(lang, id_col)
    return token_counts(survivors, id_col, text_col, keep_cols=("lang_pred",))


def prepare_corpus_v2(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    langs: tuple[str, ...] = ("en",),
    decontam_n: int = 5,
    n_tiles: int = 10,
    train_frac: float = 0.8,
    salt: str = "",
) -> DataFrame:
    """The full training-data pipeline, v2: :func:`prepare_corpus` plus
    benchmark decontamination, curriculum tiling, and the train/test
    split — every stage the operator library's own certified code.

    quality → exact dedup → language filter → token stats
    → drop docs sharing any distinct ``decontam_n``-gram with
      ``eval_df`` (eval grams broadcast; the corpus never shuffles on
      gram text)
    → ``n_tiles`` equal-population difficulty tiles over
      (n_bpe_tokens, id)
    → md5-bucketed train/test assignment keyed on the document id.

    Output: (id, lang_pred, n_words, n_bpe_tokens, bpe_per_word,
    tile, split). Everything after the base plan is either a broadcast
    semi-join, an id-keyed anti join, or the range shuffle any global
    ranking pays; nothing data-sized reaches the driver (the tile
    stage's per-partition counts are numPartitions scalars).
    """
    from pyspark import StorageLevel

    from loan_etl_data_pipeline_spark.functions.splits import (
        curriculum_tiles,
        hash_split,
    )
    from loan_etl_data_pipeline_spark.operators.dedup import ngram_decontaminate

    # pinned: base feeds BOTH the decontamination gram scan and the
    # anti-join's kept side — unpinned, the whole quality+dedup+lang
    # subplan would execute twice per action. Released by the caller's
    # session.intermediates() scope once the result is materialized.
    base = pin(
        prepare_corpus(df, id_col, text_col, langs=langs),
        StorageLevel.MEMORY_AND_DISK,
    )
    survivors_text = df.select(id_col, text_col).join(
        base.select(id_col), id_col
    )
    hits = ngram_decontaminate(survivors_text, eval_df, id_col, text_col, n=decontam_n)
    clean = base.join(hits.select(id_col), id_col, "left_anti")
    tiled = curriculum_tiles(clean, "n_bpe_tokens", n_tiles, id_col=id_col)
    return hash_split(tiled, id_col, train_frac=train_frac, salt=salt)


def prepare_corpus_v3(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    *,
    span_k: int = 8,
    max_dup_ratio: float = 0.5,
    quota: int = 20,
) -> DataFrame:
    """The round-4 curation pipeline as ONE plan: declarative rule
    battery → substring-span duplication gate → per-source quota cap.

    1. **rule battery** (operators/filters.py) — the C4/Gopher rule
       stack as one shuffle-free projection; only ``keep`` rows go on.
    2. **span gate** (operators/text.py repeated_spans) — per-doc
       duplicated-token mass over survivors; docs that are more than
       ``max_dup_ratio`` boilerplate drop. Islands are maximal so the
       mass is exact, and the gate runs AFTER the battery so the
       gram postings never pay for junk docs.
    3. **quota cap** — ≤ ``quota`` docs per source by engine-portable
       md5 order (the anti-domination step before mixing).

    Output: (source, doc_id, n_toks, dup_ratio, pick_rank). Shuffles:
    the span stage's gram + doc keys, one source-keyed window — each
    stage is the SAME certified code its standalone query runs, and
    the composed plan is oracle-checked end-to-end (q_corpus_v3).
    """
    from pyspark.sql import Window

    from loan_etl_data_pipeline_spark.operators.filters import rule_battery
    from loan_etl_data_pipeline_spark.operators.text import (
        repeated_spans,
        tokens,
    )

    kept = (
        rule_battery(df, id_col=id_col, text_col=text_col,
                     keep_cols=(text_col, source_col))
        .filter(F.col("keep"))
        .select(id_col, text_col, source_col)
    )
    spans = repeated_spans(
        kept, id_col, text_col, k=span_k, min_doc_freq=2
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_toks")
    )
    base = kept.select(
        id_col,
        source_col,
        F.size(tokens(F.lower(F.col(text_col)))).alias("n_toks"),
    )
    scored = (
        base.join(per_doc, id_col, "left")
        .withColumn("dup_toks", F.coalesce("dup_toks", F.lit(0)))
        .withColumn(
            "dup_ratio",
            F.col("dup_toks").cast("double") / F.col("n_toks").cast("double"),
        )
        .filter(F.col("dup_ratio") <= max_dup_ratio)
    )
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= quota)
        .select(
            source_col,
            id_col,
            F.col("n_toks").cast("bigint").alias("n_toks"),
            "dup_ratio",
            F.col("pick_rank").cast("bigint").alias("pick_rank"),
        )
    )
