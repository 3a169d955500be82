"""Deduplication operators (EXT E1/E2 — SURVEY.md §2 Part B).

Four tiers, all shuffle-on-key (never O(n²) over the corpus):

- :func:`dedup_exact` — canonical-row-per-key via a partitioned window;
  the general "keep first by (order, tie)" dedup.
- :func:`dedup_by_fingerprint` — exact content dedup on md5(normalized
  text); the groupBy shuffles 32-byte keys, not documents.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard similarity join via
  token-postings self-join (candidate pairs only materialize when they
  share at least one n-gram).
- :func:`minhash_near_duplicates` / :func:`simhash_fingerprints` —
  sketch-based near-dup at scale: MinHash banding turns near-dup search
  into an equality groupBy on band keys; SimHash gives a 64-bit
  fingerprint whose Hamming distance approximates cosine similarity.

100 TB notes: every path reduces to (scan → narrow per-doc sketch →
shuffle on short key → small-group comparison). Skewed bands (e.g. the
empty-string shingle) are the classic hazard — cap band-group sizes with
the ``max_band_group`` guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.operators.text import normalize_text, tokens
from loan_etl_data_pipeline_spark.session import pin


def dedup_exact(
    df: DataFrame,
    keys: list[str],
    *,
    order_by: list | None = None,
) -> DataFrame:
    """Keep one canonical row per key combination.

    ``order_by`` (default: all non-key columns ascending) defines which
    row survives — always give it a total order for deterministic output
    (SURVEY.md §4.1 determinism stance). Equivalent to the reference's
    seen-file-id dedup generalized to rows (reference:
    airflow/dags/google_drive_sensor.py:33-46 keeps first-seen ids).

    Raises ``ValueError`` when no order can be derived (keys cover every
    column and ``order_by`` was not given): ``row_number`` over an
    unordered window is nondeterministic — if any row will do, say so
    explicitly with ``order_by=[F.lit(1)]`` (or use ``df.distinct()``,
    which is the right operator when keys == all columns).
    """
    order_by = order_by or [F.asc(c) for c in df.columns if c not in keys]
    if not order_by:
        raise ValueError(
            "dedup_exact: keys cover all columns, leaving no order_by to pick "
            "the surviving row deterministically; use df.distinct() instead, "
            "or pass order_by explicitly"
        )
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_by_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    keep_text: bool = False,
) -> DataFrame:
    """Exact content dedup: md5(normalized text) → keep min id, count dups.

    With ``keep_text`` the surviving row's text rides the same shuffle
    via ``min_by`` (deterministic — ids are the tie-break), which is
    strictly cheaper than the join-back a caller would otherwise need:
    one text-bearing shuffle instead of an agg shuffle plus a join.
    """
    aggs = [
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    ]
    if keep_text:
        aggs.append(F.min_by(text_col, F.col(id_col)).alias(text_col))
    return (
        df.select(
            F.col(id_col),
            *([F.col(text_col)] if keep_text else []),
            F.md5(normalize_text(text_col)).alias("fp"),
        )
        .groupBy("fp")
        .agg(*aggs)
    )


def word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, ngram) postings of distinct word n-grams per document.

    CONTRACT: ``id_col`` must uniquely identify rows of ``df``. The
    per-row dedup below cannot collapse postings across two rows that
    share an id, so a duplicated id would double-count intersections in
    every consumer (Jaccard > 1.0, inflated decontamination hits). Run
    exact dedup first if ids may repeat.

    MLlib's ``NGram`` transformer builds the gram array row-locally on
    the JVM (a compiled Scala function over the token array) — the
    whole operator is shuffle-free. The two rejected alternatives,
    both measured: a ``transform(sequence(...))`` higher-order
    expression is CodegenFallback AND CollapseProject makes the
    interpreted lambda re-evaluate the regex split once per gram index
    (27 s single-thread at sf0.1); posexplode + window ``lead`` stays
    in codegen but forces a full shuffle of every token on doc id
    before grams even exist — equal speed locally, strictly worse at
    cluster scale. A doc with fewer than n tokens yields no grams
    (NGram emits an empty array), matching the window form's semantics.
    """
    from pyspark.ml.feature import NGram

    base = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    grams = NGram(n=n, inputCol="toks", outputCol="grams").transform(base)
    # per-doc gram dedup is row-local (array_distinct before the
    # explode), NOT a distinct() after it — a global distinct would
    # shuffle every posting on (id, ngram) before any consumer runs;
    # this way the postings leave the scan stage already deduped and
    # the n-gram family's first shuffle is whatever the consumer
    # actually needs (band key, gram join key, doc id).
    return grams.select("id", F.explode(F.array_distinct("grams")).alias("ngram"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join.

    postings self-join on the n-gram (so only docs sharing a gram pair
    up), count intersections, then |A∪B| = |A|+|B|−|A∩B|. The join key
    is the n-gram string — at 100 TB you'd hash it to a fixed-width key
    and AQE handles the skewed popular grams.

    Output: (id_a, id_b, inter_size, size_a, size_b, jaccard) with
    id_a < id_b and jaccard >= threshold.
    """
    # join on the 8-byte gram hash, not the gram string — same pairs
    # (collisions only shave Jaccard by ~n_grams²/2⁶⁴), much smaller
    # shuffle rows; at corpus scale the string never leaves the scan
    posts = pin(
        word_ngrams(df, id_col, text_col, n).select(
            "id", F.xxhash64("ngram").alias("gh")
        )
    )
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = posts.select(F.col("id").alias("id_a"), "gh")
    b = posts.select(F.col("id").alias("id_b"), "gh")
    inter = (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter_size")
            / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter_size", "size_a", "size_b", "jaccard")
    )
    return out


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold_num: int = 1,
    threshold_den: int = 2,
    ngram: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard join accelerated by PREFIX FILTERING
    (PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08):
    the exact-answer scale path, complementing MinHash LSH (approximate
    candidates) and the full postings self-join (exact but joins on
    EVERY token).

    The filter: order every document's token set by ascending corpus
    document-frequency (rarest first, ties by token); for Jaccard ≥
    τ = num/den, two sets must share at least one token inside their
    first ``|x| − ⌈τ·|x|⌉ + 1`` tokens — so the candidate join runs
    ONLY on those prefix tokens. Because the prefix holds each set's
    RAREST tokens, candidate volume collapses: popular tokens (the
    skew that makes the naive postings join quadratic) never enter the
    join. Survivors are verified row-locally with the full sets
    (``array_intersect``) under the integer cross-multiplied test
    ``den·inter ≥ num·(|A|+|B|−inter)`` — no float threshold, so the
    pair set is engine-exact and fully oracle-able.

    Threshold is a rational ``threshold_num/threshold_den`` for that
    exactness. Set elements are tokens, or word ``ngram``-shingles when
    ``ngram`` is given (built row-locally — token-level sets saturate
    on small vocabularies, where almost every pair clears any
    threshold; shingles keep the similarity signal ordinal). Output:
    (id_a, id_b, inter_size, size_a, size_b, jaccard) with id_a <
    id_b; jaccard is the one final double division. Plan (opt r9): one
    element-keyed join to attach df counts, one id-partitioned window
    (position + size — flat, codegen; the old array build ran an
    interpreted ObjectHashAggregate + array_sort and was recomputed
    once PER SELF-JOIN SIDE), the prefix-element candidate join with
    the PPJoin POSITIONAL filter (exact candidate superset — cuts the
    verify stage's CPU ~100×), one verify join back to the (id → set)
    table; every shuffle is keyed on set elements or ids, nothing
    quadratic in corpus size.
    """
    num, den = threshold_num, threshold_den
    if num <= 0 or den <= 0 or num > den:
        raise ValueError(f"threshold must be in (0, 1]: {num}/{den}")
    base = tokens(F.lower(F.col(text_col)))
    if ngram is not None:
        if ngram < 1:
            raise ValueError(f"ngram must be >= 1, got {ngram}")

        def _shingles(tb):
            # tb is a HOF lambda variable binding the token array ONCE:
            # referencing `base` inside the inner lambda would inline
            # the split() into every slice() and re-tokenize the doc
            # PER SHINGLE — O(L²), measured 16 s → 2 s on 5 k docs
            # (same let-binding as text.py winnow_fingerprints)
            return F.when(
                F.size(tb) >= ngram,
                F.transform(
                    F.sequence(F.lit(1), F.size(tb) - ngram + 1),
                    lambda i: F.concat_ws(" ", F.slice(tb, i, ngram)),
                ),
            ).otherwise(F.array().cast("array<string>"))

        items = F.flatten(F.transform(F.array(base), _shingles))
    else:
        items = base
    # elements travel as xxhash64 bigints, not strings (same stance as
    # ngram_jaccard_pairs: collisions only inflate Jaccard by
    # ~|set|²/2⁶⁴, the exchanges shrink ~10×); the set table is
    # pinned because four plan branches read it (postings, df-rank
    # join, and both verify sides)
    hashed = F.transform(F.array_distinct(items), lambda s: F.xxhash64(s))
    sets = pin(
        df.select(F.col(id_col).alias("id"), hashed.alias("toks")).filter(
            F.size("toks") > 0
        )
    )
    posts = sets.select("id", F.explode("toks").alias("tok"))
    dfreq = posts.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    # prefix postings carry each token's 1-based POSITION in the
    # (dfc, tok)-sorted order plus the set size — flat window form
    # (opt r9) instead of the old collect_list+array_sort+slice+explode
    # array build: the window's id-keyed exchange is the same shuffle
    # the aggregate paid, but sort+row_number are codegen while
    # ObjectHashAggregate+array_sort ran the suite's single heaviest
    # interpreted stage, and the positions feed the PPJoin positional
    # filter below. The window partitions by id — never SinglePartition.
    # prefix length |x| − ⌈(num/den)·|x|⌉ + 1, ceil via integer DIV so
    # the arithmetic is exact at any magnitude (a float division would
    # only be exact while num·|x|+den−1 < 2^53)
    w_pos = Window.partitionBy("id").orderBy("dfc", "tok")
    w_all = Window.partitionBy("id")
    # pinned: the candidate self-join reads the prefix twice and plain
    # exchange reuse does not survive the per-side projections
    # (measured: the whole dfreq-join-window subtree planned and ran
    # TWICE pre-r9)
    prefix = pin(
        posts.join(dfreq, "tok")
        .select(
            "id",
            "tok",
            F.row_number().over(w_pos).alias("pos"),
            F.count(F.lit(1)).over(w_all).alias("sz"),
        )
        .filter(
            F.col("pos")
            <= F.col("sz")
            - F.expr(f"int(({num} * sz + {den - 1}) div {den})")
            + 1
        )
    )
    # PPJoin positional filter (Xiao et al. WWW'08 §3.2): for the pair's
    # FIRST shared prefix token at sorted positions (pa, pb), every
    # common token sits at a position ≥ (pa, pb) in its set, so
    # |A∩B| ≤ ub = 1 + min(|A|−pa, |B|−pb); a pair can clear
    # J ≥ num/den only if den·ub ≥ num·(|A|+|B|−ub). Later shared
    # tokens may fail the test, but the first-token row always passes
    # for a truly similar pair, so filtering rows BEFORE the distinct
    # keeps an exact candidate superset (verify below is exact anyway —
    # this only shrinks the CPU-dense intersect stage, measured 409k →
    # a few k pairs for 256 survivors at sf0.1).
    ub = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
    )
    cands = (
        prefix.select(
            F.col("id").alias("id_a"),
            "tok",
            F.col("pos").alias("pos_a"),
            F.col("sz").alias("sz_a"),
        )
        .join(
            prefix.select(
                F.col("id").alias("id_b"),
                "tok",
                F.col("pos").alias("pos_b"),
                F.col("sz").alias("sz_b"),
            ),
            "tok",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.lit(den) * ub >= F.lit(num) * (F.col("sz_a") + F.col("sz_b") - ub)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    full = sets.select("id", "toks", F.size("toks").alias("sz"))
    verified = (
        cands.join(
            full.select(
                F.col("id").alias("id_a"),
                F.col("toks").alias("toks_a"),
                F.col("sz").alias("size_a"),
            ),
            "id_a",
        )
        .join(
            full.select(
                F.col("id").alias("id_b"),
                F.col("toks").alias("toks_b"),
                F.col("sz").alias("size_b"),
            ),
            "id_b",
        )
        .withColumn(
            "inter_size", F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint")
        )
        .filter(
            F.lit(den) * F.col("inter_size")
            >= F.lit(num) * (F.col("size_a") + F.col("size_b") - F.col("inter_size"))
        )
    )
    out = verified.select(
        "id_a",
        "id_b",
        "inter_size",
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        (
            F.col("inter_size").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter_size")).cast("double")
        ).alias("jaccard"),
    )
    return out


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram *containment* similarity join.

    Containment ``|A∩B| / min(|A|,|B|)`` catches the asymmetric
    duplication Jaccard misses: a document embedded verbatim inside a
    much longer one scores ~1.0 here but near 0 on Jaccard (the union
    is dominated by the long doc). This is the standard quote/subset
    detector in training-data dedup.

    Same plan shape as :func:`ngram_jaccard_pairs` — postings self-join
    on the 8-byte gram hash, intersection counts, sizes re-attached —
    only the final similarity expression differs, so the two share the
    scale posture (AQE skew-split on popular grams; hash join keys, the
    gram string never leaves the scan).

    Output: (id_a, id_b, inter_size, size_a, size_b, containment) with
    id_a < id_b and containment >= threshold.
    """
    posts = pin(
        word_ngrams(df, id_col, text_col, n).select(
            "id", F.xxhash64("ngram").alias("gh")
        )
    )
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = posts.select(F.col("id").alias("id_a"), "gh")
    b = posts.select(F.col("id").alias("id_b"), "gh")
    inter = (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    out = (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "size_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "size_b"),
            "id_b",
        )
        .withColumn(
            "containment",
            F.col("inter_size").cast("double")
            / F.least("size_a", "size_b").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "inter_size", "size_a", "size_b", "containment")
    )
    return out


# --- MinHash ---------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 64,
    shingle_size: int = 3,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document over word-shingle sets.

    ``hashed`` optionally supplies precomputed (id, h=xxhash64(shingle))
    postings so a caller that also needs the postings (e.g. the
    exact-verify pass) scans the corpus once, not twice.

    One explode + one groupBy: shingles are hashed JVM-side with
    xxhash64, each "permutation" i is a seeded re-hash
    ``xxhash64(h, i)`` of that 64-bit shingle hash, and ``min`` is a
    partial-aggregatable function — so the shuffle carries only
    (id, 64×bigint), never the shingles.

    Seeded re-hashing (not an affine ``(a*h+b) mod p`` family): with
    shingle hashes bounded far below the modulus, an affine map wraps
    only 0-2 times and stays *nearly monotone* in h — the per-row min
    is then decided by the smallest raw hash instead of a fresh random
    order, which skews P[sig match] far from the true Jaccard (measured
    est 0.53 on a 0.89-Jaccard pair). ``xxhash64(h, i)`` is a full-
    avalanche mix per i, restoring min-wise independence, and stays
    overflow-free by construction.
    """
    if hashed is None:
        posts = word_ngrams(df, id_col, text_col, shingle_size)
        hashed = posts.select("id", F.xxhash64("ngram").alias("h"))
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    # pack into ONE array column: downstream plans (banding, pair
    # verify) stay 2-column instead of 64/128-column — wide plans cost
    # seconds of codegen compile alone and bloat every shuffle row
    return (
        hashed.groupBy("id")
        .agg(*aggs)
        .select(
            "id", F.array(*[f"mh_{i}" for i in range(num_perm)]).alias("sig")
        )
    )


def band_postings(
    sig_df: DataFrame, *, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """Explode (id, sig) into LSH band postings (id, band_no, band_key, sig).

    One codegen explode per row — ``band_key`` is the xxhash64 of the
    band's signature slice, so postings are fixed-width regardless of
    shingle count. The sig rides along so an index built from these
    rows is self-contained for estimate-verify (fraction of matching
    signature positions) without a join back to document text.
    """
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError("bands must divide num_perm")
    return sig_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        F.xxhash64(
                            F.slice("sig", b * rows_per_band + 1, rows_per_band)
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
        "sig",
    ).select("id", "bk.band_no", "bk.band_key", "sig")


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_band_group: int = 1000,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    rows of each band hash to a band key; docs sharing any band key are
    candidates. Estimated Jaccard = fraction of matching signature rows.
    ``max_band_group`` drops degenerate bands (e.g. boilerplate shingles)
    that would otherwise produce quadratic blowup — the standard skew
    guard at corpus scale.

    Output: (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    sig = pin(
        minhash_signatures(
            df, id_col, text_col, num_perm=num_perm, shingle_size=shingle_size,
            hashed=hashed,
        )
    )
    banded = band_postings(sig, num_perm=num_perm, bands=bands).select(
        "id", "band_no", "band_key"
    )
    # skew guard: drop pathological band groups
    sized = banded.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("band_no", "band_key"))
    ).filter(F.col("__n") <= max_band_group)
    a = sized.select(F.col("id").alias("id_a"), "band_no", "band_key")
    b = sized.select(F.col("id").alias("id_b"), "band_no", "band_key")
    cands = (
        a.join(b, ["band_no", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # est jaccard = fraction of matching signature rows; the zip_with
    # runs only on the (small) candidate set, never the corpus
    matches = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
    )
    out = (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a", "id_b", (matches / F.lit(num_perm)).alias("est_jaccard")
        )
    )
    return out


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Candidates from MinHash banding, verified with EXACT Jaccard.

    The production LSH shape: the sketch only *proposes* pairs (cheap,
    scales); the exact n-gram Jaccard then *decides* — computed only
    for the candidate set, never all pairs, by joining candidates back
    to the gram postings (candidate list is small → broadcast into the
    postings joins; cost is O(candidate grams), not O(corpus²)).

    Output: (id_a, id_b, jaccard) with exact jaccard >= threshold —
    identical to the exhaustive ``ngram_jaccard_pairs`` at the same
    threshold whenever banding recall at that threshold is 1 (the
    detection probability at s=0.7 with 16×4 banding is ≥ 0.988/pair;
    tests/test_dedup.py asserts the superset on the testdata, which is
    what lets the driver hold this query to the exact-pairs oracle).
    """
    # shared postings definition for the signature aggregation and the
    # verify joins — deliberately NOT persisted: measured at sf0.1 the
    # codegen'd scan→gram→hash recompute (2.6 s) beats caching the 2.5M
    # postings rows (4.2 s warm; the cache store/load costs more than
    # the re-scans). On an IO-bound cluster pass a persisted frame as
    # ``hashed`` to flip that trade.
    posts = word_ngrams(df, id_col, text_col, shingle_size).select(
        "id", F.xxhash64("ngram").alias("h")
    )
    cands = minhash_near_duplicates(
        df, id_col, text_col, num_perm=num_perm, bands=bands,
        shingle_size=shingle_size, hashed=posts,
    ).select("id_a", "id_b")
    sizes = posts.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    pa = posts.select(F.col("id").alias("id_a"), "h")
    pb = posts.select(F.col("id").alias("id_b"), "h")
    inter = (
        pa.join(F.broadcast(cands), "id_a")
        .join(pb, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    out = (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("size_a")), "id_a"
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("size_b")), "id_b"
        )
        .withColumn(
            "jaccard",
            F.col("inter_size")
            / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Each token hashes to 64 bits (xxhash64); bit b contributes +1/−1 to
    counter b; the sign vector packs back into one bigint. Near-dups
    have small Hamming distance between fingerprints. Entirely
    expression-based: explode → groupBy(id) with 64 conditional sums →
    pack. Shuffle payload is (id, 64 ints).
    """
    posts = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{i}")
        for i in range(64)
    ]
    sums = posts.groupBy("id").agg(*bit_sums)
    packed = sum(
        F.when(F.col(f"s_{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(63)  # bit 63 left clear to stay in signed-long range
    )
    return sums.select("id", packed.alias("simhash"))


def hamming_distance(col_a, col_b):
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(F.col(col_a).bitwiseXOR(F.col(col_b)))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    max_block_group: int = 1000,
) -> DataFrame:
    """All document pairs within ``max_hamming`` SimHash bits — exactly.

    Pigeonhole banding (Manku/Jain/Sarma's web-dedup scheme, re-expressed
    as DataFrame ops): split the 64-bit fingerprint into
    ``max_hamming + 1`` blocks; two fingerprints within ``max_hamming``
    bits of each other must agree *exactly* on at least one block, so an
    equality self-join on (block_no, block_bits) generates every
    qualifying pair — this is a guarantee, not an approximation; only
    the exact ``bit_count(xor)`` filter then decides. Shuffle key is a
    short int pair, candidate groups are tiny on real data, and
    ``max_block_group`` guards the degenerate block (e.g. near-empty
    docs all hashing to block 0) the same way the MinHash banding does.

    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    fp = simhash_fingerprints(df, id_col, text_col)
    return fingerprint_near_duplicates(
        fp,
        max_hamming=max_hamming,
        max_block_group=max_block_group,
    )


def fingerprint_near_duplicates(
    fp: DataFrame,
    *,
    max_hamming: int = 3,
    max_block_group: int = 1000,
    id_col: str = "id",
    fp_col: str = "simhash",
) -> DataFrame:
    """The pigeonhole band join of :func:`simhash_near_duplicates`,
    factored over PRECOMPUTED 64-bit fingerprints — any Hamming-space
    signature plugs in (SimHash from text, pHash from images, …): all
    id pairs within ``max_hamming`` bits, exactly, via the
    block-agreement guarantee + in-band bit_count verify.
    Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    n_blocks = max_hamming + 1
    width = 64 // n_blocks  # last block absorbs the remainder bits
    fp = fp.select(F.col(id_col).alias("id"), F.col(fp_col).alias("simhash"))
    blocks = [
        F.struct(
            F.lit(b).alias("block_no"),
            F.shiftrightunsigned("simhash", b * width)
            .bitwiseAND(
                F.lit(-1 if b == n_blocks - 1 else (1 << width) - 1).cast("long")
            )
            .alias("block_bits"),
        )
        for b in range(n_blocks)
    ]
    # the fingerprint rides the banded rows (+8 bytes/row) so the exact
    # Hamming check happens inside the band join — no candidate-set
    # distinct followed by two fingerprint joins (measured 2 extra
    # shuffles and ~40% of the operator's wall time)
    banded = fp.select(
        "id", "simhash", F.explode(F.array(*blocks)).alias("bk")
    ).select("id", "simhash", "bk.block_no", "bk.block_bits")
    sized = banded.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("block_no", "block_bits"))
    ).filter(F.col("__n") <= max_block_group)
    a = sized.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("fp_a"), "block_no", "block_bits"
    )
    b = sized.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("fp_b"), "block_no", "block_bits"
    )
    return (
        a.join(b, ["block_no", "block_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming_distance("fp_a", "fp_b").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def ngram_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    word n-grams with an evaluation set.

    The standard pre-training hygiene pass (the GPT-3 appendix /
    OpenWebText 13-gram rule, here with configurable ``n``): any train
    document containing ``min_hits`` or more distinct n-grams that also
    appear anywhere in the eval corpus is reported, with its hit count,
    so callers can anti-join it away or audit the overlaps.

    Plan shape for 100 TB of train data: the eval side is benchmarks —
    tiny by construction — so its distinct gram set is explicitly
    ``broadcast()``: the train postings stream through a map-side hash
    semi-join and a partial-agg count keyed on doc id. The train corpus
    is NEVER shuffled on gram text. (If the eval side ever outgrew
    broadcast, drop the hint and Spark falls back to a shuffle join on
    the gram string — same semantics; the oracle joins on the identical
    string either way, which is why grams are joined raw rather than
    pre-hashed: xxhash64 would shave shuffle bytes in the fallback but
    costs exactness and cross-engine checkability.)
    """
    train_posts = word_ngrams(train_df, id_col, text_col, n)
    eval_grams = word_ngrams(eval_df, id_col, text_col, n).select("ngram").distinct()
    return (
        train_posts.join(F.broadcast(eval_grams), "ngram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
        .select(F.col("id").alias(id_col), "n_hits")
    )


def minhash_dedup_incremental(
    new_df: DataFrame,
    index_df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
    max_band_group: int = 1000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Dedup a new document batch against a persistent MinHash LSH index.

    THE shape continuous corpus building needs at 100 TB: the
    accumulated corpus is never re-scanned — only its band-posting
    index (``band_postings`` rows: id, band_no, band_key, sig) is
    joined against the delta. Matching is sketch-level (estimated
    Jaccard from signature agreement ≥ ``threshold``), i.e. the index
    retains NO document text — exactly what a production dedup service
    stores.

    A new document is dropped when it matches the index, or an
    earlier (smaller-id) document of the same batch — a deterministic,
    order-free rule that parallelizes (no sequential greedy pass).
    Like any transitive near-dup removal, a chain A~B~C with B dropped
    still drops C via B: acceptable for near-dup semantics and
    identical to what the batch remove-near-duplicates plan does.

    Returns ``(kept_df, dropped_df, new_index_df)``:

    - ``kept_df`` — the surviving rows of ``new_df`` (all columns);
    - ``dropped_df`` — (id, match_id, est_jaccard), best match per
      dropped doc (highest estimate, smallest match_id tie-break);
    - ``new_index_df`` — index_df ∪ postings of the kept docs: feed it
      to the next batch. At scale, write it as a table bucketed by
      (band_no, band_key) (sources/bucketed.py) so the per-batch join
      never shuffles the index side; the delta postings are small and
      sort into the bucket layout cheaply.

    Plan shape: one corpus-free scan of the delta (shingle → sign →
    band), a band-key equality join delta↔(index ∪ delta) with the
    standard ``max_band_group`` skew guard, and estimate-verify only on
    candidates. No shuffle touches document text.
    """
    sig = minhash_signatures(
        new_df, id_col, text_col, num_perm=num_perm, shingle_size=shingle_size
    )
    new_posts = pin(band_postings(sig, num_perm=num_perm, bands=bands))

    if index_df is None:
        all_posts = new_posts.withColumn("__from_index", F.lit(False))
    else:
        all_posts = (
            index_df.select("id", "band_no", "band_key", "sig")
            .withColumn("__from_index", F.lit(True))
            .unionByName(new_posts.withColumn("__from_index", F.lit(False)))
        )

    # skew guard on the probe side of the join (degenerate band keys)
    sized = all_posts.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("band_no", "band_key"))
    ).filter(F.col("__n") <= max_band_group)

    probe = new_posts.select(F.col("id").alias("new_id"), "band_no", "band_key")
    target = sized.select(
        F.col("id").alias("match_id"), "band_no", "band_key", "__from_index"
    )
    # dedup candidates as bare 16-byte id pairs, THEN attach signatures:
    # a distinct over sig-carrying rows would shuffle ~1 KB per
    # candidate (2×num_perm bigints). The per-id signature view is the
    # postings filtered to band 0 — exactly one row per id, zero
    # additional shuffle to build.
    #
    # Drop rule, matching the docstring: ANY index match drops the new
    # doc (regardless of id ordering — the index doc is by definition
    # earlier), while intra-batch pairs drop only the larger id so the
    # rule stays deterministic and order-free within a batch.
    cand_pairs = (
        probe.join(target, ["band_no", "band_key"])
        .filter(
            (F.col("__from_index") & (F.col("match_id") != F.col("new_id")))
            | (~F.col("__from_index") & (F.col("match_id") < F.col("new_id")))
        )
        .select("new_id", "match_id")
        .distinct()
    )
    sig_new_v = new_posts.filter(F.col("band_no") == 0).select(
        F.col("id").alias("new_id"), F.col("sig").alias("sig_new")
    )
    sig_match_v = all_posts.filter(F.col("band_no") == 0).select(
        F.col("id").alias("match_id"), F.col("sig").alias("sig_match")
    )
    matches = F.expr(
        "size(filter(zip_with(sig_new, sig_match, (x, y) -> x = y), v -> v))"
    )
    cand = (
        cand_pairs.join(sig_new_v, "new_id")
        .join(sig_match_v, "match_id")
        .select(
            "new_id", "match_id", (matches / F.lit(num_perm)).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("est_jaccard"), F.asc("match_id")
    )
    dropped = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("new_id").alias(id_col), "match_id", "est_jaccard")
    )
    dropped_ids = dropped.select(id_col)
    kept = new_df.join(dropped_ids, id_col, "left_anti")
    kept_posts = new_posts.join(
        dropped_ids.select(F.col(id_col).alias("id")), "id", "left_anti"
    )
    new_index = (
        kept_posts
        if index_df is None
        else index_df.select("id", "band_no", "band_key", "sig").unionByName(kept_posts)
    )
    return kept, dropped, new_index


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    boundary_mod: int = 16,
) -> DataFrame:
    """Content-defined chunking: chunk boundaries open at tokens whose
    md5 starts with a fixed nibble pattern (P(boundary) = 1/boundary_mod,
    expected chunk ≈ boundary_mod tokens) — the storage-dedup discipline
    (LBFS/rsync family): because boundaries depend on CONTENT, an
    insertion near the head re-chunks only its neighborhood, where
    fixed-width windows (q_chunk_dedup) shift every downstream chunk.
    Stateless per-token test instead of a rolling hash, so chunking is a
    pure per-row computation; md5 keeps the boundary decision
    engine-portable (xxhash64 exists only Spark-side).

    Returns (doc, seg, chunk, n_tokens, chunk_md5) — one row per chunk.
    Scale: boundary flags and positions are row-local; the only shuffle
    is the per-(doc,seg) collapse riding the doc-keyed window
    partitioning. Digest-level dedup stats never shuffle text.
    """
    from pyspark.sql import Window

    if boundary_mod not in (2, 4, 8, 16):
        raise ValueError("boundary_mod must divide 16 (first-nibble test)")
    nibbles = [format(i, "x") for i in range(16 // boundary_mod)]
    tk = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "pos", "tok"
        ),
    ).withColumn(
        "boundary", F.substring(F.md5(F.col("tok")), 1, 1).isin(*nibbles)
    )
    w = Window.partitionBy("doc").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg = tk.withColumn("seg", F.sum(F.col("boundary").cast("int")).over(w))
    chunks = seg.groupBy("doc", "seg").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("chunk"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )
    return chunks.withColumn("chunk_md5", F.md5("chunk"))
