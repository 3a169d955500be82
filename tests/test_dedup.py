"""Property tests for the sketch-based dedup operators (E2).

These cover the queries with no DuckDB oracle (xxhash64 has no DuckDB
equivalent): q_minhash_neardup and q_simhash. Verification strategy:

- MinHash banding candidates must be a SUPERSET of the exact high-Jaccard
  pairs computed by the oracle-checked ``ngram_jaccard_pairs`` (the
  documents testdata contains real near-dups, Jaccard 0.97-0.99).
  Detection probability per pair at Jaccard s with 16 bands x 4 rows is
  1-(1-s^4)^16 — ≥ 0.988 at s = 0.7 and ~1 at the actual 0.9+ pairs;
  hashes and data are deterministic, so the assertion is stable.
- MinHash est_jaccard must track the exact Jaccard (|err| bounded by a
  few times the 64-permutation stderr ≈ sqrt(s(1-s)/64) ≤ 0.063).
- SimHash must be deterministic across runs, and Hamming distance must
  separate a lightly-perturbed document from an unrelated one.
- dedup_exact: deterministic survivor + the empty-orderBy guard.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from loan_etl_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    hamming_distance,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from loan_etl_data_pipeline_spark.session import intermediates
from loan_etl_data_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    """Exact n-gram Jaccard pairs (threshold 0.5) keyed by (id_a, id_b)."""
    with intermediates():
        df = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}


@pytest.fixture(scope="module")
def minhash_pairs(docs):
    with intermediates():
        df = minhash_near_duplicates(docs)
        return {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in df.collect()}


def test_minhash_candidates_superset_of_high_jaccard(exact_pairs, minhash_pairs):
    high = {p for p, j in exact_pairs.items() if j >= 0.7}
    assert high, "testdata should contain near-duplicate documents"
    missing = high - set(minhash_pairs)
    assert not missing, f"MinHash banding missed high-Jaccard pairs: {missing}"


def test_minhash_estimate_tracks_exact_jaccard(exact_pairs, minhash_pairs):
    checked = 0
    for pair, j in exact_pairs.items():
        if pair in minhash_pairs:
            assert abs(minhash_pairs[pair] - j) <= 0.25, (
                f"{pair}: est={minhash_pairs[pair]:.3f} exact={j:.3f}"
            )
            checked += 1
    assert checked >= len([j for j in exact_pairs.values() if j >= 0.7])


def _synthetic_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy stone bridge near the river"
    )
    perturbed = base.replace("mossy stone", "ancient wooden")
    unrelated = (
        "quantum flux capacitors destabilize rapidly under intense gamma "
        "radiation unless shielded by layered boron carbide plating arrays"
    )
    return spark.createDataFrame(
        [(1, base), (2, perturbed), (3, unrelated)], "doc_id long, text string"
    )


def test_simhash_deterministic_and_hamming_separates(spark):
    df = _synthetic_docs(spark)
    fp1 = {r["id"]: r["simhash"] for r in simhash_fingerprints(df).collect()}
    fp2 = {r["id"]: r["simhash"] for r in simhash_fingerprints(df).collect()}
    assert fp1 == fp2, "SimHash must be deterministic"

    pairs = spark.createDataFrame(
        [(fp1[1], fp1[2]), (fp1[1], fp1[3])], "a long, b long"
    ).select(hamming_distance("a", "b").alias("d"))
    d_similar, d_unrelated = [r["d"] for r in pairs.collect()]
    assert d_similar < d_unrelated, (
        f"hamming(similar)={d_similar} should be < hamming(unrelated)={d_unrelated}"
    )
    assert d_similar <= 16, f"near-dup hamming too large: {d_similar}"


def test_simhash_on_documents_rowcount(docs):
    out = simhash_fingerprints(docs)
    assert out.count() == docs.count()
    assert out.columns == ["id", "simhash"]


def test_simhash_near_duplicates_equals_bruteforce(docs, spark):
    """Pigeonhole banding is exact: result == all pairs with hamming <= k.

    Brute force computed driver-side over the collected fingerprints
    (500 docs -> 125k pairs, trivial locally) — the operator must
    produce exactly that set, in any partitioning.
    """
    from loan_etl_data_pipeline_spark.operators.dedup import simhash_near_duplicates

    k = 8
    fps = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    ids = sorted(fps)
    expected = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= k
    }
    assert expected, "testdata should contain simhash near-dups at k=8"

    with intermediates():
        out = simhash_near_duplicates(docs.repartition(7), max_hamming=k)
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got == expected


def test_simhash_near_duplicates_skew_guard(spark):
    """A degenerate corpus (all-identical docs) trips max_block_group and
    yields no pairs instead of a quadratic blowup."""
    from loan_etl_data_pipeline_spark.operators.dedup import simhash_near_duplicates

    df = spark.createDataFrame(
        [(i, "same text everywhere again") for i in range(50)],
        "doc_id long, text string",
    )
    with intermediates():
        out = simhash_near_duplicates(df, max_hamming=3, max_block_group=10)
        assert out.count() == 0


def test_dedup_exact_keeps_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [("u1", "click", 3), ("u1", "click", 1), ("u1", "view", 2), ("u2", "click", 9)],
        "user string, action string, seq long",
    )
    out = dedup_exact(df, ["user", "action"], order_by=[F.asc("seq")])
    got = {(r["user"], r["action"]): r["seq"] for r in out.collect()}
    assert got == {("u1", "click"): 1, ("u1", "view"): 2, ("u2", "click"): 9}


def test_dedup_exact_rejects_empty_order(spark):
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError, match="order_by"):
        dedup_exact(df, ["k", "v"])


# --- incremental dedup against a persistent index --------------------------


def test_incremental_dedup_cross_batch(spark):
    from loan_etl_data_pipeline_spark.operators.dedup import minhash_dedup_incremental

    base = "the quick brown fox jumps over the lazy dog again and again today"
    batch1 = spark.createDataFrame(
        [(1, base), (2, "completely different words about spark shuffles and joins")],
        "doc_id long, text string",
    )
    # doc 10 duplicates indexed doc 1; doc 11 is novel; doc 12 duplicates 11
    batch2 = spark.createDataFrame(
        [
            (10, base),
            (11, "a genuinely novel document mentioning quantized embeddings"),
            (12, "a genuinely novel document mentioning quantized embeddings"),
        ],
        "doc_id long, text string",
    )
    kept1, dropped1, idx = minhash_dedup_incremental(batch1, None, threshold=0.7)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]
    assert dropped1.count() == 0

    kept2, dropped2, idx2 = minhash_dedup_incremental(batch2, idx, threshold=0.7)
    d2 = {r["doc_id"]: r["match_id"] for r in dropped2.collect()}
    assert d2 == {10: 1, 12: 11}
    assert sorted(r["doc_id"] for r in kept2.collect()) == [11]
    # index grows by exactly the kept docs
    idx_ids = {r["id"] for r in idx2.select("id").distinct().collect()}
    assert idx_ids == {1, 2, 11}


def test_incremental_dedup_drops_new_doc_with_smaller_id(spark):
    """An index match must drop the new doc regardless of id ordering:
    a delta doc whose id is SMALLER than its indexed duplicate's id is
    still the later arrival and must lose."""
    from loan_etl_data_pipeline_spark.operators.dedup import minhash_dedup_incremental

    base = "the quick brown fox jumps over the lazy dog again and again today"
    batch1 = spark.createDataFrame([(40, base)], "doc_id long, text string")
    batch2 = spark.createDataFrame(
        [(3, base), (5, "unrelated text about broadcast joins and shuffles")],
        "doc_id long, text string",
    )
    _, _, idx = minhash_dedup_incremental(batch1, None, threshold=0.7)
    kept2, dropped2, idx2 = minhash_dedup_incremental(batch2, idx, threshold=0.7)
    assert {r["doc_id"]: r["match_id"] for r in dropped2.collect()} == {3: 40}
    assert sorted(r["doc_id"] for r in kept2.collect()) == [5]
    assert {r["id"] for r in idx2.select("id").distinct().collect()} == {40, 5}


def test_incremental_dedup_oneshot_equals_banded_pairs(docs, spark):
    """With everything in one batch, the dropped set must be exactly
    {id_b : some banded pair (id_a < id_b) has est_jaccard >= thr}."""
    from loan_etl_data_pipeline_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_near_duplicates,
    )

    with intermediates():
        pairs = minhash_near_duplicates(docs)
        expected = {
            r["id_b"] for r in pairs.collect() if r["est_jaccard"] >= 0.7
        }

    with intermediates():
        kept, dropped, _ = minhash_dedup_incremental(docs, None, threshold=0.7)
        got = {r["doc_id"] for r in dropped.collect()}
        assert got == expected
        assert kept.count() + len(got) == docs.count()


# --- prefix_jaccard_pairs (PPJoin-style exact set-similarity join) ---


def _brute_jaccard_pairs(rows, num, den, ngram=None):
    """Python reference: exact Jaccard >= num/den over token (or
    shingle) sets."""
    sets = {}
    for i, text in rows:
        toks = text.strip().lower().split()
        if ngram:
            items = {
                " ".join(toks[j : j + ngram])
                for j in range(len(toks) - ngram + 1)
            }
        else:
            items = set(toks)
        if items:
            sets[i] = items
    out = set()
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sets[ids[x]], sets[ids[y]]
            inter = len(a & b)
            if den * inter >= num * (len(a) + len(b) - inter):
                out.add((ids[x], ids[y]))
    return out


_PJ_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "completely different words entirely here now"),
    (5, "quick brown fox"),
    (6, ""),
    (7, "solo"),
    (8, "lorem ipsum dolor sit amet consectetur adipiscing"),
    (9, "lorem ipsum dolor sit amet consectetur elit"),
]


@pytest.mark.parametrize("num,den", [(1, 2), (3, 4), (1, 1)])
def test_prefix_jaccard_equals_bruteforce_tokens(spark, num, den):
    from loan_etl_data_pipeline_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.createDataFrame(_PJ_ROWS, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_jaccard_pairs(
            df, threshold_num=num, threshold_den=den
        ).collect()
    }
    assert got == _brute_jaccard_pairs(_PJ_ROWS, num, den)


def test_prefix_jaccard_equals_bruteforce_shingles(spark):
    from loan_etl_data_pipeline_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.createDataFrame(_PJ_ROWS, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_jaccard_pairs(
            df, threshold_num=1, threshold_den=2, ngram=3
        ).collect()
    }
    assert got == _brute_jaccard_pairs(_PJ_ROWS, 1, 2, ngram=3)
    assert (1, 3) in got  # the exact dup survives shingling


def test_prefix_jaccard_values_and_partitioning(spark):
    from loan_etl_data_pipeline_spark.operators.dedup import prefix_jaccard_pairs

    df = spark.createDataFrame(_PJ_ROWS, "doc_id long, text string")
    a = sorted(
        map(tuple, prefix_jaccard_pairs(df, threshold_num=1, threshold_den=2).collect())
    )
    b = sorted(
        map(
            tuple,
            prefix_jaccard_pairs(
                df.repartition(7), threshold_num=1, threshold_den=2
            ).collect(),
        )
    )
    assert a == b
    row = next(r for r in a if r[0] == 1 and r[1] == 3)
    # exact dup: inter == size_a == size_b, jaccard == 1.0
    assert row[2] == row[3] == row[4] and row[5] == 1.0
    with pytest.raises(ValueError, match="threshold"):
        prefix_jaccard_pairs(df, threshold_num=3, threshold_den=2)
    with pytest.raises(ValueError, match="ngram"):
        prefix_jaccard_pairs(df, ngram=0)
