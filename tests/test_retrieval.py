"""Retrieval operators (operators/retrieval.py) + blocked fuzzy join +
n-gram containment: edge semantics the sf-scale oracle rows
(q_bm25_search, q_tfidf_terms, q_containment, q_fuzzy_match in
tests/test_oracle_parity.py) can't isolate.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from loan_etl_data_pipeline_spark.operators.dedup import ngram_containment_pairs
from loan_etl_data_pipeline_spark.operators.joins import fuzzy_blocked_join
from loan_etl_data_pipeline_spark.operators.retrieval import bm25_topk, tfidf_top_terms


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark join window spark"),
            (2, "join filter merge"),
            (3, "sort merge scan table row"),
            (4, "spark spark spark spark spark"),
            (5, "window"),
        ],
        ["doc_id", "text"],
    )


class TestBM25:
    def test_scores_and_order(self, docs):
        rows = bm25_topk(docs, ["spark", "window"], k=10).collect()
        ids = [r["id"] for r in rows]
        # docs 1, 4, 5 contain query terms; 2, 3 must be absent
        assert set(ids) == {1, 4, 5}
        # hand-check one score: corpus N=5, dl=[4,3,5,5,1], avgdl=18/5
        n, avgdl = 5, 18.0 / 5.0
        idf_spark = math.log((n - 2 + 0.5) / (2 + 0.5) + 1.0)
        idf_window = math.log((n - 2 + 0.5) / (2 + 0.5) + 1.0)
        by_id = {r["id"]: r for r in rows}
        r5 = by_id[5]  # doc 5: tf_window=1, dl=1
        norm = 1.5 * (0.25 + 0.75 * (1.0 / avgdl))
        expected = idf_window * ((1.0 * 2.5) / (1.0 + norm))
        assert r5["score"] == pytest.approx(expected, abs=0, rel=1e-15)
        assert r5["tf_0"] == 0 and r5["tf_1"] == 1
        # ordering is score desc
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert idf_spark > 0  # BM25+ idf never negative

    def test_k_truncates_with_id_tiebreak(self, docs):
        rows = bm25_topk(docs, ["join"], k=1).collect()
        assert len(rows) == 1
        # docs 1 and 2 both have tf=1; doc 2 is shorter -> higher score
        assert rows[0]["id"] == 2

    def test_rejects_bad_inputs(self, docs):
        with pytest.raises(ValueError, match="at least one"):
            bm25_topk(docs, [])
        with pytest.raises(ValueError, match="distinct"):
            bm25_topk(docs, ["a", "a"])

    def test_empty_corpus_raises(self, docs):
        with pytest.raises(ValueError, match="empty corpus"):
            bm25_topk(docs.filter(F.lit(False)), ["spark"])


class TestTfidfTopTerms:
    def test_rank_and_tiebreak(self, spark):
        # "rare" appears in 1 doc, "common" in both; doc 1 tf equal ->
        # rare wins by df, and within equal scores tok asc breaks ties
        df = spark.createDataFrame(
            [(1, "rare common"), (2, "common zeta alpha")], ["doc_id", "text"]
        )
        out = tfidf_top_terms(df, top_n=2)
        rows = {(r["id"], r["rnk"]): r for r in out.collect()}
        assert rows[(1, 1)]["tok"] == "rare"
        assert rows[(1, 2)]["tok"] == "common"
        # doc 2: alpha and zeta both df=1 tf=1 -> equal score, alpha first
        assert rows[(2, 1)]["tok"] == "alpha"
        assert rows[(2, 2)]["tok"] == "zeta"

    def test_score_is_exact_integer_division(self, spark):
        df = spark.createDataFrame([(1, "x x y"), (2, "y")], ["doc_id", "text"])
        out = {
            (r["id"], r["tok"]): r["score_scaled"] for r in tfidf_top_terms(df).collect()
        }
        assert out[(1, "x")] == 2 * 1_000_000_000 // 1
        assert out[(1, "y")] == 1 * 1_000_000_000 // 2


class TestContainment:
    def test_subset_scores_one(self, spark):
        from loan_etl_data_pipeline_spark.session import intermediates

        # doc 2's grams are a strict subset of doc 1's -> containment 1.0,
        # while Jaccard would be 2/5
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d")], ["doc_id", "text"]
        )
        with intermediates():
            rows = ngram_containment_pairs(df, n=3, threshold=0.5).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["id_a"], r["id_b"]) == (1, 2)
        assert r["containment"] == 1.0
        assert r["inter_size"] == 2 and r["size_a"] == 4 and r["size_b"] == 2

    def test_threshold_filters(self, spark):
        from loan_etl_data_pipeline_spark.session import intermediates

        df = spark.createDataFrame(
            [(1, "a b c x y z"), (2, "a b c q r s")], ["doc_id", "text"]
        )
        # share only gram "a b c": containment 1/4 < 0.5
        for thr, expect in [(0.5, 0), (0.25, 1)]:
            with intermediates():
                out = ngram_containment_pairs(df, n=3, threshold=thr)
                assert out.count() == expect


class TestFuzzyBlockedJoin:
    @pytest.fixture(scope="class")
    def sides(self, spark):
        left = spark.createDataFrame(
            [(1, "alpha", "b1"), (2, "beta", "b1"), (3, "alpha", "b2")],
            ["lid", "lname", "blk"],
        )
        right = spark.createDataFrame(
            [(10, "alphz", "b1"), (11, "alpha", "b2"), (12, "gamma", "b1")],
            ["rid", "rname", "blk"],
        )
        return left, right

    def test_matches_within_block_only(self, sides):
        left, right = sides
        out = fuzzy_blocked_join(
            left,
            right,
            block_on="blk",
            left_col="lname",
            right_col="rname",
            max_distance=1,
        )
        got = {(r["lid"], r["rid_r"], r["distance"]) for r in out.collect()}
        # alpha~alphz dist 1 in b1; alpha==alpha dist 0 in b2;
        # cross-block alpha(b1)/alpha(b2) must NOT pair
        assert got == {(1, 10, 1), (3, 11, 0)}

    def test_distance_bound_excludes(self, sides):
        left, right = sides
        out = fuzzy_blocked_join(
            left,
            right,
            block_on="blk",
            left_col="lname",
            right_col="rname",
            max_distance=0,
        )
        assert {(r["lid"], r["rid_r"]) for r in out.collect()} == {(3, 11)}


class TestTextIndex:
    def test_indexed_bm25_equals_scan(self, spark, sf_dir, tmp_path):
        """Index-backed BM25 must match the scan operator score-for-score
        on real data, and the postings read must prune to the query
        terms' hash-bucket partitions."""
        from loan_etl_data_pipeline_spark.operators.retrieval import (
            bm25_topk_indexed,
            build_text_index,
        )
        from loan_etl_data_pipeline_spark.sources.tables import load_table

        docs_df = load_table(spark, sf_dir, "documents")
        idx = str(tmp_path / "tidx")
        build_text_index(docs_df, idx)
        terms = ["spark", "join", "window"]
        want = sorted(map(tuple, bm25_topk(docs_df, terms, k=10).collect()))
        got_df = bm25_topk_indexed(spark, idx, terms, k=10)
        got = sorted(map(tuple, got_df.collect()))
        assert got == want and len(got) == 10

        plan = got_df._jdf.queryExecution().executedPlan().toString()
        seg = plan.split("PartitionFilters", 1)
        assert len(seg) == 2 and "bucket" in seg[1][:200], plan

    def test_indexed_validation(self, spark, tmp_path):
        from loan_etl_data_pipeline_spark.operators.retrieval import (
            bm25_topk_indexed,
            build_text_index,
        )

        df = spark.createDataFrame([(1, "a b"), (2, "b c")], ["doc_id", "text"])
        idx = str(tmp_path / "tiny")
        build_text_index(df, idx)
        with pytest.raises(ValueError, match="at least one"):
            bm25_topk_indexed(spark, idx, [])
        with pytest.raises(ValueError, match="distinct"):
            bm25_topk_indexed(spark, idx, ["a", "a"])
        # a term absent from the corpus scores df=0 docs but still works
        rows = bm25_topk_indexed(spark, idx, ["b", "zz"], k=5).collect()
        assert {r["id"] for r in rows} == {1, 2}


class TestTextIndexUpdate:
    def test_incremental_equals_full_build(self, spark, sf_dir, tmp_path):
        """Index half the corpus, append the other half: indexed BM25
        must equal both the scan operator on the full corpus and a
        from-scratch full build."""
        from loan_etl_data_pipeline_spark.operators.retrieval import (
            bm25_topk_indexed,
            build_text_index,
            update_text_index,
        )
        from loan_etl_data_pipeline_spark.sources.tables import load_table

        docs_df = load_table(spark, sf_dir, "documents")
        first = docs_df.filter(F.col("doc_id") % 2 == 0)
        second = docs_df.filter(F.col("doc_id") % 2 == 1)
        terms = ["spark", "merge"]

        inc = str(tmp_path / "inc")
        build_text_index(first, inc)
        update_text_index(second, inc)

        full = str(tmp_path / "full")
        build_text_index(docs_df, full)

        want_scan = sorted(map(tuple, bm25_topk(docs_df, terms, k=10).collect()))
        got_inc = sorted(
            map(tuple, bm25_topk_indexed(spark, inc, terms, k=10).collect())
        )
        got_full = sorted(
            map(tuple, bm25_topk_indexed(spark, full, terms, k=10).collect())
        )
        assert got_inc == want_scan == got_full and len(got_inc) == 10


class TestStatsCrashSafety:
    def test_update_swaps_stats_without_tmp_leftover(self, spark, tmp_path):
        from loan_etl_data_pipeline_spark.operators.retrieval import (
            build_text_index,
            update_text_index,
        )

        idx = str(tmp_path / "swap")
        build_text_index(
            spark.createDataFrame([(1, "a b"), (2, "b c")], ["doc_id", "text"]),
            idx,
        )
        update_text_index(
            spark.createDataFrame([(3, "c d")], ["doc_id", "text"]), idx
        )
        import os as _os

        assert _os.path.exists(f"{idx}/stats")
        assert not _os.path.exists(f"{idx}/stats.tmp")
        row = spark.read.parquet(f"{idx}/stats").collect()[0]
        assert (row["n"], row["sum_dl"]) == (3, 6)

    def test_reader_self_heals_missing_stats(self, spark, tmp_path):
        """A crash inside the delete->rename window leaves no stats dir;
        the reader must recompute from doclens instead of wedging (and
        stay read-only: no write-back)."""
        import shutil

        from loan_etl_data_pipeline_spark.operators.retrieval import (
            bm25_topk_indexed,
            build_text_index,
        )

        idx = str(tmp_path / "heal")
        build_text_index(
            spark.createDataFrame(
                [(1, "a b b"), (2, "b c"), (3, "a c c")], ["doc_id", "text"]
            ),
            idx,
        )
        want = sorted(
            map(tuple, bm25_topk_indexed(spark, idx, ["b", "c"], k=3).collect())
        )
        shutil.rmtree(f"{idx}/stats")
        got = sorted(
            map(tuple, bm25_topk_indexed(spark, idx, ["b", "c"], k=3).collect())
        )
        assert got == want
        import os as _os

        assert not _os.path.exists(f"{idx}/stats")


# --- sparse_topk (TF-IDF dot-product postings join) ---


class TestSparseTopk:
    def _ref(self, q_rows, c_rows, k=5, w_scale=10**6):
        from collections import Counter

        c_posts = {i: Counter(t.strip().lower().split()) for i, t in c_rows}
        q_posts = {i: Counter(t.strip().lower().split()) for i, t in q_rows}
        dfc = Counter()
        for tf in c_posts.values():
            for tok in tf:
                dfc[tok] += 1
        out = {}
        for qid, qtf in q_posts.items():
            scores = []
            for cid, ctf in c_posts.items():
                if cid == qid:
                    continue
                cap = 3 * 10**6
                s = sum(
                    min(qtf[t] * w_scale // dfc[t], cap)
                    * min(ctf[t] * w_scale // dfc[t], cap)
                    for t in qtf
                    if t in ctf and t in dfc
                )
                if s:
                    scores.append((-s, cid))
            scores.sort()
            out[qid] = [
                (cid, -neg, rnk + 1) for rnk, (neg, cid) in enumerate(scores[:k])
            ]
        return out

    def test_matches_python_reference(self, spark):
        from loan_etl_data_pipeline_spark.operators.retrieval import sparse_topk

        c_rows = [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple cherry cherry date"),
            (4, "elderberry fig"),
            (5, "apple banana cherry"),
        ]
        q_rows = [(1, "apple banana apple"), (5, "apple banana cherry")]
        cdf = spark.createDataFrame(c_rows, "doc_id long, text string")
        qdf = spark.createDataFrame(q_rows, "doc_id long, text string")
        got = {}
        for r in sparse_topk(qdf, cdf, k=3).collect():
            got.setdefault(r["query_id"], []).append(
                (r["corpus_id"], r["score"], r["rnk"])
            )
        ref = self._ref(q_rows, c_rows, k=3)
        for qid in ref:
            assert sorted(got.get(qid, [])) == sorted(ref[qid]), qid

    def test_excludes_self_and_ties_break_by_id(self, spark):
        from loan_etl_data_pipeline_spark.operators.retrieval import sparse_topk

        rows = [(1, "x y"), (2, "x y"), (3, "x y")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sparse_topk(df.filter("doc_id = 1"), df, k=2).collect()
        assert [(r["corpus_id"], r["rnk"]) for r in sorted(got, key=lambda r: r["rnk"])] == [
            (2, 1),
            (3, 2),
        ]
        assert all(r["corpus_id"] != 1 for r in got)

    def test_weight_cap_saturates_instead_of_overflowing(self, spark):
        from loan_etl_data_pipeline_spark.operators.retrieval import sparse_topk

        # a df=1 token repeated 4000x: uncapped w = 4e9, w^2 wraps int64
        big = "rare " * 4000
        rows = [(1, big), (2, big), (3, "common x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sparse_topk(df.filter("doc_id = 1"), df, k=1).collect()
        assert len(got) == 1 and got[0]["corpus_id"] == 2
        # saturated score: trailing space makes 'rare' tf=4000 and ''? no —
        # the exact value is cap^2 * shared_terms-ish; the invariant that
        # matters is positivity (no silent wrap) and the right winner
        assert got[0]["score"] > 0


def test_bm25_prf_expands_and_stays_deterministic(spark, sf_dir):
    from loan_etl_data_pipeline_spark.operators.retrieval import bm25_prf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = [(r.id, r.score) for r in
         bm25_prf(docs, ["spark", "join", "window"], k=10).collect()]
    b = [(r.id, r.score) for r in
         bm25_prf(docs.repartition(13), ["spark", "join", "window"],
                  k=10).collect()]
    assert a == b  # quantized scores: partitioning can't reorder
    assert len(a) == 10
    scores = [s for _, s in a]
    assert scores == sorted(scores, reverse=True)


def test_bm25_prf_feedback_recalls_related_doc(spark):
    # doc 3 shares NO query term but is saturated with the feedback
    # term that dominates the round-1 winners — expansion must pull it
    # into the final ranking above the unrelated doc 4
    from loan_etl_data_pipeline_spark.operators.retrieval import bm25_prf

    df = spark.createDataFrame(
        [
            (1, "query topic topic filler"),
            (2, "query topic topic other"),
            (3, "topic topic topic topic"),
            (4, "unrelated stuff entirely here"),
        ],
        "doc_id bigint, text string",
    )
    out = [r.id for r in
           bm25_prf(df, ["query"], k=4, fb_docs=2, fb_terms=1).collect()]
    assert 3 in out
    assert out.index(3) < out.index(4) if 4 in out else True


# ---- positional index / phrase search ---------------------------------


def _posidx(spark, tmp_path, rows):
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        build_positional_index,
    )

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = str(tmp_path / "posidx")
    build_positional_index(df, idx)
    return idx


def test_phrase_search_counts_occurrences(spark, tmp_path):
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        phrase_count_indexed,
    )

    idx = _posidx(
        spark,
        tmp_path,
        [
            (1, "big cat sat on the big cat mat"),
            (2, "big dog"),
            (3, "the cat big cat"),
            (4, "big Cat"),  # lowercased at build AND query time
        ],
    )
    got = {
        r["id"]: r["n_hits"]
        for r in phrase_count_indexed(spark, idx, "big cat").collect()
    }
    assert got == {1: 2, 3: 1, 4: 1}


def test_phrase_search_repeated_token_phrase(spark, tmp_path):
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        phrase_count_indexed,
    )

    idx = _posidx(
        spark,
        tmp_path,
        [(1, "go go go stop"), (2, "go stop go"), (3, "go go")],
    )
    got = {
        r["id"]: r["n_hits"]
        for r in phrase_count_indexed(spark, idx, "go go").collect()
    }
    # overlapping occurrences both count: "go go go" has starts 0 and 1
    assert got == {1: 2, 3: 1}


def test_phrase_search_single_token_and_validation(spark, tmp_path):
    import pytest as _pt

    from loan_etl_data_pipeline_spark.operators.retrieval import (
        phrase_count_indexed,
    )

    idx = _posidx(spark, tmp_path, [(1, "a b a"), (2, "b")])
    got = {
        r["id"]: r["n_hits"]
        for r in phrase_count_indexed(spark, idx, "a").collect()
    }
    assert got == {1: 2}
    with _pt.raises(ValueError, match="at least one"):
        phrase_count_indexed(spark, idx, "   ")


def test_phrase_probe_prunes_to_token_buckets(spark, tmp_path):
    """The probe's postings scan must carry the bucket IN-list as a
    PARTITION filter — reading only the phrase tokens' buckets."""
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        phrase_count_indexed,
    )

    idx = _posidx(spark, tmp_path, [(i, f"w{i} table hash") for i in range(50)])
    out = phrase_count_indexed(spark, idx, "table hash")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket#" in p.replace("PartitionFilters: [ bucket", "PartitionFilters: [bucket") or "bucket" in p.split("PartitionFilters:")[1][:120]
    assert out.count() == 50


def test_proximity_counts_pairs_within_window(spark, tmp_path):
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        proximity_count_indexed,
    )

    idx = _posidx(
        spark,
        tmp_path,
        [
            (1, "cat x x dog"),        # |0-3| = 3 → in window 3
            (2, "cat x x x dog"),      # |0-4| = 4 → out
            (3, "dog cat"),            # adjacent, either order counts
            (4, "cat x dog x cat"),    # pairs: (0,2) and (4,2)
            (5, "cat only here"),
        ],
    )
    got = {
        r["id"]: r["n_hits"]
        for r in proximity_count_indexed(
            spark, idx, "cat", "dog", window=3
        ).collect()
    }
    assert got == {1: 1, 3: 1, 4: 2}


def test_proximity_band_edges_exact(spark, tmp_path):
    """Window hits exactly at the band boundary must not be lost:
    positions w−1 and w are in different bands but within window."""
    from loan_etl_data_pipeline_spark.operators.retrieval import (
        proximity_count_indexed,
    )

    w = 4
    text = " ".join(["a"] + ["x"] * (w - 1) + ["b"])  # |0 - w| = w
    idx = _posidx(spark, tmp_path, [(1, text)])
    got = proximity_count_indexed(spark, idx, "a", "b", window=w).collect()
    assert [(r["id"], r["n_hits"]) for r in got] == [(1, 1)]


def test_proximity_validates_window(spark, tmp_path):
    import pytest as _pt

    from loan_etl_data_pipeline_spark.operators.retrieval import (
        proximity_count_indexed,
    )

    idx = _posidx(spark, tmp_path, [(1, "a b")])
    with _pt.raises(ValueError, match="window"):
        proximity_count_indexed(spark, idx, "a", "b", window=0)


def test_kwic_snippets_and_edge_clamping(spark, tmp_path):
    from loan_etl_data_pipeline_spark.operators.retrieval import kwic_indexed

    docs = spark.createDataFrame(
        [(1, "cat a b cat c"), (2, "x y z"), (3, "cat")],
        ["doc_id", "text"],
    )
    idx = _posidx(spark, tmp_path, [tuple(r) for r in docs.collect()])
    got = sorted(
        (r["doc_id"], r["pos"], r["snippet"])
        for r in kwic_indexed(spark, idx, docs, "CAT", context=2).collect()
    )
    assert got == [
        (1, 0, "cat a b"),        # left edge clamped
        (1, 3, "a b cat c"),      # right edge clamped by array length
        (3, 0, "cat"),            # single-token doc
    ]


def test_kwic_validates_context(spark, tmp_path):
    import pytest as _pt

    from loan_etl_data_pipeline_spark.operators.retrieval import kwic_indexed

    docs = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    idx = _posidx(spark, tmp_path, [(1, "a")])
    with _pt.raises(ValueError, match="context"):
        kwic_indexed(spark, idx, docs, "a", context=-1)


def test_kwic_rejects_empty_or_multitoken_term(spark, tmp_path):
    import pytest as _pt

    from loan_etl_data_pipeline_spark.operators.retrieval import kwic_indexed

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    idx = _posidx(spark, tmp_path, [(1, "a b")])
    with _pt.raises(ValueError, match="one token"):
        kwic_indexed(spark, idx, docs, "a b")
    with _pt.raises(ValueError, match="one token"):
        kwic_indexed(spark, idx, docs, "  ")


def test_hybrid_rrf_fusion_math(spark, sf_dir):
    """Fused ranking == integer-RRF brute force over the two certified
    input rankings."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from loan_etl_data_pipeline_spark.operators.retrieval import bm25_topk
    from loan_etl_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from loan_etl_data_pipeline_spark.queries import (
        BM25_TERMS,
        all_queries,
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex_rows = (
        bm25_topk(docs, list(BM25_TERMS), k=10)
        .select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("id")))
            .alias("r"),
        )
        .collect()
    )
    sem_rows = cosine_topk_bruteforce(
        emb.filter("vec_id = 0"), emb, k=10
    ).collect()
    score = {}
    for r in lex_rows:
        score[r["id"]] = score.get(r["id"], 0) + 10**12 // (60 + r["r"])
    for r in sem_rows:
        score[r["neighbor_id"]] = score.get(r["neighbor_id"], 0) + 10**12 // (
            60 + r["rank"]
        )
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r["doc_id"], r["rrf_score"])
        for r in all_queries()["q_hybrid_search"](spark, sf_dir)
        .orderBy("fused_rank")
        .collect()
    ]
    assert got == want


def test_maxscore_skiprate_bound_is_sound(spark, sf_dir):
    """The WAND inequality must be SOUND: no document in the true
    top-10 can be classified skippable (its full score <= its UB sum,
    and its full score >= theta)."""
    import pyspark.sql.functions as F

    from loan_etl_data_pipeline_spark.operators.retrieval import (
        bm25_topk,
        maxscore_skiprate,
    )
    from loan_etl_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    terms = ["spark", "join", "window"]
    audit = maxscore_skiprate(docs, terms, k=10).collect()
    assert len(audit) == 3
    theta = audit[0]["theta"]
    assert all(r["theta"] == theta for r in audit)
    assert all(0 <= r["n_skippable"] <= r["n_candidates"] for r in audit)
    # soundness: per-term UB >= every quantized per-(doc,term) score
    # implies UB-sum >= full score for any doc, so a doc with full
    # score >= theta can never satisfy ub_sum < theta — at least k
    # candidates must survive the gate
    surviving = audit[0]["n_candidates"] - audit[0]["n_skippable"]
    assert surviving >= 10
    # and the exact top-10 exists to be found
    top = bm25_topk(docs, terms, k=10).collect()
    assert len(top) == 10
    rate = audit[0]["n_skippable"] / audit[0]["n_candidates"]
    assert 0.0 <= rate < 1.0
