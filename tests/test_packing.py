"""Sequence packing (operators/packing.py): budget/coverage invariants,
density, oversized isolation — the properties that hold under ANY
partitioning (pack composition legitimately varies with it)."""

from __future__ import annotations

import pytest

from loan_etl_data_pipeline_spark.operators.packing import pack_documents


def _packs(df, **kw):
    out = {}
    for r in pack_documents(df, **kw).collect():
        out.setdefault(r["pack_id"], []).append((r["doc_id"], r["n_tokens"]))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    # doc i has ~i+1 words -> a spread of token counts incl. oversized
    rows = [(i, " ".join(f"w{j}" for j in range(i + 1))) for i in range(120)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_invariants_hold_under_any_partitioning(docs):
    budget = 40
    for n_parts in (1, 7):
        packs = _packs(docs.repartition(n_parts), budget=budget)
        all_docs = [d for members in packs.values() for d, _ in members]
        assert sorted(all_docs) == list(range(120))  # every doc exactly once
        for members in packs.values():
            total = sum(t for _, t in members)
            if len(members) > 1:
                assert total <= budget
            else:
                (_, t), = members
                assert t <= budget or len(members) == 1  # oversized isolated


def test_oversized_docs_are_singletons(docs):
    packs = _packs(docs, budget=40)
    for members in packs.values():
        if any(t > 40 for _, t in members):
            assert len(members) == 1


def test_packing_density(docs):
    """BFD on one partition should land well above half-full on average
    (theory: >= OPT/(11/9) — loose check, not exact)."""
    budget = 40
    packs = _packs(docs.coalesce(1), budget=budget)
    normal = [m for m in packs.values() if sum(t for _, t in m) <= budget]
    fill = sum(sum(t for _, t in m) for m in normal) / (len(normal) * budget)
    assert fill > 0.6, f"mean fill {fill:.2f} too low for BFD"


def test_bad_budget(docs):
    with pytest.raises(ValueError, match="budget"):
        pack_documents(docs, budget=0)


# --- pack_next_fit / global_cumsum ---


def test_pack_next_fit_matches_sequential_layout(spark):
    from loan_etl_data_pipeline_spark.operators.packing import pack_next_fit
    from loan_etl_data_pipeline_spark.session import intermediates

    rows = [(i, (i * 37) % 90 + 10) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    with intermediates():
        out = pack_next_fit(df, capacity=256, length_col="n")
        got = {r["doc_id"]: (r["start_offset"], r["pack_id"]) for r in out.collect()}
    # python reference: exact concatenation offsets
    off = 0
    for i, n in rows:
        assert got[i] == (off, off // 256), i
        off += n
    # partitioning invariance
    with intermediates():
        out2 = pack_next_fit(df.repartition(13), capacity=256, length_col="n")
        got2 = {r["doc_id"]: (r["start_offset"], r["pack_id"]) for r in out2.collect()}
    assert got == got2


def test_pack_next_fit_validation_and_empty(spark):
    import pytest as _pytest

    from loan_etl_data_pipeline_spark.operators.packing import pack_next_fit

    df = spark.createDataFrame([(1, 5)], "doc_id long, n long")
    with _pytest.raises(ValueError, match="capacity"):
        pack_next_fit(df, capacity=0, length_col="n")
    fdf = spark.createDataFrame([(1, 0.5)], "doc_id long, n double")
    with _pytest.raises(ValueError, match="integral"):
        pack_next_fit(fdf, capacity=10, length_col="n")
    empty = df.filter("doc_id < 0")
    assert pack_next_fit(empty, capacity=10, length_col="n").count() == 0
