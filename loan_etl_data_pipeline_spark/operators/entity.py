"""Entity-resolution building blocks: error-tolerant candidate pairing.

The reference pipeline has no identity handling at all; loan books live
and die by it (one borrower, four spellings). The blocking primitive
here is the FastSS deletion neighborhood (see q_del1_join's docstring
for the completeness argument): an equi-join on (string ∪ one-char
deletions) keys finds every pair within edit distance 1 without a
quadratic levenshtein self-join, then a cheap exact verify prunes
collisions. plans/entity.py composes this with connected components
and a golden-record merge into the full resolve pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def del1_pairs(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """(id_a, id_b, dist) for every pair of rows whose ``str_col``
    values are within edit distance 1 (dist 0 = exact duplicates),
    id_a < id_b. Deletion-neighborhood equi-join (key fan-out len+1
    per row) + levenshtein verify on candidates only.
    """
    keys = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.explode(
            F.array_union(
                F.array(F.col(str_col)),
                F.expr(
                    f"transform(sequence(1, length({str_col})), i -> "
                    f"concat(substring({str_col}, 1, i-1), "
                    f"substring({str_col}, i+1, length({str_col}))))"
                ),
            )
        ).alias("k"),
    )
    a = keys.select(
        F.col("__id").alias("id_a"), F.col("__s").alias("__sa"), "k"
    )
    b = keys.select(
        F.col("__id").alias("id_b"), F.col("__s").alias("__sb"), "k"
    )
    return (
        a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
        .withColumn(
            "dist", F.levenshtein(F.col("__sa"), F.col("__sb")).cast("bigint")
        )
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )


def fs_score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    fields: list[str],
    m: list[tuple[int, int]],
    *,
    scale: int = 10**9,
) -> DataFrame:
    """Fellegi–Sunter match scoring over blocked candidate pairs — the
    probabilistic-record-linkage decision layer on top of the two
    blocking schemes (del1_pairs / sorted_neighborhood_pairs).

    Per comparison field i with match-agreement probability
    m_i = m[i][0]/m[i][1] (a fixed rational, the analyst's prior) and
    NON-match agreement probability u_i estimated from the data itself
    as the chance two random records agree:

        u_i = Σ_v n_v² / n²      (one groupBy per field, n_v = value
                                  frequency — the classic frequency-
                                  based u estimate)

    the agreement / disagreement log-weights are

        wa_i = ln(m_i / u_i)          wd_i = ln((1−m_i) / (1−u_i))

    quantized at creation to integers wa9/wd9 = floor(scale·w): ln()
    over identical doubles is bit-identical across Spark and DuckDB
    (shared libm — measured), the rational inputs are exact, and the
    floor makes every later SUM integer-exact under any partitioning,
    so the whole block→score pipeline carries a full value oracle.

    Returns (id_a, id_b, score9, n_agree): score9 = Σ_i (wa9_i if the
    pair agrees on field i else wd9_i), agreement NULL-safe (both-NULL
    agrees). Thresholding into match/review/non-match is the caller's
    one CASE over score9.

    Scale: u-estimation is one partial-agg shuffle per field over the
    records (each keyed on that field); scoring joins the pair list to
    the records TWICE on the record id — the standard ER shape (pairs
    came from blocking, so |pairs| ≪ n²) — and the k weights travel as
    a 1-row broadcast. Constant fields are rejected at weight
    evaluation (raise_error naming the field): u_i = 1 makes the
    disagreement weight ln(x/0).
    """
    if len(fields) != len(m) or not fields:
        raise ValueError("fields and m must align and be non-empty")
    for num, den in m:
        if not 0 < num < den:
            raise ValueError(f"m must be a rational in (0, 1), got {num}/{den}")

    n_df = records.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    stats = n_df
    for i, f in enumerate(fields):
        s_i = (
            records.groupBy(f)
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .agg(F.sum(F.expr("c * c")).cast("bigint").alias(f"s{i}"))
        )
        stats = stats.crossJoin(F.broadcast(s_i))

    # weights as one select over the 1-row stats: n² in DOUBLE (exact
    # past int64 is not needed — both engines run the identical IEEE
    # sequence), ln of rationals, floor-quantize
    wcols = []
    for i, (num, den) in enumerate(m):
        n2 = "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
        wcols.append(
            F.expr(
                f"CAST(floor({scale}L * ln((CAST({num} AS DOUBLE) * {n2})"
                f" / (CAST({den} AS DOUBLE) * CAST(s{i} AS DOUBLE)))) AS BIGINT)"
            ).alias(f"wa{i}")
        )
        # constant field ⇒ s_i = n² ⇒ ln(x/0): fail loudly with the
        # field name (raise_error keeps the guard inside the one-row
        # weights evaluation — no extra validation scan of the records)
        wcols.append(
            F.expr(
                f"CASE WHEN CAST(s{i} AS DOUBLE) >= {n2} THEN"
                f" CAST(raise_error('fs_score_pairs: field"
                f" {fields[i]} is constant (u=1); drop it') AS BIGINT)"
                f" ELSE CAST(floor({scale}L * ln((CAST({den - num} AS DOUBLE)"
                f" * {n2}) / (CAST({den} AS DOUBLE)"
                f" * ({n2} - CAST(s{i} AS DOUBLE))))) AS BIGINT) END"
            ).alias(f"wd{i}")
        )
    weights = stats.select(*wcols)

    a = records.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f).alias(f"__fa{i}") for i, f in enumerate(fields)],
    )
    b = records.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f).alias(f"__fb{i}") for i, f in enumerate(fields)],
    )
    agree = [
        F.col(f"__fa{i}").eqNullSafe(F.col(f"__fb{i}")) for i in range(len(fields))
    ]
    score = None
    n_agree = None
    for i, ag in enumerate(agree):
        term = F.when(ag, F.col(f"wa{i}")).otherwise(F.col(f"wd{i}"))
        cnt = ag.cast("bigint")
        score = term if score is None else score + term
        n_agree = cnt if n_agree is None else n_agree + cnt
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .crossJoin(F.broadcast(weights))
        .select(
            "id_a",
            "id_b",
            score.cast("bigint").alias("score9"),
            n_agree.alias("n_agree"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    window: int = 6,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo merge/purge):
    records sort by the blocking key, and only pairs within ``window``
    positions of each other become candidates — O(n·w) candidates
    instead of O(n²), the OTHER classic ER blocking scheme next to the
    deletion-neighborhood index (FastSS, plans/entity.py): FastSS
    recalls any ≤k-edit pair regardless of sort distance but fans out
    keys; sorted-neighborhood is one sort + a bounded self-join and
    catches what sorting co-locates (prefix-stable typos).

    Distributed: the total order comes from functions/ranking
    global_rank (range shuffle, never a single-partition window);
    candidates join on EQUALITY of an exploded rank offset (w−1
    fan-out), so there is no range-condition nested loop. Returns
    (id_a, id_b, key_a, key_b) candidate pairs, id_a ranked before
    id_b; dedup of equal keys is the caller's verify step.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import global_rank

    if window < 2:
        # window=1 has no pairs — and Spark's sequence(rank+1, rank)
        # would silently emit a DESCENDING [rank+1, rank] instead of
        # the empty list, fabricating self/backward candidates
        raise ValueError("sorted-neighborhood window must be >= 2")
    ranked = global_rank(
        df.select(F.col(id_col).alias("id"), F.col(key_col).alias("key")),
        [F.asc("key"), F.asc("id")],
    )
    a = ranked.select(
        F.col("id").alias("id_a"),
        F.col("key").alias("key_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + (window - 1))
        ).alias("nbr"),
    )
    b = ranked.select(
        F.col("id").alias("id_b"),
        F.col("key").alias("key_b"),
        F.col("rank").alias("nbr"),
    )
    return a.join(b, "nbr").select("id_a", "id_b", "key_a", "key_b")


def add_jaro_winkler(
    df: DataFrame,
    col_a: str,
    col_b: str,
    out_col: str = "jw_sim",
) -> DataFrame:
    """Append a Jaro-Winkler similarity column to a candidate-pair frame.

    The scorer the linkage stack was missing: del1/levenshtein count
    EDITS (good at threshold 1-2, useless for ranking), while
    Jaro-Winkler returns a calibrated [0,1] score that weights shared
    characters, transpositions, and a common prefix — the standard
    name-matching similarity from the record-linkage literature
    (Winkler 1990), and the natural `comparison vector` input to the
    Fellegi-Sunter scorer above.

    Semantics are pinned BIT-FOR-BIT to DuckDB's
    ``jaro_winkler_similarity`` (the oracle engine), fuzz-verified over
    30k random string pairs in tests/test_entity.py:

    - either side empty (or NULL) -> 0.0 (NULL on NULL);
    - match window = max(len)//2 - 1 (floor at 0), greedy first-free
      matching, transpositions halved with integer division;
    - jaro = (m/la + m/lb + (m - t)/m) / 3.0 in exactly that
      association order (bitwise-relevant);
    - Winkler prefix boost (p=0.1, prefix capped at 4) applied only
      when jaro > 0.7.

    Execution: one ``mapInArrow`` pass — Arrow columnar batches in and
    out, no pandas bridge (the pandas path corrupts null-bearing int64
    companions; see operators/finance.py). The per-pair DP is a Python
    loop inside the batch, O(len_a * window) per pair on short
    name-ish strings; at 100 TB the cost driver is the PAIR COUNT, so
    this always runs AFTER blocking (brand/nation/sorted-neighborhood
    keys) — the kernel itself is embarrassingly parallel and carries
    no shuffle.
    """
    import pyarrow as pa

    in_fields = df.schema.fieldNames()
    if out_col in in_fields:
        raise ValueError(f"output column {out_col!r} already exists")
    ia, ib = in_fields.index(col_a), in_fields.index(col_b)
    spark_schema = ", ".join(
        f"`{n}` {t}" for n, t in df.dtypes + [(out_col, "double")]
    )

    def _jw(s1: str, s2: str) -> float:
        l1, l2 = len(s1), len(s2)
        if l1 == 0 or l2 == 0:
            return 0.0
        if s1 == s2:
            # jaro = (1+1+1)/3 = 1.0 exactly; the prefix boost adds
            # 0.1*pl*(1-1.0) = 0 — bitwise-equal fast path
            return 1.0
        window = max(l1, l2) // 2 - 1
        if window < 0:
            window = 0
        m1 = [False] * l1
        m2 = [False] * l2
        m = 0
        for i in range(l1):
            lo = i - window
            if lo < 0:
                lo = 0
            hi = i + window + 1
            if hi > l2:
                hi = l2
            for j in range(lo, hi):
                if not m2[j] and s1[i] == s2[j]:
                    m1[i] = True
                    m2[j] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(l1):
            if m1[i]:
                while not m2[k]:
                    k += 1
                if s1[i] != s2[k]:
                    t += 1
                k += 1
        t //= 2
        sim = (m / l1 + m / l2 + (m - t) / m) / 3.0
        if sim > 0.7:
            pl = 0
            for a, b in zip(s1[:4], s2[:4]):
                if a != b:
                    break
                pl += 1
            sim += 0.1 * pl * (1.0 - sim)
        return sim

    def _kernel(batches):
        for batch in batches:
            ca = batch.column(ia).to_pylist()
            cb = batch.column(ib).to_pylist()
            sims = [
                None if a is None or b is None else _jw(a, b)
                for a, b in zip(ca, cb)
            ]
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(sims, type=pa.float64())],
                names=in_fields + [out_col],
            )

    return df.mapInArrow(_kernel, schema=spark_schema)
