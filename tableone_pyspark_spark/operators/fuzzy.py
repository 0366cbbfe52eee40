"""Bounded edit-distance fuzzy join (PassJoin — Li, Deng, Wang, Feng
2011, "PASS-JOIN: A Partition-based Method for Similarity Joins"):
the entity-matching operator (duplicate names, product titles, OCR'd
strings) that finds all pairs with ``levenshtein ≤ k`` WITHOUT an
all-pairs comparison.

The pigeonhole that makes it complete: partition the indexed string
``a`` (length L) into k+1 contiguous segments — if ed(a, b) ≤ k, at
least one segment survives IN b as an exact substring, and its
position in b is shifted by at most k. So:

    index side : emit (L, i, segment_i) for the k+1 even segments
    probe side : for every candidate indexed length L' within k of
                 len(b), every segment slot i, and every start within
                 the ±k shift window, emit (L', i, substring) — at
                 most (2k+1)·(k+1)·(2k+1) keys per row (75 at k=2)
    verify     : equi-join on the key → DISTINCT candidate pairs →
                 exact ``levenshtein(a, b, k)`` (Spark's thresholded
                 form returns −1 above k — early exit)

The equi-join + bounded-fanout blocking is the repo's standard
neardup shape (pigeonhole candidates, exact verify, never all-pairs —
``signature_neardup_pairs``'s cousin for strings). Feed it DISTINCT
strings: exact duplicates belong to exact dedup first — n copies of
one string put n²/2 identical pairs through the candidate distinct
(measured: sf0.1 part names are 20k rows over 64 distinct values, and
the raw corpus drowns in its own output while the distinct corpus
runs in seconds). Strings shorter
than k+1 characters have an empty segment and fall back to a
length-banded block (ed ≤ k forces len(b) ≤ len(a)+k ≤ 2k — tiny
strings compare within tiny bands; documented hazard: a corpus that
is MOSTLY ≤ k-char strings degenerates toward banded all-pairs).
Everything is Catalyst expressions (substr/transform/flatten — JVM
whole-stage); every computed ``sequence(lo, hi)`` is guarded
``hi ≥ lo`` (Spark sequences DESCEND when hi < lo).

DuckDB has ``levenshtein`` → the all-pairs twin is an exact oracle
(the ``signature_neardup_pairs`` precedent); r11 graded candidate
``fuzzy_pairs``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _seg_start(i: Column, length: Column, k: int) -> Column:
    """0-based start of even segment ``i`` of a length-``length``
    string split k+1 ways: floor(i·L/(k+1))."""
    return F.floor(i * length / (k + 1))


def _index_keys(s: Column, k: int) -> Column:
    """array<struct<alen,i,seg>> — the k+1 (length, slot, segment)
    index keys of ``s`` (segments are non-empty iff len(s) ≥ k+1; the
    caller routes shorter strings to the short band)."""
    L = F.length(s)
    return F.transform(
        F.sequence(F.lit(0), F.lit(k)),
        lambda i: F.struct(
            L.cast("int").alias("alen"),
            i.cast("int").alias("i"),
            s.substr(
                (_seg_start(i, L, k) + 1).cast("int"),
                (_seg_start(i + 1, L, k) - _seg_start(i, L, k)).cast("int"),
            ).alias("seg"),
        ),
    )


def _probe_keys(s: Column, k: int) -> Column:
    """array<struct<alen,i,seg>> — every (indexed-length, slot,
    substring) key ``s`` could match: indexed lengths within k of
    len(s), each slot's segment geometry computed FROM that length,
    start positions within the ±k shift window (clamped to s)."""
    Lb = F.length(s)

    def per_len(lp: Column) -> Column:
        def per_slot(i: Column) -> Column:
            p0 = _seg_start(i, lp, k)
            li = _seg_start(i + 1, lp, k) - p0
            lo = F.greatest(p0 - k, F.lit(0))
            hi = F.least(p0 + k, Lb - li)
            starts = F.when(
                (li > 0) & (hi >= lo), F.sequence(lo, hi)
            ).otherwise(F.expr("array()").cast("array<bigint>"))
            return F.transform(
                starts,
                lambda p: F.struct(
                    lp.cast("int").alias("alen"),
                    i.cast("int").alias("i"),
                    s.substr((p + 1).cast("int"), li.cast("int")).alias(
                        "seg"
                    ),
                ),
            )

        return F.flatten(
            F.transform(F.sequence(F.lit(0), F.lit(k)), per_slot)
        )

    lo_len = F.greatest(Lb - k, F.lit(k + 1).cast("int"))
    lens = F.when(Lb + k >= lo_len, F.sequence(lo_len, Lb + k)).otherwise(
        F.expr("array()").cast("array<bigint>")
    )
    return F.flatten(F.transform(lens, per_len))


def _index_keys_py(s: str, k: int) -> list[tuple[int, int, str]]:
    """Python twin of :func:`_index_keys` (differential-pinned)."""
    L = len(s)
    return [
        (L, i, s[(i * L) // (k + 1) : ((i + 1) * L) // (k + 1)])
        for i in range(k + 1)
    ]


def _probe_keys_py(s: str, k: int) -> list[tuple[int, int, str]]:
    """Python twin of :func:`_probe_keys` (differential-pinned)."""
    Lb = len(s)
    out: list[tuple[int, int, str]] = []
    lo_len = max(Lb - k, k + 1)
    for lp in range(lo_len, Lb + k + 1):
        for i in range(k + 1):
            p0 = (i * lp) // (k + 1)
            li = ((i + 1) * lp) // (k + 1) - p0
            lo = max(p0 - k, 0)
            hi = min(p0 + k, Lb - li)
            if li > 0 and hi >= lo:
                for p in range(lo, hi + 1):
                    out.append((lp, i, s[p : p + li]))
    return out


def _explode_keys_kernel(
    df: DataFrame, id_name: str, text_name: str, k: int, probe: bool
) -> DataFrame:
    """(id, text) → (id, text, alen, i, seg) via the Python twins —
    one zero-shuffle Arrow pass (r17, guide §4.2). The Catalyst
    expressions (:func:`_index_keys`/:func:`_probe_keys`) build these
    keys through nested ``transform``/``flatten``/``sequence`` lambdas,
    which Spark evaluates INTERPRETED per element (higher-order
    functions have no codegen) — measured ~4.7 ms/row at k=2 against
    ~10 µs/row here. The twins are differential-pinned row-identical
    in tests/test_fuzzy.py."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from tableone_pyspark_spark.plans.layout import rebalance

    keys_of = _probe_keys_py if probe else _index_keys_py
    src = rebalance(df)
    schema = T.StructType(
        [
            T.StructField(id_name, src.schema[id_name].dataType),
            T.StructField(text_name, T.StringType()),
            T.StructField("alen", T.IntegerType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("seg", T.StringType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, txts, alens, slots, segs = [], [], [], [], []
            for rid, t in zip(pdf[id_name], pdf[text_name]):
                for alen, i, seg in keys_of(t, k):
                    ids.append(rid)
                    txts.append(t)
                    alens.append(alen)
                    slots.append(i)
                    segs.append(seg)
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    id_name: ids,
                    text_name: txts,
                    "alen": pd.array(alens, dtype="int32"),
                    "i": pd.array(slots, dtype="int32"),
                    "seg": segs,
                }
            )

    return src.mapInPandas(kernel, schema)


def fuzzy_join_pairs(
    left: DataFrame,
    right: DataFrame,
    text_l: str,
    text_r: str,
    id_l: str,
    id_r: str,
    max_dist: int = 2,
    _candidate_filter=None,
) -> DataFrame:
    """(id_l, id_r, dist) for every cross pair with
    ``levenshtein(text_l, text_r) ≤ max_dist``. Complete (the PassJoin
    pigeonhole) and never all-pairs on strings of length > max_dist;
    NULL texts never match. ``_candidate_filter`` (a Column over
    ``__ida``/``__idb``) prunes candidates BEFORE the distinct and the
    verify — the self-join hook that halves its shuffle and
    levenshtein work (the ``signature_neardup_pairs`` precedent)."""
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    k = max_dist
    a = left.select(
        F.col(id_l).alias("__ida"), F.col(text_l).alias("__ta")
    ).where(F.col("__ta").isNotNull())
    b = right.select(
        F.col(id_r).alias("__idb"), F.col(text_r).alias("__tb")
    ).where(F.col("__tb").isNotNull())
    # long band: segment index vs substring probe — both generated by
    # the Arrow kernel twins (r17; the Catalyst HOF expressions stay
    # as the differential reference)
    ia = _explode_keys_kernel(
        a.where(F.length("__ta") >= k + 1), "__ida", "__ta", k, probe=False
    )
    pb = _explode_keys_kernel(b, "__idb", "__tb", k, probe=True)
    long_cand = ia.join(pb, ["alen", "i", "seg"]).select(
        "__ida", "__ta", "__idb", "__tb"
    )
    # short band: len(a) <= k forces len(b) <= 2k — an EQUI join on
    # the left length, with the right exploding its 2k+1 candidate
    # left-lengths (a |la−lb| ≤ k theta-join would plan as a
    # CartesianProduct node; bounded bands, degenerate only for
    # ≤k-char corpora)
    sa = a.where(F.length("__ta") <= k).select(
        "__ida", "__ta", F.length("__ta").cast("int").alias("la")
    )
    lb = F.length("__tb")
    lo = F.greatest(lb - k, F.lit(0))
    hi = F.least(lb + k, F.lit(k))
    sb = (
        b.where(lb <= 2 * k)
        .select(
            "__idb",
            "__tb",
            F.explode(
                F.when(hi >= lo, F.sequence(lo, hi)).otherwise(
                    F.expr("array()").cast("array<int>")
                )
            ).alias("la"),
        )
        .select("__idb", "__tb", F.col("la").cast("int").alias("la"))
    )
    short_cand = sa.join(sb, "la").select("__ida", "__ta", "__idb", "__tb")
    cand = long_cand.union(short_cand)
    if _candidate_filter is not None:
        cand = cand.where(_candidate_filter)
    cand = cand.distinct()
    d = F.levenshtein(F.col("__ta"), F.col("__tb"), k)
    return cand.where(d >= 0).select(
        F.col("__ida").alias(id_l),
        F.col("__idb").alias(id_r),
        d.alias("dist"),
    )


def fuzzy_dedup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_dist: int = 2
) -> DataFrame:
    """Self-join form: (id_a, id_b, dist) with id_a < id_b — the
    near-duplicate pair graph for :func:`dedup.connected_components`
    clustering of fuzzy string matches."""
    l = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__t"))
    r = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__t"))
    return fuzzy_join_pairs(
        l, r, "__t", "__t", "id_a", "id_b", max_dist,
        _candidate_filter=F.col("__ida") < F.col("__idb"),
    )
