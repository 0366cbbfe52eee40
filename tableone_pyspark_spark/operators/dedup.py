"""Deduplication operators for large-scale document pipelines.

Spark-first designs, each with an explicit scale story:

  * exact_dedup          — hash-groupBy on normalized text. One shuffle
                           keyed by a 64-bit fingerprint; at 100 TB the
                           shuffle carries (hash, id) pairs, never text.
  * ngram_jaccard_pairs  — exact Jaccard over word n-gram shingle sets
                           via an inverted-index self-join (shingle →
                           doc). Exact but O(Σ posting²); use as the
                           verifier / small-N path.
  * minhash_lsh_pairs    — MinHash signatures (k independent
                           xxhash64 seeds) + LSH banding: candidate
                           generation is an equi-join on (band, bucket),
                           which Spark executes as a shuffled hash join —
                           the 100 TB path. Candidates are then verified
                           with exact Jaccard.
  * simhash64            — 64-bit SimHash of word tokens for
                           Hamming-distance near-dup detection.

No counterpart exists in the reference repo (it has no dedup surface);
these implement the north-star extensions (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tableone_pyspark_spark.functions.text import normalize_text, poly_hash
from tableone_pyspark_spark.plans.layout import rebalance

#: modulus for the cross-engine polynomial hash family (< 2³¹ so every
#: a·h + b stays below 2⁶² — no ANSI overflow in Spark OR DuckDB)
POLY_MOD = (1 << 31) - 1


def _rotl64(c, i):
    """64-bit rotate-left by a constant — wraps, never overflows (ANSI-safe)."""
    i = i % 64
    if i == 0:
        return c
    return F.shiftleft(c, i).bitwiseOR(F.shiftrightunsigned(c, 64 - i))


def poly_coeffs(k: int, seed: int = 1234567) -> list[tuple[int, int]]:
    """k deterministic affine-permutation coefficient pairs (a, b) for
    the universal-hash family h_i(x) = (a·x + b) mod POLY_MOD, a ≥ 1.
    A fixed LCG (not ``random``) so the exact constants are trivially
    reproducible inside an oracle SQL generator."""
    out, state = [], seed
    for _ in range(k):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = state % (POLY_MOD - 1) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % POLY_MOD
        out.append((a, b))
    return out


def _perm_cols(hash_fn: str, k: int):
    """Per-shingle permutation-hash expressions h_0..h_{k-1} over a
    frame that already carries the base hash column(s)
    (:func:`_with_base_hash`).

    ``xxhash64`` (default): h_i = h1 ⊕ rotl(h2, i) — two 64-bit string
    hashes per shingle, engine-specific values (fastest).
    ``poly``: h_i = (a_i·h + b_i) mod POLY_MOD over one polynomial
    string hash — pure cross-engine arithmetic, exactly reproducible by
    any SQL engine (the oracle-checkable mode). Same banding/collision
    behavior; ~31-bit hash space is ample for MinHash banding.
    """
    if hash_fn == "poly":
        return [
            (F.col("h") * a + b) % POLY_MOD for a, b in poly_coeffs(k)
        ]
    return [F.col("h1").bitwiseXOR(_rotl64(F.col("h2"), i)) for i in range(k)]


def _with_base_hash(sh: DataFrame, hash_fn: str) -> DataFrame:
    if hash_fn == "poly":
        # per-occurrence interpreted fold measured FASTER than hashing a
        # distinct-vocabulary and joining back (0.5 s vs 1.0 s at sf0.1
        # — the join's extra shuffle costs more than the fold saves);
        # the downstream k min/vote aggregates dominate either way
        return sh.withColumn("h", poly_hash(F.col("shingle")))
    return sh.withColumns(
        {"h1": F.xxhash64("shingle"), "h2": F.xxhash64("shingle", F.lit(0x9E3779B9))}
    )

def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, arrow: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Normalization + word split stay Catalyst (one regexp pass, cheap);
    gram assembly defaults to a compact Arrow UDF over the word arrays —
    the pure-Catalyst ``transform(sequence, …)`` alternative
    (``arrow=False``) evaluates interpreted per gram AND costs seconds
    of whole-stage-codegen compile for its n·element_at expression
    tree. Both paths emit identical shingles (parity-pinned by test).
    Shingling is CPU-bound per row, so the input is rebalanced first
    (no-op when the scan is already wider than the cluster).
    """
    df = rebalance(df.select(id_col, text_col))
    words = F.split(normalize_text(F.col(text_col)), " ")
    if arrow:
        import pandas as pd

        def _grams(word_arrays):
            out = []
            for ws in word_arrays:
                ws = list(ws)
                seen = dict.fromkeys(
                    " ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 0))
                )
                seen.pop("", None)
                out.append(list(seen))
            return pd.Series(out, dtype=object)

        grams = F.pandas_udf(_grams, "array<string>")(words)
        return df.select(
            F.col(id_col).alias("id"), F.explode(grams).alias("shingle")
        )
    # short docs (< n words): k <= 0 would make sequence(0, k-1) DESCEND
    # ([0, -1]) and element_at past the array end throws under ANSI —
    # clamp the sequence end and guard the whole gram array behind
    # F.when so the output matches the Arrow path's empty set.
    k = F.size(words) - (n - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(0), F.greatest(k, F.lit(1)) - 1),
            lambda i: F.concat_ws(
                " ",
                *[F.try_element_at(words, (i + j + 1).cast("int")) for j in range(n)],
            ),
        ),
    ).otherwise(F.array(F.lit("")).cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle"))
        .where(F.col("shingle") != "")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups on normalized text.

    Returns (keep_id, n_dups) — the representative (min id) and group
    size per distinct content. Groups by the 64-bit fingerprint so the
    shuffle never carries document bodies (at 100 TB this is the
    difference between shuffling 100 TB and shuffling ~1.6 TB of ids).
    """
    fp = F.xxhash64(normalize_text(F.col(text_col)))
    return (
        df.select(fp.alias("fp"), F.col(id_col).alias("id"))
        .groupBy("fp")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (a < b, jaccard >= threshold).

    Inverted-index join: shingle → docs, pairs counted per shared
    shingle (map-side combine shrinks the shuffle), then
    |A∩B| / (|A| + |B| - |A∩B|). Returns (id_a, id_b, jaccard).
    """
    sh = word_shingles(df, text_col, id_col, n).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def duplicate_ngram_fraction(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-doc fraction of distinct word n-grams that also appear in
    some OTHER document: ``(id, n_grams, n_dup, dup_frac)``.

    The line-/passage-level dedup signal (CCNet, RefinedWeb): a doc
    whose grams are mostly corpus-duplicated is boilerplate even when
    no single whole-doc duplicate exists.

    Two bounded shuffles, neither carrying text: (1) per-shingle
    document frequency over 64-bit gram fingerprints with map-side
    combine; (2) per-doc roll-up of two counters. The join back is
    fingerprint-to-fingerprint on already-aggregated rows.
    """
    sh = word_shingles(df, text_col, id_col, n).select(
        "id", F.xxhash64("shingle").alias("g")
    )
    docfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(docfreq, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_dup"),
        )
        .withColumn("dup_frac", F.col("n_dup") / F.col("n_grams"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 32,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """k-permutation MinHash signature per document.

    Default permutations use XOR-rotate double hashing:
    h_i(s) = h1(s) ⊕ rotl(h2(s), i) over two independent xxhash64
    seeds — 2 string hashes per shingle instead of k, with collision
    behavior equivalent to independent permutations for MinHash
    banding, and pure bit ops (no ANSI overflow).
    ``hash_fn="poly"`` swaps in the cross-engine affine family over a
    polynomial string hash (see :func:`_perm_cols`) so signatures are
    exactly reproducible by a SQL oracle. The signature element is min
    over shingles — groupBy + k min aggregates, one pass over the
    exploded shingles. Returns (id, sig array<long>).
    """
    sh = _with_base_hash(word_shingles(df, text_col, id_col, n), hash_fn)
    perms = _perm_cols(hash_fn, k)
    mins = sh.groupBy("id").agg(*[F.min(p).alias(f"h{i}") for i, p in enumerate(perms)])
    return mins.select("id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def _band_bucket(sig_col: str, bi: int, r: int, hash_fn: str):
    """Bucket id for band ``bi``: xxhash64 of the joined elements
    (default), or a polynomial fold mod POLY_MOD (cross-engine)."""
    if hash_fn == "poly":
        bucket = F.lit(0).cast("long")
        for j in range(r):
            bucket = (
                bucket * 1000003 + F.element_at(sig_col, bi * r + j + 1)
            ) % POLY_MOD
        return bucket
    return F.xxhash64(
        F.concat_ws("_", *[F.element_at(sig_col, bi * r + j + 1) for j in range(r)])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with
    exact Jaccard.

    LSH: the signature is cut into ``bands`` bands of k/bands rows;
    docs agreeing on any whole band become candidates. Candidate
    generation = self-equi-join on (band_index, band_hash) — a shuffle
    join on a compact key, the piece that scales to 100 TB. Candidates
    are then re-checked with exact shingle Jaccard (no false
    positives). ``hash_fn="poly"`` makes the whole pipeline pure
    cross-engine arithmetic (exactly SQL-oracle-reproducible; xxhash64
    stays the perf default). Returns (id_a, id_b, jaccard).

    The verified pair graph is a session-memoized per-corpus artifact
    (see :mod:`core.memo`): clustering, keep-one assignment and the
    pair-listing query all consume the same graph, and must not
    re-shingle/re-sign the corpus each time.
    """
    from tableone_pyspark_spark.core.memo import memo_df, memo_key

    mkey = memo_key(df, text_col, id_col, n, k, bands, threshold, hash_fn)
    return memo_df(
        "minhash_lsh_pairs",
        mkey,
        lambda: _minhash_lsh_pairs_build(
            df, text_col, id_col, n, k, bands, threshold, hash_fn
        ),
    )


def _minhash_lsh_pairs_build(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    k: int,
    bands: int,
    threshold: float,
    hash_fn: str,
) -> DataFrame:
    r = k // bands
    # one shingle pass feeds BOTH signature generation and the exact
    # verification join — cache it (it is the expensive projection)
    sh = word_shingles(df, text_col, id_col, n).cache()
    hashed = _with_base_hash(sh, hash_fn)
    perms = _perm_cols(hash_fn, k)
    mins = hashed.groupBy("id").agg(
        *[F.min(p).alias(f"h{i}") for i, p in enumerate(perms)]
    )
    sig = mins.select("id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))
    bands_df = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        _band_bucket("sig", bi, r, hash_fn).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a, b = bands_df.alias("a"), bands_df.alias("b")
    candidates = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verification of the (small) candidate set — reuses the
    # cached shingles from signature generation
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash64(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over word tokens: for each bit, sum ±1 votes of
    each token's hash bit, take the sign. Near-duplicates have small
    Hamming distance. Pure expressions: explode → groupBy(id) → 64
    conditional sums folded back into one long.

    Default bit source is the token's xxhash64 bits (engine-specific).
    ``hash_fn="poly"`` derives bit i as ((a_i·h + b_i) mod POLY_MOD)
    mod 2 over one polynomial token hash — 64 universal-hash bits of
    pure cross-engine arithmetic, exactly reproducible by a SQL oracle
    (same constants via :func:`poly_coeffs`). Returns (id, simhash).

    The signature table is a session-memoized per-corpus artifact
    (:mod:`core.memo`): the signature listing and the pigeonhole
    near-dup join both consume it, and must not re-tokenize and
    re-vote the corpus each time.
    """
    from tableone_pyspark_spark.core.memo import memo_df, memo_key

    mkey = memo_key(df, text_col, id_col, hash_fn, "simhash-v1")
    return memo_df(
        "simhash64", mkey, lambda: _simhash64_build(df, text_col, id_col, hash_fn)
    )


def _simhash64_build(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str
) -> DataFrame:
    if hash_fn == "poly":
        # the cross-engine path runs as ONE zero-shuffle Arrow kernel
        # (r17, guide §4.2): the Catalyst shape (below) exploded every
        # word, char-folded poly_hash per occurrence and compiled a
        # 64-expression conditional-sum aggregate — a giant codegen
        # unit the single-run bench paid on every first run. The
        # kernel is differential-pinned bit-identical to the retained
        # Catalyst twin (tests/test_dedup.py).
        return _simhash64_poly_kernel(df, text_col, id_col)
    return _simhash64_catalyst(df, text_col, id_col, hash_fn)


def _simhash64_poly_kernel(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-doc poly SimHash in one ``mapInPandas`` projection: word
    hashes via the cached :func:`poly_word_entry` fold, 64
    universal-hash bits as one (words × 64) vectorized modmul, ±1
    votes summed per doc with ``np.add.reduceat``, sign bits packed
    through uint64 (bit 63 reinterprets to the same negative long
    Catalyst's ``shiftleft`` produces). Docs with no words emit no
    row, exactly like the exploded groupBy."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    src = rebalance(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    )
    coeffs = poly_coeffs(64)
    schema = T.StructType(
        [
            T.StructField("id", src.schema["id"].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from tableone_pyspark_spark.functions.text import (
            poly_word_entry,
            py_norm_words,
        )

        A = np.asarray([a for a, _ in coeffs], dtype=np.int64)
        B = np.asarray([b for _, b in coeffs], dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        p = POLY_MOD
        for pdf in batches:
            ids, hs, counts = [], [], []
            for i, t in zip(pdf["id"], pdf["t"]):
                ws = py_norm_words(t)
                if not ws:
                    continue
                ids.append(i)
                counts.append(len(ws))
                hs.extend(poly_word_entry(w)[0] for w in ws)
            if not ids:
                continue
            h = np.asarray(hs, dtype=np.int64)
            # (W, 64): h < 2^31 and a < 2^31, so h*a < 2^62 fits int64
            bits = ((h[:, None] * A[None, :] + B[None, :]) % p) % 2
            votes = 2 * bits - 1
            offs = np.concatenate(
                ([0], np.cumsum(np.asarray(counts))[:-1])
            )
            v = np.add.reduceat(votes, offs, axis=0)
            sim = (
                ((v > 0).astype(np.uint64) << shifts[None, :])
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )
            yield pd.DataFrame({"id": ids, "simhash": sim})

    return src.mapInPandas(kernel, schema)


def _simhash64_catalyst(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str
) -> DataFrame:
    words = (
        rebalance(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w"),
        )
        .where(F.col("w") != "")
    )
    if hash_fn == "poly":
        words = words.withColumn("h", poly_hash(F.col("w")))
        bits = [((F.col("h") * a + b) % POLY_MOD) % 2 for a, b in poly_coeffs(64)]
    else:
        words = words.withColumn("h", F.xxhash64("w"))
        bits = [F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) for i in range(64)]
    votes = words.groupBy("id").agg(
        *[
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}")
            for i, bit in enumerate(bits)
        ]
    )
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return votes.select("id", sim.alias("simhash"))


def hamming64(a, b):
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """All pairs with SimHash Hamming distance ≤ ``max_hamming``,
    found WITHOUT the O(N²) all-pairs scan.

    Pigeonhole construction (the web-dedup classic): split the 64-bit
    signature into ``max_hamming + 1`` disjoint chunks — any pair
    within distance d differs in at most d chunks, so it must AGREE on
    at least one. Candidate generation is therefore an equi-join on
    (chunk_index, chunk_value) — a compact shuffled hash join, the
    100 TB path — and candidates are verified with the exact
    ``bit_count(xor)``. No false negatives; false positives are
    filtered by the verify step. Returns (id_a, id_b, hamming).
    """
    sig = simhash64(df, text_col, id_col, hash_fn=hash_fn)
    return signature_neardup_pairs(sig, "id", "simhash", max_hamming)


def signature_neardup_pairs(
    sig: DataFrame, id_col: str, sig_col: str, max_hamming: int
) -> DataFrame:
    """Pigeonhole near-dup pairs over ANY 64-bit signature column
    (SimHash, image dHash, …): split into ``max_hamming + 1`` disjoint
    chunks — a pair within distance d differs in at most d chunks, so
    it must AGREE on at least one; candidates come from an equi-join
    on (chunk_index, chunk_value) and are verified with the exact
    ``bit_count(xor)``. No false negatives by construction. Returns
    (id_a, id_b, hamming).

    ``max_hamming`` must be in 0..63: at 64+ every chunk width
    degenerates to zero bits and the candidate join becomes the
    all-pairs scan this construction exists to avoid."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(
            f"max_hamming must be in 0..63, got {max_hamming}"
        )
    k = max_hamming + 1
    width = 64 // k
    s = sig.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sg"))
    chunk_structs = []
    for i in range(k):
        w = width if i < k - 1 else 64 - width * (k - 1)
        piece = F.shiftrightunsigned(F.col("sg"), i * width)
        if w < 64:
            # w == 64 (max_hamming=0): the chunk IS the signature — a
            # (1<<64)-1 literal would overflow LongType, so skip the mask
            piece = piece.bitwiseAND(F.lit((1 << w) - 1))
        chunk_structs.append(F.struct(F.lit(i).alias("ci"), piece.alias("cv")))
    chunked = s.select(
        "id", "sg", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("id", "sg", "c.ci", "c.cv")
    a = chunked.select(
        F.col("id").alias("id_a"), F.col("sg").alias("sig_a"), "ci", "cv"
    )
    b = chunked.select(
        F.col("id").alias("id_b"), F.col("sg").alias("sig_b"), "ci", "cv"
    )
    return (
        a.join(b, ["ci", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def select_representatives(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    score_col: str | None = None,
) -> DataFrame:
    """Keep ONE row per near-dup cluster — the step after
    :func:`connected_components` every dedup pipeline runs (MinHash/
    SimHash/fuzzy pairs → components → keep the best member, drop the
    rest): rows absent from ``clusters`` are singletons and survive
    unconditionally; within a cluster the row with the greatest
    ``score_col`` wins (ties → lowest id — deterministic on any
    engine), or the lowest id itself when no score is given (the
    canonical min-id representative). Returns ``df``'s surviving rows
    plus a ``cluster_size`` column (1 for singletons) so downstream
    mixing can weight by collapsed mass.

    Shape: one left join keyed by id (broadcast when the cluster map
    is small — it is bounded by rows IN pairs, usually a tiny
    fraction) and one window over cluster_id — output ≤ input rows,
    never a pair-shaped intermediate. SQL-replayable (window argmax
    over graded cluster ids — r12 graded candidate ``cluster_reps``).
    """
    from pyspark.sql import Window

    if id_col not in df.columns:
        raise ValueError(f"{id_col!r} not in df")
    if score_col is not None and score_col not in df.columns:
        raise ValueError(f"score_col {score_col!r} not in df")
    reserved = {"cluster_size", "__cluster", "__rk"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"df columns {sorted(clash)} collide with the output/"
            "internal columns — rename them first"
        )
    def _unique_gate(frame: DataFrame, col: str, what: str) -> DataFrame:
        # DUPLICATE ids RAISE mid-plan (ADVICE r11): two df rows
        # sharing an id fall into one window partition (singleton
        # coalesce or cluster join) and row_number()==1 silently drops
        # all but one — and a duplicated CLUSTER-MAP id silently
        # duplicates its df row via join fanout. Both break the
        # "exactly df's surviving rows" contract, so both raise. The
        # count window
        # partitions on the already-gated output attribute and the gate
        # rides the consumed id column — never optimizer-pruned.
        dup = F.count(F.lit(1)).over(Window.partitionBy(col))
        return frame.withColumn(
            col,
            F.when(dup == 1, F.col(col)).otherwise(
                F.raise_error(
                    # concat_ws, not concat: a duplicated NULL id in
                    # the (ungated) clusters map would turn a concat
                    # message into NULL and raise contentless
                    # (self-review r12)
                    F.concat_ws(
                        "",
                        F.lit(
                            f"select_representatives: duplicate {col!r} "
                            f"in {what} — ids are row identity; dedup "
                            "first: "
                        ),
                        F.col(col).cast("string"),
                    )
                )
            ),
        )

    cl = _unique_gate(
        clusters.select(
            F.col("id").alias(id_col), F.col("cluster_id").alias("__cluster")
        ),
        id_col,
        "clusters",
    )
    # NULL ids RAISE mid-plan: the fallback cluster key below is the id
    # itself, so all NULL-id rows would silently collapse into ONE
    # window partition and lose all but one row (self-review r11) — the
    # gate rides the consumed id column and cannot be pruned
    guarded = df.withColumn(
        id_col,
        F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
            F.raise_error(
                F.lit(
                    f"select_representatives: NULL {id_col!r} — NULL ids "
                    "would collapse into one fake cluster; use a sentinel"
                )
            )
        ),
    )
    guarded = _unique_gate(guarded, id_col, "df")
    j = guarded.join(cl, id_col, "left").withColumn(
        "__cluster",
        # singletons get their own id as the cluster key so ONE window
        # handles both cases (their partition has exactly one row)
        F.coalesce(F.col("__cluster"), F.col(id_col)),
    )
    order = (
        [F.col(score_col).desc(), F.col(id_col).asc()]
        if score_col is not None
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("__cluster")
    j = j.withColumn("__rk", F.row_number().over(w.orderBy(*order)))
    j = j.withColumn("cluster_size", F.count(F.lit(1)).over(w))
    return j.where(F.col("__rk") == 1).drop("__cluster", "__rk")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of an undirected near-dup pair graph.

    Returns ``(id, cluster_id)`` for every vertex appearing in at least
    one pair, where ``cluster_id`` is the component's minimum vertex id
    — the canonical representative every large-scale dedup pipeline
    keys its "keep one per cluster" step on.

    Min-label propagation: each round joins the current labels onto the
    symmetrized edge list and takes the minimum neighbor label per
    vertex — exactly one shuffle keyed by vertex id per round, with
    map-side partial ``min`` combine, so a round's cost is one pass
    over the edges regardless of cluster count.  Convergence takes
    O(graph diameter) rounds; LSH/banding near-dup graphs are unions of
    near-cliques (diameter 2–4), so 3–5 rounds in practice.
    ``localCheckpoint`` truncates lineage each round so the physical
    plan stays flat instead of growing per iteration, and convergence
    is detected from a single scalar: labels only ever decrease, so an
    unchanged ``sum(lbl)`` is a fixpoint — one cheap agg per round, no
    driver-side label materialization.

    Raises ``RuntimeError`` if the labels have not reached a fixpoint
    after ``max_iter`` rounds (a component with diameter > ``max_iter``
    would otherwise silently get WRONG, split cluster labels). Raise
    ``max_iter`` for pathological chain-shaped graphs.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select(F.col("a").alias("id"), F.least("a", "mn").alias("lbl"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        nbr = (
            e.join(labels.select(F.col("id").alias("b"), "lbl"), "b")
            .groupBy("a")
            .agg(F.min("lbl").alias("nlbl"))
            .select(F.col("a").alias("id"), "nlbl")
        )
        labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id", F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl")
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); returning here would "
            "silently split clusters — raise max_iter"
        )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def dedup_cluster_assign(
    df: DataFrame, id_col: str, pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Cluster assignment for EVERY document: near-dup components get
    their component-min id, singletons map to themselves.  The
    component labels are tiny relative to the corpus (only docs in >=1
    pair), so the attach join broadcasts at any realistic dup rate.
    Returns ``(<id_col>, cluster_id)``.

    Component labels are session-memoized per pair graph (the CC loop
    runs eagerly — ``localCheckpoint`` + a convergence collect per
    round — so rebuilding it for every consumer of the same graph
    would repeat the whole iteration).
    """
    from tableone_pyspark_spark.core.memo import memo, memo_key

    mkey = memo_key(pairs, src, dst)
    cc = memo(
        "connected_components",
        mkey,
        lambda: connected_components(pairs, src, dst),
    )
    return (
        df.select(id_col)
        .join(
            F.broadcast(cc.select(F.col("id").alias(id_col), "cluster_id")),
            id_col,
            "left",
        )
        .select(
            id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    min_count: int = 2,
) -> DataFrame:
    """CCNet-style paragraph-level deduplication: drop every paragraph
    whose exact text occurs at least ``min_count`` times corpus-wide
    (boilerplate, headers, navigation chrome), then reassemble each
    document from its surviving paragraphs in original order.

    Scale shape: paragraphs shuffle once keyed by their 128-bit md5
    (never the text twice); the over-threshold hash set is typically
    tiny (boilerplate is concentrated), so Catalyst broadcasts the
    anti-join side; reassembly is one groupBy(id) whose
    ``array_sort(collect_list(struct(pos, para)))`` restores order
    without a sort exchange. md5 is bit-identical across engines, so
    the whole pipeline is SQL-oracle-checkable. Returns
    ``(<id_col>, text, n_paras, n_removed)``; a document whose every
    paragraph was boilerplate survives with empty text (count it, don't
    silently drop it).  NULL text is coalesced to ``''`` first (one
    empty paragraph, ``n_paras=1``) so null-text docs keep a defined
    row instead of diverging between split-on-null semantics.
    """
    import re as _re

    txt = F.coalesce(F.col(text_col), F.lit(""))
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(txt, _re.escape(sep))).alias("pos", "para"),
    )
    dup_hashes = (
        paras.groupBy(F.md5("para").alias("ph"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("ph")
    )
    kept = paras.withColumn("ph", F.md5("para")).join(
        dup_hashes, "ph", "left_anti"
    )
    # per-doc totals need no explode/shuffle: size(split()) at the scan
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.split(txt, _re.escape(sep))).cast("long").alias("n_paras"),
    )
    assembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda x: x["para"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(assembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_paras",
            (F.col("n_paras") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def _span_occ_kernel(k: int):
    """mapInArrow kernel: (id, __t1_text) batches -> (id, pos, h1, h2)
    for EVERY k-token window of the normalized token stream (pos =
    0-based window start, the posexplode convention). Hashes are the
    two cross-engine polynomial bases (31, 131), combined from cached
    per-word entries with two vectorized modmuls per word instead of a
    char fold per window string — bit-identical to the Catalyst
    construction (differential-pinned)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        from tableone_pyspark_spark.functions.text import (
            poly_word_entry,
            py_norm_words,
        )

        p = (1 << 31) - 1
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            ndocs = len(texts)
            if ndocs == 0:
                continue
            e1 = []  # per-word (h, f, a), base 31
            e2 = []  # per-word (h, f, a), base 131
            nw = np.empty(ndocs, dtype=np.int64)
            for di, t in enumerate(texts):
                ws = py_norm_words(t)
                nw[di] = len(ws)
                for w in ws:
                    e1.append(poly_word_entry(w, 31))
                    e2.append(poly_word_entry(w, 131))
            kk = np.maximum(nw - (k - 1), 0)  # windows per doc
            total = int(kk.sum())
            if total == 0:
                continue
            a1 = np.asarray(e1, dtype=np.int64)
            a2 = np.asarray(e2, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(nw)[:-1]))
            cum = np.concatenate(([0], np.cumsum(kk)))
            doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), kk)
            pos = np.arange(total, dtype=np.int64) - np.repeat(cum[:-1], kk)
            i0 = np.repeat(starts, kk) + pos
            h1 = a1[i0, 0]
            h2 = a2[i0, 0]
            for j in range(1, k):
                ij = i0 + j
                h1 = (h1 * a1[ij, 1] + a1[ij, 2]) % p
                h2 = (h2 * a2[ij, 1] + a2[ij, 2]) % p
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(doc_of)),
                    pa.array(pos.astype(np.int32), pa.int32()),
                    pa.array(h1, pa.int64()),
                    pa.array(h2, pa.int64()),
                ],
                schema=pa.schema(
                    [
                        pa.field("id", ids.type),
                        pa.field("pos", pa.int32()),
                        pa.field("h1", pa.int64()),
                        pa.field("h2", pa.int64()),
                    ]
                ),
            )

    return fn


def _span_occurrences(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, pos, h1, h2) per k-token window — ONE Arrow projection,
    zero shuffles (r17, guide §4.2). Replaces the posexplode +
    double char-fold construction (kept as
    :func:`_span_occurrences_catalyst` for the differential pin)."""
    sel = rebalance(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t1_text")
    )
    id_type = sel.schema["id"].dataType.simpleString()
    return sel.mapInArrow(
        _span_occ_kernel(k), f"id {id_type}, pos int, h1 long, h2 long"
    )


def _span_occurrences_catalyst(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Pre-r17 pure-Catalyst occurrence melt — the differential twin
    pinning :func:`_span_occurrences` (tests only)."""
    from tableone_pyspark_spark.functions.text import word_grams

    txt = F.coalesce(F.col(text_col), F.lit(""))
    words_col = F.filter(F.split(normalize_text(txt), " "), lambda w: w != "")
    docs = rebalance(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), words_col.alias("words")
    )
    grams = docs.select(
        "id", F.posexplode(word_grams(F.col("words"), k)).alias("pos", "g")
    )
    return grams.select(
        "id",
        "pos",
        poly_hash(F.col("g"), base=31).alias("h1"),
        poly_hash(F.col("g"), base=131).alias("h2"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 50,
) -> DataFrame:
    """Exact duplicate-SPAN removal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": cut every k-token
    window that appears elsewhere in the corpus, keeping only the
    globally-first occurrence).

    Pipeline, 100 TB story:
      1. melt every k-token window, hashed with TWO independent
         cross-engine polynomial hashes (62-bit (h1, h2) key) so the
         shuffle carries 16 B/window instead of k words. The melt is
         ONE zero-shuffle Arrow kernel (:func:`_span_occurrences`):
         per-word hash entries are cached across batches and combined
         with two vectorized modmuls per word instead of a char fold
         per window string — bit-identical to the Catalyst
         construction (differential-pinned against
         :func:`_span_occurrences_catalyst`).
      2. one groupBy (h1, h2) keeping min(struct(id, pos)) — the
         deterministic globally-first occurrence (lexicographic on
         (id, pos)).
      3. every non-first occurrence is a removal span [pos, pos+k);
         overlapping spans merge RELATIONALLY (gaps-and-islands: one
         per-doc window with a running max of span ends labels
         islands, one groupBy collapses each island to a disjoint
         region) — no per-doc quadratic work, state is one running
         scalar per row.
      4. reassembly: per doc, the sorted disjoint regions (array of
         the few merged islands, not raw spans) complement into kept
         gaps via ONE indexed transform, and the kept tokens are the
         gap slices — O(regions + kept tokens) per doc.

    Honest collision bound: duplicate detection is by the 62-bit
    double hash, so expected spurious matches ≈ N²/2⁶³ window pairs —
    negligible to ~10⁹ windows (low-TB corpora), ~10⁷ wrongly-cut
    spans at 10¹³ windows. Beyond that scale swap 128-bit hashing into
    step 1 (same shape); the operator name says "exact" about the
    MATCHING RULE (exact token windows, vs MinHash/SimHash
    similarity), not the hash width.

    Output text is the NORMALIZED token stream re-joined by single
    spaces (the dedup-family convention: dedup operates on the
    normalized stream, which collapses spaces/tabs/newlines but — like
    the whole family — leaves \r alone, so CRLF and LF copies of a
    text do NOT match; normalize upstream if the corpus mixes line
    endings). NULL text behaves as empty (defined row: '', 0, 0); docs
    shorter than k tokens pass through unchanged (normalized).
    Returns (id, text, n_tokens, n_removed).
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("span window k must be >= 2 tokens")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words_col = F.filter(
        F.split(normalize_text(txt), " "), lambda w: w != ""
    )
    docs = rebalance(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), words_col.alias("words")
    )

    occ = _span_occurrences(df, text_col, id_col, k)
    firsts = occ.groupBy("h1", "h2").agg(
        F.min(F.struct("id", "pos")).alias("first"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    spans = (
        occ.join(firsts, ["h1", "h2"])
        .where(
            (F.col("n_occ") > 1)
            & ~(
                (F.col("id") == F.col("first.id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select("id", "pos", (F.col("pos") + F.lit(k)).alias("end"))
    )

    # gaps-and-islands interval merge: an island starts where this
    # span begins past every previous span's end (running max)
    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = spans.withColumn(
        "new_island",
        F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    regions = (
        islands.groupBy("id", "island")
        .agg(F.min("pos").alias("rs"), F.max("end").alias("re"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("rs", "re"))).alias("regions"))
    )

    out = docs.join(regions, "id", "left")
    n_tokens = F.size("words")
    regs = F.coalesce(
        F.col("regions"), F.array().cast("array<struct<rs:int,re:int>>")
    )
    # complement gaps via ONE indexed transform over the disjoint
    # sorted regions (prev end read by index — no fold, no copies),
    # plus the tail gap after the last region
    nr = F.size(regs)
    idxs = F.sequence(F.lit(0), nr)  # 0..nr inclusive: nr+1 gaps
    gaps = F.transform(
        idxs,
        lambda i: F.struct(
            F.when(i == 0, F.lit(0))
            .otherwise(
                F.least(
                    F.element_at(regs, i.cast("int"))["re"],
                    n_tokens.cast("int"),
                )
            )
            .alias("s"),
            F.when(i == nr, n_tokens.cast("int"))
            .otherwise(F.element_at(regs, (i + 1).cast("int"))["rs"])
            .alias("e"),
        ),
    )
    kept_idx = F.flatten(
        F.transform(
            F.filter(gaps, lambda g: g["e"] > g["s"]),
            lambda g: F.sequence(g["s"], g["e"] - 1),
        )
    )
    kept_words = F.transform(
        kept_idx, lambda i: F.try_element_at(F.col("words"), (i + 1).cast("int"))
    )
    return out.select(
        F.col("id").alias(id_col),
        F.array_join(kept_words, " ").alias("text"),
        n_tokens.cast("long").alias("n_tokens"),
        (n_tokens - F.size(kept_words)).cast("long").alias("n_removed"),
    )
