"""Tests for operators/dedup.py — exact dedup, n-gram Jaccard,
MinHash+LSH recall, SimHash locality."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tableone_pyspark_spark.operators import dedup as dd

from conftest import approx

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the old barn today"),
    (2, "the quick brown fox jumps over the lazy dog near the old barn tonight"),  # near-dup of 1
    (3, "THE QUICK  brown fox jumps over the lazy dog near the old barn today"),  # exact dup of 1 (normalized)
    (4, "completely different content about spark dataframes and shuffle exchanges"),
    (5, "another unrelated document mentioning parquet column pruning and codegen"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["keep_id"]: r["n_dups"] for r in dd.exact_dedup(docs, "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1 and 3 collapse
    assert out[2] == 1 and out[4] == 1 and out[5] == 1
    assert 3 not in out  # 3's representative is 1


def test_word_shingles(docs):
    sh = dd.word_shingles(docs, "text", "doc_id", n=3)
    rows = sh.where(F.col("id") == 1).collect()
    # 14 words → 12 distinct trigrams
    assert len(rows) == 12
    assert any(r["shingle"] == "the quick brown" for r in rows)


def test_ngram_jaccard_known_pair(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4).collect()
    }
    # doc1 vs doc2 differ in the last word: 11 shared trigrams, union 13
    assert approx(pairs[(1, 2)], 11 / 13)
    # exact dup pair has jaccard 1.0
    assert approx(pairs[(1, 3)], 1.0)
    assert (1, 4) not in pairs


def test_minhash_matches_exact_jaccard(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    # LSH verifies candidates with exact Jaccard → no false positives
    assert lsh.issubset(exact)
    # recall on this corpus (deterministic given fixed hash seeds)
    assert len(lsh) / max(len(exact), 1) >= 0.9


def test_simhash_locality(docs):
    sig = {r["id"]: r["simhash"] for r in dd.simhash64(docs, "text", "doc_id").collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert sig[1] == sig[3]  # normalized-identical text → identical hash
    assert ham(sig[1], sig[2]) <= 16  # near-dup → close
    assert ham(sig[1], sig[4]) > 16  # unrelated → far


def test_shingles_arrow_matches_catalyst(spark):
    """Arrow and pure-Catalyst shingle paths emit identical (id, shingle)
    sets on real testdata."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(300)
    a = set(map(tuple, dd.word_shingles(d, "text", "doc_id", arrow=True).collect()))
    c = set(map(tuple, dd.word_shingles(d, "text", "doc_id", arrow=False).collect()))
    assert a == c and len(a) > 0


def test_simhash_neardup_pairs_matches_bruteforce(spark):
    """Pigeonhole chunk-join pairs == brute-force all-pairs Hamming
    filter (no false negatives, verify kills false positives)."""
    from pyspark.sql import functions as F

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    fast = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.simhash_neardup_pairs(d, "text", "doc_id", max_hamming=8).collect()
    }
    sig = dd.simhash64(d, "text", "doc_id")
    a = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["id_a"], r["id_b"], r["h"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("h"),
        )
        .where(F.col("h") <= 8)
        .collect()
    }
    assert fast == brute

def test_shingles_short_docs_both_paths(spark):
    """Docs with fewer than n words must yield zero shingles on BOTH
    paths (the Catalyst path used to throw under ANSI: sequence(0, k-1)
    descends when k<=0 and element_at past the end errors)."""
    d = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, ""), (4, "exactly three words here")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dd.word_shingles(d, "text", "doc_id", n=3, arrow=True).collect()))
    c = sorted(map(tuple, dd.word_shingles(d, "text", "doc_id", n=3, arrow=False).collect()))
    assert a == c
    assert {t[0] for t in a} == {4}  # only the 4-word doc shingles (2 trigrams)


def test_minhash_poly_mode_matches_xxhash_semantics(docs):
    """hash_fn='poly' verified pairs carry the same exact Jaccard values
    as the default mode on the same near-dup corpus (candidates differ
    only via hash family; the verify step pins semantics)."""
    px = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.4).collect()
    }
    pp = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.4, hash_fn="poly"
        ).collect()
    }
    # the obvious near-dup and exact-dup pairs surface in both modes
    # with identical exact-Jaccard values
    for pair in [(1, 2), (1, 3)]:
        assert approx(pp[pair], px[pair])


def test_simhash_poly_locality_and_determinism(docs):
    sig1 = {r["id"]: r["simhash"] for r in dd.simhash64(docs, "text", "doc_id", hash_fn="poly").collect()}
    sig2 = {r["id"]: r["simhash"] for r in dd.simhash64(docs, "text", "doc_id", hash_fn="poly").collect()}
    assert sig1 == sig2  # pure arithmetic → run-to-run identical
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert sig1[1] == sig1[3]
    assert ham(sig1[1], sig1[2]) <= 16
    assert ham(sig1[1], sig1[4]) > 16


def test_simhash_poly_kernel_matches_catalyst_twin(spark):
    """r17: the poly SimHash Arrow kernel must be BIT-IDENTICAL to the
    retained Catalyst twin (exploded words + 64-expression conditional
    sum) — the differential pin for the §4.2 rewrite. Covers unicode
    (astral plane), \\r/\\t whitespace, NULL, empty, single-word and
    corpus docs; docs with no words emit no row on either path."""
    edge = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, ""),
            (3, None),
            (4, "   "),
            (5, "one"),
            (6, "café \U0001d11e astral\ttokens\r\nhere"),
            (7, "a a a a repeated repeated"),
        ],
        "doc_id long, text string",
    )
    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    for d in (edge, corpus):
        got = {
            r["id"]: r["simhash"]
            for r in dd._simhash64_poly_kernel(d, "text", "doc_id").collect()
        }
        want = {
            r["id"]: r["simhash"]
            for r in dd._simhash64_catalyst(
                d, "text", "doc_id", "poly"
            ).collect()
        }
        assert got == want


def test_simhash_neardup_max_hamming_zero(docs):
    """max_hamming=0 → single 64-bit chunk (the mask literal used to
    overflow LongType); finds exactly the normalized-identical pair."""
    out = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=0).collect()
    )
    assert out == [(1, 3, 0)]


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5 (worst-case diameter) + island {10,11} + isolated
    # vertices never appear (they come from the assign step)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dd.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_dedup_cluster_assign_singletons(docs):
    pairs = dd.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.dedup_cluster_assign(docs, "doc_id", pairs).collect()
    }
    # 1, 2, 3 are one near-dup cluster keyed by min id; 4 and 5 are singletons
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert dd.connected_components(edges).count() == 0


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    # a 12-vertex path graph has diameter 11: min-label propagation
    # moves the min one hop per round, so max_iter=2 cannot converge
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(edges, max_iter=2)
    # and with the default budget the same graph collapses to one cluster
    got = {r["cluster_id"] for r in dd.connected_components(edges).collect()}
    assert got == {0}


def test_paragraph_dedup_removes_boilerplate_and_preserves_order(spark):
    from tableone_pyspark_spark.operators.dedup import paragraph_dedup

    bp = "SUBSCRIBE TO OUR NEWSLETTER"
    docs = [
        (1, f"alpha\n\n{bp}\n\nbravo"),
        (2, f"{bp}\n\ncharlie"),
        (3, "delta\n\necho"),
        (4, bp),  # all-boilerplate doc must survive with empty text
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df, "doc_id", "text").collect()}
    assert out[1]["text"] == "alpha\n\nbravo"  # order preserved
    assert (out[1]["n_paras"], out[1]["n_removed"]) == (3, 1)
    assert out[2]["text"] == "charlie"
    assert out[3]["text"] == "delta\n\necho" and out[3]["n_removed"] == 0
    assert out[4]["text"] == "" and out[4]["n_removed"] == 1
    assert set(out) == {1, 2, 3, 4}


def test_paragraph_dedup_null_text_gets_defined_row(spark):
    """NULL text coalesces to '' (one empty paragraph): the doc keeps a
    row with n_paras=1 instead of vanishing (split-on-null would drop
    it from the explode and NULL out the totals)."""
    from tableone_pyspark_spark.operators.dedup import paragraph_dedup

    docs = [(1, None), (2, "alpha\n\nbravo"), (3, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}
    # the two empty paragraphs duplicate each other -> both removed
    assert (out[1]["text"], out[1]["n_paras"], out[1]["n_removed"]) == ("", 1, 1)
    assert (out[3]["text"], out[3]["n_paras"], out[3]["n_removed"]) == ("", 1, 1)
    assert out[2]["text"] == "alpha\n\nbravo" and out[2]["n_removed"] == 0


def test_paragraph_dedup_identity_when_no_duplicates(spark):
    """With no over-threshold paragraph, reassembly must reproduce the
    input text byte-for-byte (explode -> md5 -> anti-join -> ordered
    rejoin round trip)."""
    from tableone_pyspark_spark.operators.dedup import paragraph_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = paragraph_dedup(d, "doc_id", "text")
    orig = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got == orig
    assert out.where(F.col("n_removed") != 0).count() == 0


def test_select_representatives(spark):
    """Keep-best-per-cluster (X126): score argmax with id tiebreak,
    singleton passthrough, cluster_size accounting, reserved-name
    guard."""
    from tableone_pyspark_spark.operators.dedup import (
        connected_components,
        select_representatives,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    clusters = connected_components(pairs)
    docs = spark.createDataFrame(
        [
            (1, 0.5), (2, 0.9), (3, 0.9),   # cluster {1,2,3}: tie 2 vs 3 -> 2
            (10, 0.1), (11, 0.8),           # cluster {10,11} -> 11
            (99, 0.0),                      # singleton, survives
        ],
        "doc_id long, q double",
    )
    out = select_representatives(docs, clusters, "doc_id", score_col="q")
    got = {r["doc_id"]: r["cluster_size"] for r in out.collect()}
    assert got == {2: 3, 11: 2, 99: 1}

    # no score: lowest id per cluster (the canonical min-id rep)
    out2 = select_representatives(docs, clusters, "doc_id")
    assert {r["doc_id"] for r in out2.collect()} == {1, 10, 99}

    # all original columns survive + cluster_size appended
    assert out.columns == ["doc_id", "q", "cluster_size"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        select_representatives(
            docs.withColumnRenamed("q", "cluster_size"), clusters, "doc_id"
        )
    with _pytest.raises(ValueError, match="not in df"):
        select_representatives(docs, clusters, "nope")


def test_select_representatives_null_id_raises(spark):
    """Self-review r11: NULL ids would collapse into one fake cluster
    partition and silently lose rows — they raise instead."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from tableone_pyspark_spark.operators.dedup import (
        select_representatives,
    )

    clusters = spark.createDataFrame([], "id long, cluster_id long")
    docs = spark.createDataFrame(
        [(None, 0.5), (None, 0.9)], "doc_id long, q double"
    )
    with _pytest.raises(SparkRuntimeException, match="NULL 'doc_id'"):
        select_representatives(docs, clusters, "doc_id", score_col="q").collect()
    with _pytest.raises(ValueError, match="score_col"):
        select_representatives(docs, clusters, "doc_id", score_col="zz")


def test_select_representatives_duplicate_id_raises(spark):
    """ADVICE r11: duplicate df ids fell into one window partition and
    row_number()==1 silently dropped all but one (and a duplicated
    cluster-map id silently DUPLICATED its row via join fanout) — both
    raise now."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from tableone_pyspark_spark.operators.dedup import (
        select_representatives,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "id long, cluster_id long"
    )
    dup_docs = spark.createDataFrame(
        [(1, 0.5), (1, 0.9), (2, 0.1)], "doc_id long, q double"
    )
    with _pytest.raises(SparkRuntimeException, match="duplicate 'doc_id'.*df"):
        select_representatives(
            dup_docs, clusters, "doc_id", score_col="q"
        ).collect()

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.1)], "doc_id long, q double"
    )
    dup_clusters = spark.createDataFrame(
        [(1, 1), (1, 7), (2, 1)], "id long, cluster_id long"
    )
    with _pytest.raises(
        SparkRuntimeException, match="duplicate 'doc_id'.*clusters"
    ):
        select_representatives(
            docs, dup_clusters, "doc_id", score_col="q"
        ).collect()

    # clean inputs still pass through the gates unchanged
    ok = select_representatives(docs, clusters, "doc_id", score_col="q")
    assert {r["doc_id"] for r in ok.collect()} == {1}


def test_signature_neardup_validates_max_hamming(spark):
    import pytest as _pytest

    from tableone_pyspark_spark.operators.dedup import signature_neardup_pairs

    sig = spark.createDataFrame([(1, 5), (2, 7)], "id long, sg long")
    with _pytest.raises(ValueError, match="max_hamming"):
        signature_neardup_pairs(sig, "id", "sg", 64)
    with _pytest.raises(ValueError, match="max_hamming"):
        signature_neardup_pairs(sig, "id", "sg", -1)
