"""Round-6 optimization parity tests: every operator whose internals
were restructured for performance is pinned result-identical to the
shape it replaced (the round's correctness contract — same rows, same
floats, different plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(240):
        base = f"alpha beta gamma delta epsilon zeta {i % 7} eta theta"
        if i % 5 == 0:
            base = "common boilerplate text shared by many documents " \
                   "for collision pressure"
        if i % 11 == 0:
            base += " repeated repeated repeated repeated repeated"
        rows.append((i, base))
    rows += [(240, None), (241, ""), (242, "x"), (243, " \t spaced")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_kernel_vs_join_parity(docs, monkeypatch):
    """The broadcast banding kernel must emit exactly the distributed
    slice-keyed self-join's pair set.  Only the join keeps the cached
    signature frame (so it does not recompute the probe's aggregate);
    clear_dedup_cache releases it."""
    from jsonschema_spark.operators import dedup
    dedup.clear_dedup_cache()
    b = sorted(map(tuple, dedup.minhash_candidates(
        docs, "doc_id", "text", min_jaccard=0.3).collect()))
    assert dedup.clear_dedup_cache() == 0
    monkeypatch.setattr(dedup, "MINHASH_KERNEL_MAX_ROWS", 0)
    a = sorted(map(tuple, dedup.minhash_candidates(
        docs, "doc_id", "text", min_jaccard=0.3).collect()))
    assert dedup.clear_dedup_cache() == 1
    assert a == b and len(a) > 0


def test_hamming_verified_pairs_vs_composition(docs):
    """Fused audit kernel == simhash_duplicates + exact-Jaccard verify."""
    from jsonschema_spark.operators.dedup import (
        clear_dedup_cache, hamming_verified_pairs, simhash_duplicates,
        verify_pairs_exact_jaccard)
    cand = simhash_duplicates(docs, "doc_id", "text", max_hamming=12,
                              band_bits=4)
    old = verify_pairs_exact_jaccard(cand, docs, "doc_id", "text",
                                     k=5, min_jaccard=0.5)
    new = hamming_verified_pairs(docs, "doc_id", "text", bits=64,
                                 max_hamming=12, band_bits=4, k=5,
                                 min_jaccard=0.5)
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    clear_dedup_cache()
    assert a == b and len(a) > 0


def test_hamming_verified_pairs_over_cap_takes_composition(docs,
                                                           monkeypatch):
    """A panel above the cap is never collected to the driver: it gets
    the composition the fused kernel stands in for (whose simhash
    signature frame is the one thing clear_dedup_cache releases), with
    the same pairs."""
    from jsonschema_spark.operators import dedup
    dedup.clear_dedup_cache()
    kernel = sorted(map(tuple, dedup.hamming_verified_pairs(
        docs, "doc_id", "text", max_hamming=12, band_bits=4).collect()))
    assert dedup.clear_dedup_cache() == 0
    monkeypatch.setattr(dedup, "MINHASH_KERNEL_MAX_ROWS", 50)
    got = sorted(map(tuple, dedup.hamming_verified_pairs(
        docs, "doc_id", "text", max_hamming=12, band_bits=4).collect()))
    assert dedup.clear_dedup_cache() == 1
    assert got == kernel and len(got) > 0


def test_repetition_kernel_vs_column_functions(docs):
    """The mapInArrow statistics kernel == the Column-level formulation
    (which repetition_filter still uses)."""
    from jsonschema_spark.operators.repetition import (
        _run_stats, char_base, repetition_signals, word_array,
        word_ngrams)
    t = F.col("text")
    words = word_array(t)
    base = F.greatest(char_base(words), F.lit(1).cast("long"))
    cols = [F.col("doc_id")]
    for n in (2, 3, 4):
        stats = _run_stats(word_ngrams(words, n), n)
        cols.append(F.round(stats.getField("top_chars") / base, 6)
                    .alias(f"top_{n}gram_char_frac"))
    for n in (5, 6, 7, 8, 9, 10):
        stats = _run_stats(word_ngrams(words, n), n)
        cols.append(F.round(F.least(stats.getField("dup_chars") / base,
                                    F.lit(1.0)), 6)
                    .alias(f"dup_{n}gram_char_frac"))
    old = sorted(map(tuple, docs.select(*cols).collect()))
    new = sorted(map(tuple,
                     repetition_signals(docs, "doc_id", "text").collect()))
    assert old == new


def test_brute_force_topk_tie_selection(spark):
    """argpartition selection must reproduce the lexsort's exact set
    under boundary ties (few distinct rounded cosine values)."""
    import numpy as np

    from jsonschema_spark.operators.similarity import brute_force_topk
    rows = [(i, [float(i % 3), float((i // 3) % 2), 1.0])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, "vec_id", "embedding", k=4,
                           round_to=2).collect()
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    M = np.asarray([r[1] for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(M @ M.T, 2)
    for i, sel in by_id.items():
        s = S[i].copy()
        s[i] = -np.inf
        order = np.lexsort((np.arange(len(rows)), -s))[:4]
        want = sorted(int(j) for j in order)
        got = sorted(int(r["neighbour_id"]) for r in sel)
        assert got == want, (i, got, want)


def test_contamination_gram_frame_parity(docs):
    """Codegen explode gram stream == interpreted per-doc array shape."""
    from jsonschema_spark.operators.contamination import \
        _distinct_gram_frame
    from jsonschema_spark.operators.repetition import (word_array,
                                                       word_ngrams)
    n = 3
    grams = F.array_distinct(word_ngrams(word_array(F.col("text")), n))
    old = (docs.select("doc_id", grams.alias("_g"))
           .select("doc_id", F.explode_outer("_g").alias("gram")))
    new = _distinct_gram_frame(docs, "text", n, "doc_id", False)
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b


def test_exact_fingerprint_pairs_join_back(docs):
    """min+join-back edges == the collect_list star edges."""
    from jsonschema_spark.operators.dedup import exact_fingerprint_pairs
    from jsonschema_spark.operators.text import content_fingerprint
    keyed = (docs.filter(F.col("text").isNotNull())
             .select(content_fingerprint(F.col("text")).alias("_k"),
                     F.col("doc_id")))
    old = (keyed.groupBy("_k")
           .agg(F.min("doc_id").alias("id_a"),
                F.collect_list("doc_id").alias("_ids"))
           .filter(F.size("_ids") > 1)
           .select("id_a", F.explode("_ids").alias("id_b"))
           .filter(F.col("id_a") != F.col("id_b")))
    new = exact_fingerprint_pairs(docs, "doc_id", "text")
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b and len(a) > 0


def test_ngram_jaccard_kernel_vs_join_parity(docs, monkeypatch):
    """Inverted-index kernel == posting-list self-join, including the
    tokenization corner cases (kept empty tokens, short docs, tabs)."""
    from jsonschema_spark.operators import dedup
    kernel_path = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                            min_jaccard=0.3)
    monkeypatch.setattr(dedup, "MINHASH_KERNEL_MAX_ROWS", 0)
    join_path = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                          min_jaccard=0.3)
    a = sorted(map(tuple, join_path.collect()))
    b = sorted(map(tuple, kernel_path.collect()))
    assert a == b and len(a) > 0


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=16)])
            for i in range(600)]
    # a few duplicate-direction vectors for near-tie pressure
    for i in range(600, 640):
        rows.append((i, [float(x) for x in
                         np.asarray(rows[i % 600][1]) * 2.0]))
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def _ivf_pairs(df, cap, monkeypatch, **kw):
    from jsonschema_spark.operators import similarity
    monkeypatch.setattr(similarity, "IVF_KERNEL_MAX_ROWS", cap)
    out = similarity.ivf_topk(df, "vec_id", "v", k=3, n_lists=8, **kw)
    return sorted((r["id"], r["neighbour_id"]) for r in out.collect())


def test_ivf_kernel_vs_cogroup_parity(vectors, monkeypatch):
    """Broadcast IVF kernel == distributed cogroup path: identical
    selected (id, neighbour_id) sets under both probe configs the
    declared queries use (cosines may differ by BLAS-accumulation
    ulps, which the selection comparison deliberately excludes and
    the queries' contracts — rows-only / recall>=bar — tolerate)."""
    from jsonschema_spark.operators.similarity import (
        IVF_KERNEL_MAX_ROWS, clear_ivf_cache)
    for probe in (2, 5):
        a = _ivf_pairs(vectors, 0, monkeypatch, n_probe=probe,
                       approx_n=640)
        b = _ivf_pairs(vectors, IVF_KERNEL_MAX_ROWS, monkeypatch,
                       n_probe=probe, approx_n=640)
        clear_ivf_cache()
        assert a == b and len(a) == 640 * 3


def test_ivf_understated_hint_takes_distributed_path(spark, vectors,
                                                     monkeypatch):
    """An ``approx_n`` far below the real row count must not send a
    corpus above the cap to the driver: the bounded collect sees the
    real size, so the distributed path runs (its assignment frame is
    persisted, then released by clear_ivf_cache) and returns the
    kernel's pairs."""
    from jsonschema_spark.operators.similarity import (
        IVF_KERNEL_MAX_ROWS, clear_ivf_cache)
    clear_ivf_cache()
    kernel = _ivf_pairs(vectors, IVF_KERNEL_MAX_ROWS, monkeypatch,
                        n_probe=2)
    assert clear_ivf_cache() == 0
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    dist = _ivf_pairs(vectors, 100, monkeypatch, n_probe=2, approx_n=10)
    assert jsc.getPersistentRDDs().size() == before + 1
    assert clear_ivf_cache() == 1
    assert jsc.getPersistentRDDs().size() == before
    assert dist == kernel and len(dist) == 640 * 3


def test_ivf_hint_above_cap_skips_probe(vectors, monkeypatch):
    """An ``approx_n`` above the cap routes straight to the distributed
    path: no bounded collect of vectors that would be discarded."""
    from jsonschema_spark.operators import similarity

    def boom(*a, **kw):
        raise AssertionError("ivf_topk probed a corpus hinted over cap")

    kernel = _ivf_pairs(vectors, similarity.IVF_KERNEL_MAX_ROWS,
                        monkeypatch, n_probe=2)
    monkeypatch.setattr(similarity, "collect_bounded", boom)
    dist = _ivf_pairs(vectors, 100, monkeypatch, n_probe=2, approx_n=640)
    assert similarity.clear_ivf_cache() == 1
    assert dist == kernel and len(dist) == 640 * 3


def test_ivf_kernel_independent_of_row_order(vectors):
    """The kernel fits its quantizer on the collected rows in id order,
    so the order rows arrive in (collect_bounded keeps fetch order, not
    partition order) cannot change the centroids or the result."""
    from jsonschema_spark.operators.similarity import ivf_topk

    def pairs(df):
        out = ivf_topk(df, "vec_id", "v", k=3, n_lists=8, n_probe=2,
                       approx_n=640)
        return sorted((r["id"], r["neighbour_id"]) for r in out.collect())

    assert pairs(vectors.orderBy(F.xxhash64("vec_id"))) == pairs(vectors)


def test_ivf_driver_normalize_bit_identity(spark):
    """The kernel path's driver-side left-fold normalization must be
    bit-equal to the Spark HOF expression the distributed path uses
    (acc = 0.0 then + x*x in element order, then x / sqrt(acc))."""
    import numpy as np
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=23)])
            for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    v = F.col("v").cast("array<double>")
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    sp = df.select(F.transform(v, lambda x: x / norm).alias("_v")) \
        .toPandas()
    S = np.asarray(list(sp["_v"]), dtype=np.float64)
    raw = df.select(v.alias("_v")).toPandas()
    M = np.asarray(list(raw["_v"]), dtype=np.float64)
    acc = np.zeros(len(M))
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    with np.errstate(divide="ignore", invalid="ignore"):
        Nn = M / np.sqrt(acc)[:, None]
    assert np.array_equal(S, Nn)
