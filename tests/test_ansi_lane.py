"""ANSI-mode parity lane (VERDICT-r5 #2 / ADVICE-r5).

The repo session pins ``spark.sql.ansi.enabled=false`` (validation
wants NULL-tolerant expression semantics), but the DRIVER'S session
runs Spark 4's ANSI-on default — and round 5's only red correctness
rows came from a long-overflow that ONLY ANSI mode surfaces
(``clusters._signature`` summing xxhash64 values).  This lane flips
ANSI on (a runtime-mutable SQL conf) and re-runs the operators that do
arithmetic most exposed to overflow / strict-cast behaviour, asserting
byte-identical results against the ANSI-off run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def ansi(spark):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


def _both(spark, build):
    """Collect the query under ANSI-on, then ANSI-off, sorted."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    on = sorted(map(tuple, build().collect()))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    off = sorted(map(tuple, build().collect()))
    return on, off


def test_connected_components_ansi(ansi, monkeypatch):
    """The r5 regression case: uniform 64-bit hash sums overflow long
    almost surely — the decimal(38,0) signature must survive ANSI."""
    import random

    from jsonschema_spark.operators import clusters
    from jsonschema_spark.operators.clusters import connected_components
    rng = random.Random(11)
    edges = [(rng.randint(0, 400), rng.randint(0, 400))
             for _ in range(1500)]
    df = ansi.createDataFrame(edges, "src long, dst long")
    out_local = connected_components(df).collect()
    monkeypatch.setattr(clusters, "SMALL_GRAPH_MAX_EDGES", 0)
    out_dist = connected_components(df).collect()
    assert sorted(map(tuple, out_dist)) == sorted(map(tuple, out_local))


def test_resolve_duplicates_ansi(ansi):
    from jsonschema_spark.operators.clusters import resolve_duplicates
    docs = ansi.createDataFrame(
        [(i, "x" * (i % 7 + 1)) for i in range(60)],
        "doc_id long, text string")
    pairs = ansi.createDataFrame(
        [(i, i + 30) for i in range(20)], "id_a long, id_b long")
    out = resolve_duplicates(docs, pairs, "doc_id",
                             prefer=-F.length("text")).collect()
    assert len(out) == 60
    canon = [r for r in out if r["is_canonical"]]
    assert len(canon) == 40          # 20 clusters lose one member each


def test_repetition_minhash_simhash_ansi(spark, documents_df=None):
    from jsonschema_spark.operators.dedup import (clear_dedup_cache,
                                                  minhash_candidates,
                                                  simhash_duplicates)
    from jsonschema_spark.operators.repetition import repetition_signals
    rows = [(i, f"alpha beta gamma {i % 9} delta alpha beta epsilon "
                f"zeta {i % 4} eta theta")
            for i in range(250)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    for build in (
        lambda: repetition_signals(d, "doc_id", "text"),
        lambda: minhash_candidates(d, "doc_id", "text",
                                   min_jaccard=0.3),
        lambda: simhash_duplicates(d, "doc_id", "text",
                                   max_hamming=3),
    ):
        on, off = _both(spark, build)
        clear_dedup_cache()
        assert on == off


def test_contamination_split_validator_ansi(spark):
    from jsonschema_spark import CompiledValidator
    from jsonschema_spark.operators.contamination import ngram_contamination
    from jsonschema_spark.operators.sampling import split_assign
    rows = [(i, f"w{i % 11} common words here {i % 5} trailing bit")
            for i in range(300)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    ref = d.filter(F.col("doc_id") % 10 == 0)

    def q_cont():
        return ngram_contamination(d, ref, "doc_id", "text", n=3)

    def q_split():
        return split_assign(d, "doc_id",
                            {"train": 0.8, "val": 0.2}, salt="a") \
            .select("doc_id", "split")

    li = spark.createDataFrame(
        [(i, float(i % 40), "A" if i % 3 else "X") for i in range(200)],
        "l_orderkey long, l_quantity double, l_returnflag string")
    spec = {"required": ["l_orderkey"],
            "properties": {"l_quantity": {"minimum": 1, "maximum": 30},
                           "l_returnflag": {"enum": ["A", "N", "R"]}}}

    def q_valid():
        v = CompiledValidator(spec, li)
        return (v.violations(li).groupBy("keyword", "json_path")
                .agg(F.count(F.lit(1)).alias("n")))

    for build in (q_cont, q_split, q_valid):
        on, off = _both(spark, build)
        assert on == off
