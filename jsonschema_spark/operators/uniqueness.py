"""Uniqueness checks — `uniqueItems` lifted to column scope.

Reference anchor: /root/reference/jsonschema/_keywords.py:206-212 with
``equal`` semantics (_utils.py:133-148); the north_rule mandates the
physical strategy: repartition-by-hash + sort-within-partitions.  Both
strategies shuffle once on the key:

- ``groupby``: hash partial-agg (map-side combine) -> count>1.  Best when
  duplicates are rare (the partial agg collapses most groups to 1 before
  the shuffle).
- ``sort``: repartition(hash(key)) + sortWithinPartitions + lag-compare.
  Streams each partition in key order with O(1) state per row — the
  strategy that also yields the *rows* (not just keys) without a second
  join, and the one to bucket/cluster by at 100 TB.

Skewed keys (a hot `fmt`, a default phash) are handled by `salt`:
pre-aggregate counts on (key, salt) then combine — two narrow shuffles
of strictly decreasing size instead of one skewed one.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import collect_bounded

#: most candidate hashes ``hash_prefilter`` puts in its ``isin``
#: filter; more means massive duplication, where it buys nothing
PREFILTER_MAX_HASHES = 100_000


def duplicate_keys(df: DataFrame, keys: Sequence[str],
                   strategy: str = "groupby",
                   salt: int = 0,
                   num_partitions: Optional[int] = None) -> DataFrame:
    """Keys occurring more than once -> (key cols..., dup_count)."""
    kcols = [F.col(k) for k in keys]
    if strategy == "sort":
        n = num_partitions or df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions")
        parted = (df.select(*kcols)
                  .repartition(int(n), *kcols)
                  .sortWithinPartitions(*kcols))
        w = Window.partitionBy(*kcols).orderBy(*kcols)
        return (parted
                .withColumn("_n", F.count(F.lit(1)).over(w))
                .filter(F.col("_n") > 1)
                .groupBy(*kcols).agg(F.max("_n").alias("dup_count")))
    if salt > 1:
        salted = df.select(
            *kcols,
            F.pmod(F.xxhash64(*kcols, F.monotonically_increasing_id()),
                   F.lit(salt)).alias("_salt"))
        partial = (salted.groupBy(*kcols, "_salt")
                   .agg(F.count(F.lit(1)).alias("_c")))
        return (partial.groupBy(*kcols)
                .agg(F.sum("_c").alias("dup_count"))
                .filter(F.col("dup_count") > 1))
    if strategy == "hash_prefilter":
        # two-phase for WIDE keys over stored tables: phase 1 shuffles
        # only xxhash64(key) (8 bytes/row) and collects the candidate
        # duplicate hashes (tiny); clean data -> done after one narrow
        # pass.  Phase 2 re-counts exact keys behind a codegen'd
        # hash-membership filter, so collisions can never yield false
        # duplicates.  Opt-in: on narrow keys or compute-generated
        # inputs the second scan costs more than the narrower shuffle
        # saves (measured), so the single-pass groupBy stays default.
        h = F.xxhash64(*kcols)
        cand = collect_bounded(
            df.select(h.alias("_h"))
            .groupBy("_h").agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") > 1).select("_h"),
            PREFILTER_MAX_HASHES)
        if cand is not None:
            if len(cand) == 0:
                return df.sparkSession.createDataFrame(
                    [], df.select(*kcols).schema.add("dup_count", "long"))
            return (df.filter(h.isin(cand["_h"].tolist()))
                    .groupBy(*kcols)
                    .agg(F.count(F.lit(1)).alias("dup_count"))
                    .filter(F.col("dup_count") > 1))
        # massive duplication: the prefilter buys nothing; fall through
    return (df.groupBy(*kcols)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1))


def uniqueness_violations(df: DataFrame, key: str,
                          id_cols: Sequence[str] = (),
                          strategy: str = "groupby") -> DataFrame:
    """Violation rows for duplicated `key` values — every row participating
    in a duplicate group, in the engine's violation-row schema
    (keyword 'uniqueItems:<key>', FIXTURES.md §5)."""
    dups = duplicate_keys(df, [key], strategy=strategy)
    keep = [F.col(c) for c in id_cols] if id_cols else []
    joined = df.join(dups.hint("shuffle_hash"), key, "left_semi")
    return joined.select(
        *keep,
        F.lit(f"uniqueItems:{key}").alias("keyword"),
        F.lit(f"$.{key}").alias("json_path"),
        F.lit(f"x-spark/unique/{key}").alias("schema_path"),
        F.concat(F.lit(f"duplicate {key}: "),
                 F.col(key).cast("string")).alias("message"),
        F.col(key).cast("string").alias("failing_value"),
    )
