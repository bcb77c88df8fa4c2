"""End-to-end corpus curation: validate -> dedup -> split, one plan.

The composition a training-data pipeline actually ships: row-level
constraint validation (the compiled keyword predicates), duplicate
resolution over a near-dup pair stream (connected components + survivor
election), and a deterministic train/val/test split — as THREE ADDED
COLUMNS on the input frame, so the caller filters / routes with scan
predicates instead of materializing intermediate corpora:

    out = curate(docs, SPEC, "doc_id", pairs=near_dup_pairs,
                 prefer=-F.length("text"),
                 split={"train": .98, "val": .01, "test": .01})
    clean_train = out.filter("valid AND is_canonical AND split='train'")
    drop_manifest = out.filter("NOT is_canonical")

Scale shape (each stage's physical plan is audited separately in
PLANS.md): validity is a codegen'd projection riding the scan; dedup
touches the corpus with exactly two small-frame joins (the cluster
labeling and the one-row-per-cluster survivor frame — the singleton
majority never shuffles); the split label is a pure hash function of
the id.  Composing them adds NO extra passes beyond dedup's joins.

Reference analogue: none — this is the brief's training-data-pipeline
mandate (SURVEY.md) composed from the engine's oracle-checked parts;
the driver query ``docs_curate`` re-verifies the COMPOSITION against a
single DuckDB query (validity SQL + recursive-CTE dedup + md5 split).
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import Column, DataFrame


def curate(df: DataFrame, schema: dict, id_col: str,
           pairs: Optional[DataFrame] = None,
           prefer: Optional[Column] = None,
           split: Optional[Mapping[str, float]] = None,
           split_salt: str = "",
           valid_col: str = "valid",
           registry=None, schema_store: Optional[dict] = None,
           format_checker: bool = False, retrieve=None) -> DataFrame:
    """``df`` + ``valid`` (+ ``cluster_id``/``is_canonical`` when
    ``pairs`` given) (+ ``split`` when ``split`` weights given).

    - ``schema``: JSON-Schema constraint spec; row-level keywords only
      (an ``x-spark`` block is stripped here — dataset-scope checks
      report violations, they don't label rows; run
      :func:`jsonschema_spark.validate_dataset` for those).
    - ``pairs``: near-dup edge stream ``(id_a, id_b)`` from any dedup
      operator (exact fingerprint groups, MinHash/SimHash/phash bands,
      n-gram Jaccard).  The survivor election is VALIDITY-AWARE: a
      valid cluster member always beats an invalid one, then the
      smallest ``(prefer, id)`` wins (default smallest id).  Without
      the validity tier an invalid member could win the election and
      its whole cluster would vanish from
      ``filter("valid AND is_canonical")`` even though a valid
      duplicate existed (review finding r5).
    - ``split``: label -> weight mapping for the deterministic
      hash-keyed split (retry-safe, growth-stable — see
      operators/sampling.py).
    - ``registry`` / ``schema_store`` / ``format_checker`` /
      ``retrieve`` forward to the row-level :class:`CompiledValidator`
      (same semantics as constructing one — a $ref spec needs its
      store here too, and format assertions must label identically to
      what validate mode would flag).
    """
    from pyspark.sql import functions as F

    from .validator import CompiledValidator

    row_schema = {k: v for k, v in (schema or {}).items()
                  if k != "x-spark"}
    v = CompiledValidator(row_schema, df, registry,
                          schema_store=schema_store,
                          format_checker=format_checker,
                          retrieve=retrieve)
    out = df
    if pairs is not None:
        from .operators.clusters import resolve_duplicates
        invalid = (~v.valid_column).cast("int")
        pref = prefer if prefer is not None else F.lit(0)
        # null flag INSIDE the composed key too: the outer key is a
        # non-null struct, so resolve_duplicates' own nulls-last guard
        # cannot see a NULL user preference nested in it
        key = F.struct(invalid.alias("inv"),
                       pref.isNull().cast("int").alias("pn"),
                       pref.alias("pref"))
        out = resolve_duplicates(out, pairs, id_col, prefer=key)
    out = v.with_valid(out, valid_col)
    if split is not None:
        from .operators.sampling import split_assign
        out = split_assign(out, id_col, split, salt=split_salt)
    return out
