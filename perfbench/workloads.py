"""The benchmark's workloads: ingest and audit (the ones BENCHMARK.json
lists), wide_schema (run by hand, and as a probe in ingest's traced run)
and curate (run by hand, and as a probe in audit's traced run; README.md
says why).

Each workload has three parts:

- ``prepare``: untimed; points at the seeded inputs and computes the
  oracle's expectations from sources independent of the engine (DuckDB
  over the same parquet, the installed ``jsonschema`` on a seeded row
  sample, numpy, and the generator's own ground truth);
- ``job``: one timed job, from the schema dict to the committed or
  collected result, compile included;
- ``check``: untimed; compares a job's output with the expectations and
  returns one message per mismatch (empty when the job is correct).

Library calls go through module attributes (``dataset.validate_dataset``
rather than an imported name) so a traced run's wrappers see them.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
from typing import Any

import numpy as np

import gen
from oracle import (duckdb_conn, jsonschema_sets, engine_sets,
                    pixel_invariant_failures)

SAMPLE_ROWS = 1000


def _sample(seed: int, n: int, k: int = SAMPLE_ROWS) -> list[int]:
    rng = np.random.default_rng([seed, 99])
    return sorted(rng.choice(n, min(k, n), replace=False).tolist())


def _pq(path: str) -> str:
    return os.path.join(path, "*.parquet")


class Workload:
    name = ""
    kind = ""           # generator input kind
    default_rows = 0
    #: untimed warm-up jobs after the cold first job (run.py)
    warmup_jobs = 0

    def __init__(self, seed: int, rows: int, inputs: str, work: str):
        self.seed, self.rows, self.inputs, self.work = seed, rows, inputs, work

    def out_dir(self, k: int) -> str:
        return os.path.join(self.work, f"{self.name}-job{k}")

    def discard(self, k: int) -> None:
        shutil.rmtree(self.out_dir(k), ignore_errors=True)

    def probes(self, spark, tr) -> list[list[str]]:
        """Extra layer timings for a traced run (see run.py); returns
        the oracle mismatches of each checked probe job."""
        return []

    def violation_rows(self, k: int) -> int:
        """Violation rows the row validator wrote in job `k` (0 where
        the workload's validator writes none)."""
        return 0

    def companion(self, spark, cls: type["Workload"]) -> "Workload":
        """A prepared workload of class `cls` on the same seed, its input
        scaled like this one's, for a traced run to probe."""
        rows = max(int(cls.default_rows * self.rows / self.default_rows),
                   200)
        inputs = gen.ensure(os.path.dirname(self.inputs), cls.kind,
                            self.seed, rows)
        wl = cls(self.seed, rows, inputs, self.work)
        wl.prepare(spark)
        return wl

    def probe_jobs(self, spark, tr, runs: int = 2) -> list[list[str]]:
        """Run this workload's job `runs` times, each under a root span
        ``probe.<name>`` (run.py reads the layers of the last one; the
        ones before warm it up); returns each job's oracle mismatches.
        Each span records which of the tracer's Catalyst readings are
        its own, as ``attrs["catalyst"]`` (first, end)."""
        checked = []
        for k in range(runs):
            tr.drain()
            first = len(tr.catalyst)
            with tr.span(f"probe.{self.name}") as s:
                result = self.job(spark, k, tr)
            tr.drain()
            s.attrs["catalyst"] = (first, len(tr.catalyst))
            checked.append(self.check(k, result))
            self.discard(k)
        return checked


# ------------------------------------------------------------------ ingest

class Ingest(Workload):
    """ValidationRun.run over the image table, then a resume call."""

    name, kind, default_rows = "ingest", "images", 100_000
    warmup_jobs = 5
    id_cols = ["row_id", "image_id"]

    def prepare(self, spark) -> None:
        from jsonschema_spark.sources.images import IMAGES_SCHEMA
        self.schema = {k: v for k, v in IMAGES_SCHEMA.items()
                       if k != "x-spark"}
        self.path = os.path.join(self.inputs, "images")
        con = duckdb_conn()
        t = f"read_parquet('{_pq(self.path)}')"
        exp = {}
        rules = [
            ("pattern", "$.image_id",
             "image_id IS NOT NULL AND NOT regexp_matches(image_id, "
             "'^img_[0-9a-f]{12}$')"),
            ("minimum", "$.w", "w < 1"), ("maximum", "$.w", "w > 16384"),
            ("minimum", "$.h", "h < 1"), ("maximum", "$.h", "h > 16384"),
            ("enum", "$.fmt", "fmt NOT IN ('jpeg', 'png', 'webp')"),
            ("required", "$", "caption IS NULL OR image_id IS NULL OR "
             "w IS NULL OR h IS NULL OR fmt IS NULL OR phash IS NULL"),
            ("minLength", "$.caption", "length(caption) < 1"),
            ("maxLength", "$.caption", "length(caption) > 2048"),
            ("minimum", "$.phash", "phash < 0"),
        ]
        for kw, path, pred in rules:
            n = con.execute(f"SELECT count(*) FROM {t} WHERE {pred}"
                            ).fetchone()[0]
            if n:
                exp[(kw, path)] = n
        any_bad = " OR ".join(f"({p})" for _, _, p in rules)
        self.expect_counts = exp
        self.expect_invalid = con.execute(
            f"SELECT count(*) FROM {t} WHERE {any_bad}").fetchone()[0]
        self.expect_rows = con.execute(
            f"SELECT count(*) FROM {t}").fetchone()[0]
        self.groups = sorted(r[0] for r in con.execute(
            f"SELECT DISTINCT CASE WHEN fmt IS NULL THEN '__null__' "
            f"WHEN trim(fmt) = '' THEN '__empty__' ELSE fmt END FROM {t}"
        ).fetchall())
        self.sample = _sample(self.seed, self.expect_rows)
        rows = con.execute(
            f"SELECT * EXCLUDE (bytes) FROM {t} WHERE row_id IN "
            f"({','.join(map(str, self.sample))})").arrow().to_pylist()
        self.expect_sample = jsonschema_sets(self.schema, rows, "row_id")
        con.close()

    def job(self, spark, k: int, tr) -> Any:
        import jsonschema_spark.runner as runner
        out = self.out_dir(k)
        df = spark.read.parquet(self.path)
        run = runner.ValidationRun(spark, out, self.schema,
                                   partition_col="fmt")
        first = run.run(df, self.id_cols)
        with tr.span("runner.resume"):
            again = run.run(df, self.id_cols)
        return first, again

    def check(self, k: int, result) -> list[str]:
        first, again = result
        errs = []
        if sorted(first.completed) != self.groups or first.skipped:
            errs.append(f"first run completed {first.completed}, "
                        f"skipped {first.skipped}; groups {self.groups}")
        if again.completed or sorted(again.skipped) != self.groups:
            errs.append(f"resume ran {again.completed}; it must skip "
                        f"every group {self.groups}")
        out = self.out_dir(k)
        con = duckdb_conn()
        man = con.execute(
            "SELECT sum(rows), sum(invalid_rows), sum(violation_rows) "
            f"FROM read_parquet('{_pq(os.path.join(out, 'manifest'))}')"
        ).fetchone()
        viols = (f"read_parquet('{out}/violations/*/*.parquet', "
                 f"hive_partitioning = true)")
        got = {(kw, p): n for kw, p, n in con.execute(
            f"SELECT keyword, json_path, count(*) FROM {viols} GROUP BY 1, 2"
        ).fetchall()}
        sample_rows = con.execute(
            f"SELECT row_id, keyword, json_path FROM {viols} WHERE row_id "
            f"IN ({','.join(map(str, self.sample))})").fetchall()
        con.close()
        if got != self.expect_counts:
            errs.append(f"violation counts {got} != DuckDB "
                        f"{self.expect_counts}")
        n_viol = sum(self.expect_counts.values())
        if tuple(man) != (self.expect_rows, self.expect_invalid, n_viol):
            errs.append(f"manifest sums (rows, invalid, violations) {man} "
                        f"!= ({self.expect_rows}, {self.expect_invalid}, "
                        f"{n_viol})")
        errs += engine_sets(sample_rows, self.sample, self.expect_sample)
        return errs

    def violation_rows(self, k: int) -> int:
        return sum(self.expect_counts.values())

    def probes(self, spark, tr) -> list[list[str]]:
        import jsonschema_spark.validator as validator
        df = spark.read.parquet(self.path)
        v = validator.CompiledValidator(self.schema, df)
        with tr.span("probe.validator.counts"):
            v.counts(df)
        with tr.span("probe.validator.violations"):
            (v.violations(df, self.id_cols).write.mode("overwrite")
             .format("noop").save())
        # wide_schema is no benchmark workload of its own (see
        # README.md): its compile, Catalyst and Python-crossing layers
        # are read from a probe here
        return self.companion(spark, WideSchema).probe_jobs(spark, tr)


# ------------------------------------------------------------------- audit

AUDIT_DRIFT = {"w": (0.0, 4096.0, 32)}


class Audit(Workload):
    """validate_dataset with only dataset-scope x-spark checks."""

    name, kind, default_rows = "audit", "images", 30_000
    warmup_jobs = 6

    def prepare(self, spark) -> None:
        from jsonschema_spark.operators import drift
        self.path = os.path.join(self.inputs, "images")
        self.lic_path = os.path.join(self.inputs, "licenses")
        baseline = os.path.join(self.inputs, "baseline")
        if not os.path.exists(os.path.join(baseline, "_SUCCESS")):
            clean = spark.read.parquet(os.path.join(self.inputs,
                                                    "images_clean"))
            drift.save_baseline(clean, baseline, numeric=AUDIT_DRIFT)
        lo, hi, bins = AUDIT_DRIFT["w"]
        self.spec = {
            "type": "object",
            "x-spark": {
                "unique": ["image_id", "phash"],
                "referential": [{"column": "license_id",
                                 "ref": {"table": "licenses",
                                         "key": "license_id"}}],
                "stats": {"caption": {"max_null_rate": 0.001},
                          "w": {"min": 1, "max": 16384}},
                "drift": {"baseline": baseline,
                          "numeric": {"w": [lo, hi, bins]}, "by": "fmt"},
                "near_dup_phash": {"max_hamming": 3, "max_pairs": 0,
                                   "strategy": "banded"},
                "pixel_invariant": {"min_psnr": 40.0, "decode": "stub"},
            },
        }
        self.expect = self._expected()

    def _expected(self) -> dict:
        con = duckdb_conn()
        t = f"read_parquet('{_pq(self.path)}')"
        lic = f"read_parquet('{_pq(self.lic_path)}')"
        q = con.execute
        exp: dict[str, tuple[int, Any]] = {}

        def put(kw, n, value=None):
            if n:
                exp[kw] = (n, value)
        for key in ("image_id", "phash"):
            put(f"uniqueItems:{key}", q(
                f"SELECT count(*) FROM {t} WHERE {key} IN (SELECT {key} "
                f"FROM {t} GROUP BY 1 HAVING count(*) > 1)").fetchone()[0])
        put("referential:license_id", q(
            f"SELECT count(*) FROM {t} WHERE license_id IS NOT NULL AND "
            f"license_id NOT IN (SELECT license_id FROM {lic})"
        ).fetchone()[0])
        rows, cap_null, wmin, wmax = q(
            f"SELECT count(*), count(*) - count(caption), min(w), max(w) "
            f"FROM {t}").fetchone()
        put("stats:max_null_rate", int(cap_null / rows > 0.001))
        put("stats:min", int(wmin < 1))
        put("stats:max", int(wmax > 16384))
        pairs = q(f"""
            WITH s AS (SELECT image_id AS id, phash AS p FROM {t}
                       WHERE phash IS NOT NULL),
            b AS (SELECT id, p, (p >> (16 * band)) & 65535 AS key, band
                  FROM s, (SELECT range AS band FROM range(4)))
            SELECT count(*) FROM (
              SELECT DISTINCT x.id, y.id FROM b x JOIN b y
                ON x.band = y.band AND x.key = y.key AND x.id < y.id
              WHERE bit_count(xor(x.p, y.p)) <= 3)""").fetchone()[0]
        put("nearDup:phash", int(pairs > 0), str(pairs))
        cols = q(f"SELECT fmt, w, h, bytes FROM {t}").arrow()
        put("pixelInvariant", pixel_invariant_failures(cols))
        clean = q(f"SELECT w FROM read_parquet('"
                  f"{_pq(os.path.join(self.inputs, 'images_clean'))}') "
                  f"WHERE w IS NOT NULL").fetchnumpy()["w"]
        con.close()
        lo, hi, bins = AUDIT_DRIFT["w"]

        def hist(w):
            b = np.clip(np.floor((w.astype(np.float64) - lo)
                                 / ((hi - lo) / bins)), 0, bins - 1)
            return np.bincount(b.astype(np.int64), minlength=bins)
        base = hist(clean)
        fmt = np.array(cols.column("fmt").to_pylist(), dtype=object)
        w = np.array(cols.column("w").to_pylist(), dtype=object)
        n_drift = 0
        for part in set(fmt[(fmt != None) & (w != None)]):    # noqa: E711
            cur = hist(w[(fmt == part) & (w != None)].astype(np.int64))  # noqa: E711
            ks = np.max(np.abs(np.cumsum(cur) / cur.sum()
                               - np.cumsum(base) / base.sum()))
            n_drift += int(ks > 0.1)
        put("drift:ks", n_drift)
        return exp

    def job(self, spark, k: int, tr) -> Any:
        import jsonschema_spark.dataset as dataset
        from pyspark.sql import functions as F
        df = spark.read.parquet(self.path)
        tables = {"licenses": spark.read.parquet(self.lic_path)}
        with tr.span("dataset.validate"):
            out = dataset.validate_dataset(df, self.spec, ["image_id"],
                                           tables=tables)
            return (out.groupBy("keyword")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.min("failing_value").alias("v"))
                    .collect())

    def check(self, k: int, result) -> list[str]:
        got = {r["keyword"]: r["n"] for r in result}
        want = {kw: n for kw, (n, _) in self.expect.items()}
        errs = []
        if got != want:
            errs.append(f"per-keyword counts {got} != oracle {want}")
        near = {r["keyword"]: r["v"] for r in result}.get("nearDup:phash")
        if near != self.expect.get("nearDup:phash", (0, None))[1]:
            errs.append(f"near-dup pair count {near} != oracle "
                        f"{self.expect.get('nearDup:phash')}")
        return errs

    def probes(self, spark, tr) -> list[list[str]]:
        """Each dataset operator forced on its own (the job runs them
        as one plan, where their execution cannot be told apart)."""
        from jsonschema_spark.operators import (dedup, drift, multimodal,
                                                referential, stats,
                                                uniqueness)
        df = spark.read.parquet(self.path)
        lic = spark.read.parquet(self.lic_path)
        lo, hi, bins = AUDIT_DRIFT["w"]
        base = drift.load_baseline(spark, self.spec["x-spark"]["drift"]
                                   ["baseline"], "w")
        force = {
            "uniqueness": lambda: [uniqueness.uniqueness_violations(
                df, key, ["image_id"]) for key in ("image_id", "phash")],
            "referential": lambda: [referential.referential_violations(
                df, "license_id", lic, "license_id", ["image_id"])],
            "stats": lambda: [stats.stats_violations(
                df, self.spec["x-spark"]["stats"])],
            "drift": lambda: [drift.partitioned_drift(
                df, "fmt", "w", lo, hi, bins, base)],
            "multimodal": lambda: [multimodal.psnr_check(df, 40.0)],
            "dedup.phash": lambda: [dedup.phash_near_duplicates(
                df, "image_id", "phash", max_hamming=3)],
        }
        for name, build in force.items():
            with tr.span(f"probe.operators.{name}"):
                for frame in build():
                    frame.write.mode("overwrite").format("noop").save()
        # the curate pipeline (dedup kernel, clusters, survivor election)
        # is no benchmark workload of its own (see README.md)
        return self.companion(spark, Curate).probe_jobs(spark, tr)


# ------------------------------------------------------------- wide_schema

class WideSchema(Workload):
    """A $ref-heavy nested schema compiled and evaluated to violation
    rows with format assertion on."""

    name, kind, default_rows = "wide_schema", "wide", 10_000
    warmup_jobs = 4

    def prepare(self, spark) -> None:
        with open(os.path.join(self.inputs, "schema.json")) as f:
            self.schema = json.load(f)["schema"]
        with open(os.path.join(self.inputs, "planted.json")) as f:
            self.planted = set(json.load(f))
        self.path = os.path.join(self.inputs, "wide")
        con = duckdb_conn()
        # jsonschema's format checker costs ~3 ms a row here
        self.sample = _sample(self.seed, self.rows, 300)
        rows = con.execute(
            f"SELECT * FROM read_parquet('{_pq(self.path)}') WHERE rid IN "
            f"({','.join(map(str, self.sample))})").arrow().to_pylist()
        con.close()
        self.expect_sample = jsonschema_sets(self.schema, rows, "rid",
                                             formats=True)

    def job(self, spark, k: int, tr) -> Any:
        import jsonschema_spark.validator as validator
        df = spark.read.parquet(self.path)
        with tr.span("validator.evaluate"):
            # a fresh dict per job: nothing may carry over between jobs
            v = validator.CompiledValidator(copy.deepcopy(self.schema), df,
                                            format_checker=True)
            (v.violations(df, ["rid"]).write.mode("overwrite")
             .parquet(self.out_dir(k)))
        return len(v.checks)

    def check(self, k: int, result) -> list[str]:
        con = duckdb_conn()
        t = f"read_parquet('{_pq(self.out_dir(k))}')"
        failing = {r[0] for r in con.execute(
            f"SELECT DISTINCT rid FROM {t}").fetchall()}
        sample_rows = con.execute(
            f"SELECT rid, keyword, json_path FROM {t} WHERE rid IN "
            f"({','.join(map(str, self.sample))})").fetchall()
        con.close()
        errs = []
        if failing != self.planted:
            errs.append(f"failing rows differ from the planted rows: "
                        f"{len(failing - self.planted)} unplanted rows "
                        f"fail, {len(self.planted - failing)} planted "
                        f"rows pass")
        errs += engine_sets(sample_rows, self.sample, self.expect_sample)
        return errs

    def violation_rows(self, k: int) -> int:
        con = duckdb_conn()
        n = con.execute(f"SELECT count(*) FROM read_parquet("
                        f"'{_pq(self.out_dir(k))}')").fetchone()[0]
        con.close()
        return n

    def probes(self, spark, tr) -> list[list[str]]:
        import jsonschema_spark.validator as validator
        df = spark.read.parquet(self.path)
        v = validator.CompiledValidator(copy.deepcopy(self.schema), df,
                                        format_checker=True)
        with tr.span("probe.validator.counts"):
            v.counts(df)
        return []


# ------------------------------------------------------------------ curate

CURATE_SPEC = {
    "type": "object",
    "required": ["doc_id", "text"],
    "properties": {
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": ["en", "de", "fr", "es"]},
        "n_words": {"type": "integer", "minimum": 1, "maximum": 100},
    },
}
SPLIT = {"train": 0.8, "val": 0.1, "test": 0.1}


class Curate(Workload):
    """minhash_candidates -> pipeline.curate, output forced to parquet."""

    name, kind, default_rows = "curate", "corpus", 2_000
    warmup_jobs = 2

    def prepare(self, spark) -> None:
        self.path = os.path.join(self.inputs, "corpus")
        with open(os.path.join(self.inputs, "dup_groups.json")) as f:
            self.groups = json.load(f)
        con = duckdb_conn()
        self.expect_rows, self.expect_valid = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE lang IN "
            f"('en', 'de', 'fr', 'es') AND length(text) >= 1 AND "
            f"n_words BETWEEN 1 AND 100) FROM "
            f"read_parquet('{_pq(self.path)}')").fetchone()
        con.close()

    def job(self, spark, k: int, tr) -> Any:
        import jsonschema_spark.operators.dedup as dedup
        import jsonschema_spark.pipeline as pipeline
        from pyspark.sql import functions as F
        docs = spark.read.parquet(self.path)
        with tr.span("pipeline.curate"):
            pairs = dedup.minhash_candidates(docs, "doc_id", "text",
                                             num_hashes=64, bands=16,
                                             min_jaccard=0.5)
            out = pipeline.curate(docs, CURATE_SPEC, "doc_id",
                                  pairs=pairs.select("id_a", "id_b"),
                                  prefer=-F.length("text"), split=SPLIT,
                                  split_salt="perfbench")
            (out.select("doc_id", "valid", "cluster_id", "is_canonical",
                        "split").write.mode("overwrite")
             .parquet(self.out_dir(k)))
        return None

    def check(self, k: int, result) -> list[str]:
        con = duckdb_conn()
        t = f"read_parquet('{_pq(self.out_dir(k))}')"
        rows, valid, bad_split = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE valid), count(*) "
            f"FILTER (WHERE split NOT IN ('train', 'val', 'test') OR split "
            f"IS NULL) FROM {t}").fetchone()
        canon = dict(con.execute(
            f"SELECT doc_id, is_canonical FROM {t}").fetchall())
        con.close()
        errs = []
        if (rows, valid) != (self.expect_rows, self.expect_valid):
            errs.append(f"(rows, valid) = {(rows, valid)} != DuckDB "
                        f"{(self.expect_rows, self.expect_valid)}")
        if bad_split:
            errs.append(f"{bad_split} rows carry no valid split label")
        wrong = [g for g in self.groups
                 if sum(bool(canon.get(d)) for d in g) != 1]
        if wrong:
            errs.append(f"{len(wrong)} of {len(self.groups)} planted "
                        f"duplicate groups keep != 1 canonical row, e.g. "
                        f"{wrong[:3]}")
        return errs

    def probes(self, spark, tr) -> list[list[str]]:
        import jsonschema_spark.validator as validator
        docs = spark.read.parquet(self.path)
        v = validator.CompiledValidator(CURATE_SPEC, docs)
        with tr.span("probe.validator.counts"):
            v.counts(docs)
        return []


WORKLOADS = {w.name: w for w in (Ingest, Audit, WideSchema, Curate)}
