"""Tests of the benchmark itself: generators, oracle checks, smoke runs.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

N = 4000


# -------------------------------------------------------------- generators

def _tables(seed):
    schema, layout = gen.wide_schema(seed)
    wide, planted = gen.wide_table(seed, 500, layout)
    corpus, groups = gen.corpus_table(seed, 500)
    return {"images": gen.images_table(seed, N),
            "clean": gen.images_table(seed, 500, planted=False),
            "schema": json.dumps(schema, sort_keys=True),
            "wide": wide, "planted": planted,
            "corpus": corpus, "groups": groups}


@pytest.fixture(scope="module")
def seeds():
    return _tables(1), _tables(1), _tables(2)


@pytest.mark.parametrize("name", ["images", "clean", "schema", "wide",
                                  "planted", "corpus", "groups"])
def test_generator_deterministic_per_seed(seeds, name):
    a, b, c = (s[name] for s in seeds)
    assert a == b
    assert a != c


def test_planted_rates_are_exact():
    t = gen.images_table(5, 100_000)
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]   # noqa: E731
    con.register("t", t)
    assert q("SELECT count(*) FROM t WHERE image_id LIKE 'IMG-%'") == 100
    # two out-of-enum classes ("bmp", "") of 1% each, as images_df plants
    assert q("SELECT count(*) FROM t WHERE fmt NOT IN "
             "('jpeg', 'png', 'webp')") == 2000
    assert q("SELECT count(*) FROM t WHERE caption IS NULL") == 500
    assert q("SELECT count(*) FROM t WHERE caption = ''") == 200
    assert q("SELECT count(*) FROM t WHERE length(caption) > 2048") == 100
    assert q("SELECT count(*) FROM t WHERE w < 1 OR w > 16384 "
             "OR h < 1") == 600
    assert q("SELECT count(*) FROM t WHERE octet_length(bytes) < 16") == 100
    assert q("SELECT count(*) FROM t WHERE license_id = 'lic_missing'") == 200


def test_wide_table_plants_the_stated_fraction():
    _, layout = gen.wide_schema(3)
    _, planted = gen.wide_table(3, 1000, layout)
    assert len(planted) == round(1000 * gen.WIDE_FAIL_FRACTION)


# ---------------------------------------------------------- oracle checks

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.STATE = str(tmp_path_factory.mktemp("state"))
    run.configure_env()
    s = run.start_spark()
    yield s
    run.stop_spark(s)


def _workload(name, spark, tmp_path, rows=N):
    cls = WORKLOADS[name]
    inputs = gen.ensure(str(tmp_path / "cache"), cls.kind, 7, rows)
    wl = cls(7, rows, inputs, str(tmp_path / "work"))
    wl.prepare(spark)
    return wl


def _drop_one(path, pred):
    """Rewrite the parquet file under `path` holding the first row that
    satisfies `pred(row)` without that row."""
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(d, f)
            t = pq.read_table(full)
            rows = t.to_pylist()
            for i, r in enumerate(rows):
                if pred(r):
                    pq.write_table(t.take([j for j in range(len(rows))
                                           if j != i]), full)
                    return r
    raise AssertionError("no row to drop")


def test_ingest_check_catches_a_dropped_violation_row(spark, tmp_path):
    wl = _workload("ingest", spark, tmp_path)
    res = wl.job(spark, 0, run_null())
    assert wl.check(0, res) == []
    _drop_one(os.path.join(wl.out_dir(0), "violations"),
              lambda r: r["keyword"] == "enum")
    assert wl.check(0, res)


def test_audit_check_catches_a_dropped_violation_row(spark, tmp_path):
    wl = _workload("audit", spark, tmp_path)
    res = wl.job(spark, 0, run_null())
    assert wl.check(0, res) == []
    perturbed = [dict(r.asDict(), n=r["n"] - 1)
                 if r["keyword"] == "referential:license_id" else r.asDict()
                 for r in res]
    assert wl.check(0, perturbed)


def test_wide_check_catches_a_dropped_violation_row(spark, tmp_path):
    wl = _workload("wide_schema", spark, tmp_path, rows=600)
    res = wl.job(spark, 0, run_null())
    assert wl.check(0, res) == []
    sampled = set(wl.sample)
    _drop_one(wl.out_dir(0), lambda r: r["rid"] in sampled)
    assert wl.check(0, res)


def test_curate_check_catches_a_lost_canonical_row(spark, tmp_path):
    wl = _workload("curate", spark, tmp_path, rows=600)
    res = wl.job(spark, 0, run_null())
    assert wl.check(0, res) == []
    member = wl.groups[0]
    _drop_one(wl.out_dir(0),
              lambda r: r["doc_id"] in member and r["is_canonical"])
    assert wl.check(0, res)


def run_null():
    import tracing
    return tracing.NULL_TRACER


# -------------------------------------------------------------- smoke runs

@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace, tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.01"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, out.stdout[-3000:]
    assert res["attempted"] >= 1 + run.MIN_WARM_JOBS
    names = {m["name"] for m in json.load(open(
        os.path.join(ROOT, "BENCHMARK.json")))[
            "per_layer" if trace else "end_to_end"]}
    assert set(res["metrics"]) == names


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only the benchmark exits non-zero, printing
    no result."""
    import shutil
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
