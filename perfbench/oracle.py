"""Reference computations the workloads' outputs are checked against.

None of these call the engine: DuckDB reads the same parquet, the
installed ``jsonschema`` validates a row sample, and the payload check
parses the synthetic image header on its own.
"""

from __future__ import annotations

from typing import Any, Iterable

import duckdb


def duckdb_conn():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _instance(value: Any) -> Any:
    """Table value -> JSON instance: NULL = absent property, binary
    columns dropped (not JSON-representable, not constrained row-level)."""
    if isinstance(value, dict):
        return {k: _instance(v) for k, v in value.items()
                if v is not None and not isinstance(v, bytes)}
    if isinstance(value, list):
        return [_instance(v) for v in value]
    return value


def jsonschema_sets(schema: dict, rows: list[dict], id_key: str,
                    formats: bool = False) -> dict[int, set]:
    """row id -> {(keyword, json_path)} from ``iter_errors``."""
    import jsonschema
    cls = jsonschema.validators.validator_for(schema)
    v = cls(schema, format_checker=cls.FORMAT_CHECKER if formats else None)
    return {r[id_key]: {(e.validator, e.json_path)
                        for e in v.iter_errors(_instance(r))}
            for r in rows}


def engine_sets(rows: Iterable[tuple], sample: list[int],
                expected: dict[int, set]) -> list[str]:
    """Compare engine violation rows (id, keyword, json_path) for the
    sampled ids with the reference sets; one message per run of
    mismatches."""
    got: dict[int, set] = {i: set() for i in sample}
    for rid, kw, path in rows:
        got[rid].add((kw, path))
    bad = [i for i in sample if got[i] != expected[i]]
    if not bad:
        return []
    i = bad[0]
    return [f"{len(bad)} of {len(sample)} sampled rows disagree with "
            f"jsonschema, e.g. row {i}: engine {sorted(got[i])} vs "
            f"reference {sorted(expected[i])}"]


def pixel_invariant_failures(table) -> int:
    """Rows whose synthetic payload fails the decode invariant: header
    missing or cut, header dims != (w, h), or body shorter than the
    deterministic length for those dims."""
    bad = 0
    for w, h, blob in zip(table.column("w").to_pylist(),
                          table.column("h").to_pylist(),
                          table.column("bytes").to_pylist()):
        if blob is None or len(blob) < 16 or blob[:4] != b"IMG0":
            bad += 1
            continue
        hw, hh = int(blob[4:8], 16), int(blob[8:12], 16)
        if (hw, hh) != (w, h) or len(blob) - 16 < min(240, hw * hh // 65536
                                                     + 16):
            bad += 1
    return bad
