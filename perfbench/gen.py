"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
always writes byte-identical parquet, a different seed moves every
planted case and every random value.  Generation runs in the benchmark's
own process with numpy + pyarrow (no Spark), so it is excluded from the
benchmark's set-up time and costs the program under test nothing.

Inputs:

- ``images``: the image+caption table of FIXTURES.md section 1, with the
  documented planted rates (one row per residue class of a seeded
  permutation, so each rate is exact), plus ``license_id`` and a unique
  ``row_id`` for per-row oracle joins;
- ``images_clean``: an unplanted snapshot drawn from the same
  distributions, the drift baseline's source;
- ``licenses``: the 8-row license dim;
- ``wide``: a ``$ref``-heavy nested schema and a table of struct rows
  for it, ~30% of rows carrying 1-3 planted violations;
- ``corpus``: a text corpus with planted exact and near duplicate
  groups, listed in ``dup_groups.json``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator's output changes, so cached inputs rebuild
GEN_VERSION = 2

# planted violation rates (FIXTURES.md section 1): (modulus, remainder)
DUP_ID = (200, 7)            # 0.5% duplicated image_ids
BAD_ID = (1000, 13)          # 0.1% malformed image_ids
BAD_W_ZERO = (500, 11)       # 0.2% out-of-range w/h, three classes
BAD_W_HUGE = (500, 211)
BAD_H_NEG = (500, 311)
BAD_FMT_BMP = (100, 37)      # 1% out-of-enum fmt, two classes
BAD_FMT_EMPTY = (100, 73)
NULL_CAPTION = (200, 3)      # 0.5% null captions
EMPTY_CAPTION = (500, 101)   # 0.2% empty captions
LONG_CAPTION = (1000, 207)   # 0.1% captions over 2048 chars
DUP_PHASH = (333, 5)         # 0.3% colliding phash
NEAR_PHASH_1 = (389, 9)      # ~0.5% near-dup phash: 1 bit vs previous row
NEAR_PHASH_3 = (389, 97)     #                      3 bits vs previous row
TRUNC_BYTES = (1000, 41)     # 0.1% truncated payloads
ORPHAN_LICENSE = (500, 17)   # 0.2% license_id absent from the dim

N_LICENSES = 8

VOCAB = [
    "cat", "dog", "sunset", "mountain", "river", "portrait", "street",
    "macro", "night", "forest", "ocean", "city", "bird", "flower", "cloud",
    "vintage", "abstract", "light", "shadow", "mirror", "window", "bridge",
    "train", "market", "festival", "rain", "snow", "desert", "island",
    "garden", "museum", "library", "harbor", "canyon", "glacier", "meadow",
]

_BODY = bytes(range(48, 112)) * 4          # 256 deterministic body bytes


def _write(table: pa.Table, path: str, files: int) -> None:
    """Write `table` as `files` equal parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files) if n else 1
    for k, lo in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(lo, step), os.path.join(
            path, f"part-{k:03d}.parquet"), compression="snappy")


def _hit(k: np.ndarray, rule: tuple[int, int]) -> np.ndarray:
    return k % rule[0] == rule[1]


# ----------------------------------------------------------------- images

def images_table(seed: int, n: int, planted: bool = True) -> pa.Table:
    """The image+caption table; `planted=False` gives the clean snapshot."""
    rng = np.random.default_rng([seed, 1])
    i = np.arange(n, dtype=np.int64)
    # k: a seeded bijection of row positions; each planted class is one
    # residue of k, so its count is exactly n/modulus (rounded) and the
    # classes stay disjoint exactly as in FIXTURES.md
    k = rng.permutation(n).astype(np.int64) if planted else \
        np.full(n, -1, dtype=np.int64)
    prev_ok = i > 0

    uid = (i * 0x9E3779B97F4B + int(rng.integers(0, 1 << 47))) & ((1 << 48) - 1)
    src = np.where(_hit(k, DUP_ID) & prev_ok, i - 1, i)
    bad_id = _hit(k, BAD_ID)
    image_id = [f"IMG-{uid[s]:012X}" if b else f"img_{uid[s]:012x}"
                for s, b in zip(src.tolist(), bad_id.tolist())]

    lo, hi = np.log(16.0), np.log(4096.0)
    w = np.floor(np.exp(lo + rng.random(n) * (hi - lo))).astype(np.int32)
    h = np.floor(np.exp(lo + rng.random(n) * (hi - lo))).astype(np.int32)
    w[_hit(k, BAD_W_ZERO)] = 0
    w[_hit(k, BAD_W_HUGE)] = 20000
    h[_hit(k, BAD_H_NEG)] = -3

    r = rng.random(n)
    fmt = np.where(r < 0.80, "jpeg", np.where(r < 0.95, "png", "webp"))
    fmt = fmt.astype(object)
    fmt[_hit(k, BAD_FMT_BMP)] = "bmp"
    fmt[_hit(k, BAD_FMT_EMPTY)] = ""

    # bimodal word count: 70% short (5-15 words), 30% long (60-180)
    short = rng.random(n) < 0.7
    n_words = np.where(short, rng.integers(5, 16, n), rng.integers(60, 181, n))
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    ends = np.cumsum(n_words)
    vocab = np.array(VOCAB, dtype=object)[words].tolist()
    caption = [" ".join(vocab[e - c:e])
               for e, c in zip(ends.tolist(), n_words.tolist())]
    for j in np.flatnonzero(_hit(k, NULL_CAPTION)).tolist():
        caption[j] = None
    for j in np.flatnonzero(_hit(k, EMPTY_CAPTION)).tolist():
        caption[j] = ""
    for j in np.flatnonzero(_hit(k, LONG_CAPTION)).tolist():
        caption[j] = "x" * 3000

    base = rng.integers(0, (1 << 61) - 1, n, dtype=np.int64)
    dup_ph = np.flatnonzero(_hit(k, DUP_PHASH) & prev_ok)
    base[dup_ph] = base[dup_ph - 1]
    phash = base.copy()
    bit = (k % 58).astype(np.int64)
    for rule, mask in ((NEAR_PHASH_1, 1), (NEAR_PHASH_3, 7)):
        sel = np.flatnonzero(_hit(k, rule) & prev_ok)
        phash[sel] = base[sel - 1] ^ (np.int64(mask) << bit[sel])

    # synthetic payload: 16-byte header (magic | w hex | h hex | check)
    # then a deterministic body of min(240, w*h/65536 + 16) bytes
    wd = np.maximum(w, 1).astype(np.int64)
    hd = np.maximum(h, 1).astype(np.int64)
    body_len = np.minimum(240, wd * hd // 65536 + 16)
    trunc = _hit(k, TRUNC_BYTES)
    payload = []
    for wj, hj, fj, bl, tr in zip(wd.tolist(), hd.tolist(), fmt.tolist(),
                                  body_len.tolist(), trunc.tolist()):
        blob = (b"IMG0%04X%04X" % (wj, hj) + fj[:4].ljust(4, "_").encode()
                + _BODY[:bl])
        payload.append(blob[:8] if tr else blob)

    lic = rng.integers(0, N_LICENSES, n)
    license_id = np.array([f"lic_{x}" for x in range(N_LICENSES)],
                          dtype=object)[lic]
    license_id[_hit(k, ORPHAN_LICENSE)] = "lic_missing"

    return pa.table({
        "row_id": pa.array(i),
        "image_id": pa.array(image_id, pa.string()),
        "bytes": pa.array(payload, pa.binary()),
        "w": pa.array(w, pa.int32()),
        "h": pa.array(h, pa.int32()),
        "fmt": pa.array(fmt.tolist(), pa.string()),
        "caption": pa.array(caption, pa.string()),
        "phash": pa.array(phash, pa.int64()),
        "license_id": pa.array(license_id.tolist(), pa.string()),
    })


def licenses_table() -> pa.Table:
    return pa.table({
        "license_id": [f"lic_{x}" for x in range(N_LICENSES)],
        "name": [f"License {x}" for x in range(N_LICENSES)],
    })


# ------------------------------------------------------------ wide schema

def _leaf_templates() -> dict:
    """name -> (arrow type, JSON schema, valid(rng, n), invalid(rng, n))."""
    def s(vals):
        return lambda rng, n: np.array(vals, dtype=object)[
            rng.integers(0, len(vals), n)]
    labels = ["red", "green", "blue", "cyan", "magenta", "yellow"]
    return {
        "code": (pa.string(),
                 {"type": "string", "pattern": "^[A-Z]{2}-[0-9]{3}$",
                  "minLength": 6, "maxLength": 6},
                 lambda rng, n: np.array(
                     [f"{chr(65 + a)}{chr(65 + b)}-{c:03d}" for a, b, c in
                      zip(rng.integers(0, 26, n), rng.integers(0, 26, n),
                          rng.integers(0, 1000, n))], dtype=object),
                 s(["ab-123", "AB-12", "ABC-1234"])),
        "score": (pa.float64(),
                  {"type": "number", "minimum": 0, "maximum": 100,
                   "multipleOf": 0.5},
                  lambda rng, n: rng.integers(0, 201, n) * 0.5,
                  lambda rng, n: np.array([150.0, -1.0, 3.25])[
                      rng.integers(0, 3, n)]),
        "count": (pa.int64(),
                  {"type": "integer", "minimum": 0,
                   "exclusiveMaximum": 1000000},
                  lambda rng, n: rng.integers(0, 1000000, n),
                  lambda rng, n: np.array([-5, 1000000, 2000000])[
                      rng.integers(0, 3, n)]),
        "label": (pa.string(), {"type": "string", "enum": labels},
                  s(labels), s(["zzz", "Red", ""])),
        "alias": (pa.string(),
                  {"type": "string",
                   "anyOf": [{"maxLength": 4}, {"pattern": "^x"}]},
                  s(["ab", "abcd", "xlongalias", "x_more_text"]),
                  s(["abcdefg", "yyyyy", "alias_long"])),
        "slug": (pa.string(),
                 {"type": "string",
                  "pattern": "^(?#python-only)[a-z]+_[0-9]+$"},
                 lambda rng, n: np.array(
                     [f"{VOCAB[a]}_{b}" for a, b in
                      zip(rng.integers(0, len(VOCAB), n),
                          rng.integers(0, 999, n))], dtype=object),
                 s(["Cat_1", "dog-2", "_3"])),
        "ip": (pa.string(), {"type": "string", "format": "ipv6"},
               lambda rng, n: np.array(
                   [f"2001:db8::{a:x}:{b:x}" for a, b in
                    zip(rng.integers(0, 65536, n),
                        rng.integers(0, 65536, n))], dtype=object),
               s(["2001:db8::g1", "1:2:3", "fe80::1%eth0", "::ffff:1.2.3"])),
        "rx": (pa.string(), {"type": "string", "format": "regex"},
               s(["^a+b$", "[0-9]{2,4}", "(foo|bar)baz", "\\d+\\.\\d*"]),
               s(["a(b", "[z-a]", "*x", "(?P<1>y)"])),
    }


#: struct templates: name -> (fields, required, extra schema keywords)
_STRUCTS = {
    "ident": (["code", "label", "alias"], ["code", "label"], {}),
    "metric": (["score", "count"], ["score"], {}),
    "tagged": (["label", "slug"], ["label"], {}),
    "net": (["ip", "code"], ["ip"], {}),
    "pattern": (["rx", "alias"], ["rx"], {}),
    "span": (["count", "score", "label"], ["count", "score"], {}),
    # if/then/else on a sibling const
    "gated": (["label", "count"], ["label", "count"],
              {"if": {"properties": {"label": {"const": "red"}}},
               "then": {"properties": {"count": {"maximum": 1000}}},
               "else": {"properties": {"count": {"minimum": 10}}}}),
    "pair": (["code", "score", "label", "count"], ["code"], {}),
}

#: top-level properties, each a struct of a template (a multiple of the
#: number of templates)
WIDE_PROPERTIES = 40
WIDE_FAIL_FRACTION = 0.30


def wide_schema(seed: int) -> tuple[dict, dict]:
    """(schema, layout): layout maps property -> struct template name."""
    rng = np.random.default_rng([seed, 2])
    names = sorted(_STRUCTS)
    # every template equally often (so the Python-only pattern, both UDF
    # formats and the if/then/else are present, and every seed compiles
    # the same number of checks of each kind); the seed orders them
    picks = names * (WIDE_PROPERTIES // len(names))
    rng.shuffle(picks)
    layout = {f"p{j:02d}_{t}": t for j, t in enumerate(picks)}
    leaves = _leaf_templates()
    defs = {f"leaf_{name}": spec for name, (_, spec, _, _) in leaves.items()}
    for t, (fields, required, extra) in _STRUCTS.items():
        defs[f"obj_{t}"] = {
            "type": "object",
            "required": required,
            "properties": {f: {"$ref": f"#/$defs/leaf_{f}"} for f in fields},
            **extra,
        }
    schema = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "$defs": defs,
        "type": "object",
        "required": sorted(layout),
        "properties": {p: {"$ref": f"#/$defs/obj_{t}"}
                       for p, t in sorted(layout.items())},
    }
    return schema, layout


def wide_table(seed: int, n: int, layout: dict) -> tuple[pa.Table, list]:
    """(table, planted row ids): rows of struct columns;
    WIDE_FAIL_FRACTION of rows (exact) carry 1-3 planted violations,
    each in a random leaf of a random property (a bad value, or NULL for
    a required field).  Every other row is valid."""
    rng = np.random.default_rng([seed, 3])
    leaves = _leaf_templates()
    props = sorted(layout)
    n_bad = int(round(n * WIDE_FAIL_FRACTION))
    bad_rows = rng.permutation(n)[:n_bad]
    n_hits = rng.integers(1, 4, n_bad)
    hit_row = np.repeat(bad_rows, n_hits)
    hit_prop = rng.integers(0, len(props), len(hit_row))
    hit_leaf = rng.integers(0, 1 << 30, len(hit_row))
    cols = {"rid": pa.array(np.arange(n, dtype=np.int64))}
    for pj, p in enumerate(props):
        fields, required, _ = _STRUCTS[layout[p]]
        sel = hit_prop == pj
        rows_p, leaf_p = hit_row[sel], hit_leaf[sel] % len(fields)
        arrays = []
        for fj, f in enumerate(fields):
            typ, _, valid, invalid = leaves[f]
            vals = valid(rng, n)
            bad = rows_p[leaf_p == fj]
            mask = np.zeros(n, dtype=bool)
            if len(bad):
                if f in required and layout[p] != "gated":
                    # half the planted hits on a required field are NULL
                    # (-> "required"), half a bad value
                    as_null = rng.random(len(bad)) < 0.5
                    mask[bad[as_null]] = True
                    bad = bad[~as_null]
                vals[bad] = invalid(rng, len(bad))
            if layout[p] == "gated" and f == "count":
                lab = arrays[0].to_numpy(zero_copy_only=False)
                red = lab == "red"
                ok = np.where(red, rng.integers(0, 1001, n),
                              rng.integers(10, 100000, n))
                vals = np.where(np.isin(np.arange(n), bad),
                                np.where(red, 5000, 3), ok)
            arrays.append(pa.array(vals.tolist(), typ, mask=mask))
        cols[p] = pa.StructArray.from_arrays(arrays, fields)
    return pa.table(cols), sorted(bad_rows.tolist())


# ----------------------------------------------------------------- corpus

CORPUS_VOCAB = 4000
DUP_GROUPS_FRACTION = 0.05      # share of docs that seed a duplicate group


def corpus_table(seed: int, n: int) -> tuple[pa.Table, list[list[int]]]:
    """(docs, groups): docs(doc_id, text, lang, n_words) with planted
    duplicate groups of 2-4 members: the group's first member is an
    original, every other member an exact copy or a near copy (2 of
    60-100 words replaced).  `groups` lists each group's doc_ids."""
    rng = np.random.default_rng([seed, 4])
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "qu",
            "ba", "de", "fi", "go", "hu", "ja"]
    vocab = ["".join(syll[x] for x in rng.integers(0, len(syll), 3)) + str(j)
             for j in range(CORPUS_VOCAB)]
    n_groups = int(n * DUP_GROUPS_FRACTION)
    sizes = rng.integers(2, 5, n_groups)
    n_orig = n - int((sizes - 1).sum())
    texts: list[str] = []
    groups: list[list[int]] = []
    origins = rng.permutation(n_orig)[:n_groups]
    base_words = [rng.integers(0, CORPUS_VOCAB, int(c))
                  for c in rng.integers(60, 101, n_orig)]
    for words in base_words:
        texts.append(" ".join(vocab[w] for w in words))
    for g, o in enumerate(origins.tolist()):
        members = [o]
        for _ in range(int(sizes[g]) - 1):
            words = base_words[o].copy()
            if rng.random() < 0.5:      # near copy: 2 words replaced
                pos = rng.choice(len(words), 2, replace=False)
                words[pos] = rng.integers(0, CORPUS_VOCAB, 2)
            members.append(len(texts))
            texts.append(" ".join(vocab[w] for w in words))
        groups.append(members)
    # shuffle positions so duplicates are not adjacent; doc ids follow
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    texts = [texts[j] for j in order.tolist()]
    groups = [sorted(int(new_id[m]) for m in grp) for grp in groups]
    langs = np.array(["en", "de", "fr", "es", "xx"], dtype=object)[
        np.where(rng.random(len(texts)) < 0.02, 4,
                 rng.integers(0, 4, len(texts)))]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "n_words": pa.array([t.count(" ") + 1 for t in texts], pa.int32()),
    })
    return table, groups


# ------------------------------------------------------------------ cache

def _build(kind: str, seed: int, n: int, out: str) -> None:
    if kind == "images":
        _write(images_table(seed, n), os.path.join(out, "images"), 8)
        _write(images_table(seed + 1_000_003, max(n // 5, 1000),
                            planted=False),
               os.path.join(out, "images_clean"), 2)
        _write(licenses_table(), os.path.join(out, "licenses"), 1)
    elif kind == "wide":
        schema, layout = wide_schema(seed)
        with open(os.path.join(out, "schema.json"), "w") as f:
            json.dump({"schema": schema, "layout": layout}, f, indent=1,
                      sort_keys=True)
        table, planted = wide_table(seed, n, layout)
        _write(table, os.path.join(out, "wide"), 8)
        with open(os.path.join(out, "planted.json"), "w") as f:
            json.dump(planted, f)
    elif kind == "corpus":
        table, groups = corpus_table(seed, n)
        _write(table, os.path.join(out, "corpus"), 4)
        with open(os.path.join(out, "dup_groups.json"), "w") as f:
            json.dump(groups, f)
    else:
        raise ValueError(f"unknown input kind {kind!r}")


def ensure(cache_root: str, kind: str, seed: int, n: int) -> str:
    """Directory holding input `kind` for (seed, n), generated on first
    use.  A finished directory carries a `_DONE` marker; a half-written
    one is rebuilt."""
    out = os.path.join(cache_root, f"{kind}-v{GEN_VERSION}-s{seed}-n{n}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    _build(kind, seed, n, out)
    open(os.path.join(out, "_DONE"), "w").close()
    return out
