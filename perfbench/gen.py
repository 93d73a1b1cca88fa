"""Seeded generator for the `catalog_wide` workload: a directory catalog of
small tables (`<table>.parquet`, `.csv` or `.json`) that graft's
ParquetDirCatalog reads.

The catalog varies, by seed, the properties the profiler's cost depends
on: rows and columns per table, column types, null fraction, string
cardinality, file format, and how many tables share a schema. The totals
(tables, rows, columns per type) are drawn from fixed ladders that the seed
only permutes and jitters, so every seed asks for about the same work.

A catalog is written once per (generator version, seed, size) and reused;
`manifest.json` beside the tables records what was produced.
"""
import hashlib
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TYPES = ["int", "long", "double", "decimal", "string", "boolean", "date", "timestamp"]
# CSV and JSON tables keep to types both Spark's and DuckDB's schema
# inference read back as written.
TEXT_FORMAT_TYPES = ["int", "long", "double", "string", "boolean"]
NULL_FRACTIONS = [0.0, 0.0, 0.02, 0.1, 0.3, 0.8]
CARDINALITIES = [2, 12, 300, 5000, None]  # None: (nearly) unique strings
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]


def _version():
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:10]


def _ladder(lo, hi, n):
    """n values spread geometrically over [lo, hi]."""
    if n == 1:
        return [lo]
    return [lo * (hi / lo) ** (i / (n - 1)) for i in range(n)]


def _column(rng, kind, rows, null_frac, card):
    if kind == "int":
        vals = rng.integers(-50_000, 50_000, rows).astype(np.int32)
        arr = pa.array(vals, pa.int32())
    elif kind == "long":
        vals = rng.integers(0, 10**12, rows, dtype=np.int64)
        arr = pa.array(vals, pa.int64())
    elif kind == "double":
        vals = np.round(rng.normal(1000.0, 250.0, rows), 3)
        arr = pa.array(vals, pa.float64())
    elif kind == "decimal":
        import decimal
        cents = rng.integers(-10**9, 10**9, rows)
        arr = pa.array([decimal.Decimal(int(c)).scaleb(-2) for c in cents], pa.decimal128(12, 2))
    elif kind == "string":
        n = rows if card is None else card
        pool = ["%s_%s_%d" % (WORDS[i % len(WORDS)], "x" * int(i % 17), i) for i in range(n)]
        idx = rng.permutation(rows) % n if card is None else rng.integers(0, n, rows)
        arr = pa.array([pool[i] for i in idx], pa.string())
    elif kind == "boolean":
        arr = pa.array(rng.random(rows) < 0.4, pa.bool_())
    elif kind == "date":
        days = rng.integers(0, 20_000, rows).astype("int32")
        arr = pa.array(days, pa.int32()).cast(pa.date32())
    elif kind == "timestamp":
        us = rng.integers(0, 1_900_000_000, rows, dtype=np.int64) * 1_000_000
        arr = pa.array(us, pa.int64()).cast(pa.timestamp("us"))
    else:
        raise ValueError(kind)
    if null_frac > 0:
        mask = rng.random(rows) < null_frac
        mask[0] = False  # keep every column non-empty
        arr = pa.array(arr.to_pylist(), arr.type, mask=mask)
    return arr


def plan(seed, tables, min_rows, max_rows, min_cols, max_cols, text_tables, repeats):
    """Table specs for one seed.

    The shape of the catalog is fixed: slot i pairs the i-th step of the
    row ladder with a fixed scramble of the width ladder, the text-format
    tables sit at fixed slots, `repeats` fixed pairs of parquet slots share
    one schema, and tables are named (so listed and profiled) in slot
    order. Each table gets an even mix of column types; null fractions and
    string cardinalities are dealt from balanced decks. So every seed asks
    for about the same work. The seed jitters row counts, draws each
    table's remainder types and deals the decks."""
    rng = np.random.default_rng(seed)
    rows_l = _ladder(min_rows, max_rows, tables)
    cols_l = _ladder(min_cols, max_cols, tables)
    stride = next(k for k in range(tables // 3 + 1, tables + 1) if math.gcd(k, tables) == 1)
    rows = [int(rows_l[i] * rng.uniform(0.95, 1.05)) for i in range(tables)]
    cols = [int(round(cols_l[(i * stride) % tables])) for i in range(tables)]
    step = tables / max(1, text_tables)
    formats = ["parquet"] * tables
    for k in range(text_tables):
        formats[int(k * step + step / 2)] = "csv" if k % 2 == 0 else "json"
    parquet = [t for t in range(tables) if formats[t] == "parquet"]
    copies = {parquet[2 * k]: parquet[2 * k + 1] for k in range(repeats)}
    for a, b in copies.items():
        cols[a] = cols[b]

    def deal(kinds, n):
        deck = list(kinds) * (n // len(kinds) + 1)
        return [deck[i] for i in rng.permutation(len(deck))[:n]]

    def mix(types, n):
        """Every type n // len(types) times, the remainder drawn."""
        kinds = list(types) * (n // len(types)) + \
            [str(k) for k in rng.choice(types, n % len(types), replace=False)]
        return [kinds[i] for i in rng.permutation(n)]

    own = [t for t in range(tables) if t not in copies]
    kinds = {t: mix(TYPES if formats[t] == "parquet" else TEXT_FORMAT_TYPES, cols[t]) for t in own}
    nulls = iter(deal(NULL_FRACTIONS, sum(cols[t] for t in own)))
    cards = iter(deal(CARDINALITIES, sum(k.count("string") for k in kinds.values())))
    schemas = {t: [{"name": "c%02d_%s" % (j, k), "type": k, "null_frac": next(nulls),
                    "cardinality": next(cards) if k == "string" else None}
                   for j, k in enumerate(kinds[t])] for t in own}
    for a, b in copies.items():
        schemas[a] = [dict(c) for c in schemas[b]]
    return [{"name": "t%02d_%s" % (t, WORDS[int(rng.integers(0, len(WORDS)))]),
             "format": formats[t], "rows": rows[t], "columns": schemas[t]}
            for t in range(tables)]


def write_table(path_base, spec, seed):
    rng = np.random.default_rng([seed, spec["rows"], len(spec["columns"])])
    arrays = [_column(rng, c["type"], spec["rows"], c["null_frac"], c["cardinality"])
              for c in spec["columns"]]
    table = pa.table(arrays, names=[c["name"] for c in spec["columns"]])
    if spec["format"] == "parquet":
        path = path_base + ".parquet"
        pq.write_table(table, path)
    elif spec["format"] == "csv":
        path = path_base + ".csv"
        pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))
    else:
        path = path_base + ".json"
        with open(path, "w") as f:
            for rec in table.to_pylist():
                f.write(json.dumps({k: v for k, v in rec.items() if v is not None}) + "\n")
    return path


def generate(root, seed, **size):
    """Catalog directory for `seed`, generated on first use."""
    tag = "%s-%s-%s" % (_version(), seed, "-".join("%s%s" % kv for kv in sorted(size.items())))
    out = os.path.join(root, "wide-" + hashlib.sha256(tag.encode()).hexdigest()[:16])
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    data = os.path.join(tmp, "catalog")
    os.makedirs(data)
    tables = []
    for spec in plan(seed, **size):
        path = write_table(os.path.join(data, spec["name"]), spec, seed)
        tables.append({
            "name": spec["name"], "format": spec["format"], "rows": spec["rows"],
            "columns": len(spec["columns"]), "bytes": os.path.getsize(path),
            "types": sorted({c["type"] for c in spec["columns"]}),
        })
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({
            "seed": seed, "size": size, "tables": len(tables),
            "columns": sum(t["columns"] for t in tables),
            "rows": sum(t["rows"] for t in tables),
            "bytes": sum(t["bytes"] for t in tables),
            "per_table": tables,
        }, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
