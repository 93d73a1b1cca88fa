"""Output checks for perfbench, run after the timed region.

Catalog workloads: every table profiled (no -1), the Parquet sink reads
back through Hive partition discovery with one partition per table and the
row counts Runner returned, every metadata JSON parses, and the exact metric
families match an independent DuckDB computation over the same source
files (sums and means on the DECIMAL(38,6) contract).

Query battery: each key's result equals its `SparkEntry.oracleSql`
statement run on DuckDB (cells compared as rendered strings, columns by
name), and every timed pass returned the first pass's rows.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

EXACT = ["Size", "Completeness", "Minimum", "Maximum", "Sum", "Mean", "MaxLength", "MinLength"]
NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT", "DOUBLE", "DECIMAL",
           "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")


def _q(name):
    return '"%s"' % name.replace('"', '""')


def _source(data_dir, table):
    """DuckDB relation over a catalog table, read as graft's
    ParquetDirCatalog reads it (parquet first, then CSV with a header row,
    then JSON lines)."""
    for ext, reader in ((".parquet", "read_parquet('%s')"),
                        (".csv", "read_csv('%s', header=true)"),
                        (".json", "read_json('%s', format='newline_delimited')")):
        path = os.path.join(data_dir, table + ext)
        if os.path.exists(path):
            return reader % path.replace("'", "''")
    return None


def _expected(con, src):
    """(column, metric) -> DuckDB expression for the exact families, by the
    column's type: numeric columns get the numeric battery, text columns the
    length battery, everything else only counts toward Size. Parquet
    TIMESTAMP(NANOS) columns are longs to the profiler (nanosAsLong)."""
    exprs = {("*", "Size"): "CAST(COUNT(*) AS DOUBLE)"}
    for name, typ, *_ in con.execute("DESCRIBE SELECT * FROM %s" % src).fetchall():
        c = _q(name)
        base = typ.split("(")[0]
        if base == "TIMESTAMP_NS":
            c, base = "epoch_ns(%s)" % c, "BIGINT"
        if base in NUMERIC:
            dec = "CAST(SUM(CAST(%s AS DECIMAL(38,6))) AS DOUBLE)" % c
            exprs[(name, "Completeness")] = "COUNT(%s) * 1.0 / COUNT(*)" % c
            exprs[(name, "Minimum")] = "CAST(MIN(%s) AS DOUBLE)" % c
            exprs[(name, "Maximum")] = "CAST(MAX(%s) AS DOUBLE)" % c
            exprs[(name, "Sum")] = dec
            exprs[(name, "Mean")] = "%s / COUNT(%s)" % (dec, c)
        elif base == "VARCHAR":
            exprs[(name, "Completeness")] = "COUNT(%s) * 1.0 / COUNT(*)" % c
            exprs[(name, "MaxLength")] = "CAST(MAX(LENGTH(%s)) AS DOUBLE)" % c
            exprs[(name, "MinLength")] = "CAST(MIN(LENGTH(%s)) AS DOUBLE)" % c
    return exprs


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def catalog(res, data_dir):
    """Returns (attempted, problems): one attempt per table per timed unit."""
    tables = sorted(res["tables"])
    runs = res["runs"]
    bad = {}  # (unit, table) -> first problem

    def problem(unit, table, msg):
        bad.setdefault((unit, table), "%s: %s" % (table, msg))

    last = len(runs) - 1
    for u, run in enumerate(runs):
        if sorted(run["counts"]) != tables:
            problem(u, "*", "profiled tables %s != catalog %s" % (sorted(run["counts"]), tables))
        for t, n in run["counts"].items():
            if n < 0:
                problem(u, t, "Runner returned -1")

    con = duckdb.connect()
    root = res["out_root"]
    # partition discovery: one db_name partition, one table_name partition per table
    dbs = [d for d in os.listdir(root) if d.startswith("db_name=")] if os.path.isdir(root) else []
    parts = sorted(d[len("table_name="):] for db in dbs for d in os.listdir(os.path.join(root, db))
                   if d.startswith("table_name="))
    if len(dbs) != 1 or parts != tables:
        problem(last, "*", "sink partitions %s / %s" % (dbs, parts))
    sink = "read_parquet('%s/**/*.parquet', hive_partitioning=true)" % root
    got = {}
    if dbs:
        for t, ts, n in con.execute(
                "SELECT table_name, strftime(profiler_run_ts, '%%Y-%%m-%%d %%H:%%M:%%S'), COUNT(*) "
                "FROM %s GROUP BY ALL" % sink).fetchall():
            got[(t, ts)] = n
    for u, run in enumerate(runs):
        for t, n in run["counts"].items():
            if n >= 0 and got.get((t, run["run_ts"])) != n:
                problem(u, t, "sink has %s rows for run %s, Runner returned %d"
                        % (got.get((t, run["run_ts"])), run["run_ts"], n))

    # metadata store: one parseable JSON per table, carrying the run's stats
    for t in tables:
        path = os.path.join(res["meta_dir"], t + ".json")
        try:
            meta = json.load(open(path))
            if "DQP__Size" not in meta["tableParameters"]:
                problem(last, t, "metadata lacks DQP__Size")
        except (OSError, ValueError, KeyError, TypeError) as e:
            problem(last, t, "metadata unreadable: %s" % e)

    # exact families of the last run against DuckDB on the source files
    ts = runs[last]["run_ts"] if runs else None
    names = ", ".join("'%s'" % n for n in EXACT)
    for t in tables:
        src = _source(data_dir, t)
        if src is None:
            problem(last, t, "no source file")
            continue
        exprs = _expected(con, src)
        rows = con.execute(
            "SELECT instance, name, value FROM %s WHERE table_name = ? AND name IN (%s) "
            "AND strftime(profiler_run_ts, '%%Y-%%m-%%d %%H:%%M:%%S') = ?" % (sink, names),
            [t, ts]).fetchall() if dbs else []
        spark = {(i, n): v for i, n, v in rows}
        if set(spark) != set(exprs):
            problem(last, t, "metric set differs: missing %s, extra %s"
                    % (sorted(set(exprs) - set(spark))[:5], sorted(set(spark) - set(exprs))[:5]))
            continue
        keys = sorted(exprs)
        want = con.execute("SELECT %s FROM %s" % (", ".join(exprs[k] for k in keys), src)).fetchone()
        for k, v in zip(keys, want):
            if not _close(spark[k], v):
                problem(last, t, "%s %s: profiler %r, DuckDB %r" % (k[0], k[1], spark[k], v))
                break
    attempted = max(1, len(tables) * len(runs))
    return attempted, [bad[k] for k in sorted(bad, key=str)]


def _render(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return str(v)


def _oracle(con, sql, data_dir, cache_dir):
    """The oracle statement's result. The data files and the statement fix
    it, so it is computed once and kept in `cache_dir`."""
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    stamp = [sql] + ["%s %d %d" % (f, os.path.getsize(f), os.stat(f).st_mtime_ns) for f in files]
    path = os.path.join(cache_dir, hashlib.sha256("\n".join(stamp).encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    duck = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    duck.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return duck


def battery(res, data_dir, cache_dir):
    """Returns (attempted, problems): one attempt per key run in a timed pass."""
    keys = [k for u in res["units"] for k, s in u["item_s"].items() for _ in s]
    passes = {k: keys.count(k) for k in keys}
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, f))
    problems = []
    for k in sorted(passes):
        sql = res["oracle_sql"].get(k)
        mism = res["repeat_mismatches"].get(k, 0)
        if mism:
            problems += ["%s: pass differs from the first pass" % k] * mism
        if sql is None:
            problems += ["%s: no oracle SQL" % k] * passes[k]
            continue
        files = glob.glob(os.path.join(res["results_dir"], k, "*.parquet"))
        spark = pq.read_table(files[0]).to_pandas() if files else None
        duck = _oracle(con, sql, data_dir, cache_dir)
        why = None
        if spark is None:
            why = "no result"
        elif sorted(spark.columns) != sorted(duck.columns):
            why = "columns %s != %s" % (sorted(spark.columns), sorted(duck.columns))
        elif len(spark) != len(duck):
            why = "rows %d != %d" % (len(spark), len(duck))
        else:
            for c in sorted(spark.columns):
                diff = [(i, a, b) for i, (a, b) in enumerate(zip(spark[c], duck[c]))
                        if _render(a) != _render(b)]
                if diff:
                    why = "column %s: %d cells differ, first %r" % (c, len(diff), diff[0])
                    break
        if why:
            problems += ["%s: %s" % (k, why)] * (passes[k] - mism)
    return max(1, len(keys)), problems
