"""Output checks of the benchmark, made outside the timed runs.

Query results are compared the way the program's local correctness gate
(scripts/selfcheck.py) compares them with DuckDB: columns sorted by name,
every cell rendered as text (floats by repr, so bit-exact), rows sorted.
Here the rendered table is reduced to a row count and a SHA-256 content
hash, so expected values can also be recorded once for a fixed fixture.
"""
import glob
import hashlib
import json
import os

import pandas as pd

TABLES = ["events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NaT:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = df.apply(lambda c: c.map(cell)) if len(df.columns) else df
    if len(out.columns):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def digest(df):
    """(rows, sha256) of a result frame in the canonical text form."""
    n = _norm(df)
    h = hashlib.sha256()
    h.update(("\t".join(n.columns) + "\n").encode())
    for row in n.itertuples(index=False):
        h.update(("\t".join(row) + "\n").encode())
    return len(n), h.hexdigest()


def spark_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def duckdb_results(data_dir, oracle_sql):
    """Runs each oracle query over the parquet tables of `data_dir`."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = digest(con.execute(sql).fetchdf())
        except Exception as e:  # reported as a failed check, never skipped
            out[name] = ("error", f"{type(e).__name__}: {e}"[:300])
    con.close()
    return out


def compare_queries(results_dir, names, expected, result_errors):
    """Per-query check of Spark's dumped results against expected digests.

    Returns {query: {"ok": bool, ...}}; a query with no expected digest fails."""
    checks = {}
    for name in names:
        exp = expected.get(name)
        if name in result_errors:
            checks[name] = {"ok": False, "why": result_errors[name]}
            continue
        if exp is None or exp[0] == "error":
            checks[name] = {"ok": False, "why": f"no oracle result: {exp[1] if exp else 'missing'}"}
            continue
        got_df = spark_result(os.path.join(results_dir, name))
        if got_df is None:
            checks[name] = {"ok": False, "why": "no spark output"}
            continue
        got = digest(got_df)
        checks[name] = {"ok": tuple(got) == tuple(exp), "rows": got[0], "expected_rows": exp[0]}
        if not checks[name]["ok"]:
            checks[name]["why"] = "row count or content hash differs from the oracle"
    return checks


def check_ingest(replays, expected):
    """Each replay's sink against the generator's exact counts."""
    out = []
    for i, got in enumerate(replays):
        if "error" in got:
            out.append({"replay": i, "ok": False, "why": got["error"]})
            continue
        problems = []
        if got["rows"] != expected["rows"]:
            problems.append(f"rows {got['rows']} != {expected['rows']}")
        if got["chunks"] != expected["chunks"]:
            problems.append(f"chunks {got['chunks']} != {expected['chunks']}")
        if got["located"] != expected["located"]:
            problems.append(f"located {got['located']} != {expected['located']}")
        if got["input_rows"] != expected["input_rows"]:
            problems.append(f"input rows {got['input_rows']} != {expected['input_rows']}")
        out.append({"replay": i, "ok": not problems, "why": "; ".join(problems)})
    return out


def load_expected(path):
    with open(path) as fh:
        return {k: tuple(v) for k, v in json.load(fh).items()}
