"""Output checks, read with DuckDB straight from the files the program wrote.

ETL: every job's target rows equal the generator's expectation (compared by
an order-insensitive digest), every job's raw_columns_rows_hash equals
SheetGrid.hashOf of its fixture, the cursor is the greatest
(modifiedTime, id), and no spreadsheet id appears twice.

Queries: each result's row count and normalized digest equal the values
recorded at the seed commit, normalized as scripts/oracle_check.py does
(columns sorted by name, values by repr, rows sorted).
"""
import glob
import hashlib
import os

import duckdb

import fixtures as fx


def _digest(lines):
    h = hashlib.sha256()
    for line in sorted(repr(x) for x in lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _rows(con, pattern, **opts):
    args = "".join(f", {k}=true" for k in opts)
    rel = con.sql(f"SELECT * FROM read_parquet('{pattern}'{args})")
    return [dict(zip(rel.columns, r)) for r in rel.fetchall()]


def check_warehouse(wh, fixtures_dir, config_path, hashes):
    """Return (problems, jobs checked, logical digest of the warehouse)."""
    con = duckdb.connect()
    problems = []
    sheets = _rows(con, f"{wh}/meta/__meta_spreadsheets/*.parquet")
    jobs = _rows(con, f"{wh}/meta/__meta_etl_jobs/*.parquet")
    gid_of = {s["id"]: s["google_spreadsheet_id"] for s in sheets}
    if len(gid_of) != len(sheets) or len(set(gid_of.values())) != len(sheets):
        problems.append("a spreadsheet id appears twice in __meta_spreadsheets")
    docs = fx.read_fixtures(fixtures_dir)
    newest = {}
    for (sid, _), d in docs.items():
        newest[sid] = max(newest.get(sid, ""), d["modifiedTime"])
    cursor = max((s["google_modified"], s["google_spreadsheet_id"]) for s in sheets)
    if cursor != max((m, sid) for sid, m in newest.items()):
        problems.append(f"cursor {cursor} is not the greatest (modifiedTime, id)")
    modified = {s["google_spreadsheet_id"]: s["google_modified"] for s in sheets}
    expected = fx.expected_jobs(fixtures_dir, config_path)
    job_of = {}
    for j in jobs:
        key = (gid_of.get(j["spreadsheet_id"]), j["sheet_name"])
        if key in job_of:
            problems.append(f"job {key} appears twice")
        job_of[key] = j
    got = {k: [] for k in expected}
    for table in sorted({e["target"] for e in expected.values()}):
        by_id = {j["id"]: k for k, j in job_of.items() if k in expected}
        for r in _rows(con, f"{wh}/tables/{table}/*/*.parquet",
                       hive_partitioning=True, union_by_name=True):
            key = by_id.get(r["_origin_etl_job_id"])
            if key is None or expected[key]["target"] != table:
                problems.append(f"{table}: row of unknown job {r['_origin_etl_job_id']}")
                continue
            cols = expected[key]["columns"]
            stray = [c for c, v in r.items()
                     if v is not None and not c.startswith("_origin_") and c not in cols]
            if stray:
                problems.append(f"{key}: values in columns {stray} it does not map")
            got[key].append((r["_origin_row"], tuple(r.get(c) for c in cols)))
    for key, e in sorted(expected.items()):
        j = job_of.get(key)
        if j is None:
            problems.append(f"{key}: no job row")
            continue
        if j["target_table"] != e["target"]:
            problems.append(f"{key}: target {j['target_table']}, expected {e['target']}")
        if j["raw_columns_rows_hash"] != hashes.get(f"{key[0]}\t{key[1]}"):
            problems.append(f"{key}: raw_columns_rows_hash is not SheetGrid.hashOf(fixture)")
        if j["google_modified"] != modified.get(key[0]):
            problems.append(f"{key}: job not committed at the spreadsheet's modifiedTime")
        if _digest(got[key]) != _digest(e["rows"]):
            problems.append(f"{key}: {len(got[key])} target rows differ from the "
                            f"{len(e['rows'])} expected")
    digest = _digest([("s",) + tuple(sorted(s.items())) for s in sheets] +
                     [("j",) + tuple(sorted(j.items())) for j in jobs] +
                     [("t", k, r) for k, rs in got.items() for r in rs])
    return problems, len(expected), digest


def warehouse_cells(fixtures_dir, config_path):
    """Target cells a full sync writes: rows times mapped columns."""
    return sum(len(e["rows"]) * len(e["columns"])
               for e in fx.expected_jobs(fixtures_dir, config_path).values())


def norm(rel):
    """scripts/oracle_check.py's normalization, plus the column types."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(repr(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], [str(rel.types[i]) for i in order], rows


def query_digest(con, out_dir):
    if not glob.glob(f"{out_dir}/*.parquet"):
        return None
    cols, types, rows = norm(con.sql(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"))
    h = hashlib.sha256(repr((cols, types, rows)).encode("utf-8")).hexdigest()
    return {"rows": len(rows), "digest": h}


def query_digests(check_dir, names):
    con = duckdb.connect()
    return {n: query_digest(con, os.path.join(check_dir, n)) for n in names}


def corpus_cells(sf_dir, tables):
    con = duckdb.connect()
    total = 0
    for t in tables:
        rel = con.sql(f"SELECT count(*) FROM read_parquet('{sf_dir}/{t}.parquet')")
        total += rel.fetchone()[0] * len(con.sql(
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet') LIMIT 0").columns)
    return total
