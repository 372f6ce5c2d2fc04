"""Seeded generator for the ETL workloads' inputs: sheet-grid fixtures (the
FIXTURES.md section 1 shape), the etl_config JSON, and the delta-tick edits.
Also the independent expectation of what a correct load produces, used by
checks.py.

The shape of the input is fixed by the scale, so that the cost of a
workload barely moves with the seed: how many sheets each spreadsheet has,
and each sheet's rows (log-spaced between MIN_ROWS and max_rows), columns
and mapped columns. The seed decides everything else: ids, names, headers,
cell contents, which columns are mapped and how, target tables, and the
modified times, which set the order of discovery and loading.
"""
import json
import os
import random
import re
import unicodedata
from datetime import datetime, timedelta, timezone

MIN_ROWS = 10
KEY_ALPHABET = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_-"
HEADERS = ["Name", "Émail Address", "Status", "Status", "#", "Prix (€)",
           "Straße", "名前", "Montant TTC", "Date", "Région", "Qty", "Notes",
           "ID", "Owner", "Ünit", "Amount", "Amount", "Zone", "Comment"]
OUT_NAMES = ["customer_name", "E-mail", "Prix (€)", "Straße", "status",
             "Status", "qty", "1st value", "名前", "Región", "amount", "notes",
             "col_3", "owner", "zone", "Ünit price", "date", "id"]
WORDS = ["alpha", "beta", "gamma", "delta", "été", "naïve", "Zürich", "東京",
         "ok", "DONE", "pending", "x", "y", "42", "3.14", "-7", "", "  padded ",
         "café au lait", "São Paulo", "n/a", "TRUE", "false", "2026-05-01"]
TARGETS = ["sales", "contacts", "inventory"]
SHEET_NAMES = ["Sheet1", "2019 Expirations", "Données", "Q3 — Pipeline",
               "Übersicht", "Contacts", "Stock"]
BASE_TIME = datetime(2026, 1, 1, tzinfo=timezone.utc)


def rfc3339(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _key(rng):
    return "".join(rng.choice(KEY_ALPHABET) for _ in range(44))


def _log_spaced(n, lo, hi):
    if n == 1:
        return [hi]
    return [round(lo * (hi / lo) ** (i / (n - 1))) for i in range(n)]


def generate(seed, out_dir, spreadsheets, max_rows):
    """Write fixtures/ and config.json under out_dir; return a description."""
    rng = random.Random(seed)
    fixtures_dir = os.path.join(out_dir, "fixtures")
    os.makedirs(fixtures_dir)
    sheet_counts = [(2, 1, 2, 3)[i % 4] for i in range(spreadsheets)]
    n_sheets = sum(sheet_counts)
    # (rows, columns, mapped columns) of each sheet
    rows = _log_spaced(n_sheets, MIN_ROWS, max_rows)
    cols = [8 + (12 * i) // max(1, n_sheets - 1) for i in range(n_sheets)]
    shapes = [(rows[i], cols[(5 * i) % n_sheets], 3 + i % 6) for i in range(n_sheets)]
    config = {"$schema": "./config-schema.json"}
    books = []
    files = 0
    fixture_bytes = 0
    cells = 0
    k = 0
    for s, n in enumerate(sheet_counts):
        sid = _key(rng)
        modified = BASE_TIME + timedelta(seconds=rng.randrange(60 * 86400))
        names = rng.sample(SHEET_NAMES, n)
        sheets = []
        for j, sheet in enumerate(names):
            nrows, ncols, nmapped = shapes[k]
            k += 1
            headers = [rng.choice(HEADERS) for _ in range(ncols)]
            values = [headers]
            for r in range(nrows):
                width = ncols if rng.random() < 0.7 else rng.randint(1, ncols)
                values.append([f"{rng.choice(WORDS)}{r if rng.random() < 0.3 else ''}"
                               for _ in range(width)])
            # the spreadsheet's modifiedTime is the newest of its sheets'
            t = modified if j == 0 else modified - timedelta(seconds=rng.randrange(86400))
            fname = f"s{s:03d}_{j}.json"
            doc = {"spreadsheetId": sid, "sheetName": sheet, "modifiedTime": rfc3339(t),
                   "name": f"Book {s}", "values": values}
            data = json.dumps(doc, ensure_ascii=False).encode("utf-8")
            with open(os.path.join(fixtures_dir, fname), "wb") as f:
                f.write(data)
            files += 1
            fixture_bytes += len(data)
            cells += sum(len(v) for v in values)
            picks = rng.sample(range(ncols), nmapped)
            mapping = {}
            for c in picks:
                out = rng.choice(OUT_NAMES)
                while out in mapping:
                    out = out + "_"
                # by name (first match wins) or by 0-based index
                mapping[out] = headers[c] if rng.random() < 0.5 else c
            config.setdefault(sid, {})[sheet] = {
                "targetTable": TARGETS[rng.randrange(len(TARGETS))],
                "columnMapping": mapping}
            sheets.append({"file": fname, "sheet": sheet, "rows": nrows + 1})
        books.append({"id": sid, "sheets": sheets, "modified": modified})
    config_path = os.path.join(out_dir, "config.json")
    with open(config_path, "w", encoding="utf-8") as f:
        json.dump(config, f, ensure_ascii=False)
    return {"fixtures": fixtures_dir, "config": config_path, "books": books,
            "size": {"spreadsheets": spreadsheets, "sheets": files, "cells": cells,
                     "fixture_bytes": fixture_bytes}}


def delta_edits(seed, gen, ticks, per_tick):
    """Edits for `ticks` delta ticks over a fixed set of `per_tick`
    spreadsheets with two or more sheets: the first half get one new cell
    value in their first sheet (a reload; their other sheets take the
    hash-skip path), the rest only a newer modifiedTime (hash skips only).
    Returns (edits per tick, jobs each delta tick loads).
    """
    rng = random.Random(seed * 7919 + 17)
    multi = sorted((b for b in gen["books"] if len(b["sheets"]) >= 2),
                   key=lambda b: len(b["sheets"]))
    if len(multi) < per_tick:
        raise ValueError(f"need {per_tick} spreadsheets with 2+ sheets, have {len(multi)}")
    chosen = multi[:per_tick]
    latest = max(b["modified"] for b in gen["books"])
    edits = []
    for t in range(ticks):
        when = rfc3339(latest + timedelta(minutes=t + 1))
        tick = []
        for i, b in enumerate(chosen):
            sheet = b["sheets"][0]
            e = {"file": sheet["file"], "modifiedTime": when,
                 "row": None, "col": None, "value": None}
            if i < per_tick // 2:
                e.update(row=1 + rng.randrange(sheet["rows"] - 1), col=0,
                         value=f"edit {t} {rng.randrange(10**9)}")
            tick.append(e)
        edits.append(tick)
    return edits, sum(len(b["sheets"]) for b in chosen)


# --- the expectation: what a correct sync leaves in the warehouse ---------

def jtrim(s):
    """Java's String.trim: strip code points <= U+0020 from both ends."""
    i, j = 0, len(s)
    while i < j and ord(s[i]) <= 32:
        i += 1
    while j > i and ord(s[j - 1]) <= 32:
        j -= 1
    return s[i:j]


def normalize_names(columns):
    """The documented column-name normalization (transliterate, lowercase,
    keep [a-z0-9_ ], `_`-prefix, col_<n> fallback)."""
    out = []
    for index, raw in enumerate(columns):
        c = "".join(ch for ch in unicodedata.normalize("NFKD", raw)
                    if not unicodedata.category(ch).startswith("M") and ord(ch) < 128)
        c = re.sub(r"[^a-z0-9_ ]", "", c.lower()).strip(" ")
        if not re.match(r"[a-z_]", c):
            c = "_" + c
        if re.fullmatch(r"col_[0-9]+", c) or c == "" or c in out:
            c = f"col_{index + 1}"
        out.append(c)
    return out


def read_fixtures(fixtures_dir):
    out = {}
    for name in sorted(os.listdir(fixtures_dir)):
        if name.endswith(".json"):
            with open(os.path.join(fixtures_dir, name), encoding="utf-8") as f:
                d = json.load(f)
            out[(d["spreadsheetId"], d["sheetName"])] = d
    return out


def expected_jobs(fixtures_dir, config_path):
    """Per configured job: target table, output columns, and the rows
    (origin_row, values) a correct load writes."""
    with open(config_path, encoding="utf-8") as f:
        config = json.load(f)
    fx = read_fixtures(fixtures_dir)
    jobs = {}
    for sid, sheets in config.items():
        if sid == "$schema":
            continue
        for sheet, job in sheets.items():
            grid = [[jtrim(c) for c in row] for row in fx[(sid, sheet)]["values"]]
            header = grid[job.get("headerRow", 0)]
            selectors = [spec if isinstance(spec, int) else header.index(spec)
                         for spec in job["columnMapping"].values()]
            rows = [(i, tuple(row[s] if s < len(row) else None for s in selectors))
                    for i, row in enumerate(grid[job.get("skipRows", 1):])]
            jobs[(sid, sheet)] = {"target": job["targetTable"],
                                  "columns": normalize_names(list(job["columnMapping"])),
                                  "rows": rows}
    return jobs
