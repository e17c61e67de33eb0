"""Output checks for the benchmark, run after the timed passes.

Each check returns a list of (output, reason) pairs, one per failed output;
an empty list means every output passed. Nothing here is skipped when an input
is missing: a missing output file is itself a failure.

WDI checks (per pass): every one of the 28 outputs exists with its expected
header and row count; the countries in every per-country output are exactly
the generator's planted survivors, with their region; and the dlog
per-country sd, corr and acf agree with an independent DuckDB computation
from the generated CSVs.

Registry checks: each entry's result matches its DuckDB oracle
(`SparkEntry.oracleSql`) over the same tables, and its output digest is the
same on every pass.
"""
import csv
import datetime
import json
import math
import os

import duckdb

from wdigen import FILES, REAL

SUFFIX = {"quad": "logquad", "hp100": "hp", "hp625": "hp625", "dlog": "dlog"}
REGION = {"SSA": "Sub-Saharan Africa", "ASIA": "East Asia & Pacific",
          "LA": "Latin America & Caribbean"}
REGION_OF = {code: REGION[g] for g, cs in REAL.items() for code, _ in cs}
CORR = ["corr_Y_C", "corr_Y_I", "corr_Y_TB", "corr_C_I", "corr_C_TB", "corr_I_TB"]
ACF = ["acf_Y", "acf_C", "acf_I", "acf_TB"]
RATIO = ["sdC_over_sdY", "sdI_over_sdY"]
REL_TOL = 1e-9


def sd_names(variant):
    if variant == "dlog":
        return ["sd_dlogY", "sd_dlogC", "sd_dlogI", "sd_TB"]
    return ["sd_Y", "sd_C", "sd_I", "sd_TB"]


def expected_headers():
    """Output stem -> header, for the 28 outputs (FIXTURES.md section 4)."""
    def by_region(cols):
        return ["Region"] + [f"{c}_{s}" for c in cols for s in ("mean", "sd")]
    out = {}
    for v, suf in SUFFIX.items():
        out[f"sd_by_country_{suf}"] = ["Country Code", "Region"] + sd_names(v) + RATIO
        out[f"sd_by_region_{suf}"] = by_region(sd_names(v))
        out[f"sd_ratio_by_region_{suf}"] = by_region(RATIO)
        out[f"corr_by_country_{suf}"] = ["Country Code", "Region"] + CORR
        out[f"corr_by_region_{suf}"] = by_region(CORR)
        out[f"acf_by_country_{suf}"] = ["Country Code", "Region"] + ACF
        out[f"acf_by_region_{suf}"] = by_region(ACF)
    return out


def read_rcsv(path):
    """(header, rows) of an R-style CSV: `NA` is null, numbers parse as float."""
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    def cell(s):
        if s == "NA" or s == "":
            return None
        try:
            return float(s)
        except ValueError:
            return s
    return rows[0], [[cell(c) for c in r] for r in rows[1:]]


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b)) + 1e-12


DLOG_SQL = """
WITH raw AS (
  SELECT * FROM read_csv({files}, header = true, all_varchar = true, quote = '"', escape = '"')
), long AS (
  SELECT "Country Code" AS cc,
         CASE "Series Code" WHEN 'NY.GDP.PCAP.KN' THEN 'Y' WHEN 'NE.CON.PRVT.ZS' THEN 'Cper'
           WHEN 'NE.GDI.TOTL.ZS' THEN 'Iper' WHEN 'NE.EXP.GNFS.ZS' THEN 'Xper'
           WHEN 'NE.IMP.GNFS.ZS' THEN 'Mper' END AS var,
         CAST(yr AS INTEGER) AS yr, TRY_CAST(val AS DOUBLE) AS val
  FROM (UNPIVOT raw ON COLUMNS('^[0-9]{{4}}$') INTO NAME yr VALUE val)
), valid AS (  -- gaps and islands: consecutive valid years share yr - rn
  SELECT *, yr - row_number() OVER (PARTITION BY cc, var ORDER BY yr) AS island
  FROM long WHERE var IS NOT NULL AND val IS NOT NULL AND val > 0
), kept AS (
  SELECT cc, var, yr, val FROM valid
  QUALIFY count(*) OVER (PARTITION BY cc, var, island) >= 30
), complete AS (
  SELECT cc FROM kept GROUP BY cc HAVING count(DISTINCT var) = 5
), wide AS (
  SELECT cc, yr,
         max(val) FILTER (WHERE var = 'Y') AS Y, max(val) FILTER (WHERE var = 'Cper') AS Cper,
         max(val) FILTER (WHERE var = 'Iper') AS Iper, max(val) FILTER (WHERE var = 'Xper') AS Xper,
         max(val) FILTER (WHERE var = 'Mper') AS Mper
  FROM kept WHERE cc IN (SELECT cc FROM complete) GROUP BY cc, yr
), derived AS (
  SELECT cc, yr, Y, Y * Cper / 100 AS C, Y * Iper / 100 AS I,
         (Y * Xper / 100 - Y * Mper / 100) / Y AS TB
  FROM wide
), cyc AS (
  SELECT cc, yr,
         CASE WHEN Y > 0 THEN ln(Y) - ln(lag(Y) OVER w) END AS y,
         CASE WHEN C > 0 THEN ln(C) - ln(lag(C) OVER w) END AS c,
         CASE WHEN I > 0 THEN ln(I) - ln(lag(I) OVER w) END AS i,
         TB AS tb
  FROM derived WINDOW w AS (PARTITION BY cc ORDER BY yr)
), lagged AS (
  SELECT *, lag(y) OVER w AS y1, lag(c) OVER w AS c1, lag(i) OVER w AS i1, lag(tb) OVER w AS tb1
  FROM cyc WINDOW w AS (PARTITION BY cc ORDER BY yr)
)
SELECT cc,
  stddev_samp(y) * 100 AS sd_dlogY, stddev_samp(c) * 100 AS sd_dlogC,
  stddev_samp(i) * 100 AS sd_dlogI, stddev_samp(tb) * 100 AS sd_TB,
  stddev_samp(c) / stddev_samp(y) AS sdC_over_sdY, stddev_samp(i) / stddev_samp(y) AS sdI_over_sdY,
  corr(y, c) AS corr_Y_C, corr(y, i) AS corr_Y_I, corr(y, tb) AS corr_Y_TB,
  corr(c, i) AS corr_C_I, corr(c, tb) AS corr_C_TB, corr(i, tb) AS corr_I_TB,
  corr(y, y1) AS acf_Y, corr(c, c1) AS acf_C, corr(i, i1) AS acf_I, corr(tb, tb1) AS acf_TB
FROM lagged GROUP BY cc ORDER BY cc
"""


def dlog_reference(input_dir):
    """Country code -> {column: value} for the dlog per-country moments."""
    files = "[" + ", ".join(f"'{os.path.join(input_dir, f)}'" for f in FILES.values()) + "]"
    con = duckdb.connect()
    try:
        rel = con.sql(DLOG_SQL.format(files=files))
        cols = rel.columns
        return {r[0]: dict(zip(cols[1:], r[1:])) for r in rel.fetchall()}
    finally:
        con.close()


def check_wdi_pass(input_dir, out_dir):
    """Failures of one WDI pass, at most one per output."""
    with open(os.path.join(input_dir, "planted.json")) as f:
        planted = json.load(f)["survivors"]
    regions = {REGION_OF.get(c) for c in planted}
    ref = dlog_reference(input_dir)
    failures = []
    for stem, header in expected_headers().items():
        path = os.path.join(out_dir, f"{stem}.csv")
        if not os.path.exists(path):
            failures.append((stem, "missing"))
            continue
        got_header, rows = read_rcsv(path)
        if got_header != header:
            failures.append((stem, f"header {got_header}"))
            continue
        if "by_country" in stem:
            codes = [r[0] for r in rows]
            if codes != planted:
                failures.append((stem, f"{len(codes)} countries, not the {len(planted)} planted"))
                continue
            bad_region = [r[0] for r in rows if r[1] != REGION_OF.get(r[0])]
            if bad_region:
                failures.append((stem, f"wrong region for {bad_region[:3]}"))
                continue
            if stem.endswith("_dlog"):
                bad = [(r[0], h) for r in rows for h, v in zip(header[2:], r[2:])
                       if not close(v, ref.get(r[0], {}).get(h, "missing"))]
                if bad:
                    failures.append((stem, f"differs from DuckDB at {bad[:3]}"))
                    continue
        elif len(rows) != len(regions):
            failures.append((stem, f"{len(rows)} rows, expected {len(regions)}"))
    return failures


def check_oracles(results_dir, data_dir, oracle_sql, names):
    """Failures of the entries whose result differs from their oracle."""
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    failures = []
    try:
        for t in ("events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name in names:
            if name not in oracle_sql:
                failures.append((name, "no oracle"))
                continue
            try:
                got = con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
                want = con.sql(oracle_sql[name])
                msg = compare_relations(got.columns, got.fetchall(), want.columns, want.fetchall())
            except duckdb.Error as e:
                msg = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            if msg:
                failures.append((name, msg))
    finally:
        con.close()
    return failures


def _norm(v):
    """A DATE and a TIMESTAMP at its midnight are the same value (DuckDB
    types a day-truncated timestamp as DATE, Spark keeps TIMESTAMP)."""
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return datetime.datetime(v.year, v.month, v.day)
    return v


def _key(row):
    """Sort key for a row: nulls and types first, so mixed cells compare;
    doubles rounded, so float noise does not reorder the two sides."""
    return tuple((v is None, str(type(v)), v if not isinstance(v, float) else round(v, 6))
                 for v in row)


def compare_relations(got_cols, got_rows, want_cols, want_rows):
    """None when equal as multisets of rows (columns matched by name,
    doubles to a relative 1e-9), else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows vs {len(want_rows)}"
    order = sorted(got_cols)
    gi = [got_cols.index(c) for c in order]
    wi = [want_cols.index(c) for c in order]
    g = sorted(([_norm(r[i]) for i in gi] for r in got_rows), key=_key)
    w = sorted(([_norm(r[i]) for i in wi] for r in want_rows), key=_key)
    for a, b in zip(g, w):
        for c, x, y in zip(order, a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not close(None if x is None else float(x), None if y is None else float(y)):
                    return f"{c}: {x!r} vs {y!r}"
            elif x != y:
                return f"{c}: {x!r} vs {y!r}"
    return None


def check_hashes(passes, names):
    """Failures of the entries whose output digest changed between passes."""
    failures = []
    for name in names:
        seen = {p["hashes"].get(name) for p in passes}
        if len(seen) != 1 or None in seen:
            failures.append((name, f"digests differ across passes {sorted(map(str, seen))}"))
    return failures
