"""Seeded generator of WDI-format extracts (FIXTURES.md section 1).

Writes the three wide-by-year files the pipelines read
(GDP_SSA_WDI.csv, GDP_ASIA_WDI.csv, GDP_LA_WDI.csv) plus planted.json, the
set of countries built to survive cleaning: at least 30 consecutive valid
(non-empty, positive) years in all five series.

The shape follows the real extracts: RFC-4180 quoted country names that
contain commas, empty cells as the only NA encoding, zeros that count as
invalid, ragged per-series spans, the five series codes and year columns
1960-2019. Without a size the country list is the 62 codes the region map
covers (48 SSA, 7 Asia, 7 Latin America: 310 data rows, like the real
inputs). With a size, synthetic codes outside the region map are added up
to that many countries.

Usage: python3 wdigen.py <outDir> <seed> [nCountries]
"""
import csv
import json
import os
import sys

import numpy as np

YEARS = list(range(1960, 2020))
NY = len(YEARS)
MIN_RUN = 30
SURVIVE_P = 0.75  # share of countries built to survive cleaning
SERIES = [  # (code, name, variable)
    ("NY.GDP.PCAP.KN", "GDP per capita (constant LCU)", "Y"),
    ("NE.CON.PRVT.ZS", "Households and NPISHs final consumption expenditure (% of GDP)", "Cper"),
    ("NE.GDI.TOTL.ZS", "Gross capital formation (% of GDP)", "Iper"),
    ("NE.EXP.GNFS.ZS", "Exports of goods and services (% of GDP)", "Xper"),
    ("NE.IMP.GNFS.ZS", "Imports of goods and services (% of GDP)", "Mper"),
]
FILES = {"SSA": "GDP_SSA_WDI.csv", "ASIA": "GDP_ASIA_WDI.csv", "LA": "GDP_LA_WDI.csv"}

# The 62 codes of graft.wdi.Regions.iso3ToRegion with WDI-style names.
REAL = {
    "ASIA": [("HKG", "Hong Kong SAR, China"), ("IDN", "Indonesia"), ("KOR", "Korea, Rep."),
             ("MYS", "Malaysia"), ("PHL", "Philippines"), ("SGP", "Singapore"),
             ("THA", "Thailand")],
    "LA": [("ARG", "Argentina"), ("BRA", "Brazil"), ("CHL", "Chile"), ("COL", "Colombia"),
           ("MEX", "Mexico"), ("PER", "Peru"), ("VEN", "Venezuela, RB")],
    "SSA": [("BDI", "Burundi"), ("BEN", "Benin"), ("BFA", "Burkina Faso"), ("BWA", "Botswana"),
            ("CAF", "Central African Republic"), ("CIV", "Cote d'Ivoire"),
            ("CMR", "Cameroon"), ("COG", "Congo, Rep."), ("COM", "Comoros"), ("GAB", "Gabon"),
            ("GHA", "Ghana"), ("GIN", "Guinea"), ("GMB", "Gambia, The"),
            ("GNB", "Guinea-Bissau"), ("KEN", "Kenya"), ("MDG", "Madagascar"), ("MLI", "Mali"),
            ("MRT", "Mauritania"), ("MUS", "Mauritius"), ("NAM", "Namibia"), ("NER", "Niger"),
            ("RWA", "Rwanda"), ("SDN", "Sudan"), ("SEN", "Senegal"), ("SYC", "Seychelles"),
            ("TCD", "Chad"), ("TGO", "Togo"), ("TZA", "Tanzania"), ("UGA", "Uganda"),
            ("ZAF", "South Africa"), ("ZWE", "Zimbabwe"), ("AGO", "Angola"),
            ("CPV", "Cabo Verde"), ("COD", "Congo, Dem. Rep."), ("ERI", "Eritrea"),
            ("ETH", "Ethiopia"), ("GNQ", "Equatorial Guinea"), ("LBR", "Liberia"),
            ("LSO", "Lesotho"), ("MOZ", "Mozambique"), ("MWI", "Malawi"), ("NGA", "Nigeria"),
            ("SLE", "Sierra Leone"), ("SOM", "Somalia"), ("SSD", "South Sudan"),
            ("STP", "Sao Tome and Principe"), ("SWZ", "Eswatini"), ("ZMB", "Zambia")],
}
# Share-of-GDP series: (centre, spread) of the level, in percent.
LEVELS = {"Cper": (70.0, 12.0), "Iper": (20.0, 6.0), "Xper": (30.0, 10.0), "Mper": (35.0, 10.0)}


def synthetic_codes(n, taken):
    """n codes outside the region map: 'Q' + three letters, then four."""
    out = []
    letters = [chr(ord("A") + i) for i in range(26)]
    width = 3
    while len(out) < n:
        for i in range(26 ** width):
            code, k = "", i
            for _ in range(width):
                code = letters[k % 26] + code
                k //= 26
            code = "Q" + code
            if code not in taken:
                out.append(code)
                if len(out) == n:
                    break
        width += 1
    return out


def series_values(rng, var):
    """A positive 60-year path for one variable."""
    if var == "Y":
        growth = rng.normal(0.02, 0.04, NY)
        return rng.uniform(200.0, 50000.0) * np.exp(np.cumsum(growth))
    centre, spread = LEVELS[var]
    level = max(5.0, rng.normal(centre, spread))
    ar = np.zeros(NY)
    shocks = rng.normal(0.0, 0.08, NY)
    for t in range(1, NY):
        ar[t] = 0.7 * ar[t - 1] + shocks[t]
    return level * np.exp(ar)


def invalid_cell(rng):
    """NA (empty cell) or a zero: both fail the Value > 0 rule."""
    return None if rng.random() < 0.7 else 0.0


def surviving_row(rng, values):
    """One maximal valid run of 30-60 years at a ragged position; the rest
    is NA/zero with short valid fragments (never 30 long: at most 29 years
    are left on either side once the run and its border cell are placed)."""
    length = int(rng.integers(MIN_RUN, NY + 1))
    start = int(rng.integers(0, NY - length + 1))
    row = [None] * NY
    for t in range(NY):
        if start <= t < start + length:
            row[t] = values[t]
        elif t == start - 1 or t == start + length:
            row[t] = invalid_cell(rng)
        else:
            row[t] = values[t] if rng.random() < 0.3 else invalid_cell(rng)
    return row


def failing_row(rng, values):
    """No run of 30: valid fragments cut by an invalid cell at least every
    29 years, or an entirely empty row."""
    if rng.random() < 0.25:
        return [None] * NY
    row = list(values)
    t = int(rng.integers(5, MIN_RUN))
    while t < NY:
        row[t] = invalid_cell(rng)
        t += int(rng.integers(5, MIN_RUN))
    return row


def longest_valid_run(row):
    best = cur = 0
    for v in row:
        cur = cur + 1 if (v is not None and v > 0) else 0
        best = max(best, cur)
    return best


def fmt(v):
    if v is None:
        return ""
    if v == 0.0:
        return "0"
    return repr(float(f"{v:.12g}"))


def generate(out_dir, seed, n_countries=None):
    """Write the three extracts and planted.json; returns the planted
    survivors, sorted."""
    rng = np.random.default_rng(seed)
    groups = {g: list(cs) for g, cs in REAL.items()}
    n_real = sum(len(cs) for cs in groups.values())
    if n_countries is not None and n_countries > n_real:
        taken = {c for cs in groups.values() for c, _ in cs}
        for i, code in enumerate(synthetic_codes(n_countries - n_real, taken)):
            g = ("SSA", "ASIA", "LA")[i % 3]
            groups[g].append((code, f"Synthetic {i}, {g}"))
    os.makedirs(out_dir, exist_ok=True)
    planted = []
    header = ["Country Name", "Country Code", "Series Name", "Series Code"] + [str(y) for y in YEARS]
    for g, countries in groups.items():
        with open(os.path.join(out_dir, FILES[g]), "w", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
            w.writerow(header)
            for code, name in countries:
                survive = rng.random() < SURVIVE_P
                failing = set() if survive else set(
                    rng.choice(5, size=int(rng.integers(1, 3)), replace=False).tolist())
                rows = []
                for i, (scode, sname, var) in enumerate(SERIES):
                    vals = series_values(rng, var)
                    row = failing_row(rng, vals) if i in failing else surviving_row(rng, vals)
                    rows.append(row)
                    w.writerow([name, code, sname, scode] + [fmt(v) for v in row])
                if all(longest_valid_run(r) >= MIN_RUN for r in rows):
                    planted.append(code)
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump({"survivors": sorted(planted),
                   "countries": sum(len(cs) for cs in groups.values())}, f)
    return sorted(planted)


if __name__ == "__main__":
    n = int(sys.argv[3]) if len(sys.argv) > 3 else None
    print(len(generate(sys.argv[1], int(sys.argv[2]), n)))
