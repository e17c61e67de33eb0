"""Tests of the benchmark's generators and output checks.

Run from the repository root: python3 -m pytest perfbench/tests
(or python3 -m unittest discover -s perfbench/tests). They need no JVM: the
WDI outputs are synthesized from the independent DuckDB computation, then
corrupted one way at a time to show that each check rejects them.
"""
import csv
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import tablegen  # noqa: E402
import wdigen  # noqa: E402


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for r in rows:
            w.writerow(["NA" if v is None else (repr(v) if isinstance(v, float) else v) for v in r])


def synthesize_outputs(input_dir, out_dir):
    """The 28 outputs as a correct run writes them: the dlog per-country
    values from the DuckDB reference, placeholder numbers elsewhere."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(input_dir, "planted.json")) as f:
        planted = json.load(f)["survivors"]
    ref = checks.dlog_reference(input_dir)
    regions = sorted({checks.REGION_OF[c] for c in planted})
    for stem, header in checks.expected_headers().items():
        if "by_country" in stem:
            rows = [[c, checks.REGION_OF[c]] +
                    [ref[c][h] if stem.endswith("_dlog") else 0.5 for h in header[2:]]
                    for c in planted]
        else:
            rows = [[r] + [1.5] * (len(header) - 1) for r in regions]
        write_csv(os.path.join(out_dir, f"{stem}.csv"), header, rows)


class WdiGeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_files(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        wdigen.generate(a, 5)
        wdigen.generate(b, 5)
        for f in list(wdigen.FILES.values()) + ["planted.json"]:
            with open(os.path.join(a, f), "rb") as x, open(os.path.join(b, f), "rb") as y:
                self.assertEqual(x.read(), y.read(), f)

    def test_wdi_format(self):
        d = os.path.join(self.tmp, "w")
        wdigen.generate(d, 3)
        with open(os.path.join(d, "GDP_ASIA_WDI.csv")) as f:
            text = f.read()
        self.assertIn('"Hong Kong SAR, China"', text)
        rows = []
        for name in wdigen.FILES.values():
            with open(os.path.join(d, name), newline="") as f:
                r = list(csv.reader(f))
            self.assertEqual(r[0][4:], [str(y) for y in range(1960, 2020)])
            rows += r[1:]
        self.assertEqual(len(rows), 310)
        self.assertEqual({r[3] for r in rows}, {s[0] for s in wdigen.SERIES})
        cells = [c for r in rows for c in r[4:]]
        self.assertIn("", cells)
        self.assertIn("0", cells)

    def test_planted_equals_independent_cleaning(self):
        for seed, size in ((1, None), (2, 400)):
            d = os.path.join(self.tmp, f"w{seed}")
            planted = wdigen.generate(d, seed, size)
            self.assertTrue(0 < len(planted) < (size or 62))
            self.assertEqual(sorted(checks.dlog_reference(d)), planted)


class WdiCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.inp = os.path.join(self.tmp, "in")
        self.out = os.path.join(self.tmp, "out")
        wdigen.generate(self.inp, 9)
        synthesize_outputs(self.inp, self.out)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def rewrite(self, stem, edit):
        path = os.path.join(self.out, f"{stem}.csv")
        with open(path, newline="") as f:
            rows = list(csv.reader(f))
        edit(rows)
        with open(path, "w", newline="") as f:
            csv.writer(f, lineterminator="\n").writerows(rows)

    def failed_stems(self):
        return [s for s, _ in checks.check_wdi_pass(self.inp, self.out)]

    def test_correct_outputs_pass(self):
        self.assertEqual(self.failed_stems(), [])

    def test_perturbed_dlog_moment_rejected(self):
        def edit(rows):
            rows[1][2] = repr(float(rows[1][2]) * (1 + 1e-6))
        self.rewrite("sd_by_country_dlog", edit)
        self.assertEqual(self.failed_stems(), ["sd_by_country_dlog"])

    def test_dropped_country_rejected(self):
        self.rewrite("acf_by_country_hp", lambda rows: rows.pop())
        self.assertEqual(self.failed_stems(), ["acf_by_country_hp"])

    def test_extra_region_row_rejected(self):
        self.rewrite("corr_by_region_logquad", lambda rows: rows.append(rows[-1]))
        self.assertEqual(self.failed_stems(), ["corr_by_region_logquad"])

    def test_renamed_column_rejected(self):
        def edit(rows):
            rows[0][2] = "sd_Y"
        self.rewrite("sd_by_country_dlog", edit)
        self.assertEqual(self.failed_stems(), ["sd_by_country_dlog"])

    def test_wrong_region_rejected(self):
        def edit(rows):
            rows[1][1] = "Sub-Saharan Africa" if rows[1][1] != "Sub-Saharan Africa" else "East Asia & Pacific"
        self.rewrite("corr_by_country_hp625", edit)
        self.assertEqual(self.failed_stems(), ["corr_by_country_hp625"])

    def test_missing_output_rejected(self):
        os.remove(os.path.join(self.out, "acf_by_region_dlog.csv"))
        self.assertEqual(checks.check_wdi_pass(self.inp, self.out),
                         [("acf_by_region_dlog", "missing")])


class RegistryCheckTest(unittest.TestCase):
    SQL = ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(value) AS total "
           "FROM events GROUP BY event_type")

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        tablegen.generate(self.data, 4, 2000, 20, 30)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def result(self, sql):
        import duckdb
        d = os.path.join(self.tmp, "results", "agg")
        os.makedirs(d, exist_ok=True)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{self.data}/events.parquet'")
        con.sql(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        con.close()

    def check(self):
        return checks.check_oracles(os.path.join(self.tmp, "results"), self.data,
                                    {"agg": self.SQL}, ["agg"])

    def test_matching_result_passes(self):
        self.result(self.SQL + " ORDER BY n")  # row order does not matter
        self.assertEqual(self.check(), [])

    def test_corrupted_result_rejected(self):
        self.result(self.SQL.replace("sum(value)", "sum(value) + 0.001"))
        self.assertEqual([n for n, _ in self.check()], ["agg"])

    def test_missing_row_rejected(self):
        self.result(self.SQL + " ORDER BY n LIMIT 4")
        self.assertEqual([n for n, _ in self.check()], ["agg"])

    def test_changed_digest_rejected(self):
        passes = [{"hashes": {"a": "1:2:3", "b": "4:5:6"}}, {"hashes": {"a": "1:2:3", "b": "4:5:7"}}]
        self.assertEqual([n for n, _ in checks.check_hashes(passes, ["a", "b"])], ["b"])
        self.assertEqual([n for n, _ in checks.check_hashes(passes[:1], ["a", "c"])], ["c"])


class ContractTest(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        passes = [{"wall_s": w, "cpu_s": 2 * w,
                   "queries": [{"name": "q", "construct_s": 0.1, "execute_s": w / 10}]}
                  for w in (3.0, 2.0, 1.0)]
        res = {"setup_s": [4.0, 0.5, 0.4], "passes": passes, "live_heap_mb": 80.0,
               "layers": [{}, {"spark.jobs": 5.0}, {"spark.jobs": 7.0}]}
        e2e = run.end_to_end(res)
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in spec["end_to_end"]})
        self.assertEqual(e2e["setup_s"][0], 0.5)
        self.assertEqual(e2e["first_pass_s"][0], 3.0)
        self.assertEqual(e2e["pass_s"][0], 1.5)
        layers = run.per_layer(res)
        self.assertEqual({k: u for k, (_, u) in layers.items()},
                         {m["name"]: m["unit"] for m in spec["per_layer"]})
        self.assertEqual(layers["spark.jobs"][0], 6.0)


class OutsideCheckoutTest(unittest.TestCase):
    def test_fails_without_program_sources(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "wdi_paper",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               timeout=120, text=True)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
