"""Self-tests of the benchmark: deterministic generators, checkers that
reject corrupted outputs, failure accounting, and BENCHMARK.json in step with
what the runner prints.

    python3 -m unittest discover -s perfbench/tests

Run from the root of the checkout (the warehouse test replays
`scripts/ingestion_oracle.py`).
"""
import datetime
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
import zipfile
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen_statements  # noqa: E402
import gen_workbooks as gw  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def tree(path):
    """{relative path: (bytes, mtime)} of every file under `path`."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = (fh.read(), int(os.path.getmtime(p)))
    return out


class Generators(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_workbooks_repeat_for_a_seed(self):
        for gen in (run.gen_drop, run.gen_backfill):
            one, two, other = (os.path.join(self.tmp, gen.__name__ + s) for s in "abc")
            gen(one, 7)
            gen(two, 7)
            gen(other, 8)
            self.assertEqual(tree(one), tree(two), gen.__name__)
            self.assertNotEqual(tree(one), tree(other), gen.__name__)

    def test_statements_repeat_for_a_seed(self):
        one, two, other = (os.path.join(self.tmp, s) for s in "abc")
        m1 = gen_statements.generate(one, 3, 2, 5)
        m2 = gen_statements.generate(two, 3, 2, 5)
        gen_statements.generate(other, 4, 2, 5)
        self.assertEqual(tree(one), tree(two))
        self.assertNotEqual(tree(one), tree(other))
        self.assertEqual(m1, json.loads(json.dumps(m2)))

    def test_statements_use_every_month(self):
        gen_statements.generate(self.tmp, 5, 1, 20)
        text = b""
        for f in sorted(os.listdir(os.path.join(self.tmp, "m01"))):
            with open(os.path.join(self.tmp, "m01", f), "rb") as fh:
                for chunk in re.findall(rb"\nstream\n(.*?)\nendstream", fh.read(), re.S):
                    text += zlib.decompress(chunk)
        for month in gen_statements.MONTHS:
            self.assertIn(f"-{month}-".encode(), text, month)

    def test_drop_files_drain_in_name_order(self):
        run.gen_drop(self.tmp, 9)
        drop = os.path.join(self.tmp, "drop")
        names = sorted(os.listdir(drop))
        by_mtime = sorted(names, key=lambda f: os.path.getmtime(os.path.join(drop, f)))
        self.assertEqual(names, by_mtime)
        self.assertEqual(sum("corrupt" in n for n in names), 1)


def oracle_warehouse(src, oracle_dir, wh):
    """The oracle's tables written as a parquet warehouse of the engine's
    column types: what a correct ingest produces."""
    subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "ingestion_oracle.py"),
                    src, oracle_dir], check=True, stdout=subprocess.DEVNULL)
    floats = {"total", "exchange_rate", "shipping_cost", "discount", "unit_price",
              "unit_price_usd", "discount_percentage", "final_cost", "price", "offer_price"}
    for name in checks.TABLES:
        rows = checks.read_jsonl(os.path.join(oracle_dir, name + ".jsonl"))
        cols = sorted({c for r in rows for c in r})
        arrays = {}
        for c in cols:
            vals = [r.get(c) for r in rows]
            if c in floats:
                arrays[c] = pa.array([None if v is None else float(v) for v in vals], pa.float64())
            elif c == "purchase_date":
                arrays[c] = pa.array([datetime.date.fromisoformat(v) for v in vals], pa.date32())
            else:
                arrays[c] = pa.array(vals)
        os.makedirs(os.path.join(wh, name))
        pq.write_table(pa.table(arrays), os.path.join(wh, name, "part-0.parquet"))


def write_workbook(path, batch):
    """The workbook a correct run writes for a manifest entry."""
    def cell(ref, v):
        if isinstance(v, float):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    def sheet(cols, rows):
        body = []
        for rn, row in enumerate([cols] + rows, 1):
            body.append(f'<row r="{rn}">' + "".join(
                cell(f"{chr(65 + i)}{rn}", v) for i, v in enumerate(row)) + "</row>")
        return "<worksheet><sheetData>" + "".join(body) + "</sheetData></worksheet>"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", '<sheets><sheet name="msi"/><sheet name="compras"/></sheets>')
        z.writestr("xl/worksheets/sheet1.xml", sheet(gen_statements.MSI_COLS, batch["msi"]["rows"]))
        z.writestr("xl/worksheets/sheet2.xml",
                   sheet(gen_statements.COMPRAS_COLS, batch["compras"]["rows"]))


class Checkers(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_warehouse_check_rejects_a_dropped_row(self):
        files, _, _, _ = gw.batch(1, "wb0", 3)
        src = os.path.join(self.tmp, "src")
        gw.write_files(src, files)
        oracle, wh = os.path.join(self.tmp, "oracle"), os.path.join(self.tmp, "wh")
        oracle_warehouse(src, oracle, wh)
        self.assertEqual(checks.warehouse_mismatches(wh, oracle), [])
        path = os.path.join(wh, "operation", "part-0.parquet")
        t = pq.read_table(path)
        pq.write_table(t.slice(1), path)
        problems = checks.warehouse_mismatches(wh, oracle)
        self.assertEqual(len(problems), 1)
        self.assertIn("operation: 1 missing, 0 extra", problems[0])

    def test_workbook_check_rejects_an_altered_amount(self):
        m = gen_statements.generate(self.tmp, 2, 1, 4)
        batch = m["batches"][0]
        path = os.path.join(self.tmp, batch["workbook"])
        write_workbook(path, batch)
        self.assertEqual(checks.workbook_mismatches(path, batch), [])
        batch_bad = json.loads(json.dumps(batch))
        batch_bad["compras"]["rows"][3][2] += 0.01
        write_workbook(path, batch_bad)
        problems = checks.workbook_mismatches(path, batch)
        self.assertTrue(any("compras row 3" in p for p in problems), problems)
        self.assertTrue(any("sum of 'Pago requerido'" in p for p in problems), problems)

    def test_workbook_check_rejects_a_wrong_name(self):
        m = gen_statements.generate(self.tmp, 2, 1, 2)
        batch = m["batches"][0]
        path = os.path.join(self.tmp, "cargos_bbva_01Jan1999.xlsx")
        write_workbook(path, batch)
        self.assertEqual(len(checks.workbook_mismatches(path, batch)), 1)


class FailureAccounting(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_thrown_calls_and_failed_checks_count(self):
        m = gen_statements.generate(self.tmp, 2, 2, 2)
        good = os.path.join(self.tmp, m["batches"][0]["workbook"])
        write_workbook(good, m["batches"][0])
        res = {"ops": [
            {"kind": "batch", "rep": 0, "items": 2, "error": None, "batch": "m01", "path": good},
            {"kind": "batch", "rep": 0, "items": 2, "error": "NullPointerException: boom",
             "batch": "m02", "path": ""},
            {"kind": "batch", "rep": 1, "items": 2, "error": None, "batch": "m02",
             "path": os.path.join(self.tmp, "missing.xlsx")}]}
        attempted, failed, notes = run.check_ops("statements_pdf", res, self.tmp, m)
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(len(notes), 3)

    def test_quarantined_good_file_counts_and_the_corrupt_one_does_not(self):
        meta = {"corrupt": "wb1_0002_corrupt.xlsx"}
        rep = os.path.join(self.tmp, "rep000")
        os.makedirs(os.path.join(rep, "bad"))
        for f in ("wb1_0002_corrupt.xlsx", "wb1_0001.xlsx"):
            open(os.path.join(rep, "bad", f), "w").close()
        files, _, _, _ = gw.batch(1, "wb0", 2)
        src = os.path.join(self.tmp, "src")
        gw.write_files(src, files)
        oracle_warehouse(src, os.path.join(self.tmp, "oracle"), os.path.join(rep, "wh"))
        res = {"ops": [{"kind": "drain", "rep": 0, "items": 4, "error": None, "dir": rep}]}
        attempted, failed, _ = run.check_ops("drop_ingest", res, self.tmp, meta)
        self.assertEqual((attempted, failed), (4, 1))


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["per_layer"]], [n for n, _ in layers.METRICS])
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, layers.UNITS)
        e2e = run.end_to_end("statements_pdf", {"ops": [
            {"kind": "batch", "rep": 0, "s": 1.0, "items": 3}]})
        self.assertEqual(sorted(m["name"] for m in bench["end_to_end"]),
                         sorted(["setup_s", *e2e]))
        for m in bench["end_to_end"]:
            if m["name"] != "setup_s":
                self.assertEqual(m["unit"], e2e[m["name"]][1])
        self.assertTrue(set(w["name"] for w in bench["workloads"]) <= set(run.GENERATORS))


if __name__ == "__main__":
    unittest.main()
