"""Output checks of the benchmark. Each returns a list of mismatch messages;
an empty list means the output is correct.

- `warehouse_mismatches`: a parquet warehouse against the JSONL tables of
  `scripts/ingestion_oracle.py`, as the symmetric multiset difference that
  `IngestionSpec` takes (doubles rounded to 6 places, other values compared
  as strings, only the columns the oracle produces).
- `workbook_mismatches`: a statement workbook against the generator's
  manifest entry for its batch (file name, every row, column sums).
"""
import json
import os
import re
import zipfile
from collections import Counter

import pyarrow.parquet as pq

# Columns the oracle produces that the engine's table does not carry, or
# that carry a batch date the oracle leaves symbolic.
ORACLE_DROP = {"purchase": {"id_payment_type"}, "operation": {"purchase_date"},
               "price": {"start_date"}}
TABLES = ["store", "provider", "product", "purchase", "operation", "price"]


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _norm(v, floating):
    if v is None:
        return None
    if floating:
        return round(float(v), 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def table_mismatches(name, actual_rows, actual_float_cols, expected_rows):
    """Symmetric multiset difference of one table on the oracle's columns."""
    drop = ORACLE_DROP.get(name, set())
    cols = sorted({c for r in expected_rows for c in r} - drop)

    def key(row):
        return tuple(_norm(row.get(c), c in actual_float_cols) for c in cols)
    want, got = Counter(map(key, expected_rows)), Counter(map(key, actual_rows))
    missing, extra = want - got, got - want
    if not missing and not extra:
        return []
    return [f"{name}: {sum(missing.values())} missing, {sum(extra.values())} extra; "
            f"missing e.g. {list(missing)[:2]} extra e.g. {list(extra)[:2]}"]


def read_table(path):
    t = pq.read_table(path)
    floats = {f.name for f in t.schema if str(f.type) in ("double", "float")}
    return t.to_pylist(), floats


def warehouse_mismatches(wh_dir, oracle_dir):
    out = []
    for name in TABLES:
        path = os.path.join(wh_dir, name)
        if not os.path.isdir(path):
            out.append(f"{name}: table missing")
            continue
        rows, floats = read_table(path)
        out += table_mismatches(name, rows, floats,
                                read_jsonl(os.path.join(oracle_dir, name + ".jsonl")))
    return out


# ---------------------------------------------------------------- workbooks

def _col_index(ref):
    letters = re.match(r"[A-Z]+", ref).group(0)
    n = 0
    for ch in letters:
        n = n * 26 + ord(ch) - 64
    return n - 1


def _unescape(s):
    return (s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", '"')
             .replace("&apos;", "'").replace("&amp;", "&"))


def read_workbook(path):
    """{sheet name: rows (header first)} of an xlsx with inline strings."""
    z = zipfile.ZipFile(path)
    names = re.findall(r'<sheet name="([^"]*)"', z.read("xl/workbook.xml").decode())
    sheets = {}
    for i, name in enumerate(names, 1):
        xml = z.read(f"xl/worksheets/sheet{i}.xml").decode()
        rows = []
        for row in re.findall(r"<row [^>]*>(.*?)</row>", xml, re.S):
            cells = {}
            for ref, attrs, body in re.findall(r'<c r="([A-Z]+\d+)"([^>]*)>(.*?)</c>', row, re.S):
                if 'inlineStr' in attrs:
                    m = re.search(r"<t[^>]*>(.*?)</t>", body, re.S)
                    cells[_col_index(ref)] = _unescape(m.group(1)) if m else ""
                else:
                    cells[_col_index(ref)] = float(re.search(r"<v>(.*?)</v>", body).group(1))
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(k) for k in range(width)])
        sheets[name] = rows
    return sheets


def _same(a, b):
    """Equal; numbers up to rounding in their last digit."""
    if isinstance(a, float) or isinstance(b, float):
        try:
            return abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(b)))
        except (TypeError, ValueError):
            return False
    return a == b


def workbook_mismatches(path, expected):
    """Compare one output workbook with its manifest entry."""
    out = []
    if os.path.basename(path) != expected["workbook"]:
        out.append(f"name {os.path.basename(path)!r} != {expected['workbook']!r}")
    if not os.path.isfile(path):
        return out + ["workbook missing"]
    sheets = read_workbook(path)
    for sheet in ("msi", "compras"):
        want = expected[sheet]
        rows = sheets.get(sheet, [])[1:]
        if len(rows) != want["n"]:
            out.append(f"{sheet}: {len(rows)} rows != {want['n']}")
            continue
        for i, (got, exp) in enumerate(zip(rows, want["rows"])):
            got = got + [None] * (len(exp) - len(got))
            if not all(_same(g, e) for g, e in zip(got, exp)):
                out.append(f"{sheet} row {i}: {got} != {exp}")
                break
        header = sheets[sheet][0]
        for col, total in want["sums"].items():
            if col not in header:
                out.append(f"{sheet}: no column {col!r}")
                continue
            k = header.index(col)
            s = round(sum(r[k] for r in rows if k < len(r) and r[k] is not None), 2)
            if abs(s - total) > 0.005:
                out.append(f"{sheet}: sum of {col!r} {s} != {total}")
    return out
