"""Per-layer metrics of a traced run.

The harness writes the benchmark's own spans (one root per timed operation,
children around each call into the engine) plus one child span per Spark
job, labelled with the engine layer that submitted it (see Layer in
harness/Trace.scala). This module turns them, the outputs and the inputs
into the `per_layer` metrics of BENCHMARK.json.

Counts marked exact must repeat: across the repetitions of one run, and
across traced runs of the same build, workload and seed (a record of the
last run is kept under `.bench_build/exact/`). The ones that do not are named on
standard error and counted in `exact.mismatches`.
"""
import json
import os
import statistics
import sys

import pyarrow.parquet as pq

# (name, unit) of every per-layer metric, in BENCHMARK.json order. A metric
# of a layer that a workload does not run reads 0 on that workload.
METRICS = [
    ("streaming.drain_s", "s"), ("streaming.move_s", "s"),
    ("streaming.files_landed", "count"), ("streaming.files_quarantined", "count"),
    ("ingest.call_s_per_file", "s"), ("ingest.jobs_per_call", "count"),
    ("ingest.jobs_per_file", "count"), ("ingest.facts_landed", "count"),
    ("ingest.fact_candidates", "count"), ("ingest.dups_suppressed", "count"),
    ("ingest.dup_suppression_ratio", "ratio"),
    ("ingest.scd_rows_opened", "count"), ("ingest.scd_rows_closed", "count"),
    ("store.load_s", "s"), ("store.save_s", "s"), ("store.jobs_per_save", "count"),
    ("store.bytes_written_per_commit", "bytes"), ("store.new_row_bytes", "bytes"),
    ("store.write_amplification", "ratio"),
    ("xlsx.scan_s", "s"), ("xlsx.rows_per_s", "1/s"), ("xlsx.bytes_in", "bytes"),
    ("pdf.text_s", "s"), ("pdf.tokenize_s", "s"), ("pdf.xlsx_write_s", "s"),
    ("pdf.rows_out", "count"), ("pdf.bytes_in", "bytes"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_time_s", "s"), ("spark.task_max_over_median", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
    ("jvm.heap_peak_mb", "MB"), ("jvm.heap_retained_mb", "MB"),
    ("failed_op_ratio", "ratio"), ("exact.mismatches", "count"),
    ("traced.items_per_s", "1/s"), ("traced.op_s_p50", "s"), ("traced.pass_s_p50", "s"),
]
UNITS = dict(METRICS)

ROOTS = {"drop.drain", "backfill.load_a", "backfill.load_b", "statements.batch"}
WAREHOUSE = ["payment_type", "store", "provider", "product", "purchase", "operation", "price"]


def union_ms(spans):
    """Wall time covered by a set of spans (overlaps counted once)."""
    total, cur = 0.0, None
    for a, b in sorted((s["start_ms"], s["end_ms"]) for s in spans if s["end_ms"] is not None):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def dur_ms(s):
    return s["end_ms"] - s["start_ms"]


def table_stats(wh):
    """{table: (rows, bytes)} of a saved warehouse."""
    out = {}
    for t in WAREHOUSE:
        d = os.path.join(wh, t)
        files = [os.path.join(d, f) for f in os.listdir(d)
                 if f.endswith(".parquet") and not f.startswith(".")]
        out[t] = (sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                  sum(os.path.getsize(f) for f in files))
    return out


def new_row_bytes(before, after):
    """Bytes of the rows a commit added: per table, added rows times the
    table's bytes per row after the commit."""
    total = 0.0
    for t, (rows, size) in after.items():
        added = rows - (before[t][0] if before else 0)
        if rows and added > 0:
            total += added * size / rows
    return total


def price_changes(before_wh, after_wh):
    """(opened, closed): price rows new in `after`, and rows whose price
    changed (the SCD merge closes and reopens them at the batch date)."""
    after = {r["id_product"]: r["price"] for r in pq.read_table(
        os.path.join(after_wh, "price")).to_pylist()}
    before = {} if before_wh is None else {r["id_product"]: r["price"] for r in pq.read_table(
        os.path.join(before_wh, "price")).to_pylist()}
    opened = sum(1 for k in after if k not in before)
    closed = sum(1 for k, v in after.items() if k in before and before[k] != v)
    return opened, closed


class Tree:
    def __init__(self, spans, setup_done_ms):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.roots = [s for s in spans if s["parent"] == 0 and s["name"] in ROOTS
                      and s["start_ms"] >= setup_done_ms]
        self.root_of = {}
        for s in spans:
            r = s
            while r["parent"]:
                r = self.by_id[r["parent"]]
            self.root_of[s["id"]] = r["id"]

    def under(self, root, prefix):
        return [s for s in self.spans if self.root_of[s["id"]] == root["id"]
                and s["id"] != root["id"] and s["name"].startswith(prefix)]


def spark_metrics(tree, reps):
    jobs = [j for r in tree.roots for j in tree.under(r, "job:")]
    a = lambda k: sum(j["attrs"].get(k, 0.0) for j in jobs)  # noqa: E731
    med = a("stage_task_median_ms")
    return {
        "spark.jobs": len(jobs) / reps, "spark.stages": a("stages") / reps,
        "spark.tasks": a("tasks") / reps, "spark.task_time_s": a("task_ms") / 1000 / reps,
        "spark.task_max_over_median": a("stage_task_max_ms") / med if med else 0.0,
        "spark.shuffle_write_bytes": a("shuffle_write") / reps,
        "spark.shuffle_read_bytes": a("shuffle_read") / reps,
        "spark.spill_bytes": a("spill") / reps, "spark.gc_s": a("gc_ms") / 1000 / reps,
    }


def xlsx_probe(tree):
    p = [s for s in tree.spans if s["name"] == "probe.xlsx_scan"][-1]
    scan = dur_ms(p) / 1000
    return {"xlsx.scan_s": scan, "xlsx.rows_per_s": p["attrs"]["rows"] / scan,
            "xlsx.bytes_in": p["attrs"]["bytes"]}


def drop_metrics(tree, res, run_dir, meta, exact):
    ops = res["ops"]
    wh0 = table_stats(os.path.join(run_dir, "wh0"))
    m = {"streaming.drain_s": statistics.median(o["s"] for o in ops),
         "streaming.move_s": statistics.median(o["move_s"] for o in ops)}
    for root, op in zip(tree.roots, ops):
        files, landed = op["items"], op["landed"]
        label = lambda lb: tree.under(root, "job:" + lb)  # noqa: E731
        busy = lambda lb: union_ms(tree.under(root, "layer:stream:" + lb)) / 1000  # noqa: E731
        after = table_stats(os.path.join(op["dir"], "wh"))
        written = sum(j["attrs"]["output_bytes"] for j in label("store.save"))
        facts = after["purchase"][0] - wh0["purchase"][0]
        opened, closed = price_changes(os.path.join(run_dir, "wh0"), os.path.join(op["dir"], "wh"))
        base = new_row_bytes(wh0, after)
        rep = {
            "streaming.files_landed": landed, "streaming.files_quarantined": op["quarantined"],
            "ingest.jobs_per_file": len(tree.under(root, "job:")) / files,
            "ingest.jobs_per_call": len(label("ingest.call")) / files,
            "ingest.call_s_per_file": busy("ingest.call") / files,
            "store.load_s": busy("store.load") / files,
            "store.save_s": busy("store.save") / max(landed, 1),
            "store.jobs_per_save": len(label("store.save")) / max(landed, 1),
            "store.bytes_written_per_commit": written / max(landed, 1),
            "store.new_row_bytes": base,
            "store.write_amplification": written / base if base else 0.0,
            "ingest.facts_landed": facts, "ingest.fact_candidates": meta["fact_candidates"],
            "ingest.dups_suppressed": meta["fact_candidates"] - facts,
            "ingest.dup_suppression_ratio": (meta["fact_candidates"] - facts) / meta["fact_candidates"],
            "ingest.scd_rows_opened": opened, "ingest.scd_rows_closed": closed,
        }
        exact.append(rep)
    m.update(average(exact))
    m.update(xlsx_probe(tree))
    return m


def backfill_metrics(tree, res, run_dir, meta, exact):
    ops = res["ops"]
    for rep_no in sorted({o["rep"] for o in ops}):
        pair = [(r, o) for r, o in zip(tree.roots, ops) if o["rep"] == rep_no]
        spans = lambda p: [s for r, _ in pair for s in tree.under(r, p)]  # noqa: E731
        files = sum(o["items"] for _, o in pair)
        saves = spans("store.save")
        written = sum(j["attrs"]["output_bytes"] for j in spans("job:store.save"))
        wh = pair[0][1]["wh"]
        a, ab = table_stats(wh + "_a"), table_stats(wh)
        cand = meta["fact_candidates"]
        facts = ab["purchase"][0]
        opened, _ = price_changes(None, wh)
        _, closed = price_changes(wh + "_a", wh)
        base = new_row_bytes(None, a) + new_row_bytes(a, ab)
        exact.append({
            "ingest.call_s_per_file": sum(map(dur_ms, spans("ingest.call"))) / 1000 / files,
            "ingest.jobs_per_call": len(spans("job:ingest.call")) / len(spans("ingest.call")),
            "ingest.jobs_per_file": len(spans("job:")) / files,
            "store.load_s": sum(map(dur_ms, spans("store.load"))) / 1000 / len(spans("store.load")),
            "store.save_s": sum(map(dur_ms, saves)) / 1000 / len(saves),
            "store.jobs_per_save": len(spans("job:store.save")) / len(saves),
            "store.bytes_written_per_commit": written / len(saves),
            "store.new_row_bytes": base, "store.write_amplification": written / base,
            "ingest.facts_landed": facts, "ingest.fact_candidates": cand,
            "ingest.dups_suppressed": cand - facts,
            "ingest.dup_suppression_ratio": (cand - facts) / cand,
            "ingest.scd_rows_opened": opened, "ingest.scd_rows_closed": closed,
        })
    m = average(exact)
    m.update(xlsx_probe(tree))
    return m


def statements_metrics(tree, res, run_dir, meta, exact):
    ops = res["ops"]
    writes = {}
    for root, op in zip(tree.roots, ops):
        for s in tree.under(root, "statements.write_workbook"):
            writes[op["rep"]] = writes.get(op["rep"], 0.0) + s["self_ms"] / 1000
    texts = [s for s in tree.spans if s["name"] == "probe.pdf_text"]
    tables = [s for s in tree.spans if s["name"] == "probe.pdf_tables"]
    batches = meta["batches"]
    for rep_no in sorted(writes):
        exact.append({"pdf.rows_out": sum(b["msi"]["n"] + b["compras"]["n"] for b in batches),
                      "pdf.bytes_in": sum(b["bytes"] for b in batches),
                      "spark.jobs": sum(len(tree.under(r, "job:")) for r, o in
                                        zip(tree.roots, ops) if o["rep"] == rep_no)})
    m = average(exact)
    m.update({
        "pdf.text_s": sum(map(dur_ms, texts)) / 1000,
        "pdf.tokenize_s": sum(dur_ms(t) - 2 * t["attrs"]["text_ms"] for t in tables) / 1000,
        "pdf.xlsx_write_s": statistics.median(writes.values()),
    })
    return m


def average(reps):
    keys = reps[0].keys() if reps else []
    return {k: sum(r[k] for r in reps) / len(reps) for k in keys}


EXACT = {"streaming.files_landed", "streaming.files_quarantined", "ingest.jobs_per_call",
         "ingest.jobs_per_file", "ingest.facts_landed", "ingest.dups_suppressed",
         "ingest.scd_rows_opened", "ingest.scd_rows_closed", "store.jobs_per_save",
         "store.bytes_written_per_commit", "pdf.rows_out", "pdf.bytes_in", "spark.jobs"}


def exact_mismatches(workload, seed, reps):
    """Names of exact counts that differ between repetitions of this run or
    from the last traced run with the same workload and seed."""
    keys = sorted(k for k in (reps[0] if reps else {}) if k in EXACT)
    bad = {k for k in keys if len({r[k] for r in reps}) > 1}
    with open(os.path.join(".bench_build", "harness", "STAMP")) as f:
        build = f.read()[:12]
    record = os.path.join(".bench_build", "exact", f"{workload}-{seed}-{build}.json")
    now = {k: reps[0][k] for k in keys}
    if os.path.exists(record):
        with open(record) as f:
            before = json.load(f)
        bad |= {k for k in keys if k in before and before[k] != now[k]}
    os.makedirs(os.path.dirname(record), exist_ok=True)
    with open(record, "w") as f:
        json.dump(now, f)
    return sorted(bad)


def per_layer(workload, seed, res, run_dir, meta, attempted, failed, e2e):
    with open(res["spans"]) as f:
        tree = Tree(json.load(f), res["setup_done_epoch_ms"])
    reps = len({o["rep"] for o in res["ops"]})
    exact = []
    fn = {"drop_ingest": drop_metrics, "backfill_ingest": backfill_metrics,
          "statements_pdf": statements_metrics}[workload]
    m = dict.fromkeys(UNITS, 0.0)
    m.update(spark_metrics(tree, reps))
    m.update(fn(tree, res, run_dir, meta, exact))
    bad = exact_mismatches(workload, seed, exact)
    for k in bad:
        print(f"perfbench: exact count {k} did not repeat", file=sys.stderr)
    m.update({"jvm.heap_peak_mb": res["heap_peak_mb"],
              "jvm.heap_retained_mb": res["heap_retained_mb"], "failed_op_ratio": failed / attempted,
              "exact.mismatches": len(bad)})
    m.update({"traced." + k: v for k, (v, _) in e2e.items()})
    return {k: (m[k], UNITS[k]) for k, _ in METRICS}
