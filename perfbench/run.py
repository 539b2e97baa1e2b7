#!/usr/bin/env python3
"""The repo benchmark: the paper's two pipelines end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The engine and the harness
are built from source on first use (`perfbench/build.py`), inputs are
generated from the seed, one JVM runs the workload in `local[N]` (N = the
machine's cores, at most 4), every output is checked, and the last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` the harness registers its listeners and the metrics are
the per-layer ones (spans are written to `.bench_build/work/<workload>/`).
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen_statements  # noqa: E402
import gen_workbooks as gw  # noqa: E402
import layers  # noqa: E402

WORK = os.path.join(build.BUILD, "work")
ORACLE = os.path.join("scripts", "ingestion_oracle.py")
JVM_TIMEOUT_S = 165

# Input sizes per workload.
DROP = {"prebuilt": 2, "new": 3, "rows": (60, 61)}
BACKFILL = {"a": 150, "b": 50}
STATEMENTS = {"batches": 6, "per_batch": 50}


# ------------------------------------------------------------------ inputs

def _link_all(srcs, dst):
    os.makedirs(dst, exist_ok=True)
    for src in srcs:
        for f in sorted(os.listdir(src)):
            if f.endswith(".xlsx") and "corrupt" not in f:
                os.link(os.path.join(src, f), os.path.join(dst, f))


def _oracle(src, out):
    subprocess.run([sys.executable, ORACLE, src, out], check=True,
                   stdout=subprocess.DEVNULL)


def gen_drop(inputs, seed):
    pre, pre_rows, products, _ = gw.batch(seed, "wb0", DROP["prebuilt"], rows=DROP["rows"])
    new, _, _, cand = gw.batch(seed, "wb1", DROP["new"], rows=DROP["rows"],
                               products=products, dup_pool=pre_rows)
    gw.write_files(os.path.join(inputs, "prebuilt"), pre)
    # the drop, in delivery order: new files with a byte-identical
    # re-delivery of the first, then a corrupt file
    files = [(data, cand[name]) for name, data in new]
    files.insert(2, files[0])
    named = [(f"wb1_{k:04d}.xlsx", d) for k, (d, _) in enumerate(files)]
    corrupt = f"wb1_{len(files):04d}_corrupt.xlsx"
    named.append((corrupt, gw.corrupt_bytes(new[-1][1])))
    gw.write_files(os.path.join(inputs, "drop"), named, gw.MTIME_BASE + 10_000)
    # warm-up drop: a corrupt file (the pre-built load warmed ingest and save)
    gw.write_files(os.path.join(inputs, "warmup"),
                   [("wb2_0000_corrupt.xlsx", gw.corrupt_bytes(pre[0][1]))],
                   gw.MTIME_BASE + 20_000)
    return {"corrupt": corrupt, "fact_candidates": sum(c for _, c in files)}


def gen_backfill(inputs, seed):
    a, a_rows, a_products, cand_a = gw.batch(seed, "wb0", BACKFILL["a"])
    rng = random.Random(f"{seed}:b-products")
    products = rng.sample(a_products, len(a_products) // 2) + gw.catalog(rng, len(a_products) // 4)
    b, _, _, cand_b = gw.batch(seed, "wb1", BACKFILL["b"], products=products,
                               price_factor=1.15, dup_pool=a_rows, start_serial=45600)
    gw.write_files(os.path.join(inputs, "a"), a)
    gw.write_files(os.path.join(inputs, "b"), b)
    return {"fact_candidates": sum(cand_a.values()) + sum(cand_b.values())}


def gen_statements_inputs(inputs, seed):
    return gen_statements.generate(os.path.join(inputs, "statements"), seed,
                                   STATEMENTS["batches"], STATEMENTS["per_batch"])


def oracles(workload, inputs):
    """Expected warehouses, by the reference-semantics oracle."""
    if workload == "drop_ingest":
        _link_all([os.path.join(inputs, "prebuilt"), os.path.join(inputs, "drop")],
                  os.path.join(inputs, "oracle_src"))
        _oracle(os.path.join(inputs, "oracle_src"), os.path.join(inputs, "oracle"))
    elif workload == "backfill_ingest":
        _oracle(os.path.join(inputs, "a"), os.path.join(inputs, "oracle_a"))
        _link_all([os.path.join(inputs, "a"), os.path.join(inputs, "b")],
                  os.path.join(inputs, "oracle_ab_src"))
        _oracle(os.path.join(inputs, "oracle_ab_src"), os.path.join(inputs, "oracle_ab"))


# ------------------------------------------------------------------ checks

def check_ops(workload, res, inputs, meta):
    """(attempted, failed, notes): every op's error and output check."""
    attempted = failed = 0
    notes = []
    for op in res["ops"]:
        n = op["items"] if workload == "drop_ingest" else 1
        attempted += n
        if op["error"]:
            failed += n
            notes.append(f"{op['kind']} rep {op['rep']}: {op['error']}")
            continue
        if workload == "drop_ingest":
            bad = sorted(os.listdir(os.path.join(op["dir"], "bad"))) \
                if os.path.isdir(os.path.join(op["dir"], "bad")) else []
            wrong = [f for f in bad if f != meta["corrupt"]]
            lost = [] if meta["corrupt"] in bad else [meta["corrupt"]]
            failed += len(wrong) + len(lost)
            problems = [f"quarantined {f}" for f in wrong] + [f"{f} not quarantined" for f in lost]
            mism = checks.warehouse_mismatches(os.path.join(op["dir"], "wh"),
                                               os.path.join(inputs, "oracle"))
            if mism:
                failed += op["items"] - len(bad)
            problems += mism
        elif workload == "backfill_ingest":
            oracle = "oracle_a" if op["kind"] == "load_a" else "oracle_ab"
            wh = op["wh"] + ("_a" if op["kind"] == "load_a" else "")
            problems = checks.warehouse_mismatches(wh, os.path.join(inputs, oracle))
            failed += bool(problems)
        else:
            exp = next(b for b in meta["batches"] if b["batch"] == op["batch"])
            problems = checks.workbook_mismatches(op["path"], exp)
            failed += bool(problems)
        notes += [f"{op['kind']} rep {op['rep']}: {p}" for p in problems]
    return attempted, failed, notes


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(workload, res):
    """items_per_s, op_s_p50 and pass_s_p50 from the timed operations."""
    ops = res["ops"]
    by_rep = {}
    for op in ops:
        by_rep[op["rep"]] = by_rep.get(op["rep"], 0.0) + op["s"]
    items = sum(op["items"] for op in ops)
    busy = sum(op["s"] for op in ops)
    if workload == "drop_ingest":
        op_s = median([c for op in ops for c in op["commit_s"]])
        pass_s = median([op["s"] for op in ops])
    elif workload == "backfill_ingest":
        op_s = median([op["s"] for op in ops if op["kind"] == "load_b"])
        pass_s = median([op["s"] for op in ops if op["kind"] == "load_a"])
    else:
        op_s = median([op["s"] for op in ops])
        pass_s = median(list(by_rep.values()))
    return {"items_per_s": (items / busy, "1/s"), "op_s_p50": (op_s, "s"),
            "pass_s_p50": (pass_s, "s")}


# --------------------------------------------------------------------- run

GENERATORS = {"drop_ingest": gen_drop, "backfill_ingest": gen_backfill,
              "statements_pdf": gen_statements_inputs}


JDK_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(classpath, workload, inputs, run_dir, seconds, trace):
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    cpus = min(4, os.cpu_count() or 1)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Dlog4j2.level=WARN", *build.jvm_flags()] + JDK_OPENS + [
        "-cp", classpath, "perfbench.Main", "--workload", workload, "--inputs", inputs,
        "--work", run_dir, "--out", out, "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cpus", str(cpus)]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"the workload JVM ran past {JVM_TIMEOUT_S} s; log: {log}")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the workload JVM failed (exit {proc.returncode}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    if not os.path.isfile(ORACLE):
        sys.exit(f"perfbench: {ORACLE} not found: run from the root of the engine's checkout")

    start = time.time()
    base = os.path.join(WORK, args.workload)
    shutil.rmtree(base, ignore_errors=True)
    inputs, run_dir = os.path.join(base, "inputs"), os.path.join(base, "run")
    os.makedirs(run_dir)
    meta = GENERATORS[args.workload](inputs, args.seed)
    res = run_jvm(classpath, args.workload, inputs, run_dir, args.seconds, args.trace)
    setup_s = res["setup_done_epoch_ms"] / 1000 - start

    oracles(args.workload, inputs)
    attempted, failed, notes = check_ops(args.workload, res, inputs, meta)
    for n in notes:
        print(f"perfbench: {n}", file=sys.stderr)
    e2e = end_to_end(args.workload, res)
    if args.trace:
        metrics = layers.per_layer(args.workload, args.seed, res, run_dir, meta,
                                   attempted, failed, e2e)
    else:
        metrics = {"setup_s": (setup_s, "s"), **e2e}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
