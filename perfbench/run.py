#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (once per checkout), runs the workload in
its own JVM for --seconds of timed passes, checks the outputs, and prints
one JSON object as the last line of stdout: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer ones.
The line before it is a report with every metric the workload defines,
including the ones that exist only for some workloads. See README.md.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics as M  # noqa: E402

HEAP = "4g"
# The input tables, read-only: a copy of the repo's sf0.01 test tables.
DATA = os.path.join(HERE, "data", "sf0.01")
# The cells each workload runs; README.md says why these.
WORKLOADS = {
    "medallion": [],
    "corpus_10x": ["q21_ngram_jaccard", "q144_all_span_dedup"],
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "heap_live_mb": "MB"}
PER_LAYER = {
    "setup.cold_s": "s", "setup.first_pass_s": "s", "tables.artifact_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.plan_s": "s", "exec.s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.s_per_stage": "s",
    "exec.idle_core_frac": "fraction", "exec.task_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "host.canary_s": "s", "trace.overhead_s": "s",
}
# JIT thresholds a tenth of the default: with them a medallion build settles
# by the fifth build in a JVM, not the ninth, so timed passes start warm.
JIT = ["-XX:CompileThresholdScaling=0.1"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def families():
    """Cell -> the first ops module its Queries method calls ("Queries" if
    none), read from the program's sources."""
    src = os.path.join(ROOT, "src", "main", "scala", "graft")
    entry = open(os.path.join(src, "SparkEntry.scala")).read()
    queries = open(os.path.join(src, "Queries.scala")).read()
    mods = [f[:-6] for f in os.listdir(os.path.join(src, "ops")) if f.endswith(".scala")]
    out = {}
    for cell, meth in re.findall(r'"(q\w+)" -> \(Queries\.(\w+)\(', entry):
        m = re.search(rf"def {meth}\(", queries)
        body = queries[m.end():] if m else ""
        nxt = re.search(r"\n  (private\S* )?def ", body)
        body = body[:nxt.start()] if nxt else body
        hits = [(h.start(), mod) for mod in mods
                for h in [re.search(rf"(?<!\w){mod}\.", body)] if h]
        out[cell] = min(hits)[1] if hits else "Queries"
    return out


def run_jvm(cells, args, run, cp, deadline):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    kv = {"workload": args.workload, "data": DATA, "run": run,
          "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
          "cells": ",".join(cells), "out": os.path.join(run, "result.json")}
    # No hsperfdata file: it would go to /tmp, outside the checkout.
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData"] + JIT + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run}/tmp", "-cp", cp, "graftbench.Main"] +
           [f"{k}={v}" for k, v in kv.items()])
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.monotonic()))
    if p.returncode != 0:
        sys.stderr.write(open(os.path.join(run, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: the JVM exited with {p.returncode}")
    return json.load(open(os.path.join(run, "result.json")))


def phase_sum(ops, phase, key):
    return sum(o.get(phase, {}).get(key, 0) for o in ops)


def layer_metrics(ops, cores):
    """Per-layer sums over one pass's ops."""
    ex = lambda k: phase_sum(ops, "exec", k)  # noqa: E731
    exec_s, stages = ex("s"), ex("stages")
    task_s = ex("task_ms") / 1e3
    return {
        "queries.build_s": phase_sum(ops, "build", "s"),
        "queries.build_jobs": phase_sum(ops, "build", "jobs"),
        "catalyst.plan_s": phase_sum(ops, "plan", "s"),
        "exec.s": exec_s, "exec.jobs": ex("jobs"), "exec.stages": stages,
        "exec.tasks": ex("tasks"),
        "exec.s_per_stage": exec_s / stages if stages else 0.0,
        "exec.idle_core_frac": M.idle_core_frac(task_s, exec_s, cores) or 0.0,
        "exec.task_s": task_s, "exec.task_gc_s": ex("gc_ms") / 1e3,
        "exec.shuffle_write_mb": ex("shuffle_write_bytes") / M.MB,
        "exec.shuffle_read_mb": ex("shuffle_read_bytes") / M.MB,
        "exec.spill_mb": ex("spill_bytes") / M.MB,
    }


def op_total(o, key):
    return sum(o.get(p, {}).get(key, 0) for p in ("build", "plan", "exec"))


def per_op_record(ops, path):
    """One sorted line per op: medians of its traced spans and counts."""
    by = {}
    for o in ops:
        by.setdefault(o["op"], []).append(o)
    with open(path, "w") as f:
        for name in sorted(by):
            xs = by[name]
            rec = {"op": name, "n": len(xs), "s": M.median([o["s"] for o in xs]),
                   "artifacts_built": sum(o.get("artifacts_built", 0) for o in xs)}
            for ph in ("build", "plan", "exec"):
                keys = sorted({k for o in xs for k in o.get(ph, {})})
                rec[ph] = {k: M.median([o.get(ph, {}).get(k, 0) for o in xs]) for k in keys}
            if "written_bytes" in xs[0]:
                rec["written_mb"] = M.median([o["written_bytes"] for o in xs]) / M.MB
            f.write(json.dumps(rec, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cells = WORKLOADS[args.workload]

    t0 = time.monotonic()
    cp = build.classpath()
    import check  # after the source check: it imports tools/check_oracle.py
    deadline = time.monotonic() + 165
    clock = {"build": time.monotonic() - t0}
    run = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "check"):
        os.makedirs(os.path.join(run, d))
    t0 = time.monotonic()
    res = run_jvm(cells, args, run, cp, deadline - 15)
    clock["jvm"] = time.monotonic() - t0

    # ---- output check (untimed)
    if args.workload == "medallion":
        oracle = json.load(open(os.path.join(res["check_dir"], "oracle_sql.json")))
        by_layer = check.check_medallion(DATA,
                                         os.path.dirname(res["gold_dir"]),
                                         oracle["q17_opportunity_score"])
    else:
        by_layer = check.check_cells(res["data_dir"], res["check_dir"], cells,
                                     {e["op"]: e["error"] for e in res["check_errors"]})
    clock["check"] = time.monotonic() - t0 - clock["jvm"]
    sys.stderr.write("perfbench: " + ", ".join(f"{k} {v:.1f} s" for k, v in clock.items()) + "\n")
    ops = res["ops"]
    plain = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    setups = res["setups"]
    setup_errors = [e for s in setups for e in s["errors"]]
    failed = M.failed_count(ops, by_layer)
    timed_built = res["timed"]["artifacts_built"]

    # ---- end-to-end metrics (untraced passes)
    passes = [p for p in res["passes"] if not p["traced"]]
    report = {
        "setup_s": M.median([s["s"] for s in setups]),
        "setup.cold_s": setups[0]["s"],
        "pass_s": M.median([p["s"] for p in passes]), "passes": len(passes),
        "pass_samples_s": [p["s"] for p in passes],
        "op_p50_s": M.median([o["s"] for o in plain]),
        "op_tail_s": M.tail([o["s"] for o in plain]),
        "failed_frac": M.failed_frac(ops, by_layer),
        "heap_live_mb": res["timed"]["heap_live_bytes"] / M.MB,
        "tables.artifacts_built": timed_built,
        "host.canary_s": M.median(res["canary_s"]),
        "setup_samples_s": [s["s"] for s in setups],
        "setup.session_s": M.median([s["session_s"] for s in setups[1:]]),
    }
    if args.workload == "medallion":
        src = M.dir_bytes(DATA)
        builds = {}
        for o in plain:
            builds[o["pass"]] = builds.get(o["pass"], 0) + o.get("written_bytes", 0)
        report["write_amp"] = M.write_amp(M.median(list(builds.values())), src)
    else:
        report["scalecorpus.s"] = setups[0]["scalecorpus_s"]

    # ---- per-layer metrics (traced passes)
    if args.trace:
        by_pass = {}
        for o in traced:
            by_pass.setdefault(o["pass"], []).append(o)
        per_pass = [layer_metrics(v, res["cores"]) for v in by_pass.values()]
        layers = {k: M.median([p[k] for p in per_pass]) for k in per_pass[0]}
        tpass = [p["s"] for p in res["passes"] if p["traced"]]
        layers.update({
            "setup.first_pass_s": M.median([s["first_pass_s"] for s in setups]),
            "tables.artifact_mb": M.median([s["artifact_bytes"] for s in setups]) / M.MB,
            "jvm.gc_s": sum(p["gc_ms"] for p in res["passes"]) / 1e3 / len(res["passes"]),
            "trace.overhead_s": M.median(tpass) - report["pass_s"],
        })
        report.update(layers)
        fam = families()
        groups = {}
        for o in traced:
            name = o["op"] if args.workload == "medallion" else f"family.{fam.get(o['op'], 'Queries')}"
            g = groups.setdefault(name, {}).setdefault(o["pass"], [])
            g.append(o)
        for name, per in groups.items():
            report[f"{name}.s"] = M.median([sum(o["s"] for o in v) for v in per.values()])
            report[f"{name}.task_s"] = M.median(
                [sum(op_total(o, "task_ms") for o in v) / 1e3 for v in per.values()])
            if args.workload == "medallion":
                report[f"{name}.jobs"] = M.median([sum(op_total(o, "jobs") for o in v)
                                                   for v in per.values()])
                report[f"{name}.written_mb"] = M.median(
                    [sum(o["written_bytes"] for o in v) / M.MB for v in per.values()])
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        record = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}.ops.jsonl")
        per_op_record(traced, record)
        report["record"] = os.path.relpath(record, ROOT)
        report["per_op_artifacts_built"] = sum(o.get("artifacts_built", 0) for o in traced)

    report.update({"failures": {k: v for k, v in list(by_layer.items())[:5]},
                   "setup_errors": setup_errors[:5], "seed_role": "op order within each pass",
                   "env": dict(res["env"], nproc=os.cpu_count(), cores=res["cores"], heap=HEAP)})
    print(json.dumps({"report": report}, default=str))
    names = PER_LAYER if args.trace else END_TO_END
    out = {
        "correct": failed == 0 and timed_built == 0 and not setup_errors,
        "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": report[k], "unit": u} for k, u in names.items()},
    }
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
