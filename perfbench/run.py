#!/usr/bin/env python3
"""Layered benchmark of the engine at local[nproc].

Builds the engine and the benchmark program from source, generates the
workload's inputs from the seed, runs one JVM, checks every query output
against DuckDB, prints each metric by name and unit, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload label_spread --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics of the workload (of every workload,
prefixed by its name, for ``all``). --trace 1 runs the traced pass over all
three workloads and reports the per-layer metrics; its spans are kept in
``.bench_build/perfbench/spans.json``. Metric names and units come from
BENCHMARK.json. Everything is written under ``.bench_build/perfbench`` in the
checkout; the inputs and output dumps of a run are deleted when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["label_spread", "text_dedup", "relational"]
CPUS = len(os.sched_getaffinity(0))  # the master is local[CPUS]
# Set-ups per run; setup_s is their median (the first is in a cold JVM). Each
# set-up includes a whole warm-up pass, so a third one would push a run of
# every listed workload past the benchmark's total time budget on a slow host.
SETUPS = 2
# A run must end within 180 s once built: the JVM gets what is left of
# RUN_LIMIT_S after the inputs are made, less CHECK_S for the output check.
RUN_LIMIT_S = 175
CHECK_S = 20
NOT_RUN = ["q13_clothing_prevalence", "q14_seed_labels"]
SPANS = os.path.join(build.BUILD, "spans.json")


def units():
    """{metric: unit} for the end-to-end and the per-layer metrics."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def inputs(workloads, seed, run_dir):
    dirs, manifests = {}, {}
    for w in workloads:
        if w == "relational":  # fixed tables: generated once per generator version
            with open(gen.__file__, "rb") as fh:
                tag = hashlib.sha256(fh.read()).hexdigest()[:12]
            d = os.path.join(build.BUILD, "data", f"relational-{tag}")
            if not os.path.exists(os.path.join(d, "manifest.json")):
                shutil.rmtree(d, ignore_errors=True)
                gen.generate(w, 0, d)
        else:
            d = os.path.join(run_dir, w)
            gen.generate(w, seed, d)
        dirs[w] = d
        with open(os.path.join(d, "manifest.json")) as fh:
            manifests[w] = json.load(fh)
    return dirs, manifests


def run_jvm(classpath, args, run_dir, deadline):
    build.run_java(classpath, args, run_dir, f"-XX:SharedArchiveFile={build.ARCHIVE}",
                   timeout=deadline - CHECK_S - time.monotonic())
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def check_outputs(res, oracle_sql):
    """Check every dump; return the number of failed outputs. A missing dump
    is not counted again: the JVM already counted its invocation as failed."""
    failed = 0
    for r in check.check(res["checks"], oracle_sql):
        print(f"  check {r['name']:28s} {'PASS' if r['ok'] else 'FAIL'}  {r['detail']}")
        failed += not r["ok"] and os.path.exists(r["path"])
    return failed


def e2e(res, check_failed):
    """The end-to-end metrics of one workload, keyed as in BENCHMARK.json."""
    passes = res["pass_s"]
    attempted, failed = res["attempted"], res["failed"] + check_failed
    return {"setup_s": statistics.median(res["setup_s"]),
            "pass_s_p50": statistics.median(passes),
            "rows_per_s": res["rows_per_pass"] * len(passes) / sum(passes),
            "cpu_s_per_pass": statistics.median(res["cpu_s"]),
            "peak_rss_mb": res["peak_rss_mb"],
            "ok_frac": 1.0 - failed / attempted}, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        e2e_units, layer_units = units()
        classpath = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        sys.exit(f"perfbench: {e}")
    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = os.path.join(build.BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        workloads = WORKLOADS if a.trace or a.workload == "all" else [a.workload]
        dirs, manifests = inputs(workloads, a.seed, run_dir)
        ins = [f"{w}={dirs[w]}" for w in workloads]
        print(f"perfbench: local[{CPUS}], seed {a.seed}, inputs "
              + "; ".join(f"{w}: {json.dumps(m['rows'])}" for w, m in manifests.items()))
        if "text_dedup" in manifests:
            m = manifests["text_dedup"]
            print(f"  text_dedup near-duplicates: {m['near_dup_rows']} rows "
                  f"({m['near_dup_share']:.1%}), {m['near_dup_clusters']} clusters, "
                  f"largest {m['largest_cluster']}")
        for q in NOT_RUN:
            print(f"  {q}: not run: inputs missing (clothing CSV and seed JSON are not in the repository)")

        if a.trace:
            res = run_jvm(classpath, ["trace", run_dir, str(CPUS), str(a.seed)] + ins, run_dir,
                          deadline)
            os.replace(os.path.join(run_dir, "spans.json"), SPANS)
            check_failed = check_outputs(res, res["oracle_sql"])
            attempted, failed = res["attempted"], res["failed"] + check_failed
            metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in layer_units.items()}
            for w, s in res["traced_pass_s"].items():
                print(f"  traced pass {w}: {s:.4f} s")
            for err in res["errors"]:
                print(f"    error: {err}")
        else:
            res = run_jvm(classpath, ["run", run_dir, str(CPUS), str(a.seed), str(a.seconds),
                                      str(SETUPS)] + ins, run_dir, deadline)
            metrics, attempted, failed = {}, 0, 0
            for w in workloads:
                r = res["workloads"][w]
                m, att, fl = e2e(r, check_outputs(r, res["oracle_sql"]))
                attempted, failed = attempted + att, failed + fl
                print(f"  {w}: {len(r['pass_s'])} passes of {', '.join(r['queries'])}; "
                      f"failed_frac {fl / att:.4f} ({fl} of {att} invocations)")
                for err in r["errors"]:
                    print(f"    error: {err}")
                prefix = f"{w}." if a.workload == "all" else ""
                for k, u in e2e_units.items():
                    metrics[prefix + k] = {"value": m[k], "unit": u}
        for k, v in metrics.items():
            print(f"  {k:44s} {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    except (build.BuildError, subprocess.TimeoutExpired, OSError, KeyError) as e:
        sys.exit(f"perfbench: {e!r}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
