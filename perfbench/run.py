"""perfbench: end-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload <analytic-mix|lake-churn>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
generates the workload's inputs and operation plan from the seed
(perfbench/gen.py), runs one closed-loop JVM (perfbench/scala/Harness.scala)
and checks its outputs. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a traced
run. Untraced end-to-end results are kept in .bench_build/results; a
traced run reports its difference from the untraced run of the same seed
(the tracing overhead) and writes it with the spans and their self times
to .bench_build/traces/<workload>-seed<n>.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("analytic-mix", "lake-churn")
SETUPS = 2  # set-ups per run; setup_s is their median
DEADLINE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def run_harness(cp, workload, seed, seconds, trace, run_dir, deadline, gen_args=None):
    """Generate inputs, run the JVM harness, return its parsed result."""
    data = os.path.join(run_dir, "data")
    plan = gen.generate(workload, seed, data, **(gen_args or {}))
    if workload == "analytic-mix":
        for k in range(1, SETUPS + 1):
            shutil.copytree(os.path.join(data, "tables"), os.path.join(data, f"tables{k}"))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    out = os.path.join(run_dir, f"result-trace{trace}.json")
    cpus = os.cpu_count() or 1
    cmd = [build.java(), "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness", plan, data, run_dir, workload,
            str(seconds), str(trace), str(cpus), str(SETUPS), out]
    log = os.path.join(run_dir, f"jvm-trace{trace}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: harness failed ({rc})")
    with open(out) as fh:
        res = json.load(fh)
    if workload == "analytic-mix":
        ex = res["extra"]
        res["oracle"] = oracle.check(ex["tables"], ex["oracle_dir"], ex["oracle_sql"])
    return res


def outcome(res):
    """(attempted, failed): timed operations plus one per set-up; an
    analytic row whose output fails the oracle fails every execution."""
    bad_rows = {n for n, why in res.get("oracle", {}).items() if why}
    failed = 0
    for o in res["ops"]:
        row = o["kind"].split(":")[-1]
        failed += (not o["ok"]) or row in bad_rows
    setups = len(res["setups"])
    setup_failed = res["probes"].get("setup_failures", 0) > 0 or bool(bad_rows)
    return len(res["ops"]) + setups, failed + (setups if setup_failed else 0)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp = build.build(bdir)  # the first run in a checkout compiles first
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(bdir, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, run_dir, deadline)
        e2e = stats.end_to_end(res)
        rdir = os.path.join(bdir, "results")
        os.makedirs(rdir, exist_ok=True)
        untraced_file = os.path.join(rdir, f"{a.workload}-seed{a.seed}.json")
        if a.trace == 0:
            metrics, units = e2e, dict(stats.END_TO_END)
            with open(untraced_file, "w") as fh:
                json.dump(e2e, fh)
        else:
            metrics, spans, selfs, counts = stats.per_layer(res)
            units = dict(stats.PER_LAYER)
            untraced = None
            if os.path.exists(untraced_file):
                with open(untraced_file) as fh:
                    untraced = json.load(fh)
            overhead = untraced and {k: e2e[k] - untraced[k] for k in untraced}
            tdir = os.path.join(bdir, "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "untraced": untraced,
                           "traced": e2e, "tracing_overhead": overhead,
                           "self_times": selfs, "per_layer": metrics,
                           "counts_by_kind": counts, "spans": spans}, fh)
            print("tracing overhead (traced - untraced, same seed): " + (
                json.dumps(overhead) if overhead else
                "no untraced run of this seed yet; run --trace 0 first"))
            print("self seconds by span: " + json.dumps(
                {k: round(v["self_s"], 4) for k, v in sorted(selfs.items())}))
        attempted, failed = outcome(res)
        for msg in res["failures"][:20]:
            print(f"failure: {msg}")
        for n, why in sorted(res.get("oracle", {}).items()):
            if why:
                print(f"oracle mismatch: {n}: {why[:300]}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": units[k]}
                                      for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
