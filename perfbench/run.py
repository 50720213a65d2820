#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JVM.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from this checkout (once; later runs
reuse the build while the sources are unchanged), writes the seed's inputs
(once per seed), starts the harness JVM, checks every operation's result
against DuckDB, and prints one JSON line last on stdout:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`).  The host context
is printed on the line before it.  Everything the run writes stays under
`perfbench/.work/`; the run-scoped scratch directory (tables, checkpoints,
Spark's local dirs) is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import inputs  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# theta_uniform is not in BENCHMARK.json, which keeps a full round of runs
# short, but stays runnable as the bypass case of theta_skew.
WORKLOADS = ["theta_skew", "lakehouse", "theta_uniform"]
# lakehouse: read-only judged queries with an oracle, one per layer (rel,
# llm, agg, time).
SCAN_QUERIES = ["q_table_checksum", "q_llm_repetition", "q_agg_heavy_hitters",
                "q_ts_resample_locf"]
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt and returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    stamp = sources_stamp()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"]
        + ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
           if os.path.exists(repos) else [])))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and "scala-library" in ln]
    if rc != 0 or not cp:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


def run_harness(classpath, workload, inputs_dir, scratch, out, seconds, trace):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    # A fixed heap keeps the resident-memory figure from following the
    # collector's sizing decisions.
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={scratch}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main", workload, inputs_dir, scratch, out,
              str(seconds), str(trace)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            fail(f"stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; see {out}/jvm.log")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness exited {rc}")
    with open(os.path.join(out, "harness.json")) as f:
        return json.load(f)


def leftover_bytes(scratch):
    """Bytes the program left in staging directories: any `tmp` directory
    under the scratch root (the tables' own staging areas and the JVM's)."""
    total = 0
    for d, _, fs in os.walk(scratch):
        if os.sep + "tmp" in d[len(scratch):]:
            total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


def failures(workload, h, inputs_dir, out):
    """The op runs that threw or whose result differs from the reference,
    and, for the judged queries, which ones differ."""
    ops = h["ops"]
    if workload.startswith("theta_"):
        with open(os.path.join(inputs_dir, "expected.json")) as f:
            return check.theta(ops, json.load(f)), {}
    with open(os.path.join(inputs_dir, "plan.json")) as f:
        plan = json.load(f)["full"]["table"]
    table = check.table([o for o in ops if o["kind"] != "query"],
                        os.path.join(inputs_dir, "full", "table"), plan, h["finish"]["version_ts"])
    scan, wrong = check.scan([o for o in ops if o["kind"] == "query"],
                             os.path.join(inputs_dir, "full", "scan"), os.path.join(out, "check"),
                             h["finish"]["oracle"])
    return table + scan, wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    check.self_test()
    classpath = build()
    inputs_dir = inputs.generate(a.workload, a.seed, os.path.join(WORK, "inputs"), SCAN_QUERIES)
    run = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    scratch, out = os.path.join(run, "scratch"), os.path.join(run, "out")
    try:
        h = run_harness(classpath, a.workload, inputs_dir, scratch, out, a.seconds, a.trace)
        left = leftover_bytes(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    failed, wrong = failures(a.workload, h, inputs_dir, out)
    last = os.path.join(WORK, "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(os.path.dirname(last), exist_ok=True)
    shutil.move(out, last)
    shutil.rmtree(run, ignore_errors=True)
    with open(os.path.join(last, "failures.json"), "w") as f:
        json.dump({"failed": [{"id": o["id"], "name": o["name"], "error": o["error"]} for o in failed],
                   "wrong_queries": wrong}, f, indent=1)
    for o in failed:
        print(f"perfbench: failed {o['name']} (pass {o['pass']}): {o['error'] or 'result differs from reference'}",
              file=sys.stderr)

    ops = h["ops"]
    attempted = len(ops)
    if a.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer_metrics(h, left).items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(h["setup_s"]), "unit": "s"},
            "wall_s": {"value": statistics.median(p["wall_s"] for p in h["passes"]), "unit": "s"},
            "op_p50_s": {"value": statistics.median(o["seconds"] for o in ops), "unit": "s"},
            "ok_frac": {"value": 1 - len(failed) / attempted, "unit": "ratio"},
            "peak_rss_mb": {"value": h["peak_rss_mb"], "unit": "MiB"},
        }
    print(json.dumps({"host": h["host"], "passes": len(h["passes"]),
                      "setup_runs_s": h["setup_s"], "inputs": inputs_dir}))
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))


# Unit of a per-layer metric, by name suffix; the rest are ratios.
UNITS = {"_ms": "ms", "_s": "s", "_mb": "MiB", "_ops": "count", "jobs": "count",
         "batches": "count", "max_task_in": "rows", "max_task_out": "rows", "left_bytes": "bytes"}


def layer_metrics(h, left):
    out = {}
    for k, v in sorted(h["layers"].items()):
        unit = next((u for suf, u in UNITS.items() if k.endswith(suf)), "ratio")
        out[k] = (v, unit)
    out["scratch.left_bytes"] = (left, "bytes")
    return out


if __name__ == "__main__":
    main()
