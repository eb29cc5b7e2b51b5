#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the engine and the benchmark's
JVM side from source (once per checkout), stages the seeded change
script or stream files under a temporary directory it removes, runs one JVM that sets the workload up
several times and runs its closed loop for the given seconds, checks
every output against a DuckDB oracle, and prints one JSON line last:
the end-to-end metrics untraced, the per-layer metrics traced (names and
units as in BENCHMARK.json). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402

# The fixed input tables: sf 0.01 is 15k orders, 60k line items and 10k
# events; sf 0.1 holds only `orders`, 150k rows.
DATA = os.path.join(HERE, "data")
WORKLOADS = {
    "nightly_load": {"data": "sf0.01", "setup_reps": 2},
    "cdc_upsert": {"data": "sf0.1", "setup_reps": 2, "matched": 500, "inserted": 200,
                   "width": 200},
}
# Traced runs also profile layers the loops bypass: named queries over the
# nightly catalog, and a streaming replay of sf 0.01 `events` plus a third
# of it redelivered, one staged file per trigger.
PROBE_STREAM = {"files": 3, "dup_share": 1 / 3}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Content hash of everything the JVM side is built from."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(root, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def cached_classpath(root):
    """The runtime classpath if the current sources are already built."""
    try:
        with open(os.path.join(BUILD, "stamp")) as f:
            if f.read() != source_stamp(root):
                return None
        with open(os.path.join(BUILD, "classpath")) as f:
            return f.read()
    except FileNotFoundError:
        return None


def build(root, deadline):
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    shutil.rmtree(BUILD, ignore_errors=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=deadline - time.monotonic())
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    os.makedirs(BUILD)
    with open(os.path.join(BUILD, "classpath"), "w") as f:
        f.write(cp)
    with open(os.path.join(BUILD, "stamp"), "w") as f:
        f.write(source_stamp(root))
    return cp


def stage(name, seed, seconds, trace, work):
    """Write the workload's seeded inputs; return its config additions."""
    p = WORKLOADS[name]
    data = os.path.join(DATA, p["data"])
    cfg = {"setup_reps": p["setup_reps"], "data": data}
    if name == "nightly_load":
        return cfg
    # the closed loop stops on time; stage far more steps than a window uses
    plan = inputs.cdc_plan(os.path.join(work, "changes"), seed,
                           os.path.join(data, "orders.parquet"), int(10 * seconds) + 20,
                           p["matched"], p["inserted"], p["width"])
    cfg["warmup"], cfg["plan"] = plan[0], plan[1:]
    cfg["probe_version"] = seed % 3
    if trace:
        events = os.path.join(DATA, "sf0.01", "events.parquet")
        cfg["stream_dir"] = os.path.join(work, "stream")
        cfg["events"] = events
        inputs.stream_files(cfg["stream_dir"], seed, events, PROBE_STREAM["files"],
                            PROBE_STREAM["dup_share"])
    return cfg


def run_jvm(cp, cfg_path, result_path, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *opens, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", cp, "perfbench.Main", cfg_path, result_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {code}", 1)


def run_once(cp, workload, seed, seconds, trace, deadline):
    """Stage inputs, run the JVM, check its outputs; return (result,
    wrong results, notes). Everything staged is removed."""
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        out = os.path.join(work, "out")
        os.makedirs(out)
        cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
               "work": work, "out": out, "cores": len(os.sched_getaffinity(0))}
        cfg.update(stage(workload, seed, seconds, trace, work))
        cfg_path, result_path = os.path.join(work, "config.json"), os.path.join(work, "result.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        run_jvm(cp, cfg_path, result_path, work, deadline)
        with open(result_path) as f:
            res = json.load(f)
        return (res, *oracle.check(workload, cfg, res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metric_units(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.monotonic()
    # a terminated run still stops its JVM and removes its staging
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources are missing")
    e2e_units, layer_units = metric_units(root)
    cp = cached_classpath(root)
    deadline = started + (RUN_TIMEOUT_S if cp else BUILD_TIMEOUT_S)
    cp = cp or build(root, deadline)
    res, mismatches, notes = run_once(
        cp, args.workload, args.seed, args.seconds, bool(args.trace), deadline)

    for e in res["errors"] + notes:
        print(f"perfbench: {e}", file=sys.stderr)
    report = {"workload": args.workload, "seed": args.seed, **res["report"]}
    print("perfbench report: " + json.dumps(report), file=sys.stderr)
    attempted = max(int(res["attempted"]), 1)
    failed = min(int(res["failed"]) + mismatches, attempted)
    values, units = (res["per_layer"], layer_units) if args.trace else \
        (res["end_to_end"], e2e_units)
    missing = sorted(set(units) - set(values))
    if missing:
        fail(f"metrics not measured: {missing}", 1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
