#!/usr/bin/env python3
"""Repository benchmark: the nightly SCD1 run, the streaming/CDC scenario
queries and the curation operators, timed end to end, with Spark,
streaming and warehouse counts per layer in the traced pass.

Run from the repository root:

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark from source on first use (see
perfbench/build.sh), runs one JVM for the workload, checks the outputs
(the stream and curation ops against their DuckDB oracles with
scripts/check.py, the nightly warehouse inside the JVM), and prints one JSON object as the last
line of standard output. See perfbench/README.md for the metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# A run must end within 180 s once the program is built. The oracle check
# of the query workloads gets CHECK_S of that and the JVM the rest. The
# slowest run, traced nightly, spends ~80 s in the JVM at normal machine
# speed, so it survives a machine ~2.2x slower (perfbench/README.md).
DEADLINE_S = 175
CHECK_S = 20


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = []
    for top in ("src/main/scala", "perfbench/src"):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files) + ["perfbench/build.sh"]


def spark_jars():
    """The Spark jars the program builds and runs against: $SPARK_HOME/jars,
    else the directory the repository's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m:
        fail("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def build(build_dir, jars):
    """Compile once per source state; a stamp of every source's bytes decides."""
    h = hashlib.sha256(jars.encode())
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per build dir
        if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
            return classes
        t0 = time.time()
        r = subprocess.run(["bash", "perfbench/build.sh", classes, jars],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail(f"build failed (exit {r.returncode})")
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, args, root, artifact, log_path, timeout):
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), root, artifact])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    return code


def oracle_check(data_dir, verify_dir, timeout):
    """The verified op outputs against their oracle SQL in DuckDB, by
    scripts/check.py: column names, row count and an order-independent
    value hash. Returns (op, reason) for every failing op."""
    try:
        r = subprocess.run([sys.executable, "scripts/check.py", data_dir, verify_dir],
                           capture_output=True, text=True, timeout=timeout,
                           env=dict(os.environ, DUCKDB_THREADS="2"))
    except subprocess.TimeoutExpired:
        return [("scripts/check.py", f"timed out after {timeout:.0f}s")]
    bad = []
    for line in r.stdout.splitlines():
        m = re.match(r"FAIL (\S+): (.*)", line)
        if m:
            bad.append((m.group(1), m.group(2)))
    if r.returncode != 0 and not bad:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        bad.append(("scripts/check.py", f"exited {r.returncode}"))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["nightly", "stream", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "scripts/check.py", "perfbench/src"):
        if not os.path.exists(need):
            fail(f"{need} not found; run from the repository root")
    spec = json.load(open("BENCHMARK.json"))
    jars = spark_jars()
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    classes = os.path.abspath(build(build_dir, jars))

    runs_dir = os.path.abspath(os.path.join(build_dir, "runs"))
    results_dir = os.path.join(build_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    root = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    artifact = os.path.join(results_dir, name + ".json")
    log_path = os.path.join(results_dir, name + ".log")
    if os.path.exists(artifact):
        os.remove(artifact)
    t0 = time.time()
    try:
        jvm_s = DEADLINE_S - (CHECK_S if args.workload != "nightly" else 0)
        code = run_jvm(classes, jars, args, root, artifact, log_path, jvm_s)
        t_jvm = time.time() - t0
        if code != 0 or not os.path.isfile(artifact):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; log: {log_path}")
        res = json.load(open(artifact))
        failed = [(f["op"], f["error"]) for f in res["failed"]]
        if args.workload != "nightly":
            failed_ops = {op for op, _ in failed}  # no output, already counted
            failed += [(op, why) for op, why in
                       oracle_check(res["data"], os.path.join(root, "verify"),
                                    DEADLINE_S - (time.time() - t0))
                       if op not in failed_ops]
        print(f"perfbench: jvm {t_jvm:.1f}s, checks {time.time() - t0 - t_jvm:.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    group = "per_layer" if args.trace else "end_to_end"
    got = res[group]
    metrics = {}
    for m in spec[group]:
        if m["name"] in got:
            value = got[m["name"]]
            if not isinstance(value, (int, float)) or not math.isfinite(value):
                fail(f"{m['name']} is {value!r}, not a finite number")
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        elif args.trace:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}  # layer idle on this workload
    for k, v in sorted(metrics.items()):
        print(f"{k:34s} {v['value']:.6g} {v['unit']}")
    if not args.trace and res["op_samples"]:
        print(f"{'':34s} op_tail_s is p{res['op_tail_percentile']} of {res['op_samples']} op samples")
    if args.trace and "pipeline.run_s" in got and args.workload == "nightly":
        print(f"{'':34s} unattributed share of pipeline.run_s: "
              f"{got['pipeline.unattributed_share']:.1%}")
    print(f"calib_cpu_s {res['calib_cpu_s']:.3f} calib_io_s {res['calib_io_s']:.3f} "
          f"cores {res['cores']} spark {res['spark_version']} jvm {res['jvm_version']} "
          f"seed {res['seed']}; artifact {artifact}")
    for op, why in failed:
        print(f"FAILED {op}: {why}", file=sys.stderr)
    missing = [m["name"] for m in spec[group] if m["name"] not in metrics]
    correct = not failed and not missing
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": len(failed), "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
