#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. A run builds the harness (sbt, in perfbench/)
against the repository's sources whenever those sources differ from the
ones of the last build, before anything is timed; otherwise it reuses the
build. Each run starts one JVM with the harness, waits for it, checks its
outputs and prints one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes stays
under .perfbench/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
# digest of the sources the last successful build compiled
STAMP = os.path.join(HERE, "target", "launch.sources")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "registry_sf0.1.json")
WORKLOADS = ("chain_backfill", "registry_sf0.1")
# hypervisor steal (seconds, all CPUs) past which a run is flagged as taken
# on a busy host: quiet runs saw under 2.5 s, slow ones 9-143 s
STEAL_LIMIT_S = 5.0
# units of the workload-specific end-to-end figures the harness also reports
# (printed on the line before the result; BENCHMARK.json gives the rest)
EXTRA_UNITS = {
    "backfill_ticks_per_s": "ticks/s", "pass_cpu_s": "s",
    "zscore_latency_p50_ms": "ms", "zscore_latency_p99_ms": "ms",
    "zscore_fail_ratio": "ratio",
    "registry_s": "s", "query_p50_ms": "ms", "query_p95_ms": "ms",
    "query_fail_ratio": "ratio",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(path):
    """A file, or the files under a directory in sorted order, leaving out
    sbt's output (target/, project/project/)."""
    if os.path.isfile(path):
        yield path
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
        for f in sorted(files):
            yield os.path.join(d, f)


def source_digest():
    """sha256 over the build definitions and sources of the repository's
    main build and of the harness (paths and contents)."""
    h = hashlib.sha256()
    for top in (ROOT, HERE):
        for r in ("build.sbt", "project", os.path.join("src", "main")):
            for path in source_files(os.path.join(top, r)):
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read() + b"\0")
    return h.hexdigest()


def heap():
    """The harness's maximum heap: SPARK_DRIVER_MEM when set, as in the main
    build's `sbt run`. Without it the main build falls back to 48g, more
    than many machines have, so this uses half the machine's memory,
    between 2g and 8g, the rule of the repository's tier-1 test command."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def build(digest):
    """Compile the harness and the repository (incrementally), writing
    target/launch.txt, then record the digest of the compiled sources."""
    if shutil.which("sbt") is None:
        fail("sbt not found")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no build.sbt at the repository root: nothing to benchmark")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed (exit {rc}); see {log}")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def built_digest():
    if not os.path.isfile(LAUNCH) or not os.path.isfile(STAMP):
        return None
    with open(STAMP) as f:
        return f.read().strip()


def launch_spec():
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def run_jvm(args, run_dir):
    """Start the harness JVM and wait for it; returns its result dict."""
    cp, opts = launch_spec()
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--out", out, "--data", DATA,
            "--queries", ",".join(sorted(expected_digests())),
            "--launch-ms", str(int(time.time() * 1000))])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {run_dir}/jvm.log")
    if rc != 0 or not os.path.isfile(out):
        fail(f"harness exited {rc}; see {run_dir}/jvm.log")
    with open(out) as f:
        return json.load(f)


def expected_digests():
    with open(EXPECTED) as f:
        return json.load(f)


def check_registry(r):
    """Digest every written result and compare it with the oracle's digest.
    A query that threw or whose digest differs counts as failed."""
    from digest import connect, digest
    con = connect(DATA)
    errors = r["detail"]["errors"]
    mismatched = {}
    for name, want in sorted(expected_digests().items()):
        if name in errors:
            continue
        try:
            got, rows = digest(
                con, f"SELECT * FROM read_parquet('{r['detail']['results']}/{name}/*.parquet')")
        except Exception as e:  # unreadable or missing result
            got, rows = f"error: {e}", -1
        if got != want["digest"]:
            mismatched[name] = {"rows": rows, "expected_rows": want["rows"]}
    r["detail"]["mismatched"] = mismatched
    r["failed"] = len(errors) + len(mismatched)
    r["correct"] = not mismatched
    r["metrics"]["query_fail_ratio"] = r["failed"] / r["attempted"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    if built_digest() != digest:
        build(digest)
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    r = run_jvm(args, run_dir)
    if args.workload == "registry_sf0.1":
        check_registry(r)
    steal = r["env"]["host_steal_s"]
    r["detail"]["busy_host"] = steal > STEAL_LIMIT_S
    if steal > STEAL_LIMIT_S:
        print(f"perfbench: warning: {steal:.1f} s of hypervisor steal in this run "
              f"(limit {STEAL_LIMIT_S} s); the host was busy and its times are suspect",
              file=sys.stderr)

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        # a layer the workload does not exercise reports 0
        for n in names:
            r["metrics"].setdefault(n, 0.0)
    missing = [n for n in names if n not in r["metrics"]]
    if missing:
        fail(f"harness did not report {missing}")
    extra = {n: {"value": v, "unit": EXTRA_UNITS[n]}
             for n, v in sorted(r["metrics"].items()) if n in EXTRA_UNITS}
    print(json.dumps({"workload": args.workload, "env": r["env"], "metrics": extra,
                      "detail": r["detail"]}))
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {n: {"value": r["metrics"][n], "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
