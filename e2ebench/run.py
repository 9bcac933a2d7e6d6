#!/usr/bin/env python3
"""End-to-end benchmark of the S3 -> Kinesis ETL and its batch surface.

Run from the repository root:

    python3 e2ebench/run.py --cores 4 --curate-rate 500 \
        --workload ingest_backlog --seed 1 --seconds 4 --trace 0

It builds the program from `src/main/scala` together with the harness in
`e2ebench/harness` (sbt, offline; rebuilt only when a source changes),
runs the workload in a fresh JVM at `local[<cores>]` inside a per-run
directory under `e2ebench/.runs/` (deleted at exit), checks the program's
outputs, and prints every metric by name and unit. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). It exits non-zero when a correctness check fails or the
program cannot be built or run. See `e2ebench/NOTES.md`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
CACHE = os.path.join(HERE, ".cache")
PINS = os.path.join(HERE, "pins", "operator_mix.txt")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("ingest_backlog", "curate_paced", "operator_mix")
# the traced run repeats these at local[1] for parallel_speedup
SPEEDUP_WORKLOADS = ("ingest_backlog",)
HEAP = "2g"
# a small fixed young generation: the heap is read after each of many
# collections in the timed section, so heap_after_gc_peak_mb is a peak
# over the section, not one or two snapshots of whatever was in flight
YOUNG = "128m"
DEADLINE_S = 175
# the program's own run settings (build.sbt javaOptions); no Spark conf
# other than the master is set here
JAVA_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

_children = []


def die(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def run_child(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        _children.append(p)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            stop_children()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile program + harness with sbt (offline); return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        cp_file = os.path.join(BUILD, "classpath.txt")
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == stamp:
                    with open(cp_file) as c:
                        return c.read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HARNESS, log,
                       deadline - time.time(), env)
        cp = ""
        if rc == 0:
            with open(log, errors="replace") as f:
                lines = [ln.strip() for ln in f if ".jar" in ln and not ln.startswith("[")]
            cp = lines[-1] if lines else ""
        if not cp:
            die(f"build failed (sbt exit {rc}):\n{tail(log)}")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def jvm(cp, args, run_dir, tag, cores, trace, deadline, extra=()):
    """One workload run in a fresh JVM; returns its result object."""
    d = os.path.join(run_dir, tag)
    os.makedirs(os.path.join(d, "tmp"))
    out = os.path.join(d, "result.json")
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={os.path.join(d, 'tmp')}",
                                   "-cp", cp, "e2ebench.Main",
                                   "--workload", args.workload, "--seed", str(args.seed),
                                   "--seconds", str(args.seconds), "--cores", str(cores),
                                   "--rate", str(args.curate_rate), "--run-dir", d,
                                   "--out", out, "--pins", PINS,
                                   "--cache-dir", CACHE]
           + (["--trace", "--spans", spans_path(args)] if trace else []) + list(extra))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    log = os.path.join(d, "jvm.log")
    rc = run_child(cmd, d, log, deadline - time.time(), env)
    if "--prepare" in extra and rc == 0:
        return None
    if rc != 0 or not os.path.exists(out):
        why = "timed out" if rc is None else f"exit {rc}"
        die(f"{tag} run {why}:\n{tail(log)}", 1)
    with open(out) as f:
        return json.load(f)


def spans_path(args):
    """Where a traced run leaves its spans; outside the per-run directory,
    which is deleted at exit."""
    return os.path.join(RUNS, f"spans-{args.workload}-{args.seed}.jsonl")


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except (OSError, ValueError):
        return 0, 0


def metric_specs():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        return ({m["name"]: m["unit"] for m in b["end_to_end"]},
                {m["name"]: m["unit"] for m in b["per_layer"]})
    except (OSError, ValueError, KeyError):
        return None, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--curate-rate", type=int, required=True,
                    help="documents per second offered by curate_paced's generator")
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(PROGRAM_SRC):
        die(f"no program sources at {os.path.relpath(PROGRAM_SRC)}; run from the repository root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")
    e2e_units, layer_units = metric_specs()
    signal.signal(signal.SIGTERM, lambda *_: (stop_children(), sys.exit(143)))
    load0, ticks0 = loadavg(), cpu_ticks()
    cp = build(t0 + 880)
    # a checkout's first run builds; the runs after the build get the
    # full deadline
    deadline = (time.time() if time.time() - t0 > 5 else t0) + DEADLINE_S
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        if args.workload == "operator_mix" and not os.path.exists(
                os.path.join(CACHE, "mix-tables-v1", "_COMPLETE")):
            jvm(cp, args, run_dir, "prepare", args.cores, False, t0 + 880, ["--prepare"])
        runs = []
        if args.trace:
            untraced = jvm(cp, args, run_dir, "untraced", args.cores, False, deadline)
            traced = jvm(cp, args, run_dir, "traced", args.cores, True, deadline)
            runs = [untraced, traced]
            metrics = dict(traced["layer"])
            for k, v in untraced["e2e"].items():
                metrics[f"untraced.{k}"] = v
                metrics[f"traced.{k}"] = traced["e2e"].get(k)
            metrics["trace.overhead_cpu_share"] = traced["e2e"]["cpu_s"] / untraced["e2e"]["cpu_s"] - 1
            metrics["parallel_speedup"] = 0.0
            if args.workload in SPEEDUP_WORKLOADS:
                one = jvm(cp, args, run_dir, "one-core", 1, False, deadline)
                runs.append(one)
                metrics["parallel_speedup"] = (untraced["e2e"]["throughput_per_s"]
                                               / one["e2e"]["throughput_per_s"])
            units = layer_units or {}
            for name in units:
                metrics.setdefault(name, 0.0)  # a layer this workload does not reach
        else:
            runs = [jvm(cp, args, run_dir, "run", args.cores, False, deadline)]
            metrics = dict(runs[0]["e2e"])
            units = e2e_units or {}
            missing = [k for k in units if k not in metrics]
            if missing:
                die(f"the run reported no {', '.join(missing)}", 1)
        load1, ticks1 = loadavg(), cpu_ticks()
    finally:
        stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    correct = all(r["correct"] for r in runs) and failed == 0
    for r in runs:
        for note in r["notes"]:
            print(f"# {note}")
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(f"# loadavg start {load0} end {load1}; cpu steal {100 * steal:.1f} %")
    if args.trace:
        print(f"# spans of the traced run: {os.path.relpath(spans_path(args))}")
    print(f"# error_rate {failed / max(1, attempted):.6g} ({failed} of {attempted} operations failed)")
    for k in sorted(metrics):
        print(f"{k} {metrics[k]} {units.get(k, '')}".rstrip())
    if units:
        metrics = {k: v for k, v in metrics.items() if k in units}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units.get(k, "")}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
