#!/usr/bin/env python3
"""End-to-end, layer-attributed benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: marketviz_daily, curation_balanced, curation_dupheavy (see
perfbench/README.md). The first run builds the library and the harness
with sbt; later runs reuse the build until a source file changes.

Stdout: metric lines and check verdicts, then one JSON line with the keys
correct, attempted, failed and metrics (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Every run also appends a full record,
with its run context, to .perfbench/results.jsonl.

Exit status: 0 when the run finished and every output check passed; 1 when
a check failed; 2 when the checkout is incomplete or the build failed; 3 on
timeout.
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
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
# Input sizes per workload: (full, --toy).
WORKLOADS = {
    "marketviz_daily": ({"tickers": 2000, "days": 40}, {"tickers": 60, "days": 4}),
    "curation_balanced": ({"docs": 1000}, {"docs": 200}),
    "curation_dupheavy": ({"docs": 1000}, {"docs": 200}),
}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# JVM warnings go to stderr, never stdout.
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Xlog:disable", "-Xlog:all=warning:stderr"] + [
    arg
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def make_inputs(workload, size, seed, out_dir):
    sys.dont_write_bytecode = True  # leave no build output beside the sources
    sys.path.insert(0, HERE)
    import inputs
    if workload == "marketviz_daily":
        # a 21-trading-day window per simulated day
        inputs.market(seed, size["tickers"], size["days"] + 21, out_dir)
    else:
        inputs.documents(seed, size["docs"], out_dir,
                         dupheavy=workload == "curation_dupheavy")


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change invalidates the build (this script decides
    how to build, so it is one of them)."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
           os.path.abspath(__file__)]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def src_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return p, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath(log_dir):
    """Build once per source state; returns (runtime classpath, built now)."""
    build_dir = os.path.join(STATE, "build")
    stamp = os.path.join(build_dir, "classpath.json")
    digest = src_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"], False
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(log_dir, "build.log")
    with open(log, "w") as fh:
        _, rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           "export Runtime/fullClasspathAsJars"],
                          HERE, BUILD_TIMEOUT_S, stdout=fh, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, env=sbt_env())
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        tail = "\n".join(l[:300] for l in lines[-20:])
        fail(2, f"build failed (exit {rc}); see {log}\n{tail}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp, True


def meminfo():
    out = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemAvailable", "Cached"):
                    out[k] = int(v.split()[0]) // 1024
    except OSError:
        pass
    return out


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def last_overhead(results, workload):
    """The tracing overhead last measured for `workload` in this checkout."""
    if not os.path.exists(results):
        return None
    found = None
    with open(results) as fh:
        for line in fh:
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if r.get("workload") == workload and r.get("trace") and \
                    r.get("trace_overhead_frac") is not None:
                found = {"value": r["trace_overhead_frac"], "seed": r.get("seed")}
    return found


def append(results, record):
    os.makedirs(os.path.dirname(os.path.abspath(results)), exist_ok=True)
    with open(results, "a") as fh:
        fh.write(json.dumps(record) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for self-tests")
    ap.add_argument("--fault", choices=("drop_index_row", "alter_chunk"),
                    help="plant a fault the output checks must catch")
    ap.add_argument("--results", default=os.path.join(STATE, "results.jsonl"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, f"no graft sources under {ROOT}; run from the repository root")

    started = time.time()
    log_dir = os.path.join(STATE, "logs")
    os.makedirs(log_dir, exist_ok=True)
    cp, built = classpath(log_dir)

    nproc = len(os.sched_getaffinity(0))
    cpus = min(4, nproc)
    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    size = WORKLOADS[a.workload][1 if a.toy else 0]
    t0 = time.time()
    make_inputs(a.workload, size, a.seed, os.path.join(work, "inputs"))
    input_gen_s = time.time() - t0
    load_before = os.getloadavg()[0]
    mem_before = meminfo()

    cmd = ["java"] + JAVA_OPTS + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cpus", str(cpus)]
    if a.fault:
        cmd += ["--fault", a.fault]
    if a.trace:
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        cmd += ["--trace-out", os.path.join(trace_dir, f"{a.workload}-{a.seed}.jsonl")]
    jvm_log = os.path.join(log_dir, f"{a.workload}-{a.seed}-{a.trace}.log")
    # A run gets RUN_TIMEOUT_S in all, plus whatever a build took.
    timeout = RUN_TIMEOUT_S - (0 if built else time.time() - started)
    result, timed_out = None, []
    try:
        with open(jvm_log, "w") as err:
            # Spark would put its scratch space where these point, outside
            # the checkout; spark.local.dir keeps it in the work directory.
            env = {k: v for k, v in os.environ.items()
                   if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, text=True, env=env,
                                 start_new_session=True)

            def on_timeout(*_):
                timed_out.append(True)
                os.killpg(p.pid, signal.SIGKILL)
            signal.signal(signal.SIGALRM, on_timeout)
            signal.alarm(max(int(timeout), 1))
            try:
                for line in p.stdout:
                    if line.startswith("PERFBENCH_RESULT "):
                        result = json.loads(line[len("PERFBENCH_RESULT "):])
                    else:
                        sys.stdout.write(line)
                        sys.stdout.flush()
                rc = p.wait()
            finally:
                signal.alarm(0)
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if timed_out or result is None:
        # Recorded, so that a comparison counts the run as failed.
        append(a.results, {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                           "toy": a.toy, "fault": a.fault, "src_digest": src_digest(),
                           "correct": False, "attempted": 0, "failed": 0,
                           "metrics": {}, "error": "timeout" if timed_out else "no result"})
    if timed_out:
        fail(3, f"timed out after {timeout:.0f} s; JVM log: {jvm_log}")
    if result is None:
        with open(jvm_log) as fh:
            tail = fh.read().splitlines()[-30:]
        fail(2, f"no result (exit {rc}); JVM log {jvm_log}:\n" + "\n".join(tail))

    details = result.get("details", {})
    failed_frac = result["failed"] / result["attempted"] if result["attempted"] else 0.0
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "toy": a.toy, "fault": a.fault, "inputs": size, "input_gen_s": input_gen_s,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
        "commit": commit(), "src_digest": src_digest(),
        "nproc": nproc, "local_n": cpus,
        "load1_before": load_before, "load1_after": os.getloadavg()[0],
        "mem_before_mb": mem_before, "mem_after_mb": meminfo(),
        "jvm_version": details.get("jvm_version"),
        "spark_version": details.get("spark_version"),
        "trace_overhead_frac": details.get("trace_overhead_frac") if a.trace else None,
        "trace_overhead_last": None if a.trace else last_overhead(a.results, a.workload),
        "wall_s": time.time() - started,
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"], "failed_frac": failed_frac,
        "metrics": result["metrics"], "checks": result.get("checks"), "details": details,
    }
    append(a.results, record)

    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
