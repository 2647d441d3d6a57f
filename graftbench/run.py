#!/usr/bin/env python3
"""Benchmark of the extraction engine: one workload, one seed, one fresh JVM.

    python3 graftbench/run.py --workload extract_skewed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program is built from a copy of
src/, build.sbt and project/ under the work directory, which lies outside
the checkout ($GRAFTBENCH_WORKDIR, default graftbench-<hash of the checkout
path> in the system temp directory), and launched with that build's own
`run / javaOptions` and classpath. Each run starts in an empty directory
under the work directory; the whole checkout must list the same (path,
size, mtime) before and after, or the run fails. The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}; the line before
it holds the workload's named figures, the host and the configuration used.
See README.md in this directory.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # a run must not write into the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib as B  # noqa: E402

WORKLOADS = ("extract_skewed", "commit_incremental", "query_sweep")
DATA_DIR = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "query_sweep.json")
DRIVER_MEM = "4g"
RUN_TIMEOUT_S = 170
# sbt resolves offline, from the repositories file in the user's ~/.sbt
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------------- build

def run_group(cmd, cwd, env, stdout, timeout):
    """Runs `cmd` in its own process group and waits for it; on timeout or
    interruption the whole group (sbt forks its JVM) is killed and reaped."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sbt(cwd, commands, env_extra, logfile):
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS, **env_extra)
    with open(logfile, "w") as lf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true"] + commands, cwd, env, lf, 800)
    if rc != 0:
        fail(f"sbt failed in {cwd}; see {logfile}")
    with open(logfile) as lf:
        return lf.read().splitlines()


def exported_classpath(lines):
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if not cps:
        fail("sbt printed no classpath")
    return cps[-1].strip()


def copy_program(root, dst):
    os.makedirs(dst)
    shutil.copytree(os.path.join(root, "src"), os.path.join(dst, "src"))
    shutil.copy2(os.path.join(root, "build.sbt"), dst)
    shutil.copytree(os.path.join(root, "project"), os.path.join(dst, "project"),
                    ignore=shutil.ignore_patterns("target", "project"))


def build(root, work):
    """Builds the program and the benchmark's JVM half once per source state;
    returns {"java_options", "classpath", "key", …}."""
    key = B.tree_hash(root, ["src", "build.sbt", "project/build.properties",
                             os.path.relpath(os.path.join(HERE, "jvm"), root)])
    key = f"{key}-{DRIVER_MEM}"
    out = os.path.join(work, "build", key)
    done = os.path.join(out, "build.json")
    os.makedirs(os.path.join(work, "build"), exist_ok=True)
    with open(os.path.join(work, "build", ".lock"), "w") as lock:
        fcntl.lockf(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            with open(done) as f:
                return json.load(f)
        shutil.rmtree(out, ignore_errors=True)
        prog, bench = os.path.join(out, "program"), os.path.join(out, "bench")
        copy_program(root, prog)
        shutil.copytree(os.path.join(HERE, "jvm"), bench,
                        ignore=shutil.ignore_patterns("target", "project/project"))
        t0 = time.time()
        log(f"building the program in {prog}")
        lines = sbt(prog, ["compile", "export Runtime/fullClasspath", "show run/javaOptions"],
                    {"SPARK_DRIVER_MEM": DRIVER_MEM}, os.path.join(out, "program-sbt.log"))
        program_cp = exported_classpath(lines)
        java_options = [ln[len("[info] * "):] for ln in lines if ln.startswith("[info] * ")]
        log("building the benchmark's JVM half")
        lines = sbt(bench, ["compile", "export Runtime/fullClasspath"],
                    {"GRAFTBENCH_PROGRAM_CP": program_cp}, os.path.join(out, "bench-sbt.log"))
        # the program's classpath last: its jars are already in the bench's
        result = {"java_options": java_options,
                  "classpath": exported_classpath(lines) + os.pathsep + program_cp,
                  "program_classpath": program_cp, "bench_dir": bench, "key": key,
                  "build_s": time.time() - t0}
        with open(done, "w") as f:
            json.dump(result, f)
        return result


# ----------------------------------------------------------------------- host

def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def _loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_static(root):
    mem = cpu = None
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                mem = int(ln.split()[1])
    with open("/proc/cpuinfo") as f:
        for ln in f:
            if ln.startswith("model name"):
                cpu = ln.split(":", 1)[1].strip()
                break
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        commit = "none"
    nproc = len(os.sched_getaffinity(0))
    host = {"nproc": nproc, "mem_total_kb": mem, "cpu_model": cpu}
    host["host_id"] = B.text_hash(json.dumps(host, sort_keys=True))
    host["git_commit"] = commit
    return host


# ------------------------------------------------------------------------ run

def launch(b, workload, seed, seconds, trace, rundir, data_dir, record, timeout):
    """Runs one measured JVM in `rundir`; returns its run record."""
    os.makedirs(os.path.join(rundir, "tmp"))
    out = os.path.join(rundir, "record.json")
    cmd = (["java"] + b["java_options"] +
           [f"-Djava.io.tmpdir={rundir}/tmp", f"-Dderby.system.home={rundir}",
            "-cp", b["classpath"], "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--dir", rundir, "--out", out,
            "--cores", str(len(os.sched_getaffinity(0))), "--data", data_dir,
            "--record", "1" if record else "0"])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(rundir, "graft-scratch"),
               SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"))
    env.pop("SPARK_GRAFT_SPREAD", None)
    launch_ms = time.time() * 1000.0
    cmd += ["--launch-ms", repr(launch_ms)]
    with open(os.path.join(rundir, "jvm.log"), "w") as lf:
        try:
            rc = run_group(cmd, rundir, env, lf, timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(rundir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{workload} JVM ended with {rc}")
    with open(out) as f:
        return json.load(f)


def self_test(root, work):
    """The benchmark's own unit tests: the Python arithmetic, then the JVM
    half's specs in its build copy."""
    py = subprocess.run([sys.executable, "-B", "-m", "unittest", "discover", "-s",
                         os.path.join(HERE, "tests")])
    b = build(root, work)
    sbt(b["bench_dir"], ["test"], {"GRAFTBENCH_PROGRAM_CP": b["program_classpath"]},
        os.path.join(work, "self-test-sbt.log"))
    log("JVM specs passed")
    sys.exit(py.returncode)


def untraced_baseline(results_file, workload, build_key):
    """The base of the tracing overhead from the results on file, or None."""
    if not os.path.exists(results_file):
        return None
    with open(results_file) as f:
        return B.overhead_base([json.loads(ln) for ln in f], workload, build_key)


def main():
    # a terminated run still stops the processes it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="run every query, check none, and merge the results into "
                         "expected/query_sweep.json")
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's unit tests")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src", "project"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    if a.workload == "query_sweep" and not os.path.isdir(DATA_DIR):
        fail(f"missing {DATA_DIR}")
    work = B.work_dir(root, os.environ.get("GRAFTBENCH_WORKDIR"), tempfile.gettempdir())
    if work is None:
        fail("the work directory must lie outside the checkout")
    if a.self_test:
        self_test(root, work)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    # the work directory, outside the checkout, is the one place a run
    # writes; the listing covers the whole checkout
    before = B.list_tree(root)
    host = host_static(root)

    b = build(root, work)
    results_file = os.path.join(work, "results", f"{host['host_id']}.jsonl")
    baseline = untraced_baseline(results_file, a.workload, b["key"]) if a.trace else None
    cpu0, load0 = _cpu_times(), _loadavg()
    # one budget for every JVM of this invocation; recording runs every
    # query twice over, so no run budget applies to it
    deadline = time.time() + (900 if a.record_expected else RUN_TIMEOUT_S)
    records = []
    # the base of the tracing overhead is the untraced runs of this build on
    # file; without any, a traced run first runs the same workload and seed
    # untraced itself
    for traced in ([True] if baseline else [False, True]) if a.trace else [False]:
        rundir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}-{int(traced)}")
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            records.append(launch(b, a.workload, a.seed, a.seconds, traced, rundir,
                                  DATA_DIR, a.record_expected, max(1.0, deadline - time.time())))
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
    cpu1, load1 = _cpu_times(), _loadavg()

    changed = B.diff_listing(before, B.list_tree(root))
    if changed:
        for ln in changed[:50]:
            log(f"workspace {ln}")
        fail(f"the run changed {len(changed)} paths in the checkout", code=3)

    expected = {}
    if a.workload == "query_sweep" and os.path.exists(EXPECTED) and not a.record_expected:
        with open(EXPECTED) as f:
            expected = json.load(f)["queries"]
    all_ops = []
    for r in records:
        if a.workload == "query_sweep" and not a.record_expected:
            B.check_queries(r["ops"], expected)
        all_ops += r["ops"]
    attempted, failed, lines = B.failures(all_ops)

    first, last = records[0], records[-1]
    e2e, named = B.end_to_end(first)
    host.update({"seed": a.seed, "java_version": first["java_version"],
                 "spark_version": first["spark_version"],
                 "loadavg_start": load0, "loadavg_end": load1,
                 "steal_ratio": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])})
    info = {"workload": a.workload, "traced": bool(a.trace), "host": host,
            "named_metrics": named,
            "config": {"java_options": b["java_options"], "session": first["config"],
                       "build": b["key"], "record": a.record_expected, "seconds": a.seconds},
            "failures": lines}
    if a.trace:
        metrics = B.per_layer(last, baseline or e2e["op_p50_ms"][0])
        if a.workload == "query_sweep":
            info["per_query"] = B.query_detail(last)
    else:
        metrics = e2e
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}

    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(results_file, "a") as f:
        f.write(json.dumps({"info": info, "result": result}) + "\n")
    if a.trace:
        with open(os.path.join(work, "results", f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(last["spans"], f)
    if a.record_expected:
        exp = {"queries": {}}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                exp = json.load(f)
        B.merge_expected(exp["queries"], first["ops"])
        os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
        with open(EXPECTED, "w") as f:
            json.dump(exp, f, indent=1, sort_keys=True)
            f.write("\n")

    for ln in lines:
        log(f"FAILED {ln}")
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
