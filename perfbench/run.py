#!/usr/bin/env python3
"""graft's benchmark: one command per run.

    python3 perfbench/run.py --workload iterative|index \\
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds the program and the
harness from source (once per source state, under `.perfbench/build`),
generates the workload's inputs from the seed (cached per seed and scale
factor under `.perfbench/data`), and runs the workload in a fresh JVM with
a fresh, empty artifact store. Every query is timed through build, plan and
a `noop` write of all its rows and columns; outputs are checked against the
DuckDB oracle twins, untimed. A report goes to stderr, the full record and
(with --trace 1) the span tree to `.perfbench/runs`, and the last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. See README.md for what each metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RESETUPS = 5
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
HEAP = "3g"
BUSY_CORES = 1.0
QUIET_WAIT_S = 15

END_TO_END = {
    "first_pass_s": "s",
    "setup_s": "s",
    "materialized_mb": "MB",
}
# Steady-pass times and the process start are per-layer, not end-to-end:
# they do not repeat from run to run within a tenth on a small VM
# (README.md, "Measured spread").
LAYER_COMMON = {
    "pass_s": "s",
    "query_geomean_s": "s",
    "start_s": "s",
    "catalyst.plan_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "sink.exec_s": "s",
    "Tables.scan_bytes": "bytes",
    "Tables.scan_records": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.driver_gap_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "executor.cpu_s": "s",
    "executor.run_s": "s",
    "executor.cpu_util": "ratio",
    "driver.result_bytes": "bytes",
    "materialize.block_bytes": "bytes",
    "materialize.held_rdds": "count",
    "materialize.held_bytes": "bytes",
    "ArtifactCache.builds": "count",
    "ArtifactCache.hits": "count",
    "ArtifactCache.store_bytes": "bytes",
    "jvm.gc_s": "s",
    "first.operators.build_s": "s",
    "first.scheduler.jobs": "count",
    "first.scheduler.driver_gap_s": "s",
    "first.executor.cpu_s": "s",
    "first.ArtifactCache.builds": "count",
    "first.ArtifactCache.hits": "count",
    "trace.overhead_frac": "ratio",
    "legacy.count_pass_s": "s",
}
FAMILIES = sorted({f for w in WORKLOADS.values() for f, _ in w["queries"]})
PER_LAYER = dict(LAYER_COMMON, **{
    f"{f}.{m}": "s" for f in FAMILIES for m in ("build_s", "wall_s")})
UNITS = dict(PER_LAYER, **END_TO_END)

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*.scala", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/**/*.scala"]
    return sorted({f for p in pats
                   for f in glob.glob(os.path.join(ROOT, p), recursive=True)})


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """The harness classpath, compiling with sbt when the sources changed."""
    out = os.path.join(STATE, "build")
    cp_file = os.path.join(out, f"classpath-{digest[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g", "-Dsbt.offline=true"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    build_log = os.path.join(out, "sbt.log")
    log("perfbench: building program and harness with sbt ...")
    with open(build_log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    with open(build_log) as fh:
        lines = fh.read().splitlines()
    cp = lines[-1].strip() if lines else ""
    if rc != 0 or "perfbench" not in cp or cp.startswith("["):
        log("\n".join(lines[-30:]))
        fail(f"build failed (sbt exit {rc}); log in {build_log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(total, busy, steal) jiffies of all CPUs. Busy is time spent running
    something (not idle, not waiting for I/O, not stolen); steal is time
    the hypervisor gave this VM's virtual CPUs to someone else."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:8]), sum(f[:8]) - f[3] - f[4] - f[7], f[7]
    except (OSError, ValueError, IndexError):
        return None


def busy_cores(seconds=1.0):
    """How many cores were busy, on average, over the next `seconds`."""
    a = cpu_ticks()
    time.sleep(seconds)
    b = cpu_ticks()
    if not a or not b or b[0] <= a[0]:
        return None
    return (b[1] - a[1]) / (b[0] - a[0]) * (os.cpu_count() or 1)


def wait_quiet():
    """Wait, up to QUIET_WAIT_S, until at most BUSY_CORES cores are busy.
    Returns (seconds waited, busy cores in the last one-second sample)."""
    t0 = time.time()
    busy = busy_cores()
    while busy is not None and busy > BUSY_CORES \
            and time.time() - t0 < QUIET_WAIT_S:
        busy = busy_cores()
    return time.time() - t0, busy


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work):
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CACHE_ROOT=os.path.join(work, "store"))
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as fh:
        try:
            rc = subprocess.run(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as fh:
            log("".join(fh.readlines()[-30:]))
        fail(f"benchmark JVM failed ({rc})")


def check_outputs(sf_dir, out, names, result, cpus):
    """{query: reason} for every query that threw or failed the oracle."""
    import oracle  # needs the checkout's scripts/strictcheck.py
    bad = {}
    for p in result["passes"]:
        for q in p["queries"]:
            if q["error"]:
                bad.setdefault(q["name"], f"threw: {q['error']}")
    bad.update({k: f"output dump threw: {v}"
                for k, v in result["dump_errors"].items() if k not in bad})
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    con = oracle.connect(sf_dir, cpus)
    for name in names:
        if name in bad:
            continue
        if name not in sqls:
            bad[name] = "no oracle twin"
            continue
        for kind in ("first", "warm"):
            try:
                want = oracle.expected(con, sf_dir, name, sqls[name])
                got = oracle.actual(con, os.path.join(out, "outputs", kind, name))
                reason = oracle.compare(name, got, want)
            except Exception as e:  # an unreadable output is a failed check
                reason = f"check error: {e}"
            if reason:
                bad[name] = f"{kind} pass: {reason}"
                break
    return bad


def end_to_end(result):
    """Every run-level figure, whichever list (end-to-end or per-layer) it
    is reported in."""
    steady = [p for p in result["passes"] if p["kind"] == "steady"]
    return dict(spans.steady_times(steady), **{
        "first_pass_s": spans.pass_seconds(result["passes"][0]),
        "setup_s": statistics.median(result["setup_s"]),
        "start_s": result["start_s"],
        "materialized_mb": statistics.median(
            p["block_bytes"] for p in steady) / 1e6,
    })


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "scripts/strictcheck.py"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"no graft sources here ({f} is missing); run from the root "
                 "of a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    wl = WORKLOADS[a.workload]
    names = [q for _, q in wl["queries"]]
    # two cores are left to the driver thread, JIT compilation and GC; see
    # README.md for the measurement behind this
    cpus = max(1, min(4, (os.cpu_count() or 3) - 2))
    digest = source_digest()
    cp = build(digest)

    t0 = time.time()
    sf_dir = gen.ensure(os.path.join(STATE, "data"), wl["sf"], a.seed)
    gen_s = time.time() - t0

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = os.path.join(work, "out")
        quiet_wait_s, busy = wait_quiet()
        load_before = loadavg()
        ticks_before = cpu_ticks()
        run_jvm(cp, ["--sf-dir", sf_dir, "--out", out, "--work", work,
                     "--cpus", str(cpus), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--resetups", str(RESETUPS),
                     "--queries", ",".join(f"{f}:{q}" for f, q in wl["queries"])],
                work)
        runs = os.path.join(STATE, "runs")
        os.makedirs(runs, exist_ok=True)
        shutil.copy(os.path.join(out, "result.json"),
                    os.path.join(runs, f"{tag}.raw.json"))
        with open(os.path.join(out, "result.json")) as fh:
            result = json.load(fh)
        t1 = time.time()
        bad = check_outputs(sf_dir, out, names, result, cpus)
        check_s = time.time() - t1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    load_after = loadavg()
    ticks_after = cpu_ticks()
    steal = None
    if ticks_before and ticks_after and ticks_after[0] > ticks_before[0]:
        steal = ((ticks_after[2] - ticks_before[2])
                 / (ticks_after[0] - ticks_before[0]))
    e2e = end_to_end(result)
    attempted = len(names)
    prov = dict(result["provenance"], commit=git_commit(),
                source_sha256=digest, seed=a.seed, sf=wl["sf"],
                nproc=os.cpu_count(), workload=a.workload, trace=a.trace,
                seconds=a.seconds, loadavg_before=load_before,
                loadavg_after=load_after, cpu_steal_frac=steal,
                busy_cores_before=busy, quiet_wait_s=quiet_wait_s,
                busy_box=bool(busy is not None and busy > BUSY_CORES),
                gen_s=gen_s, check_s=check_s)
    if a.trace:
        metrics = spans.layer_metrics(result, cpus, FAMILIES)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    record = {"provenance": prov, "end_to_end": e2e, "metrics": metrics,
              "failed_frac": len(bad) / attempted, "failures": bad,
              "passes": [{"kind": p["kind"], "traced": p["traced"],
                          "seconds": spans.pass_seconds(p)}
                         for p in result["passes"]]}
    if a.trace:
        record["spans"] = spans.span_tree(a.workload, result)
    rec_path = os.path.join(runs, f"{tag}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)

    log(f"perfbench {a.workload} seed={a.seed} sf={wl['sf']} "
        f"local[{cpus}] heap={HEAP} spark={prov['spark']} jdk={prov['jdk']} "
        f"commit={prov['commit'] or 'n/a'} src={digest[:12]}")
    log(f"  loadavg before={load_before} after={load_after}"
        + (f" cpu_steal={steal:.3f}" if steal is not None else "")
        + (f" busy_cores={busy:.2f}" if busy is not None else "")
        + f" quiet_wait={quiet_wait_s:.1f}s"
        + ("  ** BUSY BOX: more than one core busy at start **"
           if prov["busy_box"] else ""))
    log(f"  passes: " + ", ".join(f"{p['kind']}{'*' if p['traced'] else ''}="
                                  f"{p['seconds']:.3f}s" for p in record["passes"]))
    for k, v in metrics.items():
        log(f"  {k:32s} {v:14.6g} {UNITS[k]}")
    log(f"  {'failed_frac':32s} {record['failed_frac']:14.6g} ratio")
    log(f"  oracle: {attempted - len(bad)}/{attempted} queries match"
        + "".join(f"\n    FAIL {k}: {v}" for k, v in sorted(bad.items())))
    log(f"  record: {rec_path}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
