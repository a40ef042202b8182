#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload layout_rw --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (sbt, cached
by a hash of the sources under perfbench/.work/build), then starts one JVM
(graft.perfbench.Main) that sets up the workload, measures it for
--seconds, checks its outputs and writes its run record. The record is
kept under perfbench/.work/records/; the last line printed here is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

WORKLOADS = ("layout_rw", "curation")
# Scale of the test data the workloads read: a directory under the data
# root (PERFBENCH_DATA, default perfbench/data, which holds the tables).
SCALE = "sf0.01"

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources, and
    the environment the engine build reads its JVM flags from."""
    h = hashlib.sha256()
    h.update(os.environ.get("SPARK_GRAFT_JVM_FLAGS", "").encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        files += glob.glob(os.path.join(src, "**", "*"), recursive=True)
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged;
    returns the runtime classpath and the JVM flags of the run, both
    written by the benchmark build's `launchFiles` task."""
    bdir = os.path.join(WORK, "build")
    stamp = source_stamp()
    cp_file, flags_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "jvm.flags")
    stamp_file = os.path.join(bdir, "stamp")

    def built():
        if not all(os.path.exists(f) for f in (cp_file, flags_file, stamp_file)):
            return None
        with open(stamp_file) as sf, open(cp_file) as cf, open(flags_file) as ff:
            same, cp, flags = sf.read().strip() == stamp, cf.read().strip(), ff.read().split("\n")
        if same and cp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp, [f for f in flags if f]
        return None

    got = built()
    if got:
        return got
    log("building engine and benchmark (sbt) ...")
    t0 = time.time()
    shutil.rmtree(bdir, ignore_errors=True)
    try:
        code, out = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFiles"],
            BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0 or "[error]" in out or not (os.path.exists(cp_file) and os.path.exists(flags_file)):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    got = built()
    if not got:
        fail("build wrote no usable classpath")
    log(f"built in {time.time() - t0:.1f} s")
    return got


def contract_metrics(trace):
    """Names of the metrics a run must print, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def latest_untraced(workload):
    recs = sorted(glob.glob(os.path.join(WORK, "records", f"*-{workload}-*-t0.json")))
    for path in reversed(recs):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("correct"):
            return rec
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found beside the benchmark; run from a full checkout")
    try:
        wanted = contract_metrics(a.trace)
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read the metric list from BENCHMARK.json: {e}")
    data_root = os.environ.get("PERFBENCH_DATA", os.path.join(BENCH, "data"))
    data = os.path.join(data_root, SCALE)
    if not os.path.isdir(data):
        fail(f"test data not found: {data} (set PERFBENCH_DATA)")

    cp, jvm_flags = build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    argfile = os.path.join(run_dir, "jvm.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(jvm_flags + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                                        "-cp", cp]) + "\n")
    cmd = ["java", "@" + argfile, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--work", run_dir,
           "--expected", os.path.join(BENCH, "expected")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark"))
    jvm_log = os.path.join(WORK, "last-jvm.log")
    t0 = time.time()
    try:
        with open(jvm_log, "w") as errfh:
            code, out = run_group(cmd, JVM_TIMEOUT_S, cwd=run_dir, env=env,
                                  stdout=subprocess.PIPE, stderr=errfh,
                                  stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {jvm_log})", 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    wall = time.time() - t0
    recs = [l for l in out.splitlines() if l.startswith("PERFBENCH_RECORD ")]
    if code != 0 or not recs:
        fail(f"run failed (exit {code}); see {jvm_log}", 1)
    rec = json.loads(recs[-1][len("PERFBENCH_RECORD "):])
    rec["wall_s"] = wall

    if a.trace:
        base = latest_untraced(a.workload)
        if base:
            rec["tracing_overhead"] = {
                k: {"traced": rec["e2e"][k]["value"], "untraced": base["e2e"][k]["value"],
                    "overhead_frac": rec["e2e"][k]["value"] / base["e2e"][k]["value"] - 1.0}
                for k in ("op_p50_ms", "cycle_s") if k in rec["e2e"] and k in base["e2e"]}
            rec["tracing_overhead"]["untraced_seed"] = base["seed"]

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "records",
                           f"{stamp}-{os.getpid()}-{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as fh:
        json.dump(rec, fh, indent=1)

    for section in ("e2e", "named", "layers"):
        for name, m in rec[section].items():
            print(f"{section:6s} {name:32s} {m['value']:.6g} {m['unit']} (n={m['n']})")
    h = rec["host"]
    print(f"host   nproc={h['nproc']} load1m {h['load1m_start']:.2f}->{h['load1m_end']:.2f} "
          f"steal% setup={h['steal_pct_setup']:.2f} measured={h['steal_pct_measured']:.2f}")
    if "tracing_overhead" in rec:
        print("trace  overhead vs untraced: " + json.dumps(rec["tracing_overhead"]))
    for f in rec["failures"]:
        print(f"FAILED {f}")

    got = rec["layers" if a.trace else "e2e"]
    metrics = {n: {"value": got[n]["value"], "unit": got[n]["unit"]} for n in wanted if n in got}
    complete = len(metrics) == len(wanted)
    print(json.dumps({"correct": bool(rec["correct"]) and complete,
                      "attempted": int(rec["attempted"]), "failed": int(rec["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
