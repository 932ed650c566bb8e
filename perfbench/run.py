#!/usr/bin/env python3
"""Benchmark of the reference job: files -> views -> pivot -> merge ->
documents -> deletes (workloads and metrics in BENCHMARK.json; design and
seed-commit numbers in perfbench/DESIGN.md).

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the benchmark from source with sbt, and then the full-synced
base state the workloads restore. Each run is a fresh JVM. ``--trace 1``
runs the workload traced and prints the per-layer metrics; the spans go
to perfbench/.work/spans-traced.json and a record of every run to
perfbench/.work/record-<workload>-<trace>.json. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
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
sys.path.insert(0, HERE)

import gen    # noqa: E402
import check  # noqa: E402

WORK = os.path.join(HERE, ".work")

# Workload sizes. The timed part is sized from --seconds so that one run
# takes about that long on the seed commit at 4 cores.
FULL_ENTITIES_PER_S = 250      # full_sync corpus: entities per second of run
BASE_SEED = 0                  # base state that incremental/streaming restore
BASE_ENTITIES = 2500
INC_SECONDS_PER_BATCH = 45.0   # incremental: K = seconds / this (at least 1)
INC_TOUCH_FRAC = 0.01          # ~1% of entities per batch
STREAM_INTERVAL_S = 8.0        # streaming: trigger interval of the sync service
STREAM_FILES_PER_INTERVAL = 8  # open-loop arrivals per interval (1 file/s)
STREAM_CUSTOMERS_PER_FILE = 4  # + one inserted customer per file
SETUP_REPS = 3

def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def hygiene_env():
    """Refuse engine knobs; hand the JVM an environment without them."""
    for k, v in os.environ.items():
        if k.startswith("GRAFT_") or "spark.graft." in v:
            die("engine knob %s is set; the benchmark runs engine defaults only" % k)
    return {k: v for k, v in os.environ.items() if "GRAFT_" not in k}


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for pattern in ("src/main/**/*", "perfbench/src/main/**/*"):
        files += sorted(glob.glob(os.path.join(root, pattern), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, env):
    stamp = source_stamp(root)
    cp_file = os.path.join(WORK, "build-%s.classpath" % stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return stamp, f.read().strip()
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Djava.io.tmpdir=" + tmp,
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed", 3)
    for old in glob.glob(os.path.join(WORK, "build-*.classpath")) + \
            glob.glob(os.path.join(WORK, "history-*.json")):
        os.remove(old)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return stamp, lines[-1].strip()


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_flags(run_dir):
    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    # temporary files (native-library extraction among them) stay in the
    # run's directory, and no perf-data file is written outside it
    flags = ["-Xmx" + heap, "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
    for p in JDK_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    return flags


def run_jvm(cp, env, args, log):
    os.makedirs(os.path.join(args["work"], "tmp"), exist_ok=True)
    cmd = ["java"] + jvm_flags(args["work"]) + ["-cp", cp, "perfbench.Main"] + \
        ["%s=%s" % kv for kv in args.items()]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    out = args["out"]
    if not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        return None
    with open(out) as f:
        return json.load(f)


def cpu_probe_s():
    """Seconds a fixed pure-Python loop takes: on a shared machine it
    grows with contention the guest's load average does not show."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1000000):
        x += i * i
    return round(time.perf_counter() - t0, 4)


def steal_s():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_available_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


def ensure_base(cp, env, stamp):
    """Full-synced base state (seed-independent), built once per build
    and restored by incremental and streaming set-up."""
    base = os.path.join(WORK, "base-%s-%d" % (stamp, BASE_ENTITIES))
    if os.path.isdir(os.path.join(base, "docs")):
        return base
    for old in glob.glob(os.path.join(WORK, "base-*")):
        shutil.rmtree(old, ignore_errors=True)
    t = gen.base_truth(BASE_SEED, BASE_ENTITIES)
    inputs = os.path.join(WORK, "base-inputs")
    shutil.rmtree(inputs, ignore_errors=True)
    gen.write_corpus(t, inputs)
    run_dir = os.path.join(WORK, "base-run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res = run_jvm(cp, env, {
        "workload": "base", "work": run_dir, "inputs": inputs, "cores": nproc(),
        "setup_reps": 1, "input_bytes": gen.dir_bytes(inputs),
        "base_out": base, "out": os.path.join(run_dir, "result.json")},
        os.path.join(WORK, "base.log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    if res is None or res["failed"]:
        die("building the base state failed", 3)
    return base


def nproc():
    return len(os.sched_getaffinity(0))


def prepare(workload, seed, seconds, inputs, cp, env, stamp):
    """Generate this run's inputs; returns (truth, jvm args)."""
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(inputs)
    args = {"workload": workload, "inputs": inputs}
    if workload == "full_sync":
        t = gen.base_truth(seed, int(FULL_ENTITIES_PER_S * seconds))
        gen.write_corpus(t, inputs)
        sizes = {"entities": len(t.entities)}
    elif workload == "incremental":
        args["base"] = ensure_base(cp, env, stamp)
        t = gen.base_truth(BASE_SEED, BASE_ENTITIES)
        k = max(1, int(round(seconds / INC_SECONDS_PER_BATCH)))
        batches = gen.make_batches(t, seed, k, INC_TOUCH_FRAC)
        for b in batches:
            gen.write_batch(t, b, os.path.join(inputs, "batch-%d" % b["i"]))
            args["since_%d" % b["i"]] = b["date"]
        args["batches"] = k
        sizes = {"entities": len(t.entities), "batches": k,
                 "touched_per_batch": [sum(len(b[x]) for x in
                                           ("scalar", "children", "tombstone", "revoke", "insert"))
                                       for b in batches]}
    else:
        args["base"] = ensure_base(cp, env, stamp)
        t = gen.base_truth(BASE_SEED, BASE_ENTITIES)
        n_files = STREAM_FILES_PER_INTERVAL * max(1, int(seconds // STREAM_INTERVAL_S))
        # file 0 warms the service up during set-up; the rest are timed
        files = gen.stream_updates(t, seed, n_files + 1, STREAM_CUSTOMERS_PER_FILE)
        gen.write_stream_files(files, os.path.join(inputs, "stream"))
        args["interval_s"] = STREAM_INTERVAL_S
        args["files_per_interval"] = STREAM_FILES_PER_INTERVAL
        args["warm_rows"] = len(gen.view_quads(files[0]))
        args["stream_rows"] = sum(len(gen.view_quads(r)) for r in files[1:])
        sizes = {"entities": len(t.entities), "files": n_files,
                 "rate_per_s": STREAM_FILES_PER_INTERVAL / STREAM_INTERVAL_S}
    sizes["input_bytes"] = gen.dir_bytes(inputs)
    if workload == "streaming":  # the warm-up file is read in set-up
        sizes["input_bytes"] -= os.path.getsize(
            os.path.join(inputs, "stream", "feed-00000.parquet"))
    args["input_bytes"] = sizes["input_bytes"]
    return t, args, sizes


def run_once(workload, trace, t, base_args, inputs, cp, env, tag):
    run_dir = os.path.join(WORK, "run-" + tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = dict(base_args)
    args.update({"work": run_dir, "cores": nproc(), "trace": trace,
                 "setup_reps": SETUP_REPS, "run_id": tag,
                 "out": os.path.join(run_dir, "result.json"),
                 "spans": os.path.join(WORK, "spans-%s.json" % tag)})
    if workload == "streaming":
        staging = os.path.join(run_dir, "staging")
        shutil.copytree(os.path.join(inputs, "stream"), staging)
        args["stream_staging"] = staging
    res = run_jvm(cp, env, args, os.path.join(WORK, "jvm-%s.log" % tag))
    errors, summary, missed = ["process failed"], {}, []
    if res is not None and not res["failed"]:
        tables = check.load(run_dir, workload)
        errors, summary = check.check(tables, t, workload)
        missed = check.negative_control(tables, t, workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res, errors, summary, missed


def history(stamp, workload, add=None):
    """Untraced run_s of earlier runs of this build, the base for the
    tracing overhead ratio (at most 30 kept per workload)."""
    path = os.path.join(WORK, "history-%s.json" % stamp)
    hist = {}
    if os.path.exists(path):
        with open(path) as f:
            hist = json.load(f)
    if add is not None:
        hist[workload] = (hist.get(workload, []) + [add])[-30:]
        with open(path, "w") as f:
            json.dump(hist, f)
    return hist.get(workload, [])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["full_sync", "incremental", "streaming"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    opts = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) and
            os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        die("run from the repository root: the engine sources are not here")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    env = hygiene_env()
    os.makedirs(WORK, exist_ok=True)
    record = {"workload": opts.workload, "seed": opts.seed, "seconds": opts.seconds,
              "trace": opts.trace, "nproc": nproc(), "load1_start": load1(),
              "mem_available_mb": mem_available_mb(), "jvm_flags": jvm_flags("<run dir>"),
              "commit": git_commit(root), "cpu_probe_s_start": cpu_probe_s()}
    steal0 = steal_s()
    stamp, cp = build(root, env)
    record["build"] = stamp
    inputs = os.path.join(WORK, "inputs")
    g0 = time.time()
    t, args, sizes = prepare(opts.workload, opts.seed, opts.seconds, inputs, cp, env, stamp)
    record["gen_s"] = round(time.time() - g0, 3)
    record["sizes"] = sizes

    # End-to-end numbers come from untraced runs only. A traced run needs
    # an untraced run_s of the same build for its overhead ratio: earlier
    # runs', or one made now.
    errors, missed, summary = [], [], {}
    res = traced = None
    base_run_s = history(stamp, opts.workload)
    if not opts.trace or not base_run_s:
        res, errors, summary, missed = run_once(
            opts.workload, 0, t, args, inputs, cp, env, "e2e")
        if res is not None and not res["failed"] and not errors:
            base_run_s = history(stamp, opts.workload, add=res["metrics"]["run_s"])
    if opts.trace and (res is None or not res["failed"]):
        traced, terr, summary, tmissed = run_once(
            opts.workload, 1, t, args, inputs, cp, env, "traced")
        errors += ["traced: " + e for e in terr]
        missed += tmissed
    shutil.rmtree(inputs, ignore_errors=True)

    out = traced if opts.trace else res
    attempted = max(1, out["attempted"] if out else 1)
    failed = out["failed"] if out else attempted
    correct = out is not None and not errors and not missed
    if not correct:
        failed = attempted  # a failed output check fails every operation
    record.update({"load1_end": load1(), "cpu_probe_s_end": cpu_probe_s(),
                   "steal_s": round(steal_s() - steal0, 2), "errors": errors[:20],
                   "negative_control_missed": missed, "tables": summary,
                   "raw": out["metrics"] if out else None})
    with open(os.path.join(WORK, "record-%s-%d.json" % (opts.workload, opts.trace)), "w") as f:
        json.dump(record, f, indent=1)
    for e in errors[:20]:
        print("check: " + e, file=sys.stderr)
    for m in missed:
        print("negative control not detected: " + m, file=sys.stderr)

    metrics = {}
    if out is not None:
        raw = dict(out["metrics"])
        raw["bench.error_rate"] = failed / attempted
        if opts.trace:
            raw["bench.tracing_overhead_ratio"] = \
                raw["run_s"] / statistics.median(base_run_s) if base_run_s else 0.0
        # whole-run values reported under their per-layer names
        for k in ("batch_tail_s", "batch_tail_pct", "batch_n"):
            raw["bench." + k] = raw.get(k, 0.0)
        raw["spark.cached_mb_after"] = raw.get("cached_mb_after", 0.0)
        raw["jvm.peak_rss_mb"] = raw.get("peak_rss_mb", 0.0)
        names = spec["per_layer"] if opts.trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": raw.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in names}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None  # a plain checkout; the build stamp identifies the sources
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
