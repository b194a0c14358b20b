#!/usr/bin/env python3
"""Benchmark of the engine's operator keys: one closed-loop client runs a
workload's keys in registry order, pass after pass, and prints one JSON
line of metrics as the last line of stdout.

    python3 perfbench/run.py --workload etl_sf01 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`) and caches the classpath; inputs are
generated from the seed (`gen.py`) and cached per seed. With `--trace 0`
the line holds the end-to-end metrics, with `--trace 1` the per-layer
metrics of a traced run. The raw per-pass, per-key measurements (and the
spans of a traced run) are kept under `perfbench/.out/`. Outputs of every
oracle key are compared with the DuckDB oracle outside the timed passes.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, ".data")
OUT = os.path.join(HERE, ".out")
RUN_LIMIT_S = 175
KEEP_SEEDS = 6

# Spark on JDK 17 outside spark-submit needs the module opens the engine's
# build passes to its forked runs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group if it outlives the
    timeout or this process is interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
    return p.returncode, out, err


def classpath():
    """Build the engine and the harness once per source state."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out, err = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        800, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = [l for l in out.splitlines() if l.startswith("/")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java(cp, main, args, timeout, log_path):
    # A fixed heap size: a heap that grows during the run made the pass
    # times of one seed differ from run to run.
    cmd = ["java", "-Xms2g", "-Xmx2g", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", cp, main, *args]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(log_path, "w") as logf:
        rc, _, _ = run_bounded(cmd, timeout, cwd=WORK, stdout=logf,
                               stderr=subprocess.STDOUT)
    return rc


# ---------------------------------------------------------------- inputs

def inputs(seed):
    sys.path.insert(0, HERE)
    import gen
    path = os.path.join(DATA, f"seed-{seed}")
    t0 = time.time()
    gen.generate(seed, path)
    os.utime(path)
    # Bound the cache: keep the most recently used seeds.
    dirs = sorted(glob.glob(os.path.join(DATA, "*")), key=os.path.getmtime)
    for d in dirs[:-KEEP_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)
    return path, time.time() - t0


# ---------------------------------------------------------------- oracle

def check_oracle(data_dir, dump_dir, keys, timeout):
    """Compare the dumped output of each key with its DuckDB oracle by
    running scripts/diff.py, the engine's own compare. Returns {key: error}
    for the keys that do not match."""
    if not keys:
        return {}
    art = os.path.join(dump_dir, "diff.json")
    rc, out, err = run_bounded(
        [sys.executable, os.path.join(ROOT, "scripts", "diff.py"), data_dir,
         dump_dir, *keys], timeout, env=dict(os.environ, DIFF_JSON=art),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if not os.path.exists(art):
        log(f"scripts/diff.py failed (exit {rc}): {err.strip()[-2000:]}")
        return {k: "diff.py failed" for k in keys}
    with open(art) as f:
        result = json.load(f)
    msgs = dict(l[5:].split(": ", 1) for l in out.splitlines()
                if l.startswith("FAIL ") and ": " in l)
    return {k: msgs.get(k, r["err"]) for k, r in result.items()
            if r["err"] not in (None, "no_oracle")}


# ---------------------------------------------------------------- metrics

def tail_percentile(n):
    """Highest whole percentile whose nearest-rank value has at least ten
    of the n samples beyond it (0, the minimum, when n <= 10)."""
    return (100 * (n - 10)) // n if n > 10 else 0


def percentile(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, -(-p * len(v) // 100) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(raw, bad):
    """End-to-end metrics over the untraced timed passes (pass 0 is the
    untimed correctness pass); failures count over every pass."""
    runs = raw["passes"]
    passes = [p for p in runs[1:] if not p["traced"]]
    walls = [k["wall_s"] for p in passes for k in p["keys"]]
    failed = sum(not k["ok"] for p in runs for k in p["keys"]) + len(bad)
    attempted = sum(len(p["keys"]) for p in runs)
    pct = tail_percentile(len(walls))
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "pass_s": (median([p["pass_s"] for p in passes]), "s"),
        "key_p50_s": (median(walls), "s"),
        "key_tail_s": (percentile(walls, pct), "s"),
        "ok_ratio": (1 - failed / attempted, "ratio"),
        "heap_peak_mb": (runs[0]["heap_peak_mb"], "MB"),
    }, attempted, failed, {"percentile": pct, "samples": len(walls)}


def per_layer(raw):
    cpus = raw["cpus"]
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"][1:] if not p["traced"]]

    def per_pass(f):
        return median([f(p) for p in traced])

    def keysum(field):
        return per_pass(lambda p: sum(k.get(field, 0.0) for k in p["keys"]))

    def section(name, field):
        return per_pass(lambda p: p[name][field])

    m = {
        "ops.build_s": (keysum("ops.build"), "s"),
        "ops.eager_jobs": (keysum("eager_jobs"), "count"),
        "plans.plan_s": (keysum("plans.plan"), "s"),
        "codegen.compiles": (section("codegen", "compiles"), "count"),
        "codegen.compile_s": (section("codegen", "compile_s"), "s"),
        "codegen.source_kb": (section("codegen", "source_kb"), "KB"),
        "sched.jobs": (keysum("jobs"), "count"),
        "sched.stages": (keysum("stages"), "count"),
        "sched.tasks": (keysum("tasks"), "count"),
        "sched.driver_gap_s": (keysum("driver_gap_s"), "s"),
        "exec.action_s": (keysum("exec.action"), "s"),
        "exec.task_run_s": (keysum("task_run_s"), "s"),
        "exec.task_cpu_s": (keysum("task_cpu_s"), "s"),
        "exec.gc_s": (keysum("gc_s"), "s"),
        "exec.busy_ratio": (per_pass(lambda p: sum(k.get("task_run_s", 0.0)
                                                   for k in p["keys"])
                                     / (p["pass_s"] * cpus)), "ratio"),
        "shuffle.write_mb": (keysum("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (keysum("shuffle_read_mb"), "MB"),
        "shuffle.spill_mb": (keysum("spill_mb"), "MB"),
        "caches.release_s": (keysum("release_s"), "s"),
        "caches.pinned_rdds_peak": (section("peaks", "pinned_rdds"), "count"),
        "caches.pinned_mb_peak": (section("peaks", "pinned_mb"), "MB"),
        "caches.entries_peak": (section("peaks", "entries"), "count"),
        "setups.warm_s": (median(raw["warm_s"]), "s"),
        "tables.scratch_peak_mb": (section("peaks", "scratch_mb"), "MB"),
        "stream.batches": (section("stream", "batches"), "count"),
        "stream.input_rows": (section("stream", "input_rows"), "count"),
        "stream.state_rows": (section("stream", "state_rows"), "count"),
        "stream.plan_s": (section("stream", "plan_s"), "s"),
        "stream.commit_s": (section("stream", "commit_s"), "s"),
        "stream.batch_s": (section("stream", "batch_s"), "s"),
        "host.steal_jiffies": (sum(p["host"]["steal_jiffies"] for p in raw["passes"]), "count"),
        "host.load1": (max(p["host"]["load1"] for p in raw["passes"]), "load"),
        "trace.overhead_s": (median([p["pass_s"] for p in traced])
                             - median([p["pass_s"] for p in plain]), "s"),
    }
    return m


def self_times(spans):
    """Each span name's self time: duration minus what its children cover
    (children of one span never overlap: the client is one thread)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    out = {}
    for s in spans:
        d = s["end_s"] - s["start_s"] - child.get(s["span"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + d
    return {k: round(v, 4) for k, v in sorted(out.items())}


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources next to perfbench/ (build.sbt, src/main/scala)")
        return 2
    workloads = load_json("workloads.json")
    if a.workload not in workloads:
        log(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
        return 2
    w = workloads[a.workload]
    cp = classpath()
    data_dir, gen_s = inputs(a.seed)
    log(f"inputs {data_dir} ({gen_s:.1f} s to generate, not part of setup_s)")

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    dump_dir = os.path.join(WORK, f"dump-{tag}")
    os.makedirs(OUT, exist_ok=True)
    raw_path = os.path.join(OUT, f"raw-{tag}.json")
    spans_path = os.path.join(OUT, f"spans-{a.workload}-{a.seed}.json")
    budget = RUN_LIMIT_S - (time.time() - t_start) - 15
    try:
        rc = java(cp, "perfbench.Harness", [
            "--data", data_dir, "--keys", ",".join(w["keys"]),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--workload", a.workload,
            "--out", raw_path, "--dump", dump_dir, "--spans", spans_path,
            "--work", WORK], budget, os.path.join(WORK, f"harness-{tag}.log"))
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {budget:.0f} s; see {WORK}/harness-{tag}.log")
        return 1
    if rc != 0 or not os.path.exists(raw_path):
        log(f"harness failed (exit {rc}); see {WORK}/harness-{tag}.log")
        return 1
    with open(raw_path) as f:
        raw = json.load(f)
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle_keys = set(json.load(f))
    ran = sorted(k["key"] for k in raw["passes"][0]["keys"]
                 if k["ok"] and k["key"] in oracle_keys)
    bad = check_oracle(data_dir, dump_dir, ran,
                       RUN_LIMIT_S - (time.time() - t_start) - 5)
    shutil.rmtree(dump_dir, ignore_errors=True)
    os.remove(os.path.join(WORK, f"harness-{tag}.log"))

    cpus = raw["cpus"]
    e2e, attempted, failed, tail = end_to_end(raw, bad)
    metrics = per_layer(raw) if a.trace else e2e
    dirty = sum(p["host"]["steal_jiffies"] > 0 or p["host"]["load1"] > cpus
                for p in raw["passes"])
    threw = sorted({k["key"] for p in raw["passes"] for k in p["keys"] if not k["ok"]})
    info = {
        "workload": a.workload, "seed": a.seed, "cpus": cpus,
        "keys": len(w["keys"]), "passes": len(raw["passes"]),
        "key_tail_s": tail, "dirty_passes": dirty,
        "oracle_checked": len(oracle_keys),
        "unchecked": len(w["keys"]) - len(oracle_keys),
        "mismatched": bad, "threw": threw,
        "run_s": round(time.time() - t_start, 1),
    }
    info["raw"] = os.path.relpath(raw_path, ROOT)
    if a.trace:
        with open(spans_path) as f:
            info["self_s"] = self_times(json.load(f))
        info["spans"] = os.path.relpath(spans_path, ROOT)
    print(json.dumps(info))
    print(json.dumps({
        "correct": not bad and not threw,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
