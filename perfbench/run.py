#!/usr/bin/env python3
"""graft's layered benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. It builds graft and the harness
from source (perfbench/harness, an sbt build of its own) when the sources
changed, generates the build workload's replica once, runs one workload in
one JVM and prints, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, and the run also writes its spans.
``--workload all`` runs every workload in turn and prints one such line
per workload, with a "workload" key added.

Everything the run writes stays under perfbench/.work (ignored by git):
the build stamp, Spark's local and warehouse directories, the JVM's
temporary directory, the replica, the build warehouse, spans and one
record per run that perfbench/compare.py reads.
"""
import argparse
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
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
# The harness, and the replica generation, each must end within this many
# seconds of being launched; the build has a limit of its own.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# A fixed heap and young generation: peak RSS then follows live data and
# off-heap memory rather than the collector's adaptive sizing, which moved
# it by a third between identical runs.
HEAP = "3g"
YOUNG = "1g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild: graft's build and
    sources, and the harness's."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            # sbt's own output and nested meta-builds are not sources
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in files
                       if f.endswith((".scala", ".sbt", ".properties", ".java")))
    return sorted(set(out))


def build():
    """Compile graft and the harness when their sources changed; return
    (classpath, JVM options)."""
    stamp_path = os.path.join(WORK, "build", "stamp")
    spec_path = os.path.join(HARNESS, "target", "launch.txt")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    fresh = (os.path.exists(stamp_path) and os.path.exists(spec_path)
             and open(stamp_path).read() == stamp)
    if not fresh:
        log("building graft and the harness with sbt")
        os.makedirs(os.path.dirname(stamp_path), exist_ok=True)
        if os.path.exists(spec_path):
            os.remove(spec_path)
        with open(os.path.join(WORK, "build", "sbt.log"), "w") as out:
            rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HARNESS, stdout=out, limit=BUILD_LIMIT_S)
        if rc != 0 or not os.path.exists(spec_path):
            die(f"sbt build failed (rc {rc}); see perfbench/.work/build/sbt.log", 3)
        with open(stamp_path, "w") as fh:
            fh.write(stamp)
    lines = open(spec_path).read().splitlines()
    classpath = lines[0]
    missing = [p for p in classpath.split(os.pathsep) if not os.path.exists(p)]
    if missing:
        die(f"classpath entry missing: {missing[0]}", 3)
    # graft's heap default suits a large box; the harness sets its own
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return classpath, opts


def run_child(cmd, cwd, stdout, limit, env=None):
    """Run a process in its own group, kill the group past `limit`
    seconds, and always wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit} s; stopping it")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm(classpath, opts, scratch, main, args, log_path, limit, k, env=None):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = (["java"] + opts + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(scratch, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'spark-warehouse')}",
        f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
        "-cp", classpath, main] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(k), **(env or {}))
    with open(log_path, "w") as out:
        return run_child(cmd, cwd=scratch, stdout=out, limit=limit, env=env)


def ensure_replica(manifest, classpath, opts, k):
    """The build workload's input: graft.tools.ScaleUp's replica of the
    base data, generated once per checkout."""
    rep = manifest["replica"]
    target = os.path.join(WORK, f"replica{rep['factor']}")
    if os.path.exists(os.path.join(target, "_READY")):
        return target
    log(f"generating the {rep['factor']}x replica (once per checkout)")
    partial = target + ".partial"
    shutil.rmtree(partial, ignore_errors=True)
    scratch = os.path.join(WORK, "scratch-replica")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    rc = jvm(classpath, opts, scratch, "graft.tools.ScaleUp",
             [os.path.join(ROOT, manifest["data"]), partial, str(rep["factor"])],
             os.path.join(WORK, "replica.log"), RUN_LIMIT_S, k)
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        die(f"replica generation failed (rc {rc}); see perfbench/.work/replica.log", 4)
    shutil.rmtree(target, ignore_errors=True)
    os.rename(partial, target)
    open(os.path.join(target, "_READY"), "w").close()
    return target


def quantile_tail(samples):
    """The highest percentile with at least ten samples beyond it (the
    eleventh-largest sample), but never one below the 90th, and that
    percentile. Below 100 samples no percentile from the 90th up has ten
    beyond it; the 90th, interpolated, is then taken. Unlike the maximum
    or a low percentile, it does not jump when a run fits one pass more."""
    s = sorted(samples)
    n = len(s)
    if n >= 100:
        return s[n - 11], 100.0 * (n - 10) / n
    if n == 1:
        return s[0], 90.0
    return statistics.quantiles(s, n=10, method="inclusive")[8], 90.0


def summarize(record, golden, trace):
    ops = [op for p in record["passes"] for op in p["ops"]]
    mismatched = sorted(n for n, got in record["check"].items() if got != golden.get(n))
    failed = sum(1 for op in ops if op["error"] or op["name"] in mismatched)
    latencies = [op["s"] for op in ops]
    tail, pct = quantile_tail(latencies)
    passes = [p["wall_s"] for p in record["passes"]]
    e2e = {
        "setup_s": (record["setup_s"], "s"),
        "pass_s": (statistics.median(passes), "s"),
        "latency_p50_s": (statistics.median(latencies), "s"),
        "latency_tail_s": (tail, "s"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }
    extra = {"failed_frac": failed / len(ops), "tail_percentile": pct,
             "samples": len(ops), "passes": len(passes), "mismatched": mismatched,
             "warm_failures": record["warm_failures"]}
    layers = {}
    if trace:
        names = record["passes"][0]["layers"].keys()
        for n in names:
            vals = [p["layers"][n] for p in record["passes"]]
            layers[n] = statistics.median(vals)
        for n in COUNTS:
            vals = {p["layers"][n] for p in record["passes"]}
            extra[f"repeats:{n}"] = len(vals) == 1
        layers["trace.overhead_ratio"] = statistics.median(passes) / statistics.median(record["untraced_pass_s"])
    correct = not mismatched and record["warm_failures"] == 0 and failed == 0
    return correct, len(ops), failed, e2e, layers, extra


# Counts that must repeat exactly from pass to pass and run to run.
COUNTS = ["sources.records_read", "streaming.batches", "build.rows_written"]


def prepare(workload):
    """Check the checkout, build, and make the workload's input; return
    the workload's manifest entry and the launch settings."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing")
    manifest = json.load(open(os.path.join(HERE, "workloads.json")))
    if workload not in manifest["workloads"]:
        die(f"unknown workload {workload}; known: {', '.join(manifest['workloads'])}")
    w = manifest["workloads"][workload]
    k = min(manifest["k"], os.cpu_count() or 1)
    classpath, opts = build()
    data = ensure_replica(manifest, classpath, opts, k) if w["input"] == "replica" \
        else os.path.join(ROOT, manifest["data"])
    return w, Launch(classpath, opts, k, data)


class Launch:
    def __init__(self, classpath, opts, k, data):
        self.classpath, self.opts, self.k, self.data = classpath, opts, k, data

    def harness(self, name, args, limit):
        """Run the harness with `args`; return its record, or stop."""
        scratch = os.path.join(WORK, "scratch", name)
        os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
        record_path = os.path.join(scratch, "record.json")
        log_path = os.path.join(WORK, "logs", name + ".log")
        rc = jvm(self.classpath, self.opts, scratch, "perfbench.Harness",
                 [f"--k={self.k}", f"--out={record_path}"] + args, log_path, limit, self.k)
        record = json.load(open(record_path)) if rc == 0 and os.path.exists(record_path) else None
        shutil.rmtree(scratch, ignore_errors=True)
        if record is None:
            die(f"harness failed (rc {rc}); see perfbench/.work/logs/{name}.log", 5)
        return record


def run_workload(workload, seed, seconds, trace):
    """One benchmark run: the harness's raw record and the run's name."""
    w, launch = prepare(workload)
    name = f"{workload}-s{seed}-t{trace}-{int(time.time() * 1000)}"
    os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
    launched = time.time()
    args = [f"--workload={workload}", f"--kind={w['kind']}",
            f"--ops={','.join(w['ops'])}", f"--data={launch.data}",
            f"--warehouse={os.path.join(WORK, 'warehouse', workload)}",
            f"--since={w.get('since', '')}", f"--seed={seed}", f"--seconds={seconds}",
            f"--trace={trace}", f"--spans={os.path.join(WORK, 'spans', name + '.json')}",
            f"--launched={launched * 1000:.3f}"]
    record = launch.harness(name, args, RUN_LIMIT_S)
    return record, name, launch.k


def benchmark(workload, seed, seconds, trace):
    """Run one workload; keep its run record; return the result object."""
    record, name, k = run_workload(workload, seed, seconds, trace)
    golden = json.load(open(os.path.join(HERE, "golden.json")))
    manifest = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    correct, attempted, failed, e2e, layers, extra = summarize(
        record, golden.get(workload, {}), trace)
    values = layers if trace else {n: v for n, (v, _) in e2e.items()}
    specs = manifest["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        die(f"the harness reported no {', '.join(missing)}", 5)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", name + ".json"), "w") as fh:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds,
                   "trace": trace, "k": k, "correct": correct, "attempted": attempted,
                   "failed": failed, "end_to_end": {n: v for n, (v, _) in e2e.items()},
                   "per_layer": layers, "extra": extra, "record": record},
                  fh, indent=1, sort_keys=True)
    for n, (v, u) in e2e.items():
        log(f"{workload} {n} = {v:.4f} {u}")
    log(f"{workload} failed_frac = {extra['failed_frac']:.4f} ratio "
        f"({failed}/{attempted}); tail is p{extra['tail_percentile']:.1f} of "
        f"{extra['samples']} samples over {extra['passes']} passes")
    log(f"{workload} session {record['session_s']:.2f} s, output check {record['check_s']:.2f} s")
    for n in COUNTS:
        if f"repeats:{n}" in extra:
            log(f"{workload} {n} repeats exactly across passes: {extra[f'repeats:{n}']}")
    if extra["mismatched"]:
        log(f"output check failed for: {', '.join(extra['mismatched'])}")
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help="a workload of perfbench/workloads.json, or 'all' for each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload != "all":
        print(json.dumps(benchmark(a.workload, a.seed, a.seconds, a.trace)))
        return
    # one line per workload, each naming its workload
    for w in json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]:
        print(json.dumps({"workload": w, **benchmark(w, a.seed, a.seconds, a.trace)}), flush=True)


if __name__ == "__main__":
    main()
