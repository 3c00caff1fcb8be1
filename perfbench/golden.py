#!/usr/bin/env python3
"""Regenerate perfbench/golden.json and cross-check it against DuckDB.

    python3 perfbench/golden.py [--oracle]

Run from the root of a graft checkout whose outputs are trusted. For every
workload it runs the harness twice (seeds 1 and 2, one pass each) and
writes the output fingerprints to golden.json, refusing any that differ
between the two runs.

With --oracle it also cross-checks the goldens once against DuckDB through
the repository's tools/oracle_check.py, unmodified:
  - graft.Verify dumps each face workload's faces (SPARK_GRAFT_ONLY) over
    the base data, and the checker compares the dump with DuckDB;
  - for the build workload, Verify dumps the faces that the built tables
    equal over the replica; they are checked the same way, and their
    fingerprints must equal the built tables' golden fingerprints.
The checker's summary lines are stored in golden.json under "_oracle".
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import run

# Each table Build.build materializes, and the face that computes it.
BUILD_FACES = {"dim_zones": "q_seed_dim", "fact_lineitem": "q_fact_join",
               "dm_monthly_zone_revenue": "q_monthly_rollup",
               "dm_monthly_zone_statistics": "q_monthly_stats"}


def fingerprints(workload, seed):
    record, _, _ = run.run_workload(workload, seed, 0, 0)
    return record["check"]


def oracle_check(launch, name, ops, data):
    """Dump `ops` over `data` with graft.Verify and run
    tools/oracle_check.py on the dump."""
    out = os.path.join(run.WORK, "oracle", name)
    scratch = os.path.join(run.WORK, "scratch", f"verify-{name}")
    os.makedirs(os.path.join(run.WORK, "logs"), exist_ok=True)
    rc = run.jvm(launch.classpath, launch.opts, scratch, "graft.Verify", [data, out],
                 os.path.join(run.WORK, "logs", f"verify-{name}.log"), run.RUN_LIMIT_S,
                 launch.k, env={"SPARK_GRAFT_ONLY": ",".join(ops)})
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        run.die(f"graft.Verify failed (rc {rc}); see perfbench/.work/logs/verify-{name}.log", 7)
    p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
                        out, data], capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    run.log(f"oracle_check {name}: {lines[-1] if lines else p.stderr.strip()}")
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--oracle", action="store_true")
    a = ap.parse_args()
    manifest = json.load(open(os.path.join(run.HERE, "workloads.json")))
    golden, unstable = {}, []
    for workload in manifest["workloads"]:
        first, second = fingerprints(workload, 1), fingerprints(workload, 2)
        for n in sorted(first):
            if '"error"' in json.dumps(first[n]) or first[n] != second.get(n):
                unstable.append(f"{workload}/{n}")
        golden[workload] = first
    if unstable:
        run.die(f"outputs differ between runs or failed: {', '.join(unstable)}", 6)
    path = os.path.join(run.HERE, "golden.json")
    if a.oracle:
        report, failed = {}, False
        for workload, w in manifest["workloads"].items():
            _, launch = run.prepare(workload)
            if w["kind"] == "faces":
                rc, lines = oracle_check(launch, workload, w["ops"], launch.data)
            else:
                faces = sorted(BUILD_FACES.values())
                rc, lines = oracle_check(launch, workload, faces, launch.data)
                record = launch.harness(f"faces-{workload}", [
                    "--kind=faces", f"--ops={','.join(faces)}",
                    f"--data={launch.data}", "--seed=1", "--seconds=0", "--trace=0",
                    f"--workload={workload}", "--launched=0", "--spans="], run.RUN_LIMIT_S)
                for table, face in BUILD_FACES.items():
                    if record["check"][face] != golden[workload]["build"][table]:
                        lines.append(f"FAIL built table {table} != face {face}")
                        rc = 1
            report[workload] = lines
            failed |= rc != 0
        golden["_oracle"] = report
        if failed:
            run.die(f"DuckDB cross-check failed: {json.dumps(report)}", 7)
    elif os.path.exists(path):
        golden["_oracle"] = json.load(open(path)).get("_oracle", {})
    with open(path, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    run.log(f"wrote {os.path.relpath(path, run.ROOT)}")


if __name__ == "__main__":
    main()
