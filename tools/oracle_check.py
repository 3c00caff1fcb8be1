#!/usr/bin/env python3
"""Dev-only harness mimicking the driver's DuckDB-oracle compare.

NOT part of the engine (the engine is pure Scala/Spark). Usage:
    python3 tools/oracle_check.py <verify_out_dir> <sf_dir>
Compares each <out>/<name> parquet against DuckDB running
<out>/oracle_sql.json's SQL over <sf_dir>'s tables: column names
(sorted), dtypes, row count, and exact values after sorting.

--scale-oracles (scale-gate runs only): overlay the sub-quadratic
restatements from <out>/scale_oracle_sql.json over the registered
oracle map before adjudicating — the form that holds 64x replica
volumes. Only legitimate after tools/oracle_equiv.py has proven each
restatement value-identical to its registered oracle at a driver SF.

Round-5 hardening (the driver twice flagged hash mismatches this tool
called green): the driver canonicalizes by FORMATTING values before
hashing, so identical numbers carried in different logical types hash
apart — a Spark parquet DECIMAL(18,6) renders '0.123450' while the
same value through DuckDB's .df() is float 0.12345. Value compare
cannot see that, so this tool now FAILS any query whose Spark output
parquet carries a decimal column: the repo discipline is
"fix precision via decimal, then CAST the final to DOUBLE/BIGINT".
It also compares float columns bit-exactly (no tolerance) via repr.
"""
import glob
import json
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(outdir: str, sfdir: str, timeout: float = 0.0,
         scale_oracles: bool = False, stage_oracles: bool = False,
         only=None, skip=None) -> int:
    import atexit
    import os
    import shutil
    import tempfile
    import threading

    # One spill directory per checker process, removed at exit: DuckDB's
    # temp block files carry no per-process namespace, so concurrent
    # checkers sharing a directory delete each other's spill blocks
    # (IOException in one, a silently wrong result in the other).
    spill_dir = tempfile.mkdtemp(prefix=f"duckdb_spill_{os.getpid()}_")
    atexit.register(shutil.rmtree, spill_dir, ignore_errors=True)

    def connect():
        c = duckdb.connect()
        # r12: bound DuckDB's footprint on replica-volume gates — an
        # uncapped 128x join ballooned one checker process to 69 GB RSS
        # and the kernel OOM-killed it mid-chunk. A hard cap + a spill
        # dir turns that into disk-backed execution (or a per-query
        # OOM error recorded as FAIL) instead of a dead checker.
        c.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '20GB')}'")
        c.execute(f"SET temp_directory='{spill_dir}'")
        for t in TABLES:
            # driver testdata is one file per table; graft.tools.ScaleUp
            # writes Spark-style directories of part files — accept both
            path = f"{sfdir}/{t}.parquet"
            if os.path.isdir(path):
                path = f"{path}/*.parquet"
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return c

    con = connect()
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    if scale_oracles:
        overlay = json.load(open(f"{outdir}/scale_oracle_sql.json"))
        applied = sorted(set(overlay) & set(oracle))
        oracle.update({k: v for k, v in overlay.items() if k in oracle})
        print(f"scale-oracle overlay: {len(applied)} restatements active "
              f"({', '.join(applied)})")
    if stage_oracles:
        # distinct-axis stage adjudication (r10 VERDICT #1): overrides
        # AND adds pseudo-faces (stage artifacts + __sample subsets).
        # {OUT} pins a previously-dumped artifact; applied after the
        # scale overlay so stage restatements win where both exist.
        stage = json.load(open(f"{outdir}/stage_oracle_sql.json"))
        oracle.update({k: v.replace("{OUT}", outdir) for k, v in stage.items()})
        print(f"stage-oracle overlay: {len(stage)} entries active "
              f"({', '.join(sorted(stage))})")
    if only:
        oracle = {k: v for k, v in oracle.items() if k in only}
    if skip:
        # documented oracle-precondition exclusions (e.g. q_vocab_approx
        # on the distinct axis: the exact-count oracle is valid only
        # while |vocab| <= the 64 MG counters — the caller supplies the
        # rationale in the gate record). The face's Spark dump still
        # ran; record rows+schema so the exclusion is self-documenting.
        for name in sorted(skip & set(oracle)):
            try:
                files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
                n = sum(pq.read_metadata(f).num_rows for f in files)
                cols = [f.name for f in pq.read_schema(files[0])]
                print(f"EXCLUDED {name} ({n} rows x {len(cols)} cols; "
                      "oracle precondition exclusion — see gate record)")
            except Exception as ex:  # noqa: BLE001
                print(f"EXCLUDED {name} (spark dump unreadable: {ex})")
        oracle = {k: v for k, v in oracle.items() if k not in skip}
    failed = 0
    timeouts = 0
    rows_only = 0
    for name, sql in sorted(oracle.items()):
        if sql == "ROWS_ONLY":
            # pinned stage artifact: no independent full oracle; its
            # value evidence is the sampled sibling plus the full
            # downstream checks computed FROM it (StageOracles scaladoc)
            rows_only += 1
            try:
                files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
                n = sum(pq.read_metadata(f).num_rows for f in files)
                cols = [f.name for f in pq.read_schema(files[0])]
                print(f"PIN  {name} ({n} rows x {len(cols)} cols; "
                      "adjudicated via sampled sibling + downstream full checks)")
            except Exception as ex:  # noqa: BLE001
                failed += 1
                print(f"FAIL {name}: pinned artifact unreadable: {ex}")
            continue
        # scale-up mode (--timeout): a DuckDB oracle that cannot hold the
        # replica volume (quadratic truth joins, unrolled k-means at N×)
        # is interrupted and reported as a timeout with a rows+schema
        # note on the Spark side — NOT a failure; the hash gate for that
        # query stands at the driver SFs.
        # The timer guards ONLY the DuckDB execution window: a `done`
        # flag checked under a lock prevents a late-firing timer from
        # interrupting work that already completed (e.g. during the
        # pandas compare of the NEXT query) and misclassifying a healthy
        # query (r8 ADVICE).
        timer = None
        done_lock = threading.Lock()
        done = [False]

        def _interrupt():
            with done_lock:
                if not done[0]:
                    con.interrupt()

        if timeout > 0:
            timer = threading.Timer(timeout, _interrupt)
            timer.start()
        try:
            try:
                rel = con.sql(sql)
                oracle_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
                exp = rel.df()
            finally:
                with done_lock:
                    done[0] = True
                if timer is not None:
                    timer.cancel()
            files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            e, g = norm(exp), norm(got)
            status = []
            # structural driver-risk gate: no decimal finals
            for f in files[:1]:
                for field in pq.read_schema(f):
                    if "decimal" in str(field.type):
                        status.append(
                            f"DRIVER-RISK: output column {field.name} is "
                            f"{field.type} — decimal finals hash differently "
                            "in the driver; cast to DOUBLE/BIGINT")
            # round-7 hardening (the q_dedup_simhash r6 red row): a DuckDB
            # HUGEINT / DECIMAL oracle column converts to pandas float64
            # (version-dependently), so the driver formats '9761.0' against
            # Spark's '9761' and the hash diverges — while the value-level
            # compare below coerces both sides to float and calls it green.
            # Gate the ORACLE's logical types the same way we gate Spark's.
            for c, t in oracle_types.items():
                if t in ("HUGEINT", "UHUGEINT") or "DECIMAL" in t:
                    status.append(
                        f"DRIVER-RISK: oracle column {c} is {t} — pandas "
                        "renders it as float64; CAST the SQL final to "
                        "BIGINT/DOUBLE")
            if list(e.columns) != list(g.columns):
                status.append(f"cols exp={list(e.columns)} got={list(g.columns)}")
            elif len(e) != len(g):
                status.append(f"rows exp={len(e)} got={len(g)}")
            else:
                for c in e.columns:
                    ev, gv = e[c], g[c]
                    if ev.dtype.kind == "f" or gv.dtype.kind == "f":
                        # bit-exact: compare full reprs, not tolerances —
                        # the driver hashes formatted values, so a 1-ulp
                        # drift IS a failure
                        fe = ev.astype(float).map(
                            lambda x: repr(float(x)) if x == x else "nan")
                        fg = gv.astype(float).map(
                            lambda x: repr(float(x)) if x == x else "nan")
                        bad = fe != fg
                    else:
                        bad = ev.astype(str) != gv.astype(str)
                    if bad.any():
                        i = bad.idxmax()
                        status.append(
                            f"col {c}: {int(bad.sum())} diffs, first row {i}: "
                            f"exp={ev[i]!r} got={gv[i]!r}")
            if status:
                failed += 1
                print(f"FAIL {name}: " + "; ".join(status))
            else:
                print(f"ok   {name} ({len(e)} rows x {len(e.columns)} cols)")
        except Exception as ex:  # noqa: BLE001
            # typed detection, not substring matching: a genuine error
            # whose message happens to contain "interrupt" must stay an
            # ERROR (r8 ADVICE)
            if timeout > 0 and isinstance(ex, duckdb.InterruptException):
                timeouts += 1
                note = ""
                try:
                    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
                    n = sum(pq.read_metadata(f).num_rows for f in files)
                    cols = [f.name for f in pq.read_schema(files[0])]
                    note = f" (spark side: {n} rows x {len(cols)} cols ok)"
                except Exception:  # noqa: BLE001
                    pass
                print(f"TIMEOUT {name}: oracle exceeded {timeout:.0f}s{note}")
                # an interrupted query's allocations stay live on the
                # connection: at replica volumes the NEXT query then dies
                # with a DuckDB bad-allocation (observed: q_ann_refine
                # timeout → q_ann_topk OOM on a 32 KB block, and the
                # starved process couldn't even start its Timer thread).
                # Recreate the connection so a timeout releases memory.
                # close() itself can raise on an OOM-invalidated
                # connection — swallow that so one whale records one
                # TIMEOUT line instead of aborting the whole run.
                try:
                    con.close()
                except Exception:  # noqa: BLE001
                    pass
                con = connect()
            else:
                failed += 1
                print(f"ERROR {name}: {ex}")
                # reconnect only for DuckDB-side failures (an interrupted
                # /OOM'd connection); a pandas/glob compare error leaves
                # the connection healthy and a reconnect just re-creates
                # 10 views per failure on large runs
                if isinstance(ex, duckdb.Error):
                    try:
                        con.close()
                    except Exception:  # noqa: BLE001
                        pass
                    con = connect()
        finally:
            with done_lock:
                done[0] = True
            if timer is not None:
                timer.cancel()
    extra = f", {timeouts} oracle timeouts (rows+schema only)" if timeouts else ""
    if rows_only:
        extra += f", {rows_only} pinned artifacts (rows+schema here)"
    print(f"{len(oracle) - failed - timeouts - rows_only}/{len(oracle)} passed{extra}")
    return 1 if failed else 0


if __name__ == "__main__":
    to = 0.0
    args = [a for a in sys.argv[1:]]
    if "--timeout" in args:
        i = args.index("--timeout")
        to = float(args[i + 1])
        del args[i:i + 2]
    so = "--scale-oracles" in args
    if so:
        args.remove("--scale-oracles")
    sto = "--stage-oracles" in args
    if sto:
        args.remove("--stage-oracles")
    onl = None
    if "--only" in args:
        i = args.index("--only")
        onl = set(args[i + 1].split(","))
        del args[i:i + 2]
    skp = None
    if "--skip" in args:
        i = args.index("--skip")
        skp = set(args[i + 1].split(","))
        del args[i:i + 2]
    sys.exit(main(args[0], args[1], to, so, sto, onl, skp))
