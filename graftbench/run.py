#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: the medallion pipeline and a relational
query mix, measured end to end (untraced runs) and per layer (traced runs).

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run in a checkout compiles the
engine and the harness with sbt (about a minute); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the seed,
starts one JVM session through `graft.core.Sessions.local` (a traced run
first makes an untraced one, the base of its overhead), runs the
workload's operations one at a time (one client, closed loop), checks every
output outside the timed region and prints one JSON result as its last line.
See BENCHMARK.md next to this file for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_raw      # noqa: E402
import gen_tables   # noqa: E402
import oracle       # noqa: E402

ENGINE_MARKERS = ["build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 170  # all sessions of one run, after the build, end within this
CORES = 4
COMPANIES_PER_SECOND = 6    # medallion raw-zone size per second of --seconds
QUERY_SF = 0.01             # query-mix table scale (lineitem = 6M x sf rows)
QUERY_DATA_SEED = 20240101  # fixed, so every seed reads the same tables


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- build -----------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] if d != r else \
                [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile the engine and the harness once per source state; returns the
    runtime classpath and the seconds spent building (0 when up to date)."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    cp = g.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp, 0.0
    t0 = time.time()
    env = dict(os.environ, GRAFTBENCH_CP_FILE=cp_file)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "--no-server", "-J-XX:-UsePerfData",
                              "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed (exit {rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip(), time.time() - t0


# -- one JVM session -------------------------------------------------------

def run_session(classpath, plan, run_dir, deadline):
    """Runs one JVM session; returns its result with `launch_epoch_us`, the
    moment the JVM was started, added."""
    plan_path = os.path.join(run_dir, f"plan-{plan['run_id']}.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", plan_path]
    log = os.path.join(run_dir, f"jvm-{plan['run_id']}.log")
    with open(log, "w") as out:
        launch_us = time.time() * 1e6
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_LIMIT_S} s")
    if rc != 0 or not os.path.exists(plan["result"]):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"session failed (exit {rc})")
    with open(plan["result"]) as f:
        res = json.load(f)
    res["launch_epoch_us"] = launch_us
    return res


# -- workloads -------------------------------------------------------------

def prepare_queries(cfg, seed, run_dir):
    data = os.path.join(run_dir, "data")
    gen_tables.generate(data, QUERY_SF, QUERY_DATA_SEED)
    order = list(cfg["queries"])
    random.Random(seed).shuffle(order)
    return {"data_dir": data, "queries": order, "warm_tables": oracle.TABLES}, None


def prepare_medallion(seed, seconds, run_dir):
    staging = os.path.join(run_dir, "in")
    expected = gen_raw.generate(staging, seed, COMPANIES_PER_SECOND * seconds)
    batches = [{"batch": b["batch"], "clock": b["clock"]} for b in expected["batches"]]
    return {"raw_root": os.path.join(run_dir, "raw"),
            "staging_root": os.path.join(staging, "staging"),
            "catalog_root": os.path.join(run_dir, "catalog"), "batches": batches}, expected


def check_queries(res, plan):
    """Oracle verdicts per query; returns (failed names, rows, bytes out, bytes in)."""
    errors = {o["name"]: o["error"] for o in res["ops"] if o["error"]}
    landed = [o["name"] for o in res["ops"] if not o["error"]]
    verdicts = oracle.check(plan["data_dir"], plan["out_dir"], res.get("oracle_sql", {}), landed)
    failed = dict(errors)
    failed.update({n: v[1] for n, v in verdicts.items() if not v[0]})
    rows = sum(v[2] for v in verdicts.values())

    def tree_bytes(d):
        return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs
                   if f.endswith(".parquet"))
    return failed, rows, tree_bytes(plan["out_dir"]), tree_bytes(plan["data_dir"])


def check_medallion(res, expected):
    """Compares the measured pipeline outcomes with the generator's; returns
    {batch name: [mismatch, ...]} for every batch with a mismatch or error."""
    failed = {o["name"]: [o["error"]] for o in res["ops"] if o["error"]}
    measured = {c["batch"]: c for c in res.get("batch_checks", [])}
    for b in expected["batches"]:
        k, name, bad = b["batch"], f"batch{b['batch']}", []
        m = measured.get(k)
        if m is None:
            failed.setdefault(name, []).append("no checks")
            continue
        for t, want in b["bronze_ch"].items():
            if m["bronze_ch"][t] != want:
                bad.append(f"bronze {t}: {m['bronze_ch'][t]} != {want}")
        if m["company_master_rows"] != b["company_master_rows"]:
            bad.append(f"company_master rows: {m['company_master_rows']} != {b['company_master_rows']}")
        dropped = m["overview_companies"] - m["company_master_rows"]
        if dropped != b["future_dated_companies"]:
            bad.append(f"future date_of_creation drops: {dropped} != {b['future_dated_companies']}")
        for t, e in b["tables"].items():
            got = m["tables"][t]
            if got["bronze_rows"] != e["bronze_rows"]:
                bad.append(f"bronze {t}: {got['bronze_rows']} != {e['bronze_rows']}")
            for rule, n in e["dq_dropped"].items():
                if got["dq_dropped"][rule] != n:
                    bad.append(f"dq {t} {rule}: {got['dq_dropped'][rule]} != {n}")
            if got["passing_rows"] != e["scd"]["source_rows"]:
                bad.append(f"dq {t} passing: {got['passing_rows']} != {e['scd']['source_rows']}")
        if bad:
            failed.setdefault(name, []).extend(bad)
    final = res.get("final")
    last = f"batch{expected['batches'][-1]['batch']}"
    if final is None:
        failed.setdefault(last, []).append("no final checks")
        return failed
    bad = []
    for (t, k), got in scd_outcomes(res, expected).items():
        e = expected["batches"][k - 1]["tables"][t]["scd"]
        want = (e["opened"], e["closed"], e["unchanged"])
        if got != want:
            bad.append(f"scd {t} batch{k}: opened/closed/unchanged {got} != {want}")
    for t, s in final["scd"].items():
        if s["rows"] != expected["final"]["silver_rows"][t]:
            bad.append(f"silver {t} rows: {s['rows']} != {expected['final']['silver_rows'][t]}")
        if s["current_rows"] != expected["final"]["current_rows"][t]:
            bad.append(f"silver {t} current: {s['current_rows']} != {expected['final']['current_rows'][t]}")
        if s["keys_without_one_current"] != 0:
            bad.append(f"silver {t}: {s['keys_without_one_current']} keys without one current row")
    for t, n in expected["final"]["gold_rows"].items():
        if final["gold_rows"][t] != n:
            bad.append(f"gold {t}: {final['gold_rows'][t]} != {n}")
    if bad:
        failed.setdefault(last, []).extend(bad)
    return failed


def scd_outcomes(res, expected):
    """Measured SCD2 rows (opened, closed, unchanged) per (table, batch): rows
    whose validity starts / ends on the batch's clock date, and rows that
    passed the silver gates without opening a version."""
    checks = {c["batch"]: c for c in res.get("batch_checks", [])}
    out = {}
    for t, s in (res.get("final") or {}).get("scd", {}).items():
        for b in expected["batches"]:
            if b["batch"] in checks:
                opened = s["opened_by_date"].get(b["clock"], 0)
                out[(t, b["batch"])] = (opened, s["closed_by_date"].get(b["clock"], 0),
                                        checks[b["batch"]]["tables"][t]["passing_rows"] - opened)
    return out


# -- metrics ---------------------------------------------------------------

def tail(values):
    """Highest percentile with at least ten samples beyond it (the maximum when
    there are fewer than eleven samples): (value, percentile, samples)."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def op_times(workload, res):
    """(op_p50_s, op_tail_s, note). On medallion the two operations are the
    batches, and each gets a metric of its own: op_p50_s is the incremental
    batch (the SCD2 merge into history), op_tail_s the initial batch."""
    secs = [o["seconds"] for o in res["ops"]]
    if workload == "medallion":
        return secs[-1], secs[0], "op_p50_s is the incremental batch, op_tail_s the initial batch"
    value, pct, n = tail(secs)
    return statistics.median(secs), value, f"op_tail_s is p{pct:.1f} of {n} operations"


def end_to_end(workload, res, setup_s, rows, out_bytes, in_bytes):
    p50, tail_s, _ = op_times(workload, res)
    wall = res["wall_s"]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "op_p50_s": p50,
        "op_tail_s": tail_s,
        "rows_per_s": rows / wall,
        "storage_bytes_per_input_byte": out_bytes / in_bytes,
        "retained_heap_mb": res["retained_heap_mb"],
        "metaspace_mb": res["metaspace_mb"],
    }


def per_layer(res, expected, overhead):
    layers = dict(res["layers"])
    layers.update(res.get("layer_counts", {}))
    bronze = passing = 0
    for c in res.get("batch_checks", []):
        bronze += c["overview_companies"] + sum(t["bronze_rows"] for t in c["tables"].values())
        passing += c["company_master_rows"] + sum(t["passing_rows"] for t in c["tables"].values())
    scd = list(scd_outcomes(res, expected).values()) if expected else []
    layers.update({
        "silver.dq_dropped_rows": float(bronze - passing),
        "silver.dq_keep_ratio": passing / bronze if bronze else 0.0,
        "silver.scd_opened": float(sum(o for o, _, _ in scd)),
        "silver.scd_closed": float(sum(c for _, c, _ in scd)),
        "silver.scd_unchanged": float(sum(u for _, _, u in scd)),
        "trace.wall_s": res["wall_s"],
        "trace.overhead_s": overhead,
    })
    return layers


# -- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not all(os.path.exists(os.path.join(ROOT, m)) for m in ENGINE_MARKERS):
        die(f"engine sources not found under {ROOT}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        die(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    cfg = workloads[args.workload]

    classpath, build_s = ensure_built()
    deadline = time.time() + RUN_LIMIT_S
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    def session(trace, check=True):
        """Fresh inputs and one JVM session; returns (result, plan, expected)."""
        for d in ("in", "raw", "catalog", "out"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
        if args.workload == "medallion":
            plan, expected = prepare_medallion(args.seed, args.seconds, run_dir)
        else:
            plan, expected = prepare_queries(cfg, args.seed, run_dir)
        plan.update({"workload": args.workload, "cores": CORES, "trace": bool(trace),
                     "check": check,
                     "scratch": run_dir, "out_dir": os.path.join(run_dir, "out"),
                     "run_id": f"{run_id}-{trace}", "spans": os.path.join(run_dir, "spans.jsonl"),
                     "result": os.path.join(run_dir, f"result-{trace}.json")})
        return run_session(classpath, plan, run_dir, deadline), plan, expected

    try:
        # A traced run first measures the same seed untraced, in this build,
        # as the base of the tracing overhead.
        untraced_wall = session(0, check=False)[0]["wall_s"] if args.trace else None
        res, plan, expected = session(args.trace)
        setup_s = (res["ready_epoch_us"] - res["launch_epoch_us"]) / 1e6

        if expected is None:
            failed, rows, out_bytes, in_bytes = check_queries(res, plan)
        else:
            failed = check_medallion(res, expected)
            rows, out_bytes, in_bytes = expected["raw_rows"], res["catalog_bytes"], expected["raw_bytes"]
        attempted = len(res["ops"])

        if args.trace:
            names = [m["name"] for m in spec["per_layer"]]
            layers = per_layer(res, expected, res["wall_s"] - untraced_wall)
            metrics = {n: {"value": layers.get(n, 0.0), "unit": m["unit"]}
                       for n, m in zip(names, spec["per_layer"])}
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(plan["spans"], os.path.join(keep, f"{run_id}.spans.jsonl"))
        else:
            e2e = end_to_end(args.workload, res, setup_s, rows, out_bytes, in_bytes)
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
              f"ops={attempted} failed={len(failed)} failed_ops_frac={len(failed) / attempted:.4f}")
        marks = [round((m - res["launch_epoch_us"]) / 1e6, 2) for m in res["setup_marks_us"]]
        print(f"# {op_times(args.workload, res)[2]}; setup_s runs from JVM launch (input "
              f"generation and a {build_s:.1f} s one-time build excluded); set-up marks (jvm main, "
              f"session, first job, warm) at {marks} s; checks took {res['checks_s']:.1f} s")
        print("# ops: " + " ".join(f"{o['name']}={o['seconds']:.3f}" for o in res["ops"]))
        for name, why in sorted(failed.items()):
            print(f"# FAILED {name}: {why}")
        for k, v in metrics.items():
            print(f"# {k:32s} {v['value']:14.4f} {v['unit']}")
        print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
