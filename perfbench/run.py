#!/usr/bin/env python3
"""Benchmark for the loan ETL engine: `LoanPipeline.runEtl` end to end over
generated loan CSVs, and nine oracle-checked query lanes.

    python3 perfbench/run.py --workload etl_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
JVM side of this benchmark (`perfbench/scala`) with sbt, as an extra source
directory passed on the command line; later runs reuse the compiled classes while
the sources are unchanged. Everything is written under `.bench_build/`.

The workloads run as a closed loop: one JVM, one client, `local[4]`, four
shuffle partitions. Inputs are generated from `--seed`; the program only
sees the generated files. Every operation's output is checked: each
`runEtl` call against the values the CSV generator computed, each lane
against the DuckDB oracle (`SparkEntry.oracleSql`).

`--trace 0` prints the end-to-end metrics; `--trace 1` replays the same
calls with a span around each call into a layer and prints the per-layer
metrics. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; a full record of the run
(environment stamp, every operation, every span) is written to
`.bench_build/records/`.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

sys.path.insert(0, os.path.join(ROOT, "tools"))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import gen_loans  # noqa: E402
import gen_tables  # noqa: E402

MB = 1048576.0
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600

# `why` of each workload is in BENCHMARK.json; sizes are kept small enough
# that one run, set-up included, took 45-60 s (etl) and 55-80 s (lanes) on a
# busy shared 4-core host, so the 48 runs of a benchmark check fit its budget.
WORKLOADS = {
    "etl_wide": {"mode": "etl", "shape": "wide", "rows": 20_000},
    "lanes_sf01": {"mode": "lanes", "sf": 0.01},
}
# the stage expected to dominate each ETL workload: an earlier local[4]
# measurement of runEtl put ~70% of a warm call in the per-column mode fill
PREDICTED = {"etl_wide": "ops.mode_fill"}
# per-layer metric families: the ETL workloads call the first, the lanes
# workload the second
ETL_LAYERS = ("io.", "ops.", "etl.")
LANE_LAYERS = ("lane.", "queries.", "ext.")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*.scala", "src/main/**/*.java", "perfbench/scala/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source digest; returns (classpath, digest)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log("no build.sbt / src/main next to perfbench/: run from a full checkout")
        sys.exit(2)
    digest = source_digest(source_files())
    # one compiled tree per checkout: the classpath is reused only while the
    # digest it was built from still matches
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            built = json.load(f)
        if built["digest"] == digest:
            return built["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "scala"',
           "compile", "export Runtime / fullClasspath"]
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        log(f"build failed (exit {p.returncode}); see .bench_build/build.log")
        sys.exit(3)
    with open(cp_file, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1].strip()}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip(), digest


def commit_stamp(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"source-sha256:{digest[:16]}"


def run_jvm(cp, args, work):
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{mem}", f"-Xms{mem}", "-XX:ReservedCodeCacheSize=512m",
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dlog4j2.level=ERROR", "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if p.returncode != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        log(f"JVM exited {p.returncode}:\n{tail}")
        sys.exit(4)
    return mem


# ---------------------------------------------------------------- checks

def check_etl_call(call, exp):
    """Problems with one runEtl call's output (empty list = correct)."""
    if call.get("error"):
        return [f"raised: {call['error'][:300]}"]
    bad = []
    if call["nonnull"] != exp["nonnull"]:
        diff = {k: (call["nonnull"].get(k), v) for k, v in exp["nonnull"].items()
                if call["nonnull"].get(k) != v}
        extra = set(call["nonnull"]) - set(exp["nonnull"])
        bad.append(f"non-null counts (got, expected): {diff} extra columns {sorted(extra)}")
    if call["mode_counts"] != exp["mode_counts"]:
        diff = {k: (call["mode_counts"].get(k), v) for k, v in exp["mode_counts"].items()
                if call["mode_counts"].get(k) != v}
        bad.append(f"rows equal to the column's mode (got, expected): {diff}")
    try:
        got = json.loads(call["insights"])
    except ValueError as e:
        return bad + [f"insights JSON unreadable: {e}"]
    want = exp["insights"]
    if got.get("total_loans") != want["total_loans"]:
        bad.append(f"total_loans {got.get('total_loans')} != {want['total_loans']}")
    avg = got.get("avg_loan_amount")
    if avg is None or not math.isclose(avg, want["avg_loan_amount"], rel_tol=1e-9):
        bad.append(f"avg_loan_amount {avg} != {want['avg_loan_amount']}")
    if got.get("by_loan_type") != want["by_loan_type"]:
        bad.append(f"by_loan_type {got.get('by_loan_type')} != {want['by_loan_type']}")
    return bad


def median(xs):
    return statistics.median(xs) if xs else -1.0


def metric(value, unit):
    return {"value": value, "unit": unit}


# ---------------------------------------------------------------- ETL

def etl_inputs(wl, seed, work):
    csv = os.path.join(work, f"loans_{wl['shape']}.csv")
    exp = gen_loans.generate(csv, wl["shape"], wl["rows"], seed)
    return csv, exp


def corrupt_mode(exp):
    """Swap one column's expected mode for another of its values, as a fill
    with the wrong value would leave it (self-check)."""
    exp["modes"]["branch"] = "BR049"


def etl_untraced(res, exp, rec):
    calls = res["calls"]
    problems = {i: check_etl_call(c, exp) for i, c in enumerate(calls)}
    # fresh state: every call must read the CSV the same way
    reads = {(c["in_bytes"], c["in_records"]) for c in calls if not c.get("error")}
    if len(reads) > 1:
        for i in problems:
            problems[i].append(f"CSV bytes/records read differ between calls: {sorted(reads)}")
    failed = sum(1 for p in problems.values() if p)
    warm = [c["s"] for i, c in enumerate(calls) if c["kind"] == "warm" and not problems[i]]
    first = calls[0]["s"] if not problems[0] else -1.0
    rec["problems"] = {i: p for i, p in problems.items() if p}
    rec["samples"] = {"warm": len(warm), "setup": len(res["setup_s"])}
    rec["csv_passes"] = [c["in_records"] / exp["rows"] for c in calls]
    return len(calls), failed, {
        "setup_s": metric(median(res["setup_s"]), "s"),
        "first_s": metric(first, "s"),
        "warm_s": metric(median(warm) if len(warm) == sum(c["kind"] == "warm" for c in calls)
                         else -1.0, "s"),
    }


def etl_traced(res, exp, rec):
    calls = res["calls"]
    ref = calls[0]
    problems = {}
    for i, c in enumerate(calls):
        p = check_etl_call(c, exp)
        if not p and c["kind"] == "traced" and (
                c["nonnull"] != ref["nonnull"] or c["insights"] != ref["insights"]):
            p.append("traced replay output differs from the untraced runEtl call")
        problems[i] = p
    failed = sum(1 for p in problems.values() if p)
    rec["problems"] = {i: p for i, p in problems.items() if p}
    spans = res["spans"]
    roots = [s for s in spans if s["name"] == "etl.call"]
    out = {}

    def stage(name, f):
        xs = [f(s) for s in spans if s["name"] == name]
        return median(xs)

    for st in ("io.csv_infer", "ops.mode_fill", "io.parquet_write", "ops.insights"):
        out[f"{st}.s"] = stage(st, lambda s: s["s"])
        out[f"{st}.jobs"] = stage(st, lambda s: s["jobs"])
    for st in ("io.csv_infer", "ops.mode_fill", "io.parquet_write"):
        out[f"{st}.in_mb"] = stage(st, lambda s: s["in_bytes"] / MB)
    out["ops.mode_fill.shuffle_mb"] = stage("ops.mode_fill", lambda s: s["shuffle_write_bytes"] / MB)
    out["ops.mode_fill.fetches"] = stage("ops.mode_fill", lambda s: s["actions"])
    traced = [c for c in calls if c["kind"] == "traced"]
    untraced = [c for c in calls if c["kind"] == "untraced"]
    out["io.parquet_write.out_mb"] = median([c.get("out_bytes", 0) / MB for c in traced])
    out["ops.timestamps.parse_s"] = res["parse_s"]
    out["etl.cache_mb"] = median([c.get("cache_bytes", 0) / MB for c in traced])
    # records, not bytes: a scan of the cached frame reports the cache's
    # bytes as input but only one record per cached batch
    out["etl.csv_passes"] = median([r["in_records"] / exp["rows"] for r in roots])
    out["etl.jobs"] = median([r["jobs"] for r in roots])
    out["etl.cpu_s"] = median([r["cpu_s"] for r in roots])
    out["etl.gc_s"] = median([r["gc_s"] for r in roots])
    out["etl.peak_exec_mb"] = res["peak_exec_bytes"] / MB
    out["etl.out_bytes_per_in_byte"] = median([c.get("out_bytes", 0) / exp["bytes"] for c in traced])
    etl_s = median([c["s"] for c in untraced])
    out["etl.trace_overhead_s"] = median([c["s"] for c in traced]) - etl_s
    stage_sum = median([sum(s["s"] for s in spans if s["parent"] == r["id"]) for r in roots])
    out["etl.unaccounted_s"] = etl_s - stage_sum
    root_ids = {r["id"] for r in roots}
    stages = sorted({s["name"] for s in spans if s["parent"] in root_ids})
    shares = {st: median([s["s"] for s in spans if s["name"] == st]) for st in stages}
    dominant = max(shares, key=shares.get)
    rec["stages"] = {
        "untraced_etl_s": etl_s, "stage_sum_s": stage_sum, "stage_s": shares,
        "dominant": dominant, "predicted": PREDICTED.get(rec["workload"]),
        "agrees_with_prediction": dominant == PREDICTED.get(rec["workload"]),
        "spans_account_within_overhead":
            abs(out["etl.unaccounted_s"]) <= abs(out["etl.trace_overhead_s"]) + 0.05 * etl_s,
    }
    return len(calls), failed, out


# ---------------------------------------------------------------- lanes

def lane_checks(res, tables, work):
    """{lane: problem or ""} from the check pass and the DuckDB oracle,
    normalized as tools/check_oracle.py does (its `check_one`)."""
    import check_oracle  # the repo's own compare, from tools/ in the checkout

    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    con.sql("SET memory_limit='2GB'")
    for t in check_oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables, t)}.parquet'")
    out = {}
    try:
        for r in res["passes"][0]:
            if r["error"]:
                out[r["lane"]] = f"raised: {r['error'][:300]}"
            else:
                msg = check_oracle.check_one(con, res["oracle_sql"],
                                             os.path.join(work, "lane_out"), r["lane"])
                out[r["lane"]] = "" if msg == "OK" else msg
    finally:
        con.close()
    return out


def corrupt_lane(out_dir):
    """Shift one numeric value of a lane's written rows (self-check)."""
    path = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))[0]
    df = pd.read_parquet(path)
    num = [c for c in df.columns if df[c].dtype.kind in "if"]
    df.loc[0, num[0]] = df.loc[0, num[0]] + 1
    df.to_parquet(path)


def lane_failures(res, checks):
    """Every lane run counts once; a run fails if it threw or its lane's
    output disagreed with the oracle."""
    attempted = failed = 0
    for p in res["passes"]:
        for r in p:
            attempted += 1
            failed += bool(r["error"] or checks[r["lane"]])
    return attempted, failed


def pass_sum(p, checks):
    if any(r["error"] or checks[r["lane"]] for r in p):
        return -1.0  # sentinel: a pass with a wrong or crashed lane has no time
    return sum(r["s"] for r in p)


def lanes_untraced(res, checks, rec):
    attempted, failed = lane_failures(res, checks)
    check = res["passes"][0]
    noop = [pass_sum(p, checks) for p in res["passes"][1:]]
    rec["samples"] = {"passes": len(noop), "setup": len(res["setup_s"])}
    rec["pass_s"] = noop
    return attempted, failed, {
        "setup_s": metric(median(res["setup_s"]), "s"),
        # the check pass runs lanes concurrently: its wall time, not its sum
        "first_s": metric(res["check_wall_s"] if pass_sum(check, checks) >= 0 else -1.0, "s"),
        "warm_s": metric(-1.0 if -1.0 in noop else median(noop), "s"),
    }


def lanes_traced(res, checks, rec):
    attempted, failed = lane_failures(res, checks)
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    q = dict.fromkeys(("construct_s", "plan_s", "exec_s", "jobs", "construct_jobs", "shuffle_mb",
                       "records_read", "gc_s"), 0.0)
    for name in sorted(res["oracle_sql"]):
        roots = [s for s in spans if s["name"] == f"lane.{name}" and s["parent"] == 0]
        bad = checks[name] or not roots
        root = roots[0] if roots else None
        ch = {c["name"]: c for c in kids.get(root["id"], [])} if root else {}
        if bad or "write" not in ch:
            for k in ("s", "construct_s", "jobs", "shuffle_mb"):
                out[f"lane.{name}.{k}"] = -1.0
            continue
        con, wr = ch["construct"], ch["write"]
        out[f"lane.{name}.s"] = root["s"]
        out[f"lane.{name}.construct_s"] = con["s"]
        out[f"lane.{name}.jobs"] = root["jobs"]
        out[f"lane.{name}.shuffle_mb"] = root["shuffle_write_bytes"] / MB
        q["construct_s"] += con["s"]
        q["plan_s"] += wr["plan_s"]
        q["exec_s"] += wr["s"] - wr["plan_s"]
        q["jobs"] += root["jobs"]
        q["construct_jobs"] += con["jobs"]
        q["shuffle_mb"] += root["shuffle_write_bytes"] / MB
        q["records_read"] += root["in_records"]
        q["gc_s"] += root["gc_s"]
    out.update({f"queries.{k}": v for k, v in q.items()})
    passes = {p[0]["kind"]: p for p in res["passes"]}
    untraced, traced = pass_sum(passes["untraced"], checks), pass_sum(passes["traced"], checks)
    out["queries.peak_exec_mb"] = res["peak_exec_bytes"] / MB
    out["queries.trace_overhead_s"] = traced - untraced if min(untraced, traced) >= 0 else -1.0
    prim = {(p["primitive"], p["size"]): p["s"] for p in res["primitives"]}
    for name in sorted({p["primitive"] for p in res["primitives"]}):
        for size in ("sf0001", "sf001", "sf01"):
            out[f"{name}.s_{size}"] = prim[(name, size)]
        out[f"{name}.slope"] = math.log10(prim[(name, "sf01")] / prim[(name, "sf001")])
    lane_s = {n: out[f"lane.{n}.s"] for n in res["oracle_sql"]}
    span_sum = sum(v for v in lane_s.values() if v > 0)
    rec["stages"] = {
        "untraced_lanes_s": untraced, "lane_span_sum_s": span_sum,
        "dominant": max(lane_s, key=lane_s.get),
        "construct_share": q["construct_s"] / span_sum if span_sum else -1.0,
        "plan_share": q["plan_s"] / span_sum if span_sum else -1.0,
        "spans_account_within_overhead":
            abs(untraced - span_sum) <= abs(out["queries.trace_overhead_s"]) + 0.05 * untraced,
    }
    return attempted, failed, out


# ---------------------------------------------------------------- main

def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("insight", "mode", "lane"),
                    help="self-check: corrupt one expected insight, one expected mode or "
                         "one lane output; the run must then report a failure")
    a = ap.parse_args()
    cp, digest = build()
    wl = WORKLOADS[a.workload]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds}
    t0, phase = time.time(), {}
    rec["phase_s"] = phase
    try:
        args = ["--mode", wl["mode"], "--trace", str(a.trace), "--seconds", str(a.seconds),
                "--work", work, "--result", os.path.join(work, "result.json")]
        if wl["mode"] == "etl":
            csv, exp = etl_inputs(wl, a.seed, work)
            if a.corrupt == "insight":
                exp["insights"]["total_loans"] += 1
            if a.corrupt == "mode":
                corrupt_mode(exp)
            inputs = {"rows": exp["rows"], "columns": exp["columns"], "bytes": exp["bytes"],
                      "sha256": exp["sha256"]}
            modes = os.path.join(work, "modes.tsv")
            gen_loans.write_modes(modes, exp["modes"])
            args += ["--csv", csv, "--modes", modes]
        else:
            tables = os.path.join(work, "tables_sf001")
            inputs = gen_tables.write(tables, wl["sf"], a.seed)
            args += ["--tables", tables]
            if a.trace:
                for label, sf in (("sf0001", 0.001), ("sf01", 0.1)):
                    d = os.path.join(work, f"tables_{label}")
                    gen_tables.write(d, sf, a.seed)
                    args += [f"--tables_{label}", d]
        phase["inputs"] = time.time() - t0
        mem = run_jvm(cp, args, work)
        phase["jvm"] = time.time() - t0 - phase["inputs"]
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        rec["env"] = dict(res["env"], commit=commit_stamp(digest), source_digest=digest,
                          seed=a.seed, spark_driver_mem=mem, inputs=inputs,
                          python=sys.version.split()[0])
        if wl["mode"] == "etl":
            run = etl_traced if a.trace else etl_untraced
            attempted, failed, metrics = run(res, exp, rec)
        else:
            if a.corrupt == "lane":
                corrupt_lane(os.path.join(work, "lane_out", "q1_pricing_summary"))
            checks = lane_checks(res, tables, work)
            rec["lane_checks"] = {k: v or "OK" for k, v in checks.items()}
            run = lanes_traced if a.trace else lanes_untraced
            attempted, failed, metrics = run(res, checks, rec)
        if a.trace:
            units = dict(per_layer_names())
            own = ETL_LAYERS if wl["mode"] == "etl" else LANE_LAYERS
            unknown = sorted(set(metrics) - set(units))
            missing = sorted(n for n in units if n.startswith(own) and n not in metrics)
            if unknown or missing:
                log(f"per-layer names out of step with BENCHMARK.json: {unknown} {missing}")
                sys.exit(5)
            # the other family's layers are never called by this workload: 0
            metrics = {n: metric(metrics.get(n, 0.0), u) for n, u in units.items()}
        rec["jvm"] = res
        phase["checks"] = time.time() - t0 - phase["inputs"] - phase["jvm"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec.update(attempted=attempted, failed=failed, failed_frac=failed / attempted,
               metrics=metrics)
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    for k in ("problems", "stages"):
        if rec.get(k):
            print(f"{k}: {json.dumps(rec[k])}")
    if any(v for v in rec.get("lane_checks", {}).values() if v != "OK"):
        print(f"lane checks: {json.dumps(rec['lane_checks'])}")
    print(f"env: {json.dumps(rec['env'])}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
