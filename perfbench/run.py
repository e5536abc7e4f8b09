#!/usr/bin/env python3
"""graft benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and
the benchmark's JVM side (perfbench/build.py) into .bench_build/.
Every run generates its inputs from --seed, starts one JVM on
local[nproc], times its session set-up, runs the workload's rounds,
checks the outputs, and prints one JSON object as the last line of
stdout:

    --trace 0: the end-to-end metrics (no listener attached)
    --trace 1: the per-layer metrics, from Spark listeners attached by
               the benchmark only; the tracing overhead against the kept
               untraced runs of the same build goes to stderr and the
               kept summary

A summary (and, traced, one JSONL record per op) is kept under
.bench_build/results/. The exit code is non-zero when any output is
wrong; no result is printed when the run itself cannot complete.
See perfbench/README.md for the workloads, metrics and checks.
"""
import argparse
import glob
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
RESULTS = os.path.join(build.OUT, "results")
WORKLOADS = ["etl-cohorts", "query-stream"]
# A fixed heap and young generation keep the JVM's resident size from
# following G1's adaptive sizing, which made peak_rss_mb jump between runs.
HEAP, YOUNG = "2g", "512m"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# Workload sizes. A round is one pass of the workload's op sequence;
# `--seconds` sets how many rounds run, at the nominal round length
# measured on a 4-core machine, so the work of a run never depends on
# how fast the program is. p50_kind: the one op kind op_p50_s is the
# median of, so the median never falls between op kinds of different
# sizes.
SIZE = {
    # dtypes: the ETL dtypes run (every merged one also merges and gets
    # metadata); star_genes: genes per STAR-counts file
    "etl-cohorts": dict(projects=2, samples=2, star_genes=20000,
                        dtypes=["star_counts", "methylation450", "somaticmutation_wxs", "clinical"],
                        round_s=15.0, p50_kind="etl"),
    # landings: stream drops landed per round; star_genes: genes per
    # STAR-counts file landed for the incremental matrix stream
    "query-stream": dict(landings=1, star_genes=2000, round_s=15.0, p50_kind="query"),
}


def jvm_timeout(rounds, round_s):
    """Seconds after which the workload JVM counts as hung: a set-up and
    staging allowance plus four times the nominal length of its rounds
    (150 s for one round, so a hung run still ends within three minutes)."""
    return 90 + 4 * rounds * round_s


# Per-layer figures that are a state or a ratio, not a per-round sum.
NOT_ADDITIVE = {"mem.peak_exec_mb", "store.live_mb", "store.write_amp",
                "streaming.state_rows", "streaming.state_mb", "streaming.ledger_rows"}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def load_json(path):
    with open(path) as f:
        return json.load(f)


# ------------------------------------------------------------ the JVM

def java_cmd(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:-UsePerfData"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", cp, "perfbench.Main"] + args)


def launch(cmd, log_path, timeout):
    """Start the JVM; return (seconds from launch to its READY line,
    exit code). stdout/stderr go to log_path."""
    # MALLOC_ARENA_MAX: fewer glibc arenas, so native memory (and with it
    # peak_rss_mb) does not depend on how many threads happened to malloc.
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), SPARK_LOCAL_IP="127.0.0.1",
               MALLOC_ARENA_MAX="2")
    with open(log_path, "ab") as logf:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=logf, env=env, cwd=ROOT)
        ready = []

        def pump():
            for line in p.stdout:
                if not ready and line.strip() == b"READY":
                    ready.append(time.perf_counter() - t0)
                logf.write(line)
        th = threading.Thread(target=pump, daemon=True)
        th.start()
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
        th.join()
    return (ready[0] if ready else None), code


# ----------------------------------------------------------- inputs

def query_plan(seed):
    """The query mix (queries.tsv rows marked `mix`) in a seeded order."""
    import random
    rows = [l.rstrip("\n").split("\t") for l in open(os.path.join(HERE, "queries.tsv"))
            if l.strip() and not l.startswith("#")]
    family = {r[0]: r[1] for r in rows}
    order = [r[0] for r in rows if r[2] == "mix"]
    random.Random(seed).shuffle(order)
    return {"order": order, "family": family}


def make_inputs(workload, seed, rounds, inputs):
    os.makedirs(inputs, exist_ok=True)
    plan_path = os.path.join(inputs, "expected.json")
    size = SIZE[workload]
    if workload == "etl-cohorts":
        gen.gen_etl(inputs, seed, size["projects"], size["samples"], size["dtypes"],
                    size["star_genes"])
        # the set-up warm-up's project: one sample of every dtype, its MAF
        # not empty, so every code path a timed pair takes is warmed
        warm = os.path.join(inputs, "warm")
        gen.gen_etl(warm, seed + 1, 1, 1, size["dtypes"], size["star_genes"], empty_maf=False)
        exp = load_json(plan_path)
        exp["plan"].update(warm_raw=os.path.join(warm, "raw"),
                           warm_project=load_json(os.path.join(warm, "expected.json"))["plan"]["projects"][0])
        with open(plan_path, "w") as f:
            json.dump(exp, f)
    else:
        plan = query_plan(seed)
        plan.update(gen.gen_stream(inputs, seed, os.path.join(DATA, "documents.parquet"),
                                   rounds * size["landings"], size["star_genes"]))
        with open(plan_path, "w") as f:
            json.dump({"plan": plan}, f)
    return plan_path


# ----------------------------------------------------------- checks

def read_tsv(path):
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if not parts:
        raise FileNotFoundError(path)
    return pd.read_csv(parts[0], sep="\t", dtype=str, keep_default_na=False)


def close(got, want):
    if want is None:
        return got in ("", "NA")
    try:
        return abs(float(got) - float(want)) <= 1e-6 * max(1.0, abs(float(want)))
    except ValueError:
        return str(got) == str(want)


def check_etl(inputs, work, result):
    """Sampled cells against the generator's closed forms, the MAF
    no-mutation sentinel row, and a metadata JSON per merged matrix.
    A wrong cell fails the op that produced the output."""
    exp = load_json(os.path.join(inputs, "expected.json"))
    bad = set()
    for rnd in sorted({o["round"] for o in result["ops"]}):
        out = os.path.join(work, "etl", "r%d" % rnd)
        cache = {}

        def table(rel):
            if rel not in cache:
                try:
                    cache[rel] = read_tsv(os.path.join(out, rel))
                except (OSError, ValueError):
                    cache[rel] = None
            return cache[rel]
        for c in exp["cells"]:
            d, kind = c["dtype"], c["kind"]
            if kind in ("clinical", "survival"):
                op = (rnd, "etl", "%s/%s" % (c["project"], d))
                t = table("matrices/%s/%s.tsv" % (c["project"], d))
                rows = None if t is None else t[t["sample"] == c["sample"]]
                ok = rows is not None and len(rows) == 1 and close(rows.iloc[0][c["col"]], c["value"])
            else:
                # the STAR-counts pan-cancer matrix is the bucketed store's export
                op = (rnd, "export" if d == "star_counts" else "merge", d)
                t = table("merged/%s.tsv" % d)
                if t is None:
                    ok = False
                elif kind == "matrix":
                    rows = t[t.iloc[:, 0] == c["key"][0]]
                    ok = (len(rows) == 1 and c["sample"] in t.columns and
                          close(rows.iloc[0][c["sample"]], c["value"]))
                elif kind == "segment":
                    rows = t[(t["sample"] == c["key"][0]) & (t["Chrom"] == c["key"][1]) &
                             (t["Start"] == c["key"][2])]
                    ok = len(rows) == 1 and close(rows.iloc[0]["value"], c["value"])
                elif kind == "maf":
                    rows = t[(t["sample"] == c["key"][0]) & (t["start"] == c["key"][1])]
                    ok = len(rows) == 1 and close(rows.iloc[0]["dna_vaf"], c["value"])
                else:  # maf_sentinel: exactly one row, start = -1
                    rows = t[t["sample"] == c["key"][0]]
                    ok = len(rows) == 1 and rows.iloc[0]["start"] == "-1"
            if not ok:
                bad.add(op)
        for d in exp["plan"]["merged"]:
            try:
                load_json(os.path.join(out, "merged", "%s.tsv.json" % d))
            except (OSError, ValueError):
                bad.add((rnd, "metadata", d))
    return bad


def check_queries(work, result):
    """The DuckDB oracle over the same tables, with the compare
    semantics of tools/check_correctness.py."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py"))
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    con = duckdb.connect()
    for t in cc.TABLES:
        p = os.path.join(DATA, "%s.parquet" % t)
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    oracles = load_json(os.path.join(work, "queries", "oracle_sql.json"))
    bad = set()
    for o in result["ops"]:
        if o["kind"] != "query":
            continue
        q = o["name"]
        try:
            problems = cc.compare(q, pd.read_parquet(os.path.join(work, "queries", "r%d" % o["round"], q)),
                                  con.execute(oracles[q]).df())
        except Exception as e:  # missing output, oracle error
            problems = [repr(e)]
        if problems:
            log("query check %s: %s" % (q, "; ".join(problems)[:300]))
            bad.add((o["round"], "query", q))
    return bad


# ---------------------------------------------------------- metrics

def quantile(values, q):
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(setup, result, p50_kind):
    walls = [r["wall_s"] for r in result["rounds"]]
    lat = [o["latency_s"] for o in result["ops"] if o["kind"] == p50_kind]
    return {
        "setup_s": metric(setup, "s"),
        "wall_s": metric(statistics.median(walls), "s"),
        "op_p50_s": metric(quantile(lat, 0.5), "s"),
        "peak_rss_mb": metric(result["peak_rss_mb"], "MB"),
    }


def per_layer(result):
    """Per-layer figures per round."""
    units = {m["name"]: m["unit"] for m in load_json(os.path.join(ROOT, "BENCHMARK.json"))["per_layer"]}
    n = len(result["rounds"])
    out = {}
    for name, unit in units.items():
        v = result["layers"].get(name, 0.0) or 0.0
        out[name] = metric(v if name in NOT_ADDITIVE else v / n, unit)
    return out


def trace_overhead_pct(workload, stamp, rounds, result):
    """This traced run's wall_s against the median wall_s of the kept
    untraced runs of the same workload, build and number of rounds;
    None when there is no such run."""
    plain = []
    for p in glob.glob(os.path.join(RESULTS, "%s-seed*-trace0.json" % workload)):
        kept = load_json(p)
        if kept.get("build") == stamp and len(kept["rounds"]) == rounds:
            plain.append(kept["metrics"]["wall_s"]["value"])
    if not plain:
        return None
    traced = statistics.median(r["wall_s"] for r in result["rounds"])
    return 100.0 * (traced / statistics.median(plain) - 1.0)


# ------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    os.makedirs(build.OUT, exist_ok=True)
    cp = build.build()
    size = SIZE[a.workload]
    rounds = max(1, int(round(a.seconds / size["round_s"])))
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    run_dir = os.path.join(build.OUT, "runs", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(RESULTS, exist_ok=True)
    try:
        t_gen = time.perf_counter()
        plan = make_inputs(a.workload, a.seed, rounds, inputs)
        log("inputs generated in %.1f s" % (time.perf_counter() - t_gen))
        jvm_log = os.path.join(run_dir, "jvm.log")
        result_path = os.path.join(run_dir, "result.json")
        ops_path = os.path.join(RESULTS, tag + ".ops.jsonl")
        s, code = launch(java_cmd(cp, run_dir, [
            "--workload", a.workload, "--plan", plan, "--data", DATA, "--work", work,
            "--raw", os.path.join(inputs, "raw"), "--rounds", str(rounds),
            "--landings", str(size.get("landings", 0)),
            "--trace", str(a.trace), "--result", result_path, "--ops", ops_path]), jvm_log,
            jvm_timeout(rounds, size["round_s"]))
        if s is None or code != 0 or not os.path.exists(result_path):
            tail = open(jvm_log, errors="replace").read()[-3000:]
            raise SystemExit("workload JVM failed (exit %s):\n%s" % (code, tail))
        result = load_json(result_path)
        with open(jvm_log, errors="replace") as f:
            for line in f:
                if line.startswith("[perfbench]"):  # the JVM's phase times
                    print(line, end="", file=sys.stderr)
        log("JVM done in %.1f s" % (time.perf_counter() - t_gen))
        # the streams' incremental == batch checks already ran in the JVM
        bad = check_etl(inputs, work, result) if a.workload == "etl-cohorts" \
            else check_queries(work, result)
        for o in result["ops"]:
            if (o["round"], o["kind"], o["name"]) in bad and o["ok"]:
                o["ok"], o["error"] = False, "output check failed"
        log("outputs checked at %.1f s" % (time.perf_counter() - t_gen))
        failed = [o for o in result["ops"] if not o["ok"]]
        for o in failed[:10]:
            log("FAILED r%d %s %s: %s" % (o["round"], o["kind"], o["name"], o["error"]))
        metrics = per_layer(result) if a.trace else end_to_end(s, result, size["p50_kind"])
        summary = {"correct": not failed, "attempted": len(result["ops"]), "failed": len(failed),
                   "metrics": metrics}
        kept = dict(summary, workload=a.workload, seed=a.seed, build=build.stamp(),
                    rounds=result["rounds"], ops=result["ops"])
        for name, m in metrics.items():
            log("%-28s %14.6f %s" % (name, m["value"], m["unit"]))
        if a.trace:
            over = trace_overhead_pct(a.workload, kept["build"], rounds, result)
            kept["trace_overhead_pct"] = over
            log("tracing overhead: " + ("no untraced run of this build and round count kept"
                                        if over is None else "%.1f%% of wall_s" % over))
        with open(os.path.join(RESULTS, tag + ".json"), "w") as f:
            json.dump(kept, f, indent=1)
        log("ops %d  ops_failed %d" % (len(result["ops"]), len(failed)))
        print(json.dumps(summary))
        return 0 if not failed else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
