#!/usr/bin/env python3
"""Materialized benchmark of the graft query engine.

Usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source (sbt, in perfbench/); later runs reuse that build until a
source file changes. Each run generates its fixture from the seed, starts one
JVM on local[N] with N = the machine's cores, and drives one client issuing
the workload's queries one at a time. Set-up is the session start plus one
cold and one warm pass. Timed passes follow, about S seconds of them at the
time the workload was defined, each in a seed-permuted order, with every
result materialized through the `noop` sink. An untimed step dumps every
query's output and checks it with the project's oracle gate,
tools/selfcheck.py. The last line of standard output is one JSON object with
the metrics; with --trace 1 they are the per-layer metrics, and the spans of
the traced passes are written to .perfbench/trace-<workload>-<seed>.json.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(HERE, "target")

# name -> (queries, pass_s). The queries are pinned by name, so adding or
# reordering queries in the program's catalog never changes a workload. Of
# each band (a query's band is the first letter of its id) they are the
# queries that exercise the paths the workload's description names. Passes
# keep getting faster for many passes, so the median depends on how many
# ran: the count is fixed per workload as --seconds over pass_s, the median
# pass time measured when the workload was defined. A faster program then
# runs the same passes in less time.
WORKLOADS = {
    "relational": (["b1_project", "c3_join_sort_merge", "d4_agg_rollup",
                    "e6_win_range_frame", "f5_fn_string", "h3_udaf_hll",
                    "s1_sql_tpch3"], 2.6),
    "llm-pipeline": (["g7_text_tokenize_wordcount", "g34_bigram_lm",
                      "g2_dedup_near_jaccard", "g3_sim_cosine_pairs",
                      "g71_ann_index_serve"], 2.0),
    "stateful": (["a4_sink_parquet_roundtrip", "i20_stream_cdc_apply",
                  "j2_dag_run", "m7_merge_into"], 3.5),
}
# Queries without an oracle: DuckDB SQL over the fixture whose row count is
# the number of rows the query must return.
ROWS_ONLY = {
    # one HLL estimate per event type, the null type included
    "h3_udaf_hll": "SELECT DISTINCT event_type FROM events",
}
SF = 0.01
RUN_LIMIT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for dirpath, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "target")
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
        if os.path.isfile(top):
            with open(top, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when sources changed; return (classpath, catalog)."""
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    cat_file = os.path.join(BUILD, "perfbench.catalog.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), json.load(open(cat_file))
    log("building program and harness with sbt")
    res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, capture_output=True, text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit("build failed")
    # `export` prints the classpath as the one unprefixed line
    cp = [line for line in res.stdout.splitlines() if line and not line.startswith("[")][-1]
    os.makedirs(BUILD, exist_ok=True)
    subprocess.run(java_cmd(cp, []) + ["perfbench.Catalog", cat_file],
                   check=True, timeout=120)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, json.load(open(cat_file))


def java_cmd(cp, props):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    return ["java", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *opens, *props,
            "-cp", cp]


def workload_queries(catalog, name):
    queries = WORKLOADS[name][0]
    missing = [q for q in queries if q not in catalog]
    if missing:
        raise SystemExit(f"the program declares no queries {missing}")
    return queries


def traced_passes(name, seconds, trace):
    """Per timed pass, whether it is traced. At least three passes, so the
    median is never the slowest pass of a run. A traced run takes at least
    two whole untraced-traced-traced-untraced blocks, so a drift in pass
    time from warm-up cancels out of the tracing overhead."""
    n = max(3, round(seconds / WORKLOADS[name][1]))
    return stats.abba(max(2, -(-n // 4))) if trace else [False] * n


def write_plan(path, run_dir, queries, seed, traced, cores):
    orders = stats.permutations(queries, seed, 1 + len(traced))
    lines = [f"cores {cores}", f"records {run_dir}/records.jsonl",
             f"setup {run_dir}/fixture {run_dir}/state {','.join(orders[0])}"]
    lines += [f"pass {int(t)} {','.join(o)}" for t, o in zip(traced, orders[1:])]
    lines.append(f"check {run_dir}/dump {','.join(queries)}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def read_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def expected_rows(fixture_dir, sql):
    con = duckdb.connect()
    for f in os.listdir(fixture_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{fixture_dir}/{f}')")
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def check_outputs(recs, catalog, queries, run_dir, timeout):
    """Per query: None if its output checks out, else the reason. The dumps
    go through the project's oracle gate, tools/selfcheck.py; a query
    without an oracle must return the row count of its ROWS_ONLY SQL."""
    fixture_dir, dump = f"{run_dir}/fixture", f"{run_dir}/dump"
    os.makedirs(dump, exist_ok=True)
    with open(f"{dump}/oracle_sql.json", "w") as f:
        json.dump({q: catalog[q] for q in queries if catalog[q] is not None}, f)
    with open(f"{dump}/queries.json", "w") as f:
        json.dump(queries, f)
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "selfcheck.py"),
                          fixture_dir, dump, *queries],
                         capture_output=True, text=True, timeout=timeout)
    if res.returncode not in (0, 1):
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
        raise SystemExit(f"oracle gate exited with {res.returncode}")
    gate = stats.parse_selfcheck(res.stdout)
    verdict = {}
    for q in queries:
        status, detail = gate.get(q, ("FAIL", "no verdict from the oracle gate"))
        got = stats.rows_only_count(detail) if status == "SKIP" else None
        if status == "PASS":
            verdict[q] = None
        elif got is None:
            verdict[q] = detail
        elif q not in ROWS_ONLY:
            verdict[q] = "no oracle and no expected row count in ROWS_ONLY"
        else:
            want = expected_rows(fixture_dir, ROWS_ONLY[q])
            verdict[q] = None if got == want else f"rows {got} != {want} expected"
    for r in recs:
        if r["k"] == "check":
            verdict[r["q"]] = f"check step threw {r['err']}"
    return verdict


def e2e_metrics(recs):
    setup = next(r for r in recs if r["k"] == "setup")
    passes = [r["s"] for r in recs if r["k"] == "pass" and not r["traced"]]
    lat, by_q = [], {}
    for r in recs:
        if r["k"] == "exec" and r["phase"] == "timed" and not r["traced"]:
            s = (r["t3"] - r["t0"]) / 1000
            lat.append(s)
            by_q.setdefault(r["q"], []).append(s)
    tail = stats.highest_percentile(len(lat))
    log(f"{len(lat)} latency samples support percentiles up to p{tail}")
    return {
        "setup_s": setup["session_s"] + setup["cold_s"] + setup["warm_s"],
        "pass_s": statistics.median(passes),
        "query_p50_s": statistics.median(lat),
        "query_geomean_s": stats.geomean_of_medians(by_q),
    }


def phases(r):
    """(t0, t1, t2, t3) of one execution record; a phase a failed query never
    reached ends where the query did."""
    return r["t0"], r["t1"] or r["t3"], r["t2"] or r["t3"], r["t3"]


def spans_of(recs):
    """Spans of the traced timed passes: query -> build/plan/exec -> job ->
    stage, with streaming batches under build. Times in ms."""
    spans, phase_windows = [], []
    execs = [r for r in recs if r["k"] == "exec" and r["phase"] == "timed" and r["traced"]]
    for n, r in enumerate(execs):
        qid = f"q{n}"
        spans.append({"id": qid, "parent": None, "name": "query", "q": r["q"],
                      "pass": r["pass"], "start": r["t0"], "end": r["t3"]})
        t0, t1, t2, t3 = phases(r)
        for name, a, b in (("build", t0, t1), ("plan", t1, t2), ("exec", t2, t3)):
            spans.append({"id": f"{qid}.{name}", "parent": qid, "name": name,
                          "start": a, "end": b})
            phase_windows.append((a, b, f"{qid}.{name}"))
    windows = stats.Windows(phase_windows)
    job_end = {r["id"]: r["t"] for r in recs if r["k"] == "job_end"}
    stage_job = {}
    for r in recs:
        if r["k"] == "job":
            parent = windows.owner(r["t"])
            if parent is None:
                continue
            spans.append({"id": f"j{r['id']}", "parent": parent, "name": "job",
                          "start": r["t"], "end": job_end.get(r["id"], r["t"])})
            for s in r["stages"]:
                stage_job[s] = f"j{r['id']}"
    for r in recs:
        if r["k"] == "stage" and r["id"] in stage_job and r["t0"]:
            spans.append({"id": f"s{r['id']}.{r['attempt']}", "parent": stage_job[r["id"]],
                          "name": "stage", "start": r["t0"], "end": r["t1"]})
        elif r["k"] == "batch":
            start = r["t1"] - r["dur_ms"]
            parent = windows.owner(start)
            if parent is not None and parent.endswith(".build"):
                spans.append({"id": f"b{len(spans)}", "parent": parent, "name": "batch",
                              "start": start, "end": r["t1"]})
    return spans


def layer_metrics(recs, cores, names):
    """The per-layer metrics `names`: totals for each traced pass, then the
    median over traced passes; self times are means per traced pass."""
    execs = [r for r in recs if r["k"] == "exec" and r["phase"] == "timed" and r["traced"]]
    qwin = stats.Windows([(r["t0"], r["t3"], r["pass"]) for r in execs])
    build_win = stats.Windows([(r["t0"], phases(r)[1], r["pass"]) for r in execs])
    per = {}

    def add(p, k, v):
        per.setdefault(p, collections.defaultdict(float))[k] += v

    for r in execs:
        p = r["pass"]
        t0, t1, t2, t3 = phases(r)
        add(p, "operators.build_s", (t1 - t0) / 1000)
        add(p, f"operators.build_s.{r['q'][0]}", (t1 - t0) / 1000)
        add(p, "plans.plan_s", (t2 - t1) / 1000)
        add(p, "plans.exchanges", max(0, r["exchanges"]))
        add(p, "spark.exec_s", (t3 - t2) / 1000)
    job_end = {r["id"]: r["t"] for r in recs if r["k"] == "job_end"}
    mb = 1048576
    for r in recs:
        k = r["k"]
        if k == "job":
            p = qwin.owner(r["t"])
            if p is None:
                continue
            add(p, "spark.jobs", 1)
            add(p, "spark.job_wall_s", (job_end.get(r["id"], r["t"]) - r["t"]) / 1000)
            if build_win.owner(r["t"]) is not None:
                add(p, "operators.build_jobs", 1)
        elif k == "stage":
            p = qwin.owner(r["t0"])
            if p is not None:
                add(p, "spark.stages", 1)
        elif k == "task":
            p = qwin.owner(r["t0"])
            if p is None:
                continue
            add(p, "spark.tasks", 1)
            add(p, "spark.tasks_failed", 0 if r["ok"] else 1)
            add(p, "spark.task_run_s", r["run_ms"] / 1000)
            add(p, "spark.task_cpu_s", r["cpu_ns"] / 1e9)
            add(p, "spark.gc_s", r["gc_ms"] / 1000)
            add(p, "spark.deserialize_s", r["deser_ms"] / 1000)
            add(p, "shuffle.write_mb", r["sw"] / mb)
            add(p, "shuffle.read_mb", r["sr"] / mb)
            add(p, "shuffle.fetch_wait_s", r["fw_ms"] / 1000)
            add(p, "shuffle.spill_mb", r["spill"] / mb)
            add(p, "sources.input_mb", r["in"] / mb)
            add(p, "sources.output_mb", r["out"] / mb)
        elif k == "batch":
            p = qwin.owner(r["t1"] - r["dur_ms"])
            if p is None:
                continue
            add(p, "streaming.batches", 1)
            add(p, "streaming.batch_s", r["dur_ms"] / 1000)
            add(p, "streaming.wal_s", r["wal_ms"] / 1000)
            add(p, "streaming.planning_s", r["plan_ms"] / 1000)
            add(p, "streaming.state_rows", r["state_rows"])
    for m in per.values():
        jobs = m["spark.jobs"]
        m["spark.nontask_ms_per_job"] = (
            (m["spark.job_wall_s"] - m["spark.task_run_s"] / cores) * 1000 / jobs if jobs else 0.0)
        m["spark.cpu_util"] = (
            m["spark.task_cpu_s"] / (m["spark.exec_s"] * cores) if m["spark.exec_s"] else 0.0)
    out = {k: statistics.median(m[k] for m in per.values()) for k in names}
    out["sources.disk_left_mb"] = next(r for r in recs if r["k"] == "end")["disk_mb"]
    out["driver.heap_retained_mb"] = min(r["heap_mb"] for r in recs if r["k"] == "pass")
    passes = sorted((r for r in recs if r["k"] == "pass"), key=lambda r: r["pass"])
    out["trace.overhead_s"] = stats.paired_overhead([(r["traced"], r["s"]) for r in passes])
    spans = spans_of(recs)
    own = stats.self_times(spans)
    for name in ("query", "build", "plan", "exec", "job", "stage", "batch"):
        out[f"self.{name}_s"] = own.get(name, 0.0) / sum(r["traced"] for r in passes)
    return {k: out[k] for k in names}, spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("src/main/scala/graft", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"{need} not found under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    classpath, catalog = build()
    started = time.time()
    queries = workload_queries(catalog, args.workload)
    cores = os.cpu_count() or 1
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        fixture.write(f"{run_dir}/fixture", args.seed, SF)
        plan = f"{run_dir}/plan.txt"
        write_plan(plan, run_dir, queries, args.seed,
                   traced_passes(args.workload, args.seconds, args.trace), cores)
        props = [f"-Djava.io.tmpdir={run_dir}/state/tmp"]
        budget = RUN_LIMIT_S - (time.time() - started)
        with open(f"{run_dir}/jvm.log", "w") as jvm_log:
            res = subprocess.run(java_cmd(classpath, props) + ["perfbench.Harness", plan],
                                 cwd=run_dir, stdout=jvm_log, stderr=subprocess.STDOUT,
                                 timeout=budget)
        if res.returncode != 0:
            sys.stderr.write(open(f"{run_dir}/jvm.log").read()[-4000:])
            raise SystemExit(f"harness exited with {res.returncode}")
        log(f"harness done at {time.time() - started:.1f} s")
        recs = read_records(f"{run_dir}/records.jsonl")
        verdict = check_outputs(recs, catalog, queries, run_dir,
                                RUN_LIMIT_S - (time.time() - started))
        bad_q = {q for q, v in verdict.items() if v is not None}
        for q in sorted(bad_q):
            log(f"output check failed: {q}: {verdict[q]}")
        execs = [r for r in recs if r["k"] == "exec"]
        for r in execs:
            if r["err"]:
                log(f"{r['phase']} pass {r['pass']} {r['q']} threw {r['err'][:300]}")
        failed = sum(1 for r in execs if r["err"] or r["q"] in bad_q)
        if args.trace:
            metrics, spans = layer_metrics(recs, cores, [m["name"] for m in declared])
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(spans, f)
        else:
            metrics = e2e_metrics(recs)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(execs),
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in declared},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
