#!/usr/bin/env python3
"""graft benchmark: the bundle -> report CLI at two bundle shapes, plus an
oracle-checked query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The script

1. compiles `src/main/scala` and `perfbench/scala` with the Scala compiler
   that ships in Spark's jar directory (`$SPARK_HOME/jars`, else the one
   next to `spark-submit` on PATH) into `.bench_build/`, once per source
   hash;
2. generates the workload's inputs from the seed (excluded from timing);
3. runs the JVM harness (`perfbench/scala/Harness.scala`) as one
   closed-loop client in `local[N]`, N = min(4, cores);
4. checks every result: the advisor report must rank the planted
   candidate first at its 2-sample lead, ingest the expected number of
   signals, and be byte-identical across the run; every catalog query
   must match its DuckDB oracle (`SparkEntry.oracleSql`, compared with
   the normalisation of `tools/selfcheck.py`) and return the same result
   on every execution. Operations that throw or fail a check count in
   `failed` and stay out of the latency figures;
5. prints the workload's own figures (named as in the benchmark's
   description) on one line, then the result object as the last line.

`--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer
split (listener counters, Catalyst phases, pipeline stage spans, tracing
overhead). See perfbench/README.md for the metric-to-layer map.
"""
import argparse
import hashlib
import json
import os
import pickle
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import gen_bundle  # noqa: E402
import gen_tables  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)
HEAP = "2g"
# the JVM's time limit is worked out per run (see jvm_timeout) from these
# allowances, each about twice the figure measured on 4 cores
SETUP_ALLOWANCE_S = 60
OP_ALLOWANCE_S = {"advisor": 30, "catalog": 6}
AFTER_ALLOWANCE_S = {"advisor": 60, "catalog": 30}

# `min_ops`: reports per run; `passes`: passes over the query mix per run.
# A run sets up once and its warm-up is a whole report or one query, which
# keeps a run near 45 s on 4 cores.
WORKLOADS = {
    "advisor_fleet": {"kind": "advisor", "metrics": 16, "instances": 4, "hours": 1.0,
                      "min_ops": 1},
    "catalog_mix": {"kind": "catalog", "sf": 0.001, "table_seed": 7, "passes": 1},
}

# every query the exchange-width and connected-components work targets,
# plus one cheap query each for the modules they leave out
MIX = [
    "q40_basket_affinity", "ts_matrix_profile", "ad_esd", "corr_cluster", "advisor_report",
    "dedup_jaccard", "dedup_simhash", "dedup_lsh_tune", "dedup_semdedup_auto",
    "ann_knn_components", "text_containment", "sample_stratified",
]
# a multi-job pipeline outside the mix (grid, typed per-signal kernels,
# broadcast join, windows), so shared code paths are compiled before the
# measured pass
WARM_QUERY = "corr_topk"
MODULES = ["relational", "timeseries", "anomaly", "correlate", "dedup", "similarity",
           "text", "curation"]

END_TO_END = {"setup_s": "s", "op_s.geomean": "s", "pass_s": "s", "cache_peak_mb": "MB"}
LAYER_STAGES = {
    "sources.extract_s": "s", "sources.read_s": "s", "sources.read_jobs": "count",
    "sources.signals_ingested": "count", "timeseries.grid_s": "s",
    "timeseries.grid_rows": "count", "timeseries.signals_gated": "count",
    "changepoints.anomaly_s": "s", "changepoints.anomaly_rows": "count",
    "correlate.ncc_s": "s", "correlate.ncc_cells": "count", "correlate.ranked_rows": "count",
    "report.advise_s": "s", "report.render_s": "s", "report.granger_s": "s",
    "report.drift_s": "s",
}
LAYER_STATS = {
    "spark.jobs": ("jobs", "count"), "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"), "spark.task_run_s": ("task_run_s", "s"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.core_idle_share": ("core_idle_share", "ratio"),
    "spark.max_task_share": ("max_task_share", "ratio"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "spark.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "spark.spill_mb": ("spill_mb", "MB"),
    "catalyst.executions": ("executions", "count"),
    "catalyst.analysis_s": ("analysis_s", "s"),
    "catalyst.optimization_s": ("optimization_s", "s"),
    "catalyst.planning_s": ("planning_s", "s"),
}


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars) or not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        fail(f"no Spark jar directory with a Scala compiler (looked in '{jars}')")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main, "graft", "Main.scala")):
        fail(f"no graft sources under {main}: run from the root of a graft checkout", 2)
    out = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile once per source hash into .bench_build/classes-<hash>."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    if os.path.isdir(classes):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"scalac-{os.getpid()}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, f"@{argfile}"]
    r = run_child(cmd, os.path.join(BUILD, "compile.log"), 840)
    os.remove(argfile)
    if r != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compile failed (exit {r}); see .bench_build/compile.log")
    os.rename(tmp, classes)
    return classes


def run_child(cmd, log_path, timeout):
    """Run `cmd` in its own process group, output to `log_path`; on
    timeout kill the whole group and wait for it."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def make_inputs(workload, cfg, seed):
    inputs = os.path.join(BUILD, "inputs")
    os.makedirs(inputs, exist_ok=True)
    if cfg["kind"] == "advisor":
        path = os.path.join(inputs, f"{workload}-{seed}.tar.gz")
        manifest = gen_bundle.write(path, cfg["metrics"], cfg["instances"], cfg["hours"], seed)
        return {"bundle": path}, manifest
    # the tables are a fixed fixture (the seed permutes the query order),
    # written once per checkout
    d = os.path.join(inputs, f"tables-sf{cfg['sf']}-s{cfg['table_seed']}")
    if not os.path.isfile(os.path.join(d, "_COMPLETE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.write(d, cfg["sf"], cfg["table_seed"])
        open(os.path.join(d, "_COMPLETE"), "w").close()
    return {"tables": d}, None


def jvm_timeout(kind, seconds, min_ops, pass_ops, trace):
    """Seconds the harness may take before it is killed: set-up, then the
    measured loop (it runs for `seconds` and then finishes its pass, and
    runs at least `min_ops` operations), then the traced stage-by-stage
    run and the result writes, with half again as margin."""
    per_op = OP_ALLOWANCE_S[kind]
    loop = max(seconds + pass_ops * per_op, min_ops * per_op)
    after = AFTER_ALLOWANCE_S[kind] * (2 if trace else 1)
    return 1.5 * (SETUP_ALLOWANCE_S + loop + after)


def check_advisor(ops, rec, run_dir, manifest):
    """Mark ops failed unless the report is byte-identical across the run
    (the traced stage-by-stage run's report included), ranks the planted
    candidate first at its lead, and the ingested signal count matches
    the generator's."""
    problems = []
    ok_ops = [o for o in ops if o["ok"]]
    first = next(r["digest"] for r in rec if r["kind"] == "warm")
    for o in ok_ops:
        if o["digest"] != first:
            o["ok"], o["error"] = False, "report differs from the run's warm-up report"
    if any(r["digest"] != first for r in rec if r["kind"] == "layers_report"):
        problems.append("the stage-by-stage run's report differs from Main.run's")
    ingested = [r["ingested"] for r in rec if r["kind"] == "signals"]
    if ingested != [manifest["signals"]]:
        problems.append(f"ingested {ingested} signals, expected {manifest['signals']}")
    want = (str(manifest["bucket"]), f"{manifest['objective']}/{manifest['objective_node']}",
            f"{manifest['candidate']}/{manifest['candidate_node']}",
            str(-manifest["lead"]), "1")
    md_path = os.path.join(run_dir, "report.md")
    rows = []
    if os.path.isfile(md_path):
        with open(md_path) as f:
            for line in f:
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                if len(cells) == 6:
                    rows.append((cells[0], cells[1], cells[2], cells[3], cells[5]))
    if want not in rows:
        problems.append(f"planted candidate not ranked 1 at lead {manifest['lead']}: "
                        f"want {want}, bucket rows "
                        f"{[r for r in rows if r[0] == want[0] and r[1] == want[1]]}")
    for p in problems:
        for o in ok_ops:
            o["ok"], o["error"] = False, p
    return problems


def oracle_rows(con, sql, tables):
    """The oracle's (sorted column names, rows in column order). Results are
    cached per checkout, keyed by the SQL text and the table files: some
    oracles take tens of seconds in DuckDB, and the tables are fixed."""
    h = hashlib.sha256(sql.encode())
    for f in sorted(os.listdir(tables)):
        st = os.stat(os.path.join(tables, f))
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(BUILD, "oracle", h.hexdigest() + ".pickle")
    if os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    res = con.sql(sql)
    order = sorted(range(len(res.columns)), key=lambda i: res.columns[i])
    out = ([res.columns[i] for i in order],
           [tuple(r[i] for i in order) for r in res.fetchall()])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(f"{path}.tmp", path)
    return out


def check_catalog(ops, run_dir, tables):
    """Compare each query's first result with its DuckDB oracle; mark every
    execution failed whose query fails, or whose result differs from the
    checked one."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from selfcheck import TABLES, norm
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads TO {CPUS}")
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'tmp')}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    verdict = {}
    for name in sorted({o["op"] for o in ops if o["ok"]}):
        path = os.path.join(run_dir, "results", name)
        if name not in oracle:
            verdict[name] = "no oracle"
            continue
        try:
            mine = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            my_cols = sorted(mine.columns)
            my_rows = con.sql(f"SELECT {', '.join(my_cols)} "
                              f"FROM read_parquet('{path}/*.parquet')").fetchall()
            o_cols, o_rows = oracle_rows(con, oracle[name], tables)
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[name] = f"oracle error {e}"
            continue
        if my_cols != o_cols:
            verdict[name] = f"schema {my_cols} vs {o_cols}"
        elif len(my_rows) != len(o_rows):
            verdict[name] = f"rowcount {len(my_rows)} vs {len(o_rows)}"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(my_rows, o_rows))
                        if tuple(map(norm, a)) != tuple(map(norm, b))), None)
            verdict[name] = "OK" if bad is None else f"value mismatch at row {bad}"
    first = {}
    for o in ops:
        if not o["ok"]:
            continue
        if verdict.get(o["op"]) != "OK":
            o["ok"], o["error"] = False, verdict.get(o["op"], "unchecked")
        elif first.setdefault(o["op"], o["digest"]) != o["digest"]:
            o["ok"], o["error"] = False, "result differs from the checked execution"
    return [f"{k}: {v}" for k, v in sorted(verdict.items()) if v != "OK"]


def summarise(workload, cfg, rec, ops, trace):
    ok = [o for o in ops if o["ok"]]
    times = [o["s"] for o in ok]
    setup = next(r["s"] for r in rec if r["kind"] == "setup")
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    clean = [sum(o["s"] for o in p) for p in passes.values() if all(o["ok"] for o in p)]
    pass_times = clean or [sum(o["s"] for o in p if o["ok"]) for p in passes.values()]
    peak = [r["peak_bytes"] for r in rec if r["kind"] == "storage"]
    p50 = statistics.median(times) if times else 0.0
    figures = {
        "setup_s": setup,
        # the mix is a dozen different queries: their median jumps between
        # neighbours with the order, so the per-operation figure is the
        # geometric mean, as TPC-H's power metric
        "op_s.geomean": statistics.geometric_mean(times) if times else 0.0,
        "pass_s": statistics.median(pass_times) if pass_times else 0.0,
        "cache_peak_mb": (peak[0] if peak else 0) / 1048576.0,
    }
    failed = len(ops) - len(ok)
    named = {"workload": workload, "ops": len(ok), "passes": len(passes),
             "setup_s": {"value": setup, "unit": "s"},
             "failed_ratio": {"value": failed / max(1, len(ops)), "unit": "ratio"},
             "cache_peak_mb": {"value": figures["cache_peak_mb"], "unit": "MB"}}
    if cfg["kind"] == "advisor":
        named["report_s.p50"] = {"value": p50, "unit": "s", "n": len(times)}
    else:
        p90 = statistics.quantiles(times, n=10, method="inclusive")[-1] if len(times) > 1 else p50
        named["query_s.p50"] = {"value": p50, "unit": "s", "n": len(times)}
        named["query_s.p90"] = {"value": p90, "unit": "s", "n": len(times),
                                "beyond": sum(t > p90 for t in times)}
        named["query_s.geomean"] = {"value": figures["op_s.geomean"], "unit": "s"}
        named["suite_s"] = {"value": figures["pass_s"], "unit": "s", "n": len(pass_times)}
    if not trace:
        return named, {k: {"value": figures[k], "unit": u} for k, u in END_TO_END.items()}
    layers = {}
    for r in rec:
        if r["kind"] == "layer":
            layers.setdefault(r["name"], []).append(r["value"])
    metrics = {k: {"value": statistics.median(layers.get(k, [0.0])), "unit": u}
               for k, u in LAYER_STAGES.items()}
    n_passes = max(1, len(passes))
    for m in MODULES:
        metrics[f"catalog.{m}_s"] = {
            "value": sum(o["s"] for o in ok if o["module"] == m) / n_passes
            if cfg["kind"] == "catalog" else 0.0, "unit": "s"}
    traced = [o for o in ok if o["traced"] and o["stats"]]
    for k, (field, unit) in LAYER_STATS.items():
        vals = [o["stats"][field] for o in traced]
        metrics[k] = {"value": statistics.mean(vals) if vals else 0.0, "unit": unit}
    metrics["caches.tracked_frames"] = {
        "value": statistics.mean(o["tracked"] for o in ops) if ops else 0.0, "unit": "count"}
    t_on = [o["s"] for o in ok if o["traced"]]
    t_off = [o["s"] for o in ok if not o["traced"] and o["pass"] > 0]
    overhead = statistics.median(t_on) - statistics.median(t_off) if t_on and t_off else 0.0
    metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    named["trace.overhead_s"] = {"value": overhead, "unit": "s",
                                 "traced_n": len(t_on), "untraced_n": len(t_off)}
    return named, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", action="store_true",
                    help="add one throwing and one wrong-result operation (self-test)")
    a = ap.parse_args()
    cfg = dict(WORKLOADS[a.workload])
    jars = spark_jars()
    classes = build(jars)
    args, manifest = make_inputs(a.workload, cfg, a.seed)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    harness = {"workload": a.workload, "out": run_dir, "seconds": a.seconds,
               "trace": a.trace, "cpus": CPUS, **args}
    if cfg["kind"] == "catalog":
        mix = list(MIX)
        random.Random(a.seed).shuffle(mix)
        harness["mix"] = ",".join(mix)
        harness["warm"] = WARM_QUERY
        if a.inject:
            harness["inject"] = 1
        # a traced run compares a traced pass with a later untraced one
        pass_ops = len(mix) + (2 if a.inject else 0)
        harness["min_ops"] = cfg["passes"] * (3 if a.trace else 1) * pass_ops
    else:
        pass_ops = 1
        harness["min_ops"] = max(cfg["min_ops"], 3 if a.trace else 0)
    timeout = jvm_timeout(cfg["kind"], a.seconds, harness["min_ops"], pass_ops, a.trace)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    # -UsePerfData: the JVM would otherwise write its perf file under /tmp
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "graftbench.Harness"]
           + [f"{k}={v}" for k, v in harness.items()])
    try:
        t0 = time.time()
        code = run_child(cmd, os.path.join(run_dir, "jvm.log"), timeout)
        rec_path = os.path.join(run_dir, "records.jsonl")
        if code != 0 or not os.path.isfile(rec_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"harness exited {code} after {time.time() - t0:.0f} s"
                 f" (time limit {timeout:.0f} s)")
        with open(rec_path) as f:
            rec = [json.loads(line) for line in f]
        ops = [r for r in rec if r["kind"] == "op"]
        if cfg["kind"] == "advisor":
            problems = check_advisor(ops, rec, run_dir, manifest)
        else:
            problems = check_catalog(ops, run_dir, args["tables"])
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        for o in ops:
            if not o["ok"]:
                print(f"failed: pass {o['pass']} {o['op']}: {o.get('error')}", file=sys.stderr)
        named, metrics = summarise(a.workload, cfg, rec, ops, a.trace == 1)
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            named["spans"] = os.path.relpath(
                os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"), ROOT)
            os.replace(os.path.join(run_dir, "spans.jsonl"), os.path.join(ROOT, named["spans"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(not o["ok"] for o in ops)
    print(json.dumps(named))
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
