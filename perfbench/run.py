#!/usr/bin/env python3
"""Layered end-to-end benchmark of the graft query engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the program from source if needed (build.py), generates
the input tables if needed (gendata.py), then starts one local[4] JVM
(scala/PerfBench.scala). That JVM sets up a session several times,
executes every query of the workload once to write its result for the
oracle check, runs untimed warm passes, then runs timed passes over the
workload's queries in a seed-permuted order. One client thread submits
one query at a time (a closed loop, like a batch user running jobs).

Every result is compared against the DuckDB oracle SQL the program
registers for the query (SparkEntry.oracleSql), using the canonical
value hash of tools/check.py; oracle answers are cached under
perfbench/.work/oracle keyed by a checksum of the SQL and the inputs.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced
and traced passes and prints the per-layer metrics of the traced passes
plus trace.overhead_frac. The last stdout line is one JSON object; the
full per-pass and per-query record goes to perfbench/.work/results/.
"""
import argparse
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True

import build  # noqa: E402
import gendata  # noqa: E402

# Why each workload exists: see BENCHMARK.json. Lists are fixed so that
# runs of different commits execute the same work.
WORKLOADS = {
    # Scalding fields, typed and join-algorithm API on small data: bound
    # by per-query planning, job launch and parquet opens
    "dataflow_small": dict(scale="0.01", queries=[
        "q_agg_groupby", "q_join_multiway", "q_window_running_sum",
        "q_typed_cogroup", "q_join_skew", "q_join_bloom"]),
    # bound by executor work: per-row CPU in the ml DP kernels (chrF,
    # WER) over 5000 documents and the exchanges of degree-oriented
    # triangle counting
    "corpus_graph": dict(scale="mix", queries=[
        "q_eval_chrf", "q_eval_wer", "q_graph_triangles"]),
}
# what build.sbt gives forked runs: Spark on JDK 17 outside spark-submit
# needs the --add-opens list, and deep Catalyst plans need the stack.
# Compiler threads that the JVM retires take their CPU time out of
# /proc/self/task, where PerfBench reads the JIT's share of cpu_s.
JVM_FLAGS = [
    "-Xss8m", "-Xmx4g", "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# a run normally needs about a minute; the first run in a checkout also
# builds, which is not counted against this
JVM_DEADLINE_S = 150


def data_dir(scale: str) -> Path:
    """Generates the tables of one scale once per checkout."""
    d = WORK / "data" / f"sf{scale}"
    stamp = d / ".stamp"
    want = hashlib.sha256(Path(gendata.__file__).read_bytes()).hexdigest()
    if not (stamp.exists() and stamp.read_text() == want):
        gendata.generate(str(d), scale)
        stamp.write_text(want)
    return d


# ------------------------------------------------------------ oracle check

def _check_module():
    sys.path.insert(0, str(ROOT / "tools"))
    import check  # the project's canonical value hash
    return check


def inputs_digest(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def oracle_answer(con, check, sql: str, key: str):
    """(sorted column names, sorted canonical rows), cached by key."""
    path = WORK / "oracle" / f"{key}.json"
    if path.exists():
        return json.loads(path.read_text())
    rel = con.sql(sql)
    cols = list(rel.columns)
    bad = [(c, str(t)) for c, t in zip(cols, rel.types)
           if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL")]
    if bad:
        raise ValueError(f"oracle type drift {bad}")
    oc, om = check.table_matrix(cols, rel.fetchall())
    ans = [oc, [list(r) for r in om]]
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(ans))
    os.replace(tmp, path)
    return ans


def check_results(out: Path, d: Path, names) -> dict:
    """Status per query: 'ok' or the reason it failed."""
    import duckdb
    import pyarrow.parquet as pq
    check = _check_module()
    sqls = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{WORK / 'duckdb_tmp'}'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d / (t + '.parquet')}')")
    digest = inputs_digest(d)
    status = {}
    for n in names:
        files = sorted((out / "check" / n).glob("*.parquet"))
        if not files:
            status[n] = "no output"
            continue
        if n not in sqls:
            status[n] = "no oracle"
            continue
        key = hashlib.sha256((digest + sqls[n]).encode()).hexdigest()
        try:
            oc, om = oracle_answer(con, check, sqls[n], key)
        except Exception as e:  # an oracle that cannot run is a failure
            status[n] = f"oracle error: {e}"[:300]
            continue
        tbl = pq.read_table(files)
        data = tbl.to_pydict()
        rows = list(zip(*[data[c] for c in tbl.column_names]))
        sc, sm = check.table_matrix(tbl.column_names, rows)
        if sc != oc:
            status[n] = f"schema mismatch {sc} vs {oc}"
        elif [list(r) for r in sm] != om:
            status[n] = f"value mismatch ({len(sm)} vs {len(om)} rows)"
        else:
            status[n] = "ok"
    return status


# ----------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(res: dict) -> dict:
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = [q["latency_s"] for p in passes for q in p["queries"] if q["ok"]]
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (median(lat), "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res: dict) -> dict:
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    mb, s = 1e6, 1e3

    def per_pass(f):
        return median([f(p) for p in traced])

    def total(key, scale=1.0):
        return per_pass(lambda p: sum(int(q.get(key, 0)) for q in p["queries"]) / scale)

    def tsum(key):
        return per_pass(lambda p: sum(q[key] for q in p["queries"]))

    m = {
        "queries.build_s": (tsum("build_s"), "s"),
        "queries.build_jobs": (total("build_jobs"), "count"),
        "sources.open_s": (total("open_ms", s), "s"),
        "sources.open_jobs": (total("open_jobs"), "count"),
        "sources.scan_mb": (total("scan_b", mb), "MB"),
        "shim.plan_s": (total("plan_ms", s), "s"),
        "shim.analysis_s": (total("analysis_ms", s), "s"),
        "shim.optimization_s": (total("optimization_ms", s), "s"),
        "shim.planning_s": (total("planning_ms", s), "s"),
        "shim.aqe_updates": (total("aqe_updates"), "count"),
        "core.jobs": (total("jobs"), "count"),
        "core.stages": (total("stages"), "count"),
        "core.tasks": (total("tasks"), "count"),
        "core.sched_delay_s": (total("sched_ms", s), "s"),
        "core.core_util": (per_pass(lambda p: sum(int(q.get("run_ms", 0)) for q in p["queries"])
                                    / s / (p["wall_s"] * res["cores"])), "fraction"),
        "exec.task_s": (total("run_ms", s), "s"),
        "exec.task_cpu_s": (total("cpu_ns", 1e9), "s"),
        "exec.gc_s": (total("gc_ms", s), "s"),
        "exec.max_task_s": (per_pass(lambda p: max(int(q.get("max_task_ms", 0))
                                                   for q in p["queries"]) / s), "s"),
        "shuffle.write_mb": (total("shuffle_write_b", mb), "MB"),
        "shuffle.read_mb": (total("shuffle_read_b", mb), "MB"),
        "shuffle.fetch_wait_s": (total("fetch_wait_ms", s), "s"),
        "shuffle.spill_mb": (total("spill_b", mb), "MB"),
        "cache.peak_mb": (per_pass(lambda p: max(int(q["cache_b"]) for q in p["queries"])
                                   / mb), "MB"),
        "driver.result_mb": (total("result_b", mb), "MB"),
    }
    untraced = median([p["wall_s"] for p in plain])
    m["trace.overhead_frac"] = (per_pass(lambda p: p["wall_s"]) / untraced - 1.0, "fraction")
    return m


def contention(res: dict) -> dict:
    ld = res["load"]
    steal = (ld["steal_after"] - ld["steal_before"]) / 100.0
    return {"load1_before": ld["load1_before"], "load1_after": ld["load1_after"],
            "steal_share": steal / (res["window_s"] * res["cores"])}


# -------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    classpath = build.build()
    w = WORKLOADS[a.workload]
    data = data_dir(w["scale"])
    order = list(w["queries"])
    random.Random(a.seed).shuffle(order)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = WORK / "runs" / tag
    tmp = WORK / "tmp"
    for p in (out, tmp, WORK / "results", WORK / "logs"):
        p.mkdir(parents=True, exist_ok=True)
    for f in out.glob("result.json"):
        f.unlink()
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-cp", classpath, "graft.perfbench.PerfBench",
           "--data", str(data), "--names", ",".join(order),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log = WORK / "logs" / f"{tag}.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write(f"benchmark JVM overran its deadline; log: {log}\n")
            return 1
    if proc.returncode != 0 or not (out / "result.json").exists():
        sys.stderr.write(f"benchmark JVM failed ({proc.returncode}); log: {log}\n")
        return 1
    res = json.loads((out / "result.json").read_text())

    status = check_results(out, data, order)
    for n, why in res["check_failures"].items():
        status[n] = why
    executed = [q for p in res["passes"] + res["warm_passes"] for q in p["queries"]]
    attempted = len(executed)
    failed = sum(1 for q in executed if not q["ok"])
    wrong = {n: s for n, s in status.items() if s != "ok"}
    metrics = per_layer(res) if a.trace else end_to_end(res)
    # BENCHMARK.json names the metrics that are reported; the others stay
    # in the run record: query_p50_s is a median over a handful of
    # distinct queries and jumps between them, peak RSS follows the
    # heap-sizing policy, local-mode shuffles never wait or spill, and
    # these workloads persist nothing
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    reported = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "order": order, "oracle": status, "contention": contention(res),
              "metrics": {k: v for k, (v, _) in metrics.items()}, "raw": res}
    (WORK / "results" / f"{tag}.json").write_text(json.dumps(record, indent=1))
    for n, s in wrong.items():
        sys.stderr.write(f"oracle check failed: {n}: {s}\n")
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": attempted + len(order),
        "failed": failed + len(wrong),
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in reported},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
