#!/usr/bin/env python3
"""Repo benchmark: the reference's crime ETL plus three suites of query rows.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the library and the
harness from source (`perfbench/build.py`), makes the workload's inputs
from the seed, runs one JVM (`graftbench.Harness`, a closed loop of one
client thread on a `local[<nproc>]` session configured like
`graft.Bench`), checks every output, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. It exits 1 when a check
or the harness fails, and 2 when the checkout cannot be built.

Workloads (see BENCHMARK.json):
  crime_etl   CrimeIngest.ingest -> process -> read crime_type_details,
              one execution date per pass, on a seeded 200k-row crime CSV;
              the first date runs cold in a fresh JVM.
  query_rows  registry rows from three suites (read-only SQL, LLM corpus,
              lake and streaming; the thinning rule is in
              harness/Harness.scala) against one resident session. A run
              sets up (session, warm-up, graft.Bench's fixture pre-warm,
              one cold pass whose results DuckDB checks against
              `SparkEntry.oracleSql`), then times warm passes in a seeded
              order; every timed result must hash like its cold-pass
              result. The rows read the sf0.01 tables in
              `perfbench/data/sf0.01` (a copy of the seed-42 test data).

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
ones: listeners run on alternate passes, `trace.overhead_s` is the traced
minus the untraced pass time, and `mem.peak_rss_mb` is the JVM's peak RSS
(driver and executors share the process). Each run also leaves its full
record — calls, per-row layers, spans, oracle verdicts — in `.bench_out/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import checks  # noqa: E402
import gen_crime  # noqa: E402

WORKLOADS = ("crime_etl", "query_rows")
DATA = BENCH / "data" / "sf0.01"
CRIME_ROWS = 200_000
DEADLINE_S = 175
HEAP = "4g"
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]
KERNELS = ["simhash64", "minhash_sig16", "lsh_buckets_8x6", "lsh_probe_buckets_8x6",
           "sorted_intersect_count", "poly_hash", "rolling_min4_w8",
           "portable_simhash60", "cosine_sim", "shingles", "topk_by",
           "topk_by_distinct", "bloom_agg", "bloom_might_contain"]
# per-pass sums of the listener layers (see harness/Trace.scala)
LAYER_SUMS = [
    "row.build_s", "row.plan_s", "row.exec_s",
    "plan.queries", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
    "spark.driver_gap_s", "spark.task_s", "spark.task_cpu_s", "spark.gc_s",
    "spark.max_task_s", "spark.single_task_stage_s", "spark.failed_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.disk_bytes", "scan.input_bytes", "scan.input_records",
    "write.output_bytes", "write.output_records",
    "etl.ingest_s", "etl.process_s", "etl.read_s",
    "disk.files_created", "disk.bytes_created",
    "stream.batches", "stream.trigger_s", "stream.add_batch_s",
    "stream.query_planning_s", "stream.wal_commit_s", "stream.commit_offsets_s",
    "stream.latest_offset_s", "stream.input_rows", "stream.state_rows",
    "stream.state_memory_bytes", "stream.state_commit_s"]


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    return "bytes" if "bytes" in name else "count"


def tail(values):
    """Latency at the highest percentile (at most p90) that still has at
    least 10 values beyond it; (value, percentile)."""
    xs = sorted(values)
    n = len(xs)
    p = min(0.90, max(0.5, 1 - 10 / n))
    pos = p * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), p


def run_jvm(root, classes, workload, seed, seconds, trace, started):
    cores = len(os.sched_getaffinity(0))
    run_dir = root / ".bench_run" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, out = run_dir / "tmp", run_dir / "out"
    tmp.mkdir(parents=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--out", str(out),
            "--work", str(run_dir / "work"), "--data", str(DATA)]
    if workload == "crime_etl":
        csv, exp = gen_crime.ensure(seed, CRIME_ROWS, root / ".bench_data")
        args += ["--crime-csv", str(csv), "--crime-expected", str(exp),
                 "--crime-rows", str(CRIME_ROWS)]
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", f"{classes}:{build.spark_jars(root)}/*", "graftbench.Harness"] + args)
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            pass  # reported below, with the log
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    result = out / "result.json"
    if proc.returncode != 0 or not result.is_file():
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"harness JVM failed (exit {proc.returncode})")
    res = json.loads(result.read_text())
    res["launched"] = launched
    res["cores"] = cores
    if workload != "crime_etl":
        res["oracle"] = checks.check_rows(DATA, out / "cold", res.get("oracles", {}))
    res["jvm_log_tail"] = log.read_text()[-4000:]
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def failures(res):
    """(attempted, failed, reasons) over cold and timed calls."""
    reasons = []
    cold = res.get("cold", [])
    oracle = res.get("oracle", {})
    for c in cold:
        if not c["ok"]:
            reasons.append(f"cold {c['row']}: {c.get('error')}")
        elif c["row"] not in oracle:
            reasons.append(f"cold {c['row']}: no oracle")
        elif oracle[c["row"]] is not None:
            reasons.append(f"oracle {c['row']}: {oracle[c['row']]}")
    for c in res["calls"]:
        if not c["ok"]:
            reasons.append(f"pass {c['pass']} {c['row']}: {c['error']}")
    return len(cold) + len(res["calls"]), len(reasons), reasons


def end_to_end(res, workload):
    passes = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    if workload == "crime_etl":
        # the query of a batch job is one execution date. Every date counts
        # toward throughput; the cold first one is set-up's share of the
        # latency. wall_s is a warmed-in date: the second still runs about
        # 1.5x slower than later ones while the JIT catches up.
        rate = res["etl"]["rows"] * len(passes) / sum(passes)
        lat = passes[1:]
        passes = passes[2:]
    else:
        lat = [c["build_s"] + c["exec_s"] for c in res["calls"] if not c["traced"]]
        rate = len(lat) / sum(lat)
    # a run has too few queries for a tail above the median to have ten
    # beyond it, so the tail stays in the run record only
    tail_s, tail_p = tail(lat)
    res["tail"] = {"value_s": tail_s, "percentile": tail_p, "n": len(lat)}
    return {
        "setup_s": (res["first_call"] - res["launched"], "s"),
        "wall_s": (statistics.median(passes), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "rows_per_s": (rate, "1/s"),
    }


def per_layer(res, workload):
    traced = [p for p in res["passes"] if p["traced"]]
    # the cold first date of crime_etl is no baseline for the overhead
    untraced = [p["wall_s"] for p in res["passes"]
                if not p["traced"] and not (workload == "crime_etl" and p["pass"] == 0)]
    k = max(1, len(traced))
    lay = res.get("layers", {})
    m = {n: (lay.get(n, 0.0) / k, unit_of(n)) for n in LAYER_SUMS}
    jw = lay.get("spark.job_wall_s", 0.0)
    m["spark.busy_ratio"] = (lay.get("spark.task_s", 0.0) / (jw * res["cores"]) if jw else 0.0,
                             "ratio")
    m["disk.bytes_live"] = (float(res.get("disk_bytes_live", 0)), "bytes")
    m["mem.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    etl = res.get("etl")
    m["etl.stored_bytes_per_input_byte"] = (
        etl["stored_bytes"] / etl["csv_bytes"] if etl else 0.0, "ratio")
    for n, v in res["setup"].items():
        m[f"setup.{n}"] = (v, "s")
    kernels = res.get("kernels", {})
    for n in KERNELS:
        m[f"kernel.{n}_s"] = (kernels.get(n, 0.0), "s")
    m["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced) - statistics.median(untraced), "s")
    return m


def span_self_times(spans):
    """Seconds per span name, total and self (minus direct children)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    agg = {}
    for s in spans:
        d = s["end"] - s["start"]
        a = agg.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        a["n"] += 1
        a["total_s"] += d
        a["self_s"] += d - child.get(s["id"], 0.0)
    return agg


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    root = Path.cwd()
    try:
        classes = build.build(root)
    except SystemExit as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    res = run_jvm(root, classes, a.workload, a.seed, a.seconds, a.trace, started)
    attempted, failed, reasons = failures(res)
    metrics = per_layer(res, a.workload) if a.trace else end_to_end(res, a.workload)
    for r in reasons:
        print(f"[perfbench] FAILED {r}", file=sys.stderr)
    res["metrics"] = {n: v for n, (v, _) in metrics.items()}
    res["fail_ratio"] = failed / attempted
    res["failures"] = reasons
    res["span_times"] = span_self_times(res["spans"])
    res_dir = root / ".bench_out"
    res_dir.mkdir(exist_ok=True)
    (res_dir / f"{a.workload}-s{a.seed}-t{a.trace}.json").write_text(json.dumps(res))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u}
                                  for n, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
