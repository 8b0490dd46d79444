#!/usr/bin/env python3
"""The repository benchmark. Builds graft from source, makes the inputs
for a seed, runs one workload in one JVM (perfbench/harness), checks
the outputs and prints the metrics; the last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}.

Usage (from the repository root):
  python3 perfbench/run.py --workload <medallion_load|lake_queries>
      --seed <n> --seconds <s> --trace <0|1>

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
perfbench/README.md describes the workloads and every metric.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = "sf0.01"
HEAP = "3g"
MAX_CORES = 8
DEADLINE_S = 170

WORKLOADS = ("medallion_load", "lake_queries")

E2E = [("setup_s", "s"), ("first_pass_s", "s"), ("wall_s", "s"), ("cpu_s", "s")]

GOLD = ["dim_fecha", "dim_customer", "dim_part", "dim_tag", "fact_orders",
        "bridge_order_part", "bridge_part_tag", "fact_metricas"]

# The lake_queries set: 8 of the 31 GQuery.benchmark queries, so that a
# run (cold pass, output checks, two steady passes) stays near one
# minute on 4 cores. It keeps the three costliest plans that run eager jobs
# while their DataFrame is built (q108's checkpoints, q144, q189), and
# one query of every module group below.
LAKE_QUERIES = [
    "q108_pagerank", "q189_leakage_split", "q144_prefix_join", "q42_minhash_lsh",
    "q191_dsir_selection", "q17_regional_revenue", "q165_topk_operator",
    "q130_snapshot_diff"]

# Queries grouped by the module they mostly call; each group's per-layer
# figure is the sum of the plan + execute medians of its queries that
# are in LAKE_QUERIES.
LAYER_GROUPS = {
    "functions.text_s": ["q35", "q48", "q94", "q98", "q117", "q135", "q150", "q172", "q191"],
    "operators.similarity_s": ["q42", "q56", "q77", "q82", "q144", "q181", "q183", "q189"],
    "operators.graph_s": ["q108", "q161"],
    "operators.star_s": ["q01", "q16", "q17", "q34", "q68"],
    "plans.window_s": ["q19", "q51", "q126", "q165", "q170"],
    "io.layout_s": ["q130", "q148"],
}

APP = [("app.run_s", "s"), ("app.driver_gap_s", "s"), ("app.jobs_in_flight", "jobs"),
       ("app.slot_busy_frac", "ratio"), ("app.jobs", "count"), ("app.tasks", "count"),
       ("app.task_cpu_s", "s"), ("app.gc_s", "s"), ("app.shuffle_bytes", "bytes"),
       ("app.spill_bytes", "bytes"), ("app.max_task_s", "s"), ("app.task_p90_s", "s"),
       ("app.overlap_ratio", "ratio")]
ISO_SPANS = ["clean.events", "clean.documents", "operators.star_compute"] + \
    [f"io.gold.{t}" for t in GOLD] + ["operators.validate", "io.volumetry"]
IO = [("io.gold_write_s", "s"), ("io.merge_s", "s"), ("io.silver_bytes", "bytes"),
      ("io.gold_bytes", "bytes"), ("io.gold_files", "count"),
      ("io.gold_files_added", "count"), ("io.scan_bytes", "bytes"), ("io.write_amp", "ratio")]
QUERY_TOTALS = [("queries.plan_jobs", "count"), ("queries.task_cpu_s", "s"),
                ("queries.gc_s", "s"), ("queries.shuffle_bytes", "bytes"),
                ("queries.spill_bytes", "bytes"), ("queries.task_p90_s", "s")]
TRACE = [("trace.wall_s", "s"), ("trace.overhead_s", "s"), ("trace.untagged_job_frac", "ratio"),
         ("mem.peak_rss_mb", "MB")]


def expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def per_layer_metrics():
    """(name, unit) of every per-layer metric, in print order."""
    queries = LAKE_QUERIES
    return (APP + [(s + "_s", "s") for s in ISO_SPANS] + IO
            + [(f"queries.{q}.{k}_s", "s") for q in queries for k in ("plan", "exec")]
            + QUERY_TOTALS + [(g, "s") for g in LAYER_GROUPS] + TRACE)


def bytes_under(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def gold_counts(out):
    import pyarrow.dataset as ds
    return {t: ds.dataset(os.path.join(out, "gold", t), format="parquet",
                          partitioning="hive").count_rows() for t in GOLD}


def gold_digest(out):
    return {t: stats.digest_parquet(os.path.join(out, "gold", t)) for t in GOLD}


# ---------------------------------------------------------------- checks

def check_medallion(res, seed):
    """Marks each pass ok or failed: no exception, zero integrity
    violations, gold row counts equal across passes and, at seed 0,
    equal to the pinned counts. Returns (attempted, failed, notes)."""
    passes = [o for o in res["ops"] if o["kind"] == "pass"]
    want = expected()["gold_counts_seed0"] if seed == 0 else None
    notes, failed = [], 0
    for p in passes:
        bad = None
        if not p["ok"]:
            bad = "raised: " + str(p["error"])
        elif p["violations"] != 0:
            bad = f"{p['violations']} integrity violations"
        else:
            counts = gold_counts(p["out"])
            want = want or counts
            if counts != want:
                bad = f"gold counts {counts} != {want}"
        p["check_ok"] = bad is None
        if bad:
            failed += 1
            notes.append(f"pass {p['pass']}: {bad}")
    attempted = len(passes)
    iso = res.get("iso")
    if iso:
        # the layer-isolation pass must write Main.run's gold exactly; the
        # digest is taken after its io.merge re-load, so equality also
        # shows that the re-load appended no rows
        attempted += 1
        main_out = next((p["out"] for p in passes if p["check_ok"]), None)
        if iso["violations"] != 0 or main_out is None \
                or gold_digest(main_out) != gold_digest(iso["out"]):
            failed += 1
            notes.append("layer-isolation pass (or its re-load) diverged from Main.run")
    return attempted, failed, notes


def check_queries(res):
    want = expected()["digests"]
    notes, failed = [], 0
    ops = [o for o in res["ops"] if o["kind"] == "query"]
    for o in ops:
        bad = None
        if not o["ok"]:
            bad = "raised: " + str(o["error"])
        elif o["check"] is not None:
            if o["check"].startswith("error"):
                bad = o["check"]
            elif stats.digest_parquet(o["check"]) != want[o["name"]]:
                bad = "output digest differs from the DuckDB oracle's"
        o["check_ok"] = bad is None
        if bad:
            failed += 1
            notes.append(f"{o['name']} pass {o['pass']}: {bad}")
    return len(ops), failed, notes


# --------------------------------------------------------------- metrics

def op_seconds(o):
    return o["wall_s"] if o["kind"] == "pass" else o["plan_s"] + o["exec_s"]


def pass_totals(ops, pred):
    """Per steady pass (pass >= 1 matching pred): (wall, cpu) summed over
    its operations."""
    by = {}
    for o in ops:
        if o["pass"] >= 1 and pred(o):
            w, c = by.get(o["pass"], (0.0, 0.0))
            by[o["pass"]] = (w + op_seconds(o), c + o["cpu_s"])
    return [by[k] for k in sorted(by)]


def end_to_end(res):
    ops = [o for o in res["ops"] if o["ok"]]
    steady = pass_totals(ops, lambda o: not o["traced"])
    return {
        "setup_s": res["setup_s"],
        "first_pass_s": sum(op_seconds(o) for o in ops if o["pass"] == 0),
        "wall_s": stats.median([w for w, _ in steady]),
        "cpu_s": stats.median([c for _, c in steady]),
    }


def _tag_sum(tags, names, key):
    return sum(tags.get("pb:" + n, {}).get(key, 0) for n in names)


def _task_p90(durations):
    """p90 task time, 0 when fewer than 100 tasks ran (p90 then has
    fewer than ten tasks beyond it)."""
    try:
        return stats.percentile(durations, 90)
    except ValueError:
        return 0.0


def per_layer(res, bronze):
    td = res["trace_data"]
    tags, spans = td["tags"], {s["tag"][3:]: s for s in td["spans"]}
    m = {name: 0.0 for name, _ in per_layer_metrics()}
    ops = [o for o in res["ops"] if o["ok"]]
    traced = pass_totals(ops, lambda o: o["traced"])
    untraced = pass_totals(ops, lambda o: not o["traced"])
    m["trace.wall_s"] = stats.median([w for w, _ in traced])
    m["trace.overhead_s"] = m["trace.wall_s"] - stats.median([w for w, _ in untraced])
    m["trace.untagged_job_frac"] = td["untagged_jobs"] / max(1, td["total_jobs"])
    m["mem.peak_rss_mb"] = res["peak_rss_mb"]
    cores = res["cores"]

    if res["workload"] == "medallion_load":
        rows = []
        for o in ops:
            if o["pass"] < 1 or not o["traced"]:
                continue
            t = tags.get(f"pb:app#{o['pass']}", {})
            lo, hi = o["start_ms"], o["start_ms"] + o["wall_s"] * 1e3
            gap_ms, in_flight = stats.job_overlap(
                [tuple(iv) for iv in t.get("job_intervals_ms", [])], lo, hi)
            rows.append({
                "app.run_s": o["wall_s"], "app.driver_gap_s": gap_ms / 1e3,
                "app.jobs_in_flight": in_flight,
                "app.slot_busy_frac": t.get("task_s", 0) / (cores * o["wall_s"]),
                "app.jobs": t.get("jobs", 0), "app.tasks": t.get("tasks", 0),
                "app.task_cpu_s": t.get("cpu_s", 0), "app.gc_s": t.get("gc_s", 0),
                "app.shuffle_bytes": t.get("shuffle_write_bytes", 0),
                "app.spill_bytes": t.get("spill_bytes", 0),
                "app.max_task_s": max(t.get("task_durations_s", [0])),
                "app.task_p90_s": _task_p90(t.get("task_durations_s", []))})
        for k in rows[0] if rows else []:
            m[k] = stats.median([r[k] for r in rows])
        for s in ISO_SPANS:
            m[s + "_s"] = spans[s]["s"]
        m["app.overlap_ratio"] = sum(spans[s]["s"] for s in ISO_SPANS) / m["app.run_s"]
        m["io.gold_write_s"] = sum(spans[f"io.gold.{t}"]["s"] for t in GOLD)
        m["io.merge_s"] = spans["io.merge"]["s"]
        iso = res["iso"]
        m["io.gold_files_added"] = iso["gold_files_after_merge"] - iso["gold_files_before_merge"]
        m["io.scan_bytes"] = _tag_sum(tags, ["io.merge"], "input_bytes")
        out = next(o["out"] for o in ops if o["pass"] == 1)
        m["io.silver_bytes"] = bytes_under(os.path.join(out, "silver"))
        m["io.gold_bytes"] = bytes_under(os.path.join(out, "gold"))
        m["io.gold_files"] = sum(1 for d, _, fs in os.walk(os.path.join(out, "gold"))
                                 for f in fs if f.endswith(".parquet"))
        m["io.write_amp"] = bytes_under(out) / bytes_under(bronze)
    else:
        qops = [o for o in ops if o["pass"] >= 1 and o["traced"]]
        by_q = {}
        for o in qops:
            by_q.setdefault(o["name"], []).append(o)
        for q, os_ in by_q.items():
            m[f"queries.{q}.plan_s"] = stats.median([o["plan_s"] for o in os_])
            m[f"queries.{q}.exec_s"] = stats.median([o["exec_s"] for o in os_])
        passes = sorted({o["pass"] for o in qops})
        names = sorted(by_q)

        def per_pass(kinds, key):
            return stats.median([_tag_sum(tags, [f"q:{q}:{k}#{p}" for q in names for k in kinds],
                                          key) for p in passes])
        m["queries.plan_jobs"] = per_pass(["plan"], "jobs")
        m["queries.task_cpu_s"] = per_pass(["plan", "exec"], "cpu_s")
        m["queries.gc_s"] = per_pass(["plan", "exec"], "gc_s")
        m["queries.shuffle_bytes"] = per_pass(["plan", "exec"], "shuffle_write_bytes")
        m["queries.spill_bytes"] = per_pass(["plan", "exec"], "spill_bytes")
        m["queries.task_p90_s"] = _task_p90([
            d for q in names for k in ("plan", "exec") for p in passes
            for d in tags.get(f"pb:q:{q}:{k}#{p}", {}).get("task_durations_s", [])])
        for group, ids in LAYER_GROUPS.items():
            m[group] = sum(m[f"queries.{q}.plan_s"] + m[f"queries.{q}.exec_s"]
                           for q in names if q.split("_")[0] in ids)
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    root = os.getcwd()
    classpath = build.build(root)
    started = time.time()
    base = os.path.join(HERE, "data", SCALE)
    work = os.path.join(root, build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        bronze = (stats.make_inputs(base, os.path.join(work, "bronze"), a.seed)
                  if a.workload == "medallion_load" else base)
        cores = min(os.cpu_count() or 1, MAX_CORES)
        result = os.path.join(work, "result.json")
        launch_ms = int(time.time() * 1e3)
        cmd = build.java_cmd(classpath, HEAP, "perfbench.PerfBench", [
            "run", a.workload, bronze, work, str(a.seed), str(a.seconds), str(a.trace),
            str(launch_ms), result, ",".join(LAKE_QUERIES)])
        cmd[1:1] = [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
                    f"-Dspark.sql.warehouse.dir={work}/warehouse"]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                raise SystemExit("perfbench: the harness ran past its deadline")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"perfbench: the harness exited with {rc}")
        with open(result) as fh:
            res = json.load(fh)

        if a.workload == "medallion_load":
            attempted, failed, notes = check_medallion(res, a.seed)
        else:
            attempted, failed, notes = check_queries(res)
        if a.trace:
            metrics, units = per_layer(res, bronze), dict(per_layer_metrics())
        else:
            metrics, units = end_to_end(res), dict(E2E)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload={a.workload} seed={a.seed} scale={SCALE} cores={res['cores']} "
          f"heap_mb={res['heap_mb']:.0f} trace={a.trace}")
    walls = {}
    for o in res["ops"]:
        walls[o["pass"]] = walls.get(o["pass"], 0.0) + op_seconds(o)
    print("pass seconds (cold first): " + ", ".join(
        f"{w:.2f}{'*' if any(o['traced'] and o['pass'] == p for o in res['ops']) else ''}"
        for p, w in sorted(walls.items())) + ("  (* traced)" if a.trace else ""))
    print(f"output checks: {attempted - failed}/{attempted} passed")
    for n in notes:
        print("  FAILED " + n)
    if a.trace and res["trace_data"]["untagged_jobs"]:
        print("untagged jobs from: " + "; ".join(
            map(str, res["trace_data"]["untagged_call_sites"])))
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
