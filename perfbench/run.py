#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload sdk_http --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Everything a run writes goes under
.bench_build/perfbench/ in the checkout.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
with --trace 1 the per-layer ones, from listeners attached to the Spark
session and spans around every call the benchmark makes. The full record of
a run (sample counts, tails, checks, host facts, and with --trace 1 the
end-to-end numbers of the traced run itself) is written to
.bench_build/perfbench/results/<workload>-s<seed>-t<trace>.json.

See perfbench/README.md for the workloads and the metrics.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import host  # noqa: E402
import sdk_http  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
LAUNCH = WORK / "launch.txt"
WORKLOADS = ("sdk_http", "curation_scale")
# One JVM heap for every benchmark process: the engine's build reads it from
# SPARK_DRIVER_MEM, and the host shares its memory with other work.
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Matches perfbench.Main.SetupReps: the last setup's store is the one measured.
SETUP_REPS = 3

# list_p50_ms and peak_rss_mb are computed and kept in the run record, but
# they are not printed: across ten runs the spread of list_p50_ms on sdk_http
# reached 0.26, and that of peak_rss_mb (the heap grows when the collector
# decides to) 0.31, past the largest bound a metric may have (0.25).
END_TO_END = ("setup_s", "ops_per_s", "load_p50_ms", "get_p50_ms",
              "load_p95_ms", "get_p95_ms", "maint_s", "wall_s", "stored_mb",
              "write_amp", "dedup_recall", "ann_recall_at_10")
UNITS = {"setup_s": "s", "ops_per_s": "ops/s", "maint_s": "s", "wall_s": "s",
         "stored_mb": "MB", "write_amp": "ratio", "dedup_recall": "ratio",
         "ann_recall_at_10": "ratio"}

HTTP_OPS = ("upload", "get_last", "get_key", "get_all", "list")
CURATION_OPS = ("minhash", "jaccard", "simhash", "semdedup", "ivf_topk", "ivf_build",
                "ivf_search", "incremental")
# SparkEntry.queries entries the curation_scale traced run times after the
# window (perfbench CurationScale.Queries); each is checked against its
# oracle SQL.
QUERIES = ("qn130_dedup_state_folded", "qn102_index_churn")
KERNELS = ("dot", "l2_normalize", "simhash64", "minhash_sig", "shingles", "tokens")
SPARK = ("jobs", "tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_write_mb",
         "shuffle_read_mb", "spill_mb", "input_mb", "core_util", "driver_gap_ms")
PLAN = ("actions", "analysis_ms", "optimization_ms", "planning_ms")


def per_layer_names():
    names = []
    for op in HTTP_OPS:
        names += [f"http.{op}.jobs", f"http.{op}.job_ms", f"http.{op}.driver_ms"]
    names += ["http.upload.bytes_in_per_row", "http.get.bytes_out_per_row"]
    names += [f"spark.{m}" for m in SPARK]
    names += [f"plan.{m}" for m in PLAN]
    for op in CURATION_OPS:
        names += [f"ops.{op}.ms", f"ops.{op}.jobs", f"ops.{op}.driver_ms"]
    names += ["ops.minhash.candidate_precision", "ops.simhash.candidate_precision"]
    names += ["state.write.ms", "state.compact.ms", "state.files_live"]
    names += [f"kernel.{k}.ns_per_row" for k in KERNELS]
    for q in QUERIES:
        names += [f"query.{q}.ms", f"query.{q}.jobs", f"query.{q}.driver_ms"]
    names += ["jvm.gc_ms", "jvm.heap_peak_mb"]
    return names


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ns_per_row"):
        return "ns/row"
    if name.endswith("per_row"):
        return "B/row"
    if name.endswith(".ms"):
        return "ms"
    if name.endswith(("precision", "core_util")):
        return "ratio"
    return "count"


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine and driver; return (classpath, jvm options)."""
    stamp = source_stamp()
    stamp_file = WORK / "launch.stamp"
    if not (LAUNCH.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        log("building engine and benchmark driver with sbt")
        env = dict(os.environ, PERFBENCH_LAUNCH=str(LAUNCH), SPARK_DRIVER_MEM=HEAP)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=840)
        if r.returncode != 0 or not LAUNCH.exists():
            raise SystemExit("perfbench: build failed")
        stamp_file.write_text(stamp)
    cp, opts = None, []
    for line in LAUNCH.read_text().splitlines():
        if line.startswith("cp="):
            cp = line[3:]
        elif line.startswith("opt="):
            opts.append(line[4:])
    return cp, opts


def java_cmd(cp, opts, work, main, args, extra=()):
    # The engine's options point Derby at a shared /tmp directory; keep
    # every file this run writes inside the checkout instead (a later -D
    # wins), and no hsperfdata file goes to /tmp. The heap grows as the
    # program needs it, so peak RSS follows what the program allocates.
    return (["java", "-cp", cp] + opts +
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dderby.system.home={work / 'derby'}"] +
            list(extra) + [main] + list(args))


# --------------------------------------------------------- curation_scale

def run_curation(args, cp, opts, work):
    """Run the curation_scale JVM (perfbench.Main) and turn its record into
    metrics."""
    out = work / "trace.jsonl"
    cmd = java_cmd(cp, opts, work, "perfbench.Main",
                   [str(args.seed), str(args.seconds), str(args.trace), str(work), str(out)])
    launched = time.time() * 1000.0
    busy0, total0 = host.proc_cpu_jiffies()
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -1
    busy1, total1 = host.proc_cpu_jiffies()
    recs = host.load_records(out)
    errors = [r["message"] for r in recs if r["kind"] == "error"]
    if code != 0 or not recs:
        tail = (work / "jvm.log").read_text()[-3000:]
        errors.append(f"benchmark JVM exited with {code}: {tail}")
    by = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r)
    meta = by.get("meta", [{}])[0]
    setup = by.get("setup", [{}])[0]
    window_rec = by.get("window", [{}])[0]
    window = (window_rec.get("start", 0.0), window_rec.get("end", 0.0))
    spans = by.get("span", [])
    wspans = stats.in_window(spans, window)
    checks = by.get("check", [])
    jvm = by.get("jvm", [])
    named = {}
    for s in wspans:
        named.setdefault(s["name"], []).append(s)

    def durs(name):
        return [s["end"] - s["start"] for s in named.get(name, [])]

    passes = named.get("pass", [])
    calls = window_rec.get("calls", 0)
    failed_calls = sum(1 for s in wspans if not s["ok"] and s["name"] != "pass")
    e2e, detail = {}, {}
    session_s = (meta.get("session_ready_ms", launched) - launched) / 1000.0
    reps = setup.get("reps_ms", [0.0])
    e2e["setup_s"] = session_s + statistics.median(reps) / 1000.0 + \
        setup.get("warmup_ms", 0.0) / 1000.0
    detail["setup"] = {"session_s": session_s, "reps_ms": reps,
                       "warmup_ms": setup.get("warmup_ms")}
    wall_ms = window[1] - window[0]
    e2e["ops_per_s"] = calls / (wall_ms / 1000.0) if wall_ms > 0 else 0.0
    e2e["peak_rss_mb"] = jvm[-1]["rss_peak_mb"] if jvm else 0.0

    def med(name):
        d = durs(name)
        return statistics.median(d) if d else 0.0

    loads = durs("state.write")
    gets = durs("ops.ivf_search")
    lists = durs("state.list")
    e2e["maint_s"] = med("state.compact") / 1000.0
    e2e["wall_s"] = statistics.median([p["end"] - p["start"] for p in passes]) / 1000.0 \
        if passes else 0.0
    store_dir = work / f"rep{SETUP_REPS - 1}" / "store"
    state_bytes = sum(host.tree_bytes(p) for p in store_dir.glob("dedup/*.bstate"))
    corpus = by.get("corpus", [{}])[0].get("text_bytes", 0)
    e2e["write_amp"] = state_bytes / corpus if corpus else 0.0
    e2e["stored_mb"] = host.tree_bytes(store_dir) / 1048576.0
    rec = {}
    for r in by.get("recall", []):
        rec.update({f"dedup.{k}": v for k, v in r.get("dedup", {}).items()})
        rec.update({f"ann.{k}": v for k, v in r.get("ann", {}).items()})
    dd = [v for k, v in rec.items() if k.startswith("dedup.")]
    aa = [v for k, v in rec.items() if k.startswith("ann.")]
    e2e["dedup_recall"] = statistics.mean(dd) if dd else 0.0
    e2e["ann_recall_at_10"] = statistics.mean(aa) if aa else 0.0
    detail["recall"] = rec
    for kind, xs in (("load", loads), ("get", gets), ("list", lists)):
        s = stats.summary(xs)
        detail[f"{kind}_latency_ms"] = s
        e2e[f"{kind}_p50_ms"] = s.get("p50", 0.0)
    e2e["load_p95_ms"] = stats.percentile(loads, 95) if loads else 0.0
    e2e["get_p95_ms"] = stats.percentile(gets, 95) if gets else 0.0
    detail["tables_at_end"] = host.table_census(store_dir)
    detail["passes"] = len(passes)
    checks = checks + [check_query(q) for q in by.get("query", [])]
    detail["checks"] = checks
    detail["meta"] = meta
    detail["host_cpu_busy"] = ((busy1 - busy0) / (total1 - total0)) if total1 > total0 else None

    layer = {}
    if args.trace:
        jobs = by.get("job", [])
        plans = by.get("plan", [])
        layer.update(stats.spark_layer(jobs, plans, window, len(passes), meta.get("cpus", 1)))
        for op in CURATION_OPS:
            r = stats.op_rollup(named.get(f"ops.{op}", []), jobs)
            layer[f"ops.{op}.ms"] = r["ms"]
            layer[f"ops.{op}.jobs"] = r["jobs"]
            layer[f"ops.{op}.driver_ms"] = r["driver_ms"]
            detail.setdefault("ops", {})[f"ops.{op}"] = r
        for q in QUERIES:
            r = stats.op_rollup([s for s in spans if s["name"] == f"query.{q}"], jobs)
            layer[f"query.{q}.ms"] = r["ms"]
            layer[f"query.{q}.jobs"] = r["jobs"]
            layer[f"query.{q}.driver_ms"] = r["driver_ms"]
            detail.setdefault("ops", {})[f"query.{q}"] = r
        for p in by.get("precision", []):
            layer[f"ops.{p['op']}.candidate_precision"] = \
                p["verified"] / p["candidates"] if p["candidates"] else 0.0
        layer["state.write.ms"] = med("state.write")
        layer["state.compact.ms"] = med("state.compact")
        layer["state.files_live"] = sum(
            1 for p in store_dir.glob("dedup/*.bstate/**/*") if p.is_file())
        for k in by.get("kernel", []):
            layer[f"kernel.{k['name']}.ns_per_row"] = k["ns_per_row"]
        if len(jvm) >= 2:
            layer["jvm.gc_ms"] = (jvm[1]["gc_ms"] - jvm[0]["gc_ms"]) / max(len(passes), 1)
            layer["jvm.heap_peak_mb"] = jvm[1]["heap_peak_mb"]
        detail["accounting"] = stats.accounting(
            [s for s in wspans if s["name"] != "pass"], jobs, window)
    ok = not errors and bool(checks) and all(c["ok"] for c in checks)
    # An error that stopped the run outside the window still fails an op.
    failed = failed_calls + (1 if errors and not failed_calls else 0)
    return {"ok": ok, "errors": errors, "attempted": max(calls, failed, 1), "failed": failed,
            "e2e": e2e, "layer": layer, "detail": detail}


def check_query(rec):
    """A lifecycle query's result against its oracle SQL in DuckDB, over the
    same input tables, with the comparison rules of scripts/check.py: columns
    by name, rows sorted by every column, exact cells, no integer/float or
    object/number type drift."""
    import duckdb
    sys.path.insert(0, str(ROOT / "scripts"))
    import check
    what = f"{rec['name']} matches its oracle SQL"
    if not rec.get("oracle"):
        return {"what": what, "ok": False, "detail": "no oracle SQL"}
    try:
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{rec['tables']}/{t}.parquet/*.parquet'")
        a = check.canon(con.sql(f"SELECT * FROM '{rec['result']}/*.parquet'").df())
        b = check.canon(con.sql(rec["oracle"]).df())
        con.close()
    except Exception as e:  # an oracle that cannot run is a failed check
        return {"what": what, "ok": False, "detail": str(e)[:300]}
    if list(a.columns) != list(b.columns):
        return {"what": what, "ok": False, "detail": f"columns {list(a.columns)} "
                f"against {list(b.columns)}"}
    num = {"i", "u", "f"}
    drift = [c for c in a.columns if str(a[c].dtype) != str(b[c].dtype) and (
        (a[c].dtype.kind in num and b[c].dtype.kind in num) or
        ("O" in (a[c].dtype.kind, b[c].dtype.kind) and
         (a[c].dtype.kind in num or b[c].dtype.kind in num)))]
    if drift or len(a) != len(b):
        return {"what": what, "ok": False,
                "detail": f"type drift {drift}, {len(a)} rows against {len(b)}"}
    av, bv = a.to_numpy(dtype=object), b.to_numpy(dtype=object)
    bad = [(i, a.columns[j], av[i, j], bv[i, j]) for i in range(len(a))
           for j in range(len(a.columns)) if not check.cells_equal(av[i, j], bv[i, j])]
    return {"what": what, "ok": not bad,
            "detail": f"{len(a)} rows, {len(bad)} cells differ {bad[:3]}"}


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        log(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala)")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        return 2
    WORK.mkdir(parents=True, exist_ok=True)
    cp, opts = build()
    work = WORK / "runs" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    facts = host.host_facts(HEAP)
    steal0 = host.proc_cpu_jiffies(steal=True)
    t0 = time.time()
    try:
        if args.workload == "sdk_http":
            res = sdk_http.run(args, cp, opts, work, java_cmd)
        else:
            res = run_curation(args, cp, opts, work)
    except Exception as e:  # a run that could not finish reports itself failed
        res = {"ok": False, "errors": [f"{type(e).__name__}: {e}"], "attempted": 1,
               "failed": 1, "e2e": {}, "layer": {}, "detail": {}}
    facts_after = host.host_facts(HEAP)
    steal1 = host.proc_cpu_jiffies(steal=True)
    facts_after["cpu_steal_share_during_run"] = \
        (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]) if steal1[1] > steal0[1] else None
    names = per_layer_names() if args.trace else list(END_TO_END)
    source = res["layer"] if args.trace else res["e2e"]
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": unit_of(n)} for n in names}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "elapsed_s": time.time() - t0, "correct": res["ok"],
              "errors": res["errors"], "attempted": res["attempted"], "failed": res["failed"],
              "end_to_end": res["e2e"], "per_layer": res["layer"], "detail": res["detail"],
              "host_before": facts, "host_after": facts_after,
              "conf_source": "graft.Graft.singleJvmScaleConfs" if args.workload != "sdk_http"
              else "graft.server.Serve as shipped (its own builder)"}
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    (results / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    for e in res["errors"]:
        log("error:", e[:2000])
    for c in res["detail"].get("checks", []):
        if not c["ok"]:
            log("check failed:", c)
    print(json.dumps({"correct": res["ok"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
