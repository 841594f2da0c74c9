"""sdk_http: the reference product path, over HTTP.

Starts `graft.server.Serve` as shipped (its own session builder, so what a
deployment gets) and drives it with the repository's unmodified
`clients/python/pandas_db_client.py` from one Python process: a closed loop
of min(4, nproc) clients, each sending its next request when the previous
one returns. The traced run uses one client, so every Spark job the server
runs falls inside exactly one request.

Each client works in rounds of ten requests in a fixed order: seven GETs
(three `use_last`, two `external_key`, two accumulate), two uploads (one
`keep_last`, one accumulating) and one list. Tables are picked with a
Zipf-skewed rank over recency, so recently written tables are hot.
Requests on one table are serialized client-side (a per-table lock), as
one writer per table would do, so a GET never races the upload that
retires its version. The seed makes the uploaded frames; the request
schedule is fixed, so every seed carries the same load.
"""

import importlib.util
import os
import pathlib
import random
import socket
import statistics
import subprocess
import threading
import time

import host
import stats

TABLES = 16
ROUND = ["get_last"] * 3 + ["get_key"] * 2 + ["get_all"] * 2 + \
    ["upload_keep", "upload_acc", "list"]
ZIPF_S = 1.0
# Upload sizes cycle through this ladder; every upload spans DAYS days.
SIZES = (1000, 2500, 5000, 10000)
SEED_ROWS = 1000
DAYS = 20
POOL = 6
PROBE_LISTS = 30
PROBE_UPLOADS = 6
SETUP_REPS = 3
CHECK_TABLES = 4


def load_client(root):
    spec = importlib.util.spec_from_file_location(
        "pandas_db_client", root / "clients" / "python" / "pandas_db_client.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_frame(rng, rows, version):
    """A Date-keyed frame over DAYS consecutive days: `date` (ISO day),
    `id`, `value`, `tag`. The seed picks the days and the values."""
    import pandas as pd
    start = pd.Timestamp("2015-01-01") + pd.Timedelta(days=rng.randrange(0, 3000))
    days = [(start + pd.Timedelta(days=d)).strftime("%Y-%m-%d") for d in range(DAYS)]
    return pd.DataFrame({
        "date": [days[rng.randrange(DAYS)] for _ in range(rows)],
        "id": list(range(rows)),
        "value": [round(rng.uniform(-1e4, 1e4), 3) for _ in range(rows)],
        "tag": [f"{version}-{rng.randrange(100)}" for _ in range(rows)],
    })


def frame_pool(seed):
    """Frames for every upload of the run, POOL per size, made in setup so
    that building them does not hold the client process's GIL inside the
    window. Seeding uses the 1k-row frames."""
    rng = random.Random(seed)
    return {rows: [make_frame(rng, rows, f"s{rows}-{k}") for k in range(POOL)]
            for rows in SIZES}


def json_bytes(df):
    return len(df.to_json(orient="records").encode())


class Tables:
    """The client side's record of what each table should hold."""

    def __init__(self):
        self.names = [f"sdk/t{i:02d}" for i in range(TABLES)]
        self.locks = {n: threading.Lock() for n in self.names}
        self.versions = {n: [] for n in self.names}   # [(label, frame)] oldest first
        self.recency = list(self.names)                # most recently written first
        self.mu = threading.Lock()
        self.counter = 0
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(TABLES)]
        total = sum(weights)
        self.cdf = []
        acc = 0.0
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def pick(self, rng):
        u = rng.random()
        with self.mu:
            for rank, c in enumerate(self.cdf):
                if u <= c:
                    return self.recency[rank]
            return self.recency[-1]

    def label(self):
        with self.mu:
            self.counter += 1
            return f"v{self.counter:07d}"

    def wrote(self, name, label, frame, keep_last):
        with self.mu:
            if keep_last:
                self.versions[name] = [(label, frame)]
            else:
                self.versions[name].append((label, frame))
            self.recency.remove(name)
            self.recency.insert(0, name)


def free_port(rng):
    """A loopback port below the kernel's ephemeral range, so the ports the
    server's own Spark session binds while it starts cannot take it."""
    while True:
        port = rng.randrange(20000, 32000)
        with socket.socket() as s:
            try:
                s.bind(("127.0.0.1", port))
                return port
            except OSError:
                continue


def start_server(cp, opts, work, java_cmd, traced, attempts=3):
    """Start Serve and wait until it listens. A start that exits early (its
    port taken meanwhile by another process) is retried on another port."""
    rng = random.Random()
    for attempt in range(attempts):
        try:
            return _start_server(cp, opts, work, java_cmd, traced, free_port(rng))
        except RuntimeError:
            if attempt == attempts - 1:
                raise


def _start_server(cp, opts, work, java_cmd, traced, port):
    store = work / "store"
    extra = []
    if traced:
        extra = ["-Dspark.extraListeners=perfbench.JobTrace",
                 "-Dspark.sql.queryExecutionListeners=perfbench.PlanTrace",
                 f"-Dperfbench.trace.out={work / 'server-trace.jsonl'}"]
    cmd = java_cmd(cp, opts, work, "graft.server.Serve", [str(store), str(port)], extra)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    log = open(work / "server.log", "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, cwd=work,
                            text=True)
    ready = threading.Event()

    def pump():
        for line in proc.stdout:
            log.write(line)
            log.flush()
            if "[serve] listening" in line:
                ready.set()

    threading.Thread(target=pump, daemon=True).start()
    deadline = time.time() + 90
    while not ready.is_set():
        if proc.poll() is not None or time.time() > deadline:
            stop_server(proc)
            raise RuntimeError("graft.server.Serve did not start; see server.log")
        ready.wait(0.05)
    return proc, port, store, log


def stop_server(proc):
    if proc.poll() is None:
        proc.terminate()   # SIGTERM: the JVM runs its shutdown hooks (trace dump)
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, cp, opts, work, java_cmd):
    client_mod = load_client(pathlib.Path(__file__).resolve().parent.parent)
    clients = 1 if args.trace else min(4, os.cpu_count() or 1)
    launched = time.time() * 1000.0
    proc, port, store_dir, server_log = start_server(cp, opts, work, java_cmd, args.trace)
    url = f"http://127.0.0.1:{port}"
    tables = Tables()
    table_bytes = {}
    records = []        # (kind, start_ms, end_ms, ok, table, extra)
    rec_mu = threading.Lock()
    errors = []
    try:
        pool = frame_pool(args.seed)
        pool_bytes = {id(f): json_bytes(f) for fs in pool.values() for f in fs}
        ready_ms = time.time() * 1000.0

        def request(client, kind, name, crng, drng, record=True):
            """One SDK call; returns (succeeded, latency in ms). `crng` shapes
            the request (size, version picked), `drng` makes the frame."""
            extra = {}
            lock = tables.locks[name] if name else None
            if lock:
                lock.acquire()
            try:
                t0 = time.time() * 1000.0
                ok = True
                try:
                    if kind.startswith("upload"):
                        keep = kind == "upload_keep"
                        label = tables.label()
                        rows = SEED_ROWS if not record else SIZES[crng.randrange(len(SIZES))]
                        frame = pool[rows][drng.randrange(POOL)]
                        before = host.files_under(store_dir / name)
                        t0 = time.time() * 1000.0
                        client.load_dataframe(frame, name, columns_keys={"date": "Date"},
                                              external_key=label, keep_last=keep)
                        t1 = time.time() * 1000.0
                        tables.wrote(name, label, frame, keep)
                        after = host.files_under(store_dir / name)
                        table_bytes[name] = sum(after.values())
                        extra = {"rows": len(frame), "bytes_in": pool_bytes[id(frame)],
                                 "bytes_written": sum(v for k, v in after.items()
                                                      if k not in before),
                                 "store_bytes": sum(table_bytes.values()),
                                 "keep_last": keep}
                    elif kind == "list":
                        out = client.list_dataframes(prefix="sdk")
                        t1 = time.time() * 1000.0
                        extra = {"tables": len(out.get("dataframes", []))}
                    else:
                        vs = tables.versions[name]
                        if kind == "get_last":
                            df = client.get_dataframe(name, use_last=True)
                        elif kind == "get_key":
                            label = vs[crng.randrange(len(vs))][0]
                            df = client.get_dataframe(name, external_key=label)
                        else:
                            df = client.get_dataframe(name)
                        t1 = time.time() * 1000.0
                        extra = {"rows": len(df)}
                        if args.trace:
                            extra["bytes_out"] = json_bytes(df)
                except Exception as e:  # an error response or a refused connection
                    t1 = time.time() * 1000.0
                    ok = False
                    extra = {"error": str(e)[:500]}
                if record:
                    with rec_mu:
                        records.append((kind, t0, t1, ok, name, extra))
                return ok, t1 - t0
            finally:
                if lock:
                    lock.release()

        def parallel(fn, items):
            threads = [threading.Thread(target=fn, args=(i,)) for i in items]
            for t in threads:
                t.start()
            for t in threads:
                t.join()

        # Setup: seed every table with a 1k-row keep_last upload, three
        # times; the median repetition counts toward setup_s. Seeding
        # spreads the tables over the clients. Unrecorded requests (seeding,
        # warm-up) use 1k-row frames.
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.time()
            shards = [tables.names[i::clients] for i in range(clients)]

            def seed_shard(i, rep=rep):
                drng = random.Random(args.seed * 1000 + rep * 10 + i)
                client = client_mod.DataFrameClient(url, auth_token="bench")
                for name in shards[i]:
                    if not request(client, "upload_keep", name, drng, drng, record=False)[0]:
                        errors.append(f"seeding {name} failed")

            parallel(seed_shard, range(clients))
            reps.append((time.time() - t0) * 1000.0)
        if errors:
            raise RuntimeError("; ".join(errors))

        stop_at = [None]

        def client_loop(i, warm=False):
            # The request schedule (order, tables, sizes) is the same for
            # every seed, so runs on different seeds carry the same load;
            # the seed makes the data.
            crng = random.Random(7919 + i + (100 if warm else 0))
            drng = random.Random(args.seed * 7919 + i + (100 if warm else 0))
            client = client_mod.DataFrameClient(url, auth_token="bench")
            while True:
                # The warm-up sends each kind of read once; seeding has
                # already run the upload path.
                order = sorted(set(ROUND) - {"upload_keep", "upload_acc"}) if warm \
                    else list(ROUND)
                crng.shuffle(order)
                for kind in order:
                    if not warm and time.time() * 1000.0 >= stop_at[0]:
                        return
                    name = None if kind == "list" else tables.pick(crng)
                    request(client, kind, name, crng, drng, record=not warm)
                if warm:
                    return

        # Warm-up, unrecorded: one client sends each kind of read once.
        w0 = time.time()
        client_loop(0, warm=True)
        warm_ms = (time.time() - w0) * 1000.0

        # Probe, before the window, on the seeded store (16 tables of one
        # version): lists and keep_last re-uploads one at a time. The mix
        # holds too few of each (about 5 and 7 in a 10-s window) for a
        # steady median, and after the window the store's shape depends on
        # how far the loop got.
        # The first PROBE_LISTS lists are unrecorded: the list path has run
        # only once before, and its first calls still compile.
        probe = []
        pclient = client_mod.DataFrameClient(url, auth_token="bench")
        prng = random.Random(4242)
        for i in range(2 * PROBE_LISTS):
            t0 = time.time() * 1000.0
            pclient.list_dataframes(prefix="sdk")
            if i >= PROBE_LISTS:
                probe.append(("list", time.time() * 1000.0 - t0))
        for name in tables.recency[-PROBE_UPLOADS:]:
            ok, ms = request(pclient, "upload_keep", name, prng, prng, record=False)
            probe.append(("upload_keep", ms))
            if not ok:
                errors.append(f"probe upload to {name} failed")

        store_before = host.tree_bytes(store_dir)
        busy = host.proc_cpu_jiffies()
        window_start = time.time() * 1000.0
        stop_at[0] = window_start + args.seconds * 1000.0
        parallel(client_loop, range(clients))
        window_end = time.time() * 1000.0
        busy_end = host.proc_cpu_jiffies()

        # Output checks, outside the window: sampled tables read back three
        # ways must return exactly the rows uploaded.
        import pandas as pd
        checks = []
        crng = random.Random(args.seed + 17)

        def check_table(name):
            client = client_mod.DataFrameClient(url, auth_token="bench")
            vs = tables.versions[name]
            label, frame = vs[0]
            got = [check_frame(f"{name} use_last", vs[-1][1],
                               client.get_dataframe(name, use_last=True)),
                   check_frame(f"{name} external_key {label}", frame,
                               client.get_dataframe(name, external_key=label)),
                   check_frame(f"{name} accumulate ({len(vs)} versions)",
                               pd.concat([f for _, f in vs], ignore_index=True),
                               client.get_dataframe(name))]
            with rec_mu:
                checks.extend(got)

        parallel(lambda name: check_table(name), crng.sample(tables.names, CHECK_TABLES))
        client = client_mod.DataFrameClient(url, auth_token="bench")
        listed = {d["name"] for d in client.list_dataframes().get("dataframes", [])}
        checks.append({"what": "list names every table", "ok": set(tables.names) <= listed,
                       "detail": f"missing {sorted(set(tables.names) - listed)}"})
        census = host.table_census(store_dir)
        stored = host.tree_bytes(store_dir)
        rss = host.rss_peak_mb(proc.pid)
    finally:
        stop_server(proc)
        server_log.close()

    window = (window_start, window_end)
    loop = stats.closed_loop([(r[1], r[2], r[3]) for r in records], *window)
    win = [r for r in records if window_start <= r[1] < window_end]
    by_kind = {}
    for r in win:
        if r[3]:
            by_kind.setdefault(r[0], []).append(r)

    def lat(*kinds):
        return [r[2] - r[1] for k in kinds for r in by_kind.get(k, [])]

    loads, gets, lists = lat("upload_keep", "upload_acc"), \
        lat("get_last", "get_key", "get_all"), lat("list")
    uploaded = sum(r[5]["bytes_in"] for k in ("upload_keep", "upload_acc")
                   for r in by_kind.get(k, []))
    written = sum(r[5]["bytes_written"] for k in ("upload_keep", "upload_acc")
                  for r in by_kind.get(k, []))
    check_rate = sum(1 for c in checks if c["ok"]) / len(checks)
    store_samples = [r[5]["store_bytes"] for k in ("upload_keep", "upload_acc")
                     for r in by_kind.get(k, [])]
    e2e = {
        "setup_s": (ready_ms - launched) / 1000.0 + statistics.median(reps) / 1000.0 +
        warm_ms / 1000.0,
        "ops_per_s": loop["ops_per_s"],
        "load_p50_ms": statistics.median(loads) if loads else 0.0,
        "get_p50_ms": statistics.median(gets) if gets else 0.0,
        "list_p50_ms": statistics.median(p for k, p in probe if k == "list"),
        "load_p95_ms": stats.percentile(loads, 95) if loads else 0.0,
        "get_p95_ms": stats.percentile(gets, 95) if gets else 0.0,
        # keep_last uploads replace the table and retire its older versions:
        # the retention work the HTTP surface exposes.
        "maint_s": statistics.median(p for k, p in probe if k == "upload_keep") / 1000.0,
        # One client's pass through the ten-request mix at the measured rate.
        "wall_s": len(ROUND) * clients / loop["ops_per_s"] if loop["ops_per_s"] else 0.0,
        # Store size after each upload in the window, median: the state the
        # window ran against, not whichever instant it happened to end on.
        "stored_mb": statistics.median(store_samples) / 1048576.0 if store_samples
        else stored / 1048576.0,
        "write_amp": written / uploaded if uploaded else 0.0,
        "dedup_recall": check_rate,
        "ann_recall_at_10": check_rate,
        "peak_rss_mb": rss,
    }
    detail = {
        "clients": clients, "window_ms": window_end - window_start,
        "stored_mb_at_end": stored / 1048576.0,
        "setup": {"server_start_s": (ready_ms - launched) / 1000.0, "seed_reps_ms": reps,
                  "warmup_ms": warm_ms},
        "load_latency_ms": stats.summary(loads), "get_latency_ms": stats.summary(gets),
        "list_latency_ms": stats.summary(lists),
        "probe_ms": probe,
        "latency_by_kind_ms": {k: stats.summary(lat(k)) for k in set(ROUND)},
        "failed_frac": loop["failed_frac"],
        "checks": checks,
        "errors_in_window": [r[5] for r in win if not r[3]][:10],
        "tables_at_end": census, "stored_bytes_before_window": store_before,
        "host_cpu_busy": ((busy_end[0] - busy[0]) / (busy_end[1] - busy[1]))
        if busy_end[1] > busy[1] else None,
    }
    layer = {}
    if args.trace:
        recs = host.load_records(work / "server-trace.jsonl")
        jobs = [r for r in recs if r["kind"] == "job"]
        plans = [r for r in recs if r["kind"] == "plan"]
        jvm = [r for r in recs if r["kind"] == "jvm"]
        # A pass is one round of the mix: len(ROUND) requests.
        passes = max(len(win) / len(ROUND), 1)
        layer.update(stats.spark_layer(jobs, plans, window, passes, min(4, os.cpu_count() or 1)))
        kinds = {"upload": ("upload_keep", "upload_acc"), "get_last": ("get_last",),
                 "get_key": ("get_key",), "get_all": ("get_all",), "list": ("list",)}
        for op, ks in kinds.items():
            spans = [{"start": r[1], "end": r[2]} for k in ks for r in by_kind.get(k, [])]
            roll = stats.op_rollup(spans, jobs)
            layer[f"http.{op}.jobs"] = roll["jobs"]
            layer[f"http.{op}.job_ms"] = roll["job_ms"]
            layer[f"http.{op}.driver_ms"] = roll["driver_ms"]
            detail.setdefault("ops", {})[f"http.{op}"] = roll
        ups = [r[5] for k in kinds["upload"] for r in by_kind.get(k, [])]
        gts = [r[5] for k in ("get_last", "get_key", "get_all") for r in by_kind.get(k, [])]
        layer["http.upload.bytes_in_per_row"] = \
            sum(u["bytes_in"] for u in ups) / max(sum(u["rows"] for u in ups), 1)
        layer["http.get.bytes_out_per_row"] = \
            sum(g["bytes_out"] for g in gts) / max(sum(g["rows"] for g in gts), 1)
        if jvm:
            layer["jvm.gc_ms"] = jvm[-1]["gc_ms"]   # the server's whole life
            layer["jvm.heap_peak_mb"] = jvm[-1]["heap_peak_mb"]
        detail["accounting"] = stats.accounting(
            [{"start": r[1], "end": r[2]} for r in win], jobs, window)
        detail["note"] = ("traced run uses one client so each job falls inside one "
                          "request; its end_to_end numbers are the base for per_layer")
    ok = all(c["ok"] for c in checks) and loop["failed"] == 0 and not errors
    return {"ok": ok, "errors": errors, "attempted": max(loop["attempted"], 1),
            "failed": loop["failed"], "e2e": e2e, "layer": layer, "detail": detail}


def check_frame(what, want, got):
    """Rows round-trip: same ids, dates, values and tags, in any order."""
    try:
        cols = ["id", "date", "value", "tag"]
        g = got[cols].copy()
        g["date"] = g["date"].astype(str).str.slice(0, 10)
        w = want[cols].copy()
        key = ["tag", "id"]
        g = g.sort_values(key).reset_index(drop=True)
        w = w.sort_values(key).reset_index(drop=True)
        ok = (len(g) == len(w) and (g["id"].astype(int) == w["id"]).all()
              and (g["date"] == w["date"]).all() and (g["tag"] == w["tag"]).all()
              and ((g["value"].astype(float) - w["value"]).abs() <= 1e-9).all())
        return {"what": what, "ok": bool(ok), "detail": f"{len(w)} rows expected, {len(g)} got"}
    except Exception as e:  # a missing column is a failed check, not a crash
        return {"what": what, "ok": False, "detail": str(e)[:300]}
