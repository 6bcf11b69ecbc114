"""The traced run: layer probes, listener records, and per-layer metrics.

With `--trace 1` the harness registers a SparkListener, a
QueryExecutionListener and a StreamingQueryListener, and tags the jobs
each layer call starts with that call's span. After the workload, the
traced run probes the layers the workload did not reach, so every
per-layer metric is measured on every workload:

  * the four `sources.Journal` readers on the workload's journal;
  * a single-client replay over the HTTP edge, ten requests a route,
    after a `refresh()` so that plan-cache growth shows every miss;
  * an in-process `GraphQL.parse` / `GraphQLExecutor` replay;
  * two ingest cycles: a delta, `sync`, then `refresh()`;
  * `JournalStream` pre-draining a small journal of its own into its own
    directory, then taking open-loop files.

The harness writes its spans and listener records at the end; this
module joins them to the spans and request windows it recorded.
"""

import http.client
import json
import os
import time

import load
import mix
import stats
from journal import Journal

ROUTES = mix.ROUTES
REPLAY_PER_ROUTE = 5
GQL_DOCS = 5
INGEST_CYCLES, INGEST_TX = 2, 10
STREAM_ACCOUNTS, STREAM_BACKLOG = 20, 100
STREAM_RATE, STREAM_FILES, STREAM_TRIGGER_MS = 5, 15, 1000

UNITS = {
    "setup_s": "s", "op_mean_ms": "ms", "ops_per_s": "1/s",
    "store_bytes_ratio": "ratio",
    "journal.read_s": "s", "journal.files": "count", "journal.tasks": "count",
    "journal.input_bytes": "bytes",
    "sync.passes": "count", "sync.jobs": "count", "sync.stages": "count",
    "sync.tasks": "count", "sync.self_s": "s", "sync.exec_run_s": "s",
    "sync.exec_cpu_s": "s", "sync.gc_s": "s",
    "sync.shuffle_bytes": "bytes", "sync.spill_bytes": "bytes", "sync.rows_read": "count",
    "sync.files_written": "count", "sync.bytes_written": "bytes", "sync.plan_ms": "ms",
    "sync.useful_ratio": "ratio",
    "mv.publish_s": "s", "mv.versions": "count", "wh.files": "count", "wh.bytes": "bytes",
    "edge.plan_cache_hit_ratio": "ratio", "edge.overhead_ms": "ms", "edge.refresh_ms": "ms",
    "req.analysis_ms": "ms", "req.optimization_ms": "ms", "req.planning_ms": "ms",
    "req.exec_ms": "ms", "req.jobs": "count", "req.tasks": "count", "req.files_read": "count",
    "req.input_bytes": "bytes", "mv.rewrite_ratio": "ratio",
    "gql.parse_ms": "ms", "gql.compile_ms": "ms", "gql.render_ms": "ms",
    "ingest.cycle_s": "s",
    "stream.batches": "count", "stream.rows_per_batch": "count",
    "stream.latest_offset_ms": "ms", "stream.get_batch_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.trigger_ms": "ms", "stream.commit_p50_ms": "ms",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
}
for _r in ROUTES:
    UNITS[f"route.{_r}.p50_ms"] = "ms"
    UNITS[f"route.{_r}.count"] = "count"
PER_LAYER = tuple(k for k in UNITS if "." in k)

# the exact work counters the compare tool holds to "must not rise"
EXACT = ("sync.jobs", "sync.stages", "sync.tasks", "sync.files_written", "sync.rows_read",
         "wh.files")

STREAM_KEYS = {"latestOffset": "stream.latest_offset_ms", "getBatch": "stream.get_batch_ms",
               "addBatch": "stream.add_batch_ms", "walCommit": "stream.wal_commit_ms",
               "commitOffsets": "stream.commit_offsets_ms",
               "queryPlanning": "stream.query_planning_ms",
               "triggerExecution": "stream.trigger_ms"}


class Records:
    """The harness's spans and listener records, indexed for joins."""

    def __init__(self, lines):
        self.jobs, self.stages, self.job_end = [], {}, {}
        self.exec_start, self.exec_end, self.qe, self.stream = {}, {}, {}, []
        by_identity, exec_of = {}, {}
        for r in lines:
            k = r["kind"]
            if k == "job":
                self.jobs.append(r)
            elif k == "job_end":
                self.job_end[r["job"]] = r["time"]
            elif k == "stage":
                self.stages[r["stage"]] = r
            elif k == "exec_start":
                self.exec_start[r["exec"]] = r["time"]
            elif k == "exec_end":
                self.exec_end[r["exec"]] = r["time"]
                if r["qe"] is not None:
                    exec_of[r["qe"]] = r["exec"]
            elif k == "qe":
                by_identity[r["qe"]] = r
            elif k == "stream":
                self.stream.append(r)
        for ident, r in by_identity.items():
            if ident in exec_of:
                self.qe[exec_of[ident]] = r

    def jobs_of_spans(self, ids):
        tags = {f"e2e-span-{i}" for i in ids}
        return [j for j in self.jobs if tags & set(j["tags"])]

    def jobs_of_execs(self, execs):
        return [j for j in self.jobs if j["exec"] in execs]

    def work(self, jobs):
        """Summed stage counters of `jobs`, plus their executions' writes and plan time."""
        stage_ids = {s for j in jobs for s in j["stages"]}
        st = [self.stages[s] for s in stage_ids if s in self.stages]
        execs = {j["exec"] for j in jobs if j["exec"] is not None}
        qes = [self.qe[e] for e in execs if e in self.qe]
        writes = [w for q in qes for w in q["writes"]]
        return {
            "jobs": len(jobs), "stages": len(st), "tasks": sum(s["tasks"] for s in st),
            "exec_run_s": sum(s["run_ms"] for s in st) / 1e3,
            "exec_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in st),
            "spill_bytes": sum(s["spill_bytes"] for s in st),
            "input_bytes": sum(s["input_bytes"] for s in st),
            "rows_read": sum(s["records_read"] for s in st),
            "files_written": sum(w["files"] for w in writes),
            "bytes_written": sum(w["bytes"] for w in writes),
            "plan_ms": sum(sum(v for k, v in q["phases"].items() if k != "parsing") for q in qes),
            "busy_s": covered([(j["time"], self.job_end.get(j["job"], j["time"]))
                               for j in jobs]) / 1e3,
            "execs": execs,
        }

    def event_records(self, jobs):
        """Rows the event-file scans of `jobs`' executions produced.

        A scan inside a cached plan shows in every query that uses the
        cache, so each scan node counts once.
        """
        execs = {j["exec"] for j in jobs if j["exec"] is not None}
        rows = {}
        for e in execs:
            for s in self.qe[e]["rdd_scans"] if e in self.qe else ():
                if "/events/" in s["name"]:
                    rows[s["node"]] = max(rows.get(s["node"], 0), s["rows"])
        return sum(rows.values())

    def execs_between(self, start_ms, end_ms):
        return {e for e, t in self.exec_start.items() if start_ms <= t <= end_ms}


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def traced(run, journal, e2e):
    """Runs the probes and returns the per-layer metrics of this run."""
    jvm, seed = run.jvm, run.args.seed
    m = {}
    readers = jvm.call("journal_read")["readers"]

    port = run.port or jvm.call("edge_start")["port"]
    refresh_ms = [jvm.call("refresh")["s"] * 1000]
    view = mix.View(journal, journal.tenants)

    # single-client replay: each request alone, so every job in its window is its own
    replay, mx = [], mix.Mix(view, seed * 1000 + 900)
    conn = http.client.HTTPConnection("localhost", port, timeout=120)
    for i in range(REPLAY_PER_ROUTE * len(ROUTES)):
        route, method, path, body, key = mx.next(ROUTES[i % len(ROUTES)])
        before = jvm.call("cached_plans")["n"]
        w0 = time.time() * 1000
        t0 = time.perf_counter()
        code, text = load.request(conn, method, path, body)
        ms = (time.perf_counter() - t0) * 1000
        err = mix.check(view, route, key, text) if code == 200 else f"HTTP {code}"
        run.tally(err, f"replay {route} {path}")
        grew = jvm.call("cached_plans")["n"] > before
        replay.append({"route": route, "ms": ms, "start": w0, "end": w0 + ms, "miss": grew})
    conn.close()

    docs = [mix.GQL_DOC % (journal.tenants[i % len(journal.tenants)], mix.GQL_PAGE, 10 * i)
            for i in range(GQL_DOCS)]
    gql = jvm.call("gql_replay", docs=docs)["docs"]

    ingest = ingest_probe(run, journal)
    refresh_ms += ingest["refresh_ms"]
    stream_info = stream_probe(run, seed)

    path = os.path.join(run.dir, "trace.jsonl")
    jvm.call("dump", path=path)
    with open(path) as f:
        rec = Records([json.loads(l) for l in f])

    # sources.Journal
    rspans = [r["span"] for r in readers]
    w = rec.work(rec.jobs_of_spans(rspans))
    m["journal.read_s"] = sum(r["s"] for r in readers)
    m["journal.files"] = w["rows_read"]
    m["journal.tasks"] = w["tasks"]
    m["journal.input_bytes"] = w["input_bytes"]

    # warehouse.Warehouse: every pass of the workload plus the ingest cycles
    per_pass = []
    for p in run.passes:
        jobs = rec.jobs_of_spans([p["span"]])
        pw = rec.work(jobs)
        pw.pop("execs")
        pw["event_records"] = rec.event_records(jobs)
        pw["s"] = p["s"]
        # the pass's self time: driver work outside its Spark jobs
        pw["self_s"] = max(0.0, p["s"] - pw.pop("busy_s"))
        per_pass.append(pw)
    run.detail["trace_passes"] = per_pass
    m["sync.passes"] = len(per_pass)
    for k in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_bytes",
              "spill_bytes", "rows_read", "files_written", "bytes_written", "plan_ms", "self_s"):
        m[f"sync.{k}"] = sum(p[k] for p in per_pass)
    # discovery.transfer over the records the passes read from event files
    useful = sum(p["discovery_transfer"] for p in run.passes)
    read = sum(p["event_records"] for p in per_pass)
    m["sync.useful_ratio"] = useful / read if read else None

    # operators.VersionedRoot: executions writing a balance MV version
    m["mv.publish_s"] = sum(q["duration_ns"] for q in rec.qe.values()
                            if any("/balances/v" in w["path"] for w in q["writes"])) / 1e9
    for k in ("mv.versions", "wh.files", "wh.bytes"):
        m[k] = run.detail[k]

    # api.HttpEdge and Catalyst, per replayed request
    per_req = []
    for r in replay:
        execs = rec.execs_between(r["start"], r["end"])
        jw = rec.work(rec.jobs_of_execs(execs))
        qes = [rec.qe[e] for e in execs if e in rec.qe]
        ph = lambda name: sum(q["phases"].get(name, 0) for q in qes)  # noqa: E731
        exec_ms = sum(rec.exec_end.get(e, rec.exec_start[e]) - rec.exec_start[e] for e in execs)
        scans = [s for q in qes for s in q["scans"]]
        per_req.append({"route": r["route"], "ms": r["ms"], "analysis": ph("analysis"),
                        "optimization": ph("optimization"), "planning": ph("planning"),
                        "exec": exec_ms, "jobs": jw["jobs"], "tasks": jw["tasks"],
                        "files": sum(s["files"] for s in scans),
                        "bytes": jw["input_bytes"],
                        "mv": any("/balances/v" in root for s in scans for root in s["roots"]),
                        "miss": r["miss"]})
    run.detail["trace_requests"] = per_req
    for r in ROUTES:
        ms = [p["ms"] for p in per_req if p["route"] == r]
        m[f"route.{r}.p50_ms"] = stats.median(ms)
        m[f"route.{r}.count"] = len(ms)
    rest = [p for p in per_req if p["route"] != "graphql"]
    m["edge.plan_cache_hit_ratio"] = sum(not p["miss"] for p in rest) / len(rest)
    m["edge.overhead_ms"] = stats.median([p["ms"] - p["exec"] for p in per_req])
    m["edge.refresh_ms"] = stats.median(refresh_ms)
    for k, f in (("analysis_ms", "analysis"), ("optimization_ms", "optimization"),
                 ("planning_ms", "planning"), ("exec_ms", "exec"), ("jobs", "jobs"),
                 ("tasks", "tasks"), ("files_read", "files"), ("input_bytes", "bytes")):
        m[f"req.{k}"] = stats.median([p[f] for p in per_req])
    bal = [p for p in per_req if p["route"] == "balances"]
    m["mv.rewrite_ratio"] = sum(p["mv"] for p in bal) / len(bal)

    # api.GraphQL and GraphQLExecutor
    m["gql.parse_ms"] = stats.median([d["parse_s"] * 1000 for d in gql])
    m["gql.compile_ms"] = stats.median([d["compile_s"] * 1000 for d in gql])
    m["gql.render_ms"] = stats.median([d["render_s"] * 1000 for d in gql])

    # the ingest loop
    m["ingest.cycle_s"] = stats.median(ingest["cycle_s"])

    # streaming.JournalStream: medians over micro-batches that took input
    run.detail["stream_batches"] = [(b["batch"], b["rows"], b["durations"].get("latestOffset"))
                                    for b in rec.stream]
    batches = [b for b in rec.stream if b["rows"] > 0]
    m["stream.batches"] = len(batches)
    m["stream.rows_per_batch"] = stats.median([b["rows"] for b in batches])
    for k, name in STREAM_KEYS.items():
        m[name] = stats.median([b["durations"].get(k, 0) for b in batches])
    m["stream.commit_p50_ms"] = stream_info["commit_p50_ms"]

    info = jvm.call("jvm")
    m["jvm.gc_s"] = info["gc_ms"] / 1000
    m["jvm.heap_peak_mb"] = info["heap_peak_bytes"] / 2 ** 20
    run.detail["traced_end_to_end"] = e2e
    run.detail["probe_stream"] = stream_info
    run.detail["probe_ingest"] = ingest
    return m


def ingest_probe(run, journal):
    """Delta -> sync -> refresh cycles on one tenant."""
    jvm = run.jvm
    cycles, refresh_ms = [], []
    for _ in range(INGEST_CYCLES):
        for _ in range(INGEST_TX):
            journal.transaction(journal.tenants[0])
        t0 = time.perf_counter()
        run.sync()
        refresh_ms.append(jvm.call("refresh")["s"] * 1000)
        cycles.append(time.perf_counter() - t0)
    run.check_tables(journal, "ingest probe")
    return {"cycle_s": cycles, "refresh_ms": refresh_ms}


def stream_probe(run, seed):
    """JournalStream pre-drains a small journal, then takes open-loop files."""
    jvm = run.jvm
    src = os.path.join(run.dir, "stream_journal")
    journal = Journal(src, seed + 7, 1, STREAM_ACCOUNTS)
    for _ in range(STREAM_BACKLOG):
        journal.transaction()
    journal.staged = True
    out = os.path.join(run.dir, "stream_wh")
    ckpt = os.path.join(run.dir, "stream_ckpt")
    jvm.call("stream_start", journal=src, warehouse=out, checkpoint=ckpt,
             trigger_ms=STREAM_TRIGGER_MS)
    committed, seen = {}, set()  # transaction -> commit wall time; batches read

    def poll():
        for b, t in commits(ckpt):
            if b not in seen:
                seen.add(b)
                for name in batch_files(ckpt, b):
                    committed[name] = t

    deadline = time.time() + 120
    while journal.next_tx > len(committed) and time.time() < deadline:
        time.sleep(0.1)
        poll()
    loop = load.OpenLoop(STREAM_RATE, lambda: journal.transaction()).start()
    while len(loop.done) < STREAM_FILES:
        time.sleep(0.05)
    loop.stop()
    names = {tx: due for tx, due in zip(loop.done, loop.due)}
    while not all(n in committed for n in names) and time.time() < deadline:
        time.sleep(0.05)
        poll()
    jvm.call("stream_stop")
    keys = jvm.call("transfer_keys", warehouse=out)["keys"]
    err = None if keys == sorted(journal.tx_keys) else \
        f"stream holds {len(keys)} transfers, ledger {len(journal.tx_keys)}"
    run.tally(err, "stream probe")
    lat = [(committed[n] - due) * 1000 for n, due in names.items() if n in committed]
    return {"commit_p50_ms": stats.median(lat), "files": len(names),
            "committed": len(lat), **loop.lateness()}


def commits(ckpt):
    """(batch id, commit wall time) of every committed micro-batch."""
    d = os.path.join(ckpt, "commits")
    out = []
    for n in os.listdir(d) if os.path.isdir(d) else []:
        if n.isdigit():
            out.append((int(n), os.stat(os.path.join(d, n)).st_mtime))
    return out


def batch_files(ckpt, batch):
    """Transaction ids the file source log assigns to `batch`."""
    d = os.path.join(ckpt, "sources", "0")
    for name in (str(batch), f"{batch}.compact"):
        p = os.path.join(d, name)
        if os.path.exists(p):
            with open(p) as f:
                entries = [json.loads(l) for l in f if l.startswith("{")]
            return [e["path"].rsplit("/", 1)[-1] for e in entries if e["batchId"] == batch]
    return []
