#!/usr/bin/env python3
"""End-to-end warehouse benchmark: journal -> sync -> tables -> HTTP edge.

    python3 e2ebench/run.py --workload journal_sync --seed 1 --seconds 12 --trace 0

Builds the program from source (e2ebench/build.py), generates a seeded
journal, starts the harness JVM with the repo's run settings, drives it
from this process, checks every table and response against the ledger,
and prints one JSON line last. See e2ebench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import load  # noqa: E402
import mix  # noqa: E402
import stats  # noqa: E402
import layers  # noqa: E402
from journal import Journal  # noqa: E402
from jvm import Jvm, cpus, driver_mem, jvm_flags  # noqa: E402

# Sizes for a 4-core machine; see README.md for why each was chosen.
SIZES = {
    "journal_sync": dict(tenants=3, accounts=40, tx=600, passes=2, delta_tx=12, rotations=2),
    "serve_mix": dict(tenants=3, accounts=40, tx=600, warmup_s=24),
}
END_TO_END = ("setup_s", "op_mean_ms", "ops_per_s", "store_bytes_ratio")


def machine_context():
    def first(path, prefix=""):
        try:
            with open(path) as f:
                return next((l.strip() for l in f if l.startswith(prefix)), "")
        except OSError:
            return ""
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True).stderr
    jars = build.spark_jars()
    spark = next((j[len("spark-core_2.13-"):-4] for j in os.listdir(jars)
                  if j.startswith("spark-core_2.13-")), "")
    return {"nproc": os.cpu_count(), "mem_total": first("/proc/meminfo", "MemTotal:"),
            "loadavg_start": first("/proc/loadavg"), "java": java.splitlines()[0] if java else "",
            "spark": spark, "master": f"local[{cpus()}]", "driver_mem": driver_mem(),
            "jvm_flags": jvm_flags("<run>/tmp")}


def cpu_ticks():
    """The machine's CPU time counters from /proc/stat (the 8th is steal)."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks if len(ticks) == 8 else None


class Run:
    """One benchmark run: its directory, journal, harness and tallies."""

    def __init__(self, args, sizes):
        self.args, self.sizes = args, sizes
        self.dir = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.journal_dir = os.path.join(self.dir, "journal")
        self.wh = os.path.join(self.dir, "warehouse")
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.detail = {}
        self.jvm = None
        self.port = None
        self.passes = []

    def tally(self, err, what):
        self.attempted += 1
        if err:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {err}")

    def start_jvm(self, classes):
        self.jvm = Jvm(classes, build.spark_jars(), self.journal_dir, self.wh, self.dir,
                       self.args.trace == 1)

    def sync(self):
        """One timed pass, recorded in `passes`; returns (seconds, stats).

        The pass gets a `MetricsEmitter.Recording`; its `discovery.transfer`
        count is kept with the pass.
        """
        res = self.jvm.call("sync")
        self.passes.append({"s": res["s"], "span": res["span"],
                            "discovery_transfer": recorded(res["metrics"], "discovery.transfer")})
        return res["s"], res["stats"]

    def check_tables(self, journal, what):
        """Compares the warehouse with the ledger; counts as one operation."""
        got = self.jvm.call("tables")
        want = journal.expected_tables()
        err = None
        for k in ("tenants", "accounts", "transfers", "marks"):
            if got[k] != want[k]:
                err = f"{k} differ: {str(got[k])[:200]} vs {str(want[k])[:200]}"
                break
        if err is None:
            gb = {k: Decimal(v) for k, v in got["balances"].items()}
            wb = {k: Decimal(v) for k, v in want["balances"].items()}
            if gb != wb:
                bad = sorted(k for k in set(gb) | set(wb) if gb.get(k) != wb.get(k))
                err = f"balances differ on {len(bad)} accounts, first {bad[:3]}"
        self.tally(err, what)

    def summarize(self, lat):
        """Records the operation count, median and the highest percentile it supports."""
        self.detail["op_samples"] = len(lat)
        self.detail["op_p50_ms"] = stats.median(lat)
        t = stats.tail_beyond(lat)
        if t:
            self.detail["op_tail_q"], self.detail["op_tail_ms"] = t

    def store_ratio(self, journal):
        wh_files, wh_bytes = dir_size(self.wh)
        self.detail["wh.files"], self.detail["wh.bytes"] = wh_files, wh_bytes
        mv = os.path.join(self.wh, "balances")
        self.detail["mv.versions"] = len([d for d in os.listdir(mv) if d.startswith("v")]) \
            if os.path.isdir(mv) else 0
        return wh_bytes / journal.bytes

    def close(self):
        if self.jvm:
            self.jvm.close()


def recorded(lines, aspect):
    """Sum of the statsd counts for `aspect` in a Recording's lines."""
    total = 0
    for line in lines:
        name, _, rest = line.partition(":")
        if name.endswith("." + aspect) and rest.endswith("|c"):
            total += int(rest[:-2])
    return total


def dir_size(path):
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def generate(run, seed):
    s = run.sizes
    j = Journal(run.journal_dir, seed, s["tenants"], s["accounts"])
    for _ in range(s["tx"]):
        j.transaction()
    return j


# ---- workloads ------------------------------------------------------------

def journal_sync(run, classes):
    """Set-up ends with the full pass. The operations are the incremental
    passes, each after a small delta, and the no-op pass after them."""
    s = run.sizes
    t0 = time.perf_counter()
    j = generate(run, run.args.seed)
    run.start_jvm(classes)
    t_jvm = time.perf_counter()
    full, _ = run.sync()
    setup = time.perf_counter() - t0
    run.check_tables(j, "full pass")
    # a pass lists and reads the whole journal, so its throughput is the
    # journal's files over its time
    incr, files = [], 0
    for p in range(s["passes"]):
        j.delta(s["delta_tx"], s["rotations"])
        secs, _ = run.sync()
        run.check_tables(j, f"incremental pass {p + 1}")
        incr.append(secs)
        files += j.files
    noop, st = run.sync()
    run.check_tables(j, "no-op pass")
    files += j.files
    run.tally(None if st == [0, 0, 0] else f"no-op pass found {st}", "no-op counters")
    ops = [x * 1000 for x in incr + [noop]]
    run.detail.update(setup_jvm_s=t_jvm - t0, sync_full_s=full, sync_incr_s=stats.median(incr),
                      sync_noop_s=noop, journal_files=j.files, journal_bytes=j.bytes)
    run.summarize(ops)
    return j, {"setup_s": setup, "op_mean_ms": stats.mean(ops),
               "ops_per_s": files / (sum(incr) + noop), "store_bytes_ratio": run.store_ratio(j)}


def serve_mix(run, classes):
    """A closed loop of nproc clients over the seeded mix."""
    s = run.sizes
    t0 = time.perf_counter()
    j = generate(run, run.args.seed)
    run.start_jvm(classes)
    t_jvm = time.perf_counter()
    run.detail["setup_sync_s"] = run.sync()[0]
    run.check_tables(j, "setup pass")
    port = run.port = run.jvm.call("edge_start")["port"]
    view = mix.View(j, j.tenants)
    clients = int(cpus())
    seed = run.args.seed

    def mixes(draws):
        return [mix.Mix(view, draws, lane=i, lanes=clients, popularity=seed)
                for i in range(clients)]
    # warm-up: the same load and hot keys, until JIT and codegen settle
    tw = time.perf_counter()
    load.closed_loop(run, mixes(seed * 1000 + 500), port, s["warmup_s"])
    setup = time.perf_counter() - t0
    run.detail.update(setup_jvm_s=t_jvm - t0, setup_warmup_s=setup - (tw - t0))
    t1, t1w = time.perf_counter(), time.time()
    done = load.closed_loop(run, mixes(seed * 1000), port, run.args.seconds)
    elapsed = time.perf_counter() - t1
    lat = [d["ms"] for d in done if d["ok"]]
    run.detail["routes"] = load.route_stats(done)
    run.detail["requests"] = [(round(d["start"] / 1000 - t1w, 3), d["route"], round(d["ms"], 1))
                              for d in done]
    run.summarize(lat)
    return j, {"setup_s": setup, "op_mean_ms": stats.mean(lat), "ops_per_s": len(lat) / elapsed,
               "store_bytes_ratio": run.store_ratio(j)}


WORKLOADS = {"journal_sync": journal_sync, "serve_mix": serve_mix}


# ---- main -------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    context = machine_context()
    cpu0 = cpu_ticks()
    run = Run(args, SIZES[args.workload])
    t0 = time.perf_counter()
    try:
        journal, metrics = WORKLOADS[args.workload](run, classes)
        if args.trace:
            metrics = layers.traced(run, journal, metrics)
        jvm_info = run.jvm.call("jvm")
        run.detail["jvm.gc_s"] = jvm_info["gc_ms"] / 1000
        run.detail["jvm.heap_peak_mb"] = jvm_info["heap_peak_bytes"] / 2 ** 20
    finally:
        run.close()
    run.detail["run_s"] = time.perf_counter() - t0
    # the share of CPU time the host gave to other guests during the run
    cpu1 = cpu_ticks()
    if cpu0 and cpu1:
        context["cpu_steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    run.detail["passes"] = run.passes
    missing = [k for k, v in metrics.items() if v is None]
    for k in missing:
        run.tally("not measured (too few samples)", k)

    names = layers.PER_LAYER if args.trace else END_TO_END
    units = layers.UNITS
    result = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "context": context, "metrics": metrics, "detail": run.detail,
              "errors": run.errors, "attempted": run.attempted, "failed": run.failed}
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
    if args.trace and os.path.exists(untraced):
        # tracing overhead: the traced run's end-to-end numbers minus the untraced ones
        with open(untraced) as f:
            base = json.load(f)["metrics"]
        traced = run.detail["traced_end_to_end"]
        run.detail["trace_overhead"] = {k: traced[k] - base[k] for k in END_TO_END
                                        if traced.get(k) is not None and base.get(k) is not None}
    out = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(run.dir, ignore_errors=True)

    for e in run.errors:
        print("error:", e)
    print(f"error_ratio {run.failed / max(1, run.attempted):.6f} ratio "
          f"({run.failed} of {run.attempted} operations)")
    for k, v in sorted(run.detail.items()):
        if isinstance(v, (int, float)):
            print(f"detail {k} {v:.6g}")
    for k, v in run.detail.get("trace_overhead", {}).items():
        print(f"trace_overhead {k} {v:+.6g} {units[k]}")
    for k in names:
        if metrics.get(k) is not None:
            print(f"{k} {metrics[k]:.6g} {units[k]}")
    print(f"result file {os.path.relpath(out, build.ROOT)}")
    print(json.dumps({
        "correct": run.failed == 0, "attempted": max(1, run.attempted), "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in names if metrics.get(k) is not None}}))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
