#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_cold --seed 3 --seconds 20 --trace 0

Builds the program and the benchmark (cached), writes the synthetic tables
(cached), launches one JVM directly on the compiled classes and the Spark
jars, checks every output (DuckDB oracle for the catalog, generator ledger
for the stream) and prints two lines: the run record, then the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end metrics of BENCHMARK.json with --trace 0
and its per-layer metrics with --trace 1. perfbench/NOTE.md says what each
workload and metric is. --smoke runs on the smallest tables and a short
stream, for the benchmark's own test.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import datagen  # noqa: E402

SF, SMOKE_SF = 0.01, 0.001
# Phase-1 offered rate (events/s) and phase-2 backlog size, fixed with the
# workload so every run offers the same load. The rate is about a quarter of
# the phase-2 drain rate on a 4-core host (12,000-14,000 events/s): about
# 0.7 s of fixed work per micro-batch keeps phase-1 latency near 1.3 s at
# this rate or at half the drain rate, and the warm-up and events the run
# generates cost run time in proportion to the rate (perfbench/NOTE.md).
EVENT_RATE, EVENT_BACKLOG = 3000.0, 40000
SMOKE_RATE, SMOKE_BACKLOG = 100.0, 500
WORKLOADS = ("catalog_cold", "catalog_warm", "event_route")
MODULES = ("RelationalQueries", "TextAnalysis", "Dedup", "Similarity",
           "Multimodal", "Curation", "Graph")
JVM_BUDGET_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def parse_args(argv):
    p = argparse.ArgumentParser(allow_abbrev=False, description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args(argv)
    if a.seed < 0 or a.seconds < 1:
        p.error("--seed must be >= 0 and --seconds >= 1")
    return a


# ---------------------------------------------------------------- host

def loadavg():
    f = Path("/proc/loadavg").read_text().split()
    return float(f[0]), float(f[2])


def steal_s():
    """Host steal time of all CPUs, from the `cpu` line of /proc/stat."""
    fields = Path("/proc/stat").read_text().splitlines()[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def throttled_s():
    """CFS throttled time of this cgroup (v2 or v1), or 0 if unlimited."""
    for path, key, scale in (("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1e6),
                             ("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1e9),
                             ("/sys/fs/cgroup/cpu,cpuacct/cpu.stat", "throttled_time", 1e9)):
        try:
            for line in Path(path).read_text().splitlines():
                k, v = line.split()
                if k == key:
                    return int(v) / scale
        except OSError:
            continue
    return 0.0


def cores():
    return len(os.sched_getaffinity(0))


def heap_size():
    """-Xmx by the tier-1 formula: half of RAM in GiB, clamped to 2..8."""
    kb = next(int(l.split()[1]) for l in Path("/proc/meminfo").read_text().splitlines()
              if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Percentile, linearly interpolated between order statistics."""
    return statistics.quantiles(xs, n=100, method="inclusive")[round(p * 100) - 1]


def latencies_ms(rec):
    """Per-operation latencies: events in phase 1, or timed queries."""
    if rec["workload"] == "event_route":
        return [x for x in rec["event_latency_ms"] if x is not None]
    return [q["wall_s"] * 1e3 for q in rec["queries"]]


def end_to_end(rec):
    lat = latencies_ms(rec)
    if rec["workload"] == "event_route":
        tail, ops = pct(lat, 0.99), rec["events_per_s"]
    else:
        tail, ops = pct(lat, 0.9), len(lat) / rec["sweep_s"]
    return {"setup_s": rec["setup_s"], "sweep_s": rec["sweep_s"],
            "lat_gm_ms": statistics.geometric_mean(lat), "tail_ms": tail, "ops_per_s": ops,
            "cpu_s": rec["cpu_s"], "peak_rss_mb": rec["peak_rss_mb"]}


def named_metrics(rec):
    """The medians and percentiles under their per-workload names, for the
    record (the end-to-end set prints one name per meaning on every
    workload)."""
    lat = latencies_ms(rec)
    if rec["workload"] == "event_route":
        return {"event_p50_ms": statistics.median(lat), "event_p99_ms": pct(lat, 0.99),
                "events_per_s": rec["events_per_s"]}
    return {"query_p50_s": statistics.median(lat) / 1e3, "query_p90_s": pct(lat, 0.9) / 1e3}


def per_layer(rec, host):
    m = {}
    qs = rec.get("queries", [])
    for mod in MODULES:
        mine = [q for q in qs if q["module"] == mod]
        m[f"{mod}.lambda_s"] = sum(q["lambda_s"] for q in mine)
        m[f"{mod}.action_s"] = sum(q["action_s"] for q in mine)
        m[f"{mod}.compile_s"] = sum(t["compile_s"] for t in rec.get("trace_queries", [])
                                    if t["module"] == mod)
        m[f"{mod}.queries"] = len(mine)
    m.update(rec["layers"])
    m["jvm.gc_s"] = rec["gc_s"]
    stream = rec.get("stream", {})
    for k in ("spark.streaming.batches", "spark.streaming.rows_per_batch",
              "spark.streaming.trigger_ms_p50", "spark.streaming.planning_ms_p50",
              "spark.streaming.backlog_end", "RouteRegistry.process_ms_p50",
              "RouteRegistry.overhead_ms_p50", "RouteRegistry.routed_ratio",
              "RouteRegistry.dlq_events", "Emitter.emit_ms", "Emitter.emitted", "gen.late_p99_ms"):
        m[k] = stream.get(k, 0)
    m.update({k: host[k] for k in ("host.load_1_start", "host.load_15_start",
                                   "host.steal_s", "host.throttled_s")})
    m["trace.sweep_s"] = rec["sweep_s"]
    m["catalog.residual_s"] = sum(q["action_residual_s"] for q in rec.get("trace_queries", []))
    return m


def declared(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def shape(metrics, trace):
    """Attach units; a metric the benchmark does not declare, or a declared
    one not computed, is a bug in the benchmark and stops the run."""
    units = declared(trace)
    if set(metrics) != set(units):
        raise SystemExit(f"metric names differ from BENCHMARK.json: unknown "
                         f"{sorted(set(metrics) - set(units))}, missing {sorted(set(units) - set(metrics))}")
    return {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}


# ---------------------------------------------------------------- run

def check_catalog(rec, data_dir, bdir):
    from oracle import Oracle
    oracle = Oracle(data_dir, bdir / "oracle_cache")
    failed, failures = 0, {}
    for q in rec["queries"]:
        why = q["error"] or oracle.check(rec["oracle_sql"].get(q["name"]), Path(q["result"]))
        if why:
            failed += 1
            failures[q["name"]] = why
    return len(rec["queries"]), failed, failures


def main(argv):
    a = parse_args(argv)
    t_start = time.time()
    bdir = build.build_dir()
    classpath = build.build()
    sf = SMOKE_SF if a.smoke else SF
    gen_hash = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:12]
    data_dir = bdir / "data" / f"sf{sf}-{gen_hash}"
    if not data_dir.exists():
        tmp = data_dir.with_name(f"{data_dir.name}.tmp{os.getpid()}")
        datagen.write(tmp, sf)
        try:
            tmp.rename(data_dir)
        except OSError:  # a concurrent run wrote the same tables first
            shutil.rmtree(tmp)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}"
    run_dir = bdir / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    rate, backlog = (SMOKE_RATE, SMOKE_BACKLOG) if a.smoke else (EVENT_RATE, EVENT_BACKLOG)

    l1, l15 = loadavg()
    steal0, thr0 = steal_s(), throttled_s()
    cmd = ([build.java()] + ADD_OPENS +
           [f"-Xms{heap_size()}", f"-Xmx{heap_size()}", "-Xmn1g",
            "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=20",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath,
            "perfbench.Main", f"workload={a.workload}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"data={data_dir}", f"out={run_dir}",
            f"cores={cores()}", f"rate={rate}", f"backlog={backlog}"])
    log = open(run_dir / "jvm.log", "w")
    cmd.append(f"launch_ms={int(time.time() * 1000)}")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
    # a terminated run takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=JVM_BUDGET_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + f"\nrun: JVM exited with {code}; log in {run_dir}\n")
        return 1
    host = {"host.load_1_start": l1, "host.load_15_start": l15,
            "host.steal_s": steal_s() - steal0, "host.throttled_s": throttled_s() - thr0}
    rec = json.loads((run_dir / "jvm.json").read_text())

    if rec["workload"] == "event_route":
        attempted, failed = rec["attempted"], rec["failed"]
        failures = {c: "wrong deliveries" for c in rec["failed_classes"]}
    else:
        attempted, failed, failures = check_catalog(rec, data_dir, bdir)
    metrics = shape(per_layer(rec, host) if a.trace else end_to_end(rec), a.trace)

    summary = {k: v for k, v in rec.items()
               if k not in ("queries", "oracle_sql", "event_latency_ms", "trace_queries")}
    summary.update(host)
    summary.update({"seed": a.seed, "seconds": a.seconds, "trace": a.trace, "smoke": a.smoke,
                    "sf": sf, "cores": cores(), "error_rate": failed / attempted,
                    **named_metrics(rec),
                    "failures": failures, "metrics": {k: v["value"] for k, v in metrics.items()},
                    "wall_total_s": time.time() - t_start})
    if "queries" in rec:
        summary["query_wall_s"] = [[q["name"], q["wall_s"]] for q in rec["queries"]]
    records = bdir / "records"
    records.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (records / f"{tag}-{stamp}-{os.getpid()}.json").write_text(json.dumps(summary))
    if a.trace:
        traces = bdir / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copy(run_dir / "trace.json", traces / f"{tag}-{stamp}-{os.getpid()}.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"record": summary}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
