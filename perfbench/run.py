"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 18 --trace 0

Starts one Spark session on ``local[<cores>]`` in a fresh temporary
directory inside the checkout (warehouse, landing zone, checkpoints and
``SPARK_LOCAL_DIRS``; removed at exit), loads the workload's seeded inputs,
warms up, checks correctness, then times operations for ``--seconds``.
Human-readable metrics with their sample counts go to stdout; the last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, holding the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
T_IMPORT = time.perf_counter()


def process_age() -> float:
    """Seconds since this process started (falls back to time since import)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T_IMPORT


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return math.nan


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every process it
    started (the JVM)."""
    tck = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = (int(fields[11]) + int(fields[12])) / tck
    me, total = os.getpid(), 0.0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += c
    return total


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, or None with fewer than eleven samples."""
    if len(values) < 11:
        return None
    ordered = sorted(values)
    k = len(ordered) - 11
    return ordered[k], 100.0 * (k + 1) / len(ordered)


def isolate_environment(run_dir: str, cores: int) -> None:
    """Pin the environment before the JVM starts: every temporary file of
    Spark, the JVM and Python lands in ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    os.environ.pop("PYSPARK_PIN_THREAD", None)  # job groups need the pinned-thread default
    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ metrics

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "query_p50_ms": "ms", "stored_bytes_per_landed_byte": "ratio"}
#: span-name prefixes of an operation's spans; ``bench`` is the benchmark's own code
LAYERS = ("bench", "sources", "catalog", "streaming", "operators", "catalyst", "spark", "verify", "llm")
UNITS = {"_per_landed_byte": "ratio", "bytes": "B", "_ms": "ms", "_s": "s", "_share": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    return [
        "session.start_s", "session.load_s",
        "operators.build_ms", "catalyst.plan_ms", "llm.quality_ms",
        "spark.jobs", "spark.jobs_ungrouped", "spark.stages", "spark.tasks",
        "spark.driver_residual_ms",
        "process.cpu_s", "jvm.compile_s", "jvm.gc_s",
        "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.busy_share",
        "io.input_bytes", "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
        "sources.discover_ms", "sources.json_ms", "sources.csv_lines_ms", "sources.xlsx_ms",
        "catalog.provenance_ms", "catalog.write_ms", "catalog.calls", "catalog.jobs",
        "catalog.files_written",
        "streaming.trigger_ms", "streaming.addBatch_ms", "streaming.queryPlanning_ms",
        "streaming.walCommit_ms", "streaming.commitOffsets_ms", "streaming.latestOffset_ms",
        "verify.query_ms",
        "storage.data_bytes", "storage.info_bytes", "storage.checkpoint_bytes", "storage.files",
        "storage.bytes_per_landed_byte",
        *[f"self.{layer}_ms" for layer in LAYERS],
        "trace.unaccounted_share", "trace.overhead_share", "trace.ops",
    ]


def op_layer_metrics(spans: list[dict], rec: dict, cores: int) -> dict:
    """Per-layer numbers of one traced operation; ``spans`` are its spans."""

    def total(prefix: str, key: str = "self") -> float:
        return sum(s[key] for s in spans if s["name"].startswith(prefix))

    c, wall = rec["counters"], rec["wall"]
    m = {
        "operators.build_ms": 1e3 * total("operators."),
        "catalyst.plan_ms": 1e3 * total("catalyst.plan", "dur"),
        "llm.quality_ms": 1e3 * total("llm.quality_scores"),
        "spark.jobs": c["jobs"],
        "spark.jobs_ungrouped": rec["ungrouped_jobs"],
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.driver_residual_ms": 1e3 * (wall - c["stage_s"]),
        "process.cpu_s": rec["jvm"]["cpu_s"],
        "jvm.compile_s": rec["jvm"]["compile_s"],
        "jvm.gc_s": rec["jvm"]["gc_s"],
        "executor.run_s": c["run_s"],
        "executor.cpu_s": c["cpu_s"],
        "executor.gc_s": c["gc_s"],
        "executor.busy_share": c["run_s"] / (wall * cores),
        "io.input_bytes": c["input_bytes"],
        "shuffle.read_bytes": c["shuffle_read_bytes"],
        "shuffle.write_bytes": c["shuffle_write_bytes"],
        "spill.bytes": c["spill_bytes"],
        "sources.discover_ms": 1e3 * total("sources.discover"),
        "sources.json_ms": 1e3 * total("sources.json"),
        "sources.csv_lines_ms": 1e3 * total("sources.csv_lines"),
        "sources.xlsx_ms": 1e3 * total("sources.xlsx"),
        "catalog.provenance_ms": 1e3 * (total("catalog.") - total("catalog.save_ingested")),
        "catalog.write_ms": 1e3 * total("catalog.save_ingested"),
        "catalog.calls": sum(1 for s in spans if s["name"].startswith("catalog.")),
        "catalog.jobs": rec["catalog_jobs"],
        "streaming.trigger_ms": 1e3 * total("streaming.trigger", "dur"),
        "verify.query_ms": 1e3 * total("verify.", "dur"),
        **{f"self.{layer}_ms": 1e3 * total(f"{layer}.") for layer in LAYERS},
        **rec["extra"],
    }
    m["trace.unaccounted_share"] = m["self.bench_ms"] / 1e3 / wall
    return m


def end_to_end(ops: list[dict], setup_s: float, setup_info: dict) -> dict[str, tuple[float, int]]:
    """name -> (value, sample count) over the untraced operations. Stored
    bytes per landed byte come from each cycle, or from the dashboard's load."""
    timed = [r for r in ops if not r["traced"]]
    walls = [r["wall"] for r in timed]
    queries = [q for r in timed for q in r["queries"]]
    stored = [r["extra"]["storage.bytes_per_landed_byte"] for r in timed
              if "storage.bytes_per_landed_byte" in r["extra"]]
    if not stored:
        stored = [setup_info["storage.bytes_per_landed_byte"]]
    return {
        "setup_s": (setup_s, 1),
        "op_p50_s": (statistics.median(walls), len(walls)),
        "query_p50_ms": (1e3 * statistics.median(queries), len(queries)),
        "stored_bytes_per_landed_byte": (statistics.median(stored), len(stored)),
    }


def end_to_end_lines(wl, ops: list[dict], e2e: dict, attempted: int, failed: int) -> list[str]:
    """The end-to-end metrics under the workload's own names, with tails."""
    timed = [r for r in ops if not r["traced"]]
    walls = [r["wall"] for r in timed]
    queries = [1e3 * q for r in timed for q in r["queries"]]
    op, query, items = wl.labels["op"], wl.labels["query"], wl.labels["items"]

    def row(name, key):
        value, n = e2e[key]
        return name, key, value, E2E_UNITS[key], n

    def tail_row(name, values, unit):
        t = tail(values)
        return name, "-", t[0] if t else math.nan, f"{unit} (p{t[1]:.0f})" if t else f"{unit} (n<11)", len(values)

    rows = [
        row("setup_s", "setup_s"),
        row(f"{op}_p50_s", "op_p50_s"),
        tail_row(f"{op}_tail_s", walls, "s"),
        row(f"{query}_p50_ms", "query_p50_ms"),
        tail_row(f"{query}_tail_ms", queries, "ms"),
        (f"{items}_per_s", "-", sum(r["items"] for r in timed) / sum(walls), "1/s", len(walls)),
        row("stored_bytes_per_landed_byte", "stored_bytes_per_landed_byte"),
        ("failed_ratio", "-", failed / attempted, "ratio", attempted),
    ]
    out = [f"# {wl.__class__.__name__}: end-to-end over untraced {wl.op_name}s (JSON name in brackets)"]
    for name, key, value, unit, n in rows:
        out.append(f"  {name:30s} [{key}] {fmt(value)} {unit}  n={n}")
    return out


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


# ---------------------------------------------------------------------- run


def timed_loop(args, wl, tracer, counters) -> list[dict]:
    """Operations until the next one would not finish within ``--seconds``,
    and at least the workload's ``min_ops``. The traced run makes at least
    two: even operations are traced and odd ones are not, which gives the
    tracing overhead."""
    ops: list[dict] = []
    min_ops = max(wl.min_ops, 2 if args.trace else 1)
    t_begin = time.perf_counter()
    i = 0
    while len(ops) < min_ops or (
        time.perf_counter() - t_begin + statistics.median(r["wall"] for r in ops) <= args.seconds
    ):
        traced = bool(args.trace) and i % 2 == 0
        if traced and not tracer.wrapped:
            tracer.counters = counters
            wl.wrap_layers(tracer)
        elif not traced and tracer.wrapped:
            tracer.unwrap_all()
            tracer.counters = None
        wl.prepare(i)
        tracer.op, tracer.groups_used = i, []
        tracer.set_group(f"op{i}")
        ungrouped = counters.ungrouped_job_ids() if traced else set()
        t0 = time.time()
        jvm0 = {**counters.jvm_times(), "cpu_s": tree_cpu_s()} if traced else None
        try:
            with tracer.span("bench.op") as sp:
                out = wl.op(i)
        except Exception:  # noqa: BLE001 - count the failure, keep measuring
            log(traceback.format_exc())
            out = workloads.Outcome(ok=False, items=0)
        t1 = time.time()
        jvm1 = {**counters.jvm_times(), "cpu_s": tree_cpu_s()} if traced else None
        tracer.set_group(None)
        tracer.op = None
        rec = {"i": i, "traced": traced, "wall": sp["end"] - sp["start"], "ok": out.ok,
               "items": out.items, "queries": out.queries, "extra": wl.after(i)}
        if traced:
            groups = tracer.groups_used + wl.job_groups()
            stray = sorted(counters.ungrouped_job_ids() - ungrouped)
            rec["counters"] = counters.read(counters.job_ids(groups) + stray, t0, t1)
            rec["catalog_jobs"] = len(counters.job_ids([g for g in groups if g.endswith(".catalog")]))
            rec["ungrouped_jobs"] = len(stray)
            rec["jvm"] = {k: v - jvm0[k] for k, v in jvm1.items()}
        ops.append(rec)
        log(f"perfbench: {wl.op_name} {i} {'traced ' if traced else ''}{rec['wall']:.3f} s")
        i += 1
    tracer.unwrap_all()
    return ops


def run(args, run_dir: str, cores: int) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    from datalake_local_spark.session import configure, get_spark

    tracer = tracing.Tracer()
    with tracer.span("session.start"):
        spark = get_spark(
            f"perfbench-{args.workload}", cpus=str(cores), warehouse_dir=os.path.join(run_dir, "warehouse")
        )
        configure(spark)
    try:
        ctx = workloads.Ctx(spark=spark, run_dir=run_dir, seed=args.seed, smoke=args.smoke,
                            tracer=tracer, log=log)
        wl = workloads.WORKLOADS[args.workload](ctx)
        log(f"perfbench: session up at {process_age():.2f} s")
        setup_info = wl.setup()
        log(f"perfbench: inputs loaded at {process_age():.2f} s")
        attempted, failed = wl.warmup()
        setup_s = process_age()
        log(f"perfbench: warm at {setup_s:.2f} s ({attempted} operations, {failed} failed)")
        counters = tracing.SparkCounters(spark) if args.trace else None
        steal_before = steal_s()
        ops = timed_loop(args, wl, tracer, counters)
        steal_timed = steal_s() - steal_before
    finally:
        stop_spark(spark)

    attempted += len(ops)
    failed += sum(not r["ok"] for r in ops)
    spans = tracer.self_times()
    e2e = end_to_end(ops, setup_s, setup_info)
    lines = end_to_end_lines(wl, ops, e2e, attempted, failed)
    # a diagnostic, not a metric: time the hypervisor took from the machine
    # (all cores) while operations were timed explains many slow runs
    lines.append(f"# host steal during the timed {wl.op_name}s: {steal_timed:.2f} s")
    if not args.trace:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _n) in e2e.items()}
    else:
        traced_ops = [r for r in ops if r["traced"]]
        for r in traced_ops:
            r["layers"] = op_layer_metrics([s for s in spans if s["op"] == r["i"]], r, cores)
        whole_run = {
            "session.start_s": sum(s["dur"] for s in spans if s["name"] == "session.start"),
            "session.load_s": sum(s["dur"] for s in spans if s["name"] == "session.load"),
            "trace.overhead_share": statistics.median(r["wall"] for r in traced_ops)
            / statistics.median(r["wall"] for r in ops if not r["traced"]) - 1,
            "trace.ops": len(traced_ops),
            **setup_info,
        }
        metrics = {}
        lines.append(f"# {args.workload}: per-layer, median over {len(traced_ops)} traced {wl.op_name}s")
        for name in per_layer_names():
            if name in whole_run:
                value, n = whole_run[name], 1
            else:
                value, n = statistics.median(r["layers"].get(name, 0) for r in traced_ops), len(traced_ops)
            metrics[name] = {"value": value, "unit": unit_of(name)}
            lines.append(f"  {name:38s} {fmt(value)} {unit_of(name)}  n={n}")
    for line in lines:
        print(line)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    report = {"workload": args.workload, "seed": args.seed, "cores": cores, "setup_s": setup_s,
              "setup": setup_info, "ops": ops, "spans": spans, "metrics": metrics}
    return result, report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="minimal inputs (sf0.001, tiny drops)")
    p.add_argument("--dump", help="write spans and per-operation records as JSON to this file")
    args = p.parse_args(argv)
    # on SIGTERM unwind normally, so the JVM is stopped and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "datalake_local_spark")):
        log(f"perfbench: no engine package next to {HERE}; run from a full checkout")
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    try:
        isolate_environment(run_dir, cores)
        result, report = run(args, run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.dump:
        with open(args.dump, "w") as f:
            json.dump(report, f, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
