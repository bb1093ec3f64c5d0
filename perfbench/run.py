"""Closed-loop lakehouse benchmark: one client, one ``local[nproc]`` session.

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; the run times whole units of ops (a query round, a pipeline
cycle, one stream increment) until ``--seconds`` have passed, checks the
outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every layer call is
traced and the metrics are the per-layer ones (see README.md).

A full record of the run (environment, inputs, per-op latencies, layer
summary and, when traced, every span) is written under ``--out``
(default ``.perfbench/results``); ``perfbench/compare.py`` diffs two sets
of records. Everything the run writes stays under ``.perfbench/`` in the
current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")


def _process_start() -> float:
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process and every live descendant (the
    driver JVM and its Python workers), including reaped children."""
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
        stack += _children(pid)
    return total / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_probe_s() -> float:
    """Fixed single-thread work; its time tracks host contention."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def host_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_counters(spark) -> dict:
    """Cumulative GC and JIT time of the driver JVM, in seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "gc_count": sum(b.getCollectionCount() for b in mf.getGarbageCollectorMXBeans()),
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
    }


def timed_phase_env(spark, ticks0: list[int], jvm0: dict) -> dict:
    """What the host and the JVM did during the timed phase: the host's
    steal and idle shares, and the JVM's GC and JIT time."""
    d = [b - a for a, b in zip(ticks0, host_ticks())]
    jvm1 = jvm_counters(spark)
    return {"host_steal_share": d[7] / max(1, sum(d)), "host_idle_share": d[3] / max(1, sum(d)),
            **{k: jvm1[k] - jvm0[k] for k in jvm1}}


def pin_environment(work: str) -> None:
    nproc = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = nproc
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the engine's knob for short AvailableNow runs: one state store per core
    os.environ.setdefault("WBL_STREAM_SHUFFLE_PARTITIONS", nproc)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def environment(spark) -> dict:
    conf = spark.sparkContext.getConf()
    keys = ["spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold"]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": spark.version,
        "conf": {k: spark.conf.get(k, conf.get(k)) for k in keys},
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith(("SPARK_GRAFT_", "WBL_"))},
    }


def hook(op, name: str, failures: list[str]) -> None:
    """Run an op's untimed ``before``/``after`` check hook, if it has one."""
    fn = getattr(op, name, None)
    if fn is None:
        return
    try:
        fn()
    except Exception:  # noqa: BLE001 — counted, reported
        failures.append(f"{name} hook: {traceback.format_exc()}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_totals(spans: list[dict], op_id: int) -> dict:
    """Spark totals over the layer calls of one op."""
    tot: dict = {}
    for s in spans:
        if s["parent"] == op_id and "spark" in s:
            for k, v in s["spark"].items():
                tot[k] = tot.get(k, 0) + v
    return tot


def layer_summary(spans: list[dict], ops: list[dict]) -> dict:
    """Per-op medians, over the timed ops, of each named layer call's time
    (``<layer>.<call>_s``), of each layer's Spark totals
    (``<layer>.jobs_per_op`` and so on) and of the streaming progress
    split."""
    timed = {o["span"] for o in ops}
    calls: dict[str, dict[int, float]] = {}
    spark: dict[str, dict[int, float]] = {}
    progress: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] not in timed or "layer" not in s:
            continue
        op = s["parent"]
        calls.setdefault(f"{s['name']}_s", {}).setdefault(op, 0.0)
        calls[f"{s['name']}_s"][op] += s["wall_s"]
        for k, new in (("jobs_per_op", "jobs"), ("driver_gap_s", "driver_gap_s"),
                       ("executor_cpu_s", "executor_cpu_s"),
                       ("executor_run_s", "executor_run_s")):
            key = f"{s['layer']}.{k}"
            spark.setdefault(key, {}).setdefault(op, 0.0)
            spark[key][op] += s.get("spark", {}).get(new, 0)
        progress.setdefault(op, []).extend(s.get("progress", []))
    out = {k: median(list(v.values())) for k, v in sorted({**calls, **spark}.items())}
    if any(progress.values()):
        def dur(ps, *names):
            return sum(p["duration_ms"].get(n, 0) for p in ps for n in names) / 1e3
        trig = {op: dur(ps, "triggerExecution") for op, ps in progress.items()}
        out["streaming.trigger_s"] = median(list(trig.values()))
        out["streaming.add_batch_s"] = median([dur(ps, "addBatch") for ps in progress.values()])
        out["streaming.commit_s"] = median(
            [dur(ps, "walCommit", "commitOffsets") for ps in progress.values()])
        out["streaming.start_stop_s"] = median(
            [sum(calls[k].get(op, 0.0) for k in calls) - trig[op] for op in trig])
        out["streaming.batches_per_op"] = median([len(ps) for ps in progress.values()])
        out["streaming.input_rows"] = median(
            [sum(p["input_rows"] for p in ps) for ps in progress.values()])
        out["streaming.state_rows"] = median(
            [max([p["state_rows"] for p in ps] or [0]) for ps in progress.values()])
    return out


def timed_phase(wl, tracer, seconds: float, traced: bool) -> tuple[list[dict], int]:
    """Run whole units of ops until ``seconds`` have passed; returns the op
    records and the number of units."""
    ops: list[dict] = []
    start, units = time.perf_counter(), 0
    for unit in wl.units():
        for name, op in unit:
            hook(op, "before", wl.failures)
            files0 = sum(dir_bytes(d)[1] for d in wl.stored_dirs) if traced else 0
            collect0, cpu0 = tracer.collect_s, tree_cpu_s()
            t_op = time.perf_counter()
            with tracer.span(f"op.{name}", op=name) as rec:
                error = None
                try:
                    op()
                except Exception as exc:  # noqa: BLE001 — counted, reported
                    error = repr(exc)
                    wl.failures.append(f"{name}: {traceback.format_exc()}")
            wall = time.perf_counter() - t_op
            cpu1 = tree_cpu_s()
            collect = tracer.collect_s - collect0
            files1 = sum(dir_bytes(d)[1] for d in wl.stored_dirs) if traced else 0
            ops.append({
                "name": name, "unit": units, "span": rec["id"], "error": error,
                "latency_s": wall - collect, "collect_s": collect, "cpu_s": cpu1 - cpu0,
                "files_written": files1 - files0,
            })
            hook(op, "after", wl.failures)
        units += 1
        if time.perf_counter() - start >= seconds and units >= wl.min_units:
            return ops, units
    return ops, units


def typical_unit(ops: list[dict], value) -> tuple[float, float]:
    """(ops per unit, ``value`` of a typical unit): each op name's median
    ``value`` over the timed ops, times how often the name occurs per
    unit. Medians keep one op hit by a host stall from moving the figure."""
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(value(o))
    units = len({o["unit"] for o in ops}) or 1
    return len(ops) / units, sum(len(v) / units * median(v) for v in by_name.values())


def per_layer_metrics(wl, tracer, ops, build_s, warmup_s, stored, peak_rss_mb) -> dict:
    tot = [op_totals(tracer.spans, o["span"]) for o in ops]

    def med(key):
        return median([t.get(key, 0) for t in tot])

    lat = sum(o["latency_s"] for o in ops)
    collect = sum(o["collect_s"] for o in ops)
    return {
        "session.build_s": (build_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "spark.jobs_per_op": (med("jobs"), "count"),
        "spark.stages_per_op": (med("stages"), "count"),
        "spark.tasks_per_op": (med("tasks"), "count"),
        "spark.sql_executions_per_op": (med("sql_executions"), "count"),
        "spark.driver_gap_s": (med("driver_gap_s"), "s"),
        "spark.executor_cpu_s": (med("executor_cpu_s"), "s"),
        "spark.executor_run_s": (med("executor_run_s"), "s"),
        "spark.shuffle_bytes": (med("shuffle_bytes"), "B"),
        "spark.spill_bytes": (med("spill_bytes"), "B"),
        "io.scan_bytes": (med("scan_bytes"), "B"),
        "io.scan_files": (med("scan_files"), "count"),
        "io.write_bytes": (med("output_bytes"), "B"),
        "io.write_files": (median([o["files_written"] for o in ops]), "count"),
        "io.stored_bytes_per_input_byte": (stored / max(1, wl.input_bytes), "ratio"),
        "process.peak_rss_mb": (peak_rss_mb, "MB"),
        "trace.collect_s_per_op": (collect / max(1, len(ops)), "s"),
        "trace.overhead_share": (collect / (collect + lat) if ops else 0.0, "ratio"),
    }


def jobs_by_entry(tracer, ops) -> dict[str, list[int]]:
    """Distinct job counts per op name across the run's reps."""
    seen: dict[str, set] = {}
    for o in ops:
        seen.setdefault(o["name"], set()).add(op_totals(tracer.spans, o["span"]).get("jobs", 0))
    return {k: sorted(v) for k, v in seen.items()}


def main() -> int:
    t_process = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(STATE, "results"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", run_id)
    pin_environment(work)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    load_start, probe_start = os.getloadavg()[0], cpu_probe_s()

    t0 = time.perf_counter()
    from weather_bigquery_lakehouse_spark.session import build_session

    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                + workload.jvm_options,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    tracer = tracing.Tracer(spark, run_id, enabled=bool(args.trace))
    try:
        wl = workload(spark, tracer, os.path.join(work, "data"), args.seed)
        with tracer.span("run", workload=args.workload, seed=args.seed):
            with tracer.span("setup"):
                inputs = wl.setup()
            t_warm = time.perf_counter()
            with tracer.span("warm"):
                try:
                    warm_ops = wl.warm()
                except Exception:  # noqa: BLE001 — counted, reported
                    wl.failures.append(f"warm pass: {traceback.format_exc()}")
                    warm_ops = 1
            warmup_s = time.perf_counter() - t_warm
            setup_s = time.time() - t_process
            ticks0, jvm0 = host_ticks(), jvm_counters(spark)
            ops, units = timed_phase(wl, tracer, args.seconds, bool(args.trace))
            timed_env = timed_phase_env(spark, ticks0, jvm0)
            try:
                wl.check()
            except Exception:  # noqa: BLE001 — counted, reported
                wl.failures.append(f"check: {traceback.format_exc()}")
        stored = sum(dir_bytes(d)[0] for d in wl.stored_dirs)
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        env = environment(spark)
    finally:
        if tracer.streams is not None:
            tracer.streams.close()
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    env.update(load_1min_start=load_start, load_1min_end=os.getloadavg()[0],
               cpu_probe_start_s=probe_start, cpu_probe_end_s=cpu_probe_s())

    lat = [o["latency_s"] for o in ops]
    per_unit, unit_s = typical_unit(ops, lambda o: o["latency_s"])
    _, unit_wall_s = typical_unit(ops, lambda o: o["latency_s"] + o["collect_s"])
    _, unit_cpu_s = typical_unit(ops, lambda o: o["cpu_s"])
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (per_unit / unit_s if ops else 0.0, "1/s"),
        "cpu_s_per_op": (unit_cpu_s / per_unit if ops else 0.0, "s"),
    }
    layers: dict = {}
    if args.trace:
        metrics = per_layer_metrics(wl, tracer, ops, build_s, warmup_s, stored, peak_rss_mb)
        layers = layer_summary(tracer.spans, ops)
        layers["jobs_per_op_by_entry"] = jobs_by_entry(tracer, ops)
        if wl.min_units > 1:
            # a silent memo hit shows up as a changed job count between reps
            for name, counts in sorted(layers["jobs_per_op_by_entry"].items()):
                if len(counts) > 1:
                    wl.failures.append(f"{name}: jobs per op differ between reps {counts}")
    else:
        metrics = end_to_end
    attempted = len(ops) + warm_ops
    failed = min(len(wl.failures), attempted)
    result = {
        "correct": not wl.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "environment": env,
        "inputs": inputs, "input_bytes": wl.input_bytes, "stored_bytes": stored,
        "units": units, "timed_phase": timed_env, "result": result,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        "ops_per_s_wall": per_unit / unit_wall_s if ops else 0.0,
        "ops_per_s_mean": len(ops) / sum(lat) if lat else 0.0,
        "op_p50_s": median(lat),
        "peak_rss_mb": peak_rss_mb,
        "failed_ops_ratio": failed / attempted,
        "layers": layers, "failures": wl.failures, "ops": ops,
        "spans": tracer.spans if args.trace else [],
    }
    if args.trace:
        self_t = tracing.self_times(tracer.spans)
        by_name: dict[str, float] = {}
        for s in tracer.spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + self_t[s["id"]]
        record["self_time_s"] = by_name

    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"{run_id}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    if declared != list(metrics):
        print(f"metrics {list(metrics)} do not match BENCHMARK.json {declared}",
              file=sys.stderr)
        return 3
    for msg in wl.failures:
        print(f"FAILED {msg}")
    print(f"record {os.path.relpath(path, ROOT)}")
    if layers:
        print(json.dumps({"layers": layers}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
