#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client runs a named workload on
`local[nproc]`, checks every result, and prints one JSON line.

    python3 perfbench/run.py --workload pipeline_sf01 --seed 1 --seconds 20 \
        --trace 0

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
workload with spans and Spark counters on and prints the per-layer
metrics. Both write a side file under `perfbench/_out/`. See
`perfbench/BENCHMARK.md` for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shlex
import shutil
import subprocess
import sys
import time
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "incubator_impala_spark"
# the declared metrics, their units and the order they are printed in
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Ctx:
    spark = None        # the program's SparkSession (get_spark)
    session = None      # what ops run against: a session or an Engine
    data_dir = ""
    warehouse = ""
    tracer = None
    counters = None


def isolate(work: str) -> None:
    """Keep every file the run writes inside its work directory, and
    put the checkout on the Python workers' path."""
    for sub in ("warehouse", "spark-local", "tmp", "nested"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # a 2 GB driver heap (the engine's own knob; its default is 8 GB)
    # keeps the run small; fixing the heap and young-generation sizes
    # below makes peak RSS follow the memory the program retains rather
    # than the collector's resizing decisions
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no JVM, the spark-submit launcher's included, writes hsperfdata
    # into the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # pyspark splits this variable with shlex
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m",
        "pyspark-shell"])
    sys.path.insert(0, ROOT)


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                for c in fh.read().split():
                    out += [int(c)] + _descendants(int(c))
    except OSError:
        pass
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM high-water RSS, this driver process's peak RSS), in MB."""
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024.0, py_kb / 1024.0


def warehouse_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                with contextlib.suppress(OSError):
                    out[p] = os.path.getsize(p)
    return out


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(path).metadata.num_rows
    except (OSError, ValueError):  # not a parquet file
        return 0


def run_op(ctx, workload, op, pass_no: int, op_no: int):
    from workloads import Result

    tracer = ctx.tracer
    span = tracer.span if tracer else (lambda _n: contextlib.nullcontext())
    workload.reset(ctx)
    stats = {}
    if tracer:
        group = f"perfbench-op-{op_no}"
        tracer.op_id = op_no
        ctx.counters.set_group(group)
        gc0 = ctx.counters.gc_ms()
        files0 = warehouse_files(ctx.warehouse)
    df, rows, error = None, [], None
    t0 = time.perf_counter()
    with span("op") as root:
        try:
            with span(workload.build_span):
                df = workload.build(ctx, op)
            if tracer:
                stats["build_jobs"] = len(ctx.counters.job_ids(group))
            with span("exec.collect"):
                rows = df.collect()
        except Exception as e:  # noqa: BLE001 - counted as failed
            error = f"{type(e).__name__}: {str(e)[:300]}"
    latency = time.perf_counter() - t0
    if tracer:
        tracer.op_id = None
        if df is not None:
            tracer.add_catalyst_spans(df, root)
            stats.update(ctx.counters.plan_stats(df))
        stats.update(ctx.counters.job_stats(group))
        stats["gc_s"] = (ctx.counters.gc_ms() - gc0) / 1000.0
        new = {p: s for p, s in warehouse_files(ctx.warehouse).items()
               if p not in files0}
        stats["files_written"] = len(new)
        stats["bytes_written"] = sum(new.values())
        stats["rows_written"] = sum(parquet_rows(p) for p in new)
        stats["result_rows"] = len(rows)
        stats["op_no"] = op_no
        ctx.spark.sparkContext.setJobGroup("perfbench-idle", "", False)
    columns = list(df.columns) if df is not None and not error else []
    return Result(op, pass_no, latency, columns, rows, error), stats


def run_pass(ctx, workload, ops, pass_no: int, first_op_no: int):
    out = []
    for i, op in enumerate(ops):
        out.append(run_op(ctx, workload, op, pass_no, first_op_no + i))
    return out


def op_stream(workload, seed: int):
    """(pass number, op, whether it ends its pass), pass after pass."""
    pass_no = 0
    while True:
        ops = workload.pass_ops(seed, pass_no)
        for i, op in enumerate(ops):
            yield pass_no, op, i == len(ops) - 1
        pass_no += 1


def layer_metrics(tracer, timed: list, latencies_by_kind: dict,
                  ops_per_s: float, declared: list[str]) -> dict[str, float]:
    """Per-op per-layer metrics over the timed ops of a traced run."""
    n = max(1, len(timed))
    op_ids = {st["op_no"] for _, st in timed}
    self_s = tracer.self_times(op_ids)
    calls = tracer.counts(op_ids)

    def total(key):
        return sum(st.get(key, 0) for _, st in timed)

    m = {
        "session.get_spark_s": tracer.setup_total("session.get_spark"),
        "session.configure_calls": calls.get("session.configure", 0) / n,
        "session.configure_s": self_s.get("session.configure", 0.0) / n,
        "sources.load_table_calls": calls.get("sources.load_table", 0) / n,
        "sources.load_table_s": self_s.get("sources.load_table", 0.0) / n,
        "sources.register_s": self_s.get("sources.register", 0.0) / n,
        "queries.build_s": self_s.get("queries.build", 0.0) / n,
        "queries.build_jobs": total("build_jobs") / n,
        "engine.sql_s": self_s.get("engine.sql", 0.0) / n,
        "dialect.translate_s": self_s.get("dialect.translate", 0.0) / n,
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = self_s.get(f"catalyst.{phase}", 0.0) / n
    m["exec.collect_s"] = self_s.get("exec.collect", 0.0) / n
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "gc_s",
                "reused_exchanges", "broadcast_joins", "result_rows"):
        m[f"exec.{key}"] = total(key) / n
    joined = [st for _, st in timed if st.get("max_join_rows", 0) > 0]
    m["exec.useful_row_ratio"] = (
        sum(st["result_rows"] for st in joined)
        / sum(st["max_join_rows"] for st in joined)) if joined else 0.0
    # every public operator is traced; `operators.total_s` sums them
    # all, and each operator declared as `operators.<fn>_s` is reported
    m["operators.total_s"] = sum(
        v for k, v in self_s.items() if k.startswith("operators.")) / n
    for name in declared:
        if name.startswith("operators.") and name != "operators.total_s":
            m[name] = self_s.get(name[:-len("_s")], 0.0) / n
    for key in ("python_nodes", "python_rows", "python_bytes"):
        m[f"functions.{key}"] = total(key) / n
    rows_w, bytes_w = total("rows_written"), total("bytes_written")
    m["sink.rows_written"] = rows_w / n
    m["sink.files_written"] = total("files_written") / n
    m["sink.bytes_written"] = bytes_w / n
    m["sink.bytes_per_row"] = bytes_w / rows_w if rows_w else 0.0
    m["read_p50_s"] = percentile(latencies_by_kind["read"], 50)
    m["write_p50_s"] = percentile(latencies_by_kind["write"], 50)
    # op wall time not covered by any child span of the op
    roots = [s for s in tracer.spans if s[2] == "op" and s[3] in op_ids]
    op_wall = sum(s[5] - s[4] for s in roots)
    m["trace.uncovered_s"] = self_s.get("op", 0.0) / n
    m["trace.covered_share"] = (
        1 - self_s.get("op", 0.0) / op_wall) if op_wall else 0.0
    m["trace.ops_per_s"] = ops_per_s
    return m


def run(args, workload, work: str, spec: dict) -> tuple[dict, dict]:
    load_start = os.getloadavg()
    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    # a child process, so this process's peak RSS is the program's own
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), data_dir,
         str(args.seed), str(workload.scale)],
        capture_output=True, text=True, check=True)
    rows = json.loads(gen.stdout)
    gen_s = time.perf_counter() - t
    isolate(work)

    # ---- program set-up: everything from here to the first timed op
    # except the benchmark's own checks
    t_boot = time.perf_counter()
    import importlib

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    importlib.import_module(f"{PKG}.queries")
    importlib.import_module(f"{PKG}.engine")
    nested = importlib.import_module(f"{PKG}.queries.nested_tpch")
    nested_root = os.path.join(work, "nested")
    caches_warm = {"nested": bool(os.listdir(nested_root))}
    nested._NESTED_CACHE_ROOT = nested_root
    session_mod = importlib.import_module(f"{PKG}.session")
    spark = session_mod.get_spark("perfbench", cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - t_boot
    try:
        result, side = measure(args, workload, spark, tracer, work,
                               boot_s, caches_warm, spec)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
    side.update(datagen_s=gen_s, generated_rows=rows, stop_s=stop_s,
                loadavg_start=load_start, loadavg_end=os.getloadavg())
    return result, side


def measure(args, workload, spark, tracer, work: str, boot_s: float,
            caches_warm: dict, spec: dict) -> tuple[dict, dict]:
    """Per-session set-up, warm pass, timed window, then the checks:
    the oracle gate on the warm pass and every timed result."""
    data_dir = os.path.join(work, "data")
    nested_root = os.path.join(work, "nested")
    ctx = Ctx()
    ctx.spark, ctx.data_dir, ctx.tracer = spark, data_dir, tracer
    ctx.warehouse = os.path.join(work, "warehouse")
    if tracer:
        from tracing import SparkCounters

        ctx.counters = SparkCounters(spark)
    t = time.perf_counter()
    ctx.session = workload.session_setup(spark, data_dir)
    session_s = time.perf_counter() - t

    op_no = 0
    warm_ops = workload.pass_ops(args.seed, -1)
    warm = run_pass(ctx, workload, warm_ops, -1, op_no)
    op_no += len(warm)
    warm_s = sum(r.latency_s for r, _ in warm)
    setup_s = boot_s + session_s + warm_s

    # ---- timed window: ops in each pass's seeded order until --seconds
    # have elapsed and at least one whole pass has run
    timed = []
    whole_pass = False
    t_window = time.perf_counter()
    for pass_no, op, last in op_stream(workload, args.seed):
        timed.append(run_op(ctx, workload, op, pass_no, op_no))
        op_no += 1
        whole_pass = whole_pass or last
        if whole_pass and time.perf_counter() - t_window >= args.seconds:
            break
    window_s = time.perf_counter() - t_window
    # read before the checks, which load DuckDB and pandas frames here
    jvm_mb, py_mb = peak_rss_mb(spark)

    t = time.perf_counter()
    gate_failures = workload.gate(ctx, [r for r, _ in warm])
    gate_s = time.perf_counter() - t
    t = time.perf_counter()
    failures = []
    for r, _ in timed:
        err = workload.verify(ctx, r)
        if err:
            failures.append(f"pass {r.pass_no} {r.op.label}: {err}")
    verify_s = time.perf_counter() - t
    lat = [r.latency_s for r, _ in timed]
    by_kind = {"read": [], "write": []}
    for r, _ in timed:
        by_kind[r.op.kind].append(r.latency_s)
    # ops per second of one pass of the mix with each op at its median
    # latency in the window: a burst of load from other tenants of the
    # host, or the window ending among fast or slow ops of a pass, moves
    # this less than ops / window_s (kept in the side file)
    by_label = defaultdict(list)
    for r, _ in timed:
        by_label[r.op.label].append(r.latency_s)
    per_pass = Counter(r.op.label for r, _ in timed if r.pass_no == 0)
    ops_per_s = sum(per_pass.values()) / sum(
        n * percentile(by_label[label], 50) for label, n in per_pass.items())
    caches_warm["nested_after_warm_pass"] = bool(os.listdir(nested_root))

    side = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": nproc(),
        "caches_warm_at_start": caches_warm,
        "boot_s": boot_s, "session_setup_s": session_s,
        "warm_pass_s": warm_s, "gate_s": gate_s, "window_s": window_s,
        "verify_s": verify_s, "passes_started": pass_no + 1,
        "window_ops_per_s": len(timed) / window_s,
        "jvm_peak_rss_mb": jvm_mb, "driver_peak_rss_mb": py_mb,
        "ops": len(timed), "samples": {"op": len(lat),
                                       "read": len(by_kind["read"]),
                                       "write": len(by_kind["write"])},
        "op_p90_s": percentile(lat, 90),
        "read_p50_s": percentile(by_kind["read"], 50),
        "write_p50_s": percentile(by_kind["write"], 50),
        "failed_ratio": (len(failures) / len(timed)) if timed else 1.0,
        "gate_failures": gate_failures, "failures": failures[:50],
        "op_latencies": [[r.pass_no, r.op.label, r.latency_s]
                         for r, _ in warm + timed],
    }
    declared = spec["per_layer" if tracer else "end_to_end"]
    if tracer:
        metrics = layer_metrics(tracer, [(r, st) for r, st in timed],
                                by_kind, ops_per_s,
                                [m["name"] for m in declared])
        tracer.dump(os.path.join(HERE, "_out",
                                 f"trace_{args.workload}_s{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed,
                     "op_stats": [st for _, st in timed]})
    else:
        metrics = {
            "setup_s": setup_s, "ops_per_s": ops_per_s,
            "op_p50_s": percentile(lat, 50), "peak_rss_mb": jvm_mb + py_mb,
        }
    side["metrics"] = metrics
    result = {
        "correct": not failures and not gate_failures,
        "attempted": len(timed),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]} for m in declared},
    }
    return result, side


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's data scale factor")
    args = ap.parse_args(argv)
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG}/ not found next to "
              f"{os.path.relpath(HERE)}/", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        workload = WORKLOADS[args.workload]()
        if args.scale:
            workload.scale = args.scale
        result, side = run(args, workload, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}_s{args.seed}"
                           f"_trace{args.trace}.json"), "w") as fh:
        json.dump(side, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
