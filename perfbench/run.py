"""One benchmark run of one workload.

    python3 perfbench/run.py --workload tpch_interactive --seed 1 --seconds 30 --trace 0

Single process, one client, closed loop, Spark at ``local[nproc]`` with no
thread pool in the timed loop. The run stages its inputs from the seed into
``perfbench/work/<workload>`` (wiped first), starts the session, warms up
untimed, then runs a fixed number of operations: ``--seconds`` sets that
number through the workload's nominal seconds per unit (a pass of queries
or a refresh cycle), so a faster program does the same work, not more.
After the timed loop the outputs are checked against DuckDB.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` records spans
at every layer boundary and reports the per-layer metrics instead. The
metric names and units come from ``BENCHMARK.json``. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. The full record (run record, measured inputs, every metric,
per-layer self time, checks) goes to
``perfbench/results/<workload>/seed<N>-trace<T>.json``, spans of a traced
run beside it as ``.spans.jsonl``, and Spark's log as ``.spark.log``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import Tracer, group_job_counts, proc_cpu_s, proc_hwm_mb  # noqa: E402

from workloads import WORKLOADS, Ctx  # noqa: E402

# Session settings the program reads from the environment. They are
# removed, so every run measures the session as ``get_spark`` ships it.
SESSION_ENV = ("SPARK_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_SCHEDULER")


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    which percentile that is. Below 11 samples no percentile has 10
    beyond it, and the maximum is reported."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def source_digest() -> str:
    h = hashlib.sha256()
    for base in ("dbt_local_duckdb_deltalake_project_spark",):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        kids = [c for c, pp in parent.items() if pp == cur]
        out += kids
        todo += kids
    return out


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, let the JVM exit, and wait for it and every
    process it started (Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids = descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def spark_env(work: str, nproc: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for k in SESSION_ENV:
        os.environ.pop(k, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # every JVM, Spark's launcher too: temp files inside the work dir
        # and no hsperfdata file in /tmp; heap and GC stay the JVM's own
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    )


def measure(args, wl, work: str, nproc: int, tracer: Tracer) -> dict:
    units = max(1, round(args.seconds / wl.unit_s))
    t_setup = time.perf_counter()
    with tracer.span("setup.import"):
        from dbt_local_duckdb_deltalake_project_spark.session import get_spark
        import dbt_local_duckdb_deltalake_project_spark.operators  # noqa: F401
    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", cpus=nproc)
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    ctx = Ctx(spark, tracer, work, args.seed, args.scale, units)
    try:
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        ops = wl.ops(ctx)
        lat, errors, per_op = [], {}, []
        cpu = lambda: (proc_cpu_s(jvm_pid), proc_cpu_s())  # noqa: E731
        jvm0, drv0 = cpu()
        host0 = host_ticks()
        for i, op in enumerate(ops):
            if op.prepare:
                op.prepare()
            if tracer.enabled:
                sc.setJobGroup(f"op{i}", op.label)
                c0 = cpu()
            tracer.op = f"{i}:{op.label}"
            t0 = time.perf_counter()
            try:
                with tracer.span("op", label=op.label):
                    op.run()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the loop goes on
                traceback.print_exc()
                errors[i] = f"{type(e).__name__}: {e}"[:300]
            lat.append(time.perf_counter() - t0)
            tracer.op = None
            if tracer.enabled:
                c1 = cpu()
                t1 = time.perf_counter()
                per_op.append({"label": op.label, "latency_s": lat[-1],
                               "jvm_cpu_s": c1[0] - c0[0], "driver_cpu_s": c1[1] - c0[1],
                               **group_job_counts(sc, f"op{i}")})
                tracer.overhead_s += time.perf_counter() - t1
        jvm1, drv1 = cpu()
        host1 = host_ticks()
        rss = {"jvm_hwm_mb": proc_hwm_mb(jvm_pid), "driver_hwm_mb": proc_hwm_mb()}
        wl.collect(ctx)
        conf = spark.conf
        record_conf = {
            "master": sc.master,
            "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
            "spark.scheduler.mode": sc.getConf().get("spark.scheduler.mode", "FIFO"),
        }
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark, jvm_pid)
        stop_s = time.perf_counter() - t_stop
    t_check = time.perf_counter()
    verdict = wl.check(ctx, ops)
    check_s = time.perf_counter() - t_check
    wl_e2e = wl.metrics(ctx, lat)
    wl_layer = wl.layer_metrics(ctx) if tracer.enabled else {}

    n = len(ops)
    failed = set(errors) | verdict["failed_ops"]
    busy = sum(lat)
    tail_s, tail_pct = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_s,
        "ops_per_s": n / busy,
        "cpu_s_per_op": (jvm1 - jvm0 + drv1 - drv0) / n,
        "success_rate": 1 - len(failed) / n,
        "error_rate": len(failed) / n,
        "peak_rss_mb": sum(rss.values()),
        **wl_e2e,
    }
    diagnostics = {
        # share of the machine's CPU time the hypervisor gave to other
        # tenants during the timed loop: context for a noisy run
        "host_steal_share": (host1[0] - host0[0]) / max(host1[1] - host0[1], 1),
        **rss,
        "check_s": check_s,
        "stop_s": stop_s,
    }
    layer: dict[str, float] = {}
    if tracer.enabled:
        in_ops = [s for s in tracer.spans if s["op"] is not None and "end" in s]

        def med(name: str) -> float:
            d = [s["end"] - s["start"] for s in in_ops if s["name"] == name]
            return statistics.median(d) if d else 0.0

        stats = tracer.layer_stats()
        for name in ("setup.import", "session.start", "setup.stage", "catalog.register", "setup.warmup"):
            layer[f"{name}_s"] = stats.get(name, {}).get("total_s", 0.0)
        for name in ("operators.build", "exec.action", "graph.run", "graph.schema_test",
                     "deltalike.write", "deltalike.merge", "deltalike.compact",
                     "deltalike.vacuum", "deltalike.read"):
            layer[f"{name}_s"] = med(name)
        for m in ("bronze", "silver", "gold"):
            layer[f"graph.model_s.{m}"] = med(f"graph.model.{m}")
        layer.update({
            "exec.jobs_per_op": statistics.fmean(p["jobs"] for p in per_op),
            "exec.stages_per_op": statistics.fmean(p["stages"] for p in per_op),
            "exec.tasks_per_op": statistics.fmean(p["tasks"] for p in per_op),
            "exec.failed_tasks": sum(p["failed_tasks"] for p in per_op),
            "exec.jvm_cpu_s": (jvm1 - jvm0) / n,
            "exec.driver_cpu_s": (drv1 - drv0) / n,
            "exec.core_busy_ratio": (jvm1 - jvm0 + drv1 - drv0) / (busy * nproc),
            # per layer, not end to end: with the session's own heap
            # settings it spreads too far between runs for any bound
            "peak_rss_mb": e2e["peak_rss_mb"],
            "trace.overhead_s": tracer.overhead_s / n,
            **wl_layer,
        })
        for label in sorted({p["label"] for p in per_op}):
            mine = [p for p in per_op if p["label"] == label]
            layer[f"op.{label}.latency_s"] = min(p["latency_s"] for p in mine)
            layer[f"op.{label}.cpu_s"] = min(p["jvm_cpu_s"] + p["driver_cpu_s"] for p in mine)
            layer[f"op.{label}.jobs"] = mine[0]["jobs"]
    return {
        "units": units,
        "attempted": n,
        "failed": len(failed),
        "correct": not failed,
        "tail_percentile": tail_pct,
        "e2e": e2e,
        "diagnostics": diagnostics,
        "layer": layer,
        "conf": record_conf,
        "ops": [{"label": op.label, "latency_s": t, "ok": i not in failed}
                for i, (op, t) in enumerate(zip(ops, lat))],
        "per_op": per_op,
        "errors": errors,
        "checks": verdict["checks"],
        "inputs": ctx.inputs,
        "layers": tracer.layer_stats() if tracer.enabled else {},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the smoke test")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wl = WORKLOADS[args.workload]()
    why = next(w["why"] for w in bench["workloads"] if w["name"] == wl.name)
    work = os.path.join(HERE, "work", wl.name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res_dir = os.path.join(HERE, "results", wl.name)
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"seed{args.seed}-trace{args.trace}")
    nproc = len(os.sched_getaffinity(0))
    spark_env(work, nproc)

    # Spark's JVM inherits stdout and stderr: point both at the log file
    # and keep the original stdout for the results.
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    sys.stdout.flush()
    sys.stderr.flush()
    with open(stem + ".spark.log", "w") as log:
        os.dup2(log.fileno(), 1)
        os.dup2(log.fileno(), 2)
    tracer = Tracer(bool(args.trace))
    try:
        r = measure(args, wl, work, nproc, tracer)
    except Exception:  # noqa: BLE001 — no result without a finished run
        traceback.print_exc(file=err)
        err.flush()
        return 1

    import duckdb
    import pyspark

    record = {
        "workload": wl.name, "why": why, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "units": r["units"],
        "git_commit": git_commit(), "source_sha256": source_digest(),
        "nproc": nproc, "python": platform.python_version(),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "spark_conf": r["conf"], "java_tool_options": os.environ["JAVA_TOOL_OPTIONS"],
        "spark_log": os.path.relpath(stem + ".spark.log", ROOT),
        "finished_at": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    computed = r["layer"] if args.trace else r["e2e"]
    metrics = {m["name"]: {"value": float(computed.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    result = {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
              "metrics": metrics}
    with open(stem + ".json", "w") as f:
        json.dump({"record": record, "inputs": r["inputs"], "tail_percentile": r["tail_percentile"],
                   "result": result, "e2e": r["e2e"], "diagnostics": r["diagnostics"],
                   "layer": r["layer"], "layers": r["layers"],
                   "ops": r["ops"], "per_op": r["per_op"], "errors": r["errors"],
                   "checks": r["checks"]}, f, indent=1, default=str)
    if args.trace:
        tracer.write(stem + ".spans.jsonl")

    print(f"workload {wl.name}  seed {args.seed}  ops {r['attempted']}  "
          f"failed {r['failed']}  error_rate {r['e2e']['error_rate']:.4f}  "
          f"tail = p{r['tail_percentile']:.1f}", file=out)
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:>14.6g} {m['unit']}", file=out)
    print(f"output check: {'ok' if r['correct'] else 'FAILED'}", file=out)
    print(json.dumps(result), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
