"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload batch_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The script generates its inputs from
the seed under ``.perfbench_work/`` (removed at exit), runs the workload
through the package on ``local[N]``, checks every op's outputs against
references it computes itself, prints a readable report and, as the
last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, from
a run with spans around every layer call and Spark's event log on.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"


def configure_env(work: str, event_dir: str | None) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    turn the event log on from outside the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if event_dir:
        os.makedirs(event_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            # the default zstd codec has no reader in this toolchain
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python
    workers that JVM forked, waiting for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = _children(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - any failure to exit: kill it
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, 9)


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except OSError:
                continue
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_to_end(ctx, res: dict, start_s: float) -> dict[str, float]:
    times = ctx.times()
    return {
        "setup_s": start_s + statistics.median(ctx.setup_times),
        "op_ms_p50": statistics.median(times) * 1e3,
        "items_per_s": res["items"] * len(times) / sum(times),
    }


def per_layer(names, ctx, tracer, groups, start_s: float, rss_mb: float) -> dict[str, float]:
    """Resolve each per-layer metric name: ``<span>.build_s|exec_s|s``
    are span seconds and ``<span>.eager_jobs`` its job count, each the
    median over the ops that opened the span; ``<span>.task_cpu_s``,
    ``.shuffle_write_mb`` and ``.py_worker_s`` come from the event log
    of the ``<span>.exec`` job group, per op; ``<layer>.self_s`` is span
    self time. Other names are figures the workload recorded; a layer
    a workload does not run reports 0."""

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def group(span: str, key: str) -> float:
        n = len(tracer.per_op(span))
        return groups.get(span, {}).get(key, 0.0) / n if n else 0.0

    self_s = tracer.self_time_by_layer()
    self_s["session"] = start_s
    by_phase: dict[str, list[float]] = defaultdict(list)
    for o in ctx.ops:
        if o["kind"] != "ingest":  # ingest runs untraced only as cold set-up
            by_phase[o["phase"]].append(o["s"])
    overhead = med(by_phase["traced"]) / med(by_phase["untraced"]) - 1.0
    spark_tot = defaultdict(float)
    for g, vals in groups.items():
        if g:
            for k, v in vals.items():
                spark_tot[k] += v
    special = {
        "session.start_s": start_s,
        "session.jvm_peak_rss_mb": rss_mb,
        "embedding.corpus.py_worker_s": group("vector_store.insert", "py_worker_s"),
        "embedding.questions.py_worker_s": sum(
            group(s, "py_worker_s") for s in ("knn.topk_batch.exec", "rag.eval.exec", "ann.ivf_search.exec")
        ),
        "spark.task_cpu_s": spark_tot["task_cpu_s"],
        "spark.gc_s": spark_tot["gc_s"],
        "spark.spill_mb": spark_tot["spill_mb"],
        "trace.overhead_frac": overhead,
        "failed_op_frac": sum(not o["ok"] for o in ctx.ops) / len(ctx.ops),
    }
    out = {}
    for name in names:
        prefix, _, what = name.rpartition(".")
        if name in special:
            v = special[name]
        elif what in ("build_s", "exec_s"):
            v = med(tracer.per_op(f"{prefix}.{what[:-2]}"))
        elif what == "s":
            v = med(tracer.per_op(prefix))
        elif what == "eager_jobs":
            v = med(tracer.per_op(prefix, "jobs"))
        elif what in ("task_cpu_s", "shuffle_write_mb", "py_worker_s"):
            v = group(f"{prefix}.exec", what)
        elif what == "planning_ms":
            v = med(tracer.samples.get(name, []))
        elif what == "self_s":
            v = self_s.get(prefix, 0.0)
        else:
            v = ctx.extra.get(name, 0.0)
        out[name] = float(v)
    return out


def run(a, bench: dict, work: str) -> tuple[dict, list[str]]:
    event_dir = os.path.join(work, "eventlog") if a.trace else None
    configure_env(work, event_dir)
    sys.path.insert(0, ROOT)  # the package lives at the checkout root
    import tracing
    import workloads
    from rag_system_vector_db_spark.session import get_spark

    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS)
    start_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark, bool(a.trace))
    ctx = workloads.Ctx(spark, tracer, work, inputs, a.seed, a.seconds)
    try:
        res = workloads.WORKLOADS[a.workload](ctx)
        rss_mb = tracing.jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    report = [f"cpus={CPUS} nproc={os.cpu_count()} load_avg_at_start={a.load_at_start}"]
    e2e = end_to_end(ctx, res, start_s)
    all_units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    for k, v in sorted({**e2e, **{k: v for k, v in ctx.extra.items() if "." not in k}}.items()):
        report.append(f"{a.workload} {k} {v:.6g} {all_units[k]}")
    report.append(f"{a.workload} generator_s {ctx.gen_s:.3f} (not in setup_s)")
    report.append(f"{a.workload} ops attempted={len(ctx.ops)} measured={len(ctx.measured())}")
    report.append(f"{a.workload} op seconds: " + " ".join(f"{o['phase']}:{o['s']:.2f}" for o in ctx.ops))
    reasons = defaultdict(int)
    for r in ctx.failures:
        reasons[r] += 1
    for r, n in sorted(reasons.items(), key=lambda x: -x[1]):
        report.append(f"FAILED x{n}: {r}")
    if a.trace:
        groups = tracing.event_log_by_group(event_dir)
        values = per_layer([m["name"] for m in bench["per_layer"]], ctx, tracer, groups, start_s, rss_mb)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{a.workload}-seed{a.seed}.jsonl"))
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for k, v in values.items():
        if not math.isfinite(v):
            raise ValueError(f"metric {k} is {v}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    failed = sum(not o["ok"] for o in ctx.ops)
    result = {"correct": failed == 0, "attempted": len(ctx.ops), "failed": failed, "metrics": metrics}
    return result, report


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    a.load_at_start = os.getloadavg()[0]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {a.workload}")
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, report = run(a, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print("\n".join(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
