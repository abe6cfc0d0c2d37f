#!/usr/bin/env python3
"""Run one benchmark workload against the geomesa_spark package of this
checkout and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones from a traced run, whose spans are also written to
``.perfbench/spans/``. The line before it is an ``info`` object: versions,
set-up breakdown, op counts and the workload's own throughput figures.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from spans import Tracer, layer_self_times

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
CORES = os.cpu_count() or 1
LAYERS = (
    "sources.docs",
    "plans.planner",
    "operators.spatial_join",
    "operators.knn",
    "operators.density",
    "operators.dedup",
    "operators.similarity",
)


def percentile(values: list[float], q: float) -> float:
    """q-th percentile with linear interpolation between closest ranks
    (numpy's default rule)."""
    xs = sorted(values)
    pos = q / 100 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples rank above the q-th percentile."""
    return n - 1 - math.floor(q / 100 * (n - 1))


def pin_environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, make worker
    processes single-threaded in BLAS, and use UTC throughout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp),
        TZ="UTC",
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        # every JVM, including spark-submit's launcher: no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    time.tzset()


def start_session(work: Path):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    return (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", "-Xms1g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus the Python driver's, in MiB."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": CORES,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and all its descendants
    (the Spark JVM and its Python workers), including reaped children."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:  # exited while we listed
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            procs[int(entry)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    total = 0
    for pid, (ppid, ticks) in procs.items():
        p = pid
        while p != root and p in procs and p != procs[p][0]:
            p = procs[p][0]
        total += ticks if p == root else 0
    return total / os.sysconf("SC_CLK_TCK")


def timed_op(ctx, op) -> tuple[object, float, str | None, float]:
    """(result, wall seconds, error, CPU seconds) of one op."""
    with ctx.tracer.span(f"op.{op.kind}", "bench"):
        t, c = time.perf_counter(), tree_cpu_s(os.getpid())
        try:
            result, err = op.run(ctx), None
        except Exception:  # an engine failure is a failed op, not a crash
            result, err = None, traceback.format_exc(limit=3)
        return result, time.perf_counter() - t, err, tree_cpu_s(os.getpid()) - c


def layer_metrics(spans: list, loop_spans: list, n_ops: int) -> dict:
    """Per-layer metrics from the traced spans (see README.md for the
    definitions). ``spans`` covers set-up and the loop, ``loop_spans`` the
    loop alone; per-op figures divide by ``n_ops``."""
    def named(name):
        return [s for s in spans if s.name == name]

    def per(ss, key):
        return sum(s.counts.get(key, 0) for s in ss) / len(ss) if ss else 0.0

    def dur(ss, scale=1.0):
        return scale * sum(s.duration for s in ss) / len(ss) if ss else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    idx, wr = named("sources.docs.index_docs"), named("sources.docs.write_indexed")
    sf, cnt = named("plans.planner.spatial_filter"), named("plans.planner.count")
    join = named("operators.spatial_join.spatial_join")
    knn = named("operators.knn.knn")
    render = named("operators.density.render_tile_pngs")
    mh = named("operators.dedup.minhash_lsh_pairs")
    ann = named("operators.similarity.ann_join")
    noted = [s for s in spans if "cells" in s.counts]
    m = {
        "sources.docs.index_s": dur(idx),
        "sources.docs.write_s": dur(wr),
        "sources.docs.python_s": per(idx, "python_s"),
        "sources.docs.files_written": wr[-1].counts.get("files_written", 0) if wr else 0,
        "plans.planner.plan_ms": dur(sf, 1e3),
        "plans.planner.exec_ms": dur(cnt, 1e3),
        "plans.planner.cells_per_query": per(noted, "cells"),
        "plans.planner.files_scanned_per_query": per(cnt, "files_read"),
        "plans.planner.rows_scanned_per_result": ratio(per(cnt, "scan_rows"), per(cnt, "result_rows")),
        "plans.planner.refine_rows": per(cnt, "python_rows"),
        "operators.spatial_join.join_s": dur(join),
        "operators.spatial_join.candidate_pairs": per(join, "join_rows"),
        "operators.spatial_join.result_pairs": per(join, "result_rows"),
        "operators.spatial_join.refine_precision": ratio(per(join, "result_rows"), per(join, "join_rows")),
        "operators.spatial_join.shuffle_bytes": per(join, "shuffle_bytes"),
        "operators.spatial_join.python_s": per(join, "python_s"),
        "operators.knn.knn_ms": dur(knn, 1e3),
        "operators.knn.knn_jobs": per(knn, "jobs"),
        "operators.density.grid_ms": dur(named("operators.density.density"), 1e3),
        "operators.density.pyramid_ms": dur(named("operators.density.tile_pyramid"), 1e3),
        "operators.density.render_ms": dur(render, 1e3),
        "operators.density.png_bytes": ratio(per(render, "png_bytes"), per(render, "result_rows")),
        "operators.dedup.minhash_s": dur(mh),
        "operators.dedup.candidate_pairs": per(mh, "join_rows"),
        "operators.dedup.verified_pairs": per(mh, "result_rows"),
        "operators.dedup.verify_precision": ratio(per(mh, "result_rows"), per(mh, "join_rows")),
        "operators.dedup.python_s": per(mh, "python_s"),
        "operators.dedup.shuffle_bytes": per(mh, "shuffle_bytes"),
        "operators.similarity.ann_join_s": dur(ann),
        "operators.similarity.python_s": per(ann, "python_s"),
        "operators.similarity.shuffle_bytes": per(ann, "shuffle_bytes"),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "python_boot_s", "python_data_sent_bytes"):
        m[f"spark.{key}"] = sum(s.counts.get(key, 0) for s in loop_spans) / n_ops
    self_s = layer_self_times(loop_spans)
    for layer in (*LAYERS, "bench", "trace"):
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0) / n_ops
    return m


def run(args, work: Path) -> dict:
    import geomesa_spark  # the checkout's package; fails fast where it is absent

    from workloads import WORKLOADS, Ctx

    info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **versions()}
    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        geomesa_spark.attach(spark)
        session_s = time.perf_counter() - t0
        run_id = f"{args.workload}-{args.seed}-{args.trace}"
        plain = Ctx(spark, Tracer(run_id))
        traced = Ctx(spark, Tracer(run_id, spark)) if args.trace else None
        setup_ctx = traced or plain
        wl = WORKLOADS[args.workload](args.seed)

        reps = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            with setup_ctx.tracer.span("setup", "bench"):
                wl.prepare(setup_ctx, work / f"setup-{r}")
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        with setup_ctx.tracer.span("setup", "bench"):
            wl.build(setup_ctx, work / "build")
        build_s = time.perf_counter() - t
        setup_spans = list(setup_ctx.tracer.spans)
        t = time.perf_counter()
        wl.warm(setup_ctx, work / "warm")
        warm_s = time.perf_counter() - t
        plain_mark = len(plain.tracer.spans)
        traced_mark = len(setup_ctx.tracer.spans)

        records, pairs = [], []
        ticks = cpu_ticks()
        start = time.perf_counter()
        for ops in wl.rounds():
            if time.perf_counter() - start >= args.seconds:
                break
            for op in ops:
                if traced is None:
                    records.append((op, *timed_op(plain, op)))
                    continue
                # each op runs untraced and traced, alternating which goes first
                order = (plain, traced) if len(pairs) % 2 == 0 else (traced, plain)
                runs = {id(c): (op, *timed_op(c, op)) for c in order}
                records += runs.values()
                pairs.append((runs[id(plain)][2], runs[id(traced)][2]))

        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        failed, errors = 0, []
        for op, result, _, err, _ in records:
            err = err or op.check(result)
            if err:
                failed += 1
                errors.append(f"{op.kind}: {err}")
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)

    latencies = [r[2] for r in records]
    cpu = [r[4] for r in records]
    items = sum(r[0].items for r in records)
    n_plain = len(pairs) if traced else len(records)
    info.update(
        session_s=session_s,
        setup_reps_s=reps,
        build_s=build_s,
        warm_s=warm_s,
        ops=len(records),
        ops_by_kind={k: sum(1 for r in records if r[0].kind == k) for k in sorted({r[0].kind for r in records})},
        # wall-clock and per-workload figures: reported, not gated (README.md)
        reported={
            k: {"value": v, "unit": u}
            for k, (v, u) in {
                "latency_p50_ms": (percentile(latencies, 50) * 1e3, "ms"),
                "latency_p90_ms": (percentile(latencies, 90) * 1e3, "ms"),
                "items_per_s": (items / sum(latencies), "1/s"),
                "ops_failed_ratio": (failed / len(records), "ratio"),
                **{k: (v, "1/s") for k, v in wl.phases(plain.tracer.spans[plain_mark:], n_plain).items()},
            }.items()
        },
        p90_samples_beyond=samples_beyond(len(latencies), 90),
        cpu_steal_share=steal / total if total else 0.0,
        latencies_ms=[round(lat * 1e3, 1) for lat in latencies],
        cpu_ms=[round(c * 1e3) for c in cpu],
        errors=errors[:5],
    )
    if traced is None:
        metrics = {
            "setup_s": (session_s + statistics.median(reps) + build_s + warm_s, "s"),
            "peak_rss_mb": (rss, "MiB"),
            "op_cpu_ms_p50": (percentile(cpu, 50) * 1e3, "ms"),
            "items_per_cpu_s": (items / sum(cpu), "1/cpu_s"),
        }
    else:
        spans = traced.tracer.spans
        loop = spans[traced_mark:]
        m = layer_metrics(setup_spans + loop, loop, n_plain)
        m["trace.overhead_ratio"] = sum(t for _, t in pairs) / sum(p for p, _ in pairs)
        metrics = {k: (v, _unit(k)) for k, v in m.items()}
        out = ROOT / ".perfbench" / "spans"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{run_id}.jsonl"
        traced.tracer.dump(path)
        info["spans_file"] = str(path.relative_to(ROOT))
    print(json.dumps({"info": info}))
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _unit(name: str) -> str:
    suffix = name.rsplit("_", 1)[-1] if "_" in name else ""
    return {"s": "s", "ms": "ms", "bytes": "bytes"}.get(suffix) or (
        "ratio" if name.endswith(("ratio", "precision", "per_result")) else "count"
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("ingest_join", "query_mix", "dedup_ann"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        pin_environment(work)
        sys.path.insert(0, str(ROOT))
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
