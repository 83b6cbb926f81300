#!/usr/bin/env python3
"""Run one benchmark workload against stark_spark and print its metrics.

    python3 perfbench/run.py --workload st_query_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; the timed loop is a closed loop with one client (one Python
thread waits for each op before sending the next) on ``local[nproc]``.
Every op result is checked against a numpy reference. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``perfbench/_out/trace-<workload>-<seed>.json``.

Scratch data (inputs, Spark local dirs, the partitioned store) lives in a
fresh directory under ``perfbench/_work`` that is removed on exit.
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
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics, the same list as BENCHMARK.json
END_TO_END = [("setup_s", "s"), ("latency_p50_s", "s"), ("batch_wall_s", "s"),
              ("peak_rss_mb", "MB")]
# printed beside them, not bounded: a run times 7 to 39 ops, so at most 3
# lie beyond p90; with a fixed op mix per block, ops_per_s and rows_per_s
# are batch_wall_s seen another way
DERIVED = [("latency_p90_s", "s"), ("ops_per_s", "1/s"), ("rows_per_s", "rows/s")]
OP_TIMEOUT_S = 60.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the self-test")
    return p.parse_args(argv)


def host_env(work: str) -> int:
    """Fit the session to this host; returns the core count."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    # a tenth of host RAM, 1-3 GB (the inputs need far less; the engine's
    # 24g default exceeds small hosts)
    heap_gb = max(1, min(3, mem_kb // (10 << 20)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # the spark-submit launcher JVM too: no performance-data file in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # Python workers import stark_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = None
    return ncpu


def run_op(spark, tracer, op, group):
    """Run one op under its own job group; returns its record."""
    sc = spark.sparkContext
    sc.setJobGroup(group, f"perfbench {op.kind}", True)
    timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, args=(group,))
    timer.start()
    tracer.op_begin(op, group)
    rec = {"kind": op.kind, "rows": op.rows, "exploded_rows": op.exploded_rows,
           "ok": False, "t0": time.time()}
    t_a = time.perf_counter()
    t_b = None
    try:
        with tracer.span(op.layer, op.kind, role="op"):
            with tracer.span(op.layer, op.kind + ".build", role="build") as sb:
                df = op.build()
            t_b = time.perf_counter()
            with tracer.span(op.layer, op.kind + ".action", role="action") as sa:
                res = op.action(df)
        rec["ok"] = bool(op.check(res))
        if not rec["ok"]:
            print(f"WRONG RESULT {op.kind} {op.params!r}", file=sys.stderr)
        if isinstance(res, tuple) and res and isinstance(res[0], int):
            rec["result_rows"] = res[0]
        if sb is not None:
            rec["spans"] = (sb, sa)
    except Exception:   # an op that raises is counted, the loop goes on
        traceback.print_exc(file=sys.stderr)
    finally:
        timer.cancel()
    t_c = time.perf_counter()
    rec.update(t1=time.time(), wall=t_c - t_a,
               build_s=(t_b or t_c) - t_a, action_s=t_c - (t_b or t_c))
    return rec


def canary(spark, ncpu) -> float:
    """A fixed codegen aggregate, timed; reported, never used to drop a run."""
    t = time.perf_counter()
    spark.range(0, 20_000_000, numPartitions=ncpu).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t


def pip_kernel_s(wl) -> float:
    """Timed direct call of core.geometry.points_in_polygon on the
    workload's own points and polygons (median of 3)."""
    from stark_spark.core import geometry as G
    xs, ys, polys = wl.pip_kernel_inputs()
    if not polys:
        return 0.0
    times = []
    for _ in range(3):
        t = time.perf_counter()
        for g in polys[:32]:
            G.points_in_polygon(xs, ys, g)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def hd_median(xs) -> float:
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by Beta((n+1)/2, (n+1)/2) over their rank
    intervals. A run times few ops of unlike types (7 in a join pass), and
    the sample median jumps between the two or three types closest to the
    middle; this estimate moves smoothly between them."""
    x = np.sort(np.asarray(xs, dtype=np.float64))
    a = (len(x) + 1) / 2
    g = np.linspace(0.0, 1.0, 20001)
    pdf = (g * (1 - g)) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    w = np.diff(np.interp(np.arange(len(x) + 1) / len(x), g, cdf / cdf[-1]))
    return float(w @ x)


def end_to_end(recs, blocks, setup_s, peak_rss) -> dict[str, float]:
    walls = [r["wall"] for r in recs]
    done = [r for r in recs if r["ok"]]
    loop_wall = recs[-1]["t1"] - recs[0]["t0"]
    return {
        "setup_s": setup_s,
        "latency_p50_s": hd_median(walls),
        "latency_p90_s": statistics.quantiles(walls, n=10)[8] if len(walls) > 1 else walls[0],
        "ops_per_s": len(done) / loop_wall,
        "batch_wall_s": hd_median([w for w, _ in blocks]),
        "rows_per_s": statistics.median(rows / w for w, rows in blocks),
        "peak_rss_mb": peak_rss / (1 << 20),
    }


def complete_blocks(recs, block_len):
    """(wall, input rows) of every block the loop finished."""
    out = []
    by_block: dict[int, list] = {}
    for r in recs:
        by_block.setdefault(r["block"], []).append(r)
    for rs in by_block.values():
        if len(rs) == block_len:
            out.append((rs[-1]["t1"] - rs[0]["t0"], sum(r["rows"] for r in rs)))
    return out


def shutdown(spark, sampler):
    """Stop Spark, the gateway JVM and every process it started."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    sampler.stop()
    # every descendant of this process, also a JVM whose launch was cut short
    sampler.root = os.getpid()
    pids = set(sampler.tree()) - {sampler.root}
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 15
    while pids:
        pids = {p for p in pids if _alive(p)}
        if pids and time.time() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 15
        time.sleep(0.1)


def _alive(pid) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, work) -> int:
    ncpu = host_env(work)
    sys.path[:0] = [ROOT, HERE]
    from tracing import NullTracer, RssSampler, Tracer, per_layer, self_times
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, args.scale, work)
    t = time.perf_counter()
    wl.generate(n_blocks=2 + math.ceil(args.seconds / 1.5))
    inputgen_s = time.perf_counter() - t

    # setup_s runs from here to the first timed op
    t_setup = time.perf_counter()
    from stark_spark import get_session
    tracer = Tracer() if args.trace else NullTracer()
    sampler = RssSampler()
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("session", "get_session"):
            spark = get_session(f"perfbench-{wl.name}", master=f"local[{ncpu}]",
                                shuffle_partitions=ncpu)
        session_s = time.perf_counter() - t
        sampler.start(spark.sparkContext._gateway.proc.pid)
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setJobGroup("setup", "perfbench setup", True)
        t = time.perf_counter()
        wl.setup(spark, tracer.span)
        build_s = time.perf_counter() - t
        setup_spans = list(getattr(tracer, "spans", []))

        # block 0 is the warm-up: every op type runs, checked and not timed
        warm = [op for b, op in wl.stream if b == 0]
        timed = [(b, op) for b, op in wl.stream if b > 0]
        t = time.perf_counter()
        warm_recs = [run_op(spark, NullTracer(), op, "warmup") for op in warm]
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        if tracer.enabled:
            tracer.bind(spark)
            canary_before = canary(spark, ncpu)
        recs = []
        t_start = time.perf_counter()
        for i, (b, op) in enumerate(timed):
            new_block = i == 0 or timed[i - 1][0] != b
            # the loop ends between blocks, so every timed block is complete
            if new_block and time.perf_counter() - t_start >= args.seconds:
                break
            group = f"op-{i}"
            rec = run_op(spark, tracer, op, group)
            rec["block"] = b
            if tracer.enabled:
                tracer.op_end(op, group, rec)
            recs.append(rec)

        sampler.sample()
        all_recs = warm_recs + recs
        failed = sum(not r["ok"] for r in all_recs)
        attempted = len(all_recs)
        blocks = complete_blocks(recs, wl.block_len)
        e2e = end_to_end(recs, blocks, setup_s, sampler.peak)

        print(f"# workload {wl.name} seed {args.seed} trace {args.trace} "
              f"local[{ncpu}] heap {os.environ['SPARK_GRAFT_DRIVER_MEM']}")
        print(f"# input generation {inputgen_s:.3f} s (not in setup_s); "
              f"session start {session_s:.3f} s; input build "
              f"{build_s:.3f} s; warm-up {warmup_s:.3f} s")
        print("# warm-up walls " + ", ".join(f"{r['kind']} {r['wall']:.3f}" for r in warm_recs))
        print(f"# block walls {[round(w, 3) for w, _ in blocks]} s")
        print(f"# timed ops {len(recs)}, complete blocks {len(blocks)}, "
              f"samples beyond p90 {sum(r['wall'] > e2e['latency_p90_s'] for r in recs)}")
        print(f"# peak RSS {sampler.peak / (1 << 20):.0f} MB: JVM {sampler.peak_root / (1 << 20):.0f}"
              f" MB, at most {sampler.peak_procs} processes")
        print(f"# failed_ratio {failed / attempted:.6g} ({failed}/{attempted}); "
              f"correct {failed == 0}")
        for kind in sorted({r["kind"] for r in recs}):
            ws = [r["wall"] for r in recs if r["kind"] == kind]
            bs = [r["build_s"] for r in recs if r["kind"] == kind]
            print(f"# op {kind}: n {len(ws)}, median wall {statistics.median(ws):.3f} s, "
                  f"median build {statistics.median(bs):.3f} s")
        for name, unit in END_TO_END + DERIVED:
            print(f"{name} = {e2e[name]:.6g} {unit}")

        if tracer.enabled:
            canary_after = canary(spark, ncpu)
            pip_s = pip_kernel_s(wl)
            layer = per_layer(tracer, wl, setup_spans, (canary_before, canary_after), pip_s)
            selft = self_times(tracer.spans)
            for name, v in sorted(selft.items()):
                print(f"# self time {name} {v:.6g} s")
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"), "w") as f:
                json.dump({"workload": wl.name, "seed": args.seed, "end_to_end": e2e,
                           "per_layer": layer, "self_time_s": selft,
                           "ops": tracer.ops, "spans": tracer.spans}, f)
            from tracing import PER_LAYER
            metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        bad = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
        if bad:
            print(f"non-finite metrics: {bad}", file=sys.stderr)
            return 1
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutdown(spark, sampler)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "stark_spark", "__init__.py")):
        print(f"stark_spark not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(HERE, "_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
