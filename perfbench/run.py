"""esvc benchmark: one command, four seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --smoke      # tiny inputs

Run from the repository root. The run environment is pinned here, before
Spark starts: SPARK_GRAFT_CPUS = the CPUs this process may use,
SPARK_GRAFT_DRIVER_MEM = 2g, PYTHONPATH = the repository root (the
stream's mapInPandas workers import esvc_spark), and SPARK_LOCAL_DIRS,
TMPDIR and the JVM temp dir under .bench_work/ in the repository root.
Inputs come from the repo's test tables (catalog.DEFAULT_SF_DIR's parent,
or $PERFBENCH_DATA_DIR) and from --seed.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced
and traced rounds and prints the per-layer metrics (per traced round
unless named otherwise), the layers' self times and the tracing overhead.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# Bounded metrics count CPU seconds of the whole process tree (this
# process, the JVM, Python workers): on a shared 4-vCPU host, CPU steal of 2-17%
# moved wall-clock rates by up to 2x between runs minutes apart, while it
# leaves CPU time alone. Wall-clock figures are printed as `#` lines.
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_cpu_s": "1/s",
}
SETUP_REPEATS = 3


def pin_environment() -> None:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(WORK, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


def start_spark():
    from esvc_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark("esvc-perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the traced run reads every job back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when the pipe to its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    def hwm(pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    jvm = spark.sparkContext._gateway.proc.pid
    return hwm(os.getpid()) + hwm(jvm)


def layer_metrics(wl, tracer, traced_rounds: int) -> dict[str, float]:
    from workloads import MIX

    per = max(1, traced_rounds)
    jobs = tracer.inclusive_jobs()
    c = tracer.counters

    def calls(name):
        return len(tracer.calls(name)) / per

    def jobs_per(name):
        got = tracer.calls(name)
        return sum(jobs[sp["id"]] for sp in got) / len(got) if got else 0.0

    def ratio(a, b):
        return c[a] / c[b] if c[b] else 0.0

    m = {
        "cli.submit.calls": calls("cli.submit"),
        "cli.submit.ms": tracer.mean_ms("cli.submit"),
        "cli.merge_from.ms": tracer.mean_ms("cli.merge_from"),
        "workcache.shelve_event.ms": tracer.mean_ms("workcache.shelve_event"),
        "workcache.try_merge.ms": tracer.mean_ms("workcache.try_merge"),
        "workcache.materialize.ms": tracer.mean_ms("workcache.materialize"),
        "workcache.memo.lookups": c["memo.lookups"] / per,
        "workcache.memo.hit_ratio": ratio("memo.hits", "memo.lookups"),
        "spark_engine.commute.independent_ratio":
            ratio("commute.independent", "commute.candidates"),
        "spark_engine.commute_batch.candidates": c["commute.candidates"] / per,
        "spark_engine.jobs_per_commit": jobs_per("cli.submit"),
        "spark_engine.jobs_per_merge": jobs_per("cli.merge_from"),
        "graph.calculate_dependencies.calls": calls("graph.calculate_dependencies"),
        "graph.calculate_dependencies.ms": tracer.mean_ms("graph.calculate_dependencies"),
        "graph.fold_state.ms": tracer.mean_ms("graph.fold_state"),
        "store.snapshot.spills": c["store.spills"] / per,
        "store.snapshot.loads": c["store.loads"] / per,
        "store.snapshot.mem_hit_ratio":
            1 - ratio("store.loads", "memo.hits") if c["memo.hits"] else 0.0,
        "store.spill_bytes": c["store.spill_bytes"] / per,
        "store.save_snapshot.ms": tracer.mean_ms("store.save_snapshot"),
        "store.load_snapshot.ms": tracer.mean_ms("store.load_snapshot"),
        "store.load_graph.ms": tracer.mean_ms("store.load_graph"),
        "store.import_merge.ms": tracer.mean_ms("store.import_merge"),
    }
    for op in ("run_event_bare", "run_event_transient", "commute_batch"):
        m[f"spark_engine.{op}.calls"] = calls(f"spark_engine.{op}")
        m[f"spark_engine.{op}.ms"] = tracer.mean_ms(f"spark_engine.{op}")
    for k in ("batches", "input_rows", "addBatch.ms_p50",
              "triggerExecution.ms_p50", "walCommit.ms_p50", "log_bytes_per_event"):
        m[f"streaming.{k}"] = 0.0
    m.update(wl.layer_metrics())
    for q in MIX:
        m[f"queries.{q}.ms"] = tracer.mean_ms(f"queries.{q}")
        m[f"queries.{q}.jobs"] = jobs_per(f"queries.{q}")
    top = [sp for sp in tracer.spans if sp["parent"] is None]
    stream_jobs = getattr(wl, "stream_jobs", [])
    m["spark.jobs"] = (sum(jobs[sp["id"]] for sp in top) + len(stream_jobs)) / per
    stages = tasks = 0
    st = tracer.sc.statusTracker()
    job_ids = [j for sp in tracer.spans
               for j in st.getJobIdsForGroup(f"pb-{sp['id']}")] + stream_jobs
    for j in job_ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            sinfo = st.getStageInfo(s)
            stages += 1
            tasks += sinfo.numTasks if sinfo else 0
    m["spark.stages"] = stages / per
    m["spark.tasks"] = tasks / per
    self_ms = tracer.self_ms_by_layer()
    for layer in ("cli", "workcache", "spark_engine", "graph", "store",
                  "streaming", "queries"):
        m[f"self_ms.{layer}"] = self_ms.get(layer, 0.0) / per
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs, one measured round")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "esvc_spark")):
        print(f"perfbench: no esvc_spark package under {ROOT}", file=sys.stderr)
        return 2
    pin_environment()
    from esvc_spark.catalog import DEFAULT_SF_DIR

    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    data_dir = os.environ.get("PERFBENCH_DATA_DIR", os.path.dirname(DEFAULT_SF_DIR))
    sizes = workloads.SMOKE if args.smoke else workloads.FULL
    if not os.path.isdir(os.path.join(data_dir, sizes.sf)):
        print(f"perfbench: no test tables under {data_dir}", file=sys.stderr)
        return 2

    cpu = workloads.tree_cpu_s
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    c0, t0 = cpu(), time.perf_counter()
    spark = start_spark()
    start_cpu, start_s = cpu() - c0, time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](
            spark, data_dir, run_dir, args.seed, tracer, sizes)
        builds, build_cpus = [], []
        for _ in range(SETUP_REPEATS):
            c, t = cpu(), time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t)
            build_cpus.append(cpu() - c)
        c, t = cpu(), time.perf_counter()
        attempted, failed = wl.warmup()
        warm_cpu, warm_s = cpu() - c, time.perf_counter() - t
        tracer.reset()
        print(f"# start_s={start_s:.2f} builds_s={[round(b, 2) for b in builds]} "
              f"warm_s={warm_s:.2f}", file=sys.stderr, flush=True)

        rounds, traced = [], []
        deadline = time.perf_counter() + args.seconds
        while True:
            # --trace 1 alternates untraced and traced rounds (at least
            # untraced, traced, untraced), so the overhead is measured
            # against untraced rounds on both sides of a traced one
            tracer.enabled = bool(args.trace) and len(traced) < len(rounds)
            try:
                r = wl.round()
                a, f = wl.after_round()
            except Exception:  # a failed round counts, the run goes on
                traceback.print_exc()
                attempted, failed = attempted + 1, failed + 1
                if failed > 3:
                    raise
                continue
            (traced if tracer.enabled else rounds).append(r)
            print(f"# round {len(rounds) + len(traced)} traced={int(tracer.enabled)} "
                  f"wall_s={r.wall_s:.3f} ops_ms={[round(x) for x in r.op_ms]}",
                  file=sys.stderr, flush=True)
            attempted += r.attempted + a
            failed += r.failed + f
            enough = len(rounds) >= (2 if args.trace else 1)
            if enough and (args.smoke or time.perf_counter() >= deadline):
                break
        tracer.enabled = bool(args.trace)
        a, f = wl.check()
        attempted += a
        failed += f

        op_ms = [x for r in rounds for x in r.op_ms]
        items = sum(r.items for r in rounds)
        e2e = {
            # session start + warm-up + the median of the repeated builds
            "setup_s": start_cpu + warm_cpu + statistics.median(build_cpus),
            "ops_per_cpu_s": items / sum(r.cpu_s for r in rounds),
        }
        print(f"# {args.workload} seed={args.seed} rounds={len(rounds)} "
              f"builds={len(builds)} ops={items}")
        for k, val in e2e.items():
            print(f"# {k} = {val:.4f} {E2E_UNITS[k]} (CPU)")
        # wall clock; one run holds too few ops for a tail percentile, and
        # JVM peak RSS follows GC timing
        print(f"# setup_wall_s = {start_s + warm_s + statistics.median(builds):.3f} s")
        print(f"# ops_per_s = {items / sum(r.wall_s for r in rounds):.4f} 1/s")
        print(f"# op_ms_p50 = {statistics.median(op_ms):.1f} ms (n={len(op_ms)})")
        print(f"# round_s = {statistics.median(r.wall_s for r in rounds):.3f} s "
              f"(median, n={len(rounds)})")
        print(f"# peak_rss_mb = {peak_rss_mb(spark):.1f} MB (Python + JVM VmHWM)")
        if args.trace:
            metrics = layer_metrics(wl, tracer, len(traced))
            base = statistics.median(r.wall_s for r in rounds)
            metrics["trace.overhead_pct"] = 100 * (
                statistics.median(r.wall_s for r in traced) - base) / base
            tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
            units = {}
        else:
            metrics, units = e2e, E2E_UNITS
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    out = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units.get(k) or layer_unit(k)}
                    for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith(("_ratio", "hit_ratio")):
        return "ratio"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("log_bytes_per_event"):
        return "B/event"
    if name.endswith("spill_bytes"):
        return "B"
    if ".ms" in name or name.startswith("self_ms."):
        return "ms"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
