"""Stat-file and operator benchmark for polars_readstat_rs_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one closed-loop client on local[nproc]. The run stages seeded
inputs (untimed), sets up Spark (timed as setup_s), then makes one cold pass
over the workload's fixed operations, checking every output. Every run does
the same work: a pass is sized to last longer than ``--seconds``, and a
shorter pass is reported on standard error rather than topped up with warm
repeats. With ``--trace 0`` it reports the end-to-end metrics; with
``--trace 1`` the same pass runs under spans and status-store reads, plus
in-process layer probes, and it reports the per-layer metrics instead. The
last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Earlier lines carry the host facts, the staged inputs with their sha256,
and the workload's own figures; a full record and, when tracing, the spans
go under .perfbench_work/results/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # a run must end within 180 s; stop it ourselves first
WARM_ROWS = 100
_clock = time.perf_counter
_T0 = _clock()


def _env(run_dir: str) -> tuple[int, str]:
    """Pin Spark to this host: local[nproc], driver memory well under host
    RAM, scratch space inside the checkout, and the checkout on the Python
    workers' import path. Other engine knobs are cleared so that every run
    measures the defaults."""
    cpus = len(os.sched_getaffinity(0))
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    driver_mem = f"{min(2048, total_mb // 4)}m"
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=driver_mem,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata file under /tmp: the JVM writes only into the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return cpus, driver_mem


class Ctx:
    """What the workloads share within one run."""

    def __init__(self, seed: int, tracer, run_dir: str, cpus: int):
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(run_dir, "data")
        self.cpus = cpus
        self.spark = None
        self.scan_calls = 0
        self.scan_hits = 0
        self._last_scan: dict = {}

    def note_scan(self, key, df) -> None:
        """A scan whose DataFrame is the very object an earlier identical
        call returned was answered from the package's scan cache."""
        self.scan_calls += 1
        if self._last_scan.get(key) is df:
            self.scan_hits += 1
        self._last_scan[key] = df


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout_s: float) -> None:
    deadline = _clock() + timeout_s
    while any(_alive(p) for p in pids) and _clock() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = _clock() + 5
    while any(_alive(p) for p in pids) and _clock() < deadline:
        time.sleep(0.05)


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (Python workers included) has exited."""
    from pyspark import SparkContext

    from perfbench.telemetry import descendants

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    _reap(kids, 15)


def _watchdog() -> threading.Timer:
    def abort():
        from perfbench.telemetry import descendants

        print(f"perfbench: run exceeded {DEADLINE_S} s; aborting", file=sys.stderr, flush=True)
        for p in descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (_clock() - _T0), abort)
    t.daemon = True
    t.start()
    return t


def _setup(ctx, warm_path: str) -> dict:
    """get_spark + registration + one warm-up readstat job. The job has
    the shape of the workloads' aggregates, so it also starts the Python
    planning and scan workers and compiles that plan shape."""
    from perfbench.workloads import StatFiles, _agg

    from polars_readstat_rs_spark import api, datasource
    from polars_readstat_rs_spark.session import get_spark

    tr = ctx.tracer
    t0 = _clock()
    with tr.span("session", "get_spark", "setup"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    t1 = _clock()
    with tr.span("session", "register", "setup"):
        datasource.register(spark)
    t2 = _clock()
    with tr.span("session", "first_job", "setup"):
        n = _agg(api.readstat_scan(spark, warm_path), *StatFiles.FULL).collect()[0]["n"]
    t3 = _clock()
    if n != WARM_ROWS:
        raise RuntimeError(f"warm-up scan counted {n} rows, expected {WARM_ROWS}")
    ctx.spark = spark
    return {"setup_s": t3 - t0, "get_spark_s": t1 - t0, "register_s": t2 - t1, "first_job_s": t3 - t2}


def _empty_job_floor(spark) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = _clock()
        spark.range(1).write.format("noop").mode("overwrite").save()
        best = min(best, _clock() - t0)
    return best


def _writer_probe(ctx, seed: int) -> list[dict]:
    """One distributed .dta write of the probe table, for workloads that
    do not write themselves."""
    from perfbench import data, probes
    from perfbench.telemetry import job_group_stats

    df = ctx.spark.createDataFrame(data.stat_table(seed ^ 0xF0F0, probes.PROBE_ROWS))
    path = os.path.join(ctx.data_dir, "probe_write.dta")
    ctx.spark.sparkContext.setJobGroup("probe-write", "probe-write")
    with ctx.tracer.span("api", "write", "probe-write"):
        t0 = _clock()
        df.write.format("readstat").mode("overwrite").save(path)
        save_s = _clock() - t0
    return [{"save_s": save_s, "spark": job_group_stats(ctx.spark, "probe-write"), "bytes": os.path.getsize(path)}]


def end_to_end(wl, ops, setup: dict, peak_rss_mb: float) -> dict:
    """Sums over the pass, not per-operation percentiles: a pass mixes
    operations of very different cost, so a sum over the pass is the
    figure that stays put from run to run."""
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (sum(o["wall_s"] for o in ops), "s"),
        "disk_bytes_per_user_byte": (wl.disk_bytes / max(wl.user_bytes, 1), "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(ctx, ops, setup: dict, probe: dict, writes: list[dict]) -> dict:
    """Sums over the pass, except where a name says otherwise."""
    stats = [o["spark"] for o in ops if "spark" in o]
    m = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "session.first_job_s": (setup["first_job_s"], "s"),
        "api.plan_s": (statistics.median(o["build_s"] for o in ops if "build_s" in o), "s"),
        "api.scan_cache_hit_ratio": (ctx.scan_hits / ctx.scan_calls if ctx.scan_calls else 0.0, "ratio"),
        "spark.exec_s": (sum(s["exec_s"] for s in stats), "s"),
        "spark.tasks": (sum(s["tasks"] for s in stats), "count"),
        "spark.task_cpu_s": (sum(s["task_cpu_s"] for s in stats), "s"),
        "spark.gc_s": (sum(s["gc_s"] for s in stats), "s"),
        "spark.shuffle_write_bytes": (sum(s["shuffle_write_bytes"] for s in stats), "bytes"),
        "spark.spill_bytes": (sum(s["spill_bytes"] for s in stats), "bytes"),
        "spark.scan_python_bytes": (sum(o.get("scan_python_bytes", 0) for o in ops), "bytes"),
        "ops.build_s": (sum(o.get("build_s", 0.0) for o in ops), "s"),
        "ops.exec_s": (sum(o.get("exec_s", 0.0) for o in ops), "s"),
        "writer.task_s": (sum(st["wall_s"] for w in writes for st in w["spark"]["stages"]), "s"),
        "writer.commit_s": (sum(w["save_s"] - w["spark"]["exec_s"] for w in writes), "s"),
        "writer.output_bytes": (sum(w["bytes"] for w in writes), "bytes"),
        "trace.overhead_s": (ctx.tracer.overhead_s, "s"),
        "trace.wall_s": (sum(o["wall_s"] for o in ops), "s"),
    }
    for k, v in probe.items():
        m[k] = (v, "count" if k.endswith("partition_count") else ("rows/s" if k.endswith("rows_per_s") else "s"))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "polars_readstat_rs_spark")):
        print(f"perfbench: no polars_readstat_rs_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import data, probes
    from perfbench.telemetry import NullTracer, RssSampler, Tracer, host_facts
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _watchdog()
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    results_dir = os.path.join(WORK, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(results_dir, exist_ok=True)
    cpus, driver_mem = _env(run_dir)
    try:
        import polars_readstat_rs_spark.api  # noqa: F401 - the program must import
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    tracer = Tracer() if args.trace else NullTracer()
    ctx = Ctx(args.seed, tracer, run_dir, cpus)
    os.makedirs(ctx.data_dir)
    wl = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        t0 = _clock()
        wl.stage()
        warm_path = os.path.join(ctx.data_dir, "warm.dta")
        data.write_stat("dta", data.stat_table(args.seed, WARM_ROWS), warm_path)
        stage_s = _clock() - t0

        rss = RssSampler().start()
        setup = _setup(ctx, warm_path)
        spark = ctx.spark
        floor_s = _empty_job_floor(spark)
        wl.prepare()

        t0 = _clock()
        ops = wl.run()
        pass_s = _clock() - t0

        probe, writes = {}, wl.writes
        if args.trace:
            fmt_metrics, probe_paths = probes.format_probes(tracer, args.seed, ctx.data_dir)
            probe.update(fmt_metrics)
            probe.update(probes.planning_probes(tracer, wl.planning_inputs or probe_paths))
            if not writes:
                writes = _writer_probe(ctx, args.seed)
        peak_rss_mb = rss.stop()
        inputs = data.manifest(wl.staged, ctx.data_dir)
    finally:
        _shutdown(spark)

    if pass_s < args.seconds:
        print(f"perfbench: the pass took {pass_s:.1f} s, less than --seconds {args.seconds:g}",
              file=sys.stderr)
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        print(f"perfbench: FAILED {o.get('error', o['name'])}", file=sys.stderr)
    facts = host_facts(ROOT, cpus, driver_mem)
    facts.update(empty_job_floor_s=floor_s, stage_s=stage_s,
                 setup={k: round(v, 4) for k, v in setup.items()})
    report = {"pass_wall_s": (pass_s, "s"),
              "error_rate": (len(failed) / len(ops), "ratio"),
              "peak_rss_mb": (peak_rss_mb, "MB"), "setup_s": (setup["setup_s"], "s"),
              **wl.report(ops)}
    if args.trace:
        metrics = per_layer(ctx, ops, setup, probe, writes)
        layers = {k: round(v, 4) for k, v in sorted(tracer.self_time_by_layer().items())}
        detail = {"self_s_by_layer": layers}
        if args.workload == "llm_ops":
            detail["ops"] = {o["name"]: {"s": round(o["wall_s"], 4),
                                         "shuffle_write_bytes": o["spark"]["shuffle_write_bytes"]}
                             for o in ops if "spark" in o}
        tracer.dump(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        metrics = end_to_end(wl, ops, setup, peak_rss_mb)
        detail = {}
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": facts,
              "inputs": inputs, "report": report, **detail,
              "ops": [[o["name"], round(o["wall_s"], 4), round(o.get("build_s", 0.0), 4), o["ok"]]
                      for o in ops]}
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    print("perfbench host " + json.dumps(facts))
    print("perfbench inputs " + json.dumps(inputs))
    print("perfbench report " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in report.items()}))
    if detail:
        print("perfbench layers " + json.dumps(detail))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
