#!/usr/bin/env python3
"""Benchmark entry point: one workload, one closed-loop run.

    python3 perfbench/run.py --workload coreset_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It prints a host record, one line per
metric (name, value, unit) and, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The exit status is non-zero when any output check fails. See
perfbench/README.md for the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {  # name -> unit; every workload reports every one
    "setup_s": "s",
    "wall_s": "s",
    "points_per_s": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "edge_ratio": "ratio",
    "clique_ratio": "ratio",
    "driver_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "sources.scan_s": "s",
    "coreset.build_s": "s",
    "coreset.noop_s": "s",
    "coreset.transfer_s": "s",
    "coreset.kernel_task_s": "s",
    "coreset.kernel_tasks": "count",
    "coreset.rows": "count",
    "kernel.finish_s": "s",
    "kernel.eval_s": "s",
    "kernel.distance_evals": "count",
    "stream.snapshots_s": "s",
    "stream.compose_s": "s",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.batch_max_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.input_rows": "count",
    "query.construct_s": "s",
    "query.construct_jobs": "count",
    "query.execute_s": "s",
    "query.collect_s": "s",
    "query.transfer_s": "s",
    "query.result_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "jvm_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["coreset_batch", "stream_coreset", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size as a multiple of the stated size (self-test only)")
    ap.add_argument("--work-dir", default=WORK)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str:
    """Keep every file Spark, the engine and Python write inside the
    checkout; returns the event-log directory."""
    tmp = os.path.join(work, f"tmp_{os.getpid()}")
    log_dir = os.path.join(tmp, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    import tempfile

    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(tmp, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python workers import the engine and the workloads by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import spans as tr

    # -XX:-UsePerfData: no hsperfdata file, which a JVM writes under /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    args = [
        "--conf", f"spark.driver.extraJavaOptions={jvm_opts}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += tr.event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss(pid: int | str = "self") -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def host_record() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
    }


class Tally:
    """Operations attempted and failed, with the failed checks."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def add(self, results) -> list[float]:
        """Run each operation's check; returns the latencies."""
        for _lat, check in results:
            self.record(check())
        return [lat for lat, _ in results]

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(problems)
        self.problems += problems


def run(args) -> dict:
    log_dir = prepare_env(args.work_dir, bool(args.trace))
    import spans as tr
    import workloads

    host = host_record()
    w = workloads.make(args.workload, args.scale)
    w.prepare(args.work_dir, args.seed)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = tr.Tracer(run_id, enabled=bool(args.trace))
    tally = Tally()
    spark = None
    try:
        with tracer.span("setup"):
            with tracer.span("session.start") as s_start:
                from diversity_maximization_spark.session import get_spark

                spark = get_spark("perfbench")
            tracer.spark = spark
            with tracer.span("registry.load") as s_load:
                from diversity_maximization_spark import registry

                registry.load_all()
            with tracer.span("references"):
                w.references()  # harness prep: not part of set-up time
            reset_peak_rss()  # driver peak from here on: engine, not harness
            with tracer.span("warmup") as s_warm:
                warm = [w.run_pass(spark, tracer) for _ in range(w.warmup_passes)]
        setup_s = s_start.dur + s_load.dur + s_warm.dur
        for res in warm:
            tally.add(res)

        # timed body: back-to-back passes until --seconds have elapsed
        off = tr.Tracer(run_id, enabled=False)
        walls, lats = [], []
        t_body = time.perf_counter()
        while not walls or time.perf_counter() - t_body < args.seconds:
            t0 = time.perf_counter()
            res = w.run_pass(spark, off)
            walls.append(time.perf_counter() - t0)
            lats += tally.add(res)

        if args.trace:
            listener = tr.StreamProgress()
            spark.streams.addListener(listener)
            with tracer.span("traced_pass") as body:
                with workloads.layer_wrappers(tracer, w.layer_targets()):
                    traced = w.run_pass(spark, tracer)
            tally.add(traced)
            listener.wait_terminated()
            spark.streams.removeListener(listener)
            stream = listener.summary()
            if w.stream_rows is not None:
                got = stream["input_rows"]
                tally.record(
                    [] if got == w.stream_rows
                    else [f"streamed {got} input rows, expected {w.stream_rows}"]
                )
            for s in tracer.find("stream.snapshots"):
                s.groups += listener.started  # micro-batch jobs run under their runId
            with tracer.span("probes"):
                w.probes(spark, tracer)
            tracer.count_jobs()
            # one more untraced pass: the traced pass is compared with the
            # mean of its two untraced neighbours, so the warm-up still in
            # progress over the first passes cancels out
            t0 = time.perf_counter()
            res = w.run_pass(spark, off)
            neighbours = (walls[-1] + time.perf_counter() - t0) / 2
            tally.add(res)
        jvm_rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            stop_spark(spark)
    driver_rss = peak_rss_mb()

    wall = statistics.median(walls)
    q = w.quality
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "points_per_s": w.input_rows / wall,
        "query_p50_s": statistics.median(lats),
        "query_tail_s": max(lats),
        "edge_ratio": q.get("edge_ratio", 0.0),
        "clique_ratio": q.get("clique_ratio", 0.0),
        "driver_rss_mb": driver_rss,
    }
    if args.trace:
        tr.attach_event_log(tracer, tr.read_event_log(log_dir))
        metrics = layer_metrics(tracer, body, stream, neighbours, jvm_rss)
    else:
        metrics = e2e
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": w.input_rows,
        "passes": len(walls),
        "ops": len(lats),
        "selected": q.get("selected"),
        "fail_frac": tally.failed / max(tally.attempted, 1),
        "jvm_rss_mb": jvm_rss,
        "host_before": host,
        "host_after": host_record(),
    }
    if args.trace:
        path = os.path.join(args.work_dir, f"trace_{run_id}.json")
        tracer.dump(path, {"info": info, "end_to_end": e2e, "per_layer": metrics})
    return {
        "e2e": e2e,
        "metrics": metrics,
        "info": info,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "problems": tally.problems,
    }


def layer_metrics(tracer, body, stream: dict, untraced: float, jvm_rss: float) -> dict:
    """Per-layer numbers of set-up, the traced pass and its probes."""
    inside = [body] + tracer.subtree(body)
    probes = tracer.find("probes")[0]
    scope = inside + [probes] + tracer.subtree(probes)

    def T(name: str, key: str | None = None) -> float:
        """Summed duration (or attribute) of the named spans in scope."""
        spans = [s for s in scope if s.name == name]
        if key is None:
            return sum(s.dur for s in spans)
        return sum(s.attrs.get(key, 0) for s in spans)

    def spark_sum(key: str) -> float:
        # each job carries the group of its innermost span, so summing
        # over the traced pass's spans counts every job once
        return sum(s.attrs.get(key, 0) for s in inside)

    build = T("coreset.collect")
    noop = T("probe.coreset.noop")
    collect = T("query.collect")
    execute = T("probe.query.execute")
    snaps = T("stream.snapshots")
    compose = sum(tracer.self_time(s) for s in inside if s.name == "stream.coreset_sharded")
    m = {
        "session.start_s": tracer.total("session.start"),
        "registry.load_s": tracer.total("registry.load"),
        "sources.scan_s": T("probe.sources.scan"),
        "coreset.build_s": build,
        "coreset.noop_s": noop,
        "coreset.transfer_s": build - noop,
        "coreset.kernel_task_s": T("coreset.collect", "kernel_task_s"),
        "coreset.kernel_tasks": T("coreset.collect", "kernel_tasks"),
        # collect_coreset returns (ids, labels, X, weights)
        "coreset.rows": sum(len(s.attrs["_out"][0]) for s in scope if s.name == "coreset.collect"),
        "kernel.finish_s": T("kernel.finish"),
        "kernel.eval_s": T("kernel.eval"),
        "kernel.distance_evals": body.attrs.get("distance_evals", 0),
        "stream.snapshots_s": snaps,
        "stream.compose_s": compose,
        **{f"stream.{k}": v for k, v in stream.items()},
        "query.construct_s": T("query.construct"),
        "query.construct_jobs": T("query.construct", "jobs"),
        "query.execute_s": execute,
        "query.collect_s": collect,
        "query.transfer_s": collect - execute,
        "query.result_rows": T("query.collect", "rows"),
        "spark.jobs": spark_sum("jobs"),
        "spark.stages": spark_sum("stages"),
        "spark.tasks": spark_sum("tasks"),
        "spark.executor_run_s": spark_sum("executor_run_s"),
        "spark.executor_cpu_s": spark_sum("executor_cpu_s"),
        "spark.shuffle_write_bytes": spark_sum("shuffle_write_bytes"),
        "spark.spill_bytes": spark_sum("spill_bytes"),
        "jvm_rss_mb": jvm_rss,
        "trace.overhead_frac": body.dur / untraced - 1.0,
    }
    for s in tracer.spans:
        s.attrs.pop("_out", None)
    return m


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    if not os.path.isdir(os.path.join(ROOT, "diversity_maximization_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(args.work_dir, exist_ok=True)
    try:
        out = run(args)
    finally:
        shutil.rmtree(os.path.join(args.work_dir, f"tmp_{os.getpid()}"), ignore_errors=True)
    info = out["info"]
    print(f"# host before: {json.dumps(info['host_before'])}")
    print(f"# host after:  {json.dumps(info['host_after'])}")
    print(
        f"# {info['workload']} seed={info['seed']} input_rows={info['input_rows']} "
        f"passes={info['passes']} ops={info['ops']} "
        f"selected={info['selected']}"
    )
    units = {**END_TO_END, **PER_LAYER}
    shown = out["metrics"] if args.trace else out["e2e"]
    for k, v in shown.items():
        print(f"{k:28s} {v:16.6f} {units[k]}")
    print(f"{'fail_frac':28s} {info['fail_frac']:16.6f} ratio")
    if not args.trace:
        print(f"{'jvm_rss_mb':28s} {info['jvm_rss_mb']:16.6f} MB   (per-layer set)")
    for p in out["problems"]:
        print(f"# check failed: {p}")
    correct = out["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
