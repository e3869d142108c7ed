"""Spark-side profile of registry keys, one warm session.

The correctness sweeps conflate Spark time with DuckDB-oracle replay
time, so they cannot rank engine cost. Per key, after ``bench.warm``,
this tool times (a) DataFrame construction (driver code incl. any
eager algorithm work) and (b) execution through the noop sink (every
column of every row computed, then discarded) as the
``construct`` and ``execute`` spans of perfbench's tracer, with each
phase's Spark jobs, stages and tasks and, from the event log, executor
run/CPU seconds, shuffle-write bytes and spill. The session is
perfbench's: its files stay under ``.perfbench_work/`` and its Python
workers find the engine on ``PYTHONPATH`` from any directory. One rep
per key: this ranks the multi-second tail; ``perfbench/run.py`` is
the benchmark.

    python tools/profile_sweep.py [--sf 0.01] [--json-out F] [key ...]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "perfbench")]

import bench  # noqa: E402
import run as perfbench_run  # noqa: E402 - perfbench/run.py
import spans  # noqa: E402
from workloads import noop_write  # noqa: E402


def profile_key(spark, run_id: str, key: str, build) -> spans.Tracer:
    """Construct ``build()`` and execute it into the noop sink, each
    phase in its own span under one ``key`` span; the job, stage and
    task counts are resolved before returning. An exception becomes
    the ``error`` attribute of the ``key`` span. ``run_id`` must be
    unique within the session: it names the phases' job groups."""
    tracer = spans.Tracer(run_id, enabled=True)
    tracer.spark = spark
    try:
        with tracer.span("key", key=key) as top:
            with tracer.span("construct"):
                df = build()
            with tracer.span("execute"):
                noop_write(df)
    except Exception as exc:  # noqa: BLE001 - a profiler keeps going
        top.attrs["error"] = f"{type(exc).__name__}: {exc}"[:200]
    tracer.count_jobs()
    return tracer


def record(tracer: spans.Tracer) -> dict:
    """The JSON record of one ``profile_key`` run: total seconds and,
    per phase, its seconds and every count its span carries."""
    top, *phases = tracer.spans
    if "error" in top.attrs:
        return {"key": top.attrs["key"], "error": top.attrs["error"]}
    rec = {"key": top.attrs["key"], "total_s": round(top.dur, 3)}
    for s in phases:
        rec[s.name] = {"s": round(s.dur, 3), **s.attrs}
    return rec


class Profiler:
    """One session with perfbench's environment and event log on;
    ``close`` stops the JVM and returns every record with the
    executor numbers from the event log."""

    def __init__(self, app: str) -> None:
        self.log_dir = perfbench_run.prepare_env(perfbench_run.WORK, trace=True)
        from diversity_maximization_spark import registry
        from diversity_maximization_spark.session import get_spark

        self.spark = get_spark(app)
        registry.load_all()
        self.tracers: list[spans.Tracer] = []

    def profile(self, key: str, build) -> dict:
        tracer = profile_key(self.spark, str(len(self.tracers)), key, build)
        self.tracers.append(tracer)
        return record(tracer)

    def close(self) -> list[dict]:
        perfbench_run.stop_spark(self.spark)
        log = spans.read_event_log(self.log_dir)
        shutil.rmtree(os.path.dirname(self.log_dir), ignore_errors=True)
        for tracer in self.tracers:
            spans.attach_event_log(tracer, log)
        return [record(t) for t in self.tracers]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--json-out", default=None)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"

    from diversity_maximization_spark import registry

    prof = Profiler("dms-profile-sweep")
    try:
        bench.warm(prof.spark, sf_dir)
        keys = args.keys or list(registry.QUERIES)
        for i, key in enumerate(keys):
            build = functools.partial(registry.QUERIES[key], prof.spark, sf_dir)
            rec = prof.profile(key, build)
            print(f"[{i + 1}/{len(keys)}] {json.dumps(rec)}", flush=True)
    finally:
        out = prof.close()

    ranked = sorted((r for r in out if "total_s" in r), key=lambda r: -r["total_s"])
    print("\n=== top 40 by total Spark-side seconds ===")
    for r in ranked[:40]:
        c, e = r["construct"], r["execute"]
        print(
            f"{r['total_s']:8.2f}s  (c {c['s']:.2f} + e {e['s']:.2f}; "
            f"jobs {c['jobs']}+{e['jobs']}; executor cpu "
            f"{c['executor_cpu_s'] + e['executor_cpu_s']:.2f}s)  {r['key']}"
        )
    errs = [r for r in out if "error" in r]
    if errs:
        print(f"\n{len(errs)} errors:")
        for r in errs:
            print(f"  {r['key']}: {r['error']}")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(out, f, indent=1)
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
