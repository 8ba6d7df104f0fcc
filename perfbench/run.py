"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload {arc_backfill,headline_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Builds its inputs from ``--seed``
(cached per seed under ``.bench_work/``), sets up a ``local[nproc]``
session, measures for ``--seconds`` seconds, checks every output, and
prints as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones (see README.md).
The line before it is a JSON detail record: the session's description,
sample counts and the tail percentile the samples support.
"""

from __future__ import annotations

import time

T0 = time.time()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import harness as H  # noqa: E402

WORKLOADS = ("arc_backfill", "headline_mix")

#: (name, unit) of every end-to-end metric (``--trace 0``).
END_TO_END = (
    ("setup_s", "s"),
    ("throughput_ops", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("peak_rss_mb", "MB"),
)


def per_layer_metrics() -> tuple[tuple[str, str], ...]:
    """(name, unit) of every per-layer metric (``--trace 1``).  A layer a
    workload does not exercise reads 0 there."""
    from headline import QUERIES

    fixed = (
        ("session.start_s", "s"),
        ("session.warmup_s", "s"),
        ("sources.scan_ms", "ms"),
        ("sources.write_ms", "ms"),
        ("sources.latest_offset_ms", "ms"),
        ("sources.get_batch_ms", "ms"),
        ("pipeline.build_ms", "ms"),
        ("pipeline.decode_ms", "ms"),
        ("pipeline.filter_project_ms", "ms"),
        ("pipeline.records_in", "count"),
        ("pipeline.malformed", "count"),
        ("pipeline.events_out", "count"),
        ("pipeline.selectivity", "ratio"),
        ("pipeline.plan_json_parses", "count"),
        ("pipeline.input_eps", "1/s"),
        ("stream.trigger_ms", "ms"),
        ("stream.add_batch_ms", "ms"),
        ("stream.wal_commit_ms", "ms"),
        ("stream.commit_offsets_ms", "ms"),
        ("stream.query_planning_ms", "ms"),
        ("stream.rows_per_batch", "count"),
        ("stream.batches", "count"),
        ("state.rows_total", "count"),
        ("state.memory_bytes", "B"),
        ("state.commit_ms", "ms"),
        ("registry.build_ms", "ms"),
        ("registry.build_ms_cold", "ms"),
        ("spark.plan_ms", "ms"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.coord_ms", "ms"),
        ("spark.task_run_ms", "ms"),
        ("spark.task_cpu_ms", "ms"),
        ("spark.gc_ms", "ms"),
        ("spark.shuffle_read_bytes", "B"),
        ("spark.shuffle_write_bytes", "B"),
        ("spark.spill_bytes", "B"),
        ("spark.tasks_failed", "count"),
        ("spark.floor_ms", "ms"),
        ("spark.single_core_eps", "1/s"),
        ("trace.overhead_pct", "%"),
    )
    return fixed + tuple((f"query.{q}.p50_ms", "ms") for q in QUERIES)


#: Seconds of ops between two host-speed canary samples.
CANARY_EVERY_S = 1.5


class Clock:
    """Set-up time (process start to the first timed op, minus the
    benchmark's own work: input generation and canary samples) and the
    host-speed canary samples taken between ops."""

    def __init__(self, t0: float, probe: H.HostProbe):
        self.t0 = t0
        self.probe = probe
        self.excluded = 0.0
        self.first = None

    def untimed(self, fn, *args):
        t = time.time()
        try:
            return fn(*args)
        finally:
            self.excluded += time.time() - t

    def canary(self) -> None:
        self.untimed(self.probe.sample)

    def maybe_canary(self) -> None:
        """Sample the canary if the last sample is ``CANARY_EVERY_S`` old:
        host phases last seconds, so ops in between share their factor."""
        if time.time() - self.probe.samples[-1][0] >= CANARY_EVERY_S:
            self.canary()

    def first_op(self) -> None:
        """Mark the end of set-up, after a canary sample for the first op."""
        self.canary()
        self.first = time.time()

    @property
    def setup_s(self) -> float:
        return self.first - self.t0 - self.excluded


def floor_ms(spark, reps: int = 9) -> float:
    """Wall time of dispatching and collecting an empty plan (median)."""
    spark.range(0).collect()
    times = []
    for _ in range(reps):
        t = time.time()
        spark.range(0).collect()
        times.append((time.time() - t) * 1000)
    return H.median(times)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--single-core", action="store_true",
                    help="internal: the single-core baseline child process")
    args = ap.parse_args(argv)

    if args.single_core:
        H.prepare_env(1)
        import arc

        print(json.dumps({"single_core_eps": arc.single_core_eps(args.seed)}))
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    H.prepare_env(H.nproc())
    # Import the program first: outside a checkout this fails before
    # anything is printed.
    import bench  # noqa: F401
    import lambda_arc_events_filter_spark  # noqa: F401

    import arc
    import headline

    tmp = os.path.join(H.WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    run_fn = {
        "arc_backfill": arc.arc_backfill,
        "headline_mix": headline.headline_mix,
    }[args.workload]
    trace = bool(args.trace)
    probe = H.HostProbe(H.nproc())
    try:
        clock = Clock(T0, probe)
        t = time.time()
        spark = H.start_session()
        start_s = time.time() - t
        probe.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        env = H.describe(spark)
        try:
            run = run_fn(spark, args.seed, args.seconds, trace, clock)
            floor = floor_ms(spark) if trace else 0.0
        finally:
            H.stop_session(spark)
    finally:
        probe.close()
    single = 0.0
    if trace and args.workload == "arc_backfill":
        single = arc.run_single_core_child(args.seed)
    shutil.rmtree(tmp, ignore_errors=True)

    # Times are reported at the reference host speed (see HostProbe); the
    # detail line keeps the raw ones.
    raw = run.latencies_ms
    factors = [probe.factor_around(a, b) for a, b in run.op_spans]
    lat = [ms * f for ms, f in zip(raw, factors)]
    # Set-up is scaled by the run's canary median: right after warm-up the
    # JVM is still compiling and a canary then reads the JVM, not the host.
    setup_factor = probe.factor([s for _, s in probe.samples])
    tail = H.tail_percentile(lat)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "samples": len(lat),
        "tail_percentile": tail,
        "tail_ms": H.percentile(lat, tail) if tail else None,
        "error_rate": run.failed / max(1, run.attempted),
        "raw": {
            "setup_s": clock.setup_s,
            "latency_p50_ms": H.percentile(raw, 50) if raw else None,
            "latency_p90_ms": H.percentile(raw, 90) if raw else None,
        },
        "host_factor": setup_factor,
        **run.detail,
    }
    if trace:
        values = dict.fromkeys((n for n, _ in per_layer_metrics()), 0.0)
        values.update(run.layers)
        values["session.start_s"] = start_s
        values["session.warmup_s"] = run.warmup_s
        values["spark.floor_ms"] = floor
        values["spark.single_core_eps"] = single
        units = dict(per_layer_metrics())
    else:
        # A run whose every op failed has no latencies; it still prints a
        # result (correct: false), with its op metrics at 0.
        values = {
            "setup_s": clock.setup_s * setup_factor,
            "throughput_ops": len(lat) / (sum(lat) / 1000) if lat else 0.0,
            "latency_p50_ms": H.percentile(lat, 50) if lat else 0.0,
            "latency_p90_ms": H.percentile(lat, 90) if lat else 0.0,
            "peak_rss_mb": run.peak_rss_mb,
        }
        units = dict(END_TO_END)
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics without a declared unit: {sorted(unknown)}")
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    n: {"value": float(values[n]), "unit": units[n]} for n in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    # Every process the run starts, and every orphan they leave, has
    # ended before the run exits, on every path out of ``main``.
    H.adopt_orphans()
    try:
        rc = main()
    finally:
        H.reap_children()
    sys.exit(rc)
