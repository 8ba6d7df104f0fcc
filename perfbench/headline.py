"""``headline_mix``: a closed loop, one client, over a fixed mix of the
``bench.HEADLINE`` queries on seeded sf0.1-shaped fixtures.

Each pass runs every query of the mix once, in an order shuffled by the
seed; a run is as many whole passes as fit in ``--seconds``.  Results
are materialized the way ``bench._materialize`` does it, and checked
against DuckDB with ``testing.check_query`` after the timed loop.
"""

from __future__ import annotations

import os
import time
import traceback

import gen
import harness as H

SF = 0.1
#: The mix, kept small enough that a cold pass fits the benchmark's time
#: budget, and odd-sized so that whole passes put the median and p90
#: inside one query's samples rather than between two: aggregation and
#: shuffle (q01_pricing_summary), a join (join_inner_orders_customer), and
#: a watermarked stream aggregate on the state store
#: (stream_tumbling_counts).  join_multiway_star is left out: on some
#: seeds (0 and 12 among 0-24) its round(sum(double), 2) lands on a
#: half-cent tie and Spark and DuckDB round it differently.
QUERIES = (
    "q01_pricing_summary",
    "join_inner_orders_customer",
    "stream_tumbling_counts",
)
#: Untimed passes before the first timed op: a query's latency falls by
#: up to a third over its first five runs while the JVM compiles it.
WARMUP_PASSES = 2


def headline_inputs(seed: int) -> str:
    return gen.cached_dir(
        os.path.join(H.WORK, "data", "headline_mix"),
        f"s{seed}-sf{SF}",
        lambda d: gen.build_headline(d, seed, SF),
    )


def headline_mix(spark, seed: int, seconds: float, trace: bool, clock) -> H.Run:
    import bench
    from lambda_arc_events_filter_spark.registry import specs
    from lambda_arc_events_filter_spark.testing import check_query, duck_connection

    sf_dir = clock.untimed(headline_inputs, seed)
    all_specs = specs()
    fns = {n: all_specs[n].fn for n in QUERIES}
    sc = spark.sparkContext

    build_cold = 0.0
    warm_t = time.time()
    for w in range(WARMUP_PASSES):
        for name in QUERIES:
            t = time.time()
            df = fns[name](spark, sf_dir)
            if w == 0:
                build_cold += time.time() - t
            bench._materialize(name, df)
    warmup_s = time.time() - warm_t
    clock.first_op()

    tracer = H.Tracer()
    listener = H.ProgressListener() if trace else None
    per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
    traced_q: dict[str, list[float]] = {n: [] for n in QUERIES}
    plain_q: dict[str, list[float]] = {n: [] for n in QUERIES}
    errors: dict[str, int] = dict.fromkeys(QUERIES, 0)
    lat, spans, spark_ops, measured, p = [], [], [], 0.0, 0
    while measured < seconds:
        order = list(QUERIES)
        gen.rng_for(seed, f"pass{p}").shuffle(order)
        for name in order:
            # Every other run of each query is traced, so traced and
            # untraced ops share the run's drift.
            traced = trace and len(per_query[name]) % 2 == 1
            op = f"pass{p}-{name}"
            if traced:
                spark.streams.addListener(listener.listener)
                sc.setJobGroup(op, "perfbench headline_mix")
            t0 = time.time()
            try:
                if traced:
                    with tracer.span("op", op):
                        with tracer.span("build", op):
                            df = fns[name](spark, sf_dir)
                        with tracer.span("plan", op):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("execute", op) as x:
                            bench._materialize(name, df)
                else:
                    bench._materialize(name, fns[name](spark, sf_dir))
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc()
                errors[name] += 1
                x = None
            t1 = time.time()
            ms = (t1 - t0) * 1000
            measured += ms / 1000
            lat.append(ms)
            spans.append((t0, t1))
            per_query[name].append(ms)
            (traced_q if traced else plain_q)[name].append(ms)
            clock.maybe_canary()
            if traced:
                spark.streams.removeListener(listener.listener)
                sc.setLocalProperty("spark.jobGroup.id", None)
                if x is not None:
                    H.drain_listener_bus(spark)
                    stats, intervals = H.group_stage_stats(spark, op)
                    stats["coord_ms"] = x.ms - H.covered_ms(x.start, x.end, intervals)
                    spark_ops.append(stats)
        p += 1
    clock.canary()
    rss = H.peak_rss_mb(spark)

    con = duck_connection(sf_dir)
    mismatched = {}
    try:
        for name in QUERIES:
            try:
                problems = check_query(all_specs[name], spark, con, sf_dir)
            except Exception as ex:  # noqa: BLE001 - reported as a mismatch
                problems = [repr(ex)]
            if problems:
                mismatched[name] = problems[:2]
    finally:
        con.close()
    failed = sum(
        len(per_query[n]) if n in mismatched else errors[n] for n in QUERIES
    )

    layers = {}
    detail = {
        "passes": p,
        "sf": SF,
        "mismatched": mismatched,
        "query_p50_ms": {n: round(H.median(per_query[n]), 1) for n in QUERIES},
    }
    if trace:
        ops = tracer.by_name("op")
        child = {s.op: 0.0 for s in ops}
        for s in tracer.spans:
            if s.name != "op":
                child[s.op] += s.ms
        detail["span_coverage_pct"] = 100 * sum(child.values()) / sum(s.ms for s in ops)
        layers = H.progress_layer(listener.events)
        layers.update(H.spark_means(spark_ops))
        layers["registry.build_ms"] = H.median([s.ms for s in tracer.by_name("build")])
        layers["registry.build_ms_cold"] = build_cold * 1000
        layers["spark.plan_ms"] = H.median([s.ms for s in tracer.by_name("plan")])
        both = [n for n in QUERIES if traced_q[n] and plain_q[n]]
        layers["trace.overhead_pct"] = H.overhead_pct(
            [sum(H.median(traced_q[n]) for n in both)],
            [sum(H.median(plain_q[n]) for n in both)],
        )
        for n in QUERIES:
            layers[f"query.{n}.p50_ms"] = H.median(per_query[n])
        tracer.dump(os.path.join(H.WORK, "trace", f"headline_mix-{seed}.jsonl"))
    return H.Run(len(lat), failed, lat, warmup_s, layers, detail, rss, spans)
