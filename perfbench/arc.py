"""The Arc workload ``arc_backfill`` (closed loop, batch).

It runs the package's Tier A pipeline as a black box:
``decode_kinesis_records`` -> ``filter_events`` -> ``project_payload``,
into ``sources.readers.write_parquet``.  Outputs are read back untimed
and compared with the generator's oracle by count and order-insensitive
hash.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import traceback

import gen
import harness as H

#: arc_backfill: the seed's one chunk, its size and its body size.
CHUNK = "chunk-0000.parquet"
CHUNK_RECORDS = 25_000
BODY_BYTES = 1500
ROW_GROUP = 1024
#: The fixed slice the single-core baseline repeats (head of the chunk).
SLICE_RECORDS = 5_000
#: Untimed ops before the first timed one: op latency falls by a third
#: over a fresh JVM's first ten or so ops while it compiles the hot paths.
WARMUP_OPS = 8
PREFIX_REPS = 5


def scan(spark, path: str):
    return spark.read.schema(gen.ENVELOPE_DDL).parquet(path)


def pipeline(src):
    """The Tier A pipeline over an envelope DataFrame."""
    from lambda_arc_events_filter_spark.streaming.pipeline import (
        decode_kinesis_records,
        filter_events,
        project_payload,
    )

    return project_payload(filter_events(decode_kinesis_records(src), **gen.ARC_FILTER))


def backfill_inputs(seed: int) -> str:
    def build(d):
        gen.build_arc(d, seed, "chunk", 1, CHUNK_RECORDS, BODY_BYTES, ROW_GROUP)
        recs, exp, _ = gen.arc_records(seed, CHUNK, SLICE_RECORDS, BODY_BYTES)
        gen.write_records(os.path.join(d, "slice.parquet"), recs, ROW_GROUP)
        with open(os.path.join(d, "slice.json"), "w") as f:
            json.dump({"records": len(recs), "digest": gen.row_digest(exp)}, f)

    key = f"s{seed}-{CHUNK_RECORDS}-b{BODY_BYTES}"
    return gen.cached_dir(os.path.join(H.WORK, "data", "arc_backfill"), key, build)


def arc_backfill(spark, seed: int, seconds: float, trace: bool, clock) -> H.Run:
    """Closed loop, one client: each op backfills the chunk through the
    pipeline into parquet.  In a traced run every other op is traced, so
    the run carries its own tracing overhead."""
    from lambda_arc_events_filter_spark.sources.readers import write_parquet

    data = clock.untimed(backfill_inputs, seed)
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)[CHUNK]
    path = os.path.join(data, CHUNK)
    out = os.path.join(H.WORK, "out", "arc_backfill")
    shutil.rmtree(out, ignore_errors=True)
    sc = spark.sparkContext

    t = time.time()
    for _ in range(WARMUP_OPS):
        write_parquet(pipeline(scan(spark, path)), os.path.join(out, "warmup"))
    warmup_s = time.time() - t
    clock.first_op()

    tracer = H.Tracer()
    lat, traced_ms, plain_ms, spark_ops, written = [], [], [], [], []
    spans, measured, i = [], 0.0, 0
    while measured < seconds:
        op = f"op{i}"
        dest = os.path.join(out, op)
        traced = trace and i % 2 == 1
        t0 = time.time()
        try:
            if traced:
                sc.setJobGroup(op, "perfbench arc_backfill")
                with tracer.span("op", op):
                    with tracer.span("build", op):
                        df = pipeline(scan(spark, path))
                    with tracer.span("plan", op):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("write", op) as w:
                        write_parquet(df, dest)
            else:
                write_parquet(pipeline(scan(spark, path)), dest)
            written.append(dest)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            w = None
        t1 = time.time()
        ms = (t1 - t0) * 1000
        measured += ms / 1000
        lat.append(ms)
        spans.append((t0, t1))
        (traced_ms if traced else plain_ms).append(ms)
        clock.maybe_canary()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if traced and w is not None:
            H.drain_listener_bus(spark)
            stats, intervals = H.group_stage_stats(spark, op)
            stats["coord_ms"] = w.ms - H.covered_ms(w.start, w.end, intervals)
            spark_ops.append(stats)
        i += 1
    clock.canary()
    rss = H.peak_rss_mb(spark)

    events_out, failed = [], len(lat) - len(written)
    for dest in written:  # untimed read-back against the oracle
        rows = gen.read_event_rows(dest)
        events_out.append(len(rows))
        if list(gen.row_digest(rows)) != expected["digest"]:
            failed += 1
        shutil.rmtree(dest)

    layers, detail = {}, {"records_per_op": CHUNK_RECORDS}
    if trace:
        layers = _backfill_layers(
            spark, path, expected, tracer, spark_ops, lat, events_out,
            traced_ms, plain_ms,
        )
        tracer.dump(os.path.join(H.WORK, "trace", f"arc_backfill-{seed}.jsonl"))
    return H.Run(len(lat), failed, lat, warmup_s, layers, detail, rss, spans)


def _noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return (time.time() - t) * 1000


def prefix_layers(spark, path: str) -> tuple[dict, float]:
    """Scan, decode and filter+project costs of one input file, timed as
    pipeline prefixes into the ``noop`` sink (interleaved, medians), plus
    the ``from_json`` count of the full pipeline's executed plan.  Also
    returns the full prefix's median, for the cost of the real sink."""
    from lambda_arc_events_filter_spark.streaming.pipeline import (
        decode_kinesis_records,
    )

    runs = {"scan": [], "decode": [], "full": []}
    for _ in range(PREFIX_REPS):  # interleaved, so drift hits all three
        runs["scan"].append(_noop(scan(spark, path)))
        runs["decode"].append(_noop(decode_kinesis_records(scan(spark, path))))
        runs["full"].append(_noop(pipeline(scan(spark, path))))
    med = {k: H.median(v) for k, v in runs.items()}
    plan = pipeline(scan(spark, path))._jdf.queryExecution().executedPlan().treeString()
    return {
        "sources.scan_ms": med["scan"],
        "pipeline.decode_ms": med["decode"] - med["scan"],
        "pipeline.filter_project_ms": med["full"] - med["decode"],
        "pipeline.plan_json_parses": json_parses(plan),
    }, med["full"]


def _backfill_layers(
    spark, path, expected, tracer, spark_ops, lat, events_out, traced_ms, plain_ms,
) -> dict:
    layers, full_ms = prefix_layers(spark, path)
    n_in = CHUNK_RECORDS
    layers.update({
        "sources.write_ms": H.median([s.ms for s in tracer.by_name("write")]) - full_ms,
        "pipeline.build_ms": H.median([s.ms for s in tracer.by_name("build")]),
        "pipeline.records_in": n_in,
        "pipeline.malformed": expected["malformed"],
        "pipeline.events_out": H.mean(events_out),
        "pipeline.selectivity": H.mean(events_out) / n_in,
        "pipeline.input_eps": n_in * len(lat) / (sum(lat) / 1000),
        "spark.plan_ms": H.median([s.ms for s in tracer.by_name("plan")]),
        "trace.overhead_pct": H.overhead_pct(traced_ms, plain_ms),
    })
    layers.update(H.spark_means(spark_ops))
    return layers


def json_parses(tree: str) -> int:
    """``from_json`` expressions in an executed plan's operators; scan
    nodes are skipped, since their pushed-filter metadata repeats the
    Filter's expressions."""
    return sum(
        line.count("from_json(")
        for line in tree.splitlines()
        if "FileScan" not in line and "BatchScan" not in line
    )


def single_core_eps(seed: int, reps: int = 4) -> float:
    """Median events/s of the fixed slice op in a ``local[1]`` process."""
    from lambda_arc_events_filter_spark.sources.readers import write_parquet

    data = backfill_inputs(seed)
    spark = H.start_session()
    try:
        path = os.path.join(data, "slice.parquet")
        out = os.path.join(H.WORK, "out", "single_core")
        with open(os.path.join(data, "slice.json")) as f:
            want = json.load(f)["digest"]
        times = []
        for i in range(2 + reps):
            t = time.time()
            write_parquet(pipeline(scan(spark, path)), out)
            if i >= 2:
                times.append(time.time() - t)
        if list(gen.row_digest(gen.read_event_rows(out))) != want:
            raise RuntimeError("single-core slice output differs from the oracle")
        return SLICE_RECORDS / H.median(times)
    finally:
        H.stop_session(spark)


def run_single_core_child(seed: int) -> float:
    """Run ``single_core_eps`` in a child process with one Spark core."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--single-core", "--seed", str(seed)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=150, cwd=H.ROOT)
    if proc.returncode != 0:
        raise RuntimeError(f"single-core child failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["single_core_eps"]

