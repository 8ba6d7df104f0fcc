"""Self-tests of the benchmark (not of the engine).

    python -m pytest perfbench -q -p no:cacheprovider

The oracle test starts a one-core Spark session; the rest is plain Python.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

import gen
import harness as H
import run

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_generator_is_deterministic(tmp_path):
    for d in ("a", "b"):
        os.makedirs(tmp_path / d / "arc")
        os.makedirs(tmp_path / d / "headline")
        gen.build_arc(str(tmp_path / d / "arc"), 7, "chunk", 2, 300, 600, 64)
        gen.build_headline(str(tmp_path / d / "headline"), 7, 0.001)
    assert _same_tree(tmp_path / "a" / "arc", tmp_path / "b" / "arc")
    assert _same_tree(tmp_path / "a" / "headline", tmp_path / "b" / "headline")
    os.makedirs(tmp_path / "c")
    gen.build_arc(str(tmp_path / "c"), 8, "chunk", 2, 300, 600, 64)
    assert not filecmp.cmp(
        tmp_path / "a" / "arc" / "chunk-0000.parquet",
        tmp_path / "c" / "chunk-0000.parquet",
        shallow=False,
    )


def test_digests_are_order_insensitive_and_add_up():
    rows = [("a", 1), ("b", 2), ("a", 1)]
    assert gen.row_digest(rows) == gen.row_digest(rows[::-1])
    assert gen.add_digests(gen.row_digest(rows[:1]), gen.row_digest(rows[1:])) == (
        gen.row_digest(rows)
    )
    assert gen.row_digest(rows) != gen.row_digest(rows[:2])


@pytest.fixture(scope="module")
def spark():
    H.prepare_env(1)
    session = H.start_session()
    yield session
    H.stop_session(session)


def test_oracle_equals_spark_pipeline(spark, tmp_path):
    from lambda_arc_events_filter_spark.sources.readers import write_parquet

    import arc

    records, expected, malformed = gen.arc_records(5, "tiny", 800, 500)
    assert malformed > 0 and 0 < len(expected) < len(records)
    src = str(tmp_path / "in.parquet")
    gen.write_records(src, records, 128)
    write_parquet(arc.pipeline(arc.scan(spark, src)), str(tmp_path / "out"))
    got = gen.read_event_rows(str(tmp_path / "out"))
    assert gen.row_digest(got) == gen.row_digest(expected)
    assert sorted(got) == sorted(expected)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert H.tail_percentile(range(19)) is None
    assert H.tail_percentile(range(20)) == 50.0
    assert H.tail_percentile(range(99)) == 50.0
    assert H.tail_percentile(range(100)) == 90.0
    assert H.tail_percentile(range(999)) == 90.0
    assert H.tail_percentile(range(1000)) == 99.0
    assert H.tail_percentile(range(10_000)) == 99.9


def test_percentile_interpolates():
    assert H.percentile([1, 2, 3, 4], 50) == 2.5
    assert H.percentile([5], 90) == 5
    assert H.percentile(range(11), 90) == 9.0


def test_self_time_subtracts_covered_child_time():
    S = H.Span
    spans = [
        S(0, "op", "x", None, 0.0, 10.0),
        S(1, "build", "x", 0, 0.0, 2.0),
        S(2, "plan", "x", 0, 1.0, 3.0),  # overlaps build: counted once
        S(3, "execute", "x", 0, 4.0, 12.0),  # runs past its parent: clipped
        S(4, "stage", "x", 3, 5.0, 6.0),
    ]
    self_ms = H.self_times(spans)
    assert self_ms[0] == pytest.approx((10 - 3 - 6) * 1000)
    assert self_ms[1] == pytest.approx(2000)
    assert self_ms[3] == pytest.approx((8 - 1) * 1000)
    assert self_ms[4] == pytest.approx(1000)


def test_metric_names_are_valid_and_declared():
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    names = e2e + layer + [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) and len(n) <= 64 for n in names)
    assert len(set(e2e + layer)) == len(e2e + layer)
    assert e2e == [n for n, _ in run.END_TO_END]
    assert layer == [n for n, _ in run.per_layer_metrics()]
    units = dict(run.END_TO_END) | dict(run.per_layer_metrics())
    assert all(units[m["name"]] == m["unit"] for m in spec["end_to_end"] + spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_reaper_waits_for_orphans(tmp_path):
    # A grandchild orphaned by its parent must end before the run does.
    script = (
        "import subprocess, harness as H\n"
        "H.adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'], capture_output=True,"
        " text=True).stdout\n"
        "H.reap_children(grace_s=0.2)\n"
        "print(out.strip(), len(H._children()))\n"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=here,
        timeout=60,
    )
    orphan, left = proc.stdout.split()
    assert left == "0"
    assert not os.path.exists(f"/proc/{orphan}")
