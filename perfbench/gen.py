"""Seeded inputs for the perfbench workloads, with their expected outputs.

Everything here is plain Python, NumPy and pyarrow: the benchmark makes
its inputs and its oracle without the engine under test, so a defect in
the engine cannot hide in its own reference.

Arc records follow the Kinesis-to-Lambda envelope (``sequenceNumber``,
``partitionKey``, base64 ``data``); the payload is an Arc XP content event
whose ``body`` is an ANS-like object.  A fixed share of payloads is
malformed (not JSON, or JSON that breaks on its first token), and the
oracle drops exactly those: ``from_json`` yields an all-null event for
them, which no filter predicate keeps.

The same seed gives byte-identical files: every random draw comes from a
generator seeded by (seed, stream name), and parquet files are written
with fixed settings.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import random
import shutil
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The filter every Arc workload runs: about 25% of well-formed events
#: pass (0.55 type x 0.70 operation x 0.65 published).
ARC_FILTER = {
    "types": ("story", "gallery"),
    "operations": ("insert", "update"),
    "published": True,
}
_TYPES = (("story", 0.45), ("gallery", 0.10), ("video", 0.20), ("image", 0.25))
_OPERATIONS = (("insert", 0.40), ("update", 0.30), ("delete", 0.30))
_P_PUBLISHED = 0.65
_MALFORMED_SHARE = 0.01
_MALFORMED = (
    "<html><body><h1>502 Bad Gateway</h1></body></html>",
    "{_id: 'unquoted', type: 'story', operation: 'insert'}",
    "",
)
_SECTIONS = ("news", "business", "politics", "sports", "opinion", "arts", "life")
_WORDS = (
    "the a of and to in is for on that with as was at by from city council "
    "vote budget market rates housing election minister court team season "
    "game coach report data policy climate energy school health hospital "
    "province federal bank investors shares quarter growth police storm "
    "transit festival film music review analysis column readers week"
).split()
_EPOCH_2024_MS = 1_704_067_200_000

#: Envelope columns of an Arc record file, in file order.
ENVELOPE_SCHEMA = pa.schema(
    [
        ("sequenceNumber", pa.string()),
        ("partitionKey", pa.string()),
        ("data", pa.string()),
    ]
)
#: Spark DDL of the same envelope, for readers that need a schema.
ENVELOPE_DDL = "sequenceNumber STRING, partitionKey STRING, data STRING"
#: Projected output columns (streaming.pipeline.ARC_EVENT_SCHEMA order).
EVENT_COLUMNS = (
    "_id",
    "type",
    "operation",
    "canonical_url",
    "published",
    "publish_date",
    "body",
)


def rng_for(seed: int, stream: str) -> random.Random:
    """A generator private to one named input stream of one seed."""
    digest = hashlib.sha256(f"{seed}/{stream}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _pick(rng: random.Random, weighted) -> str:
    x = rng.random()
    for value, p in weighted:
        if x < p:
            return value
        x -= p
    return weighted[-1][0]


def _text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n_words))


def _body(rng: random.Random, target_bytes: int) -> dict:
    """An ANS-shaped body whose compact JSON is about ``target_bytes``."""
    body = {
        "headlines": {"basic": _text(rng, 8).capitalize()},
        "subheadlines": {"basic": _text(rng, 14)},
        "credits": {"by": [{"type": "author", "name": _text(rng, 2).title()}]},
        "taxonomy": {
            "sections": [{"_id": "/" + rng.choice(_SECTIONS), "primary": True}],
            "tags": [{"slug": w} for w in rng.sample(_WORDS, 3)],
        },
        "word_count": 0,
        "content_elements": [],
    }
    size = len(json.dumps(body, separators=(",", ":")))
    words = 0
    while size < target_bytes:
        n = min(40, max(4, (target_bytes - size) // 7))
        content = _text(rng, n)
        body["content_elements"].append({"type": "text", "content": content})
        words += n
        size += len('{"type":"text","content":""},') + len(content)
    body["word_count"] = words
    return body


def arc_records(
    seed: int, stream: str, n: int, body_bytes: int
) -> tuple[list[tuple[str, str, str]], list[tuple], int]:
    """``n`` Kinesis envelope records and the oracle's projected output.

    Returns (records, expected, malformed): records are (sequenceNumber,
    partitionKey, data) tuples; expected holds one row per record that
    survives ``ARC_FILTER``, as compared by ``row_digest``; malformed
    counts the records whose payload is not a parseable event.
    """
    rng = rng_for(seed, stream)
    stream_no = int(hashlib.sha256(stream.encode()).hexdigest()[:6], 16)
    records, expected, malformed = [], [], 0
    for i in range(n):
        seq = f"4963{seed % 10**8:08d}{stream_no:08d}{i:012d}"
        if rng.random() < _MALFORMED_SHARE:
            payload = rng.choice(_MALFORMED)
            records.append((seq, f"arc-{i % 64}", _b64(payload)))
            malformed += 1
            continue
        doc_id = "".join(rng.choices("ABCDEFGHIJKLMNOPQRSTUVWXYZ234567", k=26))
        kind = _pick(rng, _TYPES)
        operation = _pick(rng, _OPERATIONS)
        published = rng.random() < _P_PUBLISHED
        publish_ms = _EPOCH_2024_MS + rng.randrange(366 * 86_400_000)
        section = rng.choice(_SECTIONS)
        slug = "-".join(rng.choices(_WORDS, k=5))
        body = json.dumps(_body(rng, body_bytes), separators=(",", ":"))
        head = {
            "_id": doc_id,
            "type": kind,
            "operation": operation,
            "canonical_url": f"/{section}/{slug}/",
            "published": published,
            "publish_date": _iso_ms(publish_ms),
        }
        doc = json.dumps(head, separators=(",", ":"))[:-1] + ',"body":' + body + "}"
        records.append((seq, f"arc-{i % 64}", _b64(doc)))
        if (
            kind in ARC_FILTER["types"]
            and operation in ARC_FILTER["operations"]
            and published is ARC_FILTER["published"]
        ):
            expected.append(
                (
                    doc_id,
                    kind,
                    operation,
                    head["canonical_url"],
                    published,
                    publish_ms * 1000,
                    body,
                )
            )
    return records, expected, malformed


def _b64(text: str) -> str:
    return base64.b64encode(text.encode()).decode("ascii")


def _iso_ms(epoch_ms: int) -> str:
    import datetime as dt

    t = dt.datetime.fromtimestamp(epoch_ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


def row_digest(rows: Iterable[tuple]) -> tuple[int, int]:
    """(count, order-insensitive content hash) of projected event rows.

    The hash is the sum of per-row SHA-256 prefixes modulo 2**128, so the
    digests of disjoint row sets add up to the digest of their union.
    """
    n = total = 0
    for r in rows:
        d = hashlib.sha256(json.dumps(list(r), separators=(",", ":")).encode())
        total += int.from_bytes(d.digest()[:16], "big")
        n += 1
    return n, total % (1 << 128)


def add_digests(*digests: tuple[int, int]) -> tuple[int, int]:
    return (
        sum(d[0] for d in digests),
        sum(d[1] for d in digests) % (1 << 128),
    )


def read_event_rows(path: str) -> list[tuple]:
    """Projected rows of a parquet output directory, in ``row_digest``
    form (see ``read_event_rows_file``)."""
    rows: list[tuple] = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            rows.extend(read_event_rows_file(os.path.join(path, f)))
    return rows


def read_event_rows_file(path: str) -> list[tuple]:
    """Projected rows of one parquet file (a local path or ``file:`` URI),
    with ``publish_date`` as epoch microseconds."""
    if path.startswith("file:"):
        path = "/" + path[len("file:"):].lstrip("/")
    t = pq.read_table(path, columns=list(EVENT_COLUMNS))
    ts = t["publish_date"].cast(pa.timestamp("us")).cast(pa.int64())
    t = t.set_column(t.schema.get_field_index("publish_date"), "publish_date", ts)
    return list(zip(*(t[c].to_pylist() for c in EVENT_COLUMNS)))


def write_records(path: str, records: list[tuple[str, str, str]], row_group: int) -> None:
    """Write envelope records as one parquet file (atomic rename)."""
    cols = list(zip(*records))
    table = pa.Table.from_arrays(
        [pa.array(c, pa.string()) for c in cols], schema=ENVELOPE_SCHEMA
    )
    tmp = f"{path}.tmp"
    pq.write_table(
        table, tmp, row_group_size=row_group, compression="snappy",
        write_statistics=True,
    )
    os.replace(tmp, path)


def cached_dir(root: str, key: str, build) -> str:
    """``root/key``, built once by ``build(dir)``; other keys are removed
    so the cache holds one seed per workload."""
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    for other in os.listdir(root):
        shutil.rmtree(os.path.join(root, other), ignore_errors=True)
    tmp = path + ".building"
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(key)
    os.replace(tmp, path)
    return path


def build_arc(
    out: str, seed: int, prefix: str, files: int, records: int,
    body_bytes: int, row_group: int,
) -> None:
    """``files`` record files ``<prefix>-NNNN.parquet`` plus
    ``expected.json``: per file, its record and malformed counts and the
    ``row_digest`` of its expected output."""
    expected = {}
    for k in range(files):
        name = f"{prefix}-{k:04d}.parquet"
        recs, rows, malformed = arc_records(seed, name, records, body_bytes)
        write_records(os.path.join(out, name), recs, row_group)
        expected[name] = {
            "records": len(recs),
            "malformed": malformed,
            "digest": row_digest(rows),
        }
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)


# --------------------------------------------------------------------------
# Headline fixtures: the ten fixture tables (FIXTURES.md schemas) at a
# scale factor, drawn uniformly like the reference fixtures.
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = np.array(["en", "fr", "es", "zh", "de"])
_DAY_US = 86_400_000_000
_Y1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_Y2024_US = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def build_headline(out: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables at scale factor ``sf`` into ``out``."""
    r = np.random.default_rng(np.random.SeedSequence([seed, 7001]))
    n_supp, n_cust = int(10_000 * sf), int(150_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(r.uniform(lo, hi, n), 2)  # noqa: E731

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype="int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype="int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    names = [f"{a} {b}" for a in _PADJ for b in _PNOUN]
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.array(names)[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype="int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype="int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(_Y1995_US + r.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line, dtype="int64"),
        "l_partkey": r.integers(0, n_part, n_line, dtype="int64"),
        "l_suppkey": r.integers(0, n_supp, n_line, dtype="int64"),
        "l_linenumber": r.integers(1, 8, n_line, dtype="int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_Y1995_US + r.integers(0, 2500, n_line) * _DAY_US),
    })
    ts = np.sort(_Y2024_US + r.integers(0, 30 * _DAY_US, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ts),
        "user_id": r.integers(0, max(150, n_ev // 67), n_ev, dtype="int64"),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    words = np.array(_DOC_WORDS)
    texts = [
        " ".join(words[r.integers(0, len(words), int(k))])
        for k in r.integers(10, 101, n_doc)
    ]
    for i in r.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # a few exact duplicates
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": _LANGS[r.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 0.01, (10, 64))
    vecs = r.normal(0, 1, (n_emb, 64)) + centers[labels] * 8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
