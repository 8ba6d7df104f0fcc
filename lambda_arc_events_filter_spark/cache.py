"""Driver-side session state shared by the query modules and the registry.

- **Per-dataset artifacts** (``session_artifact``): everything the engine
  builds once per (Spark ``applicationId``, ``sf_dir``) and then reuses —
  corpus indexes (tf, postings, IVF, SemDeDup), layout copies written to
  scratch (sorted, bucketed, Z-ordered, ...), and small write-once dims.
  One store, FIFO-bounded at ``_DATASETS_MAX`` datasets: evicting a
  dataset drops all of its artifacts at once.
- **Blessed RDD ids** (``RESIDENT_RDD_IDS``): the checkpointed RDDs of
  those artifacts.  The prepared-plan cache (``registry._PLAN_CACHE``)
  caches a plan only if every RDD it scans is blessed.
- **Coupling to the plan cache** (``PLAN_CACHE_SINKS``,
  ``release_plans_for``): evicting a dataset also drops every prepared
  plan over it, so no cached plan pins an evicted index's executor
  blocks.

Keys include the application id, so a dead session's entries are never
served.  Eviction only drops the driver-side reference; executor-side
blocks (localCheckpoint RDDs) are released by the ContextCleaner once
the DataFrame is unreachable.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

K = TypeVar("K")
V = TypeVar("V")


def bounded_put(
    cache: dict[K, V],
    key: K,
    value: V,
    max_entries: int,
    on_evict: Callable[[K], None] | None = None,
) -> V:
    """Insert ``key → value``, evicting oldest insertions to stay under
    ``max_entries`` (dicts preserve insertion order).  ``on_evict`` runs
    for each evicted KEY — index caches use it to release dependent
    prepared plans (see ``release_plans_for``)."""
    while len(cache) >= max_entries:
        evicted = next(iter(cache))
        cache.pop(evicted)
        if on_evict is not None:
            on_evict(evicted)
    cache[key] = value
    return value


#: Plan caches registered for coupled eviction: when a dataset's artifacts
#: are evicted, every prepared plan built against them must be dropped
#: too — a cached JVM logical plan holds a strong reference to an index's
#: LogicalRDD, and without this coupling the plan cache (bound 1024)
#: would pin the executor blocks of indexes long after the artifact
#: store (bound ``_DATASETS_MAX``) let go.
#: Entries are dicts keyed by (applicationId, sf_dir, ...) tuples.
PLAN_CACHE_SINKS: list[dict] = []


def release_plans_for(evicted_key) -> None:
    """Drop every registered prepared plan whose key starts with the
    evicted artifact key's (applicationId, sf_dir) prefix.

    Deliberately coarse: plans over still-live indexes (and plans with no
    RDD dependency) of the same sf_dir are invalidated too, each paying
    one ~0.2 s re-preparation on its next call.  The safe direction —
    under-caching — is chosen over per-plan dependency tracking because
    eviction only happens when a session cycles more sf_dirs than
    ``_DATASETS_MAX``, a maintenance pattern, not a serving one."""
    if not (isinstance(evicted_key, tuple) and len(evicted_key) >= 2):
        return
    prefix = evicted_key[:2]
    for sink in PLAN_CACHE_SINKS:
        for k in [k for k in sink if k[:2] == prefix]:
            sink.pop(k, None)


#: Session-RESIDENT materializations (the DataFrame artifacts of
#: ``session_artifact``), as (applicationId, rdd id) pairs.
#: The prepared-plan cache may only cache a plan whose RDD scans all
#: appear here FOR THE CURRENT APPLICATION: a resident index is the
#: engine's architecture (build once per session, probe many times —
#: reuse is the point), while any OTHER checkpointed RDD in a query plan
#: is a query-private intermediate whose reuse across executions is
#: result caching and fakes the benchmark (see registry._PLAN_CACHE).  The
#: applicationId in the key matters: RDD ids restart at 0 with every new
#: SparkContext, so a bare-id set would let a stale blessing from a
#: stopped session admit a new session's private checkpoint.
#: Insertion-ordered dict → FIFO trim of the OLDEST
#: blessings only (a live index re-blesses nothing, but FIFO can at
#: worst demote an old index's consumers to uncached — never admit a
#: private RDD).
RESIDENT_RDD_IDS: dict[tuple[str, int], None] = {}
_RESIDENT_MAX = 4096


def _iter_plans(jplan):
    """The plan plus every subquery plan nested in its expressions —
    ``collectLeaves`` alone does not descend into IN/EXISTS/scalar
    subqueries, which would hide a LogicalRDD from the guard.  Raises if
    the subquery API is unavailable: a caller deciding CACHEABILITY must
    fail CLOSED (an unseen subquery RDD would be silently admitted —
    fewer visible ids makes the blessing check MORE permissive)."""
    yield jplan
    subs = jplan.subqueriesAll()
    for i in range(subs.size()):
        yield subs.apply(i)


def rdd_scan_ids(jplan) -> list[int]:
    """RDD ids of every ``LogicalRDD`` leaf in a JVM logical plan,
    including plans nested inside subquery expressions.  Raises when the
    plan cannot be fully enumerated — callers must treat that as
    'unknown scans present', never as 'no scans'."""
    out: list[int] = []
    for plan in _iter_plans(jplan):
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                out.append(leaf.rdd().id())
    return out


def has_unresolved_relations(jplan) -> bool:
    """True when any leaf is an UnresolvedRelation — a by-NAME reference
    (temp view, catalog table) whose target is global mutable state.  A
    cached raw plan re-resolves names per execution, so a fixed-name view
    re-registered for a different dataset would silently swap the data
    under a prepared plan, and a dropped per-call view leaves the cached
    plan permanently unexecutable; such plans are never cached."""
    for plan in _iter_plans(jplan):
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).getClass().getSimpleName() == "UnresolvedRelation":
                return True
    return False


def is_blessed(app_id: str, rdd_ids: list[int]) -> bool:
    """True iff every id is a blessed session-resident RDD of THIS app."""
    return all((app_id, r) in RESIDENT_RDD_IDS for r in rdd_ids)


def bless_resident(df) -> None:
    """Mark every RDD scan in ``df``'s plan as session-resident (an index
    whose cross-execution reuse is intended).  No-op on sessions without
    JVM access (Connect mode)."""
    try:
        app = df.sparkSession.sparkContext.applicationId
        ids = rdd_scan_ids(df._jdf.queryExecution().logical())
    except Exception:
        return
    for r in ids:
        bounded_put(RESIDENT_RDD_IDS, (app, r), None, _RESIDENT_MAX)


#: (applicationId, sf_dir) → {artifact name → artifact}.
_ARTIFACTS: dict[tuple[str, str], dict[str, Any]] = {}
_DATASETS_MAX = 4


def session_artifact(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """The ``name`` artifact of dataset ``sf_dir`` in this session, built by
    ``build()`` on first use and served from the store afterwards.

    Every DataFrame in the result (one DataFrame, or a tuple holding
    some) is blessed: it is a session index that prepared plans may
    scan.  Other results (a scratch path, a table name) are stored as
    they are.  Past ``_DATASETS_MAX`` datasets the oldest dataset is
    evicted with all its artifacts and the prepared plans over it."""
    key = (spark.sparkContext.applicationId, sf_dir)
    arts = _ARTIFACTS.get(key)
    if arts is None:
        arts = bounded_put(
            _ARTIFACTS, key, {}, _DATASETS_MAX, on_evict=release_plans_for
        )
    if name not in arts:
        art = build()
        for df in art if isinstance(art, tuple) else (art,):
            if isinstance(df, DataFrame):
                bless_resident(df)
        arts[name] = art
    return arts[name]
