"""Bounded driver-side session caches.

The engine keeps a handful of process-global caches keyed by Spark
``applicationId`` (prepared logical plans, the IVF and postings corpus
indexes, layout-job output paths).  They are correct unbounded — keys
include the application id, so a dead session's entries are never served —
but a long-lived driver iterating over many datasets would accumulate
references without limit.  ``bounded_put`` gives every cache the same
FIFO bound: oldest insertion evicted first.  Eviction only drops the
driver-side reference; executor-side blocks (localCheckpoint RDDs) are
released by the ContextCleaner once the DataFrame is unreachable.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

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


#: Plan caches registered for coupled eviction: when a session INDEX is
#: evicted from its own bounded cache, every prepared plan built against
#: it must be dropped too — a cached JVM logical plan holds a strong
#: reference to the index's LogicalRDD, and without this coupling the
#: plan cache (bound 1024) would pin the executor blocks of indexes long
#: after their own caches (bound 4) let go.
#: Entries are dicts keyed by (applicationId, sf_dir, ...) tuples.
PLAN_CACHE_SINKS: list[dict] = []


def release_plans_for(evicted_key) -> None:
    """Drop every registered prepared plan whose key starts with the
    evicted index-cache key's (applicationId, sf_dir) prefix.

    Deliberately coarse: plans over still-live indexes (and plans with no
    RDD dependency) of the same sf_dir are invalidated too, each paying
    one ~0.2 s re-preparation on its next call.  The safe direction —
    under-caching — is chosen over per-plan dependency tracking because
    index eviction only happens when a session cycles more sf_dirs than
    the index bound (4), a maintenance pattern, not a serving one."""
    if not (isinstance(evicted_key, tuple) and len(evicted_key) >= 2):
        return
    prefix = evicted_key[:2]
    for sink in PLAN_CACHE_SINKS:
        for k in [k for k in sink if k[:2] == prefix]:
            sink.pop(k, None)


#: Session-RESIDENT materializations (corpus indexes: the tf index, the
#: shingle postings, the IVF index), as (applicationId, rdd id) pairs.
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


def bless_resident(df):
    """Mark every RDD scan in ``df``'s plan as session-resident (an index
    whose cross-execution reuse is intended).  Returns ``df`` so builders
    can wrap their ``localCheckpoint()`` call site.  No-op on sessions
    without JVM access (Connect mode)."""
    try:
        app = df.sparkSession.sparkContext.applicationId
        ids = rdd_scan_ids(df._jdf.queryExecution().logical())
    except Exception:
        return df
    for r in ids:
        bounded_put(RESIDENT_RDD_IDS, (app, r), None, _RESIDENT_MAX)
    return df
