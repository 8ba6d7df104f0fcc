"""Session-cache invariants: the per-dataset artifacts
(``cache.session_artifact``: corpus indexes, layout copies) must be
build-once per (application, sf_dir) and FIFO-bounded — an unbounded
cache is a driver leak on a long-lived session, and a cache that misses
on repeat calls silently re-runs the build it exists to amortize."""

from __future__ import annotations

import pytest

from lambda_arc_events_filter_spark.cache import bounded_put


def test_bounded_put_evicts_oldest_insertion():
    c: dict[str, int] = {}
    for i, k in enumerate("abcd"):
        bounded_put(c, k, i, 3)
    assert list(c) == ["b", "c", "d"]
    bounded_put(c, "b", 99, 3)  # re-insert moves to newest
    assert c["b"] == 99 and len(c) == 3


def test_tf_index_and_lexicon_build_once(spark, sf_dir):
    from lambda_arc_events_filter_spark.queries import text_index as TI

    tf1 = TI.tf_index(spark, sf_dir)
    tf2 = TI.tf_index(spark, sf_dir)
    assert tf1 is tf2, "second call must serve the cached index"
    v1 = TI.vocab_stats(spark, sf_dir)
    assert TI.vocab_stats(spark, sf_dir) is v1
    t1 = TI.corpus_totals(spark, sf_dir)
    assert TI.corpus_totals(spark, sf_dir) is t1
    # the artifacts agree with each other: Σ lexicon cf == totals n_tokens
    import pyspark.sql.functions as F

    n_tokens = t1.collect()[0]["n_tokens"]
    assert v1.agg(F.sum("cf")).collect()[0][0] == n_tokens
    assert tf1.agg(F.sum("tf")).collect()[0][0] == n_tokens


def test_postings_index_build_once(spark, sf_dir):
    from lambda_arc_events_filter_spark.queries.llm_q import _postings_index

    assert _postings_index(spark, sf_dir) is _postings_index(spark, sf_dir)


def test_plan_cache_refuses_unblessed_rdd_scans(spark, sf_dir):
    """The prepared-plan cache must never cache a plan whose RDD scans
    are query-private materializations (localCheckpoint inside fn,
    driver-computed createDataFrame) — caching one pins its blocks across
    executions and turns the prepared-statement protocol into result
    caching.  Blessed session-resident indexes (text_index, IVF) remain
    cacheable.  Each query is built twice: a first build that runs a
    session index build submits jobs and is not cached."""
    from lambda_arc_events_filter_spark import registry as R

    all_specs = R.specs()

    def cached_after_two_builds(name):
        all_specs[name].fn(spark, sf_dir)
        all_specs[name].fn(spark, sf_dir)
        return (spark.sparkContext.applicationId, sf_dir, name) in R._PLAN_CACHE

    # query-private checkpoint (the rank helper's derived-input
    # materialization inside lorenz): never cached
    assert not cached_after_two_builds("customer_lorenz_curve")

    # fully declarative (no private checkpoint): cached
    assert cached_after_two_builds("lineitem_pareto_abc")

    # driver-computed input data: never cached
    assert not cached_after_two_builds("events_raking_ipf")

    # blessed resident tf index: prepared plan IS cached
    assert cached_after_two_builds("text_tfidf_top_terms")

    # plain scan-chain query over its session bounds: cached
    assert cached_after_two_builds("agg_stats")


def test_private_checkpoint_rematerializes_per_call(spark, sf_dir):
    """Two wrapper calls of a checkpoint-embedding query must yield plans
    over DIFFERENT RDDs — i.e. the second call re-materializes the
    intermediate instead of serving the first call's blocks."""
    from lambda_arc_events_filter_spark import registry as R
    from lambda_arc_events_filter_spark.cache import rdd_scan_ids

    fn = R.specs()["customer_lorenz_curve"].fn
    ids1 = rdd_scan_ids(fn(spark, sf_dir)._jdf.queryExecution().logical())
    ids2 = rdd_scan_ids(fn(spark, sf_dir)._jdf.queryExecution().logical())
    assert ids1 and ids2 and set(ids1).isdisjoint(ids2)


def test_every_headline_query_is_prepared_cacheable(spark, sf_dir):
    """Bench protection: every HEADLINE query except the stream, whose
    build runs the stream, must ride the prepared-plan cache by its
    second call.  A regression here means some headline fn grew
    query-private work at build (a job, an unblessed materialization),
    so its bench reps would silently pay a per-rep py4j rebuild."""
    import bench
    from lambda_arc_events_filter_spark import registry as R

    sp = R.specs()
    failures = []
    for name in bench.HEADLINE:
        if name == "stream_tumbling_counts":
            continue
        sp[name].fn(spark, sf_dir)
        sp[name].fn(spark, sf_dir)
        if (spark.sparkContext.applicationId, sf_dir, name) not in R._PLAN_CACHE:
            failures.append(name)
    assert not failures, (
        "headline queries no longer prepared-cacheable: "
        f"{failures} — either bless the session index they probe or "
        "remove the query-private materialization"
    )


def test_blessing_is_application_scoped():
    """RDD ids restart at 0 with every new SparkContext, so a blessing
    must never leak across applications (round-8 review): a stale id
    from a stopped session admitting a new session's private checkpoint
    would re-open the result-caching hole."""
    from lambda_arc_events_filter_spark import cache as C

    C.RESIDENT_RDD_IDS[("app-old", 5)] = None
    try:
        assert C.is_blessed("app-old", [5])
        assert not C.is_blessed("app-new", [5])
        assert C.is_blessed("app-new", [])  # vacuous: no RDD scans
    finally:
        C.RESIDENT_RDD_IDS.pop(("app-old", 5), None)


def test_index_eviction_releases_dependent_plans():
    """bounded_put's on_evict hook + release_plans_for must drop every
    prepared plan of the evicted (applicationId, sf_dir) so the plan
    cache cannot pin an evicted index's executor blocks."""
    from lambda_arc_events_filter_spark import cache as C

    sink: dict = {
        ("app", "/sf/a", "q1"): object(),
        ("app", "/sf/a", "q2"): object(),
        ("app", "/sf/b", "q1"): object(),
    }
    C.PLAN_CACHE_SINKS.append(sink)
    try:
        idx: dict = {}
        C.bounded_put(idx, ("app", "/sf/a"), "A", 1, on_evict=C.release_plans_for)
        C.bounded_put(idx, ("app", "/sf/b"), "B", 1, on_evict=C.release_plans_for)
        # inserting /sf/b evicted /sf/a → its two plans must be gone
        assert ("app", "/sf/a", "q1") not in sink
        assert ("app", "/sf/a", "q2") not in sink
        assert ("app", "/sf/b", "q1") in sink
    finally:
        C.PLAN_CACHE_SINKS.remove(sink)


def test_rdd_scan_ids_sees_subquery_checkpoints(spark):
    """A LogicalRDD reachable only through an IN-subquery must be visible
    to the guard (collectLeaves alone does not descend into subquery
    expressions — round-8 review finding)."""
    from lambda_arc_events_filter_spark.cache import rdd_scan_ids

    ck = spark.range(5).localCheckpoint()
    ck.createOrReplaceTempView("_guard_subq_ckv")
    df = spark.sql(
        "select id from range(10) where id in (select id from _guard_subq_ckv)"
    )
    # the RAW plan hides the checkpoint behind an UnresolvedRelation —
    # the registry therefore inspects the ANALYZED plan
    assert rdd_scan_ids(df._jdf.queryExecution().analyzed())


def test_view_name_plans_are_never_cached(spark, sf_dir):
    """A raw plan referencing a temp VIEW by name must not be cached: the
    name is global mutable state — re-registered for another dataset it
    would silently swap data under the prepared plan; dropped, it leaves
    a permanently unexecutable entry (round-8 review findings 1-2)."""
    from lambda_arc_events_filter_spark import registry as R
    from lambda_arc_events_filter_spark.cache import has_unresolved_relations

    df = spark.range(3)
    df.createOrReplaceTempView("_guard_view_probe")
    sql_df = spark.sql("select * from _guard_view_probe")
    assert has_unresolved_relations(sql_df._jdf.queryExecution().logical())
    assert not has_unresolved_relations(df._jdf.queryExecution().logical())

    # end-to-end: the registered SQL-front-door queries build through
    # temp views, so their plans must be absent from the cache after a call
    for name in ("window_ignore_nulls", "sql_frontdoor"):
        if name not in R.specs():
            continue
        R.specs()[name].fn(spark, sf_dir)
        key = (spark.sparkContext.applicationId, sf_dir, name)
        assert key not in R._PLAN_CACHE, name


def _alt_spellings(sf_dir: str) -> list[str]:
    """Four alternate spellings of the fixture dir: distinct artifact
    keys, all readable."""
    import os

    head, tail = os.path.dirname(sf_dir), os.path.basename(sf_dir)
    spellings = [
        sf_dir + "/",
        sf_dir + "//",
        f"{head}/./{tail}",
        f"{head}/../{os.path.basename(head)}/{tail}",
    ]
    assert len(set(spellings) | {sf_dir}) == 5
    return spellings


def test_blessed_index_eviction_end_to_end(spark, sf_dir):
    """Blessing-lifecycle adversarial path (VERDICT r8 ask #5): force a
    blessed tf index out of the bound-4 artifact store through the REAL
    runtime eviction path (four further datasets — alternate path
    SPELLINGS of the same fixture dir, distinct keys, all readable), then
    assert (a) every dependent prepared plan of that (app, sf_dir) is
    dropped with it — coupled eviction at runtime, not just the unit-level
    hook — and (b) the next query run rebuilds a fresh index and still
    value-matches its DuckDB oracle."""
    from lambda_arc_events_filter_spark import cache as C
    from lambda_arc_events_filter_spark import registry as R
    from lambda_arc_events_filter_spark.queries import text_index as TI
    from lambda_arc_events_filter_spark.testing import (
        check_query,
        duck_connection,
    )

    spec = R.specs()["text_tfidf_top_terms"]
    app = spark.sparkContext.applicationId
    plan_key = (app, sf_dir, "text_tfidf_top_terms")
    idx_key = (app, sf_dir)

    spec.fn(spark, sf_dir).collect()
    spec.fn(spark, sf_dir)  # a first build may run the index build
    assert plan_key in R._PLAN_CACHE
    idx_before = C._ARTIFACTS[idx_key]["tf"]

    for alt in _alt_spellings(sf_dir):
        TI.tf_index(spark, alt)

    # (a) index evicted AND its dependent prepared plans released
    assert idx_key not in C._ARTIFACTS
    assert plan_key not in R._PLAN_CACHE
    assert not any(k[:2] == idx_key for k in R._PLAN_CACHE)

    # (b) next run rebuilds (new index object) and still matches the oracle
    con = duck_connection(sf_dir)
    assert check_query(spec, spark, con, sf_dir) == []
    con.close()
    assert C._ARTIFACTS[idx_key]["tf"] is not idx_before
    spec.fn(spark, sf_dir)  # the rebuild above ran index jobs
    assert plan_key in R._PLAN_CACHE


def test_every_registered_query_goes_through_the_plan_cache():
    from lambda_arc_events_filter_spark import registry as R

    assert all(hasattr(s.fn, "__wrapped__") for s in R.specs().values())


def test_wrapped_raising_fn_is_called_once(spark):
    """A build that raises must not be retried: a streaming or sink fn
    would run its stream or write a second time."""
    from lambda_arc_events_filter_spark import registry as R

    calls = []

    def boom(spark, sf_dir):
        calls.append(sf_dir)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        R._with_prepared_plan("_probe_raising", boom)(spark, "unused")
    assert len(calls) == 1


def test_build_that_collects_a_literal_is_not_cached(spark):
    """A driver-collected value baked into the plan as a literal is
    per-call data: its build submits a job, so the plan is never kept."""
    import pyspark.sql.functions as F

    from lambda_arc_events_filter_spark import registry as R

    def fn(spark, sf_dir):
        top = spark.range(7).agg(F.max("id")).collect()[0][0]
        return spark.range(10).filter(F.col("id") < F.lit(top))

    wrapped = R._with_prepared_plan("_probe_collect_literal", fn)
    key = (spark.sparkContext.applicationId, "unused", "_probe_collect_literal")
    try:
        assert wrapped(spark, "unused").count() == 6
        assert wrapped(spark, "unused").count() == 6
        assert key not in R._PLAN_CACHE
    finally:
        R._PLAN_CACHE.pop(key, None)


def test_build_that_writes_is_not_cached(spark, tmp_path):
    """A build that writes parquet and reads it back must write on every
    call: a cached plan would replay the read and skip the write."""
    from lambda_arc_events_filter_spark import registry as R

    out = str(tmp_path / "sink")

    def fn(spark, sf_dir):
        spark.range(3).write.mode("append").parquet(out)
        return spark.read.parquet(out)

    wrapped = R._with_prepared_plan("_probe_write", fn)
    key = (spark.sparkContext.applicationId, "unused", "_probe_write")
    try:
        wrapped(spark, "unused")
        assert wrapped(spark, "unused").count() == 6
        assert key not in R._PLAN_CACHE
    finally:
        R._PLAN_CACHE.pop(key, None)


def test_layout_artifact_rewritten_after_four_other_datasets(spark, sf_dir):
    """Layout copies share the dataset bound: once four other datasets
    are used, the sorted events copy is evicted and written again."""
    from lambda_arc_events_filter_spark.queries import sources_q

    path = sources_q._sorted_events_path(spark, sf_dir)
    assert sources_q._sorted_events_path(spark, sf_dir) == path
    for alt in _alt_spellings(sf_dir):
        sources_q._sorted_events_path(spark, alt)
    assert sources_q._sorted_events_path(spark, sf_dir) != path


def test_one_eviction_drops_every_artifact_and_plan_of_its_dataset(
    spark, monkeypatch
):
    from lambda_arc_events_filter_spark import cache as C

    monkeypatch.setattr(C, "_ARTIFACTS", {})
    app = spark.sparkContext.applicationId
    sink: dict = {(app, "/sf/a", "q1"): object(), (app, "/sf/b", "q1"): object()}
    monkeypatch.setattr(C, "PLAN_CACHE_SINKS", [sink])
    C.session_artifact(spark, "/sf/a", "x", lambda: "/tmp/ax")
    C.session_artifact(spark, "/sf/a", "y", lambda: "/tmp/ay")
    for d in ("/sf/b", "/sf/c", "/sf/d"):
        C.session_artifact(spark, d, "x", lambda: "/tmp/x")
    assert set(C._ARTIFACTS[(app, "/sf/a")]) == {"x", "y"}
    C.session_artifact(spark, "/sf/e", "x", lambda: "/tmp/ex")
    assert (app, "/sf/a") not in C._ARTIFACTS
    assert len(C._ARTIFACTS) == C._DATASETS_MAX
    assert list(sink) == [(app, "/sf/b", "q1")]


def test_artifact_blessing_covers_tuples_and_stores_paths_as_is(
    spark, monkeypatch
):
    from lambda_arc_events_filter_spark import cache as C

    monkeypatch.setattr(C, "_ARTIFACTS", {})
    app = spark.sparkContext.applicationId

    def scan_ids(df):
        return C.rdd_scan_ids(df._jdf.queryExecution().logical())

    a, b = spark.range(3).localCheckpoint(), spark.range(4).localCheckpoint()
    assert not C.is_blessed(app, scan_ids(a) + scan_ids(b))
    got = C.session_artifact(spark, "/sf/t", "pair", lambda: (a, b, "/tmp/t"))
    assert got[0] is a and got[1] is b and got[2] == "/tmp/t"
    assert C.is_blessed(app, scan_ids(a)) and C.is_blessed(app, scan_ids(b))

    calls = []

    def build():
        calls.append(1)
        return "/tmp/path"

    assert C.session_artifact(spark, "/sf/t", "path", build) == "/tmp/path"
    assert C.session_artifact(spark, "/sf/t", "path", build) == "/tmp/path"
    assert C._ARTIFACTS[(app, "/sf/t")]["path"] == "/tmp/path"
    assert calls == [1]
