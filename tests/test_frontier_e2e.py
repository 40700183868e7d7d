"""End-to-end crawl replay (SURVEY.md §5 test 3) + resume determinism (§5 test 4)."""

import os

from pyspark.sql import functions as F

from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob


def _mk_job(spark, crawl_fixture, tmp_path, name, store=None, **cfg_kwargs):
    seeds = spark.read.parquet(crawl_fixture["seeds"])
    robots = spark.read.parquet(crawl_fixture["robots"])
    defaults = dict(
        max_urls_per_host_per_wave=5,
        max_waves=4,
        global_wave_limit=500,
        verify_extraction=True,
    )
    defaults.update(cfg_kwargs)
    cfg = CrawlConfig(**defaults)
    return CrawlJob(
        spark,
        crawl_fixture["pages"],
        seeds,
        robots,
        cfg,
        os.path.join(str(tmp_path), name),
        store=store,
    )


def _order_tuples(job):
    return [
        (r.wave, r.seq, r.canonical_url)
        for r in job.crawl_order().collect()
    ]


def test_e2e_crawl(spark, crawl_fixture, tmp_path):
    job = _mk_job(spark, crawl_fixture, tmp_path, "a")
    summary = job.run()
    assert summary["committed_wave"] >= 1
    assert summary["total_scheduled"] > 50

    order = _order_tuples(job)
    # deterministic sequence, no gaps per wave
    waves = {}
    for w, s, u in order:
        waves.setdefault(w, []).append(s)
    for w, seqs in waves.items():
        assert seqs == list(range(1, len(seqs) + 1))

    # seen set has no duplicate hashes and covers exactly the distinct
    # scheduled urls minus retries still pending after the final wave
    # (pending = that wave's retryable fetch-misses — the frontier is
    # derived, not stored, so recompute the same projection)
    seen = job.seen_set()
    assert seen.count() == seen.select("url_hash").distinct().count()
    final = job.store.committed_wave()
    pending = job._pending_misses(final, incremented=False).distinct().count()
    scheduled_distinct = (
        job.store.read_deltas(spark, "scheduled", final)
        .select("url_hash")
        .distinct()
        .count()
    )
    assert seen.count() == scheduled_distinct - pending

    # politeness: never more than budget urls per host per wave
    per_host = (
        job.crawl_order()
        .withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
        .groupBy("wave", "host")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_host <= 5

    # robots: scheduled urls must not violate any host's disallow prefixes
    robots = spark.read.parquet(crawl_fixture["robots"])
    order_df = job.crawl_order().withColumn(
        "host", F.parse_url("canonical_url", F.lit("HOST"))
    ).withColumn("path", F.parse_url("canonical_url", F.lit("PATH")))
    bad = (
        order_df.join(robots, "host")
        .filter(F.exists("disallow_prefixes", lambda p: F.startswith(F.col("path"), p)))
        .count()
    )
    assert bad == 0
    # the megahost /p3 subtree specifically must be gated (big visible rule)
    assert (
        job.crawl_order()
        .filter(F.col("canonical_url").startswith("https://megahost.example/p3"))
        .count()
        == 0
    )

    # extraction rows exist and verify_extraction already asserted
    # byte-identity inside the waves
    assert job.extracted().count() == len(order) - summary["waves"][-1]["misses"] - sum(
        w["misses"] for w in summary["waves"][:-1]
    )

    # metrics emitted per wave
    m = job.metrics()
    assert m.filter(F.col("stage") == "scheduled").count() > 0


def test_same_run_is_identical(spark, crawl_fixture, tmp_path):
    j1 = _mk_job(spark, crawl_fixture, tmp_path, "r1")
    j1.run()
    j2 = _mk_job(spark, crawl_fixture, tmp_path, "r2")
    j2.run()
    assert _order_tuples(j1) == _order_tuples(j2)


def test_resume_determinism(spark, crawl_fixture, tmp_path):
    """Kill after wave 1, resume → identical order + seen set vs cold run."""
    full = _mk_job(spark, crawl_fixture, tmp_path, "full")
    full.run()

    partial = _mk_job(spark, crawl_fixture, tmp_path, "partial", max_waves=2)
    partial.run()  # "killed" after wave 1 (max_waves=2)
    resumed = _mk_job(spark, crawl_fixture, tmp_path, "partial")
    resumed.run(resume=True)

    assert _order_tuples(resumed) == _order_tuples(full)
    a = sorted(r.url_hash for r in resumed.seen_set().collect())
    b = sorted(r.url_hash for r in full.seen_set().collect())
    assert a == b


def test_crash_mid_wave_resume(spark, crawl_fixture, tmp_path):
    """A crash AFTER wave files are written but BEFORE the manifest commit
    must leave the store resumable: the partial wave dir is ignored,
    re-run idempotently, and the final state matches an uninterrupted run."""
    import shutil

    full = _mk_job(spark, crawl_fixture, tmp_path, "cfull")
    full.run()

    crashed = _mk_job(spark, crawl_fixture, tmp_path, "ccrash", max_waves=2)
    crashed.run()
    # simulate a crash during wave 2: partial files exist, manifest not bumped
    w2 = crashed.store.wave_dir(2, "scheduled")
    shutil.copytree(crashed.store.wave_dir(1, "scheduled"), w2)
    assert crashed.store.committed_wave() == 1  # manifest unaffected

    resumed = _mk_job(spark, crawl_fixture, tmp_path, "ccrash")
    resumed.run(resume=True)
    assert _order_tuples(resumed) == _order_tuples(full)
    a = sorted(r.url_hash for r in resumed.seen_set().collect())
    b = sorted(r.url_hash for r in full.seen_set().collect())
    assert a == b


def test_miss_retry_rescheduled(spark, crawl_fixture, tmp_path):
    """A fetch-miss must be re-scheduled in a later wave, at most
    1 + max_retries times total (the wave equation's retry term)."""
    job = _mk_job(spark, crawl_fixture, tmp_path, "retry", max_waves=6)
    summary = job.run()
    total_misses = sum(w["misses"] for w in summary["waves"])
    assert total_misses > 0  # fixture 404s (links to /p{i} vs /private/p{i})

    per_url = job.crawl_order().groupBy("canonical_url").count()
    rescheduled = per_url.filter(F.col("count") > 1)
    # only misses can be scheduled twice (seen anti-join blocks everything
    # else), so retries being alive <=> some URL appears in several waves
    assert rescheduled.count() > 0
    assert (
        rescheduled.agg(F.max("count")).first()[0]
        <= 1 + job.config.max_retries
    )


def test_crawl_delay_reduces_schedule_e2e(spark, crawl_fixture, tmp_path):
    """W3 e2e: with a short wave period, hosts declaring crawl_delay_ms=1000
    must schedule at most wave_period/delay URLs per wave while undelayed
    hosts use the full budget."""
    job = _mk_job(
        spark, crawl_fixture, tmp_path, "delay", wave_period_ms=2000
    )
    job.run()
    robots = spark.read.parquet(crawl_fixture["robots"])
    delayed_hosts = robots.filter(F.col("crawl_delay_ms") >= 1000).select("host")
    per_wave_host = (
        job.crawl_order()
        .withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
        .groupBy("wave", "host")
        .count()
    )
    slow = per_wave_host.join(delayed_hosts, "host")
    fast = per_wave_host.join(delayed_hosts, "host", "left_anti")
    assert slow.count() > 0, "fixture must exercise some delayed host"
    assert slow.agg(F.max("count")).first()[0] <= 2  # 2000 // 1000
    assert fast.agg(F.max("count")).first()[0] == 5  # full budget


def test_lineage_events(spark, crawl_fixture, tmp_path):
    """S9: one wave_start + wave_commit event per committed wave; resume
    writes a single resume marker and replays no duplicates."""
    full = _mk_job(spark, crawl_fixture, tmp_path, "lfull")
    full.run()
    lin = full.lineage()
    n_waves = full.store.committed_wave() + 1
    assert lin.filter(F.col("event") == "wave_commit").count() == n_waves
    assert lin.filter(F.col("event") == "wave_start").count() == n_waves
    assert lin.filter(F.col("event") == "resume").count() == 0

    partial = _mk_job(spark, crawl_fixture, tmp_path, "lpart", max_waves=2)
    partial.run()
    resumed = _mk_job(spark, crawl_fixture, tmp_path, "lpart")
    resumed.run(resume=True)
    lin2 = resumed.lineage()
    n_waves2 = resumed.store.committed_wave() + 1
    assert lin2.filter(F.col("event") == "wave_commit").count() == n_waves2
    # idempotent re-commit: no (wave, event) pair appears twice
    dups = lin2.groupBy("wave", "event").count().filter(F.col("count") > 1)
    assert dups.count() == 0
    resume_rows = lin2.filter(F.col("event") == "resume").collect()
    assert len(resume_rows) == 1 and resume_rows[0]["wave"] == 2

    # details map survives the round trip
    row = lin2.filter(
        (F.col("wave") == 0) & (F.col("event") == "wave_commit")
    ).first()
    assert int(row["details"]["scheduled"]) > 0


def test_shuffle_seen_resume_identical(spark, crawl_fixture, tmp_path):
    """Resume in the shuffle anti-join regime (seen never broadcast)
    replays the uninterrupted crawl order, and the wave loop keeps no
    seen-side state of its own: no ``bloom`` artifact is ever written."""
    full = _mk_job(
        spark, crawl_fixture, tmp_path, "sfull", seen_broadcast_threshold=0
    )
    full.run()

    partial = _mk_job(
        spark, crawl_fixture, tmp_path, "spart",
        seen_broadcast_threshold=0, max_waves=2,
    )
    partial.run()
    resumed = _mk_job(
        spark, crawl_fixture, tmp_path, "spart", seen_broadcast_threshold=0
    )
    resumed.run(resume=True)
    assert resumed.store.committed_wave() == full.store.committed_wave() >= 2
    assert _order_tuples(resumed) == _order_tuples(full)
    for job in (full, resumed):
        for wave in range(job.store.committed_wave() + 1):
            assert not os.path.exists(job.store.wave_dir(wave, "bloom"))


def _child(plan, i=0):
    return plan.children().apply(i)


def _first_node(plan, names):
    """Depth-first search of a JVM SparkPlan for a node named in ``names``."""
    if plan.nodeName() in names:
        return plan
    for i in range(plan.children().size()):
        hit = _first_node(_child(plan, i), names)
        if hit is not None:
            return hit
    return None


def test_shuffle_seen_reuses_dedup_exchange(spark, crawl_fixture, tmp_path):
    """Above ``seen_broadcast_threshold`` with auto-broadcast off, the seen
    anti-join is a SortMergeJoin LeftAnti whose frontier side is fed by the
    first-wins dedup window's url_hash Exchange (no Exchange of its own),
    with no Python node anywhere in the schedule plan, and the crawl order
    equals the default (broadcast) run's."""
    from bodhium_webscrapper_spark.plans.checkpoint import SnapshotStore

    class PlanCapture(SnapshotStore):
        def __init__(self, root):
            super().__init__(root)
            self.plans = {}

        def write(self, wave, name, df):
            if name == "scheduled" and wave >= 1:
                plan = df._jdf.queryExecution().executedPlan()
                if plan.nodeName() == "AdaptiveSparkPlan":
                    plan = plan.executedPlan()  # initial physical plan
                self.plans[wave] = plan
            return super().write(wave, name, df)

    base = _mk_job(spark, crawl_fixture, tmp_path, "smj_base")
    base.run()
    conf_key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "-1")
    try:
        store = PlanCapture(os.path.join(str(tmp_path), "smj"))
        job = _mk_job(
            spark, crawl_fixture, tmp_path, "smj",
            store=store, seen_broadcast_threshold=0,
        )
        job.run()
    finally:
        spark.conf.set(conf_key, old)

    assert store.plans, "no wave >= 1 scheduled plan captured"
    for wave, plan in store.plans.items():
        text = plan.toString()
        for python_node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython",
                            "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert python_node not in text, (wave, python_node)
        smj = _first_node(plan, {"SortMergeJoin"})
        assert smj is not None, (wave, text)
        assert smj.joinType().toString() == "LeftAnti", (wave, text)
        # frontier side: the first Exchange or Window below the join must
        # be the dedup Window, i.e. the join reuses the window's Exchange
        left = _first_node(_child(smj, 0), {"Exchange", "Window"})
        assert left.nodeName() == "Window", (wave, text)
        # seen side: shuffled onto the same url_hash partitioning
        right = _first_node(_child(smj, 1), {"Exchange"})
        assert right is not None and "url_hash" in right.toString(), (wave, text)
    assert _order_tuples(job) == _order_tuples(base)


def test_physical_knobs_preserve_order(spark, crawl_fixture, tmp_path):
    """Every adaptive physical choice in the wave loop (host-hash salting,
    attr-join broadcast vs shuffle, broadcast vs shuffle seen anti-join,
    broadcast vs shuffle robots gate) is an optimization, not a semantics
    change: the crawl order must be bit-identical under all of them."""
    base = _mk_job(spark, crawl_fixture, tmp_path, "k_base")
    base.run()
    expected = _order_tuples(base)
    variants = {
        "k_salt": dict(salt_activation_threshold=0, salt_buckets=8),
        "k_shuffle_attrs": dict(broadcast_wave_threshold=0),
        "k_shuffle_seen": dict(seen_broadcast_threshold=0),
        "k_shuffle_robots": dict(robots_broadcast_threshold=0),
    }
    for name, knobs in variants.items():
        job = _mk_job(spark, crawl_fixture, tmp_path, name, **knobs)
        job.run()
        assert _order_tuples(job) == expected, name


def test_edge_empty_seeds_and_total_block(spark, crawl_fixture, tmp_path):
    """Empty seed list → zero waves; robots blocking every path → wave 0
    schedules nothing and the loop stops cleanly."""
    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob

    empty_seeds = spark.createDataFrame([], "url string, priority double")
    job = CrawlJob(
        spark, crawl_fixture["pages"], empty_seeds, None,
        CrawlConfig(max_waves=3), os.path.join(str(tmp_path), "empty"),
    )
    out = job.run()
    assert out["waves"] == [] and out["total_scheduled"] == 0

    seeds = spark.read.parquet(crawl_fixture["seeds"])
    hosts = spark.read.parquet(crawl_fixture["robots"]).select("host")
    block_all = hosts.select(
        "host",
        F.array(F.lit("/")).alias("disallow_prefixes"),
        F.lit(0).cast("long").alias("crawl_delay_ms"),
    )
    job2 = CrawlJob(
        spark, crawl_fixture["pages"], seeds, block_all,
        CrawlConfig(max_waves=3), os.path.join(str(tmp_path), "blocked"),
    )
    out2 = job2.run()
    assert out2["total_scheduled"] == 0


def test_footer_metrics_match_spark_metrics(spark, crawl_fixture, tmp_path):
    """The footer-derived metrics (zero-job path the loop uses) must agree
    with the Spark-computed partition_metrics on totals, and with the
    footer row_count and df.count()."""
    from bodhium_webscrapper_spark.plans.metrics import partition_metrics

    job = _mk_job(spark, crawl_fixture, tmp_path, "fm", max_waves=2)
    job.run()
    for wave in (0, 1):
        df = job.store.read(spark, wave, "scheduled")
        n = df.count()
        assert job.store.row_count(wave, "scheduled") == n
        footer_rows = (
            job.metrics()
            .filter((F.col("wave") == wave) & (F.col("stage") == "scheduled"))
            .agg(F.sum("rows"))
            .first()[0]
        )
        spark_rows = partition_metrics(df, wave, "scheduled").agg(F.sum("rows")).first()[0]
        assert footer_rows == spark_rows == n


def test_seen_compaction_preserves_semantics(spark, crawl_fixture, tmp_path):
    """Delta compaction (LSM base + tail dirs) must not change the crawl:
    identical order and seen set vs the uncompacted twin, and the compacted
    base must actually be registered and used."""
    import os as _os

    plain = _mk_job(spark, crawl_fixture, tmp_path, "nc")
    plain.run()

    compacted = _mk_job(spark, crawl_fixture, tmp_path, "cc", compact_seen_every=2)
    compacted.run()
    assert _order_tuples(compacted) == _order_tuples(plain)
    a = sorted(r.url_hash for r in compacted.seen_set().collect())
    b = sorted(r.url_hash for r in plain.seen_set().collect())
    assert a == b

    m = compacted.store.manifest()
    base = m.get("compacted", {}).get("scheduled")
    assert base is not None and base >= 1
    assert _os.path.exists(compacted.store.compact_dir("scheduled", base))

    # resume over a compacted store still replays deterministically
    partial = _mk_job(
        spark, crawl_fixture, tmp_path, "cp", compact_seen_every=2, max_waves=2
    )
    partial.run()
    resumed = _mk_job(spark, crawl_fixture, tmp_path, "cp", compact_seen_every=2)
    resumed.run(resume=True)
    assert _order_tuples(resumed) == _order_tuples(plain)
