"""One benchmark run of one workload, in a process of its own.

``run.py`` starts this file in a new session, samples the session's memory
and reads back the result file this process writes. Order of a run:

1. set-up, ``SETUP_REPS`` times (session start, seeded inputs, pages prep);
2. one warm-up crawl or curation pass, outside every measurement;
3. closed loop, one job at a time: repetitions until ``--seconds`` elapsed;
4. with ``--trace 1``: one crawl through a ``TimingStore`` with the Spark
   event log on, each layer's public function replayed on that crawl's
   largest wave, and a curation pass;
5. correctness checks on every repetition's outputs (never timed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.functions.canonicalize import with_canonical_url
from bodhium_webscrapper_spark.functions.extract import make_extract_page_outlinks_udf
from bodhium_webscrapper_spark.functions.textstats import lang_id, quality_score, token_count
from bodhium_webscrapper_spark.operators.dedup import exact_text_dedup, minhash_lsh_pairs
from bodhium_webscrapper_spark.operators.politeness import (
    global_ordered_cap,
    host_budget_map,
    per_host_budget,
    with_crawl_delay_budget,
)
from bodhium_webscrapper_spark.operators.robots import flatten_rules, robots_gate
from bodhium_webscrapper_spark.operators.seen import DistributedBloom, seen_anti_join_cached
from bodhium_webscrapper_spark.plans.checkpoint import SnapshotStore
from bodhium_webscrapper_spark.plans.frontier import (
    SEEN_SCHEMA,
    CrawlConfig,
    CrawlJob,
    dedup_first_wins_frontier,
)
from bodhium_webscrapper_spark.session import build_session

import checks
import inputs
import tracing

SETUP_REPS = 3


# ---------------------------------------------------------------- session

def host_heap_mb() -> int:
    """Driver heap sized to this host: an eighth of RAM (or of the cgroup
    limit, if lower), at least 1 GiB, in 256 MiB steps. The session's own
    default (spark.driver.memory=48g) exceeds this host's RAM."""
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            total_mb = min(total_mb, int(limit) // 2**20)
    except OSError:
        pass
    return max(1024, total_mb // 8 // 256 * 256)


def start_session(workdir: str, heap_mb: int, eventlog_dir: str | None):
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when its collector chose to grow the heap, so
        # peak_rss_mb moves with off-heap and Python memory only
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"),
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # local[N] with N = nproc: the CPUs this process may run on
    return build_session(f"local[{len(os.sched_getaffinity(0))}]", "perfbench", extra_conf=conf)


class Progress:
    """Append-only record of repetitions started, so the parent can count
    attempts even when this process is killed."""

    def __init__(self, path: str):
        self.path = path
        self.attempted = 0

    def start(self, kind: str) -> None:
        self.attempted += 1
        with open(self.path, "a") as f:
            f.write(json.dumps({"rep": kind, "t": time.time()}) + "\n")


# ---------------------------------------------------------------- crawl

@dataclass
class CrawlRep:
    job: CrawlJob
    summary: dict
    t_ctor: float
    t_run: float
    t_end: float

    @property
    def wall(self) -> float:
        return self.t_end - self.t_ctor

    @property
    def urls(self) -> int:
        return self.summary["total_candidates"] + self.summary["total_scheduled"]


def crawl_rep(spark, inp: dict, cfg: CrawlConfig, ckpt: str, traced: bool = False) -> CrawlRep:
    shutil.rmtree(ckpt, ignore_errors=True)
    seeds = spark.read.parquet(inp["seeds"])
    robots = spark.read.parquet(inp["robots"])
    t_ctor = time.time()
    store = tracing.TimingStore(ckpt) if traced else SnapshotStore(ckpt)
    job = CrawlJob(spark, inp["pages"], seeds, robots, cfg, ckpt, store=store)
    t_run = time.time()
    summary = job.run()
    return CrawlRep(job, summary, t_ctor, t_run, time.time())


@dataclass
class CrawlOutputs:
    order_digest: str
    seen_digest: str
    violations: dict[str, int]


def check_crawl(spark, rep: CrawlRep, inp: dict, cfg: CrawlConfig,
                golden: pd.DataFrame) -> CrawlOutputs:
    job = rep.job
    committed = job.store.committed_wave()
    order = job.crawl_order().toPandas()
    seen = job.seen_set().toPandas()
    fetched = job.extracted().select("url_hash", "text").toPandas()
    scheduled = job.store.read_deltas(spark, "scheduled", committed).select(
        "wave", "canonical_url", "host").toPandas()
    robots = pq.read_table(inp["robots"]).to_pandas()
    return CrawlOutputs(
        order_digest=checks.frame_digest(order),
        seen_digest=checks.frame_digest(seen, sort_by=["url_hash"]),
        violations={
            "text": checks.text_mismatches(fetched, golden),
            "budget": checks.budget_violations(
                scheduled, robots, cfg.max_urls_per_host_per_wave,
                cfg.wave_period_ms, cfg.global_wave_limit),
            "robots": checks.robots_violations(scheduled, robots),
        },
    )


# ---------------------------------------------------------------- curation

@dataclass
class CurationRep:
    wall: float
    docs: int
    spans: dict[str, float]
    pairs: pd.DataFrame
    kept: pd.DataFrame
    candidates: int = -1


def curation_rep(spark, docs_path: str, count_candidates: bool = False) -> CurationRep:
    """quality + language, exact dedup, MinHash-LSH pairs, token count; each
    step materialized and timed."""
    t0 = time.time()
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    scored = (
        docs.withColumn("quality", quality_score(F.col("text")))
        .withColumn("lang_pred", lang_id(F.col("text")))
        .filter(F.col("quality") >= inputs.MIN_QUALITY)
        .persist()
    )
    scored.count()
    t1 = time.time()
    deduped = exact_text_dedup(scored, "text", "doc_id").persist()
    deduped.count()
    t2 = time.time()
    pairs = minhash_lsh_pairs(deduped, "doc_id", "text",
                              jaccard_threshold=inputs.JACCARD).persist()
    pairs.count()
    t3 = time.time()
    kept = deduped.join(pairs.select(F.col("id_b").alias("doc_id")).distinct(),
                        "doc_id", "left_anti")
    kept.select(F.count(F.lit(1)), F.sum(token_count(F.col("text")))).first()
    t4 = time.time()
    spans = {"score_s": t1 - t0, "exact_dedup_s": t2 - t1, "minhash_s": t3 - t2,
             "tokens_s": t4 - t3}
    rep = CurationRep(
        wall=t4 - t0,
        docs=pq.ParquetFile(docs_path).metadata.num_rows,
        spans=spans,
        pairs=pairs.toPandas(),
        kept=kept.select("doc_id", "lang_pred", "quality").toPandas(),
    )
    if count_candidates:
        rep.candidates = minhash_lsh_pairs(deduped, "doc_id", "text",
                                           jaccard_threshold=None).count()
    for df in (scored, deduped, pairs):
        df.unpersist()
    return rep


def curation_digests(rep: CurationRep) -> tuple[str, str]:
    return (checks.frame_digest(rep.pairs, sort_by=["id_a", "id_b"]),
            checks.frame_digest(rep.kept, sort_by=["doc_id"]))


# ---------------------------------------------------------------- layers

def _materialize(df):
    df = df.persist()
    return df, df.count()


def _timed(df):
    df = df.persist()
    t0 = time.time()
    n = df.count()
    return df, n, time.time() - t0


def replay_layers(spark, rep: CrawlRep, inp: dict, cfg: CrawlConfig,
                  corpus_paths: dict, seed: int, size: inputs.Size) -> dict[str, float]:
    """Replay each schedule/fetch layer's public function on the inputs of
    the traced crawl's largest committed wave; every call is materialized
    (persist + count) and timed on its own. The canonicalizer is replayed
    on seeded alias spellings of corpus URLs (four per URL), since the
    workloads' own seeds are host roots or already canonical."""
    job, waves = rep.job, rep.summary["waves"]
    wave = max(waves, key=lambda w: w["candidates"])["wave"]
    seen_before = sum(w["scheduled"] for w in waves if w["wave"] < wave)
    keep = []
    m = {}

    spelled = inputs.alias_spellings(corpus_paths, seed, size.alias_urls)
    raw, n_raw = _materialize(spark.createDataFrame(pd.DataFrame({"url": spelled})))
    canon, _, dt = _timed(with_canonical_url(raw, "url"))
    m["canonicalize.urls_per_s"] = n_raw / dt
    keep += [raw, canon]

    frontier = job._seed_frontier() if wave == 0 else job._frontier_after(wave - 1)
    frontier, n_frontier = _materialize(frontier)
    seen, _ = _materialize(spark.createDataFrame([], SEEN_SCHEMA) if wave == 0
                           else job._seen_upto(wave - 1))
    keep += [frontier, seen]

    deduped, n_deduped, m["dedup.first_wins_s"] = _timed(dedup_first_wins_frontier(frontier))
    m["dedup.collapse_ratio"] = n_frontier / max(1, n_deduped)
    bloom = None
    if cfg.use_bloom and seen_before > cfg.seen_broadcast_threshold:
        bloom = DistributedBloom(spark, cfg.bloom_buckets, cfg.bloom_capacity)
        bloom.add_delta(seen)
        bloom.blobs, _ = _materialize(bloom.blobs)
        keep.append(bloom.blobs)
    new_plan, flagged = seen_anti_join_cached(deduped, seen, "url_hash", bloom)
    new, _, m["seen.anti_join_s"] = _timed(new_plan)
    m["seen.bloom_pass_ratio"] = (
        flagged.filter(F.col("_maybe_seen")).count() / max(1, n_deduped)
        if flagged is not None else 0.0
    )
    keep += [deduped, new] + ([flagged] if flagged is not None else [])

    robots = spark.read.parquet(inp["robots"])
    rules, _ = _materialize(flatten_rules(robots))
    gated, _, m["robots.gate_s"] = _timed(robots_gate(new, rules, flat=True))
    budgets, _ = _materialize(host_budget_map(
        robots, cfg.max_urls_per_host_per_wave, cfg.wave_period_ms))
    capped, _, m["politeness.budget_s"] = _timed(per_host_budget(
        with_crawl_delay_budget(gated, None, cfg.max_urls_per_host_per_wave,
                                cfg.wave_period_ms, budgets=budgets),
        cfg.max_urls_per_host_per_wave,
        salt_buckets=cfg.salt_buckets if n_frontier > cfg.salt_activation_threshold else 1,
        budget_col="_host_budget",
    ))
    # workloads without a global cap replay it at the default limit
    limit = cfg.global_wave_limit or CrawlConfig().global_wave_limit
    final, _, m["politeness.cap_s"] = _timed(global_ordered_cap(
        capped, limit, takeordered_threshold=cfg.global_cap_takeordered_threshold))
    keep += [rules, gated, budgets, capped, final]

    scheduled = job.store.read(spark, wave, "scheduled").select("url_hash")
    pages, n_pages = _materialize(
        spark.read.parquet(inp["pages"]).select("url_hash", "url", "html")
        .join(F.broadcast(scheduled), "url_hash", "left_semi"))
    udf = make_extract_page_outlinks_udf(cfg.domain_scope if cfg.same_host_only else "all")
    extracted, _, dt = _timed(pages.select(
        "url_hash", udf(F.col("html"), F.col("url")).alias("p")))
    m["extract.pages_per_s"] = n_pages / dt
    keep += [pages, extracted]
    for df in keep:
        df.unpersist()
    return m


def frontier_metrics(rep: CrawlRep, jobs: list[tracing.JobRecord]) -> dict[str, float]:
    """Split the traced crawl's wall time: Spark-busy time inside each phase
    span, time in which no Spark job ran, and Spark-busy time outside every
    phase (unattributed). The parts sum to ``frontier.wall_s``."""
    store: tracing.TimingStore = rep.job.store
    main = threading.main_thread().name
    window = [(rep.t_ctor, rep.t_end)]
    in_window = [j for j in jobs if j.start >= rep.t_ctor and j.end <= rep.t_end]
    busy = tracing.union([(j.start, j.end) for j in in_window])
    sched = store.intervals("write:scheduled", main)
    seed_end = min((a for a, _ in sched), default=rep.t_end)
    phases = {
        "init_s": [(rep.t_ctor, rep.t_run)],
        "seed_count_s": [(rep.t_run, seed_end)],
        "schedule_s": sched,
        "fetch_extract_s": store.intervals("write:page_results", main),
    }
    m = {f"frontier.{k}": tracing.length(tracing.intersect(v, busy)) for k, v in phases.items()}
    wall = tracing.length(window)
    m["frontier.wall_s"] = wall
    m["frontier.driver_gap_s"] = wall - tracing.length(busy)
    m["frontier.unattributed_s"] = tracing.length(busy) - tracing.length(
        tracing.intersect(busy, [i for v in phases.values() for i in v]))
    waves = rep.summary["waves"]
    m["frontier.jobs_per_wave"] = sum(
        1 for j in in_window if j.description.startswith("w")) / max(1, len(waves))

    scheduled = sum(w["scheduled"] for w in waves)
    sched_jobs = tracing.phase_jobs(in_window, "schedule")
    fetch_jobs = tracing.phase_jobs(in_window, "fetch_extract")
    shuffle = sum(j.shuffle_write_bytes for j in sched_jobs)
    m.update({
        "schedule.shuffle_write_bytes": shuffle,
        "schedule.shuffle_bytes_per_url": shuffle / max(1, scheduled),
        "schedule.spill_bytes": sum(j.spill_bytes for j in sched_jobs),
        "schedule.task_s": sum(j.task_s for j in sched_jobs),
        "schedule.gc_s": sum(j.gc_s for j in sched_jobs),
        "fetch.task_s": sum(j.task_s for j in fetch_jobs),
        "fetch.input_bytes": sum(j.input_bytes for j in fetch_jobs),
        "fetch.gc_s": sum(j.gc_s for j in fetch_jobs),
        "fetch.hit_ratio": sum(w["fetched"] for w in waves) / max(1, scheduled),
        "extract.python_udf_s": sum(j.python_run_s for j in fetch_jobs),
        "checkpoint.commit_s": tracing.length(store.commit_intervals()),
        "checkpoint.footer_read_s": tracing.length(store.footer_intervals()),
    })
    return m


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


# ---------------------------------------------------------------- the run

@dataclass
class Result:
    heap_mb: int
    setup_s: list[float] = field(default_factory=list)
    rep_walls: list[float] = field(default_factory=list)
    rep_items: list[int] = field(default_factory=list)
    checks: dict[str, int] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    per_layer: dict[str, float] = field(default_factory=dict)
    phase_s: dict[str, float] = field(default_factory=dict)
    error: str | None = None


def _median_rate(items: list[int], walls: list[float]) -> float:
    return statistics.median(n / w for n, w in zip(items, walls))


def run(opts) -> Result:
    size = inputs.SIZES[opts.size]
    heap_mb = host_heap_mb()
    res = Result(heap_mb)
    progress = Progress(os.path.join(opts.run_dir, "progress.jsonl"))
    cache = os.path.join(opts.workdir, "cache")
    corpus_paths = inputs.corpus(cache, size)  # built once per checkout
    eventlog = os.path.join(opts.run_dir, "eventlog") if opts.trace else None
    if eventlog:
        os.makedirs(eventlog)

    spark = None
    for i in range(SETUP_REPS):
        t0 = time.time()
        if spark is not None:
            spark.stop()
        spark = start_session(opts.workdir, heap_mb, eventlog)
        inp = inputs.prepare(spark, opts.workload, corpus_paths, opts.seed, size,
                             os.path.join(opts.run_dir, f"setup{i}"))
        res.setup_s.append(time.time() - t0)

    crawl = opts.workload in inputs.CRAWL_WORKLOADS
    cfg = inputs.crawl_config(opts.workload, size)
    ckpt = lambda tag: os.path.join(opts.run_dir, f"ckpt_{tag}")  # noqa: E731

    # closed loop, one job at a time; with --trace 1 every crawl goes
    # through the TimingStore and the event log records every job
    gc0 = tracing.jvm_gc_ms(spark)
    tracing.reset_heap_peak(spark)
    reps = []
    t_loop = time.time()
    while not reps or time.time() - t_loop < opts.seconds:
        progress.start("timed")
        if crawl:
            rep = crawl_rep(spark, inp, cfg, ckpt(f"rep{len(reps)}"), traced=bool(opts.trace))
            res.rep_items.append(rep.urls)
        else:
            rep = curation_rep(spark, inp["docs"], count_candidates=bool(opts.trace))
            res.rep_items.append(rep.docs)
        res.rep_walls.append(rep.wall)
        reps.append(rep)
    t_trace = time.time()

    traced = layer_curation = None
    if opts.trace:
        res.per_layer["jvm.gc_s"] = (tracing.jvm_gc_ms(spark) - gc0) / 1e3 / len(reps)
        res.per_layer["jvm.heap_peak_mb"] = tracing.heap_peak_mb(spark)
        res.per_layer["trace.items_per_s"] = _median_rate(res.rep_items, res.rep_walls)
        if crawl:
            traced = reps[-1]
            docs_path = os.path.join(opts.run_dir, "crawl_docs.parquet")
            (traced.job.extracted().select(F.col("url_hash").alias("doc_id"), "text")
             .orderBy("doc_id").limit(size.layer_docs)
             .toPandas().to_parquet(docs_path, index=False))
            progress.start("layer_curation")
            layer_curation = curation_rep(spark, docs_path, count_candidates=True)
        else:
            # curation leaves the crawl layers idle: crawl its own sample once
            progress.start("layer_crawl")
            traced = crawl_rep(spark, inp, cfg, ckpt("layers"), traced=True)
            layer_curation = reps[-1]
        res.per_layer.update(replay_layers(spark, traced, inp, cfg, corpus_paths,
                                           opts.seed, size))

    t_checks = time.time()
    golden = spark.read.parquet(inp["pages"]).select("url_hash", "text").toPandas()
    # ---- correctness, outside every timed region. One entry per checked
    # output: (violations, digests); a digest differing from the first
    # output's fails that output too.
    outputs: list[tuple[int, tuple]] = []
    if crawl:
        for r in reps:
            o = check_crawl(spark, r, inp, cfg, golden)
            for name, n in o.violations.items():
                res.checks[name] = res.checks.get(name, 0) + n
            outputs.append((sum(o.violations.values()), (o.order_digest, o.seen_digest)))
        digest_names = ("order_digest", "seen_digest")
    else:
        for r in reps:
            n = checks.pair_violations(r.pairs, inputs.JACCARD)
            res.checks["pairs"] = res.checks.get("pairs", 0) + n
            outputs.append((n, curation_digests(r)))
        digest_names = ("pair_digest", "kept_digest")
        if traced is not None:  # the layer crawl must extract golden text too
            fetched = traced.job.extracted().select("url_hash", "text").toPandas()
            res.checks["text"] = checks.text_mismatches(fetched, golden)
            outputs.append((res.checks["text"], outputs[0][1]))
    if crawl and layer_curation is not None:
        res.checks["layer_pairs"] = checks.pair_violations(layer_curation.pairs, inputs.JACCARD)
        outputs.append((res.checks["layer_pairs"], outputs[0][1]))
    ref = outputs[0][1]
    for k, name in enumerate(digest_names):
        res.checks[name] = checks.digest_disagreements([d[k] for _, d in outputs])
    # the same workload, seed and size must give the same outputs in every
    # run of this checkout, traced or not
    res.checks["cross_run_digest"] = _cross_run(cache, opts, ref)
    res.failed = sum(1 for n, d in outputs if n or d != ref) + res.checks["cross_run_digest"]

    if opts.trace:
        c = layer_curation
        res.per_layer.update({
            "curation.score_s": c.spans["score_s"],
            "curation.exact_dedup_s": c.spans["exact_dedup_s"],
            "curation.minhash_s": c.spans["minhash_s"],
            "curation.tokens_s": c.spans["tokens_s"],
            "curation.lsh_candidate_pairs": c.candidates,
            "curation.verified_ratio": len(c.pairs) / max(1, c.candidates),
        })
        scheduled = sum(w["scheduled"] for w in traced.summary["waves"])
        res.per_layer["checkpoint.bytes_per_url"] = _dir_bytes(traced.job.store.root) / max(1, scheduled)
        # compaction replayed on the traced crawl's committed deltas
        traced.job.store.compact_deltas(spark, "scheduled", traced.job.store.committed_wave())
        log = os.path.join(eventlog, spark.sparkContext.applicationId)
        spark.stop()  # closes the event log
        spark = None
        res.per_layer.update(frontier_metrics(traced, tracing.parse_eventlog(log)))
        res.per_layer["checkpoint.compact_s"] = tracing.length(
            traced.job.store.intervals("compact_deltas"))
    if spark is not None:
        spark.stop()
    res.attempted = progress.attempted
    res.phase_s = {"setup": sum(res.setup_s), "measure": t_trace - t_loop,
                   "trace": t_checks - t_trace, "checks": time.time() - t_checks}
    return res


def _cross_run(cache: str, opts, digests) -> int:
    path = os.path.join(cache, "digests", f"{opts.workload}-{opts.size}-{opts.seed}.json")
    digests = list(digests)
    if os.path.exists(path):
        with open(path) as f:
            return int(json.load(f) != digests)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(digests, f)
    os.replace(tmp, path)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=sorted(inputs.SIZES), required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--run-dir", required=True)
    opts = ap.parse_args(argv)
    try:
        res = run(opts)
    except Exception as e:  # reported to the parent, which counts the failure
        import traceback

        traceback.print_exc()
        res = Result(0, error=f"{type(e).__name__}: {e}")
    with open(os.path.join(opts.run_dir, "result.json"), "w") as f:
        json.dump(res.__dict__, f)
    return 0 if res.error is None else 1


if __name__ == "__main__":
    sys.exit(main())
