"""Seeded benchmark inputs and the per-workload engine configuration.

The pages corpus is ``sources.datagen.generate_crawl_fixture`` output, whose
content depends on ``n_pages`` alone; it is generated once per checkout and
cached. Everything the workload seed can change is generated here from a
``random.Random(seed)``: seed-list order and priorities, the alias spellings
and the curation document sample. The engine only ever sees the files these
functions write.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from bodhium_webscrapper_spark.plans.frontier import CrawlConfig
from bodhium_webscrapper_spark.sources.datagen import (
    generate_crawl_fixture,
    prepare_pages,
)

CRAWL_WORKLOADS = ("discovery", "recrawl")
WORKLOADS = CRAWL_WORKLOADS + ("curation",)


@dataclass(frozen=True)
class Size:
    n_pages: int  # corpus pages (every workload reads the same corpus)
    discovery_budget: int  # per-host per-wave budget of the discovery crawl
    curation_docs: int  # documents in the curation sample
    layer_docs: int  # crawl-extracted docs fed to the curation replay
    alias_urls: int  # corpus URLs whose spellings feed the canonicalize replay


SIZES = {
    "full": Size(n_pages=20_000, discovery_budget=5000, curation_docs=1000,
                 layer_docs=600, alias_urls=5000),
    "tiny": Size(n_pages=1_000, discovery_budget=50, curation_docs=150,
                 layer_docs=100, alias_urls=200),
}

# curation thresholds, the dataset job's defaults (jobs/dataset_job.py)
MIN_QUALITY = 0.2
JACCARD = 0.8

# Spellings of one canonical URL that the canonicalizer must collapse:
# upper-case scheme/host with default port and fragment, a dot segment, no
# scheme, a ``www.`` prefix, a ``..`` segment, an empty query.
_SPELLINGS = (
    lambda h, p: f"HTTPS://{h.upper()}:443{p}#frag",
    lambda h, p: f"https://{h}/.{p}",
    lambda h, p: f"{h}{p}",
    lambda h, p: f"https://www.{h}{p}",
    lambda h, p: f"https://{h}/x/..{p}",
    lambda h, p: f"https://{h}{p}?",
)
ALIASES_PER_URL = 4


def crawl_config(workload: str, size: Size) -> CrawlConfig:
    """CrawlConfig defaults except the fields that define the workload, so a
    change to a default is measured."""
    if workload == "discovery":
        # seen threshold below the seen-set size: from wave 1 on the
        # schedule takes the bloom + shuffle anti-join, the 10^10-URL path.
        # No global cap, so the seed reorders the crawl without changing
        # how much of it there is. Five waves: the corpus link tree is five
        # levels deep, so a sixth wave schedules a few dozen URLs and adds
        # only fixed cost.
        return CrawlConfig(max_waves=5, max_urls_per_host_per_wave=size.discovery_budget,
                           global_wave_limit=None, seen_broadcast_threshold=0)
    if workload == "recrawl":
        # one giant wave over the canonical URL dump: no per-host or global
        # cap, trusted-canonical and duplicate-free seeds
        return CrawlConfig(max_waves=1, global_wave_limit=None,
                           max_urls_per_host_per_wave=size.n_pages,
                           seeds_canonical=True, seeds_distinct=True)
    if workload == "curation":
        # only the traced run crawls: one seed wave over the sampled URLs
        return CrawlConfig(max_waves=1)
    raise ValueError(f"unknown workload {workload!r}")


def corpus(cache_dir: str, size: Size) -> dict[str, str]:
    """Generate (or reuse) the seed-independent pages corpus. It is built in
    a private directory and renamed into place, so a run never reads a
    corpus another run is still writing."""
    final = os.path.join(cache_dir, f"corpus_{size.n_pages}")
    if not os.path.exists(os.path.join(final, "datagen_manifest.json")):
        tmp = f"{final}.tmp-{os.getpid()}"
        generate_crawl_fixture(tmp, n_pages=size.n_pages, workers=1)
        try:
            os.rename(tmp, final)
        except OSError:  # another run published its corpus first
            shutil.rmtree(tmp, ignore_errors=True)
    return generate_crawl_fixture(final, n_pages=size.n_pages, workers=1)


def canonical_urls(corpus_paths: dict[str, str]) -> list[str]:
    """Corpus URLs that are their own canonical form (the datagen variant
    rows ``https://WWW.host:443/...`` are aliases, not distinct pages)."""
    urls = pq.read_table(corpus_paths["pages_raw"], columns=["url"])["url"]
    return [u for u in urls.to_pylist() if "://WWW." not in u]


def _split(url: str) -> tuple[str, str]:
    rest = url[len("https://"):]
    host, slash, path = rest.partition("/")
    return host, slash + path


def alias_spellings(corpus_paths: dict[str, str], seed: int, n_urls: int) -> list[str]:
    """``ALIASES_PER_URL`` spellings of each of ``n_urls`` seeded corpus URLs,
    shuffled: raw seeds that canonicalize ``ALIASES_PER_URL``:1."""
    rng = random.Random(seed)
    urls = canonical_urls(corpus_paths)
    spelled = []
    for url in rng.sample(urls, min(n_urls, len(urls))):
        host, path = _split(url)
        spelled += [make(host, path) for make in rng.sample(_SPELLINGS, ALIASES_PER_URL)]
    rng.shuffle(spelled)
    return spelled


def _write(path: str, table: pa.Table) -> str:
    pq.write_table(table, path)
    return path


def _seed_table(urls: list[str], rng: random.Random) -> pa.Table:
    prios = [rng.choice((1.0, 1.5, 2.0)) for _ in urls]
    return pa.table({"url": urls, "priority": pa.array(prios, pa.float64())})


def prepare(spark, workload: str, corpus_paths: dict[str, str], seed: int,
            size: Size, out_dir: str) -> dict[str, str]:
    """One set-up: lay out the pages table and write the seeded inputs.

    Returns paths: ``pages``, ``robots``, and ``seeds`` (crawl workloads) or
    ``docs`` (curation)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    paths = {
        "pages": prepare_pages(spark, corpus_paths["pages_raw"],
                               os.path.join(out_dir, "pages"), n_files=8),
        "robots": corpus_paths["robots"],
    }
    if workload == "discovery":
        roots = pq.read_table(corpus_paths["seeds_full"], columns=["url"])["url"]
        urls = roots.to_pylist()
        rng.shuffle(urls)
        paths["seeds"] = _write(os.path.join(out_dir, "seeds.parquet"),
                                _seed_table(urls, rng))
    elif workload == "recrawl":
        urls = canonical_urls(corpus_paths)
        rng.shuffle(urls)
        paths["seeds"] = _write(os.path.join(out_dir, "seeds.parquet"),
                                _seed_table(urls, rng))
    elif workload == "curation":
        # every pages row is eligible, variant rows included, so exact
        # dedup has byte-identical texts to remove; near-duplicate clusters
        # are kept whole (LSH cost is quadratic in their size)
        table = pq.read_table(corpus_paths["pages_raw"], columns=["url", "text"])
        rows = sorted(rng.sample(range(table.num_rows), size.curation_docs))
        sample = table.take(pa.array(rows))
        paths["docs"] = _write(
            os.path.join(out_dir, "docs.parquet"),
            pa.table({
                "doc_id": pa.array(rows, pa.int64()),
                "url": sample["url"],
                "text": sample["text"],
            }),
        )
        # the traced run crawls the sampled URLs to measure the crawl layers
        paths["seeds"] = _write(os.path.join(out_dir, "seeds.parquet"),
                                _seed_table(sample["url"].to_pylist(), rng))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return paths
