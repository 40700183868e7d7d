"""Correctness checks over a workload's outputs, run outside the timed region.

Every check is a plain function of pandas frames or digests, independent of
the engine code it checks, so a test can hand it a deliberately corrupted
output and see it fire. Each check returns its number of violations
(0 = pass).
"""

from __future__ import annotations

import hashlib

import pandas as pd


def frame_digest(df: pd.DataFrame, sort_by: list[str] | None = None) -> str:
    """sha256 over the rows of ``df`` in order (after ``sort_by``, if given)."""
    if sort_by:
        df = df.sort_values(sort_by, kind="mergesort")
    h = hashlib.sha256()
    h.update(",".join(df.columns).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(repr(row).encode())
    return h.hexdigest()


def digest_disagreements(digests: list) -> int:
    """Runs whose digest differs from the first run's."""
    return sum(1 for d in digests[1:] if d != digests[0])


def text_mismatches(fetched: pd.DataFrame, golden: pd.DataFrame) -> int:
    """Fetched pages whose extracted ``text`` is not byte-identical to the
    pages table's golden ``text`` (joined on ``url_hash``; a fetched page
    with no golden row counts as a mismatch)."""
    merged = fetched[["url_hash", "text"]].merge(
        golden[["url_hash", "text"]].rename(columns={"text": "golden"}),
        on="url_hash", how="left",
    )
    same = merged["text"].notna() & (merged["text"] == merged["golden"])
    return int((~same).sum())


def host_budgets(robots: pd.DataFrame, budget: int, wave_period_ms: int) -> dict[str, int]:
    """Per-host per-wave budget from the robots crawl delay, recomputed here
    from its definition: min(budget, max(1, wave_period_ms // delay))."""
    out = {}
    for host, delay in robots.groupby("host")["crawl_delay_ms"].max().items():
        if delay and delay > 0:
            out[host] = min(budget, max(1, wave_period_ms // int(delay)))
    return out


def budget_violations(scheduled: pd.DataFrame, robots: pd.DataFrame, budget: int,
                      wave_period_ms: int, wave_limit: int | None) -> int:
    """(wave, host) groups over their per-wave budget, plus waves over the
    global wave limit."""
    budgets = host_budgets(robots, budget, wave_period_ms)
    per_host = scheduled.groupby(["wave", "host"]).size()
    over = sum(
        1 for (_wave, host), n in per_host.items() if n > budgets.get(host, budget)
    )
    if wave_limit:
        over += int((scheduled.groupby("wave").size() > wave_limit).sum())
    return over


def robots_violations(scheduled: pd.DataFrame, robots: pd.DataFrame) -> int:
    """Scheduled URLs whose path starts with a disallowed prefix of its host."""
    rules: dict[str, list[str]] = {}
    for host, prefixes in zip(robots["host"], robots["disallow_prefixes"]):
        rules.setdefault(host, []).extend(list(prefixes))
    bad = 0
    for url, host in zip(scheduled["canonical_url"], scheduled["host"]):
        prefixes = rules.get(host)
        if not prefixes:
            continue
        path = url.split("://", 1)[1]
        path = path[path.find("/"):] if "/" in path else "/"
        bad += any(path.startswith(p) for p in prefixes)
    return bad


def pair_violations(pairs: pd.DataFrame, threshold: float) -> int:
    """Near-duplicate pairs below the Jaccard threshold or not ordered
    ``id_a < id_b``."""
    return int(((pairs["jaccard"] < threshold) | (pairs["id_a"] >= pairs["id_b"])).sum())
