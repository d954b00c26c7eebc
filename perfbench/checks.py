"""Output checks and read-only state probes shared by the workloads."""

from __future__ import annotations

import json
import os
import re
import statistics

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def load_digests() -> dict:
    try:
        with open(DIGESTS) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def recorded(workload: str, seed: int, got: dict) -> dict:
    """Compare ``got`` with the digests recorded for (workload, seed); a
    seed without a record adds no check."""
    want = load_digests().get(workload, {}).get(str(seed))
    if want is None:
        return {}
    return {f"recorded_{k}": got.get(k) == v for k, v in want.items()}


# -- crawl ----------------------------------------------------------------------

def politeness_ok(results, robots_rows, default_budget: int) -> bool:
    """No host fetched more than its per-wave budget in any wave."""
    budget = {r["host"]: r["per_wave_budget"] for r in robots_rows}
    per: dict = {}
    for r in results:
        k = (r["wave_id"], r["host"])
        per[k] = per.get(k, 0) + 1
    return all(n <= budget.get(h, default_budget) for (_w, h), n in per.items())


def _rule_regex(pattern: str):
    body = re.escape(pattern).replace(r"\*", ".*")
    if body.endswith(r"\$"):
        body = body[:-2] + "$"
    return re.compile(body)


def robots_allowed(path: str, disallow, allow) -> bool:
    """RFC 9309: the longest matching rule wins; Allow wins ties."""
    best_len, allowed = -1, True
    for rules, verdict in ((disallow or (), False), (allow or (), True)):
        for p in rules:
            if p and _rule_regex(p).match(path):
                n = len(p)
                if n > best_len or (n == best_len and verdict):
                    best_len, allowed = n, verdict
    return allowed


def robots_ok(results, robots_rows) -> bool:
    rules = {r["host"]: (r["disallow"], r["allow"]) for r in robots_rows}
    for r in results:
        d, a = rules.get(r["host"], ((), ()))
        if not robots_allowed(r["path"] or "/", d, a):
            return False
    return True


# -- probes ---------------------------------------------------------------------

def max_deltas(store) -> int:
    """Longest live manifest chain over the store's tables."""
    longest = 0
    for name in os.listdir(store.root):
        v = store.latest_version(name)
        if v is None:
            continue
        with open(os.path.join(store.root, name, f"v={v}.json")) as f:
            longest = max(longest, len(json.load(f)["deltas"]))
    return longest


def filter_fp_rate(spark, index, inserted: set, seed: int, n: int = 20000) -> float:
    """Share of never-inserted keys the seen filter reports as maybe-seen."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(seed * 7919 + 1)
    keys = []
    while len(keys) < n:
        k = rng.getrandbits(64) - (1 << 63)
        if k not in inserted:
            keys.append((k,))
    df = spark.createDataFrame(keys, "url_hash long")
    hits = index.probe(df).filter(F.col("maybe_seen")).count()
    return hits / n


def skew(counts) -> float:
    """max / median of record counts (0 when there is nothing to count)."""
    counts = list(counts)
    if not counts:
        return 0.0
    return max(counts) / max(statistics.median(counts), 1)
