"""Maintenance runbook: compact every ledgered store under a deploy
directory and report before/after partition counts.

Store layouts are detected by directory shape:

- composed curation store: urlcanon/ + spans/ + fps/ + docs/ + bands/
  (→ streaming.curation.compact_curation_store, which also compacts
  its stats/ subdir);
- canonical dedup store: docs/ + bands/ without the curation families
  (→ compact_canonical_store);
- semantic verdict store: verdicts/ (→ compact_semantic_verdict_store);
- stats store: any stats family dir (dsir/bm25_*/mixture/domains/
  drift) with its own _ledger (→ compact_stats_store).

Run: python tools/compact_stores.py DEPLOY_DIR [DEPLOY_DIR...]
Single-writer assumption applies per store (see the writers' heal
docstrings): run this with no concurrent writers or readers.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming import curation as C
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming import ledger as L
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming import pipeline as P

_CURATION = {"urlcanon", "spans", "fps", "docs", "bands"}
_STATS = set(P.STATS_SCHEMAS)


def _n_partitions(store: str) -> int:
    n = 0
    for root, dirs, _ in os.walk(store):
        n += sum(1 for d in dirs if L.is_partition(d))
    return n


def classify(store: str) -> str | None:
    subs = {e for e in os.listdir(store) if os.path.isdir(os.path.join(store, e))}
    if "_ledger" not in subs:
        return None
    if _CURATION <= subs:
        return "curation"
    if {"docs", "bands"} <= subs:
        return "canonical"
    if "verdicts" in subs:
        return "verdicts"
    if subs & _STATS:
        return "stats"
    return None


def find_stores(deploy: str):
    """Yield (path, kind) for every detected store under ``deploy``
    (including ``deploy`` itself). Children of a detected store are
    not re-visited EXCEPT a curation store's stats/ subdir, which its
    own compactor handles."""
    stack = [deploy]
    while stack:
        d = stack.pop()
        kind = classify(d)
        if kind:
            yield d, kind
            continue
        for e in sorted(os.listdir(d)):
            p = os.path.join(d, e)
            if os.path.isdir(p) and not L.is_partition(e):
                stack.append(p)


def main() -> int:
    deploys = sys.argv[1:]
    if not deploys:
        raise SystemExit(__doc__)
    spark = get_spark(app_name="compact-stores")
    total = 0
    for deploy in deploys:
        for store, kind in find_stores(deploy):
            before = _n_partitions(store)
            if kind == "curation":
                n = sum(C.compact_curation_store(spark, store))
            elif kind == "canonical":
                n = P.compact_canonical_store(spark, store)
            elif kind == "verdicts":
                n = P.compact_semantic_verdict_store(spark, store)
            else:
                n = P.compact_stats_store(spark, store)
            after = _n_partitions(store)
            total += n
            print(
                f"{store} [{kind}]: replaced {n} batches, "
                f"partitions {before} -> {after}",
                flush=True,
            )
    print(f"done: {total} batches compacted")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
