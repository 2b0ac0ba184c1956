"""Scale smoke for the COMPOSED streaming curation pipeline
(streaming/curation.py): drain an N×-scaled sf0.1 corpus through the
full ingest chain in 4 id-ordered micro-batches and report per-batch
wall-clock plus store growth.

What linear-ish per-batch cost certifies: every cross-batch decision is
an equi join against a hash-keyed store (canonical URL / span key /
fingerprint / LSH band), so batch cost should grow with batch size and
be insensitive to store size beyond the join's shuffle of the store
side — the 100 TB contract the module docstring states.

Run: python tools/stream_smoke.py [multipliers...]   (default 1 10 50)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import url as UU
from streamprocessing_kafka_finlight_news_dashboard_spark.streaming import curation as C
from tools.scale_smoke import scaled_docs

SF_DIR = "/root/testdata/sf0.1"
N_BATCHES = 4


def run(spark, mult: int) -> None:
    docs = scaled_docs(spark, SF_DIR, mult)
    corpus = docs.select(
        "doc_id",
        "lang",
        "text",
        UU.synthetic_url(F.col("doc_id"), F.col("source")).alias("url"),
    )
    n_docs = corpus.count()
    hi = corpus.agg(F.max("doc_id")).first()[0] + 1
    rates = UU.epoch_domain_rates(corpus)
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")

    tmp = tempfile.mkdtemp(prefix=f"stream_smoke_{mult}x_")
    try:
        drops = f"{tmp}/drops"
        step = (hi + N_BATCHES - 1) // N_BATCHES
        for i in range(N_BATCHES):
            corpus.filter(
                (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            ).write.mode("append").parquet(drops)
        schema = spark.read.parquet(drops).schema
        # one writer per batch (availableNow drains everything, so we
        # meter per batch by draining file-by-file via the checkpoint)
        store, ck = f"{tmp}/store", f"{tmp}/ck"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )
        t0 = time.perf_counter()
        q = C.write_stream_curation_pipeline(
            stream, store, ck, rates=rates, eval_docs=eval_docs
        )
        # meter batch boundaries from the ledger
        ledger = f"{store}/_ledger"
        seen, times = set(), []
        while q.isActive:
            time.sleep(0.25)
            for e in sorted(os.listdir(ledger)) if os.path.isdir(ledger) else []:
                if e not in seen:
                    seen.add(e)
                    times.append(time.perf_counter() - t0)
        q.awaitTermination(10)
        total = time.perf_counter() - t0
        kept = C.read_curation_store_docs(spark, store).count()
        spans = (
            spark.read.schema("key string").parquet(f"{store}/spans").count()
            if os.path.isdir(f"{store}/spans")
            else 0
        )
        per_batch = [times[0]] + [
            round(times[i] - times[i - 1], 1) for i in range(1, len(times))
        ]
        print(
            f"{mult:>3}x: docs={n_docs} kept={kept} span_store={spans} "
            f"total={total:.1f}s per_batch={[round(t, 1) for t in per_batch]}",
            flush=True,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 50]
    spark = get_spark(app_name="stream-smoke")
    print(f"# composed streaming curation smoke over {SF_DIR}, "
          f"{N_BATCHES} id-ordered micro-batches", flush=True)
    for m in mults:
        run(spark, m)


if __name__ == "__main__":
    main()
