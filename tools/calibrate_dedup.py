"""Regenerate CALIBRATION.md: measured recall/precision of the LSH
candidate generators across parameter settings, against EXACT ground
truth (complete for J > 0 / all cosine pairs at this SF).

The theory curve for banded MinHash (k hashes, b bands, r = k/b rows)
is P(candidate | J) = 1 − (1 − J^r)^b; this sweep shows where the
measured corpus sits on it, so the shipped defaults are a choice with
evidence, not folklore.

Run: python tools/calibrate_dedup.py [/root/testdata/sf0.001]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark import get_spark
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
from streamprocessing_kafka_finlight_news_dashboard_spark.operators import similarity as S
from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import shingle_rows_arrow
from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize
from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

MINHASH_CONFIGS = [(16, 4), (32, 4), (32, 8), (64, 16)]  # (num_hashes, bands)
SIGNLSH_BITS = [4, 6, 8, 10]
J_THRESHOLDS = (0.5, 0.7, 0.8)
COS_THRESHOLDS = (0.4, 0.7, 0.9)


def exact_jaccard(docs) -> dict[tuple[int, int], float]:
    rows = shingle_rows_arrow(docs)
    sizes = rows.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = rows.select(F.col("id").alias("id_a"), "shingle")
    b = rows.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sa")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sb")), "id_b")
        .withColumn("jac", F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")))
    )
    return {(r.id_a, r.id_b): r.jac for r in j.collect()}


def exact_cosine_pairs(emb, threshold: float) -> dict[tuple[int, int], float]:
    base = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    ).transform(materialize, eager=True)
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(S.cosine(F.col("va"), F.col("vb")), 6).alias("c"))
        .filter(F.col("c") >= threshold)
    )
    return {(r.id_a, r.id_b): r.c for r in pairs.collect()}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="calibrate-dedup")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    exact = exact_jaccard(docs)
    n_docs = docs.count()
    all_pairs = n_docs * (n_docs - 1) // 2

    lines = [
        "# CALIBRATION — LSH parameter sweep vs exact ground truth\n",
        f"\nRegenerated by `python tools/calibrate_dedup.py` at `{sf_dir}`",
        f" ({n_docs} docs, {all_pairs} possible pairs;",
        f" {sum(1 for v in exact.values() if v >= 0.5)} true pairs at J≥0.5).\n",
        "\n## MinHash banding (portable affine family)\n",
        "\nTheory: P(candidate | J) = 1 − (1 − J^r)^b with r = hashes/bands.\n",
        "\n| hashes | bands | rows/band | candidates | cand % of all pairs | "
        + " | ".join(f"recall@J≥{t}" for t in J_THRESHOLDS)
        + " | precision(J≥0.5) |\n",
        "|---|---|---|---|---|" + "---|" * len(J_THRESHOLDS) + "---|\n",
    ]
    for num_hashes, bands in MINHASH_CONFIGS:
        cand = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_candidates_portable(
                docs, num_hashes=num_hashes, bands=bands
            ).collect()
        }
        recalls = []
        for t in J_THRESHOLDS:
            true = {k for k, v in exact.items() if v >= t}
            recalls.append(f"{len(true & cand) / len(true):.3f}" if true else "n/a")
        prec = (
            sum(1 for c in cand if exact.get(c, 0.0) >= 0.5) / len(cand)
            if cand
            else float("nan")
        )
        lines.append(
            f"| {num_hashes} | {bands} | {num_hashes // bands} | {len(cand)} | "
            f"{100 * len(cand) / all_pairs:.2f}% | "
            + " | ".join(recalls)
            + f" | {prec:.3f} |\n"
        )

    cos_scores = exact_cosine_pairs(emb, min(COS_THRESHOLDS))
    n_emb = emb.count()
    emb_pairs = n_emb * (n_emb - 1) // 2
    truth = {
        t: {k for k, v in cos_scores.items() if v >= t} for t in COS_THRESHOLDS
    }
    lines += [
        "\n## Sign-LSH band width (embeddings, 4 bands)\n",
        "\nGround truth pair counts: "
        + ", ".join(f"{len(truth[t])} at cos≥{t}" for t in COS_THRESHOLDS)
        + f" among {emb_pairs} possible.\n",
        "\n| bits/band | candidates | cand % | "
        + " | ".join(f"recall@cos≥{t}" for t in COS_THRESHOLDS)
        + " |\n",
        "|---|---|---|" + "---|" * len(COS_THRESHOLDS) + "\n",
    ]
    for bits in SIGNLSH_BITS:
        b = S.sign_lsh_bands(emb, n_bands=4, band_bits=bits).transform(materialize, eager=True)
        left = b.select(F.col("vid").alias("id_a"), "band", "bkey")
        right = b.select(F.col("vid").alias("id_b"), "band", "bkey")
        cand = {
            (r.id_a, r.id_b)
            for r in left.join(right, ["band", "bkey"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .collect()
        }
        recalls = [
            f"{len(truth[t] & cand) / len(truth[t]):.3f}" if truth[t] else "n/a"
            for t in COS_THRESHOLDS
        ]
        lines.append(
            f"| {bits} | {len(cand)} | {100 * len(cand) / emb_pairs:.1f}% | "
            + " | ".join(recalls)
            + " |\n"
        )
    lines.append(
        "\nReading: MinHash banding is saturated on this corpus — every "
        "config reaches recall 1.0 on the planted J≥0.5 near-dups at "
        "~0.02% candidate volume, so the shipped 32/8 default is safe "
        "margin, not tuning-on-the-edge. Sign-LSH: this corpus has NO "
        "pairs above cos 0.7, so the sweep only shows the moderate-"
        "similarity regime, which is intrinsically hostile to "
        "hyperplane LSH — P(bit agrees | cos=0.4) = 1−acos(0.4)/π ≈ "
        "0.63, so an 8-bit band matches with p ≈ 0.025 and recall at "
        "volume is a lost cause by theory, not by implementation. The "
        "near-DUP contract lives at high cosine, where the same bands "
        "work: P(agree | cos=0.9) ≈ 0.857, band match p ≈ 0.29, and "
        "the shipped 8-band × 8-bit default reaches theory recall "
        "0.94 (vs 0.75 at 4 bands) for ~3% candidate volume. Raising "
        "recall further means MORE bands, never wider buckets (4-bit "
        "buckets = 23% of all pairs = a de-facto cross join, the "
        "round-3 fix).\n"
    )

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CALIBRATION.md"
    )
    with open(out, "w") as fh:
        fh.write("".join(lines))
    print("CALIBRATION.md written")
    spark.stop()


if __name__ == "__main__":
    main()
