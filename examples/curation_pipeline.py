"""End-to-end LLM training-data curation on the engine's public API.

The funnel every production corpus goes through, expressed with this
repo's three API layers working together:

    ingest -> quality filter -> exact dedup -> fuzzy dedup (MinHash-LSH
    with full connected components) -> decontamination (anti-join vs a
    benchmark set) -> deterministic train/valid split -> ACID publish
    (txlog table with commit-recorded stats)

Layers shown:
- ``Frame`` / ``Col`` — the dask-cudf-style dataframe API
  (``dask_cudf_spark.frame``), with ``.spark`` as the escape hatch.
- ``operators.dedup`` — the scale-safe dedup primitives (banded LSH,
  never all-pairs; single-link clusters via connected components).
- ``sources.txlog`` — the lakehouse sink: snapshot-isolated commits,
  time travel, stats for data skipping.

Every decision is content-hash deterministic (md5 buckets, min-id
survivors), so the pipeline replays bit-identically on any cluster
size / partitioning — the property the whole repo's oracle gate
enforces (README: cross-engine determinism playbook).

Run:  python examples/curation_pipeline.py [SF_DIR] [OUT_DIR]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402


def build_curated(spark, sf_dir: str):
    """Stages 1-6 of the funnel as Spark DataFrames.

    Building is not free: stage 4's connected components runs one Spark
    job (LSH + union-find) and checkpoints its component table, so the
    frames read the components instead of recomputing them.  Every
    other stage is lazy.

    Returns ``(frame, stages)``: ``frame`` is the pre-publish frame
    (stage 6's output, what step 7 commits) and ``stages`` maps each
    funnel name to the frame it counts.  ``run_pipeline`` counts and
    publishes them; ``scripts/pipeline_bench.py`` audits the composed
    plan of ``frame``.
    """
    from dask_cudf_spark.frame import read_parquet
    from dask_cudf_spark.operators.dedup import (
        exact_dedup,
        near_dedup_minhash_sig,
    )

    stages = {}

    # 1. ingest ----------------------------------------------------------
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    stages["ingested"] = docs.spark

    # 2. quality filter (Frame/Col layer: pandas-style expressions) ------
    docs = docs.assign(
        n_tokens=docs.text.str.split().list.len(),
        alpha_ratio=(
            docs.text.str.count(r"[A-Za-z]").astype("double")
            / docs.text.str.len().clip(lower=1)
        ),
    )
    kept = docs[
        (docs.n_tokens >= 5)
        & (docs.alpha_ratio > 0.4)
        & docs.lang.isin(["en", "de", "fr"])
    ]
    stages["after_quality"] = kept.spark

    # 3. exact dedup (content-fingerprint, keep lowest doc_id) -----------
    sdf = exact_dedup(kept.spark, text_col="text", id_col="doc_id")
    stages["after_exact_dedup"] = sdf

    # 4. fuzzy dedup: banded MinHash-LSH over md5 char-5-gram signatures
    #    -> signature-agreement verify (>= 80% of 16 hashes) -> single-
    #    link connected components; survivors = cluster min id.  Same
    #    constants as q_minhash_dedup, whose DuckDB oracle replays it --
    sdf = near_dedup_minhash_sig(
        sdf,
        text_col="text",
        id_col="doc_id",
        threshold=0.8,
        num_hashes=16,
        bands=4,
        shingle=5,
    )
    stages["after_fuzzy_dedup"] = sdf

    # 5. decontamination: drop anything sharing a fingerprint with the
    #    benchmark set (here: a deterministic 2% sample standing in for
    #    a held-out eval suite) — broadcast anti-join, corpus never
    #    shuffles
    bench = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.pmod(F.crc32(F.col("text")), F.lit(50)) == 0)
        .select(F.md5(F.col("text")).alias("bench_fp"))
        .distinct()
    )
    sdf = (
        sdf.withColumn("fp", F.md5(F.col("text")))
        .join(
            F.broadcast(bench),
            F.col("fp") == F.col("bench_fp"),
            "left_anti",
        )
        .drop("fp")
    )
    stages["after_decontamination"] = sdf

    # 6. deterministic split: md5 bucket on content, not random() —
    #    replays identically at any parallelism
    sdf = sdf.withColumn(
        "split",
        F.when(
            F.pmod(F.conv(F.substring(F.md5(F.col("text")), 1, 6), 16, 10)
                   .cast("long"), F.lit(100)) < 95,
            F.lit("train"),
        ).otherwise(F.lit("valid")),
    )
    return sdf, stages


def run_pipeline(
    spark, sf_dir: str, out_dir: str, funnel_counts: bool = True
) -> dict:
    from dask_cudf_spark.sources import txlog

    sdf, stages = build_curated(spark, sf_dir)
    # Each intermediate count is a SEPARATE action that re-executes
    # every stage above it back to the components checkpoint —
    # priceless while debugging a funnel, O(stages x scans) at 100 TB.
    # The production/bench path (funnel_counts=False) skips these: its
    # only actions after the build's components job are the publish
    # write and a single final-stats aggregation
    # (scripts/pipeline_bench.py audits the scan count).
    funnel: dict[str, int] = (
        {name: df.count() for name, df in stages.items()}
        if funnel_counts
        else {}
    )

    # 7. ACID publish: txlog commit with min/max stats on n_tokens so
    #    downstream readers can data-skip on document length
    table = f"{out_dir}/curated_docs"
    version = txlog.commit(
        sdf, table, op="overwrite", stats_cols=["n_tokens"]
    )
    published = txlog.read_snapshot(spark, table)
    # final stats in ONE aggregation over the published table (three
    # separate counts = three scans of the table we just wrote)
    split_counts = {
        r["split"]: r["n"]
        for r in published.groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    funnel["published"] = sum(split_counts.values())
    funnel["train"] = split_counts.get("train", 0)
    funnel["valid"] = split_counts.get("valid", 0)
    funnel["txlog_version"] = version
    return funnel


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = (
        sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="curated-")
    )
    from dask_cudf_spark.session import get_spark

    spark = get_spark(app_name="curation-pipeline-example")
    funnel = run_pipeline(spark, sf_dir, out_dir)
    print(json.dumps(funnel))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
