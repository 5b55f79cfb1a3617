"""The examples/ pipeline is a tested artifact, not drift-prone docs:
the funnel must be monotone (each stage only removes rows), the split
must cover the published set, the fuzzy-dedup stage must agree with
q_minhash_dedup's DuckDB oracle, and — the repo's core property — a
second run must reproduce the funnel bit-identically (every decision
is content-hash deterministic, never random()/rand())."""

from __future__ import annotations

import importlib.util
import os

from .conftest import SF_DIR

_EX = os.path.join(
    os.path.dirname(__file__), "..", "examples", "curation_pipeline.py"
)


def _load():
    spec = importlib.util.spec_from_file_location("curation_example", _EX)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_curation_pipeline_funnel(spark, tmp_path):
    mod = _load()
    f = mod.run_pipeline(spark, SF_DIR, str(tmp_path / "run1"))
    assert (
        f["ingested"]
        >= f["after_quality"]
        >= f["after_exact_dedup"]
        >= f["after_fuzzy_dedup"]
        >= f["after_decontamination"]
        == f["published"]
        > 0
    )
    assert f["train"] + f["valid"] == f["published"]
    assert f["txlog_version"] == 0
    # deterministic replay: identical funnel on a fresh output table
    f2 = mod.run_pipeline(spark, SF_DIR, str(tmp_path / "run2"))
    assert f2 == f


def test_fuzzy_stage_matches_minhash_dedup_oracle(spark):
    """Stage 4 runs q_minhash_dedup's pipeline with its constants, so
    its survivors must equal that query's DuckDB oracle replayed over
    stage 4's own input (the exact-dedup survivors)."""
    import duckdb

    from dask_cudf_spark.queries.text import _minhash_dedup_oracle

    _, stages = _load().build_curated(spark, SF_DIR)
    cols = ["doc_id", "lang", "source"]
    stage_in = stages["after_exact_dedup"].select(*cols, "text").toPandas()
    got = sorted(
        tuple(r) for r in stages["after_fuzzy_dedup"].select(*cols).collect()
    )
    con = duckdb.connect()
    try:
        con.register("documents", stage_in)
        want = sorted(con.execute(_minhash_dedup_oracle()).fetchall())
    finally:
        con.close()
    assert len(want) < len(stage_in)  # the stage has something to drop
    assert got == want, (len(stage_in), len(got), len(want))
