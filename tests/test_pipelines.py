"""End-to-end pipeline composition (pipelines.py): the operators are
oracle-proven individually; these tests pin the CONTRACTS of the composed
job — determinism, stage invariants and its observed metrics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_trading_data_pipeline_spark.io import read_table
from crypto_trading_data_pipeline_spark.operators.dedup import normalize_text
from crypto_trading_data_pipeline_spark.pipelines import corpus_prep

SF = "/root/testdata/sf0.001"


def test_corpus_prep_invariants(spark):
    docs = read_table(spark, SF, "documents")
    out = corpus_prep(docs).cache()
    try:
        rows = out.collect()
        assert rows, "pipeline produced no chunks"
        # Chunk windows respect the token budget; ids are dense from 0.
        assert all(1 <= r.n_chunk_tokens <= 32 for r in rows)
        first = {r.doc_id for r in rows if r.chunk_id == 0}
        assert {r.doc_id for r in rows} == first, "doc missing its chunk 0"
        # Quality gate actually filtered.
        assert all(r.quality >= 0.45 for r in rows)
        assert {r.split for r in rows} <= {"train", "val", "test"}
        # No two surviving docs share normalized text (dedup contract).
        n_docs = out.select("doc_id").distinct().count()
        n_norm = (
            docs.join(out.select("doc_id").distinct(), "doc_id")
            .select(normalize_text(F.col("text")).alias("n"))
            .distinct()
            .count()
        )
        assert n_docs == n_norm
        # Deterministic: a re-run is row-identical (hash splits, min-id reps).
        again = corpus_prep(docs)
        assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0
    finally:
        out.unpersist()


def test_corpus_prep_observation_metrics(spark, sf_dir):
    """df.observe metrics accumulate during the materializing action (no
    second pass) and report the prep run's health: survivor count, mean
    quality, split sizes."""
    from pyspark.sql import Observation

    from crypto_trading_data_pipeline_spark.io import read_table
    from crypto_trading_data_pipeline_spark.pipelines import corpus_prep

    docs = read_table(spark, sf_dir, "documents")
    obs = Observation("corpus_prep")
    out = corpus_prep(docs, observation=obs)
    n_chunks = out.count()  # the action that drives the metrics
    m = obs.get
    assert 0 < m["docs_kept"] <= docs.count()
    assert 0.0 < m["mean_quality"] <= 1.0
    assert 0 < m["n_train"] <= m["docs_kept"]
    assert n_chunks >= m["docs_kept"]  # every kept doc yields >= 1 chunk
