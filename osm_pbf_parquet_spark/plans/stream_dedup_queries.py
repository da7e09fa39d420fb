"""Streaming incremental dedup gate (r7, the 11th streaming gate):
documents arriving on a file-source stream are checked against the
already-ingested corpus's persisted MinHash signature table — the
warehouse steady state run as a continuous query instead of per-batch.

The Spark side runs ``dedup.incremental_minhash_dedup_stream`` (the
stream-safe restructuring of the batch operator: signatures ride the
banded explode, no candidate distinct, max-struct argmax) through a real
readStream → stateful agg → memory sink execution with an availableNow
trigger. On static input that equals the batch operator row-for-row, so
the gate reuses the batch ``incremental_dedup`` oracle VERBATIM
(``advanced_queries._oracle_incremental``) — one oracle pinning both the
batch and streaming paths is itself the streaming/batch-unification
check.

Reference context: the reference engine (osm-pbf-parquet) is a one-shot
ETL with no streaming surface; this extends its dedup-adjacent validate
pipeline (osm-pbf-parquet/test/validate.py:57-217) to the continuous
ingestion a 100 TB training-data warehouse runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .relational import read_parquet


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table, schema probed from
    the batch reader (same convention as analytic_queries._event_stream:
    the stream schema must match the file's physical encoding), through
    ``read_parquet``'s memo."""
    probe = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.schema(probe.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming new×old near-dup: incoming docs (doc_id % 5 == 0, the
    same split as the batch ``incremental_dedup`` gate) stream against
    the persisted signatures of the rest of the corpus. Watermarked on a
    deterministic synthetic ingest time (bounded state in update-mode
    deployments); complete mode into the memory sink so the availableNow
    result is the full batch-equal answer."""
    from ..functions.caching import PersistSet
    from ..operators import dedup
    from .analytic_queries import _run_stream_to_table
    from .pipeline_queries import t_adaptive as _pta

    corpus = _pta(spark, sf_dir, "documents").where(F.col("doc_id") % 5 != 0)
    incoming = (
        _doc_stream(spark, sf_dir)
        .where(F.col("doc_id") % 5 == 0)
        .withColumn("ingest_time", F.timestamp_seconds(F.col("doc_id")))
    )
    with PersistSet() as ps:
        # the static signature side is recomputed per micro-batch unless
        # persisted — one batch under availableNow, every batch in a
        # deployed continuous query
        corpus_sigs = ps.persist(
            dedup.minhash_signatures(corpus).select(
                "doc_id", "gram_hashes", "minhash"
            )
        )
        flagged = dedup.incremental_minhash_dedup_stream(
            incoming,
            corpus_sigs,
            watermark=("ingest_time", "1 hour"),
        )
        return _run_stream_to_table(
            spark, flagged, "stream_incdedup_result", "complete"
        )


def _oracle_stream_incremental() -> str:
    # IDENTICAL rows to the batch incremental gate — same split, same
    # signatures, same argmax — so the one oracle pins both paths.
    from .advanced_queries import _oracle_incremental

    return _oracle_incremental()


STREAM_DEDUP_QUERIES = {
    "stream_incremental_dedup": (
        q_stream_incremental_dedup,
        _oracle_stream_incremental(),
    ),
}
