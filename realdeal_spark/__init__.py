"""realdeal_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the semantics of robinsingh1/realdeal
(a 2016 scrape→diff→upsert real-estate pipeline) as an idiomatic
PySpark engine: a binlog/WAL-style change-event tail
(insert/update/delete per ``url``) applied to ACID lake tables of
Common-Crawl-style web pages via micro-batch MERGE, with per-key
LSN-ordered conflation, salted skew handling, schema evolution, and
exactly-once epoch commits.

Layout
------
- ``lake``      — hand-rolled ACID parquet+manifest table format
                  (snapshot isolation, bucket pruning, time travel,
                  schema evolution).  Replaces the reference's Google
                  Fusion Tables row store
                  (reference: realdeal/fusion_tables_client.py).
- ``cdc``       — change-event generator, per-key conflation
                  (two-phase salted dedup), the epoch apply loop with
                  exactly-once guard + lineage
                  (reference: realdeal/luigi/find_new_properties.py,
                  realdeal/real_deal_batch_uploader.py,
                  dedupe_properties.py).
- ``extract``   — vectorized html→text boilerplate stripping, lang-id,
                  text quality / token stats (reference: the scrapy
                  spiders' per-row xpath extraction re-expressed as
                  Arrow-batched pandas UDFs).
- ``operators`` — relational building blocks (anti-join find-new,
                  latest-per-key, dedup family incl. MinHash-LSH /
                  SimHash / n-gram Jaccard, similarity search).
- ``functions`` — scalar column functions (derived metrics, numeric
                  cleanup, key building; reference: realdeal/mortgage.py
                  and spider coercions).
- ``streaming`` — Structured Streaming (``stream_apply``, a
                  foreachBatch adapter over ``CdcApplier.apply_batch``;
                  per-trigger budget).
"""

__version__ = "0.1.0"
