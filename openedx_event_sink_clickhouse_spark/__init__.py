"""PySpark-native analytics/ETL engine with the query and data-processing
capabilities of ``openedx-unsupported/openedx-event-sink-clickhouse``.

Built from scratch on idiomatic Spark (DataFrame/SQL + Catalyst + Structured
Streaming). The reference defines WHAT we compute — incremental sink
pipelines, projections with JSON-packed columns, hierarchical tree
ordinals, fan-out, PII retirement — while the HOW is Spark-first:
declarative logical plans, broadcast joins for dimensions, window
functions instead of stateful row loops, anti-joins instead of per-row
watermark queries, and ``foreachBatch`` streaming reusing the exact batch
pipelines.

Layout:
    session     — tuned SparkSession builder (AQE, shuffle partitions, UTC)
    sources     — batch parquet table loaders + streaming sources
    functions   — pure column-expression helpers (derivations, hashes,
                  text metrics, vector math) — JVM-side, codegen-friendly;
                  import them from their modules
    operators   — the operator inventory from SURVEY.md §2 plus the
                  LLM-data-pipeline extensions (dedup, similarity, text,
                  multimodal)
    plans       — EP1–EP3 pipelines composed from operators
    sinks       — CSV encode, ClickHouse-parity HTTP sink
    streaming   — foreachBatch dispatch (its handler map is the sink lookup
                  and gating) + watermarked window aggregates
    cli         — the backfill command; ``TABLE_KEYS`` maps each table to
                  its key and modified column
"""

__version__ = "0.1.0"
