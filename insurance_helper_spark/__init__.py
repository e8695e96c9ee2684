"""insurance_helper_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the data-processing
capabilities of the reference ETL pipeline (EXTREMOPHILARUM/insurance-helper):
scrape-style ingestion, cleaning, dedup, incremental anti-join pipelines,
a full relational query surface, and LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) — all
designed for 100 TB scale on a real cluster.

Layout:
- ``session``    — SparkSession builder tuned for correctness + scale.
- ``schemas``    — declared StructTypes (bronze product tables, state tables).
- ``functions``  — pure column-expression libraries (cleaning, dates, text).
- ``operators``  — composite dataframe operators (dedup, similarity, joins,
                   incremental, topk).
- ``sources``    — table loaders, the paginated-HTTP scrape source, binary
                   (multimodal) ingestion.
- ``streaming``  — structured-streaming operators (interval and enrichment
                   joins, corpus ingest, drift gate).
- ``queries``    — the query catalog backing ``__spark_entry__.py``.
"""

__version__ = "0.1.0"
