"""floorist_spark — a PySpark-native batch ETL / analytics engine.

A ground-up re-expression of the capabilities of RedHatInsights/floorist
(reference: /root/reference, see SURVEY.md): a YAML "floorplan" declares a
list of ``{prefix, query, chunksize}`` dump specs; each query is executed by
Spark SQL (Catalyst) over registered views (native mode) or pushed to a JDBC
source (parity mode), and the result is written as date-partitioned gzip
Parquet with chunk-size-controlled file granularity, empty-result markers,
idempotent retry and an exit-code contract.

On top of the reference surface, the engine ships large-scale
training-data-pipeline operators: deduplication (exact / MinHash-LSH /
SimHash / n-gram Jaccard / embedding-cosine), similarity search over
embedding columns, text analysis (language-ID, quality scoring, token
counting, fingerprinting), event analytics (tumbling / sliding / session
windows, as-of joins) with Structured Streaming variants, and multimodal
binary-column plumbing.

Everything is DataFrame-first: logical plans are declared via the
DataFrame/SQL API and physical strategy is left to Catalyst + Tungsten
(broadcast hints, AQE, partitioned writes); Python UDFs appear only where
built-in operators genuinely cannot express the semantics, and then always
as Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"
