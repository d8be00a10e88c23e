"""Data sources: the JDBC reader (PostgreSQL parity, SURVEY §2 F2/F3);
the parquet testdata scans live in ``floorist_spark.session``."""
