"""Benchmark of the presto_ads_spark engine; see README.md."""
