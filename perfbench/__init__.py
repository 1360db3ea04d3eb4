"""Seeded, checked, layer-traced benchmark of cuckoo_filter_spark.

Entry point: ``python3 perfbench/run.py`` (see README.md)."""
