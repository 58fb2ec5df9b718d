"""Benchmark of the crawl engine and the query catalog (``run.py``)."""
