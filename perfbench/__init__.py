"""Closed-loop benchmark of the crawl-analytics engine; see run.py."""
