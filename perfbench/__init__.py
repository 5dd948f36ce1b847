"""Seeded benchmark of the memvid_spark facade and curation pipelines;
see run.py."""
