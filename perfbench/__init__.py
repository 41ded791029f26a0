"""Crawl benchmark on the production wave path (see README.md)."""
