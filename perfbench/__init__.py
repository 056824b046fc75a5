"""crawlspark benchmark harness (see README.md)."""
