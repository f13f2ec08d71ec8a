"""Table sources: the provided parquet tables (TESTDATA.md), the deterministic
synthetic Common-Crawl-style `pages` corpus (FIXTURES.md A1), WARC
containers, and the snapshot-table format with its MERGE/DELETE writer."""
