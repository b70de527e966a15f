"""Sources & sinks (SURVEY.md §2 H): append-only ingest, ETL stamping,
the synthetic-events and jsonl_docs data sources."""
