"""End-to-end benchmark of the public ingest, query and operator APIs; see run.py."""
