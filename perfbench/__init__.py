"""Three-workload benchmark (serve / batch / ingest); see README.md."""
