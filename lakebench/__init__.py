"""Lake-path benchmark for the DuckLake connector (see run.py)."""
