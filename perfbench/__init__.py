"""Closed-loop benchmark of the ncbi_analysis_spark engine (see run.py)."""
