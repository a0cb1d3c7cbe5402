"""Benchmark for the clinical ETL engine: see README.md."""
