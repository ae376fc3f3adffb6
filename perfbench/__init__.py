"""Closed-loop benchmark of the callio_etl_spark engine (see README.md)."""
