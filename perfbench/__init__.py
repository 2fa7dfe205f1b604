"""Standalone benchmark for jurimetria_etl_spark (see DESIGN.md)."""
