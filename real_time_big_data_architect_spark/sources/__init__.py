"""Ingestion layer: source catalog, payload schemas, JSON normalization,
HTTP poll (reference Extract+Transform, app.py:40-189)."""

from real_time_big_data_architect_spark.sources.registry import SOURCES

# NOTE: the ``normalize`` function is intentionally NOT re-exported here:
# it shares its name with its submodule, and a package-level re-export
# shadows ``sources.normalize`` (the module) on attribute access.
__all__ = ["SOURCES"]
