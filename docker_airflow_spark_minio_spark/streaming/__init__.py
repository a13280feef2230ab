"""Structured Streaming surface.

The reference is batch-only (its "streaming" is a daily cron re-run of
the whole pipeline, reference datalake_pipeline_breweries.py:200-216).
This package provides the streaming expressions of the engine's windowed
shapes -- the same builders work on batch and streaming DataFrames, the
idiomatic-Spark unified model -- plus a file-source ingest helper that
turns the bronze NDJSON landing zone into an incremental stream.
"""

import importlib

# Exports resolve on first access (PEP 562): Spark unpickles the
# snapshot_table source in a fresh interpreter on every stream start,
# and importing ``streaming.table_source`` must not pay for pandas and
# every builder module on the way.
_EXPORTS = {
    "dedup_stream": ".dedup",
    "interval_join": ".joins",
    "run_gold_stream": ".silver",
    "run_silver_stream": ".silver",
    "running_totals": ".stateful",
    "hopping_counts": ".windows",
    "session_stats": ".windows",
    "tumbling_counts": ".windows",
    "stream_bronze": ".source",
    "SnapshotTableStreamSource": ".table_source",
}
__all__ = list(_EXPORTS)


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module, __name__), name)
    globals()[name] = value
    return value
