"""go_muse_spark — a from-scratch PySpark-native time-series rollup /
downsample / retention engine with go-muse's similarity-search capability.

Reference behavior: aouyang1/go-muse (see SURVEY.md). This package is a
Spark-first redesign, not a port: everything above the per-group numpy
kernels is declarative DataFrame API so Catalyst handles pushdown, pruning
and AQE; the numeric core (z-norm + FFT cross-correlation, reference
xcorr.go:102-197) lives in vectorized numpy invoked through Arrow-batched
pandas UDFs.

Layers (SURVEY.md §7):
  L0 ingest     transcripts(conv_id, turn_idx, role, text, tool, ts)
  L1 rollup     tumbling-window tiers 1m/1h/1d (continuous aggregates)
  L2 gapfill    dense bucket spine + zero/ffill/linear fill
  L3 compress   Gorilla XOR values + delta-of-delta timestamps -> chunks
  L4 search     muse: ref spectrum in the task closure -> scoring -> top-K
  Ops           incremental MERGE, per-partition checkpoints, resume
"""

import sys as _sys

from go_muse_spark import kernels, labels  # noqa: F401

__version__ = "0.1.0"

# Every engine UDF imports this package when a Python worker unpickles
# it, so this runs once per worker process and never in the driver (a
# worker has pyspark loaded and a TaskContext set).
if "pyspark" in _sys.modules:
    from pyspark import TaskContext as _TaskContext

    if _TaskContext.get() is not None:
        from go_muse_spark.session import install_zip_stat_check

        install_zip_stat_check()
