"""sits_classification_spark — a PySpark-native time-series rollup + downsample
+ retention engine.

A brand-new engine (NOT a port) with the temporal query semantics of
LUP-LuftbildUmweltPlanung/SITS_classification (reference at /root/reference):
equidistant compositing, cloud-gap interpolation (linear + LOCF/NOCB),
fixed-length sequence windows, and fold-based continuous aggregates cascading
raw -> 10-day -> monthly -> seasonal retention tiers over tables of
pre-tokenized sequences ``(doc_id string, tokens array<int>, n_tok int,
source string)``.

Architecture is Spark-first: DataFrame/Column expressions wherever Catalyst
can own the plan (filters, folds, window LOCF, dedup, trend); vectorized
pandas/Arrow UDFs only for the genuinely non-relational kernels (fused
gap-fill+resample, RBF smoothing, harmonic fit, Gorilla compression).

The top-level exports load on first use (PEP 562), so importing the
package imports no PySpark: Spark's Python workers start from
``worker_daemon``, which must set up the import path first.
"""

import importlib

__all__ = ["Engine", "EngineConfig", "get_spark"]
__version__ = "0.1.0"


def __getattr__(name):
    module = {"Engine": "plans.engine", "EngineConfig": "config", "get_spark": "session"}.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{module}"), name)
    globals()[name] = value
    return value
