"""Query registry — every operator from SURVEY.md §2 (+ M3/M5 extras)
exposed as a (spark, sf_dir) → DataFrame callable with, where
SQL-expressible, a DuckDB oracle string.

Thin aggregator: the registry lives in ``qreg``; query definitions in
``q_cdc`` (CDC core), ``q_relational`` (batch consumer surface),
``q_pipeline`` (dedup / similarity / text-analysis extras). Importing
this module registers everything. ``QUERIES`` keeps registration
order, so the CDC core leads; no reader depends on the order.
"""

from __future__ import annotations

# Imported for their registration side effects.
from pg2kafka_spark import q_cdc as _q_cdc  # noqa: F401
from pg2kafka_spark import q_relational as _q_relational  # noqa: F401
from pg2kafka_spark import q_pipeline as _q_pipeline  # noqa: F401
from pg2kafka_spark.qreg import ORACLES, QUERIES, QueryFn, query

__all__ = ["QUERIES", "ORACLES", "QueryFn", "query"]
