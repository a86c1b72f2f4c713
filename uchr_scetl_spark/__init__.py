"""uchr_scetl_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities catalogued in SURVEY.md: relational operators over a
star-schema corpus, file sources/sinks, event-stream windowing
(batch + Structured Streaming), and first-class LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text
analysis) — every operator expressed as declarative DataFrame algebra
so Catalyst/Tungsten/AQE pick the physical strategy, and designed to
hold up at 100 TB (no driver-side loops, no unbounded pairwise work).
"""

__version__ = "0.1.0"

from .memo import clear_caches  # noqa: F401
from .registry import REGISTRY, QuerySpec, load_registry, query  # noqa: F401
from .session import configure, get_session  # noqa: F401
