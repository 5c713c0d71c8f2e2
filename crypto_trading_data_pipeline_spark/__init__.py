"""crypto_trading_data_pipeline_spark — a PySpark-native analytics engine.

A clean-room, Spark-first rebuild of the query/data-processing capabilities of
the reference `GregoryKogan/crypto-trading-data-pipeline` (a Kafka → Spark
Structured Streaming → Postgres OHLCV pipeline; see SURVEY.md), extended with
large-scale training-data operators (dedup, similarity search, text analysis,
multimodal plumbing).

Design principles (SURVEY.md §4, §7):
- DataFrame/SQL everywhere; let Catalyst/Tungsten optimize. No RDDs.
- Batch and streaming share the same DataFrame-in/DataFrame-out transform
  functions (the streaming job is just the batch transform over readStream).
- Built-in functions over UDFs; Pandas UDFs only where built-ins can't
  express the semantics (multimodal decode).
- Every operator designed for a 1000-executor / 100 TB deployment: broadcast
  small dims, partial aggregation, AQE, salting helpers.
- Every top-level name is reached from an entry point (the driver contract,
  ``__main__``, the benches, the scripts) or is the reference's own runtime,
  kept with its reason in tests/test_reachability.py.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
from .io import read_table  # noqa: F401
