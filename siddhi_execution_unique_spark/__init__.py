"""PySpark-native analytics engine with the capabilities of
siddhi-io/siddhi-execution-unique (key-based uniqueness over event
streams), re-expressed Spark-first.

The reference (read-only at /root/reference/) implements 10 unique-ness
window operators plus 1 stream processor as a Siddhi CEP extension.
Here each operator is a declarative ``DataFrame -> DataFrame``
transformation built on Catalyst primitives (``groupBy``/``max_by``/
bucketed event-time windows), with Arrow-batched ``applyInPandas``
reserved for the genuinely order-dependent replay operators, and
Structured Streaming twins in :mod:`siddhi_execution_unique_spark.streaming`.

Timestamp convention: every operator takes an explicit event-time
column (``ts``) plus a deterministic tiebreaker column, turning the
reference's processing-time (arrival-order) semantics into
deterministic, oracle-checkable event-time semantics.
"""

from siddhi_execution_unique_spark.operators import (
    deduplicate,
    ever,
    external_time_batch,
    first,
    first_length_batch,
    first_time_batch,
    length_batch,
    length_window,
    time_batch,
    time_length_batch,
    time_window,
)
from siddhi_execution_unique_spark import _pyworker

# inside a PySpark worker, pay the per-task zip re-read and full-heap
# collect once per worker instead (see _pyworker); a no-op elsewhere
_pyworker.install()

__all__ = [
    "deduplicate",
    "ever",
    "external_time_batch",
    "first",
    "first_length_batch",
    "first_time_batch",
    "length_batch",
    "length_window",
    "time_batch",
    "time_length_batch",
    "time_window",
]

__version__ = "0.1.0"
