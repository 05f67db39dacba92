"""The 11 uniqueness operators of the reference, Spark-first.

Pure-Catalyst tier (single hash-aggregation plans):
``ever``, ``first``, ``time_batch``, ``first_time_batch``,
``external_time_batch``, ``time_window``, ``length_window``.

Stateful replay tier (Arrow/pandas):
``deduplicate`` (key-distributed), ``length_batch``,
``first_length_batch``, ``time_length_batch`` (globally ordered).

Siddhi's ``partition with (attr of S)`` — an independent window
instance per attribute value — is the ``partition_attr=`` parameter of
the operators whose lowering depends on it (``length_window``,
``length_window_emissions_indexed``,
``length_window_emissions_distributed``, the ``length_batch`` family,
the ``time_length_batch`` and ``external_time_batch`` families, and
the ``expired_channel`` / ``all_channel`` witnesses). For the per-key
windows (``ever``, ``first``, ``time_batch``) an instance per value is
the composite key ``[attr, *keys]``.
"""

from siddhi_execution_unique_spark.operators.keyed import ever, ever_expired, first
from siddhi_execution_unique_spark.operators.length import (
    length_exit_instants,
    length_window,
    length_window_emissions,
    length_window_emissions_distributed,
    length_window_emissions_indexed,
)
from siddhi_execution_unique_spark.operators.replay import (
    deduplicate,
    first_length_batch,
    length_batch,
    length_batch_all,
    length_batch_expired,
    length_batch_forming,
    length_batch_periods,
    time_length_batch,
    time_length_batch_all,
    time_length_batch_distributed,
    time_length_batch_expired,
)
from siddhi_execution_unique_spark.operators.time_batch import (
    all_channel,
    expired_channel,
    external_time_batch,
    external_time_batch_all,
    external_time_batch_expired,
    first_time_batch,
    time_batch,
)
from siddhi_execution_unique_spark.operators.time_window import time_window

__all__ = [
    "all_channel",
    "deduplicate",
    "ever",
    "ever_expired",
    "expired_channel",
    "external_time_batch",
    "external_time_batch_all",
    "external_time_batch_expired",
    "first",
    "first_length_batch",
    "first_time_batch",
    "length_batch",
    "length_batch_all",
    "length_batch_expired",
    "length_batch_forming",
    "length_batch_periods",
    "length_exit_instants",
    "length_window",
    "length_window_emissions",
    "length_window_emissions_distributed",
    "length_window_emissions_indexed",
    "time_batch",
    "time_length_batch",
    "time_length_batch_all",
    "time_length_batch_distributed",
    "time_length_batch_expired",
    "time_window",
]
