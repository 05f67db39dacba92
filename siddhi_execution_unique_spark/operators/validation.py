"""Eager parameter validation, mirroring the reference's init-time
``SiddhiAppValidationException`` checks (e.g. reference:
component/src/main/java/io/siddhi/extension/execution/unique/
UniqueLengthWindowProcessor.java:117-126, UniqueTimeWindowProcessor.java:137-161).

Siddhi time constants (``1 sec``, ``500 milliseconds``) are sugar for
long millis (reference: UniqueTimeWindowProcessor.java:139-151); we
accept the same sugar as strings plus plain ints.
"""

from __future__ import annotations

import numbers
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TIME_UNITS_MS = {
    "ms": 1,
    "millisecond": 1,
    "milliseconds": 1,
    "millisec": 1,
    "sec": 1000,
    "second": 1000,
    "seconds": 1000,
    "min": 60_000,
    "minute": 60_000,
    "minutes": 60_000,
    "hour": 3_600_000,
    "hours": 3_600_000,
    "day": 86_400_000,
    "days": 86_400_000,
}

_TIME_RE = re.compile(r"^\s*(\d+)\s*([a-zA-Z]+)\s*$")


def parse_time_ms(value: int | str, param: str = "window.time") -> int:
    """Normalize a time parameter to positive long millis.

    Accepts an int/long of millis or a Siddhi-style constant string
    like ``"1 sec"`` / ``"500 ms"`` / ``"2 min"``.
    """
    if isinstance(value, bool):  # bool is an int subclass; reject explicitly
        raise ValueError(f"{param} must be int millis or a time constant, got bool")
    if isinstance(value, int):
        ms = value
    elif isinstance(value, str):
        m = _TIME_RE.match(value)
        if not m or m.group(2).lower() not in _TIME_UNITS_MS:
            raise ValueError(
                f"{param} must be int millis or '<n> <unit>' with unit in "
                f"{sorted(set(_TIME_UNITS_MS))}, got {value!r}"
            )
        ms = int(m.group(1)) * _TIME_UNITS_MS[m.group(2).lower()]
    else:
        raise ValueError(
            f"{param} must be a constant int (millis) or time-constant string, "
            f"got {type(value).__name__}"
        )
    if ms <= 0:
        raise ValueError(f"{param} must be > 0 ms, got {ms}")
    return ms


def require_pos_int(value: int, param: str = "window.length") -> int:
    """Window lengths must be constant positive ints (reference:
    UniqueLengthWindowProcessor.java:120-124)."""
    if isinstance(value, bool) or not isinstance(value, int):
        raise ValueError(f"{param} must be a constant int, got {type(value).__name__}")
    if value <= 0:
        raise ValueError(f"{param} must be > 0, got {value}")
    return value


def require_start_time(value, param: str = "start.time"):
    """``start.time`` is an optional constant int of epoch millis; time
    sugar such as ``'1 sec'`` is a duration, not an instant."""
    if value is not None and (
            isinstance(value, bool) or not isinstance(value, numbers.Integral)):
        raise ValueError(f"{param} must be an int constant (epoch ms), got {value!r}")
    return value


def require_keys(keys, param: str = "unique.key") -> list:
    """Unique keys: one or more column names / Column expressions
    (reference accepts variadic key expressions,
    UniqueEverWindowProcessor.java:71-81, generateKey :216-222)."""
    if keys is None:
        raise ValueError(f"{param} is required")
    if isinstance(keys, (str, Column)):
        keys = [keys]
    try:
        keys = list(keys)
    except TypeError:
        raise ValueError(
            f"{param} must be a column name, Column, or list thereof, "
            f"got {type(keys).__name__}"
        ) from None
    if not keys:
        raise ValueError(f"{param} requires at least one key expression")
    for k in keys:
        if not isinstance(k, (str, Column)):
            raise ValueError(
                f"{param} entries must be column names or Column expressions, "
                f"got {type(k).__name__}"
            )
    return keys


def require_column(df: DataFrame, name: str, param: str) -> str:
    if not isinstance(name, str) or name not in df.columns:
        raise ValueError(
            f"{param} must name a column of the input DataFrame "
            f"(columns: {df.columns}), got {name!r}"
        )
    return name


def key_cols(keys) -> list[Column]:
    """Normalize keys to Column objects (string → column reference)."""
    return [F.col(k) if isinstance(k, str) else k for k in keys]


def stage_keys(df: DataFrame, keys) -> tuple[DataFrame, list[str], list[str]]:
    """Materialize Column-expression keys as named columns so APIs that
    need column NAMES (dropDuplicates, join-on-names) can address them.
    A Column's string form is not a resolvable column of the frame, and
    stringifying via the JVM handle breaks under Spark Connect.

    Returns ``(staged_df, key_names, generated_names)``; callers drop
    ``generated_names`` from their output."""
    staged = df
    names: list[str] = []
    generated: list[str] = []
    for i, k in enumerate(keys):
        if isinstance(k, str):
            names.append(k)
        else:
            name = f"_unique_key_{i}"
            staged = staged.withColumn(name, k)
            names.append(name)
            generated.append(name)
    return staged, names, generated
