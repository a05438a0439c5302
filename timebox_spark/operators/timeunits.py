"""Date/time unit registry.

Reference: a unit registry ns/us/ms/s/m/h/D with conversion multipliers
(/root/reference/timebox/utils/datetime_utils.py:6-98). Spark
timestamps are µs precision, so 'ns' is representable only as
metadata.

The coarsest exact unit of a delta array (``compress_time_delta_array``,
datetime_utils.py:118-142) is picked by the ``.npb`` writer over ns
deltas at rest (``sources.npb._coarsen_deltas``); driver key q10
reports it for Spark timestamp columns as one aggregate pass over this
registry (``plans.queries._unit_ladder``).
"""

from __future__ import annotations

# unit -> microseconds per unit, coarse → fine (D1, datetime_utils.py:6-55)
UNIT_US: dict[str, int] = {
    "D": 86_400_000_000,
    "h": 3_600_000_000,
    "m": 60_000_000,
    "s": 1_000_000,
    "ms": 1_000,
    "us": 1,
}


def conversion_multiplier(from_unit: str, to_unit: str) -> float:
    """How many ``to_unit`` in one ``from_unit`` (D3: reference
    get_conversion_multiplier('m','s') == 60,
    datetime_utils.py:87-98)."""
    return UNIT_US[from_unit] / UNIT_US[to_unit]
