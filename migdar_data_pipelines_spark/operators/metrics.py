"""Driver-side run diagnostics for iterative operators.

Fixed-point loops (connected components, and anything built on it) have a
ROUND COUNT that depends on the data — graph diameter for CC — and that
count multiplies every per-round cost at scale, so it is reported next to
wall time (SCALING.md) to tell "more rounds" from "slower rounds".
Operators record into ``LAST`` keyed by a short name; purely a driver-side
diagnostic — nothing here is read by any query plan, and the dict holds a
handful of ints (no per-row data).
"""

from __future__ import annotations

LAST: dict[str, int | float] = {}


def record(name: str, value: int | float) -> None:
    LAST[name] = value


__all__ = ["LAST", "record"]
