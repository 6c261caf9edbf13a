"""Tick / TickOption — timer-driven state transitions independent of input.

Reference: ``Tick[F, S]: S => F[S]`` and ``TickOption`` —
core/src/main/scala/com/evolutiongaming/kafka/flow/Tick.scala:7-31,
core/.../TickOption.scala:6-44; driven by ``TickToState.run``
(core/.../TickToState.scala:32-49).  A ``None`` result deletes the key
(canonical use: session expiry, docs/overview.md:303-306).

In the Spark engine ticks run in the timeout branch of the
``applyInPandasWithState`` function, and for offset timers inside its fold
loop — see streaming.flow.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

State = Any


@dataclass(frozen=True)
class TickOption:
    """``(state | None) -> state | None``; ``None`` result = delete key."""

    fn: Callable[[State | None], State | None]

    def __call__(self, state: State | None) -> State | None:
        return self.fn(state)

    def and_then(self, other: "TickOption") -> "TickOption":
        return TickOption(lambda s: other.fn(self.fn(s)))

    @staticmethod
    def identity() -> "TickOption":
        return TickOption(lambda s: s)

    @staticmethod
    def delete_if(pred: Callable[[State], bool]) -> "TickOption":
        """Delete state when predicate holds (idle-session expiry pattern)."""
        return TickOption(lambda s: None if s is not None and pred(s) else s)


def tick_option(fn: Callable[[State | None], State | None]) -> TickOption:
    return TickOption(fn)
