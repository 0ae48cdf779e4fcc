"""Micro-batcher configuration — reference parity for Config semantics.

Reference: /root/reference/nibbler.go:25-68 (Config struct, Sanitize,
Validate) and nibbler.go:18-23 (Trigger enum). Defaults pinned by the
reference tests (nibbler_test.go:239-257): size=100, ticker=60 s (the doc
comment at nibbler.go:30 claims 1 s but the code at :54 sets one minute —
code wins), processing_timeout=1 s.
"""

from __future__ import annotations

import enum
from collections.abc import Callable
from dataclasses import dataclass

from nibbler_spark.errors import NibblerValidationError

# Thresholds below which a configured duration is replaced by its default
# (reference: "< time.Millisecond", nibbler.go:49,53).
_MIN_DURATION_S = 0.001

DEFAULT_SIZE = 100
DEFAULT_TICKER_S = 60.0
DEFAULT_PROCESSING_TIMEOUT_S = 1.0


class Trigger(enum.Enum):
    """Why a batch was flushed (reference: nibbler.go:18-23).

    TICKER      — the time-based ticker fired with a non-empty buffer
                  (nibbler.go:154-158).
    BATCH_FULL  — the buffer reached ``size`` on item arrival
                  (nibbler.go:160-165).
    """

    TICKER = "TICKER"
    BATCH_FULL = "BATCH_FULL"

    def __str__(self) -> str:  # stable rendering for goldens
        return self.value


# Processor callback: (deadline_monotonic_seconds, trigger, batch) -> None.
# Raise to signal failure. The deadline is cooperative/advisory exactly like
# the reference's context.WithTimeout (nibbler.go:28-29,103-104) — the engine
# never preempts the callback.
BatchProcessor = Callable[[float, Trigger, list], None]
# Error callback: (failed_batch, error) -> None (nibbler.go:44-45,168-170).
ProcessorErrCallback = Callable[[list, BaseException], None]


@dataclass
class Config:
    """Validated micro-batcher configuration (reference: nibbler.go:25-68)."""

    processor: BatchProcessor | None = None
    size: int = 0
    ticker_s: float = 0.0
    processing_timeout_s: float = 0.0
    resume_after_err: bool = False
    processor_err: ProcessorErrCallback | None = None

    def sanitize(self) -> "Config":
        """Apply reference defaults in place (nibbler.go:48-60)."""
        if self.processing_timeout_s < _MIN_DURATION_S:
            self.processing_timeout_s = DEFAULT_PROCESSING_TIMEOUT_S
        if self.ticker_s < _MIN_DURATION_S:
            self.ticker_s = DEFAULT_TICKER_S
        if self.size == 0:
            self.size = DEFAULT_SIZE
        return self

    def validate(self) -> "Config":
        """Reject configs with no processor (nibbler.go:62-68)."""
        if self.processor is None:
            raise NibblerValidationError(
                "validation: processor is required"
            )
        return self

    def sanitize_validate(self) -> "Config":
        """sanitize then validate (nibbler.go:70-73)."""
        return self.sanitize().validate()
