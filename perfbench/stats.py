"""Pure helpers: order statistics, span self time, output mismatch counting."""

from __future__ import annotations

import statistics
from collections import Counter
from dataclasses import dataclass


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them; a
    single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


# ------------------------------------------------------------ correctness


@dataclass
class Mismatches:
    dropped: int = 0  # input turns missing from the output
    duplicated: int = 0  # extra copies of an input turn
    unexpected: int = 0  # output rows whose key is not an input turn
    altered: int = 0  # sampled turns whose fields differ from the oracle
    metrics: int = 0  # checkpoint.metrics() disagreeing with the table

    @property
    def total(self) -> int:
        return self.dropped + self.duplicated + self.unexpected + self.altered + self.metrics

    def add(self, other: "Mismatches") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def worst_share(self, key_checks: int, field_checks: int, metric_checks: int) -> float:
        """The largest share of failed checks over the three kinds of
        check, each divided by the checks of its own kind: output keys
        against the input turns, sampled rows against the sampled turns,
        and manifest metrics against the outputs checked."""
        keys = self.dropped + self.duplicated + self.unexpected
        return max(keys / key_checks, self.altered / field_checks, self.metrics / metric_checks)


def count_mismatches(
    expected_keys: set,
    got_keys: list,
    oracle: dict,
    got_sample: dict,
) -> Mismatches:
    """Compare an output table against its input and the oracle.

    ``got_keys`` lists every output row's (conv_id, turn_idx);
    ``oracle`` maps each sampled key to its expected row and
    ``got_sample`` maps the output rows found for those keys."""
    m = Mismatches()
    counts = Counter(got_keys)
    for key, n in counts.items():
        if key not in expected_keys:
            m.unexpected += n
        elif n > 1:
            m.duplicated += n - 1
    m.dropped = sum(1 for key in expected_keys if key not in counts)
    for key, want in oracle.items():
        got = got_sample.get(key)
        # a dropped row is already counted; only compare rows present
        if got is not None and got != want:
            m.altered += 1
    return m
