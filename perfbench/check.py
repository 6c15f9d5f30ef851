"""Correctness checker: a pass's groups against the planted truth.

Both sides are reduced to the set of unordered doc pairs that share a group,
so a dropped pair lowers recall and a wrong merge lowers precision.  A pass
is correct only when both are exactly 1.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import combinations
from typing import Iterable


def group_pairs(groups: Iterable[Iterable[str]]) -> set[tuple[str, str]]:
    out: set[tuple[str, str]] = set()
    for g in groups:
        out.update(combinations(sorted(g), 2))
    return out


def groups_of(rows: Iterable[tuple[str, str]]) -> list[set[str]]:
    """(group key, doc id) rows -> member sets, as the library returns
    them (``cluster_id, id`` or ``id, component`` swapped by the caller)."""
    by_key: dict[str, set[str]] = {}
    for key, doc in rows:
        by_key.setdefault(key, set()).add(doc)
    return list(by_key.values())


@dataclass(frozen=True)
class Verdict:
    recall: float
    precision: float

    @property
    def ok(self) -> bool:
        return self.recall == 1.0 and self.precision == 1.0


def score(found_groups: Iterable[Iterable[str]], truth_groups: Iterable[Iterable[str]]) -> Verdict:
    found, truth = group_pairs(found_groups), group_pairs(truth_groups)
    hit = len(found & truth)
    return Verdict(
        recall=hit / len(truth) if truth else 1.0,
        precision=hit / len(found) if found else 1.0,
    )


@dataclass
class PassLog:
    """Outcome of every pass of a run, warm-up included."""

    verdicts: list[Verdict] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def record(self, verdict: Verdict) -> None:
        self.verdicts.append(verdict)

    def record_error(self, message: str) -> None:
        self.errors.append(message)

    @property
    def attempted(self) -> int:
        return len(self.verdicts) + len(self.errors)

    @property
    def failed(self) -> int:
        return len(self.errors) + sum(not v.ok for v in self.verdicts)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def recall(self) -> float:
        return min((v.recall for v in self.verdicts), default=0.0)

    def precision(self) -> float:
        return min((v.precision for v in self.verdicts), default=0.0)
