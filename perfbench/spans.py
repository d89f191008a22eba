"""Spans recorded from outside the package.

``Tracer.wrap`` replaces a module or class attribute with a timing
wrapper; ``restore`` puts every original back.  Spans stay in memory
until the benchmark writes them out at the end.  While a wrapped call
runs, its Spark jobs carry the job group ``<unit>/<layer>`` so the event
log can charge them to that phase; afterwards the unit's group is set
again.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Record:
    layer: str
    unit: str
    start: float  # epoch seconds
    end: float


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.unit = ""
        self.records: list[Record] = []
        self.groups: set[str] = set()
        self._originals: list[tuple[object, str, object]] = []

    def group(self, key: str) -> None:
        self.groups.add(key)
        self.sc.setJobGroup(key, key)

    def enter_unit(self, unit: str) -> None:
        self.unit = unit
        self.group(unit)

    def span(self, layer: str, start: float, end: float) -> None:
        self.records.append(Record(layer, self.unit, start, end))

    def wrap(self, owner, attr: str, layer: str, tag_jobs: bool = True) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if tag_jobs:
                self.group(f"{self.unit}/{layer}")
            start = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                self.span(layer, start, time.time())
                if tag_jobs:
                    self.group(self.unit)

        self._originals.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._originals:
            owner, attr, original = self._originals.pop()
            setattr(owner, attr, original)

    def unit_records(self, unit: str) -> list[Record]:
        return [r for r in self.records if r.unit == unit]

