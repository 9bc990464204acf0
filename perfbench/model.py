"""Reference model of the ingest output, in plain Python.

It shares no code with the program.  It replays the semantics the
ingest tests pin, over the generator's ground truth:

- a row's identity is the tuple of its cell values; an empty cell and a
  column missing from the export both read as ``None``;
- J1: within one ingested unit (a file, or a ``process_batch`` run of
  files) only the first occurrence in file order survives;
- J2: rows already present in the live table are dropped;
- ids are dense, continuing from the live ``MAX(id)`` (0 when empty),
  assigned in ingest order;
- retention removes whole ``ingest_date`` partitions, so their rows are
  new again afterwards;
- a file with a column the schema does not know loads nothing.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

STATUS_UPLOADED = "uploaded to ClickHouse"
STATUS_COLUMN_MISMATCH = "column count mismatch"


@dataclass
class Expected:
    status: str
    rows_in: int
    rows_loaded: int


@dataclass
class TableModel:
    #: row tuple -> (id, ingest_date)
    live: dict[tuple, tuple[int, str]] = field(default_factory=dict)
    ledger: set[str] = field(default_factory=set)

    def _next_id(self) -> int:
        return max((i for i, _ in self.live.values()), default=0) + 1

    def ingest(self, files: list[list[tuple]], date: str) -> int:
        """One ingested unit (one file, or one batch of files scanned as
        one plan); returns the number of rows loaded."""
        nxt = self._next_id()
        seen: set[tuple] = set()
        loaded = 0
        for rows in files:
            for r in rows:
                if r in seen:
                    continue
                seen.add(r)
                if r in self.live:
                    continue
                self.live[r] = (nxt, date)
                nxt += 1
                loaded += 1
        return loaded

    def land_file(self, name: str, rows: list[tuple], rejected: bool,
                  date: str) -> Expected:
        self.ledger.add(name)
        if rejected:
            return Expected(STATUS_COLUMN_MISMATCH, 0, 0)
        return Expected(STATUS_UPLOADED, len(rows), self.ingest([rows], date))

    def land_batch(self, names: list[str], files: list[list[tuple]],
                   date: str) -> Expected:
        self.ledger.update(names)
        return Expected(STATUS_UPLOADED, sum(map(len, files)),
                        self.ingest(files, date))

    def drop_partitions(self, keep_days: int, today: str) -> int:
        cutoff = (dt.date.fromisoformat(today)
                  - dt.timedelta(days=keep_days)).isoformat()
        dropped = {d for _, d in self.live.values() if d < cutoff}
        self.live = {r: v for r, v in self.live.items() if v[1] >= cutoff}
        return len(dropped)
