"""A pandas model of a versioned keyed table: the independent oracle
``DeltaLogTable`` is differential-tested against (tests/test_delta_log.py).

Every commit stores the whole snapshot, versions count from 0 as in the
Delta log, and keys compare null-safely: NULL keys group together, as
in ``dropDuplicates`` and ``upsert_latest_wins``. Frames use the object
dtype, so None stays None and ints stay ints. Within one batch the
first row of a key survives, while Spark keeps an arbitrary one, so a
test batch should hold each key once.
"""

from __future__ import annotations

import pandas as pd


def sorted_rows(rows) -> list[tuple]:
    """Rows in a total order in which None sorts before any value."""
    return sorted(rows, key=lambda t: tuple((v is not None, v) for v in t))


class TableModel:
    def __init__(self, columns: list[str]):
        self.columns = list(columns)
        self._snapshots: list[pd.DataFrame] = []

    @property
    def version(self) -> int | None:
        return len(self._snapshots) - 1 if self._snapshots else None

    def _frame(self, rows) -> pd.DataFrame:
        return pd.DataFrame(list(rows), columns=self.columns, dtype=object)

    def _commit(self, df: pd.DataFrame) -> int:
        self._snapshots.append(df.reset_index(drop=True))
        return self.version

    def _tuples(self, version: int | None = None) -> list[tuple]:
        if self.version is None:
            return []
        return list(self.read(version).itertuples(index=False, name=None))

    def _key(self, row: tuple, keys: list[str]) -> tuple:
        return tuple(row[self.columns.index(k)] for k in keys)

    def read(self, version: int | None = None) -> pd.DataFrame:
        return self._snapshots[-1 if version is None else version].copy()

    def rows(self, version: int | None = None) -> list[tuple]:
        return sorted_rows(self._tuples(version))

    def write(self, rows) -> int:
        return self._commit(self._frame(rows))

    def append(self, rows) -> int:
        return self.write(self._tuples() + list(rows))

    def insert_if_absent(self, rows, keys: list[str]) -> int:
        held = {self._key(r, keys) for r in self._tuples()}
        fresh = []
        for row in rows:
            if self._key(row, keys) not in held:
                held.add(self._key(row, keys))
                fresh.append(row)
        return self.append(fresh)

    def upsert(self, rows, keys: list[str], version_col: str) -> int:
        """Latest-wins per key: the highest ``version_col`` survives
        (NULL lowest) and a version tie goes to the update side."""
        vi = self.columns.index(version_col)
        best: dict[tuple, tuple] = {}
        for side, batch in ((1, list(rows)), (0, self._tuples())):
            for row in batch:
                rank = (row[vi] is not None, row[vi], side)
                k = self._key(row, keys)
                if k not in best or rank > best[k][0]:
                    best[k] = (rank, row)
        return self.write(row for _, row in best.values())

    def delete_where(self, predicate) -> int:
        """Keep the rows whose ``predicate(row dict)`` is False; a None
        (SQL NULL) result drops the row, as ``filter(~p)`` does."""
        return self.write(
            r for r in self._tuples() if predicate(dict(zip(self.columns, r))) is False
        )

    def truncate(self) -> int:
        return self.write([])

    def compact(self, target_file_bytes: int | None = None) -> int:
        """A new version with the same rows (file layout is not
        modelled)."""
        return self.write(self._tuples())

    def changes(
        self, keys: list[str], from_version: int, to_version: int | None = None
    ) -> list[tuple]:
        """Keyed diff as ``(keys…, other columns…, _change_type)`` rows:
        inserts and updates carry the new row, deletes the old one."""
        order = keys + [c for c in self.columns if c not in keys]

        def shaped(row, kind):
            return tuple(row[self.columns.index(c)] for c in order) + (kind,)

        new = {self._key(r, keys): r for r in self._tuples(to_version)}
        old = {self._key(r, keys): r for r in self._tuples(from_version)}
        out = [
            shaped(r, "insert" if k not in old else "update_postimage")
            for k, r in new.items()
            if old.get(k) != r
        ]
        out += [shaped(r, "delete") for k, r in old.items() if k not in new]
        return sorted_rows(out)
