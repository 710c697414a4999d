"""Pure-Python reference model of the sheet-to-lake table.

The model applies the same merge and delete sequence as
``SnapshotTable.merge`` (matched key -> replaced, unmatched -> inserted,
marked delete -> key removed) to plain dicts, so every version and every
range scan the benchmark reads can be checked against it.
"""

from __future__ import annotations

from perfbench.gen import typed_lake_row


class LakeModel:
    """Key -> typed row of the current version."""

    def __init__(self, rows: dict[int, tuple] | None = None) -> None:
        self.rows: dict[int, tuple] = dict(rows or {})

    def merge(self, upserts: list[tuple], deletes: list[int] = ()) -> None:
        keys = [r[0] for r in upserts]
        if len(set(keys)) != len(keys):
            raise ValueError("duplicate upsert keys")
        if set(keys) & set(deletes):
            raise ValueError("a key is both upserted and deleted")
        for k in deletes:
            self.rows.pop(k, None)
        for r in upserts:
            self.rows[r[0]] = r

    def merge_sheet(self, sheet_rows: list[list[str]]) -> None:
        """Apply one staged batch (header + rows, last column ``deleted``)."""
        upserts, deletes = [], []
        for cells in sheet_rows[1:]:
            if cells[-1] == "yes":
                deletes.append(int(cells[0]))
            else:
                upserts.append(typed_lake_row(cells[:-1]))
        self.merge(upserts, deletes)

    def range(self, lo: int, hi: int) -> list[tuple]:
        return sorted(r for k, r in self.rows.items() if lo <= k <= hi)

    def summary(self) -> tuple[int, int, int]:
        """(row count, sum of keys, sum of the non-null ``grp``) — what a
        version read is checked against."""
        rows = self.rows.values()
        return (len(rows), sum(r[0] for r in rows), sum(r[1] for r in rows if r[1] is not None))
