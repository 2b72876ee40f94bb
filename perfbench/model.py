"""Pure-Python reference model of the store's visible state.

The model holds every row the benchmark has handed to the program,
committed and speculative alike, and answers the temporal reads the
HTTP API serves as of any height. On a linear block chain the
speculative overlay is exactly the rows above the last irreversible
block, so "every row at or below the read height" is the answer the
overlay-aware engine must give.
"""

from __future__ import annotations

import bisect
from collections import defaultdict


class StateModel:
    def __init__(self):
        # (tablet, primary_key) -> parallel ascending heights / versions
        self._heights: dict[tuple[str, str], list[int]] = defaultdict(list)
        self._versions: dict[tuple[str, str], list[tuple]] = defaultdict(list)
        self._keys: dict[str, set[str]] = defaultdict(set)
        self.rows = 0

    def apply(self, rows: list[tuple]) -> None:
        """Rows in CHANGELOG_SCHEMA order, heights non-decreasing."""
        for _c, tablet, height, pk, value, is_del, _b, _n in rows:
            self._heights[(tablet, pk)].append(height)
            self._versions[(tablet, pk)].append((height, value, is_del))
            self._keys[tablet].add(pk)
            self.rows += 1

    def keys(self, tablet: str) -> list[str]:
        return sorted(self._keys[tablet])

    def snap(self, tablet: str, pks, height: int) -> int:
        """The newest height <= `height` at which any of `pks` changed
        (`height` itself when none did): a read there must see that
        change, so an off-by-one read height shows."""
        best = -1
        for pk in pks:
            hs = self._heights.get((tablet, pk))
            if hs:
                i = bisect.bisect_right(hs, height)
                if i:
                    best = max(best, hs[i - 1])
        return height if best < 0 else best

    def row_at(self, tablet: str, height: int, pk: str) -> tuple | None:
        """(height, value) of the live version at `height`, None when
        absent or deleted."""
        hs = self._heights.get((tablet, pk))
        if not hs:
            return None
        i = bisect.bisect_right(hs, height)
        if i == 0:
            return None
        h, value, is_del = self._versions[(tablet, pk)][i - 1]
        return None if is_del else (h, value)

    def state_at(self, tablet: str, height: int, limit: int) -> list[tuple]:
        """First `limit` live (primary_key, height, value) by key order."""
        out = []
        for pk in sorted(self._keys[tablet]):
            v = self.row_at(tablet, height, pk)
            if v is not None:
                out.append((pk, v[0], v[1]))
                if len(out) == limit:
                    break
        return out


def response_rows(rows: list[dict]) -> list[tuple]:
    """(primary_key, height, value) of an HTTP read response's rows."""
    return [(r["primary_key"], r["height"], r["value"]) for r in rows]


def expected_rows(model: StateModel, req: dict) -> list[tuple]:
    """The model's answer to one read request (see client.REQUEST_KEYS)."""
    route, h = req["route"], req["height"]
    if route == "row_at":
        v = model.row_at(req["tablet"], h, req["key"])
        return [] if v is None else [(req["key"], v[0], v[1])]
    if route == "singlet_at":
        v = model.row_at(req["singlet"], h, "")
        return [] if v is None else [("", v[0], v[1])]
    return model.state_at(req["tablet"], h, req["limit"])
