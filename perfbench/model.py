"""Seeded inputs and the pure-Python models every result is checked
against.

Keys are even integers, so an odd key inside the key range is known to
be absent without asking the engine.
"""

from __future__ import annotations

import bisect
from collections import defaultdict

import numpy as np

# the kind of the reference operation, a plain Spark read that does not
# go through the engine (workloads.Workload.spark_read)
REFERENCE = "spark_read"


class Inputs:
    """All randomness of a run, drawn from one seed."""

    def __init__(self, seed: int, key_space: int):
        self.rng = np.random.default_rng(seed)
        self.key_space = key_space  # keys are 2 * [0, key_space)
        self._salt = int(self.rng.integers(0, 1 << 62))
        self._ranked: tuple[list[int], list[int]] | None = None

    def base_keys(self, n: int) -> np.ndarray:
        """``n`` distinct base keys, sorted."""
        return np.sort(self.rng.choice(self.key_space, size=n, replace=False))

    def rows(self, keys) -> list[tuple[int, int, str]]:
        """One (key, v, s) row per key."""
        vs = self.rng.integers(0, 1_000_000, size=len(keys))
        return [(2 * int(k), int(v), f"s{int(v) % 977}")
                for k, v in zip(keys, vs)]

    def agg_rows(self, keys) -> list[tuple[int, int, int]]:
        """One (key, cnt, mx) row per key."""
        cnt = self.rng.integers(1, 100, size=len(keys))
        mx = self.rng.integers(0, 1_000_000, size=len(keys))
        return [(2 * int(k), int(c), int(m))
                for k, c, m in zip(keys, cnt, mx)]

    def zipf_pick(self, population: list[int], n: int, a: float = 1.2
                  ) -> list[int]:
        """``n`` draws from ``population``, rank-skewed: a Zipf law picks
        ranks, and a seeded hash of each key fixes its rank, so the same
        keys stay hot for the whole run."""
        if self._ranked is None or self._ranked[0] is not population:
            ranked = sorted(population, key=lambda k: (
                (k * 0x9E3779B97F4A7C15) ^ self._salt) & ((1 << 64) - 1))
            self._ranked = (population, ranked)
        ranked = self._ranked[1]
        return [ranked[r % len(ranked)]
                for r in self.rng.zipf(a, size=n) - 1]

    def absent_keys(self, n: int) -> list[int]:
        return [2 * int(k) + 1
                for k in self.rng.integers(0, self.key_space, size=n)]

    def key_range(self, width_frac: float) -> tuple[int, int]:
        """A [lo, hi) key range covering ``width_frac`` of the space."""
        width = max(2, int(2 * self.key_space * width_frac))
        lo = int(self.rng.integers(0, 2 * self.key_space - width))
        return lo, lo + width

    def sample(self, population: list[int], n: int) -> list[int]:
        idx = self.rng.choice(len(population), size=min(n, len(population)),
                              replace=False)
        return [population[i] for i in sorted(idx)]


class PlainModel:
    """A table without aggregation: every ingested row is kept, so a
    key maps to the multiset of its rows."""

    def __init__(self):
        self.rows: dict[int, list[tuple]] = defaultdict(list)
        self._sorted: list[int] | None = None

    def _keys(self) -> list[int]:
        if self._sorted is None:
            self._sorted = sorted(k for k, v in self.rows.items() if v)
        return self._sorted

    def _dirty(self) -> None:
        self._sorted = None

    def ingest(self, rows) -> None:
        for r in rows:
            self.rows[r[0]].append(tuple(r))
        self._dirty()

    def get(self, key: int) -> list[tuple]:
        return sorted(self.rows.get(key, ()))

    def keys_in(self, lo: int, hi: int) -> list[int]:
        ks = self._keys()
        return ks[bisect.bisect_left(ks, lo):bisect.bisect_left(ks, hi)]

    def delete_range(self, lo: int, hi: int) -> int:
        n = 0
        for k in self.keys_in(lo, hi):
            n += len(self.rows.pop(k))
        self._dirty()
        return n

    def update_range(self, lo: int, hi: int, v: int) -> int:
        n = 0
        for k in self.keys_in(lo, hi):
            self.rows[k] = [(k, v, s) for _k, _v, s in self.rows[k]]
            n += len(self.rows[k])
        return n

    def merge(self, rows) -> tuple[int, int]:
        """Replace every row of each source key; returns (rows
        inserted, target rows replaced)."""
        replaced = 0
        by_key: dict[int, list[tuple]] = defaultdict(list)
        for r in rows:
            by_key[r[0]].append(tuple(r))
        for k, new in by_key.items():
            replaced += len(self.rows.get(k, ()))
            self.rows[k] = new
        self._dirty()
        return len(rows), replaced

    def all_rows(self) -> list[tuple]:
        return sorted(r for rs in self.rows.values() for r in rs)

    def live_keys(self) -> list[int]:
        return self._keys()


class AggModel:
    """A table aggregating ``sum(cnt), max(mx)`` per key."""

    def __init__(self):
        self.rows: dict[int, tuple[int, int]] = {}
        self._sorted: list[int] | None = None

    def ingest(self, rows) -> None:
        for k, c, m in rows:
            old = self.rows.get(k)
            self.rows[k] = (c, m) if old is None else (old[0] + c,
                                                       max(old[1], m))
        self._sorted = None

    def _keys(self) -> list[int]:
        if self._sorted is None:
            self._sorted = sorted(self.rows)
        return self._sorted

    def get(self, key: int) -> list[tuple]:
        return [(key, *self.rows[key])] if key in self.rows else []

    def range_rows(self, lo: int, hi: int) -> list[tuple]:
        ks = self._keys()
        return [(k, *self.rows[k]) for k in
                ks[bisect.bisect_left(ks, lo):bisect.bisect_left(ks, hi)]]

    def totals(self, mx_above: int) -> tuple[int, int, int, int]:
        """(groups, sum of cnt, max of mx, groups with mx > mx_above)."""
        vals = self.rows.values()
        return (len(self.rows), sum(c for c, _ in vals),
                max(m for _, m in vals),
                sum(1 for _, m in vals if m > mx_above))

    def all_rows(self) -> list[tuple]:
        return [(k, *self.rows[k]) for k in self._keys()]

    def live_keys(self) -> list[int]:
        return self._keys()
