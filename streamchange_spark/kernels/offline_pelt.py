"""Offline PELT with admissible-set pruning over precomputed prefix sums.

Semantics parity with /root/reference/streamchange/offline/pelt.py and
costs.py: costs for any (start, end) interval come from zero-padded prefix
sums; the forward DP prunes candidates whose cost already exceeds the current
optimum (expected O(n) overall). The DP itself departs from the ported loop
to solve the exact minimum-segment-length problem (see ``OfflinePelt``).
"""

from __future__ import annotations

import numpy as np

from .penalties import BIC, BasePenalty


class OfflineL2Cost:
    """Interval L2 cost from prefix sums:
    ``sum_j (S2[e+1]-S2[s]) - (S[e+1]-S[s])^2 / len`` (parity:
    offline/costs.py:20-62)."""

    def __init__(self):
        self.sums = None
        self.sums2 = None

    def fit(self, x: np.ndarray) -> "OfflineL2Cost":
        x = np.asarray(x, dtype=np.float64)
        if x.ndim == 1:
            x = x.reshape(-1, 1)
        self.n, self.p = x.shape
        # Zero first row so start = 0 works without special-casing.
        self.sums = np.zeros((self.n + 1, self.p))
        self.sums[1:] = np.cumsum(x, axis=0)
        self.sums2 = np.zeros((self.n + 1, self.p))
        self.sums2[1:] = np.cumsum(x**2, axis=0)
        self.weights = np.tile(np.arange(0, self.n + 1).reshape(-1, 1), (1, self.p))
        return self

    def __call__(self, starts: np.ndarray, ends) -> np.ndarray:
        if self.sums is None:
            raise RuntimeError("OfflineL2Cost must be fit before calling.")
        ends = np.atleast_1d(np.asarray(ends))
        if ends.size == 1:
            ends = np.repeat(ends, len(starts))
        partial_sums = self.sums[ends + 1] - self.sums[starts]
        partial_sums2 = self.sums2[ends + 1] - self.sums2[starts]
        weights = self.weights[ends - starts + 1]
        return np.sum(partial_sums2 - partial_sums**2 / weights, axis=1)


class OfflinePelt:
    """Exact optimal partitioning with pruning; ``segments_`` is a list of
    {start, end, size} dicts in ascending start order and ``changepoints_``
    their ends (interface parity: offline/pelt.py:13-68).

    ``fit`` minimises Σ (segment L2 cost + penalty) over partitions whose
    segments all hold at least ``minsl`` points (a series shorter than
    ``minsl`` is one segment), with ``opt_cost[j]`` the optimum over the
    first ``j`` points. It matches an exhaustive O(n²) DP, which the ported
    reference loop did not: that loop charged each segment's first point
    twice and pruned before the dominating candidate was admissible. A
    candidate whose cost at step ``j`` exceeds ``opt_cost[j]`` never wins
    once candidate ``j`` is in (L2 cost is superadditive), so it is removed
    at step ``j + minsl``, when ``j`` enters."""

    def __init__(
        self,
        cost: OfflineL2Cost = None,
        penalty: BasePenalty = None,
        minsl: int = 2,
    ):
        assert minsl >= 1
        self.minsl = minsl
        self.cost = cost if cost is not None else OfflineL2Cost()
        self.penalty = penalty if penalty is not None else BIC()

    def fit(self, x: np.ndarray) -> "OfflinePelt":
        x = np.asarray(x, dtype=np.float64)
        if x.ndim == 1:
            x = x.reshape(-1, 1)
        n = x.shape[0]
        minsl = self.minsl
        # prev_cpts[t]: end of the segment before the one ending at t
        prev_cpts = [-1] * n
        if n >= minsl:
            self.cost.fit(x)
            pen = self.penalty()
            opt_cost = np.full(n + 1, np.inf)
            opt_cost[0] = -pen
            admissible = np.empty(0, dtype=np.int64)
            pending_kills = {}
            for j in range(minsl, n + 1):
                # prefix j - minsl is a candidate once it is itself feasible
                if j == minsl or j >= 2 * minsl:
                    admissible = np.append(admissible, j - minsl)
                dead = pending_kills.pop(j, None)
                if dead is not None:
                    admissible = admissible[np.isin(admissible, dead, invert=True)]
                costs = opt_cost[admissible] + self.cost(admissible, j - 1) + pen
                best = int(np.argmin(costs))
                opt_cost[j] = costs[best]
                prev_cpts[j - 1] = int(admissible[best]) - 1
                # Prune: drop candidates that can never beat the current
                # optimum, once candidate j (which dominates them) is in.
                fails = admissible[costs - pen > opt_cost[j]]
                if len(fails):
                    pending_kills.setdefault(j + minsl, []).extend(fails.tolist())

        self.segments_ = self.get_segments(prev_cpts)
        self.changepoints_ = [s["end"] for s in self.segments_]
        return self

    @staticmethod
    def get_segments(prev_cpts: list) -> list:
        segments = []
        i = len(prev_cpts) - 1
        while i >= 0:
            cpt_i = prev_cpts[i]
            segments.append({"start": cpt_i + 1, "end": i, "size": i - cpt_i})
            i = cpt_i
        segments.sort(key=lambda s: s["start"])
        return segments
