"""Reference answers computed without Spark, and the comparisons that
count a wrong engine answer as a failed operation.

Every function here is pure NumPy / pandas over the generated inputs or
over the files the engine wrote, and runs outside the timed region.
"""

from __future__ import annotations

import math
import string

import numpy as np
import pandas as pd

# the engine and its oracle compare 6-dp-rounded correlations against a
# 6-dp-rounded cut, so a pair within this distance of the cut may go
# either way
CUT_SLACK = 1e-6
SCORE_TOL = 1e-6


# ------------------------------------------------------------ build check


class PearsonRows:
    """Full Pearson rows of a co-occurrence log, one item at a time.

    Cells are the (item, context) event counts; corr(a, b) over the n
    distinct contexts is (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)),
    exact in float64 because every sum is an integer. Items with zero
    variance have no row, as in the engine."""

    def __init__(self, reference_id: np.ndarray, item_id: np.ndarray):
        ctx, ctx_idx = np.unique(reference_id, return_inverse=True)
        self.n = float(len(ctx))
        self.items, item_idx = np.unique(item_id, return_inverse=True)
        key = item_idx.astype(np.int64) * len(ctx) + ctx_idx
        cells, cnt = np.unique(key, return_counts=True)
        self.cell_item = (cells // len(ctx)).astype(np.int64)
        self.cell_ctx = (cells % len(ctx)).astype(np.int64)
        self.cell_cnt = cnt.astype(np.float64)
        ni = len(self.items)
        self.s = np.bincount(self.cell_item, self.cell_cnt, ni)
        self.q = np.bincount(self.cell_item, self.cell_cnt**2, ni)
        self.den2 = self.n * self.q - self.s**2
        self.valid = self.den2 > 0
        by_ctx = np.argsort(self.cell_ctx, kind="stable")
        self._ctx_sorted = self.cell_ctx[by_ctx]
        self._item_by_ctx = self.cell_item[by_ctx]
        self._cnt_by_ctx = self.cell_cnt[by_ctx]
        self._pos = {int(it): k for k, it in enumerate(self.items)}

    def row(self, item: int) -> tuple[np.ndarray, np.ndarray]:
        """(neighbour ids, correlations) over every other valid item."""
        a = self._pos[item]
        mine = self.cell_item == a
        dot = np.zeros(len(self.items))
        for c, x in zip(self.cell_ctx[mine], self.cell_cnt[mine]):
            lo, hi = np.searchsorted(self._ctx_sorted, [c, c + 1])
            dot[self._item_by_ctx[lo:hi]] += x * self._cnt_by_ctx[lo:hi]
        corr = (self.n * dot - self.s[a] * self.s) / np.sqrt(
            self.den2[a] * np.where(self.valid, self.den2, 1.0)
        )
        keep = self.valid.copy()
        keep[a] = False
        return self.items[keep], corr[keep]

    def expected(self, item: int, k_sigma: float):
        """(must, may, scaled): neighbours that must be published, the
        superset that may be (boundary slack), and each one's min-max
        scaled score."""
        ids, corr = self.row(item)
        if len(ids) < 2:
            return set(), set(), {}
        cut = corr.mean() + k_sigma * corr.std(ddof=1)
        mn, mx = corr.min(), corr.max()
        scaled = np.zeros_like(corr) if mx == mn else (corr - mn) / (mx - mn)
        must = set(ids[corr > cut + CUT_SLACK].tolist())
        sel = corr >= cut - CUT_SLACK
        may = set(ids[sel].tolist())
        return must, may, dict(zip(ids[sel].tolist(), scaled[sel].tolist()))


def check_published(
    published: pd.DataFrame, expected: dict[int, tuple]
) -> tuple[int, int, list[str]]:
    """Compare published (item_a_id, item_b_id, scaled_score) rows of
    the sampled items with their brute-force expectations. Returns
    (must-pairs found, must-pairs expected, error messages)."""
    errors, found, wanted = [], 0, 0
    groups = {a: g for a, g in published.groupby("item_a_id")}
    for item, (must, may, scaled) in expected.items():
        g = groups.get(item)
        got = dict(zip(g["item_b_id"].tolist(), g["scaled_score"].tolist())) if g is not None else {}
        wanted += len(must)
        found += len(must & got.keys())
        if not must <= got.keys():
            errors.append(f"item {item}: {len(must - got.keys())} neighbours missing")
        if not got.keys() <= may:
            errors.append(f"item {item}: {len(got.keys() - may)} neighbours below the cut")
        bad = [b for b, v in got.items() if b in scaled and abs(v - scaled[b]) > SCORE_TOL]
        if bad:
            errors.append(f"item {item}: {len(bad)} scaled scores differ")
    return found, wanted, errors


# ------------------------------------------------------------ serve check


# the engine's search folds ASCII letters only
_ASCII_FOLD = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)


def _ascii_lower(s: pd.Series) -> pd.Series:
    return s.str.translate(_ASCII_FOLD)


class StoreAnswers:
    """Serving answers read straight from the published parquet store."""

    def __init__(self, sims: pd.DataFrame, dim: pd.DataFrame):
        self.sims = sims.sort_values(
            ["item_a_id", "scaled_score", "item_b_id"], ascending=[True, False, True]
        )
        self.by_item = {a: g for a, g in self.sims.groupby("item_a_id")}
        self.dim = dim
        self.names = dict(zip(dim["id"], dim["key"]))

    def similar(self, item: int, limit: int) -> list[tuple]:
        g = self.by_item.get(item)
        if g is None:
            return []
        out = [
            (b, self.names[b], s)
            for b, s in zip(g["item_b_id"], g["scaled_score"])
            if b in self.names
        ]
        return out[:limit]

    def info(self, item: int) -> list[tuple]:
        r = self.dim[self.dim["id"] == item]
        return [tuple(x) for x in r[["id", "key", "human_label"]].itertuples(index=False)]

    def search(self, term: str, limit: int) -> list[tuple]:
        t = term.translate(_ASCII_FOLD)
        hit = _ascii_lower(self.dim["key"].fillna("")).str.contains(t, regex=False) | _ascii_lower(
            self.dim["human_label"].fillna("")
        ).str.contains(t, regex=False)
        r = self.dim[hit].sort_values(["key", "id"]).head(limit)
        return [tuple(x) for x in r[["id", "key", "human_label"]].itertuples(index=False)]

    def stats(self) -> tuple[int, int, float]:
        per_item = self.sims.groupby("item_a_id").size()
        avg = float(per_item.mean()) if len(per_item) else 0.0
        return len(self.dim), len(self.sims), avg

    def batch(self, items, k: int) -> list[tuple]:
        out = []
        for a in sorted(set(int(i) for i in items)):
            g = self.by_item.get(a)
            if g is None:
                continue
            for rn, (b, s) in enumerate(zip(g["item_b_id"][:k], g["scaled_score"][:k]), 1):
                if b in self.names:
                    out.append((a, b, self.names[b], s, rn))
        return out


def _is_null(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def _same_cell(x, y) -> bool:
    if _is_null(y):
        return _is_null(x)
    if isinstance(y, float):
        return x is not None and abs(x - y) <= 1e-9
    return x == y


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Row lists equal, NULL equal to NULL, floats to 1e-9."""
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same_cell(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def stats_match(got: tuple, want: tuple) -> bool:
    """The engine rounds the average to 2 dp half-up."""
    return got[0] == want[0] and got[1] == want[1] and abs(got[2] - want[2]) <= 0.005 + 1e-9


# ------------------------------------------------------------ dedup check


def components(ids, pairs) -> dict[int, int]:
    """Union-find over ``pairs``: id → smallest id of its component,
    for every id in ``ids``."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def shingle_set(text: str, k: int) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_clusters(
    resolved: pd.DataFrame, ids, pairs: list[tuple[int, int]]
) -> list[str]:
    """``resolved`` (doc_id, cluster_id, is_keeper) against a union-find
    over the pairs the engine returned."""
    want = components(ids, pairs)
    got = dict(zip(resolved["doc_id"].tolist(), resolved["cluster_id"].tolist()))
    errors = []
    if got.keys() != want.keys():
        errors.append(f"{len(got.keys() ^ want.keys())} ids missing or extra")
    wrong = sum(1 for i, c in want.items() if got.get(i) != c)
    if wrong:
        errors.append(f"{wrong} ids in the wrong cluster")
    keep = resolved["is_keeper"].to_numpy() != (
        resolved["doc_id"].to_numpy() == resolved["cluster_id"].to_numpy()
    )
    if keep.any():
        errors.append(f"{int(keep.sum())} wrong keeper flags")
    return errors


def recall(clusters: dict[int, int], planted) -> float:
    """Share of planted pairs that share a cluster."""
    if not planted:
        return 1.0
    return sum(clusters.get(a) == clusters.get(b) for a, b in planted) / len(planted)


def cosine_topk(
    vectors: np.ndarray, ids: np.ndarray, query_id: int, k: int
) -> list[tuple[int, float]]:
    """Exact top-k cosine neighbours of one stored vector, ties by id."""
    q = int(np.flatnonzero(ids == query_id)[0])
    others = np.arange(len(ids)) != q
    norms = np.linalg.norm(vectors, axis=1)
    cos = vectors[others] @ vectors[q] / (norms[others] * norms[q])
    order = np.lexsort((ids[others], -cos))[:k]
    return [(int(ids[others][i]), float(cos[i])) for i in order]
