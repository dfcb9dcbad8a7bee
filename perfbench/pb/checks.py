"""Correctness checks, run after the timed loop. Each returns plain
booleans so a mismatch can be charged to the op that produced it.

The comparators are pure functions over collected rows, so the tests
can feed them a deliberately wrong answer without a Spark session.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from decimal import Decimal

import numpy as np


# ------------------------------------------------------- table identity
def norm_value(v) -> str:
    """Engine-neutral spelling of one value (6 significant digits for
    floats, the convention of the repo's DuckDB oracle gate)."""
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if abs(v) < 1e15 else f"{v:.6e}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive value hash: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_value(r[i]) for i in order)
                   for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def same_table(cols_a, rows_a, cols_b, rows_b) -> bool:
    """Row count, column names and value hash all agree."""
    return (len(rows_a) == len(rows_b) and list(cols_a) == list(cols_b)
            and table_hash(list(cols_a), rows_a)
            == table_hash(list(cols_b), rows_b))


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


# ----------------------------------------------------------------- ETL
def same_multiset(rows_a: list[tuple], rows_b: list[tuple]) -> bool:
    return Counter(map(tuple, rows_a)) == Counter(map(tuple, rows_b))


def salaries_in_band(salaries, lo: int, hi: int) -> bool:
    return all(s is None or lo <= s <= hi for s in salaries)


def keys_unique(keys: list[tuple]) -> bool:
    return len(set(keys)) == len(keys)


def at(ok: list[bool], k: int) -> bool:
    """``ok[k]``; an op that left no result to check failed."""
    return ok[k] if k < len(ok) else False


def etl_day_ok(cols: list[str], got: list[tuple], replay: list[tuple],
               in_manifest: bool, idle_rows: int,
               band: tuple[int, int] = (20_000, 400_000),
               dedup_keys: tuple = ("company_name", "job_title",
                                    "job_location", "job_posted_site")
               ) -> bool:
    """One day's committed rows against its batch replay: equal as
    multisets, every kept salary in the band, no dedup key repeated,
    the file in the manifest, and the idle re-run added nothing."""
    sal = cols.index("salary")
    kidx = [cols.index(k) for k in dedup_keys]
    return (same_multiset(got, replay)
            and salaries_in_band([r[sal] for r in got], *band)
            and keys_unique([tuple(r[k] for k in kidx) for r in got])
            and in_manifest and idle_rows == 0)


# ------------------------------------------------------------- vectors
def fold_cosine(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """cos(q, c_i) with the engine's summation order: left-to-right
    folds over the dimensions (not BLAS's blocked order)."""
    dot = np.zeros(len(c))
    cn = np.zeros(len(c))
    qn = 0.0
    for j in range(c.shape[1]):
        dot = dot + q[j] * c[:, j]
        cn = cn + c[:, j] * c[:, j]
        qn = qn + q[j] * q[j]
    return dot / (math.sqrt(qn) * np.sqrt(cn))


def exact_topk(ids: np.ndarray, x: np.ndarray, qid: int,
               k: int) -> list[tuple[int, float]]:
    """NumPy exact cosine top-k of corpus row ``qid`` (self excluded),
    ranked by cosine descending then id."""
    pos = int(np.searchsorted(ids, qid))
    cos = np.round(fold_cosine(x[pos], x), 6)
    cand = [(float(cos[i]), int(ids[i])) for i in range(len(ids))
            if ids[i] != qid]
    cand.sort(key=lambda t: (-t[0], t[1]))
    return [(i, c) for c, i in cand[:k]]


def topk_matches(got: list[tuple[int, float]],
                 want: list[tuple[int, float]], tol: float = 2e-6) -> bool:
    """Ranked (id, cosine) lists agree: same length, cosines equal
    within the last rounded digit, ids equal except where two
    candidates tie within that tolerance."""
    if len(got) != len(want):
        return False
    for (gi, gc), (wi, wc) in zip(got, want):
        if abs(gc - wc) > tol:
            return False
        if gi != wi and not any(abs(gc - c) <= tol
                                for i, c in want if i != wi):
            return False
    return True




def lsh_signatures(x: np.ndarray, planes: int, plane_sign) -> np.ndarray:
    """Hyperplane signature of every row, bit p = sign of the folded
    dot with hyperplane p (``plane_sign(p, i)`` gives its components)."""
    sig = np.zeros(len(x), np.int64)
    for p in range(planes):
        dot = np.zeros(len(x))
        for j in range(x.shape[1]):
            dot = dot + x[:, j] * plane_sign(p, j)
        sig += np.where(dot > 0, 1 << p, 0)
    return sig


def bucket_topk(ids: np.ndarray, x: np.ndarray, sig: np.ndarray, pos: int,
                k: int) -> list[tuple[int, float]]:
    """Top-k by rounded cosine among the rows sharing row ``pos``'s
    signature (self excluded), ties broken by id."""
    same = np.nonzero((sig == sig[pos]) & (ids != ids[pos]))[0]
    cos = np.round(fold_cosine(x[pos], x[same]), 6)
    ranked = sorted(zip((-cos).tolist(), ids[same].tolist()))[:k]
    return [(int(i), -c) for c, i in ranked]


def mutual_components(edges: dict[int, list[int]]) -> set[tuple[int, int]]:
    """(vertex, min id of its component) over the reciprocated edges."""
    parent: dict[int, int] = {}

    def find(a: int) -> int:
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, outs in edges.items():
        for b in outs:
            if a < b and a in edges.get(b, ()):
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}
