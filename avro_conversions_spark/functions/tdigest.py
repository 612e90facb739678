"""t-digest quantile sketches built per Spark task from Arrow batches,
merged on the driver.

A compact pure-numpy t-digest (merging variant, Dunning & Ertl): centroids
are (mean, weight) pairs kept under the k1 scale-function size bound.
``tdigest_columns`` folds each task's Arrow batches into one digest per
column (no per-row Python, no exchange) and merges the O(tasks × columns)
centroid partials on the driver, so a 100 TB column reduces to a handful
of O(delta) partials per task before any comparison.

Compared to percentile_approx (GK): t-digest has relative accuracy at the
tails (q→0/1), which is what drift checks on latency-like columns need.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compress(means: np.ndarray, weights: np.ndarray, delta: int) -> tuple[np.ndarray, np.ndarray]:
    """Merge sorted centroids under the k1 scale-function bound."""
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    total = weights.sum()
    out_m: list[float] = []
    out_w: list[float] = []
    q0 = 0.0
    q_limit = _k_inv(_k(q0, delta) + 1.0, delta)
    m_acc, w_acc = means[0], weights[0]
    for m, w in zip(means[1:], weights[1:]):
        q = q0 + (w_acc + w) / total
        if q <= q_limit:
            m_acc = (m_acc * w_acc + m * w) / (w_acc + w)
            w_acc += w
        else:
            out_m.append(m_acc)
            out_w.append(w_acc)
            q0 += w_acc / total
            q_limit = _k_inv(_k(q0, delta) + 1.0, delta)
            m_acc, w_acc = m, w
    out_m.append(m_acc)
    out_w.append(w_acc)
    return np.asarray(out_m), np.asarray(out_w)


def _k(q: float, delta: int) -> float:
    return delta / (2 * np.pi) * np.arcsin(2 * q - 1)


def _k_inv(k: float, delta: int) -> float:
    return (np.sin(k * 2 * np.pi / delta) + 1) / 2


def build_digest(values: np.ndarray, delta: int = 100) -> tuple[np.ndarray, np.ndarray]:
    values = values[~np.isnan(values)]
    if len(values) == 0:
        return np.array([]), np.array([])
    return _compress(values.astype("float64"), np.ones(len(values)), delta)


def merge_digests(
    digests: Iterable[tuple[np.ndarray, np.ndarray]], delta: int = 100
) -> tuple[np.ndarray, np.ndarray]:
    ms = [m for m, _ in digests if len(m)]
    ws = [w for _, w in digests if len(w)]
    if not ms:
        return np.array([]), np.array([])
    return _compress(np.concatenate(ms), np.concatenate(ws), delta)


def digest_quantile(means: np.ndarray, weights: np.ndarray, q: float) -> float:
    """Interpolated quantile from centroids (midpoint rule)."""
    if len(means) == 0:
        return float("nan")
    if len(means) == 1:
        return float(means[0])
    total = weights.sum()
    cum = np.cumsum(weights) - weights / 2.0
    target = q * total
    return float(np.interp(target, cum, means))


def digest_cdf(means: np.ndarray, weights: np.ndarray, v: float) -> float:
    """CDF at v from centroids (midpoint rule, clamped to [0,1])."""
    if len(means) == 0:
        return float("nan")
    if len(means) == 1:
        return 0.0 if v < means[0] else 1.0
    total = weights.sum()
    cum = (np.cumsum(weights) - weights / 2.0) / total
    return float(np.clip(np.interp(v, means, cum, left=0.0, right=1.0), 0.0, 1.0))


def ks_from_digests(
    m_a: np.ndarray, w_a: np.ndarray, m_b: np.ndarray, w_b: np.ndarray
) -> float:
    """KS statistic D = max |CDF_a - CDF_b| over the union centroid grid —
    driver-side, two digests of O(delta) centroids each."""
    grid = np.union1d(m_a, m_b)
    if len(grid) == 0:
        return 0.0
    return float(
        max(abs(digest_cdf(m_a, w_a, v) - digest_cdf(m_b, w_b, v)) for v in grid)
    )


def tdigest_columns(
    df: DataFrame, columns: list[str], delta: int = 100
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per-column merged t-digests in ONE zero-exchange pass over the
    given columns: each task folds its Arrow batches into one digest per
    column (task memory stays O(delta)), and only the centroid
    partials reach the driver, where they merge.

    Partials follow the input tasks, so centroid detail depends on the
    physical partitioning: the same data under other splits gives a
    digest of equal accuracy, not identical centroids. KS between two
    layouts of one multiset stays near zero (pinned by
    test_tdigest_layouts_agree_within_ks)."""
    proj = df.select(*[F.col(c).cast("double").alias(c) for c in columns])

    def per_partition(batches):
        accs: dict[str, tuple[np.ndarray, np.ndarray]] = {
            c: (np.array([]), np.array([])) for c in columns
        }
        for pdf in batches:
            for c in columns:
                m, w = build_digest(pdf[c].to_numpy(dtype="float64"), delta)
                if len(m):
                    accs[c] = merge_digests([accs[c], (m, w)], delta)
        yield pd.DataFrame(
            {
                "column": list(columns),
                "means": [accs[c][0].tolist() for c in columns],
                "weights": [accs[c][1].tolist() for c in columns],
            }
        )

    partials = proj.mapInPandas(
        per_partition, "column string, means array<double>, weights array<double>"
    )
    by_col: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {c: [] for c in columns}
    for r in partials.collect():
        by_col[r["column"]].append((np.asarray(r["means"]), np.asarray(r["weights"])))
    return {c: merge_digests(parts, delta) for c, parts in by_col.items()}
