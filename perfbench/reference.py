"""Independent numpy reference for AdaBoost.MH with decision stumps and for
model scoring, following the program's documented semantics:

- candidate thresholds are the observed values of a feature; phi = +1 when
  x > theta, else -1;
- W+ / W- are the weight masses where phi agrees / disagrees with y;
  Z = 2 sum_l sqrt(W+_l W-_l);
- the argmin key is floor(z * 1e9 + 0.5), then feature, then threshold;
- votes v_l = 0.5 ln((W+_l + eps) / (W-_l + eps)) with eps = 1 / (2 m K);
- weights update as w * exp(-y v_l phi(x)), renormalised to sum 1.
"""

from __future__ import annotations

import numpy as np


def train(x: np.ndarray, y: np.ndarray, rounds: int):
    """Return ``[(feature_1_based, threshold, votes[K]), ...]``."""
    m, d = x.shape
    k = y.shape[1]
    w = np.full((m, k), 1.0 / (m * k))
    eps = 1.0 / (2.0 * m * k)
    cols = []
    for j in range(d):
        order = np.argsort(x[:, j], kind="stable")
        values, starts = np.unique(x[order, j], return_index=True)
        cols.append((order, values, starts))
    stumps = []
    for _ in range(rounds):
        wp = np.where(y > 0, w, 0.0)
        wm = np.where(y < 0, w, 0.0)
        best = None  # (zq, feature index, value index, w_plus row, w_minus row)
        for j, (order, values, starts) in enumerate(cols):
            gp = np.add.reduceat(wp[order], starts, axis=0)
            gm = np.add.reduceat(wm[order], starts, axis=0)
            pp, pm = np.cumsum(gp, axis=0), np.cumsum(gm, axis=0)
            w_plus = gp.sum(axis=0) - pp + pm
            w_minus = gm.sum(axis=0) - pm + pp
            zq = np.floor(2.0 * np.sqrt(w_plus * w_minus).sum(axis=1) * 1e9 + 0.5)
            zq[np.isnan(zq)] = np.inf  # Spark's ascending sort puts NaN last
            i = int(np.argmin(zq))  # first minimum = smallest threshold
            if best is None or zq[i] < best[0]:
                best = (zq[i], j, i, w_plus[i], w_minus[i])
        _, j, i, w_plus, w_minus = best
        theta = float(cols[j][1][i])
        votes = 0.5 * np.log((w_plus + eps) / (w_minus + eps))
        phi = np.where(x[:, j] > theta, 1.0, -1.0)
        w = w * np.exp(-y * votes[None, :] * phi[:, None])
        w /= w.sum()
        stumps.append((j + 1, theta, votes))
    return stumps


def scores(x: np.ndarray, features, thresholds, votes) -> np.ndarray:
    """H(x)[l] = sum_t votes[t][l] * phi_t(x), shape (m, K)."""
    f = np.asarray(features) - 1
    phi = np.where(x[:, f] > np.asarray(thresholds)[None, :], 1.0, -1.0)
    return phi @ np.asarray(votes)


def hamming_loss(h: np.ndarray, y: np.ndarray) -> float:
    """Share of (row, class) pairs where sign(H) (0 counts as -1) != y."""
    return float(np.mean(np.where(h > 0, 1, -1) != y))
