"""Single-machine NumPy replays of the fixed-point k-means trainers
(``similarity.ivf_train_kmeans_exact`` and
``similarity.pq_train_codebooks_exact``): the references the Spark
trainers are compared against bitwise."""

from __future__ import annotations

import numpy as np

from geocoordinateconverter_spark.operators import similarity as sim


def kmeans_replay_exact(V: np.ndarray):
    """(assign, Cq) of the IVF trainer after ``sim.KM_ITERS`` rounds.
    V is the raw float32/float64 embedding matrix."""
    Q = np.floor(V.astype(np.float64) * sim.KM_SCALE + 0.5).astype(np.int64)
    Cq = sim.kmeans_init_q()
    assign = None
    for _ in range(sim.KM_ITERS):
        score = 2 * (Q @ Cq.T) - (Cq ** 2).sum(axis=1)
        assign = score.argmax(axis=1)
        Cq = Cq.copy()
        for c in range(sim.N_CLUSTERS):
            m = assign == c
            if m.any():
                Cq[c] = np.floor(Q[m].sum(axis=0) / m.sum() + 0.5)
    return assign, Cq


def pq_train_replay_exact(V: np.ndarray):
    """(codes, Cq) of the PQ codebook trainer after ``sim.KM_ITERS``
    rounds."""
    Q = np.floor(V.astype(np.float64) * sim.KM_SCALE + 0.5).astype(np.int64)
    Cq = sim.pq_init_q()
    codes = None
    for _ in range(sim.KM_ITERS):
        codes = np.empty((Q.shape[0], sim.PQ_M), dtype=np.int64)
        ss = np.einsum("mjd,mjd->mj", Cq, Cq)
        for m in range(sim.PQ_M):
            Xm = Q[:, m * sim.PQ_SUBDIM:(m + 1) * sim.PQ_SUBDIM]
            codes[:, m] = (2 * (Xm @ Cq[m].T) - ss[m]).argmax(axis=1)
        Cq = Cq.copy()
        for m in range(sim.PQ_M):
            for j in range(sim.PQ_K):
                msk = codes[:, m] == j
                if msk.any():
                    Xm = Q[msk, m * sim.PQ_SUBDIM:(m + 1) * sim.PQ_SUBDIM]
                    Cq[m, j] = np.floor(Xm.sum(axis=0) / msk.sum() + 0.5)
    return codes, Cq
