"""Epoch / layer driver loops (SURVEY.md C5/C6), Spark-first.

The reference submits one MapReduce job per epoch and round-trips the
weight matrix through HDFS text files between every pair of jobs
(/root/reference/driver.java:90-219, 126-141). Here the loop is an
ordinary Python for-loop over a CACHED DataFrame on a warm SparkSession:
weights live in driver memory as NumPy, are re-broadcast each epoch, and
never touch storage (SURVEY.md O4/O5/O7).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from .cd1 import (
    cd1_gradient_collect,
    forward_prop_df,
    init_weights_gaussian,
)


class RBMTrainer:
    """Train one RBM layer with CD-1, full-batch, maxEpoch epochs.

    Fidelity switches (documented reference behaviors, off by default —
    SURVEY.md §2.6):
    - round3: round weights HALF_EVEN to 3 decimals each epoch, the side
      effect of the reference's DecimalFormat("#.###") serialization
      (DecimalFormat's default rounding mode is HALF_EVEN;
      /root/reference/driver.java:33, 133, 254 — defect D7).
    - numcase: divide by a configured count instead of the observed row
      count (/root/reference/driver.java:53, 204 — defect D10).
    """

    def __init__(self, numdims: int, numhid: int, epsilon: float = 0.1,
                 weightcost: float = 0.0, max_epoch: int = 1, seed: int = 42,
                 sampled: bool = False, round3: bool = False,
                 numcase: int | None = None, id_col: str | None = None,
                 momentum: float = 0.0):
        self.numdims, self.numhid = numdims, numhid
        self.epsilon, self.weightcost = epsilon, weightcost
        self.max_epoch, self.seed = max_epoch, seed
        self.sampled, self.round3, self.numcase = sampled, round3, numcase
        # classic heavy-ball momentum: vel = m*vel + eps*grad; W += vel.
        # The reference DECLARES momentum constants (0.5 initial / 0.9
        # final) but never applies them (defect D4, rbmmapper.java:78-79);
        # momentum=0 (default) reproduces the no-momentum update exactly.
        self.momentum = momentum
        self.id_col = id_col  # required when sampled: det-hash Bernoulli key
        self.W: np.ndarray | None = None

    def fit(self, df: DataFrame, vec_col: str,
            W0: np.ndarray | None = None) -> np.ndarray:
        W = (init_weights_gaussian(self.numdims, self.numhid, seed=self.seed)
             if W0 is None else W0.astype(np.float64).copy())

        cols = [self.id_col, vec_col] if self.sampled else [vec_col]
        # Persisted even for one epoch: filling the copy drains an upstream
        # Python node (a DBN layer's forward_prop_df) before the CD-1 kernel
        # starts, so the kernel reuses the worker it released. Unpersisted,
        # the two stream into each other and every task holds two Python
        # workers (+600 MB peak RSS for a 784-500-500 DBN on 4 cores).
        cached = df.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # one job per epoch and no shuffle: each partition yields one
            # dense gradient block and the driver sums them. The observed
            # row count rides along in the blocks, so there is no count job.
            vel = np.zeros_like(W)
            for epoch in range(self.max_epoch):
                delta = cd1_gradient_collect(
                    cached, vec_col, W, epsilon=self.epsilon,
                    numcase=self.numcase, sampled=self.sampled,
                    id_col=self.id_col, epoch=epoch,
                    weightcost=self.weightcost)
                vel = self.momentum * vel + delta
                W += vel
                if self.round3:
                    # HALF_EVEN like DecimalFormat (np.round is banker's)
                    W = np.round(W * 1000.0) / 1000.0
        finally:
            cached.unpersist()
        self.W = W
        return W

    def transform(self, df: DataFrame, vec_col: str, out_col: str = "hidden",
                  quantize: bool = False) -> DataFrame:
        if self.W is None:
            raise RuntimeError("fit() first")
        return forward_prop_df(df, vec_col, self.W, out_col=out_col, quantize=quantize)


class DBN:
    """Greedy layer-wise stack of RBMs (SURVEY.md C6).

    Reference: per layer pair, maxEpoch RBM jobs then one prop job whose
    TEXT output directory becomes the next layer's input
    (/root/reference/driver.java:64-287). Here activations flow between
    layers as lazy array<double> columns — columnar, no re-parse. Each
    layer's RBMTrainer.fit persists the narrowed copy it trains on and
    releases it, so fit leaves nothing persisted; layer k's copy
    re-derives layers 1..k-1 once, which costs nothing extra for a
    two-RBM stack."""

    def __init__(self, layer_sizes: list[int], max_epoch: int = 1,
                 epsilon: float = 0.1, seed: int = 42, sampled: bool = False,
                 id_col: str | None = None):
        if len(layer_sizes) < 2:
            raise ValueError("need at least [numdims, numhid]")
        self.layer_sizes = layer_sizes
        self.max_epoch, self.epsilon, self.seed, self.sampled = (
            max_epoch, epsilon, seed, sampled)
        self.id_col = id_col
        self.weights: list[np.ndarray] = []

    def fit(self, df: DataFrame, vec_col: str,
            w0s: list[np.ndarray] | None = None) -> "DBN":
        """w0s: optional per-layer initial weights (e.g. init_weights_sin),
        overriding the seeded gaussian init — the hook that makes the whole
        greedy stack SQL-oracle-checkable (rbm_dbn_two_layer)."""
        if w0s is not None and len(w0s) != len(self.layer_sizes) - 1:
            raise ValueError("w0s must have one matrix per layer pair")
        self.weights = []
        cur, cur_col = df, vec_col
        for layer, (nd, nh) in enumerate(zip(self.layer_sizes, self.layer_sizes[1:])):
            t = RBMTrainer(nd, nh, epsilon=self.epsilon, max_epoch=self.max_epoch,
                           seed=self.seed + layer, sampled=self.sampled,
                           id_col=self.id_col)
            W = t.fit(cur, cur_col, W0=None if w0s is None else w0s[layer])
            self.weights.append(W)
            if layer < len(self.layer_sizes) - 2:
                nxt_col = f"__act{layer + 1}"
                cur = forward_prop_df(cur, cur_col, W, out_col=nxt_col)
                cur_col = nxt_col
        return self

    def transform(self, df: DataFrame, vec_col: str,
                  out_col: str = "features") -> DataFrame:
        cur, cur_col = df, vec_col
        for layer, W in enumerate(self.weights):
            nxt = out_col if layer == len(self.weights) - 1 else f"__act{layer + 1}"
            cur = forward_prop_df(cur, cur_col, W, out_col=nxt)
            cur_col = nxt
        return cur.drop(*[c for c in cur.columns
                          if c.startswith("__act") and c != out_col])
