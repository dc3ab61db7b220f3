"""Epoch / layer driver loops (SURVEY.md C5/C6), Spark-first.

The reference submits one MapReduce job per epoch and round-trips the
weight matrix through HDFS text files between every pair of jobs
(/root/reference/driver.java:90-219, 126-141). Here the loop is an
ordinary Python for-loop over a CACHED DataFrame on a warm SparkSession:
weights live in driver memory as NumPy, are re-broadcast each epoch, and
never touch storage (SURVEY.md O4/O5/O7).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from .cd1 import (
    cd1_gradient_collect,
    forward_prop_df,
    init_weights_gaussian,
)


def _persist_input(df: DataFrame, vec_col: str, sampled: bool,
                   id_col: str | None) -> DataFrame:
    """The training input narrowed to what the kernel reads (the vector,
    plus the row id when sampled), persisted for the epoch loop."""
    cols = [id_col, vec_col] if sampled else [vec_col]
    return df.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)


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
        # The first epoch's job fills the copy; later epochs read the
        # parsed, narrowed rows from it instead of the source.
        cached = _persist_input(df, vec_col, self.sampled, self.id_col)
        try:
            return self._train(cached, vec_col, W0)
        finally:
            cached.unpersist()

    def _train(self, cached: DataFrame, vec_col: str,
               W0: np.ndarray | None = None,
               below: Sequence[np.ndarray] = ()) -> np.ndarray:
        """The epoch loop over an already persisted input. below: frozen
        weights of the layers under this one (a DBN layer), broadcast once
        here and applied by the kernel to every batch of every epoch."""
        W = (init_weights_gaussian(self.numdims, self.numhid, seed=self.seed)
             if W0 is None else W0.astype(np.float64).copy())
        sc = cached.sparkSession.sparkContext
        b_below = [sc.broadcast(np.ascontiguousarray(Wk, dtype=np.float64))
                   for Wk in below]
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
                    weightcost=self.weightcost, _below=b_below)
                vel = self.momentum * vel + delta
                W += vel
                if self.round3:
                    # HALF_EVEN like DecimalFormat (np.round is banker's)
                    W = np.round(W * 1000.0) / 1000.0
        finally:
            for b in b_below:
                b.unpersist()
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
    layers only inside the CD-1 kernel: fit persists the narrowed input
    once and trains every layer on that one copy, and layer k's kernel
    gets the frozen weights of layers 1..k-1 (broadcast once per layer)
    and forward-props each batch through them before the CD-1 math. So
    the source is parsed once, no activation copy is cached, each task
    runs one Python node, and fit leaves nothing persisted.

    The trade-off: each epoch of layer k recomputes the forward prop of
    the k-1 layers below it (one matmul per lower layer, against CD-1's
    five) instead of persisting their activations. At one epoch per
    layer that costs nothing extra; with many epochs on deep stacks it
    is the price of holding only the input copy."""

    def __init__(self, layer_sizes: list[int], max_epoch: int = 1,
                 epsilon: float = 0.1, seed: int = 42, sampled: bool = False,
                 id_col: str | None = None, numcase: int | None = None):
        if len(layer_sizes) < 2:
            raise ValueError("need at least [numdims, numhid]")
        self.layer_sizes = layer_sizes
        self.max_epoch, self.epsilon, self.seed, self.sampled = (
            max_epoch, epsilon, seed, sampled)
        self.id_col, self.numcase = id_col, numcase
        self.weights: list[np.ndarray] = []

    def fit(self, df: DataFrame, vec_col: str,
            w0s: list[np.ndarray] | None = None) -> "DBN":
        """w0s: optional per-layer initial weights (e.g. init_weights_sin),
        overriding the seeded gaussian init — the hook that makes the whole
        greedy stack SQL-oracle-checkable (rbm_dbn_two_layer)."""
        if w0s is not None and len(w0s) != len(self.layer_sizes) - 1:
            raise ValueError("w0s must have one matrix per layer pair")
        self.weights = []
        cached = _persist_input(df, vec_col, self.sampled, self.id_col)
        try:
            for layer, (nd, nh) in enumerate(zip(self.layer_sizes,
                                                 self.layer_sizes[1:])):
                t = RBMTrainer(nd, nh, epsilon=self.epsilon,
                               max_epoch=self.max_epoch, seed=self.seed + layer,
                               sampled=self.sampled, id_col=self.id_col,
                               numcase=self.numcase)
                self.weights.append(t._train(
                    cached, vec_col, W0=None if w0s is None else w0s[layer],
                    below=self.weights[:layer]))
        finally:
            cached.unpersist()
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
