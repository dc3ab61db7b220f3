"""CD-1 contrastive divergence for one RBM layer — the reference's core
workload (/root/reference/rbmmapper.java:144-238), Spark-first.

Reference topology (one epoch): every mapper emits numdims*numhid
(weightIdx, dw) records per EXAMPLE with no combiner, so the shuffle
carries numCase*numdims*numhid records (~2.35e10 for MNIST 784x500;
/root/reference/rbmmapper.java:259-268, BASELINE.md). Here the gradient is
summed INSIDE each task by one kernel (_cd1_blocks), which yields one
dense numdims*numhid block per partition. The trainer adds the P blocks
on the driver: one job per epoch, no shuffle. The lazy query form
posexplodes them into the reference's keyed sum, so its shuffle carries
P*numdims*numhid records, independent of row count.

Intended semantics, not the reference's defects (SURVEY.md §2.6): row-major
weight indexing (not the transposed D3 layout), epsilon=0.1 scaling (not
the uninitialized-scalar D2), observed-count mean (D10 available as an
override via `numcase`).

Deterministic (mean-field) mode uses hidden probabilities h0p directly in
the negative phase instead of Bernoulli samples, so a DuckDB SQL oracle
exists. Sampled mode draws each Bernoulli uniform from a content hash,
u[row,j] = md5("{row_id}|{j}|{epoch}")[:8] % 2^24 / 2^24 (the same
det_hash64 used by sample_deterministic / minhash), so the sampled epoch
is ALSO exactly SQL-expressible — identical on any partitioning, any
cluster, any engine. The reference uses a fresh unseeded Random per
record and is irreproducible by construction
(/root/reference/rbmmapper.java:169).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def init_weights_sin(numdims: int, numhid: int, scale: float = 0.1) -> np.ndarray:
    """Deterministic weight init W[i,j] = scale*sin(i*numhid + j).

    Same closed form is computable in ANSI SQL, which is what makes the
    CD-1 epoch oracle-checkable end-to-end. Stand-in for the reference's
    unseeded 0.1*N(0,1) init (/root/reference/driver.java:76-83)."""
    return scale * np.sin(np.arange(numdims * numhid, dtype=np.float64)).reshape(numdims, numhid)


def init_weights_gaussian(numdims: int, numhid: int, scale: float = 0.1,
                          seed: int = 42) -> np.ndarray:
    """W ~ scale*N(0,1), seeded (reference: unseeded, driver.java:77-83)."""
    rng = np.random.default_rng(seed)
    return scale * rng.standard_normal((numdims, numhid))


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # exp overflow-safe: sigmoid(x) = exp(x)/(1+exp(x)) for x<0
    out = np.empty_like(x)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    ex = np.exp(x[~pos])
    out[~pos] = ex / (1.0 + ex)
    return out


def numpy_cd1_meanfield(V: np.ndarray, W: np.ndarray,
                        hb: np.ndarray | None = None,
                        vb: np.ndarray | None = None) -> np.ndarray:
    """Golden-model CD-1 (mean-field): returns posprods - negprods.

    Mirrors getposphase/getnegphase (/root/reference/rbmmapper.java:144-220)
    with probabilities in place of Bernoulli states. Biases default to zero
    — the reference allocates them zero and never trains them (defect D5,
    rbmmapper.java:131-132)."""
    nd, nh = W.shape
    hb = np.zeros(nh) if hb is None else hb
    vb = np.zeros(nd) if vb is None else vb
    h0p = _sigmoid(V @ W + hb)
    v1 = _sigmoid(h0p @ W.T + vb)
    h1p = _sigmoid(v1 @ W + hb)
    return V.T @ h0p - v1.T @ h1p


def det_uniforms(ids: np.ndarray, nh: int, epoch: int = 0) -> np.ndarray:
    """(len(ids), nh) matrix of deterministic uniforms in [0, 1):
    u[r, j] = (int(md5(f"{ids[r]}|{j}|{epoch}")[:8 hex], 16) % 2^24) / 2^24.

    Bit-for-bit the same formula as functions.vector.det_hash64 and any
    ANSI-SQL engine's md5, which is what makes the SAMPLED CD-1 epoch
    oracle-checkable (and partition-invariant, unlike a per-partition RNG).

    GOLDEN-MODEL TWIN ONLY: this O(rows*nh) interpreted-Python loop exists
    for pytest agreement checks against the production path, which computes
    the identical matrix JVM-side (`det_uniforms_col`) and ships it to the
    pandas UDF as an Arrow array column — no per-element Python work."""
    import hashlib

    U = np.empty((len(ids), nh), dtype=np.float64)
    for r, rid in enumerate(ids):
        pre = f"{rid}|"
        for j in range(nh):
            h = int(hashlib.md5(f"{pre}{j}|{epoch}".encode()).hexdigest()[:8], 16)
            U[r, j] = (h % 16777216) / 16777216.0
    return U


def det_uniforms_col(id_col: str, nh: int, epoch: int = 0):
    """The det_uniforms matrix as a JVM-side Column: array<double> of length
    nh with u[j] = (conv(substr(md5(id|'|'|j|'|'|epoch), 1, 8), 16, 10)
    % 2^24) / 2^24 — byte-identical to det_uniforms (UTF-8 md5, first 8 hex
    chars) but evaluated in whole-stage codegen, so the sampled CD-1 path
    has NO per-element Python loop (the reference does rows*numhid unseeded
    java.util.Random draws in the mapper, rbmmapper.java:166-182)."""
    def _u(j):
        s = F.concat_ws("|", F.col(id_col).cast("string"),
                        j.cast("string"), F.lit(str(epoch)))
        h = F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
        return (h % F.lit(16777216)).cast("double") / F.lit(16777216.0)

    return F.transform(F.sequence(F.lit(0), F.lit(nh - 1)), _u)


def numpy_cd1_sampled(V: np.ndarray, W: np.ndarray, U: np.ndarray,
                      hb: np.ndarray | None = None,
                      vb: np.ndarray | None = None) -> np.ndarray:
    """Golden-model CD-1 with Bernoulli hidden states (P6): h0s = h0p > U
    where U is a per-(row, hidden-unit) uniform matrix (see det_uniforms).
    Positive phase uses probabilities h0p (Hinton's practical guide §3),
    matching getposphase (/root/reference/rbmmapper.java:144-178)."""
    nd, nh = W.shape
    hb = np.zeros(nh) if hb is None else hb
    vb = np.zeros(nd) if vb is None else vb
    h0p = _sigmoid(V @ W + hb)
    h0s = (h0p > U).astype(np.float64)
    v1 = _sigmoid(h0s @ W.T + vb)
    h1p = _sigmoid(v1 @ W + hb)
    return V.T @ h0p - v1.T @ h1p


def _to_matrix(series: pd.Series, numdims: int) -> np.ndarray:
    """Arrow list column -> (n, numdims) float64 matrix."""
    if len(series) == 0:
        return np.empty((0, numdims), dtype=np.float64)
    return np.vstack(series.to_numpy()).astype(np.float64, copy=False)


def _cd1_full_sums(V: np.ndarray, W: np.ndarray) -> np.ndarray:
    """Mean-field CD-1 summed over V's rows, weights AND both bias vectors,
    flat in cd1_gradient_full_df's index layout."""
    h0p = _sigmoid(V @ W)
    v1 = _sigmoid(h0p @ W.T)
    h1p = _sigmoid(v1 @ W)
    return np.concatenate([(V.T @ h0p - v1.T @ h1p).ravel(),
                           h0p.sum(axis=0) - h1p.sum(axis=0),
                           V.sum(axis=0) - v1.sum(axis=0)])


def _cd1_blocks(df: DataFrame, vec_col: str, W: np.ndarray, sampled: bool,
                id_col: str | None, epoch: int, biases: bool = False):
    """The one CD-1 kernel: a mapInPandas yielding ONE row per partition,
    (n bigint, acc array<double>): the partition's row count and its
    row-major (i*numhid+j, not defect D3) sum of posprods - negprods,
    followed by the hidden- and visible-bias sums when biases=True
    (mean-field only). Returns (blocks, broadcast W). sampled=True requires
    id_col: the Bernoulli uniforms are content-hashed from (row id, hidden
    unit, epoch), see det_uniforms, so the result is partition-invariant
    and exactly reproducible in the SQL oracle."""
    from ..shipping import ensure_shipped

    if sampled and id_col is None:
        raise ValueError("sampled=True requires id_col (deterministic "
                         "per-row Bernoulli draws need a stable row id)")
    spark = df.sparkSession
    ensure_shipped(spark)
    nd, nh = W.shape
    b_w = spark.sparkContext.broadcast(np.ascontiguousarray(W, dtype=np.float64))
    width = nd * nh + (nh + nd if biases else 0)

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Wv = b_w.value
        acc = np.zeros(width, dtype=np.float64)
        n = 0
        for pdf in batches:
            V = _to_matrix(pdf[vec_col], nd)
            n += len(V)
            if biases:
                acc += _cd1_full_sums(V, Wv)
            elif sampled:
                # uniforms precomputed JVM-side (det_uniforms_col) — arrives
                # as an Arrow array column, no Python hashing here
                acc += numpy_cd1_sampled(V, Wv, _to_matrix(pdf["__u"], nh)).ravel()
            else:
                acc += numpy_cd1_meanfield(V, Wv).ravel()
        yield pd.DataFrame({"n": [n], "acc": [acc]})

    u = [det_uniforms_col(id_col, nh, epoch).alias("__u")] if sampled else []
    return (df.select(F.col(vec_col), *u)
            .mapInPandas(block, schema="n bigint, acc array<double>"), b_w)


def _keyed_sum(blocks: DataFrame) -> DataFrame:
    """The reference's keyed-sum reducer over _cd1_blocks rows:
    posexplode(acc) + groupBy(idx) -> (idx bigint, gsum, __n = sum(n))."""
    return (blocks.select("n", F.posexplode("acc").alias("idx", "g"))
            .groupBy(F.col("idx").cast("bigint").alias("idx"))
            .agg(F.sum("g").alias("gsum"), F.sum("n").alias("__n")))


def cd1_gradient_df(df: DataFrame, vec_col: str, W: np.ndarray,
                    epsilon: float = 0.1, weightcost: float = 0.0,
                    numcase: int | None = None,
                    sampled: bool = False, id_col: str | None = None,
                    epoch: int = 0) -> DataFrame:
    """One CD-1 epoch as a lazy DataFrame (the oracle-checked query form):
    (idx bigint, dw double) with dw = epsilon * (sum_rows(posprods -
    negprods)/numcase - weightcost*W[idx]). The reference's keyed-sum
    reducer, posexplode(acc) + groupBy(idx).sum, fed one _cd1_blocks row
    per partition; numcase defaults to the observed count, sum(n)."""
    blocks, _ = _cd1_blocks(df, vec_col, W, sampled, id_col, epoch)
    summed = _keyed_sum(blocks)
    count = F.col("__n") if numcase is None else F.lit(float(numcase))
    if weightcost != 0.0:
        # Weight decay via a broadcast (idx, w) weight-frame join, which
        # keeps the "no row-at-a-time Python" invariant (VERDICT r07 #4).
        wdf = df.sparkSession.createDataFrame(
            pd.DataFrame({"idx": np.arange(W.size, dtype=np.int64),
                          "__w": W.ravel().astype(np.float64)}))
        summed = summed.join(F.broadcast(wdf), "idx")
        decay = F.lit(float(weightcost)) * F.col("__w")
    else:
        decay = F.lit(0.0)
    return summed.select(
        F.col("idx"),
        (F.lit(float(epsilon)) * (F.col("gsum") / count - decay)).alias("dw"),
    )


def cd1_gradient_collect(df: DataFrame, vec_col: str, W: np.ndarray,
                         epsilon: float = 0.1, numcase: int | None = None,
                         sampled: bool = False, id_col: str | None = None,
                         epoch: int = 0, weightcost: float = 0.0) -> np.ndarray:
    """Production path: one job brings the P _cd1_blocks rows to the
    driver as Arrow (weight-sized data, never rows; SURVEY.md §7) and sums
    them in partition order. Returns the (numdims, numhid) delta
    epsilon * (gsum/numcase - weightcost*W), numcase defaulting to sum(n)."""
    blocks, b_w = _cd1_blocks(df, vec_col, W, sampled, id_col, epoch)
    tbl = blocks.toArrow()
    b_w.unpersist()
    acc = tbl.column("acc").combine_chunks().flatten().to_numpy()
    gsum = acc.reshape(-1, W.size).sum(axis=0).reshape(W.shape)
    if numcase is None:
        numcase = int(np.sum(tbl.column("n").to_numpy()))
    return epsilon * (gsum / numcase - weightcost * W)


def forward_prop_df(df: DataFrame, vec_col: str, W: np.ndarray,
                    out_col: str = "hidden", quantize: bool = False) -> DataFrame:
    """Forward propagation h = sigmoid(v*W) as a narrow stage — no shuffle.

    The reference runs this as a full MapReduce job with an identity
    reducer, i.e. a pointless shuffle (/root/reference/propreducer.java:16-23,
    SURVEY.md A3/E3). quantize=True reproduces the int(p*255) re-encoding
    between layers (/root/reference/propmapper.java:156)."""
    from ..shipping import ensure_shipped

    spark = df.sparkSession
    ensure_shipped(spark)
    nd, nh = W.shape
    b_w = spark.sparkContext.broadcast(np.ascontiguousarray(W, dtype=np.float64))

    @F.pandas_udf("array<double>")
    def fprop(v: pd.Series) -> pd.Series:
        V = _to_matrix(v, nd)
        H = _sigmoid(V @ b_w.value)
        return pd.Series(list(H))

    out = df.withColumn(out_col, fprop(F.col(vec_col)))
    if quantize:
        out = out.withColumn(
            out_col, F.transform(F.col(out_col), lambda x: F.floor(x * F.lit(255.0)).cast("long")))
    return out


def cd1_gradient_full_df(df: DataFrame, vec_col: str, W: np.ndarray,
                         epsilon: float = 0.1,
                         numcase: int | None = None) -> DataFrame:
    """Mean-field CD-1 epoch emitting the FULL parameter gradient —
    weights AND both bias vectors — in one pass (the reference allocates
    hidbiases/visbiases but never trains or emits them, defect D5; this
    is the intended Hinton update the engine provides instead).

    Index layout in one flat keyed stream (so the same groupBy(idx)
    shuffle carries everything):
      [0, nd*nh)              W row-major i*nh+j
      [nd*nh, nd*nh+nh)       hidden biases (j)
      [nd*nh+nh, nd*nh+nh+nd) visible biases (i)
    Bias gradients cost nothing extra: h0p/h1p/v1 are already in hand,
    and each partition's _cd1_blocks row grows by nd+nh doubles. numcase
    defaults to the observed count, sum(n), so building runs no job."""
    blocks, _ = _cd1_blocks(df, vec_col, W, False, None, 0, biases=True)
    summed = _keyed_sum(blocks)
    count = F.col("__n") if numcase is None else F.lit(float(numcase))
    return summed.select(
        "idx",
        F.round(F.lit(float(epsilon)) * F.col("gsum") / count, 9).alias("dw"))
