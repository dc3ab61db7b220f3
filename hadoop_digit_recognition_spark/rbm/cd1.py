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
cluster, any engine. The JVM sends only the row id, cast to string; the
kernel hashes each Arrow batch's (rows, numhid) draws itself with a
vectorized NumPy MD5 (_md5_uniforms). The reference uses a fresh unseeded
Random per record and is irreproducible by construction
(/root/reference/rbmmapper.java:169).

Both kernels are Arrow-native (mapInArrow for the gradient blocks,
arrow_udf for forward prop): each list<double> column is read as a
zero-copy (rows, dims) NumPy view (_matrix) and each result goes back as
one flat Arrow list array (_list_array), so no row is boxed into pandas
or Python floats on either side of the worker boundary.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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

    The hashlib reference: tests and the benchmark's golden epoch check
    the kernel's vectorized _md5_uniforms against this row loop, and the
    kernel falls back to it for messages longer than one MD5 block."""
    import hashlib

    U = np.empty((len(ids), nh), dtype=np.float64)
    for r, rid in enumerate(ids):
        pre = f"{rid}|"
        for j in range(nh):
            h = int(hashlib.md5(f"{pre}{j}|{epoch}".encode()).hexdigest()[:8], 16)
            U[r, j] = (h % 16777216) / 16777216.0
    return U


# MD5 (RFC 1321): per-round shift, sine constant and message-word index.
_MD5_S = np.array([7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4
                  + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4, dtype=np.uint32)
_MD5_K = np.floor(np.abs(np.sin(np.arange(1, 65))) * 2.0**32).astype(np.uint32)
_MD5_G = [i if i < 16 else (5 * i + 1) % 16 if i < 32 else
          (3 * i + 5) % 16 if i < 48 else (7 * i) % 16 for i in range(64)]
_MD5_LANES = 1 << 15  # (row, j) messages hashed at once: ~1 MB of scratch


def _md5_word_a(M: list[np.ndarray]) -> np.ndarray:
    """Word A of the MD5 digest of single-block messages, one per lane.
    M holds the block's 16 little-endian uint32 words, each an array that
    broadcasts to the lane shape (a word constant along rows or columns
    stays a row or column)."""
    shape = np.broadcast_shapes(*(m.shape for m in M))
    a, b, c, d = (np.full(shape, v, dtype=np.uint32) for v in
                  (0x67452301, 0xefcdab89, 0x98badcfe, 0x10325476))
    f = np.empty(shape, dtype=np.uint32)
    t = np.empty(shape, dtype=np.uint32)
    for i in range(64):
        if i < 16:    # (b & c) | (~b & d)
            np.bitwise_xor(c, d, out=f)
            f &= b
            f ^= d
        elif i < 32:  # (d & b) | (~d & c)
            np.bitwise_xor(b, c, out=f)
            f &= d
            f ^= c
        elif i < 48:
            np.bitwise_xor(b, c, out=f)
            f ^= d
        else:         # c ^ (b | ~d)
            np.invert(d, out=f)
            f |= b
            f ^= c
        f += a
        f += _MD5_K[i]
        f += M[_MD5_G[i]]
        np.left_shift(f, _MD5_S[i], out=t)
        f >>= np.uint32(32) - _MD5_S[i]
        f |= t
        f += b
        a, b, c, d, f = d, f, b, c, a
    a += np.uint32(0x67452301)
    return a


def _md5_uniforms(ids: list[str | None], nh: int, epoch: int = 0) -> np.ndarray:
    """det_uniforms for string row ids, vectorized: the (len(ids), nh)
    draws of one Arrow batch, hashed as f"{id}|{j}|{epoch}". A null id has
    an empty "{id}|" prefix, so it hashes as f"{j}|{epoch}".

    Rows are grouped by the byte length p of their "{id}|" prefix. Each
    group ORs the rows' prefix words with one (nh, 16) template holding
    every j's suffix at offset p, the 0x80 pad and the bit length in word
    14, and runs MD5 over about _MD5_LANES lanes at a time (one row when
    nh is wider). int(hexdigest[:8], 16) is word A byte-swapped. A message
    longer than one block (55 bytes) goes through det_uniforms; at
    nh <= 10^5 and epoch < 100 only a string id over 46 bytes does that,
    never a bigint's at most 20 characters."""
    U = np.empty((len(ids), nh), dtype=np.float64)
    pre = [b"" if s is None else f"{s}|".encode() for s in ids]
    lens = np.array([len(x) for x in pre], dtype=np.int64)
    sufs = [f"{j}|{epoch}".encode() for j in range(nh)]
    longest = len(f"{nh - 1}|{epoch}")
    for p in map(int, np.unique(lens)):
        rows = np.flatnonzero(lens == p)
        if p + longest > 55:
            U[rows] = det_uniforms([pre[r][:-1].decode() for r in rows], nh, epoch)
            continue
        T = np.frombuffer(b"".join(
            bytes(p) + s + b"\x80" + bytes(55 - p - len(s))
            + (8 * (p + len(s))).to_bytes(8, "little") for s in sufs),
            dtype="<u4").reshape(nh, 16)
        P = np.zeros((len(rows), 64), dtype=np.uint8)
        P[:, :p] = np.frombuffer(b"".join(pre[r] for r in rows),
                                 dtype=np.uint8).reshape(len(rows), p)
        P = P.view("<u4")
        step = max(1, _MD5_LANES // nh)
        for lo in range(0, len(rows), step):
            Pc = P[lo:lo + step]
            M = [T[:, w] if not Pc[:, w].any() else
                 Pc[:, w:w + 1] if not T[:, w].any() else
                 Pc[:, w:w + 1] | T[:, w] for w in range(16)]
            h = np.broadcast_to(_md5_word_a(M), (len(Pc), nh))
            U[rows[lo:lo + step]] = (h.byteswap() & np.uint32(0xFFFFFF)) / 16777216.0
    return U


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


def _matrix(col: pa.Array, dims: int) -> np.ndarray:
    """Arrow list column -> (rows, dims) float64 matrix, a zero-copy view
    of a double column's values. A null row, or one of another length,
    raises."""
    lens = pc.list_value_length(col)
    if lens.null_count or pc.any(pc.not_equal(lens, dims)).as_py():
        raise ValueError(f"every row must hold {dims} values")
    return (col.flatten().to_numpy().reshape(len(col), dims)
            .astype(np.float64, copy=False))


def _list_array(M: np.ndarray) -> pa.ListArray:
    """(rows, d) matrix -> Arrow list<double> column, one row per row,
    built from M's values and a uniform offset run."""
    rows, d = M.shape
    return pa.ListArray.from_arrays(
        np.arange(0, rows * d + 1, d, dtype=np.int32),
        np.ascontiguousarray(M, dtype=np.float64).ravel())


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
                id_col: str | None, epoch: int, biases: bool = False,
                below: Sequence = ()):
    """The one CD-1 kernel: a mapInArrow yielding ONE row per partition,
    (n bigint, acc array<double>): the partition's row count and its
    row-major (i*numhid+j, not defect D3) sum of posprods - negprods,
    followed by the hidden- and visible-bias sums when biases=True
    (mean-field only). Returns (blocks, broadcast W). sampled=True requires
    id_col: the Bernoulli uniforms are content-hashed from (row id, hidden
    unit, epoch), see det_uniforms, so the result is partition-invariant
    and exactly reproducible in the SQL oracle. Only the id crosses the
    Arrow boundary, as a string; the kernel hashes each batch's draws
    (_md5_uniforms).

    below: broadcast weights of the frozen layers under this one, bottom
    first. The kernel forward-props each batch through them,
    V <- sigmoid(V @ Wk), before the CD-1 math, so a DBN layer trains on
    its input copy without a forward-prop node or an activation copy."""
    from ..shipping import ensure_shipped

    if sampled and id_col is None:
        raise ValueError("sampled=True requires id_col (deterministic "
                         "per-row Bernoulli draws need a stable row id)")
    spark = df.sparkSession
    ensure_shipped(spark)
    nd, nh = W.shape
    b_w = spark.sparkContext.broadcast(np.ascontiguousarray(W, dtype=np.float64))
    width = nd * nh + (nh + nd if biases else 0)

    def block(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        Wv = b_w.value
        lower = [b.value for b in below]
        dims = lower[0].shape[0] if lower else nd
        acc = np.zeros(width, dtype=np.float64)
        n = 0
        for batch in batches:
            V = _matrix(batch.column(0), dims)
            for Wk in lower:
                V = _sigmoid(V @ Wk)
            n += len(V)
            if biases:
                acc += _cd1_full_sums(V, Wv)
            elif sampled:
                U = _md5_uniforms(batch.column(1).to_pylist(), nh, epoch)
                acc += numpy_cd1_sampled(V, Wv, U).ravel()
            else:
                acc += numpy_cd1_meanfield(V, Wv).ravel()
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], pa.int64()), _list_array(acc[None, :])],
            names=["n", "acc"])

    # Spark's cast fixes the hashed text for every id type, as the oracle's
    # CAST(vec_id AS VARCHAR) does
    rid = [F.col(id_col).cast("string").alias("__id")] if sampled else []
    return (df.select(F.col(vec_col), *rid)
            .mapInArrow(block, schema="n bigint, acc array<double>"), b_w)


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
                         epoch: int = 0, weightcost: float = 0.0,
                         _below: Sequence = ()) -> np.ndarray:
    """Production path: one job brings the P _cd1_blocks rows to the
    driver as Arrow (weight-sized data, never rows; SURVEY.md §7) and sums
    them in partition order. Returns the (numdims, numhid) delta
    epsilon * (gsum/numcase - weightcost*W), numcase defaulting to sum(n).
    _below: the broadcast frozen weights a DBN layer's kernel forward-props
    its input through first (see _cd1_blocks)."""
    blocks, b_w = _cd1_blocks(df, vec_col, W, sampled, id_col, epoch,
                              below=_below)
    tbl = blocks.toArrow()
    b_w.unpersist()
    acc = tbl.column("acc").combine_chunks().flatten().to_numpy()
    gsum = acc.reshape(-1, W.size).sum(axis=0).reshape(W.shape)
    if numcase is None:
        numcase = int(np.sum(tbl.column("n").to_numpy()))
    return epsilon * (gsum / numcase - weightcost * W)


def forward_prop_df(df: DataFrame, vec_col: str, W: np.ndarray,
                    out_col: str = "hidden", quantize: bool = False) -> DataFrame:
    """Forward propagation h = sigmoid(v*W) as a narrow stage — no shuffle:
    an Arrow UDF over each batch's (rows, numdims) view.

    The reference runs this as a full MapReduce job with an identity
    reducer, i.e. a pointless shuffle (/root/reference/propreducer.java:16-23,
    SURVEY.md A3/E3). quantize=True reproduces the int(p*255) re-encoding
    between layers (/root/reference/propmapper.java:156)."""
    from ..shipping import ensure_shipped

    spark = df.sparkSession
    ensure_shipped(spark)
    nd, nh = W.shape
    b_w = spark.sparkContext.broadcast(np.ascontiguousarray(W, dtype=np.float64))

    @F.arrow_udf("array<double>")
    def fprop(v: pa.Array) -> pa.Array:
        return _list_array(_sigmoid(_matrix(v, nd) @ b_w.value))

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
