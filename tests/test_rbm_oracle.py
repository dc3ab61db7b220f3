"""t2-style oracle comparison for the RBM queries at sf0.01, plus golden
NumPy model checks for the CD-1 math (SURVEY.md §5.3)."""

from __future__ import annotations

import re

import numpy as np
import pytest

from hadoop_digit_recognition_spark.all_queries import ORACLE_SQL, SPARK_QUERIES
from hadoop_digit_recognition_spark.rbm.cd1 import (
    _sigmoid,
    init_weights_sin,
    numpy_cd1_meanfield,
)
from hadoop_digit_recognition_spark.rbm.trainer import DBN

from .conftest import SF_ORACLE
from .oracle_harness import compare

RBM_QUERIES = ["rbm_cd1_epoch", "rbm_forward_prop", "rbm_forward_prop_quantized",
               "rbm_cd1_epoch_sampled", "rbm_cd1_two_epochs",
               "rbm_cd1_two_epochs_sampled", "rbm_dbn_two_layer",
               "rbm_cd1_epoch_biases", "rbm_cd1_two_epochs_momentum"]


def test_md5_uniforms_match_hashlib_twin():
    """The kernel's vectorized MD5 draws (production path) are
    bit-identical to the hashlib row loop, det_uniforms, across id
    shapes, widths (five-digit j at 12000), epochs, zero rows and a row
    count that is not a multiple of the lane chunk."""
    from hadoop_digit_recognition_spark.rbm.cd1 import (
        _MD5_LANES, _md5_uniforms, det_uniforms)

    ids = [0, 9, 10, 99, 12345, 2**40, -1, -2**63, 2**63 - 1]
    for nh in (1, 9, 500, 12000):
        for epoch in (0, 1, 12):
            got = _md5_uniforms([str(i) for i in ids], nh, epoch)
            assert np.array_equal(got, det_uniforms(ids, nh, epoch)), (nh, epoch)
    assert _md5_uniforms([], 500).shape == (0, 500)
    rows = 2 * (_MD5_LANES // 500) + 1
    got = _md5_uniforms([str(i) for i in range(rows)], 500, 3)
    assert np.array_equal(got, det_uniforms(np.arange(rows), 500, 3))


def test_md5_uniforms_string_and_null_ids(monkeypatch):
    """String ids hash as their UTF-8 text. A message of exactly one MD5
    block's 55 bytes stays on the vector path; one byte more goes
    through det_uniforms. A null id hashes as f"{j}|{epoch}", the text
    Spark's concat_ws hashed by dropping the null."""
    import hashlib

    from hadoop_digit_recognition_spark.rbm import cd1

    nh, epoch = 500, 7
    fits = "a" * (55 - len(f"{nh - 1}|{epoch}") - 1)  # "{id}|499|7" = 55 bytes
    ids = ["doc-é", fits, fits + "b", None]
    want = cd1.det_uniforms(ids[:3], nh, epoch)
    fallback = []
    real = cd1.det_uniforms
    monkeypatch.setattr(cd1, "det_uniforms",
                        lambda i, *a: fallback.append(list(i)) or real(i, *a))
    got = cd1._md5_uniforms(ids, nh, epoch)
    assert fallback == [[fits + "b"]]
    assert np.array_equal(got[:3], want)
    null = [int(hashlib.md5(f"{j}|{epoch}".encode()).hexdigest()[:8], 16)
            % 16777216 / 16777216.0 for j in range(nh)]
    assert np.array_equal(got[3], null)


def test_sampled_kernel_receives_only_vector_and_string_id(spark, monkeypatch):
    """Arrow-boundary ratchet: a sampled cd1_gradient_collect sends its
    mapInArrow exactly two columns, the vector and the row id as a
    string. The draws are hashed in the kernel; no array<double> uniform
    column crosses the boundary."""
    from hadoop_digit_recognition_spark.rbm import cd1

    df = spark.createDataFrame([(i, [0.1 * i, 0.5]) for i in range(6)],
                               "vec_id bigint, v array<double>")
    built = []
    real = cd1._cd1_blocks
    monkeypatch.setattr(cd1, "_cd1_blocks",
                        lambda *a, **k: built.append(real(*a, **k)) or built[-1])
    cd1.cd1_gradient_collect(df, "v", init_weights_sin(2, 3), sampled=True,
                             id_col="vec_id")
    plan = built[0][0]._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "MapInArrow"
    sent = [(f.name(), f.dataType().simpleString())
            for f in plan.child().schema().fields()]
    assert sent == [("v", "array<double>"), ("__id", "string")]


@pytest.mark.parametrize("name", RBM_QUERIES)
def test_rbm_query_vs_duckdb(spark, duck, name):
    df = SPARK_QUERIES[name](spark, SF_ORACLE)
    compare(df, duck, ORACLE_SQL[name], name)


def test_golden_cd1_meanfield_tiny():
    """Hand-checkable CD-1: 2 examples x 3 dims, 2 hidden."""
    V = np.array([[1.0, 0.0, 0.5], [0.2, 0.8, 0.1]])
    W = init_weights_sin(3, 2)
    g = numpy_cd1_meanfield(V, W)
    # independent recomputation, scalar-by-scalar
    h0 = 1 / (1 + np.exp(-(V @ W)))
    v1 = 1 / (1 + np.exp(-(h0 @ W.T)))
    h1 = 1 / (1 + np.exp(-(v1 @ W)))
    expect = V.T @ h0 - v1.T @ h1
    np.testing.assert_allclose(g, expect, rtol=1e-12)
    assert g.shape == (3, 2)


def test_sigmoid_stable_extremes():
    x = np.array([-800.0, -30.0, 0.0, 30.0, 800.0])
    s = _sigmoid(x)
    assert np.all(np.isfinite(s))
    np.testing.assert_allclose(s[2], 0.5)
    assert s[0] == 0.0 and s[4] == 1.0


def test_cd1_full_gradient_matches_numpy(spark):
    """The full-parameter epoch (weights + biases) equals the direct
    NumPy computation at every index — golden-model parity for the
    D5-repair path."""
    import numpy as np

    from hadoop_digit_recognition_spark.rbm.cd1 import (
        _sigmoid, init_weights_sin)
    from hadoop_digit_recognition_spark.tables import load
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
    from .conftest import SF_ORACLE

    got = {r.idx: r.dw for r in
           SPARK_QUERIES["rbm_cd1_epoch_biases"](spark, SF_ORACLE).collect()}
    rows = load(spark, SF_ORACLE, "embeddings").select("embedding").collect()
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    nd, nh = 64, 16
    W = init_weights_sin(nd, nh)
    h0 = _sigmoid(V @ W)
    v1 = _sigmoid(h0 @ W.T)
    h1 = _sigmoid(v1 @ W)
    n = len(V)
    gw = 0.1 * (V.T @ h0 - v1.T @ h1) / n
    ghb = 0.1 * (h0.sum(0) - h1.sum(0)) / n
    gvb = 0.1 * (V.sum(0) - v1.sum(0)) / n
    want = np.concatenate([gw.ravel(), ghb, gvb])
    for idx in range(nd * nh + nh + nd):
        assert abs(got[idx] - round(want[idx], 9)) < 1e-9, idx


def test_dbn_fit_leaves_nothing_persisted(spark):
    """A two-RBM DBN.fit releases every frame it persists: the one
    narrowed input copy all layers train on."""
    from hadoop_digit_recognition_spark.rbm.trainer import DBN

    rng = np.random.default_rng(0)
    df = spark.createDataFrame(
        [(i, rng.random(6).tolist()) for i in range(20)],
        "example_id bigint, v array<double>")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    dbn = DBN([6, 4, 3], sampled=True, id_col="example_id").fit(df, "v")
    assert [W.shape for W in dbn.weights] == [(6, 4), (4, 3)]
    assert persisted() == before


@pytest.mark.parametrize("sampled", [False, True],
                         ids=["meanfield", "sampled"])
def test_dbn_layer_two_matches_numpy_on_layer_one_activations(
        spark, monkeypatch, sampled):
    """Golden model for the fused stack: every epoch's delta of a
    two-layer DBN.fit equals NumPy CD-1 on that layer's input, and layer
    2's input is sigmoid(V @ W1) under the TRAINED layer-1 weights, which
    its kernel computes per batch from the one persisted input copy."""
    from hadoop_digit_recognition_spark.rbm import trainer
    from hadoop_digit_recognition_spark.rbm.cd1 import (
        det_uniforms, numpy_cd1_sampled)

    rng = np.random.default_rng(3)
    V = rng.random((40, 12))
    df = spark.createDataFrame([(i, r.tolist()) for i, r in enumerate(V)],
                               "example_id bigint, v array<double>")
    calls = []
    real = trainer.cd1_gradient_collect
    monkeypatch.setattr(trainer, "cd1_gradient_collect", lambda *a, **k: (
        calls.append((a[2].copy(), k["epoch"], real(*a, **k))) or calls[-1][2]))
    dbn = DBN([12, 8, 5], max_epoch=2, sampled=sampled,
              id_col="example_id").fit(df, "v")

    W1, W2 = dbn.weights
    inputs = [V, V, _sigmoid(V @ W1), _sigmoid(V @ W1)]
    assert len(calls) == len(inputs)
    for X, (W, epoch, delta) in zip(inputs, calls):
        if sampled:
            U = det_uniforms(np.arange(len(X)), W.shape[1], epoch)
            want = 0.1 * numpy_cd1_sampled(X, W, U) / len(X)
        else:
            want = 0.1 * numpy_cd1_meanfield(X, W) / len(X)
        np.testing.assert_allclose(delta, want, rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(W2, calls[3][0] + calls[3][2], rtol=1e-12)


def test_dbn_passes_numcase_to_every_layer(spark, monkeypatch):
    """The reference driver's numCase (defect D10): every layer of a
    DBN divides its gradient by the configured count, not by the rows."""
    from hadoop_digit_recognition_spark.rbm import trainer

    rng = np.random.default_rng(5)
    V = rng.random((20, 6))
    df = spark.createDataFrame([(r.tolist(),) for r in V], "v array<double>")
    calls = []
    real = trainer.cd1_gradient_collect
    monkeypatch.setattr(trainer, "cd1_gradient_collect", lambda *a, **k: (
        calls.append((a[2].copy(), real(*a, **k))) or calls[-1][1]))
    W1, _ = DBN([6, 4, 3], numcase=137).fit(df, "v").weights

    for X, (W, delta) in zip([V, _sigmoid(V @ W1)], calls):
        np.testing.assert_allclose(
            delta, 0.1 * numpy_cd1_meanfield(X, W) / 137, rtol=1e-9,
            atol=1e-12)
    assert len(calls) == 2


def _plan_nodes(df) -> list[str]:
    """Node names of df's physical plan, cached plans included (an
    InMemoryRelation prints the plan that fills it)."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    return [re.sub(r"^[\s:|+\-]*(\*\(\d+\) )?", "", line).split(" ")[0]
            for line in tree.splitlines() if line.strip()]


def test_dbn_fit_trains_every_layer_from_one_copy(spark, monkeypatch):
    """Job, plan and cache ratchet for the fused stack: a two-layer,
    one-epoch DBN.fit runs 2 jobs of one stage each; each epoch's plan
    holds exactly one Python node (the CD-1 mapInArrow), no
    ArrowEvalPython forward prop, cached or not; and every epoch reads the
    same single persisted input copy."""
    from hadoop_digit_recognition_spark.rbm import cd1, trainer

    sc = spark.sparkContext
    rng = np.random.default_rng(0)
    df = spark.createDataFrame(
        [(i, rng.random(6).tolist()) for i in range(20)],
        "example_id bigint, v array<double>")

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keys())

    before = persisted()
    plans, held = [], []
    real_blocks, real_collect = cd1._cd1_blocks, trainer.cd1_gradient_collect

    def blocks(*a, **k):
        out = real_blocks(*a, **k)
        plans.append(_plan_nodes(out[0]))
        return out

    def collect(*a, **k):
        out = real_collect(*a, **k)
        held.append(persisted() - before)
        return out

    monkeypatch.setattr(cd1, "_cd1_blocks", blocks)
    monkeypatch.setattr(trainer, "cd1_gradient_collect", collect)
    group = "dbn-fused-ratchet"
    sc.setJobGroup(group, group)
    try:
        DBN([6, 4, 3], sampled=True, id_col="example_id").fit(df, "v")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert (len(jobs), len(stages)) == (2, 2)

    python = [[n for n in p if re.search("Python|Pandas|Arrow", n)]
              for p in plans]
    assert python == [["MapInArrow"], ["MapInArrow"]], plans
    assert len(held) == 2 and all(len(h) == 1 for h in held)
    assert held[0] == held[1]
    assert persisted() == before


@pytest.mark.parametrize("sampled", [False, True],
                         ids=["meanfield", "sampled"])
def test_trainer_invariant_to_shuffle_width(spark, sampled):
    """RBMTrainer.fit no longer shuffles (each epoch collects one
    gradient block per partition), so the session width must not reach
    its result: two epochs at widths 5 and 32 must end at the same
    weights, to the 1e-9 relative tolerance the benchmark holds a seed's
    weights to across passes. Kept as a guard against a shuffle coming
    back."""
    from hadoop_digit_recognition_spark.rbm.trainer import RBMTrainer
    from hadoop_digit_recognition_spark.tables import load

    emb = load(spark, SF_ORACLE, "embeddings")

    def fit_at(width):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            return RBMTrainer(64, 16, max_epoch=2, sampled=sampled,
                              id_col="vec_id").fit(emb, "embedding")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    np.testing.assert_allclose(fit_at(5), fit_at(32), rtol=1e-9, atol=0)


@pytest.mark.parametrize("sampled", [False, True],
                         ids=["meanfield", "sampled"])
def test_trainer_runs_one_job_per_epoch(spark, sampled):
    """Job ratchet: a two-epoch RBMTrainer.fit runs exactly 2 jobs of
    one stage each — the first epoch's job also fills the persisted
    copy, the row count comes from the gradient blocks, and no epoch
    shuffles."""
    from hadoop_digit_recognition_spark.rbm.trainer import RBMTrainer
    from hadoop_digit_recognition_spark.tables import load

    sc = spark.sparkContext
    emb = load(spark, SF_ORACLE, "embeddings")
    group = f"rbm-job-ratchet-{'sampled' if sampled else 'meanfield'}"
    sc.setJobGroup(group, group)
    try:
        RBMTrainer(64, 16, max_epoch=2, sampled=sampled,
                   id_col="vec_id").fit(emb, "embedding")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert (len(jobs), len(stages)) == (2, 2)


@pytest.mark.parametrize("name", ["rbm_cd1_epoch", "rbm_cd1_epoch_sampled",
                                  "rbm_cd1_epoch_biases"])
def test_epoch_query_builds_without_a_job(spark, name):
    """Job ratchet: once the embeddings table has been loaded, building a
    one-epoch gradient query runs no job at all: tables.load reuses the
    parquet schema it inferred, and the row count comes from sum(n) over
    the gradient blocks inside the same aggregate, not from an eager
    count() at build time."""
    from hadoop_digit_recognition_spark.tables import load

    sc = spark.sparkContext
    load(spark, SF_ORACLE, "embeddings")
    group = f"rbm-build-ratchet-{name}"
    sc.setJobGroup(group, group)
    try:
        SPARK_QUERIES[name](spark, SF_ORACLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
