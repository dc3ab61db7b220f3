"""Property tests (SURVEY.md §5 item 4): the algebraic invariants the
engine's correctness rests on, checked with hypothesis where the domain
is enumerable and with partitioning perturbations where it is not.

- P3/P5: normalize -> quantize is the identity on 0-255 ints (IEEE
  double x/255*255 recovers x exactly; holds for floor/trunc semantics);
- P7/A1: posexplode -> groupBy-sum inverts to the array sum (the
  oracle-form gradient topology is information-preserving);
- A4: the CD-1 mean gradient is invariant to partitioning (partial
  per-partition accumulators + final sum must not depend on how rows are
  split across tasks);
- C5/C6: the distributed trainer loop equals the pure-NumPy golden model
  epoch for epoch.
"""

from __future__ import annotations

import numpy as np
import pytest
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hadoop_digit_recognition_spark.rbm.cd1 import (
    cd1_gradient_collect,
    init_weights_sin,
    numpy_cd1_meanfield,
)
from hadoop_digit_recognition_spark.rbm.trainer import RBMTrainer

from .conftest import SF_ORACLE, SF_SMOKE


@given(st.lists(st.integers(0, 255), min_size=1, max_size=64))
@settings(max_examples=200, deadline=None)
def test_normalize_quantize_roundtrip_model(xs):
    """Pure-math form of P3 -> P5: trunc((x/255)*255) == x for every
    pixel value (the reference's text re-encoding between layers is
    lossless for the values it actually carries)."""
    assert [int((x / 255.0) * 255.0) for x in xs] == xs


def test_normalize_quantize_roundtrip_spark(spark):
    """Same invariant through the engine's actual expressions, all 256
    values in one row."""
    df = spark.range(1).select(
        F.sequence(F.lit(0), F.lit(255)).alias("v"))
    out = df.select(
        F.transform(
            F.transform("v", lambda x: x.cast("double") / 255.0),
            lambda p: F.floor(p * 255.0).cast("int")).alias("q")
    ).first()["q"]
    assert out == list(range(256))


def test_posexplode_groupby_inverts_array_sum(spark):
    """P7/A1: exploding (idx, val) then summing per idx recovers each
    element; summing everything recovers the array total."""
    data = [([1.5, -2.25, 3.0],), ([0.5, 1.25, -1.0],)]
    df = spark.createDataFrame(data, "v array<double>")
    back = (df.select(F.posexplode("v").alias("idx", "x"))
            .groupBy("idx").agg(F.sum("x").alias("s"))
            .orderBy("idx").collect())
    assert [r["s"] for r in back] == [2.0, -1.0, 2.0]


def test_gradient_invariant_to_partitioning(spark):
    """A4: identical CD-1 delta whether the rows arrive as 1, 3, or 13
    partitions (partial accumulators + sum are associative; float
    reorder tolerance 1e-12 relative)."""
    emb = (spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
           .select(F.col("embedding").cast("array<double>").alias("v")))
    W = init_weights_sin(64, 16)
    deltas = [
        cd1_gradient_collect(emb.repartition(n), "v", W, numcase=100)
        for n in (1, 3, 13)
    ]
    np.testing.assert_allclose(deltas[1], deltas[0], rtol=1e-12, atol=1e-15)
    np.testing.assert_allclose(deltas[2], deltas[0], rtol=1e-12, atol=1e-15)


def test_weight_decay_matches_numpy_golden(spark):
    """C4 weightcost path: dw = eps*(grad/numcase - weightcost*W[idx]).
    The decay term rides a broadcast (idx, w) weight-frame join — this
    test pins the hot-path invariant that NO row-at-a-time Python UDF
    exists anywhere in the engine (VERDICT r07 ask #4), by exercising
    the one path that used to have one."""
    from hadoop_digit_recognition_spark.rbm.cd1 import cd1_gradient_df

    rng = np.random.default_rng(7)
    V = rng.random((30, 6))
    pdf = pd.DataFrame({"v": [list(r) for r in V]})
    df = spark.createDataFrame(pdf)
    W = init_weights_sin(6, 4)
    rows = (cd1_gradient_df(df, "v", W, epsilon=0.1, weightcost=0.01,
                            numcase=30)
            .orderBy("idx").collect())
    got = np.array([r["dw"] for r in rows]).reshape(6, 4)
    want = 0.1 * (numpy_cd1_meanfield(V, W) / 30 - 0.01 * W)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-15)


@pytest.mark.parametrize("parts", [1, 13])
@pytest.mark.parametrize("sampled", [False, True],
                         ids=["meanfield", "sampled"])
def test_gradient_forms_agree(spark, sampled, parts):
    """The production (collected blocks) and query (posexplode +
    groupBy) forms finish from the same per-partition kernel, so they
    must give the same delta to 1e-12 relative."""
    from hadoop_digit_recognition_spark.rbm.cd1 import cd1_gradient_df

    emb = (spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
           .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
           .repartition(parts))
    W = init_weights_sin(64, 16)
    kw = dict(sampled=sampled, id_col="vec_id", epoch=1)
    got = cd1_gradient_collect(emb, "v", W, **kw)
    rows = cd1_gradient_df(emb, "v", W, **kw).orderBy("idx").collect()
    assert [r["idx"] for r in rows] == list(range(64 * 16))
    want = np.array([r["dw"] for r in rows]).reshape(64, 16)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=0)


def test_no_row_at_a_time_udf_in_engine():
    """grep-level invariant: `F.udf(` never appears in the engine package
    (Arrow-batched pandas UDFs and built-ins only — the 100 TB hot-path
    rule, now unconditional)."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / \
        "hadoop_digit_recognition_spark"
    hits = [str(p) for p in pkg.rglob("*.py")
            if "F.udf(" in p.read_text()]
    assert hits == []


def test_trainer_matches_numpy_golden(spark):
    """C5: three epochs of the distributed trainer == three epochs of the
    pure-NumPy reference loop, weight for weight."""
    rng = np.random.default_rng(3)
    V = rng.random((40, 6))
    pdf = pd.DataFrame({"v": [list(r) for r in V]})
    df = spark.createDataFrame(pdf)

    t = RBMTrainer(6, 4, max_epoch=3, seed=11)
    W_dist = t.fit(df, "v")

    from hadoop_digit_recognition_spark.rbm.cd1 import init_weights_gaussian
    W = init_weights_gaussian(6, 4, seed=11)
    for _ in range(3):
        W = W + 0.1 * (numpy_cd1_meanfield(V, W) / 40)
    np.testing.assert_allclose(W_dist, W, rtol=1e-10, atol=1e-13)


def test_trainer_weight_decay_matches_numpy_golden(spark):
    """RBMTrainer(weightcost=...) reaches the gradient: three epochs at
    weightcost=0.01 equal the NumPy loop with the - weightcost*W term."""
    rng = np.random.default_rng(5)
    V = rng.random((40, 6))
    df = spark.createDataFrame(pd.DataFrame({"v": [list(r) for r in V]}))

    W_dist = RBMTrainer(6, 4, max_epoch=3, seed=11, weightcost=0.01).fit(df, "v")

    from hadoop_digit_recognition_spark.rbm.cd1 import init_weights_gaussian
    W = init_weights_gaussian(6, 4, seed=11)
    for _ in range(3):
        W = W + 0.1 * (numpy_cd1_meanfield(V, W) / 40 - 0.01 * W)
    np.testing.assert_allclose(W_dist, W, rtol=1e-10, atol=1e-13)


@given(payloads=st.lists(st.binary(min_size=0, max_size=300),
                         min_size=1, max_size=8))
@settings(max_examples=25, deadline=None)
def test_frame_sample_matches_numpy_reference(spark, payloads):
    """multimodal_frame_sample's pandas UDF must agree with a direct
    NumPy re-implementation for arbitrary payloads (empty, shorter than
    one frame, non-multiple lengths): sampled frame ids are
    0, STRIDE, 2*STRIDE, ...; the final partial frame zero-pads."""
    import numpy as np

    from hadoop_digit_recognition_spark.operators.multimodal import (
        FRAME, STRIDE)

    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(payloads)],
        "doc_id bigint, payload binary")

    from hadoop_digit_recognition_spark.operators import multimodal as mm
    docs = df.select("doc_id", F.col("payload"))

    # reuse the registered query's inner sampler via mapInPandas shape
    out_schema = "doc_id bigint, frame_id bigint, fsum bigint, fmean double"

    import pandas as pd

    def sample_frames(batches):
        for pdf in batches:
            ids, fids, sums = [], [], []
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = np.frombuffer(bytes(b), dtype=np.uint8)
                n_frames = -(-raw.size // FRAME)
                pad = n_frames * FRAME - raw.size
                fr = np.pad(raw, (0, pad)).reshape(n_frames, FRAME)
                keep = np.arange(0, n_frames, STRIDE)
                fsum = fr[keep].astype(np.int64).sum(axis=1)
                ids.extend([did] * keep.size)
                fids.append(keep)
                sums.append(fsum)
            yield pd.DataFrame({
                "doc_id": np.asarray(ids, dtype=np.int64),
                "frame_id": (np.concatenate(fids) if fids
                             else np.empty(0, dtype=np.int64)),
                "fsum": (np.concatenate(sums) if sums
                         else np.empty(0, dtype=np.int64)),
            }).assign(fmean=lambda d: np.round(d["fsum"] / (FRAME * 255.0), 9))

    got = {(r["doc_id"], r["frame_id"]): r["fsum"]
           for r in docs.mapInPandas(sample_frames, out_schema).collect()}

    expect = {}
    for i, b in enumerate(payloads):
        raw = np.frombuffer(bytes(b), dtype=np.uint8)
        # empty payload -> zero frames (matches the oracle's
        # `frame_start < byte_len` rule: no bytes, no frames)
        n_frames = -(-raw.size // FRAME)
        for k in range(0, n_frames, STRIDE):
            seg = raw[k * FRAME:(k + 1) * FRAME].astype(np.int64)
            expect[(i, k)] = int(seg.sum())
    assert got == expect


@given(st.lists(st.text(alphabet="abcde ", min_size=1, max_size=12),
                min_size=1, max_size=40))
@settings(max_examples=20, deadline=None)
def test_chunking_covers_and_overlaps(words):
    """Model check of the chunking geometry used by text_chunk_sliding:
    strides tile every word index, consecutive chunks overlap by
    WIDTH - STRIDE (when a next chunk exists), and chunk word counts
    match the least(WIDTH, remaining) rule."""
    from hadoop_digit_recognition_spark.operators.text import (
        CHUNK_STRIDE, CHUNK_WIDTH)

    n = len(words)
    starts = list(range(0, n, CHUNK_STRIDE))
    chunks = [words[s:s + CHUNK_WIDTH] for s in starts]
    covered = set()
    for s, c in zip(starts, chunks):
        assert len(c) == min(CHUNK_WIDTH, n - s)
        covered.update(range(s, s + len(c)))
    assert covered == set(range(n))
    for k in range(len(starts) - 1):
        overlap = (starts[k] + len(chunks[k])) - starts[k + 1]
        assert overlap == min(CHUNK_WIDTH, n - starts[k]) - CHUNK_STRIDE


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "corpus_balanced_sample",
    # round-5 late additions with window/rank/percentile state
    "dedup_repeated_substrings",
    "graph_kcore_dup_clusters",
    "events_bot_detection",
    "events_dau_wau_mau",
    "window_outlier_hampel",
    "ml_auc_rank_sum",
    # round-6 additions: iterative walk + trainer loop
    "sim_graph_greedy_search",
    "text_bpe_merge_train",
    # round-9: the composed release chain — its mix quotas, curriculum
    # ranks, and pack attribution must not depend on shuffle width
    "pipeline_corpus_release",
    "pipeline_release_manifest",
    # the remaining driver loops: k-truss peel, star CC, embedding CC
    "graph_ktruss",
    "dedup_cc_two_phase_star",
    "pipeline_embedding_dedup",
])
def test_result_invariant_to_shuffle_width(spark, name):
    """Engine-wide analog of the A4 invariant: results of hash-keyed and
    iterative operators must not depend on spark.sql.shuffle.partitions.
    Runs each query under two widths and compares full sorted row sets.
    Memoized stages (k-core edges, NSW edges, capped-SemDeDup kept set)
    are EVICTED per width — otherwise the second width silently reuses
    the first width's materialization and the test is vacuous for the
    cached stage. The driver loops (CC labels, k-core and k-truss
    peels) run at the session width too: they used to pin their own
    width to 8 whatever the test set, which made the loop part of the
    dedup_connected_components and graph_kcore_dup_clusters cases
    vacuous."""
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
    from hadoop_digit_recognition_spark.operators.dedup import (
        clear_signature_cache)

    def rows_at(width):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        clear_signature_cache(spark)
        try:
            df = SPARK_QUERIES[name](spark, SF_ORACLE)
            return sorted(tuple(str(c) for c in r) for r in df.collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
            clear_signature_cache(spark)

    assert rows_at(5) == rows_at(32)


def test_round5_analytic_invariants(spark):
    """Mathematical invariants of the round-5 analytics — properties
    that must hold regardless of data, catching formula regressions
    the oracle hash can't localize."""
    from .conftest import SF_ORACLE
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES

    # DAU <= WAU <= MAU on every day
    for r in SPARK_QUERIES["events_dau_wau_mau"](spark, SF_ORACLE).collect():
        assert r["dau"] <= r["wau"] <= r["mau"], r
        assert 0 < r["stickiness"] <= 1
    # correlation-family outputs live in [-1, 1]
    for r in SPARK_QUERIES["timeseries_autocorrelation"](
            spark, SF_ORACLE).collect():
        if r["autocorr"] is not None:
            assert -1.000001 <= r["autocorr"] <= 1.000001, r
    row = SPARK_QUERIES["graph_assortativity"](spark, SF_ORACLE).first()
    if row["assortativity"] is not None:
        assert -1.000001 <= row["assortativity"] <= 1.000001
    # drawdown is nonnegative and peak dominates the running value
    for r in SPARK_QUERIES["window_drawdown"](spark, SF_ORACLE).collect():
        assert r["drawdown"] >= -1e-6, r
        assert r["peak"] >= r["cum"] - 1e-6, r
    # ABC shares accumulate monotonically to ~1
    shares = [r["cum_share"] for r in
              SPARK_QUERIES["agg_abc_pareto"](spark, SF_ORACLE)
              .orderBy("cum_share").collect()]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-4
    # batches never exceed their pad target and padding is a fraction
    for r in SPARK_QUERIES["corpus_length_bucket_batches"](
            spark, SF_ORACLE).collect():
        assert r["max_tokens"] <= r["bucket"], r
        assert 0 <= r["pad_frac"] < 1, r
    # Matryoshka overlaps are bounded by k
    for r in SPARK_QUERIES["sim_matryoshka_truncation_eval"](
            spark, SF_ORACLE).collect():
        assert 0 <= r["n_overlap_16"] <= 5 and 0 <= r["n_overlap_32"] <= 5
    # winsorized mean sits inside the clip band; trimmed inside too
    for r in SPARK_QUERIES["agg_winsorized_stats"](
            spark, SF_ORACLE).collect():
        assert r["p05"] - 1e-6 <= r["winsor_mean"] <= r["p95"] + 1e-6, r
        assert r["p05"] - 1e-6 <= r["trimmed_mean"] <= r["p95"] + 1e-6, r


def test_round5_resumed_invariants(spark):
    """Mathematical invariants of the round-5 resumed operators —
    engine-independent properties the oracle hash can't localize."""
    from .conftest import SF_ORACLE
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES

    # skyline: mutually non-dominated (strict dominance between any two
    # returned points is a contradiction)
    sky = [(r["price"], r["size"]) for r in
           SPARK_QUERIES["skyline_pareto_frontier"](
               spark, SF_ORACLE).collect()]
    assert sky
    for pa, sa in sky:
        for pb, sb in sky:
            dominates = (pb <= pa and sb >= sa and (pb < pa or sb > sa))
            assert not dominates, ((pa, sa), (pb, sb))

    # weighted median: at least half the total weight sits at-or-below
    # the reported median, strictly-below carries less than half
    import duckdb as _dd
    con = _dd.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{SF_ORACLE}/lineitem.parquet'")
    for r in SPARK_QUERIES["agg_weighted_median"](
            spark, SF_ORACLE).collect():
        at_or_below, below, total = con.execute(
            "SELECT sum(CASE WHEN l_extendedprice <= ? THEN l_quantity "
            "ELSE 0 END), sum(CASE WHEN l_extendedprice < ? THEN "
            "l_quantity ELSE 0 END), sum(l_quantity) FROM lineitem "
            "WHERE l_returnflag = ?",
            [r["weighted_median_price"], r["weighted_median_price"],
             r["l_returnflag"]]).fetchone()
        assert 2 * at_or_below >= total, r
        assert 2 * below < total, r

    # bootstrap: bounds ordered, replicate count intact
    b = SPARK_QUERIES["ab_bootstrap_ci_poisson"](spark, SF_ORACLE).first()
    assert b["ci_lo_cents"] <= b["ci_hi_cents"]
    assert b["n_replicates"] == 40

    # modularity: in/out strengths each sum to the total edge mass,
    # and total Q is bounded by 1
    rows = SPARK_QUERIES["graph_modularity_regions"](
        spark, SF_ORACLE).collect()
    assert sum(r["kout"] for r in rows) == sum(r["kin"] for r in rows)
    assert abs(sum(r["q_contrib"] for r in rows)) <= 1.0

    # YoY/MoM: delta consistent with the lagged count
    for r in SPARK_QUERIES["timeseries_yoy_mom"](
            spark, SF_ORACLE).collect():
        if r["prev_month"] is not None:
            assert r["mom_delta"] == r["n_orders"] - r["prev_month"], r

    # cumulative distinct: per user non-decreasing, steps of 0/1,
    # starts at 1
    from collections import defaultdict
    per_user = defaultdict(list)
    cd = SPARK_QUERIES["window_cumulative_distinct"](spark, SF_ORACLE)
    for r in cd.orderBy("user_id", "cum_distinct_types",
                        "event_id").collect():
        per_user[r["user_id"]].append(r["cum_distinct_types"])
    for seq in per_user.values():
        assert seq[0] == 1
        assert all(b - a in (0, 1) for a, b in zip(seq, seq[1:]))

    # WoE: each IV contribution is nonnegative ((share gap) and
    # ln(share ratio) always share sign)
    for r in SPARK_QUERIES["feature_woe_binning"](
            spark, SF_ORACLE).collect():
        assert r["iv_contrib"] >= -1e-9, r

    # temporal split: the leakage guarantee itself — ranges ordered
    sp = {r["split"]: r for r in
          SPARK_QUERIES["split_temporal_leakage_safe"](
              spark, SF_ORACLE).collect()}
    assert sp["train"]["ts_max"] < sp["valid"]["ts_min"]
    assert sp["valid"]["ts_max"] < sp["test"]["ts_min"]

    # file skipping: pruning never changes the answer, only the IO
    fs = {r["layout"]: r for r in
          SPARK_QUERIES["layout_file_skipping_stats"](
              spark, SF_ORACLE).collect()}
    assert (fs["random"]["rows_matched"]
            == fs["time_partitioned"]["rows_matched"])
    for r in fs.values():
        assert r["files_scanned"] <= r["n_files"]
        assert r["rows_read"] >= r["rows_matched"]

    # audio trim: bounds ordered, active count fits the span
    for r in SPARK_QUERIES["multimodal_audio_trim_silence"](
            spark, SF_ORACLE).collect():
        assert r["trim_start"] <= r["trim_end"], r
        assert 1 <= r["n_active"] <= r["active_span"], r

    # MLM plan: action split partitions the selected set; global rate
    # lands near the configured 15%
    mlm = SPARK_QUERIES["corpus_mlm_mask_plan"](spark, SF_ORACLE).collect()
    tot_sel = sum(r["n_selected"] for r in mlm)
    tot_tok = sum(r["n_tokens"] for r in mlm)
    for r in mlm:
        assert r["n_selected"] == r["n_mask"] + r["n_random"] + r["n_keep"]
        assert r["n_selected"] <= r["n_tokens"]
    assert 0.10 < tot_sel / tot_tok < 0.20

    # Theil: decomposition additivity and nonnegativity
    th = SPARK_QUERIES["agg_theil_decomposition"](spark, SF_ORACLE).first()
    assert th["theil_total"] >= 0 and th["theil_between"] >= -1e-9
    assert abs(th["theil_total"]
               - (th["theil_within"] + th["theil_between"])) < 5e-6

    # calibration: bins partition the scored set; rates are probabilities
    import os
    cal = SPARK_QUERIES["ml_calibration_bins"](spark, SF_ORACLE).collect()
    n_emb = (spark.read.parquet(
        os.path.join(SF_ORACLE, "embeddings.parquet")).count())
    assert sum(r["n"] for r in cal) == n_emb
    for r in cal:
        assert 0.0 <= r["pos_frac"] <= 1.0, r


@given(
    shared=st.lists(st.sampled_from(
        ["spark", "line", "hash", "value", "sort", "dup", "key"]),
        min_size=8, max_size=14),
    pre_a=st.lists(st.sampled_from(["scan", "join", "agg", "row"]),
                   min_size=0, max_size=10),
    suf_a=st.lists(st.sampled_from(["scan", "join", "agg", "row"]),
                   min_size=0, max_size=10),
    pre_b=st.lists(st.sampled_from(["big", "slow", "fast", "the"]),
                   min_size=0, max_size=10),
    suf_b=st.lists(st.sampled_from(["big", "slow", "fast", "the"]),
                   min_size=0, max_size=10),
)
@settings(max_examples=6, deadline=None)
def test_winnowing_guarantee(spark, shared, pre_a, suf_a, pre_b, suf_b):
    """The WINNOWING GUARANTEE (Schleimer et al. 2003), end-to-end
    through the engine's actual selection: any two documents sharing a
    contiguous token run of length >= W + K - 1 (here 5 + 4 - 1 = 8)
    MUST share at least one selected fingerprint hash — some window of
    W gram hashes then lies entirely inside the run, its minimum hash
    is identical in both documents, and the packed (hash, pos) tie-break
    picks the same relative gram on both sides. This is the contract
    dedup_winnowing_pairs' candidate generation rests on; recall bugs in
    the selection (off-by-one in the window frame, tie-break divergence)
    fail HERE even when the oracle comparison (which replays the same
    selection) stays green."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_digit_recognition_spark.operators.text import (
        _winnow_selected)

    texts = [" ".join(pre_a + shared + suf_a),
             " ".join(pre_b + shared + suf_b)]
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(pa.table({
            "doc_id": pa.array([0, 1], pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["src0", "src1"]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), f"{d}/documents.parquet")
        sel = _winnow_selected(spark, d).collect()
    fps = {0: set(), 1: set()}
    for r in sel:
        fps[r["doc_id"]].add(r["fp_hash"])
    assert fps[0] & fps[1], (
        f"no shared fingerprint despite a {len(shared)}-token shared run "
        f"(W+K-1=8); texts={texts}")


def test_round6_invariants(spark):
    """Round-6 operator invariants.

    BPE: the winning pair count is monotone non-increasing over rounds —
    merging (l, r) can only remove occurrences of existing pairs, and
    any NEW pair (x, lr)/(lr, y) occurs at most as often as (l, r) did,
    which was the round maximum. Rounds are 1..N exactly once; counts
    positive.

    NSW walk: every hop result is a real vector pair with the exact
    cosine (checked against brute recompute for one query), rnk is
    dense 1..k per query, and no self-pairs survive."""
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES

    bpe = sorted((r["round"], r["pair_count"], r["lhs"], r["rhs"])
                 for r in SPARK_QUERIES["text_bpe_merge_train"](
                     spark, SF_ORACLE).collect())
    assert [b[0] for b in bpe] == list(range(1, len(bpe) + 1))
    counts = [b[1] for b in bpe]
    assert all(c > 0 for c in counts)
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts

    nsw = SPARK_QUERIES["sim_graph_greedy_search"](
        spark, SF_ORACLE).collect()
    assert nsw
    per_q: dict = {}
    for r in nsw:
        assert r["qid"] != r["cid"]
        per_q.setdefault(r["qid"], []).append(r["rnk"])
    for qid, rnks in per_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), qid
    # exact-cosine spot check for the first returned pair
    import numpy as np
    r0 = nsw[0]
    emb = {row["vec_id"]: np.array(row["embedding"], dtype=np.float64)
           for row in spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
           .filter(F.col("vec_id").isin([r0["qid"], r0["cid"]])).collect()}
    a, b = emb[r0["qid"]], emb[r0["cid"]]
    expect = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
    assert abs(r0["cos"] - expect) < 2e-6, (r0, expect)


def test_degenerate_events_engine_parity(spark, tmp_path):
    """DEGENERATE-corpus parity sweep: a pathological events table (one
    hyperactive user with many IDENTICAL timestamps, one single-event
    user, zero value variance within a day) is exactly the regime where
    0/0, variance-0, and empty-frame expressions diverge between
    engines (Spark NaN vs DuckDB NULL — the events_bot_detection /
    lsh_eval_pr class). Run a slice of division/variance-heavy event
    analytics on it and hold each query to its DuckDB oracle. Queries
    here must either produce identical values or drop the degenerate
    rows IDENTICALLY — silent NaN/NULL divergence fails the hash."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)
    from .oracle_harness import compare

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # user 1: 40 events all at the SAME instant, same value
    for i in range(40):
        rows.append((i, t0, 1, "click", 5.0, "{}"))
    # user 2: single event
    rows.append((100, t0, 2, "view", 0.0, "{}"))
    # user 3: two events, zero gap, zero value
    rows.append((101, t0, 3, "click", 0.0, "{}"))
    rows.append((102, t0, 3, "click", 0.0, "{}"))
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows]),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows]),
    })
    d = str(tmp_path)
    pq.write_table(tbl, f"{d}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    for name in ("events_bot_detection", "events_dau_wau_mau",
                 "events_power_user_gini", "events_new_vs_returning",
                 "events_hour_dow_heatmap", "agg_hhi_concentration_events"
                 if "agg_hhi_concentration_events" in SPARK_QUERIES
                 else "events_session_paths",
                 # empty sketch intersections (one-type users) are the
                 # 0/0 regime for the KMV pair estimates
                 "sketch_kmv_intersection",
                 # round 8: single-bin isotonic fit, zero demand points
                 # (value < threshold everywhere -> empty on both
                 # sides), and tiny-frequency AMS counters
                 "ml_isotonic_pav", "timeseries_croston_intermittent",
                 "sketch_moments_ams",
                 # round 8 continuation: same-instant positions (the
                 # event_id tiebreak) for pattern mining; 3-user bitmap
                 # chunks (mostly-empty 32-bit words); a single-state
                 # chain (click->click only) for the stationary solve
                 "events_prefixspan_topk", "sketch_bitmap_distinct",
                 "events_markov_stationary",
                 # round 9 continuation: 40 same-instant events (the
                 # event_id tiebreak orders the decoded prefix) plus
                 # two sub-length users dropped identically
                 "events_hmm_viterbi",
                 # round 9 continuation: zero values route out-of-band
                 # (n_nonpos) and all-zero types drop the sketch rows
                 # identically on both engines
                 "sketch_ddsketch_quantiles",
                 # round 9 continuation: every event lands post-split,
                 # so the pre-period covariate is constant and theta
                 # must pin to 0 (no adjustment) on both engines;
                 # single-user arms give NULL variances identically
                 "ab_cuped_adjustment",
                 # round 9 continuation: 40 same-instant events give
                 # all-zero gaps (mu = sigma = 0 -> burstiness pinned
                 # 0.0); 1-gap and 0-gap users drop identically
                 "events_interarrival_burstiness",
                 # round 10: 3 users cut by ntile(5) leave strata with
                 # a single arm (NULL ate on both engines); every event
                 # pre-split gives all-zero post outcomes
                 "ab_propensity_strata",
                 # round 10: no purchases at all -> every decile's
                 # cumulative outcome is 0 and qini pins to 0; tiny-arm
                 # deciles exercise the empty-control NULL guard class
                 "ml_uplift_qini",
                 # round 10: all strata single-arm -> adjusted estimate
                 # NULL, crude from the same degenerate arms, flag false
                 "ab_simpsons_paradox_check"):
        df = SPARK_QUERIES[name](spark, d)
        compare(df, con, ORACLE_SQL[name], f"degenerate:{name}")


def test_degenerate_documents_engine_parity(spark, tmp_path):
    """Documents-family analog of the degenerate-events sweep: empty
    text, single-word docs, a doc of one repeated word, and a block of
    byte-identical docs — the regime where split('') -> [''],
    zero-gram documents, and all-ties ranking diverge between engines
    if any operator is off by one. Each query is held to its DuckDB
    oracle on the pathological corpus."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)
    from .oracle_harness import compare

    texts = [
        "",                                   # empty doc
        "spark",                              # single word
        "dup dup dup dup dup dup dup dup dup dup",  # one repeated word
        "the quick value table scan",         # short normal doc
    ] + ["copy of this exact doc text here now"] * 5   # identical block
    tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{i % 2}" for i in range(len(texts))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    d = str(tmp_path)
    pq.write_table(tbl, f"{d}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    for name in ("dedup_exact", "dedup_normalized_prefix",
                 "text_tfidf_top_terms", "text_winnowing_fingerprints",
                 "dedup_winnowing_pairs",
                 "dedup_repeated_substrings", "text_bpe_merge_train",
                 "text_kneser_ney_bigram", "dedup_minhash_lsh",
                 "dedup_segments_corpus", "text_repetition_rates",
                 "corpus_decontamination", "text_word_entropy",
                 "text_token_stats", "dedup_boilerplate_ngrams",
                 "multimodal_histogram_equalize",
                 "multimodal_laplacian_sharpness", "multimodal_meta",
                 "dedup_minhash_lsh_capped", "text_kn_perplexity_filter",
                 "corpus_gopher_quality_rules", "corpus_dsir_importance",
                 "corpus_weighted_reservoir", "text_zipf_fit",
                 "graph_clustering_coefficient", "text_bpe_encode",
                 "dq_l_diversity",
                 # round 8: single-language TVD (exact zero), and an
                 # EMPTY eval doc in influence tracing (doc 0 is the
                 # only %97 hit and has no grams -> empty both sides)
                 "dq_t_closeness", "corpus_influence_tracing",
                 # round 8 continuation: empty text -> zero candidate
                 # phrases (split('') island edge) for RAKE; zero-pad
                 # raster + identical-doc token collisions for ViT;
                 # zero-frame docs and all-equal-energy plateaus (no
                 # strict peak -> empty) for landmarks
                 "text_rake_keywords", "multimodal_vit_patch_plan",
                 "multimodal_audio_landmark_fingerprint",
                 # round 9: empty doc -> zero word types; one repeated
                 # word -> a single dominant piece; identical block ->
                 # shared vocabulary (unigram-LM Viterbi + EM recount)
                 "text_unigram_viterbi_segment",
                 "text_unigram_em_reestimate",
                 # round 9 continuation: empty doc -> no words; the
                 # dup block makes round-1 unigram counts tie-heavy
                 # (likelihood-ratio argmax must break ties identically)
                 "text_wordpiece_train",
                 # round 9 continuation: BLEU over the identical-doc
                 # block's minhash pairs must hit exactly 1.0 with
                 # match == total at both orders
                 "text_bleu_pairs",
                 # round 9 continuation: identical rasters must score
                 # ssim_e6 = exactly 1e6 with l2_sq = 0 on both engines
                 "multimodal_ssim_pairs",
                 # round 9 continuation: empty docs chunk to nothing;
                 # the identical block's chunks dedup across all 5
                 "dedup_cdc_chunks",
                 # round 9 continuation: the empty doc is the u = 0
                 # Jaccard edge; the identical block sorts adjacent and
                 # must pair at exactly 1e6 within the window
                 "dedup_sorted_neighborhood",
                 # round 9 continuation: the dup-block doc carries the
                 # blocked term; empty doc contributes 0 tokens kept
                 "corpus_blocklist_filter",
                 # round 9 continuation: a single-lang corpus makes the
                 # lang raking step the identity (mass == target), so
                 # the source steps alone must reach the fixed point
                 "corpus_sinkhorn_rebalance",
                 # round 9 continuation: sub-frame docs (empty, single
                 # word) yield no pairs; the identical block's motion
                 # rows agree across all 5 copies
                 "multimodal_block_motion",
                 # round 9 continuation: the identical block collapses
                 # to one cluster whose license is the hash-max of its
                 # members — upgrades counted identically
                 "corpus_license_propagation",
                 # round 9 continuation: a single-class corpus (all
                 # 'en') makes every off-diagonal margin 0 — the 0/0
                 # precision/recall classes must pin to 0 identically
                 "ml_langid_macro_f1",
                 # round 9 continuation: the identical block's cluster
                 # must audit at min = avg = 1e6 with chain_risk false
                 "dedup_cluster_chaining_audit",
                 # round 9 continuation: identical payloads share both
                 # the pHash bucket AND a zero pixel distance — every
                 # member must confirm n_exact with max_l2_sq = 0
                 "multimodal_phash_verified_dedup",
                 # round 9 continuation: the empty doc must route to
                 # fail_empty_text (rule 1 outranks the length rules)
                 # and the short docs to fail_len_range, identically
                 "dq_quarantine_routing",
                 # round 10: the identical block is a 5-clique — every
                 # clique edge sits in 3 triangles and must survive all
                 # peel rounds with identical support
                 "graph_ktruss",
                 # round 10: a single-language corpus pins chance
                 # agreement high (every non-flip annotation agrees);
                 # tiny N exercises the exact-integer moment path
                 "dq_fleiss_kappa"):
        df = SPARK_QUERIES[name](spark, d)
        compare(df, con, ORACLE_SQL[name], f"degenerate-doc:{name}")


def test_degenerate_embeddings_engine_parity(spark, tmp_path):
    """Embeddings-family pathological sweep: a ZERO vector (failed or
    padded embedding — absent from fixtures, real in production), an
    exact-duplicate pair, and a two-label split. Before round 6 a zero
    vector CRASHED the cosine family outright (ANSI divide-by-zero on
    the norm product); the fix drops zero-norm vectors from pairwise
    compares identically in both engines, keeping assignment rows where
    the output is per-vector (SemDeDup). Queries here must hold their
    oracles with the zero vector present."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)
    from .oracle_harness import compare

    rng = np.random.default_rng(7)
    vecs = rng.normal(0, 0.12, (40, 64)).astype(np.float32)
    vecs[5] = 0.0          # zero vector
    vecs[6] = vecs[7]      # exact duplicate pair
    tbl = pa.table({
        "vec_id": pa.array(range(40), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array([i % 2 for i in range(40)], pa.int32())})
    d = str(tmp_path)
    pq.write_table(tbl, f"{d}/embeddings.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    for name in ("sim_topk_cosine", "dedup_embedding_cosine",
                 "dedup_semantic_semdedup", "dedup_semdedup_capped",
                 "sim_knn_graph", "embedding_int8_quantize",
                 "embedding_pq_quantize", "sim_ann_lsh",
                 "sim_ann_lsh_buckets", "sim_hard_negatives",
                 "sim_ivf_det_topk", "sim_matryoshka_truncation_eval",
                 "dedup_embedding_lsh", "sim_graph_greedy_search",
                 "ml_knn_classifier_eval", "ml_label_noise_knn",
                 "sim_knn_graph_adaptive",
                 "pipeline_embedding_dedup", "sim_mmr_rerank",
                 "corpus_decontamination_semantic",
                 # round 8 continuation: the zero vector must drop
                 # before sign-bit coding (its code would be all-zero
                 # and its cosine undefined)
                 "sim_binary_quantization_hamming",
                 "sim_mutual_knn_pairs",
                 # round 9: the banded eval sweep must drop the zero
                 # vector before bucketing on both sides
                 "corpus_decontamination_semantic_lsh",
                 # round 9 continuation: the exact-duplicate pair gives
                 # zero-distance edges — the micro-grid clamp (d >= 1)
                 # must keep lrd finite identically on both engines
                 "sim_lof_outliers",
                 # round 9 continuation: two-hop proposals through the
                 # duplicate pair tie old edges at 6 decimals (the
                 # (cos DESC, cid) tiebreak decides identically); the
                 # zero vector never enters the graph so never proposes
                 "sim_nndescent_round",
                 # round 10: the iterated curve on a tiny corpus — the
                 # zero vector stays out of every round's proposals and
                 # the 4-row stats table divides by the sample truth
                 # count identically on both engines
                 "sim_nndescent_recall_curve",
                 # round 9 continuation: the zero vector must drop from
                 # BOTH the truth scan and the graph before recall is
                 # counted; tiny-corpus truth sets still rank KNN_K deep
                 "sim_graph_recall_eval",
                 # round 9 continuation: the zero vector is a SEED here
                 # (id < SEM_CELLS) — its cell's members score cosine
                 # against a zero prototype and must drop identically
                 "corpus_prototypicality_prune",
                 # round 9 continuation: exact-duplicate pair gives a
                 # zero min-distance candidate that must never win the
                 # argmax while distinct vectors remain; tiny corpus
                 # exercises the selection-exhausted guard
                 "corpus_kcenter_coreset",
                 # round 9 continuation: 40 rows cut into 4-row deciles
                 # with score ties broken by vec_id identically
                 "ml_lift_gains_deciles",
                 # round 10: AP over the 40-row sample (the zero vector
                 # participates — PR-AUC ranks scores, not norms)
                 "ml_pr_auc",
                 # round 10: 40 rows concentrate in few calibration
                 # bins; yk recovery and the e9 term floors must agree
                 "ml_brier_decomposition",
                 # round 10: tiny nested subsets can lose a label's
                 # centroid entirely — the missing candidate must drop
                 # identically from both engines' argmin
                 "ml_learning_curve",
                 # round 10: the zero vector must drop from pool AND
                 # corpus before any gain is scored; the duplicate pair
                 # ties a marginal gain (vec_id tiebreak decides)
                 "corpus_facility_location",
                 # round 10: the exact-duplicate pair is same-cell (it
                 # quantizes identically) so recall counts it broken and
                 # precision stays pinned; the zero vector is in neither
                 # truth nor drops (round 11: truth side is the sampled
                 # panel, which covers this whole tiny fixture)
                 "dedup_semdedup_eval_pr",
                 # round 11: multi-probe on a tiny corpus — every vector
                 # probes 3 of the (mostly zero-seeded) cells; the zero
                 # vector keeps its primary assignment row but exits the
                 # pairwise compare on both engines; probe d2 ties rank
                 # by cid identically
                 "dedup_semdedup_multiprobe",
                 "dedup_semdedup_multiprobe_capped",
                 "dedup_semdedup_mp_eval_pr"):
        df = SPARK_QUERIES[name](spark, d)
        compare(df, con, ORACLE_SQL[name], f"degenerate-emb:{name}")
    # the zero vector must still get its SemDeDup verdict row
    sem = {r["vec_id"] for r in SPARK_QUERIES["dedup_semantic_semdedup"](
        spark, d).collect()}
    assert 5 in sem, "zero vector lost its assignment row"


def test_degenerate_release_pipeline_engine_parity(spark, tmp_path):
    """The composed release pipeline on a pathological TWO-TABLE fixture
    (it is the only query family spanning documents AND embeddings):
    an EMPTY doc that is also the %97 eval doc (so the verbatim eval
    gram set is empty), a ZERO vector at the same id (so the semantic
    eval side is empty after the zero-norm drop), gopher-failing short
    docs, a byte-identical pair, a reordered near-dup, and an identical
    embedding pair among the survivors. Both registered pipeline
    queries must hold their oracles; the release here packs ZERO full
    sequences (another edge: the pack rung's floor hits 0)."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)
    from .oracle_harness import compare

    rng = np.random.default_rng(11)
    vocab = ["table", "query", "value", "merge", "batch", "group",
             "spark", "shard", "token", "scan"]
    def long_doc(seed):
        r = np.random.default_rng(seed)
        ws = [vocab[i] for i in r.integers(0, len(vocab), 56)]
        return " ".join(ws + ["the", "and", "of", "with"])
    texts = [
        "",                                    # doc 0: empty AND eval (%97)
        "spark",                               # gopher-fail
        "dup dup dup",                         # gopher-fail
        "the quick value",                     # gopher-fail
        long_doc(4), long_doc(4),              # 4==5 byte-identical
        " ".join(reversed(long_doc(4).split())),  # 6: reordered near-dup
        long_doc(7), long_doc(8), long_doc(9), long_doc(10), long_doc(11),
    ]
    n = len(texts)
    tbl = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{i % 3}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 0.12, (n, 64)).astype(np.float32)
    vecs[0] = 0.0          # zero vector at the eval id
    vecs[7] = vecs[4]      # identical embedding pair among survivors
    etbl = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array([i % 2 for i in range(n)], pa.int32())})
    d = str(tmp_path)
    pq.write_table(tbl, f"{d}/documents.parquet")
    pq.write_table(etbl, f"{d}/embeddings.parquet")

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    for name in ("pipeline_corpus_release", "pipeline_release_manifest"):
        df = SPARK_QUERIES[name](spark, d)
        compare(df, con, ORACLE_SQL[name], f"degenerate-release:{name}")
    acc = {r.stage: r for r in SPARK_QUERIES["pipeline_corpus_release"](
        spark, d).collect()}
    assert acc["gopher"].n_out == 8          # the 8 long docs survive
    assert acc["exact"].n_removed == 1       # the byte-identical twin
    assert acc["pack"].n_out == 0            # < 512 tokens: no full seq


def test_learning_curve_empty_subset_guard(spark, tmp_path):
    """ADVICE r10: the smallest nested fraction can be EMPTY (every
    training vec_id det-hashes outside %4 < 1). Both engines must emit
    the identical degenerate row (n_train = 0, n_eval = 0,
    n_correct = 0, acc_e6 = 0) instead of Spark scoring against an
    empty centroid array (NULL preds) while the oracle divides by
    zero / emits NULL counts. vec_ids are handpicked so the 25% subset
    is empty while 50%/100% are not."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)
    from .oracle_harness import compare

    # train ids (% 5 != 0) all hash to %4 >= 1 for the '|lc' salt;
    # test ids are the % 5 == 0 rows
    ids = [1, 2, 3, 4, 7, 9, 11, 14, 16, 21, 22, 24, 0, 5, 10, 15]
    rng = np.random.default_rng(7)
    emb = rng.normal(size=(len(ids), 8)).astype(np.float32)
    tbl = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in emb],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 2 for i in ids], pa.int32())})
    d = str(tmp_path)
    pq.write_table(tbl, f"{d}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")

    df = SPARK_QUERIES["ml_learning_curve"](spark, d)
    compare(df, con, ORACLE_SQL["ml_learning_curve"], "lc-empty-subset")
    rows = {r["train_pct"]: r for r in df.collect()}
    assert rows[25]["n_train"] == 0 and rows[25]["n_eval"] == 0
    assert rows[25]["n_correct"] == 0 and rows[25]["acc_e6"] == 0
    assert rows[100]["n_train"] > 0 and rows[100]["n_eval"] > 0
