"""The benchmark workloads, driven through the package's public API.

Each workload has a warm-up pass (billed to `setup_s`), measured passes
and output checks that run outside every timer. A pass returns one
record per op; the runner turns those into metrics. After every op the
workload takes a full-GC reading of the driver JVM's live heap, outside
the op's time and CPU. Layer spans are recorded around the calls made
from here and, for calls the program makes internally, by wrapping the
module attribute the program looks up at call time.
"""

from __future__ import annotations

import gc
import os
import time
from contextlib import contextmanager

import numpy as np

import procfs

from bench import HEADLINE_V2
from hadoop_digit_recognition_spark.all_queries import ORACLE_SQL, SPARK_QUERIES
from hadoop_digit_recognition_spark.operators import dedup
from hadoop_digit_recognition_spark.rbm import cd1, trainer
from hadoop_digit_recognition_spark.sources.text_format import read_examples_text
from hadoop_digit_recognition_spark.tables import TABLE_NAMES

# The frozen eight-query second headline takes about 36 s per cold pass
# on 4 cores, which does not fit the benchmark's per-run time budget, so
# the tail runs a fixed subset, in list order: the k-truss peel loop, the
# WordPiece trainer, the memoized multi-probe dedup and the PR-AUC eval.
TAIL = [n for n in HEADLINE_V2 if n in {
    "graph_ktruss", "text_wordpiece_train",
    "dedup_semdedup_multiprobe_capped", "ml_pr_auc"}]

DBN_LAYERS = [784, 500, 500]
DBN_EPOCHS = 1
DBN_EXAMPLES = 1000


class Tracer:
    """Spans kept in memory: name, parent index, wall start and end,
    plus attributes. `span` always times its block; it stores the span
    only when tracing is on, so the untraced run pays two clock reads."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), **attrs}
        t0 = time.perf_counter()
        if self.enabled:
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if self.enabled:
                self._stack.pop()

    def wrap(self, module, attr: str, name: str, on_call) -> None:
        """Replace module.attr with a spanned version; `on_call(rec, args,
        kwargs, result)` may add attributes to the span."""
        inner = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                out = inner(*args, **kwargs)
                on_call(rec, args, kwargs, out)
            return out

        setattr(module, attr, wrapped)


def force(df) -> None:
    """Compute every column and keep nothing (the bench.py convention)."""
    df.write.format("noop").mode("overwrite").save()


def unpersist_all(spark) -> int:
    """Unpersist every RDD still persisted; returns how many there were."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = list(rdds.values())
    for rdd in left:
        rdd.unpersist(True)
    return len(left)


def storage_mb(spark) -> float:
    """Storage memory the block manager holds: persisted blocks and
    broadcast pieces (local mode has one block manager)."""
    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    return mm.storageMemoryUsed() / 1e6


class Collected:
    """An already-collected result in the shape the oracle harness reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class Workload:
    """What both workloads share: the tally of ops and checks outside the
    measured passes (`attempted`, `failed`), the time of checks run inside
    the warm-up (`check_s`, left out of `setup_s`), and the live-heap
    probe with what it cost (`probe_s`, `probe_cpu`)."""

    def __init__(self, spark, tracer: Tracer):
        self.spark, self.tracer = spark, tracer
        self.failed: list[str] = []
        self.attempted = 0
        self.check_s = 0.0
        self.heap_mb = 0.0
        self.probe_s = self.probe_cpu = 0.0

    def probe_heap(self) -> None:
        """Collect garbage, then keep the largest live heap of the driver
        JVM seen so far. In local mode that heap holds the executors'
        storage memory too: persisted blocks, broadcasts, shuffle buffers."""
        t0, cpu0 = time.perf_counter(), procfs.cpu_seconds()
        gc.collect()  # drops dead py4j proxies, which pin their JVM objects
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_mb = max(self.heap_mb, heap.getHeapMemoryUsage().getUsed() / 1e6)
        self.probe_cpu += procfs.cpu_seconds() - cpu0
        self.probe_s += time.perf_counter() - t0

    def heap_committed_mb(self) -> float:
        heap = self.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getMemoryMXBean()
        return heap.getHeapMemoryUsage().getCommitted() / 1e6

    def unmeasured_pass(self) -> None:
        """Run a pass whose times are not used; its ops still count."""
        q = self.run_pass()
        self.attempted += len(q["ops"])
        self.failed += [r["error"] for r in q["ops"] if "error" in r]

    def settle(self) -> None:
        """Untimed work between setup and the measured passes."""


class IterativeTail(Workload):
    """Registry ops, each started from zero persisted state and billed as
    build (the queries() call, where these ops do most of their work)
    plus noop force.

    The warm-up pass runs every op once, collects its result and compares
    it with the op's DuckDB oracle over the same generated parquet; the
    comparison is excluded from `setup_s` (`check_s`). Checking there
    rather than in an extra pass after the measured ones keeps a run
    inside the benchmark's time budget. The measured passes force each
    result into a noop sink and are not compared."""

    ops = TAIL

    def __init__(self, spark, sf_dir: str, tracer: Tracer):
        super().__init__(spark, tracer)
        self.sf_dir = sf_dir
        if tracer.enabled:
            inner = dedup.memo_register

            def memo_register(spark_, key, make):
                built = []

                def make_():
                    built.append(1)
                    return make()
                with tracer.span("cache.memo_register", key=key) as rec:
                    out = inner(spark_, key, make_)
                rec["hit"] = not built
                return out
            dedup.memo_register = memo_register

    def reset(self) -> tuple[int, float]:
        """Start an op from zero persisted state; returns how many RDDs
        the program's own eviction left behind, and the time taken."""
        with self.tracer.span("cache.clear") as rec:
            dedup.clear_signature_cache(self.spark)
            self.spark.catalog.clearCache()
            leaked = unpersist_all(self.spark)
        return leaked, rec["dur"]

    def memo_size(self) -> int:
        """Entries in this session's memo cache (the dedup module's store,
        which clear_signature_cache empties)."""
        return len(dedup._SIG_CACHE.get(self.spark) or {})

    def run_op(self, name: str) -> dict:
        rec = {"op": name}
        rec["leaked"], rec["clear_s"] = self.reset()
        before = self.memo_size() if self.tracer.enabled else 0
        try:
            with self.tracer.span("op", op=name) as op:
                with self.tracer.span("registry.build", op=name) as b:
                    df = SPARK_QUERIES[name](self.spark, self.sf_dir)
                with self.tracer.span("spark.force", op=name) as f:
                    force(df)
        except Exception as exc:  # a failing op is counted, never dropped
            rec["error"] = f"{name}: {exc!r}"[:300]
            return rec
        rec.update(dur=op["dur"], start=op["start"], end=op["end"],
                   build=(b["start"], b["end"]), exec=(f["start"], f["end"]))
        if self.tracer.enabled:
            rec["memo_builds"] = max(self.memo_size() - before, 0)
            rec["storage_mb"] = storage_mb(self.spark)
        self.probe_heap()  # before any eviction: what the op still holds
        return rec

    def run_pass(self) -> dict:
        """One cold pass; `leaked` counts what the program's own eviction
        left persisted after each op (the first op's reset clears what
        came before the pass)."""
        ops = [self.run_op(n) for n in self.ops]
        leaked = sum(r["leaked"] for r in ops[1:]) + self.reset()[0]
        return {"ops": ops, "leaked": leaked}

    def warm_up(self) -> None:
        from tests.oracle_harness import compare
        duck = duckdb_views(self.sf_dir)
        for name in self.ops:
            self.attempted += 1
            try:
                self.reset()
                with self.tracer.span("warmup.op", op=name):
                    pdf = SPARK_QUERIES[name](self.spark, self.sf_dir).toPandas()
                t0 = time.perf_counter()
                try:
                    compare(Collected(pdf), duck, ORACLE_SQL[name], name)
                finally:
                    self.check_s += time.perf_counter() - t0
            except Exception as exc:  # any failure is a failed op
                self.failed.append(f"{name}: {exc!r}"[:300])
        duck.close()

    def settle(self) -> None:
        # The noop passes right after the collecting check pass still run
        # 20-25% slower and burn JIT-compiler CPU, so one runs untimed.
        self.unmeasured_pass()

    def check(self) -> list[str]:
        return self.failed


class DBNPretrain(Workload):
    """Greedy layer-wise sampled CD-1 over the reference text format,
    then inference over every example into a noop sink.

    `ref_path` keeps a fingerprint of the final weights for this seed, so
    a later run of the same seed in the same checkout is compared with it."""

    def __init__(self, spark, examples_dir: str, pixels: np.ndarray,
                 tracer: Tracer, ref_path: str):
        super().__init__(spark, tracer)
        self.dir, self.pixels, self.ref_path = examples_dir, pixels, ref_path
        self.epochs: list[dict] = []
        self.first_epoch = None
        self.weights: list[list[np.ndarray]] = []

        def on_epoch(rec, args, kwargs, out):
            W = args[2]
            rec["broadcast_mb"] = W.nbytes / 1e6
            self.epochs.append(rec)
            if self.first_epoch is None:
                self.first_epoch = (W.copy(), out.copy(), dict(kwargs))

        def on_fprop(rec, args, kwargs, out):
            rec["broadcast_mb"] = args[2].nbytes / 1e6

        # DBN.fit looks both names up in the trainer module at call time.
        tracer.wrap(trainer, "cd1_gradient_collect", "rbm.epoch", on_epoch)
        if tracer.enabled:
            tracer.wrap(trainer, "forward_prop_df", "rbm.fprop_plan", on_fprop)

    def read(self):
        with self.tracer.span("text_format.read_examples_text"):
            return read_examples_text(self.spark, self.dir, DBN_LAYERS[0],
                                      keyed=True)

    def warm_up(self) -> None:
        # One pass, so Python workers, Arrow channels and codegen are hot;
        # its weights stay as the reference the measured passes must match.
        self.unmeasured_pass()
        self.epochs.clear()
        self.first_epoch = None

    def run_pass(self) -> dict:
        df = self.read()
        first = len(self.epochs)
        try:
            with self.tracer.span("op", op="dbn_fit") as fit:
                dbn = trainer.DBN(DBN_LAYERS, max_epoch=DBN_EPOCHS, sampled=True,
                                  id_col="example_id").fit(df, "v")
            fit_storage = storage_mb(self.spark) if self.tracer.enabled else 0.0
            self.probe_heap()
            with self.tracer.span("op", op="dbn_transform") as tr:
                force(dbn.transform(df, "v"))
        except Exception as exc:  # a failing op is counted, never dropped
            return {"ops": [{"op": "dbn_fit", "error": f"dbn: {exc!r}"[:300]}],
                    "leaked": unpersist_all(self.spark)}
        self.weights.append(dbn.weights)
        self.model = dbn
        ops = [{"op": "dbn_fit", "dur": fit["dur"], "start": fit["start"],
                "end": fit["end"], "epochs": self.epochs[first:]},
               {"op": "dbn_transform", "dur": tr["dur"], "start": tr["start"],
                "end": tr["end"]}]
        if self.tracer.enabled:
            ops[0]["storage_mb"] = fit_storage
            ops[1]["storage_mb"] = storage_mb(self.spark)
        self.probe_heap()
        # DBN.fit leaves its between-layer activations persisted; start
        # every pass from zero persisted state and count the leftovers.
        return {"ops": ops, "leaked": unpersist_all(self.spark)}

    def check(self) -> list[str]:
        failed = self.failed
        self.attempted += 4
        try:
            self._check_first_epoch()
        except Exception as exc:
            failed.append(f"dbn_fit first epoch: {exc!r}"[:300])
        try:
            ref = self.weights[0]
            for ws in self.weights[1:]:
                for a, b in zip(ref, ws):
                    if not np.allclose(a, b, rtol=0, atol=1e-9):
                        raise AssertionError(
                            f"weights differ by {np.abs(a - b).max():.3g}")
        except Exception as exc:
            failed.append(f"dbn_fit weights across passes: {exc!r}"[:300])
        try:
            self._check_against_earlier_run()
        except Exception as exc:
            failed.append(f"dbn_fit weights across runs: {exc!r}"[:300])
        try:
            self._check_transform()
        except Exception as exc:
            failed.append(f"dbn_transform: {exc!r}"[:300])
        return failed

    def _check_first_epoch(self) -> None:
        """Layer 1, epoch 0 against the NumPy golden model of sampled CD-1
        with the same content-hashed uniforms."""
        W0, delta, kw = self.first_epoch
        ids = np.arange(len(self.pixels))
        V = self.pixels.astype(np.float64) / 255.0
        U = cd1.det_uniforms(ids, W0.shape[1], epoch=0)
        want = kw.get("epsilon", 0.1) * cd1.numpy_cd1_sampled(V, W0, U) / len(V)
        if not np.allclose(delta, want, rtol=1e-9, atol=1e-12):
            raise AssertionError(
                f"max |delta - golden| = {np.abs(delta - want).max():.3g}")

    def _check_against_earlier_run(self) -> None:
        """Row and column sums of every final weight matrix must agree to
        1e-9 with those of an earlier run of this seed, if there was one."""
        sums = {f"{k}{i}": W.sum(axis=a) for i, W in enumerate(self.weights[-1])
                for k, a in (("rows", 1), ("cols", 0))}
        if not os.path.exists(self.ref_path):
            os.makedirs(os.path.dirname(self.ref_path), exist_ok=True)
            np.savez(self.ref_path, **sums)
            return
        with np.load(self.ref_path) as ref:
            if sorted(ref.files) != sorted(sums):
                raise AssertionError("layer shapes differ from the earlier run")
            err = max(np.abs(ref[k] - v).max() for k, v in sums.items())
        if err > 1e-9:
            raise AssertionError(f"weight sums differ by {err:.3g}")

    def _check_transform(self) -> None:
        got = (self.model.transform(self.read(), "v")
               .select("example_id", "features").toPandas()
               .sort_values("example_id"))
        if list(got["example_id"]) != list(range(len(self.pixels))):
            raise AssertionError("transform lost or duplicated examples")
        H = self.pixels.astype(np.float64) / 255.0
        for W in self.model.weights:
            H = 1.0 / (1.0 + np.exp(-(H @ W)))
        err = np.abs(np.vstack(got["features"].to_numpy()) - H).max()
        if err > 1e-9:
            raise AssertionError(f"features differ by {err:.3g}")


def duckdb_views(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
