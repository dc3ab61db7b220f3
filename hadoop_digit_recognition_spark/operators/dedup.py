"""Deduplication operators for LLM training-data pipelines (north-star
requirement; absent in the reference — SURVEY.md §2.5 last row).

Seven families, all deterministic and engine-portable:

- exact        : content-hash groupBy (md5), keep lowest doc_id
- n-gram Jaccard: exact all-pairs similarity over distinct word 3-shingles
- MinHash + LSH: md5-derived minhash signatures -> banded buckets ->
                 candidate pairs -> exact-Jaccard verification
- SimHash      : 32-bit sign-aggregated fingerprint; all-pairs Hamming
                 ground truth + pigeonhole-lossless banded equi-join
- embedding cosine: near-duplicate pairs in vector space
- edit distance: Levenshtein verification over LSH candidates
- cluster resolution: connected components (min-label propagation) ->
                 one canonical doc per duplicate cluster

Every hash is the first 8 hex chars of md5 parsed as an integer
(functions.vector.det_hash64) so the DuckDB oracle reproduces signatures
bit-for-bit — Spark's native hash()/xxhash64 would not.

Scale shape (the part that must survive 100 TB): signature computation is
a NARROW per-document pass — shingle array -> one md5 per shingle -> K
affine-mixed minhashes (`min((a_k*h + c_k) mod p)`) -> B band keys, all
inside whole-stage codegen with zero shuffles. The only shuffles in the
LSH path are the candidate equi-join on (band, key) and a distinct over
candidate pairs; verification joins the (small) candidate set back to the
per-doc shingle arrays and intersects arrays in-place. The exact
all-pairs variant (dedup_ngram_jaccard) exists as ground truth at test SF
— its shingle self-join is the quadratic thing LSH replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import cosine_col, det_hash64
from ..registry import query
from ..tables import load, load_parallel

NUM_HASHES = 8       # minhash signature length
BAND_ROWS = 2        # rows per LSH band -> 4 bands
JACCARD_THRESHOLD = 0.8

# Universal-hash family over the 32-bit md5 base hash:
#   h_k(s) = (A[k] * base(s) + C[k]) mod P,  base(s) = md5(s)[:8] as int.
# One md5 per shingle total (not per hash function); A[k] < 2^21 keeps
# A*h + C well under 2^63 for exact integer parity with the oracle.
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
MINHASH_A = [976369, 1984061, 511387, 900001, 161803, 271829, 314159, 577215]
MINHASH_C = [8191, 131071, 524287, 670041, 999983, 101, 65537, 20011]

# ---------------------------------------------------------------------------
# Shared shingle derivations
# ---------------------------------------------------------------------------

# DuckDB: distinct word 3-shingles per doc (positional self-join — DuckDB
# 1.0 cannot lateral-unnest generate_series over a column).
_SHINGLES_SQL = """
t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word FROM t0),
sh AS (SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS s
       FROM tok a
       JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


def shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<string>, n): DISTINCT word 3-shingles per doc as
    an in-row array — the narrow (shuffle-free) form every minhash step
    derives from. Docs shorter than 3 words have no shingles and are
    excluded, matching the exploded relational form."""
    # Materialize w -> grams -> sh at projection boundaries: codegen
    # reuses a projected attribute, but INLINE reuse of an expression
    # re-executes it — one projection computing split() four times and
    # the 3-gram transform twice is ~10x slower than this chain.
    docs = load_parallel(spark, sf_dir, "documents")
    return (docs
            .select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= 3)
            .select("doc_id", F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.size("w") - 3),
                lambda i: F.concat_ws(" ", F.col("w")[i], F.col("w")[i + 1],
                                      F.col("w")[i + 2]))).alias("sh"))
            # no n>0 filter: size(w)>=3 already guarantees >=1 shingle, and
            # a filter on a derived column would be PUSHED DOWN past the
            # projection, re-inlining (and re-executing) the whole shingle
            # expression inside the predicate — a silent 10x.
            .select("doc_id", "sh", F.size("sh").alias("n")))


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s): exploded DISTINCT word 3-shingles (relational form,
    used by the exact all-pairs ground truth)."""
    return (shingle_arrays(spark, sf_dir)
            .select("doc_id", F.explode("sh").alias("s")))


# session -> {key: memoized entry}: the ONE session cache. Weak keys: when
# a session is stopped and garbage-collected its entries vanish with it,
# so a recycled CPython id() can never resurrect a DataFrame bound to a
# dead session.
import threading
import weakref

_SIG_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, object]]" = (
    weakref.WeakKeyDictionary())

# Per-(session, key) build locks: the overlapped-builder pools (guide
# §2.6 — tokenizer bake-off, release-chain rungs) run against this memo
# cache concurrently; an unsynchronized check-then-act lets two threads
# both miss the same key, build twice, and leak the loser's persisted
# frame. Key-granular locks keep DISJOINT builders fully overlapped while
# single-flighting same-key misses. _MEMO_LOCKS_GUARD guards both dicts.
_MEMO_LOCKS: "weakref.WeakKeyDictionary[SparkSession, dict[str, threading.Lock]]" = (
    weakref.WeakKeyDictionary())
_MEMO_LOCKS_GUARD = threading.Lock()


def clear_signature_cache(spark: SparkSession) -> int:
    """Release everything this session persisted: its memo entries and
    build locks, the catalog cache, and every RDD still persisted — bare
    persist()s and localCheckpoints that never entered the memo cache
    included. This is the one release call, so cold bench reps start
    from zero persisted state. Returns how many memo entries were dropped.

    A build still in flight finishes into the session's fresh dict, where
    the next clear releases it. After a clear, no frame built before it
    may be re-executed: unpersisting a localCheckpoint cuts its lineage
    for good, so such a frame fails instead of recomputing. Call the
    query again instead."""
    with _MEMO_LOCKS_GUARD:
        per = _SIG_CACHE.pop(spark, None) or {}
        _MEMO_LOCKS.pop(spark, None)
    try:
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
    except Exception:
        pass  # session already stopped — nothing left to unpersist
    return len(per)


def memo_persist(spark: SparkSession, key: str, build,
                 eager: bool = False) -> DataFrame:
    """Register a persisted frame in the session memo cache (the
    minhash_sig_arrays convention, round-11 generalization): `build` is
    a zero-arg callable returning the DataFrame, evaluated only on
    miss. Used at COMPOSITION BOUNDARIES where a model-sized frame
    (kNN edge list, quantizer probe table, qualifying-pair set, LOF
    closure levels) is referenced several times inside one plan —
    composed lazily, Spark re-plans and re-executes the whole upstream
    subtree per reference (sim_lof_outliers carried 160 parquet scans
    before round 11's sweep). Registered entries are evicted by
    clear_signature_cache, which the bench calls before every cold
    tail/v2 repetition. eager=True materializes the frame inside the
    build (for overlapped pool builders whose point is doing the work
    NOW)."""
    def make() -> DataFrame:
        df = build().persist()
        if eager:
            df.count()
        return df

    return memo_register(spark, key, make)


def memo_register(spark: SparkSession, key: str, make):
    """Single-flight get-or-build into the session memo cache. make()
    returns the entry to store AS-IS — the caller controls the backing
    (persist for memo_persist, localCheckpoint for the k-core peel, a
    tuple of frames for the SemDeDup probe). Lock-free fast path on hit;
    concurrent misses on one key build once under the per-key lock."""
    hit = _SIG_CACHE.get(spark, {}).get(key)
    if hit is not None:
        return hit
    with _MEMO_LOCKS_GUARD:
        lock = _MEMO_LOCKS.setdefault(spark, {}).setdefault(key, threading.Lock())
    with lock:
        hit = _SIG_CACHE.get(spark, {}).get(key)
        if hit is None:
            hit = make()
            with _MEMO_LOCKS_GUARD:
                _SIG_CACHE.setdefault(spark, {})[key] = hit
        return hit


def minhash_sig_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig: array<bigint>[NUM_HASHES], sh, n): full minhash
    signature computed in ONE narrow pass — md5 each shingle once, then
    NUM_HASHES affine mixes + array_min, all whole-stage codegen. No
    explode, no crossJoin, no shuffle: per-doc cost is O(shingles x K)
    arithmetic on top of O(shingles) md5.

    Memoized + persisted per (session, sf_dir): five registered queries
    (signatures, LSH dedup, incremental dedup, cluster resolution, the
    corpus pipeline) derive from this table, and at 100 TB the signature
    store is exactly the thing a pipeline computes once and shares —
    billing every consumer for a fresh signature pass is the anti-pattern."""
    def affine(a: int, c: int):
        return lambda h: (F.lit(a) * h + F.lit(c)) % F.lit(MINHASH_P)

    def build() -> DataFrame:
        base = F.transform(F.col("sh"), lambda s: det_hash64(s))
        sig = F.array(*[
            F.array_min(F.transform(F.col("hs"), affine(a, c)))
            for a, c in zip(MINHASH_A, MINHASH_C)
        ])
        return (shingle_arrays(spark, sf_dir)
                .withColumn("hs", base)
                .withColumn("sig", sig)
                .drop("hs"))

    return memo_persist(spark, sf_dir, build)


_MINHASH_PARAMS_SQL = "params(b, a, c) AS (VALUES " + ", ".join(
    f"({b}, {a}, {c})"
    for b, (a, c) in enumerate(zip(MINHASH_A, MINHASH_C))) + ")"

_MINHASH_SQL = _SHINGLES_SQL + f""",
{_MINHASH_PARAMS_SQL},
hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM sh),
mh AS (
  SELECT doc_id, p.b, min((p.a * h + p.c) % {MINHASH_P}) AS mh
  FROM hs CROSS JOIN params p
  GROUP BY doc_id, p.b
)
"""

# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


@query("dedup_exact", oracle="""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM u GROUP BY md5(text)
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep lowest id. The corpus has no exact
    duplicates, so the query plants them (a shifted-id copy of every 5th
    doc) to make the n_copies=2 path observable. At scale this is one
    shuffle on a 16-byte key — the cheapest dedup there is."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = (docs.filter(F.col("doc_id") % 5 == 0)
           .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return (docs.unionByName(dup)
            .groupBy(F.md5("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


@query("dedup_ngram_jaccard", oracle=f"""
WITH {_SHINGLES_SQL},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (x.n + y.n - inter), 6) AS jaccard
FROM pairs
JOIN sz x ON x.doc_id = doc_a
JOIN sz y ON y.doc_id = doc_b
WHERE inter * 1.0 / (x.n + y.n - inter) >= {JACCARD_THRESHOLD}
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup ground truth: all pairs sharing >=1 shingle, true
    Jaccard over distinct 3-shingle sets, threshold 0.8. The shingle
    self-join is quadratic in bucket size — correct at test SF, replaced
    by MinHash LSH (below) at 100 TB."""
    sh = shingles(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    jac = F.col("inter") / (F.col("x.n") + F.col("y.n") - F.col("inter"))
    return (pairs
            .join(sz.alias("x"), F.col("x.doc_id") == F.col("doc_a"))
            .join(sz.alias("y"), F.col("y.doc_id") == F.col("doc_b"))
            .filter(jac >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


@query("minhash_signatures", oracle=f"""
WITH {_MINHASH_SQL}
SELECT doc_id, b, mh FROM mh
""")
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (doc_id, hash_index, minhash) — the
    signature step of MinHash LSH, reproducible across engines. The
    exploded shape exists only for the oracle; the LSH path keeps
    signatures as in-row arrays and never shuffles them."""
    sig = minhash_sig_arrays(spark, sf_dir)
    return (sig.select("doc_id", F.posexplode("sig").alias("b", "mh"))
            .select("doc_id", F.col("b").cast("bigint").alias("b"), "mh"))


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct banded-LSH candidate pairs from a
    signature table: band keys derive narrowly from the in-row signature
    array, candidates come from the (band, key) self-equi-join — the
    only pair-generating step, bounded by band-bucket sizes."""
    n_bands = NUM_HASHES // BAND_ROWS
    band_keys = F.array(*[
        F.array_join(F.transform(
            F.slice("sig", g * BAND_ROWS + 1, BAND_ROWS),
            lambda m: m.cast("string")), "-")
        for g in range(n_bands)
    ])
    bands = (sig.select("doc_id", F.posexplode(band_keys).alias("g", "key"))
             .select("doc_id", F.col("g").cast("bigint").alias("g"), "key"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


@query("dedup_minhash_lsh", oracle=f"""
WITH {_MINHASH_SQL},
bands AS (
  SELECT doc_id, b // {BAND_ROWS} AS g,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY b) AS key
  FROM mh GROUP BY doc_id, b // {BAND_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.g = b.g AND a.key = b.key
                            AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = doc_a
JOIN sz y ON y.doc_id = doc_b
WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_THRESHOLD}
""")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH dedup: band signatures ({NUM_HASHES} hashes, bands
    of {BAND_ROWS}) -> equi-join on (band, key) for candidates -> exact
    Jaccard verification via array_intersect on the candidates only.

    Plan shape at scale: signatures and band keys derive narrowly (no
    shuffle); the band self-equi-join shuffles B small rows per doc; the
    tiny candidate set broadcasts back onto the shingle-array table; the
    all-pairs explosion is confined to LSH buckets."""
    sig = minhash_sig_arrays(spark, sf_dir)  # memoized + persisted
    cand = lsh_candidate_pairs(sig)
    arrs = sig.select("doc_id", "sh", "n")
    pairs = (cand
             .join(arrs.select(F.col("doc_id").alias("doc_a"),
                               F.col("sh").alias("sha"),
                               F.col("n").alias("na")), "doc_a")
             .join(arrs.select(F.col("doc_id").alias("doc_b"),
                               F.col("sh").alias("shb"),
                               F.col("n").alias("nb")), "doc_b"))
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (pairs.filter(jac >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


# Stop-bucket cap for the width-capped LSH variant: a (band, key)
# bucket wider than this contributes NO candidates from that band.
LSH_BUCKET_CAP = 16


@query("dedup_minhash_lsh_capped", oracle=f"""
WITH {_MINHASH_SQL},
bands AS (
  SELECT doc_id, b // {BAND_ROWS} AS g,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY b) AS key
  FROM mh GROUP BY doc_id, b // {BAND_ROWS}
),
bw AS (
  SELECT doc_id, g, key,
         count(*) OVER (PARTITION BY g, key) AS wdt
  FROM bands
),
bc AS (SELECT doc_id, g, key FROM bw WHERE wdt <= {LSH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bc a JOIN bc b ON a.g = b.g AND a.key = b.key
                      AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 6) AS jaccard
FROM inter
JOIN sz x ON x.doc_id = doc_a
JOIN sz y ON y.doc_id = doc_b
WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_THRESHOLD}
""")
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Width-capped MinHash-LSH: identical to `dedup_minhash_lsh` except
    (band, key) buckets wider than {LSH_BUCKET_CAP} docs are STOP
    BUCKETS — they contribute no candidates from that band (docs can
    still pair through their other {NUM_HASHES // BAND_ROWS - 1} bands).
    This is the production guard the sf10 rehearsal made necessary:
    candidate volume there was 3C on top of the 8N band exchange
    (C = 5.0M at N = 500k), dominated by one 800-doc identical-text
    mega-clique whose single bucket alone yields C(800,2) = 319,600
    verified pairs — Σ|bucket|² is the real cost term and a mega-bucket
    is its quadratic spike. The cap bounds every bucket's join fan-out
    at {LSH_BUCKET_CAP}², exactly the stop-node pruning of
    common-neighbor systems (graph_jaccard_link_prediction's documented
    knob, here enforced).

    What the cap can lose: a doc pair colliding ONLY in over-cap
    buckets. IDENTICAL-text docs collide in all bands deterministically,
    so mega-cliques of exact duplicates are fully recovered by running
    EXACT hash dedup first (pipeline_llm_corpus's ordering) —
    tests/test_llm_ops_oracle.py::test_minhash_cap_composes_with_exact
    proves that composition covers every uncapped pair on a forced
    mega-clique fixture. For a GENUINE near-dup pair (similar, not
    identical) the guarantee is probabilistic, not universal: such a
    pair is lost only if every one of its colliding bands lands in an
    over-cap bucket, which requires the pair to share all its collision
    bands with a mega-clique — possible, so the cap trades a bounded
    recall loss in mega-clique neighborhoods for the Σ|bucket|² bound
    (the sf10 rehearsal's measured 8x wall / 3x shuffle-row win). The
    width window shuffles on the same (g, key) the candidate join
    needs — one extra pass over the band table, no new shuffle key."""
    sig = minhash_sig_arrays(spark, sf_dir)  # memoized + persisted
    n_bands = NUM_HASHES // BAND_ROWS
    band_keys = F.array(*[
        F.array_join(F.transform(
            F.slice("sig", g * BAND_ROWS + 1, BAND_ROWS),
            lambda m: m.cast("string")), "-")
        for g in range(n_bands)
    ])
    from pyspark.sql import Window as W
    bands = (sig.select("doc_id", F.posexplode(band_keys).alias("g", "key"))
             .withColumn("wdt", F.count(F.lit(1)).over(
                 W.partitionBy("g", "key")))
             .filter(F.col("wdt") <= LSH_BUCKET_CAP)
             .select("doc_id", "g", "key"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    arrs = sig.select("doc_id", "sh", "n")
    pairs = (cand
             .join(arrs.select(F.col("doc_id").alias("doc_a"),
                               F.col("sh").alias("sha"),
                               F.col("n").alias("na")), "doc_a")
             .join(arrs.select(F.col("doc_id").alias("doc_b"),
                               F.col("sh").alias("shb"),
                               F.col("n").alias("nb")), "doc_b"))
    inter = F.size(F.array_intersect("sha", "shb"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (pairs.filter(jac >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


_SIMHASH_SQL = """
t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS word FROM t0),
th AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, p.b,
         sum(CASE WHEN CAST(floor(h / CAST(pow(2, p.b) AS BIGINT)) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN range(32) p(b)
  GROUP BY doc_id, p.b
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""


@query("simhash_signatures", oracle=f"""
WITH {_SIMHASH_SQL}
SELECT doc_id, simhash FROM sig
""")
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: per token hash, per bit +1/-1 vote weighted by
    occurrence, sign -> bit. Near-identical docs land within a small
    Hamming ball."""
    return _simhash_df(spark, sf_dir)


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow per-doc simhash: token-hash array once, then 32 in-row
    ±1-vote folds (one per bit) and a sign combine — zero shuffles, same
    values as the oracle's explode+groupBy formulation (integer votes are
    order-independent). Same plan family as minhash_sig_arrays."""
    docs = load_parallel(spark, sf_dir, "documents")
    th = (docs
          .select("doc_id", F.split("text", " ").alias("w"))
          .select("doc_id",
                  F.transform("w", lambda t: det_hash64(t)).alias("tv")))

    def vote(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    bits = th.select("doc_id", *[
        F.aggregate("tv", F.lit(0), vote(b)).alias(f"s{b}") for b in range(32)
    ])
    simhash = None
    for b in range(32):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        simhash = term if simhash is None else simhash + term
    return bits.select("doc_id", simhash.alias("simhash"))


@query("simhash_dup_pairs", oracle=f"""
WITH {_SIMHASH_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
""")
def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance 6 of the 32-bit SimHash.
    (All-pairs at test SF; at scale you'd band the simhash into chunks
    and equi-join, same trick as MinHash LSH.)"""
    sig = _simhash_df(spark, sf_dir)
    a = sig.alias("a")
    b = sig.alias("b")
    hd = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .filter(hd <= 6)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    hd.cast("bigint").alias("hamming")))


@query("dedup_embedding_cosine", oracle="""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
e AS (SELECT * FROM e0
      WHERE list_aggregate(list_transform(emb, x -> x * x), 'sum') > 0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
""")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (cosine >= 0.4 — this corpus has no
    planted vector dups; the threshold is set to exercise the operator).
    All-pairs at test SF; the ANN path for scale is in similarity.py.
    Zero-norm vectors drop out identically on both sides before the
    pairwise compare (cosine undefined; ANSI division would raise)."""
    from ..functions.vector import l2norm_col

    emb = (load(spark, sf_dir, "embeddings")
           .filter(l2norm_col(F.col("embedding")) > 0))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = cosine_col(F.col("a.embedding"), F.col("b.embedding"))
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .filter(cos >= 0.4)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.round(cos, 6).alias("cos")))


_LSH_PAIRS_SQL = _MINHASH_SQL + f""",
bands AS (
  SELECT doc_id, b // {BAND_ROWS} AS g,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY b) AS key
  FROM mh GROUP BY doc_id, b // {BAND_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.g = b.g AND a.key = b.key
                            AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz x ON x.doc_id = doc_a
  JOIN sz y ON y.doc_id = doc_b
  WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_THRESHOLD}
)
"""


def min_label_cc(spark: SparkSession, edges: DataFrame,
                 max_rounds: int = 20) -> tuple[DataFrame, int]:
    """Connected-component labels (lbl = component min node id) over a
    SYMMETRIC edge list with columns (u, v), in O(log diameter) rounds:
    min-label propagation + a pointer-doubling shortcut per round (the
    hash-to-min idea, Rastogi et al. 2012). Returns (labels, rounds):
    labels has one (u, lbl) row per node that appears in the edge list;
    rounds is the number of loop iterations actually run (the last one
    is the no-change certificate). The caller owns edges' persistence;
    the returned labels DataFrame is materialized (localCheckpoint)."""
    # seed with round 1 folded in: lbl0(u) = min(u, min neighbor) — one
    # groupBy instead of a distinct + a full propagation round
    #
    # tiny-state rounds run at the caller's shuffle width; AQE coalesces
    # each round's shuffles down to the KBs of labels they carry
    #
    # localCheckpoint, not persist: each round references the previous
    # labels FOUR times (twice building prop, twice in the shortcut
    # self-join), so an un-truncated logical plan grows 4^rounds —
    # fine for 3-round near-cliques, fatal for the ~10-round path
    # graphs doubling exists for (Catalyst re-analyzes the whole
    # tree; the 512-node path test OOM'd generating the plan string).
    # Checkpointing pins each round to a flat LogicalRDD; dropped
    # references are unpersisted by Spark's ContextCleaner.
    # eager=False: the convergence agg right below materializes the
    # checkpoint inside its own job — one driver action per round
    # instead of two (checkpoint job + sum job)
    labels = (edges.groupBy("u").agg(F.min("v").alias("mv"))
              .select("u", F.least("u", "mv").alias("lbl"))
              .localCheckpoint(eager=False))
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    rounds = 0
    for _ in range(max_rounds):  # doubling covers diameter ~2^max
        rounds += 1
        neigh = (edges.join(labels.withColumnRenamed("u", "v")
                            .withColumnRenamed("lbl", "nlbl"), "v")
                 .groupBy("u").agg(F.min("nlbl").alias("minn")))
        # checkpointed: the shortcut join consumes prop on BOTH sides;
        # without it the |E| propagation join would run twice per
        # round. A checkpoint rather than persist(): AQE coalesces its
        # partitions on every session, while a persisted frame keeps
        # the static shuffle width (200 per round on a default session)
        # wherever AQE may not change cached plans' partitioning.
        prop = (labels.join(neigh, "u", "left")
                .select("u",
                        F.least("lbl", F.coalesce("minn", "lbl"))
                        .alias("lbl")).localCheckpoint(eager=False))
        # pointer-doubling shortcut: lbl <- min(lbl, lbl(lbl)).
        # Every lbl value is itself a node id with a labels row
        # (symmetric edges put every node in the u column), so a
        # left join can only miss when lbl(u) = u already. Both
        # steps only ever install a smaller id from the same
        # component, so the fixpoint — every node holding its
        # component's min — is exactly the pure-propagation one.
        new_labels = (prop.join(prop.select(
                          F.col("u").alias("lbl"),
                          F.col("lbl").alias("lbl2")),
                          "lbl", "left")
                      .select("u",
                              F.least("lbl", F.coalesce("lbl2", "lbl"))
                              .alias("lbl"))
                      .localCheckpoint(eager=False))
        # labels only decrease, so fixpoint <=> sum unchanged: one
        # narrow agg per round instead of a labels join + count —
        # and with the non-eager checkpoint it is the round's ONLY
        # action (it materializes the checkpoint as it runs)
        cur_sum = new_labels.agg(F.sum("lbl")).first()[0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels, rounds


@query("dedup_connected_components", oracle=f"""
WITH RECURSIVE {_LSH_PAIRS_SQL.lstrip()},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id,
       least(u, min(v)) AS canonical_id
FROM reach GROUP BY u
""")
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: near-dup pairs only name edges; the
    deliverable of a dedup pipeline is one canonical document per
    connected component (keep lowest doc_id, drop the rest). Min-label
    propagation over the LSH pair graph ACCELERATED with a
    pointer-doubling shortcut each round (the hash-to-min idea, Rastogi
    et al. 2012 "Finding connected components in MapReduce in
    logarithmic rounds"): after every node takes the min of its own and
    its neighbors' labels, each label is replaced by ITS label's label
    (lbl <- lbl(lbl)), so the distance any min still has to travel
    halves per round — fixpoint in O(log diameter) rounds instead of
    O(diameter). Labels are always node ids (seeded lbl0(u) =
    min(u, min neighbor) <= u, and both steps only ever install a
    smaller id from the same component), so the label-of-label lookup
    is a plain self-equi-join and the fixpoint — every node holding its
    component's min id — is unchanged from the pure-propagation
    derivation (agreement-tested in tests/test_llm_ops_oracle.py). The
    same driver-side iterate-until-converged loop as the RBM trainer
    (C5) — Spark's replacement for the reference's per-epoch job
    resubmission. The oracle computes the identical components via a
    recursive CTE.

    Scale: each round is one |E| equi-join + min-agg (propagation) plus
    one |V|-sized label self-join (shortcut); rounds needed = log2 of
    the component diameter, which is what makes path-shaped dup chains
    (exact-dup ladders at sf10: diameter ~ cluster size) tractable —
    the r09 giant-component rehearsal measured the O(diameter) loop at
    116 s; this loop re-measures in seconds on the same fixture."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
             .unionByName(pairs.select(F.col("doc_b").alias("u"),
                                       F.col("doc_a").alias("v")))
             .distinct().persist())
    labels, _ = min_label_cc(spark, edges)
    edges.unpersist()  # labels is materialized (the convergence count ran)
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("lbl").alias("canonical_id"))


@query("dedup_fuzzy_levenshtein", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
t AS (SELECT doc_id, substr(text, 1, 64) AS pre FROM documents)
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS edit_dist
FROM pairs p
JOIN t a ON a.doc_id = p.doc_a
JOIN t b ON b.doc_id = p.doc_b
""")
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of the LSH candidates: levenshtein over
    64-char prefixes. The fuzzy-match third axis next to set-based
    (Jaccard) and vector-based (cosine) similarity; prefix-bounded
    because edit distance is O(len^2) — at scale you never run it on full
    documents, only on candidates a cheap filter already produced."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    pre = (load(spark, sf_dir, "documents")
           .select("doc_id", F.substring("text", 1, 64).alias("pre")))
    return (pairs
            .join(pre.select(F.col("doc_id").alias("doc_a"),
                             F.col("pre").alias("pa")), "doc_a")
            .join(pre.select(F.col("doc_id").alias("doc_b"),
                             F.col("pre").alias("pb")), "doc_b")
            .select("doc_a", "doc_b",
                    F.levenshtein("pa", "pb").cast("bigint")
                    .alias("edit_dist")))


@query("simhash_dup_pairs_banded", oracle=f"""
WITH {_SIMHASH_SQL.lstrip()},
bands AS (
  SELECT doc_id, simhash, b.g,
         CAST(floor(simhash / CAST(pow(2, b.g * 4) AS BIGINT)) AS BIGINT) % 16
           AS key
  FROM sig CROSS JOIN range(8) b(g)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b ON a.g = b.g AND a.key = b.key
                            AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 6
""")
def simhash_dup_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of simhash near-dup search: split the 32-bit
    signature into 8 bands of 4 bits; a pair within Hamming distance 6
    differs in at most 6 bands, so by pigeonhole at least one of the 8
    bands matches EXACTLY — the banded equi-join is lossless for d <= 6
    (oracle + test_llm_ops confirm it returns the identical pair set as
    the all-pairs form). Plan: narrow band derivation, one equi-join, one
    distinct; no cartesian anything."""
    sig = _simhash_df(spark, sf_dir)
    keys = F.array(*[
        F.shiftright("simhash", g * 4).bitwiseAND(F.lit(15)).alias(f"k{g}")
        for g in range(8)
    ])
    bands = (sig.select("doc_id", "simhash",
                        F.posexplode(keys).alias("g", "key")))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.simhash").alias("sa"),
                    F.col("b.simhash").alias("sb"))
            .distinct())
    hd = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (cand.filter(hd <= 6)
            .select("doc_a", "doc_b", hd.cast("bigint").alias("hamming")))


NEW_MOD = 10  # incremental split: doc_id % 10 >= 8 -> the incoming batch


@query("dedup_incremental", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
dir AS (
  SELECT doc_a AS x, doc_b AS n FROM pairs
  UNION ALL
  SELECT doc_b AS x, doc_a AS n FROM pairs
)
SELECT n AS doc_id, min(x) AS keep_id
FROM dir
WHERE n % {NEW_MOD} >= 8 AND (x % {NEW_MOD} < 8 OR x < n)
GROUP BY n
""")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup — the shape a 100 TB corpus actually
    runs day to day: the existing corpus's minhash signatures live in a
    materialized SIGNATURE STORE (staged parquet here, idempotent — at
    scale a table maintained by each ingest); an incoming batch (docs
    with doc_id % {NEW_MOD} >= 8, ~20%) computes ONLY its own signatures
    and band-joins against store + batch. Nothing is recomputed for the
    old corpus — per-ingest cost scales with the batch, not the corpus.

    Rejection rule (deterministic, order-free): incoming doc n is
    rejected if a verified match exists with any STORED doc, or with an
    earlier (smaller-id) doc of its own batch; keep_id = min such
    partner. The oracle derives the same from the full-corpus verified
    pair set."""
    import os
    import tempfile

    sig_all = minhash_sig_arrays(spark, sf_dir)
    is_new = (F.col("doc_id") % NEW_MOD) >= 8

    # --- signature store for the existing corpus (built once per dataset,
    # marker-idempotent; an ingest pipeline appends to it instead). Keyed
    # by a CONTENT FINGERPRINT of the dataset (absolute path + documents
    # file mtime/size), not the basename: a regenerated dataset at the
    # same path, or a same-named path in another checkout, gets a fresh
    # store instead of silently reusing a stale one. ---
    import hashlib

    doc_path = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(doc_path)
    fp = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:16]
    store_dir = os.path.join(tempfile.gettempdir(), "hdr_sigstore", fp)
    if not os.path.exists(os.path.join(store_dir, "_SUCCESS")):
        (sig_all.filter(~is_new)
         .write.mode("overwrite").parquet(store_dir))
    old = spark.read.parquet(store_dir)
    new = sig_all.filter(is_new).persist()

    n_bands = NUM_HASHES // BAND_ROWS
    band_keys = F.array(*[
        F.array_join(F.transform(
            F.slice("sig", g * BAND_ROWS + 1, BAND_ROWS),
            lambda m: m.cast("string")), "-")
        for g in range(n_bands)
    ])

    def bands_of(df):
        return (df.select("doc_id", F.posexplode(band_keys).alias("g", "key"))
                .select("doc_id", F.col("g").cast("bigint").alias("g"), "key"))

    bn = bands_of(new).alias("n")
    bx = bands_of(old.unionByName(new)).alias("x")
    cand = (bn.join(bx, (F.col("n.g") == F.col("x.g"))
                    & (F.col("n.key") == F.col("x.key"))
                    & (F.col("n.doc_id") != F.col("x.doc_id"))
                    & (((F.col("x.doc_id") % NEW_MOD) < 8)
                       | (F.col("x.doc_id") < F.col("n.doc_id"))))
            .select(F.col("n.doc_id").alias("n_id"),
                    F.col("x.doc_id").alias("x_id"))
            .distinct())
    arrs = sig_all.select("doc_id", "sh", "n")
    pairs = (cand
             .join(arrs.select(F.col("doc_id").alias("n_id"),
                               F.col("sh").alias("shn"),
                               F.col("n").alias("nn")), "n_id")
             .join(arrs.select(F.col("doc_id").alias("x_id"),
                               F.col("sh").alias("shx"),
                               F.col("n").alias("nx")), "x_id"))
    inter = F.size(F.array_intersect("shn", "shx"))
    jac = inter / (F.col("nn") + F.col("nx") - inter)
    return (pairs.filter(jac >= JACCARD_THRESHOLD)
            .groupBy(F.col("n_id").alias("doc_id"))
            .agg(F.min("x_id").alias("keep_id")))


from .similarity import EMB_BAND_BUCKETS_SQL as _EMB_BAND_SQL


@query("dedup_embedding_lsh", oracle=f"""
WITH {_EMB_BAND_SQL.strip()},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bkt = b.bkt
                      AND a.vec_id < b.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT c.vec_a, c.vec_b,
       round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
FROM cand c JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
""")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, SCALE path: BANDED multi-table sign-LSH
    (similarity.py's EMB_BAND_BUCKETS_SQL twin) turns the all-pairs
    cosine cross join (dedup_embedding_cosine, the ground-truth twin)
    into L self equi-joins on (band, bucket), with the exact cosine
    threshold applied only to the distinct candidate set.

    Sign-LSH collision probability is p = 1 - theta/pi per plane — only
    ~0.63 at the cos >= 0.4 near-dup threshold, so a single wide table
    keeps p^bits ~ 2.5% of true pairs. Banding runs the same S-curve as
    the MinHash family (dedup_lsh_band_tuning): L=4 tables of r=4 bits
    catch 1-(1-p^4)^4 ~ 50% of threshold pairs
    (measured 26/59 at sf0.01, 483/920 at sf0.1) while pruning the
    candidate space to sum over (band, bucket) of |bucket|^2. At scale
    r grows ~log n (the adaptive-planes posture, sim_knn_graph_adaptive)
    to pin band-bucket width, and L rises to hold the recall point —
    the knobs production ANN dedup actually turns. Candidates are
    DISTINCT'd id-only (narrow) before the two embedding fetch joins;
    every emitted pair is exact-verified (no false positives by
    construction)."""
    from .similarity import _band_bucket_df
    from ..functions.vector import dot_col, l2norm_col

    bb = _band_bucket_df(spark, sf_dir).select("vec_id", "band", "bkt")
    a = bb.select(F.col("vec_id").alias("vec_a"), "band", "bkt")
    b = bb.select(F.col("vec_id").alias("vec_b"), "band", "bkt")
    cand = (a.join(b, ["band", "bkt"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b").distinct())
    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm")))
    ea = emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    eb = emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    cos = dot_col(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .filter(cos >= 0.4)
            .select("vec_a", "vec_b", F.round(cos, 6).alias("cos")))


@query("dedup_lsh_band_tuning", oracle=f"""
WITH cfg AS (SELECT unnest([1, 2, 4, 8]) AS r),
grid AS (SELECT (g.i + 1) * 0.05 AS j FROM range(19) g(i))
SELECT CAST(r AS BIGINT) AS rows_per_band,
       CAST({NUM_HASHES} // r AS BIGINT) AS n_bands,
       round(j, 2) AS jaccard,
       round(1 - pow(1 - pow(j, r), {NUM_HASHES} // r), 6) AS p_candidate,
       r = {BAND_ROWS} AS is_registered_config
FROM cfg CROSS JOIN grid
""")
def dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve — the capacity-planning table behind the
    MinHash family's (bands, rows) choice: for every factorization
    r x b = NUM_HASHES, the probability a pair with Jaccard j becomes a
    candidate is 1 - (1 - j^r)^b (the standard MMDS banding analysis).
    The registered config (BAND_ROWS={BAND_ROWS}) is flagged so the
    curve documents WHY it was chosen: its S-curve midpoint
    (1/b)^(1/r) sits just under JACCARD_THRESHOLD={JACCARD_THRESHOLD},
    catching near-dups at high probability while keeping the banded
    shuffle volume (SCALE.md's 19 TB at 100 B docs) proportional to b.

    Pure closed-form math over a generated grid — no corpus scan; at
    any scale this is the planning query an operator runs BEFORE
    re-sharding a petabyte signature store under a new band layout."""
    cfg = spark.range(1).select(
        F.explode(F.array(*[F.lit(r) for r in (1, 2, 4, 8)])).alias("r"))
    grid = spark.range(19).select(((F.col("id") + 1) * 0.05).alias("j"))
    b = F.floor(F.lit(NUM_HASHES) / F.col("r")).cast("bigint")
    p = 1 - F.pow(1 - F.pow(F.col("j"), F.col("r").cast("double")),
                  b.cast("double"))
    return (cfg.crossJoin(grid)
            .select(F.col("r").cast("bigint").alias("rows_per_band"),
                    b.alias("n_bands"),
                    F.round(F.col("j"), 2).alias("jaccard"),
                    F.round(p, 6).alias("p_candidate"),
                    (F.col("r") == BAND_ROWS).alias("is_registered_config")))


SEM_CELLS = 16   # SemDeDup coarse cells (deterministic: first-K seeds)
SEM_TAU = 0.4    # within-cell cosine threshold (matches the embedding
                 # pair family — corpus has no planted vector dups)


@query("dedup_semantic_semdedup", oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < {SEM_CELLS}),
d AS (
  SELECT e.vec_id, s.cid,
         round(list_aggregate(
           list_transform(range(1, len(e.emb) + 1),
             i -> pow(e.emb[CAST(i AS INTEGER)]
                      - s.cemb[CAST(i AS INTEGER)], 2)),
           'sum'), 9) AS d2
  FROM e CROSS JOIN seeds s
),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d) WHERE rn = 1
),
pairs AS (
  SELECT b.vec_id AS vb
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_aggregate(list_transform(ea.emb, x -> x * x), 'sum') > 0
    AND list_aggregate(list_transform(eb.emb, x -> x * x), 'sum') > 0
    AND round(list_cosine_similarity(ea.emb, eb.emb), 6) >= {SEM_TAU}
),
drops AS (SELECT DISTINCT vb AS vec_id FROM pairs)
SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
       drops.vec_id IS NOT NULL AS dropped
FROM asg LEFT JOIN drops USING (vec_id)
""")
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023, public):
    cluster the embedding space with a coarse quantizer, then compare
    pairs ONLY within a cluster — the trick that makes semantic dedup
    tractable at corpus scale (cost Σ|cell|², never N²) — and drop every
    vector that has a lower-id in-cell neighbor above the cosine
    threshold. One verdict row per vector: (vec_id, cell, dropped).

    The quantizer is fully deterministic (first-SEM_CELLS vectors as
    seeds, argmin on 9-digit-rounded squared distance with cell-id
    tiebreak — the sim_ivf_det_topk recipe) so the DuckDB oracle replays
    index build AND verdicts exactly. Centroids fold in as literals
    (SEM_CELLS x dim doubles — weight-matrix-sized driver state); the
    assignment is one narrow codegen pass, the candidate join is a self
    equi-join on cell, and the drop set is a distinct + left join, all
    keyed shuffles. At 100 TB the seeds come from a trained quantizer
    (sim_ivf_topk's KMeans) and cells shard the pairwise work exactly
    like the paper's k-means-then-within-cluster pass."""
    from ..functions.vector import dot_col, l2norm_col

    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm")))
    v = F.col("embedding").cast("array<double>")
    seeds = {r["vec_id"]: list(r["e"]) for r in
             emb.filter(F.col("vec_id") < SEM_CELLS)
             .select("vec_id", v.alias("e")).collect()}
    cell = F.element_at(
        F.array_sort(F.array(*[
            F.struct(
                F.round(F.aggregate(
                    F.zip_with(v, F.lit(cvec), lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0), lambda a, y: a + y), 9).alias("d"),
                F.lit(cid).cast("bigint").alias("c"))
            for cid, cvec in sorted(seeds.items())])), 1)["c"]
    asg = emb.withColumn("cell", cell)
    # zero-norm vectors keep their assignment row but never enter the
    # pairwise compare (cosine undefined; ANSI division would raise) —
    # the oracle's pairs CTE carries the identical norm guard
    pairable = asg.filter(F.col("nrm") > 0)
    a = pairable.select(F.col("vec_id").alias("va"), F.col("cell").alias("ca"),
                        F.col("embedding").alias("ea"),
                        F.col("nrm").alias("na"))
    b = pairable.select(F.col("vec_id").alias("vb"), F.col("cell").alias("cb"),
                        F.col("embedding").alias("eb"),
                        F.col("nrm").alias("nb"))
    cos = F.round(dot_col(F.col("ea"), F.col("eb"))
                  / (F.col("na") * F.col("nb")), 6)
    drops = (a.join(b, (F.col("ca") == F.col("cb"))
                    & (F.col("va") < F.col("vb")))
             .filter(cos >= SEM_TAU)
             .select(F.col("vb").alias("vec_id")).distinct()
             .withColumn("hit", F.lit(True)))
    return (asg.join(drops, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce(F.col("hit"), F.lit(False)).alias("dropped")))


SEM_CAP_M = 24   # capped SemDeDup: pairwise only among the M vectors
                 # nearest their cell centroid (binds already at sf0.01's
                 # ~31 vectors/cell, so the driver exercises the prune)
SEM_CAP_SHARDS = 8   # phase-1 shards of the two-phase per-cell top-M:
                     # a mega-cell is ranked as 8 parallel (cell, shard)
                     # tasks before the <= 8*M-row exact merge rank


@query("dedup_semdedup_capped", oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < {SEM_CELLS}),
d AS (
  SELECT e.vec_id, s.cid,
         round(list_aggregate(
           list_transform(range(1, len(e.emb) + 1),
             i -> pow(e.emb[CAST(i AS INTEGER)]
                      - s.cemb[CAST(i AS INTEGER)], 2)),
           'sum'), 9) AS d2
  FROM e CROSS JOIN seeds s
),
asg AS (
  SELECT vec_id, cid AS cell, d2 FROM (
    SELECT vec_id, cid, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d) WHERE rn = 1
),
kept AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rk
    FROM asg) WHERE rk <= {SEM_CAP_M}
),
pairs AS (
  SELECT b.vec_id AS vb
  FROM kept a JOIN kept b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_aggregate(list_transform(ea.emb, x -> x * x), 'sum') > 0
    AND list_aggregate(list_transform(eb.emb, x -> x * x), 'sum') > 0
    AND round(list_cosine_similarity(ea.emb, eb.emb), 6) >= {SEM_TAU}
),
drops AS (SELECT DISTINCT vb AS vec_id FROM pairs)
SELECT asg.vec_id, CAST(asg.cell AS BIGINT) AS cell,
       kept.vec_id IS NOT NULL AS in_cap,
       drops.vec_id IS NOT NULL AS dropped
FROM asg LEFT JOIN kept USING (vec_id) LEFT JOIN drops USING (vec_id)
""")
def dedup_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPPED SemDeDup — the production scale path of
    dedup_semantic_semdedup, promoted to a first-class query after the
    round-6 sf1 rehearsal MEASURED the uncapped within-cell pairwise
    term going quadratic (~1s at 2k vectors -> 29.5s at 20k with 16
    fixed cells; SCALE.md round-6 table). Same deterministic quantizer
    and assignment; within each cell only the SEM_CAP_M vectors NEAREST
    THEIR CENTROID (by the already-computed 9-digit-rounded d2, vec_id
    tiebreak) enter the pairwise compare — the Abbas et al. 2023
    appendix prune. Pair work drops from Σ|cell|² to cells x M², i.e.
    CONSTANT per cell regardless of corpus size; vectors outside the
    cap are reported kept (in_cap = false, dropped = false), which is
    the paper's bias: boundary vectors are less likely to be the dense
    near-dup clusters the centroid-proximal region concentrates.

    The cap binds on the driver fixture (sf0.01 has ~31 vectors/cell
    vs M = {SEM_CAP_M}), so the oracle row exercises the prune, not
    just the uncapped path. Relational shape: assignment narrow as
    before; the per-cell top-M is the TWO-PHASE SHARDED rank (the
    round-7 mega-cell fix, SCALE.md watch #3): phase 1 ranks inside
    (cell, vec_id % {SEM_CAP_SHARDS}) partitions — a mega-cell is cut
    into {SEM_CAP_SHARDS} parallel tasks — and keeps each shard's
    local top-M; phase 2 ranks the surviving <= {SEM_CAP_SHARDS}·M
    rows per cell (a size the PLAN controls, independent of cell
    occupancy) to the exact global top-M. The global top-M is always
    a subset of the union of per-shard top-Ms, so the result is
    BIT-IDENTICAL to the single-window form the oracle declares —
    the distributed-TopK merge argument — while no task ever sees
    more than max(shard, {SEM_CAP_SHARDS}·M) rows of any one cell.
    At 100 TB the shard count scales with max-occupancy/M; the
    agreement-at-skew test (test_semdedup_megacell_two_phase) forces
    a 4000-vector mega-cell and holds the query to the same oracle.
    Pairwise and drop-resolution are equi-joins on cell/vec_id
    exactly as the uncapped form. The kept set (<= cells x M rows, a
    size the pipeline CONTROLS, unlike Σ|cell|²) is materialized
    through the session memo cache (the k-core precedent, evicted by
    clear_signature_cache): left lazy, the scan->assign->rank subtree
    re-executes for each of its four consumers. Measured at 20k
    vectors: 29.5s uncapped -> 13.4s capped cold-single-query (of which
    ~5s is fresh-session warmup + seed collect and ~3.5s the
    scan+assign+rank floor); warm-session cold-cache bench tail at
    sf0.1: 2.5s."""
    from ..functions.vector import dot_col, l2norm_col

    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm")))
    v = F.col("embedding").cast("array<double>")
    seeds = {r["vec_id"]: list(r["e"]) for r in
             emb.filter(F.col("vec_id") < SEM_CELLS)
             .select("vec_id", v.alias("e")).collect()}
    best = F.element_at(
        F.array_sort(F.array(*[
            F.struct(
                F.round(F.aggregate(
                    F.zip_with(v, F.lit(cvec), lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0), lambda a, y: a + y), 9).alias("d"),
                F.lit(cid).cast("bigint").alias("c"))
            for cid, cvec in sorted(seeds.items())])), 1)
    asg = (emb.withColumn("b", best)
           .select("vec_id", "embedding", "nrm",
                   F.col("b")["c"].alias("cell"),
                   F.col("b")["d"].alias("d2c")))
    from pyspark.sql import Window as W
    def _build_kept() -> DataFrame:
        # two-phase sharded top-M (mega-cell safe; see docstring)
        lrk = F.row_number().over(
            W.partitionBy("cell", F.pmod(F.col("vec_id"),
                                         F.lit(SEM_CAP_SHARDS)))
            .orderBy("d2c", "vec_id"))
        local = (asg.withColumn("lrk", lrk)
                 .filter(F.col("lrk") <= SEM_CAP_M).drop("lrk"))
        rk = F.row_number().over(
            W.partitionBy("cell").orderBy("d2c", "vec_id"))
        return (local.withColumn("rk", rk).filter(F.col("rk") <= SEM_CAP_M)
                .select("vec_id", "cell", "embedding", "nrm"))

    kept = memo_persist(spark, f"semdedup_capped_kept::{sf_dir}",
                        _build_kept, eager=True)
    # zero-norm guard on the pair sides only (assignment/cap rows stay)
    pairable = kept.filter(F.col("nrm") > 0)
    a = pairable.select(F.col("vec_id").alias("va"),
                        F.col("cell").alias("ca"),
                        F.col("embedding").alias("ea"),
                        F.col("nrm").alias("na"))
    b = pairable.select(F.col("vec_id").alias("vb"),
                        F.col("cell").alias("cb"),
                        F.col("embedding").alias("eb"),
                        F.col("nrm").alias("nb"))
    cos = F.round(dot_col(F.col("ea"), F.col("eb"))
                  / (F.col("na") * F.col("nb")), 6)
    drops = (a.join(b, (F.col("ca") == F.col("cb"))
                    & (F.col("va") < F.col("vb")))
             .filter(cos >= SEM_TAU)
             .select(F.col("vb").alias("vec_id")).distinct()
             .withColumn("hit", F.lit(True)))
    incap = kept.select("vec_id").withColumn("inc", F.lit(True))
    return (asg.join(incap, "vec_id", "left").join(drops, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce(F.col("inc"), F.lit(False)).alias("in_cap"),
                    F.coalesce(F.col("hit"), F.lit(False)).alias("dropped")))


# Non-overlapping SEG_W-word segments; the ordinal packing doc_id*SEG_MOD
# + seg_id requires seg_id < SEG_MOD (docs would need > SEG_W*SEG_MOD
# words to overflow — far beyond any tested corpus; assert at scale).
SEG_W = 8
SEG_MOD = 4096


@query("dedup_segments_corpus", oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
gi AS (SELECT doc_id, w,
              unnest(generate_series(0,
                CAST(ceil(len(w) / {SEG_W}.0) AS BIGINT) - 1)) AS s
       FROM t),
seg AS (SELECT doc_id, s,
               array_to_string(w[s * {SEG_W} + 1 : (s + 1) * {SEG_W}], ' ')
                 AS segment
        FROM gi),
fk AS (SELECT segment, min(doc_id * {SEG_MOD} + s) AS first_key
       FROM seg GROUP BY segment),
j AS (SELECT seg.doc_id,
             (seg.doc_id * {SEG_MOD} + seg.s) <> fk.first_key AS is_dup
      FROM seg JOIN fk USING (segment))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_segments,
       round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS dup_frac
FROM j GROUP BY doc_id
""")
def dedup_segments_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level corpus deduplication (the CCNet/C4 paragraph-dedup
    stage): split every document into non-overlapping SEG_W-word
    segments, keep only the FIRST occurrence of each distinct segment
    corpus-wide (ordered by doc position: doc_id, then segment ordinal),
    and report per-document how much of it was duplicated text — the
    signal line-level dedup pipelines threshold on before near-dup
    passes ever run.

    First-occurrence resolution is a grouped min over a packed ordinal
    (combiner'd segment-keyed aggregate — deliberately NOT a window
    partitioned by segment, whose hot keys, i.e. the very boilerplate
    being hunted, would each land on a single task), then a segment-
    keyed equi-join back and a doc-keyed rollup. At 100 TB: sha2 the
    segment before the shuffle so the join key is 32 bytes instead of
    the text, and let AQE skew-split the join; the plan shape is
    unchanged."""
    docs = load_parallel(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split("text", " ").alias("ws"))
    nseg = F.ceil(F.size("ws") / float(SEG_W)).cast("bigint")
    seg = (base.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda s: F.concat_ws(
                " ", F.slice(F.col("ws"), (s * SEG_W + 1).cast("int"),
                             SEG_W))))
        .alias("s", "segment"))
        .select("doc_id", F.col("s").cast("bigint").alias("s"), "segment"))
    key = F.col("doc_id") * SEG_MOD + F.col("s")
    fk = (seg.groupBy("segment").agg(F.min(key).alias("first_key")))
    j = (seg.join(fk, "segment")
         .select("doc_id", (key != F.col("first_key")).alias("is_dup")))
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_segments"),
                 F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
                 .cast("bigint").alias("n_dup_segments"))
            .withColumn("dup_frac",
                        F.round(F.col("n_dup_segments")
                                / F.col("n_segments"), 6)))


CC_RECURSION_DEPTH = 4  # >= max dup-cluster diameter at any tested SF


@query("dedup_cc_recursive_sql", oracle=f"""
WITH RECURSIVE {_LSH_PAIRS_SQL.lstrip()},
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
reach(doc_id, r, d) AS (
  SELECT doc_id, doc_id, 0 FROM nodes
  UNION ALL
  SELECT reach.doc_id, e.b, reach.d + 1
  FROM reach JOIN edges e ON reach.r = e.a
  WHERE reach.d < {CC_RECURSION_DEPTH}
)
SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id
""")
def dedup_cc_recursive_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution as a DECLARATIVE recursive CTE
    (Spark 4 WITH RECURSIVE) — the single-statement twin of the
    iterative dedup_connected_components loop. BFS from every node over
    the symmetric near-dup edge list, depth-bounded (Spark supports only
    UNION ALL recursion, so termination comes from the depth guard, not
    dedup); canonical id = min node reached.

    Equal to the iterative fixpoint whenever cluster diameter <=
    CC_RECURSION_DEPTH (asserted in tests; near-dup clusters are
    near-cliques of diameter 1-2). Scale posture: the iterative form
    remains the production path — its per-round state is one label per
    node, while UNION ALL recursion materializes one row per PATH, which
    explodes on large dense components. This query exists to cover the
    recursive-SQL surface and as a second independent derivation of the
    same clusters."""
    # Materialize the (tiny) pair list before recursing: Spark's
    # UnionLoopExec re-evaluates the recursive step's inputs per
    # iteration, which would re-run the whole LSH pipeline each round.
    # localCheckpoint truncates the lineage to a cached table scan.
    pairs = (dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
             .localCheckpoint())
    pairs.createOrReplaceTempView("cc_pairs_v")
    return spark.sql(f"""
      WITH RECURSIVE
      edges AS (SELECT doc_a AS a, doc_b AS b FROM cc_pairs_v
                UNION ALL SELECT doc_b, doc_a FROM cc_pairs_v),
      nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
      reach(doc_id, r, d) AS (
        SELECT doc_id, doc_id, 0 FROM nodes
        UNION ALL
        SELECT reach.doc_id, e.b, reach.d + 1
        FROM reach JOIN edges e ON reach.r = e.a
        WHERE reach.d < {CC_RECURSION_DEPTH}
      )
      SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id
    """)


@query("dedup_cc_two_phase_star", oracle=f"""
WITH RECURSIVE {_LSH_PAIRS_SQL.lstrip()},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id,
       least(u, min(v)) AS canonical_id
FROM reach GROUP BY u
""")
def dedup_cc_two_phase_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the web-scale replacement for plain min-label propagation that
    SCALE.md promises. Both operations are one groupBy + one equi-join
    per round:

      large-star: every neighbor v > u re-attaches to m(u) = min of
                  u's closed neighborhood — tall chains flatten toward
                  the minimum in O(log n) rounds;
      small-star: every neighbor v <= u (and u itself) attaches to
                  m(u) — stars collapse onto their centers.

    Rounds needed are logarithmic in component size (vs diameter for
    min-label), and per-round state is the edge list itself — no
    per-node label table. Fixpoint when the canonical edge multiset
    stops changing; final labels read off the star edges. Output and
    oracle are identical to dedup_connected_components (the recursive
    closure), and the two implementations are agreement-tested."""
    pairs = (dedup_minhash_lsh(spark, sf_dir)
             .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
             .localCheckpoint())

    def canon(e: DataFrame) -> DataFrame:
        # unordered edge set, self-loops dropped, deduped: (hi, lo)
        return (e.filter(F.col("u") != F.col("v"))
                .select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
                .distinct())

    def sym(e: DataFrame) -> DataFrame:
        return e.unionByName(e.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))

    def min_closed(e_sym: DataFrame) -> DataFrame:
        # m(u) = min(N(u) + {u})
        return (e_sym.unionByName(e_sym.select("u", F.col("u").alias("v")))
                .groupBy("u").agg(F.min("v").alias("m")))

    edges = canon(pairs.select(F.col("a").alias("u"), F.col("b").alias("v")))
    edges = edges.localCheckpoint()
    prev = None
    for _ in range(25):  # O(log n) expected; hard bound for safety
        es = sym(edges)
        m = min_closed(es)
        # large-star: (v, m(u)) for v in N(u), v > u
        large = canon(es.filter(F.col("v") > F.col("u")).join(m, "u")
                      .select(F.col("v").alias("u"),
                              F.col("m").alias("v")))
        ls = sym(large)
        m2 = min_closed(ls)
        # small-star: (v, m(u)) for v in N(u), v <= u — with self edge
        small = canon(ls.filter(F.col("v") < F.col("u")).join(m2, "u")
                      .select(F.col("v").alias("u"),
                              F.col("m").alias("v"))
                      .unionByName(m2.select("u", F.col("m").alias("v"))))
        # each round references the previous round's plan several
        # times (sym/min_closed/large/small), so lineage grows
        # EXPONENTIALLY — localCheckpoint materializes the tiny edge
        # list and truncates the plan (without it, round ~8's plan
        # tree OOMs the driver during explain, long before any
        # executor works hard)
        # eager=False: the signature agg materializes the checkpoint
        # in the same job — one action per star round instead of two
        small = small.localCheckpoint(eager=False)
        sig = small.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u") * 1_000_003 + F.col("v")).alias("s")).first()
        edges = small
        if prev == (sig["n"], sig["s"]):
            break
        prev = (sig["n"], sig["s"])
    # fixpoint: every edge is (member, component-min); min maps to itself
    members = edges.select(F.col("u").alias("doc_id"),
                           F.col("v").alias("canonical_id"))
    roots = (edges.select(F.col("v").alias("doc_id"))
             .distinct()
             .join(members.select(F.col("doc_id")), "doc_id", "left_anti")
             .select("doc_id", F.col("doc_id").alias("canonical_id")))
    return members.unionByName(roots)


CONTAINMENT_THRESHOLD = 0.7


@query("dedup_containment", oracle=f"""
WITH {_MINHASH_SQL},
bands AS (
  SELECT doc_id, b // {BAND_ROWS} AS g,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY b) AS key
  FROM mh GROUP BY doc_id, b // {BAND_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.g = b.g AND a.key = b.key
                            AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(i * 1.0 / least(x.n, y.n), 6) AS containment
FROM inter
JOIN sz x ON x.doc_id = doc_a
JOIN sz y ON y.doc_id = doc_b
WHERE i * 1.0 / least(x.n, y.n) >= {CONTAINMENT_THRESHOLD}
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup: |A ∩ B| / min(|A|, |B|) over distinct
    shingle sets — the one-sided measure that catches a document
    embedded inside a larger one (quotation, concatenated crawl dumps),
    where symmetric Jaccard stays low because the union is dominated by
    the larger doc. Candidates come from the same MinHash band join as
    dedup_minhash_lsh (min-containment >= Jaccard, so every
    high-containment pair that shares band keys is recalled by the same
    banding); verification is the exact shingle intersection divided by
    the SMALLER set. Same scale shape as the LSH path: narrow
    signatures, band equi-join, candidate-only verify."""
    sig = minhash_sig_arrays(spark, sf_dir)  # memoized + persisted
    n_bands = NUM_HASHES // BAND_ROWS
    band_keys = F.array(*[
        F.array_join(F.transform(
            F.slice("sig", g * BAND_ROWS + 1, BAND_ROWS),
            lambda m: m.cast("string")), "-")
        for g in range(n_bands)
    ])
    bands = (sig.select("doc_id", F.posexplode(band_keys).alias("g", "key"))
             .select("doc_id", "g", "key"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    arrs = sig.select("doc_id", "sh", "n")
    pairs = (cand
             .join(arrs.select(F.col("doc_id").alias("doc_a"),
                               F.col("sh").alias("sha"),
                               F.col("n").alias("na")), "doc_a")
             .join(arrs.select(F.col("doc_id").alias("doc_b"),
                               F.col("sh").alias("shb"),
                               F.col("n").alias("nb")), "doc_b"))
    inter = F.size(F.array_intersect("sha", "shb"))
    cont = inter / F.least("na", "nb")
    return (pairs.filter(cont >= CONTAINMENT_THRESHOLD)
            .select("doc_a", "doc_b", F.round(cont, 6).alias("containment")))


@query("graph_triangle_count", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
tri AS (
  SELECT e1.doc_a AS u, e1.doc_b AS v, e2.doc_b AS w
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
FROM (SELECT u AS doc_id FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri)
GROUP BY doc_id
""")
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the near-dup pair graph —
    the standard density/clustering-coefficient signal (a doc in many
    triangles sits in a tight duplicate clique; a bridge doc in none).

    The ordered-edge trick makes it ONE pass of two self-equi-joins:
    edges are canonical (doc_a < doc_b), so joining e1(u,v)-e2(v,w)
    enumerates each candidate wedge once with u<v<w, and the e3(u,w)
    probe closes it — no triangle is counted twice, no orientation
    dedup needed. At 100 TB: both joins key on a doc id (shuffle or
    broadcast by AQE); cost is sum of wedge counts (Σ deg²), the
    standard distributed triangle bound — and the input here is already
    the LSH-banded candidate graph, orders of magnitude sparser than
    the corpus. Reuses the shared memoized signature pass."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    e1 = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    e2 = pairs.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("w"))
    e3 = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    nodes = (tri.select(F.col("u").alias("doc_id"))
             .unionAll(tri.select(F.col("v").alias("doc_id")))
             .unionAll(tri.select(F.col("w").alias("doc_id"))))
    return nodes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"))


@query("graph_clustering_coefficient", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
und AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT node, count(*) AS d FROM und GROUP BY node),
tri AS (
  SELECT e1.doc_a AS u, e1.doc_b AS v, e2.doc_b AS w
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
tcnt AS (
  SELECT node, count(*) AS t FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri)
  GROUP BY node
)
SELECT deg.node AS doc_id, CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(tcnt.t, 0) AS BIGINT) AS n_tri,
       round(CASE WHEN deg.d < 2 THEN 0.0
                  ELSE 2.0 * coalesce(tcnt.t, 0)
                       / (deg.d * (deg.d - 1)) END, 6) AS coeff
FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
""")
def graph_clustering_coefficient(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node over the near-dup pair
    graph: C(u) = 2·T(u) / (d(u)·(d(u)−1)) — the Watts-Strogatz local
    density measure. In a dedup pipeline this separates CLIQUE-like
    duplicate clusters (C→1: boilerplate families, mirrored sites,
    where dropping all-but-one is safe) from CHAIN-like near-dup paths
    (C→0: version histories A~B~C where A and C differ — a transitive
    min-hash merge would over-delete). Degree-1 nodes report 0.

    Composition on top of graph_triangle_count's ordered-wedge pass:
    the same two self-equi-joins enumerate each triangle once (u<v<w),
    per-node counts explode each triangle to its 3 corners, and the
    degree table is one keyed count over the symmetrized edge list;
    a final doc-id-keyed LEFT join aligns the two. At 100 TB the cost
    stays the Σ deg² wedge bound on the LSH-sparsified graph, and all
    joins key on doc ids — same scale posture as the triangle query,
    one extra edge-sized aggregate. Reuses the shared memoized
    signature pass."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    und = (pairs.select(F.col("doc_a").alias("node"),
                        F.col("doc_b").alias("nbr"))
           .unionAll(pairs.select(F.col("doc_b").alias("node"),
                                  F.col("doc_a").alias("nbr"))))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    e1 = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    e2 = pairs.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("w"))
    e3 = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    tcnt = (tri.select(F.col("u").alias("node"))
            .unionAll(tri.select(F.col("v").alias("node")))
            .unionAll(tri.select(F.col("w").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("t")))
    t = F.coalesce(F.col("t"), F.lit(0))
    return (deg.join(tcnt, "node", "left")
            .select(F.col("node").alias("doc_id"),
                    F.col("d").cast("bigint").alias("degree"),
                    t.cast("bigint").alias("n_tri"),
                    F.round(F.when(F.col("d") < 2, F.lit(0.0))
                            .otherwise(2.0 * t
                                       / (F.col("d")
                                          * (F.col("d") - 1))), 6)
                    .alias("coeff")))


@query("dedup_cluster_canonical", oracle=f"""
WITH RECURSIVE {_LSH_PAIRS_SQL.lstrip()},
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster
  FROM reach GROUP BY u
),
q AS (
  SELECT doc_id,
         round(0.4 * least(len(w) / 100.0, 1.0)
               + 0.6 * (len(list_distinct(w)) * 1.0 / len(w)), 6)
           AS quality
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
r AS (
  SELECT cc.doc_id, cc.cluster, q.quality,
         row_number() OVER (PARTITION BY cc.cluster
                            ORDER BY q.quality DESC, cc.doc_id) AS rn
  FROM cc JOIN q ON q.doc_id = cc.doc_id
)
SELECT doc_id, cluster, quality,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM r
""")
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: after duplicate clusters resolve
    (connected components over verified LSH pairs), each cluster keeps
    its HIGHEST-QUALITY member rather than the arbitrary min-id — the
    policy step of a real dedup pipeline, where the survivor choice
    (cleanest text, longest version) decides what the model trains on.
    Ties break on doc_id; quality is the composed text_quality_score
    metric ROUNDED to its 6-digit output grid before ranking, so the
    argmax is engine-stable.

    Composition: cluster keys come from the REGISTERED
    dedup_cc_two_phase_star builder (round 11, VERDICT r10 ask #8 —
    the O(log n) large-star/small-star family is the default for every
    consumer that only needs cluster keys; the O(diameter) min-label
    twin stays registered as the agreement-tested reference), joined
    to the narrow quality scan, then one cluster-keyed argmax window.
    At 100 TB the join keys on doc_id (duplicate-set-sized left side —
    only docs appearing in some verified pair), and the window
    partitions on cluster id: both keyed, nothing global."""
    from pyspark.sql import Window as W

    cc = dedup_cc_two_phase_star(spark, sf_dir)
    from .text import text_quality_score

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    joined = cc.select("doc_id", F.col("canonical_id").alias("cluster")) \
               .join(q, "doc_id")
    rn = F.row_number().over(
        W.partitionBy("cluster")
        .orderBy(F.col("quality").desc(), F.col("doc_id")))
    return (joined.withColumn("rn", rn)
            .select("doc_id", "cluster", "quality",
                    F.when(F.col("rn") == 1, 1).otherwise(0)
                    .cast("bigint").alias("kept")))


@query("dedup_cross_lingual_pairs", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()}
SELECT p.doc_a, p.doc_b, da.lang AS lang_a, db.lang AS lang_b
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
WHERE da.lang <> db.lang
""")
def dedup_cross_lingual_pairs(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Bitext candidate mining: verified near-duplicate pairs whose
    declared languages DIFFER — on a real multilingual crawl these are
    translation-pair candidates (the parallel-corpus feedstock of
    multilingual model training), and in a dedup policy they are the
    pairs you must NOT collapse (same content, different language =
    both are training signal). One broadcast lang-map join on each side
    of the already-bucketed LSH pair set — candidate-sized work on top
    of the shared memoized signature pass, nothing corpus-wide."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    langs = load_parallel(spark, sf_dir, "documents").select("doc_id", "lang")
    la = langs.select(F.col("doc_id").alias("doc_a"),
                      F.col("lang").alias("lang_a"))
    lb = langs.select(F.col("doc_id").alias("doc_b"),
                      F.col("lang").alias("lang_b"))
    return (pairs.join(F.broadcast(la), "doc_a")
            .join(F.broadcast(lb), "doc_b")
            .filter(F.col("lang_a") != F.col("lang_b"))
            .select("doc_a", "doc_b", "lang_a", "lang_b"))


@query("dedup_lsh_eval_pr", oracle=f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
tr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT t.doc_a, t.doc_b FROM tr t
  JOIN sz x ON x.doc_id = t.doc_a
  JOIN sz y ON y.doc_id = t.doc_b
  WHERE t.inter * 1.0 / (x.n + y.n - t.inter) >= {JACCARD_THRESHOLD}
),
j AS (
  SELECT CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_cand,
         CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
  FROM cand c FULL OUTER JOIN truth t
    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT CAST(sum(in_truth) AS BIGINT) AS n_truth,
       CAST(sum(in_cand) AS BIGINT) AS n_candidates,
       CAST(sum(in_cand * in_truth) AS BIGINT) AS n_hits,
       CASE WHEN sum(in_cand) > 0 THEN
         round(sum(in_cand * in_truth) * 1.0 / sum(in_cand), 6) END AS prec,
       CASE WHEN sum(in_truth) > 0 THEN
         round(sum(in_cand * in_truth) * 1.0 / sum(in_truth), 6) END AS rec,
       round(2.0 * sum(in_cand * in_truth)
             / (sum(in_cand) + sum(in_truth)), 6) AS f1
FROM j
""")
def dedup_lsh_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality audit: precision/recall/F1 of the
    banded MinHash-LSH candidate pairs against the exact
    Jaccard >= 0.8 ground truth — the one-row report a
    pipeline publishes before trusting an approximate dedup config at
    corpus scale (the empirical check on dedup_lsh_band_tuning's
    closed-form S-curve).

    F1 reduces to 2*hits/(cand+truth) — pure integer arithmetic until
    the final divisions, so the 6-digit rounding is engine-stable. Scale
    shape: candidates from the band equi-join (never N^2); the exact
    truth side is the all-pairs shingle join, which is why this audit
    runs ON A SAMPLE at 100 TB (the standard practice — grade recall on
    a sampled stratum, extrapolate by the S-curve); both sides then
    collapse through a full-outer join on the pair key into one
    aggregate row."""
    sig = minhash_sig_arrays(spark, sf_dir)
    cand = lsh_candidate_pairs(sig).withColumn("in_cand", F.lit(1))
    truth = (dedup_ngram_jaccard(spark, sf_dir)
             .select("doc_a", "doc_b", F.lit(1).alias("in_truth")))
    j = (cand.join(truth, ["doc_a", "doc_b"], "full_outer")
         .select(F.coalesce("in_cand", F.lit(0)).alias("in_cand"),
                 F.coalesce("in_truth", F.lit(0)).alias("in_truth")))
    hits = F.sum(F.col("in_cand") * F.col("in_truth"))
    # one-sided empties (all-truth or all-candidate rows) would make the
    # unguarded ratio 0.0/0.0 — NaN in Spark, NULL in DuckDB (the
    # events_bot_detection divergence class); guard IDENTICALLY in both
    return j.agg(
        F.sum("in_truth").cast("bigint").alias("n_truth"),
        F.sum("in_cand").cast("bigint").alias("n_candidates"),
        hits.cast("bigint").alias("n_hits"),
        F.when(F.sum("in_cand") > 0,
               F.round(hits * 1.0 / F.sum("in_cand"), 6)).alias("prec"),
        F.when(F.sum("in_truth") > 0,
               F.round(hits * 1.0 / F.sum("in_truth"), 6)).alias("rec"),
        F.round(2.0 * hits / (F.sum("in_cand") + F.sum("in_truth")), 6)
        .alias("f1"))


@query("dedup_normalized_prefix", oracle="""
WITH c AS (
  SELECT doc_id,
         md5(array_to_string(string_split(trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g')), ' ')[1:10], ' ')) AS ckey
  FROM documents
),
g AS (
  SELECT ckey, min(doc_id) AS keep_id, count(*) AS n_copies
  FROM c GROUP BY ckey
)
SELECT ckey, CAST(keep_id AS BIGINT) AS keep_id,
       CAST(n_copies AS BIGINT) AS n_copies
FROM g WHERE n_copies >= 2
""")
def dedup_normalized_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-PREFIX dedup: canonicalize (lowercase -> strip
    non-alphanumerics -> collapse whitespace, the text_clean_normalize
    chain), fingerprint the first 10 words, group on the 16-byte key —
    the CCNet-style cheap rung of the dedup ladder that catches
    same-opening variants (mirrored articles, templated boilerplate,
    near-dups whose edits land past the lead) WITHOUT any pair
    generation. 23 duplicate groups fire on the fixture corpus (the
    planted near-dups share their openings; byte-exact dedup_exact sees
    none of them).

    Same scale shape as dedup_exact: narrow JVM regexp + hash folded
    into the scan, survivor resolution as a combiner'd grouped min on
    the canonical key — one keyed shuffle, no window over hot keys."""
    docs = load_parallel(spark, sf_dir, "documents")
    clean = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
    ckey = F.md5(F.concat_ws(" ", F.slice(F.split(clean, " "), 1, 10)))
    c = docs.select("doc_id", ckey.alias("ckey"))
    return (c.groupBy("ckey")
            .agg(F.min("doc_id").cast("bigint").alias("keep_id"),
                 F.count(F.lit(1)).cast("bigint").alias("n_copies"))
            .filter(F.col("n_copies") >= 2))


# Sliding-window exact-substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): W-word windows at stride 1.
SUB_W = 8


@query("dedup_repeated_substrings", oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
wc AS (SELECT doc_id, len(w) AS n_words FROM t),
gi AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - {SUB_W})) AS s
       FROM t WHERE len(w) >= {SUB_W}),
seg AS (SELECT doc_id, s,
               array_to_string(w[s + 1 : s + {SUB_W}], ' ') AS wtext
        FROM gi),
dup AS (SELECT wtext FROM seg
        GROUP BY wtext HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, s FROM seg JOIN dup USING (wtext)),
isl AS (SELECT doc_id, s,
               sum(CASE WHEN prev IS NULL OR s - prev > {SUB_W}
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s) AS g
        FROM (SELECT doc_id, s,
                     lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
              FROM hits)),
spans AS (SELECT doc_id, g, max(s) - min(s) + {SUB_W} AS len
          FROM isl GROUP BY doc_id, g),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
               CAST(sum(len) AS BIGINT) AS n_dup_words
        FROM spans GROUP BY doc_id)
SELECT wc.doc_id, CAST(wc.n_words AS BIGINT) AS n_words,
       coalesce(a.n_dup_spans, 0) AS n_dup_spans,
       coalesce(a.n_dup_words, 0) AS n_dup_words,
       round(coalesce(a.n_dup_words, 0) * 1.0 / wc.n_words, 6) AS dup_frac
FROM wc LEFT JOIN agg a USING (doc_id)
""")
def dedup_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SUBSTRING-level dedup (the Lee et al. 2022 suffix-array
    pass, re-expressed relationally): every SUB_W-word window at stride
    1, a window is "duplicated" when its exact text occurs in >= 2
    DISTINCT documents, and per document the duplicated windows are
    merged into maximal spans (gaps-and-islands over window starts: a
    new span begins when the next duplicated start is > SUB_W past the
    previous one, so overlapping and abutting windows fuse). Reports
    per-doc span count, duplicated word count, and duplicated fraction —
    the signal ExactSubstr-style pipelines cut on. Differs from
    dedup_segments_corpus (non-overlapping C4 segments, first-occurrence
    survivor) by stride-1 windows + span merging, and from
    text_repetition_rates by being CROSS-document.

    Spark side groups on sha2(window) so the corpus-wide shuffle carries
    32-byte keys, not window text (collision-free at any realistic
    corpus; the oracle groups raw text — identical result). The
    cross-doc test is min(doc_id) < max(doc_id), NOT
    count_distinct(doc_id) >= 2: identical truth value (>= 2 distinct
    docs iff min < max), but min/max get full MAP-SIDE COMBINE — a
    boilerplate window in a million docs collapses to one row per map
    task — where Catalyst plans count_distinct as a
    (wkey, doc_id)-grain first shuffle with no hot-key reduction
    (measured 1.77s -> 1.42s at sf0.1; SCALE.md §repeated-substrings
    study, incl. the rejected single-shuffle window-function form and
    the _WIN_DF_CAP-style stop-window knob). Plan: one narrow explode
    (stride-1 windows pipelined with the scan), one combiner'd min/max
    aggregate, one hash-keyed equi-join back (AQE skew-split covers
    boilerplate hot keys), then per-doc window + rollup (doc_id keys
    are uniform, no hot-key skew). At 100 TB the stride-1 blowup is
    ~n_words rows x 32 bytes per doc — the same volume MinHash
    shingling already shuffles."""
    docs = load_parallel(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    wc = base.select("doc_id", n.cast("bigint").alias("n_words"))
    starts = F.when(n >= SUB_W, F.sequence(F.lit(0), (n - SUB_W).cast("int"))
                    ).otherwise(F.expr("cast(array() as array<int>)"))
    seg = base.select(
        "doc_id",
        F.posexplode(F.transform(
            starts,
            lambda s: F.sha2(F.concat_ws(
                " ", F.slice(F.col("ws"), s + 1, SUB_W)), 256)))
        .alias("s", "wkey"))
    dup = (seg.groupBy("wkey")
           .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
           .filter(F.col("mn") < F.col("mx")).select("wkey"))
    hits = seg.join(dup, "wkey").select("doc_id", "s")
    from pyspark.sql import Window as W
    wlag = W.partitionBy("doc_id").orderBy("s")
    h = (hits
         .withColumn("prev", F.lag("s").over(wlag))
         .withColumn("brk", F.when(
             F.col("prev").isNull()
             | (F.col("s") - F.col("prev") > SUB_W), 1).otherwise(0))
         .withColumn("g", F.sum("brk").over(
             wlag.rowsBetween(W.unboundedPreceding, 0))))
    spans = (h.groupBy("doc_id", "g")
             .agg((F.max("s") - F.min("s") + SUB_W).alias("len")))
    agg = (spans.groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
                F.sum("len").cast("bigint").alias("n_dup_words")))
    return (wc.join(agg, "doc_id", "left")
            .select("doc_id", "n_words",
                    F.coalesce("n_dup_spans", F.lit(0)).cast("bigint")
                     .alias("n_dup_spans"),
                    F.coalesce("n_dup_words", F.lit(0)).cast("bigint")
                     .alias("n_dup_words"),
                    F.round(F.coalesce("n_dup_words", F.lit(0)) * 1.0 / F.col("n_words"), 6)
                     .alias("dup_frac")))


# Fellegi-Sunter field weights in integer MICRO-BITS: agreement weight
# log2(m/u) and disagreement weight log2((1-m)/(1-u)) per field, with
# (m, u) = P(agree | match), P(agree | non-match). Precomputed in Python
# and embedded as the SAME integer literals in both engines, so the pair
# score is pure int64 arithmetic — no float argmax anywhere.
import math as _math

_FS_FIELDS = {
    # field            (m,    u)      u ~ chance agreement cardinality
    "bal_bucket":       (0.90, 0.09),  # ~11 thousand-dollar buckets
    "name_last":        (0.95, 0.10),  # 10 trailing digits
    "neg_flag":         (0.98, 0.82),  # ~0.9^2 + 0.1^2 chance agreement
}
_FS_W = {f: (round(_math.log2(m / u) * 1e6),
             round(_math.log2((1 - m) / (1 - u)) * 1e6))
         for f, (m, u) in _FS_FIELDS.items()}
_FS_MATCH, _FS_POSSIBLE = 6_000_000, 0  # micro-bit decision thresholds


@query("dedup_record_linkage_fs", oracle=f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
         substr(c_name, length(c_name), 1) AS name_last,
         c_acctbal < 0 AS neg_flag
  FROM customer),
p AS (
  SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
         CASE WHEN a.bal_bucket = b.bal_bucket THEN 1 ELSE 0 END AS ag_bal,
         CASE WHEN a.name_last = b.name_last THEN 1 ELSE 0 END AS ag_name,
         CASE WHEN a.neg_flag = b.neg_flag THEN 1 ELSE 0 END AS ag_neg
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey),
s AS (
  SELECT custkey_a, custkey_b, ag_bal, ag_name, ag_neg,
         CAST(CASE WHEN ag_bal = 1 THEN {_FS_W['bal_bucket'][0]}
                   ELSE {_FS_W['bal_bucket'][1]} END
            + CASE WHEN ag_name = 1 THEN {_FS_W['name_last'][0]}
                   ELSE {_FS_W['name_last'][1]} END
            + CASE WHEN ag_neg = 1 THEN {_FS_W['neg_flag'][0]}
                   ELSE {_FS_W['neg_flag'][1]} END AS BIGINT)
           AS weight_micro
  FROM p)
SELECT custkey_a, custkey_b,
       CAST(ag_bal AS BIGINT) AS ag_bal,
       CAST(ag_name AS BIGINT) AS ag_name,
       CAST(ag_neg AS BIGINT) AS ag_neg,
       weight_micro,
       CASE WHEN weight_micro >= {_FS_MATCH} THEN 'match'
            ELSE 'possible' END AS decision
FROM s WHERE weight_micro >= {_FS_POSSIBLE}
""")
def dedup_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FELLEGI-SUNTER probabilistic record linkage (Fellegi & Sunter
    1969 — the entity-resolution model behind Splink/RecordLinkage):
    candidate pairs from BLOCKING on (nation, market segment), a
    field-agreement vector per pair (thousand-dollar balance bucket in
    exact integer cents, trailing name digit, negative-balance flag),
    and the log-likelihood-ratio match weight sum(log2(m/u) | agree,
    log2((1-m)/(1-u)) | disagree) with decision bands match/possible —
    the linkage rule the paper proves optimal at fixed error rates.
    Distinct from dedup_fuzzy_levenshtein (string distance on one
    field): FS fuses MANY weak fields with per-field error rates, which
    is how census/CRM linkage actually decides.

    Determinism: weights are integer micro-bits precomputed in Python
    and embedded as identical literals in both engines (_FS_W), the
    balance bucket goes through round(x*100)::bigint cents (the
    fixed-width source's float-ulp lesson), so pair scoring and both
    thresholds are pure int64 — no float comparison anywhere.

    Scale shape: blocking bounds the quadratic — the self-join shuffles
    once on the block key and each block compares internally (the
    LSH-band pattern with a domain key instead of a hash band). Block
    sizes here are corpus/|blocks|; production blocks on higher-
    cardinality keys (phonetic name + zip) and the EM-estimated m/u
    step is one grouped aggregate over a labeled sample of THESE
    weights. Output is the above-threshold pairs only (review queue +
    auto-links), a small fraction of candidates."""
    cust = load(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        (F.round(F.col("c_acctbal") * 100).cast("bigint") / 100000)
        .cast("bigint").alias("bal_bucket"),
        F.substring(F.col("c_name"), -1, 1).alias("name_last"),
        (F.col("c_acctbal") < 0).alias("neg_flag"))
    a, b = c.alias("a"), c.alias("b")
    p = (a.join(b, (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
                & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
                & (F.col("a.c_custkey") < F.col("b.c_custkey")))
         .select(F.col("a.c_custkey").alias("custkey_a"),
                 F.col("b.c_custkey").alias("custkey_b"),
                 F.when(F.col("a.bal_bucket") == F.col("b.bal_bucket"), 1)
                 .otherwise(0).alias("ag_bal"),
                 F.when(F.col("a.name_last") == F.col("b.name_last"), 1)
                 .otherwise(0).alias("ag_name"),
                 F.when(F.col("a.neg_flag") == F.col("b.neg_flag"), 1)
                 .otherwise(0).alias("ag_neg")))
    w = (F.when(F.col("ag_bal") == 1, F.lit(_FS_W["bal_bucket"][0]))
         .otherwise(F.lit(_FS_W["bal_bucket"][1]))
         + F.when(F.col("ag_name") == 1, F.lit(_FS_W["name_last"][0]))
         .otherwise(F.lit(_FS_W["name_last"][1]))
         + F.when(F.col("ag_neg") == 1, F.lit(_FS_W["neg_flag"][0]))
         .otherwise(F.lit(_FS_W["neg_flag"][1])))
    s = p.withColumn("weight_micro", w.cast("bigint"))
    return (s.filter(F.col("weight_micro") >= _FS_POSSIBLE)
            .select("custkey_a", "custkey_b",
                    F.col("ag_bal").cast("bigint").alias("ag_bal"),
                    F.col("ag_name").cast("bigint").alias("ag_name"),
                    F.col("ag_neg").cast("bigint").alias("ag_neg"),
                    "weight_micro",
                    F.when(F.col("weight_micro") >= _FS_MATCH, "match")
                    .otherwise("possible").alias("decision")))


# ---------------------------------------------------------------------------
# Fellegi-Sunter EM parameter estimation (VERDICT r07 ask #7): the m/u
# step the fixed-weight query's docstring deferred. Two EM rounds
# UNROLLED (the AdaBoost/BPE precedent), operating on the 8-row
# agreement-CLASS table, never per pair: with 3 binary comparison
# fields every candidate pair collapses into one of 2^3 classes, so
# the E-step posterior is computed 8 times per round regardless of
# corpus size (Winkler 1988's classic observation; Splink's
# `estimate_parameters_using_expectation_maximisation` does the same).
# Determinism: the per-class posterior is snapped to integer
# MICRO-units (round(p*1e6) as bigint) before any summation, so the
# M-step ratios divide exact int64 sums — identical in both engines —
# and each round's (m, u, lambda) land on the 9-digit grid before
# feeding the next round. Micro (not nano): the M-step sums are
# bounded by total_pairs * 1e6, which stays inside int64 up to ~9e12
# blocked candidate pairs — the blocking bound (SIGMA |block|^2) is
# what keeps pairs below that at 100 TB, and was ALREADY load-bearing
# for the join itself (nano-units would overflow at ~9e9 pairs, a
# scale the query's own posture claims to survive).
_FS_EM_FIELDS = ("bal", "name", "neg")
_FS_EM_OUT = {"bal": "bal_bucket", "name": "name_last", "neg": "neg_flag"}
_FS_EM_INIT = {"bal": _FS_FIELDS["bal_bucket"],
               "name": _FS_FIELDS["name_last"],
               "neg": _FS_FIELDS["neg_flag"]}
_FS_EM_LAM0 = 0.05
_FS_PSCALE = 1_000_000


def _fs_em_estep_sql(lam: str, mm: dict[str, str], uu: dict[str, str]) -> str:
    """One E-step posterior as SQL: P(match | class) in integer micro-units.
    `lam`/`mm`/`uu` are SQL expressions (literals for round 1, est-table
    columns for round 2) — the SAME factored template builds both rounds,
    so train-time and replay-time skew is structurally impossible."""
    pm, pu = lam, f"(1.0 - {lam})"
    for f in _FS_EM_FIELDS:
        pm += (f" * (CASE WHEN ag_{f} = 1 THEN {mm[f]} "
               f"ELSE 1.0 - {mm[f]} END)")
        pu += (f" * (CASE WHEN ag_{f} = 1 THEN {uu[f]} "
               f"ELSE 1.0 - {uu[f]} END)")
    return (f"CAST(round(({pm}) / (({pm}) + ({pu})) * {_FS_PSCALE}.0) "
            f"AS BIGINT)")


def _fs_em_mstep_sql(src: str) -> str:
    """One M-step as SQL aggregates over the class table `src` (which has
    cnt + p_micro): per-field m/u and the match prevalence lambda, all
    int64-sum ratios rounded once to the 9-digit grid."""
    cols = []
    for f in _FS_EM_FIELDS:
        cols.append(
            f"round(CAST(sum(cnt * p_micro * ag_{f}) AS DOUBLE)"
            f" / NULLIF(sum(cnt * p_micro), 0), 9) AS m_{f}")
        cols.append(
            f"round(CAST(sum(cnt * ({_FS_PSCALE} - p_micro) * ag_{f}) "
            f"AS DOUBLE) / NULLIF(sum(cnt * ({_FS_PSCALE} - p_micro)), 0), 9)"
            f" AS u_{f}")
    cols.append(f"round(CAST(sum(cnt * p_micro) AS DOUBLE)"
                f" / ({_FS_PSCALE}.0 * sum(cnt)), 9) AS lam")
    return f"SELECT {', '.join(cols)} FROM {src}"


def _fs_em_out_sql(rnd: int, est: str) -> str:
    arms = []
    for f in _FS_EM_FIELDS:
        arms.append(f"""
SELECT CAST({rnd} AS BIGINT) AS round, '{_FS_EM_OUT[f]}' AS field,
       m_{f} AS m_est, u_{f} AS u_est, lam AS lambda_est,
       CAST(round(log2(m_{f} / u_{f}) * 1000000.0) AS BIGINT)
         AS w_agree_micro,
       CAST(round(log2((1.0 - m_{f}) / (1.0 - u_{f})) * 1000000.0)
            AS BIGINT) AS w_disagree_micro
FROM {est}""")
    return " UNION ALL ".join(arms)


_FS_EM_M0 = {f: repr(_FS_EM_INIT[f][0]) for f in _FS_EM_FIELDS}
_FS_EM_U0 = {f: repr(_FS_EM_INIT[f][1]) for f in _FS_EM_FIELDS}


@query("dedup_record_linkage_em", eager=True, oracle=f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
         substr(c_name, length(c_name), 1) AS name_last,
         c_acctbal < 0 AS neg_flag
  FROM customer),
p AS (
  SELECT CASE WHEN a.bal_bucket = b.bal_bucket THEN 1 ELSE 0 END AS ag_bal,
         CASE WHEN a.name_last = b.name_last THEN 1 ELSE 0 END AS ag_name,
         CASE WHEN a.neg_flag = b.neg_flag THEN 1 ELSE 0 END AS ag_neg
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey),
cls AS (SELECT ag_bal, ag_name, ag_neg, count(*) AS cnt
        FROM p GROUP BY 1, 2, 3),
r1 AS (SELECT *, {_fs_em_estep_sql(repr(_FS_EM_LAM0), _FS_EM_M0,
                                   _FS_EM_U0)} AS p_micro FROM cls),
est1 AS ({_fs_em_mstep_sql("r1")}),
r2 AS (SELECT cls.*,
              {_fs_em_estep_sql("est1.lam",
                                {f: f"est1.m_{f}" for f in _FS_EM_FIELDS},
                                {f: f"est1.u_{f}" for f in _FS_EM_FIELDS})}
                AS p_micro
       FROM cls, est1),
est2 AS ({_fs_em_mstep_sql("r2")})
{_fs_em_out_sql(1, "est1")} UNION ALL {_fs_em_out_sql(2, "est2")}
""")
def dedup_record_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM estimation of the Fellegi-Sunter m/u parameters (Winkler 1988;
    the unsupervised step Splink runs before scoring) — completes
    dedup_record_linkage_fs, whose docstring deferred m/u estimation.
    Blocked candidate pairs (same blocking as the scoring query) are
    first collapsed to their 2^3 = 8 agreement CLASSES with exact
    counts; two EM rounds then run entirely on that 8-row table:
    E-step computes P(match | class) from the current (lambda, m, u)
    — initialised at the fixed-weight query's published assumptions —
    and M-step re-estimates each field's m (P(agree | match)) and u
    (P(agree | non-match)) plus the prevalence lambda as posterior-
    weighted class averages. Output: per round x field, the estimates
    and the implied integer micro-bit log2 weights (the values a third
    EM round or the scoring query would use).

    Determinism: posteriors snap to integer micro-units per class
    BEFORE summation (the M-step divides exact int64 sums — no float
    accumulation order anywhere); each round's estimates land on the
    9-digit grid before feeding the next round; both engines build
    round 1 and round 2 from the SAME factored E/M templates
    (_fs_em_estep_sql/_fs_em_mstep_sql on the oracle side, the mirrored
    column expressions here), the BPE shared-loop precedent.

    Scale shape: ONE blocked self-join shuffle (shared with the scoring
    query) feeding an 8-row aggregate; every EM round after that is
    algebra on 8 rows + a 1-row scalar broadcast — at 100 TB the EM
    cost is the candidate-pair scan, and ADDITIONAL rounds are free
    relative to it. Reference: the repo's linkage gap (README promises
    no dedup at all); Fellegi & Sunter 1969 §5 for the model."""
    cust = load(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        (F.round(F.col("c_acctbal") * 100).cast("bigint") / 100000)
        .cast("bigint").alias("bal_bucket"),
        F.substring(F.col("c_name"), -1, 1).alias("name_last"),
        (F.col("c_acctbal") < 0).alias("neg_flag"))
    a, b = c.alias("a"), c.alias("b")
    p = (a.join(b, (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
                & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
                & (F.col("a.c_custkey") < F.col("b.c_custkey")))
         .select(*[F.when(F.col(f"a.{_FS_EM_OUT[f]}")
                          == F.col(f"b.{_FS_EM_OUT[f]}"), 1)
                   .otherwise(0).alias(f"ag_{f}")
                   for f in _FS_EM_FIELDS]))
    cls = (p.groupBy(*[f"ag_{f}" for f in _FS_EM_FIELDS])
           .agg(F.count(F.lit(1)).alias("cnt")))
    return fs_em_two_rounds(cls)


def fs_em_two_rounds(cls: DataFrame) -> DataFrame:
    """Two unrolled EM rounds over an agreement-class DataFrame
    (ag_bal, ag_name, ag_neg, cnt) -> the 6-row estimates frame.
    Factored out so the planted-duplicates bounding test
    (tests/test_llm_ops_oracle.py::test_fs_em_agrees_with_fixed_weights)
    drives the IDENTICAL code path on a fixture with known matches."""
    def estep(lam, mm, uu):
        if isinstance(lam, float):
            pm, pu = F.lit(lam), F.lit(1.0 - lam)
        else:
            pm, pu = lam, 1.0 - lam
        for f in _FS_EM_FIELDS:
            ag = F.col(f"ag_{f}")
            mf = F.lit(mm[f]) if isinstance(mm[f], float) else mm[f]
            uf = F.lit(uu[f]) if isinstance(uu[f], float) else uu[f]
            pm = pm * F.when(ag == 1, mf).otherwise(1.0 - mf)
            pu = pu * F.when(ag == 1, uf).otherwise(1.0 - uf)
        return F.round(pm / (pm + pu) * float(_FS_PSCALE), 0).cast("bigint")

    def mstep(rdf: DataFrame) -> DataFrame:
        aggs = []
        pm = F.col("p_micro")
        for f in _FS_EM_FIELDS:
            ag = F.col(f"ag_{f}")
            aggs.append(F.round(
                F.sum(F.col("cnt") * pm * ag).cast("double")
                / F.nullif(F.sum(F.col("cnt") * pm), F.lit(0)), 9)
                .alias(f"m_{f}"))
            aggs.append(F.round(
                F.sum(F.col("cnt") * (_FS_PSCALE - pm) * ag).cast("double")
                / F.nullif(F.sum(F.col("cnt") * (_FS_PSCALE - pm)), F.lit(0)),
                9).alias(f"u_{f}"))
        aggs.append(F.round(
            F.sum(F.col("cnt") * pm).cast("double")
            / (float(_FS_PSCALE) * F.sum("cnt")), 9).alias("lam"))
        return rdf.agg(*aggs)

    def out_rows(rnd: int, est: DataFrame) -> DataFrame:
        arms = []
        for f in _FS_EM_FIELDS:
            m_, u_ = F.col(f"m_{f}"), F.col(f"u_{f}")
            arms.append(est.select(
                F.lit(rnd).cast("bigint").alias("round"),
                F.lit(_FS_EM_OUT[f]).alias("field"),
                m_.alias("m_est"), u_.alias("u_est"),
                F.col("lam").alias("lambda_est"),
                F.round(F.log2(m_ / u_) * 1000000.0, 0).cast("bigint")
                .alias("w_agree_micro"),
                F.round(F.log2((1.0 - m_) / (1.0 - u_)) * 1000000.0, 0)
                .cast("bigint").alias("w_disagree_micro")))
        res = arms[0]
        for x in arms[1:]:
            res = res.unionByName(x)
        return res

    m0 = {f: _FS_EM_INIT[f][0] for f in _FS_EM_FIELDS}
    u0 = {f: _FS_EM_INIT[f][1] for f in _FS_EM_FIELDS}
    r1 = cls.withColumn("p_micro", estep(_FS_EM_LAM0, m0, u0))
    est1 = mstep(r1).localCheckpoint()
    e1 = F.broadcast(est1)
    r2 = (cls.crossJoin(e1)
          .withColumn("p_micro",
                      estep(F.col("lam"),
                            {f: F.col(f"m_{f}") for f in _FS_EM_FIELDS},
                            {f: F.col(f"u_{f}") for f in _FS_EM_FIELDS})))
    est2 = mstep(r2)
    return out_rows(1, est1).unionByName(out_rows(2, est2))


# b-bit minwise hashing: keep only the lowest _BBIT bits of each of the
# NUM_HASHES minhash values. C = 2^-b is the chance-collision floor the
# estimator subtracts (the small-set approximation of Li & Konig's r1/r2
# correction, documented in the query).
_BBIT = 2
_BBIT_MOD = 1 << _BBIT


@query("dedup_minhash_bbit", oracle=f"""
WITH {_MINHASH_SQL},
bands AS (
  SELECT doc_id, b // {BAND_ROWS} AS g,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY b) AS key
  FROM mh GROUP BY doc_id, b // {BAND_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.g = b.g AND a.key = b.key
                            AND a.doc_id < b.doc_id
),
mm AS (
  SELECT c.doc_a, c.doc_b,
         count(*) FILTER (WHERE ma.mh = mb.mh) AS eq_full,
         count(*) FILTER (WHERE ma.mh % {_BBIT_MOD} = mb.mh % {_BBIT_MOD})
           AS eq_bbit
  FROM cand c
  JOIN mh ma ON ma.doc_id = c.doc_a
  JOIN mh mb ON mb.doc_id = c.doc_b AND mb.b = ma.b
  GROUP BY c.doc_a, c.doc_b),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY c.doc_a, c.doc_b)
SELECT m.doc_a, m.doc_b,
       CAST(m.eq_full AS BIGINT) AS eq_full,
       CAST(m.eq_bbit AS BIGINT) AS eq_bbit,
       round(m.eq_full * 1.0 / {NUM_HASHES}, 6) AS jaccard_minhash,
       round((m.eq_bbit * 1.0 / {NUM_HASHES} - 1.0 / {_BBIT_MOD})
             / (1.0 - 1.0 / {_BBIT_MOD}), 6) AS jaccard_bbit,
       round(COALESCE(i.i, 0) * 1.0
             / (x.n + y.n - COALESCE(i.i, 0)), 6) AS jaccard_exact
FROM mm m
LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
JOIN sz x ON x.doc_id = m.doc_a
JOIN sz y ON y.doc_id = m.doc_b
""")
def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-BIT MINWISE HASHING (Li & Konig 2010) — the storage-side
    compression of the minhash sketch: keep only the LOWEST {_BBIT}
    bits of each of the {NUM_HASHES} minhash values (a {_BBIT * NUM_HASHES}-bit
    signature instead of {64 * NUM_HASHES} bits — the 64/b-fold
    shrink is why production near-dup stores, most famously Google's
    simhash-adjacent web dedup and today's web-scale corpus pipelines,
    ship b in {{1, 2}}). Collisions now happen by CHANCE at rate
    C = 2^-{_BBIT} even for unrelated sets, so the estimator debiases:
    J_b = (collision_rate - C) / (1 - C) — the paper's estimator in its
    small-set form (the full r1/r2 correction reduces to C = 2^-b when
    set sizes are small relative to the hash universe, which holds at
    1e-5 occupancy here). Per LSH candidate pair, the full-width
    estimate, the b-bit estimate, and the exact Jaccard ship together —
    the calibration triple an engineer uses to pick b.

    Determinism: collision counts are integer comparisons on exact
    int64 minhash values; the estimates are ratios of those integers
    over literal constants, rounded once.

    Scale shape: identical to dedup_minhash_lsh (the band join bounds
    candidates; the signature table is memoized) plus one
    {NUM_HASHES}-row-per-pair positional compare — the b-bit compare
    itself is the CHEAP part, which is the method's whole point: the
    sketch store shrinks 32x at b=2 while the join plan is unchanged."""
    sig = minhash_sig_arrays(spark, sf_dir)  # memoized + persisted
    n_bands = NUM_HASHES // BAND_ROWS
    band_keys = F.array(*[
        F.array_join(F.transform(
            F.slice("sig", g * BAND_ROWS + 1, BAND_ROWS),
            lambda m: m.cast("string")), "-")
        for g in range(n_bands)
    ])
    bands = sig.select("doc_id", F.posexplode(band_keys).alias("g", "key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    arrs = sig.select("doc_id", "sig", "sh", "n")
    pairs = (cand
             .join(arrs.select(F.col("doc_id").alias("doc_a"),
                               F.col("sig").alias("siga"),
                               F.col("sh").alias("sha"),
                               F.col("n").alias("na")), "doc_a")
             .join(arrs.select(F.col("doc_id").alias("doc_b"),
                               F.col("sig").alias("sigb"),
                               F.col("sh").alias("shb"),
                               F.col("n").alias("nb")), "doc_b"))
    eq_full = F.size(F.filter(
        F.zip_with("siga", "sigb", lambda x, y: x == y), lambda t: t))
    eq_bbit = F.size(F.filter(
        F.zip_with("siga", "sigb",
                   lambda x, y: x % _BBIT_MOD == y % _BBIT_MOD),
        lambda t: t))
    i = F.size(F.array_intersect("sha", "shb"))
    return pairs.select(
        "doc_a", "doc_b",
        eq_full.cast("bigint").alias("eq_full"),
        eq_bbit.cast("bigint").alias("eq_bbit"),
        F.round(eq_full * 1.0 / NUM_HASHES, 6).alias("jaccard_minhash"),
        F.round((eq_bbit * 1.0 / NUM_HASHES - 1.0 / _BBIT_MOD)
                / (1.0 - 1.0 / _BBIT_MOD), 6).alias("jaccard_bbit"),
        F.round(i * 1.0 / (F.col("na") + F.col("nb") - i), 6)
        .alias("jaccard_exact"))


# Content-defined chunking: a token is a CUT POINT iff its hash ≡ 0
# (mod _CDC_D) — expected chunk length _CDC_D tokens; report chunks of
# at least _CDC_MIN tokens shared by >= 2 docs.
_CDC_D = 8
_CDC_MIN = 4


@query("dedup_cdc_chunks", oracle=f"""
WITH ctoks AS MATERIALIZED (
  SELECT doc_id, ws[CAST(i AS INTEGER)] AS w, i
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '')
                       AS ws
              FROM documents))),
cchunked AS MATERIALIZED (
  SELECT doc_id, w, i,
         coalesce(sum(CASE WHEN ('0x' || substr(md5(w), 1, 8))::BIGINT
                                % {_CDC_D} = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS chunk_no
  FROM ctoks),
cchunks AS MATERIALIZED (
  SELECT doc_id, chunk_no,
         md5(string_agg(w, ' ' ORDER BY i)) AS chunk_hash,
         CAST(count(*) AS BIGINT) AS n_toks
  FROM cchunked GROUP BY 1, 2)
SELECT chunk_hash,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(n_toks) AS BIGINT) AS n_toks,
       CAST(min(doc_id) AS BIGINT) AS keep_doc
FROM cchunks
GROUP BY chunk_hash
HAVING count(DISTINCT doc_id) >= 2 AND min(n_toks) >= {_CDC_MIN}
""")
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup (Muthitacharoen et al. 2001
    LBFS; Xia et al. 2016 FastCDC — the storage/dataset-dedup
    primitive): cut points are decided by CONTENT (a token cuts iff
    its hash ≡ 0 mod {_CDC_D}), so an insertion or deletion only
    reshapes its OWN chunk while every other chunk's boundary — and
    hash — survives, which fixed-size blocking cannot do. Shared
    chunks across documents are the physically dedupable extents; the
    report is (chunk_hash, occurrences, docs, length, keeper) for
    chunks of >= {_CDC_MIN} tokens in >= 2 docs. Complements the
    text-dedup ladder: exact (whole doc), minhash (similarity),
    winnowing (sampled fingerprints) — CDC recovers FULL shared
    extents, what a dataset-storage layer actually deduplicates.

    Every boundary decision is LOCAL (single-token gear hash), the
    property that makes CDC embarrassingly parallel — no sequential
    min-chunk suppression, the trade FastCDC's normalized chunking
    also makes in spirit; the minimum-length constraint applies at
    REPORT time instead, deterministically on both engines.

    Determinism: cut decisions use the shared md5-prefix det_hash64;
    chunk numbering is an exclusive prefix sum over (doc, position);
    chunk identity is md5 of the space-joined tokens — exact string
    equality, no floats anywhere.

    Scale shape: two token-stream-sized shuffles (the winnowing
    class): one window for the per-doc prefix sum, one groupBy to
    assemble chunks, one combiner'd groupBy for the report. At 100 TB
    the chunk table is corpus-sized but the report is dup-volume-
    sized; production would bucket the chunk store by hash prefix —
    the same layout this plan already shuffles into."""
    from pyspark.sql import Window as W2

    docs = load_parallel(spark, sf_dir, "documents")
    toks = (docs.select(
                "doc_id",
                F.posexplode(F.filter(F.split("text", " "),
                                      lambda x: x != ""))
                .alias("i0", "w"))
            .select("doc_id", (F.col("i0") + 1).alias("i"), "w"))
    cut = F.when(det_hash64(F.col("w")) % _CDC_D == 0, 1).otherwise(0)
    wp = (W2.partitionBy("doc_id").orderBy("i")
          .rowsBetween(W2.unboundedPreceding, -1))
    chunked = toks.select(
        "doc_id", "w", "i",
        F.coalesce(F.sum(cut).over(wp), F.lit(0)).alias("chunk_no"))
    chunks = (chunked.groupBy("doc_id", "chunk_no")
              .agg(F.md5(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("i", "w"))),
                           lambda s: s["w"]), " ")).alias("chunk_hash"),
                   F.count(F.lit(1)).cast("bigint").alias("n_toks")))
    return (chunks.groupBy("chunk_hash")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.min("n_toks").cast("bigint").alias("n_toks"),
                 F.min("doc_id").cast("bigint").alias("keep_doc"))
            .filter((F.col("n_docs") >= 2) & (F.col("n_toks") >= _CDC_MIN)))


# Shared word-SET tokenization (lowercase, whitespace split, empties
# dropped, de-duplicated) — ONE definition per engine, used by both the
# sorted-neighborhood scorer and the cluster-chaining audit so their
# Jaccard semantics cannot drift (review finding: four inline copies).
WORDSET_SQL = ("list_distinct(list_filter(string_split(lower(text), ' '), "
               "x -> x != ''))")


def word_set_col() -> "F.Column":
    return F.array_distinct(F.filter(F.split(F.lower("text"), " "),
                                     lambda x: x != ""))



# ---------------------------------------------------------------------------
# Sorted-neighborhood method (SNM) candidate generation.

_SNM_W = 4       # sliding-window width: each record pairs with the next w-1


@query("dedup_sorted_neighborhood", oracle=f"""
WITH t AS MATERIALIZED (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nkey,
         {WORDSET_SQL} AS ws
  FROM documents),
r AS MATERIALIZED (
  SELECT doc_id, nkey, ws,
         row_number() OVER (ORDER BY nkey, doc_id) AS rn
  FROM t),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(b.rn - a.rn AS BIGINT) AS gap,
         len(list_intersect(a.ws, b.ws)) AS i,
         len(list_distinct(list_concat(a.ws, b.ws))) AS u
  FROM r a JOIN r b
    ON b.rn - a.rn BETWEEN 1 AND {_SNM_W - 1})
SELECT least(doc_a, doc_b) AS doc_a,
       greatest(doc_a, doc_b) AS doc_b, gap,
       CAST(CASE WHEN u = 0 THEN 1000000
                 ELSE (1000000 * i) // u END AS BIGINT) AS jacc_e6
FROM p
WHERE u = 0 OR 2 * i >= u
""")
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD candidate generation (Hernandez & Stolfo
    1995, the merge/purge method) — the third classic blocking family
    next to LSH buckets (dedup_minhash_lsh) and Fellegi-Sunter blocking
    (dedup_record_linkage_fs): sort every record by a normalized key,
    slide a width-{_SNM_W} window down the sort order, and compare only
    records that land within the same window. Near-duplicates with
    small edits sort adjacently, so the candidate set is O(N*w) instead
    of O(N^2), regardless of how skewed any blocking key would be.
    Pairs are scored by word-set Jaccard and reported at >= 0.5
    (integer cross-multiplication 2*i >= u — no float threshold);
    two EMPTY texts are identical by definition (jacc 1e6).

    The global sort rank is computed WITHOUT a global window via the
    corpus_shard_assign two-phase decomposition, with one twist: the
    phase-1 bucket is the key's FIRST CHARACTER — a deterministic RANGE
    bucketing, so (bucket, nkey, doc_id) order IS (nkey, doc_id) order
    and the bucket-offset + within-rank sum reproduces the flat
    row_number exactly (the oracle computes it with one flat window,
    proving the decomposition). Window pairing is then a self-equi-join
    on the rank (a.rn + d = b.rn, d in 1..{_SNM_W - 1}), which also
    pairs ACROSS bucket boundaries — the classic single-node SNM edge
    case — for free. At 100 TB the first-char bucket inherits the
    key distribution's skew; production deepens the prefix (first k
    chars picked from a frequency sketch), which changes nothing in
    the decomposition. One sort-shaped shuffle + one rank-keyed join:
    the N*w candidate volume is the designed output, not a blow-up."""
    from pyspark.sql import Window as W

    docs = load_parallel(spark, sf_dir, "documents")
    nkey = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    t = docs.select(
        "doc_id", nkey.alias("nkey"),
        word_set_col().alias("ws"),
        F.substring(nkey, 1, 1).alias("bucket"))
    wb = W.partitionBy("bucket").orderBy("nkey", "doc_id")
    within = t.withColumn("rin", F.row_number().over(wb))
    counts = t.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    woff = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("off"))
    r = (within.join(F.broadcast(offsets), "bucket")
         .select("doc_id", "ws",
                 (F.col("off") + F.col("rin")).alias("rn")))
    left = r.select(
        F.col("doc_id").alias("id_a"), F.col("ws").alias("ws_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.sequence(F.col("rn") + 1,
                             F.col("rn") + _SNM_W - 1)).alias("rn_b"))
    p = (left.join(r.select(F.col("doc_id").alias("id_b"),
                            F.col("ws").alias("ws_b"),
                            F.col("rn").alias("rn_b")), "rn_b")
         .select("id_a", "id_b",
                 (F.col("rn_b") - F.col("rn_a")).cast("bigint").alias("gap"),
                 F.size(F.array_intersect("ws_a", "ws_b")).alias("i"),
                 F.size(F.array_union("ws_a", "ws_b")).alias("u")))
    return (p.filter((F.col("u") == 0) | (2 * F.col("i") >= F.col("u")))
            .select(F.least("id_a", "id_b").alias("doc_a"),
                    F.greatest("id_a", "id_b").alias("doc_b"), "gap",
                    F.when(F.col("u") == 0, F.lit(1000000))
                    .otherwise(F.floor(1000000 * F.col("i") / F.col("u")))
                    .cast("bigint").alias("jacc_e6")))


# ---------------------------------------------------------------------------
# Transitive-chaining risk audit over duplicate clusters.


def _chaining_oracle() -> str:
    from ..registry import ORACLE_SQL
    return f"""
WITH cc AS MATERIALIZED ({ORACLE_SQL["dedup_connected_components"]}),
ws AS (
  SELECT doc_id, {WORDSET_SQL} AS ws
  FROM documents),
j AS (
  SELECT cc.canonical_id AS cluster, cc.doc_id,
         len(list_intersect(mw.ws, kw.ws)) AS i,
         len(list_distinct(list_concat(mw.ws, kw.ws))) AS u
  FROM cc
  JOIN ws mw ON mw.doc_id = cc.doc_id
  JOIN ws kw ON kw.doc_id = cc.canonical_id
  WHERE cc.doc_id != cc.canonical_id),
scored AS (
  SELECT cluster,
         CASE WHEN u = 0 THEN 1000000
              ELSE (1000000 * i) // u END AS jacc_e6
  FROM j)
SELECT cluster,
       CAST(count(*) + 1 AS BIGINT) AS n_members,
       CAST(min(jacc_e6) AS BIGINT) AS min_jacc_e6,
       CAST(sum(jacc_e6) // count(*) AS BIGINT) AS avg_jacc_e6,
       min(jacc_e6) < 500000 AS chain_risk
FROM scored GROUP BY cluster
"""


@query("dedup_cluster_chaining_audit", eager=True,
       oracle=_chaining_oracle())
def dedup_cluster_chaining_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TRANSITIVE-CHAINING audit of duplicate clusters — the failure
    mode Lee et al. 2022 (dedup for LM training) warn about when
    near-dup PAIRS are closed into connected components: A~B and B~C
    certify nothing about A~C, so a long chain can glue documents the
    pair threshold would never match, and the cluster's canonical then
    "represents" content it barely resembles. Per cluster, recompute
    the DIRECT word-set Jaccard from every member to the kept
    canonical; a cluster whose weakest member-canonical similarity
    falls below half the pair space (min_jacc_e6 < 500000) is flagged
    chain_risk — the clusters a release pipeline re-splits or
    re-verifies before dropping members (complementing
    multimodal_ssim_pairs / text_bleu_pairs, which verify PAIRS — this
    verifies the CLOSURE).

    Composition: clusters are the registered dedup_cc_two_phase_star
    builder (Spark side; re-based from the min-label loop per the r09
    verdict — this audit rides the same giant path-shaped clusters
    that made license propagation 14x at 100x, and the star CC
    re-measures flat) against the recursive-CTE closure oracle; the
    two CC derivations are agreement-tested label-identical. Two EMPTY
    members are identical by definition (jacc 1e6, the SNM convention);
    averages are floored integer micro-units.

    Scale shape: the cluster table is dup-volume-sized; the audit adds
    two doc_id equi-joins to fetch word sets (the canonical side is
    cluster-count-sized, broadcastable) and one grouped min/avg. At
    100 TB nothing exceeds the dedup pipeline's own candidate volume —
    the audit rides the same keys."""
    cc = dedup_cc_two_phase_star(spark, sf_dir)
    docs = load_parallel(spark, sf_dir, "documents")
    ws = docs.select("doc_id", word_set_col().alias("ws"))
    members = (cc.filter(F.col("doc_id") != F.col("canonical_id"))
               .join(ws.select(F.col("doc_id"), F.col("ws").alias("mws")),
                     "doc_id")
               .join(ws.select(F.col("doc_id").alias("canonical_id"),
                               F.col("ws").alias("kws")),
                     "canonical_id"))
    i = F.size(F.array_intersect("mws", "kws"))
    u = F.size(F.array_union("mws", "kws"))
    scored = members.select(
        F.col("canonical_id").alias("cluster"),
        F.when(u == 0, F.lit(1000000))
        .otherwise(F.floor(1000000 * i / u)).alias("jacc_e6"))
    return (scored.groupBy("cluster")
            .agg((F.count(F.lit(1)) + 1).cast("bigint").alias("n_members"),
                 F.min("jacc_e6").cast("bigint").alias("min_jacc_e6"),
                 F.expr("CAST(sum(jacc_e6) DIV count(*) AS BIGINT)")
                 .alias("avg_jacc_e6"),
                 (F.min("jacc_e6") < 500000).alias("chain_risk")))


# ---------------------------------------------------------------------------
# Prototypicality-based data pruning (SSL-prototypes metric).

_PROTO_PRUNE_NUM, _PROTO_PRUNE_DEN = 3, 10   # prune the 30% easiest/cell


@query("corpus_prototypicality_prune", oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e
          WHERE vec_id < {SEM_CELLS}),
d AS (
  SELECT e.vec_id, s.cid,
         round(list_aggregate(
           list_transform(range(1, len(e.emb) + 1),
             i -> pow(e.emb[CAST(i AS INTEGER)]
                      - s.cemb[CAST(i AS INTEGER)], 2)),
           'sum'), 9) AS d2
  FROM e CROSS JOIN seeds s),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d) WHERE rn = 1),
scored AS (
  SELECT a.vec_id, a.cell,
         CAST(round((1 - round(list_cosine_similarity(e.emb, s.cemb), 6))
                    * 1000000) AS BIGINT) AS dist_e6
  FROM asg a
  JOIN e ON e.vec_id = a.vec_id
  JOIN seeds s ON s.cid = a.cell
  WHERE list_aggregate(list_transform(e.emb, x -> x * x), 'sum') > 0
    AND list_aggregate(list_transform(s.cemb, x -> x * x), 'sum') > 0),
ranked AS (
  SELECT vec_id, cell, dist_e6,
         row_number() OVER (PARTITION BY cell
                            ORDER BY dist_e6, vec_id) AS proto_rank,
         count(*) OVER (PARTITION BY cell) AS n_cell
  FROM scored)
SELECT vec_id, CAST(cell AS BIGINT) AS cell,
       dist_e6, CAST(proto_rank AS BIGINT) AS proto_rank,
       CAST(n_cell AS BIGINT) AS n_cell,
       proto_rank <= (n_cell * {_PROTO_PRUNE_NUM}) // {_PROTO_PRUNE_DEN}
         AS pruned
FROM ranked
""")
def corpus_prototypicality_prune(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """PROTOTYPICALITY-based data pruning (Sorscher et al. 2022,
    "Beyond neural scaling laws" — the SSL-prototypes metric, public):
    in the large-data regime, the EASY examples — those closest to
    their cluster prototype — are the most redundant, and pruning them
    beats random pruning; keep the hard tail. Each vector is scored by
    cosine distance to its cell's prototype, ranked within its cell
    (rank 1 = most prototypical = easiest), and the top
    {_PROTO_PRUNE_NUM}/{_PROTO_PRUNE_DEN} easiest per cell are marked
    pruned — the third embedding-curation verdict next to SemDeDup
    (drop near-DUPLICATES) and k-center (keep COVERAGE): this one
    drops the REDUNDANT CORE.

    The quantizer is the SemDeDup deterministic first-{SEM_CELLS}-seed
    assignment reused verbatim (same CTE shape, same 9-digit argmin),
    so the cell structure is shared across the curation family; the
    distance grid is the LOF micro-unit recipe (round cos to 6 first,
    then scale — the product is then integer-exact). Zero-norm vectors
    drop from scoring identically on both engines (cosine undefined).

    Scale shape: one narrow assignment pass (centroids fold into the
    scan as literals), one equi-join to fetch the prototype, one
    cell-keyed window — no pairwise anything, the property that makes
    prototypicality the cheapest of the three curation passes. At
    100 TB the seeds come from the trained IVF quantizer and the
    window keys on cell — all combiner-friendly."""
    from ..functions.vector import dot_col, l2norm_col
    from pyspark.sql import Window as W

    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm")))
    v = F.col("embedding").cast("array<double>")
    seeds = {r["vec_id"]: list(r["e"]) for r in
             emb.filter(F.col("vec_id") < SEM_CELLS)
             .select("vec_id", v.alias("e")).collect()}
    # The struct carries BOTH the true cid (`c`, what the output and the
    # oracle join key on) and the seed's POSITION in sorted(seeds) (`p`,
    # what element_at on the sorted-order cosine array needs). Indexing
    # the array by raw cid would silently read the wrong seed whenever
    # vec_ids below SEM_CELLS are non-contiguous (advisor r09). `p` sits
    # after (d, c) in the struct so array_sort's ordering is unchanged.
    _pos_of = {cid: i for i, cid in enumerate(sorted(seeds))}
    best = F.element_at(
        F.array_sort(F.array(*[
            F.struct(
                F.round(F.aggregate(
                    F.zip_with(v, F.lit(cvec), lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0), lambda a, y: a + y), 9).alias("d"),
                F.lit(cid).cast("bigint").alias("c"),
                F.lit(_pos_of[cid]).cast("int").alias("p"))
            for cid, cvec in sorted(seeds.items())])), 1)
    import math
    seed_norms = {cid: math.sqrt(sum(x * x for x in cvec))
                  for cid, cvec in seeds.items()}
    asg = (emb.withColumn("cell", best["c"])
           .withColumn("cpos", best["p"])
           .filter(F.col("nrm") > 0))
    # prototype folds in as a literal per cell: cos = dot(v, seed)/(|v||seed|)
    # zero-norm PROTOTYPE (a degenerate seed): its cell's members have
    # undefined cosine-to-prototype and drop from scoring. try_divide,
    # not /: Catalyst substitutes this expression into the downstream
    # isNotNull FILTER predicate, which can evaluate BEFORE the nrm > 0
    # filter in the collapsed scan stage — ANSI "/" then raises on the
    # zero-norm rows the filter was about to drop (caught by the
    # degenerate-embeddings sweep)
    cos_to_proto = F.element_at(
        F.array(*[
            (F.lit(None).cast("double") if seed_norms[cid] == 0
             else F.round(F.try_divide(
                 F.aggregate(
                     F.zip_with(v, F.lit(cvec), lambda x, c: x * c),
                     F.lit(0.0), lambda a, y: a + y),
                 F.col("nrm") * F.lit(seed_norms[cid])), 6))
            for cid, cvec in sorted(seeds.items())]),
        F.col("cpos") + 1)
    scored = (asg.withColumn("cos_p", cos_to_proto)
              .filter(F.col("cos_p").isNotNull())
              .select("vec_id", "cell",
                      F.round((1 - F.col("cos_p")) * 1000000)
                      .cast("bigint").alias("dist_e6")))
    w = W.partitionBy("cell").orderBy("dist_e6", "vec_id")
    wc = W.partitionBy("cell")
    ranked = (scored
              .withColumn("proto_rank", F.row_number().over(w))
              .withColumn("n_cell", F.count(F.lit(1)).over(wc)))
    thr = F.expr(f"(n_cell * {_PROTO_PRUNE_NUM}) DIV {_PROTO_PRUNE_DEN}")
    return ranked.select(
        "vec_id", F.col("cell").cast("bigint").alias("cell"), "dist_e6",
        F.col("proto_rank").cast("bigint").alias("proto_rank"),
        F.col("n_cell").cast("bigint").alias("n_cell"),
        (F.col("proto_rank") <= thr).alias("pruned"))


# ---------------------------------------------------------------------------
# k-center greedy coreset selection (farthest-point traversal).

_KC_K = 6        # selected representatives (seed + 5 greedy rounds)


def _kcenter_round_sql(prev_d: str, k: int) -> str:
    """One unrolled greedy round: pick the argmax of the current
    min-distance, then fold its distances into the running minimum."""
    return f"""
c{k} AS MATERIALIZED (SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY d DESC, vec_id) AS rn
    FROM {prev_d}) WHERE rn = 1),
r{k} AS MATERIALIZED (SELECT {prev_d}.vec_id, {prev_d}.d
         FROM {prev_d} JOIN c{k} ON c{k}.vec_id = {prev_d}.vec_id),
s{k} AS MATERIALIZED (
  SELECT nz.vec_id, nz.emb FROM nz JOIN c{k} USING (vec_id)),
d{k} AS MATERIALIZED (
  SELECT n.vec_id,
         least(p.d, CAST(round((1 - round(
             list_cosine_similarity(n.emb, s.emb), 6)) * 1000000)
             AS BIGINT)) AS d
  FROM nz n
  JOIN {prev_d} p ON p.vec_id = n.vec_id
  CROSS JOIN s{k} s
  WHERE n.vec_id != s.vec_id)"""


def _kcenter_oracle() -> str:
    rounds = "".join(
        "," + _kcenter_round_sql(f"d{k - 1}", k)
        for k in range(1, _KC_K))
    sel_union = "\nUNION ALL\n".join(
        f"SELECT {k} AS sel_round, c{k}.vec_id, r{k}.d AS radius_e6 "
        f"FROM c{k} JOIN r{k} ON r{k}.vec_id = c{k}.vec_id"
        for k in range(1, _KC_K))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
nz AS MATERIALIZED (SELECT vec_id, emb FROM e
       WHERE list_aggregate(list_transform(emb, x -> x * x), 'sum') > 0),
c0 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM nz),
s0 AS MATERIALIZED (
  SELECT nz.vec_id, nz.emb FROM nz JOIN c0 USING (vec_id)),
d0 AS MATERIALIZED (
  SELECT n.vec_id,
         CAST(round((1 - round(list_cosine_similarity(n.emb, s.emb), 6))
                    * 1000000) AS BIGINT) AS d
  FROM nz n CROSS JOIN s0 s
  WHERE n.vec_id != s.vec_id){rounds}
SELECT CAST(0 AS BIGINT) AS sel_round,
       CAST(c0.vec_id AS BIGINT) AS vec_id,
       CAST(NULL AS BIGINT) AS radius_e6
FROM c0
UNION ALL
SELECT CAST(sel_round AS BIGINT), CAST(vec_id AS BIGINT),
       CAST(radius_e6 AS BIGINT)
FROM ({sel_union})
"""


@query("corpus_kcenter_coreset", eager=True, oracle=_kcenter_oracle())
def corpus_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER GREEDY coreset selection (Gonzalez 1985 farthest-point
    traversal; Sener & Savarese ICLR 2018 made it THE coreset rule for
    data selection): iteratively pick the vector FARTHEST from the
    current selection (max-min cosine distance), the 2-approximation
    of the k-center cover. Where SemDeDup drops near-duplicates and
    prototypicality prunes the redundant core, k-center keeps COVERAGE
    — the {_KC_K} representatives whose radius_e6 column IS the
    coverage guarantee (every vector sits within radius_e6 of the
    selection made so far; the monotonically shrinking radii are the
    curve a curation run reports).

    Determinism: distances on the LOF micro grid (cos rounded to 6
    first, then scaled — integer-exact), argmax ties to the lower
    vec_id, seed = lowest nonzero-norm id. The oracle unrolls the
    {_KC_K - 1} greedy rounds as CTE chains with scalar-subquery
    center lookups; the Spark side folds each collected center into
    the NEXT round's scan as a literal vector, so every round is one
    NARROW pass + one 1-row argmax collect ({_KC_K - 1} collects of
    driver-weight-sized state — the trainer-loop precedent).

    Scale shape: K narrow passes over the corpus, each computing one
    cosine against a literal center and a running least() — no joins,
    no shuffles except the K argmax reductions (TakeOrdered). At
    100 TB with larger K, batch rounds by selecting the top-B farthest
    per round (the standard batched k-center trade) — the loop shape
    is unchanged."""
    import math

    from ..functions.vector import l2norm_col

    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm"))
           .filter(F.col("nrm") > 0))
    v = F.col("embedding").cast("array<double>")

    def dist_to(cvec: list, cnorm: float):
        cos = F.round(F.aggregate(
            F.zip_with(v, F.lit(cvec), lambda x, c: x * c),
            F.lit(0.0), lambda a, y: a + y) / (F.col("nrm") * F.lit(cnorm)), 6)
        return F.round((1 - cos) * 1000000).cast("bigint")

    seed = (emb.orderBy("vec_id").limit(1)
            .select("vec_id", v.alias("e")).collect()[0])
    sel = [(0, int(seed["vec_id"]), None)]
    svec = list(seed["e"])
    cur = (emb.filter(F.col("vec_id") != seed["vec_id"])
           .select("vec_id", "embedding", "nrm",
                   dist_to(svec, math.sqrt(sum(x * x for x in svec)))
                   .alias("d")))
    for k in range(1, _KC_K):
        got = (cur.orderBy(F.desc("d"), F.asc("vec_id")).limit(1)
               .select("vec_id", v.alias("e"), "d").collect())
        if not got:        # corpus smaller than K: selection exhausted
            break          # (oracle's empty d{{k}} chain stops the same way)
        far = got[0]
        sel.append((k, int(far["vec_id"]), int(far["d"])))
        cvec = list(far["e"])
        cur = (cur.filter(F.col("vec_id") != far["vec_id"])
               .select("vec_id", "embedding", "nrm",
                       F.least(
                           F.col("d"),
                           dist_to(cvec,
                                   math.sqrt(sum(x * x for x in cvec))))
                       .alias("d")))
    return spark.createDataFrame(
        sel, "sel_round bigint, vec_id bigint, radius_e6 bigint")


# ---------------------------------------------------------------------------
# k-truss decomposition of the near-dup pair graph.

_KTRUSS_K = 3          # every kept edge must sit in >= k-2 = 1 triangle
_KTRUSS_ROUNDS = 3     # unrolled peel rounds; fixpoint pinned by test


def _ktruss_round_sql(prev: str, cur: str) -> str:
    """One support-peel round as oracle CTE text: per-edge triangle
    support via the symmetric-adjacency wedge join, then keep edges
    with support >= k-2. Edges in zero triangles get no support row
    and drop via the inner join."""
    return f"""
und_{cur} AS MATERIALIZED (
  SELECT doc_a AS node, doc_b AS nbr FROM {prev}
  UNION ALL SELECT doc_b, doc_a FROM {prev}),
sup_{cur} AS MATERIALIZED (
  SELECT e.doc_a, e.doc_b, CAST(count(*) AS BIGINT) AS support
  FROM {prev} e
  JOIN und_{cur} a ON a.node = e.doc_a
  JOIN und_{cur} b ON b.node = e.doc_b AND b.nbr = a.nbr
  GROUP BY e.doc_a, e.doc_b),
{cur} AS MATERIALIZED (
  SELECT doc_a, doc_b, support FROM sup_{cur}
  WHERE support >= {_KTRUSS_K - 2})"""


def _ktruss_oracle() -> str:
    rounds = "".join(
        "," + _ktruss_round_sql(f"ktr{r - 1}", f"ktr{r}")
        for r in range(1, _KTRUSS_ROUNDS + 1))
    return f"""
WITH {_LSH_PAIRS_SQL.lstrip()},
ktr0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs)
{rounds}
SELECT doc_a, doc_b, support FROM ktr{_KTRUSS_ROUNDS}
"""


@query("graph_ktruss", eager=True, oracle=_ktruss_oracle())
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KTRUSS_K}-TRUSS decomposition of the near-dup pair graph
    (Cohen 2008, "Trusses: cohesive subgraphs for social network
    analysis"): the maximal subgraph in which EVERY EDGE sits in at
    least k-2 = {_KTRUSS_K - 2} triangle(s) of the subgraph itself —
    strictly stronger cohesion than k-core (which bounds degrees, not
    embeddedness; graph_kcore_dup_clusters is the sibling). In a dedup
    pipeline the truss isolates the boilerplate CLIQUES a release drops
    wholesale, while cutting the single-edge bridges that chain
    unrelated clusters together — the structural complement to
    dedup_cluster_chaining_audit's similarity-based chain flag.

    Peeling is {_KTRUSS_ROUNDS} unrolled support-recompute rounds
    (support is INTEGER triangle counting via the ordered-wedge join of
    graph_triangle_count, so rounds are hash-exact); dropping an edge
    can only lower other edges' supports, so supports decrease
    monotonically and the fixture reaches its fixpoint inside the
    unroll — certified by tests/test_llm_ops_oracle.py recomputing
    support over the OUTPUT edge set and asserting every kept edge
    still clears k-2 (the truss invariant, not just a truncated loop).

    Scale shape: each round is one symmetric-adjacency expansion + one
    wedge equi-join + one edge-keyed count — the Σ deg² triangle bound
    on a graph that only SHRINKS per round; at web scale the same loop
    runs with the min_label_cc checkpoint discipline and O(log)
    peel rounds suffice for the truss numbers releases actually gate
    on (k <= 5)."""
    # each round references the shrinking edge list ~5x (adjacency
    # expansion twice, both wedge sides, the keep filter) on top of the
    # full LSH plan — localCheckpoint between rounds keeps the lineage
    # flat (the min_label_cc discipline; without it round 3's plan
    # string OOMs the driver)
    # eager=False checkpoints: lineage still truncates per round, but
    # the rounds' result stages materialize inside downstream actions
    # instead of one driver-blocking job each (the unroll is FIXED, so
    # no round needs its own count — unlike the data-dependent CC loop)
    edges = (dedup_minhash_lsh(spark, sf_dir)
             .select("doc_a", "doc_b").localCheckpoint(eager=False))
    out = None
    # edge volumes are dup-pair-sized KBs: AQE coalesces each round's
    # shuffles down from the caller's session width
    for _ in range(_KTRUSS_ROUNDS):
        und = (edges.select(F.col("doc_a").alias("node"),
                            F.col("doc_b").alias("nbr"))
               .unionAll(edges.select(F.col("doc_b").alias("node"),
                                      F.col("doc_a").alias("nbr"))))
        sup = (edges
               .join(und.select(F.col("node").alias("doc_a"),
                                F.col("nbr").alias("wa")), "doc_a")
               .join(und.select(F.col("node").alias("doc_b"),
                                F.col("nbr").alias("wb")), "doc_b")
               .filter(F.col("wa") == F.col("wb"))
               .groupBy("doc_a", "doc_b")
               .agg(F.count(F.lit(1)).cast("bigint").alias("support")))
        out = (sup.filter(F.col("support") >= _KTRUSS_K - 2)
               .localCheckpoint(eager=False))
        edges = out.select("doc_a", "doc_b")
    return out


# ---------------------------------------------------------------------------
# Facility-location greedy selection (submodular corpus subset).

_FL_POOL = 40     # declared candidate pool: vec_id < _FL_POOL
_FL_K = 3         # greedy selections


def _fl_round_sql(k: int) -> str:
    """One unrolled greedy round: marginal facility-location gain per
    remaining candidate against the running coverage, argmax with
    (gain DESC, vec_id) tiebreak, then coverage update."""
    excl = " AND ".join(
        f"s.cid NOT IN (SELECT vec_id FROM fsel{j})" for j in range(1, k))
    excl = ("WHERE " + excl) if excl else ""
    return f"""
fg{k} AS MATERIALIZED (
  SELECT s.cid, CAST(sum(greatest(s.sim - p.cov, 0)) AS BIGINT) AS gain
  FROM fsims s JOIN fcov{k - 1} p ON p.did = s.did
  {excl}
  GROUP BY s.cid),
fsel{k} AS MATERIALIZED (
  SELECT cid AS vec_id, gain FROM (
    SELECT cid, gain, row_number() OVER (ORDER BY gain DESC, cid) AS rn
    FROM fg{k}) WHERE rn = 1),
fcov{k} AS MATERIALIZED (
  SELECT p.did, greatest(p.cov, coalesce(u.sim, 0)) AS cov
  FROM fcov{k - 1} p
  LEFT JOIN (SELECT s.did, s.sim FROM fsims s
             JOIN fsel{k} ON s.cid = fsel{k}.vec_id) u ON u.did = p.did),
ftot{k} AS MATERIALIZED (
  SELECT CAST(sum(cov) AS BIGINT) AS tot FROM fcov{k})"""


def _fl_oracle() -> str:
    rounds = "".join("," + _fl_round_sql(k) for k in range(1, _FL_K + 1))
    sel_union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS sel_round, fsel{k}.vec_id, "
        f"fsel{k}.gain AS gain_e6, ftot{k}.tot AS total_cov_e6 "
        f"FROM fsel{k}, ftot{k}"
        for k in range(1, _FL_K + 1))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
nz AS MATERIALIZED (SELECT vec_id, emb FROM e
       WHERE list_aggregate(list_transform(emb, x -> x * x), 'sum') > 0),
fcand AS MATERIALIZED (SELECT vec_id, emb FROM nz
                       WHERE vec_id < {_FL_POOL}),
fsims AS MATERIALIZED (
  SELECT c.vec_id AS cid, n.vec_id AS did,
         CAST(round(round(list_cosine_similarity(c.emb, n.emb), 6)
                    * 1000000) AS BIGINT) AS sim
  FROM fcand c CROSS JOIN nz n),
fcov0 AS MATERIALIZED (
  SELECT vec_id AS did, CAST(0 AS BIGINT) AS cov FROM nz)
{rounds}
{sel_union}
"""


@query("corpus_facility_location", eager=True, oracle=_fl_oracle())
def corpus_facility_location(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """FACILITY-LOCATION greedy subset selection (Lin & Bilmes ACL 2011
    submodular summarization; Wei, Iyer & Bilmes ICML 2015 data-subset
    selection — the standard submodular objective for picking a
    REPRESENTATIVE training subset): maximize F(S) = sum_d max_{s in S}
    sim(d, s), greedily — each round adds the candidate with the
    largest MARGINAL coverage gain, the classic (1 - 1/e)-approximation.
    Fourth verdict in the embedding-curation family: SemDeDup drops
    near-duplicates, k-center keeps the COVER (minimax), prototypicality
    drops the redundant core — facility location keeps the
    REPRESENTATIVES (maximean).

    Candidates come from the declared vec_id < {_FL_POOL} pool (the
    N_QUERIES convention — production runs stochastic-greedy over a
    sampled pool, Mirzasoleiman et al. 2015, which this IS); gains and
    coverage live on the e6 integer micro-grid (cosine rounded to 6
    then scaled), so every marginal gain, argmax, and objective value
    is exact int64 on both engines — the k-center numerics carried to
    the submodular objective. Ties break (gain DESC, vec_id).

    Scale shape: ONE pool x corpus scored pass (broadcast the
    {_FL_POOL}-row pool), then per round one coverage join + one
    {_FL_POOL}-row argmax + one narrow coverage fold — each round is
    corpus-linear with model-sized state, checkpointed like the other
    greedy loops. Output: (sel_round, vec_id, gain_e6, total_cov_e6) —
    the selection log with the monotone objective curve
    (pinned non-decreasing with diminishing returns in tests)."""
    from ..functions.vector import l2norm_col
    from ..tables import load_parallel

    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", F.col("embedding").cast("array<double>")
                   .alias("emb"),
                   l2norm_col(F.col("embedding")).alias("nrm"))
           .filter(F.col("nrm") > 0))
    cand = emb.filter(F.col("vec_id") < _FL_POOL)
    from ..functions.vector import dot_col

    sims = (F.broadcast(cand.select(F.col("vec_id").alias("cid"),
                                    F.col("emb").alias("ce"),
                                    F.col("nrm").alias("cn")))
            .crossJoin(emb.select(F.col("vec_id").alias("did"),
                                  F.col("emb").alias("de"),
                                  F.col("nrm").alias("dn")))
            .select("cid", "did",
                    F.round(F.round(dot_col(F.col("ce"), F.col("de"))
                                    / (F.col("cn") * F.col("dn")), 6)
                            * 1000000).cast("bigint").alias("sim"))
            .persist())
    cov = emb.select(F.col("vec_id").alias("did"),
                     F.lit(0).cast("bigint").alias("cov"))
    selected: list[int] = []
    gains: list[int] = []
    # ONE action per greedy round (the argmax) instead of three: cov is
    # kept as a LAZY 3-deep join chain over the persisted sims table
    # (model-sized, re-derived inside each argmax job for pennies), and
    # the per-round objective totals are folded into a single
    # conditional-aggregation job AFTER the loop — round k's coverage is
    # max(0, max_{j<=k} sim_j(did)), so all K totals come from one
    # groupBy(did) pass. Was: argmax + localCheckpoint + total = 3 jobs
    # x K rounds (guide §1.2: remove driver-loop passes first).
    for k in range(1, _FL_K + 1):
        g = (sims.filter(~F.col("cid").isin(selected)) if selected
             else sims)
        best = (g.join(cov, "did")
                .groupBy("cid")
                .agg(F.sum(F.greatest(F.col("sim") - F.col("cov"),
                                      F.lit(0))).cast("bigint")
                     .alias("gain"))
                .orderBy(F.desc("gain"), F.asc("cid"))
                .first())
        sel, gain = int(best["cid"]), int(best["gain"])
        selected.append(sel)
        gains.append(gain)
        upd = sims.filter(F.col("cid") == sel).select("did", "sim")
        cov = (cov.join(upd, "did", "left")
               .select("did", F.greatest(F.col("cov"),
                                         F.coalesce(F.col("sim"),
                                                    F.lit(0)))
                       .alias("cov")))
    per_doc = (emb.select(F.col("vec_id").alias("did"))
               .join(sims.filter(F.col("cid").isin(selected)), "did", "left")
               .groupBy("did")
               .agg(*[F.greatest(
                          F.coalesce(
                              F.max(F.when(
                                  F.col("cid").isin(selected[:k]),
                                  F.col("sim"))), F.lit(0)),
                          F.lit(0)).cast("bigint").alias(f"c{k}")
                      for k in range(1, _FL_K + 1)]))
    tot_row = per_doc.agg(*[F.sum(f"c{k}").cast("bigint").alias(f"t{k}")
                            for k in range(1, _FL_K + 1)]).first()
    rows = [(k, selected[k - 1], gains[k - 1], int(tot_row[f"t{k}"]))
            for k in range(1, _FL_K + 1)]
    sims.unpersist()
    return spark.createDataFrame(
        rows, "sel_round bigint, vec_id bigint, gain_e6 bigint, "
              "total_cov_e6 bigint")


# ---------------------------------------------------------------------------
# Multi-probe SemDeDup quantizer + the sampled-panel precision/recall eval.
#
# Round 10's eval MEASURED the single-assignment quantizer's cross-cell
# pair recall at 0.203 — cell-restricted comparison misses ~80% of true
# duplicate pairs whose endpoints quantize to different cells. The fix is
# the standard IVF MULTI-PROBE trick (the sim_ivfpq_topk NPROBE routing,
# applied to the dedup side): assign every vector to its SEM_PROBES
# nearest cells instead of only the nearest, and compare pairs that share
# ANY probe cell. Pair work grows by at most SEM_PROBES^2 per cell —
# still Sum(|cell|^2)-bounded, never all-pairs — while measured recall
# rises 0.203 -> 0.789 at sf0.01 and 0.329 -> 0.926 at sf0.1 (panel
# eval below; SCALE.md round 11).

SEM_PROBES = 3   # probe cells per vector (2 was measured insufficient:
                 # panel recall 0.49 at sf0.01; 3 clears the >=0.6 bar
                 # at both SFs with 9x the single-probe pair constant)
SEM_EVAL_Q = 200  # sampled truth panel for the eval's recall side: all
                  # true pairs with >= 1 endpoint in the first-200 panel
                  # (|panel| x n scored pairs, the sim_graph_recall_eval
                  # convention — replaces round 10's O(n^2) truth side,
                  # 112.7 s at sf0.1 and quadratic beyond)


def _sem_quantizer_sql(probes: int, cap: int | None = None) -> str:
    """Shared oracle CTE text for the probe-P SemDeDup quantizer:
    assignment (asg: one row per vector per probe rank <= P, with d2),
    primary cells (prim), the optional per-cell centroid-proximal cap
    (kept), zero-norm-guarded embeddings (nz), threshold-qualifying
    within-probe-cell pairs (qp), and the drop set (drops). Both the
    quantizer queries and the eval queries compose on this one text so
    assignment/pair semantics cannot drift between them."""
    kept = (f""",
kept AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS rk
    FROM asg) WHERE rk <= {cap})""" if cap is not None else """,
kept AS (SELECT vec_id, cell FROM asg)""")
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
seeds AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < {SEM_CELLS}),
dmat AS (
  SELECT e.vec_id, s.cid,
         round(list_aggregate(
           list_transform(range(1, len(e.emb) + 1),
             i -> pow(e.emb[CAST(i AS INTEGER)]
                      - s.cemb[CAST(i AS INTEGER)], 2)),
           'sum'), 9) AS d2
  FROM e CROSS JOIN seeds s
),
asg AS MATERIALIZED (
  SELECT vec_id, cid AS cell, d2, rn FROM (
    SELECT vec_id, cid, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dmat) WHERE rn <= {probes}){kept},
prim AS (SELECT vec_id, cell FROM asg WHERE rn = 1),
nz AS MATERIALIZED (
  SELECT vec_id, emb FROM e
  WHERE list_aggregate(list_transform(emb, x -> x * x), 'sum') > 0),
qp AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM kept a JOIN kept b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN nz ea ON ea.vec_id = a.vec_id
  JOIN nz eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= {SEM_TAU}),
drops AS (SELECT DISTINCT vb AS vec_id FROM qp)"""


def _sem_probe_frames(spark: SparkSession, sf_dir: str, probes: int,
                      cap: int | None = None):
    """Spark twin of _sem_quantizer_sql: returns (primary, probe,
    qpairs) — primary(vec_id, cell) is the rank-1 assignment every
    verdict row reports; probe(vec_id, pcell, ...) is the exploded
    probe-cell table (optionally capped per cell with the two-phase
    sharded rank, the dedup_semdedup_capped mega-cell discipline);
    qpairs(va, vb) are the distinct threshold-qualifying pairs sharing
    >= 1 probe cell. Candidate pairs are DISTINCT'd before the cosine
    join so a pair sharing several probe cells is scored once.

    probe and qpairs are memoized + persisted per (session, sf_dir,
    probes, cap) — the semdedup_capped kept-set precedent (evicted by
    clear_signature_cache): five registered queries (both multiprobe
    verdicts + three panel evals) derive from these frames, and within
    one query the drop/partner/in_cap consumers reference them several
    times — left lazy, the quantize->explode->rank->pair->cosine
    subtree re-executed per reference (dedup_semdedup_mp_eval_pr's
    physical plan carried 36 parquet scans / 94 exchanges,
    plans/r11/dedup_semdedup_mp_eval_pr_before.txt)."""
    return memo_register(spark, f"semprobe::{probes}::{cap}::{sf_dir}",
                         lambda: _sem_probe_build(spark, sf_dir, probes, cap))


def _sem_probe_build(spark: SparkSession, sf_dir: str, probes: int,
                     cap: int | None):
    """Build body of _sem_probe_frames: persists probe and qpairs; the
    caller memoizes the triple under its single-flight lock."""
    from pyspark.sql import Window as W

    from ..functions.vector import dot_col, l2norm_col

    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm")))
    v = F.col("embedding").cast("array<double>")
    seeds = {r["vec_id"]: list(r["e"]) for r in
             emb.filter(F.col("vec_id") < SEM_CELLS)
             .select("vec_id", v.alias("e")).collect()}
    ranked = F.slice(
        F.array_sort(F.array(*[
            F.struct(
                F.round(F.aggregate(
                    F.zip_with(v, F.lit(cvec), lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0), lambda a, y: a + y), 9).alias("d"),
                F.lit(cid).cast("bigint").alias("c"))
            for cid, cvec in sorted(seeds.items())])), 1, probes)
    asg = emb.withColumn("pr", ranked)
    primary = asg.select(
        "vec_id", F.element_at(F.col("pr"), 1)["c"].alias("cell"))
    probe = (asg.select("vec_id", "nrm", F.explode("pr").alias("p"))
             .select("vec_id", "nrm",
                     F.col("p")["c"].alias("pcell"),
                     F.col("p")["d"].alias("pd2")))
    if cap is not None:
        # two-phase sharded per-cell top-cap (bit-identical to the
        # single-window oracle form by the distributed-TopK merge
        # argument — dedup_semdedup_capped's docstring)
        lrk = F.row_number().over(
            W.partitionBy("pcell", F.pmod(F.col("vec_id"),
                                          F.lit(SEM_CAP_SHARDS)))
            .orderBy("pd2", "vec_id"))
        local = (probe.withColumn("lrk", lrk)
                 .filter(F.col("lrk") <= cap).drop("lrk"))
        rk = F.row_number().over(
            W.partitionBy("pcell").orderBy("pd2", "vec_id"))
        probe = (local.withColumn("rk", rk)
                 .filter(F.col("rk") <= cap).drop("rk"))
    pairable = probe.filter(F.col("nrm") > 0)
    cand = (pairable.select(F.col("vec_id").alias("va"), "pcell")
            .join(pairable.select(F.col("vec_id").alias("vb"), "pcell"),
                  "pcell")
            .filter(F.col("va") < F.col("vb"))
            .select("va", "vb").distinct())
    ea = emb.select(F.col("vec_id").alias("va"),
                    F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    eb = emb.select(F.col("vec_id").alias("vb"),
                    F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    cos = F.round(dot_col(F.col("ea"), F.col("eb"))
                  / (F.col("na") * F.col("nb")), 6)
    qpairs = (cand.join(ea, "va").join(eb, "vb")
              .filter(cos >= SEM_TAU).select("va", "vb"))
    return primary, probe.persist(), qpairs.persist()


@query("dedup_semdedup_multiprobe", oracle=f"""
WITH {_sem_quantizer_sql(SEM_PROBES)}
SELECT p.vec_id, CAST(p.cell AS BIGINT) AS cell,
       drops.vec_id IS NOT NULL AS dropped
FROM prim p LEFT JOIN drops USING (vec_id)
""")
def dedup_semdedup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE SemDeDup — the round-11 fix for the measured
    cross-cell recall gap (dedup_semdedup_eval_pr pinned the
    single-assignment quantizer at pair recall 0.203): every vector is
    assigned to its {SEM_PROBES} nearest cells (same 9-digit-rounded
    squared distance, (d2, cid) order — the probe list is a rank
    prefix, so probe 1 reproduces dedup_semantic_semdedup's assignment
    exactly), and the pairwise compare runs over pairs sharing ANY
    probe cell. A cross-cell duplicate pair is now caught whenever
    either endpoint's probe list reaches the other's region — the
    standard IVF multi-probe trick (the sim_ivfpq_topk NPROBE routing
    applied to dedup). Verdict row per vector: (vec_id, cell, dropped)
    with cell the PRIMARY assignment, drop-compatible with the
    single-probe verdict so downstream rungs swap in unchanged.

    Measured on the panel eval (dedup_semdedup_mp_eval_pr): pair
    recall 0.211 -> 0.789 at sf0.01, 0.417 -> 0.926 at sf0.1, with
    drop precision still exactly 1e6 (drops stay threshold-verified).

    Scale shape: assignment is the same narrow codegen pass (the probe
    list is a slice of the already-computed sort); the pair join fans
    out by at most {SEM_PROBES}x per side within a cell — cost
    Sum(|cell|^2) x {SEM_PROBES}^2, still never all-pairs; candidates
    are DISTINCT'd before the single cosine-verification join. At
    100 TB probes route exactly like IVF nprobe: each vector posts to
    {SEM_PROBES} cells, cells shard the pairwise work unchanged."""
    primary, _, qpairs = _sem_probe_frames(spark, sf_dir, SEM_PROBES)
    drops = (qpairs.select(F.col("vb").alias("vec_id")).distinct()
             .withColumn("hit", F.lit(True)))
    return (primary.join(drops, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce(F.col("hit"), F.lit(False)).alias("dropped")))


@query("dedup_semdedup_multiprobe_capped", oracle=f"""
WITH {_sem_quantizer_sql(SEM_PROBES, cap=SEM_CAP_M)}
SELECT p.vec_id, CAST(p.cell AS BIGINT) AS cell,
       ic.vec_id IS NOT NULL AS in_cap,
       drops.vec_id IS NOT NULL AS dropped
FROM prim p
LEFT JOIN (SELECT DISTINCT vec_id FROM kept) ic USING (vec_id)
LEFT JOIN drops USING (vec_id)
""")
def dedup_semdedup_multiprobe_capped(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Production-capped MULTI-PROBE SemDeDup — the multi-probe
    quantizer composed with dedup_semdedup_capped's per-cell
    centroid-proximal cap, so the scale path INHERITS the recall fix:
    within each cell, only the {SEM_CAP_M} probe rows nearest the
    centroid (by that probe's d2, vec_id tiebreak; two-phase sharded
    rank, mega-cell safe) enter the pairwise compare. Pair work is
    cells x M^2 CONSTANT per cell regardless of corpus size — the cap
    now counts probe rows, so a vector can hold a capped slot in up to
    {SEM_PROBES} cells (the multi-probe posting-list shape). in_cap is
    true when ANY of the vector's probe rows survives a cap. The cap
    binds at the driver fixture (~31 primary + ~62 secondary rows/cell
    at sf0.01 vs M={SEM_CAP_M}) so the oracle exercises the prune.

    Scale shape: identical to dedup_semdedup_capped with a
    {SEM_PROBES}x posting factor — narrow assignment, sharded
    two-phase rank per (cell, shard), equi-join pairwise on cell,
    distinct-then-verify. The uncapped twin measures the recall
    ceiling; this is the rung a 100 TB release actually runs."""
    primary, probe, qpairs = _sem_probe_frames(
        spark, sf_dir, SEM_PROBES, cap=SEM_CAP_M)
    drops = (qpairs.select(F.col("vb").alias("vec_id")).distinct()
             .withColumn("hit", F.lit(True)))
    incap = (probe.select("vec_id").distinct()
             .withColumn("inc", F.lit(True)))
    return (primary.join(incap, "vec_id", "left")
            .join(drops, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce(F.col("inc"), F.lit(False)).alias("in_cap"),
                    F.coalesce(F.col("hit"), F.lit(False)).alias("dropped")))


# ---------------------------------------------------------------------------
# SemDeDup precision/recall vs a SAMPLED-PANEL exact ground truth.


def _sem_eval_oracle(probes: int, cap: int | None = None) -> str:
    return f"""
WITH {_sem_quantizer_sql(probes, cap=cap)},
panel AS (
  SELECT LEAST(q.vec_id, c.vec_id) AS va,
         GREATEST(q.vec_id, c.vec_id) AS vb
  FROM (SELECT * FROM nz WHERE vec_id < {SEM_EVAL_Q}) q
  JOIN nz c ON c.vec_id != q.vec_id
  WHERE round(list_cosine_similarity(q.emb, c.emb), 6) >= {SEM_TAU}
  GROUP BY 1, 2),
pb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN da.vec_id IS NOT NULL
                         OR db.vec_id IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_broken
  FROM panel t
  LEFT JOIN drops da ON da.vec_id = t.va
  LEFT JOIN drops db ON db.vec_id = t.vb),
partners AS (SELECT va AS vec_id FROM qp UNION SELECT vb FROM qp),
dj AS (
  SELECT CAST(count(*) AS BIGINT) AS n_drops,
         CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_justified
  FROM drops d LEFT JOIN partners p ON p.vec_id = d.vec_id)
SELECT pb.n_pairs, pb.n_broken,
       CAST(CASE WHEN pb.n_pairs = 0 THEN NULL
            ELSE (1000000 * pb.n_broken) // pb.n_pairs END AS BIGINT)
         AS pair_recall_e6,
       dj.n_drops, dj.n_justified,
       CAST(CASE WHEN dj.n_drops = 0 THEN NULL
            ELSE (1000000 * dj.n_justified) // dj.n_drops END AS BIGINT)
         AS drop_precision_e6
FROM pb, dj
"""


def _sem_eval_core(spark: SparkSession, sf_dir: str,
                   probes: int, cap: int | None = None) -> DataFrame:
    """Shared eval body: grade the probe-P quantizer's drop set against
    the SAMPLED-PANEL exact truth (all true pairs with >= 1 endpoint in
    the first-{SEM_EVAL_Q} panel, scored panel x corpus — linear in the
    corpus, the sim_graph_recall_eval convention; round 10's truth side
    was the full all-pairs join, measured 112.7 s at sf0.1 and O(n^2)
    by construction). Drop PRECISION is justified against the
    quantizer's own within-cell qualifying pairs — every drop is the
    vb of a pair whose BOTH endpoints are true-duplicate partners, so
    the check is exact without any quadratic join and pins 1e6 by
    construction (computed honestly here, asserted in tests)."""
    from ..functions.vector import dot_col, l2norm_col

    _, _, qpairs = _sem_probe_frames(spark, sf_dir, probes, cap=cap)
    # memo_persist (not a bare persist): repeated eval calls in one
    # session reuse the existing entry rather than persisting a fresh
    # frame per call until the next clear_signature_cache.
    drops = memo_persist(
        spark, f"semdrops::{probes}::{cap}::{sf_dir}",
        lambda: qpairs.select(F.col("vb").alias("vec_id")).distinct())
    emb = (load_parallel(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding",
                   l2norm_col(F.col("embedding")).alias("nrm"))
           .filter(F.col("nrm") > 0))
    q = emb.filter(F.col("vec_id") < SEM_EVAL_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn"))
    c = emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("ce"), F.col("nrm").alias("cn"))
    cos = F.round(dot_col(F.col("qe"), F.col("ce"))
                  / (F.col("qn") * F.col("cn")), 6)
    panel = (F.broadcast(q).crossJoin(c)
             .filter(F.col("cid") != F.col("qid"))
             .filter(cos >= SEM_TAU)
             .select(F.least("qid", "cid").alias("va"),
                     F.greatest("qid", "cid").alias("vb"))
             .distinct())
    pb = (panel
          .join(drops.withColumnRenamed("vec_id", "va")
                .withColumn("da", F.lit(1)), "va", "left")
          .join(drops.withColumnRenamed("vec_id", "vb")
                .withColumn("db", F.lit(1)), "vb", "left")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
               F.sum(F.when(F.col("da").isNotNull()
                            | F.col("db").isNotNull(), 1).otherwise(0))
               .cast("bigint").alias("n_broken")))
    partners = (qpairs.select(F.col("va").alias("vec_id"))
                .unionByName(qpairs.select(F.col("vb").alias("vec_id")))
                .distinct().withColumn("p", F.lit(1)))
    dj = (drops.join(partners, "vec_id", "left")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_drops"),
               F.sum(F.when(F.col("p").isNotNull(), 1).otherwise(0))
               .cast("bigint").alias("n_justified")))
    return (pb.crossJoin(F.broadcast(dj))
            .select("n_pairs", "n_broken",
                    F.when(F.col("n_pairs") == 0, F.lit(None)).otherwise(
                        F.expr("(1000000 * n_broken) DIV n_pairs"))
                    .cast("bigint").alias("pair_recall_e6"),
                    "n_drops", "n_justified",
                    F.when(F.col("n_drops") == 0, F.lit(None)).otherwise(
                        F.expr("(1000000 * n_justified) DIV n_drops"))
                    .cast("bigint").alias("drop_precision_e6")))


@query("dedup_semdedup_eval_pr", oracle=_sem_eval_oracle(1))
def dedup_semdedup_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED precision/recall of single-assignment SemDeDup against
    exact cosine ground truth — the embedding-curation analog of
    dedup_lsh_eval_pr, and the eval Abbas et al. 2023 run before
    trusting the cell approximation: cell-restricted comparison can
    only MISS cross-cell duplicate pairs, so the two numbers a release
    logs are PAIR RECALL (fraction of true pairs with >= 1 endpoint
    dropped — a surviving intact pair is dedup leakage) and DROP
    PRECISION (fraction of dropped vectors with a real duplicate
    partner; within-cell drops are threshold-verified so this pins
    1e6 — the invariant, while recall measures the quantizer's miss).

    ROUND-11 RESHAPE (VERDICT r10 ask #3): the truth side is now the
    SAMPLED PANEL — every true pair with >= 1 endpoint among the first
    {SEM_EVAL_Q} non-zero vectors, scored panel x corpus (linear in
    the corpus; the sim_graph_recall_eval 30-query-truth convention)
    instead of the full all-pairs join (measured 112.7 s at sf0.1,
    O(n^2) by construction — must never run unsampled at sf10). Panel
    recall tracks the full number closely (0.211 vs 0.203 at sf0.01).
    Drop justification now comes from the quantizer's own within-cell
    qualifying pairs — exact, never quadratic (see _sem_eval_core).

    The drop set replays dedup_semantic_semdedup's semantics exactly
    (probe-1 of the shared quantizer text; agreement pinned in
    tests/test_llm_ops_oracle.py). Counting is int64; ratios are e6
    floor-divisions; empty denominators NULL."""
    return _sem_eval_core(spark, sf_dir, 1)


@query("dedup_semdedup_mp_eval_pr", oracle=_sem_eval_oracle(SEM_PROBES))
def dedup_semdedup_mp_eval_pr(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The panel eval re-run on the MULTI-PROBE quantizer — the number
    that certifies round 11's recall fix rather than asserting it:
    same sampled-panel truth and same grading as
    dedup_semdedup_eval_pr, drop set from the probe-{SEM_PROBES}
    quantizer (dedup_semdedup_multiprobe's semantics, shared
    _sem_probe_frames/_sem_quantizer_sql text). Measured side by side
    with the single-probe eval: pair recall 0.211 -> 0.789 at sf0.01
    and 0.417 -> 0.926 at sf0.1, drop precision exactly 1e6 in all
    four runs (drops stay threshold-verified; multi-probe only ADDS
    comparisons, never skips the verification)."""
    return _sem_eval_core(spark, sf_dir, SEM_PROBES)


@query("dedup_semdedup_mp_capped_eval_pr",
       oracle=_sem_eval_oracle(SEM_PROBES, cap=SEM_CAP_M))
def dedup_semdedup_mp_capped_eval_pr(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The panel eval grading the PRODUCTION rung
    (dedup_semdedup_multiprobe_capped) — the third point on the
    recall/cost curve a release uses to TUNE the per-cell cap M:
    uncapped single-probe 0.211, uncapped multi-probe 0.789, capped
    multi-probe 0.184 at sf0.01 (0.417 / 0.926 / 0.117 at sf0.1).
    The cap binds HARD at test SF by design (M={SEM_CAP_M} vs ~31-125
    vectors/cell, so the driver exercises the prune) — the eval is the
    number that says how much recall the cap costs at a given
    occupancy, which is exactly the measurement that sets M at
    production scale (Abbas et al. 2023 keep a fraction of each
    cluster, not a constant). Drop precision stays exactly 1e6: capped
    drops are still threshold-verified pairs. Same sampled-panel truth
    and grading as the other two evals (shared _sem_eval_core /
    _sem_eval_oracle with the cap threaded through)."""
    return _sem_eval_core(spark, sf_dir, SEM_PROBES, cap=SEM_CAP_M)
