"""The sanctioned Python UDF surface, exercised end-to-end (SURVEY.md
§2.5 'UDF/UDAF/UDTF' row — in the reference the mapper/reducer classes
ARE the UDF surface).

Coverage across the engine:
- scalar pandas_udf      -> timeseries_dtw_pairs HERE
- scalar arrow_udf       -> rbm.cd1.forward_prop_df
- mapInArrow             -> rbm.cd1.cd1_gradient_df (the CD-1 kernel)
- mapInPandas            -> multimodal
- applyInPandasWithState -> streaming.running_user_counts
- applyInPandas (grouped map), grouped-agg pandas_udf, Python UDTF -> HERE

Both queries have exact DuckDB oracles: the point is proving the
Arrow-batched Python path computes the same answer as the relational
form — the property that lets you drop to Python for the genuinely
non-SQL math (CD-1) without losing auditability.

Scale: applyInPandas shuffles each group to one task — group count must
exceed task slots and no group may exceed executor memory (here: 5
event_types x ~12k rows; for skewed groups, pre-salt). Grouped-agg
pandas_udf partial-aggregates per partition like any AggregateFunction.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import query
from ..tables import load


@query("grouped_zscore_pandas", oracle="""
SELECT event_id,
       event_type,
       round((value - avg(value) OVER (PARTITION BY event_type))
             / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
FROM events
""")
def grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score via applyInPandas (grouped map): each group
    arrives as one pandas DataFrame, normalization is vectorized NumPy,
    output schema is declared. The oracle computes the identical values
    with window functions — same mean, same sample stddev."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.math import round_half_away_arr

        v = pdf["value"]
        return pd.DataFrame({
            "event_id": pdf["event_id"],
            "event_type": pdf["event_type"],
            # half-away snap matching DuckDB round() (pandas .round()
            # is banker's — the ab_cuped_adjustment class)
            "z": round_half_away_arr((v - v.mean()) / v.std(ddof=1), 6),
        })

    return ev.groupBy("event_type").applyInPandas(
        zscore, "event_id bigint, event_type string, z double")


@query("grouped_wavg_pandas", oracle="""
SELECT event_type,
       round(sum(value * (event_id % 7 + 1)) / sum(event_id % 7 + 1), 6)
         AS wavg
FROM events GROUP BY event_type
""")
def grouped_wavg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean per event_type via a grouped-agg pandas_udf (the
    UDAF surface): Arrow-batched, partial-aggregated like any built-in
    aggregate. Weight = event_id % 7 + 1 (deterministic, engine-neutral)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    ev = (load(spark, sf_dir, "events")
          .select("event_type", "value",
                  (F.col("event_id") % 7 + 1).cast("double").alias("w")))
    return (ev.groupBy("event_type")
            .agg(F.round(wavg("value", "w"), 6).alias("wavg")))


@query("udtf_tokenize", oracle="""
WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       CAST(generate_subscripts(w, 1) - 1 AS INTEGER) AS pos,
       unnest(w) AS word
FROM t0 WHERE doc_id < 50
""")
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input row -> many output rows,
    consumed via LATERAL join. API-coverage demo with an exact oracle —
    in production this exact expansion is `posexplode(split(...))`
    (JVM-side, ~100x cheaper); the UDTF surface exists for expansions
    with genuinely imperative logic (parsers, tokenizers with state)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, word: string")
    class Tokenize:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield i, w

    spark.udtf.register("hdr_tokenize", Tokenize)
    load(spark, sf_dir, "documents").createOrReplaceTempView("hdr_udtf_docs")
    return spark.sql("""
        SELECT d.doc_id, u.pos, u.word
        FROM hdr_udtf_docs d, LATERAL hdr_tokenize(d.text) u
        WHERE d.doc_id < 50
    """)


@query("asof_join_cogrouped", oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       p.user_id AS user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def asof_join_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join through the COGROUPED pandas surface: both sides group
    by user_id, each key's pair of pandas frames meets in one task, and
    pd.merge_asof does the backward match — the twin of the relational
    union+last_value form (operators/windows.asof_join), graded against
    the same DuckDB ASOF oracle. Joins on integer epoch micros (ts_us)
    so the pandas dtype is exact int64, no tz coercion.

    Scale: cogroup shuffles both sides once on the key; per-key frames
    must fit a task (user histories here; pre-bucket time ranges for
    whale keys). Tie rule matches the relational form: among equal-ts
    clicks the largest event_id wins (sort + backward takes the last)."""
    ev = load(spark, sf_dir, "events")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", "event_id", "ts_us"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "event_id", "ts_us"))

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values(["ts_us", "event_id"])
        right = right.sort_values(["ts_us", "event_id"])
        merged = pd.merge_asof(left, right, on="ts_us",
                               direction="backward", suffixes=("_p", "_c"))
        out = merged.dropna(subset=["event_id_c"])
        return pd.DataFrame({
            "purchase_id": out["event_id_p"].astype("int64"),
            "click_id": out["event_id_c"].astype("int64"),
            "user_id": out["user_id_p"].astype("int64"),
        })

    return (purch.groupBy("user_id").cogroup(clicks.groupBy("user_id"))
            .applyInPandas(asof,
                           "purchase_id bigint, click_id bigint, user_id bigint"))


@query("pandas_api_groupby", oracle="""
SELECT event_type,
       count(*) AS n,
       round(sum(value), 6) AS total,
       round(avg(value), 6) AS mean_value
FROM events GROUP BY event_type
""")
def pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas API on Spark (pyspark.pandas): the pandas-dialect surface
    over the same engine — groupby/agg written as pandas, EXECUTED as
    the identical distributed plan (pandas_api() is a zero-copy view;
    to_spark() returns the logical plan, not collected data). Covered so
    a pandas-fluent user of the engine has a verified on-ramp; the
    oracle pins that the dialect changes nothing about the semantics."""
    import pyspark.pandas as ps  # noqa: F401  (registers the API)

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    pdf = ev.pandas_api()
    out = (pdf.groupby("event_type")
           .agg(n=("value", "count"), total=("value", "sum"),
                mean_value=("value", "mean"))
           .reset_index())
    sdf = out.to_spark()
    return sdf.select("event_type", F.col("n").cast("bigint").alias("n"),
                      F.round("total", 6).alias("total"),
                      F.round("mean_value", 6).alias("mean_value"))


@query("grouped_quantile_normalize_pandas", oracle="""
SELECT event_id, user_id,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY value, event_id)
            AS BIGINT) AS rnk,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY value, event_id)
            AS BIGINT)
         / CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS pct
FROM events
""")
def grouped_quantile_normalize_pandas(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Per-user QUANTILE NORMALIZATION via applyInPandas (grouped map):
    each user's values are replaced by their within-group rank fraction
    — the scale-free transform feature pipelines use when per-entity
    value distributions differ wildly (one user's 'high' is another's
    'low'; ranks compare, raw values don't). The sort key is
    (value, event_id), so ranks are UNIQUE and the pandas positional
    rank equals SQL rank() over the same key exactly; pct is a single
    integer-ratio division.

    This is the grouped-MAP member of the Arrow UDF family next to the
    grouped-AGG (grouped_wavg_pandas) and UDTF members: the whole group
    lands in one pandas frame, the transform is vectorized, and the
    declared schema makes the result a first-class DataFrame.

    Scale: applyInPandas shuffles each group to ONE task — per-user
    history fits trivially; for groups that don't fit, the same
    semantics distribute as the pure-window oracle form (two windows,
    no Python)."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def qnorm(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf.sort_values(["value", "event_id"]).reset_index(drop=True)
        n = len(s)
        # the (value, event_id) sort key is unique -> 1-based position
        # IS the SQL rank
        rnk = (s.index + 1).astype("int64")
        return pd.DataFrame({
            "event_id": s["event_id"],
            "user_id": s["user_id"],
            "rnk": rnk,
            "pct": rnk / float(n),
        })

    return ev.groupBy("user_id").applyInPandas(
        qnorm, "event_id bigint, user_id bigint, rnk bigint, pct double")


@query("grouped_ols_residuals_pandas", oracle="""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
  FROM documents),
s AS (
  SELECT source, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM t GROUP BY source
  HAVING count(*) >= 2 AND count(*) * sum(x * x) - sum(x) * sum(x) != 0),
fit AS (
  SELECT source,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
         n, sx, sy
  FROM s),
fit2 AS (
  SELECT source, b,
         (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS a
  FROM fit)
SELECT t.doc_id, t.source, t.x, t.y,
       round(f.b, 6) AS slope, round(f.a, 6) AS intercept,
       round(CAST(t.y AS DOUBLE) - (f.a + f.b * CAST(t.x AS DOUBLE)), 6)
         AS resid
FROM t JOIN fit2 f USING (source)
""")
def grouped_ols_residuals_pandas(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per-SOURCE regression residuals via applyInPandas (grouped map):
    each source gets its own OLS fit of distinct-word count on word
    count, and every document is scored by its residual — the
    per-entity model-then-score pattern (anomaly = a doc far off its
    OWN source's trend, not the global trend; a source whose docs run
    repetitive has a flatter line, and judging its docs by the global
    fit would flag the whole source instead of its outliers).

    The numpy fit inside the pandas group uses EXACT int64 moment sums
    (word counts are integers < 2^53), then the identical double
    expression tree as the oracle's closed form — slope, intercept and
    residuals are bit-stable without grid snapping (ml_ols_two_feature's
    argument, here once per group). Groups too degenerate to fit
    (n < 2 or zero x-variance, an INTEGER test) return empty frames and
    the oracle HAVING drops the same groups.

    Scale: applyInPandas ships each source's docs to one task — right
    when per-source model state must see the whole group; a source too
    large for one task distributes as the oracle's pure-SQL form (one
    grouped moment aggregate + a broadcast fit join), same numbers."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("bigint").alias("x"),
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint")
        .alias("y"))

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        x = pdf["x"].astype("int64")
        y = pdf["y"].astype("int64")
        sx, sy = int(x.sum()), int(y.sum())
        sxx = int((x * x).sum())
        sxy = int((x * y).sum())
        den_i = n * sxx - sx * sx            # exact integer test
        if n < 2 or den_i == 0:
            return pdf.iloc[0:0].assign(slope=0.0, intercept=0.0,
                                        resid=0.0)
        b = (float(n) * float(sxy) - float(sx) * float(sy)) \
            / (float(n) * float(sxx) - float(sx) * float(sx))
        a = (float(sy) - b * float(sx)) / float(n)
        resid = y.astype("float64") - (a + b * x.astype("float64"))
        # half-away snaps matching DuckDB round() — Python round() and
        # pandas .round() are banker's (the ab_cuped_adjustment class)
        from ..functions.math import round_half_away, round_half_away_arr

        return pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "source": pdf["source"],
            "x": x, "y": y,
            "slope": round_half_away(b, 6),
            "intercept": round_half_away(a, 6),
            "resid": round_half_away_arr(resid, 6),
        })

    return t.groupBy("source").applyInPandas(
        fit_group,
        "doc_id bigint, source string, x bigint, y bigint, "
        "slope double, intercept double, resid double")


# Holt's linear-trend smoothing constants. BINARY fractions on purpose:
# with integer monthly counts as input, every level/trend value is a
# dyadic rational, so the Python loop and the oracle's recursive CTE
# produce bit-identical doubles as long as the expression trees match
# (and once 2^-k precision exhausts, both engines round the SAME ops the
# same way). A decimal alpha like 0.3 would work too — it is the same
# float64 in both engines — but dyadic constants also keep early values
# off round(,6) half-boundaries (a dyadic can never equal a *.xxxxxx5
# decimal, which needs a factor 5^7 in the denominator).
_HOLT_A, _HOLT_B = 0.5, 0.25


@query("timeseries_holt_linear", oracle=f"""
WITH RECURSIVE m AS (
  SELECT o_orderpriority AS grp,
         date_trunc('month', o_orderdate) AS month,
         count(*) AS y
  FROM orders GROUP BY 1, 2),
s AS (
  SELECT grp, month, CAST(y AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY grp ORDER BY month) AS t
  FROM m),
rec AS (
  SELECT s1.grp, s1.month, CAST(1 AS BIGINT) AS t, s1.y,
         s1.y AS level, s2.y - s1.y AS trend,
         CAST(NULL AS DOUBLE) AS fitted
  FROM s s1 JOIN s s2 ON s1.grp = s2.grp AND s1.t = 1 AND s2.t = 2
  UNION ALL
  SELECT s.grp, s.month, s.t, s.y,
         {_HOLT_A} * s.y + {1 - _HOLT_A} * (r.level + r.trend),
         {_HOLT_B} * (({_HOLT_A} * s.y
                       + {1 - _HOLT_A} * (r.level + r.trend)) - r.level)
           + {1 - _HOLT_B} * r.trend,
         r.level + r.trend
  FROM rec r JOIN s ON s.grp = r.grp AND s.t = r.t + 1)
SELECT grp AS o_orderpriority, CAST(month AS VARCHAR) AS month, t,
       CAST(y AS BIGINT) AS y,
       round(level, 6) AS level, round(trend, 6) AS trend,
       round(fitted, 6) AS fitted
FROM rec
""")
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT'S LINEAR-TREND double exponential smoothing (Holt 1957 —
    the level+trend forecaster demand planning runs per SKU): per
    order-priority monthly series, l_t = a*y_t + (1-a)(l_(t-1)+b_(t-1)),
    b_t = b*(l_t - l_(t-1)) + (1-b)*b_(t-1), seeded l_1=y_1,
    b_1=y_2-y_1, with the one-step-ahead forecast l+b as the fitted
    value. A RECURRENCE, not a windowed sum — EWMA (timeseries_ewma)
    flattens to a weighted window sum, but the trend term makes Holt a
    2-state linear recurrence that SQL windows cannot express, which is
    exactly the per-series stateful shape applyInPandas exists for.
    Oracle: the same recurrence as a recursive CTE joining the month
    index (the dedup connected-components precedent).

    Cross-engine determinism: see _HOLT_A — identical float64 expression
    trees over dyadic constants and integer inputs; the Python loop and
    the CTE perform the same IEEE ops in the same order, and rounding
    happens ONCE at the output (Spark-side F.round matches DuckDB round,
    both half-away-from-zero).

    Scale shape: the monthly pre-aggregate is the only corpus-wide work
    (one combiner'd shuffle, series-length x group-count rows out);
    applyInPandas then ships each series to one task — state is two
    doubles, series fit trivially, and a 100 TB deployment runs one
    task per series key (SKU/entity), the standard forecasting fan-out.
    Groups shorter than 2 months drop on both sides (no trend seed)."""
    orders = load(spark, sf_dir, "orders")
    m = (orders.groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
         .agg(F.count(F.lit(1)).alias("y")))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        if len(pdf) < 2:
            return pd.DataFrame(columns=["grp", "month", "t", "y",
                                         "level", "trend", "fitted"])
        ys = [float(v) for v in pdf["y"]]
        lev, tr = ys[0], ys[1] - ys[0]
        rows = [(pdf["grp"][0], pdf["month"][0], 1, int(pdf["y"][0]),
                 lev, tr, None)]
        for i in range(1, len(ys)):
            fitted = lev + tr
            l_new = _HOLT_A * ys[i] + (1 - _HOLT_A) * (lev + tr)
            b_new = _HOLT_B * (l_new - lev) + (1 - _HOLT_B) * tr
            rows.append((pdf["grp"][0], pdf["month"][i], i + 1,
                         int(pdf["y"][i]), l_new, b_new, fitted))
            lev, tr = l_new, b_new
        return pd.DataFrame(rows, columns=["grp", "month", "t", "y",
                                           "level", "trend", "fitted"])

    out = m.groupBy("grp").applyInPandas(
        holt,
        "grp string, month date, t bigint, y bigint, "
        "level double, trend double, fitted double")
    return out.select(F.col("grp").alias("o_orderpriority"),
                      F.col("month").cast("string").alias("month"), "t",
                      "y", F.round("level", 6).alias("level"),
                      F.round("trend", 6).alias("trend"),
                      F.round("fitted", 6).alias("fitted"))


# Croston smoothing constant — dyadic for the same bit-identical-
# recurrence reason as _HOLT_A (see that comment); demand threshold
# picked so the per-type daily series is genuinely intermittent
# (7-14 demand days out of 30 at sf0.01).
_CROSTON_A, _CROSTON_THRESH = 0.25, 250.0


@query("timeseries_croston_intermittent", oracle=f"""
WITH RECURSIVE pts0 AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS q
  FROM events WHERE value >= {_CROSTON_THRESH}
  GROUP BY event_type, CAST(ts AS DATE)),
s AS (
  SELECT event_type, day, CAST(q AS DOUBLE) AS q,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
         CAST(date_diff('day',
              lag(day) OVER (PARTITION BY event_type ORDER BY day), day)
           AS DOUBLE) AS gap
  FROM pts0),
rec AS (
  SELECT s1.event_type, s1.day, CAST(1 AS BIGINT) AS k, s1.q,
         CAST(NULL AS DOUBLE) AS gap,
         s1.q AS z, s2.gap AS p, CAST(NULL AS DOUBLE) AS fitted
  FROM s s1 JOIN s s2 ON s1.event_type = s2.event_type
                     AND s1.k = 1 AND s2.k = 2
  UNION ALL
  SELECT s.event_type, s.day, s.k, s.q, s.gap,
         {_CROSTON_A} * s.q + {1 - _CROSTON_A} * r.z,
         {_CROSTON_A} * s.gap + {1 - _CROSTON_A} * r.p,
         r.z / r.p
  FROM rec r JOIN s ON s.event_type = r.event_type AND s.k = r.k + 1)
SELECT event_type, CAST(day AS VARCHAR) AS day, k,
       CAST(q AS BIGINT) AS q, CAST(gap AS BIGINT) AS gap,
       round(z, 6) AS z, round(p, 6) AS p,
       round(fitted, 6) AS fitted,
       round(z / p, 6) AS forecast
FROM rec
""")
def timeseries_croston_intermittent(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD for intermittent demand (Croston 1972 — the
    spare-parts/slow-mover forecaster every supply-chain system ships
    next to Holt): when most periods have ZERO demand, smoothing the
    raw series biases toward zero, so Croston runs TWO exponential
    recurrences updated only at demand points — demand SIZE z and
    inter-demand INTERVAL p — and forecasts demand-per-period as z/p.
    Series: per event type, daily counts of value >= {_CROSTON_THRESH}
    events (7-14 demand days of 30 at sf0.01 — genuinely intermittent).
    Seeds z_1 = q_1 and p_1 = the first observed interval (the Holt
    trend-seed convention); both update with the dyadic alpha
    {_CROSTON_A} at each subsequent demand point; `fitted` is the
    pre-update forecast z/p carried into point k (one-step-ahead),
    `forecast` the post-update rate.

    Cross-engine determinism: the timeseries_holt_linear contract —
    identical float64 expression trees over dyadic constants and
    integer day-gaps/counts, Python loop and recursive CTE performing
    the same IEEE ops in the same order, rounding once at output.

    Scale shape: the demand-point pre-aggregate is the only corpus-wide
    work (one combiner'd shuffle emitting demand-days x types rows —
    sparser than Holt's dense monthly series by the intermittency);
    applyInPandas ships each series to one task with two doubles of
    state. Types with < 2 demand points drop on both sides (no
    interval seed)."""
    ev = load(spark, sf_dir, "events")
    pts = (ev.filter(F.col("value") >= _CROSTON_THRESH)
           .groupBy("event_type", F.col("ts").cast("date").alias("day"))
           .agg(F.count(F.lit(1)).alias("q")))

    def croston(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        if len(pdf) < 2:
            return pd.DataFrame(columns=["event_type", "day", "k", "q",
                                         "gap", "z", "p", "fitted",
                                         "forecast"])
        days = list(pdf["day"])
        qs = [float(v) for v in pdf["q"]]
        gaps = [None] + [float((days[i] - days[i - 1]).days)
                         for i in range(1, len(days))]
        et = pdf["event_type"][0]
        z, p = qs[0], gaps[1]
        rows = [(et, days[0], 1, int(qs[0]), None, z, p, None, z / p)]
        for k in range(1, len(qs)):
            fitted = z / p
            z = _CROSTON_A * qs[k] + (1 - _CROSTON_A) * z
            p = _CROSTON_A * gaps[k] + (1 - _CROSTON_A) * p
            rows.append((et, days[k], k + 1, int(qs[k]), int(gaps[k]),
                         z, p, fitted, z / p))
        return pd.DataFrame(rows, columns=["event_type", "day", "k", "q",
                                           "gap", "z", "p", "fitted",
                                           "forecast"])

    out = pts.groupBy("event_type").applyInPandas(
        croston,
        "event_type string, day date, k bigint, q bigint, gap bigint, "
        "z double, p double, fitted double, forecast double")
    return out.select("event_type",
                      F.col("day").cast("string").alias("day"), "k", "q",
                      "gap", F.round("z", 6).alias("z"),
                      F.round("p", 6).alias("p"),
                      F.round("fitted", 6).alias("fitted"),
                      F.round("forecast", 6).alias("forecast"))


_DTW_N = 12  # month-of-year profile length (calendar-fixed, SF-free)


def _dtw_oracle() -> str:
    """Unrolled DTW dynamic program. The intra-row recurrence
    D(i,j) = c(i,j) + min(D(i-1,j), D(i-1,j-1), D(i,j-1)) unrolls to
    D(i,j) = cum_i(j) + min_{k<=j} (M(k) - cum_i(k-1)) with
    M(k) = min(D(i-1,k), D(i-1,k-1)) and cum_i the row-i cost prefix
    sum — a RUNNING-MIN WINDOW, so each DP row is one windowed CTE and
    the whole 12x12 grid is 12 generated CTEs (the BPE unrolled-round
    precedent, mechanically emitted). Every stage references its
    predecessor TWICE (the M(k) min needs d at both k and k-1), so the
    CTEs must be AS MATERIALIZED — DuckDB re-inlines multiply-
    referenced CTEs (the LPA lesson, SCALE.md round 3) and an inlined
    chain here would expand 2^12 scans."""
    rows = ["""
d1 AS MATERIALIZED (
  SELECT ra, rb, j, sum(c) OVER (PARTITION BY ra, rb ORDER BY j) AS d
  FROM cost WHERE i = 1)"""]
    for i in range(2, _DTW_N + 1):
        rows.append(f"""
d{i} AS MATERIALIZED (
  SELECT ra, rb, j, cum + mn AS d FROM (
    SELECT ra, rb, j, cum,
           min(mk - cumprev) OVER (PARTITION BY ra, rb ORDER BY j) AS mn
    FROM (
      SELECT c.ra, c.rb, c.j,
             sum(c.c) OVER (PARTITION BY c.ra, c.rb ORDER BY c.j) AS cum,
             coalesce(sum(c.c) OVER (PARTITION BY c.ra, c.rb ORDER BY c.j
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cumprev,
             CASE WHEN p0.d IS NULL THEN p.d
                  ELSE least(p.d, p0.d) END AS mk
      FROM cost c
      JOIN d{i - 1} p ON p.ra = c.ra AND p.rb = c.rb AND p.j = c.j
      LEFT JOIN d{i - 1} p0 ON p0.ra = c.ra AND p0.rb = c.rb
                           AND p0.j = c.j - 1
      WHERE c.i = {i})))"""[1:])
    return f"""
WITH prof0 AS MATERIALIZED (
  SELECT r.r_regionkey AS rk, CAST(month(o.o_orderdate) AS BIGINT) AS m,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS y
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer cu ON cu.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = cu.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2),
prof AS MATERIALIZED (
  SELECT p.* FROM prof0 p
  JOIN (SELECT rk FROM prof0 GROUP BY rk
        HAVING count(*) = {_DTW_N}) f ON f.rk = p.rk),
cost AS MATERIALIZED (
  SELECT a.rk AS ra, b.rk AS rb, a.m AS i, b.m AS j,
         abs(a.y - b.y) AS c
  FROM prof a JOIN prof b ON a.rk < b.rk),
{",".join(rows)},
l1 AS (
  SELECT a.rk AS ra, b.rk AS rb, sum(abs(a.y - b.y)) AS l1_cost
  FROM prof a JOIN prof b ON a.rk < b.rk AND a.m = b.m
  GROUP BY 1, 2)
SELECT d.ra AS region_a, d.rb AS region_b,
       CAST(d.d AS BIGINT) AS dtw_cost,
       CAST(l1.l1_cost AS BIGINT) AS l1_cost
FROM d{_DTW_N} d JOIN l1 ON l1.ra = d.ra AND l1.rb = d.rb
WHERE d.j = {_DTW_N}
"""


@query("timeseries_dtw_pairs", oracle=_dtw_oracle())
def timeseries_dtw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING distance between entity seasonal profiles
    (Sakoe & Chiba 1978; Berndt & Clifford 1994 for the data-mining
    form) — the time-series similarity primitive that tolerates phase
    shift, which plain L1/L2 cannot: for every region pair, the minimal
    alignment cost of their 12-point month-of-year revenue profiles
    under the step set {{right, down, diagonal}}. The l1_cost column is
    the diagonal-only alignment, so dtw_cost <= l1_cost is a structural
    invariant the tests pin.

    Determinism: profiles are exact bigint cent sums, costs are bigint
    |differences|, and the DP is pure int64 min/plus — no float enters
    either engine, the grid discipline (SCALE.md watch #4) applied to
    an entire dynamic program.

    Scale shape: the corpus-sized work is the ONE combiner'd
    pre-aggregate to (entity, month) profiles — everything after is
    algebra on model state (pairs x 144 DP cells). The Spark side ships
    each pair's two profile vectors through a scalar Arrow-batched
    pandas UDF running the classic O(n*m) NumPy loop (the per-series
    stateful shape SQL windows cannot express); the oracle unrolls the
    DP into {_DTW_N} windowed CTEs via the running-min identity (see
    _dtw_oracle). At 100 TB: profiles are entity-count-sized; all-pairs
    DTW over many entities is bounded the way similarity families here
    always are — LSH/cluster-bucket candidate pairs first
    (dedup_embedding_lsh), exact DTW only within buckets."""
    import numpy as np

    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)

    prof = spark.sql("""
      SELECT r.r_regionkey AS rk, CAST(month(o.o_orderdate) AS BIGINT) AS m,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS y
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2""")
    # Complete-profile guard (mirrored by the oracle's HAVING
    # count(*) = 12 filter): the unrolled-DP oracle requires a cost row
    # at every i in 1..12 and a final cell at j = 12, so an entity
    # missing any calendar month silently DROPS from the oracle while a
    # naive UDF would still compute DTW over whichever months exist —
    # a latent sparse-data divergence (ADVICE r08). Both engines now
    # score only entities with all 12 months observed.
    vec = (prof.groupBy("rk")
           .agg(F.transform(
               F.array_sort(F.collect_list(F.struct("m", "y"))),
               lambda s: s["y"]).alias("ys"))
           .filter(F.size("ys") == _DTW_N))

    @F.pandas_udf("long")
    def dtw(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for xs, ys in zip(a, b):
            x = np.asarray(xs, dtype=np.int64)
            y = np.asarray(ys, dtype=np.int64)
            n, m = len(x), len(y)
            big = np.iinfo(np.int64).max // 4
            D = np.full((n + 1, m + 1), big, dtype=np.int64)
            D[0, 0] = 0
            for i in range(1, n + 1):
                for j in range(1, m + 1):
                    c = abs(int(x[i - 1]) - int(y[j - 1]))
                    D[i, j] = c + min(D[i - 1, j], D[i, j - 1],
                                      D[i - 1, j - 1])
            out.append(int(D[n, m]))
        return pd.Series(out)

    @F.pandas_udf("long")
    def l1(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [int(np.abs(np.asarray(xs, dtype=np.int64)
                        - np.asarray(ys, dtype=np.int64)).sum())
             for xs, ys in zip(a, b)])

    va = vec.select(F.col("rk").alias("region_a"), F.col("ys").alias("ya"))
    vb = vec.select(F.col("rk").alias("region_b"), F.col("ys").alias("yb"))
    pairs = va.join(vb, F.col("region_a") < F.col("region_b"))
    return pairs.select(
        "region_a", "region_b",
        dtw(F.col("ya"), F.col("yb")).alias("dtw_cost"),
        l1(F.col("ya"), F.col("yb")).alias("l1_cost"))


# Holt-Winters constants: dyadic for the bit-identical-recurrence
# contract (_HOLT_A comment); season length = 12 months (the calendar).
_HW_A, _HW_B, _HW_G, _HW_M = 0.5, 0.25, 0.25, 12

# The level recurrence inlined once as an SQL fragment — the trend and
# seasonal updates reference l_new, and BOTH engines must compute it
# with this exact expression tree (the recursive CTE cannot bind a
# local, so the fragment substitutes textually).
_HW_LNEW = (f"{_HW_A} * (s.y - r.seas[1]) "
            f"+ {1 - _HW_A} * (r.level + r.trend)")


@query("timeseries_holt_winters", oracle=f"""
WITH RECURSIVE m AS (
  SELECT o_orderpriority AS grp,
         date_trunc('month', o_orderdate) AS month,
         count(*) AS y
  FROM orders GROUP BY 1, 2),
s AS (
  SELECT grp, month, CAST(y AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY grp ORDER BY month) AS t
  FROM m),
seed AS (
  SELECT grp,
         sum(y) FILTER (WHERE t <= {_HW_M}) AS sum1,
         sum(y) FILTER (WHERE t > {_HW_M} AND t <= {2 * _HW_M}) AS sum2,
         max(t) AS n
  FROM s GROUP BY grp),
seas0 AS (
  SELECT s.grp, list(s.y - d.sum1 / {_HW_M}.0 ORDER BY s.t) AS seas0
  FROM s JOIN seed d ON d.grp = s.grp
  WHERE s.t <= {_HW_M} GROUP BY s.grp),
rec AS (
  SELECT d.grp, CAST({_HW_M} AS BIGINT) AS t,
         d.sum1 / {_HW_M}.0 AS level,
         (d.sum2 / {_HW_M}.0 - d.sum1 / {_HW_M}.0) / {_HW_M}.0 AS trend,
         z.seas0 AS seas,
         CAST(NULL AS DOUBLE) AS seasonal,
         CAST(NULL AS DOUBLE) AS fitted,
         CAST(NULL AS DOUBLE) AS y
  FROM seed d JOIN seas0 z ON z.grp = d.grp
  WHERE d.n >= {2 * _HW_M + 1}
  UNION ALL
  SELECT r.grp, s.t,
         {_HW_LNEW},
         {_HW_B} * (({_HW_LNEW}) - r.level) + {1 - _HW_B} * r.trend,
         list_append(r.seas[2:],
                     {_HW_G} * (s.y - r.level - r.trend)
                     + {1 - _HW_G} * r.seas[1]),
         {_HW_G} * (s.y - r.level - r.trend) + {1 - _HW_G} * r.seas[1],
         r.level + r.trend + r.seas[1],
         s.y
  FROM rec r JOIN s ON s.grp = r.grp AND s.t = r.t + 1)
SELECT rec.grp AS o_orderpriority, CAST(s.month AS VARCHAR) AS month,
       rec.t, CAST(rec.y AS BIGINT) AS y,
       round(rec.level, 6) AS level, round(rec.trend, 6) AS trend,
       round(rec.seasonal, 6) AS seasonal, round(rec.fitted, 6) AS fitted
FROM rec JOIN s ON s.grp = rec.grp AND s.t = rec.t
WHERE rec.t > {_HW_M}
""")
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive TRIPLE exponential smoothing (Winters
    1960) — the seasonal member of the smoothing family
    (timeseries_ewma = single, timeseries_holt_linear = double): per
    order-priority monthly series, level/trend/seasonal recurrences
      l_t = a(y_t - s_(t-m)) + (1-a)(l_(t-1) + b_(t-1))
      b_t = B(l_t - l_(t-1)) + (1-B) b_(t-1)
      s_t = G(y_t - l_(t-1) - b_(t-1)) + (1-G) s_(t-m)
    with the classic two-window seed (l = first-year mean, b =
    year-over-year mean change / m, s_i = first-year deviations) and
    the one-step forecast l+b+s_(t-m) as `fitted`. A THREE-state
    recurrence with a 12-deep seasonal buffer — even further from
    window-SQL expressibility than Holt (see that docstring); the
    oracle carries the seasonal buffer as a LIST column in the
    recursive CTE (shift-and-append per step), which is exactly the
    ring buffer the Python loop keeps.

    Cross-engine determinism: the _HOLT_A contract — dyadic constants,
    integer inputs, and ONE textual definition of the level update
    (_HW_LNEW) substituted into both the trend expression and the
    Python loop, so both engines execute identical float64 op
    sequences. Groups shorter than 2m+1 months drop on both sides (no
    seed window).

    Scale shape: identical to Holt — the monthly pre-aggregate is the
    only corpus-sized work; each series then ships to one task with
    m+2 doubles of state. 100 TB = one task per series key."""
    orders = load(spark, sf_dir, "orders")
    m = (orders.groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
         .agg(F.count(F.lit(1)).alias("y")))

    M = _HW_M

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["grp", "month", "t", "y", "level", "trend", "seasonal",
                "fitted"]
        pdf = pdf.sort_values("month").reset_index(drop=True)
        if len(pdf) < 2 * M + 1:
            return pd.DataFrame(columns=cols)
        ys = [float(v) for v in pdf["y"]]
        sum1 = sum(int(v) for v in pdf["y"][:M])
        sum2 = sum(int(v) for v in pdf["y"][M:2 * M])
        lev = sum1 / float(M)
        tr = (sum2 / float(M) - sum1 / float(M)) / float(M)
        seas = [ys[i] - sum1 / float(M) for i in range(M)]
        rows = []
        g = pdf["grp"][0]
        for t in range(M, len(ys)):
            y = ys[t]
            s_used = seas[0]
            fitted = lev + tr + s_used
            l_new = _HW_A * (y - s_used) + (1 - _HW_A) * (lev + tr)
            b_new = _HW_B * (l_new - lev) + (1 - _HW_B) * tr
            s_new = _HW_G * (y - lev - tr) + (1 - _HW_G) * s_used
            seas = seas[1:] + [s_new]
            lev, tr = l_new, b_new
            rows.append((g, pdf["month"][t], t + 1, int(pdf["y"][t]),
                         lev, tr, s_new, fitted))
        return pd.DataFrame(rows, columns=cols)

    out = m.groupBy("grp").applyInPandas(
        hw,
        "grp string, month date, t bigint, y bigint, level double, "
        "trend double, seasonal double, fitted double")
    return out.select(F.col("grp").alias("o_orderpriority"),
                      F.col("month").cast("string").alias("month"), "t",
                      "y", F.round("level", 6).alias("level"),
                      F.round("trend", 6).alias("trend"),
                      F.round("seasonal", 6).alias("seasonal"),
                      F.round("fitted", 6).alias("fitted"))


# Matrix-profile geometry: subsequence window and the standard
# trivial-match exclusion zone (|i - j| >= window).
_MP_W = 6


@query("timeseries_matrix_profile_sad", oracle=f"""
WITH m AS (
  SELECT o_orderpriority AS grp,
         date_trunc('month', o_orderdate) AS month,
         count(*) AS y
  FROM orders GROUP BY 1, 2),
s AS (
  SELECT grp, CAST(y AS BIGINT) AS y,
         row_number() OVER (PARTITION BY grp ORDER BY month) AS t,
         count(*) OVER (PARTITION BY grp) AS n
  FROM m),
idx AS (
  SELECT DISTINCT grp, t AS i FROM s WHERE t <= n - {_MP_W} + 1),
pairs AS (
  SELECT a.grp, a.i, b.i AS j
  FROM idx a JOIN idx b ON b.grp = a.grp AND abs(b.i - a.i) >= {_MP_W}),
sad AS (
  SELECT p.grp, p.i, p.j, sum(abs(sa.y - sb.y)) AS d
  FROM pairs p
  CROSS JOIN range({_MP_W}) k(k)
  JOIN s sa ON sa.grp = p.grp AND sa.t = p.i + k.k
  JOIN s sb ON sb.grp = p.grp AND sb.t = p.j + k.k
  GROUP BY p.grp, p.i, p.j),
prof AS (
  SELECT grp, i, d, j,
         row_number() OVER (PARTITION BY grp, i ORDER BY d, j) AS rn
  FROM sad)
SELECT grp AS o_orderpriority, CAST(i AS BIGINT) AS i,
       CAST(d AS BIGINT) AS mp_sad, CAST(j AS BIGINT) AS nn_j
FROM prof WHERE rn = 1
""")
def timeseries_matrix_profile_sad(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """MATRIX PROFILE (Yeh et al. 2016, the all-subsequence
    nearest-neighbor profile behind motif discovery, discord/anomaly
    detection, and time-series segmentation), SAD-distance variant so
    the entire profile stays on the exact integer grid: per
    order-priority monthly series, for every length-{_MP_W}
    subsequence the minimum sum-of-absolute-differences to any other
    subsequence outside the trivial-match exclusion zone
    (|i - j| >= {_MP_W}), plus the nearest-neighbor index. Low
    mp_sad = recurring motif; the profile's maxima are discords
    (anomalies) — window_outlier_hampel's subsequence-shaped sibling.

    Exactness: monthly counts are bigint, SAD is integer, argmin
    tiebreaks on smallest j — nothing floats, so the profile is
    bit-identical across engines by construction (the DTW/grid
    discipline; production matrix profile uses z-normalized Euclidean
    + the STOMP O(n^2) recurrence — the SAD form keeps the identical
    access pattern with exact arithmetic).

    Scale shape: the corpus-sized work is the one combiner'd monthly
    aggregate; the profile is per-series O(n^2 w) on series-length
    data inside one applyInPandas task (NumPy), the standard
    one-task-per-series fan-out. Billion-point single series shard by
    time with halo overlap (STOMP tiles) — same join-free kernel per
    tile."""
    import numpy as np

    orders = load(spark, sf_dir, "orders")
    m = (orders.groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
         .agg(F.count(F.lit(1)).alias("y")))

    W = _MP_W

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month").reset_index(drop=True)
        y = pdf["y"].to_numpy(dtype=np.int64)
        n = len(y)
        cols = ["grp", "i", "mp_sad", "nn_j"]
        if n < 2 * W:
            return pd.DataFrame(columns=cols)
        nsub = n - W + 1
        subs = np.lib.stride_tricks.sliding_window_view(y, W)
        rows = []
        g = pdf["grp"][0]
        for i in range(nsub):
            d = np.abs(subs - subs[i]).sum(axis=1)
            mask = np.abs(np.arange(nsub) - i) >= W
            cand = np.where(mask)[0]
            if cand.size == 0:
                # 2W <= n < 3W: a middle subsequence can have an empty
                # candidate set — the oracle emits no row for it either
                continue
            dc = d[cand]
            k = int(cand[np.lexsort((cand, dc))[0]])
            rows.append((g, i + 1, int(d[k]), k + 1))
        return pd.DataFrame(rows, columns=cols)

    out = m.groupBy("grp").applyInPandas(
        profile, "grp string, i bigint, mp_sad bigint, nn_j bigint")
    return out.select(F.col("grp").alias("o_orderpriority"),
                      "i", "mp_sad", "nn_j")


# 1-D Kalman local-level filter: model constants on the integer micro
# grid (process variance Q = 1.0, observation variance R = 4.0 — a
# smoothing ratio of 1:4, the conventional "trust the level more than
# any single observation" setting).
_KAL_Q = 1_000_000
_KAL_R = 4_000_000
_KAL_N = 12  # month-of-year profile length (calendar-fixed, SF-free)


def _kalman_oracle() -> str:
    """Unrolled 12-step Kalman recursion, ALL-INTEGER: state x, error
    variance p, and gain k live on the e6 micro grid; every update is
    int64 multiply + DuckDB `//` (truncating) division, so the
    filtered path is engine-exact with no float until the display
    column. Steps are generated CTEs (the DTW/unigram precedent);
    every step CTE is AS MATERIALIZED (multiply-referenced — the next
    step AND the final union; the LPA lesson)."""
    steps = []
    for t in range(2, _KAL_N + 1):
        steps.append(f"""
st{t} AS MATERIALIZED (
  SELECT s.grp, pr.m, pr.z,
         s.x + (((s.p + {_KAL_Q}) * 1000000 // (s.p + {_KAL_Q} + {_KAL_R}))
                * (pr.z * 1000000 - s.x)) // 1000000 AS x,
         ((1000000 - (s.p + {_KAL_Q}) * 1000000
                       // (s.p + {_KAL_Q} + {_KAL_R}))
          * (s.p + {_KAL_Q})) // 1000000 AS p,
         (s.p + {_KAL_Q}) * 1000000 // (s.p + {_KAL_Q} + {_KAL_R}) AS k
  FROM st{t - 1} s
  JOIN prof pr ON pr.grp = s.grp AND pr.m = {t})"""[1:])
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM st{t}" for t in range(1, _KAL_N + 1))
    return f"""
WITH prof0 AS MATERIALIZED (
  SELECT o_orderpriority AS grp,
         CAST(month(o_orderdate) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS z
  FROM orders GROUP BY 1, 2),
prof AS MATERIALIZED (
  SELECT p.* FROM prof0 p
  JOIN (SELECT grp FROM prof0 GROUP BY grp
        HAVING count(*) = {_KAL_N}) f USING (grp)),
st1 AS MATERIALIZED (
  SELECT grp, m, z, z * 1000000 AS x,
         CAST({_KAL_R} AS BIGINT) AS p, CAST(0 AS BIGINT) AS k
  FROM prof WHERE m = 1),
{",".join(steps)},
allst AS ({union})
SELECT grp AS o_orderpriority, m, z,
       CAST(x AS BIGINT) AS x_e6, CAST(k AS BIGINT) AS k_e6,
       CAST(p AS BIGINT) AS p_e6,
       round(CAST(x AS DOUBLE) / 1000000.0, 6) AS x_hat
FROM allst
"""


@query("timeseries_kalman_level", oracle=_kalman_oracle())
def timeseries_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D KALMAN FILTER, local-level model (Kalman 1960; Durbin &
    Koopman 2012 ch.2 — the state-space smoother under EVERY production
    metrics pipeline's anomaly band): per order-priority month-of-year
    count profile, the classic predict/update recursion
    p_pred = p + Q; k = p_pred/(p_pred+R); x += k*(z - x);
    p = (1-k)*p_pred, initialized x = first observation, p = R.
    Completes the smoothing family: EWMA (fixed gain), Holt/
    Holt-Winters (fixed gain + trend/season), Kalman (gain ADAPTS to
    accumulated uncertainty — large after initialization, converging
    to the steady-state Riccati value; the emitted k_e6 column shows
    exactly that trajectory, which the tests pin).

    Determinism (the grid discipline applied to the whole recursion):
    x, p, k live on the INTEGER e6 micro grid; every update is int64
    multiply then TRUNCATING division — Python `//` floors while
    DuckDB `//` truncates toward zero, so the UDF uses a sign-explicit
    trunc-div to mirror the oracle exactly (innovations go negative;
    a floor-vs-trunc divergence would drift the whole filtered path).
    No float enters either engine until the display column x_hat,
    which divides an exact micro integer by 1e6 (grid point — never a
    rounding half-boundary). Int64 headroom: |k*(z*1e6 - x)| <=
    1e6 * z*1e6, safe to z ~ 9e6 per cell (sf100-class); beyond that
    the grid drops to e3 (documented, not silently wrong — DuckDB
    raises on overflow).

    Scale shape: corpus-sized work is ONE combiner'd pre-aggregate to
    (priority, month) profiles; the recursion is applyInPandas over
    12-row groups (model-state work). The complete-profile guard
    (count = 12, mirrored by the oracle's HAVING) prevents the
    sparse-data divergence class found in DTW (ADVICE r08). Reference
    scope: no timeseries surface in the reference (SURVEY §2.5);
    declared extension."""
    orders = load(spark, sf_dir, "orders")
    prof = (orders.groupBy(
                F.col("o_orderpriority").alias("grp"),
                F.month("o_orderdate").cast("bigint").alias("m"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("z")))
    complete = (prof.groupBy("grp").count()
                .filter(F.col("count") == _KAL_N).select("grp"))
    pts = prof.join(F.broadcast(complete), "grp")

    q, r = _KAL_Q, _KAL_R

    def kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("m")
        g = pdf["grp"].iloc[0]

        def tdiv(a: int, b: int) -> int:
            # DuckDB // truncates toward zero; Python // floors.
            return abs(a) // b if a >= 0 else -(abs(a) // b)

        zs = [int(v) for v in pdf["z"]]
        x, p = zs[0] * 1_000_000, r
        rows = [(g, 1, zs[0], x, 0, p)]
        for t in range(2, len(zs) + 1):
            z = zs[t - 1]
            p_pred = p + q
            k = tdiv(p_pred * 1_000_000, p_pred + r)
            x = x + tdiv(k * (z * 1_000_000 - x), 1_000_000)
            p = tdiv((1_000_000 - k) * p_pred, 1_000_000)
            rows.append((g, t, z, x, k, p))
        return pd.DataFrame(rows, columns=["grp", "m", "z", "x_e6",
                                           "k_e6", "p_e6"])

    out = pts.groupBy("grp").applyInPandas(
        kalman, "grp string, m bigint, z bigint, x_e6 bigint, "
                "k_e6 bigint, p_e6 bigint")
    return out.select(F.col("grp").alias("o_orderpriority"), "m", "z",
                      "x_e6", "k_e6", "p_e6",
                      F.round(F.col("x_e6").cast("double") / 1000000.0, 6)
                      .alias("x_hat"))


# 2-state HMM over the event stream: state 0 = "browse", state 1 =
# "buy-intent". Model constants are LITERALS; both engines snap ln() to
# the integer micro-log grid from the same literals (the DSIR idiom),
# so the Viterbi DP is pure int64 max/plus.
_HMM_N = 8                      # decoded prefix length per user
_HMM_PI = (0.6, 0.4)            # initial state probabilities
_HMM_A = ((0.8, 0.2), (0.3, 0.7))   # transition matrix
_HMM_B = {                      # emission probabilities per state
    "view": (0.5, 0.15), "click": (0.3, 0.35), "purchase": (0.05, 0.3),
    "signup": (0.05, 0.15), "error": (0.1, 0.05),
}


def _mlog(p: float) -> str:
    # SINGLE-SOURCE micro-log: the integer is computed ONCE in Python
    # (math.log) and interpolated into the oracle as a literal — letting
    # DuckDB recompute `round(ln(p) * 1e6)` would reintroduce both the
    # cross-libm ln() last-ulp risk and the Python-banker's-vs-DuckDB
    # half-away boundary class the r09/r10 sweep closed (the _FS_W
    # record-linkage convention).
    import math
    return f"CAST({int(round(math.log(p) * 1e6))} AS BIGINT)"


def _hmm_oracle() -> str:
    """Unrolled 8-step 2-state Viterbi + backtrace. Each step CTE
    carries both state scores and both argmax choices (ties -> state
    0); the backtrace is generated nested SELECTs walking the stored
    choices from the final argmax. All CTEs AS MATERIALIZED (each is
    referenced by the next step AND the final join — the LPA
    lesson)."""
    b0 = " ".join(f"WHEN '{k}' THEN {_mlog(v[0])}"
                  for k, v in _HMM_B.items())
    b1 = " ".join(f"WHEN '{k}' THEN {_mlog(v[1])}"
                  for k, v in _HMM_B.items())
    a = [[_mlog(_HMM_A[i][j]) for j in range(2)] for i in range(2)]
    steps = []
    for t in range(2, _HMM_N + 1):
        steps.append(f"""
v{t} AS MATERIALIZED (
  SELECT p.user_id,
         greatest(p.v0 + {a[0][0]}, p.v1 + {a[1][0]}) + e.b0 AS v0,
         greatest(p.v0 + {a[0][1]}, p.v1 + {a[1][1]}) + e.b1 AS v1,
         CASE WHEN p.v0 + {a[0][0]} >= p.v1 + {a[1][0]}
              THEN 0 ELSE 1 END AS c0,
         CASE WHEN p.v0 + {a[0][1]} >= p.v1 + {a[1][1]}
              THEN 0 ELSE 1 END AS c1
  FROM v{t - 1} p JOIN e ON e.user_id = p.user_id AND e.rn = {t})"""[1:])
    # backtrace: s8 from the final argmax, then s_{t} = choice_{t+1}(s_{t+1})
    bt_cols = ", ".join(
        f"v{t}.c0 AS c{t}_0, v{t}.c1 AS c{t}_1"
        for t in range(2, _HMM_N + 1))
    bt_joins = "\n".join(
        f"JOIN v{t} ON v{t}.user_id = v{_HMM_N}.user_id"
        for t in range(2, _HMM_N))
    layers = f"""
SELECT v{_HMM_N}.user_id, {bt_cols},
       greatest(v{_HMM_N}.v0, v{_HMM_N}.v1) AS score,
       CASE WHEN v{_HMM_N}.v0 >= v{_HMM_N}.v1 THEN 0 ELSE 1 END AS s{_HMM_N}
FROM v{_HMM_N}
{bt_joins}"""
    for t in range(_HMM_N - 1, 0, -1):
        layers = f"""
SELECT *, CASE WHEN s{t + 1} = 0 THEN c{t + 1}_0 ELSE c{t + 1}_1 END AS s{t}
FROM ({layers})"""
    path = " || ".join(f"CAST(s{t} AS VARCHAR)"
                       for t in range(1, _HMM_N + 1))
    return f"""
WITH obs AS MATERIALIZED (
  SELECT user_id, rn, event_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events) WHERE rn <= {_HMM_N}),
u8 AS MATERIALIZED (
  SELECT user_id FROM obs GROUP BY user_id
  HAVING count(*) = {_HMM_N}),
e AS MATERIALIZED (
  SELECT o.user_id, o.rn,
         CASE o.event_type {b0} END AS b0,
         CASE o.event_type {b1} END AS b1
  FROM obs o JOIN u8 USING (user_id)),
v1 AS MATERIALIZED (
  SELECT user_id, {_mlog(_HMM_PI[0])} + b0 AS v0,
         {_mlog(_HMM_PI[1])} + b1 AS v1
  FROM e WHERE rn = 1),
{",".join(steps)}
SELECT CAST(user_id AS BIGINT) AS user_id,
       {path} AS path,
       CAST(score AS BIGINT) AS score_micro
FROM ({layers})
"""


@query("events_hmm_viterbi", oracle=_hmm_oracle())
def events_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN MARKOV MODEL Viterbi decoding (Viterbi 1967; Rabiner
    1989) of each user's event-stream prefix into latent
    browse/buy-intent states — the LATENT-state extension of the
    observable-chain family (events_markov_transitions /
    events_markov_stationary): the chain ops model what users DO, the
    HMM decodes what users ARE while doing it, the primitive behind
    intent scoring and session-stage segmentation. Fixed 2-state model
    (literal init/transition/emission), first {_HMM_N} events per user
    in (ts, event_id) order, users with fewer dropped on both engines.

    Determinism: every probability snaps to the integer micro-log grid
    from the SAME literals inside each engine (the unigram-Viterbi
    idiom), so scores are int64 max/plus and the argmax path — ties
    broken to state 0 at every step and at the final argmax — replays
    identically: the oracle unrolls the 8 step CTEs and walks the
    stored choices through generated nested SELECTs; Spark runs the
    identical integer DP in an Arrow-batched applyInPandas over
    8-row user groups.

    Scale shape: one window to take each user's prefix (combiner'd,
    the sessionize shape), then user-count-sized model work — 16 DP
    cells per user. At 100 TB the decode parallelizes per user
    exactly like sessionization. Reference scope: no event surface in
    the reference (SURVEY §2.5); declared extension."""
    import math

    from pyspark.sql import Window as W2

    ev = load(spark, sf_dir, "events")
    w = W2.partitionBy("user_id").orderBy("ts", "event_id")
    obs = (ev.select("user_id", "event_type",
                     F.row_number().over(w).alias("rn"))
           .filter(F.col("rn") <= _HMM_N))
    full = (obs.groupBy("user_id").count()
            .filter(F.col("count") == _HMM_N).select("user_id"))
    pts = obs.join(full, "user_id")

    lpi = [round(math.log(p) * 1e6) for p in _HMM_PI]
    la = [[round(math.log(_HMM_A[i][j]) * 1e6) for j in range(2)]
          for i in range(2)]
    lb = {k: (round(math.log(v[0]) * 1e6), round(math.log(v[1]) * 1e6))
          for k, v in _HMM_B.items()}

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        uid = int(pdf["user_id"].iloc[0])
        ems = [lb[t] for t in pdf["event_type"]]
        v = [lpi[0] + ems[0][0], lpi[1] + ems[0][1]]
        choices = []
        for t in range(1, len(ems)):
            c0 = 0 if v[0] + la[0][0] >= v[1] + la[1][0] else 1
            c1 = 0 if v[0] + la[0][1] >= v[1] + la[1][1] else 1
            v = [max(v[0] + la[0][0], v[1] + la[1][0]) + ems[t][0],
                 max(v[0] + la[0][1], v[1] + la[1][1]) + ems[t][1]]
            choices.append((c0, c1))
        s = 0 if v[0] >= v[1] else 1
        path = [s]
        for c0, c1 in reversed(choices):
            s = c0 if s == 0 else c1
            path.append(s)
        path.reverse()
        return pd.DataFrame(
            [(uid, "".join(str(x) for x in path), max(v))],
            columns=["user_id", "path", "score_micro"])

    out = pts.groupBy("user_id").applyInPandas(
        viterbi, "user_id bigint, path string, score_micro bigint")
    return out.select("user_id", "path", "score_micro")
