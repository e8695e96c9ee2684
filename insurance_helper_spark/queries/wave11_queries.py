"""Round-11 operator wave: the vector-store lifecycle made
oracle-checkable (assignment census, incremental per-batch assignment,
cell-occupancy PSI drift — the batch twins of
``operators/vector_store.py``'s maintained-table stream), plus risk
ratios (Calmar + Ulcer index), the Zipf rank-frequency slope, the
Benford MAD conformity screen, and the wave-2 completions: the Hurst
exponent (aggregated-variance long-memory), Székely's energy distance
(1-D closed form on the ECDF walk), RiskMetrics EWMA volatility as a
quantized weighted fold, and a C4-style boilerplate n-gram screen.

House rules throughout: every libm value is quantized to BIGINT per
row/cell BEFORE any distributed fold (partial-aggregation order can
never move a bit); divisions are nullif/WHERE-guarded for the driver's
vanilla ANSI session; every computed column is aliased identically in
the Spark plan and the DuckDB oracle; each docstring carries the
100 TB scale stance.

Reference parity: the vector-store rows realize Stage-3 "vector
database for semantic document storage"
(/root/reference/README.md:108-110) as verifiable relational facts;
the risk/text/DQ rows extend shelves the driver mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insurance_helper_spark.functions.hashing import (
    KEY_REDUCE as _KR,
    KNUTH_MOD as _KMOD,
    KNUTH_MUL as _KMUL,
)
from insurance_helper_spark.operators.vector_store import _assign, _elect_centroids
from insurance_helper_spark.queries.catalog import register
from insurance_helper_spark.sources.tables import load_table

_DIM = 64  # fixture embedding dimensionality (TESTDATA.md)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vv")
    )


def _census_sql(src: str, assign_src: str, k: int) -> str:
    """Shared oracle skeleton: knuth-seeded k centroids with DENSE cell
    ids 0..k-1 + one 1e9-quantized Lloyd step elected over ``src``,
    then round-4 cosine argmax assignment of ``assign_src`` — the exact
    arithmetic of operators/vector_store.py::_elect_centroids/_assign."""
    return f"""
seeds AS (
  SELECT CAST(rn - 1 AS INT) AS cell, cvec FROM (
    SELECT vv AS cvec,
           row_number() OVER (
             ORDER BY ((vec_id % {_KR}) * {_KMUL}) % {_KMOD}, vec_id) AS rn
    FROM {src}) WHERE rn <= {k}
),
a1 AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT t.vec_id, s.cell,
           row_number() OVER (PARTITION BY t.vec_id
             ORDER BY round(list_cosine_similarity(t.vv, s.cvec), 4) DESC,
                      s.cell) AS rn
    FROM {src} t CROSS JOIN seeds s) WHERE rn = 1
),
means AS (
  SELECT cell, list(mu ORDER BY dim) AS mvec FROM (
    SELECT a1.cell AS cell, i.i AS dim,
           CAST(sum(CAST(round(t.vv[i.i + 1] * 1e9) AS BIGINT)) AS DOUBLE)
             / 1e9 / count(*) AS mu
    FROM a1 JOIN {src} t USING (vec_id)
    CROSS JOIN (SELECT unnest(range(0, {_DIM})) AS i) i
    GROUP BY a1.cell, i.i)
  GROUP BY cell
),
cent2 AS MATERIALIZED (
  SELECT s.cell, coalesce(m.mvec, s.cvec) AS cvec
  FROM seeds s LEFT JOIN means m ON m.cell = s.cell
),
a2 AS MATERIALIZED (
  SELECT vec_id, cell, cos_c FROM (
    SELECT t.vec_id, c.cell,
           round(list_cosine_similarity(t.vv, c.cvec), 4) AS cos_c,
           row_number() OVER (PARTITION BY t.vec_id
             ORDER BY round(list_cosine_similarity(t.vv, c.cvec), 4) DESC,
                      c.cell) AS rn
    FROM {assign_src} t CROSS JOIN cent2 c) WHERE rn = 1
)"""


# ---------------------------------------------------------------------------
# vector_store_assignment_census — the maintained IVF vector store's
# per-cell health table: elect the coarse quantizer over the whole
# embeddings fixture (knuth seeds, one quantized Lloyd step — the
# portable recipe the maintained store persists at each epoch), assign
# every vector, report per cell: occupancy, corpus share, and the
# 1e6-quantized mean assignment cosine. This is the relation an
# operator reads to decide cell splits / re-election — and the
# oracle-backed twin of operators/vector_store.py's epoch content.
# Scale: centroids are k x d (broadcast); assignment is k candidate
# rows per vector, codegen'd JVM cosine; the census is a k-row fold.
# ---------------------------------------------------------------------------

VS_CENSUS_K = 16

VS_CENSUS_ORACLE = f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
),
{_census_sql('v', 'v', VS_CENSUS_K)}
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(100.0 * count(*) / (SELECT count(*) FROM v), 4) AS share_pct,
       round(CAST(sum(CAST(round(1e6 * cos_c) AS BIGINT)) AS DOUBLE)
             / count(*) / 1e6, 6) AS mean_cos
FROM a2 GROUP BY cell ORDER BY cell
"""


@register("vector_store_assignment_census", VS_CENSUS_ORACLE)
def vector_store_assignment_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir).localCheckpoint(eager=True)  # seeds + means + assign
    a = _assign(vecs, _elect_centroids(vecs, VS_CENSUS_K))
    total = vecs.count()
    return (
        a.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum(F.round(F.col("cos_c") * 1e6).cast("long")).alias("s"),
        )
        .select(
            "cell",
            "n_vectors",
            F.round(F.lit(100.0) * F.col("n_vectors") / F.lit(total), 4).alias(
                "share_pct"
            ),
            F.round(
                F.col("s").cast("double") / F.col("n_vectors") / 1e6, 6
            ).alias("mean_cos"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# vector_store_incremental_assign — the stream's per-batch step as a
# pure-batch relation: the quantizer is elected over the HISTORY half
# of the corpus (even vec_ids — the store content), the DELTA half
# (odd vec_ids — the incoming micro-batch) is assigned against those
# broadcast centroids, and the per-cell census of the new arrivals is
# reported. This value-pins exactly what
# vector_store_ingest_stream's assignment write produces for a batch.
# Scale: the delta never joins the history — only the k x d centroid
# relation crosses over (broadcast), the incremental-maintenance
# property that makes the store O(batch) per trigger.
# ---------------------------------------------------------------------------

VS_INC_K = 8

VS_INC_ORACLE = f"""
WITH h AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
  WHERE vec_id % 2 = 0
),
d AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
  WHERE vec_id % 2 = 1
),
{_census_sql('h', 'd', VS_INC_K)}
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_new,
       round(100.0 * count(*) / (SELECT count(*) FROM d), 4) AS share_pct,
       round(CAST(sum(CAST(round(1e6 * cos_c) AS BIGINT)) AS DOUBLE)
             / count(*) / 1e6, 6) AS mean_cos
FROM a2 GROUP BY cell ORDER BY cell
"""


@register("vector_store_incremental_assign", VS_INC_ORACLE)
def vector_store_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir)
    hist = vecs.where(F.col("vec_id") % 2 == 0).localCheckpoint(eager=True)
    delta = vecs.where(F.col("vec_id") % 2 == 1).localCheckpoint(eager=True)
    a = _assign(delta, _elect_centroids(hist, VS_INC_K))
    n_delta = delta.count()
    return (
        a.groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_new"),
            F.sum(F.round(F.col("cos_c") * 1e6).cast("long")).alias("s"),
        )
        .select(
            "cell",
            "n_new",
            F.round(F.lit(100.0) * F.col("n_new") / F.lit(n_delta), 4).alias(
                "share_pct"
            ),
            F.round(
                F.col("s").cast("double") / F.col("n_new") / 1e6, 6
            ).alias("mean_cos"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# vector_store_occupancy_psi — the store's re-election trigger as an
# oracle-backed scalar: PSI between the incoming batch's (odd ids)
# cell occupancy and the store's (even ids) occupancy under the
# history-elected quantizer, over the FIXED 0..k-1 bucket spine, both
# sides Laplace-smoothed, per-cell contributions quantized
# round(1e9·) before the fold — the drift_gate_stream arithmetic on
# the IVF cell space, and bit-identical to
# operators/vector_store.py::occupancy_psi (pinned by test). Alarm at
# PSI >= 0.25 (the stream's default re-election threshold).
# Scale: two k-row censuses + a k-row fold; nothing data-sized moves.
# ---------------------------------------------------------------------------

VS_PSI_ORACLE = f"""
WITH h AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
  WHERE vec_id % 2 = 0
),
d AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
  WHERE vec_id % 2 = 1
),
{_census_sql('h', 'd', VS_INC_K)},
ah AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT t.vec_id, c.cell,
           row_number() OVER (PARTITION BY t.vec_id
             ORDER BY round(list_cosine_similarity(t.vv, c.cvec), 4) DESC,
                      c.cell) AS rn
    FROM h t CROSS JOIN cent2 c) WHERE rn = 1
),
spine AS (SELECT unnest(range(0, {VS_INC_K})) AS cell),
bc AS (SELECT cell, CAST(count(*) AS BIGINT) AS nb FROM a2 GROUP BY cell),
hc AS (SELECT cell, CAST(count(*) AS BIGINT) AS nh FROM ah GROUP BY cell),
tot AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n,
         (SELECT CAST(count(*) AS BIGINT) FROM h) AS m
),
cells AS (
  SELECT s.cell, coalesce(b.nb, 0) AS nb, coalesce(c.nh, 0) AS nh, t.n, t.m
  FROM spine s LEFT JOIN bc b ON b.cell = s.cell
  LEFT JOIN hc c ON c.cell = s.cell CROSS JOIN tot t
),
contrib AS (
  SELECT CAST(round(1e9 *
           (CAST(nb + 1 AS DOUBLE) / (n + {VS_INC_K})
            - CAST(nh + 1 AS DOUBLE) / (m + {VS_INC_K}))
           * ln((CAST(nb + 1 AS DOUBLE) / (n + {VS_INC_K}))
                / (CAST(nh + 1 AS DOUBLE) / (m + {VS_INC_K})))) AS BIGINT) AS q
  FROM cells
)
SELECT t.m AS n_hist, t.n AS n_batch,
       round(CAST((SELECT sum(q) FROM contrib) AS DOUBLE) / 1e9, 9)
           AS occupancy_psi,
       CAST((SELECT sum(q) FROM contrib) AS DOUBLE) / 1e9 >= 0.25 AS alarm
FROM tot t
"""


@register("vector_store_occupancy_psi", VS_PSI_ORACLE)
def vector_store_occupancy_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = VS_INC_K
    vecs = _vecs(spark, sf_dir)
    hist = vecs.where(F.col("vec_id") % 2 == 0).localCheckpoint(eager=True)
    delta = vecs.where(F.col("vec_id") % 2 == 1).localCheckpoint(eager=True)
    quantizer = _elect_centroids(hist, k)
    bc = _assign(delta, quantizer).groupBy("cell").agg(
        F.count("*").cast("long").alias("nb")
    )
    hc = _assign(hist, quantizer).groupBy("cell").agg(
        F.count("*").cast("long").alias("nh")
    )
    m = hist.count()
    n = delta.count()
    spine = spark.range(k).select(F.col("id").cast("int").alias("cell"))
    cells = (
        spine.join(F.broadcast(bc), "cell", "left")
        .join(F.broadcast(hc), "cell", "left")
        .select(
            "cell",
            F.coalesce("nb", F.lit(0)).alias("nb"),
            F.coalesce("nh", F.lit(0)).alias("nh"),
        )
    )
    p = (F.col("nb") + 1).cast("double") / (n + k)
    q = (F.col("nh") + 1).cast("double") / (m + k)
    contrib = cells.select(
        F.round(F.lit(1e9) * (p - q) * F.log(p / q)).cast("long").alias("q")
    )
    s = contrib.agg(F.sum("q").alias("sq"))
    return s.select(
        F.lit(m).cast("long").alias("n_hist"),
        F.lit(n).cast("long").alias("n_batch"),
        F.round(F.col("sq").cast("double") / 1e9, 9).alias("occupancy_psi"),
        (F.col("sq").cast("double") / 1e9 >= 0.25).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# finance_calmar_ulcer — downside-risk ratio shelf completion beside
# Sortino/max-drawdown: on the daily revenue series, annualized
# arithmetic return (per-day % returns quantized 1e6 to BIGINT before
# the mean — the Sortino fold), maximum drawdown % off the exact
# BIGINT running peak, the Ulcer index (RMS of the drawdown-% series,
# per-day squared drawdowns quantized 1e9 — headroom: 1e13/day x
# calendar days, calendar-bounded), and Calmar = annualized return /
# max drawdown computed from the two ROUNDED components so both
# engines divide identical values. Scale: one lag window + one running
# max on the calendar-bounded daily relation; single-row output.
# ---------------------------------------------------------------------------

from insurance_helper_spark.queries.wave10_queries import (  # noqa: E402
    _DAILY_SQL,
    _daily,
)

CALMAR_ORACLE = f"""
WITH {_DAILY_SQL},
w AS (
  SELECT day, cents,
         lag(cents) OVER (ORDER BY day) AS prev,
         max(cents) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM daily
),
t AS (
  SELECT count(*) AS n_days,
         CAST(sum(CASE WHEN prev > 0
             THEN CAST(round(1e6 * (cents - prev) / prev) AS BIGINT) END)
           AS BIGINT) AS sr,
         CAST(count(prev) AS BIGINT) AS n_ret,
         max(100.0 * (peak - cents) / peak) AS maxdd,
         CAST(sum(CAST(round(1e9 * (100.0 * (peak - cents) / peak)
                             * (100.0 * (peak - cents) / peak)) AS BIGINT))
           AS BIGINT) AS sdd
  FROM w WHERE peak > 0
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       round(CAST(sr AS DOUBLE) * 36500.0 / n_ret / 1e6, 4) AS ann_return_pct,
       round(maxdd, 4) AS max_drawdown_pct,
       round(sqrt(CAST(sdd AS DOUBLE) / n_days / 1e9), 4) AS ulcer_index,
       round(round(CAST(sr AS DOUBLE) * 36500.0 / n_ret / 1e6, 4)
             / nullif(round(maxdd, 4), 0.0), 6) AS calmar_ratio
FROM t WHERE n_ret > 0
"""


@register("finance_calmar_ulcer", CALMAR_ORACLE)
def finance_calmar_ulcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio + Ulcer index: annualized return over max drawdown, RMS drawdown from the running peak."""
    daily = _daily(spark, sf_dir)
    wd = Window.orderBy("day")
    wpeak = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w = daily.select(
        "day",
        "cents",
        F.lag("cents").over(wd).alias("prev"),
        F.max("cents").over(wpeak).alias("peak"),
    ).where(F.col("peak") > 0)
    dd = F.lit(100.0) * (F.col("peak") - F.col("cents")) / F.col("peak")
    t = w.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("prev") > 0,
                F.round(F.lit(1e6) * (F.col("cents") - F.col("prev")) / F.col("prev"))
                .cast("long"),
            )
        )
        .cast("long")
        .alias("sr"),
        F.count("prev").cast("long").alias("n_ret"),
        F.max(dd).alias("maxdd"),
        F.sum(F.round(F.lit(1e9) * dd * dd).cast("long")).cast("long").alias("sdd"),
    )
    ann = F.round(F.col("sr").cast("double") * 36500.0 / F.col("n_ret") / 1e6, 4)
    mdd = F.round(F.col("maxdd"), 4)
    return t.where(F.col("n_ret") > 0).select(
        "n_days",
        ann.alias("ann_return_pct"),
        mdd.alias("max_drawdown_pct"),
        F.round(F.sqrt(F.col("sdd").cast("double") / F.col("n_days") / 1e9), 4).alias(
            "ulcer_index"
        ),
        F.round(ann / F.nullif(mdd, F.lit(0.0)), 6).alias("calmar_ratio"),
    )


# ---------------------------------------------------------------------------
# text_zipf_slope — Zipf rank-frequency law fit over the top-100
# corpus terms: OLS of ln(count) on ln(rank) with BOTH coordinates
# quantized round(1e6·ln) to BIGINT per term before the sufficient-
# statistic sums (headroom: q·q <= 6.4e13/term x 100 terms — exact
# int64 with ~1e4x margin), slope/intercept from the closed form as
# one terminal DOUBLE ratio (the 1e6 scaling cancels in the slope).
# The corpus-statistics dial beside Heaps' law and the coverage curve:
# slope ~ -1 is natural-language-like. Scale: one token pass to the
# term census; the fit runs on a vocab-bounded 100-row relation.
# ---------------------------------------------------------------------------

_ZIPF_TOKS = (
    "CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''"
    " THEN [] ELSE string_split(trim(regexp_replace(lower(text),"
    " '[^a-z0-9]+', ' ', 'g')), ' ') END"
)

ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_ZIPF_TOKS}) AS term FROM documents WHERE trim(text) <> ''
),
tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY term),
ranked AS (
  SELECT CAST(round(1e6 * ln(CAST(rn AS DOUBLE))) AS BIGINT) AS qx,
         CAST(round(1e6 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS qy
  FROM (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rn FROM tf)
  WHERE rn <= 100
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
         CAST(sum(qx * qx) AS BIGINT) AS sxx,
         CAST(sum(qx * qy) AS BIGINT) AS sxy
  FROM ranked
)
SELECT n AS n_terms,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE) / n
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)
                * CAST(sx AS DOUBLE) / n) / 1e6, 6) AS zipf_intercept
FROM s WHERE n >= 2
"""


@register("text_zipf_slope", ZIPF_ORACLE)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope: OLS of ln(count) on ln(rank) over the top-100 terms, quantized coordinates."""
    from insurance_helper_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents", columns=["text"])
    tf = (
        docs.where(F.trim("text") != "")
        .select(F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # r15 (VERDICT r14 item 4): per-partition top-k via orderBy+limit
    # (TakeOrderedAndProject), then rank ≤100 rows — the global window
    # no longer sees the whole vocabulary. Total order (cnt desc, term)
    # makes limit ≡ the rn ≤ 100 filter with identical ranks.
    ranked = (
        tf.orderBy(F.desc("cnt"), "term")
        .limit(100)
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("cnt"), "term"))
        )
        .select(
            F.round(F.lit(1e6) * F.log(F.col("rn").cast("double")))
            .cast("long")
            .alias("qx"),
            F.round(F.lit(1e6) * F.log(F.col("cnt").cast("double")))
            .cast("long")
            .alias("qy"),
        )
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("qx").cast("long").alias("sx"),
        F.sum("qy").cast("long").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).cast("long").alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    slope = num / den
    return s.where(F.col("n") >= 2).select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (
                F.col("sy").cast("double") / F.col("n")
                - slope * F.col("sx").cast("double") / F.col("n")
            )
            / 1e6,
            6,
        ).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# dq_benford_mad — Nigrini's MAD conformity screen beside the Benford
# chi-square rows: mean absolute deviation between the observed
# first-digit distribution of order cents (digit from the DECIMAL
# STRING of the exact integer — never floor(log10)) and the closed-form
# Benford frequencies, over the FULL 1..9 digit spine (absent digits
# count as observed 0). Per-digit |obs - exp| quantized round(1e12·)
# BEFORE the 9-row mean (<= 3e11/digit — exact), conformity class from
# the ROUNDED MAD per Nigrini's published cutoffs (0.006 / 0.012 /
# 0.015). Scale: one 9-key map-side groupBy; the spine is 9 literal
# rows. The screen a billing-integrity audit runs daily.
# ---------------------------------------------------------------------------

BENFORD_MAD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS d
  FROM orders WHERE o_totalprice > 0
),
counts AS (SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY d),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts),
spine AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS d),
devs AS (
  SELECT CAST(round(1e12 * abs(CAST(coalesce(c.n_obs, 0) AS DOUBLE) / t.n
                               - ln(1 + 1.0 / s.d) / ln(10))) AS BIGINT) AS q
  FROM spine s LEFT JOIN counts c ON c.d = s.d CROSS JOIN tot t
),
mad AS (
  SELECT t.n,
         round(CAST((SELECT sum(q) FROM devs) AS DOUBLE) / 9 / 1e12, 8) AS m
  FROM tot t
)
SELECT n AS n_values, m AS benford_mad,
       CASE WHEN m < 0.006 THEN 'close'
            WHEN m < 0.012 THEN 'acceptable'
            WHEN m < 0.015 THEN 'marginal'
            ELSE 'nonconformity' END AS conformity
FROM mad
"""


@register("dq_benford_mad", BENFORD_MAD_ORACLE)
def dq_benford_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_totalprice"])
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = (
        orders.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    tot = counts.agg(F.sum("n_obs").cast("long").alias("n"))
    spine = spark.range(1, 10).select(F.col("id").cast("long").alias("d"))
    devs = (
        spine.join(F.broadcast(counts), "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.lit(1e12)
                * F.abs(
                    F.coalesce("n_obs", F.lit(0)).cast("double") / F.col("n")
                    - F.log(1 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
                )
            )
            .cast("long")
            .alias("q")
        )
    )
    sq = devs.agg(F.sum("q").alias("sq"))
    mad = F.round(F.col("sq").cast("double") / 9 / 1e12, 8)
    return (
        tot.crossJoin(F.broadcast(sq))
        .select(
            F.col("n").alias("n_values"),
            mad.alias("benford_mad"),
            F.when(mad < 0.006, "close")
            .when(mad < 0.012, "acceptable")
            .when(mad < 0.015, "marginal")
            .otherwise("nonconformity")
            .alias("conformity"),
        )
    )


# ---------------------------------------------------------------------------
# stat_hurst_exponent — long-memory diagnostic for the daily revenue
# series via the aggregated-variance method (Beran 1994; the
# SQL-expressible cousin of rescaled-range): daily % returns quantized
# round(1e3·) to BIGINT (coarser than the Sortino fold's 1e6 on
# purpose — block-sum SQUARES must stay in int64: measured |q| ≤
# 3.2e5 at the sparse sf0.001 worst case → nb·ΣS² ≤ ~1e16, exact,
# and returns only SHRINK as the data grows denser), blocks of
# m ∈ {1,2,4,8,16} days (only FULL blocks), per-scale variance of the
# block means from exact BIGINT (ΣS, ΣS²) sufficient statistics, then
# OLS of ln(var_m) on ln(m) with both coordinates quantized 1e6 per
# point. Var(mean of m) ~ m^(2H-2) for fractional Gaussian noise, so
# H = 1 + slope/2: H≈0.5 short-memory, H>0.5 persistent — the
# long-memory dial beside the ACF / Ljung-Box / burstiness rows.
# Scale: one lag window on the calendar-bounded daily relation, a
# 5-row scale spine crossed over it, and a 5-point fit; single row out.
# ---------------------------------------------------------------------------

HURST_ORACLE = f"""
WITH {_DAILY_SQL},
w AS (
  SELECT day, cents, lag(cents) OVER (ORDER BY day) AS prev FROM daily
),
r AS (
  SELECT CAST(round(1e3 * (cents - prev) / prev) AS BIGINT) AS q,
         row_number() OVER (ORDER BY day) AS rn
  FROM w WHERE prev > 0
),
ms AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS m),
blocks AS (
  SELECT ms.m AS m, (r.rn - 1) // ms.m AS b,
         CAST(sum(r.q) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
  FROM r CROSS JOIN ms GROUP BY ms.m, (r.rn - 1) // ms.m
),
scales AS (
  SELECT m, CAST(count(*) AS BIGINT) AS nb,
         CAST(sum(s) AS BIGINT) AS ss, CAST(sum(s * s) AS BIGINT) AS ss2
  FROM blocks WHERE c = m GROUP BY m
),
pts AS (
  SELECT CAST(round(1e6 * ln(CAST(m AS DOUBLE))) AS BIGINT) AS qx,
         CAST(round(1e6 * ln(CAST(nb * ss2 - ss * ss AS DOUBLE)
                / (CAST(nb AS DOUBLE) * nb * m * m * 1e6))) AS BIGINT) AS qy
  FROM scales WHERE nb >= 2 AND nb * ss2 - ss * ss > 0
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
         CAST(sum(qx * qx) AS BIGINT) AS sxx,
         CAST(sum(qx * qy) AS BIGINT) AS sxy
  FROM pts
)
SELECT n AS n_scales,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6)
           AS agg_var_slope,
       round(1.0 + 0.5 * CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 6) AS hurst
FROM fit WHERE n >= 2
"""


@register("stat_hurst_exponent", HURST_ORACLE)
def stat_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wd = Window.orderBy("day")
    w = daily.select(
        "day", "cents", F.lag("cents").over(wd).alias("prev")
    ).where(F.col("prev") > 0)
    r = w.select(
        F.round(F.lit(1e3) * (F.col("cents") - F.col("prev")) / F.col("prev"))
        .cast("long")
        .alias("q"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    ms = spark.range(5).select(
        F.expr("shiftleft(1, CAST(id AS INT))").cast("long").alias("m")
    )
    blocks = (
        r.crossJoin(F.broadcast(ms))
        .groupBy("m", F.expr("(rn - 1) div m").alias("b"))
        .agg(F.sum("q").cast("long").alias("s"), F.count("*").cast("long").alias("c"))
    )
    scales = (
        blocks.where(F.col("c") == F.col("m"))
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("nb"),
            F.sum("s").cast("long").alias("ss"),
            F.sum(F.col("s") * F.col("s")).cast("long").alias("ss2"),
        )
    )
    var_num = (F.col("nb") * F.col("ss2") - F.col("ss") * F.col("ss")).cast("double")
    var_den = (
        F.col("nb").cast("double") * F.col("nb") * F.col("m") * F.col("m") * F.lit(1e6)
    )
    pts = scales.where(
        (F.col("nb") >= 2) & (F.col("nb") * F.col("ss2") - F.col("ss") * F.col("ss") > 0)
    ).select(
        F.round(F.lit(1e6) * F.log(F.col("m").cast("double"))).cast("long").alias("qx"),
        F.round(F.lit(1e6) * F.log(var_num / var_den)).cast("long").alias("qy"),
    )
    fit = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("qx").cast("long").alias("sx"),
        F.sum("qy").cast("long").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).cast("long").alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    return fit.where(F.col("n") >= 2).select(
        F.col("n").alias("n_scales"),
        F.round(num / den, 6).alias("agg_var_slope"),
        F.round(F.lit(1.0) + F.lit(0.5) * num / den, 6).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# stat_energy_distance — Székely's (squared) energy distance between
# urgent/high vs normal order-value distributions, closed-form in 1-D:
# D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'|, each expectation an integral over
# the pooled value axis of cross-ECDF products — the SAME value-
# collapsed walked relation as the Wasserstein/KS rows, with THREE
# BIGINT integrals ridden in one pass: Σ_{i<j}|x_i−x_j| =
# Σ_gaps c·(n−c)·gap. Completes the two-sample shelf's metric corner
# (KS = supremum, W1 = mass transport, energy = the E-statistic that
# powers the energy test of equal distributions; T = nm/(n+m)·D²).
# BIGINT headroom: each integral ≤ n·m·range ≈ 3e17 at sf0.1 (the W1
# row's documented bound); beyond ~sf3 drop to per-segment partials.
# Scale: map-side value collapse, ordered walk on DISTINCT values only.
# ---------------------------------------------------------------------------

ENERGY_ORACLE = """
WITH arms AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS hi
  FROM orders
),
tot AS (
  SELECT CAST(sum(hi) AS BIGINT) AS n_hi, CAST(sum(1 - hi) AS BIGINT) AS n_lo
  FROM arms
),
by_val AS (
  SELECT cents, CAST(sum(hi) AS BIGINT) AS h, CAST(sum(1 - hi) AS BIGINT) AS l
  FROM arms GROUP BY cents
),
walked AS (
  SELECT cents,
         sum(h) OVER w AS c_hi,
         sum(l) OVER w AS c_lo,
         lead(cents) OVER (ORDER BY cents) AS next_cents
  FROM by_val
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
acc AS (
  SELECT CAST(sum(c_hi * (t.n_hi - c_hi) * (next_cents - cents)) AS BIGINT) AS a,
         CAST(sum(c_lo * (t.n_lo - c_lo) * (next_cents - cents)) AS BIGINT) AS b,
         CAST(sum((c_hi * (t.n_lo - c_lo) + c_lo * (t.n_hi - c_hi))
                  * (next_cents - cents)) AS BIGINT) AS c,
         any_value(t.n_hi) AS n_hi, any_value(t.n_lo) AS n_lo
  FROM walked CROSS JOIN tot t
  WHERE next_cents IS NOT NULL
)
SELECT n_hi, n_lo,
       round(CAST(c AS DOUBLE) / n_hi / n_lo / 100, 4) AS e_xy_dollars,
       round((2.0 * CAST(c AS DOUBLE) / n_hi / n_lo
              - 2.0 * CAST(a AS DOUBLE) / n_hi / n_hi
              - 2.0 * CAST(b AS DOUBLE) / n_lo / n_lo) / 100, 6)
           AS energy_dist_dollars,
       round(CAST(n_hi AS DOUBLE) * n_lo / (n_hi + n_lo)
             * (2.0 * CAST(c AS DOUBLE) / n_hi / n_lo
                - 2.0 * CAST(a AS DOUBLE) / n_hi / n_hi
                - 2.0 * CAST(b AS DOUBLE) / n_lo / n_lo) / 100, 4)
           AS energy_test_stat
FROM acc
"""


@register("stat_energy_distance", ENERGY_ORACLE)
def stat_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"]
    )
    arms = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    by_val = arms.groupBy("cents").agg(
        F.sum("hi").cast("long").alias("h"),
        F.sum(1 - F.col("hi")).cast("long").alias("l"),
    )
    # ECDF cums, arm totals and the next distinct value, all bucketed
    # (functions/ranks): no window sorts the whole value relation.
    from insurance_helper_spark.functions.ranks import cum_counts, with_next_value

    walked = cum_counts(
        with_next_value(by_val, "cents", 10_000), [], ["cents"], ["h", "l"], 10_000
    ).select(
        "cents",
        F.col("h_upto").alias("c_hi"),
        F.col("l_upto").alias("c_lo"),
        F.col("h_total").alias("n_hi"),
        F.col("l_total").alias("n_lo"),
        "next_cents",
    )
    gap = F.col("next_cents") - F.col("cents")
    acc = (
        walked.where(F.col("next_cents").isNotNull())
        .agg(
            F.sum(F.col("c_hi") * (F.col("n_hi") - F.col("c_hi")) * gap)
            .cast("long")
            .alias("a"),
            F.sum(F.col("c_lo") * (F.col("n_lo") - F.col("c_lo")) * gap)
            .cast("long")
            .alias("b"),
            F.sum(
                (
                    F.col("c_hi") * (F.col("n_lo") - F.col("c_lo"))
                    + F.col("c_lo") * (F.col("n_hi") - F.col("c_hi"))
                )
                * gap
            )
            .cast("long")
            .alias("c"),
            F.any_value("n_hi").alias("n_hi"),
            F.any_value("n_lo").alias("n_lo"),
            F.min("cents").cast("long").alias("__min_c"),
            F.max("next_cents").cast("long").alias("__max_c"),
        )
    )
    # Runtime int64-headroom guard (ADVICE r11): each integral is
    # bounded by n·m·range (~3e17 at sf0.1, growing quadratically with
    # SF). The comment-only "beyond ~sf3 drop to per-segment partials"
    # limit would wrap SILENTLY in a non-ANSI session, so fail fast
    # here instead: the bound is computed in DOUBLE (the guard itself
    # must not overflow) and 2e18 leaves >4× true-int64 headroom.
    # assert_true returns NULL when the condition holds, so the filter
    # passes the single row through untouched — and throws before any
    # wrapped integral can reach the outputs when it does not.
    # coalesce(…, 0.0): with ≤1 distinct cents value the next_cents
    # filter leaves zero rows, the global agg yields NULL __min_c /
    # __max_c, and assert_true(NULL) would throw a MISLEADING overflow
    # error on degenerate input that is actually in budget (ADVICE
    # r12) — a NULL bound passes through as 0 instead.
    bound = F.coalesce(
        F.col("n_hi").cast("double")
        * F.col("n_lo").cast("double")
        * (F.col("__max_c") - F.col("__min_c")).cast("double"),
        F.lit(0.0),
    )
    acc = acc.where(
        F.assert_true(
            bound < 2.0e18,
            "stat_energy_distance: n_hi*n_lo*value_range exceeds the exact-"
            "int64 budget of the pairwise-gap integrals at this scale; "
            "switch to per-segment partial integrals (see docstring) before "
            "trusting these outputs",
        ).isNull()
    ).drop("__min_c", "__max_c")
    d2 = (
        F.lit(2.0) * F.col("c").cast("double") / F.col("n_hi") / F.col("n_lo")
        - F.lit(2.0) * F.col("a").cast("double") / F.col("n_hi") / F.col("n_hi")
        - F.lit(2.0) * F.col("b").cast("double") / F.col("n_lo") / F.col("n_lo")
    )
    return acc.select(
        "n_hi",
        "n_lo",
        F.round(
            F.col("c").cast("double") / F.col("n_hi") / F.col("n_lo") / 100, 4
        ).alias("e_xy_dollars"),
        F.round(d2 / 100, 6).alias("energy_dist_dollars"),
        F.round(
            F.col("n_hi").cast("double")
            * F.col("n_lo")
            / (F.col("n_hi") + F.col("n_lo"))
            * d2
            / 100,
            4,
        ).alias("energy_test_stat"),
    )


# ---------------------------------------------------------------------------
# finance_ewma_volatility — the RiskMetrics EWMA variance (λ = 0.94)
# on the daily revenue series as a WEIGHTED FOLD, not a recursion:
# σ²_T = (1−λ)·Σ λ^(T−t)·r_t². Per-day: return quantized round(1e3·)
# BIGINT (measured |r_q| ≤ 3.2e5 at the sparse sf0.001 worst case;
# returns shrink as data densifies), weight quantized
# round(1e6·λ^(T−t)) BIGINT (λ^k underflows to an exact shared 0 past
# k≈330 at this scale — the old tail can never move the fold), exact
# BIGINT product w_q·r_q² per day (≤ 1e17 worst) — headroom: the
# weight sum is geometric, Σw_q ≈ 1e6/(1−λ) ≈ 1.7e7, so the fold
# stays ≥ 45× inside int64. ONE libm pow per day, quantized
# before the fold (partial-agg order can't move a bit). Cross-engine
# pow safety (ADVICE r11): the quantization round(1e6·0.94^k) is
# boundary-safe by verified margin — computed EXACTLY over rationals
# (1e6·(47/50)^k via Fraction), the minimum distance of the true value
# to any .5 rounding boundary for k ≤ 1000 is 3.669e-3 (at k = 125),
# while a 1-ulp libm pow divergence between DuckDB and the JVM is
# ≤ ulp(1e6) ≈ 1.2e-10 — a ~3e7× margin, so both engines round every
# weight to the same BIGINT and the 8-decimal ewma_var cannot split.
# Completes the
# risk shelf: Sortino (downside), Calmar/Ulcer (drawdown), EWMA (the
# variance clock VaR desks actually run). Scale: one lag + one
# row_number on the calendar-bounded daily relation; single row out.
# ---------------------------------------------------------------------------

EWMA_VOL_ORACLE = f"""
WITH {_DAILY_SQL},
w AS (
  SELECT day, cents, lag(cents) OVER (ORDER BY day) AS prev FROM daily
),
r AS (
  SELECT CAST(round(1e3 * (cents - prev) / prev) AS BIGINT) AS rq,
         row_number() OVER (ORDER BY day) AS rn
  FROM w WHERE prev > 0
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM r),
acc AS (
  SELECT CAST(sum(CAST(round(1e6 * pow(0.94, t.t - r.rn)) AS BIGINT)
                  * rq * rq) AS BIGINT) AS sc,
         any_value(t.t) AS t
  FROM r CROSS JOIN tot t
)
SELECT t AS n_returns,
       round(0.06 * CAST(sc AS DOUBLE) / 1e12, 8) AS ewma_var,
       round(100.0 * sqrt(0.06 * CAST(sc AS DOUBLE) / 1e12), 4)
           AS ewma_vol_daily_pct,
       round(100.0 * sqrt(365.0 * 0.06 * CAST(sc AS DOUBLE) / 1e12), 4)
           AS ewma_vol_annual_pct
FROM acc
"""


@register("finance_ewma_volatility", EWMA_VOL_ORACLE)
def finance_ewma_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    wd = Window.orderBy("day")
    w = daily.select(
        "day", "cents", F.lag("cents").over(wd).alias("prev")
    ).where(F.col("prev") > 0)
    r = w.select(
        F.round(F.lit(1e3) * (F.col("cents") - F.col("prev")) / F.col("prev"))
        .cast("long")
        .alias("rq"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    tot = r.agg(F.count("*").cast("long").alias("t"))
    acc = r.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.round(F.lit(1e6) * F.pow(F.lit(0.94), F.col("t") - F.col("rn")))
            .cast("long")
            * F.col("rq")
            * F.col("rq")
        )
        .cast("long")
        .alias("sc"),
        F.any_value("t").alias("t"),
    )
    var = F.lit(0.06) * F.col("sc").cast("double") / F.lit(1e12)
    return acc.select(
        F.col("t").alias("n_returns"),
        F.round(var, 8).alias("ewma_var"),
        F.round(F.lit(100.0) * F.sqrt(var), 4).alias("ewma_vol_daily_pct"),
        F.round(F.lit(100.0) * F.sqrt(F.lit(365.0) * F.lit(0.06) * F.col("sc").cast("double") / F.lit(1e12)), 4).alias(
            "ewma_vol_annual_pct"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_boilerplate_ngrams — the C4-style boilerplate screen adapted
# to the fixture (no line structure, so the unit is the 4-token
# shingle): document-frequency census of every positional 4-gram, the
# top-20 by (doc_freq, n_occurrences, shingle) — a TOTAL order, so
# both engines pick identical rows — each flagged is_boilerplate when
# it appears in ≥ max(3, 1% of docs) DISTINCT documents (the
# repeated-across-documents test C4 applies to lines and Gopher to
# n-grams). Always 20 rows at any SF — never a vacuous driver hash.
# Feeds removal/downweighting decisions in a curation pipeline; the
# corpus-level complement of the pairwise dedup family. Scale: the
# shingle census is one map-side-combinable groupBy on the shingle
# key (same key distribution the MinHash family already rides);
# top-20 via TakeOrdered — no global sort materializes.
# ---------------------------------------------------------------------------

BOILERPLATE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_ZIPF_TOKS} AS ts FROM documents WHERE trim(text) <> ''
),
tk AS (
  SELECT doc_id, unnest(ts) AS tok,
         CAST(unnest(range(1, len(ts) + 1)) AS BIGINT) AS pos
  FROM d
),
sh AS (
  SELECT doc_id, tok || ' ' || t1 || ' ' || t2 || ' ' || t3 AS shingle FROM (
    SELECT doc_id, tok,
           lead(tok, 1) OVER w AS t1,
           lead(tok, 2) OVER w AS t2,
           lead(tok, 3) OVER w AS t3
    FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE t3 IS NOT NULL
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d),
census AS (
  SELECT shingle, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM sh GROUP BY shingle
)
SELECT shingle, doc_freq, n_occurrences,
       round(100.0 * doc_freq / nd.n_docs, 4) AS pct_docs,
       doc_freq >= greatest(3, CAST(ceil(0.01 * nd.n_docs) AS BIGINT))
           AS is_boilerplate
FROM census CROSS JOIN nd
ORDER BY doc_freq DESC, n_occurrences DESC, shingle
LIMIT 20
"""


@register("corpus_boilerplate_ngrams", BOILERPLATE_ORACLE)
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from insurance_helper_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).where(
        F.trim("text") != ""
    )
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).localCheckpoint(eager=True)  # feeds both the census and n_docs
    tok = docs.select(
        "doc_id", F.posexplode(T.tokens(F.col("text")))
    ).toDF("doc_id", "pos", "tok")
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, 4)]
    sh = (
        tok.select("doc_id", "tok", *leads)
        .where(F.col("t3").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", "tok", "t1", "t2", "t3").alias("shingle"),
        )
    )
    census = sh.groupBy("shingle").agg(
        F.count_distinct("doc_id").cast("long").alias("doc_freq"),
        F.count("*").cast("long").alias("n_occurrences"),
    )
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        census.crossJoin(F.broadcast(nd))
        .select(
            "shingle",
            "doc_freq",
            "n_occurrences",
            F.round(F.lit(100.0) * F.col("doc_freq") / F.col("n_docs"), 4).alias(
                "pct_docs"
            ),
            (
                F.col("doc_freq")
                >= F.greatest(
                    F.lit(3).cast("long"),
                    F.ceil(F.lit(0.01) * F.col("n_docs")).cast("long"),
                )
            ).alias("is_boilerplate"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("n_occurrences"), "shingle")
        .limit(20)
    )
