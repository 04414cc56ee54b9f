"""Driver-contract query registry: Spark implementations + DuckDB oracles.

Each entry in QUERIES maps a name to (spark_fn, duckdb_sql | None).  The
spark_fn takes (spark, sf_dir) and returns a DataFrame whose column NAMES
and VALUES match the DuckDB SQL run on the same parquet tables (views:
region nation customer supplier part orders lineitem events documents
embeddings).  Floats are rounded on BOTH sides — digits chosen per column
magnitude — so the driver's order-insensitive value-hash is robust to
summation-order/libm noise; timestamps are emitted as epoch BIGINTs for
the same reason.

Where an operator is not SQL-expressible (kernel features, codecs), the
oracle is None and the driver records a rows-only check; those operators
are instead bit-exactness-tested against the local numpy twins in tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .entry_goldens import GOLDEN_SQL
from .operators.text import BPE_PIECES_RE
from .operators.hdrsketch import MAX_SCALED
from .functions import kernels as K
from .operators.gapfill import gapfill
from .operators.rollup import (
    TIERS,
    refresh_tier_incremental,
    rollup_all_tiers,
    rollup_points,
    rollup_tier,
)
from .operators.score import score
from .operators.windows import (
    energy_agg,
    myriad_agg,
    sliding_agg,
    spl_agg,
    tumbling_agg,
    zcr_windowed,
)

WINLEN = 16
NOVERLAP = 8
MYRIAD_K = 2.5


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def events_samples(spark: SparkSession, sf_dir: str, cents: bool = False) -> DataFrame:
    """events -> samples(series_id, seq, ts, value); series = user_id.

    seq is the 1-based rank by (ts, event_id) within each user — the same
    total order the oracle SQL uses.  ``cents=True`` scales values to
    integer cents (floor(v*100+0.5)): sums of integers are EXACT in
    float64 (up to 2^53) and therefore summation-order independent, which
    makes aggregate outputs bit-identical between Spark and DuckDB — raw
    2-decimal data can otherwise land exactly on rounding boundaries.
    """
    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.floor(F.col("value") * 100 + 0.5).cast("double") if cents else F.col("value")
    return ev.select(
        F.col("user_id").cast("string").alias("series_id"),
        F.row_number().over(w).cast("long").alias("seq"),
        "ts",
        v.alias("value"),
    )


_SAMPLES_CTE = """
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
             value AS v
      FROM events
    )
"""

_SAMPLES_CTE_CENTS = """
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
             floor(value*100 + 0.5) AS v
      FROM events
    )
"""


def _r(c, d: int = 6) -> F.Column:
    """Round for the oracle value-hash: floor(x*10^d + 0.5)/10^d.

    Deliberately NOT round(): Spark rounds the shortest-decimal repr
    (BigDecimal) while DuckDB rounds the binary value, and they disagree
    on exact decimal boundaries.  This floor form is pure IEEE arithmetic,
    evaluated identically by both engines (the SQL twins use the same
    expression).  Digits are chosen per column so that 10^-d is many
    orders above cross-engine float noise at that column's magnitude.
    """
    p = float(10**d)
    return F.floor(c * p + 0.5) / p


# ---------------------------------------------------------------------------
# 1-4: tumbling windowed Catalyst twins (energy / SPL / Myriad / ZCR)
# ---------------------------------------------------------------------------

def q_energy_win_tumbling(spark, sf_dir):
    s = events_samples(spark, sf_dir, cents=True)
    out = tumbling_agg(s, WINLEN, {"energy": energy_agg(F.col("value"))})
    return out.select("series_id", "win_start", _r(F.col("energy"), 3).alias("energy"))


SQL_ENERGY_TUMBLING = _SAMPLES_CTE_CENTS + f"""
    SELECT series_id,
           ((seq-1)//{WINLEN})*{WINLEN}+1 AS win_start,
           floor((avg(v*v))*1000.0 + 0.5)/1000.0 AS energy
    FROM s GROUP BY 1, 2 HAVING count(*) = {WINLEN}
"""


def q_spl_win_tumbling(spark, sf_dir):
    s = events_samples(spark, sf_dir)
    out = tumbling_agg(s, WINLEN, {"spl": spl_agg(F.col("value"))})
    return out.select("series_id", "win_start", _r(F.col("spl"), 4).alias("spl"))


SQL_SPL_TUMBLING = _SAMPLES_CTE + f"""
    SELECT series_id,
           ((seq-1)//{WINLEN})*{WINLEN}+1 AS win_start,
           floor((20*log10(sqrt(avg(v*v))/1.0))*10000.0 + 0.5)/10000.0 AS spl
    FROM s GROUP BY 1, 2 HAVING count(*) = {WINLEN}
"""


def q_myriad_win_tumbling(spark, sf_dir):
    s = events_samples(spark, sf_dir)
    out = tumbling_agg(s, WINLEN, {"myriad": myriad_agg(F.col("value"), MYRIAD_K)})
    return out.select("series_id", "win_start", _r(F.col("myriad"), 3).alias("myriad"))


SQL_MYRIAD_TUMBLING = _SAMPLES_CTE + f"""
    SELECT series_id,
           ((seq-1)//{WINLEN})*{WINLEN}+1 AS win_start,
           floor((sum(ln({MYRIAD_K} + v*v)))*1000.0 + 0.5)/1000.0 AS myriad
    FROM s GROUP BY 1, 2 HAVING count(*) = {WINLEN}
"""


def q_zcr_win_tumbling(spark, sf_dir):
    s = events_samples(spark, sf_dir).withColumn("value", F.col("value") - 50.0)
    out = zcr_windowed(s, WINLEN, 0)
    return out.select("series_id", "win_start", _r(F.col("zcr"), 6).alias("zcr"))


SQL_ZCR_TUMBLING = f"""
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
             value - 50.0 AS v
      FROM events
    ), c AS (
      SELECT series_id, seq,
             CASE WHEN (v > 0) <> lag(v > 0) OVER (PARTITION BY series_id ORDER BY seq)
                  THEN 1 ELSE 0 END AS chg
      FROM s
    )
    SELECT series_id,
           ((seq-2)//{WINLEN})*{WINLEN}+1 AS win_start,
           floor((sum(chg)/({WINLEN}-1.0))*1000000.0 + 0.5)/1000000.0 AS zcr
    FROM c WHERE seq >= 2 AND (seq-1) % {WINLEN} <> 0
    GROUP BY 1, 2 HAVING count(*) = {WINLEN}-1
"""


# ---------------------------------------------------------------------------
# 5-6: sliding windows with overlap + hop arithmetic
# ---------------------------------------------------------------------------

def q_energy_win_sliding(spark, sf_dir):
    s = events_samples(spark, sf_dir, cents=True)
    out = sliding_agg(s, WINLEN, NOVERLAP, {"energy": energy_agg(F.col("value"))})
    return out.select("series_id", "win_start", _r(F.col("energy"), 3).alias("energy"))


SQL_ENERGY_SLIDING = _SAMPLES_CTE_CENTS + f"""
    , lens AS (SELECT series_id, max(seq) AS n FROM s GROUP BY 1),
    starts AS (
      SELECT series_id, unnest(generate_series(1, n - {WINLEN-1}, {WINLEN - NOVERLAP})) AS win_start
      FROM lens WHERE n >= {WINLEN}
    )
    SELECT st.series_id, st.win_start, floor((avg(s.v*s.v))*1000.0 + 0.5)/1000.0 AS energy
    FROM starts st JOIN s ON s.series_id = st.series_id
                        AND s.seq BETWEEN st.win_start AND st.win_start + {WINLEN-1}
    GROUP BY 1, 2
"""


def q_hop_window_counts(spark, sf_dir):
    """Actual sliding-window count per series == the hop formula."""
    s = events_samples(spark, sf_dir)
    actual = (
        sliding_agg(s, WINLEN, NOVERLAP, {"energy": energy_agg(F.col("value"))})
        .groupBy("series_id")
        .agg(F.count(F.lit(1)).alias("nwin"))
    )
    n = s.groupBy("series_id").agg(F.max("seq").alias("n_samples"))
    return n.join(actual, "series_id", "left").select(
        "series_id", "n_samples", F.coalesce("nwin", F.lit(0)).alias("nwin")
    )


SQL_HOP_WINDOW_COUNTS = _SAMPLES_CTE + f"""
    SELECT series_id, max(seq) AS n_samples,
           CASE WHEN max(seq) >= {WINLEN}
                THEN (max(seq) - {WINLEN})//{WINLEN - NOVERLAP} + 1 ELSE 0 END AS nwin
    FROM s GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 7-10: rollup tiers
# ---------------------------------------------------------------------------

def _rollup_out(df):
    """Oracle-facing projection; cents units keep sums integer-exact."""
    return df.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "cnt",
        F.col("sum").cast("long").alias("sum_c"),
        F.col("min").cast("long").alias("min_c"),
        F.col("max").cast("long").alias("max_c"),
        _r(F.col("avg") / 100.0, 6).alias("avg_v"),
    )


def _sql_rollup(sec: int) -> str:
    return f"""
    WITH c AS (
      SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events
    )
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           (floor(epoch(ts)/{sec})*{sec})::BIGINT AS bucket_epoch,
           count(*) AS cnt,
           CAST(sum(v) AS BIGINT) AS sum_c,
           CAST(min(v) AS BIGINT) AS min_c,
           CAST(max(v) AS BIGINT) AS max_c,
           floor((sum(v)/count(*)/100.0)*1000000.0 + 0.5)/1000000.0 AS avg_v
    FROM c GROUP BY 1, 2
    """


def q_rollup_1m(spark, sf_dir):
    pts = events_samples(spark, sf_dir, cents=True)
    return _rollup_out(rollup_points(pts, TIERS["1m"]))


def q_rollup_1h_chained(spark, sf_dir):
    """1h tier computed FROM the 1m tier; oracle computes 1h from raw."""
    pts = events_samples(spark, sf_dir, cents=True)
    return _rollup_out(rollup_tier(rollup_points(pts, TIERS["1m"]), TIERS["1h"]))


def q_rollup_1d_chained(spark, sf_dir):
    pts = events_samples(spark, sf_dir, cents=True)
    t1m = rollup_points(pts, TIERS["1m"])
    return _rollup_out(rollup_tier(rollup_tier(t1m, TIERS["1h"]), TIERS["1d"]))


def q_rollup_30d_chained(spark, sf_dir):
    pts = events_samples(spark, sf_dir, cents=True)
    t1m = rollup_points(pts, TIERS["1m"])
    t1d = rollup_tier(rollup_tier(t1m, TIERS["1h"]), TIERS["1d"])
    return _rollup_out(rollup_tier(t1d, TIERS["30d"]))


# ---------------------------------------------------------------------------
# 11-12: gap-fill over the 1h tier
# ---------------------------------------------------------------------------

def _gapfill_q(spark, sf_dir, method):
    # cents: bucket averages are exact-integer/cnt, so the interpolation
    # inputs (and hence outputs) are bit-identical across engines
    pts = events_samples(spark, sf_dir, cents=True)
    rolled = rollup_points(pts, TIERS["1h"])
    out = gapfill(rolled, TIERS["1h"], value_col="avg", method=method)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        _r(F.col("value") / 100.0, 4).alias("value"),
        F.col("is_gap").cast("int").alias("is_gap"),
    )


def q_gapfill_locf_maxgap_1h(spark, sf_dir):
    """LOCF with a 3-bucket staleness horizon: longer outages stay null."""
    pts = events_samples(spark, sf_dir, cents=True)
    rolled = rollup_points(pts, TIERS["1h"])
    out = gapfill(rolled, TIERS["1h"], value_col="avg", method="locf", max_gap=3)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        _r(F.col("value") / 100.0, 4).alias("value"),
        F.col("is_gap").cast("int").alias("is_gap"),
        F.col("value").isNull().cast("int").alias("is_stale"),
    )


def q_gapfill_locf_1h(spark, sf_dir):
    return _gapfill_q(spark, sf_dir, "locf")


def q_gapfill_linear_1h(spark, sf_dir):
    return _gapfill_q(spark, sf_dir, "linear")


_SQL_GAPFILL_BASE = """
    WITH r AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
             sum(floor(value*100 + 0.5))/count(*) AS avg_v
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT series_id, min(bucket_epoch) AS lo, max(bucket_epoch) AS hi FROM r GROUP BY 1
    ), spine AS (
      SELECT series_id, unnest(generate_series(lo, hi, 3600)) AS bucket_epoch FROM b
    ), j AS (
      SELECT sp.series_id, sp.bucket_epoch, r.avg_v AS v
      FROM spine sp LEFT JOIN r USING (series_id, bucket_epoch)
    ), nb AS (
      SELECT series_id, bucket_epoch, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY series_id ORDER BY bucket_epoch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN bucket_epoch END IGNORE NULLS) OVER
          (PARTITION BY series_id ORDER BY bucket_epoch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY series_id ORDER BY bucket_epoch
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN bucket_epoch END IGNORE NULLS) OVER
          (PARTITION BY series_id ORDER BY bucket_epoch
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
"""

SQL_GAPFILL_LOCF_MAXGAP = _SQL_GAPFILL_BASE + """
    SELECT series_id, bucket_epoch,
           CASE WHEN pt IS NOT NULL AND bucket_epoch - pt <= 3*3600
                THEN floor((pv/100.0)*10000.0 + 0.5)/10000.0 END AS value,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap,
           CASE WHEN pt IS NOT NULL AND bucket_epoch - pt <= 3*3600
                THEN 0 ELSE 1 END AS is_stale
    FROM nb
"""


SQL_GAPFILL_LOCF = _SQL_GAPFILL_BASE + """
    SELECT series_id, bucket_epoch, floor((pv/100.0)*10000.0 + 0.5)/10000.0 AS value,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM nb
"""

SQL_GAPFILL_LINEAR = _SQL_GAPFILL_BASE + """
    SELECT series_id, bucket_epoch,
           floor(((CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN NULL
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) * ((bucket_epoch - pt) / (nt - pt))
                 END)/100.0)*10000.0 + 0.5)/10000.0 AS value,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM nb
"""


# ---------------------------------------------------------------------------
# 13: pressure scalar (utils.jl:41-49)
# ---------------------------------------------------------------------------

def q_pressure_scalar(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    v = F.col("value")
    p1 = v / (F.pow(F.lit(10.0), -120.0 / 20) * F.pow(F.lit(10.0), 20.0 / 20))
    v2 = v * (1.0 / (2 ** 15))
    p2 = v2 / (F.pow(F.lit(10.0), -120.0 / 20) * F.pow(F.lit(10.0), 20.0 / 20))
    return ev.select(
        "event_id", _r(p1, 2).alias("p_upa"), _r(p2, 6).alias("p_upa_volt")
    )


SQL_PRESSURE = """
    SELECT event_id,
           floor((value / (pow(10, -120/20.0) * pow(10, 20/20.0)))*100.0 + 0.5)/100.0 AS p_upa,
           floor(((value * (1.0/32768)) / (pow(10, -120/20.0) * pow(10, 20/20.0)))*1000000.0 + 0.5)/1000000.0 AS p_upa_volt
    FROM events
"""


# ---------------------------------------------------------------------------
# 14: text -> samples derivation (SURVEY.md §7.2) on documents
# ---------------------------------------------------------------------------

def q_samples_from_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "(?!^)")).alias("pos", "ch"),
        )
        .filter(F.col("ch") != "")
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("long").alias("seq"),
            _r((F.ascii("ch") - 127.5) / 127.5).alias("value"),
        )
    )


SQL_SAMPLES_FROM_DOCS = """
    SELECT doc_id, i AS seq,
           floor(((ascii(substr(text, i, 1)) - 127.5)/127.5)*1000000.0 + 0.5)/1000000.0 AS value
    FROM documents, unnest(generate_series(1, length(text))) AS t(i)
    WHERE doc_id < 30
"""


# ---------------------------------------------------------------------------
# 15: TPC-H Q1-style pruning/agg sanity
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    # integer-scaled partial terms -> exact sums, order-independent
    qty_c = F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
    rev_i4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty_c).alias("sum_qty_c"),
        F.sum(rev_i4).alias("rev_i4"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_TPCH_Q1 = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(floor(l_quantity*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS rev_i4,
           count(*) AS n
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping-priority) adapted to the synthetic schema
    (o_orderpriority stands in for o_shippriority): three-table join
    with filters on both fact sides, exact integer-scaled revenue, top
    10 with a full tie-break.  Exercises Catalyst's join planning — the
    filtered customer side broadcasts, lineitem never shuffles twice."""
    cutoff = "1998-06-15"
    cust = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev_i4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    j = li.join(
        orders.join(cust, cust.c_custkey == orders.o_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    out = (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_i4).alias("rev_i4"))
        .orderBy(F.col("rev_i4").desc(), "l_orderkey")
        .limit(10)
    )
    return out.select(
        "l_orderkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        "o_orderpriority",
        "rev_i4",
    )


SQL_TPCH_Q3 = """
    SELECT l_orderkey,
           CAST(o_orderdate AS VARCHAR) AS o_orderdate,
           o_orderpriority,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                    AS BIGINT))::BIGINT AS rev_i4
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < DATE '1998-06-15'
      AND l_shipdate > DATE '1998-06-15'
    GROUP BY 1, 2, 3
    ORDER BY rev_i4 DESC, l_orderkey LIMIT 10
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): six-table star join with the
    canonical local-supplier predicate (c_nationkey == s_nationkey),
    revenue per nation within one region-year.  The filtered
    region->nation->supplier dimension chain broadcasts; the fact joins
    shuffle once each."""
    cutoff_lo, cutoff_hi = "1996-01-01", "1997-01-01"
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _read(spark, sf_dir, "nation")
    supplier = _read(spark, sf_dir, "supplier")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = _read(spark, sf_dir, "lineitem")
    rev_i4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    dim = (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "n_name", "s_nationkey")
    )
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return j.groupBy("n_name").agg(F.sum(rev_i4).alias("rev_i4"))


SQL_TPCH_Q5 = """
    SELECT n_name,
           sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                    AS BIGINT))::BIGINT AS rev_i4
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 16-19: dedup family (exact, minhash, n-gram jaccard, simhash)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_doc_id")
    )


SQL_DEDUP_EXACT = """
    SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS keeper_doc_id
    FROM documents GROUP BY 1
"""

_SHINGLE_LEN = 8
_MINHASH_K = 4


def _doc_shingles(docs):
    # length guard: Spark sequence(1, hi) descends when hi < 1
    return (
        docs.filter(F.length("text") >= _SHINGLE_LEN)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - (_SHINGLE_LEN - 1))
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.substring("text", F.col("i"), _SHINGLE_LEN).alias("sh"))
    )


def q_minhash_signatures(spark, sf_dir):
    """MinHash with portable hash functions: md5 hex strings of salted
    shingles — lexicographic min over fixed-length lowercase hex ==
    numeric min, identical in Spark and DuckDB."""
    docs = _read(spark, sf_dir, "documents")
    sh = _doc_shingles(docs)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("sh")))).alias(f"mh{k}")
        for k in range(_MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


SQL_MINHASH = f"""
    WITH sh AS (
      SELECT doc_id, substr(text, i, {_SHINGLE_LEN}) AS sh
      FROM documents,
           unnest(generate_series(1, length(text) - {_SHINGLE_LEN - 1})) AS t(i)
    )
    SELECT doc_id,
           {", ".join(f"min(md5('{k}:' || sh)) AS mh{k}" for k in range(_MINHASH_K))}
    FROM sh GROUP BY 1
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs on a deterministic doc subset."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    sh = _doc_shingles(docs).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= 0.1)
    )
    return jac.select("doc_a", "doc_b", _r(F.col("jaccard")).alias("jaccard"))


SQL_NGRAM_JACCARD = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, i, {_SHINGLE_LEN}) AS sh
      FROM documents,
           unnest(generate_series(1, length(text) - {_SHINGLE_LEN - 1})) AS t(i)
      WHERE doc_id % 5 = 0
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, floor((i*1.0/(sa.sz + sb.sz - i))*1000000.0 + 0.5)/1000000.0 AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
               JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i*1.0/(sa.sz + sb.sz - i) >= 0.1
"""


def _simhash_bits_sql(dialect: str) -> str:
    """16-bit SimHash from the first 4 hex digits of md5(token)."""
    div = "//" if dialect == "duckdb" else "DIV"
    strpos = "strpos" if dialect == "duckdb" else "locate"
    terms = []
    for j in range(16):
        hexpos = j // 4 + 1
        shift = 2 ** (3 - j % 4)
        if dialect == "duckdb":
            d = f"(strpos('0123456789abcdef', substr(md5(tok), {hexpos}, 1)) - 1)"
        else:
            d = f"(locate(substr(md5(tok), {hexpos}, 1), '0123456789abcdef') - 1)"
        bit = f"(({d} {div} {shift}) % 2)"
        terms.append(
            f"CASE WHEN sum(2*{bit} - 1) > 0 THEN {2**j} ELSE 0 END"
        )
    return " + ".join(terms)


def q_simhash16(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents
        )
        SELECT doc_id, CAST({_simhash_bits_sql("spark")} AS BIGINT) AS simhash
        FROM toks WHERE tok <> '' GROUP BY doc_id
        """
    )


SQL_SIMHASH = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT doc_id, CAST({_simhash_bits_sql("duckdb")} AS BIGINT) AS simhash
    FROM toks WHERE tok <> '' GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# 20-23: text analysis (lang-id features, quality, tokens, fingerprint)
# ---------------------------------------------------------------------------

def q_langid_features(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    txt = F.col("text")
    n = F.length(txt)
    vowels = F.length(F.regexp_replace(F.lower(txt), "[^aeiou]", ""))
    spaces = F.length(F.regexp_replace(txt, "[^ ]", ""))
    ntok = spaces + 1
    vr = vowels / n
    atl = (n - spaces) / ntok
    pred = (
        F.when(vr >= 0.3, F.lit("vowelish"))
        .when(atl >= 6.0, F.lit("longtok"))
        .otherwise(F.lit("other"))
    )
    return docs.select(
        "doc_id",
        _r(vr).alias("vowel_ratio"),
        _r(atl).alias("avg_token_len"),
        pred.alias("pred_class"),
    )


SQL_LANGID = """
    SELECT doc_id,
           floor((length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))*1.0/length(text))*1000000.0 + 0.5)/1000000.0 AS vowel_ratio,
           floor(((length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))*1.0
                 / (length(regexp_replace(text, '[^ ]', '', 'g')) + 1))*1000000.0 + 0.5)/1000000.0 AS avg_token_len,
           CASE WHEN length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))*1.0/length(text) >= 0.3
                THEN 'vowelish'
                WHEN (length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))*1.0
                     / (length(regexp_replace(text, '[^ ]', '', 'g')) + 1) >= 6.0
                THEN 'longtok'
                ELSE 'other' END AS pred_class
    FROM documents
"""


def q_quality_scores(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    txt = F.col("text")
    n = F.length(txt)
    digits = F.length(F.regexp_replace(txt, "[^0-9]", ""))
    punct = F.length(F.regexp_replace(txt, "[^.,;:!?]", ""))
    ntok = F.length(F.regexp_replace(txt, "[^ ]", "")) + 1
    quality = (
        F.least(n / 500.0, F.lit(1.0)) * 0.5
        + (1.0 - digits / n) * 0.3
        + F.least(ntok / 100.0, F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        ntok.cast("long").alias("n_tokens"),
        digits.cast("long").alias("n_digits"),
        punct.cast("long").alias("n_punct"),
        _r(quality).alias("quality"),
    )


SQL_QUALITY = """
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^ ]', '', 'g')) + 1 AS n_tokens,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
           floor((least(length(text)/500.0, 1.0)*0.5
                 + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))*1.0/length(text))*0.3
                 + least((length(regexp_replace(text, '[^ ]', '', 'g')) + 1)/100.0, 1.0)*0.2)*1000000.0 + 0.5)/1000000.0 AS quality
    FROM documents
"""


def q_token_stats(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        _r(F.avg(F.length("tok")), 4).alias("avg_len"),
    )


SQL_TOKEN_STATS = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
           floor((avg(length(tok)))*10000.0 + 0.5)/10000.0 AS avg_len
    FROM toks WHERE tok <> '' GROUP BY 1
"""


def q_doc_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


SQL_FINGERPRINT = """
    SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
"""


# ---------------------------------------------------------------------------
# 24-26: embedding similarity (brute-force cosine; LSH path in operators/)
# ---------------------------------------------------------------------------

def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _emb(spark, sf_dir):
    e = _read(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )


def q_topk_cosine_centroid(spark, sf_dir):
    """Top-10 vectors by cosine similarity to the label-0 centroid."""
    e = _emb(spark, sf_dir)
    lab0 = e.filter(F.col("label") == 0)
    exploded = lab0.select(F.posexplode("emb").alias("pos", "x"))
    cent = (
        exploded.groupBy("pos")
        .agg(F.avg("x").alias("cx"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s.cx
            ).alias("cvec")
        )
    )
    joined = e.crossJoin(F.broadcast(cent))
    cos = _dot(F.col("emb"), F.col("cvec")) / (_norm(F.col("emb")) * _norm(F.col("cvec")))
    ranked = joined.select("vec_id", cos.alias("_cos")).withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.col("_cos").desc(), F.col("vec_id"))),
    )
    return ranked.filter(F.col("rk") <= 10).select(
        "vec_id", _r(F.col("_cos")).alias("cos_sim"), F.col("rk").cast("long").alias("rk")
    )


SQL_TOPK_CENTROID = """
    WITH ex AS (
      SELECT u.pos, u.x FROM (
        SELECT unnest(embedding::DOUBLE[]) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings WHERE label = 0
      ) u(x, pos)
    ), cent AS (
      SELECT list(avg_x ORDER BY pos) AS cvec
      FROM (SELECT pos, avg(x) AS avg_x FROM ex GROUP BY pos)
    ), cos AS (
      SELECT vec_id,
             list_dot_product(embedding::DOUBLE[], cvec)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(cvec, cvec))) AS c
      FROM embeddings, cent
    )
    SELECT vec_id, floor((c)*1000000.0 + 0.5)/1000000.0 AS cos_sim,
           row_number() OVER (ORDER BY c DESC, vec_id) AS rk
    FROM cos ORDER BY c DESC, vec_id LIMIT 10
"""


def q_ann_nn_bruteforce(spark, sf_dir):
    """Exact nearest neighbor for the first 20 vectors (cosine)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("cid"))
    cos = _dot(F.col("qe"), F.col("ce")) / (_norm(F.col("qe")) * _norm(F.col("ce")))
    ranked = pairs.select("qid", "cid", cos.alias("_c")).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("qid").orderBy(F.col("_c").desc(), F.col("cid"))
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "qid", F.col("cid").alias("nn_id"), _r(F.col("_c")).alias("cos_sim")
    )


SQL_ANN_NN = """
    WITH cos AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS c
      FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
    ), rk AS (
      SELECT qid, cid, c,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, cid) AS rk
      FROM cos
    )
    SELECT qid, cid AS nn_id, floor((c)*1000000.0 + 0.5)/1000000.0 AS cos_sim FROM rk WHERE rk = 1
"""


def q_embedding_neardup_pairs(spark, sf_dir):
    """All pairs above a cosine threshold on a deterministic subset."""
    e = _emb(spark, sf_dir).filter(F.col("vec_id") % 2 == 0)
    a = e.select(F.col("vec_id").alias("ida"), F.col("emb").alias("ea"))
    b = e.select(F.col("vec_id").alias("idb"), F.col("emb").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("ida") < F.col("idb"))
    cos = _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb")))
    return (
        pairs.select("ida", "idb", cos.alias("_c"))
        .filter(F.col("_c") >= 0.25)
        .select("ida", "idb", _r(F.col("_c")).alias("cos_sim"))
    )


SQL_NEARDUP_PAIRS = """
    SELECT a.vec_id AS ida, b.vec_id AS idb,
           floor((list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))))*1000000.0 + 0.5)/1000000.0 AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 0
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.25
"""


# ---------------------------------------------------------------------------
# kernel-path queries.  DuckDB has no FFT/ordinal kernels, so the oracle is
# a VALUES-literal golden generated by the LOCAL NUMPY TWIN (functions/
# kernels.py:score_local) over the same sf0.01 parquet — two independent
# implementations (distributed Arrow path vs single-process numpy) routed
# through the driver's hash gate.  Regenerate with tools/gen_goldens.py.
# ---------------------------------------------------------------------------


def _kernel_checksum(out: DataFrame, keys: list) -> DataFrame:
    """Deterministic order-independent checksum of a score() result.

    All sums are over INTEGER micro-units (floor(v*1e6+0.5) as BIGINT),
    which makes them exact and summation-order independent — float sums
    would depend on partition order.  ``pos_check`` binds values to their
    (win_start) position so a permutation of equal multisets across
    windows cannot cancel out.  Non-finite values (NaN kernels on
    degenerate windows, -inf from log(0)) are counted in ``n_bad`` and
    excluded from the integer aggregates on both sides.
    """
    v = F.col("value")
    # NaN kernels arrive as NULL through the Arrow boundary (pandas uses
    # NaN as the null sentinel for float64) — coalesce(…, True) folds
    # NULL, NaN and ±inf into one "bad" bucket, matching np.isfinite.
    bad = F.coalesce(
        F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), F.lit(True)
    )
    micros = F.floor(v * 1e6 + F.lit(0.5)).cast("long")
    good = F.when(~bad, micros)
    return out.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(bad.cast("long")).alias("n_bad"),
        F.coalesce(F.sum(good), F.lit(0).cast("long")).alias("sum_micros"),
        F.coalesce(F.min(good), F.lit(0).cast("long")).alias("min_micros"),
        F.coalesce(F.max(good), F.lit(0).cast("long")).alias("max_micros"),
        F.coalesce(
            F.sum(F.when(~bad, F.col("win_start") * F.pmod(micros, F.lit(1009)))),
            F.lit(0).cast("long"),
        ).alias("pos_check"),
    )

def _doc_samples_for_kernels(spark, sf_dir):
    """documents -> per-source sample series (source ≙ channel)."""
    docs = _read(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    # F.length (chars), not octet_length (bytes): samples are exploded per
    # CHARACTER below, so a byte offset would leave seq non-dense on any
    # non-ASCII document and trip the kernel path's density check.
    offs = docs.withColumn(
        "sample_offset",
        F.coalesce(
            F.sum(F.length("text")).over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    exploded = (
        offs.select(
            F.col("source").alias("series_id"),
            "sample_offset",
            F.posexplode(F.split(F.col("text"), "(?!^)")).alias("pos", "ch"),
        )
        .filter(F.col("ch") != "")
        .select(
            "series_id",
            (F.col("sample_offset") + F.col("pos") + 1).alias("seq"),
            ((F.ascii("ch") - 127.5) / 127.5).alias("value"),
        )
    )
    return exploded


def q_score_kernels_docs(spark, sf_dir):
    samples = _doc_samples_for_kernels(spark, sf_dir)
    feats = [
        K.PermutationEntropy(4),
        K.SpectralCentroid(),
        K.SpectralFlatness(),
        K.Entropy(64, 32),
        K.StatisticalComplexity(3),
        K.ZeroCrossingRate(),
    ]
    out = score(samples, feats, winlen=256, noverlap=128, fs=1000.0)
    return _kernel_checksum(out, ["series_id", "feature"])


def q_score_psd_docs(spark, sf_dir):
    samples = _doc_samples_for_kernels(spark, sf_dir)
    out = score(samples, K.PSD(64, 32, 1000.0), winlen=512, noverlap=0, fs=1000.0)
    return _kernel_checksum(out, ["feature"])


def q_score_impulse_sas_events(spark, sf_dir):
    samples = events_samples(spark, sf_dir)
    feats = [K.ImpulseStats(3.0, 0.004), K.SymmetricAlphaStableStats(), K.Myriad()]
    out = score(samples, feats, winlen=32, noverlap=0, fs=1000.0)
    out = out.withColumn(
        "sbucket", F.pmod(F.col("series_id").cast("long"), F.lit(8))
    )
    return _kernel_checksum(out, ["feature", "sbucket"])


def q_score_freq_contours_docs(spark, sf_dir):
    samples = _doc_samples_for_kernels(spark, sf_dir)
    f = K.FrequencyContours(64, 32, None, 100.0, 95.0, 100.0, 0.01)
    out = score(samples, f, winlen=1024, noverlap=0, fs=1000.0)
    return _kernel_checksum(out, ["series_id", "feature"])


# ---------------------------------------------------------------------------
# end-to-end composition + operator-module queries
# ---------------------------------------------------------------------------

def q_score_to_rollup_1m(spark, sf_dir):
    """End-to-end composition: windowed energy scores -> 1m tier.

    Window scores get synthetic timestamps (epoch 1.7e9 + win_start) and
    roll up through the real operator; the oracle reproduces the whole
    chain in SQL (cents-exact arithmetic throughout).
    """
    from .operators.rollup import rollup_points as _rp

    s = events_samples(spark, sf_dir, cents=True)
    win = tumbling_agg(s, WINLEN, {"energy": energy_agg(F.col("value"))})
    pts = win.select(
        "series_id",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("win_start")).alias("ts"),
        F.col("energy").alias("value"),
    )
    rolled = _rp(pts, 60)
    return rolled.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "cnt",
        _r(F.col("avg"), 4).alias("avg_energy"),
    )


SQL_SCORE_TO_ROLLUP = _SAMPLES_CTE_CENTS + f"""
    , win AS (
      SELECT series_id,
             ((seq-1)//{WINLEN})*{WINLEN}+1 AS win_start,
             avg(v*v) AS energy
      FROM s GROUP BY 1, 2 HAVING count(*) = {WINLEN}
    )
    SELECT series_id,
           (floor((1700000000 + win_start)/60)*60)::BIGINT AS bucket_epoch,
           count(*) AS cnt,
           floor((sum(energy)/count(*))*10000.0 + 0.5)/10000.0 AS avg_energy
    FROM win GROUP BY 1, 2
"""


def q_bpe_token_stats(spark, sf_dir):
    from .operators.text import bpe_ish_token_count

    docs = _read(spark, sf_dir, "documents")
    out = bpe_ish_token_count(docs)
    return out.select(
        "doc_id", "n_bpe_tokens", _r(F.col("chars_per_bpe_token"), 6).alias("cpt")
    )


SQL_BPE_TOKENS = rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_PIECES_RE}')) AS n_bpe_tokens,
           floor((length(text)*1.0
                  / greatest(len(regexp_extract_all(text, '{BPE_PIECES_RE}')), 1))
                 *1000000.0 + 0.5)/1000000.0 AS cpt
    FROM documents
"""


def q_quality_filter_dedup(spark, sf_dir):
    """Pipeline composition: quality gate -> exact dedup -> survivors."""
    from .operators.dedup import exact_dedup
    from .operators.text import quality_features

    docs = _read(spark, sf_dir, "documents")
    q = quality_features(docs).filter(F.col("quality") >= 0.7).select("doc_id")
    kept = exact_dedup(docs.join(q, "doc_id"))
    return kept.select("doc_id", "lang")


SQL_QUALITY_FILTER_DEDUP = """
    WITH q AS (
      SELECT doc_id, lang, text,
             least(length(text)/500.0, 1.0)*0.5
             + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))*1.0/length(text))*0.3
             + least((length(regexp_replace(text, '[^ ]', '', 'g')) + 1)/100.0, 1.0)*0.2 AS quality
      FROM documents
    ), gated AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM q WHERE quality >= 0.7
    )
    SELECT doc_id, lang FROM gated WHERE rn = 1
"""


def q_stopword_langid(spark, sf_dir):
    from .operators.text import lang_id

    docs = _read(spark, sf_dir, "documents")
    out = lang_id(docs)
    return out.select(
        "doc_id",
        "n_tok",
        _r(F.col("ratio_en"), 6).alias("ratio_en"),
        _r(F.col("ratio_de"), 6).alias("ratio_de"),
        "pred_lang",
    )


SQL_STOPWORD_LANGID = """
    WITH toks AS (
      SELECT doc_id, lower(unnest(regexp_split_to_array(text, '\\s+'))) AS tok
      FROM documents
    ), filtered AS (
      SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), agg AS (
      SELECT doc_id, count(*) AS n_tok,
        sum(CASE WHEN tok IN ('the','and','of','to','in','is','that','it','for','was') THEN 1 ELSE 0 END)*1.0/count(*) AS r_en,
        sum(CASE WHEN tok IN ('der','die','das','und','ist','nicht','mit','ein','zu','den') THEN 1 ELSE 0 END)*1.0/count(*) AS r_de,
        sum(CASE WHEN tok IN ('le','la','les','et','est','pas','pour','que','une','des') THEN 1 ELSE 0 END)*1.0/count(*) AS r_fr,
        sum(CASE WHEN tok IN ('el','la','los','de','que','es','en','un','por','con') THEN 1 ELSE 0 END)*1.0/count(*) AS r_es
      FROM filtered GROUP BY 1
    )
    SELECT doc_id, n_tok,
           floor((r_en)*1000000.0 + 0.5)/1000000.0 AS ratio_en,
           floor((r_de)*1000000.0 + 0.5)/1000000.0 AS ratio_de,
           CASE WHEN greatest(r_en, r_de, r_fr, r_es) <= 0 THEN 'und'
                WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
                WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
                WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM agg
"""


def q_rolling_fingerprints(spark, sf_dir):
    """0-mod-p winnowing fingerprints, portable md5 twin (oracled).

    The xxhash64 scale path of the same operator is pytest-verified
    (planted containment / offset invariance); this driver query runs the
    identical windowing with hash_mode="md5" so DuckDB can reproduce it.
    """
    from .operators.text import rolling_hash_fingerprints

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return rolling_hash_fingerprints(docs.select("doc_id", "text"), hash_mode="md5")


SQL_ROLLING_FP = """
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE doc_id < 100
    ), w AS (
      SELECT doc_id AS id, i - 1 AS pos,
             md5(array_to_string(ts[i:i+7], ' ')) AS fp
      FROM toks, unnest(generate_series(1, len(ts) - 7)) AS t(i)
      WHERE len(ts) >= 8
    )
    SELECT id, CAST(pos AS INTEGER) AS pos, fp FROM w
    WHERE (strpos('0123456789abcdef', substr(fp, 32, 1)) - 1) % 4 = 0
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """Full LSH near-dup pipeline, portable md5 twin (oracled).

    Same operator chain (shingle -> minhash -> banded LSH -> exact
    Jaccard verify) with hash_mode="md5" so DuckDB reproduces the exact
    candidate set; the xxhash64 scale path keeps its pytest coverage
    (LSH-superset law, planted near-dups).
    """
    from .operators.dedup import minhash_lsh_dedup_pairs

    docs = _read(spark, sf_dir, "documents")
    out = minhash_lsh_dedup_pairs(
        docs, n_hashes=4, bands=2, threshold=0.5, hash_mode="md5",
        est_margin=None,  # pure LSH -> exact verify, mirrored in SQL
    )
    return out.select("id_a", "id_b", _r(F.col("jaccard"), 6).alias("jaccard"))


SQL_MINHASH_LSH = f"""
    WITH sh AS (
      SELECT DISTINCT doc_id AS id, substr(text, i, {_SHINGLE_LEN}) AS sh
      FROM documents,
           unnest(generate_series(1, length(text) - {_SHINGLE_LEN - 1})) AS t(i)
      WHERE length(text) >= {_SHINGLE_LEN}
    ), sig AS (
      SELECT id,
             min(md5('0:' || sh)) AS mh0, min(md5('1:' || sh)) AS mh1,
             min(md5('2:' || sh)) AS mh2, min(md5('3:' || sh)) AS mh3
      FROM sh GROUP BY 1
    ), banded AS (
      SELECT id, 0 AS band, md5(mh0 || ',' || mh1) AS bh FROM sig
      UNION ALL
      SELECT id, 1 AS band, md5(mh2 || ',' || mh3) AS bh FROM sig
    ), sized AS (
      SELECT *, count(*) OVER (PARTITION BY band, bh) AS _sz FROM banded
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM sized a JOIN sized b
        ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
      WHERE a._sz <= 200 AND b._sz <= 200
    ), sizes AS (
      SELECT id, count(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c
      JOIN sh sa ON sa.id = c.id_a
      JOIN sh sb ON sb.id = c.id_b AND sb.sh = sa.sh
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           floor((i.i*1.0/(za.sz + zb.sz - i.i))*1000000.0 + 0.5)/1000000.0 AS jaccard
    FROM inter i
    JOIN sizes za ON za.id = i.id_a
    JOIN sizes zb ON zb.id = i.id_b
    WHERE i.i*1.0/(za.sz + zb.sz - i.i) >= 0.5
"""


def q_incremental_dedup_pairs(spark, sf_dir):
    """Daily-crawl dedup shape: the batch (doc_id % 10 == 0) dedups
    against the persisted corpus signature index
    (dedup.build_lsh_index + incremental_dedup_pairs) — no corpus
    self-join, corpus text re-read only for candidate docs.  md5 twin;
    the oracle is the full-pipeline SQL restricted to cross pairs
    (equivalence with the full self-join's cross slice is also asserted
    on the xxhash64 scale path in tests/test_dedup_incr.py)."""
    from .operators.dedup import build_lsh_index, incremental_dedup_pairs

    docs = _read(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    common = dict(k=_SHINGLE_LEN, n_hashes=4, bands=2, band_rows=2,
                  hash_mode="md5")
    index = build_lsh_index(corpus, **common)
    out = incremental_dedup_pairs(
        index, corpus, batch, threshold=0.5, **common
    )
    return out.select("id_a", "id_b", _r(F.col("jaccard"), 6).alias("jaccard"))


_CROSS_ONLY = (
    "WHERE a._sz <= 200 AND b._sz <= 200\n"
    "        AND ((a.id % 10 = 0) <> (b.id % 10 = 0))"
)
SQL_INCR_DEDUP = SQL_MINHASH_LSH.replace(
    "WHERE a._sz <= 200 AND b._sz <= 200", _CROSS_ONLY
)
assert _CROSS_ONLY in SQL_INCR_DEDUP  # replace() must have matched


def _md5_head32_sql(expr: str) -> str:
    """DuckDB: first 8 hex digits of md5(expr) as a BIGINT (== Spark's
    conv(substring(md5(..),1,8),16,10))."""
    digits = [
        f"(strpos('0123456789abcdef', substr(md5({expr}), {j + 1}, 1)) - 1)"
        f"*{16 ** (7 - j)}"
        for j in range(8)
    ]
    return "(" + " + ".join(digits) + ")"


def q_deterministic_sample(spark, sf_dir):
    """Stable 20% corpus sample by ID hash (pure function of doc_id —
    identical row set on every run, engine, and partitioning)."""
    from .operators.text import deterministic_sample

    docs = _read(spark, sf_dir, "documents")
    return deterministic_sample(docs, 20).select("doc_id", "lang", "source")


SQL_DET_SAMPLE = f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_md5_head32_sql("'afspark:' || CAST(doc_id AS VARCHAR)")} % 100 < 20
"""


def q_top_terms(spark, sf_dir):
    """Global top-50 vocabulary terms by document frequency."""
    from .operators.text import top_terms

    docs = _read(spark, sf_dir, "documents")
    return top_terms(docs, k=50)


SQL_TOP_TERMS = """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    )
    SELECT term, count(*) AS doc_freq
    FROM toks WHERE length(term) >= 3
    GROUP BY 1 ORDER BY doc_freq DESC, term LIMIT 50
"""


def q_session_stats(spark, sf_dir):
    """Gap-based sessionization of the events stream (30-minute gap):
    per-session count, bounds, duration, and cents-exact value sum."""
    from .operators.sessions import sessionize

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )
    s = sessionize(ev, 1800)
    return s.groupBy("series_id", "session_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.unix_timestamp(F.min("ts")).alias("start_epoch"),
        F.unix_timestamp(F.max("ts")).alias("end_epoch"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "duration_s"
        ),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("value_cents"),
    )


SQL_SESSION_STATS = """
    WITH pts AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id, ts, value FROM events
    ), flagged AS (
      SELECT series_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                  THEN 1 ELSE 0 END AS opener
      FROM pts WINDOW w AS (PARTITION BY series_id ORDER BY ts)
    ), sess AS (
      SELECT *, sum(opener) OVER (
        PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING
      ) AS session_id
      FROM flagged
    )
    SELECT series_id, session_id::BIGINT AS session_id, count(*) AS n,
           floor(epoch(min(ts)))::BIGINT AS start_epoch,
           floor(epoch(max(ts)))::BIGINT AS end_epoch,
           (floor(epoch(max(ts))) - floor(epoch(min(ts))))::BIGINT AS duration_s,
           sum(floor(value*100 + 0.5))::BIGINT AS value_cents
    FROM sess GROUP BY 1, 2
"""


def q_range_join_sessions(spark, sf_dir):
    """Range join: every event matched to the session interval(s)
    containing it.  The Spark side uses the bucketed equi-join rewrite
    (operators/rangejoin.py); DuckDB runs the plain inequality join —
    two independent range-join implementations."""
    from .operators.rangejoin import range_join
    from .operators.sessions import sessionize

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )
    s = sessionize(ev, 1800)
    intervals = s.groupBy("series_id", "session_id").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )
    out = range_join(ev, intervals, bucket_seconds=3600)
    return out.select(
        "series_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        _r(F.col("value")).alias("value"),
        "session_id",
    )


SQL_RANGE_JOIN_SESSIONS = """
    WITH pts AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id, ts, value FROM events
    ), flagged AS (
      SELECT series_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                  THEN 1 ELSE 0 END AS opener
      FROM pts WINDOW w AS (PARTITION BY series_id ORDER BY ts)
    ), sess AS (
      SELECT *, sum(opener) OVER (
        PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING
      ) AS session_id
      FROM flagged
    ), intervals AS (
      SELECT series_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts
      FROM sess GROUP BY 1, 2
    )
    SELECT p.series_id,
           floor(epoch(p.ts))::BIGINT AS ts_epoch,
           floor(p.value*1000000.0 + 0.5)/1000000.0 AS value,
           i.session_id::BIGINT AS session_id
    FROM pts p JOIN intervals i
      ON p.series_id = i.series_id
     AND p.ts >= i.start_ts AND p.ts <= i.end_ts
"""


def q_asof_latest_event(spark, sf_dir):
    """As-of join: each 1h rollup bucket of the events series picks the
    most recent raw reading at-or-before the bucket start.  Oracle:
    DuckDB's NATIVE ASOF LEFT JOIN vs this engine's union+window
    composition — two independent as-of implementations."""
    from .operators.asof import asof_join
    from .operators.rollup import rollup_points

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )
    # dedupe equal (series, ts): as-of is ambiguous on ties in any engine
    r = ev.groupBy("series_id", "ts").agg(F.max("value").alias("value"))
    left = rollup_points(ev, 3600).select(
        "series_id", F.col("bucket_ts").alias("ts"), "cnt"
    )
    out = asof_join(left, r)
    return out.select(
        "series_id",
        F.unix_timestamp("ts").alias("bucket_epoch"),
        "cnt",
        _r(F.col("value_asof")).alias("value_asof"),
        F.unix_timestamp("ts_asof").alias("asof_epoch"),
    )


SQL_ASOF_LATEST = """
    WITH pts AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id, ts, value FROM events
    ), r AS (
      SELECT series_id, ts, max(value) AS value FROM pts GROUP BY 1, 2
    ), l AS (
      SELECT series_id, to_timestamp((floor(epoch(ts)/3600)*3600)::BIGINT) AS ts,
             count(*) AS cnt
      FROM pts GROUP BY 1, 2
    )
    SELECT l.series_id,
           epoch(l.ts)::BIGINT AS bucket_epoch,
           l.cnt,
           floor(r.value*1000000.0 + 0.5)/1000000.0 AS value_asof,
           floor(epoch(r.ts))::BIGINT AS asof_epoch
    FROM l ASOF LEFT JOIN r
      ON l.series_id = r.series_id AND l.ts >= r.ts
"""


def q_neardup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components over the deterministic
    n-gram-Jaccard pair set (same edges as ngram_jaccard_pairs), labels =
    min doc_id per component.  Oracle: DuckDB recursive CTE computing the
    min reachable node over the symmetric edge set."""
    from .operators.dedup import connected_components

    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, id_a="doc_a", id_b="doc_b").select(
        "id", "cluster_id"
    )


def q_neardup_clusters_star(spark, sf_dir):
    """Same component semantics via the large-star/small-star algorithm
    (the O(log n)-round variant for adversarial graphs) — second
    implementation through the SAME recursive-CTE oracle as
    neardup_clusters."""
    from .operators.dedup import connected_components_star

    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components_star(pairs, id_a="doc_a", id_b="doc_b").select(
        "id", "cluster_id"
    )


SQL_NEARDUP_CLUSTERS = f"""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, substr(text, i, {_SHINGLE_LEN}) AS sh
      FROM documents,
           unnest(generate_series(1, length(text) - {_SHINGLE_LEN - 1})) AS t(i)
      WHERE doc_id % 5 = 0
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                   JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE i.i*1.0/(sa.sz + sb.sz - i.i) >= 0.1
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), walk(id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst
    )
    SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id
"""


def q_simhash_near_pairs(spark, sf_dir):
    """Near-dup pairs by Hamming distance on the portable 16-bit SimHash,
    via the same pigeonhole block-join strategy as the 64-bit scale path
    (4 blocks of 4 bits; any pair within Hamming 3 shares a block).  The
    64-bit mapInPandas operator keeps its pytest coverage (determinism,
    planted near-dups)."""
    sh = q_simhash16(spark, sf_dir)
    blocks = sh.select(
        F.col("doc_id").alias("id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftright("simhash", 4 * i)
                        .bitwiseAND(F.lit(0xF))
                        .alias("bv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


SQL_SIMHASH_NEAR = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), sh AS (
      SELECT doc_id, CAST({_simhash_bits_sql("duckdb")} AS BIGINT) AS simhash
      FROM toks WHERE tok <> '' GROUP BY doc_id
    ), blocks AS (
      SELECT doc_id, simhash, bi, (simhash // (1 << (4 * bi))) % 16 AS bv
      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS bi) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sa, b.simhash AS sb
      FROM blocks a JOIN blocks b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


def q_ivf_recall_check(spark, sf_dir):
    """IVF vs exact top-5 recall per query (rows-only; recall >= 0.5
    asserted in pytest; deterministic seeded codebook)."""
    import pandas as pd

    from .operators.similarity import assign_cells, brute_force_topk, ivf_topk, train_codebook

    emb = _read(spark, sf_dir, "embeddings")
    # orderBy before the bounded sample: limit() on a bare scan follows
    # partition order, which is not contractual — the golden oracle needs
    # a fully deterministic codebook.
    cb = train_codebook(emb.orderBy("vec_id"), n_cells=8, sample=500)
    cells = assign_cells(emb, cb)
    # deterministic query subset — a bare limit() varies with partitioning
    qpdf = emb.orderBy("vec_id").limit(5).toPandas()
    queries = spark.createDataFrame(
        pd.DataFrame(
            {
                "qid": qpdf["vec_id"],
                "qvec": [list(map(float, v)) for v in qpdf["embedding"]],
            }
        )
    )
    exact = brute_force_topk(emb, queries, k=5).select(
        "qid", F.col("cid").alias("ecid")
    )
    approx = ivf_topk(cells, cb, queries, k=5, n_probe=4).select(
        "qid", F.col("cid").alias("acid")
    )
    hits = exact.join(
        approx, (exact.qid == approx.qid) & (exact.ecid == approx.acid)
    ).groupBy(exact.qid).count()
    return (
        exact.groupBy("qid")
        .count()
        .select(F.col("qid"), F.col("count").alias("k"))
        .join(hits.select(F.col("qid").alias("qid2"), F.col("count").alias("hit")), F.col("qid") == F.col("qid2"), "left")
        .select("qid", "k", F.coalesce("hit", F.lit(0)).alias("hits"))
    )


def q_chunk_roundtrip_check(spark, sf_dir):
    """Gorilla/DoD store round-trip: per-series mismatch count (expect 0).

    Multiset compare — group BOTH sides by (series_id, ts, value) with
    counts before joining, so duplicate timestamps within a series (ties
    are possible in events) cannot fan out and report false mismatches.
    The DuckDB oracle asserts the clean outcome: per-series row count with
    n_mismatch = 0.
    """
    from .sources.chunkstore import decode_chunks, encode_chunks

    ev = _read(spark, sf_dir, "events")
    pts = ev.select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "value"
    )
    back = decode_chunks(encode_chunks(pts, chunk_seconds=86_400))
    keys = ["series_id", "ts", "value"]
    a = pts.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_a"))
    b = back.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_b"))
    joined = a.join(b, keys, "full_outer").select(
        "series_id",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    return joined.groupBy("series_id").agg(
        F.sum("n_a").alias("n"),
        F.sum(F.abs(F.col("n_a") - F.col("n_b"))).alias("n_mismatch"),
    )


SQL_CHUNK_ROUNDTRIP = """
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           count(*) AS n,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM events GROUP BY 1
"""


def q_rollup_incremental_1h(spark, sf_dir):
    """Continuous-aggregate INCREMENTAL refresh through the driver gate.

    Deterministic split of the events stream: rows with
    xxhash64(series_id, ts) % 7 == 0 form the "late batch" (scattered
    across series AND time — the worst case, not a clean tail); the rest
    are the committed history.  The committed 1h tier is refreshed with
    refresh_tier_incremental — only touched buckets recomputed and merged
    algebraically, committed rows never re-aggregated from raw.  The
    oracle recomputes the 1h tier from ALL raw events, so a green row
    proves committed ⊕ partial(batch) == full recompute.
    """
    pts = events_samples(spark, sf_dir, cents=True)
    tagged = pts.withColumn("_h", F.pmod(F.xxhash64("series_id", "ts"), F.lit(7)))
    old = tagged.filter(F.col("_h") != 0).drop("_h")
    new = tagged.filter(F.col("_h") == 0).drop("_h")
    committed = rollup_points(old, TIERS["1h"])
    return _rollup_out(refresh_tier_incremental(committed, new, TIERS["1h"]))


def q_stitched_read_7d(spark, sf_dir):
    """Multi-resolution stitched range read through the driver gate.

    Query range Jan 5 .. Jan 30 12:00 with "now" = Jan 30 12:00: the 1h
    tier (7-day retention) serves the recent tail from its aligned
    handoff at Jan 24 00:00 (ceil of Jan 23 12:00 to the 1d bucket
    edge), the 1d tier serves everything older — one union, no join
    (rollup.stitched_range_read).  The 1d tier is CHAINED from the 1h
    tier, so a green row also re-proves the algebraic tier merge under
    range filters.
    """
    from .operators.rollup import stitched_range_read

    pts = events_samples(spark, sf_dir, cents=True)
    t1h = rollup_points(pts, TIERS["1h"])
    t1d = rollup_tier(t1h, TIERS["1d"])
    out = stitched_range_read(
        {"1h": t1h, "1d": t1d},
        {"1h": 3600, "1d": 86_400},
        {"1h": 7 * 86_400, "1d": 3650 * 86_400},
        now_epoch=1_706_616_000,  # 2024-01-30T12:00:00Z
        t0_epoch=1_704_412_800,  # 2024-01-05T00:00:00Z
        t1_epoch=1_706_616_000,
    )
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "cnt",
        F.col("sum").cast("long").alias("sum_c"),
        F.col("min").cast("long").alias("min_c"),
        F.col("max").cast("long").alias("max_c"),
        "tier",
        "resolution_s",
    )


SQL_STITCHED_READ = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id, ts,
                      floor(value*100 + 0.5) AS v FROM events),
    h AS (SELECT series_id, (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                 count(*) AS cnt, CAST(sum(v) AS BIGINT) AS sum_c,
                 CAST(min(v) AS BIGINT) AS min_c,
                 CAST(max(v) AS BIGINT) AS max_c
          FROM c GROUP BY 1, 2),
    d AS (SELECT series_id, (floor(epoch(ts)/86400)*86400)::BIGINT AS be,
                 count(*) AS cnt, CAST(sum(v) AS BIGINT) AS sum_c,
                 CAST(min(v) AS BIGINT) AS min_c,
                 CAST(max(v) AS BIGINT) AS max_c
          FROM c GROUP BY 1, 2)
    SELECT series_id, be AS bucket_epoch, cnt, sum_c, min_c, max_c,
           '1h' AS tier, CAST(3600 AS BIGINT) AS resolution_s
    FROM h WHERE be >= 1706054400 AND be < 1706616000
    UNION ALL
    SELECT series_id, be AS bucket_epoch, cnt, sum_c, min_c, max_c,
           '1d' AS tier, CAST(86400 AS BIGINT) AS resolution_s
    FROM d WHERE be >= 1704412800 AND be < 1706054400
"""


def q_vector_ratio_1h(spark, sf_dir):
    """PromQL vector-matching binary ops through the driver gate.

    Error-count instant vector vs total-count vector, ONE-TO-ONE on
    (series, bucket) — PromQL ``errors / total`` — then the same error
    vector vs the GLOBAL per-bucket error total, MANY-TO-ONE
    (``group_left``) on bucket only with the tiny "one" side broadcast.
    Ratios are exact-integer divisions rounded by the identical floor
    expression in both engines.
    """
    from .operators.tsanalytics import vector_binop

    ev = _read(spark, sf_dir, "events")
    be = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    tagged = ev.select(
        F.col("user_id").cast("string").alias("series_id"),
        be.alias("bucket_epoch"),
        "event_type",
    )
    errors = (
        tagged.filter(F.col("event_type") == "error")
        .groupBy("series_id", "bucket_epoch")
        .agg(F.count(F.lit(1)).alias("n_err"))
    )
    total = tagged.groupBy("series_id", "bucket_epoch").agg(
        F.count(F.lit(1)).alias("n_tot")
    )
    glob = (
        tagged.filter(F.col("event_type") == "error")
        .groupBy("bucket_epoch")
        .agg(F.count(F.lit(1)).alias("g_err"))
    )
    out = vector_binop(
        errors, total, "div",
        on=["series_id", "bucket_epoch"],
        left_value="n_err", right_value="n_tot", out_col="err_ratio",
    )
    out = vector_binop(
        out, glob, "div",
        on=["bucket_epoch"],
        left_value="n_err", right_value="g_err", out_col="global_share",
        broadcast_right=True,
    )
    return out.select(
        "series_id", "bucket_epoch", "n_err",
        _r(F.col("err_ratio"), 9).alias("err_ratio"),
        _r(F.col("global_share"), 9).alias("global_share"),
    )


SQL_VECTOR_RATIO = """
    WITH e AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                      event_type
               FROM events),
    err AS (SELECT series_id, be, count(*) AS n_err FROM e
            WHERE event_type = 'error' GROUP BY 1, 2),
    tot AS (SELECT series_id, be, count(*) AS n_tot FROM e GROUP BY 1, 2),
    g AS (SELECT be, count(*) AS g_err FROM e
          WHERE event_type = 'error' GROUP BY 1)
    SELECT err.series_id, err.be AS bucket_epoch, err.n_err,
           floor((err.n_err / CAST(tot.n_tot AS DOUBLE)) * 1000000000.0
                 + 0.5) / 1000000000.0 AS err_ratio,
           floor((err.n_err / CAST(g.g_err AS DOUBLE)) * 1000000000.0
                 + 0.5) / 1000000000.0 AS global_share
    FROM err
    JOIN tot ON err.series_id = tot.series_id AND err.be = tot.be
    JOIN g ON err.be = g.be
"""


def q_link_components(spark, sf_dir):
    """Weakly-connected components of the link graph (site clusters):
    out_degree=1 LCG links make a functional graph whose rho-shaped
    components have O(sqrt n) diameter — exactly the adversarial case
    the large-star/small-star CC (O(log n) rounds) exists for; plain
    min-label propagation would need ~diameter rounds.  Oracle is a
    DuckDB recursive-CTE transitive closure over the same LCG edges.
    """
    from .operators.dedup import connected_components_star
    from .operators.linkgraph import derive_links

    docs = _read(spark, sf_dir, "documents")
    links = derive_links(docs, out_degree=1)
    comp = connected_components_star(links, id_a="src", id_b="dst")
    return comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("component"),
    )


SQL_LINK_COMPONENTS = """
    WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
    e0 AS (SELECT doc_id AS src,
                  (doc_id*1103515245 + 7) % (SELECT n FROM nn) AS dst
           FROM documents),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    walk(id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst
    )
    SELECT id AS doc_id, min(lbl) AS component FROM walk GROUP BY id
"""


def q_manifest_store_check(spark, sf_dir):
    """Snapshot-store round-trip through the driver gate: the 1h cents
    tier is COMMITTED to a manifest-pinned store (sources/manifest.py,
    date-partitioned), one date partition is then REPAIRED via a
    snapshot overwrite (recomputed from raw — the OoO shape), and the
    latest snapshot is read back and multiset-diffed against the
    directly-computed tier.  The oracle asserts the clean outcome: per
    series, the direct tier's bucket count with n_mismatch = 0 — i.e.
    append + overwrite + snapshot read reproduce the tier exactly.
    """
    import shutil
    import tempfile

    from .sources.manifest import (
        commit_append,
        commit_overwrite_partitions,
        read_snapshot,
    )

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"]).select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("be"),
        F.col("cnt"),
        F.col("sum").cast("long").alias("sum_c"),
        F.to_date(F.col("bucket_ts")).cast("string").alias("bucket_date"),
    )
    store = tempfile.mkdtemp(prefix="afspark_manifest_")
    try:
        commit_append(spark, tier, store, ["bucket_date"])
        repair_date = "2024-01-15"  # mid-range at every sf
        commit_overwrite_partitions(
            spark,
            tier.filter(F.col("bucket_date") == repair_date),
            store,
            ["bucket_date"],
        )
        back = read_snapshot(spark, store)
        keys = ["series_id", "be", "cnt", "sum_c"]
        a = tier.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_a"))
        b = back.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_b"))
        joined = a.join(b, keys, "full_outer").select(
            "series_id",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        out = joined.groupBy("series_id").agg(
            F.sum("n_a").alias("n"),
            F.sum(F.abs(F.col("n_a") - F.col("n_b"))).alias("n_mismatch"),
        )
        out = out.localCheckpoint()  # materialize before the store vanishes
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return out


SQL_MANIFEST_CHECK = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be
               FROM events)
    SELECT series_id, count(DISTINCT be) AS n,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM c GROUP BY 1
"""


def q_realtime_cagg_1h(spark, sf_dir):
    """Real-time continuous-aggregate view through the driver gate.

    The materialized 1h tier covers buckets before 2024-01-20 (the
    refresh watermark); points at/after it are aggregated on the fly and
    unioned — rollup.realtime_cagg, TimescaleDB's real-time CAGG
    contract.  The oracle recomputes the whole tier from raw, so a green
    row proves materialized-below-watermark ∪ rollup(tail) == full
    recompute (cents units make the sums order-independent).
    """
    from .operators.rollup import realtime_cagg

    wm = 1_705_708_800  # 2024-01-20T00:00:00Z, mid-range at every sf
    pts = events_samples(spark, sf_dir, cents=True)
    committed = rollup_points(
        pts.filter(F.col("ts") < F.timestamp_seconds(F.lit(wm))), TIERS["1h"]
    )
    return _rollup_out(realtime_cagg(committed, pts, TIERS["1h"], wm))


def q_salted_domain_stats(spark, sf_dir):
    """Hot-key-safe per-source aggregate: two-level salted aggregation.

    Level 1 groups by (source, salt = pmod(doc_id, 16)), spreading a hot
    source over 16 reducers (north_rule: salted repartitioning for
    hot-domain skew); level 2 merges the <=16 partials per source.  The
    statistics are algebraic, so the result is identical to a direct
    GROUP BY source — which is exactly what the DuckDB oracle runs.
    """
    docs = _read(spark, sf_dir, "documents")
    lvl1 = (
        docs.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(16)))
        .groupBy("source", "salt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("s"),
            F.min("n_chars").alias("mn"),
            F.max("n_chars").alias("mx"),
        )
    )
    return lvl1.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.sum("s").alias("sum_chars"),
        F.min("mn").alias("min_chars"),
        F.max("mx").alias("max_chars"),
        _r(F.sum("s") / F.sum("n"), 6).alias("avg_chars"),
    )


def q_containment_pairs(spark, sf_dir):
    """Fingerprint-overlap containment pairs (md5 portable twin).

    min_shared=1 at this corpus scale so coincidental single-window
    collisions still flow through the gate deterministically."""
    from .operators.text import containment_pairs

    docs = _read(spark, sf_dir, "documents")
    out = containment_pairs(
        docs.select("doc_id", "text"), min_shared=1, hash_mode="md5"
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "shared",
        "n_a",
        "n_b",
        _r(F.col("containment"), 6).alias("containment"),
    )


SQL_CONTAINMENT_PAIRS = """
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ') AS ts
      FROM documents
    ), w AS (
      SELECT doc_id AS id,
             md5(array_to_string(ts[i:i+7], ' ')) AS fp
      FROM toks, unnest(generate_series(1, len(ts) - 7)) AS t(i)
      WHERE len(ts) >= 8
    ), kept AS (
      SELECT DISTINCT id, fp FROM w
      WHERE (strpos('0123456789abcdef', substr(fp, 32, 1)) - 1) % 4 = 0
    ), rare AS (
      SELECT fp FROM kept GROUP BY fp HAVING count(*) <= 50
    ), capped AS (
      SELECT kept.id, kept.fp FROM kept JOIN rare USING (fp)
    ), sizes AS (
      SELECT id, count(*) AS n_fp FROM capped GROUP BY id
    ), shared AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
      FROM capped a JOIN capped b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2 HAVING count(*) >= 1
    )
    SELECT s.id_a, s.id_b, s.shared,
           sa.n_fp AS n_a, sb.n_fp AS n_b,
           floor((s.shared / least(sa.n_fp, sb.n_fp))*1000000.0 + 0.5)/1000000.0
             AS containment
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.id
    JOIN sizes sb ON s.id_b = sb.id
"""


def q_topk_event_types_1d(spark, sf_dir):
    """Trending event types: top-3 per day by count (ties on name)."""
    from .operators.tsanalytics import topk_per_bucket

    ev = _read(spark, sf_dir, "events")
    out = topk_per_bucket(ev, TIERS["1d"], k=3)
    return out.select(
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "event_type",
        "n",
        F.col("rk").cast("long").alias("rk"),
    )


SQL_TOPK_EVENT_TYPES = """
    WITH c AS (SELECT (floor(epoch(ts)/86400)*86400)::BIGINT AS bucket_epoch,
                      event_type, count(*) AS n
               FROM events GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY bucket_epoch
                                       ORDER BY n DESC, event_type) AS rk
          FROM c)
    SELECT bucket_epoch, event_type, n, rk FROM r WHERE rk <= 3
"""


def q_json_props_stats(spark, sf_dir):
    """Semi-structured extraction: typed parse of the events JSON props
    column (from_json with an explicit schema — Catalyst-native, no
    Python) aggregated per event_type."""
    ev = _read(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            _r(F.sum("k") / F.count("k"), 6).alias("avg_k"),
        )
    )


SQL_JSON_PROPS = """
    WITH e AS (
      SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           count(k) AS n_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           floor((sum(k)/count(k))*1000000.0 + 0.5)/1000000.0 AS avg_k
    FROM e GROUP BY 1
"""


def q_histogram_1d_chained(spark, sf_dir):
    """1d histogram tier re-aggregated FROM the 1h histogram tier (counts
    sum, bins align); the oracle computes 1d bins directly from raw —
    proves histogram tier chaining."""
    from .operators.rollup import histogram_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    h1h = histogram_rollup(pts, TIERS["1h"], bin_width=500.0)
    h1d = (
        h1h.withColumn(
            "bucket_ts",
            F.timestamp_seconds(
                (F.floor(F.unix_timestamp("bucket_ts") / 86400) * 86400).cast("long")
            ),
        )
        .groupBy("series_id", "bucket_ts", "bin")
        .agg(F.sum("n").alias("n"))
    )
    return h1d.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("bin").cast("long").alias("bin"),
        "n",
    )


SQL_HISTOGRAM_1D = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/86400)*86400)::BIGINT AS bucket_epoch
               FROM events)
    SELECT series_id, bucket_epoch,
           CAST(floor(v/500.0) AS BIGINT) AS bin, count(*) AS n
    FROM c GROUP BY 1, 2, 3
"""


def q_histogram_1h(spark, sf_dir):
    """Fixed-width histogram tier (bin width 5 units = 500 cents)."""
    from .operators.rollup import histogram_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    out = histogram_rollup(pts, TIERS["1h"], bin_width=500.0)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("bin").cast("long").alias("bin"),
        "n",
    )


SQL_HISTOGRAM_1H = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch
               FROM events)
    SELECT series_id, bucket_epoch,
           CAST(floor(v/500.0) AS BIGINT) AS bin, count(*) AS n
    FROM c GROUP BY 1, 2, 3
"""


def q_trimmed_mean_1h(spark, sf_dir):
    """5-95% trimmed mean per (series, 1h): thresholds are exact
    percentiles on integer cents, so the filtered set is engine-exact."""
    from .operators.rollup import trimmed_mean_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    out = trimmed_mean_rollup(pts, TIERS["1h"])
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "cnt_all",
        "cnt_kept",
        F.col("sum_kept").cast("long").alias("sum_kept_c"),
        _r(F.col("trimmed_mean") / 100.0, 6).alias("tmean"),
    )


SQL_TRIMMED_MEAN_1H = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch
               FROM events),
    t AS (SELECT series_id, bucket_epoch,
                 quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi,
                 count(*) AS cnt_all
          FROM c GROUP BY 1, 2)
    SELECT c.series_id, c.bucket_epoch,
           any_value(t.cnt_all) AS cnt_all,
           count(*) AS cnt_kept,
           CAST(sum(c.v) AS BIGINT) AS sum_kept_c,
           floor((sum(c.v)/count(*)/100.0)*1000000.0 + 0.5)/1000000.0 AS tmean
    FROM c JOIN t USING (series_id, bucket_epoch)
    WHERE c.v >= t.lo AND c.v <= t.hi
    GROUP BY 1, 2
"""


def q_ewma_events(spark, sf_dir):
    """Chunk-parallel EWMA (alpha=0.05) vs a truncated-convolution oracle.

    The engine runs the two-level linear-recurrence decomposition; DuckDB
    evaluates the closed form ewma_i = a * sum_k (1-a)^k x_{i-k} truncated
    at k=700 (0.95^700 ~ 2.5e-16, below double resolution), rounded to
    4 dp so the 1e-13-scale algorithmic difference cannot reach the hash.
    """
    from .operators.tsanalytics import ewma

    pts = events_samples(spark, sf_dir, cents=True)
    out = ewma(pts, 0.05, chunk_seconds=86_400)
    return out.select(
        "series_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.col("value").cast("long").alias("v_c"),
        # +1e-9 nudge: alpha=1/20 makes many EWMA values EXACT decimal
        # .XXXX5 boundaries; the nudge (>> engine float diff ~1e-13,
        # << quantum 1e-4) pushes both engines to the same side
        _r(F.col("ewma") / 100.0 + 1e-9, 4).alias("ew"),
    )


SQL_EWMA = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id, ts,
                      floor(value*100 + 0.5) AS v FROM events),
    r AS (SELECT series_id, ts, v,
                 row_number() OVER (PARTITION BY series_id ORDER BY ts, v) AS rn
          FROM c)
    SELECT a.series_id, floor(epoch(a.ts))::BIGINT AS ts_epoch,
           CAST(a.v AS BIGINT) AS v_c,
           floor((sum(0.05 * power(0.95, a.rn - b.rn) * b.v) / 100.0
                  + 0.000000001) * 10000.0 + 0.5)/10000.0 AS ew
    FROM r a JOIN r b
      ON a.series_id = b.series_id AND b.rn <= a.rn AND b.rn > a.rn - 700
    GROUP BY a.series_id, a.ts, a.v, a.rn
"""


def q_percentile_1h(spark, sf_dir):
    """Exact latency-percentile tier (p50/p90/p99 per series-hour).

    Spark's exact interpolated percentile == DuckDB's quantile_cont on
    integer-cents inputs (probed bit-exact; same linear-interpolation
    definition), so the hash matches with no tolerance."""
    from .operators.rollup import percentile_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    out = percentile_rollup(pts, TIERS["1h"])
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "cnt",
        _r(F.col("p50") / 100.0, 6).alias("p50"),
        _r(F.col("p90") / 100.0, 6).alias("p90"),
        _r(F.col("p99") / 100.0, 6).alias("p99"),
    )


SQL_PERCENTILE_1H = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch
               FROM events)
    SELECT series_id, bucket_epoch, count(*) AS cnt,
           floor((quantile_cont(v, 0.5)/100.0)*1000000.0 + 0.5)/1000000.0 AS p50,
           floor((quantile_cont(v, 0.9)/100.0)*1000000.0 + 0.5)/1000000.0 AS p90,
           floor((quantile_cont(v, 0.99)/100.0)*1000000.0 + 0.5)/1000000.0 AS p99
    FROM c GROUP BY 1, 2
"""


def q_counter_rate_1h(spark, sf_dir):
    """PromQL-style counter rate per (series, 1h bucket) with resets.

    Cents-integer values keep the increase sums exact; the lag ordering
    tiebreaks on value so duplicate timestamps are engine-independent.
    """
    from .operators.tsanalytics import rate_per_bucket

    pts = events_samples(spark, sf_dir, cents=True)
    out = rate_per_bucket(pts, 3600)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "n_samples",
        F.col("increase_sum").cast("long").alias("inc_c"),
        _r(F.col("rate_per_sec") / 100.0, 6).alias("rate"),
    )


SQL_COUNTER_RATE = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    l AS (SELECT user_id, ts, v,
                 lag(v) OVER (PARTITION BY user_id ORDER BY ts, v) AS pv FROM c),
    i AS (SELECT user_id, ts,
                 CASE WHEN pv IS NULL THEN NULL
                      WHEN v - pv < 0 THEN v ELSE v - pv END AS inc FROM l)
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
           count(*) AS n_samples,
           CAST(sum(inc) AS BIGINT) AS inc_c,
           floor((sum(inc)/3600.0/100.0)*1000000.0 + 0.5)/1000000.0 AS rate
    FROM i GROUP BY 1, 2
"""


def q_increase_extrapolated_1h(spark, sf_dir):
    """PromQL ``increase()`` with Prometheus boundary extrapolation per
    (series, 1h bucket) — strict in-bucket sample pairing, integer-
    microsecond time math, counter-zero capped start extrapolation
    (tsanalytics.increase_extrapolated_per_bucket).  The float
    expression tree is written identically in the oracle, so cents-
    integer counters match bit-for-bit."""
    from .operators.tsanalytics import increase_extrapolated_per_bucket

    pts = events_samples(spark, sf_dir, cents=True)
    out = increase_extrapolated_per_bucket(pts, 3600)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "n_samples",
        F.col("raw_increase").cast("long").alias("raw_c"),
        _r(F.col("increase") / 100.0, 6).alias("inc_x"),
        _r(F.col("rate_per_sec") / 100.0, 6).alias("rate_x"),
    )


SQL_INCREASE_EXTRAPOLATED = """
    WITH s AS (SELECT user_id, epoch_us(ts) AS us,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch_us(ts)/3600000000)*3600000000)::BIGINT AS bus
               FROM events),
    l AS (SELECT user_id, bus, us, v,
                 lag(v) OVER (PARTITION BY user_id, bus ORDER BY us, v) AS pv
          FROM s),
    i AS (SELECT user_id, bus, us, v,
                 CASE WHEN pv IS NULL THEN NULL
                      WHEN v - pv < 0 THEN v ELSE v - pv END AS inc,
                 row_number() OVER (PARTITION BY user_id, bus
                                    ORDER BY us, v) AS rn
          FROM l),
    a AS (SELECT user_id, bus, count(*) AS n, sum(inc) AS raw,
                 min(us) AS fus, max(us) AS lus,
                 max(CASE WHEN rn = 1 THEN v END) AS fv
          FROM i GROUP BY 1, 2),
    e AS (SELECT user_id, bus, n, raw, fv,
                 CAST(lus - fus AS DOUBLE) AS sampled,
                 CAST(lus - fus AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avgd,
                 CAST(fus - bus AS DOUBLE) AS ds0,
                 CAST(bus + 3600000000 - lus AS DOUBLE) AS de0
          FROM a WHERE n >= 2 AND lus > fus),
    x AS (SELECT *, CASE WHEN raw > 0 AND fv >= 0
                              AND sampled * (fv / raw) < ds0
                         THEN sampled * (fv / raw) ELSE ds0 END AS ds1
          FROM e),
    y AS (SELECT *,
                 CASE WHEN ds1 >= avgd * 1.1 THEN avgd / 2.0 ELSE ds1 END AS ds,
                 CASE WHEN de0 >= avgd * 1.1 THEN avgd / 2.0 ELSE de0 END AS de
          FROM x)
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           (bus / 1000000)::BIGINT AS bucket_epoch,
           n AS n_samples,
           CAST(raw AS BIGINT) AS raw_c,
           floor((raw * ((sampled + ds + de) / sampled) / 100.0)
                 * 1000000.0 + 0.5)/1000000.0 AS inc_x,
           floor((raw * ((sampled + ds + de) / sampled) / 3600.0 / 100.0)
                 * 1000000.0 + 0.5)/1000000.0 AS rate_x
    FROM y
"""


def q_delta_extrapolated_1h(spark, sf_dir):
    """PromQL ``delta()`` (gauge semantics) with Prometheus boundary
    extrapolation per (series, 1h bucket): raw = last - first, no reset
    correction, no counter-zero cap — extrapolatedRate with
    isCounter=false (tsanalytics.increase_extrapolated_per_bucket with
    counter=False)."""
    from .operators.tsanalytics import increase_extrapolated_per_bucket

    pts = events_samples(spark, sf_dir, cents=True)
    out = increase_extrapolated_per_bucket(pts, 3600, counter=False)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "n_samples",
        F.col("raw_increase").cast("long").alias("raw_c"),
        _r(F.col("increase") / 100.0, 6).alias("delta_x"),
    )


SQL_DELTA_EXTRAPOLATED = """
    WITH s AS (SELECT user_id, epoch_us(ts) AS us,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch_us(ts)/3600000000)*3600000000)::BIGINT AS bus
               FROM events),
    r AS (SELECT *, row_number() OVER (PARTITION BY user_id, bus
                                       ORDER BY us, v) AS rn,
                 row_number() OVER (PARTITION BY user_id, bus
                                    ORDER BY us DESC, v DESC) AS rnl
          FROM s),
    a AS (SELECT user_id, bus, count(*) AS n,
                 min(us) AS fus, max(us) AS lus,
                 max(CASE WHEN rnl = 1 THEN v END)
                   - max(CASE WHEN rn = 1 THEN v END) AS raw
          FROM r GROUP BY 1, 2),
    e AS (SELECT user_id, bus, n, raw,
                 CAST(lus - fus AS DOUBLE) AS sampled,
                 CAST(lus - fus AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS avgd,
                 CAST(fus - bus AS DOUBLE) AS ds0,
                 CAST(bus + 3600000000 - lus AS DOUBLE) AS de0
          FROM a WHERE n >= 2 AND lus > fus),
    y AS (SELECT *,
                 CASE WHEN ds0 >= avgd * 1.1 THEN avgd / 2.0 ELSE ds0 END AS ds,
                 CASE WHEN de0 >= avgd * 1.1 THEN avgd / 2.0 ELSE de0 END AS de
          FROM e)
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           (bus / 1000000)::BIGINT AS bucket_epoch,
           n AS n_samples,
           CAST(raw AS BIGINT) AS raw_c,
           floor((raw * ((sampled + ds + de) / sampled) / 100.0)
                 * 1000000.0 + 0.5)/1000000.0 AS delta_x
    FROM y
"""


def q_classical_decompose_1d(spark, sf_dir):
    """Classical additive decomposition (trend/seasonal/remainder) over
    the daily tier with a 7-bucket (weekly) centered moving average —
    the statsmodels seasonal_decompose estimator, full-window rows only
    (tsanalytics.classical_decompose).  Cents-integer tier sums keep
    the window sums and scaled detrended values exact int64s, so each
    output is one identical float expression per engine."""
    from .operators.tsanalytics import classical_decompose

    # per-user buckets are too sparse at small SF; event_type daily
    # series are non-empty every day at every sf (full-window gating
    # needs p CONSECUTIVE buckets — the 1h/24 variant had none at
    # sf0.001)
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("series_id"),
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("double").alias("value"),
    )
    out = classical_decompose(ev, 86_400, 7)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("value").cast("long").alias("v_c"),
        _r(F.col("trend") / 100.0, 6).alias("trend"),
        _r(F.col("seasonal") / 100.0, 6).alias("seasonal"),
        _r(F.col("remainder") / 100.0, 6).alias("remainder"),
    )


def q_remainder_anomaly_1d(spark, sf_dir):
    """Seasonal-hybrid anomaly screen (S-H-ESD-lite) as an OPERATOR
    COMPOSITION through the driver gate: classical decomposition strips
    trend+seasonality, then the Iglewicz-Hoban modified-z MAD screen
    runs on the REMAINDER — anomalies relative to the seasonal pattern,
    not the raw level (a weekday spike isn't an anomaly; the same value
    on a quiet Sunday is).  Remainders are micros-rounded BIGINTs
    (identical floor expression per engine), so the percentile /
    quantile_cont medians interpolate exact integers-or-halves and the
    z expression is one identical float computation per engine.
    """
    from .operators.tsanalytics import classical_decompose

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("series_id"),
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("double").alias("value"),
    )
    dec = classical_decompose(ev, 86_400, 7)
    t = dec.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.floor((F.col("remainder") / 100.0) * 1e6 + 0.5)
        .cast("long").alias("r_u"),
    )
    med = t.groupBy("series_id").agg(
        F.percentile("r_u", F.lit(0.5)).alias("_med")
    )
    mad = (
        t.join(med, "series_id")
        .groupBy("series_id")
        .agg(
            F.first("_med").alias("_med"),
            F.percentile(F.abs(F.col("r_u") - F.col("_med")), F.lit(0.5))
            .alias("_mad"),
        )
    )
    j = t.join(mad, "series_id")
    z = F.lit(0.6745) * (F.col("r_u") - F.col("_med")) / F.col("_mad")
    return j.select(
        "series_id",
        "bucket_epoch",
        "r_u",
        _r(F.col("_med"), 6).alias("med"),
        _r(F.col("_mad"), 6).alias("mad"),
        F.when(F.col("_mad") > 0, _r(z, 6)).alias("z"),
        F.when(F.col("_mad") > 0, F.abs(z) > 3.5)
        .otherwise(F.lit(False)).alias("is_anomaly"),
    )


SQL_REMAINDER_ANOMALY = """
    WITH c AS (SELECT event_type, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT event_type AS series_id,
                 (floor(epoch(ts)/86400))::BIGINT AS idx,
                 sum(v) AS sv
          FROM c GROUP BY 1, 2),
    w AS (SELECT series_id, idx, sv,
                 sum(sv) OVER win AS sw,
                 count(*) OVER win AS cw
          FROM t
          WINDOW win AS (PARTITION BY series_id ORDER BY idx
                         RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    d AS (SELECT series_id, idx, sv, sw,
                 sv * 7 - sw AS d7, idx % 7 AS phase
          FROM w WHERE cw = 7),
    s AS (SELECT series_id, phase,
                 (CAST(sum(d7) AS DOUBLE) / count(*)) / 7.0 AS seas
          FROM d GROUP BY 1, 2),
    r AS (SELECT d.series_id, (d.idx * 86400)::BIGINT AS bucket_epoch,
                 CAST(floor(((CAST(d.d7 AS DOUBLE) / 7.0 - s.seas) / 100.0)
                            * 1000000.0 + 0.5) AS BIGINT) AS r_u
          FROM d JOIN s USING (series_id, phase)),
    m AS (SELECT series_id, quantile_cont(r_u, 0.5) AS med FROM r GROUP BY 1),
    md AS (SELECT r.series_id, max(m.med) AS med,
                  quantile_cont(abs(r.r_u - m.med), 0.5) AS mad
           FROM r JOIN m USING (series_id) GROUP BY 1),
    j AS (SELECT r.series_id, r.bucket_epoch, r.r_u, md.med, md.mad,
                 0.6745 * (r.r_u - md.med) / md.mad AS z
          FROM r JOIN md USING (series_id))
    SELECT series_id, bucket_epoch, r_u,
           floor(med * 1000000.0 + 0.5) / 1000000.0 AS med,
           floor(mad * 1000000.0 + 0.5) / 1000000.0 AS mad,
           CASE WHEN mad > 0 THEN floor(z * 1000000.0 + 0.5) / 1000000.0
           END AS z,
           CASE WHEN mad > 0 THEN abs(z) > 3.5 ELSE FALSE END AS is_anomaly
    FROM j
"""


SQL_CLASSICAL_DECOMPOSE = """
    WITH c AS (SELECT event_type, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT event_type AS series_id,
                 (floor(epoch(ts)/86400))::BIGINT AS idx,
                 sum(v) AS sv
          FROM c GROUP BY 1, 2),
    w AS (SELECT series_id, idx, sv,
                 sum(sv) OVER win AS sw,
                 count(*) OVER win AS cw
          FROM t
          WINDOW win AS (PARTITION BY series_id ORDER BY idx
                         RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    d AS (SELECT series_id, idx, sv, sw,
                 sv * 7 - sw AS d7, idx % 7 AS phase
          FROM w WHERE cw = 7),
    s AS (SELECT series_id, phase,
                 (CAST(sum(d7) AS DOUBLE) / count(*)) / 7.0 AS seas
          FROM d GROUP BY 1, 2)
    SELECT d.series_id, (d.idx * 86400)::BIGINT AS bucket_epoch,
           CAST(d.sv AS BIGINT) AS v_c,
           floor((d.sw / 7.0 / 100.0) * 1000000.0 + 0.5)/1000000.0 AS trend,
           floor((s.seas / 100.0) * 1000000.0 + 0.5)/1000000.0 AS seasonal,
           floor(((CAST(d.d7 AS DOUBLE) / 7.0 - s.seas) / 100.0)
                 * 1000000.0 + 0.5)/1000000.0 AS remainder
    FROM d JOIN s USING (series_id, phase)
"""


def q_anomaly_zscore_1h(spark, sf_dir):
    """Rolling z-score anomalies over the 1h tier (24-bucket baseline).

    The tier value is the integer-exact cents SUM per bucket, and the
    variance uses the explicit (ss - s^2/n)/(n-1) formula, so every
    intermediate double is identical in Spark and DuckDB — no aggregate-
    internal algorithm divergence.
    """
    from .operators.tsanalytics import rolling_zscore

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    out = rolling_zscore(tier, n_window=24, value_col="sum")
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("sum").cast("long").alias("sum_c"),
        F.col("baseline_n").alias("n_base"),
        _r(F.col("zscore"), 6).alias("z"),
        F.col("is_anomaly").cast("int").alias("anom"),
    )


SQL_ANOMALY_ZSCORE = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
                 sum(v) AS s
          FROM c GROUP BY 1, 2),
    wn AS (SELECT series_id, bucket_epoch, s,
                  count(s) OVER w AS n,
                  sum(s) OVER w AS bs,
                  sum(s*s) OVER w AS bss
           FROM t
           WINDOW w AS (PARTITION BY series_id ORDER BY bucket_epoch
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT series_id, bucket_epoch, CAST(s AS BIGINT) AS sum_c, n AS n_base,
           CASE WHEN n >= 2 AND (bss - bs*bs/n)/(n-1) > 0
                THEN floor(((s - bs/n)/sqrt((bss - bs*bs/n)/(n-1)))*1000000.0
                           + 0.5)/1000000.0 END AS z,
           CASE WHEN n >= 2 AND (bss - bs*bs/n)/(n-1) > 0
                     AND abs((s - bs/n)/sqrt((bss - bs*bs/n)/(n-1))) > 3.0
                THEN 1 ELSE 0 END AS anom
    FROM wn
"""


def q_stratified_split_stats(spark, sf_dir):
    """80/10/10 deterministic split, summarized per (split, lang)."""
    from .operators.text import stratified_split

    docs = stratified_split(_read(spark, sf_dir, "documents"))
    return docs.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_STRATIFIED_SPLIT = f"""
    WITH s AS (
      SELECT *, {_md5_head32_sql("'afspark-split:' || CAST(doc_id AS VARCHAR)")} % 1000
             AS b
      FROM documents
    )
    SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM s GROUP BY 1, 2
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (word + bigram level)."""
    from .operators.text import repetition_stats

    r = repetition_stats(_read(spark, sf_dir, "documents"))
    return r.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        _r(F.col("top_word_frac"), 6).alias("top_word_frac"),
        _r(F.col("dup_word_frac"), 6).alias("dup_word_frac"),
        "n_bigrams",
        _r(F.col("top_bigram_frac"), 6).alias("top_bigram_frac"),
        _r(F.col("dup_bigram_frac"), 6).alias("dup_bigram_frac"),
    )


SQL_REPETITION_STATS = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    wc AS (SELECT doc_id, tok, count(*) AS c FROM w WHERE tok <> '' GROUP BY 1, 2),
    ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                  count(*) AS n_distinct_words,
                  CAST(max(c) AS BIGINT) AS top_w FROM wc GROUP BY 1),
    b AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS big
          FROM t, unnest(generate_series(1, len(toks)-1)) AS g(i)),
    bc AS (SELECT doc_id, big, count(*) AS c FROM b GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  count(*) AS nd_big,
                  CAST(max(c) AS BIGINT) AS top_b FROM bc GROUP BY 1)
    SELECT ws.doc_id, n_words, n_distinct_words,
           floor((top_w/n_words)*1000000.0 + 0.5)/1000000.0 AS top_word_frac,
           floor(((n_words - n_distinct_words)/n_words)*1000000.0 + 0.5)/1000000.0
             AS dup_word_frac,
           coalesce(n_bigrams, 0) AS n_bigrams,
           floor((top_b/n_bigrams)*1000000.0 + 0.5)/1000000.0 AS top_bigram_frac,
           floor(((n_bigrams - nd_big)/n_bigrams)*1000000.0 + 0.5)/1000000.0
             AS dup_bigram_frac
    FROM ws LEFT JOIN bs USING (doc_id)
"""


SQL_SALTED_DOMAIN_STATS = """
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           floor((sum(n_chars)/count(*))*1000000.0 + 0.5)/1000000.0 AS avg_chars
    FROM documents GROUP BY source
"""


def q_counter_resets_1h(spark, sf_dir):
    """PromQL `resets` per (series, 1h bucket): count of counter decreases.

    Rides the same chunk-parallel lag as counter_rate_1h (one shared
    series shuffle); the reset flag is null on series heads so bucket
    sums skip them exactly like `increase` does.
    """
    from .operators.tsanalytics import rate_per_bucket

    pts = events_samples(spark, sf_dir, cents=True)
    out = rate_per_bucket(pts, 3600)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "n_samples",
        F.col("reset_count").cast("long").alias("resets"),
    )


SQL_COUNTER_RESETS = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    l AS (SELECT user_id, ts, v,
                 lag(v) OVER (PARTITION BY user_id ORDER BY ts, v) AS pv FROM c),
    r AS (SELECT user_id, ts,
                 CASE WHEN pv IS NULL THEN NULL
                      WHEN v < pv THEN 1 ELSE 0 END AS rs FROM l)
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
           count(*) AS n_samples,
           CAST(sum(rs) AS BIGINT) AS resets
    FROM r GROUP BY 1, 2
"""


def q_idelta_1h(spark, sf_dir):
    """PromQL idelta/irate per (series, 1h bucket): last-two-sample delta.

    The row_number window partitions by BUCKET (parallel across time, no
    per-series sort task); ties on (ts, value) are broken descending on
    both so duplicate timestamps are engine-independent.  gap_s is the
    second-resolution timestamp gap; irate divides cents by it.
    """
    from .operators.tsanalytics import instant_delta_per_bucket

    pts = events_samples(spark, sf_dir, cents=True)
    out = instant_delta_per_bucket(pts, 3600)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("idelta").cast("long").alias("idelta_c"),
        "gap_s",
        _r(F.col("irate") / 100.0, 6).alias("irate"),
    )


SQL_IDELTA = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    r AS (SELECT user_id, ts, v,
                 row_number() OVER (PARTITION BY user_id, floor(epoch(ts)/3600)
                                    ORDER BY ts DESC, v DESC) AS rk
          FROM c),
    a AS (SELECT user_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
                 count(*) AS n2,
                 max(CASE WHEN rk = 1 THEN v END) AS lv,
                 max(CASE WHEN rk = 2 THEN v END) AS pv,
                 max(CASE WHEN rk = 1 THEN floor(epoch(ts))::BIGINT END) AS lt,
                 max(CASE WHEN rk = 2 THEN floor(epoch(ts))::BIGINT END) AS pt
          FROM r WHERE rk <= 2 GROUP BY 1, 2)
    SELECT CAST(user_id AS VARCHAR) AS series_id, bucket_epoch,
           CAST(CASE WHEN n2 < 2 THEN NULL
                     WHEN lv - pv < 0 THEN lv ELSE lv - pv END AS BIGINT)
             AS idelta_c,
           (lt - pt)::BIGINT AS gap_s,
           CASE WHEN lt - pt > 0 THEN
             floor(((CASE WHEN lv - pv < 0 THEN lv ELSE lv - pv END)
                    / (lt - pt) / 100.0) * 1000000.0 + 0.5) / 1000000.0
           END AS irate
    FROM a
"""


def q_deriv_1h(spark, sf_dir):
    """PromQL deriv + predict_linear per (series, 1h bucket).

    Pure algebraic regression sums over integer (seconds, cents) — exact,
    commutative, map-side combined; only the final slope/intercept
    division is float, computed by the identical expression in both
    engines.
    """
    from .operators.tsanalytics import deriv_per_bucket

    pts = events_samples(spark, sf_dir, cents=True)
    out = deriv_per_bucket(pts, 3600, horizon_seconds=7200)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "n",
        _r(F.col("slope_per_sec"), 9).alias("slope"),
        _r(F.col("predict") / 100.0, 6).alias("predict"),
    )


SQL_DERIV = """
    WITH c AS (SELECT user_id, ts,
                      CAST(floor(value*100 + 0.5) AS BIGINT) AS v
               FROM events),
    b AS (SELECT user_id, v,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                 floor(epoch(ts))::BIGINT
                   - (floor(epoch(ts)/3600)*3600)::BIGINT AS t
          FROM c),
    a AS (SELECT user_id, be, count(*) AS n,
                 sum(t) AS st, sum(v) AS sv,
                 sum(t*v) AS stv, sum(t*t) AS stt
          FROM b GROUP BY 1, 2)
    SELECT CAST(user_id AS VARCHAR) AS series_id, be AS bucket_epoch, n,
           CASE WHEN n >= 2 AND n*stt - st*st > 0 THEN
             floor(((n*stv - st*sv) / (n*stt - st*st)) * 1000000000.0 + 0.5)
               / 1000000000.0
           END AS slope,
           CASE WHEN n >= 2 AND n*stt - st*st > 0 THEN
             floor((((sv - ((n*stv - st*sv) / (n*stt - st*st)) * st) / n
                     + ((n*stv - st*sv) / (n*stt - st*st)) * 7200.0) / 100.0)
                   * 1000000.0 + 0.5) / 1000000.0
           END AS predict
    FROM a
"""


def q_seasonal_anomaly_1h(spark, sf_dir):
    """Seasonal z-score anomalies: each 1h bucket vs the same hour-of-day
    in the prior 7 days (phase-partitioned baseline), explicit
    engine-exact variance like anomaly_zscore_1h.
    """
    from .operators.tsanalytics import seasonal_zscore

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    out = seasonal_zscore(
        tier, 3600, season_buckets=24, n_periods=7, value_col="sum"
    )
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("sum").cast("long").alias("sum_c"),
        F.col("baseline_n").alias("n_base"),
        _r(F.col("zscore"), 6).alias("z"),
        F.col("is_anomaly").cast("int").alias("anom"),
    )


SQL_SEASONAL_ANOMALY = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
                 sum(v) AS s
          FROM c GROUP BY 1, 2),
    p AS (SELECT series_id, bucket_epoch, s,
                 CAST(CAST(floor(bucket_epoch/3600.0) AS BIGINT) % 24
                      AS INTEGER) AS ph
          FROM t),
    wn AS (SELECT series_id, bucket_epoch, s,
                  count(s) OVER w AS n,
                  sum(s) OVER w AS bs,
                  sum(s*s) OVER w AS bss
           FROM p
           WINDOW w AS (PARTITION BY series_id, ph ORDER BY bucket_epoch
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT series_id, bucket_epoch, CAST(s AS BIGINT) AS sum_c, n AS n_base,
           CASE WHEN n >= 2 AND (bss - bs*bs/n)/(n-1) > 0
                THEN floor(((s - bs/n)/sqrt((bss - bs*bs/n)/(n-1)))*1000000.0
                           + 0.5)/1000000.0 END AS z,
           CASE WHEN n >= 2 AND (bss - bs*bs/n)/(n-1) > 0
                     AND abs((s - bs/n)/sqrt((bss - bs*bs/n)/(n-1))) > 3.0
                THEN 1 ELSE 0 END AS anom
    FROM wn
"""


def q_psi_drift(spark, sf_dir):
    """PSI data-drift per series: first vs last 15 days of the 1h
    histogram tier.  psi_nanos is the per-bin-rounded exact-integer sum
    (order-independent cross-engine checksum of the float PSI)."""
    from .operators.rollup import histogram_rollup, psi_drift

    pts = events_samples(spark, sf_dir, cents=True)
    hist = histogram_rollup(pts, TIERS["1h"], bin_width=500.0)
    out = psi_drift(
        hist,
        ref_start=1704067200,
        ref_end=1705363200,
        cur_start=1705363200,
        cur_end=1706745600,
        exact_nanos=True,
    )
    return out.select(
        "series_id",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        "n_bins",
        "psi_nanos",
    )


SQL_PSI_DRIFT = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be
               FROM events),
    h AS (SELECT series_id, be, CAST(floor(v/500.0) AS BIGINT) AS bin,
                 count(*) AS n
          FROM c GROUP BY 1, 2, 3),
    r AS (SELECT series_id, bin, sum(n) AS nr FROM h
          WHERE be >= 1704067200 AND be < 1705363200 GROUP BY 1, 2),
    u AS (SELECT series_id, bin, sum(n) AS nc FROM h
          WHERE be >= 1705363200 AND be < 1706745600 GROUP BY 1, 2),
    j AS (SELECT coalesce(r.series_id, u.series_id) AS series_id,
                 coalesce(r.bin, u.bin) AS bin,
                 coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
          FROM r FULL OUTER JOIN u
            ON r.series_id = u.series_id AND r.bin = u.bin),
    tot AS (SELECT series_id, sum(nr) AS n_ref, sum(nc) AS n_cur,
                   count(*) AS n_bins
            FROM j GROUP BY 1),
    x AS (SELECT j.series_id, n_ref, n_cur, n_bins,
                 (nc + 0.5) / (n_cur + 0.5*n_bins) AS p,
                 (nr + 0.5) / (n_ref + 0.5*n_bins) AS q
          FROM j JOIN tot USING (series_id))
    SELECT series_id, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur, n_bins,
           CAST(sum(CAST(floor((p - q) * ln(p/q) * 1000000000.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS psi_nanos
    FROM x GROUP BY 1, 2, 3, 4
"""


def q_histogram_quantile_1h(spark, sf_dir):
    """PromQL histogram_quantile(0.95) off the 1h histogram tier —
    mergeable-sketch quantiles with linear in-bin interpolation."""
    from .operators.rollup import histogram_quantile, histogram_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    hist = histogram_rollup(pts, TIERS["1h"], bin_width=500.0)
    out = histogram_quantile(hist, q=0.95, bin_width=500.0)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "total",
        _r(F.col("q_est") / 100.0, 6).alias("p95_est"),
    )


SQL_HISTOGRAM_QUANTILE = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch
               FROM events),
    h AS (SELECT series_id, bucket_epoch,
                 CAST(floor(v/500.0) AS BIGINT) AS bin, count(*) AS n
          FROM c GROUP BY 1, 2, 3),
    s AS (SELECT series_id, bucket_epoch, bin, n,
                 sum(n) OVER (PARTITION BY series_id, bucket_epoch
                              ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                 sum(n) OVER (PARTITION BY series_id, bucket_epoch) AS total
          FROM h)
    SELECT series_id, bucket_epoch, CAST(total AS BIGINT) AS total,
           floor((((bin + (0.95*total - (cum - n))/n) * 500.0) / 100.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS p95_est
    FROM s
    WHERE cum >= 0.95*total AND (cum - n) < 0.95*total
"""


def q_cusum_1h(spark, sf_dir):
    """Two-sided CUSUM over the 1h cents tier via the closed form
    (cumsum − running min): pure window aggregates, integer-exact."""
    from .operators.tsanalytics import cusum_detect

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    out = cusum_detect(tier, target=5000.0, slack=500.0, h=20000.0)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("value").cast("long").alias("sum_c"),
        F.col("cusum_hi").cast("long").alias("cusum_hi_c"),
        F.col("cusum_lo").cast("long").alias("cusum_lo_c"),
        F.col("alarm").cast("int").alias("alarm"),
    )


SQL_CUSUM_1H = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS be, sum(v) AS s
          FROM c GROUP BY 1, 2),
    p AS (SELECT series_id, be, s,
                 sum(s - 5000.0 - 500.0) OVER w AS ph,
                 sum(-(s - 5000.0) - 500.0) OVER w AS pl
          FROM t
          WINDOW w AS (PARTITION BY series_id ORDER BY be
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    m AS (SELECT series_id, be, s, ph, pl,
                 min(ph) OVER w AS mh, min(pl) OVER w AS ml
          FROM p
          WINDOW w AS (PARTITION BY series_id ORDER BY be
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT series_id, be AS bucket_epoch, CAST(s AS BIGINT) AS sum_c,
           CAST(ph - least(0.0, mh) AS BIGINT) AS cusum_hi_c,
           CAST(pl - least(0.0, ml) AS BIGINT) AS cusum_lo_c,
           CASE WHEN ph - least(0.0, mh) > 20000.0
                  OR pl - least(0.0, ml) > 20000.0
                THEN 1 ELSE 0 END AS alarm
    FROM m
"""


def q_alert_firing_1h(spark, sf_dir):
    """Threshold alert with for:3 hysteresis over the 1h cents tier
    (gaps-and-islands; a missing bucket resets the pending run)."""
    from .operators.tsanalytics import alert_firing

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    out = alert_firing(tier, 3600, threshold=5000.0, for_buckets=3)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("value").cast("long").alias("sum_c"),
        F.col("exceeds").cast("int").alias("exceeds"),
        "pending_n",
        F.col("firing").cast("int").alias("firing"),
    )


SQL_ALERT_FIRING = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS be, sum(v) AS s
          FROM c GROUP BY 1, 2),
    x AS (SELECT series_id, be, s, CAST(be/3600 AS BIGINT) AS idx,
                 CASE WHEN s > 5000 THEN 1 ELSE 0 END AS ex
          FROM t),
    i AS (SELECT series_id, be, s, idx, ex,
                 CASE WHEN ex = 1 THEN idx - sum(ex) OVER
                   (PARTITION BY series_id ORDER BY idx) END AS island
          FROM x),
    p AS (SELECT series_id, be, s, ex, island,
                 CASE WHEN ex = 1 THEN
                   row_number() OVER (PARTITION BY series_id, island
                                      ORDER BY idx)
                 ELSE 0 END AS pending_n
          FROM i)
    SELECT series_id, be AS bucket_epoch, CAST(s AS BIGINT) AS sum_c,
           ex AS exceeds, pending_n,
           CASE WHEN pending_n >= 3 THEN 1 ELSE 0 END AS firing
    FROM p
"""


def q_tfidf_by_source(spark, sf_dir):
    """Full (source, term) TF-IDF matrix: doc-frequency tf per source,
    global idf, broadcast df/N onto the tf rows."""
    from .operators.text import tfidf_by_source

    docs = _read(spark, sf_dir, "documents")
    out = tfidf_by_source(docs)
    return out.select(
        "source",
        "term",
        "tf_docs",
        "df_global",
        "n_docs",
        _r(F.col("tfidf"), 6).alias("tfidf"),
    )


SQL_TFIDF_BY_SOURCE = """
    WITH toks AS (
      SELECT DISTINCT doc_id, source,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ), t AS (SELECT * FROM toks WHERE length(term) >= 3),
    tf AS (SELECT source, term, count(*) AS tf_docs FROM t GROUP BY 1, 2),
    dfg AS (SELECT term, count(DISTINCT doc_id) AS df_global FROM t GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT source, term, tf_docs, df_global, n_docs,
           floor((tf_docs * ln(n_docs / df_global)) * 1000000.0 + 0.5)
             / 1000000.0 AS tfidf
    FROM tf JOIN dfg USING (term) CROSS JOIN n
"""


def q_dup_span_stats(spark, sf_dir):
    """Exact n-gram span duplication per doc (Lee et al. exact-substring
    dedup signal), portable md5 twin on the same doc subset as
    rolling_fingerprints; keep_every=1 = exact (no sampling)."""
    from .operators.text import duplicated_span_stats

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out = duplicated_span_stats(
        docs.select("doc_id", "text"), hash_mode="md5", keep_every=1
    )
    return out.select(
        "id",
        "n_windows",
        "n_dup_windows",
        _r(F.col("dup_frac"), 6).alias("dup_frac"),
    )


SQL_DUP_SPANS = """
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ') AS ts
      FROM documents WHERE doc_id < 100
    ), w AS (
      SELECT doc_id AS id,
             md5(array_to_string(ts[i:i+7], ' ')) AS fp
      FROM toks, unnest(generate_series(1, len(ts) - 7)) AS t(i)
      WHERE len(ts) >= 8
    ), d AS (
      SELECT fp, count(DISTINCT id) AS nd FROM w GROUP BY fp
    )
    SELECT id, count(*) AS n_windows,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           floor((sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*))
                 * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
    FROM w JOIN d USING (fp) GROUP BY id
"""


def q_remove_dup_spans(spark, sf_dir):
    """Exact-substring span REMOVAL (Lee et al. rewrite step): plant a
    duplicate 12-token prefix of each doc as a new doc, rewrite both
    sides; the oracle value-checks the rebuilt text byte-for-byte."""
    from .operators.text import remove_duplicate_spans

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    base = docs.select(
        "doc_id", F.regexp_replace("text", "\\s+", " ").alias("text")
    )
    planted = base.unionByName(
        base.select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat(
                F.concat_ws(" ", F.slice(F.split("text", " "), 1, 12)),
                F.lit(" uniq"),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    out = remove_duplicate_spans(planted, window_tokens=8, hash_mode="md5")
    return out.select("doc_id", "text_dedup", "n_tokens", "n_tokens_removed")


SQL_REMOVE_DUP_SPANS = """
    WITH base AS (
      SELECT doc_id, regexp_replace(text, '\\s+', ' ', 'g') AS t
      FROM documents WHERE doc_id < 60
    ), planted AS (
      SELECT doc_id, t FROM base
      UNION ALL
      SELECT doc_id + 1000,
             array_to_string((string_split(t, ' '))[1:12], ' ')
               || ' uniq' || CAST(doc_id AS VARCHAR)
      FROM base
    ), toks AS (
      SELECT doc_id, t, string_split(t, ' ') AS ts FROM planted
    ), w AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(ts[i:i+7], ' ')) AS fp
      FROM toks, unnest(generate_series(1, len(ts) - 7)) AS u(i)
      WHERE len(ts) >= 8
    ), d AS (
      SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM w)
      GROUP BY fp HAVING count(*) >= 2
    ), m AS (
      SELECT DISTINCT w.doc_id, w.pos + u.o AS j
      FROM w JOIN d USING (fp), unnest(generate_series(0, 7)) AS u(o)
    ), tok AS (
      SELECT doc_id, unnest(ts) AS tok,
             unnest(generate_series(1, len(ts))) - 1 AS j
      FROM toks
    ), kept AS (
      SELECT tok.doc_id, tok.j, tok.tok FROM tok ANTI JOIN m USING (doc_id, j)
    ), rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS txt
      FROM kept GROUP BY doc_id
    ), nrem AS (
      SELECT doc_id, count(*) AS nrm FROM m GROUP BY doc_id
    )
    SELECT p.doc_id,
           CASE WHEN nrm IS NULL THEN p.t ELSE COALESCE(txt, '') END
             AS text_dedup,
           CAST(len(string_split(p.t, ' ')) AS INT) AS n_tokens,
           CAST(COALESCE(nrm, 0) AS BIGINT) AS n_tokens_removed
    FROM planted p
    LEFT JOIN rebuilt USING (doc_id)
    LEFT JOIN nrem USING (doc_id)
"""


def q_retention_7d(spark, sf_dir):
    """Day-over-day retention matrix (lags 1..7) off the daily distinct
    tier: entity-keyed self-join over deduped (day, user) tuples."""
    from .operators.cohorts import retention_matrix
    from .operators.distinct import distinct_rollup

    ev = _read(spark, sf_dir, "events")
    tier = distinct_rollup(ev, 86400, entity_col="user_id", keys=[])
    out = retention_matrix(tier, max_lag_days=7)
    return out.select(
        "day_epoch",
        "lag",
        "n_active",
        "n_retained",
        _r(F.col("retention"), 6).alias("retention"),
    )


SQL_RETENTION_7D = """
    WITH d AS (SELECT DISTINCT
                 (floor(epoch(ts)/86400)*86400)::BIGINT AS day,
                 user_id AS u
               FROM events),
    r AS (SELECT a.day AS d0,
                 CAST((b.day - a.day)/86400 AS BIGINT) AS lag,
                 count(*) AS n_retained
          FROM d a JOIN d b ON a.u = b.u
          WHERE b.day - a.day BETWEEN 86400 AND 604800
          GROUP BY 1, 2),
    base AS (SELECT day AS d0, count(*) AS n_active FROM d GROUP BY 1)
    SELECT d0 AS day_epoch, lag, n_active, n_retained,
           floor((n_retained/n_active)*1000000.0 + 0.5)/1000000.0 AS retention
    FROM base JOIN r USING (d0)
"""


def q_funnel_view_click_purchase(spark, sf_dir):
    """view -> click -> purchase funnel per cohort day (first-view day),
    7-day horizon: per-entity min aggregates + entity-keyed joins, no
    event-list collection."""
    from .operators.cohorts import funnel_conversion

    ev = _read(spark, sf_dir, "events")
    out = funnel_conversion(
        ev, ["view", "click", "purchase"], horizon_seconds=604800
    )
    return out.select("cohort_epoch", "n_s1", "n_s2", "n_s3")


SQL_FUNNEL_VCP = """
    WITH e AS (SELECT user_id AS u, event_type AS t,
                      floor(epoch(ts))::BIGINT AS s FROM events),
    s1 AS (SELECT u, min(s) AS t1 FROM e WHERE t = 'view' GROUP BY u),
    s2 AS (SELECT e.u, min(t1) AS t1, min(s) AS t2
           FROM e JOIN s1 ON e.u = s1.u
           WHERE t = 'click' AND s >= t1 AND s <= t1 + 604800
           GROUP BY e.u),
    s3 AS (SELECT e.u, min(s) AS t3
           FROM e JOIN s2 ON e.u = s2.u
           WHERE t = 'purchase' AND s >= t2 AND s <= s2.t1 + 604800
           GROUP BY e.u)
    SELECT (floor(s1.t1/86400)*86400)::BIGINT AS cohort_epoch,
           count(*) AS n_s1,
           count(s2.u) AS n_s2,
           count(s3.u) AS n_s3
    FROM s1 LEFT JOIN s2 ON s1.u = s2.u LEFT JOIN s3 ON s1.u = s3.u
    GROUP BY 1
"""


def q_cross_corr_1h(spark, sf_dir):
    """Lagged Pearson cross-correlation between user series over the 1h
    cents tier (lags 0 and 1 hour, >= 8 common buckets — low enough
    that the sparse sf0.001 fixture still produces pairs).  Exact integer
    sums -> identical float corr expression in both engines.
    """
    from .operators.tsanalytics import lagged_cross_correlation

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    out = lagged_cross_correlation(
        tier, 3600, lags=[0, 1], min_overlap=8, value_col="sum"
    )
    return out.select(
        F.col("a_series_id").alias("sa"),
        F.col("b_series_id").alias("sb"),
        "lag",
        "n",
        _r(F.col("corr"), 6).alias("corr"),
    )


SQL_CROSS_CORR = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                 sum(v) AS s
          FROM c GROUP BY 1, 2),
    l AS (SELECT series_id, be, s, lag
          FROM t CROSS JOIN (SELECT unnest([0, 1]) AS lag)),
    j AS (SELECT a.series_id AS sa, b.series_id AS sb, a.lag,
                 a.s AS x, b.s AS y
          FROM l a JOIN t b ON a.be + a.lag*3600 = b.be
          WHERE a.series_id < b.series_id),
    g AS (SELECT sa, sb, lag, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                 sum(x*x) AS sxx, sum(y*y) AS syy
          FROM j GROUP BY 1, 2, 3)
    SELECT sa, sb, lag, n,
           CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
             floor(((n*sxy - sx*sy)
                    / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS corr
    FROM g WHERE n >= 8
"""


def q_pq_recall_check(spark, sf_dir):
    """PQ/ADC vs exact top-5 recall per query (VALUES golden from the
    numpy twin in tools/gen_goldens.py; deterministic seeded codebooks).

    The PQ pipeline is the memory/IO scale path: vectors quantize to m=8
    small codes (32x narrower than raw float32 at dim=64), ADC scores are
    m table-gathers per row, and the reduction is the same two-phase
    local-top-k as brute force.
    """
    import pandas as pd

    from .operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = _read(spark, sf_dir, "embeddings")
    cb = train_pq_codebooks(emb, m=8, n_codes=16, sample=2048)
    codes = pq_encode(emb, cb)
    qpdf = emb.orderBy("vec_id").limit(5).toPandas()
    queries = spark.createDataFrame(
        pd.DataFrame(
            {
                "qid": qpdf["vec_id"],
                "qvec": [list(map(float, v)) for v in qpdf["embedding"]],
            }
        )
    )
    exact = brute_force_topk(emb, queries, k=5).select(
        "qid", F.col("cid").alias("ecid")
    )
    approx = pq_topk(codes, cb, queries, k=5).select(
        "qid", F.col("cid").alias("acid")
    )
    hits = exact.join(
        approx, (exact.qid == approx.qid) & (exact.ecid == approx.acid)
    ).groupBy(exact.qid).count()
    return (
        exact.groupBy("qid")
        .count()
        .select(F.col("qid"), F.col("count").alias("k"))
        .join(
            hits.select(F.col("qid").alias("qid2"), F.col("count").alias("hit")),
            F.col("qid") == F.col("qid2"),
            "left",
        )
        .select("qid", "k", F.coalesce("hit", F.lit(0)).alias("hits"))
    )


def q_holt_forecast_events(spark, sf_dir):
    """Chunk-parallel Holt linear smoothing over cents samples: per-series
    final (level, trend) and a 10-step forecast, as micros BIGINTs.

    The oracle is a VALUES-literal golden computed by a sequential numpy
    twin (tools/gen_goldens.py) — two independent execution paths
    (distributed 2×2-matrix-carry decomposition vs single-process loop)
    through the driver's hash gate.  The +1e-9 bias before flooring
    absorbs the ~1e-15-relative reassociation difference between them.
    """
    from .operators.tsanalytics import holt_linear

    pts = events_samples(spark, sf_dir, cents=True)
    out = holt_linear(pts, 0.3, 0.1, chunk_seconds=86400, keep_order=True)
    # (_chunk, _p) tiebreak: duplicate (ts, cents) rows carry different
    # per-row states; the recurrence POSITION picks the true final one
    agg = out.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max_by(
            F.struct("ts", "value", "level", "trend"),
            F.struct("ts", "value", "_chunk", "_p"),
        ).alias("_e"),
    )
    lvl = F.col("_e.level") / 100.0
    tr = F.col("_e.trend") / 100.0

    def micros(c):
        return F.floor((c + F.lit(1e-9)) * 1e6 + 0.5).cast("long")

    return agg.select(
        "series_id",
        "n",
        micros(lvl).alias("level_u"),
        micros(tr).alias("trend_u"),
        micros(lvl + 10.0 * tr).alias("fc10_u"),
    )


def q_distinct_users_1h(spark, sf_dir):
    """Exact distinct-user counts per (event_type, 1h): counts read off
    the mergeable distinct tier (distinct tuples, not counts)."""
    from .operators.distinct import distinct_counts, distinct_rollup

    ev = _read(spark, sf_dir, "events")
    tier = distinct_rollup(ev, 3600)
    out = distinct_counts(tier)
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "n_distinct",
    )


SQL_DISTINCT_USERS_1H = """
    SELECT event_type,
           (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
           count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY 1, 2
"""


def q_distinct_users_1d_chained(spark, sf_dir):
    """Daily distinct users derived FROM THE HOURLY TIER (re-bucket +
    re-distinct over already-deduped tuples) — the incremental-refresh
    path: the raw stream is scanned once, at the 1h level."""
    from .operators.distinct import (
        distinct_counts,
        distinct_rollup,
        distinct_tier_rollup,
    )

    ev = _read(spark, sf_dir, "events")
    tier_1h = distinct_rollup(ev, 3600)
    tier_1d = distinct_tier_rollup(tier_1h, 86400)
    out = distinct_counts(tier_1d)
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "n_distinct",
    )


SQL_DISTINCT_USERS_1D = """
    SELECT event_type,
           (floor(epoch(ts)/86400)*86400)::BIGINT AS bucket_epoch,
           count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY 1, 2
"""


def q_hll_distinct_check(spark, sf_dir):
    """HLL sketch tier vs exact tier: per (event_type, day), the exact
    count plus a flag that the 1h-sketch-merged-to-1d HLL estimate lands
    within 5% of it.

    The sketch path (hll_sketch_agg at 1h, hll_union_agg to 1d) is the
    100-TB shape — O(groups × 2^lg_k bytes) shuffle regardless of
    cardinality.  DataSketches HLL is deterministic for a given input
    set, so the flag is a stable oracle value (lg_k=14 → ~0.8% standard
    error; 5% ≈ 6σ).
    """
    from .operators.distinct import (
        distinct_counts,
        distinct_rollup,
        distinct_tier_rollup,
        hll_merge_rollup,
        hll_rollup,
    )

    ev = _read(spark, sf_dir, "events")
    exact = distinct_counts(distinct_tier_rollup(distinct_rollup(ev, 3600), 86400))
    est = hll_merge_rollup(hll_rollup(ev, 3600, lg_k=14), 86400)
    j = exact.join(
        est.select("event_type", "bucket_ts", "n_estimate"),
        ["event_type", "bucket_ts"],
    )
    ok = (
        F.abs(F.col("n_estimate") - F.col("n_distinct"))
        <= 0.05 * F.col("n_distinct")
    ).cast("int")
    return j.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("n_distinct").alias("n_exact"),
        ok.alias("est_ok"),
    )


SQL_HLL_DISTINCT_CHECK = """
    SELECT event_type,
           (floor(epoch(ts)/86400)*86400)::BIGINT AS bucket_epoch,
           count(DISTINCT user_id) AS n_exact,
           1 AS est_ok
    FROM events GROUP BY 1, 2
"""


def q_time_weight_1d(spark, sf_dir):
    """LOCF time-weighted average pieces per (series, day) — TimescaleDB
    time_weight('locf') + time_bucket parity; exact integer numerator
    (cents x seconds) and covered duration, twa = twa_num / dur_s."""
    from .operators.tsanalytics import time_weighted_avg

    pts = events_samples(spark, sf_dir, cents=True)
    out = time_weighted_avg(pts, 86400)
    return out.select(
        "series_id",
        "bucket_epoch",
        F.col("n_points").cast("long").alias("n_points"),
        F.col("twa_num").cast("long").alias("twa_num"),
        F.col("dur_s").cast("long").alias("dur_s"),
    )


_TW_SEGMENTS_CTE = """
    WITH c AS (SELECT user_id, ts, event_id,
                      CAST(floor(value*100 + 0.5) AS BIGINT) AS v
               FROM events),
    s AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS es, v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS seq
          FROM c),
    b AS (SELECT series_id, es, v, seq,
                 (floor(es/86400.0)*86400)::BIGINT AS be FROM s),
    g AS (SELECT series_id, be, es, v,
                 coalesce(lead(es) OVER (PARTITION BY series_id, be
                                         ORDER BY es, seq) - es, 0) AS seg
          FROM b)
"""

SQL_TIME_WEIGHT_1D = _TW_SEGMENTS_CTE + """
    SELECT series_id, be AS bucket_epoch,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(v*seg) AS BIGINT) AS twa_num,
           CAST(sum(seg) AS BIGINT) AS dur_s
    FROM g GROUP BY 1, 2
"""


def q_state_durations_1d(spark, sf_dir):
    """Seconds spent above/below a gauge threshold per (series, day) —
    TimescaleDB state_agg parity off the same LOCF segment model."""
    from .operators.tsanalytics import state_durations

    pts = events_samples(spark, sf_dir, cents=True)
    out = state_durations(pts, 86400, threshold=5000.0)
    return out.select(
        "series_id",
        "bucket_epoch",
        "state",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("dur_s").cast("long").alias("dur_s"),
    )


SQL_STATE_DURATIONS_1D = _TW_SEGMENTS_CTE + """
    SELECT series_id, be AS bucket_epoch,
           CASE WHEN v > 5000 THEN 'high' ELSE 'low' END AS state,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(seg) AS BIGINT) AS dur_s
    FROM g GROUP BY 1, 2, 3
"""


def q_coalesced_intervals(spark, sf_dir):
    """Merge overlapping/adjacent per-user intervals [ts, ts+v_cents s)
    (range_agg / interval-union via gaps-and-islands)."""
    from .operators.sessions import coalesce_intervals

    pts = events_samples(spark, sf_dir, cents=True)
    iv = pts.select(
        "series_id",
        "seq",
        F.unix_timestamp("ts").cast("long").alias("start_es"),
        (F.unix_timestamp("ts").cast("long") + F.col("value").cast("long")).alias(
            "end_es"
        ),
    )
    out = coalesce_intervals(iv)
    return out.select(
        "series_id",
        F.col("island_id").cast("long").alias("island_id"),
        F.col("island_start").cast("long").alias("island_start"),
        F.col("island_end").cast("long").alias("island_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


SQL_COALESCED_INTERVALS = """
    WITH c AS (SELECT user_id, ts, event_id,
                      CAST(floor(value*100 + 0.5) AS BIGINT) AS v
               FROM events),
    s AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS es, v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS seq
          FROM c),
    i AS (SELECT series_id, es AS st, es + v AS en, seq FROM s),
    m AS (SELECT series_id, st, en, seq,
                 max(en) OVER (PARTITION BY series_id ORDER BY st, seq
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS pme
          FROM i),
    f AS (SELECT series_id, st, en, seq,
                 CASE WHEN pme IS NULL OR st > pme THEN 1 ELSE 0 END AS ni
          FROM m),
    g AS (SELECT series_id, st, en,
                 sum(ni) OVER (PARTITION BY series_id ORDER BY st, seq
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS isl
          FROM f)
    SELECT series_id, CAST(isl AS BIGINT) AS island_id,
           CAST(min(st) AS BIGINT) AS island_start,
           CAST(max(en) AS BIGINT) AS island_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY 1, 2
"""


def q_ohlc_1h(spark, sf_dir):
    """OHLC candlestick bars per (series, hour): deterministic open/close
    via the packed (epoch<<20)+seq ordering key — certifies the first/
    last-by-time columns the generic rollup oracle has to drop (min_by
    ties).  TimescaleDB candlestick_agg / kdb+ bar parity."""
    from .operators.rollup import ohlc_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    out = ohlc_rollup(pts, 3600)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("open").cast("long").alias("open_c"),
        F.col("high").cast("long").alias("high_c"),
        F.col("low").cast("long").alias("low_c"),
        F.col("close").cast("long").alias("close_c"),
    )


_OHLC_CTE = """
    WITH c AS (SELECT user_id, ts, event_id,
                      CAST(floor(value*100 + 0.5) AS BIGINT) AS v
               FROM events),
    s AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS es, v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS seq
          FROM c),
    o AS (SELECT series_id, es, v, es * 1048576 + seq AS ord FROM s)
"""

SQL_OHLC_1H = _OHLC_CTE + """
    SELECT series_id,
           (floor(es/3600.0)*3600)::BIGINT AS bucket_epoch,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(arg_min(v, ord) AS BIGINT) AS open_c,
           CAST(max(v) AS BIGINT) AS high_c,
           CAST(min(v) AS BIGINT) AS low_c,
           CAST(arg_max(v, ord) AS BIGINT) AS close_c
    FROM o GROUP BY 1, 2
"""


def q_ohlc_1d_chained(spark, sf_dir):
    """1d OHLC bars merged FROM the 1h bars (algebraic merge over the
    carried open_ord/close_ord keys); the oracle computes 1d straight
    from raw ticks — passing proves the bar aggregate is mergeable."""
    from .operators.rollup import ohlc_merge, ohlc_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    out = ohlc_merge(ohlc_rollup(pts, 3600), 86400)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("open").cast("long").alias("open_c"),
        F.col("high").cast("long").alias("high_c"),
        F.col("low").cast("long").alias("low_c"),
        F.col("close").cast("long").alias("close_c"),
    )


SQL_OHLC_1D = _OHLC_CTE + """
    SELECT series_id,
           (floor(es/86400.0)*86400)::BIGINT AS bucket_epoch,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(arg_min(v, ord) AS BIGINT) AS open_c,
           CAST(max(v) AS BIGINT) AS high_c,
           CAST(min(v) AS BIGINT) AS low_c,
           CAST(arg_max(v, ord) AS BIGINT) AS close_c
    FROM o GROUP BY 1, 2
"""


def q_pii_scrub(spark, sf_dir):
    """PII scan + redaction audit over documents (scrub stage of the
    training-data pipeline).  The synthetic corpus carries no natural
    PII, so the query SEEDS deterministic email/IP/phone strings into a
    doc_id-keyed subset with the IDENTICAL expression on both engines —
    the operator under test (afspark/operators/text.py pii_stats /
    pii_redact) then has non-trivial counts and byte deltas to certify.
    Pure Catalyst regexp_count/regexp_replace; no UDF, no shuffle."""
    from .operators.text import pii_redact, pii_stats

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 7 == 0, F.concat(F.lit(" reach me at user"),
                                        d.cast("string"),
                                        F.lit("@mail.example.com"))).otherwise(""),
            F.when(d % 11 == 0, F.concat(F.lit(" from 192.168."),
                                         (d % 256).cast("string"), F.lit("."),
                                         (d % 100).cast("string"))).otherwise(""),
            F.when(d % 13 == 0, F.lit(" call +44 207 946 0958")).otherwise(""),
        ).alias("text"),
    )
    stats = pii_stats(seeded)
    red = pii_redact(seeded).select("doc_id", "len_raw", "len_redacted")
    return stats.join(red, "doc_id").select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_pii",
        "len_raw", "len_redacted",
    )


SQL_PII_SCRUB = r"""
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.com' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' call +44 207 946 0958' ELSE '' END AS t
      FROM documents
    ),
    pat AS (
      SELECT '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS p_email,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b' AS p_ipv4,
             '\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}\b' AS p_phone
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, p_email)) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, p_ipv4)) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, p_phone)) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, p_email))
                + len(regexp_extract_all(t, p_ipv4))
                + len(regexp_extract_all(t, p_phone)) AS BIGINT) AS n_pii,
           CAST(length(t) AS BIGINT) AS len_raw,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(
                  t, p_email, '<PII>', 'g'),
                  p_ipv4, '<PII>', 'g'),
                  p_phone, '<PII>', 'g')) AS BIGINT) AS len_redacted
    FROM seeded, pat
"""


def q_time_weight_interp_1d(spark, sf_dir):
    """Cross-bucket LOCF time-weighted average per (series, day): global
    LOCF segments clipped to day boundaries, so sample-free days inside
    a gap are still covered — TimescaleDB interpolated_average parity;
    exact integer numerator/duration pieces."""
    from .operators.tsanalytics import time_weighted_avg_interpolated

    pts = events_samples(spark, sf_dir, cents=True)
    out = time_weighted_avg_interpolated(pts, 86400)
    return out.select(
        "series_id",
        "bucket_epoch",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.col("twa_num").cast("long").alias("twa_num"),
        F.col("dur_s").cast("long").alias("dur_s"),
    )


SQL_TIME_WEIGHT_INTERP_1D = """
    WITH c AS (SELECT user_id, ts, event_id,
                      CAST(floor(value*100 + 0.5) AS BIGINT) AS v
               FROM events),
    s AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS es, v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS seq
          FROM c),
    seg AS (SELECT series_id, v, es,
                   lead(es) OVER (PARTITION BY series_id
                                  ORDER BY es, seq) AS ee
            FROM s),
    live AS (SELECT * FROM seg WHERE ee > es),
    x AS (SELECT series_id, v, es, ee,
                 unnest(generate_series(
                     (floor(es/86400.0))::BIGINT,
                     (floor((ee-1)/86400.0))::BIGINT)) AS b
          FROM live),
    o AS (SELECT series_id, b, v,
                 least(ee, (b+1)*86400) - greatest(es, b*86400) AS ov
          FROM x)
    SELECT series_id,
           CAST(sum(v*ov) AS BIGINT) AS twa_num,
           CAST(sum(ov) AS BIGINT) AS dur_s,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(b*86400 AS BIGINT) AS bucket_epoch
    FROM o GROUP BY series_id, b
"""


def q_quota_sample_by_source(spark, sf_dir):
    """Cap each source at 10 docs, picked by deterministic (md5, id)
    order — the corpus-balancing stage; two-phase salted ranking so a
    hot key never sorts its full row set in one task."""
    from .operators.text import quota_sample

    docs = _read(spark, sf_dir, "documents")
    out = quota_sample(docs, 10, key_col="source")
    return out.select(
        "doc_id", "source", F.col("_rank").cast("long").alias("pick_rank")
    )


SQL_QUOTA_SAMPLE = f"""
    WITH h AS (
      SELECT doc_id, source,
             {_md5_head32_sql("'afspark:' || CAST(doc_id AS VARCHAR)")} AS hh
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY hh, doc_id) AS pick_rank
      FROM h
    )
    SELECT doc_id, source, CAST(pick_rank AS BIGINT) AS pick_rank
    FROM r WHERE pick_rank <= 10
"""


def q_uptime_1d(spark, sf_dir):
    """Live seconds per (series, day) treating events as heartbeats with
    a 1h liveness timeout — TimescaleDB heartbeat_agg/uptime parity via
    disjoint clipped segments."""
    from .operators.tsanalytics import uptime_rollup

    pts = events_samples(spark, sf_dir, cents=True)
    out = uptime_rollup(pts, 86400, 3600)
    return out.select(
        "series_id",
        "bucket_epoch",
        F.col("up_s").cast("long").alias("up_s"),
        F.col("n_beats").cast("long").alias("n_beats"),
    )


SQL_UPTIME_1D = """
    WITH s AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS es,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS seq
               FROM events),
    seg AS (SELECT series_id, es,
                   least(coalesce(lead(es) OVER (PARTITION BY series_id
                                                 ORDER BY es, seq),
                                  es + 3600),
                         es + 3600) AS ee
            FROM s),
    live AS (SELECT * FROM seg WHERE ee > es),
    x AS (SELECT series_id, es, ee,
                 unnest(generate_series(
                     (floor(es/86400.0))::BIGINT,
                     (floor((ee-1)/86400.0))::BIGINT)) AS b
          FROM live),
    o AS (SELECT series_id, b,
                 least(ee, (b+1)*86400) - greatest(es, b*86400) AS ov
          FROM x)
    SELECT series_id,
           CAST(sum(ov) AS BIGINT) AS up_s,
           CAST(count(*) AS BIGINT) AS n_beats,
           CAST(b*86400 AS BIGINT) AS bucket_epoch
    FROM o GROUP BY series_id, b
"""


def q_burn_rate_alerts(spark, sf_dir):
    """Multiwindow SLO burn-rate alert (SRE workbook): error ratio over
    a 24h long window AND a 2h short window both above burn_factor x
    budget; exact integer window sums certify through the hash gate."""
    from .operators.tsanalytics import burn_rate_alerts

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("series_id"),
        "ts",
        (F.col("event_type") == "error").cast("int").alias("is_error"),
    )
    out = burn_rate_alerts(
        ev, 3600, slo_target=0.75, long_buckets=24, short_buckets=2,
        burn_factor=1.2, threshold_ratio=(3, 10),  # 1.2 x 0.25 exactly
    )
    return out.select(
        "series_id",
        F.col("bucket_epoch").cast("long").alias("bucket_epoch"),
        F.col("errors").cast("long").alias("errors"),
        F.col("total").cast("long").alias("total"),
        F.col("err_long").cast("long").alias("err_long"),
        F.col("tot_long").cast("long").alias("tot_long"),
        F.col("err_short").cast("long").alias("err_short"),
        F.col("tot_short").cast("long").alias("tot_short"),
        "firing",
    )


SQL_BURN_RATE = """
    WITH t AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts)/3600.0))::BIGINT AS idx,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errors,
             count(*) AS total
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT series_id, idx, errors, total,
             sum(errors) OVER (PARTITION BY series_id ORDER BY idx
                               RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
                 AS err_long,
             sum(total) OVER (PARTITION BY series_id ORDER BY idx
                              RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
                 AS tot_long,
             sum(errors) OVER (PARTITION BY series_id ORDER BY idx
                               RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
                 AS err_short,
             sum(total) OVER (PARTITION BY series_id ORDER BY idx
                              RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
                 AS tot_short
      FROM t
    )
    SELECT series_id, CAST(idx*3600 AS BIGINT) AS bucket_epoch,
           CAST(errors AS BIGINT) AS errors, CAST(total AS BIGINT) AS total,
           CAST(err_long AS BIGINT) AS err_long,
           CAST(tot_long AS BIGINT) AS tot_long,
           CAST(err_short AS BIGINT) AS err_short,
           CAST(tot_short AS BIGINT) AS tot_short,
           (err_long*10 > tot_long*3 AND err_short*10 > tot_short*3)
               AS firing
    FROM r
"""


def q_bm25_topk(spark, sf_dir):
    """BM25 top-100 for query {merge, spark, window}: one token-explode
    aggregation (dl + per-term tf in the same groupBy), broadcast corpus
    stats, rounded-score top-k — no posting-list join anywhere."""
    from .operators.retrieval import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, ["merge", "spark", "window"], k=100)


_BM25_TERMS = ["merge", "spark", "window"]
_BM25_TF = "\n".join(
    f", sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
    for i, t in enumerate(sorted(_BM25_TERMS))
)
_BM25_DF = "\n".join(
    f", sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_SCORE = " + ".join(
    f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
    f" * tf_{i} * 2.2 / (tf_{i} + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
    for i in range(len(_BM25_TERMS))
)
SQL_BM25 = f"""
    WITH ft AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    g AS (
      SELECT doc_id, count(*) AS dl
             {_BM25_TF}
      FROM ft WHERE length(term) >= 3 GROUP BY doc_id
    ),
    perdoc AS (
      SELECT d.doc_id, coalesce(g.dl, 0) AS dl,
             coalesce(g.tf_0, 0) AS tf_0, coalesce(g.tf_1, 0) AS tf_1,
             coalesce(g.tf_2, 0) AS tf_2
      FROM documents d LEFT JOIN g USING (doc_id)
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl
             {_BM25_DF}
      FROM perdoc
    )
    SELECT p.doc_id, CAST(p.dl AS BIGINT) AS dl,
           CAST((tf_0 > 0)::INT + (tf_1 > 0)::INT + (tf_2 > 0)::INT AS BIGINT)
               AS n_matched,
           floor(({_BM25_SCORE}) * 1e6 + 0.5) / 1e6 AS score6
    FROM perdoc p CROSS JOIN stats
    WHERE tf_0 + tf_1 + tf_2 > 0
    ORDER BY score6 DESC, p.doc_id LIMIT 100
"""


def q_overlap_error_bursts(spark, sf_dir):
    """Interval x interval overlap join: 30-min activity sessions vs
    1h-gap error bursts per user — bucketed claim-bucket equi-join (no
    nested-loop), DuckDB runs the plain inequality join as the oracle."""
    from .operators.rangejoin import interval_overlap_join
    from .operators.sessions import sessionize

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("series_id"), "ts", "event_type"
    )

    def intervals(points, gap, sid, lo, hi):
        s = sessionize(points.select("series_id", "ts"), gap)
        return s.groupBy("series_id", "session_id").agg(
            F.unix_timestamp(F.min("ts")).alias(lo),
            F.unix_timestamp(F.max("ts")).alias(hi),
        ).withColumnRenamed("session_id", sid)

    a = intervals(ev, 1800, "l_sid", "l_start_s", "l_end_s")
    b = intervals(
        ev.filter(F.col("event_type") == "error"), 3600,
        "r_sid", "r_start_s", "r_end_s",
    )
    out = interval_overlap_join(a, b, 86400, keys=["series_id"])
    return out.select(
        "series_id",
        F.col("l_sid").cast("long").alias("l_sid"),
        F.col("r_sid").cast("long").alias("r_sid"),
        F.col("l_start_s").cast("long").alias("l_start_s"),
        F.col("l_end_s").cast("long").alias("l_end_s"),
        F.col("r_start_s").cast("long").alias("r_start_s"),
        F.col("r_end_s").cast("long").alias("r_end_s"),
        F.col("overlap_s").cast("long").alias("overlap_s"),
    )


def _sql_sessions_intervals(filt: str, gap: int, sid: str, lo: str, hi: str) -> str:
    return f"""
      SELECT series_id, session_id AS {sid},
             floor(epoch(min(ts)))::BIGINT AS {lo},
             floor(epoch(max(ts)))::BIGINT AS {hi}
      FROM (
        SELECT series_id, ts, sum(opener) OVER (
                 PARTITION BY series_id ORDER BY ts ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM (
          SELECT series_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {gap}
                      THEN 1 ELSE 0 END AS opener
          FROM (SELECT CAST(user_id AS VARCHAR) AS series_id, ts
                FROM events {filt}) p
          WINDOW w AS (PARTITION BY series_id ORDER BY ts)
        ) f
      ) s GROUP BY series_id, session_id
    """


SQL_OVERLAP_BURSTS = f"""
    WITH a AS ({_sql_sessions_intervals("", 1800, "l_sid", "l_start_s", "l_end_s")}),
    b AS ({_sql_sessions_intervals("WHERE event_type = 'error'", 3600,
                                   "r_sid", "r_start_s", "r_end_s")})
    SELECT a.series_id, CAST(l_sid AS BIGINT) AS l_sid,
           CAST(r_sid AS BIGINT) AS r_sid,
           l_start_s, l_end_s, r_start_s, r_end_s,
           least(l_end_s, r_end_s) - greatest(l_start_s, r_start_s) AS overlap_s
    FROM a JOIN b ON a.series_id = b.series_id
     AND l_start_s <= r_end_s AND r_start_s <= l_end_s
"""


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min sketch (d=4, w=64, md5 lanes) term counts vs exact
    truth: the sketch CELLS and estimates reproduce bit-for-bit in SQL,
    certifying the mergeable fixed-size counter path itself."""
    from .operators.sketch import cms_heavy_hitters

    docs = _read(spark, sf_dir, "documents")
    return cms_heavy_hitters(docs, depth=4, width=64)


_CMS_LANE = _md5_head32_sql("'cms' || CAST(r AS VARCHAR) || ':' || term")
SQL_CMS = f"""
    WITH ft AS (
      SELECT t.term FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        FROM documents) t
      WHERE length(t.term) >= 3
    ),
    rs AS (SELECT unnest(generate_series(0, 3)) AS r),
    lanes AS (
      SELECT term, r, {_CMS_LANE} % 64 AS bucket FROM ft CROSS JOIN rs
    ),
    cells AS (SELECT r, bucket, count(*) AS cnt FROM lanes GROUP BY 1, 2),
    exact AS (SELECT term, count(*) AS true_count FROM ft GROUP BY 1),
    cand AS (
      SELECT term, true_count, r, {_CMS_LANE} % 64 AS bucket
      FROM exact CROSS JOIN rs
    )
    SELECT c.term, CAST(max(c.true_count) AS BIGINT) AS true_count,
           CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est_count
    FROM cand c LEFT JOIN cells ON cells.r = c.r AND cells.bucket = c.bucket
    GROUP BY c.term
"""


def q_weighted_sample_docs(spark, sf_dir):
    """Length-weighted deterministic sample (Efraimidis-Spirakis keys
    from ID-hash uniforms): top-100 by ln(u)/n_chars — reproducible
    importance sampling, two-phase top-k at scale."""
    from .operators.text import weighted_sample

    docs = _read(spark, sf_dir, "documents")
    out = weighted_sample(docs, 100, "n_chars")
    return out.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        (F.floor(F.col("_rank") * 1e9 + 0.5) / 1e9).alias("rank9"),
    )


SQL_WEIGHTED_SAMPLE = f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             {_md5_head32_sql("'afspark-ws:' || CAST(doc_id AS VARCHAR)")} AS hh
      FROM documents WHERE n_chars > 0
    ),
    r AS (
      SELECT doc_id, source, n_chars,
             ln((hh + 1) / 4294967297.0) / n_chars AS rank_raw
      FROM h
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           floor(rank_raw * 1e9 + 0.5) / 1e9 AS rank9
    FROM r ORDER BY rank_raw DESC, doc_id LIMIT 100
"""


def q_lm_unigram_scores(spark, sf_dir):
    """Per-doc mean unigram log-probability (add-0.5 smoothed
    self-corpus model) — the LM-quality-filter proxy; equi-joins only,
    scalars broadcast."""
    from .operators.text import lm_unigram_score

    docs = _read(spark, sf_dir, "documents")
    out = lm_unigram_score(docs, smoothing=0.5)
    return out.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("avg_logp") * 1e6 + 0.5) / 1e6).alias("avg_logp6"),
    )


SQL_LM_UNIGRAM = """
    WITH toks AS (
      SELECT doc_id, t.term FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        FROM documents) t
      WHERE t.term <> ''
    ),
    dt AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    freq AS (SELECT term, sum(tf) AS cnt FROM dt GROUP BY 1),
    sc AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM freq),
    lp AS (
      SELECT term, ln((cnt + 0.5) / (total + 0.5 * vocab)) AS logp
      FROM freq CROSS JOIN sc
    )
    SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
           floor((sum(tf * logp) / sum(tf)) * 1e6 + 0.5) / 1e6 AS avg_logp6
    FROM dt JOIN lp USING (term) GROUP BY doc_id
"""


def q_rolling_p95_24h(spark, sf_dir):
    """Moving exact p95 of hourly cents-means over the trailing 24
    hours per series — RANGE frame on the bucket index (gap-correct),
    DuckDB quantile_cont as the twin."""
    from .operators.tsanalytics import rolling_percentile

    pts = events_samples(spark, sf_dir, cents=True)
    tier = (
        pts.groupBy(
            "series_id",
            F.timestamp_seconds(
                F.floor(F.unix_timestamp("ts") / 3600) * 3600
            ).alias("bucket_ts"),
        )
        .agg((F.sum("value") / F.count(F.lit(1))).alias("value"))
    )
    out = rolling_percentile(tier, 0.95, 24, 3600)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        (F.floor(F.col("value") * 1e6 + 0.5) / 1e6).alias("mean_cents6"),
        (F.floor(F.col("rolling_p") * 1e6 + 0.5) / 1e6).alias("p95_cents6"),
        F.col("n_window").cast("long").alias("n_window"),
    )


SQL_ROLLING_P95 = """
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts) / 3600.0))::BIGINT AS idx,
             floor(value * 100 + 0.5) AS v
      FROM events
    ),
    t AS (
      SELECT series_id, idx, sum(v) / count(*) AS value
      FROM s GROUP BY 1, 2
    ),
    r AS (
      SELECT series_id, idx, value,
             quantile_cont(value, 0.95) OVER (
               PARTITION BY series_id ORDER BY idx
               RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS rolling_p,
             count(*) OVER (
               PARTITION BY series_id ORDER BY idx
               RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS n_window
      FROM t
    )
    SELECT series_id, (idx * 3600)::BIGINT AS bucket_epoch,
           floor(value * 1e6 + 0.5) / 1e6 AS mean_cents6,
           floor(rolling_p * 1e6 + 0.5) / 1e6 AS p95_cents6,
           n_window::BIGINT AS n_window
    FROM r
"""


def q_changes_1h(spark, sf_dir):
    """PromQL changes() per (series, 1h bucket) over cents samples —
    chunk-parallel lag (no per-series sort task), bucket sums; the
    oracle runs the single-window lag form."""
    from .operators.tsanalytics import changes_per_bucket

    pts = events_samples(spark, sf_dir, cents=True)
    out = changes_per_bucket(pts, 3600)
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("n_changes").cast("long").alias("n_changes"),
        F.col("n_samples").cast("long").alias("n_samples"),
    )


SQL_CHANGES_1H = """
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id, ts,
             floor(value * 100 + 0.5) AS v
      FROM events
    ),
    l AS (
      SELECT series_id, ts, v,
             lag(v) OVER (PARTITION BY series_id ORDER BY ts, v) AS pv
      FROM s
    )
    SELECT series_id,
           (floor(epoch(ts) / 3600.0) * 3600)::BIGINT AS bucket_epoch,
           sum(CASE WHEN pv IS NULL THEN NULL
                    WHEN v <> pv THEN 1 ELSE 0 END)::BIGINT AS n_changes,
           count(*)::BIGINT AS n_samples
    FROM l GROUP BY 1, 2
"""


def q_seasonal_holt_events(spark, sf_dir):
    """Seasonal Holt (classical additive decomposition, 24 hour-of-day
    phases) over cents samples: per-series final (level, trend), the
    next-phase seasonal index, and the 1-step forecast, as micros
    BIGINTs.  Oracle is a VALUES-literal golden from the sequential
    numpy twin (tools/gen_goldens.py) — distributed matrix-carry vs
    single-process loop through the hash gate; +1e-9 bias absorbs
    reassociation round-off as in holt_forecast_events."""
    from .operators.tsanalytics import seasonal_holt

    pts = events_samples(spark, sf_dir, cents=True)
    sm, idx = seasonal_holt(pts, 0.3, 0.1, 86400, 24, keep_order=True)
    last = sm.groupBy("series_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max_by(
            F.struct("level", "trend"),
            F.struct("ts", "value", "_chunk", "_p"),
        ).alias("_e"),
        F.max(F.unix_timestamp("ts")).alias("_les"),
    )
    j = last.withColumn(
        "_fp", F.floor(((F.col("_les") + 3600) % 86400) / 3600)
    ).join(idx.withColumnRenamed("_phase", "_fp"), ["series_id", "_fp"])

    def micros(c):
        return F.floor((c + F.lit(1e-9)) * 1e6 + 0.5).cast("long")

    lvl = F.col("_e.level") / 100.0
    tr = F.col("_e.trend") / 100.0
    sx = F.col("seasonal_index") / 100.0
    return j.select(
        "series_id",
        "n",
        micros(lvl).alias("level_u"),
        micros(tr).alias("trend_u"),
        micros(sx).alias("sidx_u"),
        micros(lvl + tr + sx).alias("fc1_u"),
    )


def q_holt_winters_events(spark, sf_dir):
    """Full additive Holt-Winters (adaptive seasonals, gamma=0.2, 24
    hour-of-day phases) over cents samples: per-series final level,
    trend, next-phase seasonal, and 1-step forecast as micros BIGINTs.
    Chunk-parallel (m+2)-dim matrix carries vs a sequential numpy twin
    (tools/gen_goldens.py) through the hash gate."""
    from .operators.tsanalytics import holt_winters_fit

    pts = events_samples(spark, sf_dir, cents=True)
    fit = holt_winters_fit(pts, 0.3, 0.1, 0.2, 86400, 24)

    def micros(c):
        return F.floor((c + F.lit(1e-9)) * 1e6 + 0.5).cast("long")

    fp = F.floor(((F.col("last_es") + 3600) % 86400) / 3600).cast("int")
    s_next = F.element_at(F.col("seasonals"), fp + 1)
    lvl = F.col("level") / 100.0
    tr = F.col("trend") / 100.0
    sx = s_next / 100.0
    return fit.select(
        "series_id",
        "n",
        micros(lvl).alias("level_u"),
        micros(tr).alias("trend_u"),
        micros(sx).alias("snext_u"),
        micros(lvl + tr + sx).alias("fc1_u"),
    )


def q_m4_downsample_1h(spark, sf_dir):
    """M4 visualization downsample (first/last/min/max + timestamps per
    1h pixel bucket) over cents samples — algebraic min_by/max_by
    rollup, deterministic (value, seq) tie witnesses."""
    from .operators.lttb import m4_downsample

    pts = events_samples(spark, sf_dir, cents=True)
    out = m4_downsample(pts, 3600)
    return out.select(
        "series_id", "bucket_epoch", "n",
        *[
            c
            for tag in ("first", "last", "min", "max")
            for c in (
                F.col(f"t_{tag}"),
                F.col(f"v_{tag}").cast("long").alias(f"v_{tag}"),
            )
        ],
    )


SQL_M4_1H = """
    WITH s AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS seq,
             floor(epoch(ts))::BIGINT AS es,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    r AS (
      SELECT series_id, (es // 3600) * 3600 AS bucket_epoch, es, v,
             row_number() OVER (PARTITION BY series_id, es // 3600
                                ORDER BY seq) AS rf,
             row_number() OVER (PARTITION BY series_id, es // 3600
                                ORDER BY seq DESC) AS rl,
             row_number() OVER (PARTITION BY series_id, es // 3600
                                ORDER BY v, seq) AS rmin,
             row_number() OVER (PARTITION BY series_id, es // 3600
                                ORDER BY v DESC, seq DESC) AS rmax
      FROM s
    )
    SELECT series_id, CAST(bucket_epoch AS BIGINT) AS bucket_epoch,
           count(*) AS n,
           max(CASE WHEN rf = 1 THEN es END) AS t_first,
           max(CASE WHEN rf = 1 THEN v END) AS v_first,
           max(CASE WHEN rl = 1 THEN es END) AS t_last,
           max(CASE WHEN rl = 1 THEN v END) AS v_last,
           max(CASE WHEN rmin = 1 THEN es END) AS t_min,
           max(CASE WHEN rmin = 1 THEN v END) AS v_min,
           max(CASE WHEN rmax = 1 THEN es END) AS t_max,
           max(CASE WHEN rmax = 1 THEN v END) AS v_max
    FROM r GROUP BY 1, 2
"""


def q_dominant_period_1h(spark, sf_dir):
    """Dominant seasonality per series off the 1h cents tier (FFT
    periodogram; mean-filled spine, DC excluded, first-max tie rule).
    Oracle = VALUES golden from the shared numpy twin
    (periodogram.dominant_period_local) over a pandas-assembled tier."""
    from .operators.periodogram import dominant_period

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    return dominant_period(tier, 3600, value_col="sum")


def q_dtw_events_1h(spark, sf_dir):
    """DTW distances (Sakoe-Chiba radius 24) between the 8 lowest-id
    user series over the 1h cents tier — all 28 ordered pairs.

    Integer cents make every warped cost an exact integer sum, so dtw_c
    is engine- and partitioning-exact; the oracle is the VALUES golden
    from the shared numpy twin (dtw_local) over pandas-assembled tiers —
    two independent assembly paths through the driver's hash gate.
    """
    from .operators.dtw import dtw_pairs

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    ids = (
        tier.select(F.col("series_id").cast("long").alias("u"))
        .distinct()
        .orderBy("u")
        .limit(8)
    )
    cand = (
        ids.select(F.col("u").alias("ua"))
        .crossJoin(ids.select(F.col("u").alias("ub")))
        .filter(F.col("ua") < F.col("ub"))
        .select(
            F.col("ua").cast("string").alias("a_series_id"),
            F.col("ub").cast("string").alias("b_series_id"),
        )
    )
    out = dtw_pairs(tier, cand, radius=24, value_col="sum")
    return out.select(
        F.col("a_series_id").alias("sa"),
        F.col("b_series_id").alias("sb"),
        "n_a",
        "n_b",
        F.col("dtw").cast("long").alias("dtw_c"),
    )


def q_sax_6h(spark, sf_dir):
    """SAX symbolization (alphabet 4, 6h PAA frames) of the 1h cents
    tier.  Letters come from z-scores built out of exact integer sums
    through identical IEEE expressions in both engines; breakpoints are
    irrational so boundary ties have measure zero."""
    from .operators.sax import sax_symbolize

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    out = sax_symbolize(tier, frame_seconds=21600, alphabet=4, value_col="sum")
    return out.select(
        "series_id",
        "frame_epoch",
        "n_buckets",
        _r(F.col("paa"), 6).alias("paa"),
        _r(F.col("z"), 6).alias("z"),
        "letter",
    )


SQL_SAX_6H = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                 sum(v) AS s
          FROM c GROUP BY 1, 2),
    st AS (SELECT series_id, CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(s) AS DOUBLE) AS sx,
                  CAST(sum(s*s) AS DOUBLE) AS sxx
           FROM t GROUP BY 1),
    f AS (SELECT series_id,
                 (floor(be/21600)*21600)::BIGINT AS frame_epoch,
                 count(*) AS n_buckets, CAST(sum(s) AS DOUBLE) AS fs
          FROM t GROUP BY 1, 2),
    j AS (SELECT f.series_id, frame_epoch, n_buckets,
                 fs / CAST(n_buckets AS DOUBLE) AS paa,
                 sx / n AS mu,
                 (n*sxx - sx*sx) / (n*n) AS var
          FROM f JOIN st USING (series_id)),
    z AS (SELECT series_id, frame_epoch, n_buckets, paa,
                 CASE WHEN var > 0 THEN (paa - mu) / sqrt(var) END AS zz
          FROM j)
    SELECT series_id, frame_epoch, n_buckets,
           floor(paa * 1000000.0 + 0.5) / 1000000.0 AS paa,
           floor(zz * 1000000.0 + 0.5) / 1000000.0 AS z,
           CASE WHEN zz IS NULL THEN NULL
                WHEN zz < -0.6744897501960817 THEN 'a'
                WHEN zz < 0.0 THEN 'b'
                WHEN zz < 0.6744897501960817 THEN 'c'
                ELSE 'd' END AS letter
    FROM z
"""


def q_ks_drift(spark, sf_dir):
    """Kolmogorov-Smirnov drift per series (first vs last 15 days off
    the 1h histogram tier).  ks_num is the exact integer max-ECDF-gap
    numerator — the order-independent cross-engine checksum; ks divides
    it by the shared n_ref*n_cur denominator."""
    from .operators.rollup import histogram_rollup, ks_drift

    pts = events_samples(spark, sf_dir, cents=True)
    hist = histogram_rollup(pts, TIERS["1h"], bin_width=500.0)
    out = ks_drift(
        hist,
        ref_start=1704067200,
        ref_end=1705363200,
        cur_start=1705363200,
        cur_end=1706745600,
    )
    return out.select(
        "series_id",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.col("ks_num").cast("long").alias("ks_num"),
        _r(F.col("ks"), 6).alias("ks"),
    )


SQL_KS_DRIFT = """
    WITH c AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                      floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be
               FROM events),
    h AS (SELECT series_id, be, CAST(floor(v/500.0) AS BIGINT) AS bin,
                 count(*) AS n
          FROM c GROUP BY 1, 2, 3),
    r AS (SELECT series_id, bin, sum(n) AS nr FROM h
          WHERE be >= 1704067200 AND be < 1705363200 GROUP BY 1, 2),
    u AS (SELECT series_id, bin, sum(n) AS nc FROM h
          WHERE be >= 1705363200 AND be < 1706745600 GROUP BY 1, 2),
    j AS (SELECT coalesce(r.series_id, u.series_id) AS series_id,
                 coalesce(r.bin, u.bin) AS bin,
                 coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
          FROM r FULL OUTER JOIN u
            ON r.series_id = u.series_id AND r.bin = u.bin),
    s AS (SELECT series_id, bin, nr, nc,
                 sum(nr) OVER (PARTITION BY series_id ORDER BY bin
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cr,
                 sum(nc) OVER (PARTITION BY series_id ORDER BY bin
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cc,
                 sum(nr) OVER (PARTITION BY series_id) AS n_ref,
                 sum(nc) OVER (PARTITION BY series_id) AS n_cur
          FROM j)
    SELECT series_id, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(max(abs(cr*n_cur - cc*n_ref)) AS BIGINT) AS ks_num,
           floor(CAST(max(abs(cr*n_cur - cc*n_ref)) AS DOUBLE)
                 / (n_ref*n_cur) * 1000000.0 + 0.5) / 1000000.0 AS ks
    FROM s WHERE n_ref > 0 AND n_cur > 0
    GROUP BY series_id, n_ref, n_cur
"""


def q_acf_1h(spark, sf_dir):
    """Per-series autocorrelation (lags 1-3 hours) over the 1h cents
    tier.  Join-paired (a bucket correlates with bucket+L whether or not
    the buckets between exist); series key inside the join key keeps the
    self-join linear — no all-pairs fan-out.
    """
    from .operators.tsanalytics import autocorrelation

    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"])
    out = autocorrelation(tier, 3600, lags=[1, 2, 3], min_overlap=8, value_col="sum")
    return out.select(
        "series_id", "lag", "n", _r(F.col("acf"), 6).alias("acf")
    )


SQL_ACF_1H = """
    WITH c AS (SELECT user_id, ts, floor(value*100 + 0.5) AS v FROM events),
    t AS (SELECT CAST(user_id AS VARCHAR) AS series_id,
                 (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                 sum(v) AS s
          FROM c GROUP BY 1, 2),
    l AS (SELECT series_id, be, s, lag
          FROM t CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag)),
    j AS (SELECT a.series_id, a.lag, a.s AS x, b.s AS y
          FROM l a JOIN t b
            ON a.series_id = b.series_id AND a.be + a.lag*3600 = b.be),
    g AS (SELECT series_id, lag, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                 sum(x*x) AS sxx, sum(y*y) AS syy
          FROM j GROUP BY 1, 2)
    SELECT series_id, lag, n,
           CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
             floor(((n*sxy - sx*sy)
                    / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS acf
    FROM g WHERE n >= 8
"""


def q_table_profile_events(spark, sf_dir):
    """Single-pass data-quality audit of the events table.

    One scan, one agg (operators/profile.py): per-column null counts,
    exact cardinalities, ranges, integer-exact means.  Floats enter as
    cents and timestamps as epoch seconds so every mean is a ratio of
    exact integers — bit-stable across engines and partitionings.
    """
    from .operators.profile import profile_table

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v_cents"),
        F.unix_timestamp("ts").alias("ts_epoch"),
        "event_type",
        "props",
    )
    return profile_table(
        ev,
        numeric_cols=["event_id", "user_id", "v_cents", "ts_epoch"],
        string_cols=["event_type", "props"],
    )


def _sql_profile_num(name: str, expr: str, src: str) -> str:
    return f"""
    SELECT '{name}' AS col, count(*) AS n,
           count(*) - count({expr}) AS n_null,
           count(DISTINCT {expr}) AS n_distinct,
           CAST(min({expr}) AS DOUBLE) AS min_num,
           CAST(max({expr}) AS DOUBLE) AS max_num,
           floor(sum(CAST({expr} AS DOUBLE)) / count({expr})
                 * 1000000.0 + 0.5) / 1000000.0 AS mean,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str,
           CAST(NULL AS DOUBLE) AS avg_len
    FROM {src}"""


def _sql_profile_str(name: str, expr: str, src: str) -> str:
    return f"""
    SELECT '{name}' AS col, count(*) AS n,
           count(*) - count({expr}) AS n_null,
           count(DISTINCT {expr}) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num,
           CAST(NULL AS DOUBLE) AS max_num,
           CAST(NULL AS DOUBLE) AS mean,
           min({expr}) AS min_str,
           max({expr}) AS max_str,
           floor(CAST(sum(length({expr})) AS DOUBLE) / count({expr})
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_len
    FROM {src}"""


SQL_TABLE_PROFILE_EVENTS = (
    """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
             floor(epoch(ts))::BIGINT AS ts_epoch,
             event_type, props
      FROM events
    )
    """
    + " UNION ALL ".join(
        [_sql_profile_num(c, c, "e")
         for c in ("event_id", "user_id", "v_cents", "ts_epoch")]
        + [_sql_profile_str(c, c, "e") for c in ("event_type", "props")]
    )
)


def q_table_profile_docs(spark, sf_dir):
    """Same one-scan audit over documents (the web-pages-shaped table)."""
    from .operators.profile import profile_table

    docs = _read(spark, sf_dir, "documents")
    return profile_table(
        docs,
        numeric_cols=["doc_id", "n_chars"],
        string_cols=["lang", "source", "text"],
    )


SQL_TABLE_PROFILE_DOCS = " UNION ALL ".join(
    [_sql_profile_num(c, c, "documents") for c in ("doc_id", "n_chars")]
    + [_sql_profile_str(c, c, "documents") for c in ("lang", "source", "text")]
)


def q_fano_burstiness_1h(spark, sf_dir):
    """Arrival burstiness per event_type from hourly counts: Fano factor
    + Goh-Barabasi B.  Exact-integer sufficient statistics (Σn, Σn²,
    span); one identical float expression both engines."""
    from .operators.tsanalytics import fano_burstiness

    ev = _read(spark, sf_dir, "events")
    out = fano_burstiness(ev, 3600, keys=["event_type"])
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "n_buckets",
        _r(F.col("mean_rate"), 9).alias("mean_rate"),
        _r(F.col("fano"), 9).alias("fano"),
        _r(F.col("burstiness"), 9).alias("burstiness"),
    )


SQL_FANO_BURSTINESS = """
    WITH b AS (SELECT event_type,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                      count(*) AS n
               FROM events GROUP BY 1, 2),
    a AS (SELECT event_type, sum(n) AS n_events, sum(n*n) AS ss,
                 min(be) AS lo, max(be) AS hi
          FROM b GROUP BY 1),
    x AS (SELECT event_type, n_events,
                 CAST((hi - lo)/3600 + 1 AS BIGINT) AS n_buckets,
                 n_events / ((hi - lo)/3600 + 1) AS m,
                 ss / ((hi - lo)/3600 + 1)
                   - (n_events / ((hi - lo)/3600 + 1))
                     * (n_events / ((hi - lo)/3600 + 1)) AS var
          FROM a)
    SELECT event_type, CAST(n_events AS BIGINT) AS n_events, n_buckets,
           floor(m * 1000000000.0 + 0.5) / 1000000000.0 AS mean_rate,
           CASE WHEN m > 0 THEN
             floor(var / m * 1000000000.0 + 0.5) / 1000000000.0
           END AS fano,
           CASE WHEN sqrt(var) + m > 0 THEN
             floor((sqrt(var) - m) / (sqrt(var) + m) * 1000000000.0 + 0.5)
               / 1000000000.0
           END AS burstiness
    FROM x
"""


def q_chi2_lang_source(spark, sf_dir):
    """Chi-squared independence of lang x source over documents (corpus-
    mix drift screen) + Cramer's V.  chi2_nanos is the per-cell-rounded
    exact-integer sum with the absent-cell mass added in closed form."""
    from .operators.profile import chi2_independence

    docs = _read(spark, sf_dir, "documents")
    out = chi2_independence(docs, "lang", "source")
    return out.select(
        F.col("n").cast("long").alias("n"),
        "n_rows",
        "n_cols",
        "dof",
        "chi2_nanos",
        _r(F.col("cramers_v"), 9).alias("cramers_v"),
    )


SQL_CHI2_LANG_SOURCE = """
    WITH cells AS (SELECT lang, source, count(*) AS o
                   FROM documents GROUP BY 1, 2),
    r AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
    c AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
    t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    j AS (SELECT cells.o, r.rt, c.ct, t.n, r.rt * c.ct / t.n AS e
          FROM cells JOIN r USING (lang) JOIN c USING (source)
          CROSS JOIN t),
    s AS (SELECT max(n) AS n,
                 sum(CAST(floor((o - e)*(o - e)/e * 1000000000.0 + 0.5)
                          AS BIGINT)) AS tp,
                 sum(CAST(floor(e * 1000000000.0 + 0.5) AS BIGINT)) AS se
          FROM j),
    card AS (SELECT (SELECT count(*) FROM r) AS rr,
                    (SELECT count(*) FROM c) AS cc)
    SELECT n, CAST(rr AS BIGINT) AS n_rows, CAST(cc AS BIGINT) AS n_cols,
           CAST((rr - 1) * (cc - 1) AS BIGINT) AS dof,
           CAST(tp + n * 1000000000 - se AS BIGINT) AS chi2_nanos,
           CASE WHEN n > 0 AND least(rr - 1, cc - 1) > 0 THEN
             floor(sqrt(((tp + n * 1000000000 - se) / 1000000000.0)
                        / (n * least(rr - 1, cc - 1)))
                   * 1000000000.0 + 0.5) / 1000000000.0
           END AS cramers_v
    FROM s CROSS JOIN card
"""


def q_distinct_users_sliding_6h(spark, sf_dir):
    """Rolling 6h unique users reported hourly via Spark's native sliding
    window (explode factor = window/hop = 6, then the exact-tier dedup).
    """
    from .operators.distinct import sliding_distinct

    ev = _read(spark, sf_dir, "events")
    out = sliding_distinct(ev, 21600, 3600, entity_col="user_id")
    return out.select(
        "window_start",
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


SQL_DISTINCT_SLIDING = """
    WITH x AS (SELECT user_id, floor(epoch(ts)/3600)::BIGINT AS he
               FROM events),
    w AS (SELECT DISTINCT user_id, (he - j.j) * 3600 AS window_start
          FROM x CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5)) j(j))
    SELECT CAST(window_start AS BIGINT) AS window_start,
           count(*) AS n_distinct
    FROM w GROUP BY 1
"""


def q_trend_theilsen_1d(spark, sf_dir):
    """Theil-Sen robust daily trend per series from 1h bucket means
    (median of pairwise slopes; cents units for exact sufficient
    statistics)."""
    from .operators.tsanalytics import theil_sen_trend

    pts = events_samples(spark, sf_dir, cents=True)
    out = theil_sen_trend(pts, 3600, 86400)
    return out.select(
        "series_id",
        F.col("group_epoch").alias("day_epoch"),
        "n_buckets",
        "n_pairs",
        _r(F.col("slope"), 9).alias("slope_c_per_s"),
        _r(F.col("intercept") / 100.0, 6).alias("intercept"),
    )


SQL_TREND_THEILSEN = """
    WITH c AS (SELECT user_id, floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
                      (floor(epoch(ts)/86400)*86400)::BIGINT AS de
               FROM events),
    h AS (SELECT user_id, de, be, sum(v) AS sv, count(*) AS n
          FROM c GROUP BY 1, 2, 3),
    p AS (SELECT a.user_id, a.de,
                 (b.sv/b.n - a.sv/a.n) / (b.be - a.be) AS slope
          FROM h a JOIN h b
            ON a.user_id = b.user_id AND a.de = b.de AND b.be > a.be),
    s AS (SELECT user_id, de, count(*) AS n_pairs,
                 quantile_cont(slope, 0.5) AS slope
          FROM p GROUP BY 1, 2),
    r AS (SELECT h.user_id, h.de, s.n_pairs, s.slope,
                 count(*) AS n_buckets,
                 quantile_cont(h.sv/h.n - s.slope*(h.be - h.de), 0.5)
                   AS icept
          FROM h JOIN s ON h.user_id = s.user_id AND h.de = s.de
          GROUP BY 1, 2, 3, 4)
    SELECT CAST(user_id AS VARCHAR) AS series_id, de AS day_epoch,
           n_buckets, n_pairs,
           floor(slope * 1000000000.0 + 0.5) / 1000000000.0
             AS slope_c_per_s,
           floor(icept / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS intercept
    FROM r
"""


def q_pagerank_3it(spark, sf_dir):
    """3-iteration fixed-point PageRank over the deterministic LCG link
    graph on documents.  rank_fp is the exact fixed-point integer (1e12
    = mass 1.0) — every cross-engine sum is an integer sum."""
    from .operators.linkgraph import derive_links, pagerank_fixed

    docs = _read(spark, sf_dir, "documents")
    edges = derive_links(docs, out_degree=3)
    out = pagerank_fixed(docs, edges, n_iter=3, out_degree=3)
    return out.select(
        "doc_id",
        "rank_fp",
        _r(F.col("rank"), 12).alias("rank"),
    )


SQL_PAGERANK = """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    e AS (SELECT doc_id AS src,
                 (doc_id*1103515245 + j.j*12345 + 7) % (SELECT n FROM nn)
                   AS dst
          FROM documents CROSS JOIN (VALUES (0),(1),(2)) AS j(j)),
    r0 AS (SELECT doc_id AS id,
                  CAST(floor(1000000000000.0/(SELECT n FROM nn)) AS BIGINT)
                    AS r
           FROM documents),
    m1 AS (SELECT e.dst AS id, sum(CAST(floor(r0.r/3.0) AS BIGINT)) AS mass
           FROM e JOIN r0 ON r0.id = e.src GROUP BY 1),
    r1 AS (SELECT d.doc_id AS id,
                  CAST(floor(150000000000.0/(SELECT n FROM nn)) AS BIGINT)
                  + CAST(floor(0.85*coalesce(m1.mass, 0)) AS BIGINT) AS r
           FROM documents d LEFT JOIN m1 ON m1.id = d.doc_id),
    m2 AS (SELECT e.dst AS id, sum(CAST(floor(r1.r/3.0) AS BIGINT)) AS mass
           FROM e JOIN r1 ON r1.id = e.src GROUP BY 1),
    r2 AS (SELECT d.doc_id AS id,
                  CAST(floor(150000000000.0/(SELECT n FROM nn)) AS BIGINT)
                  + CAST(floor(0.85*coalesce(m2.mass, 0)) AS BIGINT) AS r
           FROM documents d LEFT JOIN m2 ON m2.id = d.doc_id),
    m3 AS (SELECT e.dst AS id, sum(CAST(floor(r2.r/3.0) AS BIGINT)) AS mass
           FROM e JOIN r2 ON r2.id = e.src GROUP BY 1),
    r3 AS (SELECT d.doc_id AS id,
                  CAST(floor(150000000000.0/(SELECT n FROM nn)) AS BIGINT)
                  + CAST(floor(0.85*coalesce(m3.mass, 0)) AS BIGINT) AS r
           FROM documents d LEFT JOIN m3 ON m3.id = d.doc_id)
    SELECT id AS doc_id, r AS rank_fp,
           floor(r / 1000000000000.0 * 1000000000000.0 + 0.5)
             / 1000000000000.0 AS rank
    FROM r3
"""


def q_matrix_profile_1h(spark, sf_dir):
    """Per-series matrix-profile discord + motif over the 1h cents tier
    (m = 24 buckets ~ one day).  Golden VALUES oracle from the identical
    matrix_profile_local kernel (tools/gen_goldens.py)."""
    from .operators.matrixprofile import matrix_profile_discord

    pts = events_samples(spark, sf_dir, cents=True)
    return matrix_profile_discord(pts, 3600, 24)


def q_asap_smooth_1h(spark, sf_dir):
    """Per-series ASAP auto-smoothing pick over the 1h cents tier:
    the roughness-minimizing kurtosis-preserving moving-average window
    (operators/asap.py, exhaustive variant of the VLDB'17 objective).
    Golden VALUES oracle from the identical asap_smooth_local kernel
    (tools/gen_goldens.py)."""
    from .operators.asap import asap_smooth

    pts = events_samples(spark, sf_dir, cents=True)
    return asap_smooth(pts, 3600)


def q_pettitt_1h(spark, sf_dir):
    """Pettitt rank changepoint per series over the 1h cents tier —
    exact-integer U statistics via the rank recurrence."""
    from .operators.tsanalytics import pettitt_changepoint

    pts = events_samples(spark, sf_dir, cents=True)
    out = pettitt_changepoint(pts, 3600)
    return out.select(
        "series_id",
        "n_buckets",
        F.col("k_stat").cast("long").alias("k_stat"),
        "cp_epoch",
        F.col("u_at_cp").cast("long").alias("u_at_cp"),
        _r(F.col("p_approx"), 9).alias("p_approx"),
    )


SQL_PETTITT = """
    WITH c AS (SELECT user_id, floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be
               FROM events),
    h AS (SELECT user_id, be, sum(v) AS x FROM c GROUP BY 1, 2),
    t AS (SELECT user_id, be,
                 count(*) OVER (PARTITION BY user_id) AS b,
                 rank() OVER (PARTITION BY user_id ORDER BY x DESC)
                 - rank() OVER (PARTITION BY user_id ORDER BY x ASC) AS s
          FROM h),
    u AS (SELECT user_id, be, b,
                 sum(s) OVER (PARTITION BY user_id ORDER BY be
                              ROWS UNBOUNDED PRECEDING) AS u,
                 row_number() OVER (PARTITION BY user_id ORDER BY be DESC)
                   AS rn
          FROM t),
    cand AS (SELECT * FROM u WHERE rn > 1 AND b >= 2),
    k AS (SELECT user_id, b, max(abs(u)) AS k FROM cand GROUP BY 1, 2),
    best AS (SELECT c2.user_id, c2.b AS n_buckets, k.k AS k_stat,
                    min(c2.be) AS cp_epoch,
                    min_by(c2.u, c2.be) AS u_at_cp
             FROM cand c2
             JOIN k ON c2.user_id = k.user_id AND abs(c2.u) = k.k
             GROUP BY 1, 2, 3)
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(k_stat AS BIGINT) AS k_stat,
           cp_epoch,
           CAST(u_at_cp AS BIGINT) AS u_at_cp,
           floor(least(
                   2.0 * exp(-6.0 * k_stat * k_stat
                             / (CAST(n_buckets AS DOUBLE)
                                * CAST(n_buckets AS DOUBLE)
                                * CAST(n_buckets AS DOUBLE)
                                + CAST(n_buckets AS DOUBLE)
                                  * CAST(n_buckets AS DOUBLE))),
                   1.0) * 1000000000.0 + 0.5) / 1000000000.0 AS p_approx
    FROM best
"""


def q_benford_events(spark, sf_dir):
    """Benford first-digit screen of event values per event_type
    (leading digit from the exact cents string — no float log tricks).
    """
    from .operators.profile import benford_first_digit

    ev = _read(spark, sf_dir, "events")
    out = benford_first_digit(ev, "value", keys=["event_type"], scale=100)
    return out.select(
        "event_type",
        "digit",
        "n",
        _r(F.col("p_obs"), 9).alias("p_obs"),
        _r(F.col("p_benford"), 9).alias("p_benford"),
        "chi2c_nanos",
    )


SQL_BENFORD = """
    WITH c AS (SELECT event_type,
                      CAST(floor(abs(value)*100 + 0.5) AS BIGINT) AS c
               FROM events),
    d AS (SELECT event_type,
                 CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
          FROM c WHERE c > 0),
    n AS (SELECT event_type, digit, count(*) AS n FROM d GROUP BY 1, 2),
    t AS (SELECT event_type, sum(n) AS n_total FROM n GROUP BY 1),
    s AS (SELECT t.event_type, t.n_total, g.digit
          FROM t CROSS JOIN
               (SELECT unnest(generate_series(1, 9)) AS digit) g),
    j AS (SELECT s.event_type, s.digit, coalesce(n.n, 0) AS n, s.n_total,
                 coalesce(n.n, 0) / s.n_total AS p_obs,
                 log10(1.0 + 1.0/s.digit) AS p_exp
          FROM s LEFT JOIN n
            ON s.event_type = n.event_type AND s.digit = n.digit)
    SELECT event_type, digit, CAST(n AS BIGINT) AS n,
           floor(p_obs * 1000000000.0 + 0.5) / 1000000000.0 AS p_obs,
           floor(p_exp * 1000000000.0 + 0.5) / 1000000000.0 AS p_benford,
           CAST(floor(n_total * (p_obs - p_exp) * (p_obs - p_exp) / p_exp
                      * 1000000000.0 + 0.5) AS BIGINT) AS chi2c_nanos
    FROM j
"""


def q_seasonality_strength(spark, sf_dir):
    """Hour-of-day seasonality strength (ANOVA eta² + F) per series on
    exact cents sufficient statistics."""
    from .operators.tsanalytics import seasonality_strength

    pts = events_samples(spark, sf_dir, cents=True)
    out = seasonality_strength(pts)
    return out.select(
        "series_id",
        "n",
        "n_phases",
        _r(F.col("eta2"), 9).alias("eta2"),
        _r(F.col("fstat"), 6).alias("fstat"),
    )


SQL_SEASONALITY_STRENGTH = """
    WITH c AS (SELECT user_id, floor(value*100 + 0.5) AS v,
                      CAST(floor((floor(epoch(ts))::BIGINT % 86400)
                                 / 3600) AS INT) AS h
               FROM events),
    g AS (SELECT user_id, h, count(*) AS nh, sum(v) AS sh
          FROM c GROUP BY 1, 2),
    a AS (SELECT user_id, sum(nh) AS n, sum(sh) AS s,
                 count(*) AS n_phases,
                 sum(CAST(floor(sh*sh/nh + 0.5) AS BIGINT)) AS b
          FROM g GROUP BY 1),
    q AS (SELECT user_id, sum(v*v) AS qq FROM c GROUP BY 1),
    j AS (SELECT a.user_id, a.n, a.s, a.n_phases, a.b, q.qq,
                 a.b - a.s*a.s/a.n AS ssb,
                 q.qq - a.s*a.s/a.n AS sst,
                 q.qq - a.b AS ssw
          FROM a JOIN q ON a.user_id = q.user_id)
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           CAST(n AS BIGINT) AS n,
           CAST(n_phases AS BIGINT) AS n_phases,
           CASE WHEN sst > 0 THEN
             floor(ssb / sst * 1000000000.0 + 0.5) / 1000000000.0
           END AS eta2,
           CASE WHEN n_phases >= 2 AND n > n_phases AND ssw > 0 THEN
             floor((ssb / (n_phases - 1)) / (ssw / (n - n_phases))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS fstat
    FROM j
"""


def q_transition_entropy(spark, sf_dir):
    """Per-user transition-pair entropy of the event_type sequence
    (bits, exact-integer nanos checksum)."""
    from .operators.cohorts import transition_entropy

    ev = _read(spark, sf_dir, "events")
    out = transition_entropy(ev)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_transitions",
        "n_pair_kinds",
        "entropy_nanos",
        _r(F.col("entropy_bits"), 9).alias("entropy_bits"),
    )


SQL_TRANSITION_ENTROPY = """
    WITH s AS (SELECT user_id,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS pv,
                      event_type AS cv
               FROM events),
    p AS (SELECT user_id, pv, cv, count(*) AS n
          FROM s WHERE pv IS NOT NULL GROUP BY 1, 2, 3),
    t AS (SELECT user_id, sum(n) AS nn FROM p GROUP BY 1),
    j AS (SELECT p.user_id, t.nn,
                 CAST(floor(-(p.n / t.nn) * log2(p.n / t.nn)
                            * 1000000000.0 + 0.5) AS BIGINT) AS term
          FROM p JOIN t ON p.user_id = t.user_id)
    SELECT user_id,
           CAST(max(nn) AS BIGINT) AS n_transitions,
           count(*) AS n_pair_kinds,
           CAST(sum(term) AS BIGINT) AS entropy_nanos,
           floor(CAST(sum(term) AS BIGINT) / 1000000000.0
                 * 1000000000.0 + 0.5) / 1000000000.0 AS entropy_bits
    FROM j GROUP BY 1
"""


def q_hits_2it(spark, sf_dir):
    """2-iteration HITS hubs/authorities over the LCG link graph —
    fixed-point integers, mass-SCALE normalization each half-step."""
    from .operators.linkgraph import derive_links, hits_fixed

    docs = _read(spark, sf_dir, "documents")
    edges = derive_links(docs, out_degree=3)
    return hits_fixed(docs, edges, n_iter=2)


SQL_HITS = """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    e AS (SELECT doc_id AS src,
                 (doc_id*1103515245 + j.j*12345 + 7) % (SELECT n FROM nn)
                   AS dst
          FROM documents CROSS JOIN (VALUES (0),(1),(2)) AS j(j)),
    h0 AS (SELECT doc_id AS id,
                  1000000000000 // (SELECT n FROM nn) AS h
           FROM documents),
    ar1 AS (SELECT d.doc_id AS id, coalesce(m.s, 0) AS raw
            FROM documents d LEFT JOIN
              (SELECT e.dst AS id, sum(h0.h) AS s
               FROM e JOIN h0 ON h0.id = e.src GROUP BY 1) m
              ON m.id = d.doc_id),
    a1 AS (SELECT id, CAST(floor(raw * 1000000000000.0
                                 / (SELECT sum(raw) FROM ar1)) AS BIGINT)
                        AS a
           FROM ar1),
    hr1 AS (SELECT d.doc_id AS id, coalesce(m.s, 0) AS raw
            FROM documents d LEFT JOIN
              (SELECT e.src AS id, sum(a1.a) AS s
               FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1) m
              ON m.id = d.doc_id),
    h1 AS (SELECT id, CAST(floor(raw * 1000000000000.0
                                 / (SELECT sum(raw) FROM hr1)) AS BIGINT)
                        AS h
           FROM hr1),
    ar2 AS (SELECT d.doc_id AS id, coalesce(m.s, 0) AS raw
            FROM documents d LEFT JOIN
              (SELECT e.dst AS id, sum(h1.h) AS s
               FROM e JOIN h1 ON h1.id = e.src GROUP BY 1) m
              ON m.id = d.doc_id),
    a2 AS (SELECT id, CAST(floor(raw * 1000000000000.0
                                 / (SELECT sum(raw) FROM ar2)) AS BIGINT)
                        AS a
           FROM ar2),
    hr2 AS (SELECT d.doc_id AS id, coalesce(m.s, 0) AS raw
            FROM documents d LEFT JOIN
              (SELECT e.src AS id, sum(a2.a) AS s
               FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1) m
              ON m.id = d.doc_id),
    h2 AS (SELECT id, CAST(floor(raw * 1000000000000.0
                                 / (SELECT sum(raw) FROM hr2)) AS BIGINT)
                        AS h
           FROM hr2)
    SELECT h2.id AS doc_id, h2.h AS hub_fp, a2.a AS auth_fp
    FROM h2 JOIN a2 ON h2.id = a2.id
"""


def q_crawl_schedule(spark, sf_dir):
    """Politeness-constrained recrawl schedule over the documents
    frontier: 30s per-domain gap from a fixed dispatch epoch."""
    from .operators.text import crawl_schedule

    docs = _read(spark, sf_dir, "documents")
    return crawl_schedule(docs, 30, 1706745600)


SQL_CRAWL_SCHEDULE = """
    SELECT doc_id, source AS domain, n_chars AS priority,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS wave,
           1706745600 + (row_number() OVER (PARTITION BY source
                                            ORDER BY n_chars DESC, doc_id)
                         - 1)::BIGINT * 30 AS fetch_epoch
    FROM documents
"""


def q_mad_anomaly_1h(spark, sf_dir):
    """Iglewicz-Hoban modified z-score anomalies per series on the 1h
    cents tier (MAD scale, |z| > 3.5)."""
    from .operators.tsanalytics import mad_anomalies

    pts = events_samples(spark, sf_dir, cents=True)
    out = mad_anomalies(pts, 3600)
    return out.select(
        "series_id",
        "bucket_epoch",
        F.col("x").cast("long").alias("x_c"),
        _r(F.col("med"), 6).alias("med_c"),
        _r(F.col("mad"), 6).alias("mad_c"),
        _r(F.col("z"), 6).alias("z"),
        "is_anomaly",
    )


SQL_MAD_ANOMALY = """
    WITH c AS (SELECT user_id, floor(value*100 + 0.5) AS v,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be
               FROM events),
    h AS (SELECT user_id, be, sum(v) AS x FROM c GROUP BY 1, 2),
    m AS (SELECT user_id, quantile_cont(x, 0.5) AS med FROM h GROUP BY 1),
    d AS (SELECT h.user_id, quantile_cont(abs(h.x - m.med), 0.5) AS mad,
                 max(m.med) AS med
          FROM h JOIN m ON h.user_id = m.user_id GROUP BY 1),
    j AS (SELECT h.user_id, h.be, h.x, d.med, d.mad,
                 0.6745 * (h.x - d.med) / d.mad AS z
          FROM h JOIN d ON h.user_id = d.user_id)
    SELECT CAST(user_id AS VARCHAR) AS series_id, be AS bucket_epoch,
           CAST(x AS BIGINT) AS x_c,
           floor(med * 1000000.0 + 0.5) / 1000000.0 AS med_c,
           floor(mad * 1000000.0 + 0.5) / 1000000.0 AS mad_c,
           CASE WHEN mad > 0 THEN
             floor(z * 1000000.0 + 0.5) / 1000000.0
           END AS z,
           CASE WHEN mad > 0 THEN abs(z) > 3.5 ELSE FALSE END
             AS is_anomaly
    FROM j
"""


def q_gini_chars_by_source(spark, sf_dir):
    """Gini concentration of document sizes within each source domain
    (corpus-inequality screen) — exact integer rank statistics."""
    from .operators.profile import gini_concentration

    docs = _read(spark, sf_dir, "documents")
    out = gini_concentration(docs, "n_chars", keys=["source"])
    return out.select(
        "source",
        "n",
        "total",
        _r(F.col("gini"), 9).alias("gini"),
    )


SQL_GINI = """
    WITH r AS (SELECT source, n_chars AS x,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY n_chars) AS i
               FROM documents),
    a AS (SELECT source, count(*) AS n, sum(x) AS total,
                 sum(i * x) AS ix
          FROM r GROUP BY 1)
    SELECT source, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
           CASE WHEN total > 0 THEN
             floor((2.0 * ix / (CAST(n AS DOUBLE) * total)
                    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                   * 1000000000.0 + 0.5) / 1000000000.0
           END AS gini
    FROM a
"""


def q_completeness_1h(spark, sf_dir):
    """Per-series 1h-grid completeness + largest silent gap (ingest
    health before gap-fill hides the holes)."""
    from .operators.tsanalytics import completeness

    pts = events_samples(spark, sf_dir)
    out = completeness(pts, 3600)
    return out.select(
        "series_id",
        "n_present",
        "n_span",
        _r(F.col("completeness"), 9).alias("completeness"),
        "max_gap_buckets",
    )


SQL_COMPLETENESS = """
    WITH b AS (SELECT DISTINCT user_id,
                      (floor(epoch(ts)/3600)*3600)::BIGINT AS be
               FROM events),
    g AS (SELECT user_id, be,
                 CAST((be - lag(be) OVER (PARTITION BY user_id
                                          ORDER BY be)) / 3600 - 1
                      AS BIGINT) AS gap
          FROM b),
    a AS (SELECT user_id, count(*) AS n_present,
                 min(be) AS lo, max(be) AS hi,
                 coalesce(max(gap), 0) AS max_gap
          FROM g GROUP BY 1)
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           CAST(n_present AS BIGINT) AS n_present,
           CAST((hi - lo)/3600 + 1 AS BIGINT) AS n_span,
           floor(n_present / ((hi - lo)/3600 + 1) * 1000000000.0 + 0.5)
             / 1000000000.0 AS completeness,
           CAST(max_gap AS BIGINT) AS max_gap_buckets
    FROM a
"""


# ---------------------------------------------------------------------------
# HDR log-bucket percentile sketch tier (mergeable quantiles)
# ---------------------------------------------------------------------------

def _hdr_cells_sql(sec: int) -> str:
    """DuckDB twin of hdr_rollup over integer cents — pure integer
    bucketing (length(bin(v)), shifts, DIV), no libm anywhere."""
    return f"""
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts)/{sec})*{sec})::BIGINT AS bucket_epoch,
             least(CAST(floor(value*100 + 0.5) AS BIGINT),
                   {MAX_SCALED}) AS v  -- 2^57-1 saturation, see hdrsketch._idx_sql
      FROM events
    ), cells AS (
      SELECT series_id, bucket_epoch,
             CASE WHEN v <= 0 THEN CAST(-1 AS BIGINT)
                  ELSE (length(bin(v))-1)*16
                       + ((v*16) // (CAST(1 AS BIGINT) << (length(bin(v))-1))
                          - 16)
             END AS idx,
             count(*) AS n
      FROM c GROUP BY 1, 2, 3
    ), cum AS (
      SELECT *,
             sum(n) OVER (PARTITION BY series_id, bucket_epoch
                          ORDER BY idx) AS cum,
             sum(n) OVER (PARTITION BY series_id, bucket_epoch) AS total
      FROM cells
    )
    """


def _hdr_est_sql() -> str:
    """Midpoint estimate of a cell: 2^msb*(2*(16+sub)+1)/3200 — one IEEE
    division of exact integers (bit-identical across engines)."""
    return (
        "CASE WHEN idx < 0 THEN 0.0 ELSE "
        "((CAST(1 AS BIGINT) << CAST(idx // 16 AS INT))"
        " * (2*(16 + idx % 16) + 1))::DOUBLE / 3200.0 END"
    )


def _hdr_out(est_df):
    return est_df.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("total").cast("long").alias("total"),
        "est",
    )


def q_hdr_percentile_1h(spark, sf_dir):
    """p50 + p99 per (series, 1h bucket) from the HDR log-bucket sketch
    tier — the constant-memory, tier-mergeable percentile path
    (hdrsketch.py; Prometheus-native-histogram semantics)."""
    from .operators.hdrsketch import hdr_quantile, hdr_rollup

    s = events_samples(spark, sf_dir, cents=True)
    cells = hdr_rollup(s, TIERS["1h"])
    parts = []
    for qn, qd, lab in [(50, 100, "p50"), (99, 100, "p99")]:
        e = hdr_quantile(cells, qn, qd)
        parts.append(_hdr_out(e).withColumn("qlab", F.lit(lab)))
    return parts[0].unionByName(parts[1])


SQL_HDR_PERCENTILE_1H = _hdr_cells_sql(3600) + f"""
    , q AS (SELECT 50 AS qn, 'p50' AS qlab UNION ALL SELECT 99, 'p99')
    SELECT series_id, bucket_epoch, total::BIGINT AS total,
           {_hdr_est_sql()} AS est, qlab
    FROM cum, q
    WHERE cum*100 >= total*qn AND (cum-n)*100 < total*qn
"""


def q_hdr_global_p99_1h(spark, sf_dir):
    """Cluster-wide percentile per hour — the cross-SERIES sketch merge
    (the monitoring query "global p99 this hour"): per-series 1h HDR
    cells merged over the series axis (hdr_merge with keys=[]), then
    rank read-back.  Proves the sketch is mergeable along BOTH axes —
    hdr_1d_chained covers time, this covers series — from the same
    committed per-series tier, no raw re-scan."""
    from .operators.hdrsketch import hdr_merge, hdr_quantile, hdr_rollup

    s = events_samples(spark, sf_dir, cents=True)
    cells = hdr_rollup(s, TIERS["1h"])
    glob = hdr_merge(cells, TIERS["1h"], keys=[])  # series-axis merge
    parts = []
    for qn, lab in [(50, "p50"), (99, "p99")]:
        e = hdr_quantile(glob, qn, 100, keys=[])
        parts.append(
            e.select(
                F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
                F.col("total").cast("long").alias("total"),
                "est",
            ).withColumn("qlab", F.lit(lab))
        )
    return parts[0].unionByName(parts[1])


SQL_HDR_GLOBAL_P99 = """
    WITH c AS (
      SELECT (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
             least(CAST(floor(value*100 + 0.5) AS BIGINT),
                   {MAX_SCALED}) AS v  -- 2^57-1 saturation, see hdrsketch._idx_sql
      FROM events
    ), cells AS (
      SELECT bucket_epoch,
             CASE WHEN v <= 0 THEN CAST(-1 AS BIGINT)
                  ELSE (length(bin(v))-1)*16
                       + ((v*16) // (CAST(1 AS BIGINT) << (length(bin(v))-1))
                          - 16)
             END AS idx,
             count(*) AS n
      FROM c GROUP BY 1, 2
    ), cum AS (
      SELECT *,
             sum(n) OVER (PARTITION BY bucket_epoch ORDER BY idx) AS cum,
             sum(n) OVER (PARTITION BY bucket_epoch) AS total
      FROM cells
    ), q AS (SELECT 50 AS qn, 'p50' AS qlab UNION ALL SELECT 99, 'p99')
    SELECT bucket_epoch, total::BIGINT AS total,
           CASE WHEN idx < 0 THEN 0.0 ELSE
             ((CAST(1 AS BIGINT) << CAST(idx // 16 AS INT))
              * (2*(16 + idx % 16) + 1))::DOUBLE / 3200.0 END AS est,
           qlab
    FROM cum, q
    WHERE cum*100 >= total*qn AND (cum-n)*100 < total*qn
""".replace("{MAX_SCALED}", str(MAX_SCALED))


def q_serve_range_30d(spark, sf_dir):
    """The dashboard serve path through the driver gate: a 30-day range
    at maxDataPoints=200 routes to the 1h tier (coarsest that still
    resolves >= 200 buckets), clips, and M4-pixels the hourly averages
    into 4h pixels (<= 180 x 4 witnesses) — rollup.serve_range.  Avgs
    are exact-int ratios; witness values round by the identical floor
    expression per engine, ties broken by the unique bucket index.
    """
    from .operators.rollup import serve_range

    pts = events_samples(spark, sf_dir, cents=True)
    tiers = rollup_all_tiers(pts)
    name, px, out = serve_range(
        tiers,
        {k: v for k, v in TIERS.items()},
        t0_epoch=1_704_067_200,  # 2024-01-01
        t1_epoch=1_706_659_200,  # 2024-01-31
        max_points=200,
    )
    assert name == "1h" and px == 14_400  # deterministic routing
    return out.select(
        "series_id",
        "bucket_epoch",
        "n",
        *[
            c
            for tag in ("first", "last", "min", "max")
            for c in (
                F.col(f"t_{tag}"),
                _r(F.col(f"v_{tag}") / 100.0, 6).alias(f"v_{tag}"),
            )
        ],
    ).withColumn("tier", F.lit(name)).withColumn(
        "px_s", F.lit(px).cast("long")
    )


SQL_SERVE_RANGE = """
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
             floor(value*100 + 0.5) AS v
      FROM events
    ),
    h AS (SELECT series_id, be, sum(v)/count(*) AS av
          FROM c WHERE be >= 1704067200 AND be < 1706659200
          GROUP BY 1, 2),
    r AS (
      SELECT series_id, (be // 14400) * 14400 AS bucket_epoch, be, av,
             be // 3600 AS seq,
             row_number() OVER (PARTITION BY series_id, be // 14400
                                ORDER BY be // 3600) AS rf,
             row_number() OVER (PARTITION BY series_id, be // 14400
                                ORDER BY be // 3600 DESC) AS rl,
             row_number() OVER (PARTITION BY series_id, be // 14400
                                ORDER BY av, be // 3600) AS rmin,
             row_number() OVER (PARTITION BY series_id, be // 14400
                                ORDER BY av DESC, be // 3600 DESC) AS rmax
      FROM h
    )
    SELECT series_id, CAST(bucket_epoch AS BIGINT) AS bucket_epoch,
           count(*) AS n,
           max(CASE WHEN rf = 1 THEN be END) AS t_first,
           floor(max(CASE WHEN rf = 1 THEN av END) / 100.0 * 1000000.0
                 + 0.5) / 1000000.0 AS v_first,
           max(CASE WHEN rl = 1 THEN be END) AS t_last,
           floor(max(CASE WHEN rl = 1 THEN av END) / 100.0 * 1000000.0
                 + 0.5) / 1000000.0 AS v_last,
           max(CASE WHEN rmin = 1 THEN be END) AS t_min,
           floor(max(CASE WHEN rmin = 1 THEN av END) / 100.0 * 1000000.0
                 + 0.5) / 1000000.0 AS v_min,
           max(CASE WHEN rmax = 1 THEN be END) AS t_max,
           floor(max(CASE WHEN rmax = 1 THEN av END) / 100.0 * 1000000.0
                 + 0.5) / 1000000.0 AS v_max,
           '1h' AS tier, CAST(14400 AS BIGINT) AS px_s
    FROM r GROUP BY 1, 2
"""


def q_hdr_1d_chained(spark, sf_dir):
    """p90 per (series, 1d) where the 1d sketch is MERGED from the 1h
    sketch cells (hdr_merge) — oracle builds 1d cells straight from raw;
    equality certifies tier-merge losslessness through the driver gate."""
    from .operators.hdrsketch import hdr_merge, hdr_quantile, hdr_rollup

    s = events_samples(spark, sf_dir, cents=True)
    t1h = hdr_rollup(s, TIERS["1h"])
    t1d = hdr_merge(t1h, TIERS["1d"])
    return _hdr_out(hdr_quantile(t1d, 90, 100))


SQL_HDR_1D_CHAINED = _hdr_cells_sql(86400) + f"""
    SELECT series_id, bucket_epoch, total::BIGINT AS total,
           {_hdr_est_sql()} AS est
    FROM cum
    WHERE cum*100 >= total*90 AND (cum-n)*100 < total*90
"""


# ---------------------------------------------------------------------------
# recrawl change detection (url content-change time series)
# ---------------------------------------------------------------------------

def q_recrawl_change_rate(spark, sf_dir):
    """Per-source daily content-change rate across recrawls: consecutive
    crawls of the same url compared by SimHash Hamming distance
    (recrawl.py).  The recrawl stream is synthesized deterministically
    from documents: url = doc_id div 4, crawl day = doc_id mod 4."""
    from .operators.recrawl import change_rate, recrawl_deltas

    docs = _read(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    sh = spark.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents
        )
        SELECT doc_id, CAST({_simhash_bits_sql("spark")} AS BIGINT) AS simhash
        FROM toks WHERE tok <> '' GROUP BY doc_id
        """
    )
    pages = docs.join(sh, "doc_id").select(
        F.floor(F.col("doc_id") / 4).cast("long").alias("url"),
        F.timestamp_seconds(
            (F.lit(1704067200) + (F.col("doc_id") % 4) * 86400).cast("long")
        ).alias("warc_ts"),
        "source",
        "simhash",
    )
    out = change_rate(recrawl_deltas(pages), 86400, keys=["source"])
    return out.select(
        "source",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        "pairs",
        "changed",
        "sum_hamming",
    )


SQL_RECRAWL_CHANGE_RATE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), sh AS (
      SELECT doc_id, CAST({_simhash_bits_sql("duckdb")} AS BIGINT) AS sim
      FROM toks WHERE tok <> '' GROUP BY doc_id
    ), pg AS (
      SELECT d.doc_id // 4 AS url, d.doc_id % 4 AS seq, d.source, sh.sim
      FROM documents d JOIN sh ON d.doc_id = sh.doc_id
    ), dl AS (
      SELECT url, seq, source, sim,
             lag(sim) OVER (PARTITION BY url ORDER BY seq) AS prev
      FROM pg
    )
    SELECT source,
           (1704067200 + seq*86400)::BIGINT AS bucket_epoch,
           (count(*) FILTER (WHERE prev IS NOT NULL))::BIGINT AS pairs,
           (count(*) FILTER (WHERE prev IS NOT NULL
              AND bit_count(CAST(xor(sim, prev) AS BIGINT)) > 3))::BIGINT
             AS changed,
           coalesce(sum(CASE WHEN prev IS NOT NULL
              THEN bit_count(CAST(xor(sim, prev) AS BIGINT)) END), 0)::BIGINT
             AS sum_hamming
    FROM dl GROUP BY 1, 2
    HAVING count(*) FILTER (WHERE prev IS NOT NULL) > 0
"""


# ---------------------------------------------------------------------------
# triangle counting over the link graph
# ---------------------------------------------------------------------------

def q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts over the deterministic LCG link graph
    (linkgraph.triangle_counts — degree-ordered wedge join, O(E^1.5)
    fan-out bound).  Oracle counts each {a<b<c} triangle once via the
    ordered three-way self-join and credits all three corners."""
    from .operators.linkgraph import derive_links, triangle_counts

    docs = _read(spark, sf_dir, "documents")
    edges = derive_links(docs)
    return triangle_counts(edges)


SQL_TRIANGLE_COUNTS = """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    links AS (SELECT doc_id AS src,
                     (doc_id*1103515245 + j.j*12345 + 7) % (SELECT n FROM nn)
                       AS dst
              FROM documents CROSS JOIN (VALUES (0),(1),(2)) AS j(j)),
    e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM links WHERE src <> dst),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, count(*)::BIGINT AS triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY 1
"""


def q_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient over the LCG link graph
    (linkgraph.clustering_coefficient): per node degree, triangles, and
    cc = 2*tri/(deg*(deg-1)) — one IEEE division of exact integers."""
    from .operators.linkgraph import clustering_coefficient, derive_links

    docs = _read(spark, sf_dir, "documents")
    return clustering_coefficient(derive_links(docs))


SQL_CLUSTERING_COEFFICIENT = """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    links AS (SELECT doc_id AS src,
                     (doc_id*1103515245 + j.j*12345 + 7) % (SELECT n FROM nn)
                       AS dst
              FROM documents CROSS JOIN (VALUES (0),(1),(2)) AS j(j)),
    e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM links WHERE src <> dst),
    deg AS (
      SELECT node, count(*)::BIGINT AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY 1
    ),
    tri AS (
      SELECT node, count(*)::BIGINT AS triangles FROM (
        SELECT unnest([e1.u, e1.v, e2.v]) AS node
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      ) GROUP BY 1
    )
    SELECT deg.node, deg.deg,
           coalesce(tri.triangles, 0)::BIGINT AS triangles,
           CAST(2*coalesce(tri.triangles, 0) AS DOUBLE)
             / CAST(deg.deg*(deg.deg-1) AS DOUBLE) AS cc
    FROM deg LEFT JOIN tri USING (node)
    WHERE deg.deg >= 2
"""


# ---------------------------------------------------------------------------
# cross-tier consistency audit
# ---------------------------------------------------------------------------

def q_tier_consistency_audit(spark, sf_dir):
    """Audit the 1d tier against a recompute from the 1h tier
    (rollup.audit_tier_consistency): per-series buckets checked and
    mismatched.  The oracle independently derives the bucket counts from
    raw and asserts zero mismatches; the corruption-detection semantics
    (a flipped sum localizes to exactly one bucket) are pytest-proven."""
    from .operators.rollup import audit_tier_consistency

    pts = events_samples(spark, sf_dir, cents=True)
    t1h = rollup_points(pts, TIERS["1h"])
    t1d = rollup_tier(t1h, TIERS["1d"])
    return audit_tier_consistency(t1h, t1d, TIERS["1d"]).select(
        "series_id", "n_buckets", "n_mismatch"
    )


SQL_TIER_CONSISTENCY_AUDIT = """
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts)/86400)*86400)::BIGINT AS b
      FROM events
    )
    SELECT series_id, count(DISTINCT b)::BIGINT AS n_buckets,
           0::BIGINT AS n_mismatch
    FROM c GROUP BY 1
"""


# ---------------------------------------------------------------------------
# offset comparison (PromQL offset / week-over-week)
# ---------------------------------------------------------------------------

def q_offset_compare_1d(spark, sf_dir):
    """Day buckets vs the same series 7 days earlier
    (tsanalytics.offset_compare): gap-correct self-join on the shifted
    bucket key, integer cnt/sum deltas.  NULL prev columns mark buckets
    with no 7d-earlier baseline."""
    from .operators.tsanalytics import offset_compare

    pts = events_samples(spark, sf_dir, cents=True)
    t1d = rollup_points(pts, TIERS["1d"])
    out = offset_compare(t1d, 7 * 86400, value_cols=["cnt", "sum"])
    return out.select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("prev_cnt").cast("long").alias("prev_cnt"),
        F.col("d_cnt").cast("long").alias("d_cnt"),
        F.col("sum").cast("long").alias("sum_c"),
        F.col("prev_sum").cast("long").alias("prev_sum_c"),
        F.col("d_sum").cast("long").alias("d_sum_c"),
    )


SQL_OFFSET_COMPARE_1D = """
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts)/86400)*86400)::BIGINT AS bucket_epoch,
             floor(value*100 + 0.5) AS v
      FROM events
    ), t AS (
      SELECT series_id, bucket_epoch,
             count(*)::BIGINT AS cnt, sum(v)::BIGINT AS sum_c
      FROM c GROUP BY 1, 2
    )
    SELECT a.series_id, a.bucket_epoch, a.cnt,
           b.cnt AS prev_cnt, (a.cnt - b.cnt)::BIGINT AS d_cnt,
           a.sum_c, b.sum_c AS prev_sum_c,
           (a.sum_c - b.sum_c)::BIGINT AS d_sum_c
    FROM t a LEFT JOIN t b
      ON a.series_id = b.series_id
     AND a.bucket_epoch = b.bucket_epoch + 7*86400
"""


# ---------------------------------------------------------------------------
# lateness profile (watermark tuning) — HDR sketch composition
# ---------------------------------------------------------------------------

def q_lateness_profile_1h(spark, sf_dir):
    """Per-hour ingestion-lateness profile — the signal that tunes
    ``withWatermark`` and how far back late batches reach into the tier
    store (stream_tier.apply_batch_once): p99 lateness
    from the HDR sketch (hdrsketch.py reused at scale=1, per-bucket
    keys), plus exact max and count-beyond-600s counters.  Ingest delay
    is synthesized deterministically (event_id * 2654435761 mod 7200
    seconds) since the test tables carry no ingest clock."""
    from .operators.hdrsketch import hdr_quantile, hdr_rollup

    ev = _read(spark, sf_dir, "events")
    late = ev.select(
        "ts",
        ((F.col("event_id") * F.lit(2654435761)) % 7200).alias("late_s"),
    )
    cells = hdr_rollup(late, TIERS["1h"], keys=[], value_col="late_s")
    p99 = hdr_quantile(cells, 99, 100, keys=[], scale=1, out_col="p99_late")
    exact = (
        late.withColumn("bucket_ts", _bucket_ts_col(F.col("ts"), 3600))
        .groupBy("bucket_ts")
        .agg(
            F.max("late_s").cast("long").alias("max_late"),
            F.sum((F.col("late_s") > 600).cast("long")).alias("n_gt_600"),
        )
    )
    return p99.join(exact, "bucket_ts").select(
        F.unix_timestamp("bucket_ts").alias("bucket_epoch"),
        F.col("total").cast("long").alias("total"),
        "p99_late",
        "max_late",
        "n_gt_600",
    )


def _bucket_ts_col(ts, sec: int):
    return F.timestamp_seconds(
        (F.floor(F.unix_timestamp(ts) / sec) * sec).cast("long")
    )


SQL_LATENESS_PROFILE_1H = """
    WITH l AS (
      SELECT (floor(epoch(ts)/3600)*3600)::BIGINT AS bucket_epoch,
             (event_id * 2654435761) % 7200 AS v
      FROM events
    ), cells AS (
      SELECT bucket_epoch,
             CASE WHEN v <= 0 THEN CAST(-1 AS BIGINT)
                  ELSE (length(bin(v))-1)*16
                       + ((v*16) // (CAST(1 AS BIGINT) << (length(bin(v))-1))
                          - 16)
             END AS idx,
             count(*) AS n
      FROM l GROUP BY 1, 2
    ), cum AS (
      SELECT *,
             sum(n) OVER (PARTITION BY bucket_epoch ORDER BY idx) AS cum,
             sum(n) OVER (PARTITION BY bucket_epoch) AS total
      FROM cells
    ), q AS (
      SELECT bucket_epoch, total::BIGINT AS total,
             CASE WHEN idx < 0 THEN 0.0 ELSE
               ((CAST(1 AS BIGINT) << CAST(idx // 16 AS INT))
                * (2*(16 + idx % 16) + 1))::DOUBLE / 32.0 END AS p99_late
      FROM cum
      WHERE cum*100 >= total*99 AND (cum-n)*100 < total*99
    ), e AS (
      SELECT bucket_epoch, max(v)::BIGINT AS max_late,
             (count(*) FILTER (WHERE v > 600))::BIGINT AS n_gt_600
      FROM l GROUP BY 1
    )
    SELECT q.bucket_epoch, q.total, q.p99_late, e.max_late, e.n_gt_600
    FROM q JOIN e USING (bucket_epoch)
"""


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

def q_pmi_bigrams(spark, sf_dir):
    """Top-50 adjacent-token collocations by PMI (text.pmi_bigrams):
    ranked by the exact integer ratio c_ab*N^2/(M*c_a*c_b) — the same
    order as log-PMI without libm, so the double score is bit-identical
    cross-engine.  min_count=5 prunes the hapax tail pre-join."""
    from .operators.text import pmi_bigrams

    docs = _read(spark, sf_dir, "documents")
    out = pmi_bigrams(docs, min_count=5, k=50)
    return out.select(
        "w1", "w2", "c_ab", "c_a", "c_b", _r(F.col("pmi_ratio"), 6).alias("pmi_ratio")
    )


SQL_PMI_BIGRAMS = """
    WITH t AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents
    ), uni AS (
      SELECT u.w AS w, count(*) AS c FROM t, unnest(l) AS u(w) GROUP BY 1
    ), nt AS (
      SELECT sum(c)::BIGINT AS n_uni FROM uni
    ), bi AS (
      SELECT s.l[g.i] AS w1, s.l[g.i + 1] AS w2, count(*) AS c_ab
      FROM (SELECT l FROM t WHERE len(l) >= 2) s,
           unnest(generate_series(1, len(s.l) - 1)) AS g(i)
      GROUP BY 1, 2
    ), mt AS (
      SELECT sum(c_ab)::BIGINT AS m_bi FROM bi
    ), scored AS (
      SELECT bi.w1, bi.w2, bi.c_ab::BIGINT AS c_ab,
             ua.c::BIGINT AS c_a, ub.c::BIGINT AS c_b,
             CAST(bi.c_ab AS DOUBLE) * CAST(nt.n_uni AS DOUBLE)
               * CAST(nt.n_uni AS DOUBLE)
               / (CAST(mt.m_bi AS DOUBLE) * CAST(ua.c AS DOUBLE)
                  * CAST(ub.c AS DOUBLE)) AS score
      FROM bi
      CROSS JOIN nt CROSS JOIN mt
      JOIN uni ua ON bi.w1 = ua.w
      JOIN uni ub ON bi.w2 = ub.w
      WHERE bi.c_ab >= 5
    )
    SELECT w1, w2, c_ab, c_a, c_b,
           floor(score * 1000000.0 + 0.5) / 1000000.0 AS pmi_ratio
    FROM scored
    ORDER BY score DESC, w1, w2 LIMIT 50
"""


# ---------------------------------------------------------------------------
# html -> text extraction invariant
# ---------------------------------------------------------------------------

def q_extract_text_invariant(spark, sf_dir):
    """Per-source byte-identity audit of the html->text extraction stage
    (extract.py): html bytes are synthesized from each document's text
    with the corpus wrapper, re-extracted, and compared byte-for-byte —
    the input_hint's per-row invariant, certified through the driver
    gate (n_rows == n_identical and matching byte volumes)."""
    from .operators.extract import verify_text_invariant

    docs = _read(spark, sf_dir, "documents").select(
        "source",
        "text",
        F.encode(
            F.concat(F.lit("<html>"), F.col("text"), F.lit("</html>")), "UTF-8"
        ).alias("html"),
    )
    return verify_text_invariant(docs, keys=["source"])


SQL_EXTRACT_TEXT_INVARIANT = r"""
    WITH p AS (
      SELECT source, text,
             regexp_extract(
               decode(encode('<html>' || text || '</html>')),
               '(?s)^<html>(.*)</html>$', 1) AS ext
      FROM documents
    )
    SELECT source,
           count(*) AS n_rows,
           (count(*) FILTER (WHERE ext IS NOT NULL
              AND encode(ext) = encode(text)))::BIGINT AS n_identical,
           (sum(octet_length(encode(ext))))::BIGINT AS ext_bytes,
           (sum(octet_length(encode(text))))::BIGINT AS txt_bytes
    FROM p GROUP BY 1
"""


# ---------------------------------------------------------------------------
# swinging-door trimming downsample
# ---------------------------------------------------------------------------

def q_sdt_downsample_events(spark, sf_dir):
    """Per-series swinging-door archive stats (sdt.py): the historian
    lossy downsample with a 2000-cent reconstruction tolerance over the
    seq clock.  max(seq) of the kept subset doubles as the input length
    because SDT always archives the last point.  Oracle is the VALUES
    golden from the same numpy kernel run single-process
    (tools/gen_goldens.py:golden_sdt_events) — distributed == local."""
    from .operators.sdt import sdt_downsample

    s = events_samples(spark, sf_dir, cents=True)
    kept = sdt_downsample(s, dev=2000.0, order_col="seq")
    return kept.groupBy("series_id").agg(
        F.max("seq").cast("long").alias("n_in"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("value").cast("long").alias("sum_kept_c"),
        F.sum(F.col("seq") * (F.col("value").cast("long") % 1009))
        .cast("long")
        .alias("pos_check"),
    )


# ---------------------------------------------------------------------------
# url canonicalization dedup
# ---------------------------------------------------------------------------

def q_url_canonical_dedup(spark, sf_dir):
    """Group documents by canonical URL (urlnorm.py): five deterministic
    messy spellings per logical page (case, default port, www, tracking
    params, fragments, param order, trailing slash) collapse to two
    canonical groups.  The oracle re-implements the full canonicalization
    in DuckDB SQL, pinning the rules engine-independently."""
    from .operators.urlnorm import canonicalize_url

    docs = _read(spark, sf_dir, "documents")
    base = F.floor(F.col("doc_id") / 5).cast("long").cast("string")
    var = F.col("doc_id") % 5
    # host derives from the page (base), not the row, so the five messy
    # spellings of one logical page really share a domain and collapse
    src = F.concat(F.lit("src"), (F.floor(F.col("doc_id") / 5) % 20).cast("string"))
    u = (
        F.when(var == 0, F.concat(F.lit("http://www."), src, F.lit(".com/p/"), base))
        .when(
            var == 1,
            F.concat(F.lit("HTTP://WWW."), F.upper(src), F.lit(".COM:80/p/"), base),
        )
        .when(
            var == 2,
            F.concat(
                F.lit("http://"), src, F.lit(".com/p/"), base,
                F.lit("/?utm_source=feed&fbclid=z"),
            ),
        )
        .when(
            var == 3,
            F.concat(
                F.lit("http://"), src, F.lit(".com/p/"), base, F.lit("?b=2&a=1#frag")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), src, F.lit(".com:80/p/"), base, F.lit("/?a=1&b=2")
            )
        )
    )
    return (
        docs.select(canonicalize_url(u).alias("canonical"), "doc_id")
        .groupBy("canonical")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


SQL_URL_CANONICAL = r"""
    WITH d AS (
      SELECT doc_id, 'src' || ((doc_id//5) % 20) AS source FROM documents
    ), u AS (
      SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'http://www.' || source || '.com/p/' || (doc_id//5)
          WHEN 1 THEN 'HTTP://WWW.' || upper(source) || '.COM:80/p/' || (doc_id//5)
          WHEN 2 THEN 'http://' || source || '.com/p/' || (doc_id//5)
                      || '/?utm_source=feed&fbclid=z'
          WHEN 3 THEN 'http://' || source || '.com/p/' || (doc_id//5)
                      || '?b=2&a=1#frag'
          ELSE 'http://' || source || '.com:80/p/' || (doc_id//5) || '/?a=1&b=2'
        END AS url
      FROM d
    ), parts AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
        regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1) AS hostport,
        regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS raw_path,
        -- DuckDB regexp_extract -> NULL on no match (Spark returns '')
        coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS qs
      FROM u
    ), norm AS (
      SELECT doc_id, scheme,
        regexp_replace(regexp_extract(lower(hostport), '^([^:]*)', 1),
                       '^www\.', '') AS host,
        coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
        CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
             ELSE regexp_replace(raw_path, '/+$', '') END AS path,
        -- array_to_string([]) is NULL in DuckDB ('' in Spark): coalesce
        coalesce(array_to_string(list_sort(list_filter(string_split(qs, '&'),
          x -> x <> '' AND NOT starts_with(x, 'utm_')
               AND NOT starts_with(x, 'gclid')
               AND NOT starts_with(x, 'fbclid'))), '&'), '') AS qkeep
      FROM parts
    )
    SELECT scheme || '://' || host
           || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                     OR (scheme = 'https' AND port = '443')
                   THEN '' ELSE ':' || port END
           || path
           || CASE WHEN qkeep = '' THEN '' ELSE '?' || qkeep END AS canonical,
           count(*)::BIGINT AS n_docs,
           min(doc_id) AS first_doc
    FROM norm GROUP BY 1
"""


# ---------------------------------------------------------------------------
# incremental snapshot read (sources/manifest.py read_incremental)
# ---------------------------------------------------------------------------

def q_incremental_snapshot_read(spark, sf_dir):
    """Incremental-consumption read through the driver gate: the 1h cents
    tier is committed to a manifest-pinned store in THREE date-range
    appends, then ``read_incremental(s1 -> s3)`` pulls exactly the rows
    of commits 2+3 (Iceberg's incremental append scan — work ∝ the
    delta's files, never the store).  The oracle recomputes commits 2+3
    directly: the tier restricted to be >= the first commit's upper
    boundary (epoch 1704844800 = 2024-01-10T00Z; buckets are
    3600-aligned so the boundary is exact in both engines)."""
    import shutil
    import tempfile

    from .sources.manifest import commit_append, read_incremental

    cut1, cut2 = 1_704_844_800, 1_705_708_800  # 2024-01-10, 2024-01-20 UTC
    pts = events_samples(spark, sf_dir, cents=True)
    tier = rollup_points(pts, TIERS["1h"]).select(
        "series_id",
        F.unix_timestamp("bucket_ts").alias("be"),
        F.col("cnt"),
        F.col("sum").cast("long").alias("sum_c"),
        F.to_date(F.col("bucket_ts")).cast("string").alias("bucket_date"),
    )
    store = tempfile.mkdtemp(prefix="afspark_inc_")
    try:
        s1 = commit_append(
            spark, tier.filter(F.col("be") < cut1), store, ["bucket_date"]
        )
        commit_append(
            spark,
            tier.filter((F.col("be") >= cut1) & (F.col("be") < cut2)),
            store,
            ["bucket_date"],
        )
        s3 = commit_append(
            spark, tier.filter(F.col("be") >= cut2), store, ["bucket_date"]
        )
        delta = read_incremental(spark, store, s1, s3)
        out = (
            delta.groupBy("series_id")
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum("cnt").cast("long").alias("n_points"),
                F.sum("sum_c").cast("long").alias("sum_c"),
            )
            .localCheckpoint()  # materialize before the store vanishes
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return out


SQL_INCREMENTAL_READ = """
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS series_id,
             (floor(epoch(ts)/3600)*3600)::BIGINT AS be,
             floor(value*100 + 0.5) AS v
      FROM events
    ), r AS (
      SELECT series_id, be, count(*) AS cnt, CAST(sum(v) AS BIGINT) AS sum_c
      FROM c GROUP BY 1, 2
    )
    SELECT series_id,
           count(*)::BIGINT AS n_buckets,
           sum(cnt)::BIGINT AS n_points,
           sum(sum_c)::BIGINT AS sum_c
    FROM r WHERE be >= 1704844800 GROUP BY 1
"""


# ---------------------------------------------------------------------------
# z-order clustering (sources/zorder.py)
# ---------------------------------------------------------------------------

def q_zorder_key_check(spark, sf_dir):
    """Morton z-key over quantized (user bucket, minute bucket) for every
    event, grouped by key — pins the Catalyst bit-spread cascade
    (sources/zorder.py zvalue) bit-for-bit against DuckDB's integer ops."""
    from .sources.zorder import zvalue

    ev = _read(spark, sf_dir, "events")
    a = (F.col("user_id") % 64).cast("long")
    b = (F.floor(F.unix_timestamp("ts") / 60) % 64).cast("long")
    return (
        ev.select(zvalue(a, b, 6).alias("zkey"), "event_id")
        .groupBy("zkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("event_id").cast("long").alias("id_check"),
        )
    )


SQL_ZORDER_KEY = r"""
    WITH e AS (
      SELECT event_id,
             (user_id % 64)::BIGINT AS a,
             (floor(epoch(ts)/60))::BIGINT % 64 AS b
      FROM events
    ), s1 AS (
      SELECT event_id, (a | (a<<8)) & 16711935 AS xa,
                       (b | (b<<8)) & 16711935 AS xb FROM e
    ), s2 AS (
      SELECT event_id, (xa | (xa<<4)) & 252645135 AS xa,
                       (xb | (xb<<4)) & 252645135 AS xb FROM s1
    ), s3 AS (
      SELECT event_id, (xa | (xa<<2)) & 858993459 AS xa,
                       (xb | (xb<<2)) & 858993459 AS xb FROM s2
    ), s4 AS (
      SELECT event_id, (xa | (xa<<1)) & 1431655765 AS xa,
                       (xb | (xb<<1)) & 1431655765 AS xb FROM s3
    )
    SELECT (xa | (xb<<1))::BIGINT AS zkey,
           count(*)::BIGINT AS cnt,
           sum(event_id)::BIGINT AS id_check
    FROM s4 GROUP BY 1
"""


def q_zorder_envelope_stats(spark, sf_dir):
    """Per-z-range-slice (the file grain cluster_zorder writes) min/max
    envelopes on BOTH dimensions plus pruning verdict for a fixed box
    predicate (b in [16, 31]) — proves engine-independently that
    contiguous z ranges have tight two-dimensional envelopes, i.e. that
    footer min/max pruning works on either dimension after clustering."""
    from .sources.zorder import zvalue

    ev = _read(spark, sf_dir, "events")
    a = (F.col("user_id") % 64).cast("long")
    b = (F.floor(F.unix_timestamp("ts") / 60) % 64).cast("long")
    z = zvalue(a, b, 6)
    return (
        ev.select(
            F.shiftright(z, 6).alias("z_slice"),
            a.alias("a"),
            b.alias("b"),
        )
        .groupBy("z_slice")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
            ((F.max("b") >= 16) & (F.min("b") <= 31)).cast("int").alias("survives_box"),
        )
    )


SQL_ZORDER_ENVELOPE = r"""
    WITH e AS (
      SELECT (user_id % 64)::BIGINT AS a,
             (floor(epoch(ts)/60))::BIGINT % 64 AS b
      FROM events
    ), s1 AS (
      SELECT a, b, (a | (a<<8)) & 16711935 AS xa,
                   (b | (b<<8)) & 16711935 AS xb FROM e
    ), s2 AS (
      SELECT a, b, (xa | (xa<<4)) & 252645135 AS xa,
                   (xb | (xb<<4)) & 252645135 AS xb FROM s1
    ), s3 AS (
      SELECT a, b, (xa | (xa<<2)) & 858993459 AS xa,
                   (xb | (xb<<2)) & 858993459 AS xb FROM s2
    ), s4 AS (
      SELECT a, b, (xa | (xa<<1)) & 1431655765 AS xa,
                   (xb | (xb<<1)) & 1431655765 AS xb FROM s3
    ), zk AS (
      SELECT a, b, (xa | (xb<<1)) >> 6 AS z_slice FROM s4
    )
    SELECT z_slice::BIGINT AS z_slice,
           count(*)::BIGINT AS n,
           min(a) AS min_a, max(a) AS max_a,
           min(b) AS min_b, max(b) AS max_b,
           (CASE WHEN max(b) >= 16 AND min(b) <= 31 THEN 1 ELSE 0 END)::INT
             AS survives_box
    FROM zk GROUP BY 1
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (operators/text.py decontaminate)
# ---------------------------------------------------------------------------

def q_decontaminate(spark, sf_dir):
    """GPT-3-style 13-gram benchmark decontamination (text.py
    decontaminate): the benchmark is synthesized deterministically from
    the corpus itself — a 13-token slice (tokens 4..16) of every
    doc_id%7==0 document (planted contamination: those docs MUST flag)
    plus a unique 13-token example per doc_id%7==3 doc that matches
    nothing (clean benchmark mass).  Broadcast gram-set join; the oracle
    recomputes the full canonicalize->gram->md5->overlap pipe in DuckDB."""
    from .operators.text import decontaminate

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    ts = F.split(norm, " ")
    planted = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(ts, 4, 13)).alias("text"),
    )
    clean = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 10000).alias("bench_id"),
        F.concat(
            F.lit("zz"), F.col("doc_id").cast("string"),
            F.lit(" a1 b2 c3 d4 e5 f6 g7 h8 i9 j0 k1 l2"),
        ).alias("text"),
    )
    bench = planted.unionByName(clean)
    out = decontaminate(docs, bench, n=13, hash_mode="md5")
    return out.select(
        "doc_id",
        "n_windows",
        "n_contaminated",
        _r(F.col("contamination_frac"), 6).alias("contamination_frac"),
        "n_bench_examples_hit",
    )


SQL_DECONTAMINATE = """
    WITH nd AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 200
    ), dts AS (SELECT doc_id, string_split(t, ' ') AS ts FROM nd),
    bench AS (
      SELECT doc_id AS bench_id, array_to_string(ts[4:16], ' ') AS bt
      FROM dts WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 10000,
             'zz' || CAST(doc_id AS VARCHAR)
               || ' a1 b2 c3 d4 e5 f6 g7 h8 i9 j0 k1 l2'
      FROM dts WHERE doc_id % 7 = 3
    ), bts AS (
      SELECT bench_id,
             string_split(trim(regexp_replace(lower(bt), '[^a-z0-9]+', ' ',
                                              'g')), ' ') AS ts
      FROM bench
    ), bg AS (
      SELECT DISTINCT bench_id, md5(array_to_string(ts[i:i+12], ' ')) AS fp
      FROM bts, unnest(generate_series(1, len(ts) - 12)) AS u(i)
      WHERE len(ts) >= 13
    ), dw AS (
      SELECT doc_id AS id, i AS pos, md5(array_to_string(ts[i:i+12], ' ')) AS fp
      FROM dts, unnest(generate_series(1, len(ts) - 12)) AS u(i)
      WHERE len(ts) >= 13
    ), hits AS (
      SELECT id, count(DISTINCT pos) AS n_contaminated,
             count(DISTINCT bench_id) AS n_bench_examples_hit
      FROM dw JOIN bg USING (fp) GROUP BY id
    ), base AS (
      SELECT doc_id AS id, greatest(len(ts) - 12, 0)::BIGINT AS n_windows
      FROM dts
    )
    SELECT id AS doc_id, n_windows,
           COALESCE(n_contaminated, 0)::BIGINT AS n_contaminated,
           CASE WHEN n_windows > 0
                THEN floor((COALESCE(n_contaminated, 0) / n_windows)
                           * 1000000.0 + 0.5) / 1000000.0
                ELSE 0.0 END AS contamination_frac,
           COALESCE(n_bench_examples_hit, 0)::BIGINT AS n_bench_examples_hit
    FROM base LEFT JOIN hits USING (id)
"""


# ---------------------------------------------------------------------------
# near-dup cluster survivor selection (operators/dedup.py cluster_survivors)
# ---------------------------------------------------------------------------

def q_neardup_survivors(spark, sf_dir):
    """Fuzzy-dedup acting step: the same CC clusters as neardup_clusters,
    then ONE survivor per cluster — max quality_features score, ties to
    min doc_id; every doc outside the pair graph passes through as a
    singleton.  Oracle extends the recursive-CTE component walk with the
    quality argmax + singleton union."""
    from .operators.dedup import cluster_survivors, connected_components
    from .operators.text import quality_features

    docs = _read(spark, sf_dir, "documents")
    pairs = q_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    clusters = connected_components(pairs, id_a="doc_a", id_b="doc_b")
    scored = docs.join(
        quality_features(docs).select("doc_id", "quality"), "doc_id"
    )
    out = cluster_survivors(scored, clusters, score_col="quality")
    return out.select("doc_id", "cluster_id", "cluster_size")


SQL_NEARDUP_SURVIVORS = f"""
    WITH RECURSIVE sh AS (
      SELECT DISTINCT doc_id, substr(text, i, {_SHINGLE_LEN}) AS sh
      FROM documents,
           unnest(generate_series(1, length(text) - {_SHINGLE_LEN - 1})) AS t(i)
      WHERE doc_id % 5 = 0
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
                   JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE i.i*1.0/(sa.sz + sb.sz - i.i) >= 0.1
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), walk(id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.lbl FROM edges e JOIN walk w ON w.id = e.dst
    ), comp AS (
      SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id
    ), q AS (
      SELECT doc_id,
             least(length(text)/500.0, 1.0)*0.5
             + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))
                      *1.0/length(text))*0.3
             + least((length(regexp_replace(text, '[^ ]', '', 'g')) + 1)
                     /100.0, 1.0)*0.2 AS quality
      FROM documents
    ), labeled AS (
      SELECT c.id AS doc_id, c.cluster_id, q.quality
      FROM comp c JOIN q ON q.doc_id = c.id
    ), stats AS (
      SELECT cluster_id, max(quality) AS smax,
             count(*)::BIGINT AS cluster_size
      FROM labeled GROUP BY 1
    ), best AS (
      SELECT l.cluster_id, s.cluster_size, min(l.doc_id) AS doc_id
      FROM labeled l JOIN stats s USING (cluster_id)
      WHERE l.quality = s.smax
      GROUP BY 1, 2
    )
    SELECT doc_id, cluster_id, cluster_size FROM best
    UNION ALL
    SELECT d.doc_id, d.doc_id AS cluster_id, 1::BIGINT AS cluster_size
    FROM documents d ANTI JOIN comp ON comp.id = d.doc_id
"""


# ---------------------------------------------------------------------------
# data-mixture weights + rate-based mixture sampling (operators/text.py)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 50_000  # token budget for the mixture rows (fixed, sf-agnostic)
_MANIFEST_BUDGET = 30_000  # token budget for the end-to-end manifest row


def q_mixture_weights(spark, sf_dir):
    """Temperature-scaled source mixture (alpha=0.5, the XLM/Pile rule):
    per-source BPE-proxy token mass -> w_i ∝ sqrt(p_i), plus the
    target-token and rate columns for a fixed 50k-token budget.  pow(x,
    0.5) is sqrt in both engines (fdlibm/glibc special-case), so the
    only float divergence is summation order — absorbed by 6dp
    rounding."""
    from .operators.text import source_mixture_weights

    docs = _read(spark, sf_dir, "documents")
    out = source_mixture_weights(docs, alpha=0.5, token_budget=_MIX_BUDGET)
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        _r(F.col("nat_frac"), 6).alias("nat_frac"),
        _r(F.col("weight"), 6).alias("weight"),
        _r(F.col("target_tokens"), 2).alias("target_tokens"),
        _r(F.col("rate"), 6).alias("rate"),
    )


def q_mixture_sample_budget(spark, sf_dir):
    """The acting half: quantize each source's rate to 6dp, emit each
    doc n_copies ∈ {floor(rate), floor(rate)+1} by deterministic id
    hash, and report per-source kept-docs / emitted-rows / emitted
    tokens.  Oversampled sources (rate > 1 at small sf) duplicate; the
    whole decision is one broadcast join + map-side expression."""
    from .operators.text import mixture_sample, source_mixture_weights

    docs = _read(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PIECES_RE), 0)
    w = source_mixture_weights(docs, alpha=0.5, token_budget=_MIX_BUDGET)
    w6 = w.withColumn(
        "rate", F.floor(F.col("rate") * 1e6 + F.lit(0.5)) / 1e6
    )
    sampled = mixture_sample(
        docs.select("doc_id", "source", F.size(pieces).alias("nt")), w6
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_copies").cast("long").alias("n_rows_emitted"),
        F.sum(F.col("n_copies") * F.col("nt")).cast("long").alias("tokens_emitted"),
    )


# NOTE rf-string: the Spark side reads _MIX_BUDGET / BPE_PIECES_RE from the
# same constants, so retuning either cannot silently break oracle parity.
_SQL_MIX_W = rf"""
    per_doc AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text,
                 '{BPE_PIECES_RE}')) AS nt
      FROM documents
    ), per_source AS (
      SELECT source, count(*)::BIGINT AS n_docs,
             sum(nt)::BIGINT AS n_tokens
      FROM per_doc GROUP BY 1
    ), tot AS (
      SELECT sum(n_tokens) AS t, sum(pow(n_tokens, 0.5)) AS ps
      FROM per_source
    ), w AS (
      SELECT source, n_docs, n_tokens,
             n_tokens*1.0/t AS nat_frac,
             pow(n_tokens, 0.5)/ps AS weight,
             (pow(n_tokens, 0.5)/ps) * {float(_MIX_BUDGET)} AS target_tokens,
             (pow(n_tokens, 0.5)/ps) * {float(_MIX_BUDGET)} / n_tokens AS rate
      FROM per_source CROSS JOIN tot
    )
"""

SQL_MIXTURE_WEIGHTS = f"""
    WITH {_SQL_MIX_W}
    SELECT source, n_docs, n_tokens,
           floor(nat_frac*1000000.0 + 0.5)/1000000.0 AS nat_frac,
           floor(weight*1000000.0 + 0.5)/1000000.0 AS weight,
           floor(target_tokens*100.0 + 0.5)/100.0 AS target_tokens,
           floor(rate*1000000.0 + 0.5)/1000000.0 AS rate
    FROM w
"""

SQL_MIXTURE_SAMPLE = f"""
    WITH {_SQL_MIX_W}, w6 AS (
      SELECT source, floor(rate*1000000.0 + 0.5)/1000000.0 AS rate FROM w
    ), dec AS (
      SELECT d.doc_id, d.source, d.nt,
             CAST(floor(w6.rate) AS BIGINT)
             + CASE WHEN
                 ({_md5_head32_sql(
                     "'afspark-mix:' || CAST(d.doc_id AS VARCHAR)")}) % 1000000
                 < CAST(floor((w6.rate - floor(w6.rate))*1000000.0 + 0.5)
                        AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
      FROM per_doc d JOIN w6 USING (source)
    )
    SELECT source, count(*)::BIGINT AS n_docs_kept,
           sum(n_copies)::BIGINT AS n_rows_emitted,
           sum(n_copies * nt)::BIGINT AS tokens_emitted
    FROM dec WHERE n_copies >= 1 GROUP BY source
"""


# ---------------------------------------------------------------------------
# end-to-end training-corpus manifest (the full LLM-data pipeline, one plan)
# ---------------------------------------------------------------------------

def q_training_corpus_manifest(spark, sf_dir):
    """The whole pretraining-data pipeline as ONE declarative plan:
    quality gate (>= 0.6) -> exact dedup (min-id per md5 text) ->
    benchmark decontamination (drop any doc sharing a 13-gram with the
    planted eval set) -> temperature mixture sample (alpha=0.5, 30k
    token budget).  Per-source manifest stats out; every stage is the
    already-certified operator, so this row certifies their
    COMPOSITION — the thing a real corpus build actually runs."""
    from .operators.dedup import exact_dedup
    from .operators.text import (
        decontaminate,
        mixture_sample,
        quality_features,
        source_mixture_weights,
    )

    docs = _read(spark, sf_dir, "documents")
    gate = quality_features(docs).filter(F.col("quality") >= 0.6).select("doc_id")
    kept = exact_dedup(docs.join(gate, "doc_id"))

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    bench = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(" ", F.slice(F.split(norm, " "), 4, 13)).alias("text"),
    )
    flags = decontaminate(kept, bench, n=13, hash_mode="md5")
    clean = kept.join(
        flags.filter(F.col("n_contaminated") == 0).select("doc_id"), "doc_id"
    )

    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PIECES_RE), 0)
    w = source_mixture_weights(clean, alpha=0.5, token_budget=_MANIFEST_BUDGET)
    w6 = w.withColumn("rate", F.floor(F.col("rate") * 1e6 + F.lit(0.5)) / 1e6)
    sampled = mixture_sample(
        clean.select("doc_id", "source", F.size(pieces).alias("nt")), w6
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_copies").cast("long").alias("n_rows_emitted"),
        F.sum(F.col("n_copies") * F.col("nt")).cast("long").alias("tokens_emitted"),
        F.min("doc_id").alias("first_doc"),
    )


SQL_TRAINING_MANIFEST = rf"""
    WITH gated AS (
      SELECT doc_id, source, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
      WHERE least(length(text)/500.0, 1.0)*0.5
            + (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))
                     *1.0/length(text))*0.3
            + least((length(regexp_replace(text, '[^ ]', '', 'g')) + 1)
                    /100.0, 1.0)*0.2 >= 0.6
    ), kept AS (
      SELECT doc_id, source, text FROM gated WHERE rn = 1
    ), knorm AS (
      SELECT doc_id, source, text,
             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                              'g')), ' ') AS ts
      FROM kept
    ), bnorm AS (
      SELECT doc_id AS bench_id,
             (string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+',
                                               ' ', 'g')), ' '))[4:16] AS ts
      FROM documents WHERE doc_id % 7 = 0
    ), bg AS (
      SELECT DISTINCT md5(array_to_string(ts, ' ')) AS fp
      FROM bnorm WHERE len(ts) >= 13
    ), dw AS (
      SELECT doc_id, md5(array_to_string(ts[i:i+12], ' ')) AS fp
      FROM knorm, unnest(generate_series(1, len(ts) - 12)) AS u(i)
      WHERE len(ts) >= 13
    ), dirty AS (
      SELECT DISTINCT doc_id FROM dw JOIN bg USING (fp)
    ), clean AS (
      SELECT k.doc_id, k.source,
             len(regexp_extract_all(k.text,
                 '{BPE_PIECES_RE}')) AS nt
      FROM kept k ANTI JOIN dirty USING (doc_id)
    ), per_source AS (
      SELECT source, sum(nt)::BIGINT AS n_tokens FROM clean GROUP BY 1
    ), tot AS (
      SELECT sum(pow(n_tokens, 0.5)) AS ps FROM per_source
    ), w6 AS (
      SELECT source,
             floor((pow(n_tokens, 0.5)/ps) * {float(_MANIFEST_BUDGET)} / n_tokens
                   * 1000000.0 + 0.5)/1000000.0 AS rate
      FROM per_source CROSS JOIN tot
    ), dec AS (
      SELECT c.doc_id, c.source, c.nt,
             CAST(floor(w6.rate) AS BIGINT)
             + CASE WHEN
                 (STRPOS_HEAD32) % 1000000
                 < CAST(floor((w6.rate - floor(w6.rate))*1000000.0 + 0.5)
                        AS BIGINT)
               THEN 1 ELSE 0 END AS n_copies
      FROM clean c JOIN w6 USING (source)
    )
    SELECT source, count(*)::BIGINT AS n_docs_kept,
           sum(n_copies)::BIGINT AS n_rows_emitted,
           sum(n_copies * nt)::BIGINT AS tokens_emitted,
           min(doc_id) AS first_doc
    FROM dec WHERE n_copies >= 1 GROUP BY source
""".replace(
    "STRPOS_HEAD32",
    _md5_head32_sql("'afspark-mix:' || CAST(c.doc_id AS VARCHAR)"),
)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "neardup_survivors": (q_neardup_survivors, SQL_NEARDUP_SURVIVORS),
    "mixture_weights": (q_mixture_weights, SQL_MIXTURE_WEIGHTS),
    "mixture_sample_budget": (q_mixture_sample_budget, SQL_MIXTURE_SAMPLE),
    "training_corpus_manifest": (
        q_training_corpus_manifest,
        SQL_TRAINING_MANIFEST,
    ),
    # round-5 additions lead: never driver-certified, so the rotation
    # below keeps them inside the snapshot's first-50 window
    "remove_dup_spans": (q_remove_dup_spans, SQL_REMOVE_DUP_SPANS),
    "energy_win_tumbling": (q_energy_win_tumbling, SQL_ENERGY_TUMBLING),
    "spl_win_tumbling": (q_spl_win_tumbling, SQL_SPL_TUMBLING),
    "myriad_win_tumbling": (q_myriad_win_tumbling, SQL_MYRIAD_TUMBLING),
    "zcr_win_tumbling": (q_zcr_win_tumbling, SQL_ZCR_TUMBLING),
    "energy_win_sliding": (q_energy_win_sliding, SQL_ENERGY_SLIDING),
    "hop_window_counts": (q_hop_window_counts, SQL_HOP_WINDOW_COUNTS),
    "rollup_1m": (q_rollup_1m, _sql_rollup(60)),
    "rollup_1h_chained": (q_rollup_1h_chained, _sql_rollup(3600)),
    "realtime_cagg_1h": (q_realtime_cagg_1h, _sql_rollup(3600)),
    "stitched_read_7d": (q_stitched_read_7d, SQL_STITCHED_READ),
    "manifest_store_check": (q_manifest_store_check, SQL_MANIFEST_CHECK),
    "link_components": (q_link_components, SQL_LINK_COMPONENTS),
    "rollup_1d_chained": (q_rollup_1d_chained, _sql_rollup(86400)),
    "rollup_30d_chained": (q_rollup_30d_chained, _sql_rollup(30 * 86400)),
    "gapfill_locf_1h": (q_gapfill_locf_1h, SQL_GAPFILL_LOCF),
    "gapfill_linear_1h": (q_gapfill_linear_1h, SQL_GAPFILL_LINEAR),
    "gapfill_locf_maxgap_1h": (q_gapfill_locf_maxgap_1h, SQL_GAPFILL_LOCF_MAXGAP),
    "pressure_scalar": (q_pressure_scalar, SQL_PRESSURE),
    "samples_from_documents": (q_samples_from_documents, SQL_SAMPLES_FROM_DOCS),
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD),
    "simhash16": (q_simhash16, SQL_SIMHASH),
    "langid_features": (q_langid_features, SQL_LANGID),
    "quality_scores": (q_quality_scores, SQL_QUALITY),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "doc_fingerprint": (q_doc_fingerprint, SQL_FINGERPRINT),
    "topk_cosine_centroid": (q_topk_cosine_centroid, SQL_TOPK_CENTROID),
    "ann_nn_bruteforce": (q_ann_nn_bruteforce, SQL_ANN_NN),
    "embedding_neardup_pairs": (q_embedding_neardup_pairs, SQL_NEARDUP_PAIRS),
    # end-to-end compositions + operator modules
    "score_to_rollup_1m": (q_score_to_rollup_1m, SQL_SCORE_TO_ROLLUP),
    "bpe_token_stats": (q_bpe_token_stats, SQL_BPE_TOKENS),
    "quality_filter_dedup": (q_quality_filter_dedup, SQL_QUALITY_FILTER_DEDUP),
    "stopword_langid": (q_stopword_langid, SQL_STOPWORD_LANGID),
    # kernel path — VALUES-literal goldens generated by the local numpy
    # twin at sf0.01 (tools/gen_goldens.py): distributed Arrow chunk
    # assembly vs single-process stride views through the driver's gate
    "score_kernels_docs": (q_score_kernels_docs, GOLDEN_SQL["score_kernels_docs"]),
    "score_psd_docs": (q_score_psd_docs, GOLDEN_SQL["score_psd_docs"]),
    "score_impulse_sas_events": (
        q_score_impulse_sas_events,
        GOLDEN_SQL["score_impulse_sas_events"],
    ),
    "score_freq_contours_docs": (
        q_score_freq_contours_docs,
        GOLDEN_SQL["score_freq_contours_docs"],
    ),
    "rolling_fingerprints": (q_rolling_fingerprints, SQL_ROLLING_FP),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH),
    "simhash_near_pairs": (q_simhash_near_pairs, SQL_SIMHASH_NEAR),
    "neardup_clusters": (q_neardup_clusters, SQL_NEARDUP_CLUSTERS),
    "neardup_clusters_star": (q_neardup_clusters_star, SQL_NEARDUP_CLUSTERS),
    "asof_latest_event": (q_asof_latest_event, SQL_ASOF_LATEST),
    "session_stats": (q_session_stats, SQL_SESSION_STATS),
    "range_join_sessions": (q_range_join_sessions, SQL_RANGE_JOIN_SESSIONS),
    "deterministic_sample": (q_deterministic_sample, SQL_DET_SAMPLE),
    "top_terms": (q_top_terms, SQL_TOP_TERMS),
    "ivf_recall_check": (q_ivf_recall_check, GOLDEN_SQL["ivf_recall_check"]),
    "chunk_roundtrip_check": (q_chunk_roundtrip_check, SQL_CHUNK_ROUNDTRIP),
    "rollup_incremental_1h": (q_rollup_incremental_1h, _sql_rollup(3600)),
    "salted_domain_stats": (q_salted_domain_stats, SQL_SALTED_DOMAIN_STATS),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "incremental_snapshot_read": (
        q_incremental_snapshot_read,
        SQL_INCREMENTAL_READ,
    ),
    "zorder_key_check": (q_zorder_key_check, SQL_ZORDER_KEY),
    "zorder_envelope_stats": (q_zorder_envelope_stats, SQL_ZORDER_ENVELOPE),
    "stratified_split_stats": (q_stratified_split_stats, SQL_STRATIFIED_SPLIT),
    "counter_rate_1h": (q_counter_rate_1h, SQL_COUNTER_RATE),
    "vector_ratio_1h": (q_vector_ratio_1h, SQL_VECTOR_RATIO),
    "increase_extrapolated_1h": (
        q_increase_extrapolated_1h,
        SQL_INCREASE_EXTRAPOLATED,
    ),
    "remainder_anomaly_1d": (q_remainder_anomaly_1d, SQL_REMAINDER_ANOMALY),
    "classical_decompose_1d": (
        q_classical_decompose_1d,
        SQL_CLASSICAL_DECOMPOSE,
    ),
    "delta_extrapolated_1h": (
        q_delta_extrapolated_1h,
        SQL_DELTA_EXTRAPOLATED,
    ),
    "percentile_1h": (q_percentile_1h, SQL_PERCENTILE_1H),
    "ewma_events": (q_ewma_events, SQL_EWMA),
    "histogram_1h": (q_histogram_1h, SQL_HISTOGRAM_1H),
    "topk_event_types_1d": (q_topk_event_types_1d, SQL_TOPK_EVENT_TYPES),
    "histogram_1d_chained": (q_histogram_1d_chained, SQL_HISTOGRAM_1D),
    "json_props_stats": (q_json_props_stats, SQL_JSON_PROPS),
    "containment_pairs": (q_containment_pairs, SQL_CONTAINMENT_PAIRS),
    "trimmed_mean_1h": (q_trimmed_mean_1h, SQL_TRIMMED_MEAN_1H),
    "anomaly_zscore_1h": (q_anomaly_zscore_1h, SQL_ANOMALY_ZSCORE),
    "counter_resets_1h": (q_counter_resets_1h, SQL_COUNTER_RESETS),
    "pq_recall_check": (q_pq_recall_check, GOLDEN_SQL["pq_recall_check"]),
    "cross_corr_1h": (q_cross_corr_1h, SQL_CROSS_CORR),
    "retention_7d": (q_retention_7d, SQL_RETENTION_7D),
    "dup_span_stats": (q_dup_span_stats, SQL_DUP_SPANS),
    "tfidf_by_source": (q_tfidf_by_source, SQL_TFIDF_BY_SOURCE),
    "alert_firing_1h": (q_alert_firing_1h, SQL_ALERT_FIRING),
    "cusum_1h": (q_cusum_1h, SQL_CUSUM_1H),
    "psi_drift": (q_psi_drift, SQL_PSI_DRIFT),
    "histogram_quantile_1h": (
        q_histogram_quantile_1h,
        SQL_HISTOGRAM_QUANTILE,
    ),
    "funnel_view_click_purchase": (
        q_funnel_view_click_purchase,
        SQL_FUNNEL_VCP,
    ),
    "holt_forecast_events": (
        q_holt_forecast_events,
        GOLDEN_SQL["holt_forecast_events"],
    ),
    "idelta_1h": (q_idelta_1h, SQL_IDELTA),
    "deriv_1h": (q_deriv_1h, SQL_DERIV),
    "seasonal_anomaly_1h": (q_seasonal_anomaly_1h, SQL_SEASONAL_ANOMALY),
    "distinct_users_1h": (q_distinct_users_1h, SQL_DISTINCT_USERS_1H),
    "distinct_users_1d_chained": (
        q_distinct_users_1d_chained,
        SQL_DISTINCT_USERS_1D,
    ),
    "hll_distinct_check": (q_hll_distinct_check, SQL_HLL_DISTINCT_CHECK),
    "time_weight_1d": (q_time_weight_1d, SQL_TIME_WEIGHT_1D),
    "state_durations_1d": (q_state_durations_1d, SQL_STATE_DURATIONS_1D),
    "coalesced_intervals": (q_coalesced_intervals, SQL_COALESCED_INTERVALS),
    "ohlc_1h": (q_ohlc_1h, SQL_OHLC_1H),
    "ohlc_1d_chained": (q_ohlc_1d_chained, SQL_OHLC_1D),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "time_weight_interp_1d": (q_time_weight_interp_1d, SQL_TIME_WEIGHT_INTERP_1D),
    "quota_sample_by_source": (q_quota_sample_by_source, SQL_QUOTA_SAMPLE),
    "uptime_1d": (q_uptime_1d, SQL_UPTIME_1D),
    "burn_rate_alerts": (q_burn_rate_alerts, SQL_BURN_RATE),
    "bm25_topk": (q_bm25_topk, SQL_BM25),
    "overlap_error_bursts": (q_overlap_error_bursts, SQL_OVERLAP_BURSTS),
    "cms_heavy_hitters": (q_cms_heavy_hitters, SQL_CMS),
    "m4_downsample_1h": (q_m4_downsample_1h, SQL_M4_1H),
    "table_profile_events": (q_table_profile_events, SQL_TABLE_PROFILE_EVENTS),
    "acf_1h": (q_acf_1h, SQL_ACF_1H),
    "ks_drift": (q_ks_drift, SQL_KS_DRIFT),
    "sax_6h": (q_sax_6h, SQL_SAX_6H),
    "dtw_events_1h": (q_dtw_events_1h, GOLDEN_SQL["dtw_events_1h"]),
    "dominant_period_1h": (q_dominant_period_1h, GOLDEN_SQL["dominant_period_1h"]),
    "table_profile_docs": (q_table_profile_docs, SQL_TABLE_PROFILE_DOCS),
    "changes_1h": (q_changes_1h, SQL_CHANGES_1H),
    "rolling_p95_24h": (q_rolling_p95_24h, SQL_ROLLING_P95),
    "lm_unigram_scores": (q_lm_unigram_scores, SQL_LM_UNIGRAM),
    "weighted_sample_docs": (q_weighted_sample_docs, SQL_WEIGHTED_SAMPLE),
    "seasonal_holt_events": (
        q_seasonal_holt_events,
        GOLDEN_SQL.get("seasonal_holt_events"),
    ),
    "holt_winters_events": (
        q_holt_winters_events,
        GOLDEN_SQL.get("holt_winters_events"),
    ),
    "fano_burstiness_1h": (q_fano_burstiness_1h, SQL_FANO_BURSTINESS),
    "chi2_lang_source": (q_chi2_lang_source, SQL_CHI2_LANG_SOURCE),
    "distinct_users_sliding_6h": (
        q_distinct_users_sliding_6h,
        SQL_DISTINCT_SLIDING,
    ),
    "trend_theilsen_1d": (q_trend_theilsen_1d, SQL_TREND_THEILSEN),
    "pagerank_3it": (q_pagerank_3it, SQL_PAGERANK),
    "asap_smooth_1h": (
        q_asap_smooth_1h,
        GOLDEN_SQL.get("asap_smooth_1h"),
    ),
    "matrix_profile_1h": (
        q_matrix_profile_1h,
        GOLDEN_SQL.get("matrix_profile_1h"),
    ),
    "pettitt_1h": (q_pettitt_1h, SQL_PETTITT),
    "benford_events": (q_benford_events, SQL_BENFORD),
    "seasonality_strength": (
        q_seasonality_strength,
        SQL_SEASONALITY_STRENGTH,
    ),
    "transition_entropy": (q_transition_entropy, SQL_TRANSITION_ENTROPY),
    "hits_2it": (q_hits_2it, SQL_HITS),
    "crawl_schedule": (q_crawl_schedule, SQL_CRAWL_SCHEDULE),
    "mad_anomaly_1h": (q_mad_anomaly_1h, SQL_MAD_ANOMALY),
    "gini_chars_by_source": (q_gini_chars_by_source, SQL_GINI),
    "completeness_1h": (q_completeness_1h, SQL_COMPLETENESS),
    "hdr_percentile_1h": (q_hdr_percentile_1h, SQL_HDR_PERCENTILE_1H),
    "hdr_global_p99_1h": (q_hdr_global_p99_1h, SQL_HDR_GLOBAL_P99),
    "serve_range_30d": (q_serve_range_30d, SQL_SERVE_RANGE),
    "hdr_1d_chained": (q_hdr_1d_chained, SQL_HDR_1D_CHAINED),
    "recrawl_change_rate": (q_recrawl_change_rate, SQL_RECRAWL_CHANGE_RATE),
    "url_canonical_dedup": (q_url_canonical_dedup, SQL_URL_CANONICAL),
    "sdt_downsample_events": (
        q_sdt_downsample_events,
        GOLDEN_SQL.get("sdt_downsample_events"),
    ),
    "extract_text_invariant": (
        q_extract_text_invariant,
        SQL_EXTRACT_TEXT_INVARIANT,
    ),
    "pmi_bigrams": (q_pmi_bigrams, SQL_PMI_BIGRAMS),
    "lateness_profile_1h": (q_lateness_profile_1h, SQL_LATENESS_PROFILE_1H),
    "offset_compare_1d": (q_offset_compare_1d, SQL_OFFSET_COMPARE_1D),
    "tier_consistency_audit": (
        q_tier_consistency_audit,
        SQL_TIER_CONSISTENCY_AUDIT,
    ),
    "triangle_counts": (q_triangle_counts, SQL_TRIANGLE_COUNTS),
    "tpch_q3": (q_tpch_q3, SQL_TPCH_Q3),
    "tpch_q5": (q_tpch_q5, SQL_TPCH_Q5),
    "clustering_coefficient": (
        q_clustering_coefficient,
        SQL_CLUSTERING_COEFFICIENT,
    ),
    "incremental_dedup_pairs": (q_incremental_dedup_pairs, SQL_INCR_DEDUP),
}

# --- driver-certification rotation (round 5) -------------------------------
# The driver's CORRECTNESS snapshot covers only the FIRST 50 registry keys.
# Rounds 1-4 certified these 54; rotate them to the back so the snapshot
# certifies 50 of the 94 never-snapshotted queries this round (VERDICT.md
# round-5 task #1).  Relative order is otherwise preserved, and the content
# of the registry is unchanged — only dict insertion order moves.
_DRIVER_CERTIFIED_R1_R4 = frozenset({
    "ann_nn_bruteforce", "asof_latest_event", "bpe_token_stats",
    "chunk_roundtrip_check", "dedup_exact", "deterministic_sample",
    "doc_fingerprint", "embedding_neardup_pairs", "energy_win_sliding",
    "energy_win_tumbling", "gapfill_linear_1h", "gapfill_locf_1h",
    "gapfill_locf_maxgap_1h", "hop_window_counts", "ivf_recall_check",
    "langid_features", "link_components", "manifest_store_check",
    "minhash_lsh_pairs", "minhash_signatures", "myriad_win_tumbling",
    "neardup_clusters", "neardup_clusters_star", "ngram_jaccard_pairs",
    "pressure_scalar", "quality_filter_dedup", "quality_scores",
    "range_join_sessions", "realtime_cagg_1h", "repetition_stats",
    "rolling_fingerprints", "rollup_1d_chained", "rollup_1h_chained",
    "rollup_1m", "rollup_30d_chained", "rollup_incremental_1h",
    "salted_domain_stats", "samples_from_documents",
    "score_freq_contours_docs", "score_impulse_sas_events",
    "score_kernels_docs", "score_psd_docs", "score_to_rollup_1m",
    "session_stats", "simhash16", "simhash_near_pairs", "spl_win_tumbling",
    "stitched_read_7d", "stopword_langid", "token_stats", "top_terms",
    "topk_cosine_centroid", "tpch_q1", "zcr_win_tumbling",
})
QUERIES = {
    **{k: v for k, v in QUERIES.items() if k not in _DRIVER_CERTIFIED_R1_R4},
    **{k: v for k, v in QUERIES.items() if k in _DRIVER_CERTIFIED_R1_R4},
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 events -> samples -> multi-feature windowed Score."""
    sf_dir = "/root/testdata/sf0.001"
    samples = events_samples(spark, sf_dir)
    feats = [
        K.Energy(),
        K.SoundPressureLevel(),
        K.ZeroCrossingRate(),
        K.PermutationEntropy(3),
        K.SpectralCentroid(),
    ]
    return score(samples, feats, winlen=WINLEN, noverlap=NOVERLAP, fs=1000.0)
