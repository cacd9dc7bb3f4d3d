"""DuckDB oracle SQL, one string per queries() entry.

Arithmetic mirrors the Spark plans exactly: integer-cents money math (see
functions/core.py), identical literals via plans/params.py, identical
aliases. Tables are pre-registered views named after the parquet files.
"""

from vedb_gaze_spark.functions.core import TOKENS_DUCKDB as _TOKENS_SQL
from vedb_gaze_spark.functions.core import portable_hash60_duckdb as _h60
from vedb_gaze_spark.plans import params as P

# floor(x*100 + 0.5) == round for our non-negative 2-decimal money, and is
# the form Spark can whole-stage-codegen (see functions/core.py:cents).
_EP = "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)"
_DISC1 = "CAST(floor((1.0-l_discount)*100 + 0.5) AS BIGINT)"
_TAX1 = "CAST(floor((1.0+l_tax)*100 + 0.5) AS BIGINT)"
_DISC = "CAST(floor(l_discount*100 + 0.5) AS BIGINT)"

Q1 = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)            AS sum_qty,
  sum({_EP}) / 100.0                                          AS sum_base_price,
  sum({_EP} * {_DISC1}) / 10000.0                             AS sum_disc_price,
  sum({_EP} * {_DISC1} * {_TAX1}) / 1000000.0                 AS sum_charge,
  sum(CAST(l_quantity AS BIGINT)) / CAST(count(*) AS DOUBLE)  AS avg_qty,
  sum({_EP}) / CAST(count(*) AS DOUBLE) / 100.0               AS avg_price,
  sum({_DISC}) / CAST(count(*) AS DOUBLE) / 100.0             AS avg_disc,
  count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{P.Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

Q18 = f"""
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > {P.Q18_QUANTITY}
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(total_qty AS DOUBLE) AS sum_qty
FROM orders JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""

Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       sum({_EP} * {_DISC1}) / 10000.0 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '{P.Q7_DATE_FROM}'
  AND l_shipdate < TIMESTAMP '{P.Q7_DATE_TO}'
  AND ((n1.n_name = '{P.Q7_NATION_A}' AND n2.n_name = '{P.Q7_NATION_B}')
    OR (n1.n_name = '{P.Q7_NATION_B}' AND n2.n_name = '{P.Q7_NATION_A}'))
GROUP BY supp_nation, cust_nation, l_year
"""

Q3 = f"""
SELECT
  l_orderkey,
  o_orderdate,
  o_orderpriority,
  sum({_EP} * {_DISC1}) / 10000.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{P.Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{P.Q3_DATE}'
  AND l_shipdate  > TIMESTAMP '{P.Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""

Q5 = f"""
SELECT
  n_name,
  sum({_EP} * {_DISC1}) / 10000.0 AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN supplier ON s_nationkey = n_nationkey
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
WHERE r_name = '{P.Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{P.Q5_DATE_FROM}'
  AND o_orderdate <  TIMESTAMP '{P.Q5_DATE_TO}'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

Q6 = f"""
SELECT sum({_EP} * {_DISC}) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{P.Q6_DATE_FROM}'
  AND l_shipdate <  TIMESTAMP '{P.Q6_DATE_TO}'
  AND l_discount >= {P.Q6_DISCOUNT_LO}
  AND l_discount <= {P.Q6_DISCOUNT_HI}
  AND l_quantity <  {P.Q6_QUANTITY}
"""

Q4 = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{P.Q4_DATE_FROM}'
  AND o_orderdate <  TIMESTAMP '{P.Q4_DATE_TO}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q10 = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       sum({_EP} * {_DISC1}) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{P.Q10_DATE_FROM}'
  AND o_orderdate <  TIMESTAMP '{P.Q10_DATE_TO}'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT {P.Q10_TOPN}
"""

_Q12_HIGH = ", ".join(f"'{x}'" for x in P.Q12_HIGH)

Q12 = f"""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ({_Q12_HIGH}) THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ({_Q12_HIGH}) THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{P.Q12_DATE_FROM}'
  AND l_shipdate <  TIMESTAMP '{P.Q12_DATE_TO}'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

Q14 = f"""
SELECT 100.0 * CAST(sum(CASE WHEN p_type = '{P.Q14_PROMO_TYPE}'
                        THEN {_EP} * {_DISC1} ELSE 0 END) AS DOUBLE)
       / CAST(sum({_EP} * {_DISC1}) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{P.Q14_DATE_FROM}'
  AND l_shipdate <  TIMESTAMP '{P.Q14_DATE_TO}'
"""

_Q16_SIZES = ", ".join(str(s) for s in P.Q16_SIZES)

Q16 = f"""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON ps.l_partkey = p_partkey
WHERE p_brand <> '{P.Q16_EXCL_BRAND}'
  AND p_type <> '{P.Q16_EXCL_TYPE}'
  AND p_size IN ({_Q16_SIZES})
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

_Q19_ARMS = "\n   OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
    f" AND l_quantity BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in P.Q19_TRIPLES
)

Q19 = f"""
SELECT sum({_EP} * {_DISC1}) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_Q19_ARMS}
"""

Q8 = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       sum(CASE WHEN n2.n_name = '{P.Q8_NATION}'
                THEN {_EP} * {_DISC1} ELSE 0 END)
       / sum({_EP} * {_DISC1}) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = '{P.Q8_TYPE}'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = '{P.Q8_REGION}'
WHERE o_orderdate >= TIMESTAMP '{P.Q8_DATE_FROM}'
  AND o_orderdate <  TIMESTAMP '{P.Q8_DATE_TO}'
GROUP BY o_year
ORDER BY o_year
"""

Q15 = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_EP} * {_DISC1}) AS BIGINT) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{P.Q4_DATE_FROM}'
    AND l_shipdate <  TIMESTAMP '{P.Q4_DATE_TO}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, r / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT max(r) FROM rev)
ORDER BY s_suppkey
"""

Q11 = f"""
WITH pr AS (
  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(q AS DOUBLE) AS total_qty
FROM pr
WHERE q * {P.Q11_SHARE_MULT} > (SELECT CAST(sum(q) AS BIGINT) FROM pr)
ORDER BY total_qty DESC, l_partkey
"""

Q17 = f"""
WITH pa AS (
  SELECT l_partkey AS t_partkey, 0.5 * avg(l_quantity) AS thr
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum({_EP}) AS DOUBLE) / 700.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
JOIN pa ON l_partkey = t_partkey
WHERE l_quantity < thr
"""

Q13 = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

Q2 = f"""
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         {_EP} AS pc,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY l_partkey
    ORDER BY pc / CAST(q AS DOUBLE), l_suppkey) AS rn
  FROM offers
)
SELECT p_partkey, p_name, s_name,
       pc / CAST(q AS DOUBLE) / 100.0 AS min_unit_price
FROM ranked
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1 AND p_size <= 10
ORDER BY p_partkey
"""

Q9 = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
           * CAST(floor((1 - l_discount)*100 + 0.5) AS BIGINT)
           - CAST(l_quantity AS BIGINT)
           * CAST(floor(p_retailprice*100 + 0.5) AS BIGINT) * 100
          ) / 10000.0 AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey AND p_name LIKE '{P.Q9_NAME_PREFIX}%'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC
"""

Q20 = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS q
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '{P.Q20_NAME_PREFIX}%'
    AND l_shipdate >= TIMESTAMP '{P.Q20_DATE_FROM}'
    AND l_shipdate <  TIMESTAMP '{P.Q20_DATE_TO}'
), ps AS (
  SELECT l_partkey, l_suppkey, sum(q) AS sq FROM li GROUP BY 1, 2
), p AS (
  SELECT l_partkey, sum(sq) AS tq FROM ps GROUP BY 1
)
SELECT s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey AND n_name = '{P.Q20_NATION}'
WHERE s_suppkey IN (SELECT l_suppkey FROM ps JOIN p USING (l_partkey)
                    WHERE 2*sq > tq)
ORDER BY s_name
"""

Q21 = f"""
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation   ON n_nationkey = s_nationkey AND n_name = '{P.Q21_NATION}'
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT {P.Q21_TOPN}
"""

_BAL = "CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)"

Q22 = f"""
WITH stats AS (
  SELECT CAST(sum({_BAL}) AS BIGINT) AS sum_cents, count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, count(*) AS numcust,
       sum({_BAL}) / 100.0 AS totacctbal
FROM customer, stats
WHERE {_BAL} * n_pos > sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{P.Q22_ORDER_CUTOFF}')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# --- temporal alignment & resampling (SURVEY §2.A) ------------------------

_T = "epoch_us(ts)/1000000.0"

MATCH_NEAREST = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, {_T} AS t
  FROM events WHERE event_type IN ('click','view')
), m AS (
  SELECT *,
    last_value(CASE WHEN event_type='view' THEN t END IGNORE NULLS) OVER wp AS prev_t,
    last_value(CASE WHEN event_type='view' THEN event_id END IGNORE NULLS) OVER wp AS prev_id,
    first_value(CASE WHEN event_type='view' THEN t END IGNORE NULLS) OVER wn AS next_t,
    first_value(CASE WHEN event_type='view' THEN event_id END IGNORE NULLS) OVER wn AS next_id
  FROM e
  WINDOW
    wp AS (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    wn AS (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id,
  CASE WHEN next_t IS NULL OR (prev_t IS NOT NULL AND (t - prev_t) <= (next_t - t))
       THEN prev_id ELSE next_id END AS matched_event_id,
  round(CASE WHEN next_t IS NULL OR (prev_t IS NOT NULL AND (t - prev_t) <= (next_t - t))
       THEN t - prev_t ELSE next_t - t END, 6) AS dist_sec
FROM m
WHERE event_type = 'click' AND (prev_t IS NOT NULL OR next_t IS NOT NULL)
"""

MATCH_ASOF = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, {_T} AS t
  FROM events WHERE event_type IN ('click','view')
), m AS (
  SELECT *,
    last_value(CASE WHEN event_type='view' THEN t END IGNORE NULLS) OVER wp AS sig_t,
    last_value(CASE WHEN event_type='view' THEN event_id END IGNORE NULLS) OVER wp AS sig_id
  FROM e
  WINDOW wp AS (
    PARTITION BY user_id
    ORDER BY t, CASE WHEN event_type='view' THEN 0 ELSE 1 END, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, sig_id AS matched_event_id,
       round(t - sig_t, 6) AS dist_sec
FROM m
WHERE event_type = 'click' AND sig_t IS NOT NULL
"""

MATCH_ASOF_FORWARD = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, {_T} AS t
  FROM events WHERE event_type IN ('click','view')
), m AS (
  SELECT *,
    first_value(CASE WHEN event_type='view' THEN t END IGNORE NULLS) OVER wn AS sig_t,
    first_value(CASE WHEN event_type='view' THEN event_id END IGNORE NULLS) OVER wn AS sig_id
  FROM e
  WINDOW wn AS (
    PARTITION BY user_id
    ORDER BY t, CASE WHEN event_type='view' THEN 1 ELSE 0 END, event_id
    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id, sig_id AS matched_event_id,
       round(sig_t - t, 6) AS dist_sec
FROM m
WHERE event_type = 'click' AND sig_t IS NOT NULL
"""

MATCH_WINDOW_MEDIAN = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, {_T} AS t, value
  FROM events WHERE event_type IN ('click','view')
)
SELECT r.user_id AS user_id, r.event_id AS event_id,
       count(*) AS n_matched,
       round(median(s.value), 6) AS med_value
FROM e r JOIN e s
  ON r.user_id = s.user_id AND s.event_type = 'view'
 AND abs(s.t - r.t) <= {P.MATCH_WINDOW_S}
WHERE r.event_type = 'click'
GROUP BY r.user_id, r.event_id
"""

RUN_LENGTH = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us, {_T} AS t,
         CASE WHEN event_type='error' THEN 1 ELSE 0 END AS flag
  FROM events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn FROM e
), f AS (
  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS grp
  FROM r WHERE flag = 1
)
SELECT user_id,
       min(event_id) AS start_event_id,
       max(event_id) AS end_event_id,
       count(*) AS n_events,
       min(t_us) AS onset_us,
       max(t_us) AS offset_us,
       max(t_us) - min(t_us) AS duration_us
FROM f GROUP BY user_id, grp
"""

TIME_SLICE = """
SELECT event_id, user_id, ts, value
FROM events
WHERE ts > TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
  AND event_type = 'purchase'
"""

RESAMPLE_LINEAR = f"""
WITH sig AS (
  SELECT user_id, event_id, {_T} AS t, value FROM events WHERE event_type = 'view'
), b AS (
  SELECT user_id,
         CAST(ceil(min(t)/{P.RESAMPLE_STEP_S}) AS BIGINT) AS h0,
         CAST(floor(max(t)/{P.RESAMPLE_STEP_S}) AS BIGINT) AS h1
  FROM sig GROUP BY user_id
), grid AS (
  SELECT user_id, h * {P.RESAMPLE_STEP_S} AS t, 1 AS tag,
         CAST(NULL AS DOUBLE) AS value, CAST(-1 AS BIGINT) AS event_id
  FROM b, unnest(generate_series(h0, h1)) AS g(h)
  WHERE h1 >= h0
), pts AS (
  SELECT user_id, t, 0 AS tag, value, event_id FROM sig
), m AS (
  SELECT * FROM pts UNION ALL SELECT * FROM grid
), wv AS (
  SELECT *,
    last_value(CASE WHEN tag=0 THEN value END IGNORE NULLS) OVER w0 AS v0,
    last_value(CASE WHEN tag=0 THEN t END IGNORE NULLS) OVER w0 AS t0,
    first_value(CASE WHEN tag=0 THEN value END IGNORE NULLS) OVER w1 AS v1,
    first_value(CASE WHEN tag=0 THEN t END IGNORE NULLS) OVER w1 AS t1
  FROM m
  WINDOW
    w0 AS (PARTITION BY user_id ORDER BY t, tag, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w1 AS (PARTITION BY user_id ORDER BY t, tag, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, t, round(v0 + (v1 - v0) * (t - t0) / (t1 - t0), 6) AS value_interp
FROM wv WHERE tag = 1 AND t0 IS NOT NULL AND t1 IS NOT NULL
"""

# --- cleaning & outliers (SURVEY §2.B) -------------------------------------

OUTLIERS_Z = f"""
WITH e AS (
  SELECT user_id, event_id, value,
         avg(value) OVER (PARTITION BY user_id) AS mu,
         stddev_pop(value) OVER (PARTITION BY user_id) AS sigma
  FROM events
)
SELECT user_id, event_id, value FROM e
WHERE value >= {P.ABS_MIN} AND value <= {P.ABS_MAX}
  AND abs((value - mu) / sigma) < {P.Z_THRESHOLD}
"""

DEDUP_TIMESTAMPS = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us,
         count(*) OVER (PARTITION BY user_id, ts) AS n_at_ts
  FROM events
)
SELECT user_id, event_id, t_us FROM e WHERE n_at_ts = 1
"""

BRIEF_DETECTIONS = f"""
WITH det AS (
  SELECT user_id, event_id, {_T} AS t FROM events WHERE event_type = 'error'
), d1 AS (
  SELECT *, count(*) OVER (PARTITION BY user_id, t) AS n_at_ts FROM det
), d2 AS (
  SELECT * FROM d1 WHERE n_at_ts = 1
), d3 AS (
  SELECT *,
    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {P.SESSION_GAP_S}
         THEN 1 ELSE 0 END AS new_epoch
  FROM d2 WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), d4 AS (
  SELECT *, sum(new_epoch) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
  FROM d3
), d5 AS (
  SELECT *, max(t) OVER we - min(t) OVER we AS dur
  FROM d4 WINDOW we AS (PARTITION BY user_id, epoch)
)
SELECT user_id, event_id FROM d5 WHERE dur > {P.BRIEF_MIN_S}
"""

SIZE_FILTER = f"""
WITH p AS (
  SELECT p_partkey, CAST(p_size AS DOUBLE) AS sx, p_retailprice/50.0 AS sy FROM part
), p2 AS (
  SELECT *, (sx + sy)/2.0 AS mksz, greatest(sx, sy)/least(sx, sy) AS aspect FROM p
), s AS (
  SELECT quantile_cont(mksz, 0.5) AS med_sz, stddev_pop(mksz) AS std_sz FROM p2
)
SELECT p_partkey FROM p2, s
WHERE mksz > med_sz - {P.SIZE_STD_THRESHOLD} * std_sz
  AND aspect < {P.ASPECT_RATIO_THRESHOLD}
"""

BIMODAL_FILTER = f"""
WITH e AS (
  SELECT user_id, event_id, value FROM events
), c AS (
  SELECT *,
    row_number() OVER ws AS k,
    sum(value) OVER wc AS s_k,
    sum(value*value) OVER wc AS q_k
  FROM e
  WINDOW ws AS (PARTITION BY user_id ORDER BY value, event_id),
         wc AS (PARTITION BY user_id ORDER BY value, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c2 AS (
  SELECT *,
    count(*) OVER wf AS n,
    last_value(s_k) OVER wf AS s_n,
    last_value(q_k) OVER wf AS q_n
  FROM c
  WINDOW wf AS (PARTITION BY user_id ORDER BY value, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), cand AS (
  SELECT *,
    s_k*s_k/k + (s_n-s_k)*(s_n-s_k)/(n-k) AS objective
  FROM c2 WHERE k < n
), best AS (
  SELECT user_id, k AS split_k,
    s_k/k AS c_lo,
    sqrt(greatest(q_k/k - (s_k/k)*(s_k/k), 0.0)) AS std_lo,
    (s_n-s_k)/(n-k) AS c_hi,
    sqrt(greatest((q_n-q_k)/(n-k) - ((s_n-s_k)/(n-k))*((s_n-s_k)/(n-k)), 0.0)) AS std_hi
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY objective DESC, k) AS rnk FROM cand)
  WHERE rnk = 1
)
SELECT e2.user_id AS user_id, e2.event_id AS event_id, e2.value AS value
FROM c2 e2 JOIN best b ON e2.user_id = b.user_id
WHERE NOT ((b.c_hi - {P.BIMODAL_STD_SEP}*b.std_hi) > (b.c_lo + {P.BIMODAL_STD_SEP}*b.std_lo))
   OR e2.k > b.split_k
"""

# --- smoothing (SURVEY §2.B) -----------------------------------------------

_DETREND_HALF_US = int(P.DETREND_WINDOW_S * 1_000_000) // 2

DETREND_MEDIAN = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us, value FROM events
)
SELECT user_id, event_id,
  round(value - median(value) OVER (PARTITION BY user_id ORDER BY t_us
        RANGE BETWEEN {_DETREND_HALF_US} PRECEDING AND {_DETREND_HALF_US} FOLLOWING), 6) AS detrended
FROM e
"""

SMOOTH_SAVGOL = f"""
WITH e AS (
  SELECT user_id, event_id, {_T} AS t, value FROM events
), s AS (
  SELECT user_id, event_id,
    (-2.0*lag(value,3) OVER w + 3.0*lag(value,2) OVER w + 6.0*lag(value,1) OVER w
     + 7.0*value
     + 6.0*lead(value,1) OVER w + 3.0*lead(value,2) OVER w + -2.0*lead(value,3) OVER w) / 21.0 AS smoothed
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
)
SELECT user_id, event_id, round(smoothed, 6) AS smoothed
FROM s WHERE smoothed IS NOT NULL
"""


# --- sessionization & clustering (SURVEY §2.C) ------------------------------

SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, event_id, {_T} AS t FROM events
), d AS (
  SELECT *,
    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {P.SESSION_GAP_S}
         THEN 1 ELSE 0 END AS new_epoch
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), s AS (
  -- DuckDB windowed sum(int) is HUGEINT -> float64 in Arrow; cast to BIGINT
  -- so the driver's value-hash matches Spark's bigint epoch.
  SELECT *, CAST(sum(new_epoch) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS epoch
  FROM d
)
SELECT user_id, epoch, min(t) AS t_start, max(t) AS t_end,
       count(*) AS n_events, max(t) - min(t) AS duration_s
FROM s GROUP BY user_id, epoch
HAVING max(t) - min(t) > {P.SESSION_MIN_S} AND max(t) - min(t) < {P.SESSION_MAX_S}
"""

_GRID_CELLS = f"""
  SELECT user_id, event_id, {_T} AS t, value,
         CAST(floor(({_T}) / {P.GRID_T_EPS_S}) AS BIGINT) AS cell_t,
         CAST(floor(value / {P.GRID_V_EPS}) AS BIGINT) AS cell_v
  FROM events
"""

CLUSTER_GRID = f"""
WITH c AS ({_GRID_CELLS}),
n AS (SELECT *, count(*) OVER (PARTITION BY user_id, cell_t, cell_v) AS n_in_cell FROM c)
SELECT user_id, event_id, cell_t, cell_v FROM n WHERE n_in_cell >= {P.GRID_MIN_PTS}
"""

# Deterministic DBSCAN (clustering._dbscan_numpy's exact semantics):
# clusters = connected components of the core-core eps-graph labeled by
# minimal event_id (recursive CTE), border points take the minimal label
# among core neighbors. All distance arithmetic mirrors the numpy side
# op-for-op, so the eps test decides identically.
_DBSCAN_EPS2 = 0.25   # eps = 0.5
_DBSCAN_MINPTS = 4

CLUSTER_DBSCAN = f"""
WITH RECURSIVE e AS (
  SELECT user_id, event_id, epoch_us(ts)/1000000.0 AS t, value FROM events
),
p AS (
  SELECT user_id, event_id,
    (t - min(t) OVER (PARTITION BY user_id)) / 86400.0 + 2.0 AS tn,
    value / 100.0 AS vn
  FROM e
),
nb AS (
  SELECT a.user_id AS user_id, a.event_id AS ea, b.event_id AS eb
  FROM p a JOIN p b ON a.user_id = b.user_id
   AND (a.tn - b.tn) * (a.tn - b.tn) + (a.vn - b.vn) * (a.vn - b.vn)
       <= {_DBSCAN_EPS2}
),
core AS (
  SELECT user_id, ea AS event_id FROM nb GROUP BY user_id, ea
  HAVING count(*) >= {_DBSCAN_MINPTS}
),
cedge AS (
  SELECT nb.user_id AS user_id, nb.ea AS src, nb.eb AS dst
  FROM nb
  JOIN core ca ON ca.user_id = nb.user_id AND ca.event_id = nb.ea
  JOIN core cb ON cb.user_id = nb.user_id AND cb.event_id = nb.eb
),
reach(user_id, src, dst) AS (
  SELECT user_id, event_id, event_id FROM core
  UNION
  SELECT reach.user_id, reach.src, cedge.dst
  FROM reach JOIN cedge
    ON cedge.user_id = reach.user_id AND cedge.src = reach.dst
),
clab AS (
  SELECT user_id, src AS event_id, min(dst) AS cluster_id
  FROM reach GROUP BY user_id, src
),
bord AS (
  SELECT nb.user_id AS user_id, nb.ea AS event_id, min(cl.cluster_id) AS cluster_id
  FROM nb
  JOIN clab cl ON cl.user_id = nb.user_id AND cl.event_id = nb.eb
  LEFT JOIN core c ON c.user_id = nb.user_id AND c.event_id = nb.ea
  WHERE c.event_id IS NULL
  GROUP BY nb.user_id, nb.ea
)
SELECT user_id, event_id, cluster_id FROM clab
UNION ALL
SELECT user_id, event_id, cluster_id FROM bord
"""

CLUSTER_STATS = f"""
WITH c AS ({_GRID_CELLS}),
n AS (SELECT *, count(*) OVER (PARTITION BY user_id, cell_t, cell_v) AS n_in_cell FROM c),
k AS (SELECT * FROM n WHERE n_in_cell >= {P.GRID_MIN_PTS})
SELECT user_id, cell_t, cell_v,
       count(*) AS n_points,
       round(median(value), 6) AS med_value,
       round(stddev_pop(value), 6) AS std_value,
       round(max(t) - min(t), 6) AS duration_s
FROM k GROUP BY user_id, cell_t, cell_v
HAVING round(max(t) - min(t), 6) > {P.CLUSTER_MIN_T_S}
   AND round(max(t) - min(t), 6) < {P.CLUSTER_MAX_T_S}
   AND round(stddev_pop(value), 6) < {P.CLUSTER_MAX_STD}
"""

# --- labeling (SURVEY §2.F) --------------------------------------------------

# Derived gaze-signal CTE — integer-arithmetic twin of sources/signals.py.
GAZE_CTE = f"""
  SELECT event_id, user_id, {_T} AS t,
    ((event_id * 2654435761) % 1000) / 1000.0 AS px,
    ((event_id * 40503) % 1000) / 1000.0 AS py,
    0.1 + 0.8 * (((event_id * 2654435761) % 1000) / 1000.0) AS mx,
    0.1 + 0.8 * (((event_id * 40503) % 1000) / 1000.0) AS my,
    0.1 + 0.8 * (((event_id * 2654435761) % 1000) / 1000.0)
        + (((event_id * 9176) % 21) - 10) / 500.0 AS gx,
    0.1 + 0.8 * (((event_id * 40503) % 1000) / 1000.0)
        + (((event_id * 7919) % 21) - 10) / 500.0 AS gy,
    ((event_id * 104729) % 100) / 100.0 AS conf
  FROM events
"""

_VEL = f"""
  SELECT *,
    sqrt( ((gx - lag(gx) OVER w) * {P.DEG_HORIZ}) * ((gx - lag(gx) OVER w) * {P.DEG_HORIZ})
        + ((gy - lag(gy) OVER w) * {P.DEG_VERT}) * ((gy - lag(gy) OVER w) * {P.DEG_VERT}) )
      / (t - lag(t) OVER w) AS vel,
    t - lag(t) OVER w AS dt
  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
"""

EYE_VELOCITY = f"""
WITH g AS ({GAZE_CTE}), v AS ({_VEL})
SELECT user_id, event_id, round(vel, 6) AS vel_deg_s
FROM v WHERE vel IS NOT NULL AND dt > 0
"""

DETECT_SACCADES = f"""
WITH g AS ({GAZE_CTE}), v AS ({_VEL}),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
             CASE WHEN vel > {P.SACCADE_VEL_THRESHOLD} THEN 1 ELSE 0 END AS flag
      FROM v),
f AS (SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS grp
      FROM r WHERE flag = 1)
SELECT user_id,
       min(event_id) AS start_event_id,
       max(event_id) AS end_event_id,
       count(*) AS n_events,
       max(t) - min(t) AS duration_s,
       round(max(vel), 6) AS peak_vel,
       round(sqrt( ((arg_max(gx, rn) - arg_min(gx, rn)) * {P.DEG_HORIZ})
                 * ((arg_max(gx, rn) - arg_min(gx, rn)) * {P.DEG_HORIZ})
                 + ((arg_max(gy, rn) - arg_min(gy, rn)) * {P.DEG_VERT})
                 * ((arg_max(gy, rn) - arg_min(gy, rn)) * {P.DEG_VERT}) ), 6) AS amplitude_deg
FROM f GROUP BY user_id, grp
HAVING max(t) - min(t) >= {P.SACCADE_MIN_S} AND max(t) - min(t) <= {P.SACCADE_MAX_S}
"""

_STEP_US = int(P.RESAMPLE_STEP_S * 1_000_000)

ONOFF_EXPAND = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us, {_T} AS t,
         CASE WHEN event_type='error' THEN 1 ELSE 0 END AS flag
  FROM events
), r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn FROM e
), f AS (
  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS grp
  FROM r WHERE flag = 1
), spans AS (
  SELECT user_id, min(t_us) AS onset_us, max(t_us) AS offset_us
  FROM f GROUP BY user_id, grp
), b AS (
  SELECT user_id,
    CAST(ceil(min(t_us) / {_STEP_US}.0) AS BIGINT) AS h0,
    CAST(floor(max(t_us) / {_STEP_US}.0) AS BIGINT) AS h1
  FROM e GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM b WHERE h1 >= h0
), hits AS (
  SELECT DISTINCT user_id,
    unnest(generate_series(CAST(ceil(onset_us / {_STEP_US}.0) AS BIGINT),
                           CAST(floor(offset_us / {_STEP_US}.0) AS BIGINT))) AS h
  FROM spans
)
SELECT g.user_id AS user_id, g.h * {_STEP_US} AS g_us,
       CASE WHEN hits.h IS NULL THEN 0 ELSE 1 END AS flag
FROM grid g LEFT JOIN hits ON g.user_id = hits.user_id AND g.h = hits.h
"""

ODOMETRY_SPEED = f"""
WITH p AS (
  SELECT user_id, event_id, {_T} AS t,
    ((event_id * 48271) % 2000 - 1000) / 100.0 AS x,
    ((event_id * 69621) % 2000 - 1000) / 100.0 AS y,
    ((event_id * 16807) % 400) / 100.0 AS z
  FROM events
), v AS (
  SELECT *,
    sqrt( (x - lag(x) OVER w) * (x - lag(x) OVER w)
        + (y - lag(y) OVER w) * (y - lag(y) OVER w)
        + (z - lag(z) OVER w) * (z - lag(z) OVER w) )
      / (t - lag(t) OVER w) AS mps,
    t - lag(t) OVER w AS dt
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
)
SELECT user_id, event_id,
  floor(mps * 1e6 + 0.5) / 1e6 AS speed_mps,
  floor(mps * 3600.0 / 1609.34 * 1e6 + 0.5) / 1e6 AS speed_mph,
  CASE WHEN mps > 0 THEN floor(1609.34 / mps / 60.0 * 1e6 + 0.5) / 1e6 END
    AS mins_per_mile
FROM v WHERE mps IS NOT NULL AND dt > 0
"""

# find_epochs (marker_parsing.py:470) composed end-to-end: dup-ts removal
# → brief-episode pre-check → bimodality keep → re-sessionize → in-epoch
# grid clusters with quality gates → per-epoch summary. Every stage
# reuses the fragment already proven green standalone. The det0..s2
# cleaning chain and the f1..s3 epoch-gate chain are shared with the
# filter_and_split / filter_and_cluster variants below (exactly as the
# reference's variants compose the same stages, marker_parsing.py:625/:661).
_MARKER_CLEANED_CTES = f"""det0 AS (
  SELECT user_id, event_id, {_T} AS t, value FROM events WHERE event_type = 'error'
),
det AS (
  SELECT user_id, event_id, t, value FROM (
    SELECT *, count(*) OVER (PARTITION BY user_id, t) AS n_at_ts FROM det0
  ) WHERE n_at_ts = 1
),
e1 AS (
  SELECT *, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > {P.SESSION_GAP_S}
         THEN 1 ELSE 0 END AS new_epoch
  FROM det WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
e2 AS (
  SELECT *, CAST(sum(new_epoch) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS epoch
  FROM e1
),
s1 AS (
  SELECT user_id, event_id, t, value FROM (
    SELECT *, max(t) OVER we - min(t) OVER we AS ep_dur
    FROM e2 WINDOW we AS (PARTITION BY user_id, epoch)
  ) WHERE ep_dur > {P.BRIEF_MIN_S}
),
c AS (
  SELECT *, row_number() OVER ws AS k, sum(value) OVER wc AS s_k,
         sum(value*value) OVER wc AS q_k
  FROM s1
  WINDOW ws AS (PARTITION BY user_id ORDER BY value, event_id),
         wc AS (PARTITION BY user_id ORDER BY value, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c2 AS (
  SELECT *, count(*) OVER wf AS n, last_value(s_k) OVER wf AS s_n,
         last_value(q_k) OVER wf AS q_n
  FROM c WINDOW wf AS (PARTITION BY user_id ORDER BY value, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
cand AS (SELECT *, s_k*s_k/k + (s_n-s_k)*(s_n-s_k)/(n-k) AS objective FROM c2 WHERE k < n),
best AS (
  SELECT user_id, k AS split_k, s_k/k AS c_lo,
    sqrt(greatest(q_k/k - (s_k/k)*(s_k/k), 0.0)) AS std_lo,
    (s_n-s_k)/(n-k) AS c_hi,
    sqrt(greatest((q_n-q_k)/(n-k) - ((s_n-s_k)/(n-k))*((s_n-s_k)/(n-k)), 0.0)) AS std_hi
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY objective DESC, k) AS rnk FROM cand)
  WHERE rnk = 1
),
s2 AS (
  SELECT x.user_id AS user_id, x.event_id AS event_id, x.t AS t, x.value AS value
  FROM c2 x JOIN best b ON x.user_id = b.user_id
  WHERE NOT ((b.c_hi - {P.BIMODAL_STD_SEP}*b.std_hi) > (b.c_lo + {P.BIMODAL_STD_SEP}*b.std_lo))
     OR x.k > b.split_k
)"""

_MARKER_EPOCH_CTES = f"""f1 AS (
  SELECT *, CASE WHEN lag(t) OVER w2 IS NULL OR t - lag(t) OVER w2 > {P.SESSION_GAP_S}
         THEN 1 ELSE 0 END AS new_epoch
  FROM s2 WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id)
),
f2 AS (
  SELECT *, CAST(sum(new_epoch) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS epoch
  FROM f1
),
s3 AS (
  SELECT user_id, event_id, t, value, epoch FROM (
    SELECT *, max(t) OVER wep - min(t) OVER wep AS ep_dur
    FROM f2 WINDOW wep AS (PARTITION BY user_id, epoch)
  ) WHERE ep_dur > {P.SESSION_MIN_S} AND ep_dur < {P.SESSION_MAX_S}
)"""

MARKER_PIPELINE = f"""
WITH {_MARKER_CLEANED_CTES},
{_MARKER_EPOCH_CTES},
cells AS (
  SELECT *, floor(t / {P.GRID_T_EPS_S}) AS cell_t, floor(value / {P.GRID_V_EPS}) AS cell_v
  FROM s3
),
clus AS (
  SELECT user_id, epoch, cell_t, cell_v, count(*) AS n_in_cell,
         median(value) AS c_med
  FROM cells GROUP BY user_id, epoch, cell_t, cell_v
  HAVING count(*) >= {P.GRID_MIN_PTS}
     AND max(t) - min(t) > {P.CLUSTER_MIN_T_S}
     AND max(t) - min(t) < {P.CLUSTER_MAX_T_S}
     AND stddev_pop(value) < {P.CLUSTER_MAX_STD}
),
ep AS (
  SELECT user_id, epoch, min(t) AS t_start, max(t) AS t_end, count(*) AS n_points
  FROM s3 GROUP BY user_id, epoch
),
cl AS (
  SELECT user_id, epoch, count(*) AS n_clusters,
         round(median(c_med), 6) AS med_cluster_value
  FROM clus GROUP BY user_id, epoch
)
SELECT ep.user_id AS user_id, ep.epoch AS epoch, t_start, t_end, n_points,
       n_clusters, med_cluster_value
FROM ep JOIN cl ON ep.user_id = cl.user_id AND ep.epoch = cl.epoch
WHERE n_clusters >= {P.MARKER_MIN_CLUSTERS}
"""

# filter_and_split (marker_parsing.py:625): clean → split → epoch gates,
# one summary row per epoch, no clustering.
MARKER_FILTER_SPLIT = f"""
WITH {_MARKER_CLEANED_CTES},
{_MARKER_EPOCH_CTES}
SELECT user_id, epoch, min(t) AS t_start, max(t) AS t_end,
       max(t) - min(t) AS duration_s, count(*) AS n_points
FROM s3 GROUP BY user_id, epoch
"""

# filter_and_cluster (marker_parsing.py:661): clean → cluster the WHOLE
# stream (no epoch split) with the per-cluster quality gates and the
# per-user min_n_clusters session gate.
MARKER_FILTER_CLUSTER = f"""
WITH {_MARKER_CLEANED_CTES},
cells AS (
  SELECT *, CAST(floor(t / {P.GRID_T_EPS_S}) AS BIGINT) AS cell_t,
         CAST(floor(value / {P.GRID_V_EPS}) AS BIGINT) AS cell_v
  FROM s2
),
clus AS (
  SELECT user_id, cell_t, cell_v, count(*) AS n_in_cell,
         min(t) AS t_start, max(t) AS t_end,
         round(median(value), 6) AS med_value
  FROM cells GROUP BY user_id, cell_t, cell_v
  HAVING count(*) >= {P.GRID_MIN_PTS}
     AND max(t) - min(t) > {P.CLUSTER_MIN_T_S}
     AND max(t) - min(t) < {P.CLUSTER_MAX_T_S}
     AND stddev_pop(value) < {P.CLUSTER_MAX_STD}
),
ok AS (
  SELECT user_id FROM clus GROUP BY user_id
  HAVING count(*) >= {P.MARKER_MIN_CLUSTERS}
)
SELECT c.user_id AS user_id, cell_t, cell_v, n_in_cell, t_start, t_end, med_value
FROM clus c JOIN ok USING (user_id)
"""

DETECT_FIXATIONS = f"""
WITH g AS ({GAZE_CTE}), v AS ({_VEL}),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
             CASE WHEN vel <= {P.SACCADE_VEL_THRESHOLD} THEN 1 ELSE 0 END AS flag
      FROM v),
f AS (SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS grp
      FROM r WHERE flag = 1),
runs AS (
  SELECT user_id,
       min(event_id) AS start_event_id,
       max(event_id) AS end_event_id,
       count(*) AS n_events,
       max(t) - min(t) AS duration_s,
       round(avg(gx) * {P.DEG_HORIZ}, 6) AS centroid_x_deg,
       round(avg(gy) * {P.DEG_VERT}, 6) AS centroid_y_deg,
       round(sqrt( ((max(gx) - min(gx)) * {P.DEG_HORIZ}) * ((max(gx) - min(gx)) * {P.DEG_HORIZ})
                 + ((max(gy) - min(gy)) * {P.DEG_VERT}) * ((max(gy) - min(gy)) * {P.DEG_VERT}) ), 6) AS extent_deg
  FROM f GROUP BY user_id, grp
  HAVING max(t) - min(t) >= {P.FIXATION_MIN_S} AND max(t) - min(t) <= {P.FIXATION_MAX_S}
)
SELECT * FROM runs WHERE extent_deg <= {P.FIXATION_MAX_EXTENT_DEG}
"""

_MC = P.MIN_CONFIDENCE

GAZE_MAP_BINOCULAR = f"""
WITH g AS ({GAZE_CTE}),
ge AS (SELECT *, CAST(event_id % 2 AS INT) AS eye FROM g),
fits AS (
  SELECT user_id, eye,
    regr_slope(gx, px) AS bx, regr_intercept(gx, px) AS ax,
    regr_slope(gy, py) AS by, regr_intercept(gy, py) AS ay
  FROM ge WHERE conf > {_MC} GROUP BY user_id, eye
),
base AS (
  SELECT ge.user_id AS user_id, ge.eye AS eye, event_id, t, conf,
         ax + bx * px AS map_x, ay + by * py AS map_y
  FROM ge JOIN fits ON ge.user_id = fits.user_id AND ge.eye = fits.eye
),
m AS (
  SELECT *,
    last_value(CASE WHEN conf > {_MC} AND eye = 0 THEN t END IGNORE NULLS) OVER wp AS p0_t,
    last_value(CASE WHEN conf > {_MC} AND eye = 0 THEN event_id END IGNORE NULLS) OVER wp AS p0_id,
    first_value(CASE WHEN conf > {_MC} AND eye = 0 THEN t END IGNORE NULLS) OVER wn AS n0_t,
    first_value(CASE WHEN conf > {_MC} AND eye = 0 THEN event_id END IGNORE NULLS) OVER wn AS n0_id,
    last_value(CASE WHEN conf > {_MC} AND eye = 1 THEN t END IGNORE NULLS) OVER wp AS p1_t,
    last_value(CASE WHEN conf > {_MC} AND eye = 1 THEN event_id END IGNORE NULLS) OVER wp AS p1_id,
    first_value(CASE WHEN conf > {_MC} AND eye = 1 THEN t END IGNORE NULLS) OVER wn AS n1_t,
    first_value(CASE WHEN conf > {_MC} AND eye = 1 THEN event_id END IGNORE NULLS) OVER wn AS n1_id
  FROM base
  WINDOW
    wp AS (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    wn AS (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
cand AS (
  SELECT *,
    CASE WHEN eye = 0 THEN p1_t ELSE p0_t END AS cp_t,
    CASE WHEN eye = 0 THEN p1_id ELSE p0_id END AS cp_id,
    CASE WHEN eye = 0 THEN n1_t ELSE n0_t END AS cn_t,
    CASE WHEN eye = 0 THEN n1_id ELSE n0_id END AS cn_id
  FROM m
),
sel AS (
  SELECT *,
    CASE WHEN cn_t IS NULL OR (cp_t IS NOT NULL AND (t - cp_t) <= (cn_t - t))
         THEN cp_id ELSE cn_id END AS pair_id,
    CASE WHEN cn_t IS NULL OR (cp_t IS NOT NULL AND (t - cp_t) <= (cn_t - t))
         THEN t - cp_t ELSE cn_t - t END AS pair_dt
  FROM cand
),
src AS (
  SELECT *,
    CASE WHEN conf <= {_MC} THEN 'mono' || eye
         WHEN pair_id IS NOT NULL AND pair_dt <= {P.BINOCULAR_CUTOFF_S} AND eye = 0 THEN 'binocular'
         WHEN pair_id IS NOT NULL AND pair_dt <= {P.BINOCULAR_CUTOFF_S} AND eye = 1 THEN NULL
         ELSE 'mono' || eye END AS source
  FROM sel
)
SELECT s.user_id AS user_id, s.event_id AS event_id, s.source AS source,
  CASE WHEN s.source = 'binocular' THEN (s.t + p.t) / 2.0 ELSE s.t END AS t_out,
  round(CASE WHEN s.source = 'binocular' THEN (s.map_x + p.map_x) / 2.0 ELSE s.map_x END, 6) AS gaze_x,
  round(CASE WHEN s.source = 'binocular' THEN (s.map_y + p.map_y) / 2.0 ELSE s.map_y END, 6) AS gaze_y,
  round(CASE WHEN s.source = 'binocular' THEN (s.conf + p.conf) / 2.0 ELSE s.conf END, 6) AS conf_out
FROM src s LEFT JOIN base p ON s.user_id = p.user_id AND s.pair_id = p.event_id
WHERE s.source IS NOT NULL
"""

# Eyelid path: deterministic keypoints → pooled closed-form 2-D PCA
# (θ = ½·atan2(2Sxy, Sxx−Syy)) → per-event max aligned lid gap → fraction
# of max opening → velocity-paired closings/openings with duration gates.
# The keypoint CTEs are shared with EYELID_DISTANCE_C2F below.
_EYELID_KP_CTES = f"""e AS (SELECT user_id, event_id, {_T} AS t FROM events),
kp AS (
  SELECT user_id, event_id, t, j,
    j * 10.0 + ((event_id * 7129 + j * 31) % 100) / 50.0 AS xu,
    j * 10.0 + ((event_id * 6037 + j * 37) % 100) / 50.0 AS xl,
    20.0 + ((event_id * 8191 + j * 101) % 300) / 10.0 AS yu,
    -20.0 - ((event_id * 4099 + j * 103) % 300) / 10.0 AS yl
  FROM (SELECT *, unnest(generate_series(0, 4)) AS j FROM e)
)"""

DETECT_BLINKS_EYELID = f"""
WITH {_EYELID_KP_CTES},
pooled AS (
  SELECT user_id, xu AS x, yu AS y FROM kp UNION ALL SELECT user_id, xl, yl FROM kp
),
ang AS (
  SELECT user_id, cos(0.5 * atan2(2.0 * covar_pop(x, y), var_pop(x) - var_pop(y))) AS ct,
         sin(0.5 * atan2(2.0 * covar_pop(x, y), var_pop(x) - var_pop(y))) AS st
  FROM pooled GROUP BY user_id
),
dist AS (
  SELECT kp.user_id AS user_id, event_id, max(t) AS t,
         round(max(ct * (yu - yl) - st * (xu - xl)), 6) AS dist
  FROM kp JOIN ang ON kp.user_id = ang.user_id
  GROUP BY kp.user_id, event_id
),
frc AS (
  SELECT *, dist / max(dist) OVER (PARTITION BY user_id) AS frac FROM dist
),
v AS (
  SELECT *, (frac - lag(frac) OVER w) / (t - lag(t) OVER w) AS vel
  FROM frc WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
m AS (
  SELECT *,
    (vel <= {P.EYELID_NEG_VEL}) AND (lag(vel) OVER w2 IS NULL OR lag(vel) OVER w2 > {P.EYELID_NEG_VEL}) AS is_close,
    (vel >= {P.EYELID_POS_VEL}) AND (lead(vel) OVER w2 IS NULL OR lead(vel) OVER w2 < {P.EYELID_POS_VEL}) AS is_open
  FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id)
),
p AS (
  SELECT *,
    last_value(CASE WHEN is_close THEN t END IGNORE NULLS) OVER wp AS on_t,
    last_value(CASE WHEN is_close THEN event_id END IGNORE NULLS) OVER wp AS on_id
  FROM m
  WINDOW wp AS (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, on_id AS start_event_id, event_id AS end_event_id,
       t - on_t AS duration_s
FROM p
WHERE is_open AND on_t IS NOT NULL
  AND t - on_t >= {P.BLINK_MIN_S} AND t - on_t <= {P.BLINK_MAX_S}
"""


DETECT_BLINKS_PHASED = f"""
WITH {_EYELID_KP_CTES},
pooled AS (
  SELECT user_id, xu AS x, yu AS y FROM kp UNION ALL SELECT user_id, xl, yl FROM kp
),
ang AS (
  SELECT user_id, cos(0.5 * atan2(2.0 * covar_pop(x, y), var_pop(x) - var_pop(y))) AS ct,
         sin(0.5 * atan2(2.0 * covar_pop(x, y), var_pop(x) - var_pop(y))) AS st
  FROM pooled GROUP BY user_id
),
dist AS (
  SELECT kp.user_id AS user_id, event_id, max(t) AS t,
         round(max(ct * (yu - yl) - st * (xu - xl)), 6) AS dist
  FROM kp JOIN ang ON kp.user_id = ang.user_id
  GROUP BY kp.user_id, event_id
),
frc AS (
  SELECT *, dist / max(dist) OVER (PARTITION BY user_id) AS frac FROM dist
),
v AS (
  SELECT *, (frac - lag(frac) OVER w) / (t - lag(t) OVER w) AS vel
  FROM frc WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
ph AS (
  SELECT *, CASE WHEN vel <= {P.EYELID_NEG_VEL} THEN 'c'
                 WHEN vel >= {P.EYELID_POS_VEL} THEN 'o'
                 ELSE 'm' END AS phase
  FROM v WHERE vel IS NOT NULL
),
rn AS (
  SELECT *, sum(CASE WHEN prev IS NULL OR phase <> prev THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM (SELECT *, lag(phase) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev FROM ph)
),
marked AS (
  SELECT user_id, run, phase, t,
    first_value(event_id) OVER wo AS start_id,
    last_value(event_id) OVER wo AS end_id
  FROM rn
  WINDOW wo AS (PARTITION BY user_id, run ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
runs AS (
  SELECT user_id, run, min(phase) AS phase, min(t) AS t0, max(t) AS t1,
         min(start_id) AS start_id, min(end_id) AS end_id
  FROM marked GROUP BY user_id, run
),
tri AS (
  SELECT *,
    lead(phase) OVER wr AS p1, lead(t0) OVER wr AS p1_t0,
    lead(t1) OVER wr AS p1_t1, lead(end_id) OVER wr AS p1_end,
    lead(phase, 2) OVER wr AS p2, lead(t0, 2) OVER wr AS p2_t0,
    lead(t1, 2) OVER wr AS p2_t1, lead(end_id, 2) OVER wr AS p2_end
  FROM runs WINDOW wr AS (PARTITION BY user_id ORDER BY run)
),
bl AS (
  SELECT user_id, start_id AS start_event_id,
    CASE WHEN p1 = 'o' THEN p1_end ELSE p2_end END AS end_event_id,
    t1 - t0 AS close_s,
    CASE WHEN p1 = 'o' THEN 0.0 ELSE p1_t1 - p1_t0 END AS closure_s,
    CASE WHEN p1 = 'o' THEN p1_t1 - p1_t0 ELSE p2_t1 - p2_t0 END AS open_s,
    (CASE WHEN p1 = 'o' THEN p1_t1 ELSE p2_t1 END) - t0 AS duration_s
  FROM tri
  WHERE phase = 'c' AND (p1 = 'o' OR (p1 = 'm' AND p2 = 'o'))
)
SELECT * FROM bl
WHERE close_s >= {P.BLINK_CLOSE_MIN_S} AND close_s <= {P.BLINK_CLOSE_MAX_S}
  AND closure_s <= {P.BLINK_CLOSURE_MAX_S} AND open_s >= {P.BLINK_OPEN_MIN_S}
  AND duration_s >= {P.BLINK_MIN_S} AND duration_s <= {P.BLINK_MAX_S}
"""


def _cramer(tag: str) -> str:
    """Quadratic least-squares coefficients (Cramer on degree-4 moments)
    as SQL select-list entries a{tag}, b{tag}, c{tag} — expression trees
    mirror operators/eyelid.py:eyelid_distance_c2f token-for-token."""
    s0, s1, s2 = f"s0{tag}", f"s1{tag}", f"s2{tag}"
    s3, s4 = f"s3{tag}", f"s4{tag}"
    t0, t1, t2 = f"t0{tag}", f"t1{tag}", f"t2{tag}"
    det = (
        f"({s0} * ({s2} * {s4} - {s3} * {s3})"
        f" - {s1} * ({s1} * {s4} - {s3} * {s2})"
        f" + {s2} * ({s1} * {s3} - {s2} * {s2}))"
    )
    da = (
        f"({t0} * ({s2} * {s4} - {s3} * {s3})"
        f" - {s1} * ({t1} * {s4} - {s3} * {t2})"
        f" + {s2} * ({t1} * {s3} - {s2} * {t2}))"
    )
    db = (
        f"({s0} * ({t1} * {s4} - {s3} * {t2})"
        f" - {t0} * ({s1} * {s4} - {s3} * {s2})"
        f" + {s2} * ({s1} * {t2} - {t1} * {s2}))"
    )
    dc = (
        f"({s0} * ({s2} * {t2} - {t1} * {s3})"
        f" - {s1} * ({s1} * {t2} - {t1} * {s2})"
        f" + {t0} * ({s1} * {s3} - {s2} * {s2}))"
    )
    return (
        f"{da} / {det} AS a{tag}, {db} / {det} AS b{tag}, "
        f"{dc} / {det} AS c{tag}"
    )


def _lid_moments(tag: str, x: str, y: str) -> str:
    return (
        f"sum(1.0) AS s0{tag}, sum({x}) AS s1{tag}, "
        f"sum({x}*{x}) AS s2{tag}, sum({x}*{x}*{x}) AS s3{tag}, "
        f"sum({x}*{x}*{x}*{x}) AS s4{tag}, "
        f"sum({y}) AS t0{tag}, sum({x}*{y}) AS t1{tag}, "
        f"sum({x}*{x}*{y}) AS t2{tag}"
    )


_C2F_C = 100  # coarse resolution (reference default, labeling.py:200)
_C2F_F = 100  # fine resolution
_C2F_GAP = (
    "abs((au + bu * {x} + cu * {x} * {x})"
    " - (al + bl * {x} + cl * {x} * {x}))"
)

# get_eyelid_distance_coarse_to_fine (labeling.py:200): quadratic lid
# fits through the keypoints (closed-form LSQ), coarse C-point gap grid,
# argmax (first-match), fine F-point pass over [x_{j*-1}, x_{j*}]
# including the reference's np-indexing wrap at argmax 0.
EYELID_DISTANCE_C2F = f"""
WITH {_EYELID_KP_CTES},
m AS (
  SELECT user_id, event_id, max(t) AS t,
    least(min(xu), min(xl)) AS x0, greatest(max(xu), max(xl)) AS x1,
    {_lid_moments("u", "xu", "yu")},
    {_lid_moments("l", "xl", "yl")}
  FROM kp GROUP BY user_id, event_id
),
cf AS MATERIALIZED (
  SELECT user_id, event_id, t, x0, x1, {_cramer("u")}, {_cramer("l")} FROM m
),
co AS (
  SELECT *, x0 + j * ((x1 - x0) / {float(_C2F_C - 1)}) AS xj
  FROM (SELECT *, unnest(generate_series(0, {_C2F_C - 1})) AS j FROM cf)
),
cg AS (
  SELECT *, {_C2F_GAP.format(x="xj")} AS gap FROM co
),
best AS (
  SELECT user_id, event_id, t, au, bu, cu, al, bl, cl,
    x0 + (((j - 1) % {_C2F_C} + {_C2F_C}) % {_C2F_C}) * ((x1 - x0) / {float(_C2F_C - 1)}) AS xs,
    x0 + j * ((x1 - x0) / {float(_C2F_C - 1)}) AS xe
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_id
                                 ORDER BY gap DESC, j) AS rn
    FROM cg
  ) WHERE rn = 1
),
fi AS (
  SELECT *, xs + k * (xe - xs) / {float(_C2F_F - 1)} AS xk
  FROM (SELECT *, unnest(generate_series(0, {_C2F_F - 1})) AS k FROM best)
)
SELECT user_id, event_id, max(t) AS t,
       round(max({_C2F_GAP.format(x="xk")}), 6) AS dist
FROM fi GROUP BY user_id, event_id
"""

DETECT_BLINKS = f"""
WITH g AS ({GAZE_CTE}),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn FROM g),
f AS (SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS grp
      FROM r WHERE conf < {P.BLINK_CONF_THRESHOLD})
SELECT user_id,
       min(event_id) AS start_event_id,
       max(event_id) AS end_event_id,
       count(*) AS n_events,
       max(t) - min(t) AS duration_s
FROM f GROUP BY user_id, grp
HAVING max(t) - min(t) >= {P.BLINK_MIN_S} AND max(t) - min(t) <= {P.BLINK_MAX_S}
"""

_RATE_HALF_US = int(P.RATE_WINDOW_S * 1_000_000) // 2

SACCADE_RATE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events WHERE event_type = 'click'
)
SELECT user_id, event_id,
  round(count(*) OVER (PARTITION BY user_id ORDER BY t_us
        RANGE BETWEEN {_RATE_HALF_US} PRECEDING AND {_RATE_HALF_US} FOLLOWING)
        / {P.RATE_WINDOW_S / 3600.0}, 6) AS rate_per_hour
FROM e
"""

QUAT_TO_EULER = """
WITH q AS (
  SELECT event_id,
    ((event_id * 7877) % 1000) / 1000.0 + 0.5 AS qw,
    (((event_id * 104917) % 1000) - 500) / 500.0 AS qx,
    (((event_id * 15485863) % 1000) - 500) / 500.0 AS qy,
    (((event_id * 32452843) % 1000) - 500) / 500.0 AS qz
  FROM events
), n AS (
  SELECT event_id,
    qw / sqrt(qw*qw + qx*qx + qy*qy + qz*qz) AS w,
    qx / sqrt(qw*qw + qx*qx + qy*qy + qz*qz) AS x,
    qy / sqrt(qw*qw + qx*qx + qy*qy + qz*qz) AS y,
    qz / sqrt(qw*qw + qx*qx + qy*qy + qz*qz) AS z
  FROM q
)
SELECT event_id,
  round(atan2(2.0*(w*x + y*z), 1.0 - 2.0*(x*x + y*y)), 6) AS roll,
  round(asin(greatest(least(2.0*(w*y - x*z), 1.0), -1.0)), 6) AS pitch,
  round(atan2(2.0*(w*z + x*y), 1.0 - 2.0*(y*y + z*z)), 6) AS yaw
FROM n
"""


# --- text analysis & dedup & similarity (SURVEY §2.G) -----------------------

DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_docs
FROM documents GROUP BY md5(text)
"""

TOKEN_COUNT = r"""
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
FROM documents
"""

_SW = ", ".join(f"'{s}'" for s in P.STOPWORDS)

TEXT_QUALITY = f"""
WITH d AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len({_TOKENS_SQL}) AS n_tokens,
    len(list_filter({_TOKENS_SQL}, t -> t IN ({_SW}))) AS n_stop,
    length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS n_clean,
    length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS n_alnum
  FROM documents
)
SELECT doc_id, n_tokens,
  floor(n_stop / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 AS stop_ratio,
  floor((n_chars - n_clean) / CAST(n_chars AS DOUBLE) * 1e6 + 0.5) / 1e6 AS punct_ratio,
  floor(n_alnum / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6 AS mean_word_len,
  floor((0.4 * (n_stop / CAST(n_tokens AS DOUBLE))
       + 0.3 * least(n_tokens / 100.0, 1.0)
       + 0.3 * least((n_alnum / CAST(n_tokens AS DOUBLE)) / 8.0, 1.0))
       * (1.0 - (n_chars - n_clean) / CAST(n_chars AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS quality
FROM d WHERE n_tokens > 0
"""

_LANG_COUNTS = ",\n    ".join(
    f"len(list_filter({_TOKENS_SQL}, t -> t IN ({', '.join(repr(m) for m in markers)}))) AS c_{lang}"
    for lang, markers in P.LANG_MARKERS.items()
)

LANG_ID = f"""
WITH d AS (
  SELECT doc_id,
    {_LANG_COUNTS}
  FROM documents
)
SELECT doc_id,
  CASE WHEN c_de > c_en AND c_de > c_es THEN 'de'
       WHEN c_es > c_en AND c_es > c_de THEN 'es'
       ELSE 'en' END AS pred_lang
FROM d
"""

_SHINGLES_POS = f"""
  SELECT doc_id, i AS pos, substring(lower(text), i, {P.SHINGLE_K}) AS sh
  FROM documents, unnest(generate_series(1, greatest(length(text)-{P.SHINGLE_K - 1}, 0))) AS g(i)
  WHERE length(text) >= {P.SHINGLE_K}
"""

CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
),
cnt AS (SELECT doc_id, c, count(*) AS k FROM ch WHERE c != '' GROUP BY doc_id, c),
per AS (
  SELECT *, (k / CAST(sum(k) OVER (PARTITION BY doc_id) AS DOUBLE))
            * log2(k / CAST(sum(k) OVER (PARTITION BY doc_id) AS DOUBLE)) AS term
  FROM cnt
)
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars, count(*) AS n_alphabet,
       floor(-sum(term) * 1000000 + 0.5) / 1000000 AS entropy_bits
FROM per GROUP BY doc_id
"""

_STOP_RE_SQL = "\\b(" + "|".join(P.STOPWORDS) + ")\\b"

SCRUB_STOPWORDS = f"""
SELECT doc_id,
  len(regexp_extract_all(lower(text), '{_STOP_RE_SQL}')) AS n_removed,
  md5(trim(regexp_replace(regexp_replace(lower(text), '{_STOP_RE_SQL}', '', 'g'),
           ' +', ' ', 'g'))) AS clean_md5
FROM documents
"""

DOC_FINGERPRINT = f"""
WITH sh AS ({_SHINGLES_POS}),
h AS (SELECT doc_id, pos, {_h60('sh')} AS hh FROM sh),
wm AS (
  SELECT doc_id, pos,
    min(hh) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN {P.WINNOW_WINDOW - 1} PRECEDING AND CURRENT ROW) AS fp
  FROM h
)
SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= {P.WINNOW_WINDOW}
"""

# MOSS-style pair overlap over the winnowing fingerprints
# (operators/text.py:winnow_overlap): the DOC_FINGERPRINT relation,
# ubiquitous fingerprints (df > WINNOW_MAX_DF) dropped before pairing,
# pair rollup + capped-set per-doc counts, half-up 6dp containment.
WINNOW_OVERLAP = f"""
WITH sh AS ({_SHINGLES_POS}),
h AS (SELECT doc_id, pos, {_h60('sh')} AS hh FROM sh),
wm AS (
  SELECT doc_id, pos,
    min(hh) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN {P.WINNOW_WINDOW - 1} PRECEDING AND CURRENT ROW) AS fp
  FROM h
),
fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos >= {P.WINNOW_WINDOW}),
kept AS (
  SELECT doc_id, fp FROM fps
  WHERE fp IN (SELECT fp FROM fps GROUP BY fp
               HAVING count(*) <= {P.WINNOW_MAX_DF})
),
per_doc AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {P.WINNOW_MIN_SHARED}
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       pa.n_fp AS n_fp_a, pb.n_fp AS n_fp_b,
       floor(s.n_shared / CAST(least(pa.n_fp, pb.n_fp) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS containment
FROM shared s
JOIN per_doc pa ON pa.doc_id = s.doc_a
JOIN per_doc pb ON pb.doc_id = s.doc_b
"""

# sh is the 60-bit md5 hash of the shingle text — identical to the Spark
# side's _shingle_sets, so joins/sets over it match bit-for-bit
_SHINGLE_SETS = (
    f"SELECT DISTINCT doc_id, {_h60('sh')} AS sh FROM ({_SHINGLES_POS})"
)

_VERIFY_JACCARD = f"""
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_common
  FROM pairs p
  JOIN shs sa ON sa.doc_id = p.doc_a
  JOIN shs sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
  GROUP BY p.doc_a, p.doc_b
),
verified AS (
  SELECT c.doc_a, c.doc_b,
    round(c.n_common / CAST(na.n_sh + nb.n_sh - c.n_common AS DOUBLE), 6) AS jaccard
  FROM common c
  JOIN sizes na ON na.doc_id = c.doc_a
  JOIN sizes nb ON nb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {P.JACCARD_THRESHOLD}
"""

DEDUP_NGRAM_JACCARD = f"""
WITH shs AS ({_SHINGLE_SETS}),
dfs AS (SELECT sh, count(*) AS df FROM shs GROUP BY sh),
doc_sizes AS (SELECT doc_id, count(*) AS n_sh FROM shs GROUP BY doc_id),
prefix AS (
  SELECT doc_id, sh FROM (
    SELECT s.doc_id, s.sh, z.n_sh,
           row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rnk
    FROM shs s
    JOIN dfs d USING (sh)
    JOIN doc_sizes z USING (doc_id)
  ) t
  WHERE rnk <= n_sh - CAST(ceil({P.JACCARD_THRESHOLD} * n_sh) AS BIGINT) + 1
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
{_VERIFY_JACCARD}
"""

_MH_AGGS = ",\n    ".join(
    f"min(({a} * h31 + {b}) % {P.MINHASH_PRIME}) AS mh{i}"
    for i, (a, b) in enumerate(P.MINHASH_AB)
)
_ROWS_PER_BAND = P.MINHASH_PERMS // P.MINHASH_BANDS
_BAND_SELECTS = "\n  UNION ALL\n".join(
    "SELECT doc_id, concat_ws('-', '{b}', {cols}) AS band_key FROM sig".format(
        b=b,
        cols=", ".join(f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)),
    )
    for b in range(P.MINHASH_BANDS)
)

DEDUP_MINHASH_LSH = f"""
WITH shs AS ({_SHINGLE_SETS}),
hs AS (SELECT doc_id, sh, sh % {P.MINHASH_PRIME} AS h31 FROM shs),
sig AS (
  SELECT doc_id,
    {_MH_AGGS}
  FROM hs GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
{_VERIFY_JACCARD}
"""

# Connected components over the minhash-LSH pair graph: min reachable id
# per node via the same recursive-CTE pattern as CLUSTER_DBSCAN; the dup
# CTE is the full (nested-WITH) pair query verbatim.
_COMPONENTS = f"""
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM dup
  UNION ALL
  SELECT doc_b, doc_a FROM dup
),
nodes AS (SELECT DISTINCT s AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.s, r.m FROM edges e JOIN reach r ON e.d = r.n
),
lab AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY n)
"""

DEDUP_CLUSTERS = f"""
WITH RECURSIVE dup AS (
{DEDUP_MINHASH_LSH}
),
{_COMPONENTS}
SELECT l.doc_id, l.cluster_id, CAST(c.cnt AS INT) AS cluster_size
FROM lab l
JOIN (SELECT cluster_id, count(*) AS cnt FROM lab GROUP BY cluster_id) c
  USING (cluster_id)
"""

DEDUP_PRUNE = f"""
WITH RECURSIVE dup AS (
{DEDUP_MINHASH_LSH}
),
{_COMPONENTS}
SELECT d.doc_id,
       CASE WHEN l.doc_id IS NULL THEN 'unique' ELSE 'canonical' END AS status
FROM documents d
LEFT JOIN lab l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
"""

NGRAM_TOPK = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
grams AS (
  SELECT array_to_string(list_slice(t, i, i + 1), ' ') AS ngram
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
)
SELECT ngram, count(*) AS freq
FROM grams GROUP BY ngram
ORDER BY freq DESC, ngram
LIMIT 25
"""

PII_SCRUB = f"""
WITH s0 AS (SELECT doc_id, text AS t FROM documents),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{P.PII_PATTERNS[0][0]}')) AS n_email,
         regexp_replace(t, '{P.PII_PATTERNS[0][0]}', '{P.PII_PATTERNS[0][1]}', 'g') AS t
  FROM s0
),
s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t, '{P.PII_PATTERNS[1][0]}')) AS n_phone,
         regexp_replace(t, '{P.PII_PATTERNS[1][0]}', '{P.PII_PATTERNS[1][1]}', 'g') AS t
  FROM s1
)
SELECT doc_id, n_email, n_phone,
       len(regexp_extract_all(t, '{P.PII_PATTERNS[2][0]}')) AS n_ip,
       regexp_replace(t, '{P.PII_PATTERNS[2][0]}', '{P.PII_PATTERNS[2][1]}', 'g') AS clean_text
FROM s2
"""

REPETITION_SCORE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS_SQL} AS arr FROM documents
  WHERE len({_TOKENS_SQL}) >= 1
),
toks AS (
  SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
  FROM base
),
wc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
tops AS (SELECT doc_id, max(c) AS mx, sum(c) AS n FROM wc GROUP BY 1),
bg AS (
  SELECT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM toks
),
bgs AS (SELECT doc_id, count(g) AS n2, count(DISTINCT g) AS d2 FROM bg GROUP BY 1)
SELECT doc_id,
       floor(mx / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS top_word_frac,
       CASE WHEN n2 >= 1
            THEN floor((1.0 - d2 / CAST(n2 AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
            ELSE 0.0 END AS dup_2gram_frac
FROM tops LEFT JOIN bgs USING (doc_id)
"""

CURATION_PIPELINE = f"""
WITH RECURSIVE dup AS (
{DEDUP_MINHASH_LSH}
),
{_COMPONENTS},
tq AS ({TEXT_QUALITY}),
lg AS ({LANG_ID}),
en AS ({CHAR_ENTROPY}),
keep AS (
  SELECT d.doc_id,
         CASE WHEN l.doc_id IS NULL THEN 'unique' ELSE 'canonical' END AS status
  FROM documents d
  LEFT JOIN lab l ON d.doc_id = l.doc_id
  WHERE l.doc_id IS NULL OR l.cluster_id = d.doc_id
)
SELECT tq.doc_id, tq.n_tokens, tq.quality, en.entropy_bits, keep.status
FROM tq
JOIN lg ON tq.doc_id = lg.doc_id
JOIN en ON tq.doc_id = en.doc_id
JOIN keep ON tq.doc_id = keep.doc_id
WHERE lg.pred_lang = '{P.CURATION_LANG}'
  AND tq.n_tokens >= {P.CURATION_MIN_TOKENS}
  AND tq.quality >= {P.CURATION_MIN_QUALITY}
  AND en.entropy_bits BETWEEN {P.CURATION_ENTROPY_LO} AND {P.CURATION_ENTROPY_HI}
"""

CURATION_FULL = f"""
SELECT c.doc_id, c.n_tokens, c.quality, c.entropy_bits, c.status,
       r.top_word_frac, r.dup_2gram_frac, p.n_pii
FROM ({CURATION_PIPELINE}) c
JOIN ({REPETITION_SCORE}) r USING (doc_id)
JOIN (SELECT doc_id, n_email + n_phone + n_ip AS n_pii
      FROM ({PII_SCRUB})) p USING (doc_id)
WHERE r.top_word_frac <= {P.CURATION_MAX_TOP_WORD}
  AND r.dup_2gram_frac <= {P.CURATION_MAX_DUP_2GRAM}
"""


_BIT_SUMS = ",\n    ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(P.SIMHASH_BITS)
)
_SIMHASH_EXPR = " + ".join(
    f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
    for j in range(P.SIMHASH_BITS)
)

DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
h AS (SELECT doc_id, {_h60('tok')} AS h FROM toks),
sums AS (
  SELECT doc_id,
    {_BIT_SUMS}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_EXPR} AS simhash FROM sums
"""

_COS = "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"

DEDUP_EMBEDDING_COSINE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round({_COS}, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_COS}, 6) >= {P.COSINE_DUP_THRESHOLD}
"""

def _lit(arr) -> str:
    return "[" + ", ".join(repr(float(x)) for x in arr) + "]"


# Banded sign-LSH near-dup: same 32 literal planes as the Spark plan;
# candidates share a 4-bit sign bucket in ANY of the 8 bands, then the
# exact rounded cosine decides. Output = the LSH-reachable subset of
# DEDUP_EMBEDDING_COSINE (deterministic: planes are shared literals, and
# both engines round the plane dot to 6 decimals BEFORE the sign test so
# float summation-order drift cannot flip a bucket in one engine only).
# Candidates come from per-band equi-joins over an exploded (band, key)
# relation, not an OR-of-bands nested loop: the OR form forced DuckDB to
# re-evaluate the 16 band-key expressions per PAIR (measured 31.6 s ->
# 0.2 s at sf0.01 for identical output).
_LSH_BAND_KEYS = ", ".join(
    " + ".join(
        f"CASE WHEN round(list_inner_product(embedding::DOUBLE[], {_lit(plane)}::DOUBLE[]), 6) > 0 THEN {1 << j} ELSE 0 END"
        for j, plane in enumerate(
            P.DEDUP_LSH_PLANES[b * P.DEDUP_LSH_BITS : (b + 1) * P.DEDUP_LSH_BITS]
        )
    )
    + f" AS k{b}"
    for b in range(P.DEDUP_LSH_BANDS)
)

_LSH_BAND_ROWS = "\n  UNION ALL\n  ".join(
    f"SELECT vec_id, {b} AS band, k{b} AS key FROM v"
    for b in range(P.DEDUP_LSH_BANDS)
)

DEDUP_EMBEDDING_LSH = f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, embedding, {_LSH_BAND_KEYS} FROM embeddings
),
e AS MATERIALIZED (
  {_LSH_BAND_ROWS}
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM e x JOIN e y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
)
SELECT c.vec_a, c.vec_b, round({_COS}, 6) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.vec_a
JOIN embeddings b ON b.vec_id = c.vec_b
WHERE round({_COS}, 6) >= {P.COSINE_DUP_THRESHOLD}
"""

ANN_COSINE_TOPK = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, round({_COS}, 6) AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < {P.ANN_N_QUERIES} AND b.vec_id >= {P.ANN_N_QUERIES}
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {P.ANN_K}
"""

# exact-kNN label classification (operators/similarity.py:
# knn_label_accuracy): majority label of the k exact-cosine neighbors
# vs the probe's own label; ties break (votes desc, label asc).
KNN_LABEL_ACCURACY = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_COS}, 6) AS cosine
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < {P.KNN_N_QUERIES} AND b.vec_id >= {P.KNN_N_QUERIES}
), topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
           ) AS rank
    FROM scored
  ) t WHERE rank <= {P.KNN_K}
), votes AS (
  SELECT t.query_id, CAST(e.label AS INTEGER) AS lbl,
         count(*) AS n_votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY t.query_id, CAST(e.label AS INTEGER)
), pred AS (
  SELECT query_id, lbl AS pred_label, n_votes FROM (
    SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY n_votes DESC, lbl
           ) AS r
    FROM votes
  ) t WHERE r = 1
)
SELECT q.vec_id AS query_id,
       CAST(q.label AS INTEGER) AS true_label,
       p.pred_label,
       p.n_votes,
       p.pred_label = CAST(q.label AS INTEGER) AS correct
FROM embeddings q JOIN pred p ON p.query_id = q.vec_id
WHERE q.vec_id < {P.KNN_N_QUERIES}
"""

# hard-negative mining (operators/similarity.py:mine_hard_negatives):
# per probe, the k most-similar OTHER-label corpus vectors — the
# contrastive-training pair miner; ann_cosine_topk's ranking with the
# label-inequality filter ahead of the window.
MINE_HARD_NEGATIVES = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round({_COS}, 6) AS cosine,
         CAST(a.label AS INTEGER) AS query_label,
         CAST(b.label AS INTEGER) AS neighbor_label
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < {P.ANN_N_QUERIES} AND b.vec_id >= {P.ANN_N_QUERIES}
  WHERE CAST(a.label AS INTEGER) <> CAST(b.label AS INTEGER)
)
SELECT query_id, rank, neighbor_id, cosine, query_label, neighbor_label
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS rank
  FROM scored
) t WHERE rank <= {P.ANN_K}
"""

# triplet assembly (operators/similarity.py:mine_triplets): per probe,
# the top-1 same-label positive joined against each of the k hardest
# other-label negatives, with margin = pos_cos - neg_cos.
MINE_TRIPLETS = f"""
WITH scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS neighbor_id,
         round({_COS}, 6) AS cosine,
         CAST(a.label AS INTEGER) = CAST(b.label AS INTEGER) AS is_pos
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < {P.ANN_N_QUERIES} AND b.vec_id >= {P.ANN_N_QUERIES}
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY qid, is_pos ORDER BY cosine DESC, neighbor_id
         ) AS rank
  FROM scored
), pos AS (
  SELECT qid, neighbor_id AS positive_id, cosine AS pos_cos
  FROM ranked WHERE is_pos AND rank = 1
), neg AS (
  SELECT qid, rank, neighbor_id AS negative_id, cosine AS neg_cos
  FROM ranked WHERE NOT is_pos AND rank <= {P.ANN_K}
)
SELECT p.qid AS query_id, n.rank, p.positive_id, p.pos_cos,
       n.negative_id, n.neg_cos,
       round(p.pos_cos - n.neg_cos, 6) AS margin
FROM pos p JOIN neg n ON n.qid = p.qid
"""

# per-label separation report (operators/similarity.py:
# label_separation): exact micro-unit centroids, cohesion mean from
# micro-quantized member cosines, nearest-other-centroid confusability.
LABEL_SEPARATION = """
WITH dims AS (
  SELECT CAST(label AS INTEGER) AS label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(floor(unnest(embedding)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS q
  FROM embeddings
), sums AS (
  SELECT label, pos, CAST(sum(q) AS BIGINT) AS s, count(*) AS n
  FROM dims GROUP BY label, pos
), carr AS (
  SELECT label, list((CAST(s AS DOUBLE) / 1e6) / n ORDER BY pos) AS cv
  FROM sums GROUP BY label
), intra AS (
  SELECT e.label, count(*) AS n_vecs,
         CAST(sum(CAST(floor(round(list_cosine_similarity(
               e.embedding::DOUBLE[], c.cv), 6) * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS sq
  FROM (SELECT CAST(label AS INTEGER) AS label, embedding FROM embeddings) e
  JOIN carr c ON c.label = e.label
  GROUP BY e.label
), nearest AS (
  SELECT label, nn_label, nn_cos FROM (
    SELECT a.label, b.label AS nn_label,
           round(list_cosine_similarity(a.cv, b.cv), 6) AS nn_cos,
           row_number() OVER (
             PARTITION BY a.label
             ORDER BY round(list_cosine_similarity(a.cv, b.cv), 6) DESC,
                      b.label
           ) AS r
    FROM carr a JOIN carr b ON a.label <> b.label
  ) t WHERE r = 1
)
SELECT i.label, i.n_vecs,
       floor(CAST(i.sq AS DOUBLE) / i.n_vecs + 0.5) / 1e6 AS intra_mean_cos,
       n.nn_label, n.nn_cos,
       floor((floor(CAST(i.sq AS DOUBLE) / i.n_vecs + 0.5) / 1e6 - n.nn_cos)
             * 1e6 + 0.5) / 1e6 AS margin
FROM intra i JOIN nearest n ON n.label = i.label
"""

_PLANE_DOTS = " + ".join(
    f"CASE WHEN round(list_inner_product(embedding::DOUBLE[], {_lit(plane)}::DOUBLE[]), 6) > 0 THEN {1 << p} ELSE 0 END"
    for p, plane in enumerate(P.LSH_PLANES)
)

# multi-probe: each query probes its own bucket + the 8 Hamming-1
# neighbors (matches operators/similarity.py:ann_lsh multiprobe=True)
_PROBE_LIST = "[bucket, " + ", ".join(
    f"xor(bucket, {1 << p})" for p in range(len(P.LSH_PLANES))
) + "]"

ANN_LSH = f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, embedding, {_PLANE_DOTS} AS bucket FROM embeddings
), probes AS (
  SELECT vec_id AS query_id, embedding AS qemb, unnest({_PROBE_LIST}) AS bucket
  FROM v WHERE vec_id < {P.ANN_N_QUERIES}
), scored AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qemb::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
  FROM probes p JOIN v b ON p.bucket = b.bucket AND b.vec_id >= {P.ANN_N_QUERIES}
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= 3
"""

ANN_RECALL = f"""
WITH exact AS ({ANN_COSINE_TOPK}), approx AS ({ANN_LSH})
SELECT e.query_id AS query_id, count(*) AS n_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       floor(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall_at_k
FROM exact e
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""

VECTOR_NORM = """
SELECT vec_id,
  round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))), 6) AS l2_norm
FROM embeddings
"""


def _embed_project_sql() -> str:
    """Mirror of operators/similarity.py:embed_project — the identical
    hash-derived ±1 sign matrix and the identical left-associative sum
    written term-for-term, so the projection is bit-equal before the
    shared half-up 6dp rounding. Registry face is posexploded to scalar
    rows (the hash_embed canonicalizer lesson)."""
    from vedb_gaze_spark.operators.similarity import rp_signs

    signs = rp_signs()
    d_out = len(signs)
    d_in = len(signs[0])
    projs = [
        "floor(("
        + " + ".join(
            f"({signs[j][i]}) * (embedding[{i + 1}]::DOUBLE)"
            for i in range(d_in)
        )
        + ") * 1e6 + 0.5) / 1e6"
        for j in range(d_out)
    ]
    branches = "\nUNION ALL\n".join(
        f"SELECT vec_id, CAST({j} AS INTEGER) AS dim, {p} AS value"
        " FROM embeddings"
        for j, p in enumerate(projs)
    )
    return branches


EMBED_PROJECT = _embed_project_sql()

MULTIMODAL_META = f"""
WITH d AS (
  SELECT doc_id, encode(text) AS payload, {_h60('text')} AS h FROM documents
)
SELECT doc_id,
  octet_length(payload) AS n_bytes,
  md5(text) AS content_md5,
  h % 1024 + 16 AS width,
  (h >> 10) % 1024 + 16 AS height,
  h % 3 + 1 AS channels
FROM d JOIN documents USING (doc_id)
"""


# --- calibration & gaze error (SURVEY §2.D/E) --------------------------------

_PPD = repr((P.IMAGE_W / P.DEG_HORIZ + P.IMAGE_H / P.DEG_VERT) / 2.0)

# model_n=3 basis with the two-pass outlier cut: closed-form normal
# equations on population moments — coefficient expression trees mirror
# the Spark plan token-for-token so both engines walk the same arithmetic.
_C3 = """
  SELECT user_id,
    (syy * sxgx - sxy * sygx) / (sxx * syy - sxy * sxy) AS bx1,
    (sxx * sygx - sxy * sxgx) / (sxx * syy - sxy * sxy) AS bx2,
    (syy * sxgy - sxy * sygy) / (sxx * syy - sxy * sxy) AS by1,
    (sxx * sygy - sxy * sxgy) / (sxx * syy - sxy * sxy) AS by2,
    mpx, mpy, mgx, mgy, n
  FROM {src}
"""

_MOM3 = """
  SELECT user_id,
    var_pop(px) AS sxx, var_pop(py) AS syy, covar_pop(px, py) AS sxy,
    covar_pop(px, gx) AS sxgx, covar_pop(py, gx) AS sygx,
    covar_pop(px, gy) AS sxgy, covar_pop(py, gy) AS sygy,
    avg(px) AS mpx, avg(py) AS mpy, avg(gx) AS mgx, avg(gy) AS mgy,
    count(*) AS n
  FROM {src} GROUP BY user_id
"""

_ERR3 = (
    "sqrt( (ax + bx1*px + bx2*py - gx)*(ax + bx1*px + bx2*py - gx)"
    "    + (ay + by1*px + by2*py - gy)*(ay + by1*px + by2*py - gy) )"
)

CALIBRATION_POLY3 = f"""
WITH g AS ({GAZE_CTE}),
f AS (SELECT * FROM g WHERE conf > {P.MIN_CONFIDENCE}),
mo1 AS ({_MOM3.format(src="f")}),
c1 AS ({_C3.format(src="mo1")}),
c1b AS (SELECT *, mgx - bx1*mpx - bx2*mpy AS ax, mgy - by1*mpx - by2*mpy AS ay FROM c1),
e1 AS (
  SELECT f.user_id AS user_id, px, py, gx, gy, n, {_ERR3} AS err
  FROM f JOIN c1b ON f.user_id = c1b.user_id
),
t1 AS (
  SELECT user_id, median(err) + 2.0 * stddev_pop(err) AS thr,
         round(sqrt(avg(err*err)), 6) AS rmse_pass1,
         any_value(n) AS n_points
  FROM e1 GROUP BY user_id
),
inl AS (
  SELECT e1.user_id AS user_id, px, py, gx, gy
  FROM e1 JOIN t1 ON e1.user_id = t1.user_id WHERE err < thr
),
mo2 AS ({_MOM3.format(src="inl")}),
c2 AS ({_C3.format(src="mo2")}),
c2b AS (SELECT *, mgx - bx1*mpx - bx2*mpy AS ax, mgy - by1*mpx - by2*mpy AS ay FROM c2),
e2 AS (
  SELECT inl.user_id AS user_id, {_ERR3} AS err2
  FROM inl JOIN c2b ON inl.user_id = c2b.user_id
),
o2 AS (
  SELECT user_id, count(*) AS n_inliers,
         round(sqrt(avg(err2*err2)), 6) AS rmse_pass2
  FROM e2 GROUP BY user_id
)
SELECT t1.user_id AS user_id, CAST(n_points AS BIGINT) AS n_points,
       CAST(n_inliers AS BIGINT) AS n_inliers, rmse_pass1, rmse_pass2
FROM t1 JOIN o2 ON t1.user_id = o2.user_id
"""

CALIBRATION_LINEAR = f"""
WITH g AS ({GAZE_CTE}),
f AS (SELECT * FROM g WHERE conf > {P.MIN_CONFIDENCE}),
fit AS (
  SELECT user_id,
    regr_slope(gx, px) AS bx, regr_intercept(gx, px) AS ax,
    regr_slope(gy, py) AS by, regr_intercept(gy, py) AS ay,
    count(*) AS n_points
  FROM f GROUP BY user_id
),
m AS (
  SELECT f.user_id AS user_id,
         ax + bx * px - gx AS ex, ay + by * py - gy AS ey,
         bx, ax, by, ay, n_points
  FROM f JOIN fit ON f.user_id = fit.user_id
)
SELECT user_id,
  round(any_value(bx), 6) AS slope_x,
  round(any_value(ax), 6) AS intercept_x,
  round(any_value(by), 6) AS slope_y,
  round(any_value(ay), 6) AS intercept_y,
  any_value(n_points) AS n_points,
  round(sqrt(avg(ex*ex + ey*ey)), 6) AS rmse
FROM m GROUP BY user_id
"""

GAZE_ERROR = f"""
WITH g AS ({GAZE_CTE}),
f AS (SELECT * FROM g WHERE conf > {P.MIN_CONFIDENCE}),
e AS (
  SELECT *,
    sqrt( ((gx-mx)*{P.IMAGE_W}) * ((gx-mx)*{P.IMAGE_W})
        + ((gy-my)*{P.IMAGE_H}) * ((gy-my)*{P.IMAGE_H}) ) / {_PPD} AS err
  FROM f
),
s AS (
  SELECT *, median(err) OVER (PARTITION BY user_id) AS med_err,
         stddev_pop(err) OVER (PARTITION BY user_id) AS std_err
  FROM e
)
SELECT user_id, event_id, round(err, 6) AS err_deg,
       round(atan2((gx - mx) * {P.IMAGE_W}, (gy - my) * {P.IMAGE_H}), 6) AS err_angle
FROM s WHERE abs(err - med_err) <= {P.ERROR_OUTLIER_STDS} * std_err
"""

GAZE_ERROR_WEIGHTED = f"""
WITH g AS ({GAZE_CTE}),
f AS (SELECT * FROM g WHERE conf > {P.MIN_CONFIDENCE}),
e AS (
  SELECT *,
    sqrt( ((gx-mx)*{P.IMAGE_W}) * ((gx-mx)*{P.IMAGE_W})
        + ((gy-my)*{P.IMAGE_H}) * ((gy-my)*{P.IMAGE_H}) ) / {_PPD} AS err,
    greatest(least(CAST(floor(gx * {P.HIST_BINS}) AS INT), {P.HIST_BINS - 1}), 0) AS bin_x,
    greatest(least(CAST(floor(gy * {P.HIST_BINS}) AS INT), {P.HIST_BINS - 1}), 0) AS bin_y
  FROM f
),
n AS (SELECT *, count(*) OVER (PARTITION BY user_id) AS n_user FROM e)
SELECT user_id, bin_x, bin_y,
  count(*) AS n_points,
  round(avg(err), 6) AS mean_err,
  round(count(*) / CAST(any_value(n_user) AS DOUBLE), 6) AS density
FROM n GROUP BY user_id, bin_x, bin_y
"""


# --- composed end-to-end pipeline (plans/pipeline.py) -----------------------

GAZE_PIPELINE = f"""
WITH g AS ({GAZE_CTE}),
fit AS (
  SELECT user_id,
    regr_slope(gx, px) AS bx, regr_intercept(gx, px) AS ax,
    regr_slope(gy, py) AS by, regr_intercept(gy, py) AS ay,
    count(*) AS n_calib
  FROM g WHERE conf > {P.MIN_CONFIDENCE}
  GROUP BY user_id
),
lab AS (
  SELECT g.user_id, f.n_calib,
    sqrt( (((f.ax + f.bx * g.px) - g.mx) * {P.DEG_HORIZ})
        * (((f.ax + f.bx * g.px) - g.mx) * {P.DEG_HORIZ})
        + (((f.ay + f.by * g.py) - g.my) * {P.DEG_VERT})
        * (((f.ay + f.by * g.py) - g.my) * {P.DEG_VERT}) ) AS err_deg,
    sqrt( ((g.gx - lag(g.gx) OVER w) * {P.DEG_HORIZ})
        * ((g.gx - lag(g.gx) OVER w) * {P.DEG_HORIZ})
        + ((g.gy - lag(g.gy) OVER w) * {P.DEG_VERT})
        * ((g.gy - lag(g.gy) OVER w) * {P.DEG_VERT}) )
      / (g.t - lag(g.t) OVER w) AS vel,
    CASE WHEN g.conf < {P.BLINK_CONF_THRESHOLD} THEN 1 ELSE 0 END AS is_blink
  FROM g JOIN fit f USING (user_id)
  WINDOW w AS (PARTITION BY g.user_id ORDER BY g.t, g.event_id)
)
SELECT user_id,
  min(n_calib)                              AS n_calib,
  count(*)                                  AS n_samples,
  round(sqrt(avg(err_deg * err_deg)), 6)    AS rmse_deg,
  round(median(err_deg), 6)                 AS median_err_deg,
  round(avg(is_blink), 6)                   AS blink_frac,
  round(median(vel), 6)                     AS median_vel_deg_s
FROM lab
GROUP BY user_id
"""


# --- IVF ANN (operators/similarity.py:ann_ivf) ------------------------------

def _ivf_dot(col: str, cent: tuple) -> str:
    # native inner product, not list_transform over a literal array:
    # DuckDB re-constructs a `(arr::DOUBLE[])[i]` literal per ELEMENT
    # access, which made the 16-centroid dot block ~100x slower than the
    # built-in (measured 7.4 s -> 0.07 s for the whole ANN_IVF oracle).
    # round-6 keeps the value identical to Spark's sequential fold.
    arr = "[" + ", ".join(repr(float(x)) for x in cent) + "]"
    return f"round(list_inner_product({col}::DOUBLE[], {arr}::DOUBLE[]), 6)"


_IVF_N = len(P.IVF_CENTROIDS)
_IVF_DOTS = ",\n    ".join(
    f"{_ivf_dot('embedding', c)} AS d{i}" for i, c in enumerate(P.IVF_CENTROIDS)
)
_IVF_MAX = "greatest(" + ", ".join(f"d{i}" for i in range(_IVF_N)) + ")"
_IVF_CASE = (
    "CASE " + " ".join(f"WHEN d{i} = mx THEN {i}" for i in range(_IVF_N)) + " END"
)
_IVF_PROBE_SELECTS = "\n  UNION ALL\n  ".join(
    f"SELECT vec_id AS query_id, embedding, {_ivf_dot('embedding', c)} AS d, {i} AS cell "
    f"FROM embeddings WHERE vec_id < {P.ANN_N_QUERIES}"
    for i, c in enumerate(P.IVF_CENTROIDS)
)

ANN_IVF = f"""
WITH dots AS MATERIALIZED (
  SELECT vec_id, embedding,
    {_IVF_DOTS}
  FROM embeddings WHERE vec_id >= {P.ANN_N_QUERIES}
), corpus AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, embedding, {_IVF_CASE} AS cell
  FROM (SELECT *, {_IVF_MAX} AS mx FROM dots) t
), qdots AS MATERIALIZED (
  {_IVF_PROBE_SELECTS}
), probed AS (
  SELECT query_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cell) AS pr
    FROM qdots
  ) t WHERE pr <= {P.IVF_PROBES}
), scored AS (
  SELECT a.query_id, b.neighbor_id, round({_COS}, 6) AS cosine
  FROM probed a JOIN corpus b ON a.cell = b.cell
)
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {P.ANN_K}
"""


MULTIMODAL_SAMPLE = """
SELECT doc_id, unnest(generate_series(0, (octet_length(encode(text)) % 7 + 1) - 1, 3)) AS frame_idx
FROM documents
"""


# Decode stub oracle: byte value i = 16*hi_nibble + lo_nibble of hex pair
# i in hex(payload); mean_byte is an exact-integer sum / n in both engines
# (integer sums are exact in float64), HALF_UP-rounded identically.
# Evenly-spaced thumbnail sampling: this corpus is pure ASCII
# (octet_length(encode(text)) == length(text) at every SF), so the
# character at position p IS the byte at position p and md5 of the
# concatenated characters equals md5 of the sampled byte array.
MULTIMODAL_RESIZE = """
WITH b AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
),
picks AS (
  SELECT doc_id, i,
         substring(text, CAST((i * n) // 16 AS INT) + 1, 1) AS ch
  FROM (SELECT doc_id, text, n, unnest(generate_series(0, 15)) AS i FROM b)
),
agg AS (
  SELECT doc_id,
         md5(string_agg(ch, '' ORDER BY i)) AS thumb_md5,
         floor(avg(ascii(ch)) * 1000000 + 0.5) / 1000000 AS mean_px
  FROM picks GROUP BY doc_id
)
SELECT b.doc_id AS doc_id, agg.thumb_md5, agg.mean_px,
       CAST(b.n AS INT) AS n_src_bytes
FROM b JOIN agg ON b.doc_id = agg.doc_id
"""

MULTIMODAL_DECODE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
byt AS (
  SELECT doc_id,
    (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
      + strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1 AS bv
  FROM (SELECT doc_id, hx, n, unnest(generate_series(1, n)) AS i FROM b)
),
agg AS (SELECT doc_id, avg(bv) AS mb FROM byt GROUP BY doc_id)
SELECT b.doc_id AS doc_id,
  CAST(b.n AS INT) AS n_bytes,
  floor(coalesce(agg.mb, 0.0) * 1000000 + 0.5) / 1000000 AS mean_byte,
  CAST(b.n % 7 + 1 AS INT) AS n_frames
FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id
"""


# 16-bin byte histogram of the payload: bin = byte >> 4 = the first hex
# digit of each byte pair in hex(payload). Weight rounding is the same
# floor(x*1e6+0.5)/1e6 double arithmetic the Spark stub applies, so values
# hash identically.
MULTIMODAL_FEATURES = f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
),
nib AS (
  SELECT doc_id, strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1 AS bin_idx
  FROM (SELECT doc_id, hx, n, unnest(generate_series(1, n)) AS i FROM b)
),
cnt AS (SELECT doc_id, bin_idx, count(*) AS c FROM nib GROUP BY doc_id, bin_idx),
bins AS (
  SELECT doc_id, n, unnest(generate_series(0, {P.FEATURE_BINS - 1})) AS bin_idx
  FROM b
)
SELECT bins.doc_id AS doc_id, CAST(bins.bin_idx AS INT) AS bin_idx,
  CASE WHEN bins.n = 0 THEN 0.0
       ELSE floor(coalesce(cnt.c, 0) / CAST(bins.n AS DOUBLE) * 1000000 + 0.5)
            / 1000000
  END AS weight
FROM bins LEFT JOIN cnt
  ON bins.doc_id = cnt.doc_id AND bins.bin_idx = cnt.bin_idx
"""

# --- corpus-composition family (r4) --------------------------------------

_LD_W = P.LINE_DEDUP_WORDS

LINE_DEDUP = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
),
segs AS (
  SELECT doc_id, i - 1 AS seg_no,
         array_to_string(ws[((i-1)*{_LD_W}+1):((i-1)*{_LD_W}+{_LD_W})], ' ') AS seg
  FROM w, unnest(generate_series(1, CAST(ceil(len(ws) / {_LD_W}.0) AS BIGINT))) AS t(i)
),
flagged AS (
  SELECT doc_id, seg_no, seg,
         CASE WHEN row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) = 1
              THEN 1 ELSE 0 END AS keep
  FROM segs
)
SELECT doc_id,
       count(*) AS total_segments,
       CAST(sum(keep) AS BIGINT) AS kept_segments,
       coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' ' ORDER BY seg_no), '')
         AS text_dedup
FROM flagged GROUP BY doc_id
"""

_DC_N = P.DECONTAM_NGRAM
_DC_M = P.DECONTAM_BENCH_MOD

DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_DC_N - 1}], ' ') AS ng
  FROM (SELECT * FROM toks WHERE len(toks) >= {_DC_N}) t,
       unnest(generate_series(1, len(toks) - {_DC_N - 1})) AS g(i)
),
bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % {_DC_M} = 0)
SELECT c.doc_id, count(*) AS n_overlap
FROM (SELECT * FROM ng WHERE doc_id % {_DC_M} <> 0) c JOIN bench USING (ng)
GROUP BY c.doc_id
"""

PACK_SEQUENCES = rf"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id, CAST(doc_id // {P.PACK_SHARD_DOCS} AS BIGINT) AS shard,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source, doc_id // {P.PACK_SHARD_DOCS}
                            ORDER BY doc_id) AS rn
  FROM documents
),
packs AS (
  SELECT source, shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END
  FROM packs p JOIN toks t
    ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT source, shard, doc_id, n_tokens, pack_id FROM packs
"""

_RATE_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN CAST({r!r} AS DOUBLE)"
    for lang, r in P.SAMPLE_RATES.items()
) + " ELSE CAST(0.0 AS DOUBLE) END"

STRATIFIED_SAMPLE = f"""
WITH s AS (
  SELECT doc_id, lang, {_RATE_CASE} AS rate,
         {_h60(f"'{P.SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}
           / CAST(1152921504606846976 AS DOUBLE) AS u
  FROM documents
)
SELECT doc_id, lang, round(CAST(1.0 AS DOUBLE) / rate, 6) AS weight
FROM s WHERE u < rate
"""

HLL_DISTINCT = f"""
WITH bits AS (
  SELECT event_type,
         h % {P.HLL_M} AS idx, h >> {P.HLL_P} AS w
  FROM (SELECT event_type, {_h60('CAST(user_id AS VARCHAR)')} AS h FROM events)
),
regs AS (
  SELECT event_type, idx,
         max(CASE WHEN w = 0 THEN {P.HLL_RANK_BITS + 1}
                  ELSE {P.HLL_RANK_BITS + 1} - length(printf('%b', w)) END) AS mx
  FROM bits GROUP BY event_type, idx
),
agg AS (
  SELECT event_type,
         CAST(sum(CAST(power(2.0, 52 - mx) AS BIGINT)) AS BIGINT) AS s_present,
         count(*) AS n_regs
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type,
         {P.HLL_NUM_SCALED!r}
           / CAST(s_present + ({P.HLL_M} - n_regs)
                  * CAST(4503599627370496 AS BIGINT) AS DOUBLE) AS e_raw,
         {P.HLL_M} - n_regs AS v
  FROM agg
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type
),
rounded AS (
  SELECT e.event_type, x.n_exact,
         round(CASE WHEN e.e_raw <= {2.5 * P.HLL_M!r} AND e.v > 0
                    THEN CAST({float(P.HLL_M)!r} AS DOUBLE)
                         * ln(CAST({float(P.HLL_M)!r} AS DOUBLE) / CAST(e.v AS DOUBLE))
                    ELSE e.e_raw END, 4) AS hll_estimate
  FROM est e JOIN exact x USING (event_type)
)
SELECT event_type, n_exact, hll_estimate,
       round(abs(hll_estimate - n_exact) / n_exact, 6) AS rel_error
FROM rounded
"""

_BM_TFS = ",\n         ".join(
    f"len(list_filter({_TOKENS_SQL}, t -> t = '{t}')) AS tf{i}"
    for i, t in enumerate(P.BM25_QUERY)
)
_BM_DFS = ",\n         ".join(
    f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
    for i in range(len(P.BM25_QUERY))
)
# Literal-for-literal the same doubles as the Spark plan: k1+1, 1-b, b, k1
# are computed by the same Python expressions and repr'd into both engines.
_BM_TERMS = " + ".join(
    f"(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
    f" * ((CAST(tf{i} AS DOUBLE) * {P.BM25_K1 + 1.0!r})"
    f" / (CAST(tf{i} AS DOUBLE) + {P.BM25_K1!r}"
    f" * ({1.0 - P.BM25_B!r} + {P.BM25_B!r} * dl / avgdl))))"
    for i in range(len(P.BM25_QUERY))
)

BM25_SEARCH = f"""
WITH d AS (
  SELECT doc_id, len({_TOKENS_SQL}) AS dl,
         {_BM_TFS}
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl,
         {_BM_DFS}
  FROM d
),
scored AS (
  SELECT doc_id, dl, round({_BM_TERMS}, 6) AS score
  FROM d CROSS JOIN stats
),
top AS (
  SELECT doc_id, dl, score FROM scored WHERE score > 0
  ORDER BY score DESC, doc_id LIMIT {P.BM25_TOPK}
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank, doc_id, dl, score
FROM top
"""

CORPUS_PIPELINE = rf"""
WITH RECURSIVE alltoks AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_DC_N - 1}], ' ') AS ng
  FROM (SELECT * FROM alltoks WHERE len(toks) >= {_DC_N}) t,
       unnest(generate_series(1, len(toks) - {_DC_N - 1})) AS g(i)
),
bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % {_DC_M} = 0),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT * FROM ng WHERE doc_id % {_DC_M} <> 0) c JOIN bench USING (ng)
),
train AS (
  SELECT * FROM documents
  WHERE doc_id % {_DC_M} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM train
),
segs AS (
  SELECT doc_id, i - 1 AS seg_no,
         array_to_string(ws[((i-1)*{_LD_W}+1):((i-1)*{_LD_W}+{_LD_W})], ' ') AS seg
  FROM w, unnest(generate_series(1, CAST(ceil(len(ws) / {_LD_W}.0) AS BIGINT))) AS t(i)
),
flagged AS (
  SELECT doc_id, seg_no, seg,
         CASE WHEN row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) = 1
              THEN 1 ELSE 0 END AS keep
  FROM segs
),
dd AS (
  SELECT doc_id,
         CAST(sum(keep) AS BIGINT) AS kept_segments,
         coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' ' ORDER BY seg_no), '')
           AS text
  FROM flagged GROUP BY doc_id
  HAVING CAST(sum(keep) AS BIGINT) > 0
),
surv AS (
  SELECT t.doc_id, t.lang, t.source, d.text
  FROM train t JOIN dd d USING (doc_id)
),
samp AS (
  SELECT doc_id, round(CAST(1.0 AS DOUBLE) / rate, 6) AS weight
  FROM (
    SELECT doc_id, {_RATE_CASE} AS rate,
           {_h60(f"'{P.SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}
             / CAST(1152921504606846976 AS DOUBLE) AS u
    FROM surv
  ) WHERE u < rate
),
ptoks AS (
  SELECT s.source, s.doc_id,
         CAST(s.doc_id // {P.PACK_SHARD_DOCS} AS BIGINT) AS shard,
         CAST(len(regexp_split_to_array(trim(s.text), '\s+')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY s.source, s.doc_id // {P.PACK_SHARD_DOCS}
                            ORDER BY s.doc_id) AS rn
  FROM surv s JOIN samp USING (doc_id)
),
packs AS (
  SELECT source, shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM ptoks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END
  FROM packs p JOIN ptoks t
    ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT p.source, p.shard, p.doc_id, p.n_tokens, p.pack_id, s.weight
FROM packs p JOIN samp s USING (doc_id)
"""


# corpus_pipeline with the novelty gate folded in between
# decontamination and sampling (plans/pipeline.py:corpus_pipeline_novelty):
# the same recursive-CTE assembly, with an ngram_novelty sub-query over
# the NON-BENCHMARK POOL (see the pipeline docstring for why the pool,
# not the decontaminated survivors) gating train docs at P.NOVELTY_MIN
# before line_dedup. Docs too short to form one NOVELTY_NGRAM-gram have
# no novelty row and drop with the inner join, mirroring the Spark plan.
CORPUS_PIPELINE_NOVELTY = rf"""
WITH RECURSIVE alltoks AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_DC_N - 1}], ' ') AS ng
  FROM (SELECT * FROM alltoks WHERE len(toks) >= {_DC_N}) t,
       unnest(generate_series(1, len(toks) - {_DC_N - 1})) AS g(i)
),
bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % {_DC_M} = 0),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT * FROM ng WHERE doc_id % {_DC_M} <> 0) c JOIN bench USING (ng)
),
train AS (
  SELECT * FROM documents
  WHERE doc_id % {_DC_M} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
nvg AS (
  SELECT DISTINCT doc_id,
         {_h60(f"array_to_string(toks[i:i+{P.NOVELTY_NGRAM - 1}], ' ')")} AS g
  FROM (SELECT doc_id, toks FROM alltoks WHERE doc_id % {_DC_M} <> 0) t,
       unnest(generate_series(1, len(toks) - {P.NOVELTY_NGRAM - 1})) AS gi(i)
  WHERE len(toks) >= {P.NOVELTY_NGRAM}
),
nvfirst AS (SELECT g, min(doc_id) AS first_doc FROM nvg GROUP BY g),
nov AS (
  SELECT n.doc_id,
         floor(sum(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS novelty
  FROM nvg n JOIN nvfirst f USING (g)
  GROUP BY n.doc_id
),
gated AS (
  SELECT t.*, nov.novelty FROM train t JOIN nov USING (doc_id)
  WHERE nov.novelty >= {P.NOVELTY_MIN!r}
),
w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM gated
),
segs AS (
  SELECT doc_id, i - 1 AS seg_no,
         array_to_string(ws[((i-1)*{_LD_W}+1):((i-1)*{_LD_W}+{_LD_W})], ' ') AS seg
  FROM w, unnest(generate_series(1, CAST(ceil(len(ws) / {_LD_W}.0) AS BIGINT))) AS t(i)
),
flagged AS (
  SELECT doc_id, seg_no, seg,
         CASE WHEN row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) = 1
              THEN 1 ELSE 0 END AS keep
  FROM segs
),
dd AS (
  SELECT doc_id,
         CAST(sum(keep) AS BIGINT) AS kept_segments,
         coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' ' ORDER BY seg_no), '')
           AS text
  FROM flagged GROUP BY doc_id
  HAVING CAST(sum(keep) AS BIGINT) > 0
),
surv AS (
  SELECT t.doc_id, t.lang, t.source, t.novelty, d.text
  FROM gated t JOIN dd d USING (doc_id)
),
samp AS (
  SELECT doc_id, round(CAST(1.0 AS DOUBLE) / rate, 6) AS weight
  FROM (
    SELECT doc_id, {_RATE_CASE} AS rate,
           {_h60(f"'{P.SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)")}
             / CAST(1152921504606846976 AS DOUBLE) AS u
    FROM surv
  ) WHERE u < rate
),
ptoks AS (
  SELECT s.source, s.doc_id, s.novelty,
         CAST(s.doc_id // {P.PACK_SHARD_DOCS} AS BIGINT) AS shard,
         CAST(len(regexp_split_to_array(trim(s.text), '\s+')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY s.source, s.doc_id // {P.PACK_SHARD_DOCS}
                            ORDER BY s.doc_id) AS rn
  FROM surv s JOIN samp USING (doc_id)
),
packs AS (
  SELECT source, shard, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM ptoks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END
  FROM packs p JOIN ptoks t
    ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT p.source, p.shard, p.doc_id, p.n_tokens, p.pack_id, s.weight, n.novelty
FROM packs p JOIN samp s USING (doc_id) JOIN nov n USING (doc_id)
"""


# Mixture share CASE (shared by MIX_PLAN and the mixed pipeline)
_MIX_SHARE = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v!r}" for k, v in sorted(P.MIX_TARGET.items())
) + " ELSE 0.0 END"


# Mixture-driven assembly (plans/pipeline.py:corpus_pipeline_mixed):
# the same decontaminate + line-dedup chain, then mix_plan's epochs
# drive a repeat-explode sampler (floor(e) copies + one more when the
# doc's hash-uniform falls under frac(e)), packed per (source, shard)
# in (doc_id, epoch) order.
CORPUS_PIPELINE_MIXED = rf"""
WITH RECURSIVE alltoks AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_DC_N - 1}], ' ') AS ng
  FROM (SELECT * FROM alltoks WHERE len(toks) >= {_DC_N}) t,
       unnest(generate_series(1, len(toks) - {_DC_N - 1})) AS g(i)
),
bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % {_DC_M} = 0),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT * FROM ng WHERE doc_id % {_DC_M} <> 0) c JOIN bench USING (ng)
),
train AS (
  SELECT * FROM documents
  WHERE doc_id % {_DC_M} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM train
),
segs AS (
  SELECT doc_id, i - 1 AS seg_no,
         array_to_string(ws[((i-1)*{_LD_W}+1):((i-1)*{_LD_W}+{_LD_W})], ' ') AS seg
  FROM w, unnest(generate_series(1, CAST(ceil(len(ws) / {_LD_W}.0) AS BIGINT))) AS t(i)
),
flagged AS (
  SELECT doc_id, seg_no, seg,
         CASE WHEN row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) = 1
              THEN 1 ELSE 0 END AS keep
  FROM segs
),
dd AS (
  SELECT doc_id,
         CAST(sum(keep) AS BIGINT) AS kept_segments,
         coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' ' ORDER BY seg_no), '')
           AS text
  FROM flagged GROUP BY doc_id
  HAVING CAST(sum(keep) AS BIGINT) > 0
),
surv AS (
  SELECT t.doc_id, t.lang, t.source, d.text
  FROM train t JOIN dd d USING (doc_id)
),
per_lang AS (
  SELECT lang,
         CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS avail_tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY lang
),
mix AS (
  SELECT lang,
         CASE WHEN avail_tokens > 0
              THEN round(floor({P.MIX_BUDGET_TOKENS} * ({_MIX_SHARE}) + 0.5)
                   / avail_tokens, 6)
              ELSE 0.0 END AS epochs
  FROM per_lang
),
copies AS (
  SELECT s.source, s.doc_id, s.text, m.epochs,
         CAST(floor(m.epochs) AS BIGINT)
           + CASE WHEN {_h60(f"'{P.MIX_SALT}' || CAST(s.doc_id AS VARCHAR)")}
                       / CAST(1152921504606846976 AS DOUBLE)
                     < m.epochs - floor(m.epochs)
                  THEN 1 ELSE 0 END AS n_copies
  FROM surv s JOIN mix m USING (lang)
),
expanded AS (
  SELECT source, doc_id, t.e AS epoch,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         round(CAST(1.0 AS DOUBLE) / epochs, 6) AS weight
  FROM (SELECT * FROM copies WHERE n_copies > 0) c,
       unnest(generate_series(0, n_copies - 1)) AS t(e)
),
ptoks AS (
  SELECT source, doc_id, epoch, n_tokens, weight,
         CAST(doc_id // {P.PACK_SHARD_DOCS} AS BIGINT) AS shard,
         row_number() OVER (PARTITION BY source, doc_id // {P.PACK_SHARD_DOCS}
                            ORDER BY doc_id, epoch) AS rn
  FROM expanded
),
packs AS (
  SELECT source, shard, doc_id, epoch, n_tokens, weight, rn,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM ptoks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.doc_id, t.epoch, t.n_tokens, t.weight, t.rn,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END
  FROM packs p JOIN ptoks t
    ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT source, shard, doc_id, epoch, n_tokens, pack_id, weight FROM packs
"""

_CMS_COUNTERS = ",\n".join(
    f"c{j} AS (SELECT {_h60(repr(s) + ' || word')} % {P.CMS_W} AS idx{j},"
    f" CAST(sum(exact_cnt) AS BIGINT) AS c{j} FROM wc GROUP BY 1)"
    for j, s in enumerate(P.CMS_SALTS)
)
_CMS_JOINS = "\n  ".join(
    f"JOIN c{j} ON {_h60(repr(s) + ' || wc.word')} % {P.CMS_W} = c{j}.idx{j}"
    for j, s in enumerate(P.CMS_SALTS)
)
_CMS_LEAST = "least(" + ", ".join(f"c{j}.c{j}" for j in range(P.CMS_D)) + ")"

CMS_HEAVY_HITTERS = f"""
WITH wc AS (
  SELECT w AS word, count(*) AS exact_cnt
  FROM (SELECT unnest({_TOKENS_SQL}) AS w FROM documents) GROUP BY w
),
tot AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS total FROM wc),
{_CMS_COUNTERS}
SELECT word, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
FROM (
  SELECT wc.word, wc.exact_cnt, {_CMS_LEAST} AS cms_est, tot.total
  FROM wc CROSS JOIN tot
  {_CMS_JOINS}
)
WHERE cms_est >= CAST({P.CMS_HH_FRAC!r} AS DOUBLE) * total
"""

# --- event-analytics rollups (r4) ----------------------------------------

DAU_ROLLUP = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events
),
dau AS (SELECT day_idx, count(*) AS dau FROM ud GROUP BY day_idx),
wau AS (
  SELECT day_idx, count(*) AS wau FROM (
    SELECT DISTINCT user_id, t.d AS day_idx
    FROM ud, unnest(generate_series(day_idx, day_idx + 6)) AS t(d)
  ) GROUP BY day_idx
)
SELECT d.day_idx, d.dau, w.wau FROM dau d JOIN wau w USING (day_idx)
"""

RETENTION_COHORTS = """
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx FROM events
),
first AS (SELECT user_id, min(day_idx) AS d0 FROM ud GROUP BY user_id)
SELECT cohort_week, week_offset, count(*) AS users FROM (
  SELECT DISTINCT u.user_id, f.d0 // 7 AS cohort_week,
         (u.day_idx - f.d0) // 7 AS week_offset
  FROM ud u JOIN first f USING (user_id)
) GROUP BY cohort_week, week_offset
"""

VALUE_PERCENTILES = """
SELECT event_type,
       count(*) AS n,
       round(min(value), 6) AS v_min,
       round(max(value), 6) AS v_max,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6)  AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""

LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
),
wc AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
stats AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS vocab FROM wc
),
logq AS (
  SELECT word,
         CAST(floor(ln((cnt + 1.0) / (n_total + vocab)) * 1e6 + 0.5) AS BIGINT)
           AS logq
  FROM wc CROSS JOIN stats
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       round(-CAST(sum(l.logq) AS BIGINT) / (1e6 * count(*)), 6) AS cross_entropy
FROM toks t JOIN logq l USING (word)
GROUP BY t.doc_id
"""

TFIDF_KEYWORDS = f"""
WITH tf AS (
  SELECT doc_id, word, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents)
  GROUP BY doc_id, word
),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word, round(t.tf * ln(n_docs / d.df), 6) AS tfidf
  FROM tf t JOIN df d USING (word) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, word, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank
  FROM scored
)
SELECT doc_id, rank, word, tfidf FROM ranked WHERE rank <= 3
"""

REVENUE_ROLLUP = f"""
SELECT l_returnflag, l_linestatus,
       sum({_EP} * {_DISC}) / 10000.0 AS revenue,
       count(*) AS n_rows,
       GROUPING(l_returnflag, l_linestatus) AS level
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

_PIVOT_TYPES = ("click", "purchase", "signup", "view", "error")
_PIVOT_COLS = ",\n       ".join(
    f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
    for t in _PIVOT_TYPES
)

DAILY_TYPE_PIVOT = f"""
SELECT epoch_us(ts) // 86400000000 AS day_idx,
       {_PIVOT_COLS}
FROM events GROUP BY day_idx
"""

FUNNEL_CONVERSION = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t2,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t3
  FROM events GROUP BY user_id
),
flags AS (
  SELECT t1 IS NOT NULL AS s1,
         (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1) AS s2,
         (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 >= t1
          AND t3 IS NOT NULL AND t3 >= t2) AS s3
  FROM per_user
)
SELECT CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS stage_view,
       CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
       CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase,
       round(CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT), 6)
         AS conversion
FROM flags
"""


# SemDeDup decision table (operators/similarity.py:semdedup): fixed-IVF
# cell assignment over ALL vectors (same literal centroid matrix and
# round-6 dot as ANN_IVF), within-cell exact-cosine duplicate pairs,
# recursive-CTE components (the dedup_clusters pattern), keep-rule =
# min (cent_dot, vec_id) per component.
SEMDEDUP = f"""
WITH RECURSIVE dots AS MATERIALIZED (
  SELECT vec_id, embedding,
    {_IVF_DOTS}
  FROM embeddings
), asg AS MATERIALIZED (
  SELECT vec_id, embedding, {_IVF_CASE} AS cell, mx AS cent_dot
  FROM (SELECT *, {_IVF_MAX} AS mx FROM dots) t
), dup AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({_COS}, 6) >= {P.COSINE_DUP_THRESHOLD}
),
{_COMPONENTS}
SELECT l.doc_id AS vec_id, a.cell, l.cluster_id,
       CAST(c.cnt AS INT) AS cluster_size, a.cent_dot,
       (row_number() OVER (PARTITION BY l.cluster_id
                           ORDER BY a.cent_dot, l.doc_id) = 1) AS keep
FROM lab l
JOIN asg a ON a.vec_id = l.doc_id
JOIN (SELECT cluster_id, count(*) AS cnt FROM lab GROUP BY cluster_id) c
  USING (cluster_id)
"""


# DSIR importance resampling (operators/corpus.py:dsir_select): hashed
# unigram∪bigram bag features, micro-nat-quantized per-bucket log
# ratios (integer doc sums), hash-derived Gumbel keys, top-k.
DSIR_SELECT = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE text IS NOT NULL
),
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
bi AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
    FROM toks WHERE len(t) >= 2
  )
),
grams AS (
  SELECT doc_id, {_h60('g')} % {P.DSIR_BUCKETS} AS b,
         (doc_id % {P.DECONTAM_BENCH_MOD} = 0) AS is_t
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
counts AS (
  SELECT b,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS rc
  FROM grams GROUP BY b
),
tot AS (SELECT sum(tc) AS T, sum(rc) AS R FROM counts),
lr AS (
  SELECT b,
         CAST(floor((ln((tc + 1.0) / (T + {P.DSIR_BUCKETS}))
                   - ln((rc + 1.0) / (R + {P.DSIR_BUCKETS}))) * 1e6 + 0.5)
              AS BIGINT) AS lr
  FROM counts, tot
),
scores AS (
  SELECT g.doc_id,
         CAST(sum(l.lr) AS BIGINT) AS logw_unats,
         count(*) AS n_grams
  FROM grams g JOIN lr l USING (b)
  WHERE NOT g.is_t
  GROUP BY g.doc_id
),
keyed AS (
  SELECT doc_id, n_grams, logw_unats,
         logw_unats + CAST(floor(-ln(-ln(
           (({_h60("'dsir:' || CAST(doc_id AS VARCHAR)")}) % 999998 + 1) / 1e6
         )) * 1e6 + 0.5) AS BIGINT) AS key_unats
  FROM scores
)
SELECT rank, doc_id, n_grams, logw_unats, key_unats FROM (
  SELECT *, row_number() OVER (ORDER BY key_unats DESC, doc_id) AS rank
  FROM keyed
) t WHERE rank <= {P.DSIR_TOPK}
"""


# Exact substring dedup (operators/corpus.py:dedup_substring): rolling
# L-gram duplicate scan + per-doc gaps-and-islands interval coalescing.
DEDUP_SUBSTRING = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, i - 1 AS p,
         {_h60(f"array_to_string(list_slice(t, i, i + {P.SUBSTR_L} - 1), ' ')")} AS gh
  FROM (
    SELECT doc_id, t,
           unnest(generate_series(1, len(t) - {P.SUBSTR_L} + 1)) AS i
    FROM toks WHERE len(t) >= {P.SUBSTR_L}
  )
),
dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1),
covered AS (SELECT doc_id, p FROM grams JOIN dup USING (gh)),
marked AS (
  SELECT doc_id, p, p + {P.SUBSTR_L} - 1 AS e,
         CASE WHEN p > max(p + {P.SUBSTR_L} - 1) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS brk
  FROM covered
),
isl AS (
  SELECT doc_id, p, e,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM marked
)
SELECT doc_id,
       CAST(min(p) AS INT) AS span_start,
       CAST(max(e) AS INT) AS span_end,
       CAST(max(e) - min(p) + 1 AS INT) AS span_tokens
FROM isl GROUP BY doc_id, island
"""


# Perceptual-hash near-dup (operators/multimodal.py:multimodal_phash_dedup):
# dHash over the resize stub's thumbnail samples, exact-banding candidates,
# exact Hamming verify.
_PHASH_SAMPLE = (
    "ascii(substring(text, CAST(({pos} * length(text)) // {bits} AS INT) + 1, 1))"
)
_PHASH_EXPR = (
    "CAST(list_sum(list_transform(generate_series(0, {last}), i -> "
    "CASE WHEN "
    + _PHASH_SAMPLE.format(pos="i", bits="{bits}")
    + " > "
    + _PHASH_SAMPLE.format(pos="((i + 1) % {bits})", bits="{bits}")
    + " THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)"
)

_PHASH_RPB = P.PHASH_BITS // P.PHASH_BANDS
_PHASH_MASK = (1 << _PHASH_RPB) - 1
# band-PAIR keys (multi-index Hamming search): a pair within radius
# r <= bands-2 keeps two intact bands, so some (b1 < b2) combined key
# collides — exact recall, quadratically smaller buckets.
_PHASH_PAIRS = ", ".join(
    f"({b1 * P.PHASH_BANDS + b2}, {b1}, {b2})"
    for b1 in range(P.PHASH_BANDS)
    for b2 in range(b1 + 1, P.PHASH_BANDS)
)

MULTIMODAL_PHASH_DEDUP = f"""
WITH h AS (
  SELECT doc_id,
    {_PHASH_EXPR.format(last=P.PHASH_BITS - 1, bits=P.PHASH_BITS)} AS ph
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
bp(pid, b1, b2) AS (VALUES {_PHASH_PAIRS}),
k AS (
  SELECT doc_id, ph, pid,
         ((ph >> (b1 * {_PHASH_RPB})) & {_PHASH_MASK}) * {_PHASH_MASK + 1}
           + ((ph >> (b2 * {_PHASH_RPB})) & {_PHASH_MASK}) AS key
  FROM h, bp
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM k a JOIN k b ON a.pid = b.pid AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= {P.PHASH_MAX_HAMMING}
"""


# ExactSubstr rewrite (operators/corpus.py:dedup_substring_clean): cut
# the DEDUP_SUBSTRING spans, reassemble surviving tokens in position
# order; span-free docs pass through whole.
DEDUP_SUBSTRING_CLEAN = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE text IS NOT NULL
),
spans AS (
{DEDUP_SUBSTRING}
),
covered AS (
  SELECT DISTINCT doc_id, unnest(generate_series(span_start, span_end)) AS pos
  FROM spans
),
positions AS (
  SELECT doc_id, t[i] AS tok, CAST(i - 1 AS INT) AS pos
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
),
kept AS (
  SELECT p.doc_id, p.pos, p.tok
  FROM positions p LEFT JOIN covered c
    ON p.doc_id = c.doc_id AND p.pos = c.pos
  WHERE c.doc_id IS NULL
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS INT) AS n_tokens,
       CAST(len(t.t) - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
       COALESCE(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


# SemDeDup applied (operators/similarity.py:semdedup_prune): corpus
# minus pruned members — the SEMDEDUP decision table re-derived, left
# join, keep-or-unique filter.
# Composition: SEMDEDUP is "WITH RECURSIVE <ctes> SELECT <decision>";
# wrap the decision select as one more CTE and filter the corpus by it.
_SEM_CUT = SEMDEDUP.rindex("SELECT l.doc_id")
SEMDEDUP_PRUNE = (
    SEMDEDUP[:_SEM_CUT].rstrip()
    + ",\ndec AS (\n"
    + SEMDEDUP[_SEM_CUT:].rstrip()
    + "\n)\n"
    + """SELECT e.vec_id,
       CASE WHEN d.vec_id IS NULL THEN 'unique' ELSE 'kept' END AS status
FROM embeddings e
LEFT JOIN dec d ON d.vec_id = e.vec_id
WHERE d.vec_id IS NULL OR d.keep
"""
)


# Top-k event-type transitions (operators/analytics.py:event_transitions)
EVENT_TRANSITIONS = """
WITH ordered AS (
  SELECT user_id,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS from_type,
         event_type AS to_type
  FROM events
),
agg AS (
  SELECT from_type, to_type,
         count(*) AS n_transitions,
         count(DISTINCT user_id) AS n_users
  FROM ordered WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT rank, from_type, to_type, n_transitions, n_users FROM (
  SELECT *, row_number() OVER (
    ORDER BY n_transitions DESC, from_type, to_type) AS rank
  FROM agg
) t WHERE rank <= 10
"""


# Mixture planning (operators/corpus.py:mix_plan)
MIX_PLAN = f"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS avail_tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY lang
)
SELECT lang, n_docs, avail_tokens,
       CAST(floor({P.MIX_BUDGET_TOKENS} * ({_MIX_SHARE}) + 0.5) AS BIGINT)
         AS alloc_tokens,
       CASE WHEN avail_tokens > 0
            THEN round(least(1.0,
                 floor({P.MIX_BUDGET_TOKENS} * ({_MIX_SHARE}) + 0.5)
                 / avail_tokens), 6)
            ELSE 0.0 END AS rate,
       CASE WHEN avail_tokens > 0
            THEN round(floor({P.MIX_BUDGET_TOKENS} * ({_MIX_SHARE}) + 0.5)
                 / avail_tokens, 6)
            ELSE 0.0 END AS epochs
FROM per_lang
"""


# Per-benchmark-doc contamination audit
# (operators/corpus.py:contamination_report)
CONTAMINATION_REPORT = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_DC_N - 1}], ' ') AS ng
  FROM (SELECT * FROM toks WHERE len(toks) >= {_DC_N}) t,
       unnest(generate_series(1, len(toks) - {_DC_N - 1})) AS g(i)
)
SELECT b.doc_id AS bench_doc_id,
       count(DISTINCT c.doc_id) AS n_leaky_docs,
       count(*) AS n_overlap_pairs
FROM (SELECT * FROM ng WHERE doc_id % {_DC_M} = 0) b
JOIN (SELECT * FROM ng WHERE doc_id % {_DC_M} <> 0) c USING (ng)
GROUP BY b.doc_id
"""


# Pairwise source n-gram overlap (operators/corpus.py:source_overlap)
SOURCE_OVERLAP = f"""
WITH toks AS (
  SELECT source, {_TOKENS_SQL} AS toks FROM documents
),
ng AS (
  SELECT DISTINCT source, array_to_string(toks[i:i+{_DC_N - 1}], ' ') AS ng
  FROM (SELECT * FROM toks WHERE len(toks) >= {_DC_N}) t,
       unnest(generate_series(1, len(toks) - {_DC_N - 1})) AS g(i)
),
sizes AS (SELECT source, count(*) AS n_ngrams FROM ng GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM ng a JOIN ng b ON a.ng = b.ng AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, i.n_common,
       sa.n_ngrams AS n_a, sb.n_ngrams AS n_b,
       round(i.n_common / CAST(sa.n_ngrams + sb.n_ngrams - i.n_common
                               AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
"""


# --- quality-filter family (operators/filtering.py, r6) -------------------

_FLT_BASE = f"""
  SELECT doc_id, {_TOKENS_SQL} AS t, text FROM documents
  WHERE text IS NOT NULL AND len({_TOKENS_SQL}) >= 1
"""
_FLT_W = P.LINE_DEDUP_WORDS
_FLT_SEGS = (
    f"list_transform(generate_series(0, CAST(ceil(len(t) / {_FLT_W}.0) AS INT) - 1),"
    f" i -> array_to_string(list_slice(t, i * {_FLT_W} + 1, i * {_FLT_W} + {_FLT_W}), ' '))"
)
_FLT_GRAMS = "list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])"
_FLT_SW = ", ".join(f"'{s}'" for s in P.STOPWORDS)


def _r6(expr: str) -> str:
    """The shared cross-engine rounding (floor(x*1e6+0.5)/1e6) — byte-
    identical to the Spark side's _round6 in operators/filtering.py."""
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"


# Gopher quality decision table (operators/filtering.py:gopher_rules)
GOPHER_RULES = f"""
WITH base AS ({_FLT_BASE}), sig AS (
  SELECT doc_id,
    CAST(len(t) AS INT) AS n_words,
    CAST(len(list_filter(t, x -> x IN ({_FLT_SW}))) AS INT) AS n_stop,
    {_r6("len(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) / CAST(len(t) AS DOUBLE)")} AS mean_word_len,
    {_r6("(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) / CAST(length(text) AS DOUBLE)")} AS symbol_ratio,
    {_r6("list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x)))) / CAST(len(t) AS DOUBLE)")} AS top_word_frac,
    CASE WHEN len(t) >= 2 THEN {_r6(f"1.0 - len(list_distinct({_FLT_GRAMS})) / CAST(len(t) - 1 AS DOUBLE)")} ELSE 0.0 END AS dup_2gram_frac,
    {_r6(f"1.0 - len(list_distinct({_FLT_SEGS})) / CAST(len({_FLT_SEGS}) AS DOUBLE)")} AS dup_line_frac
  FROM base
), lab AS (
  SELECT *, CASE
    WHEN n_words < {P.GOPHER_MIN_WORDS} OR n_words > {P.GOPHER_MAX_WORDS} THEN 'n_words'
    WHEN mean_word_len < {P.GOPHER_WORD_LEN_LO} OR mean_word_len > {P.GOPHER_WORD_LEN_HI} THEN 'word_len'
    WHEN symbol_ratio > {P.GOPHER_MAX_SYMBOL} THEN 'symbol'
    WHEN n_stop < {P.GOPHER_MIN_STOP} THEN 'stopwords'
    WHEN top_word_frac > {P.GOPHER_MAX_TOP_WORD} THEN 'top_word'
    WHEN dup_2gram_frac > {P.GOPHER_MAX_DUP_2GRAM} THEN 'dup_2gram'
    WHEN dup_line_frac > {P.GOPHER_MAX_DUP_LINE} THEN 'dup_line'
  END AS fail_reason FROM sig
)
SELECT doc_id, n_words, n_stop, mean_word_len, symbol_ratio, top_word_frac,
       dup_2gram_frac, dup_line_frac, fail_reason IS NULL AS keep, fail_reason
FROM lab
"""

# C4 line-level cleaning (operators/filtering.py:c4_clean)
_FLT_KEPT = (
    f"list_filter({_FLT_SEGS}, s -> len(string_split(s, ' ')) >= {P.C4_MIN_LINE_WORDS}"
    f" AND NOT list_contains(string_split(s, ' '), '{P.C4_BOILERPLATE}'))"
)
C4_CLEAN = f"""
WITH base AS ({_FLT_BASE}), k AS (
  SELECT doc_id, {_FLT_SEGS} AS segs, {_FLT_KEPT} AS kept FROM base
)
SELECT doc_id, CAST(len(segs) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_lines_kept,
       CASE WHEN len(kept) > 0 THEN array_to_string(kept, ' ') END AS clean_text,
       CAST(coalesce(list_sum(list_transform(kept, s -> len(string_split(s, ' ')))), 0) AS INT) AS n_words_clean,
       len(kept) >= {P.C4_MIN_LINES} AS kept
FROM k
"""

# Hashed linear quality classifier (operators/filtering.py:quality_classifier)
_QC_NW = 2 * P.QC_SCALE + 1
_QC_BUCK = f"({_h60('x')} % {P.QC_BUCKETS})"
_QC_W = f"({_h60(f''''qcw:' || CAST({_QC_BUCK} AS VARCHAR)''')} % {_QC_NW} - {P.QC_SCALE})"
QUALITY_CLASSIFIER = f"""
WITH base AS ({_FLT_BASE}), s AS (
  SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
         CAST(list_sum(list_transform(t, x -> {_QC_W})) AS BIGINT) AS score_units
  FROM base
)
SELECT doc_id, n_tokens, score_units,
       {_r6(f"score_units / ({P.QC_SCALE}.0 * n_tokens)")} AS score,
       {_r6(f"score_units / ({P.QC_SCALE}.0 * n_tokens)")} > 0.0 AS label
FROM s
"""

# CCNet perplexity tertiles (operators/filtering.py:ccnet_ppl_buckets);
# shares LM_SCORE's micro-nat-quantized unigram-LM cross-entropy.
_CCN_TILE = (
    f"ntile({P.CCNET_BUCKETS}) OVER (PARTITION BY d.lang"
    f" ORDER BY c.cross_entropy, c.doc_id)"
)
CCNET_PPL_BUCKETS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
),
wc AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS vocab FROM wc),
logq AS (
  SELECT word, CAST(floor(ln((cnt + 1.0) / (n_total + vocab)) * 1e6 + 0.5) AS BIGINT) AS logq
  FROM wc CROSS JOIN stats
),
ce AS (
  SELECT t.doc_id, round(-CAST(sum(l.logq) AS BIGINT) / (1e6 * count(*)), 6) AS cross_entropy
  FROM toks t JOIN logq l USING (word) GROUP BY t.doc_id
)
SELECT c.doc_id, d.lang, c.cross_entropy,
       CAST({_CCN_TILE} AS INT) AS tertile,
       CASE {_CCN_TILE} WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ce c JOIN documents d USING (doc_id)
"""

# Threshold-bucketing variant (operators/filtering.py:
# ccnet_ppl_threshold): exact order-statistic cutoffs from the
# count-of-counts histogram, broadcast compare; ties at a cutoff take
# the lower bucket.
_CCN_CE = """
toks AS (
  SELECT doc_id, unnest({tok}) AS word FROM documents
),
wc AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS vocab FROM wc),
logq AS (
  SELECT word, CAST(floor(ln((cnt + 1.0) / (n_total + vocab)) * 1e6 + 0.5) AS BIGINT) AS logq
  FROM wc CROSS JOIN stats
),
ce AS (
  SELECT t.doc_id, round(-CAST(sum(l.logq) AS BIGINT) / (1e6 * count(*)), 6) AS cross_entropy
  FROM toks t JOIN logq l USING (word) GROUP BY t.doc_id
)
""".format(tok=_TOKENS_SQL)

CCNET_PPL_THRESHOLD = f"""
WITH {_CCN_CE},
sc AS (
  SELECT c.doc_id, d.lang, c.cross_entropy
  FROM ce c JOIN documents d USING (doc_id)
),
hist AS (
  SELECT lang, cross_entropy, count(*) AS freq FROM sc GROUP BY lang, cross_entropy
),
cums AS (
  SELECT lang, cross_entropy,
         sum(freq) OVER (PARTITION BY lang ORDER BY cross_entropy
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(freq) OVER (PARTITION BY lang) AS n
  FROM hist
),
cuts AS (
  SELECT lang,
         min(CASE WHEN cum >= (n + 2) // 3 THEN cross_entropy END) AS c1,
         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN cross_entropy END) AS c2
  FROM cums GROUP BY lang
)
SELECT s.doc_id, s.lang, s.cross_entropy,
       CAST(CASE WHEN s.cross_entropy <= c.c1 THEN 1
                 WHEN s.cross_entropy <= c.c2 THEN 2 ELSE 3 END AS INT) AS tertile,
       CASE WHEN s.cross_entropy <= c.c1 THEN 'head'
            WHEN s.cross_entropy <= c.c2 THEN 'middle' ELSE 'tail' END AS bucket
FROM sc s JOIN cuts c USING (lang)
"""


# Point-in-interval range join, aggregated per incident
# (operators/temporal.py:incident_window_stats over interval_join).
_IVJ_W_US = int(P.INTERVAL_W_S * 1_000_000)
INCIDENT_WINDOW_STATS = f"""
WITH iv AS (
  SELECT event_id AS incident_id, epoch_us(ts) AS t0_us
  FROM events WHERE event_type = 'error'
)
SELECT i.incident_id,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchases,
       max(epoch_us(e.ts) - i.t0_us) AS max_lag_us
FROM iv i JOIN events e
  ON epoch_us(e.ts) >= i.t0_us AND epoch_us(e.ts) < i.t0_us + {_IVJ_W_US}
GROUP BY i.incident_id
"""


# Trade-graph PageRank (operators/graph.py:trade_pagerank): the same ten
# integer-micro-unit iterations UNROLLED as plain CTEs — recursive CTE
# terms cannot aggregate, but ten chained aggregations are just SQL.
# sum(BIGINT) is HUGEINT in DuckDB, so every iteration casts back.
def _pagerank_sql(iters: int) -> str:
    from vedb_gaze_spark.operators.graph import (
        PR_DAMP_PCT,
        PR_R0,
        PR_TELEPORT,
    )

    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"pr{i} AS (SELECT d AS n, CAST({PR_TELEPORT} + "
            f"({PR_DAMP_PCT} * sum(r // deg)) // 100 AS BIGINT) AS r "
            f"FROM ed JOIN pr{i - 1} ON ed.s = pr{i - 1}.n GROUP BY d)"
        )
        chain = ",\n".join(steps)
    return f"""
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS s, l.l_suppkey * 2 + 1 AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0),
deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s),
ed AS (SELECT e.s, e.d, g.deg FROM edges e JOIN deg g USING (s)),
pr0 AS (SELECT s AS n, CAST({PR_R0} AS BIGINT) AS r FROM deg),
{chain}
SELECT n AS node_id,
       CASE WHEN n % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       n // 2 AS entity_key,
       r AS rank_units
FROM pr{iters}
"""


TRADE_PAGERANK = _pagerank_sql(10)


# Signed feature-hash embeddings (operators/text.py:hash_embed)
_HE_DIMS = 64
_HE_SGN = _h60("'sgn:' || x")
_HE_PAIRS = (
    f"list_transform(t, x -> struct_pack(b := CAST({_h60('x')} % {_HE_DIMS} AS INT), "
    f"s := CAST({_HE_SGN} % 2 * 2 - 1 AS INT)))"
)
HASH_EMBED = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
  WHERE text IS NOT NULL AND len({_TOKENS_SQL}) >= 1
), p AS (
  SELECT doc_id, {_HE_PAIRS} AS pr FROM base
), c AS (
  SELECT doc_id,
    list_transform(generate_series(0, {_HE_DIMS - 1}), b ->
      CAST(coalesce(list_sum(list_transform(pr,
        x -> CASE WHEN x.b = b THEN x.s ELSE 0 END)), 0) AS BIGINT)) AS c
  FROM p
), n AS (
  SELECT doc_id, c,
    sqrt(CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT)) AS nrm
  FROM c
)
SELECT doc_id, CAST(g.i - 1 AS INT) AS bucket,
       floor(c[g.i] / nrm * 1e6 + 0.5) / 1e6 AS value
FROM n, unnest(generate_series(1, len(c))) AS g(i)
WHERE nrm > 0
"""


# --- r6b: fixed-size decontamination, containment, cross-source -----------
# --- keep-best, corpus summary, curriculum packing ------------------------

_BLM_SALTS = "[" + ", ".join(f"'{s}'" for s in P.BLOOM_SALTS) + "]"
_BLM_NG = f"""
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{P.DECONTAM_NGRAM - 1}], ' ') AS ng
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents) t,
       unnest(generate_series(1, len(toks) - {P.DECONTAM_NGRAM - 1})) AS g(i)
  WHERE len(toks) >= {P.DECONTAM_NGRAM}
"""

# Bloom-filter decontamination (operators/corpus.py:bloom_decontaminate):
# the bit array as a distinct-position relation, probes replayed with
# the same salted portable hash, membership = all k probes present
# (false positives and all — deterministic because the hashes are).
BLOOM_DECONTAMINATE = f"""
WITH ng AS ({_BLM_NG}),
salts AS (SELECT unnest({_BLM_SALTS}) AS s),
bits AS (
  SELECT DISTINCT {_h60("s || ':' || ng")} % {P.BLOOM_M} AS pos
  FROM (SELECT DISTINCT ng FROM ng WHERE doc_id % {P.DECONTAM_BENCH_MOD} = 0) b, salts
),
probe AS (
  SELECT doc_id, ng, {_h60("s || ':' || ng")} % {P.BLOOM_M} AS pos
  FROM (SELECT * FROM ng WHERE doc_id % {P.DECONTAM_BENCH_MOD} <> 0) c, salts
),
hit AS (
  SELECT doc_id, ng FROM probe JOIN bits USING (pos)
  GROUP BY doc_id, ng HAVING count(*) = {len(P.BLOOM_SALTS)}
)
SELECT doc_id, count(*) AS n_flagged FROM hit GROUP BY doc_id
"""

# Containment-coefficient contamination
# (operators/corpus.py:minhash_containment).
_CNT_NG = f"""
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{P.CONTAIN_NGRAM - 1}], ' ') AS ng
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents) t,
       unnest(generate_series(1, len(toks) - {P.CONTAIN_NGRAM - 1})) AS g(i)
  WHERE len(toks) >= {P.CONTAIN_NGRAM}
"""
MINHASH_CONTAINMENT = f"""
WITH ng AS ({_CNT_NG}),
bench AS (
  SELECT doc_id AS bench_doc_id, ng FROM ng
  WHERE doc_id % {P.DECONTAM_BENCH_MOD} = 0
),
sizes AS (SELECT bench_doc_id, count(*) AS n_bench FROM bench GROUP BY bench_doc_id),
pairs AS (
  SELECT b.bench_doc_id, t.doc_id, count(*) AS n_common
  FROM (SELECT * FROM ng WHERE doc_id % {P.DECONTAM_BENCH_MOD} <> 0) t
  JOIN bench b USING (ng)
  GROUP BY b.bench_doc_id, t.doc_id
)
SELECT p.bench_doc_id, p.doc_id, p.n_common, s.n_bench,
       round(p.n_common / CAST(s.n_bench AS DOUBLE), 6) AS containment
FROM pairs p JOIN sizes s USING (bench_doc_id)
WHERE round(p.n_common / CAST(s.n_bench AS DOUBLE), 6) >= {P.CONTAIN_TAU}
"""

# Cross-source keep-best dedup (operators/corpus.py:cross_source_dedup):
# the full minhash-LSH pair query as the dup CTE (verbatim, like
# DEDUP_CLUSTERS), then the rank/orientation/keep-best logic.
_CSD_RANK = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(P.SOURCE_RANK.items())
) + f" ELSE {P.SOURCE_RANK_DEFAULT} END"
CROSS_SOURCE_DEDUP = f"""
WITH dup AS (
{DEDUP_MINHASH_LSH}
),
meta AS (SELECT doc_id, source, {_CSD_RANK} AS rnk FROM documents),
x AS (
  SELECT d.doc_a, d.doc_b, a.source AS src_a, a.rnk AS rnk_a,
         b.source AS src_b, b.rnk AS rnk_b
  FROM dup d
  JOIN meta a ON a.doc_id = d.doc_a
  JOIN meta b ON b.doc_id = d.doc_b
  WHERE a.source <> b.source
),
oriented AS (
  SELECT
    CASE WHEN rnk_a < rnk_b OR (rnk_a = rnk_b AND src_a < src_b)
         THEN doc_b ELSE doc_a END AS doc_id,
    CASE WHEN rnk_a < rnk_b OR (rnk_a = rnk_b AND src_a < src_b)
         THEN src_b ELSE src_a END AS source,
    CASE WHEN rnk_a < rnk_b OR (rnk_a = rnk_b AND src_a < src_b)
         THEN doc_a ELSE doc_b END AS w_doc,
    CASE WHEN rnk_a < rnk_b OR (rnk_a = rnk_b AND src_a < src_b)
         THEN src_a ELSE src_b END AS w_src,
    CASE WHEN rnk_a < rnk_b OR (rnk_a = rnk_b AND src_a < src_b)
         THEN rnk_a ELSE rnk_b END AS w_rnk
  FROM x
)
SELECT doc_id, source, n_better, keep_doc_id, keep_source
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY doc_id ORDER BY w_rnk, w_src, w_doc) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n_better,
         w_doc AS keep_doc_id, w_src AS keep_source
  FROM oriented
) WHERE rn = 1
"""

# Per-source corpus summary (operators/corpus.py:corpus_stats); the
# median is the exact order statistic at floor((n+1)/2), not an
# engine-interpolated percentile.
CORPUS_STATS = f"""
WITH d AS (
  SELECT source, lang, doc_id,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_toks,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT source, lang, n_toks, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_toks, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM d
)
SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_toks) AS min_tokens, max(n_toks) AS max_tokens,
       max(CASE WHEN rn = (cnt + 1) // 2 THEN n_toks END) AS median_tokens
FROM r GROUP BY source
"""

# Curriculum-ordered packing (operators/corpus.py:curriculum_pack):
# PACK_SEQUENCES' recursion with the in-group order flipped to
# (-score_units, doc_id) — quality_classifier's integer score keeps the
# order exact across engines.
CURRICULUM_PACK = rf"""
WITH RECURSIVE qc AS (
  SELECT doc_id, CAST(list_sum(list_transform(t, x -> {_QC_W})) AS BIGINT) AS score_units
  FROM ({_FLT_BASE}) base
),
toks AS (
  SELECT d.source, d.doc_id,
         CAST(d.doc_id // {P.PACK_SHARD_DOCS} AS BIGINT) AS shard,
         CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n_tokens,
         q.score_units,
         row_number() OVER (PARTITION BY d.source, d.doc_id // {P.PACK_SHARD_DOCS}
                            ORDER BY -q.score_units, d.doc_id) AS rn
  FROM documents d JOIN qc q USING (doc_id)
),
packs AS (
  SELECT source, shard, doc_id, n_tokens, score_units, rn,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.doc_id, t.n_tokens, t.score_units, t.rn,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.pack_id ELSE p.pack_id + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {P.PACK_BUDGET_TOKENS}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END
  FROM packs p JOIN toks t
    ON t.source = p.source AND t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT source, shard, doc_id, n_tokens, score_units, pack_id FROM packs
"""


# Per-source filter funnel (operators/filtering.py:filter_funnel):
# the three gate queries as CTEs, joined on doc_id over the shared
# base, aggregated per source.
FILTER_FUNNEL = f"""
WITH g AS ({GOPHER_RULES}),
c AS ({C4_CLEAN}),
q AS ({QUALITY_CLASSIFIER}),
base AS (
  SELECT doc_id, source FROM documents
  WHERE text IS NOT NULL AND len({_TOKENS_SQL}) >= 1
),
j AS (
  SELECT base.source, g.keep AS gk, c.kept AS ck, q.label AS qk
  FROM base
  JOIN g USING (doc_id) JOIN c USING (doc_id) JOIN q USING (doc_id)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN gk THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
       CAST(sum(CASE WHEN ck THEN 1 ELSE 0 END) AS BIGINT) AS n_c4,
       CAST(sum(CASE WHEN qk THEN 1 ELSE 0 END) AS BIGINT) AS n_classifier,
       CAST(sum(CASE WHEN gk AND ck AND qk THEN 1 ELSE 0 END) AS BIGINT) AS n_all,
       floor(sum(CASE WHEN gk AND ck AND qk THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS survival_rate
FROM j GROUP BY source
"""


# Rolling per-user z-score anomalies (operators/analytics.py:
# value_anomalies): exact integer cents feed one double expression.
_ANM = f"ROWS BETWEEN {P.ANOM_W} PRECEDING AND 1 PRECEDING"
VALUE_ANOMALIES = f"""
WITH u AS (
  SELECT event_id, user_id, ts, value,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS u
  FROM events
),
s AS (
  SELECT event_id, user_id, value, u,
         count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id {_ANM}) AS n_prev,
         sum(u)   OVER (PARTITION BY user_id ORDER BY ts, event_id {_ANM}) AS s1,
         sum(u*u) OVER (PARTITION BY user_id ORDER BY ts, event_id {_ANM}) AS s2
  FROM u
)
SELECT event_id, user_id, value, n_prev,
       floor((s1 / CAST(n_prev AS DOUBLE)) / 100.0 * 1e6 + 0.5) / 1e6 AS mean_prev,
       floor(((u - s1 / CAST(n_prev AS DOUBLE)) /
              sqrt((s2 - s1 * s1 / CAST(n_prev AS DOUBLE)) / CAST(n_prev AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS z
FROM s
WHERE n_prev >= {P.ANOM_MIN}
  AND (s2 - s1 * s1 / CAST(n_prev AS DOUBLE)) > 0
  -- threshold on the 6dp-ROUNDED z, exactly as the Spark plan (and the
  -- streaming twin) gate it — gating on raw z would emit a different
  -- set whenever |z| lands in [Z - 5e-7, Z) (r6 ADVICE item)
  AND abs(floor(((u - s1 / CAST(n_prev AS DOUBLE)) /
                 sqrt((s2 - s1 * s1 / CAST(n_prev AS DOUBLE)) / CAST(n_prev AS DOUBLE)))
                * 1e6 + 0.5) / 1e6)
      >= {P.ANOM_Z}
"""

# Join-key skew diagnostics (operators/analytics.py:key_skew_report).
KEY_SKEW_REPORT = f"""
WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
),
hist AS (SELECT cnt, count(*) AS freq FROM counts GROUP BY cnt),
med AS (
  SELECT min(cnt) AS median_cnt FROM (
    SELECT cnt,
           sum(freq) OVER (ORDER BY cnt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(freq) OVER () AS n_keys
    FROM hist
  ) WHERE cum >= (n_keys + 1) // 2
),
tot AS (SELECT count(*) AS total FROM events)
SELECT user_id, cnt,
       floor(cnt / CAST(total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS share,
       floor(cnt / CAST(median_cnt AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ratio_to_median
FROM counts, med, tot
ORDER BY cnt DESC, user_id LIMIT {P.SKEW_TOPK}
"""

# Fixed-size per-source sample (operators/corpus.py:group_sample).
GROUP_SAMPLE = f"""
SELECT source, doc_id, sample_rank FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_h60(f"'{P.GROUP_SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= {P.GROUP_SAMPLE_K}
"""


# LSH-vs-exact dedup pair recall/precision
# (operators/dedup.py:dedup_recall) — both pair queries verbatim.
DEDUP_RECALL = f"""
WITH ex AS (
{DEDUP_NGRAM_JACCARD}
),
ls AS (
{DEDUP_MINHASH_LSH}
),
c AS (
  SELECT count(*) AS n_common
  FROM (SELECT doc_a, doc_b FROM ex INTERSECT SELECT doc_a, doc_b FROM ls)
),
ne AS (SELECT count(*) AS n_exact FROM ex),
nl AS (SELECT count(*) AS n_lsh FROM ls)
SELECT n_exact, n_lsh, n_common,
       CASE WHEN n_exact > 0
            THEN floor(n_common / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS recall,
       CASE WHEN n_lsh > 0
            THEN floor(n_common / CAST(n_lsh AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS precision
FROM ne, nl, c
"""

# Sampled dedup-recall gate (operators/dedup.py:dedup_recall with
# sample_mod — the scale-runnable variant): the identical two pair
# kernels over a deterministic salted doc_id-hash sub-corpus. The pair
# SQLs read documents only through the shingle CTE, so retargeting that
# one FROM at the sampled CTE is the whole rewrite. Assert on the EXACT
# string the replace below consumes ("FROM documents," — comma form),
# so a formatting drift in the shingle CTE fails loudly here instead of
# silently no-oping the rewrite and gating an unsampled oracle against
# the sampled Spark plan.
assert DEDUP_NGRAM_JACCARD.count("FROM documents,") == 1
assert DEDUP_MINHASH_LSH.count("FROM documents,") == 1
assert DEDUP_NGRAM_JACCARD.count("FROM documents") == 1
assert DEDUP_MINHASH_LSH.count("FROM documents") == 1
_DRS_KEY = f"'{P.RECALL_SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)"
_DRS_PRED = f"{_h60(_DRS_KEY)} % {P.RECALL_SAMPLE_MOD} = 0"
DEDUP_RECALL_SAMPLED = f"""
WITH dsmp AS (SELECT * FROM documents WHERE {_DRS_PRED}),
ex AS (
{DEDUP_NGRAM_JACCARD.replace("FROM documents,", "FROM dsmp,")}
),
ls AS (
{DEDUP_MINHASH_LSH.replace("FROM documents,", "FROM dsmp,")}
),
c AS (
  SELECT count(*) AS n_common
  FROM (SELECT doc_a, doc_b FROM ex INTERSECT SELECT doc_a, doc_b FROM ls)
),
ne AS (SELECT count(*) AS n_exact FROM ex),
nl AS (SELECT count(*) AS n_lsh FROM ls)
SELECT n_exact, n_lsh, n_common,
       CASE WHEN n_exact > 0
            THEN floor(n_common / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS recall,
       CASE WHEN n_lsh > 0
            THEN floor(n_common / CAST(n_lsh AS DOUBLE) * 1e6 + 0.5) / 1e6 END AS precision
FROM ne, nl, c
"""

# Packing fill-rate report (operators/corpus.py:pack_efficiency) over
# the PACK_SEQUENCES recursion.
PACK_EFFICIENCY = f"""
WITH packs AS (
{PACK_SEQUENCES}
)
SELECT source,
       count(DISTINCT (shard, pack_id)) AS n_packs,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       max(n_tokens) AS max_doc_tokens,
       count(DISTINCT (shard, pack_id)) * {P.PACK_BUDGET_TOKENS} AS capacity_tokens,
       floor(sum(n_tokens) / CAST(count(DISTINCT (shard, pack_id)) * {P.PACK_BUDGET_TOKENS} AS DOUBLE) * 1e6 + 0.5) / 1e6 AS fill_rate
FROM packs GROUP BY source
"""


# Interpolated bigram-LM cross-entropy (operators/text.py:lm_score_bigram).
# The (1-lambda) literal is emitted via repr() so both engines compute
# with the IDENTICAL double (1.0-0.7 is 0.30000000000000004, not 0.3).
_LM2_L = repr(P.LM2_LAMBDA)
_LM2_1ML = repr(1.0 - P.LM2_LAMBDA)
LM_SCORE_BIGRAM = f"""
WITH toks AS (
  SELECT doc_id, i, t[i] AS word
  FROM (SELECT doc_id, {{tok}} AS t FROM documents) x,
       unnest(generate_series(1, len(t))) AS g(i)
),
stream AS (
  SELECT doc_id, i, word,
         lag(word) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM toks
),
wc AS (SELECT word, count(*) AS cu FROM stream GROUP BY word),
stats AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total, count(*) AS vocab FROM wc),
uni AS (
  SELECT word, cu,
         CAST(floor(ln((cu + 1.0) / (n_total + vocab)) * 1e6 + 0.5) AS BIGINT) AS logq_u,
         (n_total + vocab) AS denom_u
  FROM wc CROSS JOIN stats
),
big AS (SELECT doc_id, prev, word FROM stream WHERE prev IS NOT NULL),
c2 AS (SELECT prev, word, count(*) AS c2 FROM big GROUP BY prev, word),
c1s AS (SELECT prev, count(*) AS c1s FROM big GROUP BY prev),
bi AS (
  SELECT c2.prev, c2.word,
         CAST(floor(ln({_LM2_L} * c2 / c1s + {_LM2_1ML} * (cu + 1.0) / denom_u)
                    * 1e6 + 0.5) AS BIGINT) AS logq_b
  FROM c2 JOIN c1s USING (prev) JOIN uni USING (word)
),
terms AS (
  SELECT s.doc_id, u.logq_u AS lq FROM stream s JOIN uni u USING (word)
  WHERE s.prev IS NULL
  UNION ALL
  SELECT b.doc_id, bi.logq_b FROM big b
  JOIN bi ON bi.prev = b.prev AND bi.word = b.word
)
SELECT doc_id, count(*) AS n_tokens,
       round(-CAST(sum(lq) AS BIGINT) / (1e6 * count(*)), 6) AS cross_entropy
FROM terms GROUP BY doc_id
""".format(tok=_TOKENS_SQL)


# Per-document n-gram novelty (operators/text.py:ngram_novelty): first
# corpus occurrence per 60-bit-hashed distinct gram, exact integer
# fraction per doc.
NGRAM_NOVELTY = f"""
WITH ng AS (
  SELECT DISTINCT doc_id,
         {_h60(f"array_to_string(toks[i:i+{P.NOVELTY_NGRAM - 1}], ' ')")} AS g
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents) t,
       unnest(generate_series(1, len(toks) - {P.NOVELTY_NGRAM - 1})) AS gi(i)
  WHERE len(toks) >= {P.NOVELTY_NGRAM}
),
first AS (SELECT g, min(doc_id) AS first_doc FROM ng GROUP BY g)
SELECT n.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_first,
       floor(sum(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS novelty
FROM ng n JOIN first f USING (g)
GROUP BY n.doc_id
"""

# Top-k adjacent-pair PMI collocations (operators/text.py:pmi_bigrams):
# identical double arithmetic (three ratios, left-associative) feeding
# one micro-nat-quantized ln on both engines.
PMI_BIGRAMS = f"""
WITH toks AS (
  SELECT doc_id, i, t[i] AS word
  FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents) x,
       unnest(generate_series(1, len(t))) AS g(i)
),
stream AS (
  SELECT doc_id, i, word,
         lag(word) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM toks
),
uni AS (SELECT word, count(*) AS c1 FROM stream GROUP BY word),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tokens FROM uni),
big AS (SELECT prev, word FROM stream WHERE prev IS NOT NULL),
mt AS (SELECT count(*) AS m_bigrams FROM big),
c2t AS (
  SELECT prev, word, count(*) AS c2 FROM big
  GROUP BY prev, word HAVING count(*) >= {P.PMI_MIN_COUNT}
),
scored AS (
  SELECT c2t.prev AS w1, c2t.word AS w2, c2t.c2, a.c1 AS c1a, b.c1 AS c1b,
         CAST(floor(ln((CAST(c2t.c2 AS DOUBLE) / m_bigrams)
                       * (CAST(n_tokens AS DOUBLE) / a.c1)
                       * (CAST(n_tokens AS DOUBLE) / b.c1))
                    * 1e6 + 0.5) AS BIGINT) AS pmi_units
  FROM c2t
  JOIN uni a ON a.word = c2t.prev
  JOIN uni b ON b.word = c2t.word
  CROSS JOIN tot CROSS JOIN mt
)
SELECT CAST(row_number() OVER (ORDER BY pmi_units DESC, w1, w2) AS INT) AS rank,
       w1, w2, c2, pmi_units
FROM scored ORDER BY pmi_units DESC, w1, w2 LIMIT {P.PMI_TOPK}
"""


# Temperature-based mixture planning
# (operators/corpus.py:mix_plan_temperature): p^alpha quantized to
# integer nano-units BEFORE the normalizing sum, so the denominator is
# an order-free exact integer sum on both engines.
MIX_PLAN_TEMPERATURE = f"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS avail_tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY lang
),
tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS total_tokens FROM per_lang),
wu AS (
  SELECT p.*, t.total_tokens,
         CASE WHEN p.avail_tokens > 0
              THEN CAST(floor(pow(p.avail_tokens / CAST(t.total_tokens AS DOUBLE),
                                  CAST({repr(P.MIX_TEMPERATURE_ALPHA)} AS DOUBLE))
                        * 1e9 + 0.5) AS BIGINT)
              ELSE 0 END AS u
  FROM per_lang p CROSS JOIN tot t
),
dn AS (SELECT CAST(sum(u) AS BIGINT) AS denom FROM wu)
SELECT lang, n_docs, avail_tokens,
       floor(u / CAST(denom AS DOUBLE) * 1e6 + 0.5) / 1e6 AS share,
       CAST(floor({P.MIX_BUDGET_TOKENS} * (u / CAST(denom AS DOUBLE)) + 0.5) AS BIGINT)
         AS alloc_tokens,
       CASE WHEN avail_tokens > 0
            THEN floor(least(CAST(1.0 AS DOUBLE),
                 floor({P.MIX_BUDGET_TOKENS} * (u / CAST(denom AS DOUBLE)) + 0.5)
                 / avail_tokens) * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS rate,
       CASE WHEN avail_tokens > 0
            THEN floor(floor({P.MIX_BUDGET_TOKENS} * (u / CAST(denom AS DOUBLE)) + 0.5)
                 / avail_tokens * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS epochs
FROM wu CROSS JOIN dn
"""


# SQ8 scalar-quantized ANN (operators/similarity.py:ann_sq8): the whole
# train/encode/score/rank chain in SQL. Stats are exact min/max picks;
# the encode is single-op IEEE arithmetic on identical doubles; only the
# final ADC dot is a float SUM, rounded 6dp before ranking (the repo's
# established sum-order bridge, see ANN_COSINE_TOPK).
ANN_SQ8 = f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), stats AS MATERIALIZED (
  SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY pos
), codes AS MATERIALIZED (
  SELECT d.vec_id, d.pos,
         CASE WHEN s.mx > s.mn
              THEN greatest(0, least(255,
                   CAST(floor((d.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5)
                        AS INTEGER)))
              ELSE 0 END AS code,
         s.mn, s.mx
  FROM dims d JOIN stats s USING (pos)
  WHERE d.vec_id >= {P.ANN_N_QUERIES}
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(sum(q.x * (c.mn + c.code * ((c.mx - c.mn) / 255.0))), 6)
           AS score_sq8
  FROM dims q JOIN codes c USING (pos)
  WHERE q.vec_id < {P.ANN_N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY score_sq8 DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, score_sq8
FROM ranked WHERE rank <= {P.ANN_K}
"""


# hard-negative mining over the SQ8-compressed corpus
# (operators/similarity.py:mine_hard_negatives_sq8): ANN_SQ8's decode +
# ADC score with the label-inequality gate ahead of the ranking.
MINE_HARD_NEGATIVES_SQ8 = f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), stats AS MATERIALIZED (
  SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY pos
), codes AS MATERIALIZED (
  SELECT d.vec_id, d.pos,
         CASE WHEN s.mx > s.mn
              THEN greatest(0, least(255,
                   CAST(floor((d.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5)
                        AS INTEGER)))
              ELSE 0 END AS code,
         s.mn, s.mx
  FROM dims d JOIN stats s USING (pos)
  WHERE d.vec_id >= {P.ANN_N_QUERIES}
), lab AS (
  SELECT vec_id, CAST(label AS INTEGER) AS lbl FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(sum(q.x * (c.mn + c.code * ((c.mx - c.mn) / 255.0))), 6)
           AS score_sq8
  FROM dims q JOIN codes c USING (pos)
  WHERE q.vec_id < {P.ANN_N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
), flt AS (
  SELECT s.query_id, s.neighbor_id, s.score_sq8,
         ql.lbl AS query_label, nl.lbl AS neighbor_label
  FROM scored s
  JOIN lab ql ON ql.vec_id = s.query_id
  JOIN lab nl ON nl.vec_id = s.neighbor_id
  WHERE ql.lbl <> nl.lbl
), ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY score_sq8 DESC, neighbor_id
         ) AS rank
  FROM flt
)
SELECT query_id, rank, neighbor_id, score_sq8, query_label,
       neighbor_label
FROM ranked WHERE rank <= {P.ANN_K}
"""


# Cell-pruned hard-negative mining (operators/similarity.py:
# mine_hard_negatives_ivfsq8): the ANN_IVF_SQ8 probe + cell restriction
# with the label-inequality gate applied to the scored stream before
# the per-query ranking — both quantizers exactly reproducible, so the
# whole cell-pruned miner hash-gates.
MINE_HARD_NEGATIVES_IVFSQ8 = f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), stats AS MATERIALIZED (
  SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY pos
), codes AS MATERIALIZED (
  SELECT d.vec_id, d.pos,
         CASE WHEN s.mx > s.mn
              THEN greatest(0, least(255,
                   CAST(floor((d.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5)
                        AS INTEGER)))
              ELSE 0 END AS code,
         s.mn, s.mx
  FROM dims d JOIN stats s USING (pos)
  WHERE d.vec_id >= {P.ANN_N_QUERIES}
), lab AS (
  SELECT vec_id, CAST(label AS INTEGER) AS lbl FROM embeddings
), dots AS MATERIALIZED (
  SELECT vec_id, embedding,
    {_IVF_DOTS}
  FROM embeddings WHERE vec_id >= {P.ANN_N_QUERIES}
), cells AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, {_IVF_CASE} AS cell
  FROM (SELECT *, {_IVF_MAX} AS mx FROM dots) t
), qdots AS MATERIALIZED (
  {_IVF_PROBE_SELECTS}
), probed AS (
  SELECT query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cell) AS pr
    FROM qdots
  ) t WHERE pr <= {P.IVF_PROBES}
), pairs AS (
  SELECT p.query_id, b.neighbor_id
  FROM probed p JOIN cells b ON p.cell = b.cell
  JOIN lab ql ON ql.vec_id = p.query_id
  JOIN lab nl ON nl.vec_id = b.neighbor_id
  WHERE ql.lbl <> nl.lbl
), scored AS (
  SELECT pr.query_id, pr.neighbor_id,
         round(sum(q.x * (c.mn + c.code * ((c.mx - c.mn) / 255.0))), 6)
           AS score_sq8
  FROM pairs pr
  JOIN dims q ON q.vec_id = pr.query_id
  JOIN codes c ON c.vec_id = pr.neighbor_id AND c.pos = q.pos
  GROUP BY pr.query_id, pr.neighbor_id
), ranked AS (
  SELECT s.query_id, s.neighbor_id, s.score_sq8,
         ql.lbl AS query_label, nl.lbl AS neighbor_label,
         row_number() OVER (
           PARTITION BY s.query_id ORDER BY s.score_sq8 DESC, s.neighbor_id
         ) AS rank
  FROM scored s
  JOIN lab ql ON ql.vec_id = s.query_id
  JOIN lab nl ON nl.vec_id = s.neighbor_id
)
SELECT query_id, rank, neighbor_id, score_sq8, query_label,
       neighbor_label
FROM ranked WHERE rank <= {P.ANN_K}
"""


# Length-bucketed dynamic batching (operators/corpus.py:length_batches):
# per-source ranking windows (arrival vs length-sorted), batch_id =
# floor(rank/B), per-batch padding-waste rollup. Integer token counts
# end-to-end; only utilization is a quantized ratio.
LENGTH_BATCHES = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, source,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
    AND len({_TOKENS_SQL}) > 0
), arr AS (
  SELECT 'arrival' AS strategy, source,
         CAST(floor((row_number() OVER (PARTITION BY source ORDER BY doc_id)
                     - 1) / {float(P.LB_BATCH_DOCS)!r}) AS BIGINT) AS batch_id,
         n_tokens
  FROM d
), srt AS (
  SELECT 'length_sorted' AS strategy, source,
         CAST(floor((row_number() OVER (
                       PARTITION BY source ORDER BY n_tokens DESC, doc_id)
                     - 1) / {float(P.LB_BATCH_DOCS)!r}) AS BIGINT) AS batch_id,
         n_tokens
  FROM d
), u AS (SELECT * FROM arr UNION ALL SELECT * FROM srt)
SELECT strategy, source, batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS max_len,
       CAST(sum(n_tokens) AS BIGINT) AS sum_len,
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_waste,
       floor(sum(n_tokens) / CAST(count(*) * max(n_tokens) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS utilization
FROM u GROUP BY strategy, source, batch_id
"""


# Deterministic per-epoch training order (operators/corpus.py:
# epoch_shuffle): the oracle computes the global (h, doc_id) rank with a
# plain window; the Spark plan computes the identical rank with the
# two-level bucket-offset shape — same rows, different machine shape.
EPOCH_SHUFFLE = f"""
WITH e AS (
  SELECT doc_id, epoch
  FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) ep
), h AS (
  SELECT doc_id, epoch,
         {_h60("'shuf:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS h
  FROM e
)
SELECT epoch, doc_id,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
            AS BIGINT) AS shuffle_pos
FROM h
"""

# Zipf rank-frequency least squares (operators/text.py:token_zipf_fit):
# micro-quantized ln terms, exact integer regression sums, closed-form
# slope/intercept rounded 6dp.
TOKEN_ZIPF_FIT = f"""
WITH wc AS (
  SELECT w AS word, count(*) AS freq
  FROM (SELECT unnest({_TOKENS_SQL}) AS w
        FROM documents WHERE text IS NOT NULL) t
  GROUP BY w
), pts AS (
  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY freq DESC, word)
                            AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
  FROM wc
), a AS (
  -- second moments widen to HUGEINT (Spark mirror: decimal(38,0)):
  -- the closed-form cross terms exceed int64 past ~10^4 word types
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM pts
)
SELECT n AS n_types,
       floor(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                  AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                    AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS zipf_slope,
       floor((sy - CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                        AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                          AS DOUBLE)
              * sx) / CAST(n AS DOUBLE) + 0.5) / 1e6 AS zipf_intercept
FROM a
"""

# Heaps'-law vocabulary growth (operators/text.py:heaps_law): nested
# doc_id-prefix token/type counts from ONE conditional aggregate.
_HEAPS_WIDE = ",\n    ".join(
    f"CAST(sum(CASE WHEN doc_id <= CAST(floor(mx * {pct} / 100.0) AS BIGINT)"
    f" THEN 1 ELSE 0 END) AS BIGINT) AS tok_{pct},\n    "
    f"CAST(count(DISTINCT CASE WHEN doc_id <= CAST(floor(mx * {pct} / 100.0)"
    f" AS BIGINT) THEN word END) AS BIGINT) AS typ_{pct}"
    for pct in (10, 25, 50, 100)
)
HEAPS_LAW = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS word
  FROM documents WHERE text IS NOT NULL
), m AS (SELECT max(doc_id) AS mx FROM toks),
wide AS (
  SELECT
    {_HEAPS_WIDE}
  FROM toks CROSS JOIN m
)
SELECT 10 AS prefix_pct, tok_10 AS n_tokens, typ_10 AS n_types FROM wide
UNION ALL
SELECT 25, tok_25, typ_25 FROM wide
UNION ALL
SELECT 50, tok_50, typ_50 FROM wide
UNION ALL
SELECT 100, tok_100, typ_100 FROM wide
"""


# SQ8 recall@k vs the exact scan (operators/similarity.py:sq8_recall) —
# the ANN_RECALL composition over the SQ8 index.
SQ8_RECALL = f"""
WITH exact AS ({ANN_COSINE_TOPK}), approx AS ({ANN_SQ8})
SELECT e.query_id AS query_id, count(*) AS n_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       floor(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall_at_k
FROM exact e
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


# Trained multinomial-NB language ID (operators/text.py:nb_lang_id):
# train AND inference from exact integer counts — micro-nat log terms,
# exact long sums, lexicographic argmax ties.
NB_LANG_ID = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS word
  FROM documents WHERE text IS NOT NULL
), langs AS MATERIALIZED (
  SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_tok
  FROM toks GROUP BY lang
), vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM toks),
lw AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY lang, word
), model AS (
  SELECT l.lang AS mlang, lw.word,
         CAST(floor(ln((lw.c + 1) / CAST(l.n_tok + 1 * v.v AS DOUBLE))
                    * 1e6) AS BIGINT) AS logp
  FROM lw JOIN langs l USING (lang) CROSS JOIN vocab v
), flr AS (
  SELECT lang AS mlang,
         CAST(floor(ln(1 / CAST(n_tok + 1 * v AS DOUBLE)) * 1e6)
              AS BIGINT) AS logp0
  FROM langs CROSS JOIN vocab
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS ndv
  FROM documents WHERE text IS NOT NULL
), prior AS (
  SELECT lang AS mlang,
         CAST(floor(ln(n_docs / CAST(ndv AS DOUBLE)) * 1e6)
              AS BIGINT) AS logprior
  FROM langs CROSS JOIN nd
), cand AS (
  SELECT t.doc_id, t.lang, ml.mlang, t.word
  FROM toks t CROSS JOIN (SELECT lang AS mlang FROM langs) ml
), scored AS (
  SELECT c.doc_id, c.lang, c.mlang,
         CAST(sum(coalesce(m.logp, f.logp0)) AS BIGINT) AS loglik
  FROM cand c
  LEFT JOIN model m ON m.mlang = c.mlang AND m.word = c.word
  JOIN flr f ON f.mlang = c.mlang
  GROUP BY c.doc_id, c.lang, c.mlang
), final AS (
  SELECT s.doc_id, s.lang, s.mlang,
         s.loglik + p.logprior AS score,
         row_number() OVER (
           PARTITION BY s.doc_id ORDER BY s.loglik + p.logprior DESC, s.mlang
         ) AS rn
  FROM scored s JOIN prior p ON p.mlang = s.mlang
)
SELECT doc_id, lang, mlang AS pred_lang, score AS score_micro_nats,
       mlang = lang AS correct
FROM final WHERE rn = 1
"""


# IVF + SQ8 (operators/similarity.py:ann_ivf_sq8): ANN_IVF's literal
# coarse cells restrict the scan; ANN_SQ8's decode scores the survivors.
ANN_IVF_SQ8 = f"""
WITH dims AS MATERIALIZED (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), stats AS MATERIALIZED (
  SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY pos
), codes AS MATERIALIZED (
  SELECT d.vec_id, d.pos,
         CASE WHEN s.mx > s.mn
              THEN greatest(0, least(255,
                   CAST(floor((d.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5)
                        AS INTEGER)))
              ELSE 0 END AS code,
         s.mn, s.mx
  FROM dims d JOIN stats s USING (pos)
  WHERE d.vec_id >= {P.ANN_N_QUERIES}
), dots AS MATERIALIZED (
  SELECT vec_id, embedding,
    {_IVF_DOTS}
  FROM embeddings WHERE vec_id >= {P.ANN_N_QUERIES}
), cells AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, {_IVF_CASE} AS cell
  FROM (SELECT *, {_IVF_MAX} AS mx FROM dots) t
), qdots AS MATERIALIZED (
  {_IVF_PROBE_SELECTS}
), probed AS (
  SELECT query_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cell) AS pr
    FROM qdots
  ) t WHERE pr <= {P.IVF_PROBES}
), pairs AS (
  SELECT p.query_id, b.neighbor_id
  FROM probed p JOIN cells b ON p.cell = b.cell
), scored AS (
  SELECT pr.query_id, pr.neighbor_id,
         round(sum(q.x * (c.mn + c.code * ((c.mx - c.mn) / 255.0))), 6)
           AS score_sq8
  FROM pairs pr
  JOIN dims q ON q.vec_id = pr.query_id
  JOIN codes c ON c.vec_id = pr.neighbor_id AND c.pos = q.pos
  GROUP BY pr.query_id, pr.neighbor_id
)
SELECT query_id, rank, neighbor_id, score_sq8 FROM (
  SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY score_sq8 DESC, neighbor_id
         ) AS rank
  FROM scored
) t WHERE rank <= {P.ANN_K}
"""


# Time-constrained funnel (operators/analytics.py:funnel_windowed):
# chained per-user conditional minima with the window bound, then the
# scalar rollup. 86400 s window in microseconds.
FUNNEL_WINDOWED = """
WITH e AS MATERIALIZED (
  SELECT user_id, event_type, epoch_us(ts) AS tu FROM events
), u1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN tu END) AS t1
  FROM e GROUP BY user_id
), u2 AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'click' AND e.tu >= u1.t1
                   AND e.tu <= u1.t1 + 86400000000 THEN e.tu END) AS t2
  FROM e JOIN u1 USING (user_id) GROUP BY e.user_id
), u3 AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'purchase' AND e.tu >= u2.t2
                   AND e.tu <= u2.t2 + 86400000000 THEN e.tu END) AS t3
  FROM e JOIN u2 USING (user_id) GROUP BY e.user_id
), per_user AS (
  SELECT u1.user_id, u1.t1, u2.t2, u3.t3
  FROM u1 JOIN u2 USING (user_id) JOIN u3 USING (user_id)
), agg AS (
  SELECT
    CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS stage_view,
    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS stage_click_w,
    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
              THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase_w
  FROM per_user
)
SELECT stage_view, stage_click_w, stage_purchase_w,
       floor(stage_purchase_w / CAST(stage_view AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS conversion_w
FROM agg
"""

# Full Markov transition matrix (operators/analytics.py:event_markov).
EVENT_MARKOV = """
WITH ordered AS (
  SELECT user_id,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS from_type,
         event_type AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type FROM ordered WHERE from_type IS NOT NULL
), counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
       floor(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS p
FROM counts
"""


# Overlapping token chunking (operators/corpus.py:chunk_documents):
# starts every 48 tokens, 64-token windows, last chunk short-but-
# non-empty; DuckDB list_slice bounds are inclusive.
CHUNK_DOCUMENTS = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, {_TOKENS_SQL} AS t
  FROM documents WHERE text IS NOT NULL AND len({_TOKENS_SQL}) >= 1
), starts AS (
  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
         generate_subscripts(generate_series(1, len(t), 48), 1) - 1
           AS chunk_no,
         unnest(generate_series(1, len(t), 48)) AS st
  FROM d
)
SELECT doc_id, CAST(chunk_no AS INTEGER) AS chunk_no,
       CAST(st AS BIGINT) AS start_token,
       CAST(least(64, n_tokens - st + 1) AS BIGINT) AS chunk_len,
       array_to_string(list_slice(t, st, st + 63), ' ') AS chunk
FROM starts
"""


# Deterministic train/valid/test split report (operators/corpus.py:
# data_split): salted doc_id-hash buckets, per-(source, split) counts.
DATA_SPLIT = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, source,
         CASE WHEN h < 80 THEN 'train'
              WHEN h < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, source,
           {_h60("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
    FROM documents
  ) t
), per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM d GROUP BY source
)
SELECT d.source, d.split, CAST(count(*) AS BIGINT) AS n_docs,
       floor(count(*) / CAST(any_value(p.n_src) AS DOUBLE) * 1e6 + 0.5)
         / 1e6 AS share
FROM d JOIN per_source p USING (source)
GROUP BY d.source, d.split
"""

# Top-k opening user journeys (operators/analytics.py:session_paths).
SESSION_PATHS = """
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS rn
  FROM events
), firstn AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
         CAST(count(*) AS BIGINT) AS path_len
  FROM ordered WHERE rn <= 4 GROUP BY user_id
), ranked AS (
  SELECT path, path_len, CAST(count(*) AS BIGINT) AS n_users
  FROM firstn GROUP BY path, path_len
), top AS (
  SELECT *, CAST(row_number() OVER (ORDER BY n_users DESC, path)
                 AS INTEGER) AS rank
  FROM ranked
)
SELECT rank, path, path_len, n_users FROM top WHERE rank <= 15
"""


# Integer-exact HITS (operators/graph.py:trade_hits): the same
# iterations unrolled as CTEs, max-normalized to micro-units.
def _hits_sql(iters: int) -> str:
    from vedb_gaze_spark.operators.graph import HITS_SCALE

    steps = []
    for i in range(1, iters + 1):
        # MATERIALIZED is load-bearing: each normalization references its
        # raw CTE twice (sum + max subquery), so inlined CTEs would
        # re-evaluate the chain exponentially (observed: fd exhaustion
        # from thousands of re-opened parquet scans at depth 8)
        steps.append(
            f"a{i} AS MATERIALIZED (SELECT a, CAST(sum(hub) AS BIGINT) AS raw "
            f"FROM edges JOIN h{i - 1} ON edges.h = h{i - 1}.n GROUP BY a)"
        )
        steps.append(
            f"an{i} AS MATERIALIZED (SELECT a AS n, CAST((raw * {HITS_SCALE}) // "
            f"(SELECT max(raw) FROM a{i}) AS BIGINT) AS auth FROM a{i})"
        )
        steps.append(
            f"hh{i} AS MATERIALIZED (SELECT h, CAST(sum(auth) AS BIGINT) AS raw "
            f"FROM edges JOIN an{i} ON edges.a = an{i}.n GROUP BY h)"
        )
        steps.append(
            f"h{i} AS MATERIALIZED (SELECT h AS n, CAST((raw * {HITS_SCALE}) // "
            f"(SELECT max(raw) FROM hh{i}) AS BIGINT) AS hub FROM hh{i})"
        )
    chain = ",\n".join(steps)
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey * 2 AS h, l.l_suppkey * 2 + 1 AS a
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
h0 AS MATERIALIZED (SELECT DISTINCT h AS n, CAST({HITS_SCALE} AS BIGINT) AS hub
       FROM edges),
{chain},
allnodes AS (
  SELECT n AS node_id, hub AS score_units FROM h{iters}
  UNION ALL
  SELECT n, auth FROM an{iters}
)
SELECT node_id,
       CASE WHEN node_id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node_id // 2 AS entity_key,
       score_units
FROM allnodes
"""


TRADE_HITS = _hits_sql(8)


# Daily value trend (operators/analytics.py:daily_trend): exact integer
# regression sums over the per-day cents rollup.
DAILY_TREND = """
WITH d AS MATERIALIZED (
  SELECT ((epoch_us(ts) - (((epoch_us(ts) % 86400000000) + 86400000000)
           % 86400000000)) // 86400000000) AS x,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), days AS (
  SELECT x, CAST(sum(cents) AS BIGINT) AS y FROM d GROUP BY x
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM days
)
SELECT n AS n_days,
       floor((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS slope_cents_per_day,
       floor((sy - (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)
              * sx) / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6
         AS intercept_cents
FROM a
"""


# Dedup method-agreement matrix (operators/dedup.py:dedup_agreement):
# the three text near-dup kernels' pair sets compared pairwise. Each
# kernel's full oracle runs ONCE as a (WITH ...) subquery.
DEDUP_AGREEMENT = f"""
WITH tagged AS MATERIALIZED (
  SELECT doc_a, doc_b, 'minhash_lsh' AS method
  FROM ({DEDUP_MINHASH_LSH}) t1
  UNION ALL
  SELECT doc_a, doc_b, 'ngram_jaccard'
  FROM ({DEDUP_NGRAM_JACCARD}) t2
  UNION ALL
  SELECT doc_a, doc_b, 'winnow_overlap'
  FROM ({WINNOW_OVERLAP}) t3
), counts AS (
  SELECT method, CAST(count(*) AS BIGINT) AS n FROM tagged GROUP BY method
), shared AS (
  SELECT a.method AS method_a, b.method AS method_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM tagged a JOIN tagged b
    ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b AND a.method < b.method
  GROUP BY a.method, b.method
)
SELECT m.method AS method_a, n.method AS method_b,
       m.n AS n_a, n.n AS n_b,
       CAST(coalesce(bo.n_both, 0) AS BIGINT) AS n_both,
       floor(coalesce(bo.n_both, 0)
             / CAST(m.n + n.n - coalesce(bo.n_both, 0) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS pair_jaccard
FROM counts m CROSS JOIN counts n
LEFT JOIN shared bo ON bo.method_a = m.method AND bo.method_b = n.method
WHERE m.method < n.method
"""

# Sampled agreement gate (operators/dedup.py:dedup_agreement with
# sample_mod — the gated face since r11): the identical three pair
# kernels over the SAME deterministic salted sub-corpus as
# DEDUP_RECALL_SAMPLED, so the two sampled measurements are directly
# comparable. Same rewrite discipline as DEDUP_RECALL_SAMPLED: each
# kernel reads documents only through its shingle CTE's
# "FROM documents," — assert the exact string the replace consumes so
# a formatting drift fails loudly instead of silently gating an
# unsampled oracle against the sampled Spark plan.
assert WINNOW_OVERLAP.count("FROM documents,") == 1
assert WINNOW_OVERLAP.count("FROM documents") == 1
DEDUP_AGREEMENT_SAMPLED = f"""
WITH dsmp AS (SELECT * FROM documents WHERE {_DRS_PRED}),
tagged AS MATERIALIZED (
  SELECT doc_a, doc_b, 'minhash_lsh' AS method
  FROM ({DEDUP_MINHASH_LSH.replace("FROM documents,", "FROM dsmp,")}) t1
  UNION ALL
  SELECT doc_a, doc_b, 'ngram_jaccard'
  FROM ({DEDUP_NGRAM_JACCARD.replace("FROM documents,", "FROM dsmp,")}) t2
  UNION ALL
  SELECT doc_a, doc_b, 'winnow_overlap'
  FROM ({WINNOW_OVERLAP.replace("FROM documents,", "FROM dsmp,")}) t3
), counts AS (
  SELECT method, CAST(count(*) AS BIGINT) AS n FROM tagged GROUP BY method
), shared AS (
  SELECT a.method AS method_a, b.method AS method_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM tagged a JOIN tagged b
    ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b AND a.method < b.method
  GROUP BY a.method, b.method
)
SELECT m.method AS method_a, n.method AS method_b,
       m.n AS n_a, n.n AS n_b,
       CAST(coalesce(bo.n_both, 0) AS BIGINT) AS n_both,
       floor(coalesce(bo.n_both, 0)
             / CAST(m.n + n.n - coalesce(bo.n_both, 0) AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS pair_jaccard
FROM counts m CROSS JOIN counts n
LEFT JOIN shared bo ON bo.method_a = m.method AND bo.method_b = n.method
WHERE m.method < n.method
"""


# Interpolated trigram-LM cross-entropy (operators/text.py:
# lm_score_trigram): one more Jelinek-Mercer level on LM_SCORE_BIGRAM;
# p2 is materialized once in the bigram CTE and reused inside the
# trigram ln so both engines evaluate the identical doubles.
_LM3_L = repr(P.LM3_LAMBDA)
_LM3_1ML = repr(1.0 - P.LM3_LAMBDA)
LM_SCORE_TRIGRAM = f"""
WITH toks AS (
  SELECT doc_id, i, t[i] AS word
  FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents) x,
       unnest(generate_series(1, len(t))) AS g(i)
),
stream AS (
  SELECT doc_id, i, word,
         lag(word) OVER (PARTITION BY doc_id ORDER BY i) AS prev,
         lag(word, 2) OVER (PARTITION BY doc_id ORDER BY i) AS prev2
  FROM toks
),
wc AS (SELECT word, count(*) AS cu FROM stream GROUP BY word),
stats AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total, count(*) AS vocab FROM wc),
uni AS (
  SELECT word, cu,
         CAST(floor(ln((cu + 1.0) / (n_total + vocab)) * 1e6 + 0.5) AS BIGINT) AS logq_u,
         (n_total + vocab) AS denom_u
  FROM wc CROSS JOIN stats
),
big AS (SELECT doc_id, prev2, prev, word FROM stream WHERE prev IS NOT NULL),
c2 AS (SELECT prev, word, count(*) AS c2 FROM big GROUP BY prev, word),
c1s AS (SELECT prev, count(*) AS c1s FROM big GROUP BY prev),
bi AS MATERIALIZED (
  SELECT c2.prev, c2.word,
         CAST(floor(ln({_LM2_L} * c2 / c1s + {_LM2_1ML} * (cu + 1.0) / denom_u)
                    * 1e6 + 0.5) AS BIGINT) AS logq_b,
         ({_LM2_L} * c2 / c1s + {_LM2_1ML} * (cu + 1.0) / denom_u) AS p2
  FROM c2 JOIN c1s USING (prev) JOIN uni USING (word)
),
tris AS (SELECT doc_id, prev2, prev, word FROM stream WHERE prev2 IS NOT NULL),
c3 AS (SELECT prev2, prev, word, count(*) AS c3 FROM tris GROUP BY prev2, prev, word),
c2s AS (SELECT prev2, prev, count(*) AS c2s FROM tris GROUP BY prev2, prev),
tri AS MATERIALIZED (
  SELECT c3.prev2, c3.prev, c3.word,
         CAST(floor(ln({_LM3_L} * c3 / c2s + {_LM3_1ML} * p2)
                    * 1e6 + 0.5) AS BIGINT) AS logq_t
  FROM c3 JOIN c2s USING (prev2, prev)
  JOIN bi ON bi.prev = c3.prev AND bi.word = c3.word
),
terms AS (
  SELECT s.doc_id, u.logq_u AS lq FROM stream s JOIN uni u USING (word)
  WHERE s.prev IS NULL
  UNION ALL
  SELECT b.doc_id, bi.logq_b FROM big b
  JOIN bi ON bi.prev = b.prev AND bi.word = b.word
  WHERE b.prev2 IS NULL
  UNION ALL
  SELECT t.doc_id, tri.logq_t FROM tris t
  JOIN tri ON tri.prev2 = t.prev2 AND tri.prev = t.prev AND tri.word = t.word
)
SELECT doc_id, count(*) AS n_tokens,
       round(-CAST(sum(lq) AS BIGINT) / (1e6 * count(*)), 6) AS cross_entropy
FROM terms GROUP BY doc_id
"""


# schema-on-read JSON rollup (operators/analytics.py:props_rollup):
# native JSON path extraction on both engines, exact integer stats.
PROPS_ROLLUP = """
WITH x AS (
  -- Spark's get_json_object NULLs malformed JSON / missing keys /
  -- non-integer values; DuckDB RAISES on malformed input and on bad
  -- casts, so the mirror needs json_valid + TRY_CAST to meet the
  -- same never-an-error contract (pinned on planted dirty rows)
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              END AS k
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_extracted,
       CAST(sum(k) AS BIGINT) AS k_sum,
       min(k) AS k_min,
       max(k) AS k_max,
       count(DISTINCT k) AS k_distinct,
       floor(CAST(sum(k) AS DOUBLE) / count(k) * 1e6 + 0.5) / 1e6 AS k_mean
FROM x GROUP BY event_type
"""
