package graft.tools

import org.apache.spark.sql.SparkSession

import graft.spark.Queries

/** r17 shape lab: A/B candidate physical shapes for the scale-section
  * floor queries (q3/q4/q5/q1/q12) on a bigdata dir, with the Bench
  * session profile. Each variant is named; pass name prefixes as args
  * (default: all). An argument containing whitespace is raw SQL over the
  * dir's tables and runs as variant `sqlN`. Prints min-of-N warm reps +
  * exchange/sort counts per variant.
  *
  * Usage: runMain graft.tools.ShapeLab [<name prefix> | "<sql>"]...
  * Env: SPARK_GRAFT_SF_DIR (default bigdata/sf10), SPARK_GRAFT_REPS
  *      (default 5), SPARK_GRAFT_CONF (k=v;k=v), SPARK_GRAFT_PLAN=1 to
  *      print the final plans. */
object ShapeLab {

  private val centsSum =
    """sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT)))""".stripMargin
  private val centsSumL =
    """sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))""".stripMargin

  val variants: Seq[(String, String)] = Seq(
    // hourly rollup: Spark's count(DISTINCT) Expand vs the manual
    // two-level aggregate (same two exchanges, grouped rows instead of
    // expanded ones)
    "hourly_distinct" ->
      """SELECT event_type, CAST(date_trunc('hour', ts) AS BIGINT) AS hour_epoch,
        | CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY event_type, date_trunc('hour', ts)""".stripMargin,
    "hourly_twolevel" ->
      """SELECT event_type, hour_epoch,
        | CAST(sum(cnt) AS BIGINT) AS n, CAST(count(user_id) AS BIGINT) AS n_users
        |FROM (SELECT event_type, CAST(date_trunc('hour', ts) AS BIGINT) AS hour_epoch,
        |        user_id, count(*) AS cnt
        |      FROM events GROUP BY 1, 2, 3)
        |GROUP BY event_type, hour_epoch""".stripMargin,
    // r20 ONE-EXCHANGE rollup: hash-partition the RAW projection on the
    // (type, hour) PREFIX of the inner grouping — HashPartitioning(a,b)
    // satisfies ClusteredDistribution(a,b,c), so the inner per-user agg
    // runs right after that single exchange and the outer agg's
    // clustering is satisfied by the same partitioning: two aggregates,
    // ONE exchange. The partial agg this forgoes barely reduced events
    // data anyway (per-(type,hour,user) counts are ~1), so the shuffle
    // volume is the same rows the two-level form shuffled as partials.
    "hourly_prefix" ->
      """SELECT event_type, hour_epoch,
        | CAST(sum(cnt) AS BIGINT) AS n, CAST(count(user_id) AS BIGINT) AS n_users
        |FROM (SELECT event_type, hour_epoch, user_id, count(*) AS cnt
        |      FROM (SELECT /*+ REPARTITION(event_type, hour_epoch) */ event_type,
        |              CAST(date_trunc('hour', ts) AS BIGINT) AS hour_epoch, user_id
        |            FROM events)
        |      GROUP BY 1, 2, 3)
        |GROUP BY event_type, hour_epoch""".stripMargin,
    // r20: single-field JSON extraction via from_json (one Jackson parse
    // to a 1-field struct) vs get_json_object's JSONPath evaluator
    "json_fromjson" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(min(k) AS BIGINT) AS min_k,
        | CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type, from_json(props, 'k BIGINT').k AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "q3_preagg_base" ->
      s"""WITH bo AS (
         |  SELECT o.o_orderkey
         |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |  WHERE c.c_mktsegment = 'BUILDING'),
         |lrev AS (
         |  SELECT l_orderkey, $centsSum AS cents
         |  FROM lineitem GROUP BY l_orderkey)
         |SELECT r.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST(r.cents AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lrev r JOIN bo ON r.l_orderkey = bo.o_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    // filter-first through a per-bucket SHUFFLE_HASH build of the
    // BUILDING key set: zero exchanges on the bucketed layout, no sorts,
    // and the per-order agg shrinks to matched-order grain
    "q3_shj_bo" ->
      s"""WITH bo AS (
         |  SELECT o.o_orderkey
         |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |  WHERE c.c_mktsegment = 'BUILDING')
         |SELECT /*+ SHUFFLE_HASH(bo) */ l.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lineitem l JOIN bo ON l.l_orderkey = bo.o_orderkey
         |GROUP BY l.l_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    // same, forced broadcast of the ~3M-key set
    "q3_bhj_bo" ->
      s"""WITH bo AS (
         |  SELECT o.o_orderkey
         |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |  WHERE c.c_mktsegment = 'BUILDING')
         |SELECT /*+ BROADCAST(bo) */ l.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lineitem l JOIN bo ON l.l_orderkey = bo.o_orderkey
         |GROUP BY l.l_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    // FLAT-SMALL shapes: at sf0.1 the cost is sequential AQE barriers,
    // not data. Broadcasting BOTH dims lets their builds run concurrently
    // and the whole query collapse to one scan stage + TakeOrdered.
    "q3_bcast_both" ->
      s"""SELECT /*+ BROADCAST(o, c) */ l.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lineitem l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |GROUP BY l.l_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q3_ff_flat" ->
      s"""WITH bo AS (
         |  SELECT o.o_orderkey
         |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |  WHERE c.c_mktsegment = 'BUILDING'),
         |lrev AS (
         |  SELECT l.l_orderkey, $centsSumL AS cents
         |  FROM lineitem l JOIN bo ON l.l_orderkey = bo.o_orderkey
         |  GROUP BY l.l_orderkey)
         |SELECT l_orderkey AS o_orderkey,
         | CAST(CAST(CAST(cents AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lrev
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    // SINGLE-ROW-GROUP FAN-OUT probes (r19): every sf0.1 table is one
    // parquet row group, so every scan is ONE task no matter the bin
    // size — the whole probe+agg kernel of the flat-small shapes runs on
    // one of 32 cores. REPARTITION(8) on the fact subquery pays one extra
    // tiny exchange to run the joins/aggs 8-wide. Racing base vs fan
    // tells whether decode (unfixable) or post-scan kernel (fixable)
    // dominates the single task.
    "q3fan" ->
      s"""WITH li AS (SELECT /*+ REPARTITION(8) */ l_orderkey, l_extendedprice, l_discount
         |            FROM lineitem)
         |SELECT /*+ BROADCAST(o, c) */ l.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM li l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |GROUP BY l.l_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4fan" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT /*+ BROADCAST(o) */ o.o_orderkey, o.o_orderpriority
        |  FROM (SELECT /*+ REPARTITION(8) */ l_orderkey, l_returnflag FROM lineitem) l
        |  JOIN (SELECT o_orderkey, o_orderpriority FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00') o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |  GROUP BY o.o_orderkey, o.o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin,
    "jsonfan" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(min(k) AS BIGINT) AS min_k,
        | CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(get_json_object(props, '$.k') AS BIGINT) AS k
        |      FROM (SELECT /*+ REPARTITION(8) */ event_type, props FROM events))
        |GROUP BY event_type""".stripMargin,
    // SINGLE-PARTITION collapse probes (r19): the inverse bet — COALESCE(1)
    // makes the scan report SinglePartition, which satisfies every
    // downstream ClusteredDistribution, so the agg/window exchanges ELIDE
    // and the whole query is ONE stage (+ broadcast builds). The work was
    // single-core anyway (one row group per sf0.1 file); this deletes the
    // stage barriers without changing where the work runs.
    "q3one" ->
      s"""SELECT /*+ BROADCAST(o, c) */ l.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM (SELECT /*+ COALESCE(1) */ l_orderkey, l_extendedprice, l_discount FROM lineitem) l
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |GROUP BY l.l_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4one" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT /*+ BROADCAST(o) */ o.o_orderkey, o.o_orderpriority
        |  FROM (SELECT /*+ COALESCE(1) */ l_orderkey, l_returnflag FROM lineitem) l
        |  JOIN (SELECT o_orderkey, o_orderpriority FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00') o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |  GROUP BY o.o_orderkey, o.o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin,
    "jsonone" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(min(k) AS BIGINT) AS min_k,
        | CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(get_json_object(props, '$.k') AS BIGINT) AS k
        |      FROM (SELECT /*+ COALESCE(1) */ event_type, props FROM events))
        |GROUP BY event_type""".stripMargin,
    "sessone" ->
      """SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
        | SELECT user_id,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
        |       WHEN CAST(ts AS DOUBLE) - CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) > 1800 THEN 1
        |       ELSE 0 END AS is_new
        | FROM (SELECT /*+ COALESCE(1) */ user_id, ts, event_id FROM events))
        |GROUP BY user_id""".stripMargin,
    "hourlyone" ->
      """SELECT event_type, hour_epoch,
        | CAST(sum(cnt) AS BIGINT) AS n, CAST(count(user_id) AS BIGINT) AS n_users
        |FROM (SELECT event_type, CAST(date_trunc('hour', ts) AS BIGINT) AS hour_epoch,
        |        user_id, count(*) AS cnt
        |      FROM (SELECT /*+ COALESCE(1) */ event_type, ts, user_id FROM events)
        |      GROUP BY 1, 2, 3)
        |GROUP BY event_type, hour_epoch""".stripMargin,
    "toporderone" ->
      """SELECT o_custkey, -m.nk AS o_orderkey, m.p AS o_totalprice FROM (
        | SELECT o_custkey, max(named_struct('p', o_totalprice, 'nk', -o_orderkey)) AS m
        | FROM (SELECT /*+ COALESCE(1) */ o_custkey, o_orderkey, o_totalprice FROM orders)
        | GROUP BY o_custkey)""".stripMargin,
    // ...and the join version: with EVERY side COALESCE(1), a forced
    // SHUFFLE_HASH join needs no exchange (SinglePartition satisfies the
    // clustering) and no driver broadcast-build job — the hash build
    // happens inside the one task. q3 becomes ONE stage end-to-end.
    "q3oneshj" ->
      s"""SELECT /*+ SHUFFLE_HASH(o, c) */ l.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM (SELECT /*+ COALESCE(1) */ l_orderkey, l_extendedprice, l_discount FROM lineitem) l
         |JOIN (SELECT /*+ COALESCE(1) */ o_orderkey, o_custkey FROM orders) o
         |  ON l.l_orderkey = o.o_orderkey
         |JOIN (SELECT /*+ COALESCE(1) */ c_custkey, c_mktsegment FROM customer) c
         |  ON o.o_custkey = c.c_custkey
         |WHERE c.c_mktsegment = 'BUILDING'
         |GROUP BY l.l_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4oneshj" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT /*+ SHUFFLE_HASH(o) */ o.o_orderkey, o.o_orderpriority
        |  FROM (SELECT /*+ COALESCE(1) */ l_orderkey, l_returnflag FROM lineitem) l
        |  JOIN (SELECT /*+ COALESCE(1) */ o_orderkey, o_orderpriority FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00') o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |  GROUP BY o.o_orderkey, o.o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin,
    "q12oneshj" ->
      """SELECT CASE WHEN high THEN 'high' ELSE 'low' END AS prio, n_late, n_items FROM (
        | SELECT /*+ SHUFFLE_HASH(o) */ o.high,
        |  CAST(sum(CASE WHEN unix_timestamp(l.l_shipdate) - o.od > 5184000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(count(*) AS BIGINT) AS n_items
        | FROM (SELECT /*+ COALESCE(1) */ l_orderkey, l_shipdate FROM lineitem) l
        | JOIN (SELECT /*+ COALESCE(1) */ o_orderkey, o_orderpriority IN ('1-URGENT', '2-HIGH') AS high,
        |       unix_timestamp(o_orderdate) AS od FROM orders) o
        |   ON l.l_orderkey = o.o_orderkey
        | GROUP BY o.high)
        |ORDER BY prio LIMIT 1000""".stripMargin,
    "q12narrowbase" ->
      """SELECT CASE WHEN high THEN 'high' ELSE 'low' END AS prio, n_late, n_items FROM (
        | SELECT /*+ BROADCAST(o) */ o.high,
        |  CAST(sum(CASE WHEN unix_timestamp(l.l_shipdate) - o.od > 5184000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(count(*) AS BIGINT) AS n_items
        | FROM lineitem l
        | JOIN (SELECT o_orderkey, o_orderpriority IN ('1-URGENT', '2-HIGH') AS high,
        |       unix_timestamp(o_orderdate) AS od FROM orders) o
        |   ON l.l_orderkey = o.o_orderkey
        | GROUP BY o.high)
        |ORDER BY prio LIMIT 1000""".stripMargin,
    "jsonbase" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(min(k) AS BIGINT) AS min_k,
        | CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(get_json_object(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "sessbase" ->
      """SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
        | SELECT user_id,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
        |       WHEN CAST(ts AS DOUBLE) - CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) > 1800 THEN 1
        |       ELSE 0 END AS is_new
        | FROM events)
        |GROUP BY user_id""".stripMargin,
    "toporderbase" ->
      """SELECT o_custkey, -m.nk AS o_orderkey, m.p AS o_totalprice FROM (
        | SELECT o_custkey, max(named_struct('p', o_totalprice, 'nk', -o_orderkey)) AS m
        | FROM orders GROUP BY o_custkey)""".stripMargin,
    // broadcast the deduped R-orderkey set instead of sort-merging it
    "q4_bcast_semi" ->
      """SELECT /*+ BROADCAST(k) */ o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders o JOIN (SELECT DISTINCT l_orderkey FROM lineitem
        |                    WHERE l_returnflag = 'R') k
        |  ON o.o_orderkey = k.l_orderkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // broadcast the (small) date-filtered orders INTO the lineitem scan:
    // the semi-dedup happens as an in-stage partial agg on (orderkey,
    // priority), so the only exchange carries matched-order-grain rows
    "q4_bcast_orders" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT /*+ BROADCAST(o) */ o.o_orderkey, o.o_orderpriority
        |  FROM lineitem l
        |  JOIN (SELECT o_orderkey, o_orderpriority FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00') o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |  GROUP BY o.o_orderkey, o.o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 1000""".stripMargin,
    "q4_indistinct_flat" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND o.o_orderkey IN (SELECT DISTINCT l_orderkey FROM lineitem
        |                       WHERE l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q4_exists_base" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // per-bucket hash semi-join, building on the FILTERED ORDERS side
    // (date range keeps it small), streaming lineitem with no sort
    "q4_shj" ->
      """SELECT /*+ SHUFFLE_HASH(o) */ o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // explicit LEFT SEMI JOIN form so the SHUFFLE_HASH hint can build on
    // the small filtered-orders side (the EXISTS rewrite ignores the hint)
    "q4_semi_shj" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT /*+ SHUFFLE_HASH(o) */ o.o_orderpriority
        |  FROM (SELECT o_orderkey, o_orderpriority FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00') o
        |  LEFT SEMI JOIN lineitem l
        |    ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // sorted-bucket SMJ with the scans' own order surfaced (no Sort nodes)
    "q4_exists_sorted" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // pre-aggregate lineitem per SUPPLIER KEY before any join: the 60M-row
    // pass does one int-key agg (no broadcast probes at all); the ~100K
    // partials then walk the supplier->nation->region broadcasts. suppkey
    // grain doubles as the overflow salt (finer than (nation, salt)).
    "q5_supp" ->
      s"""WITH p AS (
         | SELECT l_suppkey AS sk, $centsSum AS rev_c, count(*) AS n
         | FROM lineitem GROUP BY l_suppkey)
         |SELECT r.r_name, n.n_name,
         | CAST(CAST(sum(CAST(p.rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         | CAST(sum(p.n) AS BIGINT) AS n_items
         |FROM p
         |JOIN supplier s ON p.sk = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name, n.n_name
         |ORDER BY r.r_name, n.n_name""".stripMargin,
    // filter-first WITHOUT a join hint: under outputOrdering=true both
    // sides arrive sorted, so the SMJ is a pure streaming merge — no hash
    // build, no sort; with replaceHashWithSortAgg the per-order agg
    // streams too
    "q3_ff_nohint" ->
      s"""WITH bo AS (
         |  SELECT o.o_orderkey
         |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |  WHERE c.c_mktsegment = 'BUILDING')
         |SELECT l.l_orderkey AS o_orderkey,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
         |FROM lineitem l JOIN bo ON l.l_orderkey = bo.o_orderkey
         |GROUP BY l.l_orderkey
         |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q12_hint" ->
      """SELECT /*+ SHUFFLE_HASH(o) */ CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       THEN 'high' ELSE 'low' END AS prio,
        |  CAST(sum(CASE WHEN unix_timestamp(l.l_shipdate) - unix_timestamp(o.o_orderdate) > 5184000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // narrow broadcast build: priority collapsed to a boolean and the
    // order date to an epoch long BEFORE the broadcast, so the per-row
    // probe payload is (long, bool, long) and the CASE/IN/timestamp work
    // runs 150K times build-side instead of 600K times probe-side
    "q12_narrow" ->
      """SELECT CASE WHEN high THEN 'high' ELSE 'low' END AS prio, n_late, n_items FROM (
        | SELECT /*+ BROADCAST(o) */ o.high,
        |  CAST(sum(CASE WHEN unix_timestamp(l.l_shipdate) - o.od > 5184000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(count(*) AS BIGINT) AS n_items
        | FROM lineitem l
        | JOIN (SELECT o_orderkey, o_orderpriority IN ('1-URGENT', '2-HIGH') AS high,
        |       unix_timestamp(o_orderdate) AS od FROM orders) o
        |   ON l.l_orderkey = o.o_orderkey
        | GROUP BY o.high)
        |ORDER BY prio LIMIT 1000""".stripMargin,
    "q12_smj" ->
      """SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |       THEN 'high' ELSE 'low' END AS prio,
        |  CAST(sum(CASE WHEN unix_timestamp(l.l_shipdate) - unix_timestamp(o.o_orderdate) > 5184000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // ONE broadcast probe on the hot path: the three dims pre-join into a
    // single suppkey -> (region, nation) map; the 60M-row stage does one
    // probe + the salted agg, and only the 25600 partials shuffle
    "q5_dim1" ->
      s"""WITH dim AS (
         | SELECT s.s_suppkey AS sk, n.n_name, r.r_name
         | FROM supplier s
         | JOIN nation n ON s.s_nationkey = n.n_nationkey
         | JOIN region r ON n.n_regionkey = r.r_regionkey),
         |p AS (
         | SELECT /*+ BROADCAST(d) */ d.r_name, d.n_name, pmod(l.l_orderkey, 1024) AS salt,
         |  $centsSumL AS rev_c, count(*) AS n
         | FROM lineitem l JOIN dim d ON l.l_suppkey = d.sk
         | GROUP BY d.r_name, d.n_name, salt)
         |SELECT r_name, n_name,
         | CAST(CAST(sum(CAST(rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         | CAST(sum(n) AS BIGINT) AS n_items
         |FROM p
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,
    "q5_salted_base" ->
      s"""WITH p AS (
         | SELECT r.r_name, n.n_name, pmod(l.l_orderkey, 1024) AS salt,
         |  $centsSumL AS rev_c,
         |  count(*) AS n
         | FROM lineitem l
         | JOIN supplier s ON l.l_suppkey = s.s_suppkey
         | JOIN nation n ON s.s_nationkey = n.n_nationkey
         | JOIN region r ON n.n_regionkey = r.r_regionkey
         | GROUP BY r.r_name, n.n_name, salt)
         |SELECT r_name, n_name,
         | CAST(CAST(sum(CAST(rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         | CAST(sum(n) AS BIGINT) AS n_items
         |FROM p
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,
    // integer-key hot aggregate: probe ONE broadcast (supplier ->
    // nationkey), aggregate on (nationkey, salt) — a primitive-key
    // fast-map agg instead of per-row double string hashing — and join
    // the 25-row result to names afterwards
    "q5_intkey" ->
      s"""WITH p AS (
         | SELECT s.s_nationkey AS nk, pmod(l.l_orderkey, 1024) AS salt,
         |  $centsSumL AS rev_c,
         |  count(*) AS n
         | FROM lineitem l
         | JOIN supplier s ON l.l_suppkey = s.s_suppkey
         | GROUP BY s.s_nationkey, salt)
         |SELECT r.r_name, n.n_name,
         | CAST(CAST(sum(CAST(rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         | CAST(sum(n) AS BIGINT) AS n_items
         |FROM p
         |JOIN nation n ON p.nk = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name, n.n_name
         |ORDER BY r.r_name, n.n_name""".stripMargin,
    // q1 with a primitive-key hot aggregate: the two single-char flag
    // columns pack into one int, decoded after the tiny final agg
    "q1_base" ->
      s"""WITH p AS (
         | SELECT l_returnflag, l_linestatus, pmod(l_orderkey, 1024) AS s,
         |  sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c,
         |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_c,
         |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS disc_c,
         |  count(*) AS n
         | FROM lineitem
         | GROUP BY l_returnflag, l_linestatus, s)
         |SELECT l_returnflag, l_linestatus,
         | CAST(CAST(sum(CAST(qty_c AS DECIMAL(38,0))) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
         | CAST(CAST(sum(CAST(price_c AS DECIMAL(38,0))) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
         | CAST(CAST(sum(CAST(disc_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
         | CAST(sum(n) AS BIGINT) AS count_order
         |FROM p
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // r18 FLAT-SMALL q5 candidates: the current flat shape chains three
    // dependent broadcast stages (r -> n⋈r -> s⋈n⋈r); nesting the two tiny
    // dim broadcasts inside ONE d-build stage cuts the chain to depth 2
    "q5_dim1_flat" ->
      s"""WITH dim AS (
         | SELECT /*+ BROADCAST(n, r) */ s.s_suppkey AS sk, n.n_name, r.r_name
         | FROM supplier s
         | JOIN nation n ON s.s_nationkey = n.n_nationkey
         | JOIN region r ON n.n_regionkey = r.r_regionkey)
         |SELECT /*+ BROADCAST(d) */ d.r_name, d.n_name,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         | CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem l JOIN dim d ON l.l_suppkey = d.sk
         |GROUP BY d.r_name, d.n_name
         |ORDER BY d.r_name, d.n_name LIMIT 1000""".stripMargin,
    "q5_flat_current" ->
      s"""SELECT r.r_name, n.n_name,
         | CAST(CAST(CAST($centsSumL AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         | CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem l
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name, n.n_name
         |ORDER BY r.r_name, n.n_name LIMIT 1000""".stripMargin,
    // r18: q5 with the hot agg on the supplier INT key inside the probe
    // stage (25-ish dim rows re-agg after) — one broadcast on the hot path
    "q5_suppagg_bcast" ->
      s"""WITH p AS (
         | SELECT l_suppkey AS sk, $centsSum AS rev_c, count(*) AS n
         | FROM lineitem GROUP BY l_suppkey),
         |dim AS (
         | SELECT /*+ BROADCAST(n, r) */ s.s_suppkey AS sk, n.n_name, r.r_name
         | FROM supplier s
         | JOIN nation n ON s.s_nationkey = n.n_nationkey
         | JOIN region r ON n.n_regionkey = r.r_regionkey)
         |SELECT /*+ BROADCAST(d) */ d.r_name, d.n_name,
         | CAST(CAST(sum(CAST(p.rev_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         | CAST(sum(p.n) AS BIGINT) AS n_items
         |FROM p JOIN dim d ON p.sk = d.sk
         |GROUP BY d.r_name, d.n_name
         |ORDER BY d.r_name, d.n_name LIMIT 1000""".stripMargin,
    "q1_flat" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DECIMAL(38,0)) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        | CAST(CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0)) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DECIMAL(38,0)) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus LIMIT 1000""".stripMargin,
    "q1_intkey" ->
      s"""WITH p AS (
         | SELECT (ascii(l_returnflag) * 256 + ascii(l_linestatus)) * 1024
         |    + pmod(l_orderkey, 1024) AS k,
         |  sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c,
         |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_c,
         |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS disc_c,
         |  count(*) AS n
         | FROM lineitem
         | GROUP BY 1)
         |SELECT char(CAST(k AS INT) div 262144) AS l_returnflag,
         | char((CAST(k AS INT) div 1024) % 256) AS l_linestatus,
         | CAST(CAST(sum(CAST(qty_c AS DECIMAL(38,0))) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
         | CAST(CAST(sum(CAST(price_c AS DECIMAL(38,0))) / 100 AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
         | CAST(CAST(sum(CAST(disc_c AS DECIMAL(38,0))) / 10000 AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
         | CAST(sum(n) AS BIGINT) AS count_order
         |FROM p
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin
  )

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", 32L * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", 1L * 1024 * 1024)
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", false)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv => val i = kv.indexOf('='); builder.config(kv.take(i), kv.drop(i + 1)) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "bigdata/sf10")
    Queries.prep(spark, dir)
    val (sqls, prefixes) = args.toSeq.partition(_.exists(_.isWhitespace))
    val picked =
      (if (args.isEmpty) variants else variants.filter(v => prefixes.exists(v._1.startsWith))) ++
        sqls.zipWithIndex.map { case (q, i) => s"sql$i" -> q }
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(5)
    for ((name, sql) <- picked) {
      var best = Double.MaxValue
      var finalPlan = ""
      for (rep <- 1 to reps) {
        val df = spark.sql(sql)
        val t0 = System.nanoTime()
        val n = df.collect().length
        val dt = (System.nanoTime() - t0) / 1e9
        best = math.min(best, dt)
        // post-execution: AQE has replaced the stages, so this is the plan
        // that actually ran (the pre-execution one lies about SHJ/SMJ)
        finalPlan = df.queryExecution.executedPlan.toString
        println(f"[shapelab] $name rep$rep: $dt%.3f s ($n rows)")
      }
      val ops = Seq("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin",
        "Exchange hashpartitioning", "BroadcastExchange", "Sort ", "HashAggregate")
        .map(op => s"$op=${finalPlan.linesIterator.count(_.contains(op))}")
      println(f"[shapelab] $name BEST $best%.3f s ${ops.mkString(" ")}")
      if (sys.env.contains("SPARK_GRAFT_PLAN")) println(finalPlan)
    }
    spark.stop()
  }
}
