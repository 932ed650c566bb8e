package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window, sort/limit, and set-operation families (SURVEY.md §2.5-2.7). */
object WindowSetBattery {

  /** `row_number() OVER (PARTITION … ORDER …)` + rn=1 pick
    * (reference: flows/queries/update_partition.sql:136-151 —
    * first-position child's thumbnail). Latest order per customer. */
  val windowRn = Q(
    "q_window_rn",
    Some(
      "SELECT o_custkey, o_orderkey, o_orderdate FROM (" +
        "SELECT o_custkey, o_orderkey, o_orderdate, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn " +
        "FROM orders) WHERE rn = 1 ORDER BY 1"),
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Td(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_custkey"))
    }
  )

  /** Priority-CASE ordered lateral `LIMIT 1` — rank by a priority
    * expression, keep the top row per group
    * (reference: flows/queries/update_partition.sql:62-74 — format
    * priority newspaper > image > other). */
  val windowPriority = Q(
    "q_window_priority",
    Some(
      "SELECT o_custkey, o_orderkey, o_orderpriority FROM (" +
        "SELECT o_custkey, o_orderkey, o_orderpriority, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY " +
        "CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 ELSE 3 END, " +
        "o_orderdate, o_orderkey) AS rn FROM orders) WHERE rn = 1 ORDER BY 1"),
    (s, dir) => {
      val prio = when(col("o_orderpriority") === "1-URGENT", 1)
        .when(col("o_orderpriority") === "2-HIGH", 2)
        .otherwise(3)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(prio, col("o_orderdate"), col("o_orderkey"))
      Td(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
        .orderBy(col("o_custkey"))
    }
  )

  /** Global sort + top-k (reference:
    * flows/arc_db_load_index_tables_flow.py:47 ORDER BY cnt ASC; top-k is
    * the bounded variant Spark executes as TakeOrderedAndProject). */
  val topK = Q(
    "q_topk",
    Some(
      "SELECT c_custkey, c_name, c_acctbal FROM customer " +
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 10"),
    (s, dir) =>
      Td(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
  )

  /** Record limit / offset (reference: typescript/src/stream.ts:51-62 —
    * RECORD_LIMIT debug knob; offset = skip first N statements). */
  val limitOffset = Q(
    "q_limit_offset",
    Some(
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 20 OFFSET 10"),
    (s, dir) =>
      Td(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
        .offset(10)
        .limit(20)
  )

  /** `UNION ALL` of differently-filtered branches → unionByName
    * (reference: flows/queries/update_partition.sql:96,129,286; SPARQL
    * UNION branches av-audio.sparql:231-520). */
  val unionAll = Q(
    "q_union_all",
    Some(
      "SELECT tag, count(*) AS cnt, round(sum(o_totalprice),2) AS total FROM (" +
        "SELECT 'urgent' AS tag, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "UNION ALL SELECT 'fulfilled' AS tag, o_totalprice FROM orders WHERE o_orderstatus = 'F') " +
        "GROUP BY 1 ORDER BY 1"),
    (s, dir) => {
      val o = Td(s, dir, "orders")
      val a = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(lit("urgent").as("tag"), col("o_totalprice"))
      val b = o.filter(col("o_orderstatus") === "F")
        .select(lit("fulfilled").as("tag"), col("o_totalprice"))
      a.unionByName(b)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("tag"))
    }
  )

  /** Gap-based sessionization over the event stream: a new session
    * starts after a >30-minute silence per user (lag + flag-sum — the
    * classic large-scale sessionize; conversation threading in a
    * training-data pipeline has the same shape). All arithmetic is
    * integer µs via the schema-adaptive `Td.tsUs` (see its scaladoc),
    * tie-broken on event_id, so both engines agree exactly. */
  val sessionize = Q(
    "q_sessionize",
    Some(
      "SELECT user_id, count(*) AS n_events, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (" +
        "SELECT user_id, CASE WHEN lag(epoch_us(ts)) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS is_new FROM events) GROUP BY 1 ORDER BY 1"),
    (s, dir) => {
      val ev = Td(s, dir, "events")
      val us = Td.tsUs(ev)
      val w = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
      ev
        .withColumn("prev_us", lag(us, 1).over(w))
        .withColumn("is_new",
          when(col("prev_us").isNull || (us - col("prev_us") > 1800000000L), 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("is_new")).as("n_sessions"))
        .orderBy(col("user_id"))
    }
  )

  /** `INTERSECT` / `EXCEPT` set ops (SURVEY.md §2.7 #54 — absent in the
    * reference, added for engine completeness): segments of customers
    * with open orders vs with fulfilled orders. Spark `intersect`/
    * `except` compile to left-semi/anti aggregates — same dedup-shuffle
    * shape as DISTINCT, no extra pass. */
  val intersectExcept = Q(
    "q_intersect_except",
    Some(
      "SELECT op, seg FROM (" +
        "SELECT 'both' AS op, seg FROM (" +
        "SELECT DISTINCT c_mktsegment AS seg FROM customer JOIN orders ON o_custkey = c_custkey " +
        "WHERE o_orderstatus = 'O' INTERSECT " +
        "SELECT DISTINCT c_mktsegment FROM customer JOIN orders ON o_custkey = c_custkey " +
        "WHERE o_orderstatus = 'F') " +
        "UNION ALL " +
        "SELECT 'only_open' AS op, seg FROM (" +
        "SELECT DISTINCT c_mktsegment AS seg FROM customer JOIN orders ON o_custkey = c_custkey " +
        "WHERE o_orderstatus = 'O' EXCEPT " +
        "SELECT DISTINCT c_mktsegment FROM customer JOIN orders ON o_custkey = c_custkey " +
        "WHERE o_orderstatus = 'F')) ORDER BY 1, 2"),
    (s, dir) => {
      val c = Td(s, dir, "customer")
      val o = Td(s, dir, "orders")
      def segsWith(status: String) = c
        .join(o.filter(col("o_orderstatus") === status)
          .select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select(col("c_mktsegment").as("seg")).distinct()
      val open = segsWith("O")
      val ful = segsWith("F")
      open.intersect(ful).select(lit("both").as("op"), col("seg"))
        .unionByName(open.except(ful).select(lit("only_open").as("op"), col("seg")))
        .orderBy(col("op"), col("seg"))
    }
  )

  /** GROUPING SETS / rollup (SURVEY.md §2.4 #44 — absent in the
    * reference, added for completeness): per-(status, priority) counts
    * plus per-status and grand totals in ONE aggregation pass —
    * `rollup` expands the sets map-side, so the shuffle carries the
    * partial aggregates of every set at once. `grouping()` flags are
    * selected into the output (mirrored by `GROUPING()` in the oracle)
    * so a genuine NULL group value can never collide with a
    * NULL-as-total rollup row. */
  val groupingSets = Q(
    "q_grouping_sets",
    Some(
      "SELECT coalesce(o_orderstatus, '<all>') AS status, " +
        "coalesce(o_orderpriority, '<all>') AS priority, " +
        "CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status, " +
        "CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority, " +
        // DECIMAL sum: the grand-total row folds the whole table, where
        // double accumulation order diverges across engines at 2dp.
        "count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) " +
        "ORDER BY 1, 2, 3, 4"),
    (s, dir) =>
      Td(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"),
          count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("g_status"), col("g_priority"),
          col("cnt"), col("total"))
        .orderBy(col("status"), col("priority"), col("g_status"), col("g_priority"))
  )

  /** Tumbling event-time window aggregation (SURVEY.md §2.10 #86):
    * per-user hourly event counts via the built-in `window()`. `ts` enters as
    * a µs-grid timestamp on both engines (`Td.tsStamp` adapts to the
    * parquet encoding); the window start serializes as a string so
    * timestamp encodings can't diverge. */
  val eventWindow = Q(
    "q_event_window",
    Some(
      "SELECT user_id, strftime(time_bucket(INTERVAL 1 HOUR, ts), " +
        "'%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    (s, dir) => {
      val ev = Td(s, dir, "events")
      ev
        .select(col("user_id"), Td.tsStamp(ev).as("tsx"))
        .groupBy(col("user_id"), window(col("tsx"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("window_start"))
    }
  )

  /** The built-in `session_window` operator (batch mode) — the
    * declarative sibling of the lag-cumsum `q_sessionize`. Spark merges
    * a session with the next event when `next <= end` (INCLUSIVE — an
    * exactly-at-gap event extends the session; EventTimeOpsSpec's
    * `session_window` test merges 10:50 into a 10:20+30min session), so
    * the oracle's new-session rule is `>`, identical to q_sessionize's
    * lag form. Same single window shuffle. */
  val sessionWindow = Q(
    "q_session_window",
    Some(
      "SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, " +
        "count(*) AS n_events FROM (" +
        "SELECT user_id, CASE WHEN lag(epoch_us(ts)) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS is_new FROM events) GROUP BY 1 ORDER BY 1"),
    (s, dir) => {
      val ev = Td(s, dir, "events")
      ev
        .withColumn("ts_us", Td.tsStamp(ev))
        .groupBy(col("user_id"), session_window(col("ts_us"), "30 minutes"))
        .agg(count(lit(1)).as("in_session"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("in_session")).as("n_events"))
        .orderBy(col("user_id"))
    }
  )

  val all: Seq[Q] = Seq(windowRn, windowPriority, topK, limitOffset, unionAll,
    sessionize, intersectExcept, groupingSets, eventWindow, sessionWindow)
}
