package graft.analytics

import graft.Tables._
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-equivalent forms of the streaming operators (SURVEY §2.2
  * streaming row), oracle-checked against DuckDB: tumbling windows
  * (time_bucket), lag/cumsum sessionization, and stream dedup as
  * distinct-first. The streaming executions of the same transforms are
  * asserted equal to these in StreamingSpec.
  *
  * Window-start strings: Spark's `window()` and DuckDB's `time_bucket`
  * both align 5-minute buckets to :00/:05 (epoch-aligned vs 2000-01-03
  * origin — both multiples of 5 min apart), rendered via
  * date_format/strftime to avoid timestamp-type hashing differences.
  */
object StreamingQueries {

  /** st01 — tumbling 5-minute windows (batch form of
    * EventStreams.tumblingCounts, same column expressions). */
  private def st01(s: SparkSession, d: String): DataFrame =
    EventStreams.tumblingCounts(events(s, d))
      .orderBy(col("wstart"), col("event_type"))

  private val st01Sql =
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
      |SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
      |  event_type, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(value), 6) AS total_value
      |FROM ev
      |GROUP BY 1, 2
      |ORDER BY wstart, event_type""".stripMargin

  /** st02 — sessionization via lag + cumulative sum (gap > 10 minutes
    * starts a new session). Expressible identically in both engines down
    * to microsecond arithmetic. */
  private def st02(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 600000000L, 1).otherwise(0))
    flagged
      .groupBy(col("user_id"))
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  private val st02Sql =
    """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |flagged AS (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 600000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM ev)
      |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM flagged
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** st03 — stream-dedup cardinality: first event per (user, type). */
  private def st03(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"))
      .orderBy(col("user_id"), col("event_type"))

  private val st03Sql =
    """SELECT user_id, event_type, min(event_id) AS first_event_id
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** st04 — sliding windows (10 min window, 5 min slide): every event
    * lands in two windows. Oracle reconstructs the same assignment as a
    * UNION ALL of the two candidate window starts. */
  private def st04(s: SparkSession, d: String): DataFrame =
    EventStreams.slidingCounts(events(s, d))
      .orderBy(col("wstart"), col("event_type"))

  private val st04Sql =
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |assigned AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart, event_type FROM ev
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', event_type FROM ev)
      |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM assigned
      |GROUP BY 1, 2
      |ORDER BY wstart, event_type""".stripMargin

  /** st05 — session_window in BATCH mode (same operator the stream
    * uses): one row per (user, session), rolled up to per-user session
    * stats. Oracle: lag/cumsum with `>= gap` boundary (Spark session
    * windows are [start, last+gap) — an event exactly `gap` after the
    * last one starts a NEW session). */
  private def st05(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))

  private val st05Sql =
    """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 600000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM ev),
      |sessions AS (
      |  SELECT user_id,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events
      |  FROM sessions GROUP BY user_id, sid)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  CAST(max(n_events) AS BIGINT) AS max_session_events
      |FROM per_session
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** st06 — stream-stream join shape in batch form (same transform the
    * stream runs, StreamingSpec pins stream==batch). */
  private def st06(s: SparkSession, d: String): DataFrame =
    EventStreams.purchasesWithRecentClicks(events(s, d))
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))

  private val st06Sql =
    """WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  c.event_id AS click_id, p.value AS value
      |FROM ev p JOIN ev c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      | AND p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 10 MINUTES AND c.ts < p.ts
      |ORDER BY p.user_id, purchase_id, click_id""".stripMargin

  /** st07 — as-of join: each purchase matched to the user's most recent
    * prior-or-equal click ([[graft.operators.AsOfJoin]], union+window
    * composition). Oracle: DuckDB's NATIVE ASOF JOIN — two structurally
    * different algorithms, one answer. */
  private def st07(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    graft.operators.AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "ts",
        leftPayload = Seq("purchase_id"), rightPayload = Seq("click_id"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  private val st07Sql =
    """WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |p AS (SELECT user_id, ts, event_id AS purchase_id FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, event_id AS click_id FROM ev WHERE event_type = 'click')
      |SELECT p.user_id AS user_id, p.purchase_id, c.click_id
      |FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY user_id, purchase_id""".stripMargin

  /** st08 — arbitrary-state operator (flatMapGroupsWithState) in BATCH
    * mode: the same per-user running-total transform the stream runs
    * (StreamingSpec pins stream==batch); in batch each group arrives in
    * one call, so the emitted row is the final state. Oracle: the plain
    * aggregate the state machine must converge to. */
  private def st08(s: SparkSession, d: String): DataFrame =
    EventStreams.runningUserTotals(events(s, d)).toDF()
      .select(col("user_id"), col("n_events"),
        round(col("total_value"), 6).as("total_value"))
      .orderBy(col("user_id"))

  private val st08Sql =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  round(sum(value), 6) AS total_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** st10 — LEFT OUTER stream-stream join in batch form
    * ([[EventStreams.purchasesWithClicksOuter]]): attributed purchases
    * carry their click ids, unattributed ones surface with NULL — the
    * rows the inner join (st06) drops. StreamingSpec pins the streaming
    * execution equal to this, null rows included. */
  private def st10(s: SparkSession, d: String): DataFrame =
    EventStreams.purchasesWithClicksOuter(events(s, d))
      .orderBy(col("user_id"), col("purchase_id"), asc_nulls_first("click_id"))

  private val st10Sql =
    """WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  c.event_id AS click_id, p.value AS value
      |FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM ev WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 10 MINUTES AND c.ts < p.ts
      |ORDER BY user_id, purchase_id, click_id NULLS FIRST""".stripMargin

  /** st11 — FULL OUTER stream-stream join in batch form
    * ([[EventStreams.purchasesWithClicksFullOuter]]): st10's attributed
    * and unattributed purchases PLUS the orphaned clicks (NULL purchase
    * columns) — the complete watermarked join matrix. StreamingSpec pins
    * the streaming execution equal to this, both null families included. */
  private def st11(s: SparkSession, d: String): DataFrame =
    EventStreams.purchasesWithClicksFullOuter(events(s, d))
      .orderBy(col("user_id"), asc_nulls_first("purchase_id"),
        asc_nulls_first("click_id"))

  private val st11Sql =
    """WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |SELECT coalesce(p.user_id, c.user_id) AS user_id, p.event_id AS purchase_id,
      |  c.event_id AS click_id, p.value AS value
      |FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
      |FULL JOIN (SELECT * FROM ev WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 10 MINUTES AND c.ts < p.ts
      |ORDER BY user_id, purchase_id NULLS FIRST, click_id NULLS FIRST""".stripMargin

  /** st12 — LEFT SEMI stream-stream join in batch form
    * ([[EventStreams.purchasesWithClicksSemi]]): purchases with at
    * least one click in their lookback, one row each — the
    * existence-gate that closes the watermarked join matrix (inner
    * st06, left st10, full st11, semi st12). StreamingSpec pins the
    * streaming execution equal to this. */
  private def st12(s: SparkSession, d: String): DataFrame =
    EventStreams.purchasesWithClicksSemi(events(s, d))
      .orderBy(col("user_id"), col("purchase_id"))

  private val st12Sql =
    """WITH ev AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      |SELECT p.user_id, p.event_id AS purchase_id, p.value AS value
      |FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
      |WHERE EXISTS (SELECT 1 FROM ev c
      |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
      |    AND c.ts >= p.ts - INTERVAL 10 MINUTES AND c.ts < p.ts)
      |ORDER BY user_id, purchase_id""".stripMargin

  /** st09 — stream-static enrichment ([[EventStreams.enrichWithSegment]]):
    * events decorated with the customer's market segment via an
    * explicitly broadcast static dim (stateless per micro-batch — no
    * watermark, no state store), then aggregated per (segment, type).
    * StreamingSpec pins the streaming execution of the same enrichment
    * equal to this batch form, row for row. */
  private def st09(s: SparkSession, d: String): DataFrame =
    EventStreams.enrichWithSegment(events(s, d), customer(s, d))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .orderBy(col("segment"), col("event_type"))

  private val st09Sql =
    """SELECT c_mktsegment AS segment, event_type,
      |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS total_value
      |FROM events JOIN customer ON c_custkey = user_id
      |GROUP BY 1, 2
      |ORDER BY segment, event_type""".stripMargin

  /** st13 — streaming top-k per window (batch form): top-3 users by
    * event count in each 10-minute tumbling window, ties by user_id.
    * The stream computes the watermarked windowed counts
    * ([[EventStreams.windowUserCounts]]); the rank
    * ([[EventStreams.topUsersPerWindow]]) applies per finalized window
    * — StreamingSpec pins stream==batch for the composed pipeline. */
  private def st13(s: SparkSession, d: String): DataFrame =
    EventStreams.topUsersPerWindow(
        EventStreams.windowUserCounts(events(s, d)), 3)
      .orderBy(col("wstart"), col("rk"))

  private val st13Sql =
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
      |cnt AS (
      |  SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
      |      '%Y-%m-%d %H:%M:%S') AS wstart,
      |    user_id, CAST(count(*) AS BIGINT) AS n
      |  FROM ev GROUP BY 1, 2),
      |rk AS (
      |  SELECT wstart, CAST(row_number() OVER (PARTITION BY wstart
      |      ORDER BY n DESC, user_id) AS INTEGER) AS rk, user_id, n
      |  FROM cnt)
      |SELECT wstart, rk, user_id, n FROM rk WHERE rk <= 3
      |ORDER BY wstart, rk""".stripMargin

  /** st14 — online z-score anomaly gate in BATCH window form: the same
    * integer cross-multiplied predicate [[EventStreams.anomalyScores]]
    * folds statefully, here as cumulative window moments over
    * per-event-type partitions (`ROWS UNBOUNDED PRECEDING TO 1
    * PRECEDING` = "all strictly preceding events"). DIFFERENTIAL by
    * construction: the stream is a sequential BigInt fold, this is a
    * columnar window plan, the oracle is DuckDB's window engine with
    * HUGEINT math — three implementations, one exact integer
    * predicate, so all three must agree bit-for-bit (StreamingSpec
    * pins stream == this; the driver pins this == DuckDB). The decimal
    * casts keep Spark's side exact: (n·v−S₁)² ≤ ~1e22 at sf0.1, well
    * inside DECIMAL(38,0); DuckDB's HUGEINT is 128-bit. */
  private def st14(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("v", floor(col("value") * 100 + lit(0.5)).cast("long"))
      // one select, one Window node: chained withColumns leave a
      // Project between the window ops and defeat CollapseWindow
      .select(col("event_type"), col("event_id"), col("v"),
        count(lit(1)).over(w).as("n"),
        coalesce(sum(col("v")).over(w), lit(0L)).as("s1"),
        coalesce(sum(col("v") * col("v")).over(w), lit(0L)).as("s2"))
      .filter(col("n") >= 30)
      // Every operand is widened to DECIMAL(38,0) BEFORE any multiply:
      // a LONG `n * v` would wrap silently past the 64-bit envelope
      // (ANSI off) while DuckDB's HUGEINT raises — the engines must
      // stay exact together at any scale, not just inside it.
      .filter(expr(
        """(CAST(n AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) - CAST(s1 AS DECIMAL(38,0)))
          |  * (CAST(n AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)) - CAST(s1 AS DECIMAL(38,0)))
          |  * CAST(n - 1 AS DECIMAL(38,0))
          |> CAST(9 AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
          |  * (CAST(n AS DECIMAL(38,0)) * CAST(s2 AS DECIMAL(38,0))
          |     - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)))"""
          .stripMargin.replace('\n', ' ')))
      .select(col("event_type"), col("event_id"), col("v"),
        col("n").as("n_prior"))
      .orderBy(col("event_id"))
  }

  private val st14Sql =
    """WITH ev AS (SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
      |w AS (SELECT event_type, event_id, v,
      |    count(*) OVER win AS n,
      |    coalesce(sum(v) OVER win, 0) AS s1,
      |    coalesce(sum(v * v) OVER win, 0) AS s2
      |  FROM ev WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_type, event_id, v, CAST(n AS BIGINT) AS n_prior
      |FROM w
      |WHERE n >= 30
      |  AND (CAST(n AS HUGEINT) * CAST(v AS HUGEINT) - CAST(s1 AS HUGEINT))
      |      * (CAST(n AS HUGEINT) * CAST(v AS HUGEINT) - CAST(s1 AS HUGEINT))
      |      * CAST(n - 1 AS HUGEINT)
      |    > 9 * CAST(n AS HUGEINT)
      |      * (CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)
      |         - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
      |ORDER BY event_id""".stripMargin

  /** st15 — streaming INCREMENTAL VIEW MAINTENANCE over the commit-time
    * CDC feed: script the lk08 mutation history (create → append →
    * upsert → delete) on a txn table, then maintain a
    * (status, count, sum) aggregate view purely from the change feed —
    * the feed's preimage dialect makes updates subtractable, so the
    * view starts EMPTY and folds every change without ever scanning
    * the table ([[graft.lake.IncrementalView.applyChanges]] over
    * [[graft.streaming.CdcFeed.batch]]). The streamed execution of the
    * same fold (micro-batch at a time, maxFilesPerTrigger=1) is pinned
    * equal in CdcFeedSpec; the oracle replays the history relationally
    * and aggregates the FINAL state, so a hash match proves the folded
    * deltas land exactly on the rebuild-from-scratch answer. At 100 TB
    * the MV cost tracks the mutation rate, not the table size. */
  private def st15(s: SparkSession, d: String): DataFrame = {
    import graft.lake.{IncrementalView, TxnLake}
    import graft.streaming.CdcFeed
    val dir = java.nio.file.Files.createTempDirectory("graft_st15")
      .resolve("orders_lake").toString
    def slice(pred: org.apache.spark.sql.Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 7 === 0), "o_orderstatus",
      changeFeed = true)
    TxnLake.append(s, dir, slice(col("o_orderkey") % 7 === 3))
    TxnLake.upsert(s, dir,
      slice(col("o_orderkey") % 21 === 0 || col("o_orderkey") % 7 === 5)
        .withColumn("price",
          when(col("o_orderkey") % 21 === 0, col("price") * 2)
            .otherwise(col("price")).cast("decimal(12,2)")),
      "o_orderkey")
    TxnLake.delete(s, dir,
      orders(s, d).filter(col("o_orderkey") % 14 === 0).select(col("o_orderkey")),
      "o_orderkey")
    val groupCols = Seq("o_orderstatus")
    val sumCols = Seq("price")
    val empty = IncrementalView.build(
      TxnLake.read(s, dir).limit(0), groupCols, sumCols)
    IncrementalView.applyChanges(empty,
        CdcFeed.batch(s, dir), groupCols, sumCols)
      .select(col("o_orderstatus"), col("n"),
        col("sum_price").cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val st15Sql =
    """WITH tabl AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 7 IN (0, 3)),
      |ups AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 21 = 0
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      |  FROM orders WHERE o_orderkey % 21 = 0 OR o_orderkey % 7 = 5),
      |merged AS (
      |  SELECT * FROM tabl WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
      |  UNION ALL SELECT * FROM ups),
      |final AS (SELECT * FROM merged WHERE o_orderkey % 14 <> 0)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM final GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** st17 — streaming CDC REPLICATION, end to end: a txn table mutates
    * through create → append → upsert → delete (+ a merge-on-read
    * DELETION-VECTOR delete — the feed carries its pre-images like any
    * other delete), and a Structured Streaming job
    * ([[graft.streaming.CdcFeed.replicate]]: the checkpointed
    * `readChangeFeed` stream, `foreachBatch` → per-key last-change reduction
    * → transactional upsert+delete on the replica) converges an
    * independent table to the source head WITHOUT ever scanning the
    * source. The query aggregates the REPLICA; the oracle replays the
    * mutation history relationally — a hash match proves exactly-once
    * end-to-end (idempotent replay and stream==batch are pinned in
    * CdcFeedSpec). At 100 TB replication cost tracks the mutation
    * rate: the feed is O(changed rows), the apply is partition-pruned. */
  private def st17(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.streaming.CdcFeed
    val root = java.nio.file.Files.createTempDirectory("graft_st17")
    val src = root.resolve("src").toString
    val dst = root.resolve("replica").toString
    def slice(pred: org.apache.spark.sql.Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, src, slice(col("o_orderkey") % 11 === 0), "o_orderstatus",
      changeFeed = true)
    TxnLake.append(s, src, slice(col("o_orderkey") % 11 === 4))
    TxnLake.upsert(s, src, slice(col("o_orderkey") % 33 === 0)
      .withColumn("price", (col("price") * 2).cast("decimal(12,2)")), "o_orderkey")
    TxnLake.deleteWhere(s, src, col("o_orderkey") % 55 === 0)
    CdcFeed.replicate(s, src, dst, "o_orderkey", "o_orderstatus",
      root.resolve("ckpt").toString).awaitTermination()
    TxnLake.read(s, dst)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val st17Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 11 IN (0, 4)),
      |upd AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 33 = 0),
      |merged AS (
      |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL SELECT * FROM upd),
      |final AS (SELECT * FROM merged WHERE o_orderkey % 55 <> 0)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM final GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** st16 — INTERVAL THINNING, the batch analog of Spark's
    * time-bounded streaming dedup (`dropDuplicatesWithinWatermark` —
    * [[EventStreams.dedupWithinWatermark]], state bounded by the
    * watermark horizon instead of O(all keys ever)): per (user, type),
    * keep an event iff it is ≥10 minutes after the previously KEPT one
    * — the duplicate-ping / retry-storm thinner. The greedy chain has
    * no window-function form (each verdict depends on the previous
    * KEPT event), so Spark runs the documented sequential-per-key
    * `flatMapGroups` ([[EventStreams.thinWithinGap]]) while DuckDB
    * walks the same chain with a recursive CTE stepping one
    * row_number per iteration — structurally different executions,
    * one integer-exact answer. The user filter bounds the dump. */
  private def st16(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("user_id") % 25 === 0)
    EventStreams.thinWithinGap(ev, gapUs = 600000000L)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_kept"), min(col("event_id")).as("first_kept"),
        max(col("event_id")).as("last_kept"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val st16Sql =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events WHERE user_id % 25 = 0),
      |walk(user_id, event_type, rn, event_id, kept_us, keep) AS (
      |  SELECT user_id, event_type, rn, event_id, us, true
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.event_type, e.rn, e.event_id,
      |    CASE WHEN e.us - w.kept_us >= 600000000 THEN e.us ELSE w.kept_us END,
      |    e.us - w.kept_us >= 600000000
      |  FROM walk w JOIN ev e
      |    ON e.user_id = w.user_id AND e.event_type = w.event_type
      |   AND e.rn = w.rn + 1)
      |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_kept,
      |  min(event_id) AS first_kept, max(event_id) AS last_kept
      |FROM walk WHERE keep
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** st18 — EXACTLY-ONCE streaming ingest into the transactional lake
    * through the `graft-txn` format sink ([[graft.lake.TxnSink]]): a
    * checkpointed file stream drains the events slice in several
    * micro-batches (maxFilesPerTrigger=1), each committing through
    * [[graft.lake.TxnLake.appendOnce]] with a persisted
    * `(txnAppId, batchId)` transaction marker — then the query
    * SIMULATES THE CRASH-REPLAY, re-submitting the ENTIRE input under
    * the last committed batch id, exactly the commit the sink makes for
    * a replayed batch. The marker refuses it; the oracle is the plain
    * batch aggregate of the slice, so the hash match proves the replay
    * contributed zero rows (the Delta txnAppId/txnVersion recipe,
    * idempotence also pinned in `TxnSinkSpec`). At 100 TB each
    * micro-batch is one blind O(batch) append; replay safety costs one
    * metadata read per batch. */
  private def st18(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_st18")
    val in = root.resolve("in").toString
    val out = root.resolve("t").toString
    events(s, d).filter(col("user_id") % 7 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .repartition(3).write.parquet(in)
    val sch = s.read.parquet(in).schema
    s.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.format("graft-txn")
      .option("txnAppId", "st18").option("partCol", "event_type")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start(out)
      .awaitTermination()
    val last = TxnLake.lastCommittedTxn(s, out, "st18").getOrElse(0L)
    TxnLake.appendOnce(s, out, s.read.parquet(in), "st18", last)
    TxnLake.read(s, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_users"),
        min(col("event_id")).as("min_ev"), max(col("event_id")).as("max_ev"))
      .orderBy(col("event_type"))
  }

  private val st18Sql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(user_id) AS BIGINT) AS sum_users,
      |  min(event_id) AS min_ev, max(event_id) AS max_ev
      |FROM events WHERE user_id % 7 = 0
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** st19 — LATE-ATTACHING CDC consumer ([[graft.streaming.CdcFeed]]
    * `startingVersion`): a 5-commit feed history (create, append,
    * doubling upsert, predicate delete, append) read from version 2 —
    * the same cutoff `readChangeFeed` with `startingVersion = 2`
    * applies for a consumer attaching mid-history (stream==batch is
    * pinned in CdcFeedSpec), emitted one row per change. The oracle
    * replays commits 2..4 relationally: v2's upsert doubles every %21
    * key (all matched → pure update pre/post pairs), v3's predicate
    * delete drops %35 keys at their CURRENT price (doubled iff %105),
    * v4 appends the %7==2 slice. Nothing from v0/v1 may leak through
    * the cutoff — a single extra insert row would break the hash. */
  private def st19(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.streaming.CdcFeed
    val dir = java.nio.file.Files.createTempDirectory("graft_st19")
      .resolve("orders_lake").toString
    def slice(pred: org.apache.spark.sql.Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 7 === 0), "o_orderstatus",
      changeFeed = true)
    TxnLake.append(s, dir, slice(col("o_orderkey") % 7 === 1))
    TxnLake.upsert(s, dir,
      slice(col("o_orderkey") % 21 === 0)
        .withColumn("price", (col("price") * 2).cast("decimal(12,2)")),
      "o_orderkey")
    TxnLake.deleteWhere(s, dir, col("o_orderkey") % 35 === 0)
    TxnLake.append(s, dir, slice(col("o_orderkey") % 7 === 2))
    CdcFeed.batch(s, dir, fromVersion = 2L)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"),
        col(TxnLake.ChangeTypeCol).as("change"),
        col(TxnLake.VersionCol).as("v"))
      .orderBy(col("v"), col("o_orderkey"), col("change"))
  }

  private val st19Sql =
    """WITH s AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders),
      |feed AS (
      |  SELECT o_orderkey, o_orderstatus, p AS price,
      |    'update_preimage' AS change, CAST(2 AS BIGINT) AS v
      |  FROM s WHERE o_orderkey % 21 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, CAST(p * 2 AS DECIMAL(12,2)),
      |    'update_postimage', 2
      |  FROM s WHERE o_orderkey % 21 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 105 = 0 THEN CAST(p * 2 AS DECIMAL(12,2))
      |      ELSE p END,
      |    'delete', 3
      |  FROM s WHERE o_orderkey % 35 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, p, 'insert', 4
      |  FROM s WHERE o_orderkey % 7 = 2)
      |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
      |  change, v
      |FROM feed
      |ORDER BY v, o_orderkey, change""".stripMargin

  /** st21 — DIRECT TABLE STREAMING ([[graft.lake.TxnTableStream]],
    * Delta's `readStream` on the table, VERDICT r15 #2): a graft-txn
    * table WITHOUT a change feed tailed straight off its commit log.
    * Two drained streams over the same four-version history (create,
    * append, OPTIMIZE, append):
    *  - `snapshot:*` channels — the default stream: initial snapshot
    *    at attach time, which must equal the batch read (all three
    *    slices, compaction invisible);
    *  - `tail:*` channels — `startingVersion 1`: only the adds of
    *    v1 and v3; the OPTIMIZE commit (the new `dataChange=false`
    *    log flag) is SKIPPED, not failed, not duplicated — the
    *    row-preserving-rewrite contract every streaming consumer of a
    *    compacted 100 TB table depends on.
    * Both drains are checkpointed AvailableNow runs into the
    * exactly-once parquet file sink; replay-safety is pinned in
    * `TxnTableStreamSpec` (restart mirror of st19). */
  private def st21(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val root = java.nio.file.Files.createTempDirectory("graft_st21")
    val dir = root.resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 8 === k)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "o_orderstatus") // v0
    TxnLake.append(s, dir, slice(1))                  // v1
    TxnLake.optimize(s, dir, minFiles = 1)            // v2: row-preserving
    TxnLake.append(s, dir, slice(2))                  // v3
    def drain(reader: org.apache.spark.sql.streaming.DataStreamReader,
              tag: String): DataFrame = {
      val out = root.resolve(s"out_$tag").toString
      val q = reader.load(dir).writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", root.resolve(s"ckpt_$tag").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2)")
        .parquet(out)
    }
    val snap = drain(s.readStream.format("graft-txn"), "snap")
    val tail = drain(
      s.readStream.format("graft-txn").option("startingVersion", "1"), "tail")
    def agg(df: DataFrame, tag: String) = df
      .groupBy(concat(lit(tag + ":"), col("o_orderstatus")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
    agg(snap, "snapshot").unionByName(agg(tail, "tail")).orderBy(col("channel"))
  }

  private val st21Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders),
      |snap AS (SELECT * FROM base WHERE o_orderkey % 8 IN (0, 1, 2)),
      |tail AS (SELECT * FROM base WHERE o_orderkey % 8 IN (1, 2))
      |SELECT 'snapshot:' || o_orderstatus AS channel,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM snap GROUP BY 1
      |UNION ALL
      |SELECT 'tail:' || o_orderstatus, CAST(count(*) AS BIGINT),
      |  CAST(sum(price) AS DOUBLE)
      |FROM tail GROUP BY 1
      |ORDER BY channel""".stripMargin

  /** st22 — CHANGE FEED through the `readChangeFeed` OPTION
    * ([[graft.lake.TxnCdcStream]], Delta CDF's streaming front door on
    * the graft-txn format): COMMIT-GRANULAR offsets, so every
    * micro-batch carries whole commits (`maxVersionsPerTrigger 1`
    * forces one commit per batch — the raw file stream can split a
    * commit's change files across triggers). History: create with the
    * feed on, append (v1 inserts), predicate DELETE (v2 delete
    * pre-images carrying full rows); the stream attaches at
    * `startingVersion 1` so the v0 bulk load stays out, drains
    * AvailableNow into the exactly-once parquet sink, and the query
    * aggregates per (change type, version). The oracle replays the
    * slices relationally — version numbers are deterministic by
    * construction. */
  private def st22(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val root = java.nio.file.Files.createTempDirectory("graft_st22")
    val dir = root.resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 9 === k)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "o_orderstatus", changeFeed = true) // v0
    TxnLake.append(s, dir, slice(1))                                     // v1
    TxnLake.deleteWhere(s, dir, col("o_orderkey") % 4 === 2)             // v2
    val out = root.resolve("out").toString
    val q = s.readStream.format("graft-txn")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, " +
        "price DECIMAL(12,2), _change_type STRING, _commit_version BIGINT")
      .parquet(out)
      .groupBy(concat(col("_change_type"), lit(":v"),
        col("_commit_version")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .orderBy(col("channel"))
  }

  private val st22Sql =
    """WITH s0 AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 9 = 0),
      |s1 AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 9 = 1),
      |del AS (
      |  SELECT * FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
      |  WHERE o_orderkey % 4 = 2)
      |SELECT 'delete:v2' AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price FROM del
      |UNION ALL
      |SELECT 'insert:v1', CAST(count(*) AS BIGINT), CAST(sum(price) AS DOUBLE)
      |FROM s1
      |ORDER BY channel""".stripMargin

  /** st23 — DIRECT TABLE SINK ([[graft.lake.TxnSink]], Delta's
    * `writeStream.format(...)` on the table): plain `writeStream`
    * pipelines landing on the lake with no user `foreachBatch`.
    * Both output modes over the same multi-batch file stream
    * (`maxFilesPerTrigger 1` forces several micro-batches, so the
    * marker discipline is exercised across batch ids, not just once):
    *  - `append:*` — raw rows streamed into a table one
    *    [[graft.lake.TxnLake.appendOnce]] commit per batch
    *    (`partitionBy` supplies the partition column);
    *  - `complete:*` — a streaming aggregate in Complete mode, each
    *    batch atomically REPLACING the table via `overwriteOnce`; the
    *    drained final state must equal the full-input aggregate.
    * Replay-safety (restart no-duplicates, same-batch replay no-op,
    * Update-mode refusal) is pinned in `TxnSinkSpec`. */
  private def st23(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val root = java.nio.file.Files.createTempDirectory("graft_st23")
    val in = root.resolve("in").toString
    events(s, d).filter(col("user_id") % 6 === 1)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .repartition(3).write.parquet(in)
    val sch = s.read.parquet(in).schema
    val rowsT = root.resolve("rows_lake").toString
    s.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream.format("graft-txn").partitionBy("event_type")
      .option("checkpointLocation", root.resolve("ckpt_rows").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(rowsT).awaitTermination()
    val aggT = root.resolve("agg_lake").toString
    s.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(in)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_users"))
      .writeStream.format("graft-txn").option("partCol", "event_type")
      .outputMode("complete")
      .option("checkpointLocation", root.resolve("ckpt_agg").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(aggT).awaitTermination()
    TxnLake.read(s, rowsT)
      .groupBy(concat(lit("append:"), col("event_type")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_users"))
      .unionByName(TxnLake.read(s, aggT)
        .select(concat(lit("complete:"), col("event_type")).as("channel"),
          col("n"), col("sum_users")))
      .orderBy(col("channel"))
  }

  /** st24 — BYTE-PACED table stream into the MERGE-SCHEMA sink: a
    * three-commit graft table is tailed with `maxBytesPerTrigger = 1`
    * (the soft cap: one FILE per micro-batch — pacing must only slow
    * delivery, never change it) and lands through
    * `writeStream.format("graft-txn")` with `mergeSchema` onto a
    * TARGET table born without the `price` column — the sink grows it
    * additively (one metadata commit), the target's pre-existing rows
    * null-fill, and every streamed row arrives exactly once across the
    * many paced batches. The oracle replays both populations
    * relationally. */
  private def st24(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val root = java.nio.file.Files.createTempDirectory("graft_st24")
    val src = root.resolve("src_lake").toString
    val dst = root.resolve("dst_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 15 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("double").as("price"))
    TxnLake.create(s, src, slice(0), "pt") // v0
    TxnLake.append(s, src, slice(1))       // v1
    TxnLake.append(s, src, slice(2))       // v2
    // target exists WITHOUT price: the sink's mergeSchema adds it
    TxnLake.create(s, dst, slice(3).drop("price"), "pt")
    s.readStream.format("graft-txn").option("maxBytesPerTrigger", "1")
      .load(src)
      .writeStream.format("graft-txn").option("mergeSchema", "true")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dst).awaitTermination()
    TxnLake.read(s, dst)
      .groupBy(when(col("price").isNull, lit("legacy"))
        .otherwise(lit("streamed")).as("channel"))
      .agg(count(lit(1)).as("n"),
        round(coalesce(sum(col("price")), lit(0.0)), 4).as("sum_price"))
      .orderBy(col("channel"))
  }

  private val st24Sql =
    """WITH streamed AS (
      |  SELECT CAST(o_totalprice AS DOUBLE) AS price
      |  FROM orders WHERE o_orderkey % 15 IN (0, 1, 2)),
      |legacy AS (
      |  SELECT 1 FROM orders WHERE o_orderkey % 15 = 3)
      |SELECT 'legacy' AS channel, CAST(count(*) AS BIGINT) AS n,
      |  0.0 AS sum_price FROM legacy
      |UNION ALL
      |SELECT 'streamed', CAST(count(*) AS BIGINT),
      |  round(sum(price), 4) FROM streamed
      |ORDER BY channel""".stripMargin

  private val st23Sql =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type FROM events WHERE user_id % 6 = 1)
      |SELECT 'append:' || event_type AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(user_id) AS BIGINT) AS sum_users
      |FROM base GROUP BY event_type
      |UNION ALL
      |SELECT 'complete:' || event_type, CAST(count(*) AS BIGINT),
      |  CAST(sum(user_id) AS BIGINT)
      |FROM base GROUP BY event_type
      |ORDER BY channel""".stripMargin

  val defs: Map[String, Q] = Map(
    "st24_paced_merge_sink" -> (st24 _),
    "st23_table_sink" -> (st23 _),
    "st22_cdc_option_stream" -> (st22 _),
    "st21_table_stream" -> (st21 _),
    "st19_cdc_startversion" -> (st19 _),
    "st18_exactly_once_sink" -> (st18 _),
    "st17_cdc_replication" -> (st17 _),
    "st16_interval_thinning" -> (st16 _),
    "st15_cdc_incremental_mv" -> (st15 _),
    "st14_stream_anomaly" -> (st14 _),
    "st13_stream_topk" -> (st13 _),
    "st12_semi_stream_join" -> (st12 _),
    "st11_full_outer_stream_join" -> (st11 _),
    "st10_outer_stream_join" -> (st10 _),
    "st09_stream_static_join" -> (st09 _),
    "st08_arbitrary_state" -> (st08 _),
    "st07_asof_join" -> (st07 _),
    "st06_stream_stream_join" -> (st06 _),
    "st01_tumbling_window" -> (st01 _),
    "st02_sessionization" -> (st02 _),
    "st03_stream_dedup" -> (st03 _),
    "st04_sliding_window" -> (st04 _),
    "st05_session_window_batch" -> (st05 _))

  val oracle: Map[String, String] = Map(
    "st24_paced_merge_sink" -> st24Sql,
    "st23_table_sink" -> st23Sql,
    "st22_cdc_option_stream" -> st22Sql,
    "st21_table_stream" -> st21Sql,
    "st19_cdc_startversion" -> st19Sql,
    "st18_exactly_once_sink" -> st18Sql,
    "st17_cdc_replication" -> st17Sql,
    "st16_interval_thinning" -> st16Sql,
    "st15_cdc_incremental_mv" -> st15Sql,
    "st14_stream_anomaly" -> st14Sql,
    "st13_stream_topk" -> st13Sql,
    "st12_semi_stream_join" -> st12Sql,
    "st11_full_outer_stream_join" -> st11Sql,
    "st10_outer_stream_join" -> st10Sql,
    "st09_stream_static_join" -> st09Sql,
    "st08_arbitrary_state" -> st08Sql,
    "st07_asof_join" -> st07Sql,
    "st06_stream_stream_join" -> st06Sql,
    "st01_tumbling_window" -> st01Sql,
    "st02_sessionization" -> st02Sql,
    "st03_stream_dedup" -> st03Sql,
    "st04_sliding_window" -> st04Sql,
    "st05_session_window_batch" -> st05Sql)
}
