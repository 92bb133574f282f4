package graft.analytics

import graft.Tables._
import graft.operators.GlobalRank
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fifth batch (round 3): scale-safe re-expressions and deeper TPC-H
  * shapes.
  *
  * q47 is the headline: q20's global ntile/percent_rank computed with the
  * range-partitioned two-pass rank ([[GlobalRank]]) instead of the
  * single-task `Window.orderBy` — identical output, but the plan
  * parallelizes at 100 TB (q20 stays registered as the idiom-contrast
  * control, same as q19-vs-q42).
  */
object ScaleQueries {

  /** q47 — distributed global rank / quartile / percent_rank over
    * customer balances ([[GlobalRank]]); oracle = the window-function
    * form. Must produce byte-identical results to the one-task window. */
  private def q47(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    val keys = Seq(col("c_acctbal"), col("c_custkey"))
    // keepTotalAs: percent_rank needs the row count, which already rides
    // the ntile computation — no extra scan of the input
    GlobalRank.withGlobalNtile(c, keys, 4, "rnk", "balance_quartile",
        keepTotalAs = Some("__n"))
      .select(col("c_custkey"), col("rnk"), col("balance_quartile"),
        round((col("rnk") - 1).cast("double") / (col("__n") - 1), 6).as("pct_rank"))
      .orderBy(col("c_custkey"))
  }

  private val q47Sql =
    """SELECT c_custkey,
      |  CAST(row_number() OVER w AS BIGINT) AS rnk,
      |  CAST(ntile(4) OVER w AS INTEGER) AS balance_quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank
      |FROM customer
      |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** q48 — TPC-H Q18 shape (large-volume orders): IN-subquery over a
    * grouped HAVING, decorrelated into a semi-join on the aggregated
    * keys; the heavy lineitem aggregation is partial+final hash agg. */
  private def q48(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 6).as("sum_qty"))
      .filter(col("sum_qty") > 220)
    orders(s, d)
      .join(big, col("o_orderkey") === big("l_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  private val q48Sql =
    """SELECT c_custkey, c_name, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS orderdate, o_totalprice,
      |  round(sum_qty, 6) AS sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING round(sum(l_quantity), 6) > 220) big
      |  ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** q49 — TPC-H Q2 shape (min-cost supplier): correlated equality
    * against a per-group MIN, decorrelated into an aggregate + equi-join
    * on (key, min) — no partsupp table in this lake, so lineitem plays
    * the part-supplier price list. */
  private def q49(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d).filter(col("l_partkey") <= 200)
    val minPrice = l.groupBy(col("l_partkey").as("mp_key"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    l.join(minPrice, col("l_partkey") === col("mp_key") &&
        col("l_extendedprice") === col("min_price"))
      .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("s_suppkey"), col("s_name"), col("min_price"))
      .distinct()
      .orderBy(col("l_partkey"), col("s_suppkey"))
  }

  private val q49Sql =
    """SELECT DISTINCT l_partkey, s_suppkey, s_name, min_price
      |FROM lineitem l
      |JOIN (SELECT l_partkey AS mp_key, min(l_extendedprice) AS min_price
      |      FROM lineitem WHERE l_partkey <= 200 GROUP BY l_partkey) m
      |  ON l.l_partkey = m.mp_key AND l.l_extendedprice = m.min_price
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE l_partkey <= 200
      |ORDER BY l_partkey, s_suppkey""".stripMargin

  /** q50 — event funnel: per-user first-touch times per stage, counted
    * into strictly-ordered view → click → purchase conversions. One hash
    * agg per user then a metadata-scale rollup — the standard funnel
    * shape over an event stream. */
  private def q50(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(col("t_view") < col("t_click"), 1L).otherwise(0L)).as("n_clicked_after_view"),
        sum(when(col("t_view") < col("t_click") && col("t_click") < col("t_purchase"), 1L)
          .otherwise(0L)).as("n_full_funnel"))

  private val q50Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
      |  CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
      |  CAST(sum(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      |FROM (SELECT user_id,
      |        min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
      |        min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
      |        min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
      |      FROM events
      |      GROUP BY user_id)""".stripMargin

  /** q51 — salted skew join ([[graft.operators.SkewJoin]]): lineitem
    * joined to supplier over (key, salt) so a hot supplier key would
    * spread across `salts` tasks; the oracle is the PLAIN join — salting
    * must be invisible in the result. Money sum follows the q01/q05
    * decimal-then-double rule. */
  private def q51(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d).select(col("l_suppkey"), col("l_extendedprice"))
    val sup = supplier(s, d)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.operators.SkewJoin.saltedJoin(l, sup, "l_suppkey")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("total_price"))
      .orderBy(col("s_nationkey"))
  }

  private val q51Sql =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  /** q52 — TPC-H Q21 shape (sole late supplier): one correlated EXISTS
    * plus one correlated NOT EXISTS against the same fact table.
    * Instead of decorrelating into a semi-join plus an anti-join (each
    * shuffling lineitem-scale key sets, plus two DISTINCTs — 4
    * fact-scale shuffles, measured 3.4 s at sf1), both quantifiers
    * collapse into ONE per-order aggregate: an order contributes iff it
    * has >1 distinct suppliers (the EXISTS) and exactly 1 distinct LATE
    * supplier (the NOT EXISTS — the late row's own supplier is always
    * among the late set, so "no other late supplier" ⟺ n=1), and it
    * contributes that supplier's late LINE count (Q21 counts l1 rows).
    * The distinct-supplier counts are TWO-LEVEL exact aggregates —
    * first by (order, supplier), then by order — NOT countDistinct:
    * two countDistincts in one aggregate would plan an EXPAND that
    * triples the fact rows before the shuffle (measured: the expand
    * form was SLOWER than the semi/anti original). Both levels take
    * partial map-side combine, and the second level's input is already
    * (order, supplier)-distinct — a fraction of the fact. Lateness is
    * ship > order date + 1000 days (this lake has no receipt/commit
    * dates). */
  private def q52(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val l = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val lj = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 1000 DAY")).as("late"))
    val perSupp = lj.groupBy(col("l_orderkey"), col("l_suppkey")).agg(
      max(col("late")).as("any_late"),
      sum(when(col("late"), 1L)).as("supp_late_lines"))
    val perOrder = perSupp.groupBy(col("l_orderkey")).agg(
      count(lit(1)).as("n_supp"),
      sum(when(col("any_late"), 1L)).as("n_late_supp"),
      max(when(col("any_late"), col("l_suppkey"))).as("late_supp"),
      sum(when(col("any_late"), col("supp_late_lines"))).as("late_lines"))
    perOrder.filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .groupBy(col("late_supp"))
      .agg(sum(col("late_lines")).as("numwait"))
      .join(supplier(s, d), col("late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  private val q52Sql =
    """SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 1000 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 1000 DAY)
      |GROUP BY s_suppkey, s_name
      |ORDER BY numwait DESC, s_suppkey""".stripMargin

  /** q53 — blocked fuzzy match: candidate pairs share a blocking key
    * (the name's final token), then exact Levenshtein confirms — the
    * entity-resolution flavor of block-then-verify (same scale shape as
    * the LSH dedups: no all-pairs distance matrix, candidates only from
    * block collisions). */
  private def q53(s: SparkSession, d: String): DataFrame = {
    val names = part(s, d).select(col("p_name")).distinct()
      .withColumn("noun", element_at(split(col("p_name"), " "), -1))
    names.as("x").join(names.as("y"),
        col("x.noun") === col("y.noun") && col("x.p_name") < col("y.p_name"))
      .select(col("x.p_name").as("name_a"), col("y.p_name").as("name_b"),
        levenshtein(col("x.p_name"), col("y.p_name")).as("dist"))
      .filter(col("dist") <= 4)
      .orderBy(col("name_a"), col("name_b"))
  }

  private val q53Sql =
    """WITH n AS (SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS noun FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      |FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 4
      |ORDER BY name_a, name_b""".stripMargin

  /** zq01 — Z-order (Morton) layout key ([[graft.lake.ZOrder]]): interleave
    * two synthetic 10-bit coordinates per customer, then aggregate per
    * curve segment (zkey >> 12). The aggregate exercises every bit of the
    * spread/interleave ladder (min/max/count per segment shift with any
    * bit error), and the oracle replays the identical mask-and-shift
    * arithmetic in SQL. The companion writer
    * ([[graft.lake.ZOrder.writeZOrdered]], ZOrderSpec) range-partitions on
    * this key so parquet files get disjoint zkey ranges — file-level
    * skipping for 2-D predicates at 100 TB. */
  private def zq01(s: SparkSession, d: String): DataFrame = {
    import graft.lake.ZOrder
    val z = ZOrder.mortonCode(col("c_custkey") % 1024,
      expr("(c_custkey div 3) % 1024"))
    customer(s, d).select(z.as("zkey"))
      .groupBy(shiftright(col("zkey"), 12).as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("zkey")).as("zmin"),
        max(col("zkey")).as("zmax"))
      .orderBy(col("bucket"))
  }

  private val zq01Sql =
    """WITH pts AS (SELECT c_custkey % 1024 AS x, (c_custkey // 3) % 1024 AS y
      |  FROM customer),
      |a AS (SELECT (x & 65535) AS x0, (y & 65535) AS y0 FROM pts),
      |b AS (SELECT ((x0 | (x0 << 8)) & 16711935) AS x1,
      |             ((y0 | (y0 << 8)) & 16711935) AS y1 FROM a),
      |c AS (SELECT ((x1 | (x1 << 4)) & 252645135) AS x2,
      |             ((y1 | (y1 << 4)) & 252645135) AS y2 FROM b),
      |d AS (SELECT ((x2 | (x2 << 2)) & 858993459) AS x3,
      |             ((y2 | (y2 << 2)) & 858993459) AS y3 FROM c),
      |e AS (SELECT ((x3 | (x3 << 1)) & 1431655765) AS x4,
      |             ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM d),
      |z AS (SELECT (x4 | (y4 << 1)) AS zkey FROM e)
      |SELECT zkey >> 12 AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  min(zkey) AS zmin, max(zkey) AS zmax
      |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin

  /** lk01 — transactional lake TIME TRAVEL ([[graft.lake.TxnLake]]):
    * create a txn table from an orders slice (version 0), run a
    * partition-pruned transactional upsert (version 1 — doubled prices
    * on matched keys, inserts on new keys), then read BOTH versions by
    * pinned manifest and summarize per partition value. The oracle
    * recomputes both snapshots relationally, so a hash match proves
    * (a) version 0 still reads exactly the pre-merge state after the
    * commit — snapshot immutability, not just isolation — and (b) the
    * merge applied exactly the claimed row set. Everything stages into
    * a per-invocation temp dir (same discipline as ss07). Both version
    * reads go through the `graft-txn` DATA SOURCE
    * ([[graft.lake.TxnLakeSource]], `versionAsOf` option) rather than
    * the bespoke API, so the registered query also pins the DSv2-path
    * snapshot resolution. */
  private def lk01(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk01")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    // doubling a double is exact (power of two), so the oracle replays it
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(base.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    TxnLake.upsert(s, dir, updates, "o_orderkey")
    def summarize(df: DataFrame, sfx: String) =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as(s"n_$sfx"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as(s"sum_$sfx"))
    def readVersion(v: Long): DataFrame =
      s.read.format("graft-txn").option("versionAsOf", v.toString).load(dir)
    summarize(readVersion(0L), "v0")
      .join(summarize(readVersion(1L), "v1"), Seq("o_orderstatus"))
      .orderBy(col("o_orderstatus"))
  }

  private val lk01Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |upd AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
      |  FROM base WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
      |  FROM base WHERE o_orderkey % 100 = 0),
      |v1 AS (
      |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL SELECT * FROM upd),
      |s0 AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_v0,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_v0
      |  FROM base GROUP BY o_orderstatus),
      |s1 AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_v1,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_v1
      |  FROM v1 GROUP BY o_orderstatus)
      |SELECT o_orderstatus, n_v0, sum_v0, n_v1, sum_v1
      |FROM s0 JOIN s1 USING (o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  /** lk02 — transactional lake CDC / INCREMENTAL READ
    * ([[graft.lake.TxnLake.changes]]): create a txn table (v0), run a
    * transactional upsert (v1 — doubled prices on %21 keys, fresh +20M
    * keys on %70), then a transactional key-delete of the %35 keys (v2),
    * and ask the lake for the NET changes v0→v2. The oracle derives the
    * same insert/update/delete rows relationally — keys on 105's grid
    * (21·5) are updated in v1 then deleted in v2, so they must surface
    * as a DELETE carrying the v0 image, and v1's intermediate files
    * (referenced by neither endpoint manifest) must not leak into the
    * diff. A hash match proves the manifest-diff CDC reads exactly the
    * changed rows — the primitive that lets a downstream 100 TB consumer
    * refresh from touched partitions only. */
  private def lk02(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk02")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    val updates = base.filter(col("o_orderkey") % 21 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(base.filter(col("o_orderkey") % 70 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
    TxnLake.upsert(s, dir, updates, "o_orderkey")
    TxnLake.delete(s, dir,
      base.filter(col("o_orderkey") % 35 === 0).select(col("o_orderkey")), "o_orderkey")
    TxnLake.changes(s, dir, 0L, 2L, "o_orderkey")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("_change_type"))
      .orderBy(col("o_orderkey"), col("_change_type"))
  }

  private val lk02Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_orderkey + 20000000 AS o_orderkey, o_orderstatus, o_totalprice,
      |  'insert' AS _change_type
      |FROM base WHERE o_orderkey % 70 = 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_totalprice * 2, 'update'
      |FROM base WHERE o_orderkey % 21 = 0 AND o_orderkey % 35 <> 0
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus, o_totalprice, 'delete'
      |FROM base WHERE o_orderkey % 35 = 0
      |ORDER BY o_orderkey, _change_type""".stripMargin

  /** lk03 — lake SCHEMA EVOLUTION ([[graft.lake.TxnLake]] additive
    * upsert): create a txn table (v0, three columns), then upsert rows
    * carrying a NEW column (v1). Old data files are never rewritten;
    * the manifest's schema advances and readers null-fill the added
    * column for pre-evolution files. The oracle rebuilds v1
    * relationally with explicit NULLs, so the per-status counts of
    * evolved vs null-filled rows pin both the merge membership and the
    * null-fill semantics (doubling keeps the decimal sum exact — the
    * lk01 discipline). */
  private def lk03(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk03")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    val updates = base.filter(col("o_orderkey") % 33 === 0)
      .withColumn("o_twice", col("o_totalprice") * 2)
    TxnLake.upsert(s, dir, updates, "o_orderkey")
    TxnLake.read(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        count(col("o_twice")).as("n_evolved"),
        sum(col("o_twice").cast("decimal(12,2)")).cast("double").as("sum_twice"))
      .orderBy(col("o_orderstatus"))
  }

  private val lk03Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |upd AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |    o_totalprice * 2 AS o_twice
      |  FROM base WHERE o_orderkey % 33 = 0),
      |v1 AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |    CAST(NULL AS DOUBLE) AS o_twice
      |  FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL SELECT * FROM upd)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(o_twice) AS BIGINT) AS n_evolved,
      |  CAST(sum(CAST(o_twice AS DECIMAL(12,2))) AS DOUBLE) AS sum_twice
      |FROM v1 GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** zq02 — manifest ZONE-MAP file skipping through the `graft-txn`
    * DATA SOURCE ([[graft.lake.TxnLakeSource]]): create a txn table
    * partitioned by an orderkey range bucket (so each data file gets a
    * tight key zone), then read it as an ordinary
    * `spark.read.format("graft-txn")` relation with a BETWEEN predicate
    * — Catalyst hands the conjuncts to [[graft.lake.TxnFileIndex]],
    * which prunes non-intersecting files against the manifest min/max
    * at planning time, no footer reads (the pruned scanned-file count
    * is pinned via the scan's `numFiles` metric in TxnLakeSourceSpec
    * and plan-linted). Unlike the bespoke `readRange`, ANY predicate on
    * the stats column prunes here. The oracle recomputes the range
    * aggregate straight off the base table, so a hash match proves
    * skipping loses no rows at any layout. */
  private def zq02(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq02")
      .resolve("orders_lake").toString
    // SIXTEEN RANGE BUCKETS over the key span at ANY scale factor
    // (broadcast-scalar max, the tx19 bucketing move): enough disjoint
    // key ranges to show planning-time skipping without degenerating
    // into hundreds of one-row files — a fixed absolute width did
    // exactly that (293 files for 37k rows at sf0.1, where the
    // file-listing/commit overhead cost more than the scan it saved;
    // zq04 keeps a fine layout deliberately, its Bloom fpp needs small
    // per-file value sets, and pays the flagged build cost for it)
    val sliced = orders(s, d).filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    val mx = sliced.agg(max(col("o_orderkey")).as("mx"))
    val base = sliced.crossJoin(broadcast(mx))
      .withColumn("okbucket", expr("(o_orderkey * 16) div (mx + 1)"))
      .drop("mx")
    TxnLake.create(s, dir, base, "okbucket", statsCol = Some("o_orderkey"))
    s.read.format("graft-txn").load(dir)
      .filter(col("o_orderkey").between(1000L, 3000L))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_price")).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val zq02Sql =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderkey % 4 = 0 AND o_orderkey BETWEEN 1000 AND 3000
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** lk04 — INCREMENTAL MATERIALIZED-VIEW MAINTENANCE
    * ([[graft.lake.IncrementalView]] over [[graft.lake.TxnLake.changes]]
    * with preimages): build a grouped count/sum view at v0, mutate the
    * table through an upsert (v1) and a transactional delete (v2), then
    * maintain the view purely from the v0→v2 CDC feed — the base table
    * is never re-read. The oracle recomputes the v2 aggregate from
    * scratch, so a hash match proves signed preimage/postimage folding
    * is EXACTLY a full rebuild (decimal sums — the lk01 exactness
    * discipline). This is the 100 TB refresh path: work scales with the
    * changed partitions, not the table. */
  private def lk04(s: SparkSession, d: String): DataFrame = {
    import graft.lake.{IncrementalView, TxnLake}
    val dir = java.nio.file.Files.createTempDirectory("graft_lk04")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 6 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    val mv0 = IncrementalView.build(TxnLake.readVersion(s, dir, 0L),
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_price"))
    val updates = base.filter(col("o_orderkey") % 12 === 0)
      .withColumn("o_price", (col("o_price") * 2).cast("decimal(12,2)"))
      .unionByName(base.filter(col("o_orderkey") % 60 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L))
    TxnLake.upsert(s, dir, updates, "o_orderkey")
    TxnLake.delete(s, dir,
      base.filter(col("o_orderkey") % 30 === 0).select(col("o_orderkey")), "o_orderkey")
    val feed = TxnLake.changes(s, dir, 0L, 2L, "o_orderkey", preimages = true)
    IncrementalView.applyChanges(mv0, feed,
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_price"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
        col("sum_o_price").cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  private val lk04Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_price
      |  FROM orders WHERE o_orderkey % 6 = 0),
      |upd AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |    CAST(o_price * 2 AS DECIMAL(12,2)) AS o_price
      |  FROM base WHERE o_orderkey % 12 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 30000000, o_orderstatus, o_orderpriority, o_price
      |  FROM base WHERE o_orderkey % 60 = 0),
      |v1 AS (
      |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL SELECT * FROM upd),
      |v2 AS (
      |  SELECT * FROM v1 WHERE o_orderkey NOT IN
      |    (SELECT o_orderkey FROM base WHERE o_orderkey % 30 = 0))
      |SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_price) AS DOUBLE) AS sum_price
      |FROM v2 GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** lk05 — transactional APPEND + OPTIMIZE ([[graft.lake.TxnLake]]):
    * create a txn table (one file per status), blind-append three
    * disjoint key slices (each lands new files without reading base —
    * the O(new data) ingest path), then OPTIMIZE compacts every status
    * fragmented across >2 files back to one file, as an atomic commit
    * that changes no rows. Output joins the per-status DATA summary
    * (over the post-optimize snapshot) with the per-status FILE counts
    * of the pre- and post-optimize manifests ([[TxnLake.detail]]). The
    * oracle replays the data relationally and derives both file counts
    * from first principles — files_before = 1 + #appends containing the
    * status (stageFiles writes one file per partition value per
    * commit), files_after folds the >minFiles rule — so a hash match
    * pins the append fragmentation, the compaction trigger, AND row
    * preservation in one result. */
  private def lk05(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk05")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    def slice(m: Int, off: Long) = base.filter(col("o_orderkey") % m === 0)
      .withColumn("o_orderkey", col("o_orderkey") + off)
    TxnLake.append(s, dir, slice(3, 30000000L))
    TxnLake.append(s, dir, slice(5, 40000000L))
    TxnLake.append(s, dir, slice(7, 50000000L))
    val st = TxnLake.optimize(s, dir)
    def fileCounts(v: Long, as: String) =
      TxnLake.detail(s, dir, v)
        .groupBy(col("part_value").as("o_orderstatus"))
        .agg(count(lit(1)).as(as))
    TxnLake.read(s, dir).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
      .join(fileCounts(st.version - 1, "files_before"), "o_orderstatus")
      .join(fileCounts(st.version, "files_after"), "o_orderstatus")
      .orderBy(col("o_orderstatus"))
  }

  private val lk05Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |a1 AS (SELECT o_orderkey + 30000000 AS o_orderkey, o_orderstatus, o_totalprice
      |  FROM base WHERE o_orderkey % 3 = 0),
      |a2 AS (SELECT o_orderkey + 40000000 AS o_orderkey, o_orderstatus, o_totalprice
      |  FROM base WHERE o_orderkey % 5 = 0),
      |a3 AS (SELECT o_orderkey + 50000000 AS o_orderkey, o_orderstatus, o_totalprice
      |  FROM base WHERE o_orderkey % 7 = 0),
      |allr AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM a1
      |  UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3),
      |fb AS (
      |  SELECT s.o_orderstatus,
      |    1 + (SELECT count(DISTINCT t.src) FROM (
      |           SELECT 1 AS src, o_orderstatus FROM a1
      |           UNION ALL SELECT 2, o_orderstatus FROM a2
      |           UNION ALL SELECT 3, o_orderstatus FROM a3) t
      |         WHERE t.o_orderstatus = s.o_orderstatus) AS files_before
      |  FROM (SELECT DISTINCT o_orderstatus FROM base) s)
      |SELECT r.o_orderstatus, r.n_rows, r.sum_price,
      |  CAST(fb.files_before AS BIGINT) AS files_before,
      |  CAST(CASE WHEN fb.files_before > 2 THEN 1 ELSE fb.files_before END AS BIGINT) AS files_after
      |FROM (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
      |        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |      FROM allr GROUP BY 1) r
      |JOIN fb USING (o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  /** lk06 — VACUUM with retention ([[graft.lake.TxnLake.vacuum]]):
    * create a txn table, upsert (v1), transactionally delete (v2), then
    * vacuum down to the live version — old manifests and every data
    * file they exclusively referenced are deleted (file-level deletion
    * is pinned in TxnLakeSpec; readVersion on a vacuumed version fails
    * loudly). The query output joins the post-vacuum LIVE data summary
    * with the post-vacuum metadata counters (live version count, live
    * files per partition); the oracle recomputes the v2 state
    * relationally and derives the counters from the protocol's
    * invariants (vacuum keeps exactly `keepVersions` manifests; create
    * leaves one file per partition, the merge-on-read upsert adds one
    * post-image file per partition its rows land in, the delete only a
    * deletion vector) — so a hash match proves vacuum changed METADATA
    * ONLY, never the snapshot. */
  private def lk06(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk06")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 9 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    TxnLake.upsert(s, dir,
      base.filter(col("o_orderkey") % 18 === 0)
        .withColumn("o_price", (col("o_price") * 3).cast("decimal(12,2)")),
      "o_orderkey")
    TxnLake.delete(s, dir,
      base.filter(col("o_orderkey") % 27 === 0).select(col("o_orderkey")),
      "o_orderkey")
    TxnLake.vacuum(s, dir, keepVersions = 1, graceMs = 0L)
    val versionsLive = TxnLake.history(s, dir)
      .agg(count(lit(1)).as("n_versions_live"))
    val filesLive = TxnLake.detail(s, dir)
      .groupBy(col("part_value").as("o_orderstatus"))
      .agg(count(lit(1)).as("n_files"))
    TxnLake.read(s, dir).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_price")).cast("double").as("sum_price"))
      .join(filesLive, "o_orderstatus")
      .join(broadcast(versionsLive))
      .orderBy(col("o_orderstatus"))
  }

  private val lk06Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_price
      |  FROM orders WHERE o_orderkey % 9 = 0),
      |upd AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_price * 3 AS DECIMAL(12,2)) AS o_price
      |  FROM base WHERE o_orderkey % 18 = 0),
      |v1 AS (
      |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      |  UNION ALL SELECT * FROM upd),
      |v2 AS (
      |  SELECT * FROM v1 WHERE o_orderkey NOT IN
      |    (SELECT o_orderkey FROM base WHERE o_orderkey % 27 = 0))
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_price) AS DOUBLE) AS sum_price,
      |  CAST(CASE WHEN o_orderstatus IN (SELECT o_orderstatus FROM upd)
      |    THEN 2 ELSE 1 END AS BIGINT) AS n_files,
      |  CAST(1 AS BIGINT) AS n_versions_live
      |FROM v2 GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** lk07 — write-time CHECK constraints with a quarantine channel
    * ([[graft.lake.Constraints.appendChecked]]): a clean orders slice
    * becomes a txn table; an incoming batch is corrupted in CLOSED FORM
    * (negated price on %13 keys, unknown status on %17, NULL price on
    * %19 — each reason population non-trivially overlapping the
    * others), then checked-appended under two declared constraints.
    * Output is the per-channel summary: table partitions (base + only
    * the passing batch rows) and quarantine reasons (FIRST-failing
    * classification, declaration order; NULL price fails-closed into
    * positive_price). The oracle replays the corruption and the
    * classifier relationally — a hash match proves the gate diverted
    * exactly the right rows AND committed exactly the rest, the lake
    * descendant of the reference's per-line error channel
    * (CSVIngest.java:96-112). */
  private def lk07(s: SparkSession, d: String): DataFrame = {
    import graft.lake.{Constraints, TxnLake}
    val dir = java.nio.file.Files.createTempDirectory("graft_lk07")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 6 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    val batch = orders(s, d).filter(col("o_orderkey") % 6 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 17 === 0, lit("X")).otherwise(col("o_orderstatus")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 19 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")))
    Constraints.appendChecked(s, dir, batch, Seq(
      "positive_price" -> (col("o_totalprice") > 0),
      "known_status" -> col("o_orderstatus").isin("O", "F", "P")),
      dir + "_quarantine")
    def channelSum(df: DataFrame, channel: Column) =
      df.groupBy(channel.as("channel"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
    channelSum(TxnLake.read(s, dir), concat(lit("table:"), col("o_orderstatus")))
      .unionByName(channelSum(s.read.parquet(dir + "_quarantine"),
        concat(lit("quarantine:"), col(Constraints.ViolationCol))))
      .orderBy(col("channel"))
  }

  private val lk07Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 6 = 0),
      |batch AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 17 = 0 THEN 'X' ELSE o_orderstatus END
      |      AS o_orderstatus,
      |    CASE WHEN o_orderkey % 19 = 0 THEN NULL
      |         WHEN o_orderkey % 13 = 0 THEN -o_totalprice
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 6 = 1),
      |tagged AS (
      |  SELECT *,
      |    CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 'positive_price'
      |         WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE)
      |           THEN 'known_status' END AS violation
      |  FROM batch),
      |tbl AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM tagged
      |  WHERE violation IS NULL)
      |SELECT 'table:' || o_orderstatus AS channel,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM tbl GROUP BY 1
      |UNION ALL
      |SELECT 'quarantine:' || violation,
      |  CAST(count(*) AS BIGINT),
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |FROM tagged WHERE violation IS NOT NULL GROUP BY 1
      |ORDER BY channel""".stripMargin

  /** zq03 — `graft-txn` WRITE PATH + SQL catalog, end to end: build a
    * lake table purely through the data-source API
    * (`df.write.format("graft-txn")` — create, then blind append, then
    * an atomic full OVERWRITE that rewrites the snapshot through a
    * self-referential clean-and-replace, the real maintenance pattern),
    * register it with `CREATE TABLE ... USING` under a
    * collision-proof name (dropped in a finally — the q58 purity
    * discipline), and answer a `spark.sql` aggregate whose BETWEEN
    * predicate prunes files via [[graft.lake.TxnFileIndex]] zone maps.
    * The oracle replays create ∪ append → filter relationally, so a
    * hash match pins all three write modes AND the SQL read in one
    * query. */
  private def zq03(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_zq03")
      .resolve("orders_lake").toString
    def slice(m: Int) = orders(s, d).filter(col("o_orderkey") % 9 === m)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    slice(0).write.format("graft-txn")
      .option("partCol", "o_orderstatus").option("statsCol", "o_orderkey").save(dir)
    slice(4).write.format("graft-txn").mode("append").save(dir)
    // clean-and-replace: drop expensive outliers in one atomic commit
    s.read.format("graft-txn").load(dir)
      .filter(col("price") <= lit(java.math.BigDecimal.valueOf(50000)))
      .write.format("graft-txn").mode("overwrite").save(dir)
    val tbl = s"zq03_lake_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    s.sql(s"CREATE TABLE $tbl USING `graft-txn` OPTIONS (path '$dir')")
    try
      s.sql(
        s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(price) AS DOUBLE) AS sum_price
           |FROM $tbl WHERE o_orderkey BETWEEN 500 AND 5000
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    finally s.sql(s"DROP TABLE $tbl")
  }

  private val zq03Sql =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE (o_orderkey % 9 = 0 OR o_orderkey % 9 = 4)
      |  AND CAST(o_totalprice AS DECIMAL(12,2)) <= 50000
      |  AND o_orderkey BETWEEN 500 AND 5000
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** lk08 — commit-time CHANGE-DATA-CAPTURE feed
    * ([[graft.streaming.CdcFeed]] over [[graft.lake.TxnLake]]): script a
    * create → append → upsert → delete history on a txn table, then
    * read the `_graft_cdc` feed in batch and summarize rows per
    * (version, change type). Each commit writes its own change rows
    * (preimage dialect: insert / update_preimage / update_postimage /
    * delete pre-images) at commit time —
    * O(changed rows), never a snapshot diff — and the same entries are
    * what `readChangeFeed` tails as a checkpointed stream
    * (stream == batch pinned in CdcFeedSpec). The oracle rebuilds every
    * commit's expected change set relationally, including the doubled
    * pre-image price of keys updated before deletion (%42), so a hash
    * match pins classification, pre-image capture, and version
    * attribution at once. Prices go through DECIMAL(12,2) so sums are
    * order-independent (the lk01 discipline). */
  private def lk08(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.streaming.CdcFeed
    val dir = java.nio.file.Files.createTempDirectory("graft_lk08")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
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
    CdcFeed.batch(s, dir)
      .groupBy(col(TxnLake.VersionCol).as("v"), col(TxnLake.ChangeTypeCol).as("change"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .orderBy(col("v"), col("change"))
  }

  private val lk08Sql =
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |app AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 7 = 3),
      |upd AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 21 = 0
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price,
      |    o_orderkey % 21 = 0 AS matched
      |  FROM orders WHERE o_orderkey % 21 = 0 OR o_orderkey % 7 = 5),
      |del AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 42 = 0
      |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      |  FROM orders WHERE o_orderkey % 14 = 0),
      |feed AS (
      |  SELECT CAST(0 AS BIGINT) AS v, 'insert' AS change, price FROM base
      |  UNION ALL
      |  SELECT 1, 'insert', price FROM app
      |  UNION ALL
      |  SELECT 2, CASE WHEN matched THEN 'update_postimage' ELSE 'insert' END, price
      |  FROM upd
      |  UNION ALL
      |  SELECT 2, 'update_preimage', CAST(o_totalprice AS DECIMAL(12,2))
      |  FROM orders WHERE o_orderkey % 21 = 0
      |  UNION ALL
      |  SELECT 3, 'delete', price FROM del)
      |SELECT v, change, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM feed GROUP BY v, change
      |ORDER BY v, change""".stripMargin

  /** lk09 — full MERGE with all three clauses in ONE atomic commit
    * ([[graft.lake.TxnLake.merge]]):
    *
    *   MERGE INTO tgt USING src ON tgt.o_orderkey = src.o_orderkey
    *   WHEN MATCHED AND tgt.price > 100000 THEN DELETE
    *   WHEN MATCHED THEN UPDATE SET *
    *   WHEN NOT MATCHED THEN INSERT *
    *
    * Target = orders keys %5=0; source = keys %10=0 (all matched)
    * ∪ keys %5=2 (all unmatched) at doubled price. The result unions
    * the post-merge snapshot per status with the merge commit's CDC
    * rows per change type, so one hash pins the retention-delete
    * clause, the update/insert split, the withheld source rows of
    * deleted keys, AND the preimage-dialect change-feed classification.
    * The oracle replays the clauses relationally. Prices go through
    * DECIMAL(12,2) (the lk01 discipline). */
  private def lk09(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.streaming.CdcFeed
    val dir = java.nio.file.Files.createTempDirectory("graft_lk09")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 5 === 0), "o_orderstatus",
      changeFeed = true)
    val src = slice(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 5 === 2)
      .withColumn("price", (col("price") * 2).cast("decimal(12,2)"))
    TxnLake.merge(s, dir, src, "o_orderkey",
      deleteWhen = col("price") > 100000)
    val table = TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("o_orderstatus")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
    val cdc = CdcFeed.batch(s, dir, fromVersion = 1L)
      .groupBy(concat(lit("cdc:"), col(TxnLake.ChangeTypeCol)).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
    table.unionByName(cdc).orderBy(col("channel"))
  }

  private val lk09Sql =
    """WITH tgt AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |src AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 10 = 0 OR o_orderkey % 5 = 2),
      |del AS (SELECT t.* FROM tgt t JOIN src s ON t.o_orderkey = s.o_orderkey
      |        WHERE t.price > 100000),
      |upd AS (SELECT s.* FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey
      |        WHERE t.price <= 100000),
      |ins AS (SELECT s.* FROM src s LEFT JOIN tgt t ON s.o_orderkey = t.o_orderkey
      |        WHERE t.o_orderkey IS NULL),
      |final AS (
      |  SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      |  UNION ALL SELECT * FROM upd
      |  UNION ALL SELECT * FROM ins),
      |cdc AS (
      |  SELECT 'update_postimage' AS change, price FROM upd
      |  UNION ALL
      |  SELECT 'update_preimage', t.price FROM tgt t JOIN src s
      |    ON t.o_orderkey = s.o_orderkey WHERE t.price <= 100000
      |  UNION ALL SELECT 'insert', price FROM ins
      |  UNION ALL SELECT 'delete', price FROM del)
      |SELECT 'table:' || o_orderstatus AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM final GROUP BY 1
      |UNION ALL
      |SELECT 'cdc:' || change, CAST(count(*) AS BIGINT), CAST(sum(price) AS DOUBLE)
      |FROM cdc GROUP BY 1
      |ORDER BY channel""".stripMargin

  /** lk20 — the SQL DML STATEMENT surface ([[graft.plans.GraftSqlDml]],
    * the `injectParser` path of `GraftExtensions`): the same
    * transactional engines lk09/lk14 drive through the API, driven
    * purely by SQL text — `INSERT INTO ... SELECT` (blind-append
    * commit), `UPDATE` (DV commit), `DELETE FROM` (DV commit), then a
    * full three-clause `MERGE INTO` with Delta-style
    * `graft_txn.`/path`` addressing. The result unions the post-DML
    * snapshot per status with each statement's affected-row count, so
    * one hash pins statement parsing, qualifier stripping, the
    * clause-shape mapping AND the mutation arithmetic; `GraftSqlDmlSpec`
    * separately pins `spark.sql(...)` in a parser-extension session to
    * this exact code path. The oracle replays all three statements
    * relationally. */
  private def lk20(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk20")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 5 === 0), "o_orderstatus")
    val insView = s"lk20_ins_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    slice(col("o_orderkey") % 5 === 1).createOrReplaceTempView(insView)
    try GraftSqlDml.exec(s,
      s"INSERT INTO graft_txn.`$dir` SELECT * FROM $insView")
    finally s.catalog.dropTempView(insView)
    val nUpd = GraftSqlDml.exec(s,
      s"UPDATE graft_txn.`$dir` SET price = price + 10.00 " +
        "WHERE o_orderstatus = 'O'").collect()(0).getLong(0)
    val nDel = GraftSqlDml.exec(s,
      s"DELETE FROM graft_txn.`$dir` WHERE price > 200000").collect()(0).getLong(0)
    val view = s"lk20_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    slice(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 5 === 2)
      .withColumn("price", (col("price") * 2).cast("decimal(12,2)"))
      .createOrReplaceTempView(view)
    try GraftSqlDml.exec(s,
      s"""MERGE INTO graft_txn.`$dir` AS t USING $view AS s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND t.price > 100000 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally s.catalog.dropTempView(view)
    import s.implicits._
    TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("o_orderstatus")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .unionByName(Seq(("stmt:update", nUpd), ("stmt:delete", nDel))
        .toDF("channel", "n")
        .withColumn("sum_price", lit(null).cast("double")))
      .orderBy(col("channel"))
  }

  private val lk20Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 5 = 0 OR o_orderkey % 5 = 1),
      |upd AS (SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'O'
      |         THEN CAST(price + 10.00 AS DECIMAL(12,2)) ELSE price END AS price
      |  FROM base),
      |kept AS (SELECT * FROM upd WHERE price <= 200000),
      |src AS (SELECT o_orderkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 10 = 0 OR o_orderkey % 5 = 2),
      |mupd AS (SELECT s.* FROM src s JOIN kept t ON s.o_orderkey = t.o_orderkey
      |         WHERE t.price <= 100000),
      |mins AS (SELECT s.* FROM src s LEFT JOIN kept t ON s.o_orderkey = t.o_orderkey
      |         WHERE t.o_orderkey IS NULL),
      |final AS (
      |  SELECT * FROM kept WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      |  UNION ALL SELECT * FROM mupd
      |  UNION ALL SELECT * FROM mins)
      |SELECT 'table:' || o_orderstatus AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM final GROUP BY 1
      |UNION ALL
      |SELECT 'stmt:update', (SELECT CAST(count(*) AS BIGINT) FROM base
      |                       WHERE o_orderstatus = 'O'), CAST(NULL AS DOUBLE)
      |UNION ALL
      |SELECT 'stmt:delete', (SELECT CAST(count(*) AS BIGINT) FROM upd
      |                       WHERE price > 200000), CAST(NULL AS DOUBLE)
      |ORDER BY channel""".stripMargin

  /** lk21 — MERGE `WHEN NOT MATCHED BY SOURCE`, the sync-job shape
    * ([[graft.lake.TxnLake.BySourceDelete]]/[[graft.lake.TxnLake.BySourceUpdate]]):
    * source-absent target rows are retired in the SAME atomic commit as
    * the matched updates and unmatched inserts — expensive ones
    * hard-deleted, the rest soft-flagged (price = -1), first matching
    * clause winning. The result unions the post-merge snapshot per
    * status with the commit's CDC rows per change type, so one hash
    * pins the absent-key classification, the clause ordering, the
    * partition-moving soft-retire AND all six change-feed classes. The
    * oracle replays the clause cascade relationally. */
  private def lk21(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.streaming.CdcFeed
    val dir = java.nio.file.Files.createTempDirectory("graft_lk21")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 5 === 0), "o_orderstatus",
      changeFeed = true)
    val src = slice(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 5 === 2)
      .withColumn("price", (col("price") * 2).cast("decimal(12,2)"))
    TxnLake.merge(s, dir, src, "o_orderkey", deleteWhen = lit(false),
      bySource = Seq(
        TxnLake.BySourceDelete(Some(col("price") > 50000)),
        TxnLake.BySourceUpdate(Map("price" -> lit(-1)))))
    val table = TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("o_orderstatus")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
    val cdc = CdcFeed.batch(s, dir, fromVersion = 1L)
      .groupBy(concat(lit("cdc:"), col(TxnLake.ChangeTypeCol)).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
    table.unionByName(cdc).orderBy(col("channel"))
  }

  private val lk21Sql =
    """WITH tgt AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |src AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 10 = 0 OR o_orderkey % 5 = 2),
      |absent AS (SELECT t.* FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
      |           WHERE s.o_orderkey IS NULL),
      |bsdel AS (SELECT * FROM absent WHERE price > 50000),
      |bsupd AS (SELECT o_orderkey, o_orderstatus, CAST(-1 AS DECIMAL(12,2)) AS price
      |          FROM absent WHERE price <= 50000),
      |mupd AS (SELECT s.* FROM src s JOIN tgt t ON s.o_orderkey = t.o_orderkey),
      |mins AS (SELECT s.* FROM src s LEFT JOIN tgt t ON s.o_orderkey = t.o_orderkey
      |         WHERE t.o_orderkey IS NULL),
      |final AS (
      |  SELECT * FROM mupd UNION ALL SELECT * FROM mins UNION ALL SELECT * FROM bsupd),
      |cdc AS (
      |  SELECT 'update_postimage' AS change, price FROM mupd
      |  UNION ALL SELECT 'update_preimage', t.price FROM tgt t JOIN src s
      |    ON t.o_orderkey = s.o_orderkey
      |  UNION ALL SELECT 'insert', price FROM mins
      |  UNION ALL SELECT 'delete', price FROM bsdel
      |  UNION ALL SELECT 'update_preimage', price FROM absent WHERE price <= 50000
      |  UNION ALL SELECT 'update_postimage', price FROM bsupd)
      |SELECT 'table:' || o_orderstatus AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM final GROUP BY 1
      |UNION ALL
      |SELECT 'cdc:' || change, CAST(count(*) AS BIGINT), CAST(sum(price) AS DOUBLE)
      |FROM cdc GROUP BY 1
      |ORDER BY channel""".stripMargin

  /** lk22 — SQL COLUMN DDL statements end-to-end
    * ([[graft.plans.GraftSqlDml]] ALTER TABLE rewrites): ADD COLUMN
    * (metadata-only, null-filled for existing files), an INSERT that
    * populates the new column, RENAME COLUMN (logical mapping over
    * unchanged physical bytes), and ALTER COLUMN TYPE widening
    * (bigint → DECIMAL(20,0), old files promoted at scan time) — four
    * one-commit DDL statements whose combined effect one aggregate
    * hash pins. The oracle replays the evolution relationally. */
  private def lk22(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk22")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 7 === 0), "o_orderstatus")
    GraftSqlDml.exec(s, s"ALTER TABLE graft_txn.`$dir` ADD COLUMN note STRING")
    val view = s"lk22_ins_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    slice(col("o_orderkey") % 7 === 1)
      .withColumn("note", concat(lit("n"), pmod(col("o_orderkey"), lit(3)).cast("string")))
      .createOrReplaceTempView(view)
    try GraftSqlDml.exec(s, s"INSERT INTO graft_txn.`$dir` SELECT * FROM $view")
    finally s.catalog.dropTempView(view)
    GraftSqlDml.exec(s, s"ALTER TABLE graft_txn.`$dir` RENAME COLUMN note TO remark")
    GraftSqlDml.exec(s,
      s"ALTER TABLE graft_txn.`$dir` ALTER COLUMN o_orderkey TYPE DECIMAL(20,0)")
    TxnLake.read(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"),
        count(col("remark")).as("n_remark"),
        sum(col("o_orderkey")).cast("double").as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  private val lk22Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
      |    CASE WHEN o_orderkey % 7 = 1
      |         THEN 'n' || CAST(o_orderkey % 3 AS VARCHAR) END AS remark
      |  FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 7 = 1)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price,
      |  CAST(count(remark) AS BIGINT) AS n_remark,
      |  CAST(sum(o_orderkey) AS DOUBLE) AS sum_key
      |FROM base GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** lk23 — SQL MAINTENANCE statements
    * ([[graft.plans.GraftSqlDml.maintenance]]): `OPTIMIZE` (small-file
    * compaction as one atomic commit), `VACUUM ... RETAIN n VERSIONS`
    * (history retention) and `DESCRIBE HISTORY` (the log as a
    * relation) — the three statements a Delta-habituated user types
    * after MERGE/ALTER landed (lk20/lk22). The table is partitioned by
    * `o_orderkey % 3` so every SF fragments all three partitions
    * identically: create + three SQL INSERTs = 4 commits × 3
    * partitions, so OPTIMIZE must report 12 files before and 3
    * partitions rewritten at version 4, and after `VACUUM RETAIN 1
    * VERSIONS` the history must collapse to exactly that one version —
    * any surviving older version adds a `history:` row and breaks the
    * hash. Physical file counts after compaction are split-hash
    * dependent, so the SQL==API equivalence on those (and the ZORDER
    * form) is pinned in `GraftSqlDmlSpec`, not here. The oracle
    * replays the statement cascade relationally. */
  private def lk23(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk23")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 5 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "pt")
    for (k <- Seq(1L, 2L, 3L)) {
      val view = s"lk23_ins_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      slice(k).createOrReplaceTempView(view)
      try GraftSqlDml.exec(s, s"INSERT INTO graft_txn.`$dir` SELECT * FROM $view")
      finally s.catalog.dropTempView(view)
    }
    val opt = GraftSqlDml.exec(s, s"OPTIMIZE graft_txn.`$dir`").collect()(0)
    GraftSqlDml.exec(s, s"VACUUM graft_txn.`$dir` RETAIN 1 VERSIONS")
    val hist = GraftSqlDml.exec(s, s"DESCRIBE HISTORY graft_txn.`$dir`")
      .select(concat(lit("history:v"), col("version")).as("channel"),
        size(col("touched_partitions")).cast("long").as("n"),
        col("version").cast("double").as("sum_price"))
    import s.implicits._
    TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("pt")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .unionByName(hist)
      .unionByName(Seq(("optimize", opt.getLong(2))).toDF("channel", "n")
        .withColumn("sum_price", lit(opt.getLong(0).toDouble)))
      .orderBy(col("channel"))
  }

  private val lk23Sql =
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 3 AS VARCHAR) AS pt,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3)),
      |parts AS (SELECT CAST(count(DISTINCT pt) AS BIGINT) AS np FROM base)
      |SELECT 'table:' || pt AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM base GROUP BY 1
      |UNION ALL
      |SELECT 'history:v4', (SELECT np FROM parts), 4.0
      |UNION ALL
      |SELECT 'optimize', (SELECT np FROM parts),
      |  CAST(4 * (SELECT np FROM parts) AS DOUBLE)
      |ORDER BY channel""".stripMargin

  /** lk24 — SQL RESTORE statement
    * ([[graft.plans.GraftSqlDml.maintenance]] `RESTORE TABLE ... TO
    * VERSION AS OF n` -> [[graft.lake.TxnLake.restore]]): the
    * undo-a-bad-backfill statement. Two SQL INSERTs advance the table
    * to v2, RESTORE rolls it to v1 AS A FORWARD COMMIT (v3) — history
    * is never rewritten, so `DESCRIBE HISTORY` must still show all
    * four versions while the table reads as v1. One hash pins the
    * restored contents, the statement's (restored_to, new_version)
    * result, and the preserved history length. The oracle replays the
    * v1 state relationally; the version arithmetic is deterministic by
    * construction (create=0, two inserts, restore=3). */
  private def lk24(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk24")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 7 === k)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "o_orderstatus")
    for (k <- Seq(1L, 2L)) {
      val view = s"lk24_ins_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      slice(k).createOrReplaceTempView(view)
      try GraftSqlDml.exec(s, s"INSERT INTO graft_txn.`$dir` SELECT * FROM $view")
      finally s.catalog.dropTempView(view)
    }
    val r = GraftSqlDml.exec(s,
      s"RESTORE TABLE graft_txn.`$dir` TO VERSION AS OF 1").collect()(0)
    val nHist = GraftSqlDml.exec(s,
      s"DESCRIBE HISTORY graft_txn.`$dir`").count()
    import s.implicits._
    TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("o_orderstatus")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .unionByName(Seq(("restore", r.getLong(0), r.getLong(1).toDouble),
          ("history", nHist, Double.NaN))
        .toDF("channel", "n", "sum_price")
        .withColumn("sum_price",
          when(isnan(col("sum_price")), lit(null)).otherwise(col("sum_price"))))
      .orderBy(col("channel"))
  }

  private val lk24Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 7 IN (0, 1))
      |SELECT 'table:' || o_orderstatus AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM base GROUP BY 1
      |UNION ALL SELECT 'restore', 1, 3.0
      |UNION ALL SELECT 'history', 4, CAST(NULL AS DOUBLE)
      |ORDER BY channel""".stripMargin

  /** lk25 — SQL TRUNCATE TABLE ([[graft.lake.TxnLake.truncate]] via
    * the [[graft.plans.GraftSqlDml]] rewrite): ONE metadata-only
    * commit prunes the whole file list — O(1) on a 100 TB table where
    * a predicate delete would write deletion vectors over every file.
    * History: create, SQL TRUNCATE, SQL INSERT a different slice —
    * the final table must hold ONLY the post-truncate slice (any
    * pre-truncate survivor breaks the hash), history must show all
    * three commits, and the pre-truncate snapshot must still time-
    * travel (version 0 count rides in its own channel). The oracle
    * replays the surviving slice relationally; version arithmetic is
    * deterministic by construction. */
  private def lk25(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk25")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 7 === k)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "o_orderstatus")
    GraftSqlDml.exec(s, s"TRUNCATE TABLE graft_txn.`$dir`")
    val view = s"lk25_ins_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    slice(1).createOrReplaceTempView(view)
    try GraftSqlDml.exec(s, s"INSERT INTO graft_txn.`$dir` SELECT * FROM $view")
    finally s.catalog.dropTempView(view)
    val v0 = TxnLake.readVersion(s, dir, 0L).count()
    val nHist = GraftSqlDml.exec(s, s"DESCRIBE HISTORY graft_txn.`$dir`").count()
    import s.implicits._
    TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("o_orderstatus")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .unionByName(Seq(("v0_snapshot", v0), ("history", nHist))
        .toDF("channel", "n")
        .withColumn("sum_price", lit(null).cast("double")))
      .orderBy(col("channel"))
  }

  private val lk25Sql =
    """WITH s0 AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |s1 AS (
      |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 7 = 1)
      |SELECT 'table:' || o_orderstatus AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM s1 GROUP BY 1
      |UNION ALL SELECT 'v0_snapshot', (SELECT CAST(count(*) AS BIGINT) FROM s0),
      |  CAST(NULL AS DOUBLE)
      |UNION ALL SELECT 'history', 3, CAST(NULL AS DOUBLE)
      |ORDER BY channel""".stripMargin

  /** lk26 — SCOPED MAINTENANCE SQL: `OPTIMIZE ... WHERE <partition
    * predicate>` ([[graft.lake.TxnLake.optimize]]'s partition-scoped
    * form — Delta's shape: only matching partitions compact, decided
    * from the MANIFEST's distinct values, no data file opened) and
    * `VACUUM ... DRY RUN` ([[graft.lake.TxnLake.vacuumDryRun]] — the
    * sweep preview, mutating nothing). History: create + two appends
    * fragment all three `pt` partitions 3-deep; `OPTIMIZE WHERE
    * pt >= '1'` must rewrite EXACTLY partitions 1 and 2 (the
    * `optimize` channel pins partitions_rewritten = 2); the dry run
    * at RETAIN 1 must preview exactly the 3 droppable log records
    * while deleting nothing (the `history` channel still counts all
    * 4 versions afterwards). Per-partition aggregates prove the
    * scoped rewrite changed no data. All counts derive from the
    * commit cascade, not file-split accidents, so the oracle replays
    * them as constants. */
  private def lk26(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk26")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 5 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "pt")
    TxnLake.append(s, dir, slice(1))
    TxnLake.append(s, dir, slice(2))
    val opt = GraftSqlDml
      .exec(s, s"OPTIMIZE graft_txn.`$dir` WHERE pt >= '1'").collect()(0)
    val dryRecords = GraftSqlDml
      .exec(s, s"VACUUM graft_txn.`$dir` RETAIN 1 VERSIONS DRY RUN")
      .filter(col("kind") === "log_record").count()
    val nHist = GraftSqlDml.exec(s, s"DESCRIBE HISTORY graft_txn.`$dir`").count()
    import s.implicits._
    TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("pt")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .unionByName(Seq(
        ("optimize", opt.getLong(2)), ("dryrun_records", dryRecords),
        ("history", nHist)).toDF("channel", "n")
        .withColumn("sum_price", lit(null).cast("double")))
      .orderBy(col("channel"))
  }

  private val lk26Sql =
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 3 AS VARCHAR) AS pt,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 5 IN (0, 1, 2))
      |SELECT 'table:' || pt AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM base GROUP BY 1
      |UNION ALL SELECT 'optimize', 2, CAST(NULL AS DOUBLE)
      |UNION ALL SELECT 'dryrun_records', 3, CAST(NULL AS DOUBLE)
      |UNION ALL SELECT 'history', 4, CAST(NULL AS DOUBLE)
      |ORDER BY channel""".stripMargin

  /** lk27 — `table_changes` TVF ([[graft.plans.GraftSqlDml]]'s
    * rewrite of Delta CDF's SQL entry): the retained change rows of a
    * graft-txn table between two versions, as a RELATION. History:
    * create with the change feed on (v0 inserts), SQL INSERT a second
    * slice (v1 inserts), SQL DELETE a keyed stripe (v2 delete
    * pre-images, which must carry the full deleted rows — their
    * price sum is the channel payload). The query aggregates the feed
    * per (change type, version) FROM VERSION 1, so the v0 bulk load
    * stays out; the oracle replays the same slices relationally.
    * Version numbers are deterministic by construction. */
  private def lk27(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk27")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 6 === k)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "o_orderstatus", changeFeed = true)
    val view = s"lk27_ins_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    slice(1).createOrReplaceTempView(view)
    try GraftSqlDml.exec(s, s"INSERT INTO graft_txn.`$dir` SELECT * FROM $view")
    finally s.catalog.dropTempView(view)
    GraftSqlDml.exec(s,
      s"DELETE FROM graft_txn.`$dir` WHERE o_orderkey % 5 = 2")
    GraftSqlDml.sql(s,
      s"""SELECT _change_type || ':v' || CAST(_commit_version AS STRING) AS channel,
         |  count(*) AS n, CAST(sum(price) AS DOUBLE) AS sum_price
         |FROM table_changes('$dir', 1)
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  private val lk27Sql =
    """WITH s0 AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 6 = 0),
      |s1 AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 6 = 1),
      |deleted AS (
      |  SELECT * FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
      |  WHERE o_orderkey % 5 = 2)
      |SELECT 'insert:v1' AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price FROM s1
      |UNION ALL
      |SELECT 'delete:v2', CAST(count(*) AS BIGINT), CAST(sum(price) AS DOUBLE)
      |FROM deleted
      |ORDER BY channel""".stripMargin

  /** lk28 — `SHOW TBLPROPERTIES` as a driver-checked relation
    * ([[graft.plans.GraftSqlDmlSpec]] pinned it; this registers it for
    * the oracle): the table's graft-level properties as (key, value)
    * rows, Delta's `delta.*` discipline — partition column, the
    * zone-map stats set (primary statsCol + the additive
    * setStatsColumns set), the change-feed flag, and one
    * `graft.generatedColumns.<col>` row per generated column with its
    * expression. Metadata-only: manifest + marker files, zero data
    * reads. The table is created with EVERY property populated so each
    * row is exercised; a `data.rowCount` channel (the metadata-only
    * [[graft.lake.TxnLake.rowCount]]) ties the result to the table's
    * real SF-dependent cardinality, so the hash comparison is not
    * vacuously constant. */
  private def lk28(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk28")
      .resolve("orders_lake").toString
    val slice = orders(s, d).filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(4)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice, "pt", statsCol = Some("price"),
      changeFeed = true, statsCols = Seq("o_orderkey"),
      generatedCols = Map("okey_mod" -> "pmod(o_orderkey, 7)"))
    import s.implicits._
    val n = TxnLake.rowCount(s, dir)
      .getOrElse(sys.error("fresh table must track row counts"))
    GraftSqlDml.exec(s, s"SHOW TBLPROPERTIES graft_txn.`$dir`")
      .unionByName(Seq(("data.rowCount", n.toString)).toDF("key", "value"))
      .orderBy(col("key"))
  }

  private val lk28Sql =
    """WITH base AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 0)
      |SELECT 'data.rowCount' AS "key", CAST(count(*) AS VARCHAR) AS "value"
      |FROM base
      |UNION ALL SELECT 'graft.changeFeed', 'true'
      |UNION ALL SELECT 'graft.generatedColumns.okey_mod', 'pmod(o_orderkey, 7)'
      |UNION ALL SELECT 'graft.partitionColumn', 'pt'
      |UNION ALL SELECT 'graft.statsColumns', 'price,o_orderkey'
      |ORDER BY "key"""".stripMargin

  /** lk29 — OPTIMISTIC-CONCURRENCY CONTENTION end-to-end: interleaved
    * read-modify-write writers driven through
    * [[graft.lake.TxnLake.deleteWhere]]'s contention seam, so the
    * schedule is DETERMINISTIC instead of thread-timing luck. Writer A
    * stages a DV delete on partition 0; inside its commit window
    * writer B deletes on partition 1 and commits first — A's OCC check
    * proves B touched disjoint partitions and left A's files intact,
    * and REBASES (both deletes land, no re-run). Writer C stages on
    * partition 2; the interleaved writer D also hits partition 2 and
    * commits first — C must ABORT with
    * `ConcurrentModificationException`, its staged sidecar dropped:
    * neither writer's intent is silently lost or doubly applied. The
    * oracle replays the serialized schedule (A, B, D applied; C not)
    * relationally; channels pin the rebased delete count, the abort,
    * and the 4-version history (create, B, rebased A, D). */
  private def lk29(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk29")
      .resolve("orders_lake").toString
    val slice = orders(s, d).filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice, "pt") // v0
    val delA = TxnLake.deleteWhere(s, dir,
      col("pt") === "0" && col("o_orderkey") % 2 === 0,
      () => { // B commits v1 inside A's window; A rebases to v2
        TxnLake.deleteWhere(s, dir,
          col("pt") === "1" && col("o_orderkey") % 2 === 0); ()
      })
    val aborted =
      try {
        TxnLake.deleteWhere(s, dir,
          col("pt") === "2" && col("o_orderkey") % 2 === 1,
          () => { // D commits v3 on the SAME partition; C must abort
            TxnLake.deleteWhere(s, dir,
              col("pt") === "2" && col("o_orderkey") % 2 === 0); ()
          })
        0L
      } catch { case _: java.util.ConcurrentModificationException => 1L }
    val nHist = TxnLake.history(s, dir).count()
    import s.implicits._
    TxnLake.read(s, dir)
      .groupBy(concat(lit("table:"), col("pt")).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .unionByName(Seq(
        ("rebased_deleted", delA), ("aborted", aborted), ("history", nHist))
        .toDF("channel", "n")
        .withColumn("sum_price", lit(null).cast("double")))
      .orderBy(col("channel"))
  }

  private val lk29Sql =
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 3 AS VARCHAR) AS pt,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |live AS (
      |  SELECT * FROM base
      |  WHERE NOT (pt = '0' AND o_orderkey % 2 = 0)
      |    AND NOT (pt = '1' AND o_orderkey % 2 = 0)
      |    AND NOT (pt = '2' AND o_orderkey % 2 = 0))
      |SELECT 'table:' || pt AS channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM live GROUP BY 1
      |UNION ALL SELECT 'rebased_deleted',
      |  (SELECT count(*) FROM base WHERE pt = '0' AND o_orderkey % 2 = 0),
      |  CAST(NULL AS DOUBLE)
      |UNION ALL SELECT 'aborted', 1, CAST(NULL AS DOUBLE)
      |UNION ALL SELECT 'history', 4, CAST(NULL AS DOUBLE)
      |ORDER BY channel""".stripMargin

  /** lk30 — `SHOW PARTITIONS` as a driver-checked relation
    * ([[graft.lake.TxnLake.partitions]]): the manifest's live
    * partition values with per-partition file and row counts —
    * metadata the manifest already holds as a partition index, served
    * with one log resolve and zero data files (Delta refuses SHOW
    * PARTITIONS; a 100 TB table's layout question should not need a
    * scan). History: create + one append fragment each of the three
    * `pt` partitions 2-deep, so n_files pins the commit cascade
    * (deterministic — staging writes one file per partition per
    * commit) and n_rows is the SF-dependent exact footer sum. */
  private def lk30(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk30")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 10 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "pt")
    TxnLake.append(s, dir, slice(1))
    GraftSqlDml.exec(s, s"SHOW PARTITIONS graft_txn.`$dir`")
      .orderBy(col("partition"))
  }

  private val lk30Sql =
    """WITH base AS (
      |  SELECT CAST(o_orderkey % 3 AS VARCHAR) AS pt
      |  FROM orders WHERE o_orderkey % 10 IN (0, 1))
      |SELECT pt AS partition, CAST(2 AS BIGINT) AS n_files,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM base GROUP BY pt
      |ORDER BY partition""".stripMargin

  /** lk31 — `ALTER TABLE ... SET TBLPROPERTIES` end-to-end: the
    * property round-trip lk28's SHOW reads back. A table born with no
    * feed and no stats tracking gains BOTH mid-life through one SQL
    * statement — `graft.changeFeed` enables commit-time change capture
    * from the NEXT commit (Delta's enableChangeDataFeed contract) and
    * `graft.statsColumns` re-points zone-map tracking — then a third
    * slice lands and the query proves the flip took: the
    * `data.changesSinceEnable` channel counts exactly that commit's
    * feed rows through the `table_changes` TVF, the property rows
    * read back through SHOW TBLPROPERTIES, and the metadata-only
    * rowCount ties the result to the table's real cardinality. */
  private def lk31(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk31")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 12 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "pt") // v0: no feed, no stats
    TxnLake.append(s, dir, slice(1))       // v1: pre-property
    GraftSqlDml.exec(s, s"ALTER TABLE graft_txn.`$dir` SET TBLPROPERTIES (" +
      "'graft.statsColumns' = 'price', 'graft.changeFeed' = 'true')")
    TxnLake.append(s, dir, slice(2))       // v2: feed + price bounds ON
    val n = TxnLake.rowCount(s, dir)
      .getOrElse(sys.error("fresh table must track row counts"))
    val changes = GraftSqlDml.sql(s,
      s"SELECT count(*) AS n FROM table_changes('$dir', 2)").head().getLong(0)
    import s.implicits._
    GraftSqlDml.exec(s, s"SHOW TBLPROPERTIES graft_txn.`$dir`")
      .unionByName(Seq(
        ("data.changesSinceEnable", changes.toString),
        ("data.rowCount", n.toString)).toDF("key", "value"))
      .orderBy(col("key"))
  }

  private val lk31Sql =
    """WITH s2 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 12 = 2),
      |base AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 12 IN (0, 1, 2))
      |SELECT 'data.changesSinceEnable' AS "key",
      |  CAST(count(*) AS VARCHAR) AS "value" FROM s2
      |UNION ALL SELECT 'data.rowCount',
      |  (SELECT CAST(count(*) AS VARCHAR) FROM base)
      |UNION ALL SELECT 'graft.changeFeed', 'true'
      |UNION ALL SELECT 'graft.partitionColumn', 'pt'
      |UNION ALL SELECT 'graft.statsColumns', 'price'
      |ORDER BY "key"""".stripMargin

  /** lk32 — CHECK CONSTRAINTS end-to-end ([[graft.lake.TxnLake
    * .addCheckConstraint]] + the `ALTER TABLE ... ADD CONSTRAINT ...
    * CHECK` statement, Delta parity): declare `price > 0` over a clean
    * table, append a clean slice under it, then attempt a batch whose
    * every price is negated — the write job ABORTS on the first
    * violating row and NOTHING commits (the `post_reject` channel must
    * equal `clean`); DROP CONSTRAINT lifts the gate and the same batch
    * lands (`final`). The constraint surfaces through SHOW
    * TBLPROPERTIES mid-life (asserted in-query). Enforcement is
    * embedded in the staged projection itself (no extra validation
    * pass — raise_error inside the write), so the gate costs zero
    * additional jobs at any scale. */
  private def lk32(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk32")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 10 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "pt")
    GraftSqlDml.exec(s,
      s"ALTER TABLE graft_txn.`$dir` ADD CONSTRAINT price_pos CHECK (price > 0)")
    TxnLake.append(s, dir, slice(1)) // clean: every price positive
    val shown = GraftSqlDml.exec(s, s"SHOW TBLPROPERTIES graft_txn.`$dir`")
      .filter(col("key") === "graft.constraints.price_pos")
      .head().getString(1)
    require(shown == "price > 0", s"SHOW must surface the constraint, got '$shown'")
    val bad = slice(2).withColumn("price", -col("price"))
    val rejected =
      try { TxnLake.append(s, dir, bad); 0L }
      catch { case _: Throwable => 1L }
    def agg(tag: String) = TxnLake.read(s, dir)
      .groupBy(lit(tag).as("channel"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
    val postReject = agg("post_reject")
    GraftSqlDml.exec(s, s"ALTER TABLE graft_txn.`$dir` DROP CONSTRAINT price_pos")
    TxnLake.append(s, dir, bad) // gate lifted: the same batch lands
    import s.implicits._
    postReject
      .unionByName(agg("final"))
      .unionByName(Seq(("rejected", rejected, 0.0d))
        .toDF("channel", "n", "sum_price"))
      .orderBy(col("channel"))
  }

  private val lk32Sql =
    """WITH clean AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 10 IN (0, 1)),
      |bad AS (
      |  SELECT o_orderkey, -CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 10 = 2)
      |SELECT 'final' AS channel,
      |  (SELECT CAST(count(*) AS BIGINT) FROM clean) +
      |    (SELECT CAST(count(*) AS BIGINT) FROM bad) AS n,
      |  CAST((SELECT coalesce(sum(price), 0) FROM clean) +
      |    (SELECT coalesce(sum(price), 0) FROM bad) AS DOUBLE) AS sum_price
      |UNION ALL
      |SELECT 'post_reject', (SELECT CAST(count(*) AS BIGINT) FROM clean),
      |  CAST((SELECT sum(price) FROM clean) AS DOUBLE)
      |UNION ALL
      |SELECT 'rejected',
      |  CASE WHEN (SELECT count(*) FROM bad) > 0 THEN 1 ELSE 0 END,
      |  CAST(0 AS DOUBLE)
      |ORDER BY channel""".stripMargin

  /** lk33 — COPY INTO end-to-end ([[graft.lake.TxnLake.copyInto]] +
    * the SQL statement, Delta parity): three source parquet files land
    * over three loads — the first loads two, a verbatim re-run loads
    * ZERO (the per-file ledger rides the commit record and folds
    * through checkpoints), and after a third file arrives only IT
    * loads. Channels carry (files_loaded, files_skipped) from the
    * statement's own stats row plus the table count after each load;
    * `final` checks the table's contents relationally. At 100 TB the
    * cost of a re-run is one source LISTING — no data read, no table
    * scan (the ledger lives in the O(1)-resolved manifest). */
  private def lk33(s: SparkSession, d: String): DataFrame = {
    import graft.plans.GraftSqlDml
    val root = java.nio.file.Files.createTempDirectory("graft_lk33")
    val dir = root.resolve("orders_lake").toString
    val src = root.resolve("src").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 11 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    graft.lake.TxnLake.create(s, dir, slice(0), "pt")
    slice(1).coalesce(1).write.parquet(s"$src/f1")
    slice(2).coalesce(1).write.parquet(s"$src/f2")
    def copy(): org.apache.spark.sql.Row = GraftSqlDml.exec(s,
      s"COPY INTO graft_txn.`$dir` FROM '$src' FILEFORMAT = PARQUET " +
        "PATTERN = '*/*.parquet'").head()
    def channel(tag: String, st: org.apache.spark.sql.Row): DataFrame = {
      import s.implicits._
      Seq((tag, st.getLong(0), st.getLong(2),
        graft.lake.TxnLake.read(s, dir).count()))
        .toDF("channel", "files_loaded", "files_skipped", "n")
    }
    val c1 = channel("load1", copy())
    val c2 = channel("load2", copy()) // verbatim re-run: loads nothing
    slice(3).coalesce(1).write.parquet(s"$src/f3")
    val c3 = channel("load3", copy()) // only the new file
    val fin = graft.lake.TxnLake.read(s, dir)
      .groupBy(lit("final").as("channel"))
      // files_skipped is overloaded to carry the exact cent total (an
      // integral value — no decimal->long truncation ambiguity)
      .agg((sum(col("price")) * 100).cast("long").as("files_skipped"),
        count(lit(1)).as("n"))
    c1.unionByName(c2).unionByName(c3)
      .unionByName(fin.select(col("channel"),
        lit(-1L).as("files_loaded"), col("files_skipped"), col("n")))
      .orderBy(col("channel"))
  }

  private val lk33Sql =
    """WITH s0 AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |s1 AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 11 = 1),
      |s2 AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 11 = 2),
      |s3 AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 11 = 3),
      |cnt AS (SELECT
      |  (SELECT count(*) FROM s0) AS n0, (SELECT count(*) FROM s1) AS n1,
      |  (SELECT count(*) FROM s2) AS n2, (SELECT count(*) FROM s3) AS n3)
      |SELECT 'final' AS channel, CAST(-1 AS BIGINT) AS files_loaded,
      |  CAST((SELECT sum(price) * 100 FROM (SELECT price FROM s0 UNION ALL
      |    SELECT price FROM s1 UNION ALL SELECT price FROM s2
      |    UNION ALL SELECT price FROM s3)) AS BIGINT) AS files_skipped,
      |  CAST(n0 + n1 + n2 + n3 AS BIGINT) AS n FROM cnt
      |UNION ALL
      |SELECT 'load1', 2, 0, CAST(n0 + n1 + n2 AS BIGINT) FROM cnt
      |UNION ALL
      |SELECT 'load2', 0, 2, CAST(n0 + n1 + n2 AS BIGINT) FROM cnt
      |UNION ALL
      |SELECT 'load3', 1, 2, CAST(n0 + n1 + n2 + n3 AS BIGINT) FROM cnt
      |ORDER BY channel""".stripMargin

  /** lk34 — COLUMN DEFAULT VALUES end-to-end ([[graft.lake.TxnLake
    * .setColumnDefault]] + `ALTER COLUMN SET DEFAULT`, Delta parity):
    * a table grows a `source` column whose DEFAULT fills every later
    * write that omits it — an append from an older pipeline lands as
    * 'bulk', a supplied value wins ('api'), re-pointing the default
    * flips later fills to 'stream', and rows written BEFORE the column
    * existed stay NULL (column adds are metadata-only; `ADD COLUMN ...
    * DEFAULT` is refused outright, Delta's rule, because those NULLs
    * would diverge from the ANSI existing-rows-take-the-default
    * promise). Write-time fill is one projection column: zero extra
    * jobs at any scale. */
  private def lk34(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk34")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 13 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "pt") // pre-default rows: source NULL
    GraftSqlDml.exec(s,
      s"ALTER TABLE graft_txn.`$dir` ADD COLUMN source STRING")
    GraftSqlDml.exec(s,
      s"ALTER TABLE graft_txn.`$dir` ALTER COLUMN source SET DEFAULT 'bulk'")
    TxnLake.append(s, dir, slice(1)) // omits source -> 'bulk'
    TxnLake.append(s, dir, slice(2).withColumn("source", lit("api")))
    GraftSqlDml.exec(s,
      s"ALTER TABLE graft_txn.`$dir` ALTER COLUMN source SET DEFAULT 'stream'")
    TxnLake.append(s, dir, slice(3)) // omits source -> 'stream'
    TxnLake.read(s, dir)
      .groupBy(coalesce(col("source"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n"),
        (sum(col("price")) * 100).cast("long").as("cents"))
      .orderBy(col("channel"))
  }

  private val lk34Sql =
    """WITH base AS (
      |  SELECT o_orderkey % 13 AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 13 IN (0, 1, 2, 3)),
      |tagged AS (
      |  SELECT CASE k WHEN 0 THEN 'legacy' WHEN 1 THEN 'bulk'
      |    WHEN 2 THEN 'api' ELSE 'stream' END AS channel, price
      |  FROM base)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) * 100 AS BIGINT) AS cents
      |FROM tagged GROUP BY channel
      |ORDER BY channel""".stripMargin

  /** lk35 — IDENTITY COLUMNS end-to-end ([[graft.lake.TxnLake
    * .setIdentityColumn]], Delta's GENERATED ALWAYS AS IDENTITY): two
    * appends that never supply `uid` get engine-assigned BIGINTs —
    * unique across both commits, at-or-above START, and the second
    * commit's ids all above the first's max (the watermark advanced
    * through the commit record). Values themselves are allocation-
    * dependent (gaps are the contract), so the oracle checks the
    * INVARIANTS as flags plus exact row counts. Allocation is one
    * map-side projection per append — no extra job, no shuffle, no
    * sequence bottleneck at any scale; concurrent allocations are
    * OCC-arbitrated (spec-pinned). */
  private def lk35(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk35")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 14 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"))
    import s.implicits._
    TxnLake.create(s, dir,
      Seq.empty[(Long, Long, String)].toDF("uid", "o_orderkey", "pt"), "pt")
    TxnLake.setIdentityColumn(s, dir, "uid", start = 1000L, step = 2L)
    TxnLake.append(s, dir, slice(0)) // -> version 1
    TxnLake.append(s, dir, slice(1)) // -> version 2
    // every invariant is RELATIONAL — batch membership via time travel
    // (version 1 = batch 1; head minus v1 counts = batch 2), uniqueness
    // as count vs distinct-count, batch separation as "rows above
    // batch-1's max", step alignment as a modular aggregate. No uid
    // ever reaches the driver: at 100 TB this is two aggregate jobs
    // over one BIGINT column, not a 2-billion-long collect.
    val v1u = TxnLake.readVersion(s, dir, 1).select(col("uid"))
    val a1 = v1u.agg(
      count(lit(1)).as("n1"), count_distinct(col("uid")).as("d1"),
      max(col("uid")).as("max1"), min(col("uid")).as("min1"))
    val agg = TxnLake.read(s, dir).select(col("uid"))
      .crossJoin(broadcast(a1)) // 1-row build side
      .agg(
        count(lit(1)).as("n_all"),
        count_distinct(col("uid")).as("d_all"),
        sum(when((col("uid") - 1000L) % 2L === 0L, 0L).otherwise(1L)).as("mis"),
        sum(when(col("uid") > col("max1"), 1L).otherwise(0L)).as("above"),
        first(col("n1")).as("n1"), first(col("d1")).as("d1"),
        first(col("min1")).as("min1"))
    def f(b: Column) = when(b, 1L).otherwise(0L)
    agg.select(lit("batch1").as("channel"), col("n1").as("n"),
        f(col("d1") === col("n1")).as("unique_ok"),
        f(col("n1") === 0L || col("min1") >= 1000L).as("order_ok"))
      .unionByName(agg.select(lit("batch2").as("channel"),
        (col("n_all") - col("n1")).as("n"),
        f(col("d_all") === col("n_all")).as("unique_ok"),
        f(col("n1") === 0L ||
          col("above") === col("n_all") - col("n1")).as("order_ok")))
      .unionByName(agg.select(lit("step").as("channel"), col("n_all").as("n"),
        f(col("mis") === 0L).as("unique_ok"), lit(1L).as("order_ok")))
      .orderBy(col("channel"))
  }

  /** lk36 — NOT NULL COLUMN CONSTRAINTS end-to-end
    * ([[graft.lake.TxnLake.setNotNull]] + `ALTER TABLE ... ALTER
    * COLUMN ... SET/DROP NOT NULL`, Delta's second constraint family):
    * declare NOT NULL on a clean column (retroactive validation
    * passes), append a clean slice under the gate, then attempt a
    * batch holding NULLs — the write job ABORTS on the first NULL row
    * and NOTHING commits (`post_reject` equals the clean prefix);
    * DROP NOT NULL lifts the gate and the same batch lands (`final`,
    * whose `n_price` counts only non-NULL values). The constraint
    * surfaces through SHOW TBLPROPERTIES as a reserved-name CHECK
    * (`graft_not_null_price`), which is exactly how it is enforced —
    * raise_error inside the staged projection, zero extra jobs or
    * passes at any scale. */
  private def lk36(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_lk36")
      .resolve("orders_lake").toString
    def slice(k: Long) = orders(s, d).filter(col("o_orderkey") % 12 === k)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(0), "pt")
    GraftSqlDml.exec(s,
      s"ALTER TABLE graft_txn.`$dir` ALTER COLUMN price SET NOT NULL")
    TxnLake.append(s, dir, slice(1)) // clean: no NULLs
    val shown = GraftSqlDml.exec(s, s"SHOW TBLPROPERTIES graft_txn.`$dir`")
      .filter(col("key") === "graft.constraints.graft_not_null_price")
      .head().getString(1)
    require(shown == "`price` IS NOT NULL",
      s"SHOW must surface the NOT NULL constraint, got '$shown'")
    val bad = slice(2).withColumn("price",
      when(col("o_orderkey") % 24 === 2, lit(null))
        .otherwise(col("price")).cast("decimal(12,2)"))
    val rejected =
      try { TxnLake.append(s, dir, bad); 0L }
      catch { case _: Throwable => 1L }
    def agg(tag: String) = TxnLake.read(s, dir)
      .groupBy(lit(tag).as("channel"))
      .agg(count(lit(1)).as("n"), count(col("price")).as("n_price"))
    val postReject = agg("post_reject")
    GraftSqlDml.exec(s,
      s"ALTER TABLE graft_txn.`$dir` ALTER COLUMN price DROP NOT NULL")
    TxnLake.append(s, dir, bad) // gate lifted: NULLs land
    import s.implicits._
    postReject
      .unionByName(agg("final"))
      .unionByName(Seq(("rejected", rejected, 0L))
        .toDF("channel", "n", "n_price"))
      .orderBy(col("channel"))
  }

  /** lk37 — MERGE SCHEMA EVOLUTION mid-stream ([[graft.lake.TxnLake
    * .upsert]]/[[graft.lake.TxnLake.stageMerge]] evolution seam +
    * Delta's `withSchemaEvolution` gate): a CDC upsert feed grows a
    * column upstream. Batch 1 arrives with the table's 3 columns;
    * batch 2 carries a NEW `channel` column plus updates (price bump
    * on matched keys) and inserts in the same frame — the merge ADDS
    * the column (one metadata commit, no rewrite of untouched files),
    * old rows read back NULL-filled, and post-images/inserts carry the
    * value. A second source growing yet another column under
    * `schemaEvolution = false` is REFUSED loudly (the strict Delta
    * default — `rejected` pins the gate), never silently dropped. At
    * 100 TB this is the difference between a metadata commit and a
    * full-table rewrite when an upstream producer adds a field. */
  private def lk37(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk37")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(3)).cast("string").as("pt"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    val k = col("o_orderkey")
    TxnLake.create(s, dir, slice(k % 10 === 0), "pt")               // v0
    TxnLake.upsert(s, dir, slice(k % 10 === 5), "o_orderkey")       // batch 1
    // batch 2: the feed grew `channel` — updates (matched keys, price
    // +10) and inserts ride ONE frame with the new column
    val batch2 = slice(k % 20 === 0)
      .withColumn("price", (col("price") + 10).cast("decimal(12,2)"))
      .unionByName(slice(k % 10 === 7))
      .withColumn("channel", lit("cdc"))
    TxnLake.upsert(s, dir, batch2, "o_orderkey")
    require(TxnLake.read(s, dir).columns.contains("channel"),
      "merge must have evolved the schema with the grown column")
    // strict mode: another grown column is refused, not dropped
    val rejected =
      try {
        TxnLake.upsert(s, dir,
          batch2.limit(1).withColumn("extra", lit(1)), "o_orderkey",
          schemaEvolution = false)
        0L
      } catch { case _: IllegalArgumentException => 1L }
    import s.implicits._
    TxnLake.read(s, dir)
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"))
      .unionByName(Seq(("rejected", rejected, 0.0))
        .toDF("channel", "n", "sum_price"))
      .orderBy(col("channel"))
  }

  private val lk37Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders),
      |rows AS (
      |  SELECT k, price, NULL AS channel FROM base
      |  WHERE k % 10 = 0 AND k % 20 <> 0
      |  UNION ALL SELECT k, CAST(price + 10 AS DECIMAL(12,2)), 'cdc'
      |  FROM base WHERE k % 20 = 0
      |  UNION ALL SELECT k, price, NULL FROM base WHERE k % 10 = 5
      |  UNION ALL SELECT k, price, 'cdc' FROM base WHERE k % 10 = 7)
      |SELECT coalesce(channel, 'none') AS channel,
      |  CAST(count(*) AS BIGINT) AS n, CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM rows GROUP BY 1
      |UNION ALL SELECT 'rejected', CAST(1 AS BIGINT), CAST(0 AS DOUBLE)
      |ORDER BY channel""".stripMargin

  private val lk36Sql =
    """WITH clean AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 12 IN (0, 1)),
      |bad AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 24 = 2 THEN NULL
      |         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      |  FROM orders WHERE o_orderkey % 12 = 2)
      |SELECT 'final' AS channel,
      |  (SELECT CAST(count(*) AS BIGINT) FROM clean) +
      |    (SELECT CAST(count(*) AS BIGINT) FROM bad) AS n,
      |  (SELECT CAST(count(*) AS BIGINT) FROM clean) +
      |    (SELECT CAST(count(price) AS BIGINT) FROM bad) AS n_price
      |UNION ALL
      |SELECT 'post_reject', (SELECT CAST(count(*) AS BIGINT) FROM clean),
      |  (SELECT CAST(count(*) AS BIGINT) FROM clean)
      |UNION ALL
      |SELECT 'rejected',
      |  CASE WHEN (SELECT count(*) FROM bad WHERE price IS NULL) > 0
      |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
      |  CAST(0 AS BIGINT)
      |ORDER BY channel""".stripMargin

  private val lk35Sql =
    """WITH s0 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 14 = 0),
      |s1 AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 14 = 1)
      |SELECT 'batch1' AS channel, CAST((SELECT n FROM s0) AS BIGINT) AS n,
      |  CAST(1 AS BIGINT) AS unique_ok, CAST(1 AS BIGINT) AS order_ok
      |UNION ALL
      |SELECT 'batch2', CAST((SELECT n FROM s1) AS BIGINT), 1, 1
      |UNION ALL
      |SELECT 'step',
      |  CAST((SELECT n FROM s0) + (SELECT n FROM s1) AS BIGINT), 1, 1
      |ORDER BY channel""".stripMargin

  /** zq09 — SQL TIME TRAVEL as a RELATION
    * ([[graft.plans.GraftSqlDml.rewriteTimeTravel]], the injectParser
    * path): `VERSION AS OF` snapshots of the same `graft-txn` table
    * composed inside ONE statement — two pinned versions, the current
    * head, and an anti-join of a past snapshot against the head that
    * recovers exactly the deleted rows (the audit query time travel
    * exists for). All four channels resolve through
    * [[graft.lake.TxnLake.readVersion]], so version binding, DV
    * subtraction and retention semantics are the engine's own. The
    * oracle replays the three commits relationally. */
  private def zq09(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import graft.plans.GraftSqlDml
    val dir = java.nio.file.Files.createTempDirectory("graft_zq09")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 9 === 0), "o_orderstatus")
    TxnLake.append(s, dir, slice(col("o_orderkey") % 9 === 3))
    TxnLake.deleteWhere(s, dir, col("price") > 150000)
    GraftSqlDml.sql(s,
      s"""WITH v0 AS (SELECT * FROM graft_txn.`$dir` VERSION AS OF 0),
         |v1 AS (SELECT * FROM graft_txn.`$dir` VERSION AS OF 1),
         |cur AS (SELECT * FROM graft_txn.`$dir`),
         |gone AS (SELECT o.* FROM v1 o
         |         LEFT ANTI JOIN cur c ON o.o_orderkey = c.o_orderkey)
         |SELECT 'gone' AS snap, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(price) AS DOUBLE) AS sum_price FROM gone
         |UNION ALL SELECT 'head', CAST(count(*) AS BIGINT),
         |       CAST(sum(price) AS DOUBLE) FROM cur
         |UNION ALL SELECT 'v0', CAST(count(*) AS BIGINT),
         |       CAST(sum(price) AS DOUBLE) FROM v0
         |UNION ALL SELECT 'v1', CAST(count(*) AS BIGINT),
         |       CAST(sum(price) AS DOUBLE) FROM v1
         |ORDER BY snap""".stripMargin)
  }

  private val zq09Sql =
    """WITH v0 AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 9 = 0),
      |v1 AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey % 9 = 0 OR o_orderkey % 9 = 3),
      |cur AS (SELECT * FROM v1 WHERE price <= 150000),
      |gone AS (SELECT * FROM v1 WHERE price > 150000)
      |SELECT 'gone' AS snap, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(price) AS DOUBLE) AS sum_price FROM gone
      |UNION ALL SELECT 'head', CAST(count(*) AS BIGINT),
      |       CAST(sum(price) AS DOUBLE) FROM cur
      |UNION ALL SELECT 'v0', CAST(count(*) AS BIGINT),
      |       CAST(sum(price) AS DOUBLE) FROM v0
      |UNION ALL SELECT 'v1', CAST(count(*) AS BIGINT),
      |       CAST(sum(price) AS DOUBLE) FROM v1
      |ORDER BY snap""".stripMargin

  /** zq10 — GENERATED-COLUMN PARTITION PRUNING
    * ([[graft.lake.GeneratedPartitionPruning]], Delta's
    * OptimizeGeneratedColumn parity): the table partitions on an
    * ENGINE-GENERATED month bucket of `o_orderdate`, and the query
    * filters ONLY on the source date column — 31 day literals, never
    * mentioning `o_month`. The optimizer derives the implied
    * `o_month IN ('1995-03')` by constant-folding the stored generated
    * expression at each literal (asserted in-query on the optimized
    * plan), so manifest partition pruning fires exactly as if the user
    * had filtered the bucket — at 100 TB, one partition scanned
    * instead of all of them. The oracle recomputes the month's
    * aggregate relationally; a hash match proves derivation dropped
    * and added nothing. */
  private def zq10(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq10")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"), col("o_orderdate"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 9 === 0), "o_month",
      generatedCols = Map(
        "o_month" -> "substring(cast(o_orderdate as string), 1, 7)"))
    TxnLake.append(s, dir, slice(col("o_orderkey") % 9 === 4))
    val days = (1 to 31).map(i => java.sql.Date.valueOf(f"1995-03-$i%02d"))
    val q = s.read.format("graft-txn").load(dir)
      .filter(col("o_orderdate").isin(days: _*))
    // the derivation must actually fire: a FILTER CONDITION (not merely
    // the relation's output, which always lists the column) must
    // reference the generated partition column the query never named
    require(q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.exists(_.references.exists(_.name.equalsIgnoreCase("o_month"))),
      "generated-partition derivation must add an o_month conjunct")
    q.groupBy(col("o_orderdate"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .orderBy(col("o_orderdate"))
  }

  /** zq11 — MONOTONIC RANGE DERIVATION through a generated partition
    * (zq10's sibling; [[graft.lake.GeneratedPartitionPruning]] range
    * path, Delta OptimizeGeneratedColumn full parity): the table
    * partitions on the engine-generated month bucket and the query is
    * a plain `o_orderdate BETWEEN` straddling a month boundary — no
    * day-literal enumeration, no mention of `o_month`. Because the
    * stored expression (`substring(cast(date as string),1,7)`) is in
    * the non-decreasing whitelist, the optimizer derives
    * `o_month BETWEEN '1995-02' AND '1995-03'` and manifest pruning
    * skips every other month's files (asserted in-query on the
    * optimized plan). At 100 TB this is the dominant query shape on a
    * time-partitioned table — ranges, not day lists. */
  private def zq11(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq11")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"), col("o_orderdate"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 9 === 0), "o_month",
      generatedCols = Map(
        "o_month" -> "substring(cast(o_orderdate as string), 1, 7)"))
    TxnLake.append(s, dir, slice(col("o_orderkey") % 9 === 4))
    val q = s.read.format("graft-txn").load(dir)
      .filter(col("o_orderdate").between(
        java.sql.Date.valueOf("1995-02-10"), java.sql.Date.valueOf("1995-03-20")))
    require(q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.exists(_.references.exists(_.name.equalsIgnoreCase("o_month"))),
      "monotonic range derivation must add o_month bounds the query never named")
    q.groupBy(substring(col("o_orderdate").cast("string"), 1, 7).as("month"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .orderBy(col("month"))
  }

  private val zq11Sql =
    """SELECT substring(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE (o_orderkey % 9 = 0 OR o_orderkey % 9 = 4)
      |  AND o_orderdate >= DATE '1995-02-10' AND o_orderdate <= DATE '1995-03-20'
      |GROUP BY 1
      |ORDER BY month""".stripMargin

  private val zq10Sql =
    """SELECT o_orderdate, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE (o_orderkey % 9 = 0 OR o_orderkey % 9 = 4)
      |  AND o_orderdate >= DATE '1995-03-01' AND o_orderdate <= DATE '1995-03-31'
      |GROUP BY o_orderdate
      |ORDER BY o_orderdate""".stripMargin

  /** zq04 — manifest BLOOM file index: equality skipping on a
    * high-cardinality UNSORTED string column, where zone maps (which
    * need min/max order) are useless. The table tracks a per-file
    * 1024-bit/k=4 Bloom of the order-date string in its commit
    * manifest; the `graft-txn` scan tests equality literals against it
    * at planning time and opens only files that might hold the value
    * (TxnBloomSpec pins the pruned `numFiles` and zero false
    * negatives). The probe date is the table's own minimum — computed
    * first (one scalar aggregate), so the query is deterministic at
    * every SF — and the oracle recomputes the same filter relationally:
    * a hash match proves skipping lost no row. */
  private def zq04(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq04")
      .resolve("orders_lake").toString
    // 32 range buckets over the key span (the zq02 layout) with
    // 8192-bit per-file blooms: at sf0.1 each file holds ~1100 distinct
    // dates, so the default 1024-bit filter would saturate (fpp -> 1,
    // zero skipping) — the per-table bloomBits knob is exactly for
    // bigger files, fpp ≈ (1-e^(-4·1100/8192))^4 ≈ 3% here
    val sliced = orders(s, d).filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
    val mx = sliced.agg(max(col("o_orderkey")).as("mx"))
    val base = sliced.crossJoin(broadcast(mx))
      .withColumn("okbucket", expr("(o_orderkey * 32) div (mx + 1)"))
      .drop("mx")
    TxnLake.create(s, dir, base, "okbucket", bloomCol = Some("odate"),
      bloomBits = 8192)
    val lk = s.read.format("graft-txn").load(dir)
    val d0 = lk.agg(min(col("odate"))).head().getString(0)
    lk.filter(col("odate") === d0)
      .select(col("o_orderkey"), col("odate"), col("price").cast("double").as("price"))
      .orderBy(col("o_orderkey"))
  }

  private val zq04Sql =
    """WITH t AS (
      |  SELECT o_orderkey,
      |    strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS odate,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
      |  FROM orders WHERE o_orderkey % 4 = 0)
      |SELECT o_orderkey, odate, price FROM t
      |WHERE odate = (SELECT min(odate) FROM t)
      |ORDER BY o_orderkey""".stripMargin

  /** lk10 — DELETION-VECTOR deletes ([[graft.lake.TxnLake.deleteWhere]]):
    * two successive predicate deletes mark rows dead in `_graft_dv`
    * position sidecars — zero data files rewritten (pinned in
    * `DeletionVectorSpec`) — then OPTIMIZE(purgeDv) folds the vectors
    * into fresh files. The query aggregates the SAME snapshot through
    * both read paths — the merge-on-read in-scan position filter ('mor')
    * and the purged vector-free scan ('purged') — and the oracle
    * recomputes both phases from the base table with the predicates
    * negated, so a hash match proves the sidecar subtraction and the
    * rewrite are row-identical to a plain filtered scan. This is the
    * 100 TB delete path: dropping a sliver of rows (GDPR erasure,
    * corpus decontamination) moves O(deleted positions), not O(touched
    * files), and the rewrite debt is repaid once, transactionally, by
    * OPTIMIZE. */
  private def lk10(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk10")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    TxnLake.deleteWhere(s, dir, col("o_price") > 150000)
    TxnLake.deleteWhere(s, dir, col("o_orderkey") % 21 === 0)
    def agg(df: DataFrame, phase: String): DataFrame = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_price")).cast("double").as("sum_price"))
      .withColumn("phase", lit(phase))
    val mor = agg(TxnLake.read(s, dir), "mor") // binds v2's files + vectors
    TxnLake.optimize(s, dir, minFiles = Int.MaxValue, purgeDv = true)
    val purged = agg(TxnLake.read(s, dir), "purged")
    mor.unionByName(purged)
      .select(col("phase"), col("o_orderstatus"), col("n"), col("sum_price"))
      .orderBy(col("phase"), col("o_orderstatus"))
  }

  private val lk10Sql =
    """WITH live AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_price
      |  FROM orders
      |  WHERE o_orderkey % 7 = 0
      |    AND NOT (CAST(o_totalprice AS DECIMAL(12,2)) > 150000)
      |    AND NOT (o_orderkey % 21 = 0))
      |SELECT 'mor' AS phase, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_price) AS DOUBLE) AS sum_price
      |FROM live GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'purged' AS phase, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_price) AS DOUBLE) AS sum_price
      |FROM live GROUP BY o_orderstatus
      |ORDER BY phase, o_orderstatus""".stripMargin

  /** zq05 — DYNAMIC PARTITION PRUNING through the partition-aware
    * `graft-txn` file index ([[graft.lake.TxnFileIndex]]): the fact
    * lake is partitioned on a join-key bucket, the index exposes that
    * column via `partitionSchema`, and a star join against the tiny
    * `nation` dim (filtered to one region) lets Catalyst inject a
    * dynamic-pruning subquery — at RUNTIME the broadcast dim's keys
    * prune whole fact partitions before their files are ever opened
    * (fired + file-skipping pinned in `DynamicPruningSpec`). This is
    * the 100 TB star-schema move no static analysis can make: the
    * selective predicate lives on the dim, yet the fact scan only
    * reads joined partitions. The oracle recomputes the join off the
    * base tables, so a hash match proves runtime skipping loses no
    * rows. */
  private def zq05(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq05")
      .resolve("orders_lake").toString
    val fact = orders(s, d).filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), (col("o_orderkey") % 25).as("nbucket"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, dir, fact, "nbucket")
    val dim = nation(s, d)
      .join(region(s, d).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    s.read.format("graft-txn").load(dir)
      .join(dim, col("nbucket") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("o_price")).cast("double").as("sum_price"))
      .orderBy(col("n_name"))
  }

  private val zq05Sql =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |JOIN nation ON o_orderkey % 25 = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderkey % 3 = 0 AND r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** lk11 — PARTITION EVOLUTION ([[graft.lake.TxnLake.evolvePartitioning]]):
    * create the table partitioned by order status, re-point the
    * partition column to order priority in one metadata-only commit (no
    * file moves — pinned in `PartitionEvolutionSpec`), blind-append new
    * data under the new layout, then upsert keys whose target rows live
    * in LEGACY-layout files — the rewrite must drag those files in
    * conservatively (their partition values index the old column) and
    * re-stages them under the new layout, the lazy migration. The
    * oracle recomputes the final state from the base table, so a hash
    * match proves no row is lost or duplicated across the mixed-layout
    * snapshot. At 100 TB this is how a table re-partitions: one
    * millisecond commit, migration amortized into the writes that were
    * happening anyway. */
  private def lk11(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk11")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 9 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, dir, base.filter(col("o_orderkey") % 18 === 0), "o_orderstatus")
    TxnLake.evolvePartitioning(s, dir, "o_orderpriority")
    TxnLake.append(s, dir, base.filter(col("o_orderkey") % 18 =!= 0))
    TxnLake.upsert(s, dir, base.filter(col("o_orderkey") % 45 === 0)
      .withColumn("o_price", (col("o_price") * 2).cast("decimal(12,2)")), "o_orderkey")
    TxnLake.read(s, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_price")).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  private val lk11Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_price
      |  FROM orders WHERE o_orderkey % 9 = 0),
      |v AS (
      |  SELECT o_orderstatus, o_orderpriority,
      |    CASE WHEN o_orderkey % 45 = 0
      |      THEN CAST(o_price * 2 AS DECIMAL(12,2)) ELSE o_price END AS o_price
      |  FROM base)
      |SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_price) AS DOUBLE) AS sum_price
      |FROM v GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  /** lk12 — RESTORE ([[graft.lake.TxnLake.restore]]): a bad backfill
    * (tripled prices, v1) and a bad delete (v2) are rolled back by
    * restoring v0 as a FORWARD commit (v3 — metadata-only, history
    * intact, pinned in `RestoreSpec`), then new data appends on top
    * (v4) to prove the table stays live. The oracle recomputes the
    * final state as base + appended rows only — a hash match proves
    * the restore erased exactly the two bad commits' effects and
    * nothing else. The O(1)-at-any-size undo is the operational
    * counterpart of time travel: readVersion answers "what did we
    * train on", restore answers "make it yesterday again". */
  private def lk12(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk12")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 8 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    TxnLake.upsert(s, dir, base.filter(col("o_orderkey") % 16 === 0)
      .withColumn("o_price", (col("o_price") * 3).cast("decimal(12,2)")), "o_orderkey")
    TxnLake.delete(s, dir,
      base.filter(col("o_orderkey") % 24 === 0).select(col("o_orderkey")), "o_orderkey")
    TxnLake.restore(s, dir, 0L)
    TxnLake.append(s, dir, base.filter(col("o_orderkey") % 16 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 50000000L))
    TxnLake.read(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_price")).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val lk12Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_price
      |  FROM orders WHERE o_orderkey % 8 = 0),
      |final AS (
      |  SELECT * FROM base
      |  UNION ALL
      |  SELECT o_orderkey + 50000000, o_orderstatus, o_price
      |  FROM base WHERE o_orderkey % 16 = 0)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_price) AS DOUBLE) AS sum_price
      |FROM final GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** lk13 — COLUMN RENAME via NAME MAPPING
    * ([[graft.lake.TxnLake.renameColumn]]): rename the price column in
    * one metadata-only commit (files keep the frozen physical name —
    * pinned in `RenameColumnSpec`), then upsert and predicate-delete
    * THROUGH the new logical name, and aggregate it. The oracle
    * recomputes the final state off the base table under the new
    * name — a hash match proves the mapping round-trips exactly through
    * the read boundary (logical projection), the write boundary
    * (un-rename before staging), and the DV delete. At 100 TB a rename
    * is a millisecond commit instead of a full-table rewrite. */
  private def lk13(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk13")
      .resolve("orders_lake").toString
    val base = orders(s, d).filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, dir, base, "o_orderstatus")
    TxnLake.renameColumn(s, dir, "o_price", "turnover")
    TxnLake.upsert(s, dir, base.filter(col("o_orderkey") % 30 === 0)
      .withColumnRenamed("o_price", "turnover")
      .withColumn("turnover", (col("turnover") * 2).cast("decimal(12,2)")),
      "o_orderkey")
    TxnLake.deleteWhere(s, dir, col("turnover") > 400000)
    TxnLake.read(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("turnover")).cast("double").as("sum_turnover"))
      .orderBy(col("o_orderstatus"))
  }

  private val lk13Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS turnover
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |v1 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 30 = 0
      |      THEN CAST(turnover * 2 AS DECIMAL(12,2)) ELSE turnover END AS turnover
      |  FROM base),
      |final AS (SELECT * FROM v1 WHERE NOT (turnover > 400000))
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(turnover) AS DOUBLE) AS sum_turnover
      |FROM final GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** lk14 — row-level `UPDATE ... SET` ([[graft.lake.TxnLake
    * .updateWhere]]) as MERGE-ON-READ: update #1 raises cheap parts'
    * prices through a stats-column predicate (matched rows are doomed
    * via a deletion-vector sidecar, post-images staged as new files,
    * one atomic commit — no touched file is rewritten, pinned in
    * `UpdateWhereSpec`); update #2 rewrites the PARTITION column, so
    * rows migrate partitions through the same commit path. The oracle
    * replays both updates as CASE expressions over the base table — a
    * hash match proves no row doubled, vanished, or kept a stale
    * image. At 100 TB this is the UPDATE shape that moves O(matched
    * rows), not O(touched files). */
  private def lk14(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk14")
      .resolve("part_lake").toString
    val base = graft.Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"),
        col("p_retailprice").cast("decimal(12,2)").as("p_price"))
    TxnLake.create(s, dir, base, "p_brand", statsCol = Some("p_price"))
    TxnLake.updateWhere(s, dir, col("p_price") < lit(1000.0),
      Map("p_price" -> (col("p_price") + 100).cast("decimal(12,2)")))
    TxnLake.updateWhere(s, dir, col("p_brand") === "Brand#55",
      Map("p_brand" -> lit("Brand#99")))
    TxnLake.read(s, dir)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("p_price")).cast("double").as("sum_price"))
      .orderBy(col("p_brand"))
  }

  private val lk14Sql =
    """WITH base AS (
      |  SELECT p_partkey, p_brand,
      |    CAST(p_retailprice AS DECIMAL(12,2)) AS p_price
      |  FROM part),
      |u1 AS (
      |  SELECT p_partkey, p_brand,
      |    CASE WHEN p_price < 1000.0
      |      THEN CAST(p_price + 100 AS DECIMAL(12,2)) ELSE p_price END AS p_price
      |  FROM base),
      |u2 AS (
      |  SELECT p_partkey,
      |    CASE WHEN p_brand = 'Brand#55' THEN 'Brand#99' ELSE p_brand END AS p_brand,
      |    p_price
      |  FROM u1)
      |SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(p_price) AS DOUBLE) AS sum_price
      |FROM u2 GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** lk15 — TYPE WIDENING ([[graft.lake.TxnLake.widenColumn]]): the
    * key column widens int→long and the price column float→double in
    * two metadata-only commits (zero files rewritten — pinned in
    * `TypeWideningSpec`), then rows that only FIT the wide types
    * (keys past 2^31) append on top; the narrow-era files up-convert
    * at scan time via Spark 4's native parquet type promotion. The
    * oracle replays both eras relationally — the hash match proves old
    * and new files aggregate as one type with no value drift (float→
    * double is exact in IEEE). At 100 TB this is "our int32 ids
    * overflowed" solved by a millisecond commit instead of a
    * full-table rewrite. */
  private def lk15(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val dir = java.nio.file.Files.createTempDirectory("graft_lk15")
      .resolve("orders_lake").toString
    def slice(m: Int) = orders(s, d).filter(col("o_orderkey") % 9 === m)
    TxnLake.create(s, dir, slice(0)
      .select(col("o_orderkey").cast("int").as("okey"), col("o_orderstatus"),
        col("o_totalprice").cast("float").as("price")),
      "o_orderstatus")
    TxnLake.widenColumn(s, dir, "okey", LongType)
    TxnLake.widenColumn(s, dir, "price", DoubleType)
    TxnLake.append(s, dir, slice(3)
      .select((col("o_orderkey").cast("long") + 3000000000L).as("okey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("float").cast("double").as("price")))
    TxnLake.read(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("okey")).as("sum_okey"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .orderBy(col("o_orderstatus"))
  }

  private val lk15Sql =
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS okey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price
      |  FROM orders WHERE o_orderkey % 9 = 0),
      |extra AS (
      |  SELECT CAST(o_orderkey AS BIGINT) + 3000000000 AS okey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price
      |  FROM orders WHERE o_orderkey % 9 = 3),
      |final AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(okey) AS BIGINT) AS sum_okey,
      |  min(price) AS min_price, max(price) AS max_price
      |FROM final GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** lk16 — SLOWLY-CHANGING DIMENSION TYPE 2 ([[graft.lake.Scd2]]):
    * three loads over a customer-segment dimension — init, an update
    * batch (some rows changed, some byte-identical no-ops, some brand
    * new keys), and a second change to already-changed keys — each
    * close+open pair landing through ONE transactional upsert on the
    * `key:valid_from` surrogate. The oracle enumerates every validity
    * era relationally; the hash match proves chains never fork (one
    * open row per key), no-ops left no row, and intervals seal at
    * exactly the load that superseded them (mechanics pinned in
    * `Scd2Spec`). Chains co-locate by key-hash bucket, so at 100 TB an
    * apply rewrites only buckets containing changed keys — history
    * depth is free. */
  private def lk16(s: SparkSession, d: String): DataFrame = {
    import graft.lake.Scd2
    val dir = java.nio.file.Files.createTempDirectory("graft_lk16")
      .resolve("dim").toString
    val base = graft.Tables.customer(s, d).filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    Scd2.init(s, dir, base, "c_custkey", version = 1L)
    Scd2.apply(s, dir,
      base.filter(col("c_custkey") % 20 === 0)
        .withColumn("c_mktsegment", lit("MOVED"))
        .unionByName(base.filter(col("c_custkey") % 28 === 0)) // no-ops
        .unionByName(base.filter(col("c_custkey") % 40 === 0)
          .select((col("c_custkey") + 900000).as("c_custkey"),
            lit("NEW").as("c_mktsegment"))),
      "c_custkey", version = 2L)
    Scd2.apply(s, dir,
      base.filter(col("c_custkey") % 40 === 0)
        .withColumn("c_mktsegment", lit("MOVED2")),
      "c_custkey", version = 3L)
    graft.lake.TxnLake.read(s, dir)
      .groupBy(col("c_mktsegment").as("seg"), col("is_current"))
      .agg(count(lit(1)).as("n"), sum(col("valid_from")).as("sum_from"),
        sum(when(col("valid_to") === Scd2.OpenVersion, 0L)
          .otherwise(col("valid_to"))).as("sum_to_closed"))
      .orderBy(col("seg"), col("is_current"))
  }

  private val lk16Sql =
    """WITH s AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
      |  WHERE c_custkey % 4 = 0),
      |era1 AS (
      |  SELECT k, seg, 1 AS vf,
      |    CASE WHEN k % 20 = 0 THEN 2 ELSE 0 END AS vt,
      |    (k % 20 <> 0) AS cur FROM s),
      |era2 AS (
      |  SELECT k, 'MOVED' AS seg, 2 AS vf,
      |    CASE WHEN k % 40 = 0 THEN 3 ELSE 0 END AS vt,
      |    (k % 40 <> 0) AS cur FROM s WHERE k % 20 = 0),
      |era3 AS (
      |  SELECT k, 'MOVED2' AS seg, 3 AS vf, 0 AS vt, TRUE AS cur
      |  FROM s WHERE k % 40 = 0),
      |eranew AS (
      |  SELECT k + 900000 AS k, 'NEW' AS seg, 2 AS vf, 0 AS vt, TRUE AS cur
      |  FROM s WHERE k % 40 = 0),
      |rows_all AS (
      |  SELECT * FROM era1 UNION ALL SELECT * FROM era2
      |  UNION ALL SELECT * FROM era3 UNION ALL SELECT * FROM eranew)
      |SELECT seg, cur AS is_current, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(vf) AS BIGINT) AS sum_from,
      |  CAST(sum(vt) AS BIGINT) AS sum_to_closed
      |FROM rows_all GROUP BY seg, cur
      |ORDER BY seg, cur""".stripMargin

  /** lk17 — ZERO-COPY CLONE ([[graft.lake.TxnLake.clone]]): fork the
    * orders lake table as a metadata-only clone (no data file copied —
    * pinned in `CloneSpec`), run a risky migration on the FORK only
    * (predicate delete + backfill append), and aggregate BOTH sides
    * under a tag. The oracle recomputes each side relationally: a hash
    * match proves the clone read the source snapshot exactly, the
    * migration diverged only the fork, and the source stayed
    * bit-identical — Delta SHALLOW CLONE semantics. At 100 TB the fork
    * costs one manifest write; the source's files are shared in place
    * and vacuum-protected by the clone's pin ref. */
  private def lk17(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val root = java.nio.file.Files.createTempDirectory("graft_lk17")
    val src = root.resolve("src").toString
    val dst = root.resolve("fork").toString
    val base = orders(s, d).filter(col("o_orderkey") % 8 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price"))
    TxnLake.create(s, src, base, "o_orderstatus")
    TxnLake.clone(s, src, dst)
    TxnLake.deleteWhere(s, dst, col("o_orderkey") % 24 === 0)
    TxnLake.append(s, dst, base.filter(col("o_orderkey") % 16 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 70000000L))
    TxnLake.read(s, src).withColumn("side", lit("src"))
      .unionByName(TxnLake.read(s, dst).withColumn("side", lit("fork")))
      .groupBy(col("side"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_price")).cast("double").as("sum_price"))
      .orderBy(col("side"), col("o_orderstatus"))
  }

  private val lk17Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS o_price
      |  FROM orders WHERE o_orderkey % 8 = 0),
      |fork AS (
      |  SELECT o_orderkey, o_orderstatus, o_price FROM base
      |  WHERE o_orderkey % 24 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 70000000, o_orderstatus, o_price
      |  FROM base WHERE o_orderkey % 16 = 0),
      |sides AS (
      |  SELECT 'src' AS side, o_orderstatus, o_price FROM base
      |  UNION ALL
      |  SELECT 'fork' AS side, o_orderstatus, o_price FROM fork)
      |SELECT side, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_price) AS DOUBLE) AS sum_price
      |FROM sides GROUP BY side, o_orderstatus
      |ORDER BY side, o_orderstatus""".stripMargin

  /** lk18 — METADATA-ONLY COUNT ([[graft.lake.TxnLake.rowCount]]): the
    * manifest's per-file row counts answer COUNT(*) without opening a
    * single data file — the Delta/Iceberg stats-only count that makes
    * `SELECT count(*)` instant on a 100 TB table. The query reads the
    * count at TWO versions (pre- and post- a deletion-vector delete),
    * so one hash pins per-file counts riding the staging metadata job,
    * log-only time travel of the count, AND exact DV-cardinality
    * subtraction from the (file, pos) sidecars. The oracle recomputes
    * both counts relationally from `orders`. */
  private def lk18(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk18")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 3 === 0), "o_orderstatus")
    TxnLake.append(s, dir, slice(col("o_orderkey") % 3 === 1))
    TxnLake.deleteWhere(s, dir, col("o_orderkey") % 6 === 0)
    import s.implicits._
    Seq(1L, 2L).map { v =>
      (v, TxnLake.rowCount(s, dir, v).getOrElse(
        sys.error(s"rowCount missing at v$v — legacy entry leaked into a fresh table")))
    }.toDF("version", "n_rows").orderBy(col("version"))
  }

  private val lk18Sql =
    """SELECT CAST(1 AS BIGINT) AS version, CAST((
      |    SELECT count(*) FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |  ) AS BIGINT) AS n_rows
      |UNION ALL
      |SELECT 2, (
      |    SELECT count(*) FROM orders
      |    WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 6 <> 0)
      |ORDER BY version""".stripMargin

  /** zq06 — MULTI-COLUMN ZONE MAPS ([[graft.lake.TxnLake
    * .setStatsColumns]]): the lake table tracks per-file (min, max) for
    * TWO extra columns beyond the legacy statsCol, and the `graft-txn`
    * read pushes range predicates on EITHER into planning-time file
    * skipping (the Delta per-column-stats discipline; skipping itself
    * pinned via scan metrics in `MultiStatsSpec`). The query filters on
    * the SECOND tracked column plus the partition column; the oracle
    * replays it relationally — pruning can reorder nothing. */
  private def zq06(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq06")
      .resolve("lineitem_lake").toString
    val base = lineitem(s, d).filter(col("l_orderkey") % 6 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"))
    TxnLake.create(s, dir, base, "l_returnflag",
      statsCol = Some("l_extendedprice"), statsCols = Seq("l_quantity", "l_discount"))
    s.read.format("graft-txn").load(dir)
      .filter(col("l_quantity") >= 30.0 && col("l_returnflag") =!= "R")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  private val zq06Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_orderkey % 6 = 0 AND l_quantity >= 30.0 AND l_returnflag <> 'R'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** zq07 — `OPTIMIZE ... ZORDER BY` on the transactional lake
    * ([[graft.lake.TxnLake.optimizeZOrder]]): the table is created from
    * shuffled-order commits (zone maps wide in every dimension), then
    * one atomic rewrite re-clusters rows along the Morton curve of
    * (price, quantity) — each file becomes a contiguous curve segment,
    * so its multi-column zone maps go tight in BOTH dimensions and the
    * 2-D box predicate skips files at planning time (skipping pinned
    * via scan metrics in `ZOrderLakeSpec`; this query pins the rewrite
    * is pure LAYOUT — the oracle replays the box relationally). */
  private def zq07(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq07")
      .resolve("lineitem_lake").toString
    val base = lineitem(s, d).filter(col("l_orderkey") % 5 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), col("l_quantity"))
    TxnLake.create(s, dir, base, "l_returnflag",
      statsCol = Some("l_extendedprice"), statsCols = Seq("l_quantity"))
    TxnLake.optimizeZOrder(s, dir, "l_extendedprice", "l_quantity")
    s.read.format("graft-txn").load(dir)
      .filter(col("l_extendedprice") < 20000.0 && col("l_quantity") >= 40.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double").as("sum_price"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))
  }

  private val zq07Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem
      |WHERE l_orderkey % 5 = 0 AND l_extendedprice < 20000.0 AND l_quantity >= 40.0
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** zq08 — N-COLUMN ZORDER ([[graft.lake.TxnLake.optimizeZOrder]]
    * Seq form → [[graft.lake.ZOrder.mortonCodeN]]): one atomic
    * re-cluster interleaving THREE dimensions (21 bits each of one
    * 64-bit curve key), after which zone maps prune on any of the
    * three — Delta's `ZORDER BY (a, b, c)`. The result is
    * layout-independent (the oracle replays the 3-predicate aggregate
    * relationally); the 3-D pruning itself is pinned in
    * `NColZOrderSpec`. */
  private def zq08(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_zq08")
      .resolve("lineitem_lake").toString
    val base = lineitem(s, d).filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), col("l_quantity"), col("l_discount"))
    TxnLake.create(s, dir, base, "l_returnflag",
      statsCol = Some("l_extendedprice"),
      statsCols = Seq("l_quantity", "l_discount"))
    TxnLake.optimizeZOrder(s, dir,
      Seq("l_extendedprice", "l_quantity", "l_discount"), rowsPerFile = 0L)
    s.read.format("graft-txn").load(dir)
      .filter(col("l_extendedprice") < 30000.0 && col("l_quantity") >= 30.0 &&
        col("l_discount") >= 0.05)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(14,2)")).cast("double").as("sum_price"),
        round(sum(col("l_discount").cast("decimal(8,2)")), 2).cast("double").as("sum_disc"))
      .orderBy(col("l_returnflag"))
  }

  private val zq08Sql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
      |  CAST(round(sum(CAST(l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS sum_disc
      |FROM lineitem
      |WHERE l_orderkey % 4 = 0 AND l_extendedprice < 30000.0
      |  AND l_quantity >= 30.0 AND l_discount >= 0.05
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** lk19 — GENERATED COLUMNS ([[graft.lake.TxnLake
    * .setGeneratedColumns]], Delta's `GENERATED ALWAYS AS`): the table
    * partitions on a month key derived from the order timestamp that
    * NO writer ever supplies — create and append both omit it and the
    * lake computes it from the stored expression. The result groups by
    * the generated key under a range filter (partition-pruned at
    * planning time — `GeneratedColumnsSpec` pins the pruning); the
    * oracle derives the same key relationally. */
  private def lk19(s: SparkSession, d: String): DataFrame = {
    import graft.lake.TxnLake
    val dir = java.nio.file.Files.createTempDirectory("graft_lk19")
      .resolve("orders_lake").toString
    def slice(pred: Column) = orders(s, d).filter(pred)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"), col("o_orderdate"))
    TxnLake.create(s, dir, slice(col("o_orderkey") % 9 === 0), "o_month",
      generatedCols = Map(
        "o_month" -> "substring(cast(o_orderdate as string), 1, 7)"))
    TxnLake.append(s, dir, slice(col("o_orderkey") % 9 === 1))
    s.read.format("graft-txn").load(dir)
      .filter(col("o_month") >= "1995-01" && col("o_month") <= "1995-12")
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("sum_price"))
      .orderBy(col("o_month"))
  }

  private val lk19Sql =
    """WITH base AS (
      |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
      |    substring(CAST(o_orderdate AS VARCHAR), 1, 7) AS o_month
      |  FROM orders WHERE o_orderkey % 9 IN (0, 1))
      |SELECT o_month, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price) AS DOUBLE) AS sum_price
      |FROM base
      |WHERE o_month >= '1995-01' AND o_month <= '1995-12'
      |GROUP BY o_month
      |ORDER BY o_month""".stripMargin

  val defs: Map[String, Q] = Map(
    "lk28_sql_tblproperties" -> (lk28 _),
    "lk32_check_constraints" -> (lk32 _),
    "lk33_copy_into" -> (lk33 _),
    "lk34_column_defaults" -> (lk34 _),
    "lk35_identity_columns" -> (lk35 _),
    "lk36_not_null" -> (lk36 _),
    "lk29_occ_contention" -> (lk29 _),
    "lk30_show_partitions" -> (lk30 _),
    "lk31_set_tblproperties" -> (lk31 _),
    "lk25_sql_truncate" -> (lk25 _),
    "lk26_sql_scoped_maintenance" -> (lk26 _),
    "lk27_sql_table_changes" -> (lk27 _),
    "lk24_sql_restore" -> (lk24 _),
    "lk23_sql_maintenance" -> (lk23 _),
    "lk20_sql_dml" -> (lk20 _),
    "zq09_sql_time_travel" -> (zq09 _),
    "zq10_generated_partition_pruning" -> (zq10 _),
    "zq11_generated_range_pruning" -> (zq11 _),
    "lk37_merge_schema_evolution" -> (lk37 _),
    "lk22_sql_ddl" -> (lk22 _),
    "lk21_merge_retire" -> (lk21 _),
    "lk17_clone" -> (lk17 _),
    "lk18_metadata_count" -> (lk18 _),
    "lk19_generated_columns" -> (lk19 _),
    "zq08_zorder_multi" -> (zq08 _),
    "zq07_zorder_optimize" -> (zq07 _),
    "zq06_multi_zone" -> (zq06 _),
    "lk16_scd2" -> (lk16 _),
    "lk15_type_widening" -> (lk15 _),
    "lk14_update" -> (lk14 _),
    "lk13_rename_column" -> (lk13 _),
    "lk12_restore" -> (lk12 _),
    "lk11_partition_evolution" -> (lk11 _),
    "zq05_dynamic_pruning" -> (zq05 _),
    "lk10_deletion_vectors" -> (lk10 _),
    "zq04_bloom_skip" -> (zq04 _),
    "lk09_merge_clauses" -> (lk09 _),
    "zq03_sql_writepath" -> (zq03 _),
    "lk08_cdc_feed" -> (lk08 _),
    "lk07_check_constraints" -> (lk07 _),
    "lk06_vacuum" -> (lk06 _),
    "zq02_zone_map_skip" -> (zq02 _),
    "lk05_append_optimize" -> (lk05 _),
    "lk04_incremental_mv" -> (lk04 _),
    "lk03_schema_evolution" -> (lk03 _),
    "lk02_incremental_read" -> (lk02 _),
    "lk01_time_travel" -> (lk01 _),
    "zq01_zorder_layout" -> (zq01 _),
    "q53_fuzzy_match" -> (q53 _),
    "q52_sole_late_supplier" -> (q52 _),
    "q51_salted_join" -> (q51 _),
    "q47_distributed_rank" -> (q47 _),
    "q48_large_orders" -> (q48 _),
    "q49_min_cost_supplier" -> (q49 _),
    "q50_event_funnel" -> (q50 _))

  val oracle: Map[String, String] = Map(
    "lk28_sql_tblproperties" -> lk28Sql,
    "lk32_check_constraints" -> lk32Sql,
    "lk33_copy_into" -> lk33Sql,
    "lk34_column_defaults" -> lk34Sql,
    "lk35_identity_columns" -> lk35Sql,
    "lk36_not_null" -> lk36Sql,
    "lk29_occ_contention" -> lk29Sql,
    "lk30_show_partitions" -> lk30Sql,
    "lk31_set_tblproperties" -> lk31Sql,
    "lk25_sql_truncate" -> lk25Sql,
    "lk26_sql_scoped_maintenance" -> lk26Sql,
    "lk27_sql_table_changes" -> lk27Sql,
    "lk24_sql_restore" -> lk24Sql,
    "lk23_sql_maintenance" -> lk23Sql,
    "lk20_sql_dml" -> lk20Sql,
    "zq09_sql_time_travel" -> zq09Sql,
    "zq10_generated_partition_pruning" -> zq10Sql,
    "zq11_generated_range_pruning" -> zq11Sql,
    "lk37_merge_schema_evolution" -> lk37Sql,
    "lk22_sql_ddl" -> lk22Sql,
    "lk21_merge_retire" -> lk21Sql,
    "lk17_clone" -> lk17Sql,
    "lk18_metadata_count" -> lk18Sql,
    "lk19_generated_columns" -> lk19Sql,
    "zq07_zorder_optimize" -> zq07Sql,
    "zq08_zorder_multi" -> zq08Sql,
    "zq06_multi_zone" -> zq06Sql,
    "lk16_scd2" -> lk16Sql,
    "lk15_type_widening" -> lk15Sql,
    "lk14_update" -> lk14Sql,
    "lk13_rename_column" -> lk13Sql,
    "lk12_restore" -> lk12Sql,
    "lk11_partition_evolution" -> lk11Sql,
    "zq05_dynamic_pruning" -> zq05Sql,
    "lk10_deletion_vectors" -> lk10Sql,
    "zq04_bloom_skip" -> zq04Sql,
    "lk09_merge_clauses" -> lk09Sql,
    "zq03_sql_writepath" -> zq03Sql,
    "lk08_cdc_feed" -> lk08Sql,
    "lk07_check_constraints" -> lk07Sql,
    "lk06_vacuum" -> lk06Sql,
    "zq02_zone_map_skip" -> zq02Sql,
    "lk05_append_optimize" -> lk05Sql,
    "lk04_incremental_mv" -> lk04Sql,
    "lk03_schema_evolution" -> lk03Sql,
    "lk02_incremental_read" -> lk02Sql,
    "lk01_time_travel" -> lk01Sql,
    "zq01_zorder_layout" -> zq01Sql,
    "q53_fuzzy_match" -> q53Sql,
    "q52_sole_late_supplier" -> q52Sql,
    "q51_salted_join" -> q51Sql,
    "q47_distributed_rank" -> q47Sql,
    "q48_large_orders" -> q48Sql,
    "q49_min_cost_supplier" -> q49Sql,
    "q50_event_funnel" -> q50Sql)
}
