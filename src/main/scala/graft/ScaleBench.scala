package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SF1 SPOT-BENCH: times the most expensive queries on a synthesized
  * 10x copy of an sf dir, so the "would this survive a scale-up"
  * posture rests on a measured wall-time ratio instead of argument.
  *
  * The scaled dir is DETERMINISTIC and reproducible from the committed
  * testdata: `copies` disjoint replicas of every table, every join key
  * shifted by `replica * 10_000_000` so the copies stay 1:1 under all
  * joins (no accidental fan-out). Two perturbations keep the scaled
  * workload SHAPE honest instead of degenerate:
  *
  *  - `documents.text`: replicas translate three high-frequency letters
  *    per replica index. Identical replicas would make every document a
  *    10-way exact/near dup — the pair graph would grow ~45 extra edges
  *    per document (quadratic in copies), which is not what a 10x
  *    corpus looks like. Translated replicas share no shingles, so
  *    near-dup structure scales linearly, like real data.
  *  - `embeddings.embedding`: a deterministic sinusoidal jitter
  *    (amplitude 0.2) per replica. Identical vectors would collide
  *    10-deep in every LSH/IVF bucket and square the candidate counts;
  *    jittered replicas spread across buckets like fresh vectors.
  *
  * Usage: sbt "runMain graft.ScaleBench [srcDir] [outDir] [copies]"
  * (defaults /root/testdata/sf0.1, /tmp/graft_sf1, 10). Prints one JSON
  * line per scale with per-query medians of 3 passes, the sf1/sf0.1
  * ratio, and a plan lint (CartesianProduct / BroadcastNestedLoopJoin
  * hits in the sf1 physical plan — a plan FLIP at scale would show here
  * even if the timing survived). */
object ScaleBench {
  private val Offset = 10000000L

  /** key columns shifted per replica — every FK shifts with its PK, so
    * each replica is a closed world and all joins stay 1:1 */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def replica(df: DataFrame, table: String, i: Int): DataFrame = {
    val keys = keyCols(table)
    var out = keys.foldLeft(df) { (d, k) =>
      d.withColumn(k, (col(k) + lit(Offset * i)).cast(df.schema(k).dataType))
    }
    if (i > 0 && table == "documents") {
      // rotate three common letters per replica: cross-replica shingle
      // overlap drops to ~0, so the near-dup graph scales linearly.
      // Targets come from an alphabet EXCLUDING the source letters —
      // ('b'+i) style indexing hits 'e' at i=3, which would leave the
      // most frequent letter untouched and re-introduce part of the
      // quadratic replica-pair growth this synthesizer exists to avoid
      val safe = "bcdfghjklmnpqrsuvwxyz"
      // stride 2 keeps (pick(0), pick(1)) injective across replicas
      // 1..9 (2i+1 <= 19 < 21), so no two replicas share a mapping
      def pick(k: Int) = safe.charAt((i * 2 + k) % safe.length)
      val to = "" + pick(0) + pick(1).toUpper + ('0' + (i % 10)).toChar
      out = out.withColumn("text", translate(col("text"), "eta", to))
    }
    if (i > 0 && table == "embeddings") {
      val elem = df.schema("embedding").dataType
      out = out.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          x + lit(0.2) * sin(j.cast("double") * 2.3 +
            col("vec_id").cast("double") * 0.7 + lit(i * 1.9)))
          .cast(elem))
    }
    out
  }

  def synthesize(spark: SparkSession, srcDir: String, outDir: String,
                 copies: Int): Unit = {
    keyCols.keys.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      (0 until copies).map(replica(src, t, _)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    // AMBIENT load, sampled before this process spins up 32 threads:
    // an end-of-run getSystemLoadAverage mostly measures OUR OWN burn
    // (the r12 artifact's load_avg 10.3 was largely self-inflicted),
    // so the quiet-window judgment uses this number
    val ambientLoad = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val spark = LocalSession(32)
    val marker = new java.io.File(s"$outDir/_SCALE_READY")
    if (!marker.exists()) {
      synthesize(spark, srcDir, outDir, copies)
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    // the spot set: the most expensive non-lake-construction queries,
    // PLUS (r20, VERDICT r19 #6) the three most expensive lake/stream
    // BUILDERS — at sf0.1 the whole suite is fixed-overhead bound
    // (0/230 queries scaled ≥1.5 on 4× cores in r19), so without a
    // builder rung here a serialization regression in the commit
    // protocol would be invisible to every driver-run measurement.
    // Overridable via SPARK_GRAFT_SCALE_ONLY.
    val names = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSeq)
      .getOrElse(Seq("dd07_dedup_clusters", "dd08_winnowing",
        "dd02_minhash_lsh", "mm06_crossmodal_knn", "ss05_knn_join",
        "ss03_ivf_ann", "pr04_connected_components", "tx14_bm25",
        "dd13_star_clusters", "gq04_spatial_join",
        "st20_cdc_index_pipeline", "lk08_cdc_feed", "lk16_scd2"))
    val qs = SparkEntry.queries.filter { case (n, _) => names.contains(n) }
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm
    def timed(dir: String): Map[String, Double] = {
      // warm the page cache so ratios compare plan cost, not I/O order
      keyCols.keys.foreach { t =>
        try spark.read.parquet(s"$dir/$t.parquet").count()
        catch { case _: Throwable => } }
      val passes = (1 to 3).map { _ =>
        qs.map { case (n, fn) =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, dir).count(); true }
          catch { case _: Throwable => false }
          val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          try spark.catalog.clearCache() catch { case _: Throwable => }
          n -> dt
        }
      }
      qs.keys.map { n =>
        val ts = passes.map(_(n))
        n -> (if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2))
      }.toMap
    }
    val base = timed(srcDir)
    val scaled = timed(outDir)
    // head-to-head geometry evidence: the SAME corpus-wide kNN join
    // under fixed 16-bucket-per-band geometry (the oracle-replayable
    // default ss05 uses) vs the auto-sized form — candidate pairs are
    // ~n²/buckets, so the gap should WIDEN with scale. Skipped when a
    // SPARK_GRAFT_SCALE_ONLY filter excludes ss05: a one-query spot
    // check should not pay 12 extra corpus-wide joins.
    val geomWanted = names.exists(_.startsWith("ss05"))
    def knnDir(dir: String, auto: Boolean): Double = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val t0 = System.nanoTime()
      try {
        (if (auto) graft.operators.Similarity.lshKnnJoinAuto(emb, k = 3)
        else graft.operators.Similarity.lshKnnJoin(emb, k = 3)).count()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      finally { try spark.catalog.clearCache() catch { case _: Throwable => } }
    }
    def med(dir: String, auto: Boolean): Double = {
      val ts = (1 to 3).map(_ => knnDir(dir, auto))
      if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(1)
    }
    val geom =
      if (!geomWanted) Map.empty[String, Double]
      else Map(
        "fixed_sf01" -> med(srcDir, auto = false),
        "fixed_sf1" -> med(outDir, auto = false),
        "auto_sf01" -> med(srcDir, auto = true),
        "auto_sf1" -> med(outDir, auto = true))
    // plan lint at the SCALED dir: a nested-loop or cartesian node in
    // the sf1 physical plan is a scale-up plan flip worth flagging even
    // when the wall time happens to survive
    val lint = qs.map { case (n, fn) =>
      val plan = try fn(spark, outDir).queryExecution.executedPlan.toString
      catch { case _: Throwable => "" }
      n -> Seq("CartesianProduct", "BroadcastNestedLoopJoin")
        .filter(plan.contains)
    }.filter(_._2.nonEmpty)
    val qj = names.filter(base.contains).map { n =>
      val ratio = if (base(n) > 0 && scaled(n) > 0) scaled(n) / base(n) else -1.0
      s""""$n":{"sf01_sec":${fmt(base(n))},"sf1_sec":${fmt(scaled(n))},"ratio":${fmt(ratio)}}"""
    }.mkString("{", ",", "}")
    val lj = lint.map { case (n, hits) =>
      s""""$n":${hits.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val gj = geom.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val spotLine =
      s"""{"metric":"scale_spot","copies":$copies,"src":"$srcDir","ambient_load_avg":${fmt(ambientLoad)},"load_avg_end":${fmt(load)},"passes":3,"knn_geometry_sec":$gj,"plan_flags":$lj,"queries":$qj}"""
    // append to SCALE.json like the full lint does — a stdout-only
    // record vanishes when the caller tails a bounded output
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("SCALE.json"),
      spotLine + "\n", java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    println(spotLine)
    if (sys.env.get("SPARK_GRAFT_SCALE_FULL").exists(_.nonEmpty))
      fullSuiteLint(spark, srcDir, outDir, ambientLoad)
    spark.stop()
  }

  /** FULL-SUITE sf1 lint (VERDICT r12 #7): every registered query is
    * built against the scaled dir and — inside a wall-clock budget —
    * executed once; past the budget the remainder get a plan-only
    * lint (the lint matters more than the timing). Three signals per
    * query:
    *
    *  - `cartesian_or_bnlj`: CartesianProduct / BroadcastNestedLoopJoin
    *    nodes in the FINAL (post-AQE) sf1 plan — the runtime truth for
    *    executed queries.
    *  - `flips`: join-strategy counts of the INITIAL sf1 plan vs the
    *    INITIAL sf0.1 plan (initial-vs-initial, so AQE's runtime
    *    SMJ→broadcast upgrades don't read as false flips) — a
    *    broadcast that silently degrades to sort-merge at 10x data
    *    shows here as `BroadcastHashJoin:2->1,SortMergeJoin:0->1`.
    *  - `sf1_sec`: single-pass wall time, informational only.
    *
    * Everything is also appended to SCALE.json on disk — the per-query
    * maps are the largest lines and a bounded output tail must never
    * truncate them (the BENCH.json discipline). */
  private def fullSuiteLint(spark: SparkSession, srcDir: String,
                            outDir: String, ambientLoad: Double): Unit = {
    val budgetS = sys.env.get("SPARK_GRAFT_SCALE_BUDGET_S")
      .flatMap(_.toIntOption).getOrElse(2700)
    val deadline = System.nanoTime() + budgetS.toLong * 1000000000L
    val joinNodes = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
      "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    def countOcc(s: String, n: String): Int = {
      var c = 0; var i = s.indexOf(n)
      while (i >= 0) { c += 1; i = s.indexOf(n, i + n.length) }
      c
    }
    def prof(planStr: String): Map[String, Int] =
      joinNodes.map(n => n -> countOcc(planStr, n)).filter(_._2 > 0).toMap
    case class R(name: String, executed: Boolean, sec: Double,
                 finalHits: Seq[String], flips: Map[String, (Int, Int)])
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      // base-side INITIAL plan (plan assembly only — lake builders
      // still pay their construction inside fn, unavoidable: the
      // builder IS the query)
      val baseProf =
        try prof(fn(spark, srcDir).queryExecution.executedPlan.toString)
        catch { case _: Throwable => Map.empty[String, Int] }
      try spark.catalog.clearCache() catch { case _: Throwable => }
      val execute = System.nanoTime() < deadline
      val (sec, sf1Initial, sf1Final) =
        try {
          val df = fn(spark, outDir)
          val initial = prof(df.queryExecution.executedPlan.toString)
          if (execute) {
            val t0 = System.nanoTime()
            df.count()
            val dt = (System.nanoTime() - t0) / 1e9
            (dt, initial, prof(df.queryExecution.executedPlan.toString))
          } else (-1.0, initial, initial)
        } catch { case _: Throwable => (-1.0, Map.empty[String, Int], Map.empty[String, Int]) }
      try spark.catalog.clearCache() catch { case _: Throwable => }
      val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
        .filter(sf1Final.contains)
      val flips = joinNodes.flatMap { j =>
        val (b, s1) = (baseProf.getOrElse(j, 0), sf1Initial.getOrElse(j, 0))
        if (b != s1) Some(j -> ((b, s1))) else None
      }.toMap
      R(n, execute, sec, flags, flips)
    }
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // CartesianProduct (always a scale bug) reported apart from
    // BroadcastNestedLoopJoin (a triaged class exists: single-row
    // scalar broadcasts and bounded-pool pairwise stages are O(n) by
    // construction) — merging them would train readers to ignore the
    // hard signal
    val cartJ = results.filter(_.finalHits.contains("CartesianProduct"))
      .map(r => "\"" + r.name + "\"").mkString("[", ",", "]")
    val flagJ = results.filter(_.finalHits.contains("BroadcastNestedLoopJoin"))
      .map(r => "\"" + r.name + "\"").mkString("[", ",", "]")
    val flipJ = results.filter(_.flips.nonEmpty)
      .map { r =>
        val inner = r.flips.toSeq.sortBy(_._1)
          .map { case (j, (b, s1)) => s""""$j":"$b->$s1"""" }.mkString("{", ",", "}")
        s""""${r.name}":$inner"""
      }.mkString("{", ",", "}")
    val timeJ = results.map(r => s""""${r.name}":${fmt(r.sec)}""")
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"scale_full_lint","n_queries":${results.size},"executed":${results.count(_.executed)},"plan_only":${results.count(!_.executed)},"budget_s":$budgetS,"ambient_load_avg":${fmt(ambientLoad)},"load_avg_end":${fmt(load)},"cartesian":$cartJ,"bnlj":$flagJ,"flips":$flipJ,"sf1_sec":$timeJ}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("SCALE.json"),
      line + "\n", java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    println(line)
  }
}
