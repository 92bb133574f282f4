package graft.perfbench

import graft.lake.LakeCounters
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal

/** One op as it ran: its wall interval and what the checks and the
  * metrics need to know about it. */
final class OpRec(val i: Int, val phase: String, val deck: Int, val kind: String,
                  val traced: Boolean) {
  var t0 = 0L
  var t1 = 0L
  var error: String = null
  val extra = mutable.LinkedHashMap.empty[String, Any]
}

/** Minimal JSON rendering for the run's output files. */
object J {
  def apply(x: Any): String = x match {
    case null | None => "null"
    case Some(v) => apply(v)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, v) => quote(k.toString) + ":" + apply(v) }.mkString("{", ",", "}")
    case r: Row => apply(r.toSeq)
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The benchmark harness. Runs one workload's plan (written by
  * `perfbench/run.py`): inputs the set-up opens are prepared once, then
  * the set-up runs five times, then the plan's warm-up ops, then the
  * plan's `timed_decks` whole decks of ops in a closed loop. Writes ops,
  * spans, jobs and run facts under `--out`.
  *
  * Usage: Main --plan plan.json --work DIR --out DIR --trace 0|1 --cores N
  */
object Main {
  val SetupRepeats = 5
  /** A traced run starts its third deck only before this much JVM time. */
  val TracedRunCapMs = 100000L

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val plan = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(opt("plan"))), "UTF-8"))
    val (work, out, cores) = (opt("work"), opt("out"), opt("cores"))
    val traced = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.lake.TxnCboStats.install(spark)
    graft.lake.GeneratedPartitionPruning.install(spark)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = new Tracer(spark.sparkContext)
    val listener = new JobListener
    val wl = (plan \ "workload").asInstanceOf[JString].s match {
      case "lake_write" => new LakeWrite(spark, plan, work, tracer)
      case "read" => new Read(spark, plan, work, tracer)
    }
    val ops = mutable.ArrayBuffer.empty[OpRec]

    def runOp(op: JValue, phase: String, deck: Int): Unit = {
      val rec = new OpRec(ops.size, phase, deck, Workload.str(op, "kind"), tracer.on)
      ops += rec
      tracer.beginOp(rec.i)
      val written0 = Tracer.fsBytesWritten()
      val lake0 = LakeCounters.snapshot
      rec.t0 = System.nanoTime()
      try tracer.span("op", rec.kind)(wl.run(op, rec))
      catch { case NonFatal(e) => rec.error = e.toString }
      rec.t1 = System.nanoTime()
      rec.extra("fs_bytes_written") = Tracer.fsBytesWritten() - written0
      val lake1 = LakeCounters.snapshot
      lake1.foreach { case (k, v) => rec.extra(s"lake_$k") = v - lake0(k) }
      wl match {
        case w: LakeWrite => try w.versionOf(rec) catch { case NonFatal(_) => () }
        case _ => ()
      }
    }

    val prepareT0 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - prepareT0) / 1e9
    val setupS = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      wl.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    (plan \ "warm").children.foreach(op => runOp(op, "warm", -1))

    val decks = (plan \ "decks").children
    val box = new Box
    val timedDecks = (plan \ "timed_decks").asInstanceOf[JInt].num.toInt
    val start = System.nanoTime()
    var d = 0
    // the planned decks (a deck has the 20 ops a p50 needs); a traced run
    // traces every other deck, off-on-off at least, so the untraced decks
    // on both sides of a traced one give its overhead (the third deck only
    // while the run is well inside its time limit). The listener is
    // registered only while a traced deck runs.
    def more = d < timedDecks || traced && d < 3 && System.currentTimeMillis() - jvmStart < TracedRunCapMs
    while (more && d < decks.size) {
      tracer.on = traced && d % 2 == 1
      if (tracer.on) spark.sparkContext.addSparkListener(listener)
      decks(d).children.foreach(op => runOp(op, "timed", d))
      if (tracer.on) {
        ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      d += 1
    }
    val elapsedS = (System.nanoTime() - start) / 1e9
    tracer.on = false
    val (steal, iowait, external) = box.stop()
    val heapMb = heapAfterGcMb()

    val facts = wl.finish(out)
    writeLines(s"$out/ops.jsonl", ops.map(r => J(Map(
      "i" -> r.i, "phase" -> r.phase, "deck" -> r.deck, "kind" -> r.kind, "traced" -> r.traced,
      "t0" -> r.t0, "t1" -> r.t1, "error" -> r.error) ++ r.extra)))
    writeLines(s"$out/spans.jsonl", tracer.spans.map(s => J(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1, "bytes_written" -> s.bytesWritten))))
    writeLines(s"$out/jobs.jsonl", listener.jobs.values.map(j => J(Map(
      "job" -> j.id, "span" -> j.span, "t0_ms" -> j.t0, "t1_ms" -> j.t1, "tasks" -> j.tasks,
      "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
      "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes))))
    // maps span nanoTime onto the listener's epoch milliseconds
    val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/run.json"), J(Map(
      "session_s" -> sessionS, "prepare_s" -> prepareS, "setup_s" -> setupS, "elapsed_s" -> elapsedS, "decks" -> d,
      "decks_planned" -> decks.size, "heap_after_gc_mb" -> heapMb, "cores" -> cores.toInt,
      "clock_offset_ns" -> clockOffsetNs, "steal" -> steal, "iowait" -> iowait,
      "external_cpu" -> external) ++ facts))
    spark.stop()
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * blocks of collected broadcasts and shuffles only after a GC has
    * cleared their references, so the reading takes at least three
    * collections and repeats until it settles. */
  private def heapAfterGcMb(): Double = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(500)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (last, now, rounds) = (Long.MaxValue, collect(), 1)
    while ((rounds < 3 || now < last - (1L << 20)) && rounds < 6) {
      last = now
      now = collect()
      rounds += 1
    }
    now / 1048576.0
  }

  private def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
