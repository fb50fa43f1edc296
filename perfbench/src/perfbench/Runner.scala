package perfbench

import java.lang.management.ManagementFactory
import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.types.StructType

/** Closed-loop workload runner: one client, one query at a time.
  *
  * Usage: Runner --sf-dir D --keys k1,k2,.. --passes N --trace 0|1
  *               --cores C --out results.json [--spans spans.jsonl]
  *
  * Set-up starts the session and runs two untimed warm passes of the keys,
  * each in a throwaway `newSession()`. Each timed pass then runs in a fresh
  * `newSession()`, so the `(SparkSession, dir)`-keyed memo maps in
  * `graft.ops` start empty and the pass pays every derivation it needs.
  * Every query is materialized with `collect()`; its rows are digested
  * outside the timed span. The run makes `--passes` timed passes.
  *
  * With `--trace 1` passes alternate traced and untraced (ABBA order).
  * Traced passes tag every call into the program with a local property
  * (`perfbench.span` = pass/key/phase) that a `SparkListener` uses to
  * attribute jobs, stages and tasks to the construct, plan and action
  * spans; untraced passes give the tracing overhead. The results file is
  * read by `perfbench/run.py`, which checks digests and prints metrics.
  */
object Runner {
  val SpanProp = "perfbench.span"
  val WarmPasses = 2

  final class Counters {
    var jobs, stages, singleTaskStages, tasks = 0L
    var taskRunMs, taskGcMs, shuffleWrite, shuffleRead, spill = 0L
    var inputBytes, outputBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Attributes job, stage and task events to the span named by the job's
    * `perfbench.span` local property; events without one are counted as
    * unattributed. */
  final class SpanListener extends SparkListener {
    val bySpan = mutable.HashMap.empty[String, Counters]
    private val stageSpan = mutable.HashMap.empty[Int, String]
    var unattributedJobs = 0L

    private def counters(span: String) = bySpan.getOrElseUpdate(span, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))) match {
        case Some(span) =>
          counters(span).jobs += 1
          e.stageIds.foreach(stageSpan(_) = span)
        case None => unattributedJobs += 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach { span =>
        val c = counters(span)
        c.stages += 1
        if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = counters(span)
        c.tasks += 1
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  final case class QueryRec(
      pass: Int, key: String, traced: Boolean,
      startMs: Long, constructS: Double, planS: Double, actionS: Double,
      wallS: Double, actionStartMs: Long, actionEndMs: Long,
      error: Option[String], rows: Long, digest: String,
      planLines: Int, planExchanges: Int)

  final case class PassRec(pass: Int, traced: Boolean, startMs: Long,
      totalS: Double, storageMb: Double, persistedRdds: Int)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val sfDir = opts("--sf-dir")
    val keys = opts("--keys").split(",").toSeq
    val nPasses = opts("--passes").toInt
    val trace = opts.get("--trace").contains("1")
    val cores = opts("--cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val all = graft.SparkEntry.queries
    val unknown = keys.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")
    val fns = keys.map(k => k -> all(k))

    // Untimed warm passes, each in a throwaway session: class loading, JIT
    // and codegen are paid here, per-session derivations are not carried
    // over. One pass leaves the JIT immature: the first timed pass then
    // ran a fifth to a third slower than later ones, and how many passes
    // fit in a run swung the medians.
    for (_ <- 1 to WarmPasses) {
      val warm = spark.newSession()
      for ((k, fn) <- fns)
        try fn(warm, sfDir).collect()
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] warm $k ${e.getClass.getName}: ${e.getMessage}") }
    }
    val setupEndMs = System.currentTimeMillis()

    val listener = new SpanListener
    val queries = mutable.ArrayBuffer.empty[QueryRec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    for (p <- 0 until nPasses) {
      val traced = trace && (p % 4 == 0 || p % 4 == 3)
      // Collect the previous pass's garbage before the clock starts, so a
      // pass is not charged for its predecessor's debris.
      System.gc()
      val session = spark.newSession()
      if (traced) sc.addSparkListener(listener)
      val startMs = System.currentTimeMillis()
      val recs = fns.map { case (k, fn) => runQuery(sc, session, sfDir, p, k, fn, traced) }
      if (traced) {
        org.apache.spark.PerfBenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      queries ++= recs
      passes += PassRec(p, traced, startMs, recs.map(_.wallS).sum,
        storageMb(sc), sc.getPersistentRDDs.size)
    }

    val heapMb = retainedHeapMb()
    opts.get("--spans").foreach(writeSpans(_, queries.toSeq, passes.toSeq, listener))
    writeResults(opts("--out"), setupEndMs, heapMb, queries.toSeq, passes.toSeq,
      listener, cores)
    spark.stop()
  }

  private def runQuery(sc: SparkContext, s: SparkSession, dir: String, pass: Int,
      key: String, fn: (SparkSession, String) => DataFrame,
      traced: Boolean): QueryRec = {
    val span = s"$pass/$key"
    def tag(phase: String): Unit = if (traced) sc.setLocalProperty(SpanProp, s"$span/$phase")
    val startMs = System.currentTimeMillis()
    // Phase boundaries as reached: construct, plan, action. A query that
    // throws is charged its time-to-exception in the phase that threw.
    val marks = mutable.ArrayBuffer(System.nanoTime())
    def lap(): Unit = marks += System.nanoTime()
    def phase(i: Int) = if (i + 1 < marks.size) (marks(i + 1) - marks(i)) / 1e9 else 0.0
    var a0, a1 = 0L
    val outcome =
      try {
        tag("construct")
        val df = fn(s, dir)
        lap()
        tag("plan")
        // Traced passes force physical planning before the action so plan
        // time is separable; collect() reuses the same QueryExecution.
        if (traced) df.queryExecution.executedPlan
        lap()
        tag("action")
        a0 = System.currentTimeMillis()
        val rows = df.collect()
        lap()
        Right((df, rows))
      } catch { case e: Throwable =>
        lap()
        System.err.println(s"[perfbench] FAIL $key ${e.getClass.getName}: ${e.getMessage}")
        Left(e)
      } finally {
        a1 = System.currentTimeMillis()
        sc.setLocalProperty(SpanProp, null)
      }
    val wall = (marks.last - marks.head) / 1e9
    outcome match {
      case Right((df, rows)) =>
        val (lines, exchanges) =
          if (traced) {
            val p = df.queryExecution.explainString(FormattedMode)
            (p.count(_ == '\n'), "Exchange".r.findAllIn(p).size)
          } else (0, 0)
        QueryRec(pass, key, traced, startMs, phase(0), phase(1), phase(2), wall, a0, a1,
          None, rows.length, digest(df.schema, rows), lines, exchanges)
      case Left(e) =>
        QueryRec(pass, key, traced, startMs, phase(0), phase(1), phase(2), wall,
          if (a0 == 0) a1 else a0, a1, Some(e.getClass.getName), 0, "", 0, 0)
    }
  }

  /** Order-insensitive digest of collected rows: the schema plus the sorted
    * hashes of canonical row strings. Doubles round to 9 decimals, half-even
    * on the exact binary value, and NaN reads as NULL, matching
    * `tools/preverify.py`'s `norm_cell`. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    def h(s: String) = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val rowHashes = rows.map(r => hex(h(canon(r)).take(16))).sorted
    hex(h(schema.simpleString + "\n" + rowHashes.mkString("\n"))).take(32)
  }

  private def normDouble(d: Double): String =
    if (d.isNaN) "\u0000"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => normDouble(d)
    case f: Float => normDouble(f.toDouble)
    case b: JBigDecimal => normDouble(b.doubleValue)
    case b: scala.math.BigDecimal => normDouble(b.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted
        .mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case x => x.toString
  }

  private def storageMb(sc: SparkContext): Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Milliseconds of [a0, a1] during which no attributed task ran. */
  private def idleMs(a0: Long, a1: Long, intervals: Seq[(Long, Long)]): Long = {
    var busy = 0L
    var curEnd = a0
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, a0), math.min(e, a1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val start = math.max(s, curEnd)
      if (e > start) { busy += e - start; curEnd = e }
    }
    math.max(0L, (a1 - a0) - busy)
  }

  // ---- output -------------------------------------------------------------

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val js = v match {
      case null | None => "null"
      case Some(x) => q(x.toString)
      case s: String => q(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n => n.toString
    }
    q(k) + ":" + js
  }.mkString("{", ",", "}")

  private def spanCounters(l: SpanListener, span: String): Counters =
    l.synchronized(l.bySpan.getOrElse(span, new Counters))

  private def queryFields(r: QueryRec, l: SpanListener): Seq[(String, Any)] = {
    val base = Seq("pass" -> r.pass, "key" -> r.key, "traced" -> r.traced,
      "construct_s" -> r.constructS, "plan_s" -> r.planS, "action_s" -> r.actionS,
      "wall_s" -> r.wallS, "error" -> r.error, "rows" -> r.rows, "digest" -> r.digest)
    if (!r.traced) base
    else {
      val span = s"${r.pass}/${r.key}"
      val c = spanCounters(l, s"$span/construct")
      val p = spanCounters(l, s"$span/plan")
      val a = spanCounters(l, s"$span/action")
      base ++ Seq(
        "construct_jobs" -> c.jobs, "plan_jobs" -> p.jobs,
        "plan_lines" -> r.planLines, "plan_exchanges" -> r.planExchanges,
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "single_task_stages" -> a.singleTaskStages,
        "task_run_s" -> a.taskRunMs / 1e3, "task_gc_s" -> a.taskGcMs / 1e3,
        "idle_s" -> idleMs(r.actionStartMs, r.actionEndMs, a.taskIntervals.toSeq) / 1e3,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill,
        "input_bytes" -> (c.inputBytes + p.inputBytes + a.inputBytes),
        "output_bytes" -> (c.outputBytes + p.outputBytes + a.outputBytes))
    }
  }

  private def writeResults(path: String, setupEndMs: Long, heapMb: Double,
      queries: Seq[QueryRec], passes: Seq[PassRec], l: SpanListener,
      cores: Int): Unit = {
    val ps = passes.map(p => obj("pass" -> p.pass, "traced" -> p.traced,
      "total_s" -> p.totalS, "storage_mb" -> p.storageMb,
      "persisted_rdds" -> p.persistedRdds))
    val qs = queries.map(r => obj(queryFields(r, l): _*))
    val head = obj("setup_end_ms" -> setupEndMs, "retained_heap_mb" -> heapMb,
      "cores" -> cores, "unattributed_jobs" -> l.unattributedJobs)
    val json = head.dropRight(1) + ",\"passes\":" + ps.mkString("[", ",", "]") +
      ",\"queries\":" + qs.mkString("[", ",\n", "]") + "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  /** One JSONL line per span: traced passes, their queries, and each
    * query's construct / plan / action children with their counters. */
  private def writeSpans(path: String, queries: Seq[QueryRec], passes: Seq[PassRec],
      l: SpanListener): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      for (p <- passes if p.traced)
        out.println(obj("span" -> s"${p.pass}", "parent" -> null, "name" -> "pass",
          "start_ms" -> p.startMs, "dur_s" -> p.totalS))
      for (r <- queries if r.traced) {
        val span = s"${r.pass}/${r.key}"
        out.println(obj(Seq("span" -> span, "parent" -> s"${r.pass}", "name" -> "query",
          "start_ms" -> r.startMs, "dur_s" -> r.wallS) ++ queryFields(r, l): _*))
        for ((phase, dur) <- Seq("construct" -> r.constructS, "plan" -> r.planS,
            "action" -> r.actionS)) {
          val c = spanCounters(l, s"$span/$phase")
          out.println(obj("span" -> s"$span/$phase", "parent" -> span, "name" -> phase,
            "dur_s" -> dur, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "task_run_s" -> c.taskRunMs / 1e3))
        }
      }
    } finally out.close()
  }
}
