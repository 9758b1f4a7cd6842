package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkEntry
import graft.mr.{Apps, MRJob}

/** One benchmark run in one process: set up a session, warm up (every op
  * a fixed number of times; the first outputs are written for checking),
  * run timed passes back to back, one client, until the time budget is
  * spent (at least three), then run every query op once more, untimed,
  * writing its output for a second check.
  *
  * The program is driven only through its public entry points
  * (`SparkEntry.queries`, `MRJob.mergedOutput` / `runToDir`, `Apps`), and
  * every layer is observed from outside: wall clocks around those calls, a
  * `SparkListener` whose job counts are attributed to the op that set the
  * job group, the block manager's storage report, and the files under the
  * run's own temp directory.
  *
  * With `--trace 1` the listener is attached on every other timed pass and
  * spans (workload → pass → op → phase → Spark job → stage) are kept in
  * memory and written to `spans.jsonl` at the end; the untraced passes of
  * the same run give the tracing overhead.
  *
  * Usage: Main --workload W --tables DIR --corpus DIR --out DIR --warmup N
  *             --seconds S --trace 0|1 --seed N [--corrupt mr|query]
  */
object Main {

  sealed trait Op { def name: String }
  /** A `SparkEntry.queries` entry: build `fn(spark, dir)`, materialize
    * through the noop sink, free its direct checkpoint. */
  final case class QueryOp(name: String) extends Op
  /** A MapReduce job over the corpus; `toDir` writes `mr-out-*` files. */
  final case class MrOp(name: String, app: String, toDir: Boolean) extends Op

  val NReduce = 10

  val workloads: Map[String, Seq[Op]] = Map(
    "mr_text" -> Seq(
      MrOp("mr_wc", "wc", toDir = false),
      MrOp("mr_index", "indexer", toDir = false),
      MrOp("mr_wc_dir", "wc", toDir = true)),
    "iterative" -> Seq("q105_semantic_dedup", "q247_durable_cf_restart").map(QueryOp))

  /** Pass number of the untimed pass after the timed ones (warm-up is 0). */
  val FinalPass = -1

  // ---------------------------------------------------------------- spans

  final case class Span(id: Long, parent: Long, kind: String, name: String,
                        start: Double, var end: Double,
                        attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty)

  /** In-memory span store. Times are epoch milliseconds, so harness spans
    * and the listener's job/stage times share one clock. */
  final class Tracer {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var next = 0L
    private val epochAtNano = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
    def now(): Double = epochAtNano + System.nanoTime() / 1e6
    def open(parent: Long, kind: String, name: String, start: Double = now()): Span =
      synchronized {
        next += 1
        val s = Span(next, parent, kind, name, start, Double.NaN)
        spans += s
        s
      }
  }

  /** Listener feeding the tracer: a job span whose parent is the span id
    * set as the job group, and a stage span per completed stage with its
    * task metrics summed (and its task durations, for skew). */
  final class SpanListener(tr: Tracer) extends SparkListener {
    private val jobSpans = mutable.Map.empty[Int, Span]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val taskDur = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    private val stageSums = mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.flatMap(_.toLongOption).getOrElse(0L)
      val s = tr.open(parent, "job", s"job ${e.jobId}", e.time.toDouble)
      jobSpans(e.jobId) = s
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.remove(e.jobId).foreach { s =>
        s.end = e.time.toDouble
        s.attrs("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val key = (e.stageId, e.stageAttemptId)
      taskDur.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        val sums = stageSums.getOrElseUpdate(key, mutable.Map.empty[String, Double].withDefaultValue(0.0))
        def add(k: String, v: Double): Unit = sums(k) += v
        add("run_ms", m.executorRunTime.toDouble)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("input_records", m.inputMetrics.recordsRead.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val key = (info.stageId, info.attemptNumber())
      val parent = stageJob.get(info.stageId).flatMap(j => jobSpans.get(j)).map(_.id).getOrElse(0L)
      val start = info.submissionTime.getOrElse(0L).toDouble
      val s = tr.open(parent, "stage", s"stage ${info.stageId}", start)
      s.end = info.completionTime.map(_.toDouble).getOrElse(tr.now())
      s.attrs("tasks") = info.numTasks
      stageSums.remove(key).foreach(_.foreach { case (k, v) => s.attrs(k) = v })
      taskDur.remove(key).foreach { d =>
        val sorted = d.sorted
        s.attrs("task_max_ms") = sorted.last
        s.attrs("task_median_ms") = sorted(sorted.size / 2)
      }
    }
  }

  /** Bytes that finished tasks read from input files; attached for every
    * timed pass, traced or not. */
  final class InputBytes extends SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
  }

  // ---------------------------------------------------------------- helpers

  def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  def treeStats(root: Path): (Long, Long, Long) =
    if (!Files.exists(root)) (0L, 0L, 0L) else {
      val st = Files.walk(root)
      try {
        var bytes, files, versions = 0L
        st.iterator().asScala.foreach { p =>
          if (Files.isRegularFile(p)) { files += 1; bytes += Files.size(p) }
          else if (p.getFileName.toString.matches("v\\d{6}")) versions += 1
        }
        (bytes, files, versions)
      } finally st.close()
    }

  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val ops = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val tablesDir = args("tables")
    val out = new File(args("out")).getAbsoluteFile
    val seconds = args("seconds").toDouble
    val warmup = args("warmup").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val seed = args("seed").toLong
    val corrupt = args.getOrElse("corrupt", "")
    val corruptQuery = if (corrupt == "query") ops.collectFirst { case QueryOp(n) => n } else None
    val corpus = Option(new File(args("corpus")).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".txt")).map(_.getAbsolutePath).sorted.toSeq
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tr = new Tracer
    val sessionReady = tr.now()

    val results = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    // Digesting MR output is the harness's work: it is queued and run after
    // the pass (or the warm-up) has ended, outside every timed region.
    val pendingChecks = mutable.ArrayBuffer.empty[() => Unit]
    def runChecks(): Unit = { pendingChecks.foreach(_()); pendingChecks.clear() }

    /** Run one op; returns its record. `check` writes query output for the
      * external check (warm-up and final pass); otherwise it goes to the
      * noop sink. Every MR output is digested later, by `runChecks`.
      * `parent` is the pass span. */
    def runOp(op: Op, pass: Int, check: Boolean, parent: Long): mutable.LinkedHashMap[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any]("op" -> op.name, "pass" -> pass, "check" -> check)
      val opSpan = tr.open(parent, "op", op.name)
      def phase[T](kind: String)(body: => T): T = {
        val s = tr.open(opSpan.id, kind, op.name)
        sc.setJobGroup(s.id.toString, s"${op.name} $kind")
        try body finally { s.end = tr.now(); rec(s"${kind}_s") = (s.end - s.start) / 1e3 }
      }
      def failed(e: Throwable): Unit = {
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] ${op.name} pass $pass FAILED: $e")
      }
      var merged: Seq[String] = Nil
      val mrOutDir = new File(out, s"mr-out/${results.size}") // one per execution
      try op match {
        case QueryOp(name) =>
          val fn = SparkEntry.queries(name)
          val pinsBefore = sc.getPersistentRDDs.keySet
          val df: DataFrame = phase("build")(fn(spark, tablesDir))
          rec("pins_created") = (sc.getPersistentRDDs.keySet -- pinsBefore).size
          rec("storage_mb") = storageMb(sc)
          phase("materialize") {
            if (check) {
              val dir = new File(out, s"results/${if (pass == 0) "warmup" else "final"}/$name").getPath
              val written = if (corruptQuery.contains(name)) df.limit(math.max(0, df.count().toInt - 1))
                else df
              written.coalesce(1).write.mode("overwrite").parquet(dir)
              rec("rows") = spark.read.parquet(dir).count()
            } else df.write.format("noop").mode("overwrite").save()
          }
          phase("free")(Bridge.freeIfDirectCheckpoint(df))
          rec("pins_leaked") = (sc.getPersistentRDDs.keySet -- pinsBefore).size
        case MrOp(_, app, toDir) =>
          val (mapf, reducef) = if (app == "wc") (Apps.WordCount.map, Apps.WordCount.reduce)
            else (Apps.InvertedIndex.map, Apps.InvertedIndex.reduce)
          phase("mr") {
            if (toDir) MRJob.runToDir(spark, corpus, mapf, reducef, NReduce, mrOutDir.getPath)
            else merged = MRJob.mergedOutput(spark, corpus, mapf, reducef, NReduce)
          }
      } catch { case NonFatal(e) => failed(e)
      } finally {
        sc.clearJobGroup()
        opSpan.end = tr.now()
        rec("wall_s") = (opSpan.end - opSpan.start) / 1e3
      }
      op match {
        case MrOp(_, app, toDir) if !rec.contains("error") => pendingChecks += (() => try {
          val lines = if (toDir) {
            val outs = mrOutDir.listFiles().filter(_.getName.startsWith("mr-out-"))
            rec("files") = outs.length
            outs.toSeq.flatMap(f => Files.readAllLines(f.toPath).asScala).filter(_.nonEmpty).sorted
          } else merged
          // Doc names are file URIs; compare by base name (they are unique).
          val norm = if (app == "indexer") lines.map { l =>
            val Array(k, n, docs) = l.split(" ", 3)
            s"$k $n ${docs.split(",").map(d => d.substring(d.lastIndexOf('/') + 1)).mkString(",")}"
          } else lines
          val emitted = if (corrupt == "mr" && app == "wc" && norm.nonEmpty)
            (norm.head + "0") +: norm.tail else norm
          rec("rows") = emitted.size
          rec("digest") = sha256(emitted)
        } catch { case NonFatal(e) => failed(e) })
        case _ =>
      }
      rec
    }

    val root = tr.open(0, "workload", workload, sessionReady)
    // Warm-up (pass 0): untimed, every op `warmup` times; the first run's
    // outputs are written for the check. Setup ends here.
    val warm = tr.open(root.id, "pass", "warmup")
    for (round <- 0 until warmup; op <- ops) results += runOp(op, 0, check = round == 0, warm.id)
    warm.end = tr.now()
    val setupEnd = warm.end
    runChecks()

    val listener = new SpanListener(tr)
    val inputBytes = new InputBytes
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    sc.addSparkListener(inputBytes)
    val cpu0 = osBean.getProcessCpuTime
    var checkCpu = 0L // the harness's own work between passes, not the program's
    val t0 = tr.now()
    var pass = 0
    // At least three passes, so a median exists and a trace run has traced
    // and untraced passes. Past that, a pass starts only if one more of the
    // median length ends inside the time budget.
    def medianPassMs = passes.map(_("wall_s").asInstanceOf[Double]).sorted
      .apply(passes.size / 2) * 1e3
    while (pass < 3 || tr.now() - t0 + medianPassMs <= seconds * 1e3) {
      pass += 1
      val on = traced && pass % 2 == 1
      if (on) sc.addSparkListener(listener)
      val ps = tr.open(root.id, "pass", s"pass $pass")
      rng.shuffle(ops).foreach(op => results += runOp(op, pass, check = false, ps.id))
      ps.end = tr.now()
      val c = osBean.getProcessCpuTime
      runChecks()
      checkCpu += osBean.getProcessCpuTime - c
      if (on) { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }
      else tr.spans.filterInPlace(_.id <= ps.id) // untraced: keep the pass span only
      passes += mutable.LinkedHashMap("pass" -> pass, "traced" -> on,
        "span" -> ps.id, "wall_s" -> (ps.end - ps.start) / 1e3)
    }
    val cpuS = (osBean.getProcessCpuTime - cpu0 - checkCpu) / 1e9
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(inputBytes)
    root.end = tr.now()
    if (!traced) tr.spans.clear()

    // Final pass, untimed: every query op once more with its output written
    // for the check, so repeated executions are checked too. MR ops are
    // checked on every execution already.
    val fin = tr.open(root.id, "pass", "final")
    ops.collect { case q: QueryOp => q }.foreach(op => results += runOp(op, FinalPass, check = true, fin.id))
    fin.end = tr.now()
    runChecks()

    val pinnedEnd = storageMb(sc)
    System.gc(); System.gc()
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val (dBytes, dFiles, dVersions) = treeStats(Paths.get(sys.props("java.io.tmpdir"), "graft-durable"))

    val summary = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_s" -> (setupEnd - jvmStartMs) / 1e3,
      "session_start_s" -> (sessionReady - jvmStartMs) / 1e3,
      "warmup_s" -> (setupEnd - sessionReady) / 1e3,
      "cpu_s" -> cpuS,
      "input_bytes" -> inputBytes.bytes.get,
      "heap_live_mb" -> heapLive,
      "pinned_mb_end" -> pinnedEnd,
      "durable_bytes" -> dBytes, "durable_files" -> dFiles, "durable_versions" -> dVersions,
      "passes" -> passes, "ops" -> results)
    def write(name: String, text: String): Unit = {
      val pw = new PrintWriter(new File(out, name), "UTF-8")
      try pw.println(text) finally pw.close()
    }
    write("result.json", json(summary))
    write("oracle_sql.json", json(ops.collect { case QueryOp(n) => n }
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    if (traced) write("spans.jsonl", tr.spans.map { s =>
      json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end) ++ s.attrs)
    }.mkString("\n"))
    spark.stop()
  }
}
