package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.{Sessions, SparkEntry}
import graft.ml.{LocalScorer, Registry, Scorer, Trainer}
import graft.model.Tables
import graft.operators.WindowOps
import graft.streaming.Streaming

/** The benchmark's Spark process. It drives the program only through its
  * public functions, on inputs `run.py` generated from the seed, and
  * writes one raw JSON file (samples, batch progress, checks, and in a
  * traced run spans and counters) that `run.py` turns into metrics.
  *
  * Phases: set-up, warm-up, an opening CPU calibration, the measured
  * phase, a closing calibration, then the output checks.
  */
object Harness {

  final class Args(m: Map[String, String]) {
    def s(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def i(k: String): Int = s(k).toInt
    def d(k: String): Double = s(k).toDouble
    def list(k: String): Seq[String] = s(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  def parseArgs(args: Array[String]): Args = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    new Args(args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
  }

  /** Everything a workload needs from the harness. */
  final class Ctx(val a: Args, val spans: Spans) {
    val runDir: String = a.s("run-dir")
    val cpus: Int = a.i("cpus")
    val seed: Int = a.i("seed")
    val seconds: Double = a.d("seconds")
    val traced: Boolean = spans.enabled
    val exec = new ExecCounters
    val actions = new ActionListener
    val progress = new ProgressLog

    def phase(spark: SparkSession, p: String): Unit =
      spark.sparkContext.setLocalProperty(exec.PhaseProp, p)
  }

  trait Workload {
    def setup(spark: SparkSession): Unit
    def warmup(spark: SparkSession): Unit
    def measure(spark: SparkSession): Map[String, Any]
    def check(spark: SparkSession): Seq[Map[String, Any]]
    /** Extra traced-only layer numbers taken outside the measured phase. */
    def traceExtras(spark: SparkSession): Map[String, Double] = Map.empty
  }

  def newSession(c: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      // the confs Bench times the program under
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its run directory
      .config("spark.local.dir", s"${c.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.runDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _ => -1L
  }

  /** Time the JIT compilers have spent compiling, summed over their threads. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A fixed CPU-bound job (xxhash64 over a range, no I/O), so a slow
    * epoch of the box shows in the result itself.
    */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    force(spark.range(0, 1L << 25, 1, cpus * 4).selectExpr("xxhash64(id) as h"))
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM, in MB (VmHWM); -1 where /proc is absent. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val out = a.s("out")
    val c = new Ctx(a, new Spans(a.i("trace") == 1))
    val result = mutable.LinkedHashMap[String, Any]()
    val code =
      try { run(c, result); 0 }
      catch {
        case e: Throwable =>
          result("fatal") = e.toString + "\n" +
            e.getStackTrace.take(20).mkString("\n")
          1
      }
    Files.writeString(Paths.get(out + ".tmp"), Json.render(result))
    Files.move(Paths.get(out + ".tmp"), Paths.get(out),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    sys.exit(code)
  }

  private def run(c: Ctx, result: mutable.Map[String, Any]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val kind = c.a.s("kind")
    val w: Workload = kind match {
      case "batch" => new BatchWorkload(c)
      case "live" => new FlagshipLive(c)
      case other => sys.error(s"unknown workload kind $other")
    }
    val spark = c.spans("setup") {
      val s = c.spans("setup.session")(newSession(c))
      w.setup(s)
      s
    }
    if (c.traced) {
      spark.sparkContext.addSparkListener(c.exec)
      spark.listenerManager.register(c.actions)
    }
    spark.streams.addListener(c.progress)
    val w0 = Clock.nowMs
    c.spans("warmup")(w.warmup(spark))
    // set-up as a user meets it: JVM launch to the first timed operation
    result("setup_s") = (Clock.nowMs - jvmStartMs) / 1000.0
    result("warmup_s") = (Clock.nowMs - w0) / 1000.0
    calibrate(spark, c.cpus) // compiles the calibration job's code
    result("calib_open_s") = calibrate(spark, c.cpus)
    if (c.traced) {
      Thread.sleep(200)
      c.actions.drain() // actions of the set-up, warm-up and calibration
    }
    val m0 = Clock.nowMs
    result("measured") = c.spans("measure")(w.measure(spark))
    val m1 = Clock.nowMs
    if (c.traced) {
      Thread.sleep(500) // let the listener bus deliver the last events
      // the micro-batch writes of a stream (batch queries took theirs)
      result("actions") = c.actions.summarize(c.actions.drain())
    }
    result("calib_close_s") = calibrate(spark, c.cpus)
    result("checks") = w.check(spark)
    if (c.traced) {
      result("exec") = c.exec.summary(m0, m1)
      result("trace_extras") = w.traceExtras(spark)
      result("spans") = c.spans.all
    }
    result("peak_rss_mb") = peakRssMb()
    result("context") = Map(
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "cpus" -> c.cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
    spark.stop()
  }

  private def ms(t0: Double): Double = Clock.nowMs - t0

  private def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")

  // ---------------------------------------------------------------- batch

  /** A fixed query set run in seed-permuted passes for about the measured
    * time (always at least one whole pass).
    */
  final class BatchWorkload(c: Ctx) extends Workload {
    private val dir = c.a.s("data")
    private val names = c.a.list("queries")
    private val checkDir = s"${c.runDir}/check"
    private val warmFailures = mutable.Map.empty[String, String]
    private val warmMs = mutable.Map.empty[String, Double]

    def setup(spark: SparkSession): Unit =
      names.flatMap(SparkEntry.provisions.get).foreach { p =>
        c.spans("SparkEntry.provisions")(p(spark, dir))
      }

    /** Two untimed passes: the first writes every result for the output
      * check, the second runs on code the JIT has compiled by then, so the
      * measured passes start near their steady speed.
      */
    def warmup(spark: SparkSession): Unit = {
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.writeString(Paths.get(s"${c.runDir}/oracle_sql.json"), Json.render(oracle))
      names.foreach { n =>
        val t0 = Clock.nowMs
        try {
          val df = SparkEntry.queries(n)(spark, dir)
          Sessions.autosizeFor(df)
          df.write.mode("overwrite").parquet(s"$checkDir/$n")
        } catch { case NonFatal(e) => warmFailures(n) = errorText(e) }
        warmMs(n) = ms(t0)
      }
      names.filterNot(warmFailures.contains).foreach { n =>
        try {
          val df = SparkEntry.queries(n)(spark, dir)
          Sessions.autosizeFor(df)
          force(df)
        } catch { case NonFatal(e) => warmFailures(n) = errorText(e) }
      }
    }

    def measure(spark: SparkSession): Map[String, Any] = {
      val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val start = Clock.nowMs
      // another pass only while it would end less than half a pass late
      def more(pass: Int): Boolean =
        pass == 0 || ms(start) * (1 + 0.5 / pass) < c.seconds * 1000
      var pass = 0
      while (more(pass)) {
        c.spans.unit = pass
        val order = new scala.util.Random(c.seed * 7919L + pass).shuffle(names)
        val cpu0 = cpuNs()
        val j0 = jitMs()
        val t0 = Clock.nowMs
        c.spans("pass")(order.foreach(n => samples += runQuery(spark, n, pass)))
        passes += Map("pass" -> pass, "start_ms" -> t0, "wall_s" -> ms(t0) / 1000,
          "cpu_s" -> (cpuNs() - cpu0) / 1e9, "queries" -> order.size,
          "jit_ms" -> (jitMs() - j0))
        pass += 1
      }
      Map("passes" -> passes.toSeq, "samples" -> samples.toSeq, "warm_ms" -> warmMs.toMap)
    }

    private def runQuery(spark: SparkSession, n: String, pass: Int): Map[String, Any] = {
      c.spans.query = n
      Sessions.clearDecisions()
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> pass, "query" -> n)
      val t0 = Clock.nowMs
      try c.spans("query") {
        c.phase(spark, "construct")
        val df = c.spans("SparkEntry.construct")(SparkEntry.queries(n)(spark, dir))
        rec("construct_ms") = ms(t0)
        c.phase(spark, "autosize")
        val t1 = Clock.nowMs
        c.spans("Sessions.autosize")(Sessions.autosizeFor(df))
        rec("autosize_ms") = ms(t1)
        c.phase(spark, "exec")
        val t2 = Clock.nowMs
        c.spans("exec.write") {
          force(df)
          if (c.traced) c.actions.nextOverwrite(5000).foreach { act =>
            val parent = c.spans.current
            Seq("analysis", "optimization", "planning").foreach { ph =>
              act.phases.get(ph).foreach { case (s, e) =>
                c.spans.add(s"plan.$ph", parent, s, e)
                rec(s"plan.${ph}_ms") = e - s
              }
            }
            rec("plan_metrics") = act.metrics
          }
        }
        rec("exec_ms") = ms(t2)
        rec("ok") = true
      } catch {
        case NonFatal(e) =>
          rec("ok") = false
          rec("error") = errorText(e)
      } finally c.phase(spark, null)
      rec("total_ms") = ms(t0)
      rec("decisions") = Sessions.decisions.size
      rec.toMap
    }

    /** Order-insensitive digest of a result: the sum of its rows' xxhash64
      * (as decimal, so it cannot overflow) and the row count.
      */
    private def digest(df: DataFrame): (BigDecimal, Long) = {
      val cols = df.columns.toSeq.map(n => col("`" + n.replace("`", "``") + "`"))
      val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
        .agg(sum(col("h")), count(lit(1))).head()
      (Option(r.getDecimal(0)).map(BigDecimal(_)).getOrElse(BigDecimal(0)), r.getLong(1))
    }

    /** The first warm-up pass's results are compared against the DuckDB oracle
      * by run.py. Queries with no oracle (`recheck`) run once more here and
      * must reproduce the warm-up result's digest.
      */
    def check(spark: SparkSession): Seq[Map[String, Any]] = {
      val recheck = c.a.list("recheck").toSet
      names.map { n =>
        warmFailures.get(n) match {
          case Some(err) => Map("name" -> n, "check" -> "runs", "ok" -> false, "detail" -> err)
          case None if recheck(n) =>
            try {
              val (h1, c1) = digest(spark.read.parquet(s"$checkDir/$n"))
              val df = SparkEntry.queries(n)(spark, dir)
              Sessions.autosizeFor(df)
              val (h2, c2) = digest(df)
              Map("name" -> n, "check" -> "digest", "ok" -> (c1 == c2 && h1 == h2),
                "rows" -> c1, "rerun_rows" -> c2)
            } catch {
              case NonFatal(e) =>
                Map("name" -> n, "check" -> "digest", "ok" -> false, "detail" -> errorText(e))
            }
          case None => Map("name" -> n, "check" -> "runs", "ok" -> true)
        }
      }
    }
  }

  // ------------------------------------------------------------- flagship

  /** The reference pipeline, click to bot verdict, as an open loop:
    * eventsStream → withLateness → hoppingPivot → scoredFlagshipWith →
    * changelogWriter under a processing-time trigger, while the generator
    * process writes event files on a fixed schedule. The measured phase
    * ends once every generated event has been processed.
    */
  final class FlagshipLive(c: Ctx) extends Workload {
    private val data = c.a.s("data")
    private val train = c.a.s("train")
    private val registryRoot = c.a.s("registry")
    private val stream = c.a.s("stream")
    private val lateness = c.a.s("lateness")
    private var dims: DataFrame = _
    private var counts: DataFrame = _
    private var batches: Seq[StreamingQueryProgress] = Nil

    /** Trains and registers the model, registers the predict UDF and
      * materializes the two static relations.
      */
    def setup(spark: SparkSession): Unit = {
      c.spans("ml.train") {
        Trainer.trainAndRegister(spark, train, new Registry(registryRoot),
          "Bot Detector", useCv = false)
      }
      c.spans("ml.register") {
        Scorer.registerPredictUdf(spark, registryRoot, preload = Seq("Bot Detector"))
      }
      val static = s"${c.runDir}/static"
      c.spans("SparkEntry.dims") {
        SparkEntry.flagshipDims(spark, data).write.parquet(s"$static/dims")
        SparkEntry.flagshipOrderCounts(spark, data).write.parquet(s"$static/counts")
      }
      dims = spark.read.parquet(s"$static/dims")
      counts = spark.read.parquet(s"$static/counts")
    }

    private def start(spark: SparkSession, eventsDir: String, name: String,
        trigger: Trigger, maxFiles: Option[Int] = None): StreamingQuery = {
      val scored = SparkEntry.scoredFlagshipWith(
        WindowOps.hoppingPivot(
          Streaming.withLateness(
            Streaming.eventsStream(spark, eventsDir, maxFiles), lateness),
          eventTypes = Tables.EventTypes),
        dims, counts)
      Streaming.changelogWriter(scored, s"${c.runDir}/$name/sink")
        .option("checkpointLocation", s"${c.runDir}/$name/checkpoint")
        .trigger(trigger).start()
    }

    /** A backlog in live-sized micro-batches, so the measured batches do
      * not run on code the JIT has not compiled yet.
      */
    def warmup(spark: SparkSession): Unit =
      start(spark, c.a.s("warm-backlog"), "warm", Trigger.AvailableNow(),
        Some(c.a.i("warm-files-per-batch"))).awaitTermination()

    def measure(spark: SparkSession): Map[String, Any] = {
      val files = c.a.i("files")
      val perFile = c.a.i("events-per-file")
      val period = c.a.d("period")
      c.spans.unit = 0
      val cpu0 = cpuNs()
      val j0 = jitMs()
      val t0 = Clock.nowMs
      val parent = c.spans.current
      val q = start(spark, stream, "live",
        Trigger.ProcessingTime(c.a.i("trigger-ms").toLong))
      // the first file is due once the generator process has started
      val genStart = Clock.nowMs / 1000 + 1.5
      val gen = new ProcessBuilder(
        c.a.s("python"), c.a.s("gen"), "stream", "--out", stream,
        "--seed", c.seed.toString, "--users", c.a.s("users"),
        "--files", files.toString, "--events-per-file", perFile.toString,
        "--period", period.toString, "--accel", c.a.s("accel"),
        "--ooo-share", c.a.s("ooo-share"), "--ooo-max-s", c.a.s("ooo-max-s"),
        "--log", s"${c.runDir}/generator.json", "--t0", f"$genStart%.3f")
        .redirectErrorStream(true)
        .redirectOutput(new File(s"${c.runDir}/generator.out"))
        .start()
      val total = files.toLong * perFile
      var genOk = false
      var drained = false
      try {
        genOk = gen.waitFor((files * period + 60).toLong,
          java.util.concurrent.TimeUnit.SECONDS) && gen.exitValue() == 0
        val deadline = Clock.nowMs + 30000
        while (genOk && !drained && q.exception.isEmpty && Clock.nowMs < deadline) {
          drained = c.progress.batches(q.id).map(_.numInputRows).sum >= total
          if (!drained) Thread.sleep(20)
        }
      } finally {
        if (gen.isAlive) { gen.destroyForcibly(); gen.waitFor() }
        q.stop()
      }
      val t1 = Clock.nowMs
      batches = committedBatches(q)
      val perBatch = filesPerBatch()
      Map("start_ms" -> t0, "end_ms" -> t1, "cpu_s" -> (cpuNs() - cpu0) / 1e9,
        "jit_ms" -> (jitMs() - j0),
        "generator_ok" -> genOk, "drained" -> drained, "events" -> total,
        "query_error" -> q.exception.map(e => errorText(e)),
        "batches" -> batches.map(batchRecord(_, perBatch, parent)))
    }

    /** Source files each batch read, from the query's file-source log. */
    private def filesPerBatch(): Map[Long, Seq[String]] = {
      val logDir = new File(s"${c.runDir}/live/checkpoint/sources/0")
      val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
      Option(logDir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
        .flatMap(f => Files.readAllLines(f.toPath).asScala)
        .flatMap(l => entry.findFirstMatchIn(l).map(m =>
          m.group(2).toLong -> new File(new java.net.URI(m.group(1)).getPath).getName))
        .distinct.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).sorted }
    }

    /** The progress of every committed batch, waiting for the listener
      * bus to deliver the last ones.
      */
    private def committedBatches(q: StreamingQuery): Seq[StreamingQueryProgress] = {
      val commits = Option(new File(s"${c.runDir}/live/checkpoint/commits").listFiles())
        .toSeq.flatten.map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
      val deadline = Clock.nowMs + 10000
      var b = c.progress.batches(q.id)
      while (b.count(p => commits.contains(p.batchId)) < commits.size &&
        Clock.nowMs < deadline) {
        Thread.sleep(20)
        b = c.progress.batches(q.id)
      }
      b
    }

    private def batchRecord(p: StreamingQueryProgress, files: Map[Long, Seq[String]],
        parent: Int): Map[String, Any] = {
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val endMs = startMs + d.getOrElse("triggerExecution", 0L)
      val st = p.stateOperators.toSeq
      if (c.traced) {
        // phases laid end to end in the order a micro-batch runs them
        val id = c.spans.add("streaming.batch", parent, startMs, endMs)
        var t = startMs
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { ph =>
          d.get(ph).foreach { v =>
            c.spans.add(s"streaming.$ph", id, t, math.min(endMs, t + v))
            t += v
          }
        }
      }
      Map(
        "batch" -> p.batchId, "start_ms" -> startMs, "end_ms" -> endMs,
        "input_rows" -> p.numInputRows, "files" -> files.getOrElse(p.batchId, Nil),
        "durations" -> d,
        "sink_rows" -> p.sink.numOutputRows,
        "state_rows_total" -> st.map(_.numRowsTotal).sum,
        "state_rows_updated" -> st.map(_.numRowsUpdated).sum,
        "state_rows_removed" -> st.map(_.numRowsRemoved).sum,
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
        "state_removal_ms" -> st.map(_.allRemovalsTimeMs).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark).sum)
    }

    /** The sink's compacted state must equal the batch pipeline over the
      * same files, and no row may be dropped by the watermark: the
      * generator plans all its out-of-order events inside the lateness.
      */
    def check(spark: SparkSession): Seq[Map[String, Any]] = {
      val expected = SparkEntry.scoredFlagshipWith(
        WindowOps.hoppingPivot(Tables.events(spark, stream),
          eventTypes = Tables.EventTypes), dims, counts)
      val got = Streaming.readChangelogState(
        spark, s"${c.runDir}/live/sink", Seq("user_id", "w_start"))
        .select(expected.columns.toSeq.map(col): _*)
      val missing = expected.exceptAll(got).count()
      val extra = got.exceptAll(expected).count()
      val dropped = batches.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      Seq(
        Map("name" -> "stream_equals_batch", "ok" -> (missing == 0 && extra == 0),
          "missing" -> missing, "extra" -> extra),
        Map("name" -> "no_unplanned_drops", "ok" -> (dropped == 0), "dropped" -> dropped))
    }

    /** The public LocalScorer.predict, timed on generated feature rows. */
    override def traceExtras(spark: SparkSession): Map[String, Double] = {
      val rows = Trainer.trainingFrame(spark, train)
        .select("country", "platform", "product_views", "listing_views",
          "gallery_views", "nb_orders")
        .limit(20000).collect()
        .map(r => (Seq(r.getString(0), r.getString(1)),
          Seq(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      val scorer = LocalScorer.compile(new Registry(registryRoot).load("Bot Detector"))
      val times = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        rows.foreach { case (s, i) => scorer.predict(s, i) }
        (System.nanoTime() - t0).toDouble / math.max(1, rows.length)
      }
      Map("predict_ns_per_row" -> times.sorted.apply(times.size / 2))
    }
  }
}
