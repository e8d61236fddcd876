package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.engine.{ExecutionRecord, FsUtils, Journal, RunnerMain, ScriptCompiler, ScriptJobs}

/** Benchmark driver for one workload run. Generated inputs come in, raw
  * measurements go out as `<work>/result.json`; `perfbench/run.py` turns
  * them into metrics and checks the outputs against the DuckDB oracles.
  *
  * Usage: `perfbench.Main --workload <name> --data <dir> --work <dir>
  *   --seconds <s> --trace <0|1> [--steady a,b] [--lifecycle c,d]
  *   [--inject throw,wrong]`
  */
object Main {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def list(k: String): Seq[String] =
      kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val c0 = System.currentTimeMillis()
    val canaryStart = Canary.ms()
    val canarySpan = System.currentTimeMillis() - c0
    val traced = opts("trace") == "1"
    val tracer = new Tracer(traced, s"${opts("workload")}-${opts("seed")}")
    val work = opts("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.configure(spark)

    val counters = new Counters
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"), "seed" -> opts("seed"), "cpus" -> cpus,
      "canary_start_ms" -> canaryStart)
    val run = new Run(spark, opts, tracer, counters, result)
    val setupEnd = opts("workload") match {
      case "runner_journal" => run.runner()
      case _ => run.batch()
    }
    // setup_s: process start until the first timed pass, minus the canary
    result("setup_s") = (setupEnd - jvmStartMs - canarySpan) / 1000.0
    result("canary_end_ms") = Canary.ms()
    if (traced) {
      val spans = s"$work/spans.jsonl"
      tracer.write(spans)
      result("spans_file") = spans
      result("self_s") = tracer.selfSeconds
    }
    result("peak_rss_mb") = Rss.peakMb()
    Files.write(Paths.get(s"$work/result.json"), Json(result).getBytes(UTF_8))
    spark.stop()
  }
}

/** A fixed in-process CPU loop; its time at run start and run end shows
  * whether the host got busier while the run measured.
  */
object Canary {
  private def loop(): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < 10000000) { h = 31 * h + (i ^ (h >>> 17)); i += 1 }
    h
  }

  /** Median of 7 timed loops, after 5 untimed ones that get it compiled. */
  def ms(): Double = {
    var sink = 0L
    (1 to 5).foreach(_ => sink ^= loop())
    val xs = (1 to 7).map { _ =>
      val t0 = System.nanoTime(); sink ^= loop(); (System.nanoTime() - t0) / 1e6
    }.sorted
    if (sink == 42L) println() // keeps the loop from being optimized away
    xs(3)
  }
}

object Rss {
  def peakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Journal that times every readiness lookup and save it serves. */
final class TimedJournal(spark: SparkSession, val dir: String, tracer: Tracer) extends Journal(spark, dir) {
  var readyMicros = 0L
  var readyCalls = 0
  var saveMicros = 0L
  val saved = mutable.ArrayBuffer.empty[ExecutionRecord]

  def reset(): Unit = { readyMicros = 0L; readyCalls = 0; saveMicros = 0L; saved.clear() }

  override def lastExecution(path: String): Option[ExecutionRecord] = {
    val t0 = Clock.micros()
    try tracer.span("journal.lastExecution", "engine.ready")(super.lastExecution(path))
    finally { readyMicros += Clock.micros() - t0; readyCalls += 1 }
  }

  override def save(rec: ExecutionRecord): Unit = {
    val t0 = Clock.micros()
    try tracer.span("journal.save", "engine.save")(super.save(rec))
    finally { saveMicros += Clock.micros() - t0; saved += rec }
  }

  def files: Int =
    Option(new File(dir).listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
}

final class Run(spark: SparkSession, opts: Main.Opts, tracer: Tracer,
    counters: Counters, result: mutable.LinkedHashMap[String, Any]) {

  private val data = opts("data")
  private val work = opts("work")
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"

  private def freeBlocks(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def err(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  // ---------------------------------------------------------------- tracing

  private def attach(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters.sql)
  }

  private def detach(): Unit = {
    BusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters.sql)
  }

  /** Opens a counting window; the returned function drains the listener
    * bus and gives the counters added since, with job busy time inside it.
    */
  private def window(): () => Map[String, Any] = {
    val before = counters.snapshot()
    val t0 = System.currentTimeMillis()
    () => {
      BusAccess.drain(spark.sparkContext)
      val t1 = System.currentTimeMillis()
      val delta = counters.snapshot().map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      delta ++ Map("job_busy_ms" -> Intervals.busy(counters.jobIntervals.asScala, t0, t1),
        "wall_ms" -> (t1 - t0))
    }
  }

  /** Runs `body` with the listeners attached and returns its counters. */
  private def counted(body: => Unit): Map[String, Any] = {
    attach()
    val close = window()
    try { body; close() } finally detach()
  }

  /** Closed loop: `pass(i, tracedPass)` until `seconds` have gone by, at
    * least `minPasses` times, and until `whole(count)` holds. A traced run
    * alternates untraced and traced passes, starting untraced; with an odd
    * count, each traced pass has an untraced one on both sides, against
    * which its tracing overhead is measured.
    */
  private def loop(minPasses: Int, whole: Int => Boolean)(
      pass: (Int, Boolean) => Map[String, Any]): Seq[Map[String, Any]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (System.nanoTime() < deadline || i < minPasses || !whole(i)) {
      val t = traced && i % 2 == 1
      out += pass(i, t)
      i += 1
    }
    out.toSeq
  }

  // ---------------------------------------------------------------- batch

  private def entryFn(name: String): (SparkSession, String) => DataFrame = name match {
    case "selftest_throw" =>
      (_, _) => throw new IllegalStateException("deliberately throwing entry")
    case "selftest_wrong" =>
      // q01's plan minus one group: a deliberately wrong answer for q01's oracle
      (s, d) => SparkEntry.queries("q01_pricing_summary")(s, d).limit(1)
    case n => SparkEntry.queries(n)
  }

  /** Steady then lifecycle entries; returns the setup end (epoch ms). */
  def batch(): Long = {
    val steady = opts.list("steady") ++ opts.list("inject").map("selftest_" + _)
    val lifecycle = opts.list("lifecycle")
    val flagged = SparkEntry.lifecycleQueries
    lifecycle.filterNot(flagged).foreach(n => sys.error(s"$n is not a lifecycle entry"))
    steady.filter(flagged).foreach(n => sys.error(s"$n is a lifecycle entry"))
    val entries = steady.map(_ -> false) ++ lifecycle.map(_ -> true)
    val fns = entries.map { case (n, _) => n -> entryFn(n) }.toMap

    // warm-up pass, which is also the correctness pass: every entry's
    // output goes to parquet for the oracle compare
    val gate = entries.map { case (name, _) =>
      val ok = try {
        fns(name)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/out/$name")
        None
      } catch { case e: Throwable => Some(err(e)) }
      freeBlocks()
      mutable.LinkedHashMap("name" -> name, "error" -> ok)
    }
    result("gate") = gate
    val oracle = entries.map(_._1).flatMap { n =>
      SparkEntry.oracleSql.get(if (n == "selftest_wrong") "q01_pricing_summary" else n).map(n -> _)
    }
    result("oracles") = mutable.LinkedHashMap(oracle: _*)
    val setupEnd = System.currentTimeMillis()

    val passes = loop(if (traced) 3 else 2, n => !traced || n % 2 == 1) { (i, tracedPass) =>
      val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
      def runPass(): Unit = tracer.span(s"pass $i", "bench") {
        entries.foreach { case (name, lc) =>
          val close = if (tracedPass) Some(window()) else None
          var build = 0L
          var exec = 0L
          val error = tracer.span(name, "queries.entry") {
            try {
              val t0 = System.nanoTime()
              val df = tracer.span("build", "queries.build")(fns(name)(spark, data))
              val t1 = System.nanoTime()
              build = t1 - t0
              tracer.span("exec", "spark.exec")(df.write.format("noop").mode("overwrite").save())
              exec = System.nanoTime() - t1
              None
            } catch { case e: Throwable => Some(err(e)) }
          }
          freeBlocks()
          rows += Map("name" -> name, "lifecycle" -> lc, "build_s" -> build / 1e9,
            "exec_s" -> exec / 1e9, "error" -> error,
            "counters" -> close.map(_()).getOrElse(Map.empty))
        }
      }
      val t0 = System.nanoTime()
      val cnt = if (tracedPass) counted(runPass()) else { runPass(); Map.empty[String, Any] }
      Map("traced" -> tracedPass, "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "entries" -> rows.toSeq, "counters" -> cnt)
    }
    result("passes") = passes
    setupEnd
  }

  // ---------------------------------------------------------------- runner

  /** Ticks `RunnerMain.tick` over the generated scripts directory with a
    * clock one day ahead per tick, so every job is due every tick.
    */
  def runner(): Long = {
    val scripts = s"$work/scripts"
    val journal = new TimedJournal(spark, s"$scripts/.journal", tracer)
    val fs = new FsUtils(spark)
    var compileMicros = 0L
    val compile: String => (SparkSession => Any) = src => {
      val t0 = Clock.micros()
      try tracer.span("compile", "engine.compile")(ScriptCompiler.compileTask(src))
      finally compileMicros += Clock.micros() - t0
    }
    val scalaJobs = new ScriptJobs[SparkSession => Any](compile, fs.mtime, fs.cat)
    val day = 24L * 3600L * 1000L
    var offset = 0L
    val clock = () => System.currentTimeMillis() + offset
    val hotTemplate = new String(Files.readAllBytes(Paths.get(s"$work/hot.scala.tmpl")), UTF_8)
    val hot = new File(s"$scripts/hot.scala")
    val hotEvery = opts("hot-every").toInt
    require(hotEvery % 2 == 1, "--hot-every must be odd")
    var hotVersion = 0
    def writeHot(v: Int): Unit = {
      val before = hot.lastModified()
      Files.write(hot.toPath, hotTemplate.replace("__VERSION__", v.toString).getBytes(UTF_8))
      // the runner recompiles on an mtime change: make sure there is one
      hot.setLastModified(math.max(System.currentTimeMillis(), before + 1000L))
      hotVersion = v
    }
    writeHot(0)

    def oneTick(i: Int, tracedTick: Boolean): Map[String, Any] = {
      if (i > 0 && i % hotEvery == 0) writeHot(i / hotEvery)
      offset += day
      journal.reset()
      compileMicros = 0L
      val files = journal.files
      var error: Option[String] = None
      val t0 = Clock.micros()
      def body(): Unit = tracer.span(s"tick $i", "engine.tick") {
        val tickSpan = tracer.current
        // job outcomes are read back from the journal records the tick saved
        try RunnerMain.tick(spark, scripts, journal, scalaJobs, clock)
        catch { case e: Throwable => error = Some(err(e)) }
        journal.saved.foreach { r =>
          val name = r.path.substring(r.path.lastIndexOf('/') + 1)
          val id = tracer.add(s"job $name", Run.jobLayer(name), tickSpan,
            (r.startedAt - offset) * 1000L, (r.finishedAt - offset) * 1000L)
          tracer.adopt(id)
        }
      }
      val cnt = if (tracedTick) counted(body()) else { body(); Map.empty[String, Any] }
      val tickMicros = Clock.micros() - t0
      Map("tick" -> i, "traced" -> tracedTick, "tick_ms" -> tickMicros / 1e3,
        "ready_ms" -> journal.readyMicros / 1e3, "ready_calls" -> journal.readyCalls,
        "save_ms" -> journal.saveMicros / 1e3, "compile_ms" -> compileMicros / 1e3,
        "journal_files" -> files, "error" -> error,
        "jobs" -> journal.saved.toSeq.map { r =>
          Map("path" -> r.path, "status" -> r.status, "result" -> r.result,
            "job_ms" -> (r.finishedAt - r.startedAt).toDouble)
        },
        "counters" -> cnt)
    }

    // Two warm-up ticks: the first compiles every script and runs each job
    // once; readiness lookups still speed up sharply on the second.
    result("warmup") = tracer.muted(Seq(oneTick(-1, tracedTick = false), oneTick(0, tracedTick = false)))
    val setupEnd = System.currentTimeMillis()
    // Whole rewrite cycles only, so every run has the same share of recompile
    // ticks. A traced run alternates, so its cycle is twice as long, plus a
    // closing untraced tick; with `hotEvery` odd, its traced ticks and the
    // untraced ticks beside them weigh the rewrites equally.
    val cycle = if (traced) 2 * hotEvery else hotEvery
    val closing = if (traced) 1 else 0
    val ticks = loop(cycle + closing, _ % cycle == closing)((i, t) => oneTick(i + 1, t))
    result("ticks") = ticks
    result("final_hot_version") = hotVersion
    result("oracles") = Seq("http_get_echo", "kv_get_enrich", "kf_push_roundtrip")
      .map(n => n -> SparkEntry.oracleSql(n)).toMap
    if (traced) result("ready_probe") = readyProbe(journal.dir)
    setupEnd
  }

  /** Readiness cost against journals holding the first k record files of
    * the history, k from 0 to all: the O(history) curve of `lastExecution`.
    */
  private def readyProbe(journalDir: String): Seq[Map[String, Any]] = {
    val files = new File(journalDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val sizes = Seq(0, files.length / 4, files.length / 2, files.length)
    sizes.map { k =>
      val dir = new File(s"$work/probe/h$k")
      dir.mkdirs()
      files.take(k).foreach(f => Files.copy(f.toPath, dir.toPath.resolve(f.getName)))
      val j = new Journal(spark, dir.getPath)
      val ms = (1 to 5).map { _ =>
        val t0 = Clock.micros(); j.lastExecution("probe"); (Clock.micros() - t0) / 1e3
      }.sorted
      Map("files" -> k, "ready_ms" -> ms(2))
    }
  }
}

object Run {
  /** Layer a runner job belongs to, by script name. */
  def jobLayer(name: String): String =
    if (name.endsWith(".sql")) "etl.sql" else if (name.startsWith("hot")) "engine.job" else "connectors.job"
}
