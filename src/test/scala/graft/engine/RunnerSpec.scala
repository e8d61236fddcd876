package graft.engine

import java.nio.file.Files
import java.time.Duration

import graft.SparkSpec

class RunnerSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-journal").toString + "/journal"

  test("journal save + lastExecution by path") {
    val j = new Journal(spark, tmpDir())
    assert(j.lastExecution("jobA").isEmpty)
    j.save(ExecutionRecord("jobA", 100L, 110L, "r1", "SUCCEED"))
    j.save(ExecutionRecord("jobA", 200L, 220L, "r2", "FAILED"))
    j.save(ExecutionRecord("jobB", 150L, 160L, "r3", "SUCCEED"))
    val last = j.lastExecution("jobA").get
    assert(last.startedAt === 200L)
    assert(last.status === "FAILED")
    assert(j.history("jobA").map(_.startedAt) === Seq(100L, 200L))
  }

  test("runner gates jobs by interval against the journal") {
    var now = 1000000L
    val j = new Journal(spark, tmpDir())
    val runner = new Runner(spark, j, clock = () => now)
    var runs = 0
    runner.register(Job("tick", Duration.ofMinutes(1), _ => { runs += 1; "ok" }))

    assert(runner.runOnce() === Seq("tick" -> "SUCCEED"))
    assert(runs === 1)
    // within the interval: gated
    now += 30000
    assert(runner.runOnce() === Seq.empty)
    assert(runs === 1)
    // past the interval: runs again
    now += 40000
    assert(runner.runOnce() === Seq("tick" -> "SUCCEED"))
    assert(runs === 2)
  }

  test("runner journals failures and keeps going") {
    var now = 5000000L
    val j = new Journal(spark, tmpDir())
    val runner = new Runner(spark, j, clock = () => now)
    runner.register(Job("boom", Duration.ZERO, _ => throw new RuntimeException("nope")))
    runner.register(Job("fine", Duration.ZERO, _ => 42))
    assert(runner.runOnce().toMap === Map("boom" -> "FAILED", "fine" -> "SUCCEED"))
    assert(j.lastExecution("boom").get.status === "FAILED")
    assert(j.lastExecution("boom").get.result === "nope")
    assert(j.lastExecution("fine").get.result === "42")
  }

  test("loop honours the ticks bound, halts on the tick where `stop` " +
      "fires, and journals every tick's outcome") {
    var now = 9000000L
    val j = new Journal(spark, tmpDir())
    val runner = new Runner(spark, j, clock = () => { now += 1; now })
    var runs = 0
    runner.register(Job("job", Duration.ZERO, _ => {
      runs += 1
      if (runs == 5) throw new RuntimeException("fifth") else runs
    }))
    val stopOnFailure = (rs: Seq[(String, String)]) => rs.exists(_._2 == "FAILED")
    // stop never fires: exactly `ticks` ticks run
    assert(runner.loop(ticks = 3, tickMs = 0, stop = stopOnFailure) === 3)
    assert(runs === 3)
    // the 5th run fails on this loop's 2nd tick: the loop halts there
    assert(runner.loop(ticks = 10, tickMs = 0, stop = stopOnFailure) === 2)
    assert(runs === 5)
    assert(j.history("job").map(r => r.status -> r.result) ===
      (1 to 4).map(i => "SUCCEED" -> i.toString) :+ ("FAILED" -> "fifth"))
  }

  test("ScriptJobs recompiles only when mtime changes, closes old instances") {
    var mtime = 1L
    var src = "v1"
    var compiles = 0
    var closed = List.empty[String]
    class Inst(val v: String) extends AutoCloseable {
      def close(): Unit = closed ::= v
    }
    val jobs = new ScriptJobs[Inst](
      compile = s => { compiles += 1; new Inst(s) },
      mtimeOf = _ => mtime,
      read = _ => src)
    assert(jobs.instance("/p").v === "v1")
    assert(jobs.instance("/p").v === "v1")
    assert(compiles === 1)
    mtime = 2L; src = "v2"
    assert(jobs.instance("/p").v === "v2")
    assert(compiles === 2)
    assert(closed === List("v1"))
  }

  test("ScriptCompiler compiles and runs a task function") {
    val fn = ScriptCompiler.compileTask(
      "(spark: SparkSession) => spark.range(5).count()")
    assert(fn(spark) === 5L)
  }

  test("ScriptCompiler ENFORCES the plan-only contract (r19 verdict #3): " +
      "a plan-declaring script is accepted; a script whose returned plan " +
      "captures a toolbox-generated closure (typed map lambda / UDF) is " +
      "refused at eval time, before the cluster CNFE it would become") {
    // accepted: a declarative plan — Column expressions serialize as
    // Catalyst trees, no script-generated class travels to executors
    val plan = ScriptCompiler.compileTask(
      "(spark: SparkSession) => spark.range(5).select((col(\"id\") * 2)" +
        ".as(\"v\")).filter(col(\"v\") > 2)")(spark)
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(plan.count() === 3L)
    // refused: a typed map whose lambda class exists only in the
    // toolbox's in-memory classloader
    val mapped = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { import spark.implicits._; " +
          "spark.range(5).map(x => x * 2) }")(spark)
    }
    assert(mapped.getMessage.contains("script-generated class"))
    // refused: a script-defined UDF — same driver-only class, hidden
    // one level deeper (inside ScalaUDF.function)
    val udfed = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { val f = udf((x: Long) => x + 1); " +
          "spark.range(5).select(f(col(\"id\")).as(\"v\")) }")(spark)
    }
    assert(udfed.getMessage.contains("script-generated class"))
    // non-Dataset results pass through untouched
    assert(ScriptCompiler.compileTask(
      "(spark: SparkSession) => spark.range(3).count()")(spark) === 3L)
    // refused: the closure hidden behind a TEMP-VIEW indirection — only
    // the ANALYZED plan substitutes the view; the raw logical plan shows
    // just an UnresolvedRelation (review-pass finding)
    val viewed = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { import spark.implicits._; " +
          "spark.range(5).map(_ * 2).createOrReplaceTempView(\"pv_gate\"); " +
          "spark.sql(\"select * from pv_gate\") }")(spark)
    }
    assert(viewed.getMessage.contains("script-generated class"))
    // refused: a Dataset NESTED in the result (tuple) — the gate walks
    // result containers, not just a top-level Dataset
    val nested = intercept[IllegalArgumentException] {
      ScriptCompiler.compileTask(
        "(spark: SparkSession) => { import spark.implicits._; " +
          "(42, Seq(spark.range(5).map(_ + 1))) }")(spark)
    }
    assert(nested.getMessage.contains("script-generated class"))
    // accepted: plan-declaring Datasets nested in containers
    val ok = ScriptCompiler.compileTask(
      "(spark: SparkSession) => (1, spark.range(4).select(col(\"id\")))")(
      spark).asInstanceOf[(Int, org.apache.spark.sql.DataFrame)]
    assert(ok._2.count() === 4L)
  }

  test("FsUtils cat/write/append/ls/mtime on local fs") {
    val fs = new FsUtils(spark)
    val dir = Files.createTempDirectory("graft-fs").toString
    val f = s"$dir/a.txt"
    assert(!fs.exists(f))
    fs.write(f, "hello")
    assert(fs.cat(f) === "hello")
    fs.append(f, " world")
    assert(fs.cat(f) === "hello world")
    assert(fs.ls(dir).exists(_.endsWith("a.txt")))
    assert(fs.mtime(f) > 0)
  }

  test("FsUtils mv/cp: rename moves recursively and fails loudly on a " +
      "missing source; cp snapshots a directory tree leaving the source " +
      "intact (the checkpoint-snapshot primitives of the replay gates)") {
    val fs = new FsUtils(spark)
    val dir = Files.createTempDirectory("graft-fsmv").toString
    fs.write(s"$dir/src/a/x.txt", "one")
    fs.write(s"$dir/src/y.txt", "two")
    // cp: full tree copied, source untouched
    fs.cp(s"$dir/src", s"$dir/snap")
    assert(fs.cat(s"$dir/snap/a/x.txt") === "one")
    assert(fs.cat(s"$dir/snap/y.txt") === "two")
    assert(fs.cat(s"$dir/src/a/x.txt") === "one")
    // the snapshot is independent: mutating the source after the copy
    // must not leak into it (the crash-simulation rollback relies on it)
    fs.write(s"$dir/src/y.txt", "TWO'")
    assert(fs.cat(s"$dir/snap/y.txt") === "two")
    // an EXISTING destination is refused (ADVICE r19): FileUtil.copy
    // would MERGE the trees, silently contaminating the snapshot with
    // leftover state — replacement must be an explicit rm-then-cp
    val dup = intercept[IllegalArgumentException] {
      fs.cp(s"$dir/src", s"$dir/snap")
    }
    assert(dup.getMessage.contains("already exists"))
    assert(fs.cat(s"$dir/snap/y.txt") === "two",
      "refused cp must leave the existing destination untouched")
    // mv: tree moves, source gone
    fs.mv(s"$dir/src", s"$dir/moved")
    assert(!fs.exists(s"$dir/src"))
    assert(fs.cat(s"$dir/moved/a/x.txt") === "one")
    // a missing source must throw, never silently no-op (a silent rename
    // failure mid-swap would leave saveIndex's torn states undetected).
    // The exception TYPE is filesystem-dependent (local fs throws
    // FileNotFoundException before our require sees false) — loudness is
    // the contract, not the class
    intercept[Exception] {
      fs.mv(s"$dir/nope", s"$dir/other")
    }
  }
}
