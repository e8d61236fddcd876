package graft.engine

import java.time.Duration
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The "Spark Runner" restated (reference:
  * data-process/spark-process/src/main/scala/process/InterpreterLoader.scala:106-152,
  * process/ScriptHelper.scala:41-115): a driver-resident scheduler that runs
  * registered jobs on a tick, gated by a per-job ISO-8601 interval against
  * the execution journal, with `Closeable` cleanup on job replacement.
  *
  * Differences from the reference, by design:
  *  - jobs are compiled functions first (type-safe registry); hot-compiled
  *    scripts are the optional path via [[ScriptJobs]] — inverted from the
  *    reference, which only had interpreted scripts;
  *  - journal gating + persistence in one place, not spread over
  *    ScriptHelper/HiveBeeLine/RecordDao.
  */
final case class Job(
    name: String,
    /** Minimum time between runs, reference default PT1M
      * (reference: annotation/ProcDescription.java:20).
      */
    interval: Duration,
    fn: SparkSession => Any)

class Runner(spark: SparkSession, journal: Journal,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val jobs = TrieMap.empty[String, Job]

  def register(job: Job): Unit =
    jobs.put(job.name, job).foreach {
      case old if old.fn.isInstanceOf[AutoCloseable] =>
        // superseded Closeable instance cleanup (reference: ScriptHelper.scala:113-115)
        old.fn.asInstanceOf[AutoCloseable].close()
      case _ =>
    }

  /** Interval gating against the journal
    * (reference: ScriptHelper.isReady, ScriptHelper.scala:41-50).
    */
  def isReady(job: Job): Boolean =
    journal.lastExecution(job.name) match {
      case Some(last) => clock() - last.startedAt >= job.interval.toMillis
      case None => true
    }

  /** One tick: run every ready job, journal each outcome; returns
    * (name, status) per attempted job.
    */
  def runOnce(): Seq[(String, String)] =
    jobs.values.toSeq.sortBy(_.name).filter(isReady).map { job =>
      val started = clock()
      val (status, result) =
        try { val r = job.fn(spark); ("SUCCEED", String.valueOf(r)) }
        catch { case e: Exception => ("FAILED", String.valueOf(e.getMessage)) }
        // a job's terminal action is inside fn by contract, so this IS the
        // materialization boundary: release engine-owned operator pins
        // (graft.Pins) or a ticking scheduler stacks MEMORY_AND_DISK
        // blocks faster than GC-driven cleanup clears them. User-level
        // df.cache() is untouched — only pins routed through Pins.pin.
        finally graft.Pins.unpinAll()
      journal.save(ExecutionRecord(job.name, started, clock(), result, status))
      job.name -> status
    }

  /** Scheduler loop, reference tick = 1 minute
    * (reference: InterpreterLoader.scala:25,127-131). Bounded for testability.
    * The reference stops when the *entrance script* returns a Throwable;
    * here a `stop` predicate over a tick's results generalizes that, and the
    * loop halts on the tick where it fires. Returns the ticks run.
    */
  def loop(ticks: Int, tickMs: Long = 60000L,
      stop: Seq[(String, String)] => Boolean = _ => false): Int = {
    var i = 0
    var halted = false
    while (i < ticks && !halted) {
      val results = runOnce()
      halted = stop(results)
      i += 1
      if (i < ticks && !halted) Thread.sleep(tickMs)
    }
    i
  }
}

/** Mtime-keyed hot reload of script jobs
  * (reference: ScriptHelper.getTaskInstance cache, ScriptHelper.scala:52-88):
  * a script file is re-compiled only when its modification time changes;
  * the previous instance is closed if Closeable.
  */
class ScriptJobs[T](compile: String => T, mtimeOf: String => Long,
    read: String => String) {

  private case class Cached(mtime: Long, instance: T)
  private val cache = TrieMap.empty[String, Cached]

  /** Current instance for `path`, recompiling when mtime changed. */
  def instance(path: String): T = {
    val m = mtimeOf(path)
    cache.get(path) match {
      case Some(c) if c.mtime == m => c.instance
      case prev =>
        val fresh = compile(read(path))
        prev.map(_.instance).foreach {
          case c: AutoCloseable => c.close()
          case _ =>
        }
        cache.put(path, Cached(m, fresh))
        fresh
    }
  }

  /** Close every cached Closeable instance and drop the cache — the
    * shutdown-hook path (reference closes instances on replacement only;
    * engine TERM handling needs the same cleanup for all of them).
    */
  def closeAll(): Unit = {
    cache.values.foreach(_.instance match {
      case c: AutoCloseable => try c.close() catch { case _: Exception => () }
      case _ =>
    })
    cache.clear()
  }
}
