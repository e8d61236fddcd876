package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Per-entry profiler: builds each listed registry entry, runs its own
  * QueryExecution once, and writes
  *  - the Spark job timeline with the driver-side gaps between jobs
  *    (planning, stream start/stop, checkpoint IO, construction-time
  *    collects) and a jobs-vs-gaps summary — whether an entry's time is
  *    task compute or engine lifecycle;
  *  - the final adaptive plan (see [[finalPlan]]).
  *
  * One cold pass per entry: the timeline is JIT-inflated, so read it for
  * structure, not absolute numbers.
  * Usage: `runMain graft.Plans <sfDir> <outFile> [queryName...]`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val names = if (args.length > 2) args.drop(2).toSet else Set(
      "q01_pricing_summary", "q02_revenue_by_nation", "q20_range_join",
      "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
      "sim_bruteforce_topk", "sim_ivf_topk", "sample_per_class",
      "decontaminate", "repeated_substrings", "fuzzy_join",
      "sim_quantized_topk", "zorder_key", "sim_pq_topk", "sim_ivfpq_topk",
      "overlap_sketch", "join_size_sketch", "cdc_chunks", "lang_id",
      "cdc_segment_dedup")
    val spark = GraftSession.local("graft-plans")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => names(q._1)).foreach {
      case (name, fn) =>
        val jobs = new JobTimeline
        spark.sparkContext.addSparkListener(jobs)
        val t0 = System.currentTimeMillis()
        val plan = finalPlan(fn(spark, sfDir))
        val t1 = System.currentTimeMillis()
        org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(jobs)
        sb.append(s"\n================ $name ================\n")
        sb.append(jobs.report(t0, t1))
        sb.append(plan.toString)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }

  /** Runs `df`'s own QueryExecution to completion and returns its final
    * adaptive plan (`AdaptiveSparkPlan isFinalPlan=true`) — the only place
    * AQE's runtime decisions show: exchange/subquery reuse
    * (`ReusedExchange`), join-strategy switches, coalesced partitions.
    * The static `explain` shows none of them. Collects rather than
    * noop-writes: a write plans a second QueryExecution and would leave
    * `df`'s own plan unexecuted.
    */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private final case class Job(id: Int, desc: String, start: Long, var end: Long)

  /** Records every Spark job's span; `report` renders the timeline with the
    * driver-side gaps (> 50 ms) before, between and after jobs, and splits
    * the wall time into time with a job running and driver-side gaps.
    */
  private final class JobTimeline extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // AQE names every stage job after the same thread call site, so lead
      // with the SQL execution (construction-time queries vs the entry's
      // own) and the result stage's task count
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      val desc = Seq(
        prop("spark.sql.execution.id").map(id => s"sql $id"),
        result.map(r => s"${r.numTasks} tasks"),
        prop("spark.job.description").orElse(result.map(_.name))).flatten.mkString("  ")
      jobs.put(e.jobId, Job(e.jobId, desc, e.time, -1L))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.end = e.time
    }

    def report(t0: Long, t1: Long): String = {
      val sb = new StringBuilder
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      sb.append(f"total ${(t1 - t0) / 1000.0}%.2f s, ${js.size} jobs%n")
      var cursor = t0
      var gapTotal = 0L
      var jobTotal = 0L
      js.foreach { j =>
        val gap = j.start - cursor
        if (gap > 50) sb.append(f"  [gap ${gap / 1000.0}%6.2f s]  (driver-side before job ${j.id})%n")
        gapTotal += math.max(0L, gap)
        val end = if (j.end > 0) j.end else t1
        // concurrent jobs (broadcasts, AQE stages) count once
        jobTotal += math.max(0L, end - math.max(j.start, cursor))
        sb.append(f"  job ${j.id}%4d ${(end - j.start) / 1000.0}%6.2f s  ${j.desc.take(110)}%n")
        cursor = math.max(cursor, end)
      }
      val tail = math.max(0L, t1 - cursor)
      if (tail > 50) sb.append(f"  [gap ${tail / 1000.0}%6.2f s]  (driver-side after last job)%n")
      sb.append(f"  SUMMARY: jobs ${jobTotal / 1000.0}%.2f s, driver gaps ${(gapTotal + tail) / 1000.0}%.2f s%n")
      sb.toString
    }
  }
}
