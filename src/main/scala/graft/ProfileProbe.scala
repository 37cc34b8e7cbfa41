package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job wall-time profiler for declared queries (optimization-round
  * tooling, guide §1: measure first). The bench reports one number per
  * query; the multi-job queries (k-means rounds, star-contraction CC,
  * checkpointed cumsums) hide WHERE the time goes. This main runs each
  * named query once untimed (warm-up) and once instrumented, printing one
  * line per Spark job with duration and call site, plus the query total —
  * so "4.4 s" decomposes into "N jobs of X ms each" and the optimization
  * target (fewer rounds vs cheaper rounds) is evidence, not a guess.
  * The query line also carries `compiles`, the number of Janino compiles
  * (driver and executor) the instrumented run paid: 0 means every
  * generated class came from Spark's code cache; `jobs_union_ms`, the
  * wall time during which at least one job ran; and `gap_ms`, wall
  * minus that union: driver time outside any job (planning, collects,
  * barriers between rounds).
  *
  * Usage: runMain graft.ProfileProbe <sfDir> <q_name> [q_name...]
  */
object ProfileProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileProbe <sfDir> <q_name>...")
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = Sessions.local(appName = "graft-profile")

    final case class JobRec(id: Int, t0: Long, var t1: Long = -1L,
      var site: String = "", var nTasks: Int = 0)
    final case class StageRec(id: Int, name: String, nTasks: Int,
      wallMs: Long, taskMs: Long, shufWrite: Long, shufRead: Long)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    var collecting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) synchronized {
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
          val rec = JobRec(e.jobId, e.time, site = site)
          rec.nTasks = e.stageInfos.map(_.numTasks).sum
          jobs(e.jobId) = rec
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) synchronized {
          jobs.get(e.jobId).foreach(_.t1 = e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) synchronized {
          val si = e.stageInfo
          val wall = (for (a <- si.completionTime; b <- si.submissionTime)
            yield a - b).getOrElse(-1L)
          val m = si.taskMetrics
          stages += StageRec(si.stageId, si.name.takeWhile(_ != '\n'),
            si.numTasks, wall,
            if (m == null) -1L else m.executorRunTime,
            if (m == null) -1L else m.shuffleWriteMetrics.bytesWritten,
            if (m == null) -1L else m.shuffleReadMetrics.totalBytesRead)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // Table warm-up, as Bench does, so first-touch costs don't pollute.
    Tables.names.foreach { t =>
      try { Tables.table(spark, sfDir, t).count(); () }
      catch { case scala.util.control.NonFatal(_) => }
    }
    try { Tables.events(spark, sfDir).count(); () }
    catch { case scala.util.control.NonFatal(_) => }

    names.foreach { n =>
      val q = SparkEntry.queries(n)
      spark.catalog.clearCache()
      q(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
      spark.catalog.clearCache()
      jobs.clear(); stages.clear()
      ListenerDrain(spark.sparkContext)
      collecting = true
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      ListenerDrain(spark.sparkContext) // trailing job-end and stage events
      collecting = false
      val recs = jobs.values.toSeq
      val unionMs = jobUnionMs(recs.filter(_.t1 > 0).map(r => (r.t0, r.t1)))
      println(s"== $n wall=${f"$wall%.3f"}s jobs=${recs.size} compiles=$compiles " +
        s"jobs_union_ms=$unionMs gap_ms=${math.round(wall * 1000) - unionMs}")
      recs.foreach { r =>
        val d = if (r.t1 > 0) r.t1 - r.t0 else -1
        println(f"  job ${r.id}%4d ${d}%6d ms tasks=${r.nTasks}%4d ${r.site}")
      }
      stages.sortBy(-_.taskMs).take(12).foreach { st =>
        println(f"  stage ${st.id}%4d wall=${st.wallMs}%5d taskMs=${st.taskMs}%6d " +
          f"tasks=${st.nTasks}%4d sw=${st.shufWrite / 1024}%6dK sr=${st.shufRead / 1024}%6dK ${st.name.take(90)}")
      }
    }
    spark.stop()
  }

  /** Milliseconds covered by at least one of the `[t0, t1]` job
    * intervals: concurrent jobs overlap, so their durations' sum would
    * count the shared time twice. */
  private def jobUnionMs(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((total, end), (t0, t1)) =>
        (total + math.max(0L, t1 - math.max(t0, end)), math.max(end, t1))
    }._1
}
