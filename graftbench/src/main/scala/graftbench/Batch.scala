package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.operators._

/** The closed-loop batch workload: one client runs a fixed query list pass
  * after pass, each query fully materialized through the `noop` sink with
  * the cache cleared between queries. */
object Batch {
  /** Operator module -> its registered query names (public registries). */
  val modules: Seq[(String, Set[String])] = Seq(
    "AggOps" -> AggOps.queries.keySet, "JoinOps" -> JoinOps.queries.keySet,
    "DataflowOps" -> DataflowOps.queries.keySet,
    "ScalarOps" -> ScalarOps.queries.keySet,
    "WindowOps" -> WindowOps.queries.keySet, "SetOps" -> SetOps.queries.keySet,
    "SqlOps" -> SqlOps.queries.keySet, "TextOps" -> TextOps.queries.keySet,
    "SimilarityOps" -> SimilarityOps.queries.keySet,
    "VectorOps" -> VectorOps.queries.keySet,
    "MediaOps" -> MediaOps.queries.keySet,
    "ExtensionOps" -> ExtensionOps.queries.keySet)

  def moduleOf(q: String): String =
    modules.find(_._2.contains(q)).map(_._1).getOrElse("unknown")

  /** A fixed subset of the registry, one or more queries from every
    * module, sized so one pass takes a few seconds on 4 cores; the whole
    * registry does not fit the benchmark's time budget. The relational half
    * is planning- and scan-bound; the corpus half is iterative and
    * multi-job (training, connected components, cumsum), so driver gaps and
    * shuffles dominate it. */
  val relational: Seq[String] = Seq(
    "q_agg_multi", // AggOps
    "q_join_bucketed", // JoinOps, reads the bucketed layout
    "q_sessionize", // DataflowOps
    "q_partition_prune", // ScalarOps, reads the day-partitioned layout
    "q_window_ntile", // WindowOps
    "q_upsert_merge", // SetOps
    "q_sql_revenue") // SqlOps
  val corpus: Seq[String] = Seq(
    "q_neardup_groups", "q_pq_encode", // SimilarityOps
    "q_token_budget", // TextOps
    "q_vector_centroid", // VectorOps
    "q_heavy_hitters", // ExtensionOps
    "q_media_features") // MediaOps

  /** Passes are timed until `--seconds` have passed, and at least this
    * many, so every query has a best-of-two time. */
  val MinPasses = 2

  final case class QTime(q: String, buildNs: Long, execNs: Long, startNs: Long, endNs: Long)
  final case class Pass(idx: Int, traced: Boolean, startNs: Long, endNs: Long,
      times: Seq[QTime]) {
    def wallS: Double = Util.secs(endNs - startNs)
  }

  private def layoutTables(d: String): Seq[String] =
    Seq(s"li_bkt_${Tables.sfTag(d)}", s"ord_bkt_${Tables.sfTag(d)}",
      s"ev_day_${Tables.sfTag(d)}")

  /** One set-up: a fresh session, the schema catalog loaded for every
    * table, and the bucketed and day-partitioned layouts rebuilt from
    * scratch. Returns (session, setup seconds, table-load seconds). */
  private def setupOnce(base: SparkSession, dir: String): (SparkSession, Double, Double) = {
    val s = base.newSession()
    layoutTables(dir).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    val t0 = Util.nowNs()
    Tables.names.foreach(t => Tables.table(s, dir, t))
    Tables.events(s, dir)
    val t1 = Util.nowNs()
    JoinOps.bucketedTables(s, dir)
    ScalarOps.partitionedEvents(s, dir)
    val t2 = Util.nowNs()
    (s, Util.secs(t2 - t0), Util.secs(t1 - t0))
  }

  def run(ctx: Ctx): Unit = {
    val names = relational ++ corpus
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // -- set-up, several times; the last session serves the passes
    val setups = (1 to ctx.setupReps).map(_ => setupOnce(ctx.spark, ctx.dataDir))
    val s = setups.last._1
    ctx.metric("setup_s", Util.median(setups.map(_._2)), "s")
    ctx.layer("Tables.load_s", Util.median(setups.map(_._3)), "s")

    // -- untimed warm-up pass: every result is written for the
    // fingerprint check the runner makes against the goldens
    val failed = mutable.Set.empty[String]
    val outDir = ctx.workDir.resolve("out")
    val w0 = Util.nowNs()
    names.foreach { q =>
      s.catalog.clearCache()
      try all(q)(s, ctx.dataDir).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve(q).toString)
      catch { case e: Exception =>
        failed += q
        ctx.log(s"warm-up $q failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    s.catalog.clearCache()
    ctx.record("warmup_s", Util.secs(Util.nowNs() - w0))
    ctx.record("setups_s", setups.map(_._2))
    Util.write(outDir.resolve("queries.json"), Util.json(Map(
      "queries" -> names, "failed" -> failed.toSeq.sorted,
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))))

    // -- timed passes; in a traced run, traced and untraced passes
    // alternate so the tracing overhead is measured in the same JVM
    val sc = s.sparkContext
    val jobs = new JobRecorder
    val plans = new PlanRecorder
    val passes = mutable.ArrayBuffer.empty[Pass]
    val measureStart = Util.nowNs()
    val budgetNs = (ctx.seconds * 1e9).toLong
    var p = 0
    // a traced run needs one more: its untraced reference skips pass 0
    val minPasses = if (ctx.trace) MinPasses + 1 else MinPasses
    while (p < minPasses || Util.nowNs() - measureStart < budgetNs) {
      val traced = ctx.trace && p % 2 == 1
      if (traced) { sc.addSparkListener(jobs); s.listenerManager.register(plans) }
      val order = new scala.util.Random(ctx.seed * 7919L + p).shuffle(names)
      val times = mutable.ArrayBuffer.empty[QTime]
      val p0 = Util.nowNs()
      order.filterNot(failed).foreach { q =>
        s.catalog.clearCache()
        val t0 = Util.nowNs()
        try {
          if (traced) sc.setJobGroup(s"p$p:$q:build", q)
          val df = all(q)(s, ctx.dataDir)
          val t1 = Util.nowNs()
          if (traced) sc.setJobGroup(s"p$p:$q:exec", q)
          df.write.format("noop").mode("overwrite").save()
          val t2 = Util.nowNs()
          times += QTime(q, t1 - t0, t2 - t1, t0, t2)
        } catch { case e: Exception =>
          failed += q
          ctx.log(s"pass $p $q failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        } finally if (traced) sc.clearJobGroup()
      }
      val p1 = Util.nowNs()
      s.catalog.clearCache()
      if (traced) {
        jobs.drain(sc)
        sc.removeSparkListener(jobs)
        s.listenerManager.unregister(plans)
      }
      passes += Pass(p, traced, p0, p1, times.toList)
      p += 1
    }

    ctx.attempted += names.size
    ctx.failed += failed.size
    val untraced = passes.filterNot(_.traced).toSeq
    // each query's best time over the untraced passes: contention on a
    // shared box only ever adds time, so the minimum is the steady figure
    val best = untraced.flatMap(_.times).groupBy(_.q).values
      .map(ts => ts.map(t => (t.endNs - t.startNs) / 1e6).min).toSeq
    val wallS = best.sum / 1000.0
    ctx.metric("wall_s", wallS, "s")
    ctx.metric("throughput_per_s", best.size / wallS, "1/s")
    ctx.metric("latency_ms", Util.geomean(best), "ms")
    ctx.record("latency_p50_ms", Util.median(best))
    ctx.record("passes", passes.map(ps => Map("pass" -> ps.idx,
      "traced" -> ps.traced, "wall_s" -> ps.wallS,
      "queries" -> ps.times.map(t => Map("q" -> t.q,
        "build_s" -> Util.secs(t.buildNs), "exec_s" -> Util.secs(t.execNs)))
    )).toList)
    if (ctx.trace) layers(ctx, passes.filter(_.traced).toSeq, untraced, jobs, plans,
      sc.defaultParallelism)
  }

  /** Per-layer figures, per traced pass (mean over traced passes), plus
    * the run → pass → query → build/exec → job → stage spans. */
  private def layers(ctx: Ctx, traced: Seq[Pass], untraced: Seq[Pass], jobs: JobRecorder,
      plans: PlanRecorder, cores: Int): Unit = {
    val spans = ctx.spans
    val n = traced.size.toDouble
    val allJobs = jobs.snapshotJobs
    val allStages = jobs.snapshotStages
    val runSpan = spans.add(0, "run", spans.epochUs(traced.head.startNs),
      spans.epochUs(traced.last.endNs), Map("workload" -> ctx.workload))
    var unionMs = 0L
    var wallNs = 0L
    var maxSplitErr = 0.0
    val moduleBuild = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val moduleExec = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val moduleJobs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val passStages = mutable.ArrayBuffer.empty[JobRecorder#StageRec]
    var passJobs = 0
    traced.foreach { ps =>
      val passSpan = spans.add(runSpan, "pass", spans.epochUs(ps.startNs),
        spans.epochUs(ps.endNs), Map("pass" -> ps.idx))
      val mine = allJobs.filter(_.group.startsWith(s"p${ps.idx}:"))
      passJobs += mine.size
      val u = Util.unionLength(mine.map(j => (j.start, j.end)))
      unionMs += u
      wallNs += ps.endNs - ps.startNs
      ps.times.foreach { t =>
        val m = moduleOf(t.q)
        moduleBuild(m) += Util.secs(t.buildNs)
        moduleExec(m) += Util.secs(t.execNs)
        val qs = spans.add(passSpan, "query", spans.epochUs(t.startNs),
          spans.epochUs(t.endNs), Map("query" -> t.q, "module" -> m))
        val b = spans.add(qs, "build", spans.epochUs(t.startNs),
          spans.epochUs(t.startNs + t.buildNs))
        val e = spans.add(qs, "exec", spans.epochUs(t.startNs + t.buildNs),
          spans.epochUs(t.endNs))
        val wall = (t.endNs - t.startNs).toDouble
        maxSplitErr = math.max(maxSplitErr,
          math.abs(wall - (t.buildNs + t.execNs)) / math.max(wall, 1.0))
        Seq("build" -> b, "exec" -> e).foreach { case (phase, parent) =>
          val js = mine.filter(_.group == s"p${ps.idx}:${t.q}:$phase")
          moduleJobs(m) += js.size
          js.foreach { j =>
            val jsId = spans.add(parent, "job", j.start * 1000L, j.end * 1000L,
              Map("job" -> j.id))
            val st = allStages.filter(x => j.stageIds.contains(x.stageId) &&
              jobs.jobOfStage(x.stageId).contains(j.id))
            passStages ++= st
            st.foreach(x => spans.add(jsId, "stage", x.submit * 1000L,
              x.complete * 1000L, Map("stage" -> x.stageId, "tasks" -> x.numTasks)))
          }
        }
      }
    }
    require(maxSplitErr <= 0.02, s"build_s + exec_s off query wall by $maxSplitErr")
    val jobUnionS = unionMs / 1000.0 / n
    val wallS = Util.secs(wallNs) / n
    ctx.layer("driver.job_union_s", jobUnionS, "s")
    ctx.layer("driver.gap_s", wallS - jobUnionS, "s")
    modules.foreach { case (m, _) =>
      ctx.layer(s"$m.build_s", moduleBuild(m) / n, "s")
      ctx.layer(s"$m.exec_s", moduleExec(m) / n, "s")
      ctx.layer(s"$m.jobs", moduleJobs(m) / n, "count")
    }
    val st = passStages.toList
    def sum(f: JobRecorder#StageRec => Double): Double = st.map(f).sum / n
    val runS = sum(_.runMs / 1000.0)
    ctx.layer("spark.jobs", passJobs / n, "count")
    ctx.layer("spark.stages", st.size / n, "count")
    ctx.layer("spark.tasks", sum(_.numTasks.toDouble), "count")
    ctx.layer("spark.task_run_s", runS, "s")
    ctx.layer("spark.task_cpu_s", sum(_.cpuNs / 1e9), "s")
    ctx.layer("spark.slot_busy", runS / math.max(jobUnionS * cores, 1e-9), "ratio")
    ctx.layer("spark.gc_s", sum(_.gcMs / 1000.0), "s")
    ctx.layer("spark.shuffle_write_bytes", sum(_.shWrite.toDouble), "bytes")
    ctx.layer("spark.shuffle_read_bytes", sum(_.shRead.toDouble), "bytes")
    ctx.layer("spark.shuffle_fetch_wait_s", sum(_.fetchWaitMs / 1000.0), "s")
    ctx.layer("spark.spill_bytes", sum(_.spillBytes.toDouble), "bytes")
    ctx.layer("spark.result_bytes", sum(_.resultBytes.toDouble), "bytes")
    ctx.layer("spark.task_failures", jobs.taskFailures / n, "count")
    ctx.layer("Tables.scan_bytes", sum(_.inBytes.toDouble), "bytes")
    ctx.layer("Tables.scan_rows", sum(_.inRecords.toDouble), "count")
    val inPass = plans.snapshot.filter(x => traced.exists(ps =>
      x.startMs * 1000L >= spans.epochUs(ps.startNs) - 1000L &&
        x.startMs * 1000L <= spans.epochUs(ps.endNs)))
    ctx.layer("catalyst.executions", inPass.size / n, "count")
    ctx.layer("catalyst.analysis_s", inPass.map(_.analysisMs).sum / 1000.0 / n, "s")
    ctx.layer("catalyst.optimization_s", inPass.map(_.optimizationMs).sum / 1000.0 / n, "s")
    ctx.layer("catalyst.planning_s", inPass.map(_.planningMs).sum / 1000.0 / n, "s")
    // the untraced reference leaves out the JIT-cold first pass
    ctx.layer("trace.overhead_wall_s", Util.median(traced.map(_.wallS)) -
      Util.median(untraced.filter(_.idx > 0).map(_.wallS)), "s")
  }
}
