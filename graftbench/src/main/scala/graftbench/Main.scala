package graftbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: arguments, the session, and the
  * figures it reports. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val dataDir: String, val workDir: Path,
    val spark: SparkSession) {
  val setupReps = 3
  val spans = new Spans(s"$workload-$seed-${ProcessHandle.current().pid()}")
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val rec = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def record(k: String, v: Any): Unit = rec(k) = v
  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")
}

/** Harness entry point; `run.py` is the user-facing command.
  *
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR [--commit ID]`
  *
  * Writes `result.json` (and, when tracing, `spans.jsonl`) into the work
  * directory. */
object Main {
  val workloads = Seq("batch", "stream_chain")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val workDir = Paths.get(opt("work")).toAbsolutePath
    val cal = Util.boxCal()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val extra = Map(
      "spark.sql.warehouse.dir" -> workDir.resolve("warehouse").toString,
      "spark.local.dir" -> workDir.resolve("spark-local").toString,
      "spark.sql.streaming.checkpointLocation" -> workDir.resolve("checkpoints").toString) ++
      (if (workload == "stream_chain") Map("spark.scheduler.mode" -> "FAIR") else Map.empty)
    val spark = graft.Sessions.local("4", s"graftbench-$workload", extra)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(workload, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Paths.get(opt("data")).toAbsolutePath.toString,
      workDir, spark)
    ctx.record("workload", workload)
    ctx.record("seed", ctx.seed)
    ctx.record("trace", ctx.trace)
    ctx.record("seconds", ctx.seconds)
    ctx.record("nproc", Runtime.getRuntime.availableProcessors)
    ctx.record("spark_cores", "local[4]")
    ctx.record("box_cal_s", cal)
    ctx.record("java", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    ctx.record("spark", spark.version)
    ctx.record("scala", scala.util.Properties.versionNumberString)
    ctx.record("commit", opts.getOrElse("commit", "unknown"))
    ctx.record("session_s", sessionS)
    val t0 = System.nanoTime()
    try {
      if (workload == "stream_chain") StreamChain.run(ctx) else Batch.run(ctx)
      ctx.metric("peak_rss_mb", Util.peakRssMb(), "MB")
    } catch { case e: Throwable =>
      ctx.log(s"run failed: $e")
      e.printStackTrace()
      ctx.record("error", e.toString)
      ctx.failed = math.max(ctx.failed, 1L)
      ctx.attempted = math.max(ctx.attempted, 1L)
    }
    ctx.record("run_s", (System.nanoTime() - t0) / 1e9)
    if (ctx.trace) ctx.spans.write(workDir.resolve("spans.jsonl"))
    def block(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Util.write(workDir.resolve("result.json"), Util.json(Map(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> block(ctx.metrics), "layers" -> block(ctx.layers),
      "record" -> ctx.rec)))
    spark.stop()
  }
}
