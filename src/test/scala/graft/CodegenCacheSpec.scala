package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Guards the size of Spark's generated-code cache
  * (`spark.sql.codegen.cache.maxEntries`, set by [[Sessions.local]]). One
  * pass of the benchmark's 13 batch queries compiles more classes than
  * Spark's default of 100 entries holds, so at the default every pass
  * recompiles everything. The passes run in a fresh JVM
  * ([[CodegenCacheProbe]]) because the conf is static and the cache is
  * JVM-wide: only the JVM's first session sizes it, and the shared test
  * JVM's compile counter moves with every other spec. The second pass
  * only hits the cache because [[Sessions.local]] also keeps the codegen
  * stage id out of generated class names. */
class CodegenCacheSpec extends AnyFunSuite {
  test("the shared test session carries Sessions.local's codegen cache cap") {
    // Fails if some spec builds a session before Sessions.local does: the
    // static conf would then keep Spark's default in this JVM.
    assert(TestSpark.spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheMaxEntries.toString)
  }

  test("the shared test session keeps codegen stage ids out of class names") {
    // With the id in the class name, a pipeline's code text depends on the
    // order in which adaptive execution planned its stages, which varies
    // from run to run, so a warm pass could miss the cache.
    assert(TestSpark.spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a second pass of the batch-benchmark queries compiles no class (fresh JVM)") {
    val wh = Files.createTempDirectory("graft_codegen_wh")
    val out = ChildJvm.run(CodegenCacheProbe, Seq(TestSpark.sf, wh.toString))
    val compiles = out.collect { case s"pass=$p q=$q compiles=$n" => (p.toInt, q) -> n.toLong }.toMap
    assert(compiles.keySet == (for (p <- Seq(1, 2); q <- CodegenCacheProbe.Queries) yield (p, q)).toSet,
      s"probe output incomplete:\n${out.mkString("\n")}")
    val first = CodegenCacheProbe.Queries.map(q => compiles((1, q))).sum
    assert(first > 100, s"first pass compiled only $first classes: the working set " +
      "no longer exceeds Spark's default cache of 100, so this spec guards nothing")
    val recompiled = CodegenCacheProbe.Queries.map(q => q -> compiles((2, q))).filter(_._2 != 0)
    assert(recompiled.isEmpty, s"the second pass recompiled generated classes $recompiled " +
      s"(first pass: $first)")
    org.apache.commons.io.FileUtils.deleteDirectory(wh.toFile)
  }
}

/** Runs [[Queries]] twice through the `noop` sink at `args(0)`, as the
  * benchmark's batch workload does, in a session from [[Sessions.local]]
  * with its warehouse at `args(1)`; prints each query's Janino compile
  * count per pass. */
object CodegenCacheProbe {
  /** The benchmark's batch workload: one or more queries per operator module. */
  val Queries: Seq[String] = Seq("q_agg_multi", "q_join_bucketed", "q_sessionize",
    "q_partition_prune", "q_window_ntile", "q_upsert_merge", "q_sql_revenue",
    "q_neardup_groups", "q_pq_encode", "q_token_budget", "q_vector_centroid",
    "q_heavy_hitters", "q_media_features")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, warehouse) = args
    val spark = Sessions.local("2", "graft-codegen-cache",
      Map("spark.sql.warehouse.dir" -> warehouse))
    try for (pass <- 1 to 2; q <- Queries) {
      spark.catalog.clearCache()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(s"pass=$pass q=$q compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}")
    } finally spark.stop()
  }
}
