package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The schema catalog's cold path ([[Tables.table]] on a session that has
  * not seen the path) reads a single-file table's footer on the driver
  * instead of running Spark's schema-inference job; a directory keeps
  * Spark's own inference. Parity with a plain inferred read of every
  * fixture table is FixtureSchemaCanarySpec's. */
class SchemaCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a cold catalog load of every fixture table runs no Spark job") {
    val sc = spark.sparkContext
    val fresh = spark.newSession()
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    val loaded = try {
      val dfs = Tables.names.map(t => Tables.table(fresh, TestSpark.sf, t)) :+
        Tables.events(fresh, TestSpark.sf)
      ListenerDrain(sc)
      dfs
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 0,
      s"${jobs.get} Spark jobs while loading ${Tables.names.size + 1} tables cold")
    assert(loaded.forall(_.schema.nonEmpty))
  }

  test("a directory whose part files carry different schemas gets Spark's inferred schema") {
    val dir = Files.createTempDirectory("catalog_dir")
    val t = dir.resolve("t.parquet").toString
    try {
      spark.range(3).selectExpr("id as a", "id as x").coalesce(1).write.parquet(t)
      spark.range(3).selectExpr("id as b").coalesce(1).write.mode("append").parquet(t)
      val inferred = spark.read.parquet(t).schema
      assert(Tables.table(spark.newSession(), dir.toString, "t").schema == inferred)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
