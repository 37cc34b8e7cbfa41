package org.apache.spark.sql

import graft.{ChildJvm, Sessions, TestSpark}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Canary for [[GraftSqlBridge]], the private-`sql` hook under connected
  * components and all quantizer training. Each test fails by name when
  * the Spark surface the bridge relies on changes. */
class GraftSqlBridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A two-stage aggregate whose exchange width shows whose conf planned it. */
  private def source(): DataFrame =
    spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k").groupBy("k").count()

  /** A session clone with AQE off and 3 shuffle partitions. */
  private def isolatedClone(): SparkSession = {
    val c = spark.newSession()
    c.conf.set("spark.sql.adaptive.enabled", "false")
    c.conf.set("spark.sql.shuffle.partitions", "3")
    c
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("Spark's classic namespace still holds the session and Dataset the bridge casts to") {
    for (c <- Seq("org.apache.spark.sql.classic.SparkSession", "org.apache.spark.sql.classic.Dataset"))
      assert(scala.util.Try(Class.forName(c)).isSuccess, s"$c moved: GraftSqlBridge needs its fallback")
    assert(spark.isInstanceOf[classic.SparkSession],
      s"Sessions.local built a ${spark.getClass.getName}, not a classic session")
    assert(source().isInstanceOf[classic.Dataset[_]],
      s"DataFrames are no longer classic Datasets: ${source().getClass.getName}")
  }

  test("rebind carries the source's analyzed plan to the target session and its conf") {
    val df = source()
    val target = isolatedClone()
    val r = GraftSqlBridge.rebind(df, target)
    assert(r.sparkSession eq target, "rebind returned a Dataset of another session")
    assert(r.queryExecution.analyzed == df.queryExecution.analyzed,
      "rebind re-analyzed the plan instead of carrying the source's analyzed plan")
    val widths = r.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e.numPartitions }
    assert(widths == Seq(3), s"rebound plan ignored the target's conf: exchanges $widths")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4", "the caller's conf changed")
    assert(rows(r) == rows(df))
  }

  test("the documented fallback builds the same Dataset as rebind") {
    val df = source()
    val target = isolatedClone().asInstanceOf[classic.SparkSession]
    val plan = df.asInstanceOf[classic.Dataset[Row]].logicalPlan
    val fallback = target.withActive {
      val qe = target.sessionState.executePlan(plan)
      qe.assertAnalyzed()
      new classic.Dataset[Row](qe, RowEncoder.encoderFor(qe.analyzed.schema))
    }
    val r = GraftSqlBridge.rebind(df, target)
    assert(fallback.queryExecution.analyzed == r.queryExecution.analyzed)
    assert(rows(fallback) == rows(r))
  }

  test("rebind refuses a session of another SparkContext (fresh JVM)") {
    val out = ChildJvm.run(GraftSqlBridgeCrossContextProbe, Nil)
    val refused = out.collectFirst { case s"refused=$msg" => msg }
      .getOrElse(fail(s"probe printed no verdict:\n${out.mkString("\n")}"))
    assert(refused.contains("same SparkContext"), s"cross-context rebind was not refused: $refused")
  }
}

/** Builds a DataFrame, stops its SparkContext, starts a second one and
  * rebinds the DataFrame to it; prints `refused=<message>`, or
  * `refused=no` if the bridge let it through. Needs its own JVM: one JVM
  * runs one SparkContext at a time, and the suite's must stay up. */
object GraftSqlBridgeCrossContextProbe {
  def main(args: Array[String]): Unit = {
    val first = Sessions.local("1", "graft-bridge-a")
    val df = first.range(5).toDF()
    first.stop()
    val second = Sessions.local("1", "graft-bridge-b")
    try {
      require(!(second.sparkContext eq first.sparkContext), "no second SparkContext was started")
      val verdict =
        try { GraftSqlBridge.rebind(df, second); "no" }
        catch { case e: IllegalArgumentException => e.getMessage }
      println(s"refused=$verdict")
    } finally second.stop()
  }
}
