package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.operators.SimilarityOps
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins the contracts quantizer training keeps now that it runs through
  * SimilarityOps' one Lloyd's kernel (an RDD fold per round) instead of
  * per-round DataFrame aggregates on an AQE-off session clone. The case
  * names are the clone-era ones; each now pins:
  *
  *  - "override reaches the training body's plans": `kmCentroids` and
  *    `pqTrain` at iters = 3 run exactly two more jobs than at
  *    iters = 1, and no more Spark SQL executions — a round is one job
  *    and plans nothing;
  *  - "the clamp never exceeds the parent session's shuffle partitions":
  *    a training round launches no Spark SQL exchange — each round is a
  *    one-stage job outside any SQL execution;
  *  - "the clamp follows the parent's current shuffle partitions":
  *    `kmCentroids` gives bit-identical centroids with the parent's
  *    shuffle partitions set to 4 and to 2;
  *  - "session conf is never mutated; concurrent queries keep AQE": the
  *    caller's conf is untouched while training runs, and a query
  *    planned on the same session mid-training still plans with AQE;
  *  - "the training clone shares the parent's cache manager": training
  *    over a persisted frame reads its cache and never re-evaluates the
  *    frame's source (a counting UDF in the source shows it).
  */
class TrainConfScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 200 Dim-wide vectors, vec_id 0..199, on a Range scan. */
  private def vecs(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(0, 200).select(col("id").as("vec_id"),
      array((1 to SimilarityOps.Dim).map(j => sin(col("id") * j) * 10): _*)
        .as("v"))

  /** Jobs (with their stage count and whether a SQL execution ran them)
    * and SQL executions started while `body` runs. */
  private final class Counts extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[(Int, Boolean)]
    val sqlExecs = new AtomicInteger
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.add((j.stageInfos.size, Option(j.properties)
        .exists(_.getProperty("spark.sql.execution.id") != null)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => sqlExecs.incrementAndGet()
      case _ =>
    }
    def jobList: Seq[(Int, Boolean)] = jobs.asScala.toSeq
  }

  private def counted(body: => Any): Counts = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val c = new Counts
    sc.addSparkListener(c)
    try { body; ListenerDrain(sc); c }
    finally sc.removeSparkListener(c)
  }

  test("override reaches the training body's plans") {
    val df = vecs(spark)
    Seq[(String, Int => Any)](
      "kmCentroids" -> (it => SimilarityOps.kmCentroids(df, 4, it)),
      "pqTrain" -> (it => SimilarityOps.pqTrain(df, 2, 4, it))
    ).foreach { case (name, train) =>
      val one = counted(train(1))
      val three = counted(train(3))
      assert(three.jobList.size == one.jobList.size + 2,
        s"$name: ${three.jobList.size} jobs at iters=3 vs " +
          s"${one.jobList.size} at iters=1 — a round must be one job")
      assert(three.sqlExecs.get == one.sqlExecs.get,
        s"$name: ${three.sqlExecs.get} SQL executions at iters=3 vs " +
          s"${one.sqlExecs.get} at iters=1 — a round must plan nothing")
    }
  }

  test("the clamp never exceeds the parent session's shuffle partitions") {
    val iters = 2
    val c = counted(SimilarityOps.kmCentroids(vecs(spark), 4, iters))
    val rounds = c.jobList.filterNot(_._2)
    assert(rounds.size == iters,
      s"expected one non-SQL job per round, got ${c.jobList}")
    assert(rounds.forall(_._1 == 1),
      s"a training round must be one stage (no exchange), got ${c.jobList}")
  }

  test("the clamp follows the parent's current shuffle partitions") {
    val parent = spark.newSession()
    val df = vecs(parent)
    def bits(): Seq[(Int, Seq[Long])] =
      SimilarityOps.kmCentroids(df, 8, 2).toSeq.map { case (cid, c) =>
        cid -> c.toSeq.map(java.lang.Double.doubleToLongBits)
      }
    parent.conf.set("spark.sql.shuffle.partitions", "4")
    val at4 = bits()
    parent.conf.set("spark.sql.shuffle.partitions", "2")
    assert(bits() == at4,
      "centroids moved with the parent's shuffle partitions")
  }

  test("session conf is never mutated; concurrent queries keep AQE") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val sessionAqe = spark.conf.get(aqeKey, "true")
    val df = vecs(spark)
    val started = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.countDown()
    }
    val failure = new AtomicReference[Throwable]
    spark.sparkContext.addSparkListener(l)
    val t = new Thread(() =>
      try SimilarityOps.kmCentroids(df, 4, 8)
      catch { case e: Throwable => failure.set(e) })
    try {
      t.start()
      assert(started.await(30, TimeUnit.SECONDS), "training never started")
      // The CALLER's session conf, and a query planned on the same
      // session while training runs: both as if no training ran.
      assert(spark.conf.get(aqeKey, "true") == sessionAqe)
      val planned = spark.range(0, 100).groupBy(col("id") % 5).count()
        .queryExecution.executedPlan.toString
      assert(planned.contains("AdaptiveSparkPlan"),
        "a concurrent query lost AQE while training ran:\n" + planned)
    } finally {
      t.join(60000)
      spark.sparkContext.removeSparkListener(l)
    }
    assert(!t.isAlive, "training did not finish")
    assert(failure.get == null, s"training failed: ${failure.get}")
    assert(spark.conf.get(aqeKey, "true") == sessionAqe)
  }

  test("the training clone shares the parent's cache manager") {
    // Training inputs are often persisted frames (clusterDedupQ's
    // `marked`); training must read the cache, not recompute the source.
    val evals = spark.sparkContext.longAccumulator("vector evaluations")
    val mkV = udf { (id: Long) =>
      evals.add(1)
      Array.tabulate(SimilarityOps.Dim)(j => math.sin(id * (j + 1)) * 10)
    }
    val df = spark.range(0, 200)
      .select(col("id").as("vec_id"), mkV(col("id")).as("v")).persist()
    try {
      df.count() // materialize
      val built = evals.value
      assert(built >= 200, s"the cache build evaluated $built vectors")
      SimilarityOps.kmCentroids(df, 4, 2)
      SimilarityOps.pqTrain(df, 2, 4, 2)
      assert(evals.value == built,
        s"training re-evaluated ${evals.value - built} source vectors " +
          "instead of reading the cache")
    } finally df.unpersist()
  }
}
