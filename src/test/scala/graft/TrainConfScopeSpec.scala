package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the scoping contract of SimilarityOps.trainConf (r22; r21 verdict
  * "what's wrong" #2): the AQE-off + clamped-shuffle-partitions override
  * must reach the training body's OWN plans (that is the optimization)
  * while never touching the shared session conf (that is the concurrency
  * fix) — a concurrent query on the same session mid-training must plan
  * with AQE exactly as if no training were running.
  */
class TrainConfScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("override reaches the training body's plans") {
    val df = spark.range(0, 1000).select(
      (col("id") % 7).as("k"), col("id").as("x"))
    val parts = SimilarityOps.trainConf(df, 3) { e =>
      // AQE off + shuffle.partitions = 3 ⇒ the aggregate's exchange is
      // exactly 3-wide; with AQE on it would coalesce to 1 at this size.
      val agg = e.groupBy("k").agg(sum("x"))
      assert(!agg.queryExecution.executedPlan.toString
        .contains("AdaptiveSparkPlan"),
        "training body must plan with AQE off")
      agg.rdd.getNumPartitions
    }
    assert(parts == 3, s"expected 3 reduce partitions, got $parts")
  }

  test("the clamp never exceeds the parent session's shuffle partitions") {
    val df = spark.range(0, 100).select(
      (col("id") % 2).as("k"), col("id").as("x"))
    val sessParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = SimilarityOps.trainConf(df, sessParts + 100) { e =>
      e.groupBy("k").agg(sum("x")).rdd.getNumPartitions
    }
    assert(parts == sessParts,
      s"groups above the session cap must clamp to it ($sessParts), got $parts")
  }

  test("the clamp follows the parent's current shuffle partitions") {
    // Same `groups` both times: only the parent's current partition
    // count may decide the clamp, not the clone cached by the first call.
    val parent = spark.newSession()
    val df = parent.range(0, 100).select(
      (col("id") % 8).as("k"), col("id").as("x"))
    def trainParts(): Int = SimilarityOps.trainConf(df, 8) { e =>
      e.groupBy("k").agg(sum("x")).rdd.getNumPartitions
    }
    parent.conf.set("spark.sql.shuffle.partitions", "4")
    assert(trainParts() == 4)
    parent.conf.set("spark.sql.shuffle.partitions", "2")
    val parts = trainParts()
    assert(parts == 2,
      s"training must re-clamp to the parent's current 2 partitions, got $parts")
  }

  test("session conf is never mutated; concurrent queries keep AQE") {
    val aqeKey = "spark.sql.adaptive.enabled"
    val sessionAqe = spark.conf.get(aqeKey, "true")
    val df = spark.range(0, 100).select(
      (col("id") % 2).as("k"), col("id").as("x"))
    SimilarityOps.trainConf(df, 2) { e =>
      e.groupBy("k").agg(sum("x")).collect()
      // The CALLER's session conf: untouched while training runs (the
      // override lives in the training clone's own SessionState).
      assert(spark.conf.get(aqeKey, "true") == sessionAqe)
      // A concurrent query planning on the same session mid-training
      // must still get an adaptive plan.
      val planned = new java.util.concurrent.atomic.AtomicReference[String]
      val t = new Thread(() => {
        val other = spark.range(0, 100).groupBy(col("id") % 5).count()
        planned.set(other.queryExecution.executedPlan.toString)
      })
      t.start(); t.join(30000)
      assert(planned.get != null, "concurrent planning did not finish")
      assert(planned.get.contains("AdaptiveSparkPlan"),
        "a concurrent query lost AQE while training ran:\n" + planned.get)
    }
    assert(spark.conf.get(aqeKey, "true") == sessionAqe)
  }

  test("the training clone shares the parent's cache manager") {
    // Training inputs are often persisted frames (clusterDedupQ's
    // `marked`); the rebind must keep hitting that cache, not recompute.
    val df = spark.range(0, 1000).select(
      (col("id") % 5).as("k"), col("id").as("x")).persist()
    try {
      df.count() // materialize
      val hit = SimilarityOps.trainConf(df, 5) { e =>
        e.queryExecution.withCachedData.toString.contains("InMemoryRelation")
      }
      assert(hit, "rebound training frame must read the parent's cache")
    } finally df.unpersist()
  }
}
