package graft

import graft.operators.SimilarityOps
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the caller-owned trained-quantizer handle (r22; r21 "not yet
  * optimized" #2, verdict next-round #7): a pipeline trains once and
  * reuses the handle, the handle path is bit-identical to the inline
  * per-query training every registry query still runs, and re-encoding
  * under one handle schedules ZERO training collects. The bench numbers
  * are intentionally unaffected — the registry keeps its cold contract.
  */
class QuantizerHandleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def vecs = {
    import spark.implicits._
    val dim = SimilarityOps.Dim
    (0L until 64L).map { i =>
      (i, Array.tabulate(dim)(j =>
        math.sin(i * 131 + j * 17) * 10))
    }.toDF("vec_id", "v")
  }

  test("handle encode is bit-identical to the inline-trained encode") {
    val e = vecs.persist()
    try {
      e.count()
      val q = SimilarityOps.trainQuantizer(e, nlist = 4, nSub = 8, ksub = 8)
      // The inline path any registry query runs on the same frame:
      val cents = SimilarityOps.kmCentroids(e, 4, 2)
      val resid = SimilarityOps.ivfPqResiduals(e, cents)
        .select(col("vec_id"), col("r").as("v"))
      val cb = SimilarityOps.pqTrain(resid, 8, 8, 2)
      assert(q.cents.map(_._1).sameElements(cents.map(_._1)))
      assert(q.cents.zip(cents).forall { case ((_, a), (_, b)) =>
        a.sameElements(b) })
      assert(q.cb.zip(cb).forall { case (qa, ca) =>
        qa.zip(ca).forall { case (x, y) => x.sameElements(y) } })
      val got = SimilarityOps.encodeWith(e, q)
        .select("vec_id", "cid", "code").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2))).toSet
      val want = SimilarityOps.ivfPqEncode(e, cents, cb)
        .select("vec_id", "cid", "code").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2))).toSet
      assert(got == want, "handle-encode must equal inline-encode")
    } finally e.unpersist()
  }

  test("re-encoding under one handle runs zero training collects") {
    val e = vecs.persist()
    try {
      e.count()
      val q = SimilarityOps.trainQuantizer(e, nlist = 4, nSub = 8, ksub = 8)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(s: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        SimilarityOps.encodeWith(e, q).count()
        ListenerDrain(spark.sparkContext)
        val first = jobs.get()
        SimilarityOps.encodeWith(e, q).count()
        ListenerDrain(spark.sparkContext)
        val second = jobs.get() - first
        // An encode is one corpus pass (1-2 jobs with AQE); the training
        // chain alone is 3+ collects. Equal counts pin "no retrain".
        assert(second == first,
          s"second encode ran $second jobs vs $first — a handle re-use " +
            "must not retrain")
        assert(first >= 1 && first <= 2,
          s"encode-only pass should be 1-2 jobs, ran $first")
      } finally spark.sparkContext.removeSparkListener(l)
    } finally e.unpersist()
  }
}
