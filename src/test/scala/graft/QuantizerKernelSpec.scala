package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Lloyd's training kernel under every quantizer takes its vector
  * width from the init rows: the IVF-PQ chain trains and encodes at a
  * width other than SimilarityOps.Dim, and a row whose width disagrees
  * fails the training loudly instead of being summed into the wrong
  * slots.
  */
class QuantizerKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "v")
  }

  test("IVF-PQ chain trains and encodes 32-dim vectors") {
    val dim = 32
    val rng = new scala.util.Random(32)
    val centers = Array.fill(6)(Array.fill(dim)(rng.nextGaussian() * 4))
    val e = frame((0L until 180L).map { i =>
      val c = centers((i % 6).toInt)
      i -> Array.tabulate(dim)(j => c(j) + 0.1 * rng.nextGaussian())
    })
    val cents = SimilarityOps.kmCentroids(e, 6, 2)
    assert(cents.map(_._1).toSeq == (0 until 6))
    assert(cents.forall(_._2.length == dim))
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    val cb = SimilarityOps.pqTrain(resid, 8, 4, 2)
    assert(cb.length == 8 && cb.forall(b => b.length == 4 && b.forall(_.length == 4)))
    val coded = SimilarityOps.ivfPqEncode(e, cents, cb)
      .select(col("vec_id"), col("cid"), col("code")).collect()
    assert(coded.length == 180)
    assert(coded.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 6))
    assert(coded.forall(r => r.getSeq[Byte](2).length == 8 &&
      r.getSeq[Byte](2).forall(c => c >= 0 && c < 4)))
    // the cells are the planted clusters: the six init vectors are one
    // of each, so every vector lands in its center's cell
    assert(coded.forall(r => r.getInt(1) == (r.getLong(0) % 6).toInt))
  }

  test("a row of another width fails training instead of being mis-summed") {
    val rows = (0L until 20L).map(i => i -> Array.tabulate(8)(j => (i * j).toDouble))
    val short = frame(rows :+ (20L -> Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)))
    Seq[(String, () => Any)](
      "kmCentroids" -> (() => SimilarityOps.kmCentroids(short, 4, 1)),
      "ivfCentroids" -> (() => SimilarityOps.ivfCentroids(short, 4, 1)),
      "pqTrain" -> (() => SimilarityOps.pqTrain(short, 2, 4, 1))
    ).foreach { case (name, train) =>
      val err = intercept[Exception](train())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains("6-dim row in a 8-dim training input"),
        s"$name failed for another reason: $msgs")
    }
    val err = intercept[IllegalArgumentException](
      SimilarityOps.pqTrain(frame(rows), 3, 4, 1))
    assert(err.getMessage.contains("do not split into nSub=3"))
  }
}
