package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Lloyd's training kernel under every quantizer takes its vector
  * width from the init rows: the IVF-PQ chain trains and encodes at a
  * width other than SimilarityOps.Dim, and a row whose width disagrees
  * fails the training loudly instead of being summed into the wrong
  * slots. The kernel's totals are the per-partition row-order sums merged
  * in partition order, bit for bit, so training never depends on task
  * timing.
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

  test("lloyd merges partition sums in partition order, bit for bit") {
    import spark.implicits._
    val (k, dim, iters) = (4, 4, 2)
    // ±1e12 components next to small fractions: each add rounds at
    // ulp(1e12)-scale, so every summation order leaves its own low bits,
    // which survive round4 at the means' magnitude
    val rows = (0L until 480L).map { i =>
      i -> Array.tabulate(dim) { j =>
        val big = if ((i / 3 + j) % 2 == 0) 1e12 else -1e12
        big * (1 + i % 5) + ((i * 7 + j * 13) % 97) / 97.0 * 0.37
      }
    }
    val e = spark.sparkContext.parallelize(rows, 12).toDF("vec_id", "v")
    val parts = e.select(col("v")).as[Array[Double]].rdd.glom().collect()
    assert(parts.length >= 8)
    val init = rows.filter(_._1 < k).map { case (i, v) => i.toInt -> v }.toArray
    // kmCentroids on the driver: assign each row, sum rows in order
    // within a partition from 0.0, merge the partials in `order`, round4
    def replay(order: Seq[Int]): Seq[Seq[Long]] = {
      var cents = init
      for (_ <- 1 to iters) {
        val idx = SimilarityOps.assignIndexFor(cents)
        val partials = parts.map { p =>
          val s = Array.fill(k, dim)(0.0)
          val n = new Array[Long](k)
          p.foreach { v =>
            val c = idx.nearest(v)._1
            for (j <- 0 until dim) s(c)(j) += v(j)
            n(c) += 1
          }
          (s, n)
        }
        val s = Array.fill(k, dim)(0.0)
        val n = new Array[Long](k)
        order.foreach { pi =>
          val (ps, pn) = partials(pi)
          for (c <- 0 until k) {
            for (j <- 0 until dim) s(c)(j) += ps(c)(j)
            n(c) += pn(c)
          }
        }
        cents = cents.zipWithIndex.map { case ((cid, prev), c) =>
          cid -> (if (n(c) == 0) prev
            else Array.tabulate(dim)(j => SimilarityOps.round4(s(c)(j) / n(c))))
        }
      }
      cents.toSeq.map(_._2.toSeq.map(java.lang.Double.doubleToLongBits))
    }
    val trained = SimilarityOps.kmCentroids(e, k, iters).toSeq
      .map(_._2.toSeq.map(java.lang.Double.doubleToLongBits))
    assert(trained == replay(parts.indices))
    // negative control: the order is visible in the bits at all
    assert(replay(parts.indices.reverse) != trained,
      "reverse-order merge gave the same bits: the case pins nothing")
  }
}
