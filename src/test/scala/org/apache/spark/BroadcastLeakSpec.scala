package org.apache.spark

import graft.{QuantizerTraining, TestSpark}
import graft.operators.SimilarityOps
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}

/** Quantizer training releases every broadcast it makes: the local
  * block manager holds no broadcast value from a training call once it
  * returns (destroy is asynchronous, so the check polls for a bounded
  * time). Task binaries — the scheduler's Array[Byte] broadcasts, which
  * the context cleaner reclaims — are not training's and are skipped.
  */
class BroadcastLeakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Ids of locally held broadcast values other than task binaries. */
  private def valueBroadcasts(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect { case b: BroadcastBlockId => b }
      .filterNot(b => bm.memoryStore.getValues(b)
        .exists(it => it.hasNext && it.next().isInstanceOf[Array[Byte]]))
      .map(_.broadcastId).toSet
  }

  test("kmCentroids and pqTrain on a plain frame leave no broadcast behind") {
    import spark.implicits._
    // k = 40 covers the pruned assignment regime as well
    val e = (0L until 300L).map { i =>
      (i, Array.tabulate(64)(j => math.sin(i * 7 + j * 3) * 10))
    }.toDF("vec_id", "v")
    val before = valueBroadcasts()
    QuantizerTraining.kmCentroids(e, 40, 2)
    QuantizerTraining.pqTrain(e, 4, 8, 2)
    assertReleased(before)
  }

  test("unrotated trainQuantizer leaves no broadcast behind") {
    import spark.implicits._
    val e = (0L until 300L).map { i =>
      (i, Array.tabulate(64)(j => math.cos(i * 5 + j * 2) * 10))
    }.toDF("vec_id", "v")
    val before = valueBroadcasts()
    SimilarityOps.trainQuantizer(e, nlist = 8, nSub = 8, ksub = 8)
    assertReleased(before)
  }

  private def assertReleased(before: Set[Long]): Unit =
    eventually(timeout(Span(10, Seconds)), interval(Span(50, Millis))) {
      val left = valueBroadcasts() -- before
      assert(left.isEmpty, s"training left broadcasts ${left.toSeq.sorted}")
    }
}
