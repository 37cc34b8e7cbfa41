package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame

/** The package-private quantizer training calls, for specs that must
  * live in Spark's own packages (BroadcastLeakSpec reads the block
  * manager, which is private to `org.apache.spark`). */
object QuantizerTraining {
  def kmCentroids(e: DataFrame, k: Int, iters: Int): Array[(Int, Array[Double])] =
    SimilarityOps.kmCentroids(e, k, iters)

  def pqTrain(e: DataFrame, nSub: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] =
    SimilarityOps.pqTrain(e, nSub, ksub, iters)
}
