package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The training kernel's 1e-4 rounding (SimilarityOps.round4) against
  * the SQL it replaces, `round(x * 10000) / 10000`, evaluated by Spark's
  * codegen on the same doubles (an RDD-backed frame, so the projection
  * is not constant-folded). Bit equality is the contract: the DuckDB
  * replays of k-means and PQ training spell that SQL, so any drift here
  * moves an oracle hash. Each sample is one batch of doubles in one
  * Spark job, mixing random doubles, exact halfway cases
  * ((k + 0.5) / 10000, both signs), −0.0, NaN, ±∞ and magnitudes above
  * 1e15.
  */
object Round4Props extends Properties("round4") {
  private lazy val spark = TestSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private val special: Gen[Double] = Gen.oneOf(
    -0.0, 0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue, 0.00005, -0.00005)

  private val oneDouble: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e4, 1e4),
    3 -> Gen.choose(-1000000L, 1000000L).map(k => (k + 0.5) / 10000),
    2 -> Gen.choose(-1e22, 1e22).map(x => if (math.abs(x) < 1e15) x * 1e7 else x),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue)
      .map(java.lang.Double.longBitsToDouble),
    1 -> special)

  private val batch: Gen[List[Double]] =
    Gen.listOfN(400, oneDouble).map(xs =>
      xs ++ List(-0.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1.5e15, -2.5e16))

  property("round4 == Spark's round(x * 10000) / 10000, bit for bit") =
    Prop.forAll(batch) { xs =>
      import spark.implicits._
      val got = spark.sparkContext.parallelize(xs.zipWithIndex, 2).toDF("x", "i")
        .select(col("i"), (round(col("x") * 10000) / 10000).as("r"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val bad = xs.zipWithIndex.filter { case (x, i) =>
        java.lang.Double.doubleToLongBits(SimilarityOps.round4(x)) !=
          java.lang.Double.doubleToLongBits(got(i))
      }
      Prop(bad.isEmpty) :| bad.take(3).map { case (x, i) =>
        s"x=$x: round4=${SimilarityOps.round4(x)} spark=${got(i)}"
      }.mkString("; ")
    }
}
