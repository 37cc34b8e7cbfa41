package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The k-means assignment ([[SimilarityOps.kmAssign]], a
  * triangle-inequality centroid shortlist) claims BIT-IDENTITY with the
  * full-scan codegen'd scores array ([[KmBrute.kmAssignBrute]]) — labels
  * AND distances — which is what the oracle's exact replay relies on.
  * This spec builds the adversarial cases the claim has to survive:
  * duplicate centroids (exact distance ties, where the brute
  * reference's first-occurrence-of-min rule must be reproduced), a
  * centroid that IS a data vector (d ≈ 0, maximal pruning pressure), a
  * zero vector, and exact duplicate vector blocks — and the registered
  * queries' own k = 8 quantizer.
  *
  * The same corpus then pins the clusterDedupQ rewrite: the exact
  * duplicate pre-collapse must leave the kept set IDENTICAL to the
  * all-pairs-within-cell semantics (computed independently here with a
  * driver union-find), and the hot-cell band cap — forced on by a tiny
  * `maxCellReps` — must still collapse every exact-duplicate group
  * (collapse runs BEFORE banding, so banding can never split a
  * bit-identical twin from its representative).
  */
class KmeansPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 64
  private val n = 1200
  private val dir = "/tmp/graft_kmprune_spec"

  // deterministic corpus with planted structure:
  //  - ids 100..119 bit-identical (20-copy duplicate block)
  //  - ids 200, 201 bit-identical pair
  //  - id 50 the zero vector
  private lazy val vectors: Map[Long, Array[Float]] = {
    val rng = new scala.util.Random(7)
    val base = (0L until n).map { i =>
      i -> Array.fill(dim)(rng.nextGaussian().toFloat)
    }.toMap
    val planted = base ++
      (101L to 119L).map(i => i -> base(100L).clone()).toMap +
      (201L -> base(200L).clone()) + (50L -> Array.fill(dim)(0f))
    val df = spark.createDataFrame(
      planted.toSeq.sortBy(_._1).map { case (id, v) => (id, v, 0) })
      .toDF("vec_id", "embedding", "label")
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    planted
  }

  private def e = {
    vectors // force the write
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
  }

  test("pruned assignment bit-identical to brute: ties, zero vector, d=0") {
    // 46 data vectors as centroids plus two DUPLICATES at higher cids:
    // vectors 0 and 1 reappear as cids 46/47, so every vector nearest to
    // centroid 0 or 1 has an exact distance tie that must break LOW.
    val vd = vectors.map { case (id, v) => id -> v.map(_.toDouble) }
    val cents = ((0 until 46).map(i => i -> vd(i.toLong)) ++
      Seq(46 -> vd(0L).clone(), 47 -> vd(1L).clone())).toArray
    def grab(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Long)] =
      df.select("vec_id", "cid", "d").collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))))
        .toMap
    def parity(name: String, cs: Array[(Int, Array[Double])]): Map[Long, (Int, Long)] = {
      val brute = grab(KmBrute.kmAssignBrute(e, cs))
      val pruned = grab(SimilarityOps.kmAssign(e, cs))
      assert(brute.size == vectors.size && pruned.size == vectors.size)
      val diffs = brute.keys.filter(id => brute(id) != pruned(id))
      assert(diffs.isEmpty,
        s"$name: pruned diverged on ${diffs.take(5).map(id => s"$id: ${brute(id)} vs ${pruned(id)}").mkString("; ")}")
      brute
    }
    val brute = parity("ties", cents)
    // the tie rule actually fired: vectors 0 and 1 sit at d=0 from BOTH
    // their own centroid and its duplicate — the kept cid must be the low one
    assert(brute(0L)._1 == 0 && brute(1L)._1 == 1)
    // the registered queries' quantizer (KmK = 8, KmIters = 2)
    parity("registered k=8", SimilarityOps.kmCentroids(e, 8, 2))
  }

  test("cluster dedup collapse rewrite equals all-pairs-within-cell semantics") {
    val tau = 0.9
    val kept = SimilarityOps.clusterDedupQ(8, 2, tau)(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // independent expected set: assignment from the registered query,
    // exact all-pairs cosine within each cell, driver union-find
    val cells = SimilarityOps.kmeansAssignQ(8, 2)(spark, dir)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val vd = vectors.map { case (id, v) => id -> v.map(_.toDouble) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb)) // cosine_sim's exact fold
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    cells.groupBy(_._2).values.foreach { cell =>
      val ids = cell.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        val c = cos(vd(ids(i)), vd(ids(j)))
        if (!c.isNaN && math.round(c * 1000000) / 1000000.0 >= tau)
          union(ids(i), ids(j))
      }
    }
    val expected = vectors.keySet.filter(id => find(id) == id)
    assert(kept == expected,
      s"kept differs: missing=${(expected -- kept).take(5)} extra=${(kept -- expected).take(5)}")
    // the planted structure behaved: dup blocks collapsed to min id,
    // the zero vector survived (NaN self-cosine ⇒ no edges)
    assert(kept.contains(100L) && (101L to 119L).forall(!kept.contains(_)))
    assert(kept.contains(200L) && !kept.contains(201L))
    assert(kept.contains(50L))
  }

  test("cancellation regime: near-identical centroids, vectors ON centroids (d≈0)") {
    // centroid pairs (2j, 2j+1) differ by 1e-7 in ONE component, and the
    // probe vectors ARE the centroids — so best ≈ 0 while the twin
    // centroid's brute distance computes at true d ≈ 1e-14, where the
    // (v·v − 2·v·c) + Σc² decomposition's cancellation can land BELOW
    // zero. A skip test without the absolute slack prunes the twin that
    // brute would crown (review finding); this pins the fix.
    val rng = new scala.util.Random(13)
    val base = Array.fill(24)(Array.fill(dim)(rng.nextGaussian()))
    val cents = (0 until 48).map { i =>
      val c = base(i / 2).clone()
      if (i % 2 == 1) c(i % dim) += 1e-7
      i -> c
    }.toArray
    val rows = cents.map { case (i, c) => (1000L + i, c) } ++
      (0 until 200).map(i => (2000L + i, Array.fill(dim)(rng.nextGaussian())))
    val df = spark.createDataFrame(rows.toSeq).toDF("vec_id", "v")
    def grab(d: org.apache.spark.sql.DataFrame): Map[Long, (Int, Long)] =
      d.select("vec_id", "cid", "d").collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))))
        .toMap
    val brute = grab(KmBrute.kmAssignBrute(df, cents))
    val pruned = grab(SimilarityOps.kmAssign(df, cents))
    val diffs = brute.keys.filter(id => brute(id) != pruned(id))
    assert(diffs.isEmpty,
      s"cancellation divergence on ${diffs.take(5).map(id => s"$id: ${brute(id)} vs ${pruned(id)}").mkString("; ")}")
  }

  test("NaN-component duplicates are kept, not collapsed (brute gives them no edges)") {
    // identical vectors with a NaN component: cosine_sim(v, v) is NaN, so
    // the !isnan pair filter gives brute NO edge between them — the
    // collapse's member→rep edge must therefore not fire either (Spark
    // groups NaN = NaN as true in the window, so they DO share a group).
    // A finite bit-identical twin pair rides along to prove the collapse
    // still fires right next to the NaN group.
    val dir2 = "/tmp/graft_kmprune_nan_spec"
    val rng = new scala.util.Random(99)
    val nanVec = Array.fill(dim)(rng.nextGaussian().toFloat)
    nanVec(7) = Float.NaN
    val finTwin = Array.fill(dim)(rng.nextGaussian().toFloat)
    val rows = (0L until 300L).map(i =>
      (i, Array.fill(dim)(rng.nextGaussian().toFloat), 0)) ++
      Seq((300L, nanVec.clone(), 0), (301L, nanVec.clone(), 0),
        (302L, finTwin.clone(), 0), (303L, finTwin.clone(), 0))
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    val kept = SimilarityOps.clusterDedupQ(8, 2, 0.9)(spark, dir2)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(300L) && kept.contains(301L),
      "NaN-component duplicates must BOTH be kept (no valid cosine edge)")
    assert(kept.contains(302L) && !kept.contains(303L),
      "finite bit-identical twin must still collapse to its min id")
  }

  test("hot-cell banding (forced via tiny cap) still collapses exact duplicates") {
    val kept = SimilarityOps.clusterDedupQ(8, 2, 0.9, maxCellReps = 16)(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(100L) && (101L to 119L).forall(!kept.contains(_)),
      "banding must not split bit-identical twins from their rep")
    assert(kept.contains(200L) && !kept.contains(201L))
    assert(kept.contains(50L))
    // banding only ever REMOVES candidate pairs, so kept can only grow
    val keptUnbanded = SimilarityOps.clusterDedupQ(8, 2, 0.9)(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(keptUnbanded.subsetOf(kept))
  }
}
