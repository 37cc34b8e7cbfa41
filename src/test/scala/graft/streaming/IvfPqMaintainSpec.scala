package graft.streaming

import graft.TestSpark
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SELF-MAINTENANCE loop ([[IvfPqIngest.maintain]]) — r19 verdict
  * #1: drift-triggered retrain as ONE call. Every part was already
  * individually proven (stats price drift, trainGeneration retrains
  * with the arming rule, beginGeneration publishes, migrateBatch/
  * migrate move codes); this spec pins the COMPOSITION:
  *  1. no drift ⇒ NO-OP — nothing trained, published, or moved;
  *  2. the IvfPqMigrateSpec drift scenario heals through the single
  *     entry point — the drifted batch is flagged, migrates first,
  *     the post-migration qerr returns inside the band, and a second
  *     call is a no-op (the signal was consumed);
  *  3. crash ANYWHERE re-converges: after the structures persist,
  *     after the marker publishes, or mid-migration — each re-run
  *     completes to the same bit-identical store, reusing the
  *     persisted structures instead of retraining;
  *  4. the persisted-structures sidecar round-trips bit for bit and
  *     is marker-verified on load.
  * The same loop at scale is recorded in COVERAGE.md ("maintain() at
  * scale through the UNATTENDED path"). */
class IvfPqMaintainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 64
  private val nClusters = 20
  private val nBoot = 220

  private def freshDir(tag: String): String =
    s"/tmp/graft_ivfpq_maintain_$tag-${System.nanoTime()}"

  /** IvfPqMigrateSpec's fixture shape: bootstrap + 2 in-dist batches
    * (batch 2 carries planted twins) + 1 DRIFTED batch (same cluster
    * structure translated by a constant offset). */
  private lazy val fixture: (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val rng = new scala.util.Random(47)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rng.nextGaussian()))
    def near(c: Array[Double], eps: Double) =
      Array.tabulate(dim)(j => c(j) + eps * rng.nextGaussian())
    val boot = (0 until nBoot).map { i =>
      (i.toLong, near(centers(i % nClusters), 0.05))
    }
    val target = boot(7)._2
    val batches = Seq(
      (1000 until 1040).map(i => (i.toLong, near(centers(i % nClusters), 0.05))),
      (2000 until 2040).map(i => (i.toLong, near(centers(i % nClusters), 0.05)))
        ++ (0 until 5).map(i => (2100L + i, near(target, 0.01))),
      (3000 until 3040).map(i =>
        (i.toLong, near(centers(i % nClusters), 0.05).map(_ + 2.0))))
    (boot, batches.map(_.toSeq))
  }

  private def df(rows: Seq[(Long, Array[Double])]) =
    spark.createDataFrame(rows).toDF("vec_id", "v")

  private lazy val allRows: Seq[(Long, Array[Double])] =
    fixture._1 ++ fixture._2.flatten

  private lazy val gen0: SimilarityOps.TrainedQuantizer = {
    val e = df(fixture._1)
    val cents = SimilarityOps.kmCentroids(e, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    SimilarityOps.TrainedQuantizer(cents, SimilarityOps.pqTrain(resid, 8, 16, 2))
  }

  /** The retrain window an operator actually has: the last in-dist
    * batch + the drifted batch, ids re-based 0..n-1. */
  private lazy val window: Seq[(Long, Array[Double])] =
    (fixture._2(1) ++ fixture._2(2)).map(_._2).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }

  /** Ingest boot + all 4 batches at gen 0 with the gen-0 structures. */
  private def build(dir: String): Unit = {
    val (boot, batches) = fixture
    IvfPqIngest.processBatch(df(boot), 0L, dir, gen0.cents, gen0.cb)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, gen0.cents, gen0.cb)
    }
  }

  private def codesOf(dir: String): Array[(Long, Int, Seq[Byte])] =
    spark.read.parquet(s"$dir/codes")
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)

  private def maintainOnce(dir: String) =
    IvfPqIngest.maintain(spark, dir, df(allRows), df(window), 8, 8, 16)

  private def flatStructs(s: SimilarityOps.TrainedQuantizer): Seq[Double] =
    s.cents.sortBy(_._1).toSeq.flatMap(_._2.toSeq) ++
      s.cb.toSeq.flatMap(_.toSeq.flatMap(_.toSeq)) ++
      s.rot.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))

  test("persisted structures round-trip bit for bit and are marker-verified") {
    val dir = freshDir("structs")
    val s = IvfPqIngest.trainGeneration(df(window), 8, 8, 16)
    IvfPqIngest.saveGeneration(spark, dir, 0, s)
    val loaded = IvfPqIngest.loadGeneration(spark, dir, 0).get
    assert(flatStructs(loaded) == flatStructs(s) &&
      loaded.rot.isDefined == s.rot.isDefined,
      "structures did not round-trip bit for bit")
    assert(IvfPqIngest.loadGeneration(spark, dir, 1).isEmpty)
    // While no marker is published the file may be overwritten (an
    // aborted rollout retrains); once the marker exists the bytes are
    // pinned — a mismatched save fails loud.
    IvfPqIngest.saveGeneration(spark, dir, 0, gen0) // overwrite: no marker yet
    IvfPqIngest.beginGeneration(spark, dir, 0, gen0.cents, gen0.cb, gen0.rot)
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.saveGeneration(spark, dir, 0, s)
    }
    assert(ex.getMessage.contains("incomparable"))
    // And a load whose bytes disagree with the marker fails loud too.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_structs_g0"), false)
    IvfPqIngest.saveGeneration(spark, dir, 0, gen0) // matches the marker
    assert(IvfPqIngest.loadGeneration(spark, dir, 0).isDefined)
  }

  test("no drift => no-op: nothing trained, published, or moved") {
    val dir = freshDir("noop")
    val (boot, batches) = fixture
    IvfPqIngest.processBatch(df(boot), 0L, dir, gen0.cents, gen0.cb)
    // Only the in-dist batches — no drift to price.
    batches.take(2).zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, gen0.cents, gen0.cb)
    }
    val before = codesOf(dir)
    val r = maintainOnce(dir)
    assert(r.newGen.isEmpty && r.flagged.isEmpty && r.migrated == 0 &&
      !r.resumed, s"in-band store must be a no-op: $r")
    assert(r.worstRatio < 3.0, s"in-band worstRatio reported ${r.worstRatio}")
    assert(IvfPqIngest.latestGeneration(spark, dir) == 0,
      "no-op must not publish a generation")
    assert(IvfPqIngest.loadGeneration(spark, dir, 1).isEmpty,
      "no-op must not persist structures")
    assert(codesOf(dir).sameElements(before), "no-op must not touch codes")
  }

  test("the drift scenario heals through the single entry point") {
    val dir = freshDir("heal")
    build(dir)
    val r = maintainOnce(dir)
    assert(r.newGen.contains(1) && !r.resumed, s"drift must roll a generation: $r")
    assert(r.flagged == Seq(3L),
      s"exactly the drifted batch must be flagged (first): ${r.flagged}")
    assert(r.worstRatio > 3.0, s"drift not priced in the report: $r")
    assert(r.migrated == 4, s"all 4 batches must move: $r")
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen.getOrElse(0, Set.empty).isEmpty &&
      byGen(1) == Set(0L, 1L, 2L, 3L), s"store not fully at gen 1: $byGen")
    // The loop actually closed: under the new generation the drifted
    // batch's qerr sits back inside the band.
    val stats = spark.read.parquet(s"$dir/stats").filter(col("gen") === 1)
      .select(col("batch").cast("long"), col("mean_qerr")).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val band1 = stats.values.toSeq.sorted.apply(stats.size / 2)
    assert(stats(3L) < 3.0 * band1,
      s"post-maintain drifted qerr ${stats(3L)} still outside band $band1")
    // The signal was consumed: a second call is a no-op.
    val r2 = maintainOnce(dir)
    assert(r2.newGen.isEmpty && r2.migrated == 0 && !r2.resumed,
      s"second maintain() must be a no-op: $r2")
    // And the healed store equals a from-scratch build with the
    // persisted generation-1 structures, bit for bit.
    val s1 = IvfPqIngest.loadGeneration(spark, dir, 1).get
    val rebuilt = freshDir("heal_rebuild")
    val (boot, batches) = fixture
    IvfPqIngest.processBatch(df(boot), 0L, rebuilt, s1.cents, s1.cb, 0, s1.rot)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, rebuilt,
        s1.cents, s1.cb, 0, s1.rot)
    }
    assert(codesOf(dir).sameElements(codesOf(rebuilt)),
      "maintained store diverged from a from-scratch build with its own structures")
  }

  test("crash after the structures persist: re-run REUSES them, never retrains") {
    val dir = freshDir("crash_structs")
    build(dir)
    // The aborted run trained with kmIters=1 — deliberately different
    // from maintain()'s default (kmIters=2) so a retrain would produce
    // DIFFERENT structures and the marker would expose it.
    val aborted = IvfPqIngest.trainGeneration(df(window), 8, 8, 16, kmIters = 1)
    IvfPqIngest.saveGeneration(spark, dir, 1, aborted)
    val r = maintainOnce(dir)
    assert(r.newGen.contains(1) && r.migrated == 4, s"re-run did not heal: $r")
    // The marker pins the ABORTED run's structures — proof of reuse.
    val loaded = IvfPqIngest.loadGeneration(spark, dir, 1).get
    assert(flatStructs(loaded) == flatStructs(aborted),
      "re-run retrained instead of reusing the persisted structures")
    assert(IvfPqIngest.listBatches(spark, dir)(1).size == 4)
  }

  test("crash after the marker publishes, and mid-migration: re-runs converge") {
    val dir = freshDir("crash_marker")
    build(dir)
    val s1 = IvfPqIngest.trainGeneration(df(window), 8, 8, 16)
    IvfPqIngest.saveGeneration(spark, dir, 1, s1)
    IvfPqIngest.beginGeneration(spark, dir, 1, s1.cents, s1.cb, s1.rot)
    // Mid-migration crash: one batch already moved.
    IvfPqIngest.migrateBatch(spark, dir, 3L, df(allRows), 0, 1,
      s1.cents, s1.cb, s1.rot)
    val r = maintainOnce(dir)
    assert(r.resumed && r.newGen.contains(1) && r.migrated == 3,
      s"interrupted rollout must resume, not re-read the signal: $r")
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen.getOrElse(0, Set.empty).isEmpty &&
      byGen(1) == Set(0L, 1L, 2L, 3L), s"resume did not converge: $byGen")
    // Converged bit-identically to a from-scratch s1 build.
    val rebuilt = freshDir("crash_rebuild")
    val (boot, batches) = fixture
    IvfPqIngest.processBatch(df(boot), 0L, rebuilt, s1.cents, s1.cb, 0, s1.rot)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, rebuilt,
        s1.cents, s1.cb, 0, s1.rot)
    }
    assert(codesOf(dir).sameElements(codesOf(rebuilt)))
    // A further call after convergence is a no-op.
    val r2 = maintainOnce(dir)
    assert(r2.newGen.isEmpty && !r2.resumed, s"post-resume call not a no-op: $r2")
  }

  test("a rollout begun OUTSIDE maintain() (no persisted structures) fails loud") {
    val dir = freshDir("foreign")
    build(dir)
    val s1 = IvfPqIngest.trainGeneration(df(window), 8, 8, 16)
    IvfPqIngest.beginGeneration(spark, dir, 1, s1.cents, s1.cb, s1.rot)
    val ex = intercept[IllegalStateException] { maintainOnce(dir) }
    assert(ex.getMessage.contains("_structs_g1"),
      s"must name the missing sidecar: ${ex.getMessage}")
  }

  test("majority drift: the median band reads quiet; bandOverride flags it") {
    // When MOST of the store has drifted, the median tracks the new
    // normal and the ratio signal is structurally quiet — a
    // whole-distribution shift, not the minority-drift case the median
    // is for. The operator drives it by passing the known
    // in-distribution band: every drifted batch then flags.
    val dir = freshDir("majority")
    val (boot, batches) = fixture
    val drifted = batches(2)
    IvfPqIngest.processBatch(df(boot), 0L, dir, gen0.cents, gen0.cb)
    // Two MORE drifted batches (ids disjoint) — drift is now 3 of 4.
    IvfPqIngest.processBatch(df(drifted), 1L, dir, gen0.cents, gen0.cb)
    IvfPqIngest.processBatch(
      df(drifted.map { case (id, v) => (id + 10000, v) }), 2L, dir,
      gen0.cents, gen0.cb)
    IvfPqIngest.processBatch(
      df(drifted.map { case (id, v) => (id + 20000, v) }), 3L, dir,
      gen0.cents, gen0.cb)
    val corpus = df(boot ++ drifted ++
      drifted.map { case (id, v) => (id + 10000, v) } ++
      drifted.map { case (id, v) => (id + 20000, v) })
    // Median band = the drifted level → quiet → no-op.
    val quiet = IvfPqIngest.maintain(spark, dir, corpus, df(window), 8, 8, 16)
    assert(quiet.newGen.isEmpty,
      s"majority drift must read quiet under the median band: $quiet")
    // The operator supplies the true in-dist band (the bootstrap
    // batch's own qerr) → all three drifted batches flag.
    val inBand = spark.read.parquet(s"$dir/stats")
      .filter(col("gen") === 0 && col("batch") === 0)
      .select("mean_qerr").head().getDouble(0)
    val r = IvfPqIngest.maintain(spark, dir, corpus, df(window), 8, 8, 16,
      bandOverride = Some(inBand))
    assert(r.newGen.contains(1) && r.flagged.toSet == Set(1L, 2L, 3L),
      s"override must flag every drifted batch: $r")
    assert(r.migrated == 4)
  }

  test("trainGeneration refuses a window whose dim disagrees with the rotation") {
    // r19 advisor: the rotation machinery is pinned at 64 dims; a wider
    // window would silently truncate, a narrower one would throw
    // mid-train — both must fail loud at entry instead.
    val narrow = (0 until 50).map(i =>
      (i.toLong, Array.fill(32)(scala.util.Random.nextGaussian())))
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.trainGeneration(df(narrow), 8, 8, 16)
    }
    assert(ex.getMessage.contains("32-dim"), ex.getMessage)
  }
}
