package graft.streaming

import graft.TestSpark
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPQ rotation IN THE STREAMING STORE (r18 verdict #1): the trained
  * rotation (Ge et al., CVPR 2013 — [[SimilarityOps.opqTrainRotation]])
  * deployed through [[IvfPqIngest]]'s generation machinery, so the
  * measured recall win can roll into a LIVE index instead of existing
  * only as a batch query. Load-bearing claims:
  *  1. a store migrated to a rotated generation equals a from-scratch
  *     rotated rebuild BIT FOR BIT, and both equal the batch
  *     `rotateBy → ivfPqEncode` build — stream-maintained, migrated,
  *     and batch-built OPQ indexes are interchangeable;
  *  2. retrieval is correct across a MIXED rotated/unrotated interval:
  *     each generation scores in its own space (the probe rotates per
  *     generation), and because R is orthonormal both spaces' ADC
  *     estimate the same ‖p − v‖², so one global top-k stays valid;
  *  3. the codebook marker pins the rotation: the same (cents, cb)
  *     with and without R are INCOMPARABLE structures and must fail
  *     loud, never silently mix codes from different spaces.
  * The recall payoff at scale on the anisotropic corpus is recorded in
  * COVERAGE.md ("The rollout measured at scale"); this spec pins the
  * arithmetic. */
class IvfPqOpqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dim = 64
  private val nClusters = 20
  private val nBoot = 220

  private def freshDir(tag: String): String =
    s"/tmp/graft_ivfpq_opq_$tag-${System.nanoTime()}"

  /** Bootstrap + 3 batches; batch 2 carries 5 planted near-twins of
    * bootstrap vector 7 (the retrieval canaries). ANISOTROPIC on
    * purpose — dims 0..7 carry 10× the spread — so the trained rotation
    * has real structure to find, like the corpus OPQ exists for. */
  private lazy val fixture: (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val rng = new scala.util.Random(61)
    def scale(j: Int): Double = if (j < 8) 10.0 else 0.1
    val centers = Array.fill(nClusters)(
      Array.tabulate(dim)(j => scale(j) * rng.nextGaussian()))
    def near(c: Array[Double], eps: Double) =
      Array.tabulate(dim)(j => c(j) + eps * scale(j) * rng.nextGaussian())
    val boot = (0 until nBoot).map { i =>
      (i.toLong, near(centers(i % nClusters), 0.05))
    }
    val target = boot(7)._2
    val batches = Seq(
      (1000 until 1040).map(i => (i.toLong, near(centers(i % nClusters), 0.05))),
      (2000 until 2040).map(i => (i.toLong, near(centers(i % nClusters), 0.05))),
      (3000 until 3040).map(i => (i.toLong, near(centers(i % nClusters), 0.05)))
        ++ (0 until 5).map(i => (3100L + i, near(target, 0.01))))
    (boot, batches.map(_.toSeq))
  }

  private def df(rows: Seq[(Long, Array[Double])]) =
    spark.createDataFrame(rows).toDF("vec_id", "v")

  private lazy val allRows: Seq[(Long, Array[Double])] =
    fixture._1 ++ fixture._2.flatten

  /** Unrotated gen-0 structures (the pre-OPQ store). */
  private lazy val gen0: SimilarityOps.TrainedQuantizer = {
    val e = df(fixture._1)
    val cents = SimilarityOps.kmCentroids(e, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(e, cents)
      .select(col("vec_id"), col("r").as("v"))
    SimilarityOps.TrainedQuantizer(cents, SimilarityOps.pqTrain(resid, 8, 16, 2))
  }

  /** OPQ gen-1: train R on the bootstrap window, then coarse + PQ
    * structures in ROTATED space — the structures an operator ships
    * when the qerr signal says the flat codebooks under-resolve. */
  private lazy val gen1: SimilarityOps.TrainedQuantizer = {
    val e = df(fixture._1)
    val r = SimilarityOps.opqTrainRotation(e, 8, 16, 2, 1)
    val rot = SimilarityOps.rotateBy(e, r)
    val cents = SimilarityOps.kmCentroids(rot, 8, 2)
    val resid = SimilarityOps.ivfPqResiduals(rot, cents)
      .select(col("vec_id"), col("r").as("v"))
    SimilarityOps.TrainedQuantizer(
      cents, SimilarityOps.pqTrain(resid, 8, 16, 2), Some(r))
  }

  private def build(dir: String, s: SimilarityOps.TrainedQuantizer, gen: Int): Unit = {
    val (boot, batches) = fixture
    if (gen > 0) IvfPqIngest.beginGeneration(spark, dir, gen, s.cents, s.cb, s.rot)
    IvfPqIngest.processBatch(df(boot), 0L, dir, s.cents, s.cb, gen, s.rot)
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqIngest.processBatch(df(b), (i + 1).toLong, dir, s.cents, s.cb, gen, s.rot)
    }
  }

  private def codesOf(dir: String): Array[(Long, Int, Seq[Byte])] =
    spark.read.parquet(s"$dir/codes")
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)

  test("migrated-to-OPQ store == from-scratch rotated rebuild == batch encode, bit for bit") {
    val migrated = freshDir("mig")
    build(migrated, gen0, 0)
    IvfPqIngest.beginGeneration(spark, migrated, 1, gen1.cents, gen1.cb, gen1.rot)
    val moved = IvfPqIngest.migrate(
      spark, migrated, df(allRows), 1, gen1.cents, gen1.cb, gen1.rot)
    assert(moved == 4, s"expected 4 batches migrated, got $moved")
    val rebuilt = freshDir("rebuild")
    build(rebuilt, gen1, 0)
    val a = codesOf(migrated)
    val b = codesOf(rebuilt)
    assert(a.length == b.length && a.length == allRows.length)
    assert(a.sameElements(b),
      "migrated OPQ codes diverged from a from-scratch rotated build")
    // And both equal the BATCH build: rotateBy → ivfPqEncode with the
    // same structures — the stream/batch interchangeability contract,
    // now holding through the rotation.
    val batchCodes = SimilarityOps.ivfPqEncode(
      SimilarityOps.rotateBy(df(allRows), gen1.rot.get), gen1.cents, gen1.cb)
      .select("vec_id", "cid", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2).toSeq))
      .sortBy(_._1)
    assert(a.sameElements(batchCodes),
      "streamed OPQ codes diverged from the batch rotateBy→ivfPqEncode build")
  }

  test("mixed rotated/unrotated retrieval is correct across the interval") {
    val dir = freshDir("mixed")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1.cents, gen1.cb, gen1.rot)
    // Migrate batches 0 and 1; batch 2 and batch 3 (the twins) stay at
    // the unrotated gen 0 — the store is mid-rollout of the OPQ index.
    IvfPqIngest.migrateBatch(spark, dir, 0L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    IvfPqIngest.migrateBatch(spark, dir, 1L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    val byGen = IvfPqIngest.listBatches(spark, dir)
    assert(byGen(0) == Set(2L, 3L) && byGen(1) == Set(0L, 1L))

    val pv = fixture._1(7)._2
    val got = IvfPqIngest.retrieve(spark, dir,
      Map(0 -> gen0, 1 -> gen1), pv, 3, 20)
    // The (gen, cid) filter must still reach the scan as partition
    // pruning — the rotation must not cost the store its prune.
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("cid"),
      s"(gen, cid) pruning not in PartitionFilters:\n$plan")
    val ids = got.collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "duplicate vec_ids in top-k")
    val twins = (0 until 5).map(i => 3100L + i).toSet
    assert(twins.subsetOf(ids.toSet),
      s"unrotated-side planted twins missing from mixed retrieval: ${twins -- ids.toSet}")
    assert(ids.contains(7L),
      "rotated-side probe's own vector missing from mixed retrieval")
  }

  test("the marker pins the rotation: same (cents, cb) with/without R are incomparable") {
    val dir = freshDir("marker")
    val s = gen1
    IvfPqIngest.processBatch(df(fixture._1), 0L, dir, s.cents, s.cb, 0, s.rot)
    // Same generation, same centroids and codebooks, NO rotation: the
    // codes would live in a different space — must fail loud.
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.processBatch(df(fixture._2.head), 1L, dir, s.cents, s.cb, 0, None)
    }
    assert(ex.getMessage.contains("incomparable"))
    // And retrieval with the rotation dropped must refuse too.
    val ex2 = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieve(spark, dir, Map(0 -> SimilarityOps.TrainedQuantizer(s.cents, s.cb)),
        fixture._1(7)._2, 3, 5)
        .collect()
    }
    assert(ex2.getMessage.contains("incomparable"))
  }

  test("trainGeneration applies the arming rule and matches hand-built structures") {
    val window = df(fixture._1)
    // The anisotropic window must ARM (the regime OPQ exists for), and
    // the armed structures must equal the hand-built gen1 exactly —
    // trainGeneration is a composition, not a new code path.
    def flatR(a: Array[Array[Double]]): Seq[Double] =
      a.toSeq.flatMap(_.toSeq)
    def flatC(c: IvfPqIngest.Cents): Seq[Double] =
      c.sortBy(_._1).toSeq.flatMap(_._2.toSeq)
    def flatB(b: IvfPqIngest.Books): Seq[Double] =
      b.toSeq.flatMap(_.toSeq.flatMap(_.toSeq))
    val armed = IvfPqIngest.trainGeneration(window, 8, 8, 16, opqSweeps = 1)
    assert(armed.rot.isDefined,
      "anisotropic window did not arm OPQ at the default threshold")
    assert(flatR(armed.rot.get) == flatR(gen1.rot.get),
      "armed rotation diverged from the hand-built opqTrainRotation")
    assert(flatC(armed.cents) == flatC(gen1.cents))
    assert(flatB(armed.cb) == flatB(gen1.cb))
    // An unreachable threshold DISARMS: unrotated structures, equal to
    // the hand-built gen0 — the measured right answer for data where
    // the rotation buys too little.
    val disarmed = IvfPqIngest.trainGeneration(
      window, 8, 8, 16, opqSweeps = 1, minDrop = 0.99)
    assert(disarmed.rot.isEmpty, "minDrop=0.99 must never arm")
    assert(flatC(disarmed.cents) == flatC(gen0.cents))
    assert(flatB(disarmed.cb) == flatB(gen0.cb))
  }

  test("retrieveBatch == per-probe retrieveGens on the mixed rotated store") {
    // Batching probes changes no probe's answer: each probe's rows from
    // one multi-probe scan equal that probe retrieved alone through
    // `retrieve` (the per-probe retrieval over the generations map,
    // formerly retrieveGens) — same candidates, same ADC doubles, same
    // (adc, vec_id) order — before and after a tombstone.
    val dir = freshDir("batch")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1.cents, gen1.cb, gen1.rot)
    IvfPqIngest.migrateBatch(spark, dir, 0L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    IvfPqIngest.migrateBatch(spark, dir, 1L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    val gens = Map(0 -> gen0, 1 -> gen1)
    val probes = Seq(7L, 20L, 55L).map(i => i -> fixture._1(i.toInt)._2)
    val probesDf = spark.createDataFrame(probes).toDF("probe_id", "v")
    def batch(): Map[Long, Seq[(Long, Double)]] =
      IvfPqIngest.retrieveBatch(spark, dir, gens, probesDf, 3, 15)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (pid, rs) =>
          pid -> rs.map(t => (t._2, t._3)).sortBy { case (v, a) => (a, v) }.toSeq }
    def single(pv: Array[Double]): Seq[(Long, Double)] =
      IvfPqIngest.retrieve(spark, dir, gens, pv, 3, 15)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = batch()
    probes.foreach { case (pid, pv) =>
      val one = single(pv)
      assert(got(pid) == one,
        s"probe $pid: batch face diverged from single retrieval\n" +
          s"batch:  ${got(pid)}\nsingle: $one")
    }
    val victim = got(7L).head._1
    IvfPqIngest.delete(spark, dir,
      spark.createDataFrame(Seq(Tuple1(victim))).toDF("vec_id"))
    val after = batch()
    probes.foreach { case (pid, pv) =>
      assert(after(pid) == single(pv),
        s"probe $pid: batch face diverged from single retrieval after a tombstone")
      assert(after(pid).length == 15,
        s"probe $pid: batch top-k under-filled after a tombstone with live rows")
    }
    assert(!after.values.flatten.exists(_._1 == victim),
      s"tombstoned $victim leaked into the batch shortlist")
  }

  /** Driver-side reference for the store's ADC scan: every live,
    * unshadowed code in a probe's probed cells, scored with
    * [[SimilarityOps.pqLut]] for its generation and the probe rotated
    * into that generation's space, top-k by (adc, vec_id). */
  private def replay(
      codes: Seq[(Int, Long, Long, Int, Seq[Byte])],
      gens: Map[Int, SimilarityOps.TrainedQuantizer],
      deleted: Set[Long],
      pv: Array[Double], nprobe: Int, k: Int): Seq[(Long, Double)] = {
    val batchGens = codes.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1).max }
    val live = codes.filter { case (g, b, vid, _, _) =>
      batchGens(b) == g && !deleted(vid) }
    gens.toSeq.flatMap { case (g, s) =>
      // R·p as the ascending-j fold (identity when unrotated)
      val pg = s.rot.fold(pv)(_.map(row =>
        row.indices.foldLeft(0.0)((acc, j) => acc + row(j) * pv(j))))
      val ksub = s.cb(0).length
      SimilarityOps.ivfPqProbedCells(s.cents, pg, nprobe).toSeq.flatMap {
        case (cid, c) =>
          val lut = SimilarityOps.pqLut(s.cb,
            Array.tabulate(pg.length)(j => pg(j) - c(j)))
          live.collect { case (`g`, _, vid, `cid`, code) =>
            vid -> code.indices.map(m => lut(m * ksub + (code(m) & 0xFF)))
              .reduce(_ + _)
          }
      }
    }.sortBy { case (vid, adc) => (adc, vid) }.take(k)
  }

  test("retrieveBatchDf == retrieveBatch(decode) bit for bit on the mixed rotated store") {
    // The store's one ADC scan — `retrieveBatch` over a probe frame,
    // the decode-side scan once named retrieveBatchDf, nothing
    // driver-materialized — must return EXACTLY the rows of the
    // driver-side LUT replay (`replay`): same candidates, bit-identical
    // ADC doubles, across the hardest store state: mixed
    // rotated/unrotated generations, a shadowed crash-window batch, and
    // tombstones.
    val dir = freshDir("dfbatch")
    build(dir, gen0, 0)
    IvfPqIngest.beginGeneration(spark, dir, 1, gen1.cents, gen1.cb, gen1.rot)
    IvfPqIngest.migrateBatch(spark, dir, 0L, df(allRows), 0, 1,
      gen1.cents, gen1.cb, gen1.rot)
    // Crash window: batch 1 present at BOTH generations.
    IvfPqIngest.processBatch(df(fixture._2.head), 1L, dir,
      gen1.cents, gen1.cb, 1, gen1.rot)
    assert(IvfPqIngest.shadowedBatches(IvfPqIngest.listBatches(spark, dir))
      .nonEmpty, "fixture must exercise the shadowed-batch filter")
    val deleted = Set(20L, 3100L)
    IvfPqIngest.delete(spark, dir,
      spark.createDataFrame(deleted.toSeq.map(Tuple1(_))).toDF("vec_id"))
    val gens = Map(0 -> gen0, 1 -> gen1)
    val probes = Seq(7L, 20L, 55L, 100L).map(i => i -> fixture._1(i.toInt)._2)
    val codes = spark.read.parquet(s"$dir/codes")
      .select("gen", "batch", "vec_id", "cid", "code").collect()
      .map(r => (r.getInt(0), r.getAs[Number](1).longValue, r.getLong(2),
        r.getInt(3), r.getSeq[Byte](4).toSeq)).toSeq
    val probesDf = spark.createDataFrame(probes).toDF("probe_id", "v")
    val got = IvfPqIngest.retrieveBatch(spark, dir, gens, probesDf, 3, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (pid, rs) =>
        pid -> rs.map(t => (t._2, t._3)).sortBy { case (v, a) => (a, v) }.toSeq }
    probes.foreach { case (pid, pv) =>
      val want = replay(codes, gens, deleted, pv, 3, 15)
      assert(got(pid) == want,
        s"probe $pid: store scan diverged from the LUT replay\n" +
          s"store:  ${got(pid)}\nreplay: $want")
      assert(want.length == 15, s"probe $pid: top-k under-filled")
    }
    // The tombstones bite: without them the replay would return both.
    assert(replay(codes, gens, Set.empty, probes(0)._2, 3, 15).exists(_._1 == 3100L) &&
      replay(codes, gens, Set.empty, probes(1)._2, 3, 15).exists(_._1 == 20L),
      "fixture must put the tombstoned ids in a top-k")
    assert(!got.values.flatten.exists(t => deleted(t._1)),
      "tombstoned ids leaked through the scan")
    // The single-probe face is the same scan, sorted ascending.
    val single = IvfPqIngest.retrieve(spark, dir, gens, probes(2)._2, 3, 15)
    assert(single.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      replay(codes, gens, deleted, probes(2)._2, 3, 15))
    // The (gen, cid) prune reaches the scan as partition pruning, the
    // per-probe top-k runs through the WindowGroupLimit partial — the
    // exchange carries k×probes×partitions rows, never the scored
    // product — and duplicate probe ids are refused, not mis-ranked.
    val plan = IvfPqIngest.retrieveBatch(spark, dir, gens, probesDf, 3, 15)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.split("PartitionFilters:")(1).takeWhile(_ != ']').contains("cid"),
      s"(gen, cid) pruning not in PartitionFilters:\n$plan")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"batch top-k lost the WindowGroupLimit partial:\n$plan")
    val dup = probesDf.unionByName(probesDf.limit(1))
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      IvfPqIngest.retrieveBatch(spark, dir, gens, dup, 3, 15)
    }
    assert(ex.getMessage.contains("duplicate probe_ids"))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty,
      "a refused probe frame must not stay cached")
  }

  test("rotated single-generation retrieval surfaces planted twins") {
    val dir = freshDir("single")
    build(dir, gen1, 0)
    val pv = fixture._1(7)._2
    // k=40: the ADC shortlist is the SHORTLIST stage (a deployment
    // re-ranks it exactly); with ksub=16 spec-scale codebooks on the
    // anisotropic fixture the twins land in the top-40, not the top-20
    // — the re-rank contract, not a correctness bar, sets k here.
    val ids = IvfPqIngest.retrieve(spark, dir, Map(0 -> gen1), pv, 3, 40)
      .collect().map(_.getLong(0)).toSet
    val twins = (0 until 5).map(i => 3100L + i).toSet
    assert(twins.subsetOf(ids), s"twins missing under rotated ADC: ${twins -- ids}")
    assert(ids.contains(7L), "probe's own vector missing under rotated ADC")
  }
}
