package graft.streaming

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming at-ingest semantic dedup over embeddings: cross-batch
  * verdicts with the exact-cosine gate, the shared compaction/replay
  * machinery driven through this operator's tables, and the scaled-copy
  * invariant (a positively scaled vector has the same hyperplane sketch
  * and cosine 1.0 — the deterministic dup case). */
class EmbedIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // Deterministic 64-dim vectors: cosine between the distinct ones is
  // far from the 0.9 gate; `u2 = 2.0 * u` is cosine 1.0 with u and lands
  // in the same sketch buckets (positive scaling preserves every
  // hyperplane side).
  private val u = (0 until 64).map(i => math.sin(i + 1.0))
  private val u2 = u.map(_ * 2.0)
  private val w = (0 until 64).map(i => math.cos(3.0 * i + 2.0))
  private val x = (0 until 64).map(i => math.sin(2.0 * i + 0.5))

  private def dirs(): (String, String, String) = (
    Files.createTempDirectory("graft_ei_idx").toString,
    Files.createTempDirectory("graft_ei_out").toString,
    Files.createTempDirectory("graft_ei_ckpt").toString)

  private def verdicts(verdictDir: String): Map[Long, (Boolean, Option[Long])] =
    spark.read
      .schema("vec_id long, kept boolean, dup_of long")
      .parquet(verdictDir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap

  test("batches dedup against the accepted corpus with an exact cosine gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (idx, out, ckpt) = dirs()
    val input = MemoryStream[(Long, Seq[Double])]
    val q = EmbedIngest.start(
      input.toDF().toDF("vec_id", "v"), idx, out, ckpt)
    try {
      input.addData((1L, u), (2L, w))
      q.processAllAvailable()
      // a scaled copy of vec 1 and a novel vector
      input.addData((3L, u2), (4L, x))
      q.processAllAvailable()
      // a copy of the DROPPED vec 3 still dups the ACCEPTED vec 1
      input.addData((5L, u2))
      q.processAllAvailable()
      val v = verdicts(out)
      assert(v(1L) == ((true, None)) && v(2L) == ((true, None)),
        s"first batch must be kept wholesale: $v")
      assert(v(3L) == ((false, Some(1L))), s"scaled copy not dropped: $v")
      assert(v(4L) == ((true, None)), s"novel vector dropped: $v")
      assert(v(5L) == ((false, Some(1L))),
        s"copy-of-dropped must dup the accepted original: $v")
      val indexed = spark.read
        .schema("vec_id long, v array<double>")
        .parquet(s"$idx/vecs").select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(indexed == Set(1L, 2L, 4L),
        s"index must carry exactly the accepted vectors: $indexed")
    } finally q.stop()
  }

  test("zero-norm vectors never count as duplicates (NaN cosine guard)") {
    import spark.implicits._
    val (idx, out, _) = dirs()
    def batch(rows: (Long, Seq[Double])*): DataFrame =
      rows.toDF("vec_id", "v")
    val zero = Seq.fill(64)(0.0)
    // A stored zero vector and an incoming zero vector share sketch
    // bucket 0 and have cosine 0/0 = NaN. Spark evaluates NaN >= τ as
    // TRUE (NaN orders above every number), so without the explicit
    // !isnan guard the incoming zero — and EVERY vector landing in a
    // zero vector's bucket — would be dropped as a "duplicate".
    EmbedIngest.processBatch(batch((1L, zero), (2L, u)), 0L, idx, out, 0.9)
    // A null vector is kept and leaves no index row (the shared batch
    // body's rule for a null feature, as for a signature-less document).
    EmbedIngest.processBatch(batch((3L, zero), (4L, u2), (5L, null)), 1L, idx, out, 0.9)
    val v = verdicts(out)
    assert(v(1L) == ((true, None)) && v(3L) == ((true, None)),
      s"zero-norm vector wrongly treated as duplicate: $v")
    assert(v(4L) == ((false, Some(2L))),
      s"true scaled copy must still drop under the guard: $v")
    assert(v(5L) == ((true, None)), s"null vector must be kept as novel: $v")
    val indexed = Seq("bands" -> "vec_id long, band int, bv long",
      "vecs" -> "vec_id long, v array<double>").map { case (t, schema) =>
      t -> spark.read.schema(schema).parquet(s"$idx/$t")
        .filter("vec_id = 5").count()
    }
    assert(indexed == Seq("bands" -> 0L, "vecs" -> 0L),
      s"null vector must leave no index row: $indexed")
  }

  test("band width is pinned per index: a mismatched reopen fails loudly") {
    import spark.implicits._
    val (idx, out, _) = dirs()
    def batch(rows: (Long, Seq[Double])*): DataFrame =
      rows.toDF("vec_id", "v")
    // width 12 (the 10^8-corpus deployment choice) works end to end:
    // a true duplicate still drops through the deeper bands
    EmbedIngest.processBatch(batch((1L, u)), 0L, idx, out, 0.9, bandBits = 12)
    EmbedIngest.processBatch(batch((2L, u.map(_ * 2.0))), 1L, idx, out, 0.9,
      bandBits = 12)
    val v = verdicts(out)
    assert(v(2L) == ((false, Some(1L))),
      s"scaled copy must drop at bandBits=12: $v")
    // reopening the same index at another width must FAIL, not silently
    // re-bucket and miss every historical candidate
    val e = intercept[IllegalArgumentException] {
      EmbedIngest.processBatch(batch((3L, u)), 2L, idx, out, 0.9, bandBits = 4)
    }
    assert(e.getMessage.contains("bandBits=12"), e.getMessage)
    // LEGACY index (bands data, no marker — predates width pinning): it
    // was necessarily built at the historical default, so a non-4 reopen
    // must refuse rather than mint a marker at the new width (the silent
    // re-bucketing the pin exists to prevent); a reopen at 4 re-pins and
    // keeps answering
    val (idx2, out2, _) = dirs()
    EmbedIngest.processBatch(batch((1L, u)), 0L, idx2, out2, 0.9)
    val fs = new org.apache.hadoop.fs.Path(idx2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx2, "_band_bits"), false)
    val e2 = intercept[IllegalArgumentException] {
      EmbedIngest.processBatch(batch((4L, u)), 1L, idx2, out2, 0.9, bandBits = 12)
    }
    assert(e2.getMessage.contains("predates width pinning"), e2.getMessage)
    EmbedIngest.processBatch(batch((5L, u.map(_ * 0.5))), 1L, idx2, out2, 0.9)
    assert(verdicts(out2)(5L) == ((false, Some(1L))),
      "legacy index must keep answering after a same-width re-pin")
  }

  test("compaction and newest-batch replay behave like the text twin on this operator's tables") {
    import spark.implicits._
    val (idx, out, _) = dirs()
    def batch(rows: (Long, Seq[Double])*): DataFrame =
      rows.toDF("vec_id", "v")
    EmbedIngest.processBatch(batch((1L, u)), 0L, idx, out, 0.9)
    // batch 1 on disk but "uncommitted"; compact in the stopped window;
    // replay must still see vec 1 as corpus
    EmbedIngest.processBatch(batch((6L, u2), (7L, w)), 1L, idx, out, 0.9)
    EmbedIngest.compact(spark, idx)
    EmbedIngest.processBatch(batch((6L, u2), (7L, w)), 1L, idx, out, 0.9)
    val v = verdicts(out)
    assert(v(6L) == ((false, Some(1L))),
      s"replay after compaction lost the pre-batch corpus: $v")
    assert(v(7L) == ((true, None)), s"novel vector in replayed batch: $v")
    // settle batch 1 with a successor, compact, and continue
    EmbedIngest.processBatch(batch((8L, x)), 2L, idx, out, 0.9)
    EmbedIngest.compact(spark, idx)
    val listed = new java.io.File(s"$idx/bands").list().toSet
      .filter(n => n.startsWith("batch=") || n.startsWith("compact="))
    assert(listed == Set("compact=1", "batch=2"),
      s"bands partitions after compact: $listed")
    EmbedIngest.processBatch(batch((9L, u2.map(_ * 1.5)), (10L, w.map(_ * 3.0))),
      3L, idx, out, 0.9)
    val v2 = verdicts(out)
    assert(v2(9L) == ((false, Some(1L))) && v2(10L) == ((false, Some(7L))),
      s"dups vs compacted corpus: $v2")
  }

  test("band count is pinned alongside width; 3-band ingest works end to end") {
    import spark.implicits._
    def batch(rows: (Long, Seq[Double])*): DataFrame =
      rows.toDF("vec_id", "v")
    // three bands of 12 (the ≥0.99-near-recall deployment setting) end
    // to end: exact dup drops, novel keeps
    val (idx, out, _) = dirs()
    EmbedIngest.processBatch(batch((1L, u), (2L, w)), 0L, idx, out, 0.9,
      bandBits = 12, nBands = 3)
    EmbedIngest.processBatch(batch((3L, u2), (4L, x)), 1L, idx, out, 0.9,
      bandBits = 12, nBands = 3)
    val v = verdicts(out)
    assert(v(3L) == ((false, Some(1L))) && v(4L) == ((true, None)),
      s"3-band ingest verdicts: $v")
    // the index stores exactly 3 band rows per accepted vector
    val bandRows = spark.read.schema("vec_id long, band int, bv long")
      .parquet(s"$idx/bands")
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bandRows == Map(1L -> 3L, 2L -> 3L, 4L -> 3L),
      s"band rows per vector: $bandRows")
    // reopening at another band count must FAIL loud (same width)
    val e = intercept[IllegalArgumentException] {
      EmbedIngest.processBatch(batch((5L, u)), 2L, idx, out, 0.9,
        bandBits = 12, nBands = 2)
    }
    assert(e.getMessage.contains("nBands=3"), e.getMessage)
    // a LEGACY width-only marker pins nBands = 2: reopening the round-13
    // structure at 3 bands must refuse rather than mis-join history
    val (idx2, out2, _) = dirs()
    EmbedIngest.processBatch(batch((1L, u)), 0L, idx2, out2, 0.9, bandBits = 12)
    val e2 = intercept[IllegalArgumentException] {
      EmbedIngest.processBatch(batch((2L, w)), 1L, idx2, out2, 0.9,
        bandBits = 12, nBands = 3)
    }
    assert(e2.getMessage.contains("nBands=2"), e2.getMessage)
    // and the legacy index keeps answering at its pinned structure
    EmbedIngest.processBatch(batch((6L, u2)), 1L, idx2, out2, 0.9, bandBits = 12)
    assert(verdicts(out2)(6L) == ((false, Some(1L))))
  }
}
