package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.AnnPlanes

/** Streaming at-ingest SEMANTIC dedup over an embedding stream — the
  * embedding-space twin of [[NeardupIngest]] and the streaming face of
  * q_embed_dedup_canonical's SemDeDup shape (Abbas et al. 2023,
  * arXiv:2303.09540): every micro-batch of (vec_id, v) rows is kept only
  * where it does not cosine-duplicate the corpus accepted by earlier
  * batches. This is the modality where at-ingest dedup verifies EXACTLY:
  * an embedding is a few hundred bytes, so the stored corpus state IS the
  * vector, and the gate is true cosine ≥ τ on candidates — no estimator,
  * no recall loss vs the batch twin (contrast NeardupIngest, where
  * storing corpus text is off the table and the gate is the
  * signature-agreement estimate).
  *
  * Shape:
  *  - The candidate structure is the SAME 8-bit hyperplane sketch in 2
  *    bands of 4 bits as the batch embed family (AnnPlanes — fixed
  *    planes, so batch and stream bucket identically), computed map-side
  *    with the native `dot_product`.
  *  - Corpus state is the two-table layout: `bands/` rows (vec_id, band,
  *    bv) drive the candidate equality join; `vecs/` rows (vec_id, v)
  *    are fetched by join for candidates only, and exact `cosine_sim`
  *    decides. Zero-norm vectors yield NaN cosine, which Spark orders
  *    ABOVE every number (NaN ≥ τ is TRUE) — the verdict filter guards
  *    with an explicit `!isnan`, so they are never duplicates, matching
  *    the batch family's identical guard.
  *  - Exactly-once, replay safety and offline compaction are
  *    [[IngestIndex]]'s per-batch partition machinery, and the batch
  *    body is [[IngestIndex.processBatch]], shared with NeardupIngest;
  *    this object supplies the sketch, band and gate expressions and
  *    pins the band structure on disk.
  *
  * Contract boundaries (shared with the text twin): within-batch
  * duplicates are both kept, and a null vector is kept and never
  * indexed.
  */
object EmbedIngest {

  private val face = IngestIndex.Face("vec_id", "bv", "v", "array<double>", "vecs")
  private val Pinned = """(\d+)(?: (\d+))?""".r

  /** Starts the ingest on a streaming (vec_id: long, v: array<double>)
    * frame. Verdicts land in `verdictDir/batch=N` as (vec_id, kept,
    * dup_of — smallest matching corpus vec, NULL when kept); the
    * accepted corpus index accumulates under
    * `indexDir/{bands,vecs}/batch=N`.
    *
    * `bandBits` sizes the candidate structure to the DEPLOYMENT scale:
    * n bands of b bits ⇒ per-batch candidate cosines ≈ n·batch·corpus/2^b.
    * The default 4 matches the historical fixture-scale structure; a
    * corpus expected to reach 10⁸+ vectors wants 12-16 (the same
    * fixed-key-space quadratic the batch face's adaptive bandBits
    * closes — a stream can't re-count its corpus per batch, so the width
    * is a deployment choice, pinned per index by an on-disk marker that
    * makes a mismatched restart FAIL instead of silently re-bucketing
    * and missing every historical candidate).
    *
    * `nBands` is the RECALL knob at a given depth (round-13 verdict: the
    * measured 0.9728 near-recall at 2×12 sat ON the theory bound
    * 1−(1−p¹²)², so more of the same two bands could never help). Each
    * extra band multiplies index band-rows and candidate rate by
    * (n+1)/n but exponentially shrinks the miss: at cos ≈ 0.9988
    * (per-bit agreement p ≈ 0.9844, p¹² ≈ 0.83) two bands miss ~2.9%,
    * three ~0.5%. Deployments needing ≥0.99 at cos ≈ 0.999 run
    * nBands=3 at depth 12; the marker pins bands alongside bits, so a
    * mismatched reopen on EITHER fails loud. */
  def start(
      vecs: DataFrame,
      indexDir: String,
      verdictDir: String,
      checkpointDir: String,
      cosThreshold: Double = 0.9,
      bandBits: Int = 4,
      nBands: Int = 2): StreamingQuery =
    IngestIndex.start(vecs, checkpointDir)(processBatch(_, _, indexDir,
      verdictDir, cosThreshold, bandBits, nBands))

  /** Offline index compaction — [[IngestIndex.compact]] over this
    * operator's two tables. Run while the ingest query is STOPPED. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    IngestIndex.compact(spark, face.tables(indexDir))

  /** Pin the index's band STRUCTURE (width and band count) on disk:
    * first touch publishes the marker ([[IngestIndex.publishOnce]]),
    * every later batch verifies it. A width change re-buckets silently —
    * every historical candidate would be missed with zero errors — and a
    * band-count change half-misses (bands past the stored count have no
    * corpus rows), so a mismatch on either must be a loud failure, not a
    * recall collapse.
    *
    * Marker format: `bits` (legacy, written when nBands == 2 so indexes
    * opened at the historical structure stay byte-compatible) or
    * `bits bands`. A legacy single-number marker therefore pins
    * nBands = 2 — exactly the structure every pre-knob index was built
    * with. A LEGACY index (bands data, no marker) predates width markers
    * and was necessarily built at the historical default 4×2 — minting a
    * marker at the passed structure would be the exact silent
    * re-bucketing this guard exists to prevent, so the legacy case
    * requires bandBits == 4 && nBands == 2 and then pins it. A garbled
    * marker (hand editing) is the same loud failure, never an NPE. */
  private[graft] def checkWidthMarker(
      spark: SparkSession, indexDir: String, bandBits: Int, nBands: Int): Unit = {
    val line = IngestIndex.publishOnce(spark, indexDir, "_band_bits") {
      require(IngestIndex.partEntries(spark, s"$indexDir/bands").isEmpty ||
        (bandBits == 4 && nBands == 2),
        s"index at $indexDir has band data but no width marker — it " +
          "predates width pinning and was built at the historical default " +
          s"4 bits × 2 bands; reopening it at $bandBits×$nBands would " +
          "re-bucket silently. Reopen at 4×2 or rebuild the index")
      if (nBands == 2) s"$bandBits" else s"$bandBits $nBands"
    }
    val (storedBits, storedBands) = line match {
      case Pinned(b, n) => (b.toInt, Option(n).fold(2)(_.toInt)) // `bits` ⇒ 2 bands
      case _ => throw new IllegalArgumentException(s"unreadable band-width marker " +
        s"$indexDir/_band_bits (content: $line) — a hand edit; restore it to " +
        "the structure the index was built with, or rebuild the index")
    }
    require(storedBits == bandBits,
      s"index at $indexDir was built with bandBits=$storedBits; " +
        s"reopening it at $bandBits would re-bucket silently and miss " +
        "every historical candidate — use the original width or rebuild")
    require(storedBands == nBands,
      s"index at $indexDir was built with nBands=$storedBands; " +
        s"reopening it at $nBands would mis-join the stored bands and " +
        "miss historical candidates — use the original band count or rebuild")
  }

  private[graft] def processBatch(
      batchRaw: DataFrame,
      batchId: Long,
      indexDir: String,
      verdictDir: String,
      cosThreshold: Double,
      bandBits: Int = 4,
      nBands: Int = 2): Unit = {
    require(bandBits >= 1 && bandBits <= 16, s"bandBits=$bandBits not in [1,16]")
    require(nBands >= 2 && nBands * bandBits <= 63,
      s"nBands=$nBands: need >= 2 bands and nBands*bandBits <= 63 " +
        "(the sketch is one long)")
    checkWidthMarker(batchRaw.sparkSession, indexDir, bandBits, nBands)
    IngestIndex.processBatch(face,
      batchRaw.select(col("vec_id").cast("long").as("vec_id"),
        col("v").cast("array<double>").as("v")),
      batchId, indexDir, verdictDir,
      // Band b is bits [b·bandBits, (b+1)·bandBits) of the ONE shared
      // sketch ([[AnnPlanes.sketchCol]]), so at equal width a vector
      // buckets identically by stream or by batch; array_repeat
      // evaluates the sketch once per row.
      bands = transform(
        array_repeat(AnnPlanes.sketchCol(col("v"), nBands * bandBits), nBands),
        (sketch, b) => struct(b.as("band"),
          call_function("shiftright", sketch, b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("bv"))),
      corpusFeat = col("v"),
      // !isnan is load-bearing: Spark evaluates NaN >= τ as TRUE (NaN
      // orders above every number), so without the guard one zero-norm
      // vector — incoming or stored — would "duplicate" every
      // bucket-mate and mass-drop real vectors.
      gate = (v, cv) => {
        val cos = call_function("cosine_sim", v, cv)
        !isnan(cos) && cos >= cosThreshold
      })
  }
}
