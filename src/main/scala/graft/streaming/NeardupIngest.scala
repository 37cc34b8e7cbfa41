package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SimilarityOps

/** Streaming at-ingest near-duplicate dedup — the streaming twin of
  * q_dedup_incremental (SimilarityOps): every micro-batch of incoming
  * documents is kept only where it does NOT near-duplicate the corpus
  * accepted by all EARLIER batches. The reference has no streaming dedup;
  * this is part of the training-data-pipeline surface (a crawl ingest
  * dedups against the accumulated corpus as it lands, not in a nightly
  * batch over 100 TB of text).
  *
  * Shape (all sizes per ACCEPTED doc, independent of text length):
  *
  *  - Signatures are computed MAP-SIDE in-row (SimilarityOps.sigExpr —
  *    bit-identical hash family to the batch explode+groupBy form, spec-
  *    asserted), so the per-trigger plan puts no tokenization shuffle on
  *    the ingest path.
  *  - The persisted corpus state is the two-table LSH index layout:
  *    `bands/` rows are (doc_id, band, bh) — 24 B/band, the only thing
  *    the candidate join scans — and `sigs/` rows are (doc_id, sig[K]) —
  *    fetched by join for candidate pairs ONLY. Corpus TEXT is never
  *    stored or re-read: the dup gate is the signature-agreement Jaccard
  *    estimate (SimilarityOps.estSim), the standard trade of an at-ingest
  *    dedup whose state must stay a few hundred bytes per document.
  *  - Candidate generation is the same asymmetric batch×corpus band-bucket
  *    equality join as q_dedup_incremental — never all-pairs. At 100 TB
  *    the stored bands would be compacted offline into the bucketed-by-
  *    (band, bh) layout ScalePatternsSpec proves joins with zero corpus-
  *    side exchange; the per-batch partition layout here is what the
  *    exactly-once contract needs at write time.
  *
  * Exactly-once, replay safety and offline compaction are
  * [[IngestIndex]]'s per-batch partition machinery, and the batch body
  * is [[IngestIndex.processBatch]], shared with EmbedIngest; this object
  * supplies only the signature, band and gate expressions.
  *
  * Contract boundaries (shared with q_dedup_incremental): within-batch
  * twins are BOTH kept — intra-batch dedup is the batch operators' job
  * (q_dedup_canonical) and an ingest that also self-joined every batch
  * would pay an extra shuffle per trigger for pairs the nightly compaction
  * catches anyway. Sub-3-word docs have no signature and are always kept.
  */
object NeardupIngest {

  private val face = IngestIndex.Face("doc_id", "bh", "sig", "array<long>", "sigs")

  /** Starts the ingest on a streaming (doc_id: long, text: string) frame.
    * Verdicts land in `verdictDir/batch=N` as (doc_id, kept, dup_of —
    * smallest matching corpus doc, NULL when kept); the accepted corpus
    * index accumulates under `indexDir/{bands,sigs}/batch=N`. */
  def start(
      docs: DataFrame,
      indexDir: String,
      verdictDir: String,
      checkpointDir: String,
      simThreshold: Double = 0.8): StreamingQuery =
    IngestIndex.start(docs, checkpointDir)(
      processBatch(_, _, indexDir, verdictDir, simThreshold))

  /** Offline index compaction — the shared [[IngestIndex.compact]] over
    * this operator's two tables (see there for the crash-safety
    * analysis). Run while the ingest query is STOPPED. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    IngestIndex.compact(spark, face.tables(indexDir))

  private[graft] def processBatch(
      batchRaw: DataFrame,
      batchId: Long,
      indexDir: String,
      verdictDir: String,
      simThreshold: Double): Unit =
    IngestIndex.processBatch(face,
      // Map-side signatures at the WIDE gate width (SimilarityOps.GateK):
      // the first K components — the only ones the band keys read — are
      // bit-identical to the batch family, while the tail tightens the
      // accept/reject estimator from se≈0.07 to ≈0.04 at J=0.8 (the
      // round-12 recall gap was estimator variance, not banding — see the
      // GateK scaladoc).
      batchRaw.select(col("doc_id").cast("long").as("doc_id"),
        SimilarityOps.sigExprK(col("text"), SimilarityOps.GateK).as("sig")),
      batchId, indexDir, verdictDir,
      bands = SimilarityOps.bandStructs(col("sig")),
      // Loud width guard: an index written at a different signature
      // width (pre-GateK deployments) must FAIL, not silently gate at a
      // deflated estimate — zip_with null-pads a 32-wide corpus sig
      // against a 96-wide batch sig, capping est at 0.33 < any sane
      // threshold, which would wave EVERY historical near-dup through as
      // novel with zero errors. Rebuild the sigs table to upgrade.
      corpusFeat = when(size(col("sig")) === SimilarityOps.GateK, col("sig"))
        .otherwise(raise_error(concat(
          lit("sigs index width "), size(col("sig")).cast("string"),
          lit(s" != gate width ${SimilarityOps.GateK} for doc "),
          col("doc_id").cast("string")))),
      gate = (sig, corpusSig) =>
        SimilarityOps.estSimK(sig, corpusSig, SimilarityOps.GateK) >= simThreshold)
}
