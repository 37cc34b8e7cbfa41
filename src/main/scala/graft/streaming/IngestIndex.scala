package graft.streaming

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The one skeleton of graft's exactly-once ingest stores: the
  * micro-batch driver ([[start]]), the at-ingest dedup batch body shared
  * by [[NeardupIngest]] (text) and [[EmbedIngest]] (embeddings)
  * ([[processBatch]]), offline compaction ([[compact]]), and the
  * publish-once marker that pins a store's structure on disk
  * ([[publishOnce]], also behind IvfPqIngest's codebook markers).
  *
  * Exactly-once across restarts, with plain parquet (no transactional
  * table format in this environment): every batch writes its verdicts
  * and its accepted rows' index rows to `batch=<batchId>` partition
  * directories with overwrite semantics, and the corpus read for batch
  * N filters to partition ids strictly below N. A restarted query
  * re-delivers the last uncommitted batch under the SAME batchId
  * (foreachBatch contract), so a half-written crash re-runs against
  * exactly the pre-batch corpus and overwrites its own partial output —
  * re-delivery cannot double-add state or let a batch's own rows shadow
  * it as "corpus". Offline compaction folds settled partitions into
  * `compact=<id>` dirs that take part in the same read path; see
  * [[compact]] for its crash-safety analysis.
  */
private[streaming] object IngestIndex {

  /** What one dedup store names differently. The band table is
    * `bands/` as (key, band, `bandVal`); the feature table is
    * `featDir/` as (key, `feat`: `featType`). */
  final case class Face(
      key: String, bandVal: String, feat: String, featType: String, featDir: String) {
    /** (dir, read schema) of the store's two index tables. */
    def tables(indexDir: String): Seq[(String, String)] = Seq(
      s"$indexDir/bands" -> s"$key long, band int, $bandVal long",
      s"$indexDir/$featDir" -> s"$key long, $feat $featType")
  }

  /** Runs `body(batch, batchId)` on every micro-batch of `input`. */
  def start(input: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[Row], batchId: Long) => body(batch, batchId))
      .start()

  /** One dedup batch. `feats` is the batch as (key, feat); it is
    * persisted here, because verdicts, the band write and the feature
    * write all read it. A row is a duplicate when some candidate corpus
    * row — one sharing a (band, band value) key in an earlier batch —
    * passes `gate(feat, corpus feat)`; `dup_of` is the smallest such
    * corpus key. A row with a null feature is kept and never indexed.
    * Verdicts land in `verdictDir/batch=N` as (key, kept, dup_of), and
    * the kept rows' `bands` (an array<struct<band, bandVal>> over the
    * feature) and features in the face's two tables. `corpusFeat`
    * projects the stored feature column and may fail the batch loud.
    * Within-batch twins are both kept: intra-batch dedup is the batch
    * operators' job, and the ingest gate is batch-vs-corpus only. */
  def processBatch(
      face: Face, feats0: DataFrame, batchId: Long, indexDir: String,
      verdictDir: String, bands: Column, corpusFeat: Column,
      gate: (Column, Column) => Column): Unit = {
    import face.{bandVal, feat, key}
    val spark = feats0.sparkSession
    val Seq((bandsDir, bandsSchema), (featsDir, featsSchema)) = face.tables(indexDir)
    val feats = feats0.persist()
    try {
      val indexed = feats.filter(col(feat).isNotNull)
      val newBands = indexed.select(col(key), explode(bands).as("bb"))
        .select(col(key), col("bb.band"), col(s"bb.$bandVal"))
      val corpusBandPaths = batchPaths(spark, bandsDir, batchId)
      val dupped: DataFrame =
        if (corpusBandPaths.isEmpty)
          spark.range(0).select(col("id").as(key), col("id").as("dup_of"))
        else {
          // Explicit schemas: a batch that accepted nothing leaves a
          // partition directory with no data files, and schema INFERENCE
          // (not the read itself) is what throws on those.
          val cBands = spark.read.schema(bandsSchema).parquet(corpusBandPaths: _*)
          val cFeats = spark.read.schema(featsSchema)
            .parquet(batchPaths(spark, featsDir, batchId): _*)
            .select(col(key).as("c_key"), corpusFeat.as("c_feat"))
          newBands.as("n")
            .join(cBands.as("c"), col("n.band") === col("c.band") &&
              col(s"n.$bandVal") === col(s"c.$bandVal"))
            .select(col(s"n.$key").as(key), col(s"c.$key").as("c_key"))
            .distinct()
            .join(cFeats, Seq("c_key"))
            .join(feats, Seq(key))
            .filter(gate(col(feat), col("c_feat")))
            .groupBy(key)
            .agg(min("c_key").as("dup_of"))
        }
      val verdicts = feats.select(key).join(dupped, Seq(key), "left_outer")
        .select(col(key), col("dup_of").isNull.as("kept"), col("dup_of"))
        .persist()
      try {
        val keptIds = verdicts.filter(col("kept")).select(key)
        newBands.join(keptIds, Seq(key), "left_semi")
          .write.mode(SaveMode.Overwrite).parquet(s"$bandsDir/batch=$batchId")
        indexed.join(keptIds, Seq(key), "left_semi")
          .write.mode(SaveMode.Overwrite).parquet(s"$featsDir/batch=$batchId")
        verdicts.write.mode(SaveMode.Overwrite).parquet(s"$verdictDir/batch=$batchId")
      } finally verdicts.unpersist()
    } finally feats.unpersist()
  }

  /** Publishes the one-line marker `dir/name` once and returns the line
    * that is published; the caller compares it with its own. `line` is
    * evaluated only when no marker is published yet.
    *
    * The line is written COMPLETE to a uniquely named temp file, then
    * renamed onto the marker with NO-OVERWRITE semantics
    * (`FileContext.rename` without `Options.Rename.OVERWRITE`, which the
    * FS contract requires to fail when the destination exists). So no
    * reader ever observes an empty or partial marker, which a direct
    * `fs.create(marker, overwrite = false)` + write allows on
    * filesystems that implement create-no-overwrite as an exists-check
    * followed by a truncating open (RawLocalFileSystem, S3A). The
    * no-overwrite rename is only as atomic as the filesystem makes it
    * (local filesystems check, then rename), so every writer re-reads
    * the published marker and returns it: when callers require their
    * own line, at most one of two interleaved first writers proceeds.
    * An empty or absent re-read can only be a concurrent writer's
    * publish in flight; it is retried for 0.5 s, then fails loud. */
  def publishOnce(spark: SparkSession, dir: String, name: String)(
      line: => String): String = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, name)
    def read(): Option[String] = if (!fs.exists(marker)) None else {
      val in = fs.open(marker)
      try Option(new BufferedReader(new InputStreamReader(in, UTF_8)).readLine())
        .map(_.trim).filter(_.nonEmpty)
      finally in.close()
    }
    read().getOrElse {
      val content = line
      fs.mkdirs(root)
      val tmp = new Path(root,
        s".${name.stripPrefix("_")}.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(s"$content\n".getBytes(UTF_8)) finally out.close()
      try FileContext.getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, marker) // no OVERWRITE option: refuses an existing marker
      catch { case _: java.io.IOException => () } // a concurrent writer won
      finally if (fs.exists(tmp)) fs.delete(tmp, false)
      Iterator.iterate(read()) { _ => Thread.sleep(10); read() }.take(51)
        .find(_.nonEmpty).flatten.getOrElse(throw new IllegalStateException(
          s"could not publish marker $marker (rename failed and no " +
            "concurrent writer published one)"))
    }
  }

  /** (id, isCompact, path) partitions under `dir`: per-batch `batch=<id>`
    * dirs plus `compact=<id>` dirs (covering every id ≤ their own). Other
    * names are ignored. */
  def partEntries(
      spark: SparkSession, dir: String): Seq[(Long, Boolean, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else
      fs.listStatus(p).toSeq
        .map(_.getPath.getName)
        .collect {
          case n if n.startsWith("batch=") =>
            (n.stripPrefix("batch=").toLong, false, s"$dir/$n")
          case n if n.startsWith("compact=") =>
            (n.stripPrefix("compact=").toLong, true, s"$dir/$n")
        }
        .sortBy(_._1)
  }

  /** Partition paths with id strictly below `below` — the replay-safety
    * filter: a re-delivered batch must not see its own earlier half-write
    * as corpus. A `compact=` dir only holds ids ≤ its own, all settled
    * before any live batch (compact never folds the newest batch
    * partition), so the same filter applies. */
  def batchPaths(
      spark: SparkSession, dir: String, below: Long): Seq[String] =
    partEntries(spark, dir).filter(_._1 < below).map(_._3)

  /** Offline index compaction over `tables` of (dir, read schema): merges
    * the settled partitions of each table into one `compact=<id>`
    * directory and removes the constituents. Run while the ingest query
    * is STOPPED (it is the maintenance dual of the per-batch layout:
    * exactly-once needs a partition per batch at write time, but the
    * per-trigger directory listing and small-file count grow with batch
    * count — compaction resets both to a couple).
    *
    * The NEWEST `batch=` partition is never folded: its files can be on
    * disk while the streaming checkpoint has not recorded the batch, and
    * a re-delivered batch N reads strictly below N — folding it into
    * `compact=N` would hide the pre-batch corpus from its own replay and
    * admit every duplicate in the batch. Everything older is settled by
    * construction (the checkpoint commits batch N-1 before batch N
    * starts), so `compact=<id>` participates in the read path at an id
    * strictly below any future or replayed batch.
    *
    * Crash-safety, in order: (1) a merge that dies before Spark's job
    * commit leaves a target with no visible data files and no _SUCCESS —
    * the next run purges it and re-merges, constituents intact; (2) a
    * crash between the committed merge and the constituent deletes
    * leaves rows duplicated between `compact=<id>` and undeleted
    * constituents — the operators' verdicts tolerate that (candidate
    * pairs are distinct()-ed, the verify aggregate is a min), and the
    * next compaction recognizes batch dirs at-or-below a committed
    * compact id — and stale OLDER compact dirs strictly below it, which
    * the newer compact folded in before the crash — as ALREADY MERGED,
    * deleting them without re-reading (a plain re-union would duplicate
    * their rows in the index permanently, and re-merging a stale compact
    * would also collide with the committed target's directory name). At 100 TB the same pass would also re-cluster the
    * band table into the bucketed-by-band-key layout whose
    * zero-corpus-exchange join ScalePatternsSpec proves on the batch
    * index; here the single output file stands in (file count is the
    * thing compaction bounds, not a layout claim). */
  def compact(spark: SparkSession, tables: Seq[(String, String)]): Unit =
    tables.foreach { case (dir, schema) =>
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Purge merge attempts that never committed (no _SUCCESS): they
      // read as empty, but the already-merged rule below must not
      // mistake them for coverage.
      partEntries(spark, dir).foreach { case (_, isCompact, p) =>
        if (isCompact && !fs.exists(new Path(p, "_SUCCESS")))
          fs.delete(new Path(p), true)
      }
      val entries = partEntries(spark, dir)
      if (entries.size > 1) {
        val newestBatch =
          entries.collect { case (id, false, _) => id }.maxOption
        val work = entries.filterNot { case (id, isCompact, _) =>
          !isCompact && newestBatch.contains(id)
        }
        val maxCompact = work.collect { case (id, true, _) => id }
          .maxOption.getOrElse(Long.MinValue)
        // Covered = already folded into `compact=<maxCompact>`: batches at
        // or below it, and OLDER compact dirs strictly below it. The
        // latter matters after a crash between a committed merge and its
        // constituent deletes: compact ids strictly increase and every
        // merge takes all surviving lower dirs as input, so a stale
        // compact=<i < maxCompact> is a SUBSET of the newer compact —
        // re-merging it would both duplicate its rows and collide with
        // the committed target's name (ErrorIfExists throw).
        val (covered, sources) = work.partition {
          case (id, isCompact, _) =>
            id <= maxCompact && !(isCompact && id == maxCompact)
        }
        if (sources.size > 1) {
          // Target id = max source id, which is always a batch id
          // strictly above maxCompact here (batch ids at or below it are
          // in `covered`), so the name cannot collide with a committed
          // compact dir.
          val target = s"$dir/compact=${sources.map(_._1).max}"
          spark.read.schema(schema).parquet(sources.map(_._3): _*)
            .coalesce(1)
            .write.mode(SaveMode.ErrorIfExists).parquet(target)
          sources.foreach { case (_, _, p) => fs.delete(new Path(p), true) }
        }
        covered.foreach { case (_, _, p) => fs.delete(new Path(p), true) }
      }
    }
}
