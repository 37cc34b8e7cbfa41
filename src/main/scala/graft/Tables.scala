package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated fixtures (TESTDATA.md).
  *
  * All engine queries take `(SparkSession, sfDir)` and read through here so
  * the scan path is uniform: plain `spark.read.parquet`, letting Catalyst
  * push filters/projections into the Parquet scan. At cluster scale the same
  * call reads a partitioned directory tree; nothing here assumes local mode.
  */
object Tables {
  /** A query entry as registered in [[SparkEntry.queries]]. */
  type Q = (SparkSession, String) => DataFrame

  /** All fixture tables, the single source of truth for harness loops
    * (Bench warm-up, SqlOps view registration). `events` needs its
    * dedicated loader for timestamp-encoding normalization. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  /** Per-session schema catalog (r21): `spark.read.parquet` re-infers the
    * schema on EVERY call by reading footers in a scheduled job (~20-25 ms
    * warm, 0.15-0.27 s a table on a fresh session) — a pure fixed cost paid
    * 1-3× per query build, every pass. Production engines put exactly this
    * metadata in a catalog (HMS, Iceberg manifests) so reads don't touch
    * footers; this map is that layer for the path-addressed fixtures.
    * METADATA ONLY — no rows, no file listings, no query results are
    * cached: the scan lists and reads parquet at every execution, so every
    * bench/oracle invocation still computes from the inputs. Keyed per
    * SparkSession (weakly — a stopped session's entries are collectable)
    * because a schema belongs to the session whose confs inferred it (e.g.
    * the nanosAsLong branch below). Entries are keyed on a FINGERPRINT of the path's file
    * listing — every file's name, size and modification time — because a
    * parquet read under a user-supplied schema resolves columns BY NAME
    * and yields nulls for columns absent from a rewritten file: silent
    * wrong rows, not a loud error. So a path regenerated in-session (a
    * probe rewriting its corpus) must re-infer, even when the rewrite
    * lands within the same second as the first write, where a
    * 1 s-resolution directory mtime would not change.
    * The fingerprint is one directory listing per table() call; it reads
    * no permission bits, which Hadoop's local filesystem would fetch by
    * spawning a child process. A miss on a single-file table reads its
    * footer on the driver ([[footerSchema]]) and runs no Spark job. */
  private val schemaCatalog =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, (Seq[(String, Long, Long)], StructType)]]()

  /** (relative path, size, mtime) of every file under `top`, sorted. */
  private def listingFingerprint(
      fs: FileSystem, top: FileStatus): Seq[(String, Long, Long)] = {
    val prefix = top.getPath.toUri.getPath.length
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toUri.getPath.drop(prefix), st.getLen,
        st.getModificationTime))
    walk(top).sorted
  }

  /** The schema `spark.read.parquet(path)` infers, from the driver. For a
    * single file Spark reads that file's footer in a scheduled job; this
    * reads it through the same pieces in the calling thread: the
    * row-group-skipping footer read, then `readSchemaFromFooter` with the
    * session's converter confs (Spark's row metadata, nanosAsLong, int96,
    * binaryAsString). A directory is left to `spark.read.parquet`, which
    * owns the footer choice, partition columns and schema merging. */
  private def footerSchema(spark: SparkSession, conf: Configuration,
      top: FileStatus): StructType =
    if (top.isFile) {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(top, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(top.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    } else spark.read.parquet(top.getPath.toString).schema

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val perSession = schemaCatalog.synchronized {
      schemaCatalog.computeIfAbsent(
        spark, _ => scala.collection.concurrent.TrieMap.empty)
    }
    val conf = spark.sessionState.newHadoopConf()
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(conf)
    val top = fs.getFileStatus(hPath)
    val fingerprint = listingFingerprint(fs, top)
    val schema = perSession.get(path) match {
      case Some((f, s)) if f == fingerprint => s
      case _ =>
        val s = footerSchema(spark, conf, top)
        perSession.put(path, (fingerprint, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Materialize-then-sort, for queries whose final deterministic
    * `orderBy` sits on a NARROW (shuffle-free) child. A global sort plans a
    * range exchange whose boundary-sampling job EXECUTES the child — a
    * map-only pipeline therefore pays its full scan + compute twice
    * (measured 10.1 s → 5.2 s on q_repetition at 101k docs just from this
    * barrier). Persisting first turns the sampling pass into the
    * cache-populating pass and the sort reads materialized rows. The cache
    * is output-sized; Verify and Bench clearCache between queries. Queries
    * whose child already ends in a shuffle (aggregate / join / window)
    * don't need this — the sampling job reuses the shuffle files.
    */
  def orderedOnce(df: DataFrame, keys: Column*): DataFrame =
    df.persist().orderBy(keys: _*)

  /** Idempotent warehouse-table materialization for the physical-layout
    * operators (bucketed join, partition-pruned scan). The subtle case is
    * a FRESH session catalog over a STALE warehouse directory — exactly
    * what the second JVM of a Verify-then-Bench driver sequence sees: the
    * in-memory catalog has no table, but the managed location exists on
    * disk, and `saveAsTable` refuses to create over it. A table the
    * catalog doesn't know is garbage by definition (in-memory catalog =
    * table lifetime is session lifetime), so the stale dir is deleted and
    * the layout rebuilt. Synchronized for threads in THIS JVM; an
    * OS-level FileLock on `<warehouse>/.graft.lock` serializes OTHER
    * JVMs' writes — `sbt test` running alongside a Bench JVM shares the
    * warehouse directory, and an unguarded delete/create interleaving
    * corrupts the table for both. SCOPE: the lock covers writer-vs-writer
    * only. A second JVM can still delete a directory the first is
    * actively SCANNING (readers take no lock) — concurrent cross-JVM
    * warehouse use remains read-unsafe and unsupported; the lock turns
    * the write race from silent corruption into last-writer-wins.
    */
  def materializedTable(s: SparkSession, name: String)(
      write: => Unit): DataFrame = synchronized {
    if (!s.catalog.tableExists(name)) {
      val wh = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val whDir = new java.io.File(wh)
      whDir.mkdirs()
      val lockCh = java.nio.channels.FileChannel.open(
        new java.io.File(whDir, ".graft.lock").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = lockCh.lock() // blocks until the peer JVM finishes
      try {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, name))
        write
      } finally { lock.release(); lockCh.close() }
    }
    s.table(name)
  }

  /** The per-sfDir table-name tag the layout operators share (bucketed
    * tables, partitioned events). One definition so specs that address
    * the tables by name can never drift from the production spelling. */
  def sfTag(d: String): String =
    java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(d))

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** `events.ts` has shipped under three physical encodings across fixture
    * generations — parquet TIMESTAMP(NANOS) (read as a raw long via the
    * legacy nanosAsLong conf, since Spark's vectorized reader rejects
    * nanos), TIMESTAMP(MICROS) isAdjustedToUTC=false (Spark reads
    * TIMESTAMP_NTZ), and TIMESTAMP(MICROS) adjusted (TimestampType). The
    * loader normalizes all three to the same surface: `ts` as a
    * micros-precision TimestampType and `ts_ns` as exact epoch-nanos, so
    * no consumer depends on which generation of fixture is on disk.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw =
      try table(s, d, "events")
      catch {
        // Nanos fixtures fail schema conversion ("Illegal Parquet type:
        // INT64 (TIMESTAMP(NANOS,..))") unless read as raw longs. The conf
        // is only flipped on this branch — micros fixtures never see it —
        // and must STAY set: the physical scan re-reads it at execution
        // time, so restoring it here would break the deferred read.
        case e: Exception if Option(e.getMessage).exists(_.contains("NANOS")) =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case LongType =>
        // Integer arithmetic, not `/`: epoch-nanos exceed double's 53-bit
        // mantissa, so float division would be off by ±1 microsecond. And
        // FLOOR division, not bare `div` (which truncates toward zero):
        // subtracting the non-negative pmod remainder first makes pre-epoch
        // nanos floor exactly like DuckDB's ns->us cast, instead of
        // agreeing only on post-1970 fixtures.
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts",
            expr("timestamp_micros((ts_ns - pmod(ts_ns, 1000)) div 1000)"))
      case TimestampNTZType =>
        // Wall-clock micros. timestampdiff against an NTZ epoch literal is
        // pure wall-clock arithmetic — unlike `cast(ts as timestamp)` it
        // yields the same epoch value under ANY session time zone (the
        // fixtures' NTZ values are UTC wall clocks, as DuckDB's
        // epoch_us(ts) also assumes).
        raw
          .withColumn("ts_ns", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case TimestampType =>
        // Instant-carrying micros: unix_micros is TZ-independent by
        // construction.
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected " +
            "long nanos, TIMESTAMP_NTZ micros, or TIMESTAMP micros)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
