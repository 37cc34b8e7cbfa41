package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-schema canary (round-11 verdict finding #3). The driver
  * regenerated `/root/testdata` between rounds 10 and 11 with `events.ts`
  * switched from parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS), and the
  * loader's nanos-only arithmetic died at analysis time — silently erasing
  * 21 correctness rows and 21 bench rows. This spec pins the loader's
  * contract under every physical encoding the fixture has ever shipped
  * with, so the next regen breaks HERE, with a named assertion, instead of
  * in the round artifacts:
  *
  *  - long / TIMESTAMP(NANOS)   → legacy nanosAsLong read + floor-division
  *  - TIMESTAMP_NTZ micros      → wall-clock-as-UTC epoch derivation
  *  - TIMESTAMP (LTZ) micros    → unix_micros passthrough
  *
  * All three must yield byte-identical (key → ts, ts_ns) maps, and the
  * NTZ derivation must be session-timezone-independent (the advisor's
  * round-11 note: a cast-based conversion would silently shift every
  * event under a non-UTC session).
  */
class FixtureSchemaCanarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Shared micro-aligned instants, as epoch micros. Includes 0, ±1, a
    * modern timestamp, and a pre-epoch value with a nonzero sub-second —
    * the floor-vs-truncate distinction only bites pre-1970. */
  private val microInstants: Map[Int, Long] = Map(
    0 -> 0L, 1 -> 1L, 2 -> -1L,
    3 -> 1673786096789123L, 4 -> -86400000001L)

  /** Stage a df as `<tmp>/events.parquet` and return the dir Tables.events
    * expects. */
  private def stage(df: DataFrame): String = {
    val dir = Files.createTempDirectory("canary").toString
    df.coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val ntzDir: String = {
    // Session TZ is UTC here, so casting an instant to NTZ yields the UTC
    // wall clock — exactly how the driver generates the micros fixtures.
    val rows = microInstants.toSeq.map { case (k, us) => (k, us) }
    stage(spark.createDataFrame(rows).toDF("key", "us")
      .select(col("key"),
        expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts")))
  }

  private lazy val ltzDir: String = {
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val rows = microInstants.toSeq.map { case (k, us) => (k, us) }
      stage(spark.createDataFrame(rows).toDF("key", "us")
        .select(col("key"), expr("timestamp_micros(us)").as("ts")))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  private lazy val nanosDir: String = {
    // Spark cannot WRITE parquet TIMESTAMP(NANOS); the file is a
    // checked-in pyarrow-written fixture (see src/test/resources), so the
    // canary exercises the real legacy-conf read path, not a stand-in.
    val dir = Files.createTempDirectory("canary").toString
    val in = getClass.getResourceAsStream("/fixtures/events_nanos.parquet")
    assert(in != null, "missing test resource events_nanos.parquet")
    try Files.copy(in, Path.of(dir, "events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    dir
  }

  private def loadMap(dir: String): Map[Int, (Long, Long)] =
    Tables.events(spark, dir)
      .select(col("key"), expr("unix_micros(ts)").as("us"), col("ts_ns"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

  test("loader output schema is identical under all three encodings") {
    for (dir <- Seq(ntzDir, ltzDir, nanosDir)) {
      val sch = Tables.events(spark, dir).schema
      assert(sch("ts").dataType == TimestampType, s"ts type in $dir")
      assert(sch("ts_ns").dataType == LongType, s"ts_ns type in $dir")
    }
  }

  test("NTZ-micros, LTZ-micros, and nanos fixtures agree value-for-value") {
    val ntz = loadMap(ntzDir)
    val ltz = loadMap(ltzDir)
    val nanos = loadMap(nanosDir).view.filterKeys(_ < 10).toMap
    val expected = microInstants.map { case (k, us) => k -> ((us, us * 1000)) }
    assert(ntz == expected, "NTZ branch")
    assert(ltz == expected, "LTZ branch")
    assert(nanos == expected, "nanos branch (micro-aligned rows)")
  }

  test("nanos branch floor-truncates sub-micro residue like DuckDB") {
    val m = loadMap(nanosDir)
    // key 10: ...123999 ns → floor to ...123 us, ts_ns exact.
    assert(m(10) == ((1673786096789123L, 1673786096789123999L)))
    // key 11: -999 ns → FLOOR division lands at -1 us (truncation toward
    // zero would give 0 us — the pre-epoch disagreement this pins).
    assert(m(11) == ((-1L, -999L)))
  }

  test("NTZ derivation is session-timezone-independent") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val shifted = loadMap(ntzDir)
      val expected = microInstants.map { case (k, us) => k -> ((us, us * 1000)) }
      assert(shifted == expected,
        "NTZ epoch derivation shifted under a non-UTC session")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("every fixture table carries the columns and type classes the engine assumes") {
    // The round-11 incident generalized: a regen can drift ANY table's
    // schema, and the first symptom would again be a pile of dead
    // queries in the round artifact. This pins the engine's actual
    // requirements — full column list and a COARSE type class per
    // column — so a rename or a type-class break (string→int,
    // timestamp→string) fails here by name, while benign width drift
    // (int32↔int64, float↔double) the casts absorb stays green.
    import org.apache.spark.sql.types._
    def cls(t: DataType): String = t match {
      case _: NumericType                        => "num"
      case StringType                            => "str"
      case _: TimestampType | TimestampNTZType | DateType => "time"
      case ArrayType(_: NumericType, _)          => "vec"
      case other                                 => other.simpleString
    }
    val expected = Map(
      "region" -> Seq("r_regionkey" -> "num", "r_name" -> "str"),
      "nation" -> Seq("n_nationkey" -> "num", "n_name" -> "str",
        "n_regionkey" -> "num"),
      "customer" -> Seq("c_custkey" -> "num", "c_name" -> "str",
        "c_nationkey" -> "num", "c_acctbal" -> "num",
        "c_mktsegment" -> "str"),
      "supplier" -> Seq("s_suppkey" -> "num", "s_name" -> "str",
        "s_nationkey" -> "num", "s_acctbal" -> "num"),
      "part" -> Seq("p_partkey" -> "num", "p_name" -> "str",
        "p_brand" -> "str", "p_type" -> "str", "p_size" -> "num",
        "p_retailprice" -> "num"),
      "orders" -> Seq("o_orderkey" -> "num", "o_custkey" -> "num",
        "o_orderstatus" -> "str", "o_totalprice" -> "num",
        "o_orderdate" -> "time", "o_orderpriority" -> "str"),
      "lineitem" -> Seq("l_orderkey" -> "num", "l_partkey" -> "num",
        "l_suppkey" -> "num", "l_linenumber" -> "num",
        "l_quantity" -> "num", "l_extendedprice" -> "num",
        "l_discount" -> "num", "l_tax" -> "num", "l_returnflag" -> "str",
        "l_linestatus" -> "str", "l_shipdate" -> "time"),
      "documents" -> Seq("doc_id" -> "num", "text" -> "str",
        "lang" -> "str", "source" -> "str", "n_chars" -> "num"),
      "embeddings" -> Seq("vec_id" -> "num", "embedding" -> "vec",
        "label" -> "num"))
    for ((t, cols) <- expected) {
      val got = Tables.table(spark, TestSpark.sf, t).schema
        .map(f => f.name -> cls(f.dataType))
      assert(got == cols, s"fixture table $t drifted: $got")
    }
    // events through ITS loader — the normalized surface, not the file
    val ev = Tables.events(spark, TestSpark.sf).schema
      .map(f => f.name -> cls(f.dataType)).toMap
    for (c <- Seq("event_id" -> "num", "ts" -> "time", "ts_ns" -> "num",
      "user_id" -> "num", "event_type" -> "str", "value" -> "num",
      "props" -> "str"))
      assert(ev.get(c._1).contains(c._2), s"events surface drifted at $c: $ev")
  }

  test("schema-catalog read is indistinguishable from a plain inferred " +
      "read on every fixture table") {
    // Tables.table serves reads through a per-session schema catalog
    // (r21: skips the per-call footer-inference job). The contract pinned
    // here: the catalogued read's schema — names, types, NULLABILITY —
    // and rows are identical to a fresh spark.read.parquet inference of
    // the same path, for every fixture table, on repeated calls.
    for (t <- Tables.names) {
      val path = s"${TestSpark.sf}/$t.parquet"
      val plain = spark.read.parquet(path)
      val viaCatalog = Tables.table(spark, TestSpark.sf, t)
      assert(viaCatalog.schema == plain.schema,
        s"$t: catalog schema ${viaCatalog.schema} != inferred ${plain.schema}")
      val again = Tables.table(spark, TestSpark.sf, t)
      assert(again.schema == plain.schema, s"$t drifted on second read")
      assert(viaCatalog.count() == plain.count(), s"$t row count drifted")
    }
  }

  /** Writes a one-row table, reads it through the schema catalog, rewrites
    * it with a different schema and reads it again. The directory and every
    * file of the first generation carry `firstMtime`, those of the second
    * `secondMtime`, so a test picks whether the rewrite shows in the mtimes. */
  private def rewriteAndReread(firstMtime: FileTime, secondMtime: FileTime): Unit = {
    // r21 ADVICE #3: a user-supplied schema resolves columns by name and
    // nulls out missing ones — a rewritten path read through a stale
    // catalog entry would return silent wrong rows. The catalog keys on
    // the path's file listing (names, sizes, mtimes).
    import spark.implicits._
    val dir = Files.createTempDirectory("schema_canary").toString
    val table = Path.of(dir, "t.parquet")
    def stamp(t: FileTime): Unit = {
      val s = Files.walk(table)
      try s.forEach(p => Files.setLastModifiedTime(p, t)) finally s.close()
    }
    try {
      Seq((1L, "a")).toDF("id", "s")
        .write.mode("overwrite").parquet(table.toString)
      stamp(firstMtime)
      val first = Tables.table(spark, dir, "t")
      assert(first.schema.fieldNames.sameElements(Array("id", "s")))
      Seq((2L, 3.5, "b")).toDF("id", "x", "s2")
        .write.mode("overwrite").parquet(table.toString)
      stamp(secondMtime)
      val again = Tables.table(spark, dir, "t")
      assert(again.schema.fieldNames.sameElements(Array("id", "x", "s2")),
        s"stale catalog schema served after rewrite: ${again.schema}")
      assert(again.as[(Long, Double, String)].collect().toSeq == Seq((2L, 3.5, "b")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  private val aSecond = FileTime.fromMillis(1700000000000L)

  test("a path rewritten with a different schema re-infers (mtime key)") {
    // The rewrite lands one whole second later: distinct mtimes even on a
    // 1 s-resolution filesystem.
    rewriteAndReread(aSecond, FileTime.fromMillis(aSecond.toMillis + 1000))
  }

  test("a path rewritten with a different schema re-infers, even within one mtime second") {
    // On a filesystem with 1 s mtime resolution a rewrite in the same
    // second leaves every mtime unchanged; both generations carry one
    // whole second, so only the file names and sizes tell them apart.
    rewriteAndReread(aSecond, aSecond)
  }

  test("real fixture loads and is micro-exact between ts and ts_ns") {
    val df = Tables.events(spark, TestSpark.sf)
      .select(expr("sum(case when unix_micros(ts) * 1000 != ts_ns - pmod(ts_ns, 1000) then 1 else 0 end)").as("bad"),
        count(lit(1)).as("n"))
      .collect()(0)
    assert(df.getLong(1) > 0, "fixture events table is empty")
    assert(df.getLong(0) == 0L, "ts / ts_ns disagree on the real fixture")
  }
}
