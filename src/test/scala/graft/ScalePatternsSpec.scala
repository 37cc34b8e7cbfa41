package graft

import graft.functions.Salt
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proofs for the two scale techniques the small fixtures can't show in a
  * plan audit: bucketed co-located joins (the shuffle disappears) and skew
  * salting (same result set, scattered hot key).
  */
class ScalePatternsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed tables co-locate: join plans without a shuffle exchange") {
    import spark.implicits._
    val li = Tables.lineitem(spark, TestSpark.sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, TestSpark.sf).select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    // a previously-crashed run can leave the managed location behind
    Seq("li_b", "o_b").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft-warehouse/$t"))
    }
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_b")
    // force the non-broadcast path so the shuffle question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == li.count()) // every lineitem has its order
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned layout prunes at the directory level (PartitionFilters)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val ev = Tables.events(spark, TestSpark.sf)
      .select("event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val clicks = spark.read.parquet(dir)
      .filter($"event_type" === "click").select("event_id")
    val scan = clicks.queryExecution.executedPlan.toString
    // the predicate must prune PARTITION DIRECTORIES, not filter rows
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in:\n$scan")
    assert(clicks.count() ==
      ev.filter($"event_type" === "click").count())
  }

  test("token-budget cumsum never plans a single-partition window") {
    // The naive ORDER BY-without-PARTITION BY window moves the whole
    // corpus to one partition; the two-pass prefix sum must keep every
    // exchange partitioned (hash by pid / range by the sort key).
    val df = SparkEntry.queries("q_token_budget")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange in token-budget plan:\n$plan")
    // and it still computes: cum is monotone over the kept prefix
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(2) <= 15000L))
  }

  test("IVF cell layout prunes: a probe reads only its nprobe cell directories") {
    // Backs the q_ivf_topk scale claim (SimilarityOps: "at 100 TB the cell
    // assignment is a partition column"): write embeddings partitioned by
    // their assigned cell, then show an nprobe-cell read (1) plans a
    // partition filter and (2) physically touches only the probed cell
    // directories — i.e. the probe scans nprobe/k of the corpus, not all
    // of it.
    import spark.implicits._
    val planes = graft.operators.AnnPlanes.planes
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    def score(m: Int) =
      call_function("dot_product", col("v"), array(planes(m).map(lit): _*))
    val scored = e
      .withColumn("scores", array((0 until 8).map(score): _*))
      .withColumn("cell",
        (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"))
      .drop("scores")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    scored.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val probed = Seq(1, 3, 5)
    val scan = spark.read.parquet(dir).filter(col("cell").isin(probed: _*))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"cell filter did not reach PartitionFilters:\n$plan")
    // directory-level proof: every file actually read lives under a
    // probed cell= directory
    val files = scan.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty)
    assert(files.forall(f => probed.exists(c => f.contains(s"/cell=$c/"))),
      s"scan read outside probed cells:\n${files.mkString("\n")}")
    // and pruning lost no rows vs filtering the unpartitioned frame
    assert(scan.count() ==
      scored.filter(col("cell").isin(probed: _*)).count())
  }

  test("AQE splits a skewed join partition at runtime (skew=true in plan)") {
    import spark.implicits._
    // One hot key owns ~95% of the big side. With the skew thresholds
    // lowered to fixture scale, AQE must detect the oversized shuffle
    // partition after the map stage and split it — the runtime remedy a
    // 1000-executor job gets for free before anyone reaches for manual
    // salting (Salt.saltedJoin is the plan-level fallback, tested below).
    val big = spark.range(0, 200000)
      .select(when(col("id") % 20 =!= 0, 7L).otherwise(col("id") % 50).as("k"),
        concat(lit("payload_"), col("id")).as("payload"))
    val small = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = big.join(small, "k")
      // collect() executes THIS Dataset's queryExecution — count() would
      // run a separate one and leave this plan isFinalPlan=false
      assert(joined.collect().length == 200000) // result correct under the split
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact scan from a filtered dim (might_contain in plan)") {
    import spark.implicits._
    // Runtime row-level filtering: when a join's build side carries a
    // selective predicate, Catalyst plants a bloom filter built from the
    // dim's join keys onto the FACT side's scan, discarding non-joining
    // rows before the shuffle — at 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~1% that survives
    // the dim filter. Thresholds are lowered to fixture scale (the
    // defaults want a 10 MB creation side); broadcast is disabled since
    // the optimization targets shuffle joins.
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    spark.range(0, 200000)
      .select((col("id") % 1000).as("k"), col("id").as("payload"))
      .write.parquet(s"$dir/fact")
    spark.range(0, 1000)
      .select(col("id").as("k"), concat(lit("dim_"), col("id")).as("name"))
      .write.parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
        // selective, non-key predicate; startsWith (not LIKE 'dim_7%' —
        // its `_` wildcard blocks the StartsWith simplification, and only
        // isLikelySelective predicates qualify a creation side)
        .filter(col("name").startsWith("dim_7"))
      val joined = fact.join(dim, "k")
      assert(joined.collect().length == 22200) // 111 dim keys × 200 fact rows
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed LSH band index: incremental batch joins corpus state without shuffling it") {
    // The q_dedup_incremental scale story made concrete: the stored
    // corpus's band index is BUCKETED on the band-join key, so a new
    // batch's (band, bh) probes join it with the corpus side reading
    // straight from its buckets — the only exchange in the plan belongs
    // to the (small) batch side. At 100 TB that is the difference between
    // an ingest tick costing O(batch) and re-shuffling the corpus index
    // on every arrival.
    import graft.operators.SimilarityOps
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS band_idx")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft-warehouse/band_idx"))
    val bands = SimilarityOps.bandIndex(spark, TestSpark.sf)
    bands.write.mode("overwrite").bucketBy(8, "band", "bh")
      .sortBy("band", "bh").saveAsTable("band_idx")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = spark.table("band_idx")
      // an incoming "batch": a slice of the same index, NOT bucketed.
      // localCheckpoint stands in for "the batch arrived materialized" —
      // without it the count below would also see the exchange inside the
      // batch's own signature aggregation, which is not what's under test.
      val batch = bands.filter($"doc_id" >= 450)
        .withColumnRenamed("doc_id", "new_id").localCheckpoint(true)
      val probes = corpus.join(batch, Seq("band", "bh"))
        .filter($"doc_id" < $"new_id")
      val plan = probes.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"expected only the batch-side exchange, found $exchanges:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(probes.count() > 0) // planted near-dups share bands
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.catalog.clearCache()
    }
  }

  test("knn join plans a map-side partial WindowGroupLimit before the exchange") {
    // q_knn_join's comment claims Catalyst rewrites the rk <= k filter
    // over row_number into a two-stage top-k: a PARTIAL WindowGroupLimit
    // on the scan side prunes each input partition to k rows per probe
    // BEFORE the shuffle, then a Final limit after it. At 100 TB the
    // difference is shuffling k × probes × partitions rows vs the whole
    // probes × corpus cross product — assert the rewrite actually engages
    // so a regression (e.g. a rank expression Catalyst can't match)
    // cannot silently fall back to the full-shuffle window.
    val df = SparkEntry.queries("q_knn_join")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"no partial window-group-limit in knn plan:\n$plan")
    val rows = df.collect()
    // 10 probes × exactly 5 neighbors, ranks 1..5 in emitted order
    assert(rows.length == 50)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 10L).flatMap(p => (1L to 5L).map(r => (p, r))))
    spark.catalog.clearCache()
  }

  test("cluster sample plans a map-side partial WindowGroupLimit before the exchange") {
    // Same rewrite contract as q_knn_join, for the per-CELL top-m: the
    // rk <= m filter must engage the partial window-group-limit so the
    // shuffle carries at most m × k × partitions rows at any corpus size.
    val df = SparkEntry.queries("q_cluster_sample")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"no partial window-group-limit in cluster-sample plan:\n$plan")
    val rows = df.collect()
    // every emitted cell carries ranks 1..|cell| capped at 10, in order
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (cell, rs) =>
      val rks = rs.map(_.getLong(1)).sorted.toSeq
      assert(rks == (1L to rks.length) && rks.length <= 10,
        s"cell $cell ranks: $rks")
    }
    spark.catalog.clearCache()
  }

  test("simhash tables: hamming filter fused into the candidate join, no cartesian") {
    // The Manku block-permutation structure must plan as an equality
    // join on (t, k1, k2, k3) with the hamming <= 3 predicate FUSED into
    // the join condition (filter-before-distinct lets Catalyst push it),
    // and never a cartesian/nested-loop — the 20-table fan-out would
    // amplify any such fallback 20x.
    val plan = SparkEntry.queries("q_simhash_neardup")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"cartesian in simhash plan:\n$plan")
    // the predicate must sit ON the join node itself — bit_count
    // appearing in a post-join Filter would mean every bucket's full
    // pair fan-out materializes before filtering
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty && joinLines.exists(_.contains("bit_count")),
      s"hamming not fused into the join condition:\n$plan")
  }

  test("embed banding core: no cartesian, vectors never ride pair rows") {
    // Asserted on the banding core's OWN frame (test hook): the registry
    // dedup query consumes it inside the eager connected-components
    // rounds, so this subtree never appears in the query's executedPlan.
    val plan = graft.operators.SimilarityOps
      .bandPairsFor(spark, TestSpark.sf, Some(0.35))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"cartesian in banding plan:\n$plan")
    // the cross-band dedup aggregate must key on bare ids + cos — a
    // vector column reaching it would mean candidate pairs shuffle with
    // 520-byte payloads again (the 348-s regression shape)
    val aggOverPairs = plan.linesIterator
      .filter(l => l.contains("Aggregate") && l.contains("vec_a")).toSeq
    assert(aggOverPairs.nonEmpty,
      s"pair-dedup aggregate not found — plan shape changed:\n$plan")
    assert(aggOverPairs.forall(l => !l.contains("va#") && !l.contains("vb#")),
      s"vector column rides the pair-dedup aggregate:\n$plan")
  }

  test("substring family plans aggregation over the digest, never a digest window") {
    // The round-11 de-skew: per-digest facts (first occurrence, ≥2
    // distinct docs) come from groupBy(gh) — partial aggregation absorbs
    // a hot digest map-side — then semi/inner-join back to occurrences,
    // where residual skew is a JOIN that AQE can split. The regression
    // this guards: re-introducing `Window.partitionBy(gh)`, which funnels
    // every occurrence of one boilerplate span through a single task's
    // window sort (AQE cannot split a window partition).
    for (q <- Seq("q_substring_dedup", "q_substring_prune")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$q: digest window reintroduced (unsplittable under skew):\n$plan")
      assert(plan.contains("partial_min") || plan.contains("partial_max"),
        s"$q: no partial aggregation over the digest:\n$plan")
      assert(df.collect().nonEmpty)
    }
  }

  test("containment dedup: prefix-filter candidates, no cartesian, per-doc window only") {
    // The prefix-filter join must stay an inverted-index equi-join on the
    // shingle hash — a cartesian (or a broadcast of the CORPUS side at
    // scale) would defeat the all-pairs pruning the operator exists for.
    // The only window allowed is the per-doc rarest-first rank (partition
    // key doc_id: parallelism = corpus size, rows per partition bounded
    // by doc length — not a skewable global key).
    val df = SparkEntry.queries("q_containment_dedup")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"containment candidates degenerate to all-pairs:\n$plan")
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(plan).isDefined,
      s"prefix rank window must partition by doc_id:\n$plan")
    assert(plan.contains("div 10"),
      s"prefix-size filter (rk <= n div 10 + 1) missing from plan:\n$plan")
    assert(df.collect().nonEmpty)
    spark.catalog.clearCache()
  }

  test("planted boilerplate span: hot digest stays correct and partial-agg absorbed") {
    import spark.implicits._
    // One 20-word boilerplate span planted in 30% of 2000 docs (the
    // license-header scenario from the round-10 verdict). Under the old
    // window shape all 600 occurrences of each boilerplate digest sort in
    // ONE window partition; under the aggregation shape they collapse
    // map-side. Assert (a) exact semantics: every boilerplate doc except
    // the first occurrence prunes the span, stats count it as duplicated;
    // (b) the plan carries partial aggregation on the digest and no
    // Window node.
    val boiler = (1 to 20).map(i => s"lic$i").mkString(" ")
    val docs = (0 until 2000).map { d =>
      val body = (0 until 30).map(j => s"w${d}_$j").mkString(" ")
      val text = if (d % 10 < 3) s"$boiler $body" else body
      (d.toLong, text)
    }.toDF("doc_id", "text").repartition(8)
    val stats = graft.operators.TextOps.substringDupStats(docs, k = 20)
    val statRows = stats.collect().map(r =>
      r.getLong(0) -> r.getLong(2)).toMap
    // boilerplate docs have 31 grams crossing the planted span (positions
    // 1..31 of a 50-word doc overlap words 1..20 only at starts 1..1 —
    // exactly the grams fully inside the span: start 1 only). Rather than
    // hand-derive overlaps, assert the sharp boundary: planted docs
    // report dup_grams > 0, clean docs exactly 0.
    (0 until 2000).foreach { d =>
      if (d % 10 < 3) assert(statRows(d.toLong) > 0, s"doc $d should have dup grams")
      else assert(statRows(d.toLong) == 0L, s"doc $d should be clean")
    }
    val pruned = graft.operators.TextOps.substringPrune(docs, k = 20)
    val prunedRows = pruned.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getLong(4))).toMap
    val firstPlanted = (0 until 2000).find(_ % 10 < 3).get.toLong
    (0 until 2000).foreach { d =>
      val (txt, dropped) = prunedRows(d.toLong)
      if (d.toLong == firstPlanted)
        assert(dropped == 0L && txt.startsWith(boiler),
          s"first occurrence (doc $d) must keep the span")
      else if (d % 10 < 3)
        assert(dropped == 20L && !txt.contains("lic1 "),
          s"doc $d must prune exactly the 20 span words, got $dropped")
      else assert(dropped == 0L, s"clean doc $d must be untouched")
    }
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"hot-digest window in prune plan:\n$plan")
    assert(plan.contains("partial_min"), s"no map-side partial agg:\n$plan")
  }

  test("mega-doc rebuild is linear: 100k words, half duplicated, bounded runtime") {
    import spark.implicits._
    // The round-10 caveat: the per-position `exists` probe cost
    // O(n_words × deleted_spans) — a 1e5-word doc with ~2.5e3 deleted
    // spans was ~2.5e8 compares per doc. The array_except rebuild is
    // O(n + spans·k). Plant a mega-doc whose second half repeats another
    // doc verbatim, assert the prune is exact and completes quickly.
    val n = 100000
    val shared = (0 until n / 2).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared),
      (2L, (0 until n / 2).map(i => s"u$i").mkString(" ") + " " + shared)
    ).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val rows = graft.operators.TextOps.substringPrune(docs, k = 20)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    // doc 1 is the corpus-wide first occurrence start-to-end; doc 2 loses
    // its entire duplicated second half (every 20-gram there is shared)
    assert(rows(1L) == (n / 2.toLong, n / 2.toLong))
    assert(rows(2L)._1 == n.toLong)
    assert(rows(2L)._2 == n / 2.toLong,
      s"doc 2 should drop exactly its duplicated half, got ${rows(2L)}")
    // generous wall bound — the old quadratic form took minutes here
    assert(secs < 60, s"mega-doc prune took ${secs}s — rebuild not linear")
  }

  test("pack sequences: distributed cumsum plan is partitioned end to end") {
    // same single-partition guard as q_token_budget, for the shared
    // distributedCumsum helper's second caller
    val df = SparkEntry.queries("q_pack_sequences")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange in pack-sequences plan:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("distributed cumsum equals the window sum on a nullable column with an all-NULL lead partition") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 40 rows over 4 range partitions: ids 0-14 are NULL, so at least the
    // first partition holds only NULLs; later NULLs are scattered
    val df = (0L until 40L).map(i =>
      (i, if (i < 15 || i % 7 == 0) None else Some(i * 3 - 20))).toDF("id", "x")
    assert(df.schema("x").nullable)
    var fold = Map.empty[Long, Option[Any]]
    TestSpark.withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (base, cum) = graft.operators.TextOps.distributedCumsumSplit(df, "x", "cum", col("id"))
      val lead = base.filter(spark_partition_id() === 0)
      assert(lead.count() > 0 && lead.filter(col("x").isNotNull).count() == 0,
        "the leading range partition must hold only NULLs")
      fold = cum.select("id", "cum").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    }
    val window = df.withColumn("cum", sum("x").over(Window.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(fold == window, s"fold diverged from window: ${(fold.toSet diff window.toSet).toSeq.sortBy(_._1)}")
    assert((0L until 15L).forall(fold(_).isEmpty), "an all-NULL prefix must give NULL, not an offset")
  }

  test("distributed cumsum rejects a non-long value column before running") {
    import spark.implicits._
    val df = Seq((1L, 1), (2L, 2)).toDF("id", "x")
    val e = intercept[IllegalArgumentException](
      graft.operators.TextOps.distributedCumsum(df, "x", "cum", col("id")))
    assert(e.getMessage.contains("LongType"), e.getMessage)
  }

  test("heavy hitters scans the corpus exactly twice and never shuffles the vocabulary") {
    // q_heavy_hitters' claim is structural: pass 1 folds words into the
    // Misra–Gries sketch AND the total count in ONE map-side
    // ObjectHashAggregate (so no third scan for N), pass 2 exact-counts
    // only the broadcast candidates. At 100 TB the difference is
    // shuffling ~10⁹ distinct tokens vs ≤100 — assert the fused partial
    // sketch, the broadcast build of the candidate side, and the
    // two-scan bound so a regression (e.g. a separate count(*) branch or
    // a non-broadcast join) cannot silently reintroduce a corpus pass.
    val df = SparkEntry.queries("q_heavy_hitters")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_freqcandidates") && plan.contains("partial_count"),
      s"sketch and total count are not fused into one partial aggregate:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"candidate side is not broadcast:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected exactly 2 corpus scans, got $scans:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("salted join returns exactly the unsalted result on skewed data") {
    import spark.implicits._
    // 90% of the big side hits one hot key — the classic straggler shape
    val big = (1 to 10000).map(i =>
      (if (i % 10 == 0) i.toLong % 50 else 7L, i.toLong)).toDF("k", "payload")
    val small = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = big.join(small, "k").select("k", "payload", "name")
      .collect().map(_.toString).sorted
    val salted = Salt.saltedJoin(big, small, "k", k = 8)
      .select("k", "payload", "name").collect().map(_.toString).sorted
    assert(salted.sameElements(plain),
      s"salted join diverged: ${salted.length} vs ${plain.length} rows")
  }
}
