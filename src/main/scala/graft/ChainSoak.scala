package graft

import java.nio.file.{Files, Path, Paths}

import graft.streaming.{BrokerSink, MiniBroker, SocketEventSource, StreamOps}

/** Two-deployment topology soak — the reference's ACTUAL decomposition,
  * split across two independent Spark jobs composing through broker
  * topics (knobs → flood → mapper, deploy:75-76; flood.go Receive →
  * fan-out → Publish):
  *
  *   pre-published topic `in` (knob updates, n = fan-out weight)
  *     → stage A = the FLOOD deployment: wire source (shard FETCH
  *       leases) → fan out n unit messages per update → [[BrokerSink]]
  *       publish to topic `units` (executor-parallel chunked PUBA)
  *     → stage B = the MAPPER deployment: wire source on `units` →
  *       windowed counts per knob → noop
  *
  * Unit messages cross the wire at the flood→mapper boundary exactly
  * like the reference's, so the reported UNIT msgs/sec is directly
  * comparable to its 1M msg/s headline — except here every unit also
  * pays a full base64+JSON codec round-trip in AND out. End-to-end
  * clock runs from stage A's start until stage B has ingested every
  * unit.
  *
  * Usage:
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.ChainSoak [nUpdates] [shards] [brokers] [dataRoot [sync]]"`
  * A non-empty 4th arg makes every broker DURABLE (per-member WAL dirs
  * under dataRoot) — the round-15 verdict's missing number: the same
  * wire path with one flush per PUBA chunk, so the artifact's rate is
  * the durability-priced one. The JSON carries `durable` either way.
  *
  * Measured on 32 cores at 1M updates (5.5M units), 8+8 leases, FAIR
  * pools: 1 broker 571k total / 978k steady; 2 brokers 689k / 1.43M;
  * 4 brokers 687k / 1.48M — sharding the boundary topic takes the
  * steady chain past the reference's 1M msg/s headline, and the 2→4
  * plateau shows the bottleneck moving from the broker JVM to the
  * 32-core codec budget, which is exactly the property horizontal
  * broker scale-out is supposed to have.
  */
object ChainSoak {
  /** `<root>/run-<pid>-<nanos>`: fresh per run, so a durable run never
    * replays a previous run's WAL. */
  private def freshRunRoot(root: String): Path =
    Paths.get(root,
      s"run-${ProcessHandle.current().pid()}-${System.nanoTime()}")

  /** Best-effort recursive delete. A dir it cannot remove is only left
    * behind: freshness comes from the run root's name, not from
    * emptiness. */
  private def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => }
  }

  def main(args: Array[String]): Unit = {
    val nMsgs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val shards = if (args.length > 1) args(1).toInt else 4
    // number of brokers carrying the `units` boundary topic (round 12):
    // at 1 the boundary is one JVM's log lock + heap, the reference's
    // managed-service bottleneck made visible; at N stage A publishes
    // partition-sharded (BrokerSink.publishSharded) and stage B reads
    // the union of per-member streams.
    val nBrokers = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // FAIR scheduling with one pool per stage: the two chained queries
    // share one local[cpus] task pool, and under FIFO the earlier-started
    // flood query's jobs get every slot before the mapper's queue — at
    // 8+8 leases the round-10/11 artifacts show the chain THROUGHPUT
    // REGRESSING vs 4+4 (383k vs 539k unit msg/s). Per-pool fair share
    // interleaves the stages' jobs the way two separate deployments get
    // separate nodes in the reference topology.
    val spark = Sessions.local(cpus, "graft-chain-soak",
      Map("spark.scheduler.mode" -> "FAIR"))
    import spark.implicits._
    // unit messages stage A must emit: Σ (i%10+1) over the updates
    val nUnits = (0L until nMsgs).iterator.map(_ % 10 + 1).sum

    // Per-run pid+nanos segment under dataRoot: the documented workflow
    // runs memory-only + durable back-to-back (and durable A/B twice) —
    // a verbatim-reused b$i dir would make run 2's brokers REPLAY run
    // 1's compacted WAL (seq counters resume past nMsgs, retained state
    // and subscriptions ride into the measurement), silently charging
    // the durable arm recovery work the memory-only arm never pays.
    val runRoot = args.lift(3).filter(_.nonEmpty).map(freshRunRoot)
    val dataRoot = runRoot.map(_.toString)
    // literal 5th arg `sync`: fdatasync per mutation batch (the
    // power-loss-durable chain price — one force per PUBA chunk)
    val walSync = args.length > 4 && args(4) == "sync"
    // WAL reclaim runs in a FINALLY (review finding: the old straight-line
    // delete leaked ~GBs per broker whenever anything threw mid-soak —
    // a WAL-poison IOException, a stage failure — and repeated failed
    // A/B iterations would fill the disk)
    try {
      // broker 0 carries the pre-published `in` topic; all members carry
      // their shard of `units`
      val brokers = (0 until math.max(1, nBrokers)).map { i =>
        new MiniBroker(dataRoot.map { r =>
          val d = java.nio.file.Paths.get(r, s"b$i")
          java.nio.file.Files.createDirectories(d)
          d.toString
        }, walSync = walSync)
      }
      val endpoints = brokers.map(b => ("127.0.0.1", b.start()))
      val broker = brokers.head
      val port = endpoints.head._2
      for (i <- 0L until nMsgs) {
        broker.publish("in",
          s"""{"id":${i % 5},"n":${i % 10 + 1},"ts_us":${1704067200000000L + i * 1000L}}""")
      }

      val rowsB = new java.util.concurrent.atomic.AtomicLong(0L)
      // (rows, triggerMs) per B batch after batch 0 — batch 0 pays both
      // queries' stream init, so the steady rate excludes it
      val steadyRows = new java.util.concurrent.atomic.AtomicLong(0L)
      val steadyMs = new java.util.concurrent.atomic.AtomicLong(0L)
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          if (e.progress.name == "chain_b") {
            rowsB.addAndGet(e.progress.numInputRows)
            val dur = e.progress.durationMs.getOrDefault("triggerExecution", 0L)
            if (e.progress.batchId > 0 && e.progress.numInputRows > 0) {
              steadyRows.addAndGet(e.progress.numInputRows)
              steadyMs.addAndGet(dur)
            }
            System.err.println(s"[chain-soak] B batch ${e.progress.batchId}: " +
              s"${e.progress.numInputRows} msgs ($dur ms)")
          }
        }
      }
      spark.streams.addListener(listener)

      val wall0 = System.nanoTime()
      // the pool local property is inherited by the thread that runs each
      // query's microbatches, so set it immediately before each start()
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "flood")
      val srcA = new SocketEventSource("127.0.0.1", port, "in", "a-sub",
        maxRowsPerBatch = 500000L, numPartitions = shards)
      // stage A = flood: the SAME shared stage StreamOps.pipeline runs
      // in-engine, here feeding the wire instead — sharded across the
      // member brokers when nBrokers > 1
      val qa = BrokerSink.publishSharded(endpoints,
          "units")(StreamOps.flood(srcA.stream(spark)))
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_chain_a").toString)
        .start()
      // stage B = mapper/reducer: windowed counts per knob over the units —
      // the UNION of one source per member (per-member offsets/acks, the
      // BrokerGroup consumption model); leases split evenly across members
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "mapper")
      val perMember = math.max(1, shards / endpoints.size)
      val unionB = endpoints.map { case (h, p) =>
        new SocketEventSource(h, p, "units", "b-sub",
          maxRowsPerBatch = 2000000L, numPartitions = perMember).stream(spark)
      }.reduce(_ unionByName _)
      val qb = StreamOps.windowedCounts(unionB)
        .writeStream
        .queryName("chain_b")
        .format("noop")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_chain_b").toString)
        .start()
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)

      while (qa.exception.isEmpty && qb.exception.isEmpty &&
          rowsB.get() < nUnits) {
        Thread.sleep(100)
      }
      val wallSecs = (System.nanoTime() - wall0) / 1e9
      qa.stop(); qb.stop()
      qa.awaitTermination(); qb.awaitTermination()
      spark.streams.removeListener(listener)
      qa.exception.foreach(throw _)
      qb.exception.foreach(throw _)
      brokers.foreach(_.stop())

      // At-least-once honesty: a publish retry or Spark task retry
      // republishes a partition, so rowsB can EXCEED nUnits and end the
      // run while stage A still holds unpublished units. dup_excess > 0 in
      // the artifact flags such a run — its headline rate measured a
      // partially-duplicated population and should be re-run. (Payload
      // dedup can't help here: units legitimately share (id, n=1).)
      val dupExcess = math.max(0L, rowsB.get() - nUnits)
      val rate = (rowsB.get() / wallSecs).round
      val steady =
        if (steadyMs.get() > 0) (steadyRows.get() * 1000.0 / steadyMs.get()).round
        else -1L
      val line =
        s"""{"metric":"chain_soak_unit_msgs_per_sec","value":$rate,"unit":"msgs/sec","steady_unit_msgs_per_sec":$steady,"unit_msgs":${rowsB.get()},"updates":$nMsgs,"dup_excess":$dupExcess,"wall_secs":${"%.1f".formatLocal(java.util.Locale.ROOT, wallSecs)},"shards":$shards,"brokers":${endpoints.size},"durable":${dataRoot.isDefined},"wal_sync":$walSync,"hops":2,"cpus":$cpus}"""
      System.err.println(line)
      println(line)
    } finally runRoot.foreach(deleteRecursively)
    spark.stop()
  }
}
