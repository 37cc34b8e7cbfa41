package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The wire-shaped connector end-to-end: MiniBroker (TCP, STAT/FETCH/ACK)
  * → SocketEventsSource (DSv2 micro-batch, executor-parallel shard
  * leases) → the same stateful pipeline stages every other EventSource
  * feeds. Covers the reference's subscription semantics over actual
  * sockets: delivery of the retained log plus live publishes, retained
  * re-delivery after the ack, commit-time cumulative acks,
  * log-and-continue on malformed payloads (knobs.go:85-90) — plus the
  * round-10 scale contract: reads are PARTITION-LOCAL (every shard lease
  * serves rows, all on executor task threads, no driver receive loop)
  * and a dropped connection reconnects instead of stalling.
  */
class SocketSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def payload(id: Long, n: Long, tsUs: Long): String =
    s"""{"id":$id,"n":$n,"ts_us":$tsUs}"""

  /** Poll until `cond` (the stream keeps triggering in the background:
    * push delivery and source commits both lag processAllAvailable by up
    * to one trigger, so point-in-time asserts on them race). */
  private def eventually(timeoutMs: Long = 20000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
    cond
  }

  /** processAllAvailable plus a catch-up loop for data still in flight
    * between the broker's push thread and the source's receiver. */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery)
      (cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + 20000
    q.processAllAvailable()
    while (!cond && System.currentTimeMillis < deadline) {
      Thread.sleep(50); q.processAllAvailable()
    }
    cond
  }

  test("socket source streams broker messages through a stateful stage") {
    val broker = new MiniBroker
    val port = broker.start()
    try {
      // retained-before-subscribe: published while nobody listens, must
      // still be delivered on SUB (durable-log behavior, not a tap)
      for (i <- 1L to 50L)
        broker.publish("knobs", payload(i % 5, i, i * 1000000L))

      val src = new SocketEventSource("127.0.0.1", port, "knobs", "s1")
      val q = StreamOps.latestPerKey(src.stream(spark)).writeStream
        .format("memory").queryName("socket_latest")
        .outputMode(OutputMode.Update()).start()
      try {
        assert(drain(q)(spark.table("socket_latest")
          .select("id").distinct().count() == 5), "initial 50 not drained")
        val latest = spark.table("socket_latest").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
          .map { case (k, vs) => k -> vs.last._2 }
        // newest n per id: ids 1..4 last see n=46..49, id 0 sees n=50
        assert(latest == Map(0L -> 50L, 1L -> 46L, 2L -> 47L,
          3L -> 48L, 4L -> 49L), s"got $latest")

        // live push: more messages while the query runs
        for (i <- 51L to 60L)
          broker.publish("knobs", payload(9L, i, i * 1000000L))
        assert(drain(q)(spark.table("socket_latest").collect()
          .exists(r => r.getLong(0) == 9L)), "live publish not drained")
        val after = spark.table("socket_latest").collect()
          .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
          .map { case (k, vs) => k -> vs.last._2 }
        assert(after(9L) == 60L, s"live publish not received: $after")

        // commits acked cumulatively. Like the Kafka source's offset
        // commits, MicroBatchStream.commit fires when the NEXT batch
        // runs — publish a sentinel to trigger it, then the ack must
        // cover everything BEFORE the sentinel (whose own batch stays
        // un-acked until a further trigger: at-least-once, never lossy).
        broker.publish("knobs", payload(8L, 61L, 61000000L))
        assert(drain(q)(spark.table("socket_latest").collect()
          .exists(r => r.getLong(0) == 8L)), "sentinel not drained")
        assert(eventually()(broker.ackedSeq("knobs", "s1") >= 60L),
          s"expected cumulative ack >=60, got ${broker.ackedSeq("knobs", "s1")}")
      } finally q.stop()
    } finally broker.stop()
  }

  test("unacked messages are re-delivered to a new subscriber run; acked are not") {
    val broker = new MiniBroker
    val port = broker.start()
    try {
      for (i <- 1L to 20L) broker.publish("t2", payload(i, i, i * 1000000L))

      // first run consumes and ACKS everything
      val src = new SocketEventSource("127.0.0.1", port, "t2", "s2")
      val q1 = src.stream(spark).writeStream
        .format("memory").queryName("t2_run1")
        .outputMode(OutputMode.Append()).start()
      try {
        assert(drain(q1)(spark.table("t2_run1").count() == 20),
          s"run1 drained ${spark.table("t2_run1").count()} of 20")
        // source commits fire on the NEXT trigger (Kafka-source shape):
        // a sentinel batch forces the ack for the first 20. The sentinel
        // itself (seq 21) is processed by run1 but NEVER acked — the
        // window the at-least-once contract exists for.
        broker.publish("t2", payload(999L, 999L, 21000000L))
        assert(drain(q1)(spark.table("t2_run1").count() == 21),
          "sentinel not drained")
        assert(eventually()(broker.ackedSeq("t2", "s2") == 20L),
          s"ack ${broker.ackedSeq("t2", "s2")} never reached 20")
      } finally q1.stop()

      // publish 4 more AFTER the first run stopped
      for (i <- 22L to 25L) broker.publish("t2", payload(i, i, i * 1000000L))

      // a fresh run on the SAME subscription (new checkpoint) must see
      // exactly the unacked suffix — the broker, not the client,
      // remembers. That includes the processed-but-unacked sentinel:
      // re-delivered, so nothing is ever lost (at-least-once).
      val q2 = src.stream(spark).writeStream
        .format("memory").queryName("t2_run2")
        .outputMode(OutputMode.Append()).start()
      try assert(drain(q2)(spark.table("t2_run2").count() == 5),
        s"run2 drained ${spark.table("t2_run2").count()} of 5")
      finally q2.stop()
      val ids = spark.table("t2_run2").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Seq(22L, 23L, 24L, 25L, 999L)),
        s"re-delivery wrong: got ${ids.mkString(",")}")
    } finally broker.stop()
  }

  test("reads are partition-local: every shard lease serves rows, all on executor task threads") {
    val broker = new MiniBroker
    val port = broker.start()
    try {
      val n = 4000L
      for (i <- 1L to n) broker.publish("t4", payload(i % 7, i, i * 1000000L))
      graft.sources.SocketEventsSource.readerThreads.clear()
      val src = new SocketEventSource("127.0.0.1", port, "t4", "s4",
        maxRowsPerBatch = 100000L, numPartitions = 4)
      val q = src.stream(spark).writeStream
        .format("memory").queryName("t4_sink")
        .outputMode(OutputMode.Append()).start()
      try assert(drain(q)(spark.table("t4_sink").count() == n),
        s"drained ${spark.table("t4_sink").count()} of $n")
      finally q.stop()

      // every shard's FETCH lease served data (seq % 4 spreads 4000
      // contiguous seqs evenly), and their union is the whole topic —
      // the reads were split across partition leases, not funneled
      // through one stream
      val perShard = (0 until 4).map(broker.fetchedRows("t4", _))
      assert(perShard.forall(_ > 0), s"idle shard lease: $perShard")
      // >= not ==: a Spark task retry would legitimately re-FETCH its
      // shard (idempotent replay). Exactly-once at the ENGINE level is
      // what matters and is pinned by the sink count above.
      assert(perShard.sum >= n, s"shard rows ${perShard.sum} < $n")

      // and every one of those reads ran on an executor task thread —
      // the structural proof there is no driver-side receive loop left
      import scala.jdk.CollectionConverters._
      val threads = graft.sources.SocketEventsSource.readerThreads.asScala
      assert(threads.nonEmpty, "no reader threads recorded")
      assert(threads.forall(_.contains("task launch worker")),
        s"non-executor reader thread: $threads")
    } finally broker.stop()
  }

  test("a dropped broker connection mid-stream reconnects and loses nothing") {
    val broker = new MiniBroker
    val port = broker.start()
    try {
      for (i <- 1L to 50L) broker.publish("t5", payload(i % 3, i, i * 1000000L))
      val src = new SocketEventSource("127.0.0.1", port, "t5", "s5",
        maxRowsPerBatch = 100000L, numPartitions = 2)
      val q = src.stream(spark).writeStream
        .format("memory").queryName("t5_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        assert(drain(q)(spark.table("t5_sink").count() == 50),
          "first 50 not drained")
        // kill every live socket: control connection AND both fetch
        // leases. The clients must evict + re-dial (FETCH is idempotent
        // over the retained log), not stall silently — the round-9
        // receiver-death failure mode.
        broker.dropAllConnections()
        for (i <- 51L to 100L) broker.publish("t5", payload(i % 3, i, i * 1000000L))
        assert(drain(q)(spark.table("t5_sink").count() == 100),
          s"after reconnect drained ${spark.table("t5_sink").count()} of 100")
        assert(q.exception.isEmpty, s"query died: ${q.exception}")
        // deterministic seq-sharded ranges: reconnect replay introduced
        // no duplicates
        assert(spark.table("t5_sink").select("n").distinct().count() == 100)
      } finally q.stop()
    } finally broker.stop()
  }

  test("two streaming stages compose through a broker topic (publish sink -> source)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(s: Long): java.sql.Timestamp = new java.sql.Timestamp(s * 1000L)
    val broker = new MiniBroker
    val port = broker.start()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    try {
      // stage A: an in-engine stream published to topic "mid" — the
      // reference's knobs→flood hop (simulate-knobs.go:44 Publish);
      // stage B: an independent query consuming "mid" over the wire.
      // Together with the FETCH leases this is two deployments chained
      // through the broker, each side executor-parallel.
      val input = MemoryStream[KnobEvent]
      val qa = BrokerSink.publishTo("127.0.0.1", port, "mid")(input.toDS())
        .outputMode(OutputMode.Append()).start()
      val src = new SocketEventSource("127.0.0.1", port, "mid", "s6",
        maxRowsPerBatch = 100000L, numPartitions = 2)
      val qb = src.stream(spark).writeStream
        .format("memory").queryName("mid_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((1L to 20L).map(i => KnobEvent(i % 4, i, ts(100 + i))): _*)
        qa.processAllAvailable()
        assert(drain(qb)(spark.table("mid_sink").count() == 20),
          s"stage B drained ${spark.table("mid_sink").count()} of 20")
        // values survive the hop bit-for-bit (JSON codec round-trip)
        val ns = spark.table("mid_sink").collect().map(_.getLong(1)).sorted
        assert(ns.sameElements(1L to 20L), s"payloads mangled: ${ns.toSeq}")
        // a second micro-batch flows through the same chain
        input.addData(KnobEvent(9L, 99L, ts(200)))
        qa.processAllAvailable()
        assert(drain(qb)(spark.table("mid_sink").count() == 21),
          "second hop batch not delivered")
      } finally { qa.stop(); qb.stop() }
    } finally broker.stop()
  }

  test("a >64-chunk partition crosses the sink's unacked window and lands complete") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(s: Long): java.sql.Timestamp = new java.sql.Timestamp(s * 1000L)
    val broker = new MiniBroker
    val port = broker.start()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    try {
      val input = MemoryStream[KnobEvent]
      // ONE Spark partition × 70,000 rows = 70 PUBA chunks — past the
      // sink's 64-chunk window, so the mid-stream drain path (read one
      // OK per chunk once the window fills) actually executes; below
      // 64 chunks the old fully-pipelined behavior is what runs
      val qa = BrokerSink.publishTo("127.0.0.1", port, "big")(
          input.toDS().coalesce(1))
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((1L to 70000L).map(i => KnobEvent(i % 4, i, ts(i))): _*)
        qa.processAllAvailable()
        assert(qa.exception.isEmpty, s"sink failed: ${qa.exception}")
        assert(broker.retainedCount("big") == 70000,
          s"broker holds ${broker.retainedCount("big")} of 70000")
      } finally qa.stop()
    } finally broker.stop()
  }

  test("sharded publish sink splits a batch across group members, union reads it back") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def ts(s: Long): java.sql.Timestamp = new java.sql.Timestamp(s * 1000L)
    val b0 = new MiniBroker
    val b1 = new MiniBroker
    val p0 = b0.start()
    val p1 = b1.start()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    try {
      val input = MemoryStream[KnobEvent]
      // ≥2 Spark partitions so the partitionId % members routing has
      // both members to hit
      val qa = BrokerSink.publishSharded(
          Seq(("127.0.0.1", p0), ("127.0.0.1", p1)), "mid")(
          input.toDS().repartition(4))
        .outputMode(OutputMode.Append()).start()
      val union = new SocketEventSource("127.0.0.1", p0, "mid", "u").stream(spark)
        .unionByName(
          new SocketEventSource("127.0.0.1", p1, "mid", "u").stream(spark))
      val qb = union.writeStream
        .format("memory").queryName("shard_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData((1L to 40L).map(i => KnobEvent(i % 4, i, ts(100 + i))): _*)
        qa.processAllAvailable()
        assert(drain(qb)(spark.table("shard_sink").count() == 40),
          s"union drained ${spark.table("shard_sink").count()} of 40")
        // quiesce BEFORE asserting broker state: the consumers ack on
        // commit and cumulative acks TRIM retention, so retainedCount
        // is not "what was published" while queries run (this raced
        // ~1-in-5 before — a member fully acked reads 0 retained)
        qa.stop(); qb.stop()
        qa.awaitTermination(); qb.awaitTermination()
        // per-member published count = latest seq = trim point + still
        // retained — trim-immune. No member owns everything: the 4
        // partitions split 2/2 across the two members.
        val pub0 = b0.trimmedBelow("mid") + b0.retainedCount("mid")
        val pub1 = b1.trimmedBelow("mid") + b1.retainedCount("mid")
        assert(pub0 > 0 && pub1 > 0,
          s"one member got the whole batch: $pub0/$pub1")
        assert(pub0 + pub1 == 40, s"published $pub0 + $pub1 != 40")
        // values survive the sharded hop bit-for-bit
        val ns = spark.table("shard_sink").collect().map(_.getLong(1)).sorted
        assert(ns.sameElements(1L to 40L), s"payloads mangled: ${ns.toSeq}")
      } finally { qa.stop(); qb.stop() }
    } finally { b0.stop(); b1.stop() }
  }

  test("publish sink sends ts_us as Spark's internal micros, pre-1582 included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros, unix_micros}
    import spark.implicits._
    // Proleptic-Gregorian micros (java.time's calendar, and Spark's):
    // one instant before the 1582 cutover, where a java.sql.Timestamp
    // round trip rebases to the Julian calendar, and one modern instant.
    def us(t: String): Long = {
      val i = java.time.Instant.parse(t)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    val sent = Map(1L -> us("1000-01-01T00:00:00.123456Z"),
      2L -> us("2024-05-06T07:08:09.654321Z"))
    val broker = new MiniBroker
    val port = broker.start()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    // timestamp_micros makes the internal value exactly the sent micros
    val events = input.toDF().select(col("_1").as("id"), lit(1L).as("n"),
      timestamp_micros(col("_2")).as("ts")).as[KnobEvent]
    val qa = BrokerSink.publishTo("127.0.0.1", port, "ts")(events)
      .outputMode(OutputMode.Append()).start()
    val qb = new SocketEventSource("127.0.0.1", port, "ts", "r").stream(spark)
      .select(col("id"), unix_micros(col("ts")).as("ts_us"))
      .writeStream.format("memory").queryName("sink_ts_us")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(sent.toSeq: _*)
      qa.processAllAvailable()
      assert(drain(qb)(spark.table("sink_ts_us").count() == 2),
        s"drained ${spark.table("sink_ts_us").count()} of 2")
      val got = spark.table("sink_ts_us").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == sent, s"ts_us changed on the wire: sent $sent, read $got")
    } finally { qa.stop(); qb.stop(); broker.stop() }
  }

  test("publish sink fails the batch loudly when the broker is gone (bounded retry)") {
    import spark.implicits._
    def ts(s: Long): java.sql.Timestamp = new java.sql.Timestamp(s * 1000L)
    val broker = new MiniBroker
    val port = broker.start()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KnobEvent]
    val qa = BrokerSink.publishTo("127.0.0.1", port, "gone")(input.toDS())
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(KnobEvent(1, 1, ts(100)))
      qa.processAllAvailable()
      assert(broker.retainedCount("gone") == 1)
      // broker vanishes: the per-partition publish must exhaust its
      // bounded retries and FAIL the batch (reducer.go:118-126 contract:
      // retry, then surface — with streaming semantics that is a loud
      // query failure, never a silent drop)
      broker.stop()
      input.addData(KnobEvent(2, 2, ts(101)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qa.processAllAvailable()
      }
      assert(qa.exception.isDefined, "query must die loudly, not drop data")
    } finally {
      qa.stop()
      broker.stop()
    }
  }

  test("malformed payloads are counted and skipped, not task failures") {
    val broker = new MiniBroker
    val port = broker.start()
    try {
      broker.publish("t3", payload(1, 10, 1000000L))
      broker.publish("t3", """{"broken""")
      broker.publish("t3", "not json at all")
      broker.publish("t3", payload(2, 20, 2000000L))
      val src = new SocketEventSource("127.0.0.1", port, "t3", "s3")
      val q = src.stream(spark).writeStream
        .format("memory").queryName("t3_sink")
        .outputMode(OutputMode.Append()).start()
      try assert(drain(q)(spark.table("t3_sink").count() == 2),
        "valid rows not drained")
      finally q.stop()
      val got = spark.table("t3_sink").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Seq(1L, 2L)), s"got ${got.mkString(",")}")
      assert(graft.sources.SocketEventsSource.malformedCount("s3") == 2L,
        "malformed counter must be loud")
    } finally broker.stop()
  }

  test("a payload line that is not Base64 is counted and skipped; the query lives on") {
    val broker = new MiniBroker
    val port = broker.start()
    try {
      // PUBA stores payload lines as they come: the broker does not
      // validate them, so the reader must
      def b64(s: String): String = java.util.Base64.getEncoder
        .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        sock.setSoTimeout(5000)
        val out = new java.io.PrintWriter(sock.getOutputStream, false)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream))
        out.print(Seq("PUBA tb64 3", b64(payload(1, 10, 1000000L)),
          "not*base64!", b64(payload(2, 20, 2000000L))).mkString("", "\n", "\n"))
        out.flush()
        assert(in.readLine() == "OK 3")
      } finally sock.close()
      val src = new SocketEventSource("127.0.0.1", port, "tb64", "sb64")
      val q = src.stream(spark).writeStream
        .format("memory").queryName("tb64_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        assert(drain(q)(spark.table("tb64_sink").count() == 2),
          s"valid rows not drained: ${q.exception}")
        assert(q.isActive && q.exception.isEmpty, s"query died: ${q.exception}")
      } finally q.stop()
      val got = spark.table("tb64_sink").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Seq(1L, 2L)), s"got ${got.mkString(",")}")
      assert(graft.sources.SocketEventsSource.malformedCount("sb64") == 1L,
        "a non-Base64 line must count as malformed")
    } finally broker.stop()
  }
}
