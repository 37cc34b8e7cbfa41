package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

/** Cross-broker semantics of [[BrokerGroup]] (round-10 verdict task #2):
  * a topic sharded across independent broker processes has NO global
  * state — registration, seqs, acks, and retention are all per-member,
  * and the group client is the only place that composes them. Asserted
  * here over two in-process [[MiniBroker]]s (the chaos specs run real
  * [[BrokerMain]] processes, and the multi-process scale-out numbers are
  * COVERAGE.md's BrokerScaleSoak rows — these brokers share nothing but
  * the test method, which is the point).
  */
class BrokerGroupSpec extends AnyFunSuite {

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def withGroup(f: (BrokerGroup, MiniBroker, MiniBroker) => Unit): Unit = {
    val b0 = new MiniBroker
    val b1 = new MiniBroker
    val p0 = b0.start()
    val p1 = b1.start()
    val g = new BrokerGroup(Seq(("127.0.0.1", p0), ("127.0.0.1", p1)))
    try f(g, b0, b1)
    finally { g.close(); b0.stop(); b1.stop() }
  }

  test("regAll creates the subscription on EVERY member (cross-broker get-or-create)") {
    withGroup { (g, b0, b1) =>
      assert(g.regAll("t", "s") == Seq(0L, 0L))
      // each member really holds the sub: an ACK against it is accepted
      // (ACK refuses unknown subscriptions since round 12)
      b0.publish("t", "m1"); b1.publish("t", "m2")
      g.ack(0, "t", "s", 1L)
      g.ack(1, "t", "s", 1L)
      assert(b0.ackedSeq("t", "s") == 1L, "member 0 missing the sub")
      assert(b1.ackedSeq("t", "s") == 1L, "member 1 missing the sub")
    }
  }

  test("a refused ack fails loudly and leaves the control connection usable") {
    withGroup { (g, b0, _) =>
      b0.publish("t", "m1")
      // ack before regAll: the broker answers ERR unknown-subscription.
      // A fire-and-forget client left that reply buffered, and every
      // later exchange on the connection read the wrong line forever.
      val e = intercept[IllegalStateException](g.ack(0, "t", "s", 1L))
      assert(e.getMessage.contains("ack refused"))
      // the paired-STAT barrier drained the stream: the same connection
      // still answers correctly
      assert(g.regAll("t", "s") == Seq(0L, 0L))
      g.ack(0, "t", "s", 1L)
      assert(g.statAll("t", "s") == (1L, 1L))
    }
  }

  test("a dead member connection is evicted and fails diagnosably, not with an NPE") {
    withGroup { (g, b0, b1) =>
      g.regAll("t", "s")
      b1.dropAllConnections()
      val e = intercept[IllegalStateException](g.statAll("t", "s"))
      assert(e.getMessage.contains("EOF"), s"got: ${e.getMessage}")
      // the dead Conn was evicted, so the next call re-dials and works
      assert(g.statAll("t", "s") == (0L, 0L))
    }
  }

  test("a refused publish fails loudly and the next publish re-dials") {
    withGroup { (g, b0, _) =>
      // a topic name with a space makes a 4-token PUBA line: the member
      // answers ERR bad-request, never OK
      val e = intercept[IllegalStateException](
        g.publish(0, "t x", Seq(b64("a1"))))
      assert(e.getMessage.contains("ERR bad-request PUBA"), e.getMessage)
      // the refused Conn still had the payload line's reply unread; it
      // was evicted, so the next publish reads its own OK
      assert(g.publish(0, "t", Seq(b64("a1"))) == 1L)
      assert(b0.retainedCount("t") == 1)
    }
  }

  test("shard routing is disjoint and statAll aggregates by sum") {
    withGroup { (g, b0, b1) =>
      g.regAll("t", "s")
      // shard 0 → member 0, shard 1 → member 1, shard 2 → member 0 ...
      // and each publish returns its member's last seq, after the append
      assert(g.publish(0, "t", Seq(b64("a1"), b64("a2"), b64("a3"))) == 3L)
      assert(g.publish(1, "t", Seq(b64("b1"), b64("b2"))) == 2L)
      assert(g.publish(2, "t", Seq(b64("a4"))) == 4L)
      assert(b0.retainedCount("t") == 4, "member 0 should own shards 0 and 2")
      assert(b1.retainedCount("t") == 2, "member 1 should own shard 1")
      assert(g.statAll("t", "s") == ((6L, 0L)),
        "statAll must sum latest seqs across members")
    }
  }

  test("acks and retention trims are per-member: acking member 0 never trims member 1") {
    withGroup { (g, b0, b1) =>
      g.regAll("t", "s")
      assert(g.publish(0, "t", (1 to 5).map(i => b64(s"a$i"))) == 5L)
      assert(g.publish(1, "t", (1 to 5).map(i => b64(s"b$i"))) == 5L)
      assert(g.statAll("t", "s") == ((10L, 0L)))
      g.ack(0, "t", "s", 5L)
      assert(b0.trimmedBelow("t") == 5L, "member 0 should trim to its ack")
      assert(b1.trimmedBelow("t") == 0L,
        "member 1 trimmed on a foreign member's ack")
      assert(g.statAll("t", "s") == ((10L, 5L)),
        "acked sum should reflect only member 0's ack")
    }
  }

  test("a sharded topic is consumed as the UNION of per-member streams") {
    // The consume-side twin of BrokerGroup's produce-side routing: one
    // Spark streaming query reads a topic sharded across two brokers by
    // unioning one SocketEventSource per member (the Kafka model by
    // composition — per-member offsets/acks stay independent, exactly
    // like per-partition offsets). No global order exists across
    // members; the downstream windowed aggregate is order-free.
    val spark = graft.TestSpark.spark
    import spark.implicits._
    withGroup { (g, b0, b1) =>
      def payload(id: Long, n: Long, tsUs: Long): String =
        s"""{"id":$id,"n":$n,"ts_us":$tsUs}"""
      // 40 messages sharded round-robin across the two members
      for (i <- 1L to 40L) {
        val b = if (i % 2 == 0) b0 else b1
        b.publish("t", payload(i % 5, i, i * 1000000L))
      }
      val (h0, p0) = g.endpoints(0)
      val (h1, p1) = g.endpoints(1)
      val s0 = new graft.streaming.SocketEventSource(h0, p0, "t", "u")
      val s1 = new graft.streaming.SocketEventSource(h1, p1, "t", "u")
      val q = s0.stream(spark).unionByName(s1.stream(spark))
        .groupByKey(_.id).count()
        .writeStream.format("memory").queryName("group_union")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .start()
      try {
        val deadline = System.currentTimeMillis + 20000
        def total(): Long = {
          q.processAllAvailable()
          spark.table("group_union").collect().map(_.getLong(1)).sum
        }
        while (total() < 40L && System.currentTimeMillis < deadline)
          Thread.sleep(50)
        assert(total() == 40L,
          s"union stream delivered ${total()} of 40 sharded messages")
        // live publishes to BOTH members keep flowing through one query
        b0.publish("t", payload(7L, 100L, 100000000L))
        b1.publish("t", payload(8L, 101L, 101000000L))
        while (total() < 42L && System.currentTimeMillis < deadline)
          Thread.sleep(50)
        assert(total() == 42L, "live sharded publishes not drained")
      } finally { q.stop(); q.awaitTermination() }
    }
  }

  test("a late member registration starts at that member's own trim point") {
    withGroup { (g, b0, b1) =>
      g.regAll("t", "s")
      assert(g.publish(0, "t", (1 to 4).map(i => b64(s"a$i"))) == 4L)
      assert(g.statAll("t", "s") == ((4L, 0L)))
      g.ack(0, "t", "s", 4L)
      assert(b0.trimmedBelow("t") == 4L)
      // a second subscription arriving after member 0's trim: member 0
      // answers its trim point, member 1 (untrimmed) answers 0
      assert(g.regAll("t", "s2") == Seq(4L, 0L))
    }
  }
}
