package graft.streaming

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets

/** Client-side view of a topic sharded across N INDEPENDENT broker
  * processes — the Kafka-partition shape lifted one level: each group
  * member is a whole broker owning shard i for every i with
  * `i % size == memberIndex`. The brokers never talk to each other;
  * membership is pure client-side routing, which is exactly how the
  * reference's topic service scales horizontally (more capacity = more
  * service replicas behind stable names, deploy:34-77): adding a member
  * adds a disjoint slice of lock, heap, and accept-loop.
  *
  * Consequences the API makes explicit (and [[BrokerGroupSpec]] pins):
  *  - a subscription must exist on EVERY member before it is usable —
  *    [[regAll]] is the cross-broker twin of the reference's
  *    GetOrCreateSubscription (util.go:45-70), looped over members;
  *  - seqs are only per-member ordered: there is no global order across
  *    members, so [[statAll]] aggregates by SUM (total backlog), never by
  *    comparing seqs across members;
  *  - acks and retention trims are per-member: acking member 0 can never
  *    trim member 1's log.
  *
  * Consuming a sharded topic from Spark is pure composition: one
  * [[SocketEventSource]] per member, unioned into a single streaming
  * Dataset — per-member offsets and acks stay independent exactly like
  * per-partition Kafka offsets, and any order-free downstream (windowed
  * aggregation, latest-per-key) is unaffected by the lack of cross-member
  * order ([[BrokerGroupSpec]]'s union test pins this).
  *
  * One line-oriented control connection per member, lazily opened; not
  * thread-safe: callers own their group instance.
  */
final class BrokerGroup(val endpoints: Seq[(String, Int)]) extends AutoCloseable {
  require(endpoints.nonEmpty, "empty broker group")

  private final class Conn(host: String, port: Int) {
    val sock = new Socket(host, port)
    sock.setSoTimeout(10000)
    val out = new BufferedWriter(new OutputStreamWriter(
      sock.getOutputStream, StandardCharsets.UTF_8))
    val in = new BufferedReader(new InputStreamReader(
      sock.getInputStream, StandardCharsets.UTF_8))
    def send(l: String): Unit = { out.write(l); out.write("\n"); out.flush() }
    def read(): String = in.readLine()
  }

  private val conns = new Array[Conn](endpoints.size)
  private def conn(m: Int): Conn = {
    if (conns(m) == null)
      conns(m) = new Conn(endpoints(m)._1, endpoints(m)._2)
    conns(m)
  }

  private def evict(m: Int): Unit = {
    val c = conns(m)
    if (c != null) {
      try c.sock.close() catch { case _: Throwable => () }
      conns(m) = null
    }
  }

  /** One request/response exchange. EOF (member died, or the broker's
    * chaos hook dropped connections) evicts the cached Conn — so the
    * next call re-dials instead of reusing a dead socket forever — and
    * fails with a diagnosable error instead of an NPE on `.trim`.
    * Any IOException (notably SocketTimeoutException under the 10s
    * soTimeout) evicts too: a timed-out Conn may still have the late
    * reply in flight, and reusing it would hand that stale line to the
    * NEXT exchange as its answer — a silent protocol desync. */
  private def exchange(m: Int, line: String): String = {
    val c = conn(m)
    val resp =
      try { c.send(line); c.read() }
      catch { case e: java.io.IOException => evict(m); throw e }
    if (resp == null) {
      evict(m)
      throw new IllegalStateException(
        s"member $m: connection EOF answering '${line.takeWhile(_ != '\n')}'")
    }
    resp
  }

  def size: Int = endpoints.size

  /** The member owning a shard. */
  def member(shard: Int): Int = math.floorMod(shard, size)

  /** Get-or-create the subscription on EVERY member; returns each
    * member's cumulative ack (a late member answers its own trim point —
    * per-member, like everything else). */
  def regAll(topic: String, sub: String): Seq[Long] =
    endpoints.indices.map { m =>
      val resp = exchange(m, s"REG $topic $sub")
      require(resp.startsWith("OK "),
        s"member $m: unexpected REG response $resp")
      resp.drop(3).trim.toLong
    }

  /** (Σ latest seq, Σ cumulative ack) across members — total published
    * and total acked for the sharded topic. Per-member seqs are
    * incomparable across members, so sums are the only meaningful
    * aggregate. */
  def statAll(topic: String, sub: String): (Long, Long) =
    endpoints.indices.foldLeft((0L, 0L)) { case ((lat, ack), m) =>
      val resp = exchange(m, s"STAT $topic $sub")
      val parts = resp.trim.split("\\s+")
      require(parts.length == 3 && parts(0) == "SEQ",
        s"member $m: unexpected STAT response $resp")
      (lat + parts(1).toLong, ack + parts(2).toLong)
    }

  /** Cumulative ack on ONE member (the consumer leasing that member's
    * slice is the only party that may ack it). The broker's ACK verb
    * succeeds SILENTLY but fails with an ERR reply, so a fire-and-forget
    * send would leave that ERR buffered and desync every later exchange
    * on this control connection. Pairing the ack with a STAT barrier
    * makes it checked in one round trip: the next line is either the
    * STAT's SEQ (ack accepted) or the ACK's ERR (drain the trailing STAT
    * reply, then fail loudly). */
  def ack(memberIdx: Int, topic: String, sub: String, seq: Long): Unit = {
    // the raw ACK send gets the same eviction discipline as exchange():
    // a partial write (broken pipe on flush) must not leave a Conn cached
    // with half a verb line buffered — the retry's bytes would
    // concatenate onto it and the broker would parse a garbage verb
    try conn(memberIdx).send(s"ACK $topic $sub $seq")
    catch { case e: java.io.IOException => evict(memberIdx); throw e }
    val resp = exchange(memberIdx, s"STAT $topic $sub")
    if (resp.startsWith("ERR")) {
      // Drain the trailing STAT reply so the connection stays framed —
      // but the drain itself can hit a dead socket (null/IOException);
      // evict in that case rather than cache a desynced Conn, and never
      // let the drain failure mask the real 'ack refused' error.
      try { if (conn(memberIdx).read() == null) evict(memberIdx) }
      catch { case _: java.io.IOException => evict(memberIdx) }
      throw new IllegalStateException(
        s"member $memberIdx: ack refused: $resp")
    }
  }

  /** Bulk-publish payload lines to the member owning `shard` with PUBA
    * and return the member's last assigned seq: the batch is appended
    * (and WAL-flushed on a durable member) when this returns. The frame
    * goes through [[exchange]], so an IOException or EOF evicts the
    * Conn; any reply other than `OK` evicts too (the member drops a
    * refused batch's connection) and fails loudly. */
  def publish(shard: Int, topic: String, payloads: Seq[String]): Long = {
    val m = member(shard)
    val resp = exchange(m, (s"PUBA $topic ${payloads.size}" +: payloads)
      .mkString("\n"))
    if (!resp.startsWith("OK ")) {
      evict(m)
      throw new IllegalStateException(
        s"member $m: PUBA $topic refused: $resp")
    }
    resp.drop(3).trim.toLong
  }

  override def close(): Unit =
    conns.foreach(c => if (c != null) {
      try c.sock.close() catch { case _: Throwable => () }
    })
}
