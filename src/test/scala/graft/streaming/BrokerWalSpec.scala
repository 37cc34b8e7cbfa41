package graft.streaming

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

/** [[MiniBroker]]'s durability contract, scenario by scenario. The kill
  * proxy here is abandon-and-reopen: every WAL append flushes before the
  * mutation is visible and `stop()` adds no extra flush, so the file a
  * stopped broker leaves behind is byte-identical to what a SIGKILL at
  * the same point leaves — the in-JVM specs can therefore cover replay,
  * torn-tail, compaction, and ack-monotonicity deterministically, while
  * [[BrokerKillChaosSpec]] drives the one thing they can't: a real
  * `destroyForcibly()` landing at an arbitrary byte boundary mid-flood.
  */
class BrokerWalSpec extends AnyFunSuite {

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
  private def tmpDir(): Path = Files.createTempDirectory("graft_wal")

  private final class Cli(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setSoTimeout(5000)
    private val out = new PrintWriter(new java.io.OutputStreamWriter(
      sock.getOutputStream, StandardCharsets.UTF_8), false)
    private val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    def send(l: String): Unit = { out.println(l); out.flush() }
    def sendAll(ls: Seq[String]): Unit = { ls.foreach(out.println); out.flush() }
    def read(): String = in.readLine()
    def readUntil(n: Int)(p: String => Boolean): Seq[String] = {
      val got = Seq.newBuilder[String]
      var i = 0
      var done = false
      while (i < n && !done) {
        val l = in.readLine()
        if (l == null) done = true
        else { got += l; if (p(l)) done = true; i += 1 }
      }
      got.result()
    }
    /** Payloads of `FETCH <topic> 0 1 <after> <upTo>`; asserts the MSG
      * seqs run after+1..upTo and the `EOF <upTo>` terminator. */
    def fetchAll(topic: String, after: Long, upTo: Long): Seq[String] = {
      send(s"FETCH $topic 0 1 $after $upTo")
      val got = readUntil((upTo - after).toInt + 2)(_.startsWith("EOF"))
      assert(got.lastOption.contains(s"EOF $upTo"), s"no EOF: $got")
      val msgs = got.init.map(_.split("\\s+"))
      assert(msgs.map(_(1).toLong) == (after + 1 to upTo), s"seqs: $got")
      msgs.map(m => unb64(m(2)))
    }
    def close(): Unit = sock.close()
  }

  test("PUBA answers OK <lastSeq> after append; pipelined chunks answer in order") {
    val broker = new MiniBroker() // PUBA is a protocol verb, durable or not
    val port = broker.start()
    try {
      val c = new Cli(port)
      try {
        // pipelined: three chunks written before any OK is read
        c.sendAll(Seq("PUBA t 2", b64("a1"), b64("a2")))
        c.sendAll(Seq("PUBA t 1", b64("a3")))
        c.sendAll(Seq("PUBA t 3", b64("a4"), b64("a5"), b64("a6")))
        assert(c.read() == "OK 2")
        assert(c.read() == "OK 3")
        assert(c.read() == "OK 6")
        assert(broker.retainedCount("t") == 6)
        // the OKs are the topic's seqs: STAT agrees
        c.send("STAT t nobody")
        assert(c.read() == "SEQ 6 0")
      } finally c.close()
    } finally broker.stop()
  }

  test("restart on the same dataDir recovers messages, subs, acks, and the trim") {
    val dir = tmpDir().toString
    val b1 = new MiniBroker(Some(dir))
    val port1 = b1.start()
    val c = new Cli(port1)
    try {
      for (i <- 1 to 20) b1.publish("tt", s"m$i") // in-process path WALs too
      c.send("REG tt u1"); assert(c.read() == "OK 0")
      c.send("REG tt u2"); assert(c.read() == "OK 0")
      c.send("ACK tt u1 12")
      c.send("ACK tt u2 7")
      c.send("STAT tt u1"); assert(c.read() == "SEQ 20 12")
    } finally { c.close(); b1.stop() } // kill proxy: no extra flush on stop

    val b2 = new MiniBroker(Some(dir))
    val port2 = b2.start()
    try {
      // full state recovered: seq position, both acks, trim at min-ack
      assert(b2.ackedSeq("tt", "u1") == 12L)
      assert(b2.ackedSeq("tt", "u2") == 7L)
      assert(b2.trimmedBelow("tt") == 7L)
      assert(b2.retainedCount("tt") == 13)
      val c2 = new Cli(port2)
      try {
        // u1 re-reads exactly its unacked suffix 13..20
        c2.send("STAT tt u1"); assert(c2.read() == "SEQ 20 12")
        assert(c2.fetchAll("tt", 12, 20) == (13 to 20).map(i => s"m$i"),
          "re-read after restart")
      } finally c2.close()
      // seq stability: the next publish continues, never reuses 1..20
      assert(b2.publish("tt", "m21") == 21L)
    } finally b2.stop()
  }

  test("an OK'd PUBA batch survives the restart (the durability headline)") {
    val dir = tmpDir().toString
    val b1 = new MiniBroker(Some(dir))
    val port1 = b1.start()
    val c = new Cli(port1)
    try {
      c.sendAll(Seq("PUBA tp 3", b64("p1"), b64("p2"), b64("p3")))
      assert(c.read() == "OK 3") // the producer's durability receipt
    } finally { c.close(); b1.stop() }

    val b2 = new MiniBroker(Some(dir))
    val port2 = b2.start()
    try {
      val c2 = new Cli(port2)
      try {
        c2.send("REG tp r"); assert(c2.read() == "OK 0")
        c2.send("FETCH tp 0 1 0 3")
        val got = c2.readUntil(10)(_.startsWith("EOF"))
        assert(got.init.map(l => unb64(l.split("\\s+")(2))) ==
          Seq("p1", "p2", "p3"), s"OK'd batch lost: $got")
        assert(got.last == "EOF 3")
      } finally c2.close()
    } finally b2.stop()
  }

  test("walSync mode: same contract through the fdatasync path, incl. compaction") {
    // Power-loss durability (force(false) after every flush, snapshot
    // forced before its rename, directory forced after) can only be
    // FUNCTIONALLY tested here — there is no power to cut in a unit
    // test — so this pins that the sync path changes no observable
    // behavior: publish/ack/trim/restart replay are byte-identical to
    // the flush-only broker, and the in-place compaction's force-sync'd
    // rename still yields an exact replay.
    val dir = tmpDir().toString
    val b1 = new MiniBroker(Some(dir), walCompactMinBytes = 1, walSync = true)
    val port1 = b1.start()
    val c = new Cli(port1)
    try {
      c.sendAll(Seq("PUBA ts 3", b64("s1"), b64("s2"), b64("s3")))
      assert(c.read() == "OK 3")
      c.send("REG ts u"); assert(c.read() == "OK 0")
      // ack 2 ⇒ trim ⇒ reclaimable crosses the 1-byte threshold ⇒ the
      // next mutation compacts in place through the sync'd rename
      c.send("ACK ts u 2")
      c.send("STAT ts u"); assert(c.read() == "SEQ 3 2")
      assert(b1.publish("ts", "s4") == 4L)
    } finally { c.close(); b1.stop() }

    val b2 = new MiniBroker(Some(dir), walSync = true)
    val port2 = b2.start()
    try {
      assert(b2.ackedSeq("ts", "u") == 2L)
      assert(b2.trimmedBelow("ts") == 2L)
      assert(b2.retainedCount("ts") == 2)
      val c2 = new Cli(port2)
      try {
        c2.send("STAT ts u"); assert(c2.read() == "SEQ 4 2")
        assert(c2.fetchAll("ts", 2, 4) == Seq("s3", "s4"),
          "sync-mode replay diverged")
      } finally c2.close()
      assert(b2.publish("ts", "s5") == 5L)
    } finally b2.stop()
  }

  test("a torn final line is skipped on replay; prior state is intact") {
    val dir = tmpDir()
    val b1 = new MiniBroker(Some(dir.toString))
    b1.start()
    try for (i <- 1 to 5) b1.publish("tt", s"m$i")
    finally b1.stop()
    // simulate a kill mid-append: a partial M line with NO newline — the
    // only tear the write-line-then-flush discipline can produce
    Files.write(dir.resolve("wal.log"),
      s"M tt 6 ${b64("m6").take(3)}".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)

    val b2 = new MiniBroker(Some(dir.toString))
    b2.start()
    try {
      // the torn seq-6 line never became visible before the kill, so
      // dropping it is correct — and the 5 complete lines all replay
      assert(b2.retainedCount("tt") == 5)
      assert(b2.publish("tt", "m6-again") == 6L) // seq 6 reassigned: never OK'd
    } finally b2.stop()
  }

  test("replay compacts: fully-acked history shrinks to a T header + acks, seq preserved") {
    val dir = tmpDir()
    val b1 = new MiniBroker(Some(dir.toString))
    val port1 = b1.start()
    val c = new Cli(port1)
    try {
      for (i <- 1 to 200) b1.publish("big", s"x$i")
      c.send("REG big solo"); assert(c.read() == "OK 0")
      c.send("ACK big solo 200")
      c.send("STAT big solo"); assert(c.read() == "SEQ 200 200")
    } finally { c.close(); b1.stop() }
    val fullLen = Files.size(dir.resolve("wal.log"))

    val b2 = new MiniBroker(Some(dir.toString))
    val port2 = b2.start()
    try {
      // the rewritten log holds live state only: one T header, one S
      // line — none of the 200 trimmed M lines
      val lines = new String(Files.readAllBytes(dir.resolve("wal.log")),
        StandardCharsets.UTF_8).split("\n").toSeq
      assert(lines == Seq("T big 200", "S big solo 200"),
        s"compacted WAL wrong: $lines")
      assert(Files.size(dir.resolve("wal.log")) < fullLen / 10)
      // and the T header is what keeps seqs stable with an EMPTY log: a
      // broker that restarted at seq 0 would hand consumers' committed
      // checkpoints duplicate seqs
      val c2 = new Cli(port2)
      try { c2.send("STAT big solo"); assert(c2.read() == "SEQ 200 200") }
      finally c2.close()
      assert(b2.publish("big", "x201") == 201L)
      // a sub born after the restart starts at the trim point
      assert(b2.trimmedBelow("big") == 200L)
    } finally b2.stop()
  }

  test("a failed WAL write poisons the log: the mutation stays invisible, later mutations are refused, replay keeps the pre-failure state") {
    val dir = tmpDir()
    val b1 = new MiniBroker(Some(dir.toString))
    b1.start()
    try {
      assert(b1.publish("pz", "ok1") == 1L)
      b1.failWalWritesForTest()
      // the failing mutation throws — and was never made visible,
      // because the WAL write runs before the log append
      intercept[java.io.IOException](b1.publish("pz", "lost"))
      assert(b1.retainedCount("pz") == 1)
      // every later mutation is refused: the log can never grow past a
      // possibly-torn middle, so only-the-last-line-can-be-torn holds
      intercept[IllegalStateException](b1.publish("pz", "refused"))
      assert(b1.retainedCount("pz") == 1)
    } finally b1.stop()
    // restart recovers exactly the pre-failure state
    val b2 = new MiniBroker(Some(dir.toString))
    b2.start()
    try {
      assert(b2.retainedCount("pz") == 1)
      assert(b2.publish("pz", "m2") == 2L)
    } finally b2.stop()
  }

  test("runtime WAL stays bounded across a churn loop far past the threshold; replay exact") {
    val dir = tmpDir()
    val walFile = dir.resolve("wal.log")
    // tiny threshold (64 KiB) so a ~650 KB churn crosses it ~10 times —
    // the scenario the round-15 verdict flagged: before in-place
    // compaction, ONE incarnation's wal.log grew O(total history) and
    // only a restart reclaimed it
    val threshold = 64L << 10
    val b1 = new MiniBroker(Some(dir.toString), walCompactMinBytes = threshold)
    val port = b1.start()
    val c = new Cli(port)
    val payload = b64("p" * 80) // ~108 b64 chars → ~128 B per WAL line
    val rounds = 50
    val perRound = 100
    var appended = 0L
    var maxSize = 0L
    try {
      c.send("REG churn u"); assert(c.read() == "OK 0")
      for (round <- 1 to rounds) {
        c.sendAll(s"PUBA churn $perRound" +: Seq.fill(perRound)(payload))
        val ok = c.read()
        assert(ok.startsWith("OK "), s"round $round: $ok")
        val last = ok.drop(3).toLong
        appended += perRound.toLong * (payload.length + 20)
        c.send(s"ACK churn u $last")
        // STAT syncs: the handler thread ran the ACK — and any
        // threshold-triggered compaction — before answering
        c.send("STAT churn u")
        assert(c.read() == s"SEQ $last $last")
        maxSize = math.max(maxSize, Files.size(walFile))
      }
      // the churn wrote far more history than the threshold…
      assert(appended > 8 * threshold,
        s"churn too small to prove anything: $appended bytes")
      // …but the file never grew past threshold + one round's appends +
      // slack: bounded by RETAINED STATE + THRESHOLD, not by history
      assert(maxSize < 3 * threshold,
        s"wal.log reached $maxSize bytes — unbounded within an incarnation")
      // an unacked suffix published after the last compaction…
      c.sendAll("PUBA churn 5" +: (1 to 5).map(i => b64(s"tail$i")))
      assert(c.read() == s"OK ${rounds * perRound + 5}")
    } finally { c.close(); b1.stop() }

    // …replays exactly on the compacted-and-appended log
    val b2 = new MiniBroker(Some(dir.toString))
    val port2 = b2.start()
    try {
      val total = rounds * perRound
      assert(b2.retainedCount("churn") == 5)
      assert(b2.trimmedBelow("churn") == total.toLong)
      assert(b2.ackedSeq("churn", "u") == total.toLong)
      val c2 = new Cli(port2)
      try {
        c2.send(s"FETCH churn 0 1 $total ${total + 5}")
        val got = c2.readUntil(10)(_.startsWith("EOF"))
        assert(got.init.map(l => unb64(l.split("\\s+")(2))) ==
          (1 to 5).map(i => s"tail$i"))
        assert(got.last == s"EOF ${total + 5}")
      } finally c2.close()
      // seq continuity: nothing restarted at 0
      assert(b2.publish("churn", "next") == total + 6L)
    } finally b2.stop()
  }

  test("acks never regress across a restart (max rule replayed)") {
    val dir = tmpDir().toString
    val b1 = new MiniBroker(Some(dir))
    val port1 = b1.start()
    val c = new Cli(port1)
    try {
      for (i <- 1 to 10) b1.publish("ar", s"m$i")
      c.send("REG ar s"); assert(c.read() == "OK 0")
      c.send("ACK ar s 8")
      c.send("ACK ar s 3") // stale cumulative ack: a no-op live...
      c.send("STAT ar s"); assert(c.read() == "SEQ 10 8")
    } finally { c.close(); b1.stop() }
    val b2 = new MiniBroker(Some(dir))
    b2.start()
    // ...and a no-op through the replay, even though the A 3 line is in
    // the log after the A 8 line
    try assert(b2.ackedSeq("ar", "s") == 8L)
    finally b2.stop()
  }

  test("compaction is amortized: a pinned backlog suppresses the rewrite until dead bytes reach live bytes") {
    // The rewrite costs O(bytes RETAINED), but the threshold counts bytes
    // DEAD — on a broker where one laggy subscription pins a big backlog,
    // a dead-bytes-only trigger would rewrite the whole retained snapshot
    // every ~threshold of churn, stalling all mutations to reclaim
    // crumbs. The dead ≥ live gate makes each retained byte get rewritten
    // at most once per doubling of dead bytes. This scenario pins the
    // gate itself via the compaction counter: file size alone can't
    // distinguish "compacted early, grew back" from "never compacted".
    val dir = tmpDir()
    val walFile = dir.resolve("wal.log")
    val threshold = 4L << 10 // 4 KiB — tiny, so the churn crosses it fast
    val b = new MiniBroker(Some(dir.toString), walCompactMinBytes = threshold)
    val port = b.start()
    val c = new Cli(port)
    val payload = b64("p" * 80) // ~108 b64 chars → ~128 B per WAL line
    try {
      // pinned backlog: a subscriber that never acks holds min-ack at 0,
      // so these 800 M lines (~100 KiB) stay retained — all LIVE bytes
      c.send("REG pinned idle"); assert(c.read() == "OK 0")
      c.sendAll(s"PUBA pinned 800" +: Seq.fill(800)(payload))
      assert(c.read() == "OK 800")
      val pinnedBytes = Files.size(walFile)
      assert(pinnedBytes > (90L << 10), s"backlog too small: $pinnedBytes")

      c.send("REG churn u"); assert(c.read() == "OK 0")
      var seq = 0L
      def churnRound(): Unit = {
        c.sendAll(s"PUBA churn 20" +: Seq.fill(20)(payload))
        val ok = c.read(); assert(ok.startsWith("OK "), ok)
        seq = ok.drop(3).toLong
        c.send(s"ACK churn u $seq")
        // STAT syncs: the handler thread ran the ACK — and any
        // compaction decision — before answering
        c.send(s"STAT churn u"); assert(c.read() == s"SEQ $seq $seq")
      }
      // ~20 KiB dead = 5× the threshold: a dead-bytes-only trigger would
      // have rewritten the 100 KiB snapshot ~4 times by now
      for (_ <- 1 to 8) churnRound()
      assert(b.walCompactions.get() == 0L,
        s"compacted while live bytes dominated (dead ≈ 5× threshold, live ≈ 100 KiB)")
      // keep churning: dead eventually reaches live and ONE rewrite fires
      var rounds = 0
      while (b.walCompactions.get() == 0L && rounds < 80) {
        churnRound(); rounds += 1
      }
      assert(b.walCompactions.get() == 1L,
        s"no compaction after $rounds extra rounds — gate never opens")
      // the compacted file is the live snapshot: pinned backlog + headers,
      // not the ~120 KiB of churn history that preceded the rewrite
      val after = Files.size(walFile)
      assert(after < (pinnedBytes * 14) / 10,
        s"post-compaction size $after vs pinned $pinnedBytes — dead bytes survived")
    } finally { c.close(); b.stop() }
  }
}
