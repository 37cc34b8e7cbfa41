package graftbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.streaming.{BrokerSink, MiniBroker, SocketEventSource, StreamOps}

/** Deterministic update generator: the k-th update of a seed is the same
  * (id, n, out-of-order offset) on every run. Keys are uniform, n is
  * uniform in 1..10, and a fixed 1% share of updates is stamped up to 2 s
  * before its due time (inside the 30 s watermark). Every seed draws from
  * the same distribution, so seeds differ in the sequence, not in the
  * load. */
final class UpdateGen(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  /** (id, n, tsUs) of the next update due at `dueUs` (schedule time). */
  def next(dueUs: Long): (Long, Long, Long) = {
    val id = r.nextInt(StreamChain.Keys).toLong
    val n = 1L + r.nextInt(10)
    val late = if (r.nextInt(100) == 0) (1L + r.nextInt(2000)) * 1000L else 0L
    (id, n, StreamChain.BaseUs + math.max(0L, dueUs - late))
  }
}

/** Open-loop chain over ChainSoak's topology: a generator publishes into
  * topic `in`; stage a (flood) fans each update out to n unit messages
  * and publishes them, sharded, to topic `units` on two brokers; stage b
  * (mapper) counts units per key in 10 s event-time windows.
  *
  * Schedule: seven bursts, each a fixed block of updates published at
  * once and drained before the next starts (the best drain time of the
  * last five gives `wall_s` and `throughput_per_s`), then a fixed-rate phase at about
  * half of the chain's capacity on 4 cores (mapper batches give
  * event-to-result latency). A far-future update then closes every open
  * window, and the outputs are checked against the generator's tally. */
object StreamChain {
  val Keys = 5
  val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  val WindowUs = 10000000L
  val Leases = 4
  val BurstUpdates = 30000
  val WarmBursts = 2 // the chain's JIT warm-up; not counted
  val LatencyRate = 7000.0 // updates/s; mean n is 5.5 units per update
  val MaxLagMs = 250.0 // generator lateness bound in the fixed-rate phase

  /** A segment of the schedule. `offsetUs` places it on the event-time
    * axis; its updates are due `dues` micros after the segment starts. */
  sealed trait Seg { def name: String; def offsetUs: Long }
  final case class Burst(name: String, offsetUs: Long, n: Int) extends Seg
  final case class Rate(name: String, offsetUs: Long, durUs: Long, rate: Double) extends Seg

  def schedule(seconds: Double): Seq[Seg] = {
    val bursts = (0 until WarmBursts + 5).map(i => Burst(s"burst$i", i * 2000000L, BurstUpdates))
    bursts :+ Rate("latency", bursts.size * 2000000L, (math.max(5.0, 0.4 * seconds) * 1e6).toLong, LatencyRate)
  }

  def dues(seg: Seg): Iterator[Long] = seg match {
    case Burst(_, _, n) => Iterator.fill(n)(0L)
    case Rate(_, _, d, r) =>
      Iterator.iterate(0L)(_ + 1).map(k => (k * 1e6 / r).toLong).takeWhile(_ < d)
  }

  def payload(id: Long, n: Long, ts: Long): String =
    s"""{"id":$id,"n":$n,"ts_us":$ts}"""

  /** SHA-256 of a seed's full update sequence under the schedule. */
  def sequenceDigest(seed: Long, sched: Seq[Seg]): String = {
    val g = new UpdateGen(seed)
    val md = MessageDigest.getInstance("SHA-256")
    sched.foreach(seg => dues(seg).foreach { d =>
      val (id, n, ts) = g.next(seg.offsetUs + d)
      md.update(payload(id, n, ts).getBytes("UTF-8")); md.update('\n'.toByte)
    })
    md.digest().map("%02x".format(_)).mkString
  }

  /** Generator thread: publishes each update at its due time, in-process,
    * into `in` on broker 0, timing every publish call. After a burst it
    * waits until the mapper has consumed the burst's last unit. */
  final class Generator(broker: MiniBroker, seed: Long, sched: Seq[Seg],
      consumedUnits: () => Long) extends Thread("graftbench-gen") {
    setDaemon(true)
    @volatile var segIdx = -1
    @volatile var sent = 0L
    @volatile var error: Option[Throwable] = None
    // cumulative units by `in` seq; seq 1 is the set-up's priming update
    val cumUnits = new Array[Long](sched.map(s => dues(s).size).sum + 2)
    val publishUs = new Array[Int](100001) // histogram, 1 µs buckets
    val segStartNs = new Array[Long](sched.size)
    val segStartEpochMs = new Array[Long](sched.size)
    val lagMs = new Array[Double](sched.size)
    val segUnits = new Array[Long](sched.size)
    val drainS = new Array[Double](sched.size)
    val tally = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    @volatile var units = 0L

    def prime(): Unit = {
      broker.publish("in", payload(0, 1, BaseUs))
      cumUnits(1) = 1L; units = 1L; sent = 1L
      tally((BaseUs, 0L)) += 1L
    }

    override def run(): Unit = try {
      val g = new UpdateGen(seed)
      var seq = 1L
      sched.zipWithIndex.foreach { case (seg, i) =>
        segStartEpochMs(i) = System.currentTimeMillis()
        val t0 = System.nanoTime()
        segStartNs(i) = t0
        segIdx = i
        dues(seg).foreach { d =>
          val (id, n, ts) = g.next(seg.offsetUs + d)
          val dueNs = t0 + d * 1000L
          var now = System.nanoTime()
          while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
          lagMs(i) = math.max(lagMs(i), (now - dueNs) / 1e6)
          broker.publish("in", payload(id, n, ts))
          val took = ((System.nanoTime() - now) / 1000L).toInt
          publishUs(math.min(took, publishUs.length - 1)) += 1
          seq += 1
          units += n
          segUnits(i) += n
          cumUnits(seq.toInt) = units
          tally((ts - ts % WindowUs, id)) += n
          sent = seq
        }
        if (seg.isInstanceOf[Burst]) {
          val deadline = System.nanoTime() + 60000000000L
          while (consumedUnits() < units) {
            if (System.nanoTime() > deadline)
              throw new java.util.concurrent.TimeoutException(s"${seg.name} never drained")
            LockSupport.parkNanos(500000L)
          }
          drainS(i) = (System.nanoTime() - t0) / 1e9
        }
      }
      segIdx = sched.size
    } catch { case e: Throwable => error = Some(e); segIdx = sched.size }

    def publishQuantileUs(q: Double): Double = {
      val total = publishUs.map(_.toLong).sum
      var acc = 0L
      var i = 0
      while (i < publishUs.length && acc + publishUs(i) < q * total) { acc += publishUs(i); i += 1 }
      i.toDouble
    }
  }

  /** Progress events of both stages, and a monitor the run waits on. */
  final class Progress extends StreamingQueryListener {
    val events = mutable.ArrayBuffer.empty[(java.util.UUID, StreamingQueryProgress)]
    val rows = mutable.Map.empty[java.util.UUID, Long].withDefaultValue(0L)
    def rowsOf(id: java.util.UUID): Long = synchronized(rows(id))
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        events += ((e.progress.id, e.progress))
        rows(e.progress.id) += e.progress.numInputRows
        notifyAll()
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(notifyAll())
    /** Bounded wait on a condition over this listener's state. */
    def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new java.util.concurrent.TimeoutException(s"timed out: $what")
        wait(math.min(left, 50L)) // re-checks broker-side conditions too
      }
    }
  }

  final class Chain(val brokers: Seq[MiniBroker], val qa: StreamingQuery,
      val qb: StreamingQuery, val dir: Path,
      val windows: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]) {
    def backlogUnits: Long = brokers.map(_.retainedCount("units").toLong).sum
    def stop(): Unit = {
      Seq(qa, qb).foreach(q => try q.stop() catch { case _: Exception => () })
      Seq(qa, qb).foreach(q => try q.awaitTermination() catch { case _: Exception => () })
      brokers.foreach(_.stop())
    }
  }

  /** Brokers (WAL on, fresh directories) and both stages, started in their
    * own FAIR pools. */
  private def startChain(ctx: Ctx, dir: Path): Chain = {
    val spark = ctx.spark
    val brokers = (0 until 2).map { i =>
      val d = dir.resolve(s"b$i"); Files.createDirectories(d)
      new MiniBroker(Some(d.toString))
    }
    val eps = brokers.map(b => ("127.0.0.1", b.start()))
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "flood")
    val srcA = new SocketEventSource(eps.head._1, eps.head._2, "in", "a-sub",
      maxRowsPerBatch = 500000L, numPartitions = Leases)
    val qa = BrokerSink.publishSharded(eps, "units")(StreamOps.flood(srcA.stream(spark)))
      .queryName("chain_a").outputMode("append")
      .option("checkpointLocation", dir.resolve("ck_a").toString).start()
    sc.setLocalProperty("spark.scheduler.pool", "mapper")
    val unionB = eps.map { case (h, p) =>
      new SocketEventSource(h, p, "units", "b-sub", maxRowsPerBatch = 2000000L,
        numPartitions = Leases / eps.size).stream(spark)
    }.reduce(_ unionByName _)
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val qb = StreamOps.windowedCounts(unionB).writeStream
      .queryName("chain_b").outputMode("append")
      .option("checkpointLocation", dir.resolve("ck_b").toString)
      .foreachBatch { (df: Dataset[(Timestamp, Long, Long)], _: Long) =>
        df.collect().foreach { case (w, id, total) =>
          windows.add((StreamOps.eventMicros(w), id, total))
        }
      }.start()
    sc.setLocalProperty("spark.scheduler.pool", null)
    new Chain(brokers, qa, qb, dir, windows)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sched = schedule(ctx.seconds)
    // generator self-test: the same seed gives a byte-identical sequence,
    // another seed a different one
    val digest = sequenceDigest(ctx.seed, sched)
    require(digest == sequenceDigest(ctx.seed, sched), "generator is not deterministic")
    require(digest != sequenceDigest(ctx.seed + 1, sched), "generator ignores its seed")
    ctx.record("gen_sha256", digest)

    val prog = new Progress
    spark.streams.addListener(prog)
    // -- set-up, several times, each ending when one priming update has
    // passed through the whole chain; the last chain is measured
    var chain: Chain = null
    var gen: Generator = null
    val setupS = (1 to ctx.setupReps).map { rep =>
      if (chain != null) { chain.stop(); Util.deleteRecursively(chain.dir) }
      val t0 = Util.nowNs()
      val c = startChain(ctx, ctx.workDir.resolve(s"chain$rep"))
      gen = new Generator(c.brokers.head, ctx.seed, sched, () => prog.rowsOf(c.qb.id))
      gen.prime()
      prog.await("priming update through the chain", 120000L)(
        prog.rows(c.qb.id) > 0 || c.qa.exception.isDefined || c.qb.exception.isDefined)
      c.qa.exception.foreach(throw _); c.qb.exception.foreach(throw _)
      chain = c
      Util.secs(Util.nowNs() - t0)
    }
    ctx.metric("setup_s", Util.median(setupS), "s")
    val c = chain
    val g = gen
    val qa = c.qa
    val qb = c.qb
    val latIdx = sched.indexWhere(_.name == "latency")
    val lat = sched(latIdx).asInstanceOf[Rate]

    // -- sampler: backlogs and WAL size every 50 ms
    final case class Sample(ns: Long, pending: Long, inBacklog: Long, unitsBacklog: Long, wal: Long)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => {
      while (sampling.get()) {
        val sent = g.sent
        val acked = c.brokers.head.ackedSeq("in", "a-sub")
        samples.add(Sample(System.nanoTime(), g.cumUnits(sent.toInt) - prog.rowsOf(qb.id),
          sent - acked, c.backlogUnits,
          Util.dirBytes(c.dir.resolve("b0")) + Util.dirBytes(c.dir.resolve("b1"))))
        LockSupport.parkNanos(50000000L)
      }
    }, "graftbench-sampler")
    sampler.setDaemon(true)

    val measureT0 = System.currentTimeMillis()
    g.start()
    sampler.start()
    // -- tracing: the job/stage listener is on for the second half of the
    // fixed-rate phase; the first half is the untraced reference
    val jobs = new JobRecorder
    while (g.segIdx < latIdx) LockSupport.parkNanos(1000000L)
    val traceFromNs = g.segStartNs(latIdx) + lat.durUs * 500L
    if (ctx.trace && g.segIdx == latIdx) {
      while (System.nanoTime() < traceFromNs) LockSupport.parkNanos(traceFromNs - System.nanoTime())
      spark.sparkContext.addSparkListener(jobs)
    }
    g.join(120000L)
    g.error.foreach(throw _)
    qa.exception.foreach(throw _); qb.exception.foreach(throw _)
    // drain the backlog, then close every window with a far-future update
    prog.await("backlog drain", 60000L)(prog.rows(qb.id) >= g.units || qb.exception.isDefined)
    sampling.set(false)
    sampler.join()
    if (ctx.trace) { jobs.drain(spark.sparkContext); spark.sparkContext.removeSparkListener(jobs) }
    c.brokers.head.publish("in", payload(0, 1, BaseUs + 3600L * 1000000L))
    val expectedUnits = g.units + 1
    val expectedWindows = g.tally.keySet
    prog.await("windows closed", 60000L)(
      c.windows.asScala.map(w => (w._1, w._2)).toSet.intersect(expectedWindows).size ==
        expectedWindows.size || qb.exception.isDefined)
    prog.await("final unit consumed", 60000L)(prog.rows(qb.id) >= expectedUnits || qb.exception.isDefined)
    val measureS = (System.currentTimeMillis() - measureT0) / 1000.0
    qb.exception.foreach(throw _)
    val published = c.brokers.map(b => b.trimmedBelow("units") + b.retainedCount("units")).sum
    val fetched = c.brokers.map(b => (0 until Leases).map(s => b.fetchedRows("units", s)).sum).sum
    c.stop()
    spark.streams.removeListener(prog)

    // -- correctness: units consumed must equal the sum of n, and every
    // closed window must hold the generator's tally
    val bProg = prog.synchronized(prog.events.filter(_._1 == qb.id).map(_._2).toList)
    val aProg = prog.synchronized(prog.events.filter(_._1 == qa.id).map(_._2).toList)
    val consumed = bProg.map(_.numInputRows).sum
    val lost = math.max(0L, expectedUnits - consumed)
    val dup = math.max(0L, consumed - expectedUnits)
    val got = c.windows.asScala.toSeq.groupBy(w => (w._1, w._2)).map { case (k, v) =>
      k -> (v.map(_._3).sum, v.size) }
    val wrongUnits = expectedWindows.toSeq.map { k =>
      got.get(k) match {
        case Some((t, 1)) if t == g.tally(k) => 0L
        case _ => g.tally(k)
      }
    }.sum + got.keySet.diff(expectedWindows).size.toLong
    val genLate = g.lagMs(latIdx) > MaxLagMs
    if (genLate) ctx.log(s"generator ran ${g.lagMs(latIdx)} ms late (bound $MaxLagMs ms): run invalid")
    ctx.attempted += expectedUnits
    ctx.failed += lost + dup + wrongUnits + (if (genLate) 1L else 0L)
    ctx.record("check", Map("expected_units" -> expectedUnits, "consumed_units" -> consumed,
      "lost" -> lost, "dup" -> dup, "wrong_window_units" -> wrongUnits,
      "windows" -> expectedWindows.size, "gen_late" -> genLate))

    // -- end-to-end figures
    def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
    def endMs(p: StreamingQueryProgress): Long =
      startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L)
    // latency: mapper batches whose newest update is from the fixed-rate
    // phase; batch end minus that update's due time
    val latSamples = bProg.filter(_.numInputRows > 0).flatMap { p =>
      Option(p.eventTime.get("max")).map(s =>
        java.time.Instant.parse(s).toEpochMilli * 1000L - BaseUs - lat.offsetUs).map(ev => (p, ev))
    }.filter { case (_, ev) => ev >= 0 && ev < lat.durUs }
      .map { case (p, ev) => (ev, (endMs(p) - g.segStartEpochMs(latIdx)) - ev / 1000.0) }
    val latMs = latSamples.map(_._2)
    ctx.metric("latency_ms", Util.median(latMs), "ms")
    ctx.record("latency_samples", latMs.size)
    ctx.record("latency_geomean_ms", Util.geomean(latMs))
    val burstIdx = sched.indices.filter(i => sched(i).isInstanceOf[Burst]).drop(WarmBursts)
    // the best burst: contention and waiting for the next mapper batch
    // boundary only ever add drain time
    ctx.metric("wall_s", burstIdx.map(g.drainS(_)).min, "s")
    ctx.metric("throughput_per_s", burstIdx.map(i => g.segUnits(i) / g.drainS(i)).max, "1/s")
    ctx.record("burst_drain_s", burstIdx.map(g.drainS(_)))
    ctx.record("measure_s", measureS)

    if (ctx.trace) {
      val latStartNs = g.segStartNs(latIdx)
      val latEndNs = latStartNs + lat.durUs * 1000L
      ctx.layer("gen.sent", g.sent.toDouble, "count")
      ctx.layer("gen.lag_ms.max", g.lagMs(latIdx), "ms")
      ctx.layer("MiniBroker.publish_us.p50", g.publishQuantileUs(0.5), "us")
      ctx.layer("MiniBroker.publish_us.p99", g.publishQuantileUs(0.99), "us")
      val ss = samples.asScala.toSeq
      ctx.layer("MiniBroker.backlog_in.max", ss.map(_.inBacklog.toDouble).maxOption.getOrElse(0.0), "count")
      ctx.layer("MiniBroker.backlog_units.max", ss.map(_.unitsBacklog.toDouble).maxOption.getOrElse(0.0), "count")
      // least-squares slope of the pending units over the fixed-rate phase
      val xs = ss.filter(s => s.ns >= latStartNs && s.ns <= latEndNs)
      val mx = Util.mean(xs.map(_.ns / 1e9)); val my = Util.mean(xs.map(_.pending.toDouble))
      val den = xs.map(s => math.pow(s.ns / 1e9 - mx, 2)).sum
      ctx.layer("MiniBroker.backlog_slope", if (den == 0) 0.0
        else xs.map(s => (s.ns / 1e9 - mx) * (s.pending - my)).sum / den, "1/s")
      ctx.layer("MiniBroker.wal_bytes.max", ss.map(_.wal.toDouble).maxOption.getOrElse(0.0), "bytes")
      ctx.layer("MiniBroker.redelivery_ratio", fetched.toDouble / math.max(1L, consumed), "ratio")
      ctx.layer("BrokerSink.publish_ratio", published.toDouble / expectedUnits, "ratio")
      // per stage, over the measured batches (set-up batches excluded)
      val t0Ms = g.segStartEpochMs(0)
      def measured(ps: Seq[StreamingQueryProgress]) = ps.filter(startMs(_) >= t0Ms)
      def dur(ps: Seq[StreamingQueryProgress], k: String) =
        ps.map(_.durationMs.getOrDefault(k, 0L).toDouble)
      Seq("a" -> measured(aProg), "b" -> measured(bProg)).foreach { case (st, ps) =>
        val withRows = ps.filter(_.numInputRows > 0)
        ctx.layer(s"SocketEventsSource.$st.latestOffset_ms.p50", Util.median(dur(ps, "latestOffset")), "ms")
        ctx.layer(s"SocketEventsSource.$st.getBatch_ms.p50", Util.median(dur(withRows, "getBatch")), "ms")
        ctx.layer(s"SocketEventsSource.$st.rows_per_batch.p50", Util.median(withRows.map(_.numInputRows.toDouble)), "count")
        ctx.layer(s"StreamOps.$st.batches", ps.size.toDouble, "count")
        ctx.layer(s"StreamOps.$st.addBatch_ms.p50", Util.median(dur(withRows, "addBatch")), "ms")
        ctx.layer(s"StreamOps.$st.addBatch_ms.p90", Util.quantile(dur(withRows, "addBatch"), 0.9), "ms")
        ctx.layer(s"StreamOps.$st.queryPlanning_ms.p50", Util.median(dur(withRows, "queryPlanning")), "ms")
        ctx.layer(s"checkpoint.$st.walCommit_ms.p50", Util.median(dur(ps, "walCommit")), "ms")
        ctx.layer(s"checkpoint.$st.commitOffsets_ms.p50", Util.median(dur(ps, "commitOffsets")), "ms")
      }
      val sb = measured(bProg).flatMap(_.stateOperators.headOption)
      ctx.layer("StreamOps.b.state_rows", sb.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
      ctx.layer("StreamOps.b.state_bytes", sb.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes")
      ctx.layer("StreamOps.b.state_commit_ms.p90", Util.quantile(sb.map(_.commitTimeMs.toDouble), 0.9), "ms")
      ctx.layer("StreamOps.b.late_rows_dropped", sb.map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
      val half = lat.durUs / 2
      val (untracedLat, tracedLat) = latSamples.partition(_._1 < half)
      ctx.layer("trace.overhead_latency_ms",
        Util.median(tracedLat.map(_._2)) - Util.median(untracedLat.map(_._2)), "ms")
      // spans: run -> phase -> batch, per stage
      val spans = ctx.spans
      val segEndNs = sched.indices.map(i =>
        if (i + 1 < sched.size) g.segStartNs(i + 1) else latEndNs)
      val runSpan = spans.add(0, "run", spans.epochUs(g.segStartNs(0)),
        spans.epochUs(latEndNs), Map("workload" -> ctx.workload))
      val segSpans = sched.indices.map(i => (spans.epochUs(g.segStartNs(i)), spans.epochUs(segEndNs(i)),
        spans.add(runSpan, sched(i).name, spans.epochUs(g.segStartNs(i)), spans.epochUs(segEndNs(i)))))
      Seq("a" -> measured(aProg), "b" -> measured(bProg)).foreach { case (st, ps) =>
        ps.foreach { p =>
          val s = startMs(p) * 1000L
          val parent = segSpans.find(x => s >= x._1 && s < x._2).map(_._3).getOrElse(runSpan)
          spans.add(parent, s"$st.batch", s, endMs(p) * 1000L,
            Map("batch" -> p.batchId, "rows" -> p.numInputRows))
        }
      }
      // job/stage figures over the traced half of the fixed-rate phase
      val js = jobs.snapshotJobs.filterNot(_.group.startsWith(JobRecorder.MarkerPrefix))
      val stt = jobs.snapshotStages
      ctx.layer("driver.job_union_s", Util.unionLength(js.map(j => (j.start, j.end))) / 1000.0, "s")
      ctx.layer("spark.jobs", js.size.toDouble, "count")
      ctx.layer("spark.stages", stt.size.toDouble, "count")
      ctx.layer("spark.tasks", stt.map(_.numTasks.toDouble).sum, "count")
      ctx.layer("spark.task_run_s", stt.map(_.runMs).sum / 1000.0, "s")
      ctx.layer("spark.task_cpu_s", stt.map(_.cpuNs).sum / 1e9, "s")
      ctx.layer("spark.gc_s", stt.map(_.gcMs).sum / 1000.0, "s")
      ctx.layer("spark.task_failures", jobs.taskFailures.toDouble, "count")
    }
  }
}
