package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.sources.{BrokerClient, WireCodec}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.{col, unix_micros}

/** The other half of the wire: PUBLISH a streaming Dataset's rows to a
  * [[MiniBroker]] topic. The reference's stages compose THROUGH topics —
  * knobs publishes what flood consumes, flood publishes what the mapper
  * consumes (reference simulate-knobs.go:44 `topic.Publish`, flood.go
  * Receive→Publish chain; deploy:75-76 scales each stage separately) —
  * so an engine claiming its surface needs the producing side, not just
  * the consuming one: with [[BrokerSink]] + [[SocketEventSource]] two
  * independent Spark streaming jobs chain through a topic exactly like
  * two reference deployments.
  *
  * Shape: `foreachBatch` → `foreachPartition` — every PARTITION opens its
  * own socket and PUBs its rows, so publishing scales horizontally with
  * the stage's parallelism (the flood×8 shape, mirrored on the produce
  * side the way the FETCH leases mirror it on the consume side). Each
  * partition's publish runs under [[RetrySink.pushWithRetry]] — the
  * reference's bounded-retry sink contract (reducer.go:24-25,118-126):
  * transient connect failures retry up to 10×/100 ms, exhaustion fails
  * the batch (streaming restart-at-least-once, never a silent drop).
  *
  * Delivery contract: at-least-once, ACKED. Chunks go out as PUBA, and
  * the partition blocks on one `OK` per chunk before declaring itself
  * done — on a durable broker the OK follows the WAL flush, so a
  * committed Spark batch means every row survives a broker kill
  * ([[BrokerKillChaosSpec]]). A failed-then-retried batch (connect
  * error, missing OK) republishes its rows with fresh broker seqs — the
  * consumer dedups by payload identity (StreamOps.dedupPayload, the same
  * redelivery horizon the reference's ack-always model needs), which is
  * also how a retry whose first attempt's OK was written-but-never-read
  * collapses back to one logical row. Payloads are the KnobsMessage
  * JSON shape `{"id":..,"n":..,"ts_us":..}` (util/util.go:17-20), so a
  * chained stage parses them with the same codec as any other producer.
  * Each payload is encoded straight to Base64 bytes ([[WireCodec]]) and
  * the chunks go out through one buffered byte stream: no String per
  * message.
  */
object BrokerSink {
  /** Payload lines per PUBA chunk. */
  private final val Chunk = 1000

  /** Attach a broker-publishing sink to `events`; caller starts the
    * returned writer (checkpointing, trigger, etc. stay caller-owned). */
  def publishTo(host: String, port: Int, topic: String)(
      events: Dataset[KnobEvent]): org.apache.spark.sql.streaming.DataStreamWriter[KnobEvent] =
    publishSharded(Seq((host, port)), topic)(events)

  /** Sharded form: each Spark PARTITION publishes to the broker-group
    * member `partitionId % members` — the produce side of the
    * [[BrokerGroup]] topic-sharding model, so a chained stage's boundary
    * topic stops being one broker JVM's lock + heap. Consumers read the
    * union of per-member streams ([[BrokerGroupSpec]]). Routing by
    * partition id (not key) is deliberate: unit messages are
    * order-free across members, and partition-id routing needs no extra
    * shuffle of the batch. */
  def publishSharded(endpoints: Seq[(String, Int)], topic: String)(
      events: Dataset[KnobEvent]): org.apache.spark.sql.streaming.DataStreamWriter[KnobEvent] =
    events.writeStream.foreachBatch { (batch: Dataset[KnobEvent], _: Long) =>
      val eps = endpoints.toIndexedSeq
      // `ts` leaves as the row's internal micros (proleptic Gregorian,
      // what SocketEventsSource writes back): a KnobEvent would build a
      // java.sql.Timestamp per row, which costs a TimeZone clone and
      // rebases pre-1582 instants to the hybrid Julian calendar.
      val wire = batch.toDF().select(col("id"), col("n"), unix_micros(col("ts")))
      wire.foreachPartition { rows: Iterator[Row] =>
        val (host, port) = eps(
          org.apache.spark.TaskContext.getPartitionId() % eps.size)
        if (rows.hasNext) {
          // encode the partition first: pushWithRetry may run the closure
          // twice, and an Iterator can only be consumed once. One byte
          // run holds every payload line; chunkEnds(k) is where chunk k's
          // lines end in it
          val lines = new WireCodec.PayloadLines
          val chunkEnds = ArrayBuffer.empty[Int]
          var count = 0
          rows.foreach { r =>
            lines.addEvent(r.getLong(0), r.getLong(1), r.getLong(2))
            count += 1
            if (count % Chunk == 0) chunkEnds += lines.size
          }
          if (count % Chunk != 0) chunkEnds += lines.size
          RetrySink.pushWithRetry() { () =>
            val c = new BrokerClient(host, port, soTimeoutMs = 30000)
            try {
              // PUBA chunks: one broker-side lock per 1000 payloads, and
              // the payload lines are never tokenized (a per-message
              // publish verb measured ~25k msg/s under 4 producers;
              // chunked bulk is ~20× that in ChainSoak). Acked, pipelined within a
              // BOUNDED window: past 64 unacked chunks the sink reads an
              // OK before sending the next chunk — fully unbounded
              // pipelining lets the broker's OK replies fill the
              // client-recv + server-send socket buffers on a huge
              // partition (~>10k chunks), blocking the broker's
              // connection thread on the OK write so it stops READING
              // payloads while the sink is still blocked writing — a
              // write-write deadlock setSoTimeout (read-only) can't
              // break. The OK is the durability receipt (on a WAL broker
              // it follows the flush), so a partition that returns from
              // this closure KNOWS its rows survive a broker kill. A
              // missing/short OK stream throws, and pushWithRetry
              // re-sends the WHOLE partition batch — duplicates are the
              // consumer's payload-dedup problem by contract (class doc).
              val window = 64
              var nChunks = 0
              var acked = 0
              def readOk(): Unit = {
                c.readLine()
                if (!c.line.startsWith(WireCodec.OkPrefix))
                  throw new java.io.IOException(
                    s"publish to $topic not acked (chunk $acked/$nChunks): ${c.line.text}")
                acked += 1
              }
              var from = 0
              chunkEnds.foreach { end =>
                val n = math.min(Chunk, count - nChunks * Chunk)
                c.write(s"PUBA $topic $n")
                c.write(lines.bytes, from, end - from)
                from = end
                nChunks += 1
                if (nChunks - acked >= window) {
                  // drain one receipt so both directions keep flowing
                  c.flush()
                  readOk()
                }
              }
              c.flush()
              while (acked < nChunks) readOk()
            } finally c.close()
          }
          ()
        }
      }
    }
}
