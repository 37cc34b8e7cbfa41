package graft.streaming

/** Standalone broker process entry — one [[MiniBroker]] in its own JVM,
  * the unit of horizontal broker scale-out (the chaos specs spawn it as a
  * real OS process; the multi-process scale-out numbers are COVERAGE.md's
  * BrokerScaleSoak rows). Prints `PORT <n>` once listening, then blocks
  * until stdin reaches EOF — so a broker child dies with its parent
  * (stream close / destroy) instead of leaking a listening JVM.
  *
  * No Spark on this code path: the broker is plain sockets + heap, which
  * is what makes it cheap to fan out one-per-core-group on a real
  * deployment (the reference runs its topic service as its own deployment
  * for the same reason — deploy:34-77).
  */
object BrokerMain {
  /** `BrokerMain [dataDir [port [sync]]]` — a non-empty dataDir makes
    * the broker durable (WAL replay on start, see [[MiniBroker]]'s
    * durability contract); a non-zero port rebinds a restarted broker to
    * its previous endpoint so producers' retry loops reconnect without
    * re-discovery; a literal third arg `sync` upgrades the WAL to
    * fdatasync-per-mutation-batch (power-loss durability).
    * [[graft.streaming.BrokerKillChaosSpec]] drives the first two:
    * kill -9 this process mid-PUBA, restart on the same dataDir. */
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.filter(_.nonEmpty)
    val fixedPort = if (args.length > 1) args(1).toInt else 0
    val walSync = args.length > 2 && args(2) == "sync"
    val broker = new MiniBroker(dataDir, walSync = walSync)
    val port = broker.start(fixedPort)
    // parent parses this line; flush before blocking
    println(s"PORT $port")
    Console.out.flush()
    while (System.in.read() != -1) ()
    broker.stop()
  }
}
