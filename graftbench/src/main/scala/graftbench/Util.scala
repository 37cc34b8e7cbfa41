package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Small shared helpers: order statistics, a minimal JSON writer, and the
  * process facts every run records. */
object Util {
  def nowNs(): Long = System.nanoTime()
  def secs(ns: Long): Double = ns / 1e9

  /** Linear-interpolated quantile (q in [0, 1]); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Total length of the union of closed intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  // -- JSON (write-only; values are Double, Long, Int, Boolean, String,
  // Seq, Map) --------------------------------------------------------------
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try {
        var total = 0L
        st.forEach(x => if (Files.isRegularFile(x)) total += Files.size(x))
        total
      } finally st.close()
    }

  /** Peak resident set of this JVM (VmHWM), in MB; 0 where /proc is absent. */
  def peakRssMb(): Double =
    try {
      val lines = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      val it = lines.iterator()
      var kb = 0L
      while (it.hasNext) {
        val l = it.next()
        if (l.startsWith("VmHWM:")) kb = l.replaceAll("[^0-9]", "").toLong
      }
      kb / 1024.0
    } catch { case _: Exception => 0.0 }

  /** Single-core calibration: seconds for a fixed LCG loop, min of 3 after
    * one warm-up — the same loop graft.Bench records as `box_cal`, so
    * figures from boxes of different speed are never compared silently. */
  def boxCal(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0L
      var i = 0L
      while (i < 50000000L) { h = h * 6364136223846793005L + i; i += 1 }
      if (h == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq(once(), once(), once()).min
  }
}
