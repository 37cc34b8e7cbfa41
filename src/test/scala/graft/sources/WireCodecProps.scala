package graft.sources

import java.io.{BufferedReader, ByteArrayInputStream, InputStream, InputStreamReader}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.Base64

import scala.util.Try

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** Parity of the byte-level wire codec with the String path it replaced:
  * `BufferedReader.readLine` framing, `trim.split("\\s+")` tokens,
  * `Base64.getDecoder.decode(String)` and the char-level JSON field scan.
  * The String path lives on here only, as the oracle. Streams are fed to
  * the byte reader in random chunk sizes from a tiny initial buffer, so
  * lines straddle refills, buffer growth and a `\r` / `\n` split across
  * two reads. Failures are reported unshrunk: shrinking these byte
  * streams re-runs the property for many minutes.
  */
object WireCodecProps extends Properties("wire_codec") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(400)

  private val UTF8 = StandardCharsets.UTF_8
  private val Latin1 = StandardCharsets.ISO_8859_1

  // ---- the oracle: the reader's former String path -------------------

  sealed trait Outcome
  final case class RowOut(id: Long, n: Long, tsUs: Long) extends Outcome
  case object MalformedOut extends Outcome
  case object ErrOut extends Outcome
  case object EofOut extends Outcome
  case object SkipOut extends Outcome

  private def parse(json: String): Option[(Long, Long, Long)] = {
    def field(name: String): Option[Long] = {
      val key = "\"" + name + "\""
      val at = json.indexOf(key)
      if (at < 0) return None
      var i = at + key.length
      while (i < json.length && (json.charAt(i) == ' ' || json.charAt(i) == ':'))
        i += 1
      val neg = i < json.length && json.charAt(i) == '-'
      if (neg) i += 1
      var v = 0L
      var any = false
      while (i < json.length && json.charAt(i) >= '0' && json.charAt(i) <= '9') {
        v = v * 10 + (json.charAt(i) - '0'); i += 1; any = true
      }
      if (any) Some(if (neg) -v else v) else None
    }
    for (id <- field("id"); n <- field("n"); ts <- field("ts_us"))
      yield (id, n, ts)
  }

  private def oracle(line: String): Outcome =
    if (line.startsWith("EOF")) EofOut
    else {
      val parts = line.trim.split("\\s+")
      if (parts.length == 3 && parts(0) == "MSG") {
        Try(new String(Base64.getDecoder.decode(parts(2)), UTF8)).toOption
          .flatMap(parse)
          .map { case (id, n, ts) => RowOut(id, n, ts) }
          .getOrElse(MalformedOut)
      } else if (parts(0) == "ERR") ErrOut
      else SkipOut
    }

  private def readerLines(bytes: Array[Byte], cs: Charset): Vector[String] = {
    val r = new BufferedReader(new InputStreamReader(new ByteArrayInputStream(bytes), cs))
    Iterator.continually(r.readLine()).takeWhile(_ != null).toVector
  }

  // ---- the byte path --------------------------------------------------

  /** Serves `bytes` in reads of at most the next chunk size (cycling). */
  private final class ChunkedStream(bytes: Array[Byte], chunks: Seq[Int]) extends InputStream {
    private var pos = 0
    private var k = 0
    override def read(): Int =
      if (pos >= bytes.length) -1 else { pos += 1; bytes(pos - 1) & 0xff }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= bytes.length) -1
      else {
        val n = math.min(math.min(len, chunks(k % chunks.length)), bytes.length - pos)
        k += 1
        System.arraycopy(bytes, pos, b, off, n)
        pos += n
        n
      }
  }

  private def byteLines(bytes: Array[Byte], chunks: Seq[Int], initial: Int): Vector[Array[Byte]] = {
    val r = new WireLineReader(new ChunkedStream(bytes, chunks), initial)
    Iterator.continually(r.readLine()).takeWhile(identity)
      .map(_ => java.util.Arrays.copyOfRange(r.buf, r.start, r.end)).toVector
  }

  private def codec(bytes: Array[Byte], chunks: Seq[Int], initial: Int): Vector[Outcome] = {
    val r = new WireLineReader(new ChunkedStream(bytes, chunks), initial)
    val d = new WireCodec.FetchLineDecoder
    Iterator.continually(r.readLine()).takeWhile(identity).map { _ =>
      d.decode(r.buf, r.start, r.end) match {
        case WireCodec.Row       => RowOut(d.id, d.n, d.tsUs)
        case WireCodec.Malformed => MalformedOut
        case WireCodec.Err       => ErrOut
        case WireCodec.Eof       => EofOut
        case _                   => SkipOut
      }
    }.toVector
  }

  // ---- generators -----------------------------------------------------

  private val chunksGen: Gen[List[Int]] =
    Gen.nonEmptyListOf(Gen.frequency(3 -> Gen.chooseNum(1, 3), 1 -> Gen.chooseNum(4, 64)))
  private val initialGen: Gen[Int] = Gen.chooseNum(1, 16)

  private val longGen: Gen[Long] = Gen.oneOf(
    Gen.chooseNum(Long.MinValue, Long.MaxValue),
    Gen.chooseNum(-1000L, 1000L),
    Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L))

  private val bytesGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  private val spaceGen: Gen[String] =
    Gen.oneOf(" ", " ", " ", "  ", "\t", " \t ", "\u000b", "\f", "   ")
  private val padGen: Gen[String] = // trimmed, but not all of it splits
    Gen.frequency(4 -> "", 1 -> " ", 1 -> "\t", 1 -> "\u0001", 1 -> " \u001f ")

  /** JSON payloads: canonical, reordered and spaced fields, missing,
    * negative and overflowing values, non-ASCII and raw bytes. */
  private val jsonGen: Gen[Array[Byte]] = {
    val fieldVal: Gen[String] = Gen.frequency(
      6 -> longGen.map(_.toString),
      1 -> Gen.oneOf("-", "\"x\"", "", "-x", "+5", " 7", "--3"),
      1 -> Gen.chooseNum(0L, Long.MaxValue).map(v => v.toString + "9999999"))
    val colon = Gen.oneOf(":", ":", " : ", "::", ": ")
    def field(k: String) = for (c <- colon; v <- fieldVal) yield s""""$k"$c$v"""
    val extra = Gen.oneOf("\"name\":\"é✓\"", "\"nid\":4", "\"k\":\"\\\"n\\\"\"",
      "\"x_id\":-2", "\"ts\":1")
    val obj = for {
      fs <- Gen.sequence[List[String], String](List(field("id"), field("n"), field("ts_us")))
      kept <- Gen.frequency(5 -> Gen.const(fs), 1 -> Gen.pick(2, fs).map(_.toList))
      more <- Gen.listOf(extra).map(_.take(2))
      keys <- Gen.listOfN(kept.length + more.length, Gen.choose(0, 1 << 20))
      order = (kept ++ more).zip(keys).sortBy(_._2).map(_._1)
      sep <- Gen.oneOf(",", ", ")
    } yield ("{" + order.mkString(sep) + "}").getBytes(UTF8)
    val withRawBytes = for (o <- obj; junk <- bytesGen; at <- Gen.chooseNum(0, o.length)) yield
      o.take(at) ++ junk.take(6) ++ o.drop(at)
    Gen.frequency(6 -> obj, 2 -> withRawBytes, 1 -> bytesGen)
  }

  private val b64Alphabet =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"

  /** Base64 tokens: valid (padded or not), and broken every way the JDK
    * decoder refuses — bad bytes, dangling char, bad or early padding. */
  private val b64TokenGen: Gen[String] = {
    val valid = jsonGen.map(Base64.getEncoder.encodeToString)
    val unpadded = valid.map(_.replace("=", ""))
    val corrupt = for {
      v <- valid
      at <- Gen.chooseNum(0, v.length)
      bad <- Gen.oneOf("*", "!", "-", "_", "?", "é", "=", "==", "=A", "A", "\u0000")
    } yield v.take(at) + bad + v.drop(at)
    val truncated = for (v <- unpadded; k <- Gen.chooseNum(0, 5)) yield v.dropRight(k)
    val random = Gen.listOf(Gen.oneOf((b64Alphabet + "==").toSeq)).map(_.take(11).mkString)
    Gen.frequency(6 -> valid, 2 -> unpadded, 3 -> corrupt, 2 -> truncated, 2 -> random)
  }

  /** One FETCH response line (bytes, no terminator unless generated). */
  private val lineGen: Gen[Array[Byte]] = {
    val msg = for {
      lead <- padGen; s1 <- spaceGen; s2 <- spaceGen; trail <- padGen
      seq <- Gen.chooseNum(1L, 1000000L); tok <- b64TokenGen
    } yield s"${lead}MSG$s1$seq$s2$tok$trail"
    val tokenCount = for (tok <- b64TokenGen; shape <- Gen.oneOf(
      s"MSG $tok", s"MSG 1 $tok extra", "MSG", s"MSG 1 $tok ", s"msg 1 $tok",
      s"MSGX 1 $tok", s"MSG\u00011 $tok", s"MSG 1\t\t$tok\t")) yield shape
    val control = Gen.oneOf("EOF 10", "EOF", "EOFX", " EOF 10", "eof 1", "ERR fetch trimmed-below 5",
      " ERR", "ERR", "ERRX 1", "\tERR not-available upTo=3 latest=2", "", "   ", "\u0001",
      "OK 3", "SEQ 1 2", "MSG 1 éééé")
    Gen.frequency(
      8 -> msg.map(_.getBytes(UTF8)),
      3 -> tokenCount.map(_.getBytes(UTF8)),
      3 -> control.map(_.getBytes(UTF8)),
      1 -> bytesGen,
      1 -> (for (m <- msg; junk <- bytesGen) yield m.getBytes(UTF8) ++ junk.take(4)))
  }

  /** A response stream: lines joined by `\n`, `\r` or `\r\n`; the last
    * line may be unterminated. */
  private val streamGen: Gen[Array[Byte]] = for {
    lines <- Gen.choose(1, 12).flatMap(Gen.listOfN(_, lineGen))
    ends <- Gen.listOfN(lines.length, Gen.frequency(6 -> "\n", 2 -> "\r\n", 1 -> "\r"))
    unterminated <- Gen.frequency(4 -> false, 1 -> true)
  } yield {
    val body = lines.zip(ends).flatMap { case (l, e) => l ++ e.getBytes(Latin1) }.toArray
    if (unterminated) body.dropRight(ends.last.length) else body
  }

  /** Raw bytes dense in line terminators. */
  private val framingGen: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
    3 -> Gen.chooseNum(Byte.MinValue, Byte.MaxValue),
    1 -> Gen.const('\r'.toByte), 1 -> Gen.const('\n'.toByte))).map(_.toArray)

  // ---- properties -----------------------------------------------------

  property("lines frame like BufferedReader.readLine") =
    Prop.forAllNoShrink(Gen.oneOf(framingGen, streamGen), chunksGen, initialGen) { (bytes, chunks, init) =>
      val got = byteLines(bytes, chunks, init).map(new String(_, Latin1))
      val want = readerLines(bytes, Latin1)
      (got == want) :| s"got ${got.map(_.toSeq)} want ${want.map(_.toSeq)}"
    }

  property("FETCH lines decode like the String path") =
    Prop.forAllNoShrink(streamGen, chunksGen, initialGen) { (bytes, chunks, init) =>
      val got = codec(bytes, chunks, init)
      val want = readerLines(bytes, UTF8).map(oracle)
      (got == want) :| s"got $got want $want for ${new String(bytes, Latin1)}"
    }

  property("Base64 decodes and refuses like java.util.Base64") =
    Prop.forAllNoShrink(Gen.oneOf(b64TokenGen, bytesGen.map(new String(_, Latin1)))) { tok =>
      val src = tok.getBytes(Latin1)
      val dst = new Array[Byte]((src.length + 3) / 4 * 3)
      val len = WireCodec.decodeB64(src, 0, src.length, dst)
      Try(Base64.getDecoder.decode(tok)).toOption match {
        case Some(want) => (len == want.length && dst.take(len).sameElements(want)) :| s"len $len"
        case None       => (len == -1) :| s"accepted '$tok'"
      }
    }

  property("tokens split like trim.split and parse like toLong") =
    Prop.forAllNoShrink(Gen.oneOf(framingGen, lineGen, Gen.listOf(
      Gen.oneOf("-", "+", "0", "7", "9", " ", "\t", "922337203685477580", "8", "x")
    ).map(_.mkString.getBytes(Latin1)))) { bytes =>
      val t = new LineTokens(64)
      val n = t.split(bytes, 0, bytes.length)
      val want = new String(bytes, Latin1).trim.split("\\s+").toSeq
      val got = (0 until math.min(n, 64)).map(k => new String(bytes, t.start(k), t.end(k) - t.start(k), Latin1))
      val longsAgree = got.indices.forall(k => Try(t.long(k)).toOption == Try(got(k).toLong).toOption)
      (n == want.length && got == want.take(64) && longsAgree) :| s"got $got want $want"
    }

  property("payload lines encode like the String path") =
    Prop.forAllNoShrink(Gen.listOf(Gen.zip(longGen, longGen, longGen)), bytesGen) { (events, raw) =>
      val lines = new WireCodec.PayloadLines(1)
      events.foreach { case (id, n, ts) => lines.addEvent(id, n, ts) }
      val want = events.map { case (id, n, ts) =>
        Base64.getEncoder.encodeToString(s"""{"id":$id,"n":$n,"ts_us":$ts}""".getBytes(UTF8)) + "\n"
      }.mkString
      val enc = new Array[Byte]((raw.length + 2) / 3 * 4)
      val end = WireCodec.encodeB64(raw, raw.length, enc, 0)
      (new String(lines.bytes, 0, lines.size, Latin1) == want) :| "payload lines" &&
        (new String(enc, 0, end, Latin1) == Base64.getEncoder.encodeToString(raw)) :| "raw bytes"
    }
}
