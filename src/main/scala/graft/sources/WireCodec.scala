package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets

/** Line framing over raw bytes, with `java.io.BufferedReader.readLine`'s
  * line-end rules: a line ends at `\n`, `\r` or `\r\n` (a `\n` right
  * after a `\r` is skipped even when it arrives in a later read), and a
  * non-empty unterminated tail is the last line. Each line is a window
  * `[start, end)` into [[buf]], valid until the next [[readLine]] — no
  * `String` and no charset decode per line.
  */
private[graft] final class WireLineReader(in: InputStream,
    initialSize: Int = 1 << 16) {
  var buf: Array[Byte] = new Array[Byte](initialSize)
  var start = 0
  var end = 0
  private var pos = 0 // next unread byte
  private var lim = 0 // end of the bytes read so far
  private var skipLF = false

  /** Advance to the next line; false at end of stream with nothing left. */
  def readLine(): Boolean = {
    if (skipLF) {
      if (pos >= lim && !fill()) return false
      skipLF = false
      if (buf(pos) == '\n') pos += 1
    }
    var i = pos
    while (true) {
      while (i < lim && buf(i) != '\n' && buf(i) != '\r') i += 1
      if (i < lim) {
        start = pos; end = i; pos = i + 1
        skipLF = buf(i) == '\r'
        return true
      }
      val partial = lim - pos
      if (!fill()) {
        if (partial == 0) return false
        start = pos; end = lim; pos = lim
        return true
      }
      i = pos + partial
    }
    false
  }

  /** Move the unread bytes to the front, then read more behind them;
    * false at end of stream. */
  private def fill(): Boolean = {
    if (pos > 0) {
      System.arraycopy(buf, pos, buf, 0, lim - pos)
      lim -= pos
      pos = 0
    }
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val n = in.read(buf, lim, buf.length - lim)
    if (n > 0) lim += n
    n >= 0
  }

  def startsWith(prefix: Array[Byte]): Boolean =
    WireCodec.startsWith(buf, start, end, prefix)

  /** The current line as text — for error messages only. */
  def text: String = new String(buf, start, end - start, StandardCharsets.UTF_8)
}

/** Whitespace tokens of one line, with exactly the semantics of
  * `String.trim.split("\\s+")` on its UTF-8 text: every byte `<= 0x20` is
  * trimmed from both ends, tokens split on runs of `[ \t\n\u000B\f\r]`,
  * and an all-blank line is one empty token. Other bytes (control bytes
  * inside the line, non-ASCII) are token bytes, as they are for the regex:
  * UTF-8 never encodes a non-ASCII char with a byte below 0x80. Only the
  * first `cap` token windows are kept; [[split]] counts all of them.
  */
private[graft] final class LineTokens(cap: Int) {
  private val starts = new Array[Int](cap)
  private val ends = new Array[Int](cap)
  private var buf: Array[Byte] = _

  /** Tokenizes `b[from, to)`; returns the token count. */
  def split(b: Array[Byte], from: Int, to: Int): Int = {
    buf = b
    var s = from
    var e = to
    while (s < e && (b(s) & 0xff) <= ' ') s += 1
    while (e > s && (b(e - 1) & 0xff) <= ' ') e -= 1
    var count = 0
    var i = s
    while (i < e) {
      val st = i
      while (i < e && !WireCodec.isSpace(b(i))) i += 1
      if (count < cap) { starts(count) = st; ends(count) = i }
      count += 1
      while (i < e && WireCodec.isSpace(b(i))) i += 1
    }
    if (count == 0) { starts(0) = s; ends(0) = s; count = 1 }
    count
  }

  def start(k: Int): Int = starts(k)
  def end(k: Int): Int = ends(k)

  def is(k: Int, tok: Array[Byte]): Boolean =
    ends(k) - starts(k) == tok.length &&
      WireCodec.startsWith(buf, starts(k), ends(k), tok)

  /** Token `k` as a decimal long (optional sign), like `String.toLong`
    * on ASCII digits; NumberFormatException otherwise. */
  def long(k: Int): Long = {
    val s = starts(k)
    val e = ends(k)
    def bad = throw new NumberFormatException(
      "not a long: " + new String(buf, s, e - s, StandardCharsets.UTF_8))
    var i = s
    val neg = i < e && buf(i) == '-'
    if (i < e && (buf(i) == '-' || buf(i) == '+')) i += 1
    if (i >= e) bad
    var r = 0L // accumulated negatively: Long.MinValue has no positive twin
    while (i < e) {
      val d = buf(i) - '0'
      if (d < 0 || d > 9) bad
      r = try Math.subtractExact(Math.multiplyExact(r, 10L), d.toLong)
      catch { case _: ArithmeticException => bad }
      i += 1
    }
    if (neg) r else if (r == Long.MinValue) bad else -r
  }
}

/** The broker wire's byte-level codec. Payloads are Base64-wrapped JSON
  * `{"id":..,"n":..,"ts_us":..}`; protocol lines and payloads are
  * byte-identical to what a `String`-based client reads and writes.
  *
  * Decode side: [[FetchLineDecoder]] turns one FETCH response line into
  * an outcome and, for a row, its three fields. Encode side:
  * [[PayloadLines]] appends Base64 payload lines for a PUBA chunk.
  */
private[graft] object WireCodec {
  final val Row = 0
  final val Malformed = 1
  final val Err = 2
  final val Eof = 3
  final val Skip = 4

  private def ascii(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)
  val MsgTok: Array[Byte] = ascii("MSG")
  val ErrTok: Array[Byte] = ascii("ERR")
  val EofTok: Array[Byte] = ascii("EOF")
  val SeqTok: Array[Byte] = ascii("SEQ")
  val OkPrefix: Array[Byte] = ascii("OK ")

  def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def startsWith(b: Array[Byte], from: Int, to: Int, prefix: Array[Byte]): Boolean = {
    if (to - from < prefix.length) return false
    var k = 0
    while (k < prefix.length) {
      if (b(from + k) != prefix(k)) return false
      k += 1
    }
    true
  }

  private val B64: Array[Byte] =
    ascii("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/")
  private val FromB64: Array[Int] = {
    val a = Array.fill(256)(-1)
    for (i <- B64.indices) a(B64(i)) = i
    a('=') = -2
    a
  }

  /** Decodes `src[from, to)` into `dst` (which must hold
    * `(to - from + 3) / 4 * 3` bytes) and returns the decoded length, or -1
    * exactly where `java.util.Base64.getDecoder.decode` throws: a byte
    * outside the alphabet, a dangling single char, a bad `=` ending, or
    * bytes after the padding. Padding is optional, as it is there. */
  def decodeB64(src: Array[Byte], from: Int, to: Int, dst: Array[Byte]): Int = {
    var sp = from
    var dp = 0
    var bits = 0
    var shift = 18
    var padded = false
    // whole 4-char units first; the loop below takes the rest
    var unit = true
    while (unit && sp + 4 <= to) {
      val a = FromB64(src(sp) & 0xff)
      val b = FromB64(src(sp + 1) & 0xff)
      val c = FromB64(src(sp + 2) & 0xff)
      val d = FromB64(src(sp + 3) & 0xff)
      if ((a | b | c | d) < 0) unit = false
      else {
        val v = a << 18 | b << 12 | c << 6 | d
        dst(dp) = (v >> 16).toByte
        dst(dp + 1) = (v >> 8).toByte
        dst(dp + 2) = v.toByte
        dp += 3
        sp += 4
      }
    }
    while (sp < to && !padded) {
      val c = FromB64(src(sp) & 0xff)
      sp += 1
      if (c >= 0) {
        bits |= c << shift
        shift -= 6
        if (shift < 0) {
          dst(dp) = (bits >> 16).toByte
          dst(dp + 1) = (bits >> 8).toByte
          dst(dp + 2) = bits.toByte
          dp += 3
          shift = 18
          bits = 0
        }
      } else if (c == -2) {
        // "=" alone, or "xx=" without its second "="
        if (shift == 18) return -1
        if (shift == 6) {
          if (sp == to || src(sp) != '=') return -1
          sp += 1
        }
        padded = true
      } else return -1
    }
    if (shift == 12) return -1 // a dangling single char
    if (shift == 6) { dst(dp) = (bits >> 16).toByte; dp += 1 }
    else if (shift == 0) {
      dst(dp) = (bits >> 16).toByte
      dst(dp + 1) = (bits >> 8).toByte
      dp += 2
    }
    if (sp < to) -1 else dp
  }

  /** Appends the padded Base64 of `src[0, len)` to `dst` at `at`; returns
    * the new end. `dst` must have room for `(len + 2) / 3 * 4` bytes. */
  def encodeB64(src: Array[Byte], len: Int, dst: Array[Byte], at: Int): Int = {
    var i = 0
    var k = at
    while (i + 3 <= len) {
      val b = (src(i) & 0xff) << 16 | (src(i + 1) & 0xff) << 8 | (src(i + 2) & 0xff)
      dst(k) = B64(b >>> 18)
      dst(k + 1) = B64((b >>> 12) & 63)
      dst(k + 2) = B64((b >>> 6) & 63)
      dst(k + 3) = B64(b & 63)
      k += 4
      i += 3
    }
    val rem = len - i
    if (rem > 0) {
      val b = (src(i) & 0xff) << 16 | (if (rem == 2) (src(i + 1) & 0xff) << 8 else 0)
      dst(k) = B64(b >>> 18)
      dst(k + 1) = B64((b >>> 12) & 63)
      dst(k + 2) = if (rem == 2) B64((b >>> 6) & 63) else '='.toByte
      dst(k + 3) = '='
      k += 4
    }
    k
  }

  /** Writes `v` in decimal (`Long.toString`'s digits) at `at`; returns
    * the new end. Needs up to 20 bytes. */
  def putLong(v: Long, dst: Array[Byte], at: Int): Int = {
    var k = at
    if (v < 0) { dst(k) = '-'; k += 1 }
    var x = if (v < 0) v else -v // negative: Long.MinValue has no positive twin
    val digitsFrom = k
    do {
      val q = x / 10
      dst(k) = ('0' + (q * 10 - x)).toByte
      k += 1
      x = q
    } while (x != 0)
    var lo = digitsFrom
    var hi = k - 1
    while (lo < hi) {
      val t = dst(lo); dst(lo) = dst(hi); dst(hi) = t
      lo += 1; hi -= 1
    }
    k
  }

  private def put(src: Array[Byte], dst: Array[Byte], at: Int): Int = {
    System.arraycopy(src, 0, dst, at, src.length)
    at + src.length
  }

  private val IdOpen = ascii("{\"id\":")
  private val NSep = ascii(",\"n\":")
  private val TsSep = ascii(",\"ts_us\":")

  /** A growable run of payload lines (`<base64>\n` each) — one PUBA
    * chunk's body, or a whole partition's, sent straight from [[bytes]]. */
  final class PayloadLines(initialSize: Int = 1 << 12) {
    var bytes: Array[Byte] = new Array[Byte](initialSize)
    var size = 0
    private val json = new Array[Byte](96)

    /** Appends the payload line of one event:
      * Base64 of `{"id":<id>,"n":<n>,"ts_us":<tsUs>}`, then `\n`. */
    def addEvent(id: Long, n: Long, tsUs: Long): Unit = {
      var j = put(IdOpen, json, 0)
      j = putLong(id, json, j)
      j = put(NSep, json, j)
      j = putLong(n, json, j)
      j = put(TsSep, json, j)
      j = putLong(tsUs, json, j)
      json(j) = '}'
      j += 1
      val need = size + (j + 2) / 3 * 4 + 1
      if (need > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(need, bytes.length * 2))
      size = encodeB64(json, j, bytes, size)
      bytes(size) = '\n'
      size += 1
    }
  }

  private val IdKey = ascii("\"id\"")
  private val NKey = ascii("\"n\"")
  private val TsKey = ascii("\"ts_us\"")

  /** Decoder for FETCH response lines, one per shard reader; reuses its
    * buffers across lines. [[decode]] classifies a line the way the
    * reader acts on it:
    *  - [[Eof]]: the line starts with `EOF` (checked before trimming);
    *  - [[Row]]: exactly three tokens, the first `MSG`, and the third is
    *    Base64 of a payload with integer `"id"`, `"n"` and `"ts_us"`
    *    fields — the values are left in [[id]], [[n]], [[tsUs]];
    *  - [[Malformed]]: such a `MSG` line whose payload is not Base64 or
    *    lacks a field;
    *  - [[Err]]: any other line whose first token is `ERR`;
    *  - [[Skip]]: anything else (blank lines, unknown verbs).
    *
    * A field is the first occurrence of its quoted key, then any run of
    * spaces and colons, an optional `-` and at least one digit (a longer
    * run of digits wraps like `Long` arithmetic). Field order is free.
    */
  final class FetchLineDecoder {
    private val tokens = new LineTokens(3)
    private var json = new Array[Byte](128)
    var id = 0L
    var n = 0L
    var tsUs = 0L
    private var value = 0L

    def decode(b: Array[Byte], from: Int, to: Int): Int = {
      if (startsWith(b, from, to, EofTok)) return Eof
      val nt = tokens.split(b, from, to)
      if (nt == 3 && tokens.is(0, MsgTok)) {
        val s = tokens.start(2)
        val e = tokens.end(2)
        val cap = (e - s + 3) / 4 * 3
        if (cap > json.length) json = new Array[Byte](math.max(cap, json.length * 2))
        val len = decodeB64(b, s, e, json)
        if (len < 0 || !field(IdKey, len)) return Malformed
        id = value
        if (!field(NKey, len)) return Malformed
        n = value
        if (!field(TsKey, len)) return Malformed
        tsUs = value
        Row
      } else if (tokens.is(0, ErrTok)) Err
      else Skip
    }

    private def field(key: Array[Byte], len: Int): Boolean = {
      val at = indexOf(key, len)
      if (at < 0) return false
      var i = at + key.length
      while (i < len && (json(i) == ' ' || json(i) == ':')) i += 1
      val neg = i < len && json(i) == '-'
      if (neg) i += 1
      var v = 0L
      var any = false
      while (i < len && json(i) >= '0' && json(i) <= '9') {
        v = v * 10 + (json(i) - '0')
        i += 1
        any = true
      }
      value = if (neg) -v else v
      any
    }

    private def indexOf(key: Array[Byte], len: Int): Int = {
      var i = 0
      val last = len - key.length
      while (i <= last) {
        // every key opens with a quote: only quotes start a comparison
        if (json(i) == '"' && startsWith(json, i, len, key)) return i
        i += 1
      }
      -1
    }
  }
}
