package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded, single-threaded syslog line generator with an engine-independent
  * model of what the ingest and stream pipelines must deliver.
  *
  * Line `i` depends only on (seed, i), so any file split of the sequence
  * yields the same lines. Event time advances `StepMs` per line from
  * 2024-03-01T00:00:00Z, so files of whole seconds (multiples of
  * `LinesPerSecond` lines) never share a second.
  *
  * Mix (per line): 45% RFC3164, 35% RFC5424 with STRUCTURED-DATA, 15%
  * `@cee:` JSON, 2% bad PRI, 2.5% RFC3164 ending in a truncated UTF-8
  * sequence, 0.5% oversize RFC5424 (9-16 KiB, past rsyslog's 8 KiB default
  * maxMessageSize; imfile binds no size cap). Hosts are Zipf(1.1) over
  * `Gen.Hosts` names; other body lengths are Pareto(1.5)-tailed from 36
  * bytes, capped at 4 KiB.
  */
final class Gen(seed: Long) {
  import Gen._

  private def rng(i: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L)

  def line(i: Long): Line = {
    val r = rng(i)
    val host = zipf(r.nextDouble())
    val fac = r.nextInt(24)
    val sev = r.nextInt(8)
    val tsMs = T0 + i * StepMs
    val u = r.nextDouble()
    val kind =
      if (u < 0.45) K3164 else if (u < 0.80) K5424 else if (u < 0.95) KCee
      else if (u < 0.97) KBadPri else if (u < 0.995) KTrunc else KOversize
    val bodyLen = kind match {
      case KOversize => 9000 + r.nextInt(7000)
      case _ => math.min(4000, 12 + (24 / math.pow(1 - r.nextDouble(), 1 / 1.5)).toInt)
    }
    val body = filler(r, "msgnum:" + pad8(i) + ":", bodyLen)
    val h = hostName(host)
    val pri = fac * 8 + sev
    val stamp3164 = t3164(tsMs)
    val out = new java.io.ByteArrayOutputStream(bodyLen + 96)
    def put(s: String): Unit = out.write(s.getBytes(UTF_8))
    kind match {
      case K3164 => put(s"<$pri>$stamp3164 $h app${host % 7}[${1000 + host}]: $body")
      case K5424 | KOversize =>
        put(s"<$pri>1 ${t5424(tsMs)} $h app${host % 7} ${1000 + host} ID${sev}" +
          s""" [ex@32473 seq="$i" zone="z${host % 5}"] $body""")
      case KCee =>
        put(s"""<$pri>$stamp3164 $h app${host % 7}: @cee: {"user":"u${host % 97}","msgnum":$i,"note":"$body"}""")
      case KBadPri =>
        put(s"<${if (r.nextBoolean()) "999" else "abc"}>$stamp3164 $h app: $body")
      case KTrunc =>
        put(s"<$pri>$stamp3164 $h app${host % 7}: $body caf")
        // a multi-byte sequence cut short by truncation: C3 (of é) or E2 82 (of €)
        if (r.nextBoolean()) out.write(0xC3) else { out.write(0xE2); out.write(0x82) }
    }
    Line(out.toByteArray, host, if (kind == KBadPri) 7 else sev, fac,
      if (kind == K5424 || kind == KOversize) tsMs else tsMs / 1000 * 1000, kind)
  }

  /** The ingest template line (`outfmt` in [[Ingest]]) for a kept line, or
    * None when the ruleset drops it. Invalid UTF-8 is expected as the
    * engine's string decoding renders it: one U+FFFD per malformed
    * sequence (rsyslog itself passes the raw bytes through; see README). */
  def ingestOut(l: Line): Option[Array[Byte]] = {
    if (l.debug) return None
    val site = siteOf(l.host)
    if (site == Nomatch && l.sev >= 5) return None
    val cls = if (l.fac == 0 || l.fac == 2) "sys" else if (l.sev <= 3) "alert" else "info"
    val text = new String(l.raw, UTF_8)
    val (msg, user) = l.kind match {
      case K5424 | KOversize => (text.substring(text.indexOf("] ") + 2), "")
      case KCee =>
        val m = text.substring(text.indexOf(": @cee:") + 1)
        (m, "u" + (l.host % 97))
      case _ => (text.substring(text.indexOf(": ") + 1), "")
    }
    Some(s"${hostName(l.host)}|${l.sev}|$site|$cls|$user|$msg".getBytes(UTF_8))
  }

  /** Write lines [from, until) to `path` atomically (temp name + rename). */
  def writeFile(path: Path, from: Long, until: Long)(each: Line => Unit): Long = {
    val tmp = path.resolveSibling("_" + path.getFileName + ".tmp")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)
    var bytes = 0L
    try {
      var i = from
      while (i < until) {
        val l = line(i)
        out.write(l.raw); out.write('\n')
        bytes += l.raw.length + 1
        each(l)
        i += 1
      }
    } finally out.close()
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    bytes
  }

  private def zipf(u: Double): Int = {
    val k = java.util.Arrays.binarySearch(ZipfCdf, u)
    math.min(Hosts - 1, if (k >= 0) k else -k - 1)
  }

  private def filler(r: java.util.SplittableRandom, head: String, len: Int): String = {
    val sb = new java.lang.StringBuilder(len + 16).append(head)
    while (sb.length < len) sb.append(' ').append(Words(r.nextInt(Words.length)))
    sb.toString
  }
}

object Gen {
  /** One generated line and what the pipelines must make of it. */
  final case class Line(raw: Array[Byte], host: Int, sev: Int, fac: Int,
                        tsMs: Long, kind: Int) {
    /** Dropped by every pipeline: severity 7, which rsyslog also assigns to
      * an invalid PRI (LOG_PRI_INVLD = 199 = invld.debug). */
    def debug: Boolean = sev == 7
  }

  val Hosts = 2000
  val T0 = 1709251200000L // 2024-03-01T00:00:00Z
  val StepMs = 4L
  val LinesPerSecond: Long = 1000 / StepMs
  val Nomatch = "none"
  final val K3164 = 0; final val K5424 = 1; final val KCee = 2
  final val KBadPri = 3; final val KTrunc = 4; final val KOversize = 5

  private val Words = ("error warn disk cpu user login session request timeout " +
    "retry queue socket kernel mail cron auth café €uro 数据 payload").split(' ')

  private val ZipfCdf: Array[Double] = {
    val w = Array.tabulate(Hosts)(k => 1.0 / math.pow(k + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }

  def hostName(h: Int): String = "h" + h

  /** The lookup table holds every third host (ranks 1, 4, 7, ...), so the
    * hottest host misses and the per-message hit rate stays well below 1. */
  def siteOf(h: Int): String = if (h % 3 == 1) "s" + (h % 13) else Nomatch

  def lookupJson: String =
    (0 until Hosts).filter(h => siteOf(h) != Nomatch)
      .map(h => s"""{"index":"${hostName(h)}","value":"${siteOf(h)}"}""")
      .mkString(s"""{"version":1,"nomatch":"$Nomatch","type":"string","table":[""", ",", "]}")

  private val Mon = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
    "Sep", "Oct", "Nov", "Dec")

  private def pad(n: Long, w: Int): String = {
    val s = n.toString
    if (s.length >= w) s else "0" * (w - s.length) + s
  }
  def pad8(n: Long): String = pad(n, 8)

  def t3164(ms: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(ms / 1000, 0, java.time.ZoneOffset.UTC)
    val d = t.getDayOfMonth
    s"${Mon(t.getMonthValue - 1)} ${if (d < 10) " " + d else d} ${pad(t.getHour, 2)}:" +
      s"${pad(t.getMinute, 2)}:${pad(t.getSecond, 2)}"
  }

  def t5424(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString match {
    case s if s.length == 20 => s.dropRight(1) + ".000Z" // whole second
    case s => s
  }

  /** 64-bit line fingerprint; a multiset of lines is compared by count and
    * the wrapping sum of fingerprints. */
  def fp(b: Array[Byte]): Long = {
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c6ef372)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
}

/** Model of the stream pipeline's two stateful operators over the
  * messages they receive, in event-time order:
  *  - ratelimit (interval + burst per key): in each key's interval window
  *    the first `burst` messages pass;
  *  - dyn_stats with maxCardinality: the first `cap` keys, by first
  *    arrival time and then by name, get counters; every message of any
  *    other key counts in `ops_overflow` (no key expires). */
final class StreamTally(intervalMs: Long) {
  private val perWindow = scala.collection.mutable.HashMap.empty[(String, Long), Long]
  private val perKey = scala.collection.mutable.HashMap.empty[String, Long]
  private val first = scala.collection.mutable.HashMap.empty[String, Long]

  def add(key: String, tsMs: Long): Unit = {
    val w = (key, tsMs / intervalMs)
    perWindow(w) = perWindow.getOrElse(w, 0L) + 1
    perKey(key) = perKey.getOrElse(key, 0L) + 1
    first(key) = math.min(first.getOrElse(key, Long.MaxValue), tsMs)
  }

  /** Passed messages per (key, window index). */
  def passes(burst: Long): Map[(String, Long), Long] =
    perWindow.map { case (k, n) => k -> math.min(n, burst) }.toMap

  /** Final counters per admitted key, plus `ops_overflow` when positive. */
  def counters(cap: Int): Map[String, Long] = {
    val (admitted, rest) = perKey.keys.toSeq.sortBy(k => (first(k), k)).splitAt(cap)
    val overflow = rest.map(perKey).sum
    admitted.map(k => k -> perKey(k)).toMap ++
      (if (overflow > 0) Map("ops_overflow" -> overflow) else Map.empty)
  }
}
