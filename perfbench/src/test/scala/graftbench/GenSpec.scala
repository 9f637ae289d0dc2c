package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def bytes(seed: Long, n: Int): Seq[Seq[Byte]] = {
    val g = new Gen(seed)
    (0L until n).map(i => g.line(i).raw.toSeq)
  }

  test("same seed gives the same lines, another seed other lines") {
    assert(bytes(7, 2000) == bytes(7, 2000))
    val other = bytes(8, 2000)
    assert(bytes(7, 2000).zip(other).count { case (a, b) => a != b } > 1900)
  }

  test("a line depends only on (seed, index), not on the file split") {
    val g = new Gen(3)
    val dir = java.nio.file.Files.createTempDirectory("gen")
    val whole = dir.resolve("a.log")
    g.writeFile(whole, 0, 500)(_ => ())
    g.writeFile(dir.resolve("b.log"), 0, 200)(_ => ())
    g.writeFile(dir.resolve("c.log"), 200, 500)(_ => ())
    val parts = java.nio.file.Files.readAllBytes(dir.resolve("b.log")) ++
      java.nio.file.Files.readAllBytes(dir.resolve("c.log"))
    assert(java.nio.file.Files.readAllBytes(whole).sameElements(parts))
  }

  test("the mix holds every line kind, long tails and truncated UTF-8") {
    val g = new Gen(11)
    val ls = (0L until 20000).map(g.line)
    assert(ls.map(_.kind).toSet == Set(Gen.K3164, Gen.K5424, Gen.KCee, Gen.KBadPri,
      Gen.KTrunc, Gen.KOversize))
    assert(ls.filter(_.kind == Gen.KOversize).forall(_.raw.length > 9000))
    val trunc = ls.filter(_.kind == Gen.KTrunc).map(l => new String(l.raw, UTF_8))
    assert(trunc.nonEmpty && trunc.forall(_.endsWith("caf�")))
    val hot = ls.groupBy(_.host).values.map(_.size).max
    assert(hot > ls.size / 20, "Zipf head host")
  }

  test("ingest model: rules, lookup and template on hand-checked lines") {
    val g = new Gen(5)
    val ls = (0L until 5000).map(g.line)
    def first(p: Gen.Line => Boolean) = ls.find(p).get
    // invalid PRI is invld.debug: dropped by the severity-7 rule
    assert(g.ingestOut(first(_.kind == Gen.KBadPri)).isEmpty)
    // unknown host (not in the lookup table) below warning: dropped
    assert(g.ingestOut(first(l => Gen.siteOf(l.host) == Gen.Nomatch && l.sev == 6)).isEmpty)
    // unknown host at warning: kept with the nomatch site
    val warn = first(l => l.kind == Gen.K3164 && Gen.siteOf(l.host) == Gen.Nomatch &&
      l.sev == 4 && l.fac != 0 && l.fac != 2)
    val raw = new String(warn.raw, UTF_8)
    val body = raw.substring(raw.indexOf("]: ") + 2) // RFC3164 %msg% keeps the space
    assert(new String(g.ingestOut(warn).get, UTF_8) ==
      s"h${warn.host}|4|none|info||$body")
    // known host, mail facility: kept, site from the table, class sys
    val mail = first(l => l.kind == Gen.K5424 && Gen.siteOf(l.host) != Gen.Nomatch &&
      l.fac == 2 && l.sev != 7)
    val m5424 = new String(mail.raw, UTF_8)
    assert(new String(g.ingestOut(mail).get, UTF_8) ==
      s"h${mail.host}|${mail.sev}|s${mail.host % 13}|sys||" + m5424.substring(m5424.indexOf("\"] ") + 3))
    // cee: $!user from the JSON payload
    val cee = first(l => l.kind == Gen.KCee && !l.debug && Gen.siteOf(l.host) != Gen.Nomatch)
    assert(new String(g.ingestOut(cee).get, UTF_8).split('|')(4) == s"u${cee.host % 97}")
  }

  test("stream model: ratelimit passes and dyn_stats admission on a tiny input") {
    val t = new StreamTally(1000)
    // window 0: a x3, b x1; window 1: a x1; c first seen last
    Seq("a" -> 10L, "b" -> 20L, "a" -> 30L, "a" -> 40L, "a" -> 1500L, "c" -> 1600L)
      .foreach { case (k, ts) => t.add(k, ts) }
    assert(t.passes(2) == Map(("a", 0L) -> 2L, ("b", 0L) -> 1L, ("a", 1L) -> 1L, ("c", 1L) -> 1L))
    assert(t.counters(2) == Map("a" -> 4L, "b" -> 1L, "ops_overflow" -> 1L))
    assert(t.counters(5) == Map("a" -> 4L, "b" -> 1L, "c" -> 1L))
    // equal first arrival: the key name breaks the tie
    val u = new StreamTally(1000)
    u.add("z", 5); u.add("y", 5)
    assert(u.counters(1) == Map("y" -> 1L, "ops_overflow" -> 1L))
  }
}
