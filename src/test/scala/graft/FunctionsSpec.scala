package graft

import org.apache.spark.sql.functions._
import graft.functions._

/** Unit specs for the scalar/bit/net/text/vector function library
  * (SURVEY.md §2.8). Reference semantics cited per test. */
class FunctionsSpec extends SparkSpec {

  test("time: ISO8601 emission (X15)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = Seq(1502900000000L, 1700000000123L).toDF("ts_ms")
      .select(TimeFunctions.isoTimestamp(col("ts_ms")).as("iso"))
      .collect()
    assert(r(0).getString(0) == "2017-08-16T16:13:20.000Z")
    assert(r(1).getString(0) == "2023-11-14T22:13:20.123Z")
  }

  test("time: ISO8601 renders UTC regardless of session time zone (X15)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "America/New_York")
      val iso = Seq(1700000000123L).toDF("ts_ms")
        .select(TimeFunctions.isoTimestamp(col("ts_ms")).as("iso"))
        .collect()(0).getString(0)
      assert(iso == "2023-11-14T22:13:20.123Z",
        s"isoTimestamp leaked the session tz: $iso")
    } finally spark.conf.set(key, saved)
  }
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).get(0)

  test("cidrMatch literal and column variants (host_stats.py:152)") {
    import graft.expressions.GraftFunctions.cidrMatch
    assert(eval1(cidrMatch(lit("10.10.1.5"), lit("10.10.0.0/16"))) == true)
    assert(eval1(cidrMatch(lit("10.11.1.5"), lit("10.10.0.0/16"))) == false)
    assert(eval1(cidrMatch(lit("192.168.3.7"), lit("192.168.3.0/24"))) == true)
    assert(eval1(cidrMatch(lit("1.2.3.4"), lit("0.0.0.0/0"))) == true)
    // netaddr rejects an octet above 255: no network holds the address
    assert(eval1(cidrMatch(lit("10.0.100.300"), lit("10.0.101.0/24"))) == null)
    // both sides read from columns
    val rows = Seq(("10.10.1.5", "10.10.0.0/16"), ("10.11.1.5", "10.10.0.0/16"))
      .toDF("ip", "net").select(cidrMatch(col("ip"), col("net"))).collect()
    assert(rows.map(_.getBoolean(0)).toSeq == Seq(true, false))
  }

  test("protocolName mapping (protocols_statistics.py:82-96)") {
    assert(eval1(NetFunctions.protocolName(lit(6))) == "tcp")
    assert(eval1(NetFunctions.protocolName(lit(17))) == "udp")
    assert(eval1(NetFunctions.protocolName(lit(1))) == "other")
  }

  test("tcp flag extraction and pure-SYN (host_stats.py:54-71, ports_scan.py:177)") {
    // 27 = 0b00011011 → FIN,SYN,PSH,ACK
    val flags = BitFunctions.tcpFlagCols(lit(27L)).toMap
    assert(eval1(flags("FIN")) == 1L && eval1(flags("SYN")) == 1L)
    assert(eval1(flags("RST")) == 0L && eval1(flags("PSH")) == 1L)
    assert(eval1(flags("ACK")) == 1L && eval1(flags("URG")) == 0L)
    assert(eval1(BitFunctions.pureSyn(lit(2L))) == true)
    assert(eval1(BitFunctions.pureSyn(lit(18L))) == false) // SYN+ACK
    assert(eval1(BitFunctions.pureSyn(lit(34L))) == true)  // bit5 outside mask
  }

  test("DNS flag bit ops (dns_statistics.py:184-207)") {
    assert(eval1(BitFunctions.dnsIsResponse(lit(33152L))) == true)  // 0x8180
    assert(eval1(BitFunctions.dnsIsResponse(lit(256L))) == false)
    assert(eval1(BitFunctions.dnsRcode(lit(33155L))) == 3)          // NXDomain
    assert(eval1(BitFunctions.dnsRcode(lit(33157L))) == 5)          // Refused
  }

  test("qtype/rcode name maps (dns_statistics.py:118-149)") {
    assert(eval1(DnsFunctions.qtypeName(lit(1))) == "A")
    assert(eval1(DnsFunctions.qtypeName(lit(28))) == "AAAA")
    assert(eval1(DnsFunctions.qtypeName(lit(999))) == "OTHER")
    assert(eval1(DnsFunctions.rcodeName(lit(0))) == "NoError")
    assert(eval1(DnsFunctions.rcodeName(lit(3))) == "NXDomain")
    assert(eval1(DnsFunctions.rcodeName(lit(77))) == "Unknown")
  }

  test("rdata hex decode (DNSResponseConverter.py:30-72, FIXTURES.md §2)") {
    // "0x5db8d822" → 93.184.216.34 (first 10 chars incl. prefix)
    assert(eval1(DnsFunctions.rdataToIpv4(lit("0x5db8d822"))) == "93.184.216.34")
    assert(eval1(DnsFunctions.rdataDecode(lit("0x5db8d822"), lit(1))) == "93.184.216.34")
    // ipv6: first 34 chars → 8 groups, reference keeps leading zeros
    assert(eval1(DnsFunctions.rdataToIpv6(
      lit("0x20010db8000000000000000000000068"))) ==
      "2001:0db8:0000:0000:0000:0000:0000:0068")
    // ascii: skip 2-hex-char prefix then hex-decode
    assert(eval1(DnsFunctions.rdataToAscii(lit("0x03777777"))) == "www")
    assert(eval1(DnsFunctions.rdataDecode(lit("0x03777777"), lit(5))) == "www")
  }

  test("cipher suite normalization (tls_classification.py:142-163)") {
    assert(eval1(TlsClassification2.format(lit("0x2f00350033003900"))) ==
      "002f,0035,0033,0039")
    // 0000 groups dropped
    assert(eval1(TlsClassification2.format(lit("0x2f000000"))) == "002f")
  }

  test("charEntropy (element_entropy.py:30-40)") {
    assert(eval1(round(TextFunctions.charEntropy(lit("aaaa")), 6)) == 0.0)
    assert(eval1(round(TextFunctions.charEntropy(lit("abab")), 6)) == 1.0)
    assert(eval1(round(TextFunctions.charEntropy(lit("abcd")), 6)) == 2.0)
  }

  test("token counts and ratios") {
    assert(eval1(TextFunctions.tokenCount(lit("  a  b   c "))) == 3)
    assert(eval1(TextFunctions.tokenCount(lit(""))) == 0)
    assert(eval1(TextFunctions.subwordCount(lit("ab12,cd"))) == 4)
    assert(eval1(TextFunctions.punctRatio(lit("a,b!"))) == 0.5)
    assert(eval1(TextFunctions.stopwordRatioFromTokens(
      TextFunctions.tokens(lit("the cat")), Seq("the"))) == 0.5)
  }

  test("fingerprint is deterministic polynomial hash") {
    val h = eval1(TextFunctions.fingerprint(lit("ab")))
    assert(h == (97L * 31 + 98)) // below modulus → exact polynomial
    assert(eval1(TextFunctions.fingerprint(lit("ab"))) == h)
    assert(eval1(TextFunctions.fingerprint(lit("ba"))) != h)
  }

  test("wordShingles") {
    assert(eval1(TextFunctions.wordShingles(lit("a b c"), 2)) ==
      Seq("a b", "b c"))
    assert(eval1(TextFunctions.wordShingles(lit("a"), 2)) == Seq())
  }

  test("quadratic-form distance (simple_quadratic_form.py:30-41)") {
    val d = eval1(VectorFunctions.quadraticFormDistanceUnrolled(
      Seq(lit(2.0), lit(4.0)), Seq(1.0, 2.0))).asInstanceOf[Double]
    assert(math.abs(d - math.sqrt(2.0)) < 1e-12)
    // bit-identical to the array form: same left fold from 0.0
    assert(eval1(RefColumns.quadraticFormDistance(
      typedLit(Seq(2.0, 4.0)), typedLit(Seq(1.0, 2.0)))) == d)
  }

  test("binIndex thresholds (pattern_finder.py:200-223)") {
    val ts = Seq(1.0, 2.0, 4.0)
    assert(eval1(VectorFunctions.binIndex(lit(0.5), ts)) == 0)
    assert(eval1(VectorFunctions.binIndex(lit(1.5), ts)) == 1)
    assert(eval1(VectorFunctions.binIndex(lit(3.0), ts)) == 2)
    assert(eval1(VectorFunctions.binIndex(lit(99.0), ts)) == 2) // capped last bin
  }

  test("cosine and dot") {
    val c = eval1(VectorFunctions.cosine(
      typedLit(Seq(1.0, 0.0)), typedLit(Seq(1.0, 0.0)))).asInstanceOf[Double]
    assert(math.abs(c - 1.0) < 1e-12)
    val o = eval1(VectorFunctions.cosine(
      typedLit(Seq(1.0, 0.0)), typedLit(Seq(0.0, 1.0)))).asInstanceOf[Double]
    assert(math.abs(o) < 1e-12)
    assert(eval1(VectorFunctions.cosine(
      typedLit(Seq(0.0, 0.0)), typedLit(Seq(1.0, 0.0)))) == 0.0)
  }

  test("arraySum element-wise (A12)") {
    assert(eval1(RefColumns.arraySum(
      typedLit(Seq(1L, 2L)), typedLit(Seq(10L, 20L)))) == Seq(11L, 22L))
  }

  test("simhash: identical inputs equal, disjoint inputs differ") {
    import graft.expressions.TextExpressions
    def simhash(tokens: Seq[String]) = eval1(TextExpressions.simhashFold(
      TextExpressions.polyHash47(typedLit(tokens))))
    val a = simhash(Seq("alpha", "beta", "gamma"))
    val b = simhash(Seq("alpha", "beta", "gamma"))
    val c = simhash(Seq("delta", "epsilon", "zeta"))
    assert(a == b)
    assert(a != c)
  }

  test("native simhash_fold is bit-identical to the Column composite") {
    import spark.implicits._
    // random-ish hash arrays incl. empty, single, vote-tie shapes
    val rows = Seq(
      Seq(0L),
      Seq((1L << 47) - 1),
      Seq.empty[Long],
      (1 to 60).map(i => i * 2654435761L % (1L << 47)),
      Seq(123456789L, 987654321L, 5L, 0L),
      (1 to 7).map(i => (i * 77777L) % (1L << 47))).toDF("hashes")
    val both = rows.select(
      graft.expressions.TextExpressions.simhashFold(col("hashes")).as("native"),
      RefColumns.simhashFromHashes(col("hashes")).as("composite"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }
}

/** Small alias so the spec can reach the private-ish normalizer. */
object TlsClassification2 {
  def format(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.analytics.TlsClassification.formatCipherSuites(c)
}
