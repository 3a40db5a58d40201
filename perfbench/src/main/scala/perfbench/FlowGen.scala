package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import graft.core.FlowSchema

/** Seeded wire-format flow generator. Every file's bytes are a pure
  * function of (seed, file index), so the same seed gives byte-identical
  * inputs; the program only ever sees the written files.
  *
  * Event time is synthetic: file `i` covers a fixed slice after [[T0]].
  * Two deliberate disorders:
  *  - out-of-order rows, moved back by less than the 30 s watermark, so
  *    the stream must still count them;
  *  - late rows, more than [[LateMs]] before T0 and only in files after
  *    the first micro-batch, so the watermark has passed them and they
  *    are dropped (`streaming.state.rows_dropped_late`). Batch reference
  *    evaluations drop them with [[isLate]].
  */
object FlowGen {
  val T0 = 1767225600000L // 2026-01-01T00:00:00Z
  val LateMs = 60000L
  /** Files whose index is below this never carry late rows. The first
    * micro-batch has no watermark, and the second filters late rows with
    * the first one's, so only from the third batch on is a late row
    * certain to be dropped; a batch reads at most 16 files. */
  val FirstLateFile = 32

  private val wire: Map[String, String] = FlowSchema.jsonFieldMap.map(_.swap).toMap
  private val F = FlowSchema.F

  def isLate(startMs: Long): Boolean = startMs < T0 - LateMs

  def rng(seed: Long, stream: Long, idx: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xBF58476D1CE4E5B9L ^
      idx * 0x94D049BB133111EBL)

  /** Zipf(`s`) over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def ip(a: Int, b: Int, n: Int): String = s"$a.$b.${(n >> 8) & 255}.${n & 255}"

  private final class Line {
    private val b = new StringBuilder(320)
    def str(col: String, v: String): Line = { sep(col); b ++= "\"" ++= v += '"'; this }
    def num(col: String, v: Long): Line = { sep(col); b ++= v.toString; this }
    private def sep(col: String): Unit = {
      b += (if (b.isEmpty) '{' else ',')
      b ++= "\"" ++= wire(col) ++= "\":"
    }
    override def toString: String = b.toString + "}"
  }

  private val hostZipf = new Zipf(2000, 1.1)
  private val dports = Array(80, 443, 53, 22, 25, 123, 8080, 3389)

  /** `rows` flows of host traffic for file `idx`, one per event-time
    * millisecond from stream row `first` on: Zipf-skewed sources, a
    * TCP/UDP/ICMP mix, 5 % of rows moved back by up to 20 s, 0.2 % late
    * rows (files >= FirstLateFile). */
  def hostFile(seed: Long, idx: Int, first: Long, rows: Int): Array[Byte] = {
    val r = rng(seed, 1, idx)
    val sb = new StringBuilder(rows * 300)
    var j = 0
    while (j < rows) {
      val src = hostZipf.sample(r)
      val p = r.nextInt(100)
      val proto = if (p < 70) 6 else if (p < 95) 17 else 1
      var start = T0 + first + j
      val d = r.nextInt(1000)
      if (d < 50) start -= r.nextInt(20000)
      else if (d < 52 && idx >= FirstLateFile) start = T0 - 2 * LateMs - r.nextInt(60000)
      val packets = 1 + r.nextInt(100)
      val l = new Line()
        .str(F.srcIp4, ip(10, src >> 16, src))
        .str(F.dstIp4, ip(172, 16, r.nextInt(5000)))
        .num(F.protocol, proto)
      if (proto != 1)
        l.num(F.srcPort, 1024 + r.nextInt(60000)).num(F.dstPort, dports(r.nextInt(dports.length)))
      l.num(F.packets, packets).num(F.bytes, packets.toLong * (40 + r.nextInt(1400)))
      if (proto == 6) l.num(F.tcpFlags, r.nextInt(256))
      l.num(F.startMs, start).num(F.endMs, start + r.nextInt(5000))
      sb ++= l.toString += '\n'
      j += 1
    }
    sb.toString.getBytes("UTF-8")
  }

  /** Rows (lines) in a generated file. */
  def rows(bytes: Array[Byte]): Int = bytes.count(_ == '\n')

  /** Publish `bytes` as `dir/name` atomically (stage + rename) with the
    * given modification time, so the file source sees whole files in the
    * order the generator meant. */
  def drop(dir: Path, stage: Path, name: String, bytes: Array[Byte], mtimeMs: Long): Unit = {
    val tmp = stage.resolve(name)
    Files.write(tmp, bytes)
    Files.setLastModifiedTime(tmp, java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
