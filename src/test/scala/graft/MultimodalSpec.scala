package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("mediaTable: blob bytes are the UTF-8 text, metadata is derived") {
    val m = Multimodal.mediaTable(docs(0L -> "abc", 4L -> "xy"))
    val r = rowsOf(m.select(col("media_id"), col("media"),
      col("meta.mime").as("mime"), col("meta.width").as("width")))
      .sortBy(_("media_id").asInstanceOf[Long])
    assert(r(0)("media").asInstanceOf[Array[Byte]].toSeq == "abc".getBytes("UTF-8").toSeq)
    assert(r(0)("mime") == "image/png") // 0 % 3
    assert(r(1)("mime") == "audio/wav") // 4 % 3 = 1
    assert(r(1)("width") == 16 + 4)
  }

  test("decodeFeatures: n_bytes, md5, byte_sum over known bytes") {
    val f = Multimodal.mediaTable(docs(1L -> "AB"))
      .select(Multimodal.decodeFeatures(col("media")).as("f"))
      .select("f.n_bytes", "f.checksum", "f.byte_sum")
    val r = rowsOf(f).head
    assert(r("n_bytes") == 2)
    assert(r("byte_sum") == 65L + 66L)
    assert(r("checksum") == // md5("AB")
      java.security.MessageDigest.getInstance("MD5")
        .digest("AB".getBytes).map("%02x".format(_)).mkString)
  }

  test("frameSample: full strided windows only; short blobs yield none") {
    // 80 bytes, frame 32, stride 16 -> starts 1,17,33,49 -> 4 frames
    val long = "x" * 80
    val out = Multimodal.frameSample(
      Multimodal.mediaTable(docs(1L -> long, 2L -> "short")), 32, 16)
    val byDoc = rowsOf(out).groupBy(_("media_id"))
    assert(byDoc(1L).size == 4)
    assert(!byDoc.contains(2L))
    assert(byDoc(1L).forall(_("frame_len") == 32))
  }

  test("frameSample frame content: md5 matches the byte slice") {
    val text = (0 until 48).map(i => ('a' + i % 26).toChar).mkString
    val out = Multimodal.frameSample(Multimodal.mediaTable(docs(1L -> text)), 32, 16)
    val r = rowsOf(out).sortBy(_("frame_idx").asInstanceOf[Int])
    assert(r.size == 2)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(text.substring(16, 48).getBytes).map("%02x".format(_)).mkString
    assert(r(1)("frame_md5") == expect)
  }

  test("dedupMedia: identical blobs collapse to the smallest id, digests shuffle, blobs don't") {
    import graft.multimodal.Multimodal
    val docs = Seq(
      (7L, "same bytes"), (3L, "same bytes"), (9L, "same bytes"),
      (5L, "unique bytes")).toDF("doc_id", "text")
    val out = Multimodal.dedupMedia(Multimodal.mediaTable(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(3L -> 3L, 5L -> 1L))
    // the aggregate's shuffle carries digests + ids, never the blob
    val plan = Multimodal.dedupMedia(Multimodal.mediaTable(docs))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"))
  }

  test("cdcChunks: chunks tile the string; boundaries match a by-hand rolling hash") {
    val text = (0 until 200).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val out = rowsOf(Multimodal.cdcChunkFrame(
        Multimodal.mediaTable(docs(1L -> text)), w = 8, divisor = 32))
      .sortBy(_("chunk_idx").asInstanceOf[Int])
    // chunks are contiguous, 1-based, and cover the whole string
    assert(out.head("off") == 1)
    out.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b("off").asInstanceOf[Int] ==
          a("off").asInstanceOf[Int] + a("len").asInstanceOf[Int])
      case _ =>
    }
    assert(out.map(_("len").asInstanceOf[Int]).sum == text.length)
    // by-hand boundary scan with the same fold
    val M = 140737488355213L
    val cuts = (7 until text.length).filter { i =>
      val h = (i - 7 to i).foldLeft(0L)((a, j) => (a * 31 + text.charAt(j)) % M)
      h % 32 == 0
    }.map(_ + 1)
    val expectEnds = if (cuts.isEmpty || cuts.last != text.length) cuts :+ text.length else cuts
    assert(out.map(r => r("off").asInstanceOf[Int] + r("len").asInstanceOf[Int] - 1) ==
      expectEnds)
    // chunk digests are the substring md5s
    val first = out.head
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(text.substring(0, first("len").asInstanceOf[Int]).getBytes)
      .map("%02x".format(_)).mkString
    assert(first("chunk_md5") == expectMd5)
  }

  test("cdcChunks unit discipline: code points for strings, bytes for binary") {
    import spark.implicits._
    // supplementary (non-BMP) characters: 𝕏 = U+1D54F (2 UTF-16 chars,
    // 4 UTF-8 bytes) — boundaries and extraction must agree in ONE unit
    val text = ("ab𝕏cd" * 40) + "tail"
    val cpLen = text.codePointCount(0, text.length)
    val strDf = Seq((1L, text)).toDF("media_id", "media") // StringType path
    val strOut = rowsOf(Multimodal.cdcChunkFrame(strDf, 8, 4))
      .sortBy(_("chunk_idx").asInstanceOf[Int])
    assert(strOut.map(_("len").asInstanceOf[Int]).sum == cpLen,
      "string path must tile the CODE-POINT length")
    // every chunk digest equals the md5 of the code-point substring
    val cps = text.codePoints().toArray
    strOut.foreach { r =>
      val off = r("off").asInstanceOf[Int] - 1
      val len = r("len").asInstanceOf[Int]
      val sub = new String(cps, off, len)
      val exp = java.security.MessageDigest.getInstance("MD5")
        .digest(sub.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r("chunk_md5") == exp, s"chunk at off=$off")
    }
    // byte path on the same content: tiles the BYTE length with
    // byte-slice digests
    val bytes = text.getBytes("UTF-8")
    val binDf = Seq((1L, bytes)).toDF("media_id", "media") // BinaryType path
    val binOut = rowsOf(Multimodal.cdcChunkFrame(binDf, 8, 4))
      .sortBy(_("chunk_idx").asInstanceOf[Int])
    assert(binOut.map(_("len").asInstanceOf[Int]).sum == bytes.length,
      "binary path must tile the BYTE length")
    binOut.foreach { r =>
      val off = r("off").asInstanceOf[Int] - 1
      val len = r("len").asInstanceOf[Int]
      val exp = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes.slice(off, off + len)).map("%02x".format(_)).mkString
      assert(r("chunk_md5") == exp, s"chunk at byte off=$off")
    }
  }

  test("cdcChunks binary path: arbitrary non-UTF8 bytes chunk losslessly") {
    import spark.implicits._
    // 0xFF/0xFE runs are invalid UTF-8 — the old cast-to-string path
    // would mangle them through replacement characters
    val blob = Array.tabulate[Byte](512)(i => ((i * 37 + 251) % 256).toByte)
    val out = rowsOf(Multimodal.cdcChunkFrame(
        Seq((7L, blob)).toDF("media_id", "media"), 8, 16))
      .sortBy(_("chunk_idx").asInstanceOf[Int])
    assert(out.map(_("len").asInstanceOf[Int]).sum == blob.length)
    val whole = java.security.MessageDigest.getInstance("MD5")
      .digest(blob).map("%02x".format(_)).mkString
    // reassembling the chunks yields the original blob
    val reasm = out.flatMap { r =>
      blob.slice(r("off").asInstanceOf[Int] - 1,
        r("off").asInstanceOf[Int] - 1 + r("len").asInstanceOf[Int])
    }.toArray
    assert(java.security.MessageDigest.getInstance("MD5")
      .digest(reasm).map("%02x".format(_)).mkString == whole)
  }

  test("cdcChunks: byte and code-point paths agree on ASCII content") {
    import spark.implicits._
    val t = (0 until 400).map(i => ('a' + (i * 13 + i / 7) % 26).toChar).mkString
    val bin = rowsOf(Multimodal.cdcChunkFrame(
      Seq((1L, t.getBytes("UTF-8"))).toDF("media_id", "media"), 8, 32))
    val str = rowsOf(Multimodal.cdcChunkFrame(
      Seq((1L, t)).toDF("media_id", "media"), 8, 32))
    assert(bin.toSet == str.toSet)
  }

  test("cdcChunks shift-invariance: a front insertion re-synchronizes the chunk stream") {
    val base = (0 until 600).map(i => ('a' + (i * 11 + i / 13) % 26).toChar).mkString
    val shifted = "INSERTED-PREFIX " + base
    def md5s(t: String) = rowsOf(Multimodal.cdcChunkFrame(
        Multimodal.mediaTable(docs(1L -> t)), 8, 32))
      .map(_("chunk_md5").asInstanceOf[String]).toSet
    val a = md5s(base)
    val b = md5s(shifted)
    // whole-blob digests share nothing; CDC chunk digests mostly survive
    val shared = a.intersect(b).size
    assert(shared >= a.size - 2,
      s"expected all but the first chunk shared, got $shared of ${a.size}")
    // and chunk-level dedup sees the overlap across the two blobs
    val both = Multimodal.cdcDedup(Multimodal.mediaTable(
      docs(1L -> base, 2L -> shifted)), 8, 32)
    assert(rowsOf(both).count(_("ref_count").asInstanceOf[Long] >= 2L) >= shared)
  }

  test("cdcStats: logical/stored bytes and ratio over a known duplicate pair") {
    val t = (0 until 300).map(i => ('a' + (i * 11 + i / 13) % 26).toChar).mkString
    val stats = rowsOf(Multimodal.cdcStats(
      Multimodal.mediaTable(docs(1L -> t, 2L -> t)), 8, 32)).head
    assert(stats("logical_bytes") == 2L * t.length)
    // identical blobs: at least a 2.0 ratio (within-blob repeats can exceed it)
    assert(stats("stored_bytes").asInstanceOf[Long] <= t.length.toLong)
    assert(stats("dedup_ratio").asInstanceOf[Double] >= 2.0)
  }

  test("cdc chunking shuffles the inventory, never the blob bytes") {
    val m = Multimodal.mediaTable(docs(1L -> ("q" * 500)))
    val plan = Multimodal.cdcDedup(m).queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    // the post-shuffle side (printed above the Exchange) must not
    // reference the blob column; only digests + inventory cross
    val aboveExchange = plan.split("Exchange").head
    assert(!aboveExchange.contains("media#"),
      "blob column crossed the exchange")
  }

  test("metadata-only query prunes the blob column from the scan") {
    val dir = java.nio.file.Files.createTempDirectory("mmode").toString
    Multimodal.mediaTable(docs(1L -> "abc")).write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir).select("media_id", "meta.mime")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("media#") || !plan.split("ReadSchema")(1).contains("binary"))
  }

  test("phash: scalar parity, near-dup pairing, opposite blobs excluded") {
    val base = "a" * 128 + "z" * 128       // hi blocks low, lo blocks high
    val tweak = "b" + "a" * 127 + "z" * 128 // one byte off: tiny hamming
    val opposite = "z" * 128 + "a" * 128    // mirrored: hamming 64
    val media = Seq((1L, base), (2L, tweak), (3L, opposite))
      .toDF("media_id", "text")
      .select(col("media_id"), col("text").cast("binary").as("media"))
    // Column expression == scalar reference
    val fromCol = Multimodal.phashFrame(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    Seq((1L, base), (2L, tweak), (3L, opposite)).foreach { case (id, s) =>
      val arr = graft.expressions.TextUtil
        .mediaPhash(s.getBytes("UTF-8")).toLongArray()
      assert(fromCol(id) == ((arr(0), arr(1))), s"id $id")
    }
    // the mirrored pair is maximally distant, the tweaked pair adjacent
    val cands = Multimodal.phashCandidates(media, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cands.keySet == Set((1L, 2L)), cands)
    assert(cands((1L, 2L)) <= 2L)
    // degenerate-bucket cap drops everything when every band collides
    val same = Seq((1L, base), (2L, base), (3L, base), (4L, base))
      .toDF("media_id", "text")
      .select(col("media_id"), col("text").cast("binary").as("media"))
    assert(Multimodal.phashCandidates(same, maxHamming = 6,
      maxBucket = 3L).count() == 0L)
  }
}
