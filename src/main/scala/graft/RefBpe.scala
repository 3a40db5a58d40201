package graft

import scala.collection.mutable

/** Independent in-memory BPE reference implementation — a verification
  * fixture for the two non-SQL-expressible BPE queries, NOT part of the
  * engine (the engine path is [[graft.pipeline.TextPipeline.bpeTrain]],
  * which runs distributed over the word-frequency table).
  *
  * [[Verify]] calls this at dump time on the same corpus the Spark query
  * reads and embeds the learned merges as literal SQL, giving the driver's
  * DuckDB compare a real oracle for `q_bpe_train` (pinned merge table from
  * this independent trainer) and `q_bpe_encode` (the encode re-done wholly
  * in DuckDB SQL via a recursive fixpoint-replace CTE, taking only the
  * merge list as input). Algorithm per Sennrich et al. 2016 (public);
  * tokenization matches the reference apps' lowercase + whitespace-split
  * convention (e.g. protocols_statistics.py:98).
  */
object RefBpe {

  private def tokens(text: String): Array[String] =
    text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)

  /** Greedy lowest-rank encode of one word — same semantics as
    * [[graft.expressions.TextUtil.bpeEncode]], independently written. */
  private def encodeWord(w: String, ranks: Map[String, Int]): Vector[String] = {
    var syms = w.map(String.valueOf(_)).toVector
    var done = syms.length < 2
    while (!done) {
      val best = (0 until syms.length - 1)
        .flatMap(i => ranks.get(syms(i) + " " + syms(i + 1))).minOption
      best match {
        case None => done = true
        case Some(r) =>
          val out = Vector.newBuilder[String]
          var k = 0
          while (k < syms.length) {
            if (k < syms.length - 1 &&
                ranks.get(syms(k) + " " + syms(k + 1)).contains(r)) {
              out += syms(k) + syms(k + 1); k += 2
            } else { out += syms(k); k += 1 }
          }
          syms = out.result()
          done = syms.length < 2
      }
    }
    syms
  }

  /** Classic in-memory BPE training over the word-frequency table:
    * numMerges rounds of corpus-wide argmax (count desc, pair asc —
    * the same deterministic tie-break as the Spark path), early stop
    * below minPairCount. */
  def train(texts: Seq[String], numMerges: Int,
            minPairCount: Long = 2L): Seq[(String, Long)] = {
    val wc = mutable.HashMap.empty[String, Long]
    texts.foreach(t => tokens(t).foreach(w => wc.update(w, wc.getOrElse(w, 0L) + 1L)))
    val merges = mutable.ArrayBuffer.empty[(String, Long)]
    var ranks = Map.empty[String, Int]
    var go = true
    while (go && merges.length < numMerges) {
      val pc = mutable.HashMap.empty[String, Long]
      wc.foreach { case (w, c) =>
        val syms = encodeWord(w, ranks)
        var i = 0
        while (i < syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          pc.update(p, pc.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pc.isEmpty) go = false
      else {
        val (pair, cnt) = pc.minBy { case (p, c) => (-c, p) }
        if (cnt < minPairCount) go = false
        else {
          merges += ((pair, cnt))
          ranks = ranks + (pair -> (ranks.size))
        }
      }
    }
    merges.toSeq
  }

  /** Independent twin of [[graft.pipeline.TextPipeline.bpeTrain]] at
    * any `batchSize`: per round, count
    * pairs once, truncate to the top 4·k candidates (count desc, pair
    * asc — the truncation is part of the algorithm contract), greedily
    * adopt up to k pairs with mutually disjoint symbols. */
  def trainBatched(texts: Seq[String], numMerges: Int, batchSize: Int,
                   minPairCount: Long = 2L): Seq[(String, Long)] = {
    require(batchSize >= 1, "trainBatched: batchSize must be >= 1")
    val wc = mutable.HashMap.empty[String, Long]
    texts.foreach(t => tokens(t).foreach(w => wc.update(w, wc.getOrElse(w, 0L) + 1L)))
    val merges = mutable.ArrayBuffer.empty[(String, Long)]
    var ranks = Map.empty[String, Int]
    var go = true
    while (go && merges.length < numMerges) {
      val k = math.min(batchSize, numMerges - merges.length)
      val pc = mutable.HashMap.empty[String, Long]
      wc.foreach { case (w, c) =>
        val syms = encodeWord(w, ranks)
        var i = 0
        while (i < syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          pc.update(p, pc.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      val top = pc.toSeq.filter(_._2 >= minPairCount)
        .sortBy { case (p, c) => (-c, p) }.take(4 * k)
      if (top.isEmpty) go = false
      else {
        val used = mutable.Set.empty[String]
        var taken = 0
        top.iterator.takeWhile(_ => taken < k).foreach { case (pair, cnt) =>
          val syms = pair.split(" ")
          if (!syms.exists(used)) {
            merges += ((pair, cnt))
            ranks = ranks + (pair -> ranks.size)
            used ++= syms
            taken += 1
          }
        }
      }
    }
    merges.toSeq
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Pinned (rank, pair, cnt) literal table for the q_bpe_train oracle. */
  def trainOracleSql(merges: Seq[(String, Long)]): String = {
    val vals = merges.zipWithIndex.map { case ((p, c), i) =>
      s"(CAST($i AS INT), ${sqlLit(p)}, CAST($c AS BIGINT))"
    }.mkString(",\n  ")
    s"""SELECT rank, pair, cnt FROM (VALUES
       |  $vals
       |) AS t(rank, pair, cnt)
       |ORDER BY rank""".stripMargin
  }

  /** q_bpe_encode oracle: the greedy encode re-expressed in DuckDB SQL.
    * Each word becomes a space-sentineled symbol string (' h i '); merges
    * are applied in rank order, each to a fixpoint, by literal
    * non-overlapping replace(' a b ' -> ' ab ') — the recursive CTE keeps
    * the rank when a pass changed the string (so the same merge re-applies
    * to occurrences that shared a boundary space) and advances when a pass
    * was the identity. Lowest-rank-first and rank-order-exhaustive are
    * equivalent for trained merge lists: a merge learned at rank k can only
    * build on symbols formed by ranks < k, so applying rank k never makes
    * a lower rank newly applicable. */
  def encodeOracleSql(merges: Seq[(String, Long)]): String = {
    val n = merges.length
    val mvals = merges.zipWithIndex.map { case ((p, _), i) =>
      s"($i, ${sqlLit(" " + p + " ")}, ${sqlLit(" " + p.replace(" ", "") + " ")})"
    }.mkString(",\n  ")
    s"""WITH RECURSIVE m(rank, pat, rep) AS (VALUES
       |  $mvals
       |),
       |toks AS (
       |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS wi
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                      x -> length(x) > 0) AS ws
       |        FROM documents)
       |),
       |enc(doc_id, wi, s, r) AS (
       |  SELECT doc_id, wi,
       |    ' ' || array_to_string(string_split(w, ''), ' ') || ' ', 0
       |  FROM toks
       |  UNION ALL
       |  SELECT e.doc_id, e.wi, replace(e.s, m.pat, m.rep),
       |    CASE WHEN replace(e.s, m.pat, m.rep) = e.s THEN e.r + 1 ELSE e.r END
       |  FROM enc e JOIN m ON m.rank = e.r
       |),
       |fin AS (
       |  SELECT doc_id, wi,
       |    list_filter(string_split(s, ' '), x -> length(x) > 0) AS subs
       |  FROM enc WHERE r = $n
       |),
       |agg AS (
       |  SELECT doc_id, CAST(sum(len(subs)) AS INT) AS n_subwords,
       |    CAST(count(*) AS INT) AS n_words,
       |    array_to_string(flatten(list(subs ORDER BY wi))[1:8], ' ') AS head_subwords
       |  FROM fin GROUP BY doc_id
       |)
       |SELECT d.doc_id, COALESCE(a.n_subwords, 0) AS n_subwords,
       |  COALESCE(a.n_words, 0) AS n_words,
       |  COALESCE(a.head_subwords, '') AS head_subwords
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }
}
