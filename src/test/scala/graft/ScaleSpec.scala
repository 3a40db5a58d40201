package graft

import org.apache.spark.sql.functions._
import graft.scale.Skew

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("ensureMinParallelism: widens narrow inputs, no-op on wide ones, value-neutral") {
    import spark.implicits._
    val narrow = (0L until 1000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    val par = spark.sparkContext.defaultParallelism
    // round-robin form widens to exactly `parts`
    val wideRR = Skew.ensureMinParallelism(narrow, par)
    assert(wideRR.rdd.getNumPartitions == par)
    // hash form widens too, and co-locates equal keys
    val wideHash = Skew.ensureMinParallelism(narrow, par, Seq(col("doc_id")))
    assert(wideHash.rdd.getNumPartitions == par)
    // value-neutral: same rows either way
    val exp = (0L until 1000L).map(i => (i, s"t$i")).toSet
    assert(wideRR.collect().map(r => (r.getLong(0), r.getString(1))).toSet == exp)
    assert(wideHash.collect().map(r => (r.getLong(0), r.getString(1))).toSet == exp)
    // an already-wide input passes through UNCHANGED — no repartition
    // node appears in the plan (the corpus-scale no-op contract)
    val alreadyWide = (0L until 1000L).toDF("id").repartition(par)
    val passthrough = Skew.ensureMinParallelism(alreadyWide, par)
    assert(passthrough.rdd.getNumPartitions == alreadyWide.rdd.getNumPartitions)
    assert(passthrough.queryExecution.analyzed eq alreadyWide.queryExecution.analyzed)
    // asking for more parts than cores still doesn't shuffle a frame
    // that already saturates the machine
    val atCores = (0L until 1000L).toDF("id").repartition(par)
    assert(Skew.ensureMinParallelism(atCores, par * 4)
      .queryExecution.analyzed eq atCores.queryExecution.analyzed)
  }

  /** Spark jobs started while `body` runs, counted by the stage meter
    * (its own job group, exact drain). */
  private def jobsRunBy(body: => Unit): Int =
    graft.tools.StageMeter(spark).measure("jobs-run-by")(body).jobs

  test("ensureMinParallelism probe: no job over a scan or curate's repetition filter; AQE runs the stages below") {
    val dir = java.nio.file.Files.createTempDirectory("graft-probe-jobs").toString
    graft.core.DocSynth.documents(spark, 200L).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val par = spark.sparkContext.defaultParallelism
    assert(jobsRunBy(Skew.ensureMinParallelism(scan, par)) == 0)
    val kept = graft.pipeline.Curation.repetitionFilter(scan, 0.55)
    assert(jobsRunBy(Skew.ensureMinParallelism(kept, par, Seq(col("doc_id")))) == 0)
    // control: over an aggregate the probe materializes its shuffle stage
    assert(jobsRunBy(Skew.ensureMinParallelism(
      scan.groupBy("source").count(), par)) >= 1)
  }

  test("embeddingsSkewed: mega class collapses to ONE list/bucket; caps exempt it, benign survives") {
    import graft.core.DocSynth
    import graft.pipeline.{IvfPqIndex, Similarity}
    val n = 2000L
    val emb = DocSynth.embeddingsSkewed(spark, n, nLabels = 20)
    // the class is EXACT duplicates (megaPpm=10%), so IVF assignment
    // ties land every member in one inverted list — the degenerate-list
    // posture the embskew smoke scales up
    val idx = IvfPqIndex.build(emb, nlist = 40, m = 4, ksub = 16)
    val listSizes = idx.codes.groupBy("cid").count()
      .collect().map(_.getLong(1)).sorted.reverse
    assert(listSizes.head >= n / 10 * 9 / 10, // ≥ ~90% of the 10% class
      s"mega class split across lists: top=${listSizes.head}")
    // banded LSH: the mega bucket is over ANY reasonable cap and is
    // dropped loudly; benign near-dup pairs survive the capped path
    val capped = Similarity.annLshBanded(emb, planes = 64, bands = 4,
      minCosine = 0.9, maxBucket = 150L)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // build the mega membership set via exact-duplicate grouping
    val megaSet = emb.groupBy("embedding").agg(
        collect_list("vec_id").as("ids"), count(lit(1)).as("c"))
      .filter(col("c") > 100)
      .select(explode(col("ids")))
      .collect().map(_.getLong(0)).toSet
    assert(megaSet.size >= 150, s"expected a mega class, got ${megaSet.size}")
    assert(!pairs.exists { case (a, b) => megaSet(a) && megaSet(b) },
      "capped LSH must drop the over-cap mega buckets")
    assert(pairs.nonEmpty, "benign near-dup pairs must survive the cap")
    // semDedup with maxCluster: the mega members are all KEPT (exempted
    // from comparison), so capping loses dedup recall, never data
    val kept = Similarity.semDedup(emb, nlist = 40, minCosine = 0.4,
        maxCluster = 150L)
      .collect().map(_.getLong(0)).toSet
    assert(megaSet.forall(kept), "maxCluster must exempt-and-keep the mega class")
  }

  test("tiledPairs equals the naive same-key self-join, hot and cold keys") {
    // one degenerate key with 57 rows (tiled into ceil(57/8)=8 tiles),
    // several cold keys (pass through untiled), ids deliberately NOT
    // aligned with row positions
    val rows = ((0 until 57).map(i => ((i * 37 + 11) % 1000 + 1000L, "hot")) ++
      (0 until 30).map(i => (i.toLong, s"cold${i % 7}"))).toDF("id", "key")
    val naive = rows.as("a").join(rows.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"))
    val tiled = Skew.tiledPairs(rows, "id", "key", targetTile = 8)
    assert(tiled.count() == naive.count()) // exactly-once, pre-distinct
    assert(tiled.exceptAll(naive).isEmpty && naive.exceptAll(tiled).isEmpty)
    // degenerate single-tile edge: target larger than every key
    val one = Skew.tiledPairs(rows, "id", "key", targetTile = 1000)
    assert(one.exceptAll(naive).isEmpty && naive.exceptAll(one).isEmpty)
  }

  test("tiledPairs carry: payload columns ride orientation-correctly") {
    // payload = a pure function of the id, so a swapped carry is
    // detectable on EVERY pair; same hot+cold key layout as above
    val rows = ((0 until 57).map(i => ((i * 37 + 11) % 1000 + 1000L, "hot")) ++
      (0 until 30).map(i => (i.toLong, s"cold${i % 7}")))
      .toDF("id", "key")
      .withColumn("sig", col("id") * 1000L + 7L)
    val tiled = Skew.tiledPairs(rows, "id", "key", targetTile = 8,
      carry = Seq("sig"))
    assert(tiled.columns.toSeq == Seq("a", "b", "a_sig", "b_sig"))
    val bad = tiled.filter(col("a_sig") =!= col("a") * 1000L + 7L ||
      col("b_sig") =!= col("b") * 1000L + 7L)
    assert(bad.isEmpty, bad.collect().take(5).mkString(","))
    // pair set unchanged by the carry
    val plain = Skew.tiledPairs(rows, "id", "key", targetTile = 8)
    assert(tiled.select("a", "b").exceptAll(plain).isEmpty &&
      plain.exceptAll(tiled.select("a", "b")).isEmpty)
  }

  test("tiled candidate generation equals the default path in all three generators") {
    import graft.pipeline.{Similarity, TextPipeline}
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0L until 40L).map { i =>
      (i, if (i % 3 == 0) base else s"unique doc $i words ${i * 7}")
    }.toDF("doc_id", "text")
    val mhPlain = TextPipeline.minhashCandidates(docs)
    val mhTiled = TextPipeline.minhashCandidates(docs, tileTarget = 4L)
    assert(mhTiled.exceptAll(mhPlain).isEmpty && mhPlain.exceptAll(mhTiled).isEmpty)
    val shPlain = TextPipeline.simhashCandidates(docs)
    val shTiled = TextPipeline.simhashCandidates(docs, tileTarget = 4L)
    assert(shTiled.exceptAll(shPlain).isEmpty && shPlain.exceptAll(shTiled).isEmpty)
    val emb = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (((i % 4) * 31 + d * 7) % 13 - 6).toFloat / 6f + i.toFloat / 5000f))
    }.toDF("vec_id", "embedding")
    val lshPlain = Similarity.annLshBanded(emb, planes = 8, bands = 2, minCosine = 0.8)
    val lshTiled = Similarity.annLshBanded(emb, planes = 8, bands = 2,
      minCosine = 0.8, tileTarget = 4L)
    assert(lshTiled.exceptAll(lshPlain).isEmpty && lshPlain.exceptAll(lshTiled).isEmpty)
    val ndPlain = TextPipeline.nearDupJaccard(docs, n = 2, minJaccard = 0.1)
    val ndTiled = TextPipeline.nearDupJaccard(docs, n = 2, minJaccard = 0.1,
      tileTarget = 4L)
    assert(ndTiled.exceptAll(ndPlain).isEmpty && ndPlain.exceptAll(ndTiled).isEmpty)
    assert(lshPlain.count() > 0 && shPlain.count() > 0 && mhPlain.count() > 0 &&
      ndPlain.count() > 0)
  }

  test("bloom prune: no false negatives, codegen'd probe, real pruning") {
    import graft.scale.Bloom
    val small = (0L until 500L).map(i => i * 7 + 3).toDF("k")
    // range source, not a LocalRelation — ConvertToLocalRelation would
    // constant-fold the probe out of a Seq-backed frame's plan
    val large = spark.range(20000L).toDF("key")
    val pruned = Bloom.prune(large, col("key"), small, col("k"))
    // the probe is the native Catalyst expression, evaluated in the plan
    assert(pruned.queryExecution.executedPlan.toString
      .contains("might_contain"))
    val exact = large.join(small.withColumnRenamed("k", "key"),
      Seq("key"), "left_semi")
    // superset (no false negatives) …
    assert(exact.exceptAll(pruned).isEmpty)
    // … and genuinely pruning: ~500 matches + fpp·20000 stragglers
    val n = pruned.count()
    assert(n >= 500 && n < 2000, s"pruned to $n rows")
  }

  test("bloom semi/anti joins equal the plain joins exactly") {
    import graft.scale.Bloom
    val small = ((0L until 300L).map(i => i * 3) :+ 5L).toDF("k")
    val large = (0L until 5000L).map(i => (i, s"p$i")).toDF("key", "payload")
    val semi = Bloom.semiJoin(large, small, "key", "k")
    val semiRef = large.join(small.withColumnRenamed("k", "key"),
      Seq("key"), "left_semi")
    assert(semi.exceptAll(semiRef).isEmpty && semiRef.exceptAll(semi).isEmpty)
    val anti = Bloom.antiJoin(large, small, "key", "k")
    val antiRef = large.join(small.withColumnRenamed("k", "key"),
      Seq("key"), "left_anti")
    assert(anti.exceptAll(antiRef).isEmpty && antiRef.exceptAll(anti).isEmpty)
    assert(semi.count() + anti.count() == 5000)
  }

  test("interleaveBits matches a bit-for-bit reference") {
    import graft.scale.Layout
    def ref(xs: Seq[Long], bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, b) =>
        xs.zipWithIndex.foldLeft(acc) { case (a, (x, i)) =>
          a | (((x >> b) & 1L) << (b * xs.size + i))
        }
      }
    val rows = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val out = rows.toDF("x", "y")
      .withColumn("z", Layout.interleaveBits(Seq(col("x"), col("y")), 4))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for ((x, y) <- rows)
      assert(out((x, y)) == ref(Seq(x, y), 4), s"($x,$y)")
    // three columns, wider keys
    val z3 = Seq((1000L, 65535L, 12345L)).toDF("a", "b", "c")
      .select(Layout.interleaveBits(Seq(col("a"), col("b"), col("c")), 16))
      .head.getLong(0)
    assert(z3 == ref(Seq(1000L, 65535L, 12345L), 16))
  }

  test("zorder clusters both dimensions; rows are untouched") {
    import graft.scale.Layout
    // uniform 2-d grid, shuffled arrival order
    val rows = (0 until 4096).map { i =>
      val x = (i * 2654435761L) % 1024
      val y = (i * 40503L) % 1024
      (i.toLong, x, y)
    }
    val df = rows.toDF("id", "x", "y").repartition(16)
    val z = Layout.zorder(df, Seq("x", "y"), partitions = 16, bits = 10)
    // pure layout: same multiset of rows
    assert(z.exceptAll(df).isEmpty && df.exceptAll(z).isEmpty)
    // skipping power: count partitions whose [min,max] box intersects a
    // small query box, for z-order vs linear sort on id (append order)
    def touched(frame: org.apache.spark.sql.DataFrame): Long =
      frame.groupBy(spark_partition_id())
        .agg(min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .filter(col("min_x") <= 256 && col("max_x") >= 0 &&
          col("min_y") <= 256 && col("max_y") >= 0)
        .count()
    val zTouched = touched(z)
    val linear = df.repartitionByRange(16, col("id"))
    val linTouched = touched(linear)
    assert(linTouched >= 14, s"append-order layout should touch ~all: $linTouched")
    assert(zTouched <= linTouched / 2,
      s"z-order should skip most partitions: $zTouched vs $linTouched")
  }

  test("bloom edge cases: empty small side, zorder constant column") {
    import graft.scale.{Bloom, Layout}
    val large = (0L until 100L).map(i => (i, s"p$i")).toDF("key", "payload")
    val empty = Seq.empty[Long].toDF("k")
    // empty membership set: semi keeps nothing, anti keeps everything
    assert(Bloom.semiJoin(large, empty, "key", "k").count() == 0)
    assert(Bloom.antiJoin(large, empty, "key", "k").count() == 100)
    // a constant z-order column scales to 0 and the key degrades to the
    // remaining dimension's interleave — rows still all preserved
    val const = (0L until 64L).map(i => (i, 7L)).toDF("x", "c")
    val z = Layout.zorder(const, Seq("x", "c"), partitions = 4, bits = 6)
    assert(z.exceptAll(const).isEmpty && const.exceptAll(z).isEmpty)
    // empty frame: min/max are null — must degrade, not NPE
    assert(Layout.zorder(const.limit(0), Seq("x", "c"),
      partitions = 2, bits = 6).count() == 0)
  }

  test("Ids.assign: contiguous row_number semantics, no single-partition window") {
    import graft.scale.Ids
    // ids arrive scrambled and skewed across partitions
    val df = (0 until 5000).map(i => ((i * 2654435761L) % 100000L, s"p$i"))
      .toDF("key", "payload").repartition(16)
    val out = Ids.assign(df, Seq("key"), partitions = 8)
    val rows = out.orderBy("row_id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.map(_._2).toSeq == (0L until 5000L), "ids not contiguous")
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq,
      "ids not in key order")
    // windows in the plan must all be PARTITIONED (the trap is the
    // empty partition spec that funnels the corpus through one task)
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "Ids.assign must rank via a partitioned window")
    // ...and must stay in Tungsten: no RDD round-trip (row re-encoding,
    // broken lineage for AQE) anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD") && !plan.contains("Scan RDD"),
      "Ids.assign left Tungsten via an RDD scan")
    // deterministic across runs
    val again = Ids.assign(df, Seq("key"), partitions = 8)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("Ids.prefixSum: exclusive running sum equals the window oracle") {
    import graft.scale.Ids
    // scrambled order, skewed weights (incl. zeros), unique key
    val df = (0 until 3000).map { i =>
      val key = (i * 2654435761L) % 1000000L
      (key, (key % 7) * (key % 13), s"p$i")
    }.toDF("key", "w", "payload").repartition(16)
    val out = Ids.prefixSum(df, Seq("key"), col("w"), "off", partitions = 8)
    // in-test oracle: the single-partition window form on collected rows
    val rows = df.select("key", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expect = rows.zip(rows.scanLeft(0L)(_ + _._2)).map {
      case ((k, _), off) => k -> off
    }.toMap
    val got = out.select("key", "off").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // same partitioned-window / in-Tungsten guarantees as assign
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
    assert(!out.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = java.nio.file.Paths.get("spark-warehouse")
    try {
      val left = (0L until 500L).map(i => (i, s"l$i")).toDF("id", "l")
      val right = (0L until 500L).map(i => (i, i * 2)).toDF("id", "r")
      for ((df, table) <- Seq(left -> "bk_left", right -> "bk_right"))
        df.write.mode("overwrite").bucketBy(8, "id").sortBy("id")
          .saveAsTable(table)
      // force sort-merge (tiny inputs would broadcast, which has no hash
      // exchange either and would prove nothing about bucketing)
      val joined = spark.table("bk_left").hint("merge")
        .join(spark.table("bk_right"), "id")
      assert(joined.count() == 500)
      assert(Skew.hasNoShuffle(joined),
        "bucketed join should have no hashpartitioning exchange:\n" +
          joined.queryExecution.executedPlan.toString)
      // contrast: the same join as sort-merge on plain tables needs a
      // shuffle (hint forces SMJ — tiny inputs would broadcast otherwise)
      val plain = left.hint("merge").join(right, "id")
      assert(!Skew.hasNoShuffle(plain))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_left")
      spark.sql("DROP TABLE IF EXISTS bk_right")
      if (java.nio.file.Files.exists(wh)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(wh).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("Sketches: rollup of a fine layer equals exact distincts at coupon-mode cardinality") {
    import graft.scale.Sketches
    import org.apache.spark.sql.functions._
    // 3 keys × 10 days, ~200 distinct users per key — well inside the
    // sketch's exact (coupon) regime at lgK=12
    val df = (0 until 6000).map { i =>
      (s"k${i % 3}", (i / 600).toLong, (i * 7919L) % 200 + (i % 3) * 1000L)
    }.toDF("key", "day", "user")
    val layer = Sketches.buildLayer(df, Seq(col("key"), col("day")), col("user"))
    val est = rowsOf(Sketches.rollup(layer, Seq(col("key"))))
      .map(r => r("key") -> r("distinct_est")).toMap
    val exact = rowsOf(df.groupBy("key").agg(count_distinct(col("user")).as("v")))
      .map(r => r("key") -> r("v")).toMap
    assert(est == exact)
    // two-level rollup kept as sketches, then estimated — same answer
    val l2 = Sketches.rollupSketches(layer, Seq(col("key")))
    val est2 = rowsOf(l2.select(col("key"),
        Sketches.estimate(col("sketch")).as("v")))
      .map(r => r("key") -> r("v")).toMap
    assert(est2 == exact)
  }

  test("Sketches: estimate stays within HLL error at large cardinality") {
    import graft.scale.Sketches
    import org.apache.spark.sql.functions._
    val n = 60000
    val df = (0 until n).map(i => ("k", i.toLong)).toDF("key", "user")
    val layer = Sketches.buildLayer(df, Seq(col("key")), col("user"))
    val est = rowsOf(Sketches.rollup(layer, Seq(col("key"))))
      .head("distinct_est").asInstanceOf[Long]
    // 1.04/sqrt(2^12) ≈ 1.6% std error; allow 5%
    assert(math.abs(est - n.toDouble) / n < 0.05, s"est=$est exact=$n")
  }

  test("Sketches: persisted layer survives parquet and appends commute") {
    import graft.scale.Sketches
    import org.apache.spark.sql.functions._
    val a = (0 until 3000).map(i => ("k", (i * 13L) % 250)).toDF("key", "user")
    val b = (0 until 3000).map(i => ("k", (i * 17L) % 300)).toDF("key", "user")
    val dir = java.nio.file.Files.createTempDirectory("sketch").toString
    // day-1 and day-2 layers written separately (the incremental path)
    Sketches.buildLayer(a, Seq(col("key")), col("user"))
      .withColumn("day", lit(1L)).write.mode("overwrite").parquet(s"$dir/d1")
    Sketches.buildLayer(b, Seq(col("key")), col("user"))
      .withColumn("day", lit(2L)).write.mode("overwrite").parquet(s"$dir/d2")
    val layer = spark.read.parquet(s"$dir/d1").unionByName(
      spark.read.parquet(s"$dir/d2"))
    val est = rowsOf(Sketches.rollup(layer, Seq(col("key"))))
      .head("distinct_est")
    val exact = rowsOf(a.unionByName(b).groupBy("key")
      .agg(count_distinct(col("user")).as("v"))).head("v")
    assert(est == exact) // 300 distinct: still coupon-exact (the sketch
    // promotes to estimating HLL mode near 3/4 * 2^(lgK-3) ~ 384 at
    // lgK=12), and the union over two independently persisted sketches
    // loses nothing
  }

  test("Sketches incremental store: appends accumulate, replays are idempotent, compact is value-neutral") {
    import graft.scale.Sketches
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("sketchstore").toString + "/layer"
    val b1 = (0 until 2000).map(i => (s"k${i % 2}", (i * 13L) % 150)).toDF("key", "user")
    val b2 = (0 until 2000).map(i => (s"k${i % 2}", (i * 7L) % 260)).toDF("key", "user")
    Sketches.ingest(dir, b1, Seq(col("key")), col("user"))
    Sketches.ingest(dir, b2, Seq(col("key")), col("user"))
    def est() = rowsOf(Sketches.rollup(Sketches.readLayer(spark, dir), Seq(col("key"))))
      .map(r => r("key") -> r("distinct_est")).toMap
    val exact = rowsOf(b1.unionByName(b2).groupBy("key")
      .agg(count_distinct(col("user")).as("v")))
      .map(r => r("key") -> r("v")).toMap
    assert(est() == exact) // 260 distinct per key: coupon-exact
    // replayed batch (at-least-once delivery) changes nothing
    Sketches.ingest(dir, b2, Seq(col("key")), col("user"))
    assert(est() == exact)
    // a crashed prior rewrite leaves stale temp/old siblings — the next
    // compact must clear them and still succeed
    val parentDir = new java.io.File(dir).getParentFile
    new java.io.File(parentDir, ".rewrite_layer/garbage").mkdirs()
    new java.io.File(parentDir, ".old_layer/garbage").mkdirs()
    // compaction rewrites to one sketch per bucket, same answers
    Sketches.compact(spark, dir)
    assert(est() == exact)
    assert(rowsOf(spark.read.parquet(dir).groupBy("key")
      .agg(count(lit(1)).as("n"))).forall(_("n") == 1L))
    // crash-safe rewrite hygiene: temp sibling swapped in, no leftovers
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles.exists(f =>
      f.getName.startsWith(".rewrite_") || f.getName.startsWith(".old_")))
  }

  test("store swap: a failed rename throws with recovery guidance, never silently corrupts") {
    import org.apache.hadoop.fs.Path
    // a FileSystem whose rename always REPORTS failure (Hadoop's
    // contract: boolean false, no exception) — the case the checked
    // swap exists for
    val conf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files.createTempDirectory("swapfail").toString
    new java.io.File(s"$base/store").mkdirs()
    new java.io.File(s"$base/tmp").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/tmp/part-0"), "x")
    val failing = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    failing.initialize(new java.net.URI("file:///"), conf)
    val err = intercept[java.io.IOException] {
      graft.scale.Stores.swapPartition(failing,
        new Path(s"$base/store"), new Path(s"$base/tmp"))
    }
    // first-phase failure names the untouched store and the preserved copy
    assert(err.getMessage.contains("untouched"), err.getMessage)
    // and nothing moved or vanished
    assert(new java.io.File(s"$base/store").exists)
    assert(new java.io.File(s"$base/tmp/part-0").exists)
  }

  test("store swap: crash between the two renames is recoverable, a blind retry refuses to destroy the only copy") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val base = java.nio.file.Files.createTempDirectory("swapcrash").toString
    new java.io.File(s"$base/store").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/store/part-0"), "precrash")
    new java.io.File(s"$base/tmp").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/tmp/part-1"), "rewrite")
    // a FileSystem that dies (throws) on its SECOND rename — i.e. the
    // process is killed after `store` moved to `.old_store` but before
    // `tmp` moved in: the exact interleaving the .old_ sibling exists for
    var renames = 0
    val crashing = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: Path, dst: Path): Boolean = {
        renames += 1
        if (renames >= 2) throw new RuntimeException("simulated crash")
        super.rename(src, dst)
      }
    }
    crashing.initialize(new java.net.URI("file:///"), conf)
    intercept[RuntimeException] {
      graft.scale.Stores.swapPartition(crashing,
        new Path(s"$base/store"), new Path(s"$base/tmp"))
    }
    // the documented post-crash state: store gone, .old_ holds the rows
    assert(!new java.io.File(s"$base/store").exists)
    assert(new java.io.File(s"$base/.old_store/part-0").exists)
    val real = new Path(s"$base/store")
      .getFileSystem(conf)
    // a blind retry (tmp rebuilt from a store read that MISSED the
    // stranded rows) must refuse rather than delete the only copy
    new java.io.File(s"$base/tmp2").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/tmp2/part-2"), "incomplete rewrite")
    val err = intercept[java.io.IOException] {
      graft.scale.Stores.swapPartition(real,
        new Path(s"$base/store"), new Path(s"$base/tmp2"))
    }
    assert(err.getMessage.contains("interrupted prior swap"), err.getMessage)
    assert(new java.io.File(s"$base/.old_store/part-0").exists) // preserved
    // recovery rolls the partition back...
    assert(graft.scale.Stores.recoverInterruptedSwaps(real, new Path(base)) == 1)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/store/part-0")) == "precrash")
    assert(!new java.io.File(s"$base/.old_store").exists)
    // ...and is idempotent
    assert(graft.scale.Stores.recoverInterruptedSwaps(real, new Path(base)) == 0)
    // after recovery a normal swap (rewrite rebuilt from the FULL store)
    // completes and leaves no siblings
    graft.scale.Stores.swapPartition(real,
      new Path(s"$base/store"), new Path(s"$base/tmp2"))
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/store/part-2")) == "incomplete rewrite")
    assert(!new java.io.File(s"$base/.old_store").exists)
    // a crash AFTER the second rename strands a completed-swap .old_;
    // recovery classifies it as garbage and drops it without touching
    // the live partition
    new java.io.File(s"$base/.old_store").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/.old_store/stale"), "x")
    assert(graft.scale.Stores.recoverInterruptedSwaps(real, new Path(base)) == 0)
    assert(!new java.io.File(s"$base/.old_store").exists)
    assert(new java.io.File(s"$base/store/part-2").exists)
  }

  test("rewriteAtomically: an interrupted prior rewrite is resumed before the plan reads the store") {
    val base = java.nio.file.Files.createTempDirectory("rewrite_crash").toString
    val dir = s"$base/store"
    // the crash-between-renames state rewriteAtomically itself can leave:
    // root missing, `.old_store` holding the only copy of the rows
    spark.range(5).toDF("v").write.parquet(s"$base/.old_store")
    // the natural retry: the result plan reads the store ITSELF — the
    // by-name parameter means recovery runs before this read resolves
    // (eager evaluation would die on the missing path)
    graft.scale.Stores.rewriteAtomically(spark, dir,
      spark.read.parquet(dir).filter(col("v") >= 1))
    val got = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L))
    assert(!new java.io.File(s"$base/.old_store").exists)
    assert(!new java.io.File(s"$base/.rewrite_store").exists)
  }

  test("Layout compaction: report finds small-file partitions; rewrite is value-neutral and scoped") {
    import graft.scale.Layout
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // day=a written in 8 tiny files, day=b in 1 — only a needs compaction
    (0 until 800).map(i => (i.toLong, s"p$i", "a")).toDF("id", "v", "day")
      .repartition(8).write.partitionBy("day").mode("overwrite").parquet(dir)
    (0 until 100).map(i => (1000L + i, s"q$i", "b")).toDF("id", "v", "day")
      .coalesce(1).write.partitionBy("day").mode("append").parquet(dir)
    val report = rowsOf(Layout.compactionReport(spark, dir,
      smallBytes = 1L << 20, targetBytes = 1L << 20))
    assert(report.map(_("partition")) == Seq("day=a"))
    assert(report.head("files") == 8L && report.head("target_files") == 1L)
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    def bFiles = new java.io.File(s"$dir/day=b").listFiles.map(_.getName).toSet
    val bBefore = bFiles
    Layout.compactPartitions(spark, dir, Seq("day=a"), targetBytes = 1L << 20)
    // value-neutral, day=a now one file, day=b untouched
    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(after == before)
    assert(new java.io.File(s"$dir/day=a").listFiles
      .count(_.getName.endsWith(".parquet")) == 1)
    assert(bFiles == bBefore)
  }

  test("Layout compaction: whole-store recovery never touches sibling stores' .old_ entries") {
    import graft.scale.Layout
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files.createTempDirectory("siblings").toString
    val storeA = s"$base/storeA"
    val storeB = s"$base/storeB"
    (0 until 100).map(i => (i.toLong, s"a$i")).toDF("id", "v")
      .repartition(4).write.parquet(storeA)
    (0 until 10).map(i => (i.toLong, s"b$i")).toDF("id", "v")
      .coalesce(1).write.parquet(storeB)
    val fs = new Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate a SIBLING store (storeB) mid-rewriteAtomically: its rows
    // renamed away to .old_storeB between the two renames. Whole-store
    // compaction of storeA lists partitions = Seq("") — its recovery
    // must be scoped to .old_storeA and leave the sibling's crash
    // evidence exactly as found (the r14 ADVICE race: sweeping base
    // would rename .old_storeB -> storeB under the concurrent rewriter)
    fs.rename(new Path(storeB), new Path(base, ".old_storeB"))
    Layout.compactPartitions(spark, storeA, Seq(""), targetBytes = 1L << 20)
    assert(fs.exists(new Path(base, ".old_storeB")))
    assert(!fs.exists(new Path(storeB)))
    assert(spark.read.parquet(storeA).count() == 100L)
    // and the whole-store case still recovers ITS OWN interrupted swap
    fs.rename(new Path(storeA), new Path(base, ".old_storeA"))
    Layout.compactPartitions(spark, storeA, Seq(""), targetBytes = 1L << 20)
    assert(spark.read.parquet(storeA).count() == 100L)
    assert(fs.exists(new Path(base, ".old_storeB"))) // still untouched
  }

  test("Graphs.pageRank: nano-unit iterations match an in-memory reference; plan stays bounded") {
    import graft.scale.Graphs
    // star into 0 plus a 2-cycle and a dangling sink
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L), (1L, 2L), (4L, 5L))
      .toDF("src", "dst")
    val out = rowsOf(Graphs.pageRank(edges, iters = 3, dampingPct = 85))
      .map(r => r("node") -> r("rank_u").asInstanceOf[Long]).toMap
    // reference: same integer floor arithmetic
    val e = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L), (1L, 2L), (4L, 5L))
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val baseU = (1000000000L * 15L / 100L) / n
    var r = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 0 until 3) {
      val mass = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / outdeg(u) }.sum).toMap
      r = nodes.map(v => v -> (baseU + mass.getOrElse(v, 0L) * 85L / 100L)).toMap
    }
    assert(out == r, s"$out vs $r")
    // the hub received the star's mass; the dangling sink only base
    assert(out(0L) > out(5L) * 2)
    // lineage is cut per iteration: a 12-iteration run must not blow up
    val deep = Graphs.pageRank(edges, iters = 12)
    assert(deep.queryExecution.executedPlan.toString.linesIterator.size < 60)
  }

  test("Sketches: intersection estimate and retention from the layer alone") {
    import graft.scale.Sketches
    // day d users: [100d, 100d + 180) — overlap of 80 between days
    val df = (0 until 3).flatMap { d =>
      (0 until 180).map(u => ("k", d.toLong, (100 * d + u).toLong))
    }.toDF("key", "day", "user")
    val layer = Sketches.buildLayer(df, Seq(col("key"), col("day")), col("user"))
    val ret = rowsOf(Sketches.retention(layer, col("key"), col("day")))
      .map(r => r("bucket") -> (r("base"), r("next_base"), r("returning"))).toMap
    // coupon-exact regime: inclusion-exclusion is exact here
    assert(ret(0L) == ((180L, 180L, 80L)), ret)
    assert(ret(1L) == ((180L, 180L, 80L)), ret)
    // disjoint sets intersect to zero (greatest() clamps small negatives)
    val d0 = layer.filter(col("day") === 0).select(col("sketch").as("a"))
    val far = Sketches.buildLayer(
      (0 until 100).map(u => ("k", (90000 + u).toLong)).toDF("key", "user"),
      Seq(col("key")), col("user")).select(col("sketch").as("b"))
    val z = rowsOf(d0.crossJoin(far)
      .select(Sketches.intersectEstimate(col("a"), col("b")).as("i")))
      .head("i").asInstanceOf[Long]
    assert(z == 0L)
  }

  test("Sketches: streaming foreachBatch maintains the store, estimates exact") {
    import graft.scale.Sketches
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sksink").toString + "/layer"
    val ms = MemoryStream[(String, Long)]
    ms.addData((0 until 200).map(i => (s"k${i % 2}", (i * 3L) % 120)): _*)
    ms.addData((0 until 200).map(i => (s"k${i % 2}", (i * 7L) % 200)): _*)
    val q = ms.toDF().toDF("key", "user")
      .writeStream
      .foreachBatch(Sketches.streamIngest(dir, Seq(col("key")), col("user")))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("skck").toString)
      .start()
    q.awaitTermination(60000)
    val est = rowsOf(Sketches.rollup(Sketches.readLayer(spark, dir),
        Seq(col("key"))))
      .map(r => r("key") -> r("distinct_est")).toMap
    val exact = ((0 until 200).map(i => (s"k${i % 2}", (i * 3L) % 120)) ++
      (0 until 200).map(i => (s"k${i % 2}", (i * 7L) % 200)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    assert(est == exact, s"$est vs $exact")
  }

  test("FreqSketches: rollup of per-bucket sketches is bit-identical to the direct sketch") {
    import graft.scale.FreqSketches
    val df = (0 until 8000).map { i =>
      (s"k${i % 4}", (i / 2000).toLong, s"item${(i * 7919) % 97}")
    }.toDF("key", "day", "item")
    val fine = FreqSketches.buildLayer(df,
      Seq(col("key"), col("day")), col("item"), eps = 0.005)
    val rolled = rowsOf(FreqSketches.rollupSketches(fine, Seq(col("key"))))
      .map(r => r("key") -> r("sketch").asInstanceOf[Array[Byte]]).toMap
    val direct = rowsOf(FreqSketches.buildLayer(df, Seq(col("key")), col("item"),
        eps = 0.005))
      .map(r => r("key") -> r("sketch").asInstanceOf[Array[Byte]]).toMap
    assert(rolled.keySet == direct.keySet)
    rolled.keySet.foreach { k =>
      assert(java.util.Arrays.equals(rolled(k), direct(k)),
        s"merged sketch differs from direct for $k")
    }
  }

  test("FreqSketches: estimates never under-count and match exactly at low collision load") {
    import graft.scale.FreqSketches
    val df = (0 until 10000).map(i => ("g", s"item${(i * 13) % 200}"))
      .toDF("key", "item")
    val layer = FreqSketches.buildLayer(df, Seq(col("key")), col("item"))
    val probes = (0 until 200).map(i => s"item$i").toDF("item")
    val est = rowsOf(probes.crossJoin(broadcast(layer.select("sketch")))
        .select(col("item"), FreqSketches.estimate(col("sketch"), col("item"))
          .as("est")))
      .map(r => r("item") -> r("est").asInstanceOf[Long]).toMap
    val exact = rowsOf(df.groupBy("item").agg(count(lit(1)).as("n")))
      .map(r => r("item") -> r("n").asInstanceOf[Long]).toMap
    exact.foreach { case (item, n) =>
      assert(est(item) >= n, s"$item undercounted")
    }
    // width 2000 ≫ 200 distinct: exact with overwhelming probability
    assert(est == exact)
    // long items go through the same path
    val dl = (0L until 500L).map(i => ("g", i % 50)).toDF("key", "item")
    val ll = FreqSketches.buildLayer(dl, Seq(col("key")), col("item"))
    val le = rowsOf(ll.select(
      FreqSketches.estimate(col("sketch"), lit(7L)).as("e"))).head("e")
    assert(le == 10L)
  }

  test("FreqSketches: heavy hitters recover the true top-k; store round-trips") {
    import graft.scale.FreqSketches
    // zipf-ish: item j appears ~ 4000/j times within each of 3 buckets
    val rows = for {
      b <- 0 until 3
      j <- 1 to 40
      _ <- 0 until (120 / j)
    } yield (s"b$b", s"item$j")
    val df = rows.toDF("key", "item")
    val dir = java.nio.file.Files.createTempDirectory("cms").toString + "/layer"
    FreqSketches.ingest(dir, df, Seq(col("key")), col("item"))
    val layer = FreqSketches.readLayer(spark, dir)
    val top = rowsOf(FreqSketches.heavyHitters(layer, df, Seq(col("key")),
      col("item"), k = 5, perBucket = 10))
    assert(top.map(_("item")) == (1 to 5).map(i => s"item$i"))
    assert(top.head("est_count") == 3L * 120L)
    FreqSketches.compact(spark, dir)
    val top2 = rowsOf(FreqSketches.heavyHitters(FreqSketches.readLayer(spark, dir),
      df, Seq(col("key")), col("item"), k = 5, perBucket = 10))
    assert(top2 == top)
    // mixed geometry must throw (IncompatibleMergeException), not corrupt
    // — read the store fresh: `layer` still points at pre-compact files
    val fresh = FreqSketches.readLayer(spark, dir)
    val other = FreqSketches.buildLayer(df, Seq(col("key")), col("item"),
      eps = 0.01)
    val ex = intercept[org.apache.spark.SparkException] {
      FreqSketches.rollupSketches(
        fresh.select("sketch").unionByName(other.select("sketch")),
        Seq(lit(1))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(
      _.isInstanceOf[org.apache.spark.util.sketch.IncompatibleMergeException]),
      ex.toString)
  }

  test("QuantileSketches: rank-bounded answers, rollup matches whole-data sketch bound, store round-trips") {
    import graft.scale.QuantileSketches
    // 3 buckets × 4000 values with different scales per bucket
    val df = (0 until 12000).map { i =>
      val day = i % 3
      (day.toLong, ((i * 7919) % 4000).toDouble * (day + 1))
    }.toDF("day", "x")
    val layer = QuantileSketches.buildLayer(df, Seq(col("day")), col("x"),
      relativeError = 0.01)
    // per-bucket p50 within rank bound: value's true rank within 1%+slack
    val p = rowsOf(QuantileSketches.percentiles(layer, Seq(0.5)))
      .map(r => r("day") -> r("p50").asInstanceOf[Double]).toMap
    val sorted = (0 until 3).map { d =>
      d.toLong -> (0 until 12000).collect {
        case i if i % 3 == d => ((i * 7919) % 4000).toDouble * (d + 1)
      }.sorted
    }.toMap
    p.foreach { case (d, v) =>
      val vs = sorted(d.asInstanceOf[Long])
      val rank = vs.count(_ <= v).toDouble / vs.size
      assert(math.abs(rank - 0.5) <= 0.02, s"day $d p50=$v rank=$rank")
    }
    // global rollup answers within the (additive) bound too
    val global = QuantileSketches.rollupSketches(layer, Seq(lit(1).as("g")))
    val g50 = rowsOf(QuantileSketches.percentiles(global, Seq(0.5)))
      .head("p50").asInstanceOf[Double]
    val all = sorted.values.flatten.toSeq.sorted
    val gRank = all.count(_ <= g50).toDouble / all.size
    assert(math.abs(gRank - 0.5) <= 0.04, s"global p50=$g50 rank=$gRank")
    // store: ingest two batches, read, compact — answers stay rank-bounded
    val dir = java.nio.file.Files.createTempDirectory("qsk").toString + "/layer"
    val (b1, b2) = (df.filter(col("x") < 4000), df.filter(col("x") >= 4000))
    QuantileSketches.ingest(dir, b1, Seq(col("day")), col("x"))
    QuantileSketches.ingest(dir, b2, Seq(col("day")), col("x"))
    QuantileSketches.compact(spark, dir)
    val p2 = rowsOf(QuantileSketches.percentiles(
        QuantileSketches.readLayer(spark, dir), Seq(0.5)))
      .map(r => r("day") -> r("p50").asInstanceOf[Double]).toMap
    p2.foreach { case (d, v) =>
      val vs = sorted(d.asInstanceOf[Long])
      val rank = vs.count(_ <= v).toDouble / vs.size
      assert(math.abs(rank - 0.5) <= 0.04, s"store day $d p50=$v rank=$rank")
    }
    // codec: explicit format survives a write/read cycle bit-for-bit
    val bytes = rowsOf(layer.limit(1)).head("sketch").asInstanceOf[Array[Byte]]
    val rt = graft.expressions.QuantileCodec.write(
      graft.expressions.QuantileCodec.read(bytes))
    assert(java.util.Arrays.equals(bytes, rt))
  }

  test("QuantileSketches: SQL-registered functions answer from a persisted layer") {
    import graft.scale.QuantileSketches
    graft.expressions.GraftFunctions.register(spark)
    val df = (0 until 5000).map(i => ("g", (i % 1000).toDouble)).toDF("key", "x")
    QuantileSketches.buildLayer(df, Seq(col("key")), col("x"))
      .createOrReplaceTempView("qlayer")
    df.createOrReplaceTempView("qlayer_raw")
    // natural literal spelling: 0.9 parses as DECIMAL and must coerce
    // (ImplicitCastInputTypes), no CAST workaround
    val r = spark.sql(
      """SELECT key, quantile_sketch_query(
        |  quantile_sketch_merge(sketch), 0.9) AS p90
        |FROM qlayer GROUP BY key""".stripMargin).collect()
    assert(r.length == 1)
    assert(math.abs(r.head.getDouble(1) - 900.0) <= 20.0, r.head.getDouble(1))
    // quantile_sketch's relative-error arg likewise takes 0.01 as written
    val agg = spark.sql(
      "SELECT quantile_sketch_query(quantile_sketch(x, 0.01), 0.5) FROM qlayer_raw")
    assert(math.abs(agg.collect().head.getDouble(0) - 500.0) <= 20.0)
    // cms_estimate accepts an INT item literal (widens to bigint)
    val cms = spark.sql(
      """SELECT cms_estimate(cms_merge(sk), 42) AS est FROM (
        |  SELECT count_min_sketch(v, 0.001d, 0.99d, 1) AS sk
        |  FROM (SELECT CAST(42 AS BIGINT) AS v FROM range(100)))"""
        .stripMargin).collect()
    assert(cms.head.getLong(0) == 100L, cms.head.getLong(0))
    // ...but a STRING posing as the sketch stays an ANALYSIS error —
    // literal-friendliness must not come from implicit casts that would
    // route text into the binary deserializer at runtime
    val err = intercept[Exception] {
      spark.sql("SELECT quantile_sketch_query('not a sketch', 0.5)").collect()
    }
    assert(err.getMessage.contains("binary sketch"), err.getMessage)
    val err2 = intercept[Exception] {
      spark.sql("SELECT cms_estimate('not a sketch', 42)").collect()
    }
    assert(err2.getMessage.contains("binary sketch"), err2.getMessage)
  }

  test("Observe: gate in/out metrics ride one job, values exact") {
    import graft.scale.Observe
    val df = (0 until 5000).map(i => (i.toLong, i % 10)).toDF("id", "score")
    val gated = Observe.counted(df, "gate_in")
      .filter(col("score") >= 7)
    val instrumented = Observe.metrics(gated, "gate_out",
      count(lit(1)).as("rows"), sum("score").as("score_sum"))
    val (n, m) = Observe.collect(spark, expected = 2) {
      instrumented.write.mode("overwrite")
        .parquet(java.nio.file.Files.createTempDirectory("obs").toString + "/out")
      ()
    }
    assert(m.contains("gate_in") && m.contains("gate_out"), m.keys.toSeq)
    assert(m("gate_in").getAs[Long]("rows") == 5000L)
    assert(m("gate_out").getAs[Long]("rows") == 1500L)
    assert(m("gate_out").getAs[Long]("score_sum") == (7L + 8L + 9L) * 500L)
    // streaming face: the same observe surfaces in progress.observedMetrics
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val ms = MemoryStream[Long]
    ms.addData(1L to 100L: _*)
    val q = Observe.counted(ms.toDF(), "stream_in")
      .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val prog = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("stream_in")))
    assert(prog.exists(_.getAs[Long]("rows") == 100L), prog.toSeq)
  }

  test("Sketches: layer build is one hash aggregate with map-side partials") {
    import graft.scale.Sketches
    import org.apache.spark.sql.functions._
    val df = (0 until 1000).map(i => (s"k${i % 4}", i.toLong)).toDF("key", "user")
    val plan = Sketches.buildLayer(df, Seq(col("key")), col("user"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_hll_sketch_agg"), plan)
  }

  test("Checks: report values, verdicts, and the failing-constraint path") {
    import graft.scale.Checks
    // 10 rows: one null text, one duplicate id, lengths 10..100
    val df = ((1 to 9).map(i => (i.toLong, "x" * (i * 10), i * 10)) :+
      (9L, null.asInstanceOf[String], 100)).toDF("doc_id", "text", "n")
    val rep = Checks.report(spark, df, Seq(
      Checks.size(10, 10),
      Checks.completeness("text", 0.95),      // 0.9 → FAIL
      Checks.uniqueness(0.95, "doc_id"),      // 0.9 → FAIL
      Checks.meanOf("n", 50.0, 60.0),         // 55.0 → pass
      Checks.minOf("n", 10.0),
      Checks.patternFraction("text", "x{50}", 0.4), // 5/10 = 0.5 → pass
      Checks.inSetFraction("text", Seq("xxxxxxxxxx"), 0.05)))
    val byName = rep.collect().map(r =>
      r.getString(0) -> ((r.getDouble(1), r.getBoolean(4)))).toMap
    assert(byName("size") == ((10.0, true)))
    assert(byName("completeness(text)") == ((0.9, false)))
    assert(byName("uniqueness(doc_id)") == ((0.9, false)))
    assert(byName("mean(n)") == ((55.0, true)))
    assert(byName("min(n)") == ((10.0, true)))
    assert(byName("pattern(text)") == ((0.5, true)))
    assert(byName("in_set(text)") == ((0.1, true)))
    def allPassed(r: org.apache.spark.sql.DataFrame) = r.filter(!col("passed")).isEmpty
    assert(!allPassed(rep))
    assert(allPassed(Checks.report(spark, df, Seq(Checks.size(1)))))
  }

  test("Checks: every metric rides ONE scan; approx uniqueness avoids Expand") {
    import graft.scale.Checks
    val df = (0 until 100).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    val all = Seq(Checks.size(1), Checks.completeness("text", 0.5),
      Checks.uniqueness(0.5, "doc_id"), Checks.meanOf("doc_id", 0.0, 1e9))
    val plan = Checks.metricsRow(df, all).queryExecution.executedPlan.toString
    // one scan feeds every metric (Expand widens rows but reads once)
    assert(plan.linesIterator.count(_.contains("LocalTableScan")) == 1, plan)
    // HLL twin keeps the plan Expand-free and value-close to exact
    val approxPlan = Checks.metricsRow(df,
      Seq(Checks.uniquenessApprox(0.5, 0.01, "doc_id"), Checks.size(1)))
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"), approxPlan)
    val v = Checks.metricsRow(df,
      Seq(Checks.uniquenessApprox(0.5, 0.01, "doc_id"))).collect().head.getDouble(0)
    assert(math.abs(v - 1.0) < 0.05, v)
  }

  test("Checks.observed: constraints ride the running job, batch and streaming") {
    import graft.scale.{Checks, Observe}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    val checks = Seq(Checks.size(5, 5), Checks.completeness("text", 0.5),
      Checks.uniquenessApprox(0.9, 0.01, "doc_id"))
    val df = (1 to 5).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    val (_, rows) = Observe.collect(spark) {
      Checks.observed(df, "gate", checks).write.format("noop")
        .mode("append").save()
    }
    assert(Checks.evaluate(rows("gate"), checks).forall(_._3))
    // exact-distinct constraints are analyzer-rejected in observed mode
    intercept[org.apache.spark.sql.AnalysisException] {
      Checks.observed(df, "bad", Seq(Checks.uniqueness(0.5, "doc_id"))).collect()
    }
    // streaming: verdicts per micro-batch from observedMetrics
    val sChecks = Seq(Checks.size(3, 3), Checks.completeness("text", 0.9))
    val ms = MemoryStream[(Long, String)]
    ms.addData((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
    val q = Checks.observed(ms.toDF().toDF("doc_id", "text"), "sgate", sChecks)
      .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    val prog = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("sgate")))
    assert(prog.nonEmpty)
    val verdicts = Checks.evaluate(prog.last, sChecks)
    assert(verdicts == Seq(("size", 3.0, true),
      ("completeness(text)", 0.666667, false)), verdicts)
  }

  test("Checks: empty corpus fails loudly — zero size, NaN extremes") {
    import graft.scale.Checks
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val rep = Checks.report(spark, empty, Seq(
      Checks.size(1), Checks.completeness("text", 0.5),
      Checks.minOf("doc_id", 0.0)))
    val byName = rep.collect().map(r =>
      r.getString(0) -> ((r.getDouble(1), r.getBoolean(4)))).toMap
    assert(byName("size") == ((0.0, false)))
    assert(byName("completeness(text)") == ((0.0, false)))
    val (mv, mp) = byName("min(doc_id)")
    assert(mv.isNaN && !mp) // no rows -> no min -> NaN, never passes
    assert(!rep.filter(!col("passed")).isEmpty)
  }

  test("Checks: history layer + run-over-run anomaly screen") {
    import graft.scale.Checks
    val checks = Seq(Checks.size(1), Checks.meanOf("v", 0.0, 1e9))
    val dir = java.nio.file.Files.createTempDirectory("qhist").toString + "/h"
    val prevRun = Checks.report(spark, (1 to 100).toDF("v"), checks)
    // the history layer: one (run_id, check, value) row per check and run
    def historyAppend(report: org.apache.spark.sql.DataFrame, runId: String): Unit =
      report.select(lit(runId).as("run_id"), col("check"), col("value"))
        .write.mode("append").parquet(dir)
    historyAppend(prevRun, "2026-02-01")
    // an older, wilder run that must NOT win latest-prior selection
    historyAppend(prevRun.withColumn("value", col("value") * lit(100.0)), "2026-01-01")
    // current run shrank 70%; also carries a check with no history
    val cur = Checks.report(spark, (1 to 30).toDF("v"),
      checks :+ Checks.minOf("v", 0.0))
    val out = Checks.anomalies(cur, spark.read.parquet(dir), maxRelChange = 0.5)
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(4)))).toMap
    assert(out("size") == ((Some(100.0), true)))        // 30 vs 100 → 0.7
    assert(out("mean(v)") == ((Some(50.5), true)))      // 15.5 vs 50.5 → 0.69
    assert(out("min(v)") == ((None, false)))            // first run: passes
    // prev = 0 with nonzero current flags (guarded division)
    val z = Checks.anomalies(
      Seq(("size", 5.0)).toDF("check", "value"),
      Seq(("r1", "size", 0.0)).toDF("run_id", "check", "value"), 0.5).collect().head
    assert(z.getDouble(3).isPosInfinity && z.getBoolean(4), z)
  }

  test("CapSaturation: loud warning on a saturating corpus, silent on a benign one") {
    import graft.pipeline.TextPipeline
    graft.scale.CapSaturation.drainWarnings() // isolate from other specs
    // benign: fully-disjoint token sets (template-free — shared words
    // would drag the signatures together), generous cap — no bucket
    // exceeds it
    val benign = (0L until 120L)
      .map(i => (i, Seq.tabulate(8)(j => s"tok${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    TextPipeline.simhashCandidates(benign, maxBucket = 100L).count()
    // saturating: one boilerplate class floods every band bucket past a
    // tiny cap — the measured 47-bit recall-collapse shape in miniature
    val sat = (0L until 120L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    TextPipeline.simhashCandidates(sat, maxBucket = 5L).count()
    // listener delivery is async — poll briefly
    val deadline = System.nanoTime() + 10000L * 1000000L
    var warnings = Seq.empty[String]
    while (warnings.isEmpty && System.nanoTime() < deadline) {
      warnings = graft.scale.CapSaturation.drainWarnings()
      if (warnings.isEmpty) Thread.sleep(50)
    }
    assert(warnings.nonEmpty, "saturating corpus fired no warning")
    // every warning names the SATURATING run's cap (5), never the benign
    // one (cap 100) — proving the benign pass stayed silent
    assert(warnings.forall(_.contains("maxBucket=5")), warnings)
    assert(warnings.head.contains("BUCKET-SATURATION") &&
      warnings.head.contains("simhashCandidatesWide"))
    // drained: a second drain is empty (no replay across specs)
    assert(graft.scale.CapSaturation.drainWarnings().isEmpty)
  }
}
