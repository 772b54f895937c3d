package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.images.SyntheticCorpus

class DedupPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("end-to-end recall >= 0.99 vs planted truth AND vs brute-force oracle") {
    val cfg = DedupConfig()
    val (images, truth) = SyntheticCorpus.generate(spark, nGroups = 30,
      variantsPerGroup = 3, nDistractors = 20)
    images.cache(); truth.cache()

    val clusters = Dedup.run(images, cfg)
    val predicted = Dedup.clusterPairs(clusters).cache()

    // 1) recall vs planted groups (the north-rule gate)
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    // substring-caption rows (idx 99) are linked by caption containment, not
    // pixel similarity — they are in-scope for the pipeline but excluded from
    // the *pixel* truth set only when the substring pass is disabled; here the
    // full pipeline runs, so the full pair set is the gate.
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").cache()
    val total = truthPairs.count()
    val hit = truthPairs.join(predicted, Seq("a", "b"), "left_semi").count()
    val recall = hit.toDouble / total
    assert(recall >= 0.99, s"recall $recall ($hit/$total)")

    // 2) precision sanity: predicted pairs not in truth should be rare
    val falsePairs = predicted.join(truthPairs, Seq("a", "b"), "left_anti").count()
    assert(falsePairs <= predicted.count() / 10,
      s"$falsePairs false pairs of ${predicted.count()}")

    // 3) brute-force oracle agreement (evaluate_ROC_curve.py's "exact search"):
    //    every pair within the Hamming threshold must be clustered together
    val sigs = Dedup.signatures(images, cfg)
    val l = sigs.select(col("image_id").as("a"), col("sim_hi").as("ah"),
      col("sim_lo").as("al"))
    val r = sigs.select(col("image_id").as("b"), col("sim_hi").as("bh"),
      col("sim_lo").as("bl"))
    val brute = l.join(r, col("a") < col("b"))
      .filter(Dedup.hamming128Col(col("ah"), col("al"), col("bh"), col("bl"))
        <= cfg.maxHamming)
      .select("a", "b")
    val bruteTotal = brute.count()
    val bruteHit = brute.join(predicted, Seq("a", "b"), "left_semi").count()
    assert(bruteHit.toDouble / bruteTotal >= 0.99,
      s"LSH missed brute-force pairs: $bruteHit/$bruteTotal")
  }

  test("captionless images are not merged by empty caption evidence") {
    // an empty caption shingles to the empty set, whose minhash sketch is
    // the same all-MaxValue vector for EVERY captionless image — without
    // the empty-sketch band exclusion all captionless images band-collide
    // and verify at estimated Jaccard 1.0, silently collapsing into one
    // cluster. Pixel-unrelated distractors with blanked captions must stay
    // singletons; pixel-similar variants must still pair (their evidence
    // is the SimHash channel, untouched).
    val cfg = DedupConfig()
    val (images, truth) = SyntheticCorpus.generate(spark, nGroups = 4,
      variantsPerGroup = 2, nDistractors = 8)
    // distractors are the SINGLETON truth groups (truth lists every image,
    // so an anti-join against it selects nothing)
    val distractors = truth.groupBy("group_id")
      .agg(count(lit(1)).as("n"), min("image_id").as("id"))
      .filter(col("n") === 1)
      .select("id").collect().map(_.getString(0)).sorted.take(3)
    assert(distractors.length === 3)
    val blanked = images.withColumn("caption",
      when(col("image_id").isin(distractors.toSeq: _*), lit(""))
        .otherwise(col("caption"))).localCheckpoint()
    val clusters = Dedup.run(blanked, cfg)
    val pairs = Dedup.clusterPairs(clusters).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    distractors.foreach { id =>
      assert(!pairs.exists(p => p._1 == id || p._2 == id),
        s"captionless distractor $id was merged: ${pairs.filter(p => p._1 == id || p._2 == id)}")
    }
    // planted variants still pair through the pixel channel
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(truthPairs.subsetOf(pairs))
  }

  test("batch multi-probe: 8 stored bands + 3 probes keeps planted recall of the 28-band run") {
    // the BATCH form of the streaming multi-probe contract: Dedup.run with
    // a reduced-band config must recover the wide config's truth pairs via
    // transient query-side probe rows (candidateBands), while the band
    // table a DedupJob would PERSIST stays at the reduced row volume
    val (images, truth) = SyntheticCorpus.generate(spark, nGroups = 12,
      variantsPerGroup = 3, nDistractors = 15)
    val rows = images.localCheckpoint()
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def pairs(cfg: DedupConfig) = Dedup.clusterPairs(Dedup.run(rows, cfg))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val wide = pairs(DedupConfig())
    val probed = pairs(DedupConfig(nBands = 8, bandProbes = 3))
    assert(truthPairs.subsetOf(wide), "28-band baseline lost truth pairs")
    assert(truthPairs.subsetOf(probed),
      s"8-band+3-probe run lost ${truthPairs.diff(probed).size} truth pairs")
    // what DedupJob persists is the EXACT band table only — probe rows are
    // transient; the stored index shrinks with the band count
    val cfgP = DedupConfig(nBands = 8, bandProbes = 3)
    val sigsP = Dedup.signaturesWithMargins(rows, cfgP)
    val exactRows = Dedup.bands(sigsP, cfgP).count()
    val wideRows = Dedup.bands(Dedup.signatures(rows, DedupConfig()),
      DedupConfig()).count()
    assert(exactRows < wideRows,
      s"reduced-band index ($exactRows rows) not smaller than wide ($wideRows)")
  }

  test("signatures are identical across parallelism levels (determinism gate)") {
    val cfg = DedupConfig()
    val (images, _) = SyntheticCorpus.generate(spark, 5, 2, 5)
    val one = Dedup.signatures(images.repartition(1), cfg)
      .select("image_id", "sim_hi", "sim_lo").collect().sortBy(_.getString(0))
    val many = Dedup.signatures(images.repartition(7), cfg)
      .select("image_id", "sim_hi", "sim_lo").collect().sortBy(_.getString(0))
    assert(one.map(_.toString).toSeq === many.map(_.toString).toSeq)
  }

  test("substring-caption rows are linked into their group (suffix pass)") {
    import spark.implicits._
    val rows = Seq(
      ("a", "golden sunset over the misty mountain river valley today"),
      ("b", "prefix words golden sunset over the misty mountain river valley today and more"),
      ("c", "completely unrelated caption about city lights at night")
    ).toDF("id", "text")
    val pairs = SubstringDup.containedPairs(spark, rows).collect()
    assert(pairs.map(r => (r.getString(0), r.getString(1))).toSet === Set(("a", "b")))
  }

  test("shared-span pairs: finds cross-document verbatim repeats, counts exactly") {
    import spark.implicits._
    val span = "the quick brown fox jumps over the lazy dog near the river"
    val rows = Seq(
      // a and b share `span` mid-text but neither contains the other;
      // the chars bounding the span differ on each side so no window
      // straddling the boundary is shared
      ("a", s"AAAA$span/BBBB trailing words here"),
      ("b", s"CCCC$span.DDDD and a different suffix"),
      ("c", "no overlap with anything else at all in this caption text"),
      ("d", "short")
    ).toDF("id", "text")
    val got = SubstringDup.sharedSpanPairs(spark, rows, w = 40)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getInt(2))).toMap
    assert(got.keySet === Set(("a", "b")))
    // exact count: every 40-char window inside `span` (len 59 -> 20 windows)
    assert(got(("a", "b")) === span.length - 40 + 1)
  }

  test("shared-span pairs: hot-window cap drops boilerplate candidates") {
    import spark.implicits._
    val boiler = "x" * 60 // one distinct 40-char window, present in all 5 docs
    val rows = (0 until 5).map(i => (s"d$i", s"doc $i unique part $i $boiler"))
      .toDF("id", "text")
    // every pair shares the boilerplate windows; cap 3 < df 5 drops them all
    val capped = SubstringDup.sharedSpanPairs(spark, rows, w = 40, maxWindowDf = 3)
    assert(capped.count() === 0)
    val uncapped = SubstringDup.sharedSpanPairs(spark, rows, w = 40)
    assert(uncapped.count() === 10) // C(5,2)
  }

  test("connected components: chain, clique, singleton (both paths identical)") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("a", "b")
    val vertices = Seq("a", "b", "c", "x", "y", "z").toDF("id")
    val expect = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "z")
    // local union-find path (default threshold)
    val local = ConnectedComponents.run(spark, edges, vertices)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local === expect)
    // distributed iterative path (threshold 0 forces the loop)
    val dist = ConnectedComponents.run(spark, edges, vertices,
        localEdgeThreshold = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === expect)
  }

  test("connected components: 600-node chain converges (pointer doubling, O(log D))") {
    import spark.implicits._
    // one-hop-per-iteration propagation needs 600 rounds for this chain and
    // silently returned split clusters at maxIters=25; doubling needs ~10.
    // threshold 0 forces the DISTRIBUTED loop — the path under test
    val n = 600
    val edges = (0 until n - 1).map(i => (f"v$i%04d", f"v${i + 1}%04d")).toDF("a", "b")
    val vertices = (0 until n).map(i => f"v$i%04d").toDF("id")
    val got = ConnectedComponents.run(spark, edges, vertices,
      localEdgeThreshold = 0L)
    assert(got.select("cluster_id").distinct().count() === 1)
    assert(got.filter(col("cluster_id") === "v0000").count() === n)
    // and the local path agrees on the same chain
    val loc = ConnectedComponents.run(spark, edges, vertices)
    assert(loc.select("cluster_id").distinct().count() === 1)
    assert(loc.filter(col("cluster_id") === "v0000").count() === n)
  }

  test("connected components: long-native keys, labels identical to the order-preserving string encoding") {
    import spark.implicits._
    // mixed-sign ids: numeric min differs from naive lexicographic order
    // (-2 < -1, "−1" < "−2" as text) — the case the old padding existed for
    val edges = Seq((-1L, -2L), (-2L, 3L), (-5L, -4L), (7L, 8L)).toDF("a", "b")
    val vertices = Seq(-5L, -4L, -2L, -1L, 3L, 7L, 8L, 9L).toDF("id")
    val expect = Map(-1L -> -2L, -2L -> -2L, 3L -> -2L,
      -5L -> -5L, -4L -> -5L, 7L -> 7L, 8L -> 7L, 9L -> 9L)
    def run(th: Long) = ConnectedComponents.run(spark, edges, vertices,
        localEdgeThreshold = th)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(Long.MaxValue) === expect) // driver union-find, long kernel
    assert(run(0L) === expect) // distributed pointer-doubling loop
    // the pre-r5 sign-aware string encoding decodes to the SAME labels —
    // the long-native path changed bytes on the wire, not semantics
    def pad(c: org.apache.spark.sql.Column) =
      when(c >= 0, concat(lit("1"), format_string("%019d", c)))
        .otherwise(concat(lit("0"),
          format_string("%019d", c - lit(Long.MinValue))))
    def unpad(c: org.apache.spark.sql.Column) =
      when(substring(c, 1, 1) === "1", substring(c, 2, 19).cast("long"))
        .otherwise(substring(c, 2, 19).cast("long") + lit(Long.MinValue))
    val dec = ConnectedComponents.run(spark,
        edges.select(pad(col("a")).as("a"), pad(col("b")).as("b")),
        vertices.select(pad(col("id")).as("id")), localEdgeThreshold = 0L)
      .select(unpad(col("id")).as("id"), unpad(col("cluster_id")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dec === expect)
  }

  test("connected components: raw pairs (duplicates, both directions, self-loops) — local labels = loop labels, string and long keys") {
    import spark.implicits._
    // f and g appear only in edges, z only in vertices; g and c carry
    // self-loops; (a, b) and (h, i) come duplicated and in both directions.
    // The last pair's ids order one way by code point (Spark's order: U+FF21
    // first) and the other by UTF-16 code unit (the surrogate pair first)
    val (fw, emoji) = ("\uFF21_fullwidth", "\uD83D\uDE00_emoji")
    val strPairs = Seq(("b", "a"), ("a", "b"), ("a", "b"), ("c", "c"),
      ("c", "d"), ("d", "c"), ("e", "f"), ("g", "g"), ("h", "i"), ("i", "h"),
      ("h", "i"), (fw, emoji))
    val strIds = Seq("a", "b", "c", "d", "e", "h", "z")
    val strExpect = Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "c",
      "e" -> "e", "f" -> "e", "g" -> "g", "h" -> "h", "i" -> "h", "z" -> "z",
      fw -> fw, emoji -> fw)
    def strLabels(th: Long) = ConnectedComponents.run(spark,
        strPairs.toDF("a", "b"), strIds.toDF("id"), localEdgeThreshold = th)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    val strLoop = strLabels(0L)
    assert(strLoop === strExpect.toSeq.sorted) // one row per id
    assert(strLabels(Long.MaxValue) === strLoop)

    // the same graph on mixed-sign long keys: numeric, not text, order
    val code = Map("a" -> -3L, "b" -> -7L, "c" -> 5L, "d" -> -1L, "e" -> 10L,
      "f" -> 2L, "g" -> 0L, "h" -> 8L, "i" -> 9L, "z" -> -20L, fw -> 31L,
      emoji -> 30L)
    val longPairs = strPairs.map { case (x, y) => (code(x), code(y)) }
    def longLabels(th: Long) = ConnectedComponents.run(spark,
        longPairs.toDF("a", "b"), strIds.map(code).toDF("id"),
        localEdgeThreshold = th)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val longLoop = longLabels(0L)
    assert(longLoop.toMap === Map(-3L -> -7L, -7L -> -7L, 5L -> -1L,
      -1L -> -1L, 10L -> 2L, 2L -> 2L, 0L -> 0L, 8L -> 8L, 9L -> 8L,
      -20L -> -20L, 31L -> 30L, 30L -> 30L))
    assert(longLoop.size === code.size)
    assert(longLabels(Long.MaxValue) === longLoop)
  }

  test("connected components: the local path holds floor(threshold/2) raw rows; one more falls to the loop") {
    import spark.implicits._
    // an RDD-backed single-partition frame, so the local path's collect is
    // a real Spark job (a local relation would be collected without one)
    val edges = spark.sparkContext.parallelize(
      Seq(("a", "b"), ("b", "c"), ("x", "y"), ("y", "x")), 1).toDF("a", "b")
    val vertices = Seq("a", "b", "c", "x", "y", "z").toDF("id")
    def labels(th: Long): (Seq[(String, String)], graft.SparkJobs.Usage) = {
      var out: org.apache.spark.sql.DataFrame = null
      val usage = graft.SparkJobs.during(spark) {
        out = ConnectedComponents.run(spark, edges, vertices, localEdgeThreshold = th)
      }
      (out.collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted, usage)
    }
    val (local, localUsage) = labels(8L) // cap 4: the 4 raw rows fit
    val (loop, loopUsage) = labels(7L) // cap 3: the distributed loop
    assert(localUsage === graft.SparkJobs.Usage(jobs = 1, shuffleWriteBytes = 0L))
    assert(loopUsage.jobs > 1 && loopUsage.shuffleWriteBytes > 0L)
    assert(local === loop)
    assert(local.toMap === Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("connected components: the bounded collect reads at most cap + 1 rows") {
    import spark.implicits._
    val pulled = spark.sparkContext.longAccumulator("rows pulled")
    val tap = udf { (s: String) => pulled.add(1L); s }.asNondeterministic()
    val rows = spark.sparkContext.parallelize((0 until 100).map(i => (s"v$i", s"w$i")), 1)
      .toDF("a", "b").select(tap(col("a")).as("a"), col("b"))
    assert(ConnectedComponents.collectAtMost[(String, String)](rows, 4).isEmpty)
    assert(pulled.value === 5L)
    assert(ConnectedComponents.collectAtMost[(String, String)](rows, 100)
      .map(_.length) === Some(100))
  }

  test("degenerate identical-signature run: linear chain pairs, no quadratic blowup (skew guard)") {
    import spark.implicits._
    val cfg = DedupConfig(sortedWindow = 8, hotBucketThreshold = 5)
    // 10 rows all with identical signatures -> one contiguous sorted run
    val sigs = (1 to 10).map(i => (f"id_$i%02d", 0L, 0L, Array.fill(64)(0L)))
      .toDF("image_id", "sim_hi", "sim_lo", "minhash")
    val b = Dedup.bands(sigs, cfg)
    val cands = Dedup.candidates(b, cfg)
    // each row pairs with its next <=8 sorted neighbors: C(10,2) minus the
    // one gap-9 pair = 44 — linear W*n, not the n^2 cross product
    assert(cands.count() === 44)
    assert(cands.filter(col("dist") =!= 0).count() === 0)
    // the chain closes into ONE cluster via connected components
    val clustered = Dedup.clusters(
      sigs.select(col("image_id")),
      cands.filter(col("dist") <= cfg.maxHamming).select("a", "b"))
    assert(clustered.select("cluster_id").distinct().count() === 1)
    val stats = Dedup.bucketStats(b, cfg).collect()(0)
    assert(stats.getAs[Long]("hot_buckets") > 0) // observability: prefix too coarse
  }

  test("range-salted candidates emit exactly the hash-partitioned pair set") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "dist", "from_minhash").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
        .toSet

    // planted corpus: realistic bucket mix
    val cfg = DedupConfig()
    val (images, _) = SyntheticCorpus.generate(spark, 25, 3, 25)
    val bands = Dedup.bands(Dedup.signatures(images, cfg), cfg).localCheckpoint()
    val hashed = pairSet(Dedup.candidates(bands, cfg))
    val salted = pairSet(Dedup.candidatesSalted(bands, cfg, Some(7)))
    assert(hashed.nonEmpty)
    assert(salted === hashed)

    // degenerate mega-bucket: 120 identical signatures sort into one run
    // that range partitioning with 16 forced partitions MUST split across
    // tasks (~330 rows/partition per band bucket side); with W=8 context a
    // bucket spans many partitions and partitions hold < W of some buckets
    // — the transitive-overlap repair is genuinely exercised
    val cfg2 = DedupConfig(sortedWindow = 8)
    val degSigs = (1 to 120).map(i => (f"id_$i%03d", 0L, 0L, Array.fill(64)(0L)))
      .toDF("image_id", "sim_hi", "sim_lo", "minhash")
    val degBands = Dedup.bands(degSigs, cfg2).localCheckpoint()
    val degHashed = pairSet(Dedup.candidates(degBands, cfg2))
    val degSalted = pairSet(Dedup.candidatesSalted(degBands, cfg2, Some(16)))
    assert(degSalted === degHashed)
    // and the forced range split really crossed bucket boundaries: fewer
    // buckets than partitions is impossible here (44 bands × 1 bucket each,
    // 5280 rows over 16 partitions -> some bucket spans partitions)
    val nParts = degBands
      .repartitionByRange(16, col("band_id"), col("band_key"),
        col("sort_hi"), col("sort_lo"), col("image_id"))
      .groupBy(spark_partition_id()).count().count()
    assert(nParts > 1, "range partitioning did not split the mega-bucket")
  }

  test("Dedup.run clusters equal DedupJob.run's committed clusters stage, exact and multi-probe") {
    val (generated, _) = SyntheticCorpus.generate(spark, nGroups = 12,
      variantsPerGroup = 3, nDistractors = 15)
    val images = generated.localCheckpoint()
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.select("image_id", "cluster_id").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    for (cfg <- Seq(DedupConfig(), DedupConfig(nBands = 8, bandProbes = 3))) {
      val work = java.nio.file.Files.createTempDirectory("graft-agree")
        .resolve("work").toString
      graft.DedupJob.run(spark, images, work, cfg)
      val inMemory = labels(Dedup.run(images, cfg))
      val committed = labels(spark.read.parquet(s"$work/clusters/data"))
      assert(inMemory.size === images.count(), cfg)
      assert(inMemory === committed, cfg)
      assert(inMemory.values.toSet.size < inMemory.size, s"$cfg: no cluster formed")
    }
  }

  test("stageHash: removing a default-valued field keeps committed stages keyed as before") {
    // the keys existing DedupJob work dirs (and so QueryJob indexes) are
    // committed under: a changed value makes every one recompute or fail
    assert(DedupConfig().stageHash === "efbc56a0")
    assert(DedupConfig(nBands = 8, bandProbes = 3).stageHash === "7170dd23")
  }
}
