package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class MixOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("posHash matches the hand-computed positional polynomial") {
    import spark.implicits._
    // "ab" -> 1*97 + 2*98 = 293; "ba" -> 1*98 + 2*97 = 292 (order-sensitive)
    val got = Seq("ab", "ba").toDF("k")
      .select(col("k"), MixOps.posHash(col("k"), 1000003L).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("ab") === 293L)
    assert(got("ba") === 292L)
  }

  test("mixPlan: hand-computed plan — rate cap, shortfall, floor threshold") {
    import spark.implicits._
    // A: 10 tokens over 2 docs; B: 20 tokens over 2 docs. Budget 40,
    // weights 0.5/0.5 -> A alloc 20 > 10: rate caps at 1.0 (thr = m),
    // shortfall 10; B alloc 20 over 20 tokens: rate 1.0 exactly, no
    // shortfall. With weight 0.1 B would plan 4/20 = rate 0.2.
    val docs = Seq(
      (1L, "srcA", "t1 t2 t3 t4 t5"), (2L, "srcA", "t1 t2 t3 t4 t5"),
      (3L, "srcB", (1 to 10).map(i => s"b$i").mkString(" ")),
      (4L, "srcB", (1 to 10).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val plan = MixOps.mixPlan(docs,
      Map("srcA" -> 0.5, "srcB" -> 0.1), budgetTokens = 40L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5),
          r.getLong(6), r.getDouble(7), r.getDouble(8))).toMap
    // srcA: 2 docs, 10 tokens, alloc 20, rate 1.0, thr = m, expect 10, short 10
    assert(plan("srcA") === ((2L, 10L, 20.0, 1.0, 1000003L, 10.0, 10.0)))
    // srcB: alloc 4.0 over 20 tokens -> rate 0.2, thr = floor(0.2*1000003)
    assert(plan("srcB") === ((2L, 20L, 4.0, 0.2, 200000L, 4.0, 0.0)))
    // a source absent from the weight map plans nothing (inner join)
    assert(!plan.contains("srcC"))
  }

  test("mixPlan thresholds feed deterministicSample: a capped source keeps every doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "srcA", "t1 t2 t3"), (2L, "srcA", "t4 t5 t6"),
      (3L, "srcB", (1 to 50).map(i => s"b$i").mkString(" ")),
      (4L, "srcB", (1 to 50).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val plan = MixOps.mixPlan(docs, Map("srcA" -> 0.9, "srcB" -> 0.1),
      budgetTokens = 50L)
    val thr = plan.collect().map(r => r.getString(0) -> r.getLong(6)).toMap
    val kept = TextOps.deterministicSample(docs, thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // srcA alloc 45 tokens over 6 -> capped, thr = m keeps BOTH docs
    assert(kept.contains(1L) && kept.contains(2L))
  }

  test("clusterSplit never lets a cluster straddle two splits") {
    import spark.implicits._
    val clusters = Seq(
      ("a1", "a1"), ("a2", "a1"), ("a3", "a1"),
      ("b1", "b1"), ("b2", "b1"),
      ("c1", "c1")).toDF("image_id", "cluster_id")
    val out = MixOps.clusterSplit(clusters)
    val splitsPerCluster = out.groupBy("cluster_id")
      .agg(countDistinct("split").as("n")).collect()
    assert(splitsPerCluster.forall(_.getLong(1) === 1L))
    // deterministic across invocations
    val again = MixOps.clusterSplit(clusters).collect().map(_.toSeq).toSet
    assert(again === out.collect().map(_.toSeq).toSet)
  }

  test("clusterSplit on the planted image corpus: no dup pair crosses a boundary and all splits populated") {
    val (images, _) = graft.images.SyntheticCorpus.generate(spark, 40, 3, 30)
    val cl = graft.pipeline.Dedup.run(images, graft.pipeline.DedupConfig())
    val out = MixOps.clusterSplit(cl).cache()
    // the leakage property: every predicted dup pair co-splits
    val pairs = graft.pipeline.Dedup.clusterPairs(cl)
    val la = out.select(col("image_id").as("a"), col("split").as("sa"))
    val lb = out.select(col("image_id").as("b"), col("split").as("sb"))
    val crossing = pairs.join(la, "a").join(lb, "b")
      .filter(col("sa") =!= col("sb")).count()
    assert(crossing === 0L)
    // with ~70 clusters the 8/1/1 bucketing should hit every split
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits === Set("train", "val", "test"))
    val n = out.filter(col("split") === "train").count().toDouble / out.count()
    assert(n > 0.5 && n < 0.95, s"train fraction $n implausible for 8/10 buckets")
    out.unpersist()
  }

  test("stratifiedSample takes exactly k per stratum (when available), deterministically") {
    val out = MixOps.stratifiedSample(docs, k = 10).cache()
    val perSource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (s, n) =>
      assert(perSource.getOrElse(s, 0L) === math.min(10L, n))
    }
    // rk is 1..k dense within each stratum
    val rks = out.groupBy("source").agg(min("rk").as("lo"), max("rk").as("hi"),
      count(lit(1)).as("n")).collect()
    rks.foreach { r =>
      assert(r.getLong(1) === 1L)
      assert(r.getLong(2) === r.getLong(3))
    }
    val again = MixOps.stratifiedSample(docs, k = 10)
      .collect().map(_.toSeq).toSet
    assert(again === out.collect().map(_.toSeq).toSet)
    out.unpersist()
  }

  test("dedupReport accounts every image and byte exactly once") {
    import spark.implicits._
    val clusters = Seq(
      ("a1", "a1"), ("a2", "a1"), ("a3", "a1"), // size-3 cluster
      ("b1", "b1"), ("b2", "b1"),               // size-2
      ("c1", "c1")).toDF("image_id", "cluster_id")
    val sizes = Seq(("a1", 100L), ("a2", 110L), ("a3", 120L),
      ("b1", 50L), ("b2", 60L), ("c1", 7L)).toDF("image_id", "n_bytes")
    val got = MixOps.dedupReport(clusters, sizes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 1L, 1L, 0L), (2L, 1L, 2L, 60L),
      (3L, 1L, 3L, 230L)))
    // totals reconcile: images and removed bytes partition the corpus
    assert(got.map(_._3).sum === 6L)
    assert(got.map(_._4).sum === (110L + 120L + 60L))
  }

  // the r5 interpreted-HOF positional hash, verbatim
  private def posHashHof(key: org.apache.spark.sql.Column, m: Long) = {
    val chars = filter(split(key, ""), c => length(c) === 1)
    val codes = transform(chars, c => ascii(c).cast("long"))
    pmod(aggregate(zip_with(codes,
      sequence(lit(1L), greatest(size(codes).cast("long"), lit(1L))),
      (c, i) => c * i), lit(0L), (a, x) => a + x), lit(m))
  }

  test("compiled posHash ≡ r5 HOF chain; clusterSplit assignment identical") {
    import spark.implicits._
    val keys = Seq("img_000_01", "img_000_10", "", "αβγ", "x",
      "\uD83D\uDE00 emoji caption").toDF("k")
    val old = keys.select(col("k"), posHashHof(col("k"), 1000003L).as("h"))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1)))
    val neu = keys.select(col("k"),
      graft.ops.MixOps.posHash(col("k"), 1000003L).as("h"))
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(neu.toSeq == old.toSeq)
    // split assignment end-to-end on a mixed-key cluster frame
    val clusters = Seq(("a1", "c1"), ("a2", "c1"), ("b1", "c2"), ("", ""))
      .toDF("image_id", "cluster_id")
    val split = graft.ops.MixOps.clusterSplit(clusters).collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    // same-cluster members share a split; schema carries exactly one new col
    assert(split("a1") == split("a2"))
    assert(graft.ops.MixOps.clusterSplit(clusters).columns.toSeq ==
      Seq("image_id", "cluster_id", "split"))
  }
}
