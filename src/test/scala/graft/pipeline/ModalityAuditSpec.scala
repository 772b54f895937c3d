package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class ModalityAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("captionRewrites keeps only differing-caption pairs with the hand-computed Jaccard") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("a", "b")
    val caps = Seq(
      ("a", "red cat on mat"),
      ("b", "red cat on mat"),        // equal to a -> (a,b) excluded
      ("c", "red dog on mat")         // 3 shared / 5 union vs a and b
    ).toDF("image_id", "caption_norm")
    val out = ModalityAudit.captionRewrites(pairs, caps)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSet === Set(("a", "c", 0.6), ("b", "c", 0.6)))
  }

  test("captionRewrites never divides by zero on empty captions") {
    import spark.implicits._
    val pairs = Seq(("a", "b")).toDF("a", "b")
    val caps = Seq(("a", ""), ("b", "x")).toDF("image_id", "caption_norm")
    val got = ModalityAudit.captionRewrites(pairs, caps).collect()
    assert(got.length === 1 && got(0).getDouble(2) === 0.0)
  }

  test("boilerplateCaptions requires >= 2 clusters, not just >= 2 rows") {
    import spark.implicits._
    val clusters = Seq(
      ("a1", "a1"), ("a2", "a1"),   // one cluster, shared caption: NOT spam
      ("b1", "b1"), ("c1", "c1"),   // two clusters sharing a caption: spam
      ("d1", "d1")                  // singleton caption: below minImages
    ).toDF("image_id", "cluster_id")
    val caps = Seq(
      ("a1", "same photo twice"), ("a2", "same photo twice"),
      ("b1", "stock caption"), ("c1", "stock caption"),
      ("d1", "unique")).toDF("image_id", "caption_norm")
    val out = ModalityAudit.boilerplateCaptions(clusters, caps)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet === Set(("stock caption", 2L, 2L)))
  }

  test("caption paraphrases on the synthetic corpus surface as rewrite pairs within truth groups") {
    // variants = 5 so the generator's 4-case cycle reaches the paraphrase
    // case; (·,3,·) corpora contain no differing-caption dups at all
    val (images, truth) = graft.images.SyntheticCorpus.generate(spark, 30, 5, 20)
    val cfg = DedupConfig()
    val sigs = Dedup.signatures(images, cfg)
    val pairs = Dedup.verifiedHamming(
      Dedup.candidates(Dedup.bands(sigs, cfg), cfg), cfg)
    val normUdf = udf((c: String) =>
      graft.featurize.ImageFeaturizer.normalizeCaption(c))
    val caps = images.select(col("image_id"),
      normUdf(col("caption")).as("caption_norm"))
    val out = ModalityAudit.captionRewrites(pairs, caps).cache()
    assert(out.count() > 0)
    // image evidence + caption noise: every rewrite pair is a true dup pair
    val ga = truth.select(col("image_id").as("a"), col("group_id").as("ga"))
    val gb = truth.select(col("image_id").as("b"), col("group_id").as("gb"))
    assert(out.join(ga, "a").join(gb, "b")
      .filter(col("ga") =!= col("gb")).count() === 0L)
    // a paraphrase keeps most tokens, so jaccard stays > 0; jaccard CAN be
    // exactly 1.0 when the swap replaces a repeated token with another
    // already-present token (strings differ, token SETS equal) — but at
    // least one swap must introduce a genuinely new token
    val mm = out.agg(min("cap_jaccard"), max("cap_jaccard")).head
    assert(mm.getDouble(0) > 0.0 && mm.getDouble(0) < 1.0)
    assert(mm.getDouble(1) <= 1.0)
  }

  test("planted spam caption on the synthetic corpus is reported and ranks above legit captions") {
    val (images, _) = graft.images.SyntheticCorpus.generate(spark, 20, 3, 30)
    val spam = images.filter(pmod(crc32(col("image_id")), lit(7)) === 0)
      .withColumn("image_id", concat(col("image_id"), lit("~s")))
      .withColumn("caption", lit("Stock photo — buy now, best price!"))
    val all = images.union(spam)
    // IMAGE-evidence clusters only (Hamming-accepted pairs — no caption
    // MinHash accept, no substring pass): both caption paths merge
    // identical-caption rows into ONE cluster by construction, masking the
    // very signal this audit measures
    val cfg = DedupConfig()
    val sigs = Dedup.signatures(all, cfg)
    val pairs = Dedup.verifiedHamming(
      Dedup.candidates(Dedup.bands(sigs, cfg), cfg), cfg)
    val cl = Dedup.clusters(all.select("image_id"), pairs)
    val normUdf = udf((c: String) =>
      graft.featurize.ImageFeaturizer.normalizeCaption(c))
    val caps = all.select(col("image_id"),
      normUdf(col("caption")).as("caption_norm"))
    val out = ModalityAudit.boilerplateCaptions(cl, caps).collect()
    val spamNorm = graft.featurize.ImageFeaturizer
      .normalizeCaption("Stock photo — buy now, best price!")
    val hit = out.filter(_.getString(0) == spamNorm)
    assert(hit.length === 1)
    // the planted caption spans at least 2 of the ~20 planted groups
    assert(hit(0).getLong(2) >= 2L)
  }

  test("captionRewrites single-evaluation form: values unchanged") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("a", "c")).toDF("a", "b")
    val caps = Seq(
      ("a", "red car on street"),
      ("b", "blue car on street"),
      ("c", "red car on street") // identical -> filtered out
    ).toDF("image_id", "caption_norm")
    val out = graft.pipeline.ModalityAudit.captionRewrites(pairs, caps)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("a", "b", 3.0 / 5.0)))
  }
}
