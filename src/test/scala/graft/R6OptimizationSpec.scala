package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 optimization equivalence pins: every change that replaced an
  * operator's internals must be value-identical to the r5 form. Each test
  * reconstructs the OLD implementation inline and compares on fixtures
  * that include the edge cases the old form had (nulls, empties, unicode,
  * hot buckets).
  */
class R6OptimizationSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("r6-opt-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // the r5 interpreted-HOF positional hash, verbatim
  private def posHashHof(key: org.apache.spark.sql.Column, m: Long) = {
    val chars = filter(split(key, ""), c => length(c) === 1)
    val codes = transform(chars, c => ascii(c).cast("long"))
    pmod(aggregate(zip_with(codes,
      sequence(lit(1L), greatest(size(codes).cast("long"), lit(1L))),
      (c, i) => c * i), lit(0L), (a, x) => a + x), lit(m))
  }

  test("compiled fingerprint UDF ≡ r5 HOF chain incl. null/empty/unicode") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hello world"),
      (2L, ""),
      (3L, null: String),
      (4L, "tabs\tand  spaces"),
      (5L, "unicode: héllo wörld ✓"),
      (6L, "a"),
      (7L, "0123456789" * 50),
      (8L, "\uD83D\uDE00 emoji caption") // astral plane: a surrogate pair
    ).toDF("doc_id", "text")
    // old: per-character HOF chain
    val chars = filter(split(col("text"), ""), c => length(c) === 1)
    val codes = transform(chars, c => ascii(c).cast("long"))
    val old = docs.select(col("doc_id"),
      pmod(aggregate(zip_with(codes,
        sequence(lit(1L), greatest(size(codes).cast("long"), lit(1L))),
        (c, i) => c * i), lit(0L), (a, x) => a + x), lit(1000000007L))
        .as("fp_pos"),
      aggregate(codes, lit(0L), (a, c) => a + c).as("fp_sum"))
      .orderBy("doc_id").collect().toSeq
    val neu = graft.ops.TextOps.fingerprint(docs).collect().toSeq
    assert(neu == old)
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

  test("merged occupancy job in multiProbeCandidates ≡ per-side hot split") {
    import spark.implicits._
    // probe-side flood into bucket 7 (hot among probes only), exact-side
    // crowd in bucket 9 (hot among exact only), small mixed bucket 1
    val rows =
      (1L to 30L).map(i => (7L, 100 + i, false)) ++ // hot probe bucket
      (1L to 30L).map(i => (9L, 200 + i, true)) ++  // hot exact bucket
      Seq((9L, 300L, false),                        // probe aimed at hot exact
        (1L, 1L, true), (1L, 2L, true), (1L, 3L, false))
    val probes = rows.toDF("bk", "vec_id", "is_exact")
    val got = graft.ops.EmbeddingOps.multiProbeCandidates(probes, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected, per the r5 contract: hot EXACT bucket 9 -> sorted-adjacent
    // chain + anchor edge from the kept probe row 300 to min member 201;
    // hot PROBE bucket 7 dropped; bucket 1: exact-exact pair (1,2) and
    // probe-exact pairs (1,3),(2,3)
    val chain9 = (201L to 229L).map(i => (i, i + 1)).toSet
    val expected = chain9 ++ Set((201L, 300L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(got == expected)
  }

  test("parallelRun registers concurrent checkpoints to the caller's scope") {
    import spark.implicits._
    val s = spark
    val before = graft.core.Checkpoints.snapshot(s)
    graft.core.Checkpoints.scopedUnit(s) {
      val outs = graft.core.Checkpoints.parallelRun[org.apache.spark.sql.DataFrame](
        (1 to 3).map(i => () =>
          graft.core.Checkpoints.ckpt(Seq((i, i * 2)).toDF("a", "b"))))
      assert(outs.forall(_.count() == 1))
    }
    // every block the concurrent bodies created was swept at scope exit
    assert(graft.core.Checkpoints.snapshot(s) == before)
  }

  test("streaming batch with early-overlapped writes: state identical to serial form semantics") {
    import graft.pipeline.DedupConfig
    val dir = java.nio.file.Files.createTempDirectory("r6stream").toString
    val (images, _) = graft.images.SyntheticCorpus.generate(spark, 6, 3, 4)
    val part = pmod(crc32(col("image_id")), lit(2))
    graft.streaming.StreamingDedup.processBatch(spark,
      images.filter(part === 0), dir, DedupConfig(), batchId = 0L, stateP = 4)
    graft.streaming.StreamingDedup.processBatch(spark,
      images.filter(part === 1), dir, DedupConfig(), batchId = 1L, stateP = 4)
    val streamed = graft.streaming.StreamingDedup.clustersFromState(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val batch = graft.pipeline.Dedup.run(images)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(streamed == batch)
  }
}
