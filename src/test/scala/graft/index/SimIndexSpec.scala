package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.core.{SimHash, SimHashConfig, U64Feat}
import graft.pipeline.DedupConfig

/** Port of the reference's index behavior tests
  * (`searchbackend/simhashsearchindex_test.cpp:18-125`): exact queries
  * retrieve themselves first; XOR-distorted queries still retrieve the right
  * record — recall under perturbation.
  */
class SimIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def sigOf(seed: Long): (Long, Long) =
    SimHash.simhash128(
      (1 to 150).map(i => U64Feat(graft.images.SyntheticCorpus.mix64(seed * 1000 + i))),
      SimHashConfig())

  private lazy val corpus = (1L to 200L).map { i =>
    val (hi, lo) = sigOf(i)
    (s"rec_$i", hi, lo)
  }

  /** Queries `q_i` with margins: record i's features with every 8th
    * replaced, re-folded. */
  private def foldDistorted(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map { i =>
      val distorted = (1 to 150).map { k =>
        val payload =
          if (k % 8 == 0) graft.images.SyntheticCorpus.mix64(0xD157L + i * 31L + k)
          else graft.images.SyntheticCorpus.mix64(i * 1000L + k)
        U64Feat(payload)
      }
      val (hi, lo, m) =
        SimHash.simhash128WithMargins(distorted, SimHashConfig())
      (s"q_$i", hi, lo, m)
    }.toDF("query_id", "sim_hi", "sim_lo", "margins")
  }

  test("exact query returns itself first at full similarity") {
    import spark.implicits._
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo"))
    val q = Seq(("q1", corpus(5)._2, corpus(5)._3)).toDF("query_id", "sim_hi", "sim_lo")
    val top = SimIndex.queryTopN(index, q, 5, 0.8).orderBy("rank").collect()
    assert(top.head.getString(1) === "rec_6")
    assert(top.head.getInt(2) === 128)
    assert(top.head.getInt(3) === 1)
  }

  test("XOR-distorted queries still retrieve the right record (recall under perturbation)") {
    import spark.implicits._
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo"))
    // flip 10 of 128 bits, mirroring simhashsearchindex_test.cpp:104-122
    val qs = (1 to 20).map { i =>
      val (hi, lo) = (corpus(i)._2, corpus(i)._3)
      val flipHi = (0 until 5).map(j => 1L << ((i * 7 + j * 13) % 64))
        .foldLeft(0L)(_ | _)
      val flipLo = (0 until 5).map(j => 1L << ((i * 11 + j * 17) % 64))
        .foldLeft(0L)(_ | _)
      (s"q_$i", hi ^ flipHi, lo ^ flipLo)
    }
    val top = SimIndex.queryTopN(index, qs.toDF("query_id", "sim_hi", "sim_lo"), 1, 0.8)
    val got = top.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val correct = (1 to 20).count(i => got.get(s"q_$i").contains(s"rec_${i + 1}"))
    assert(correct >= 19, s"only $correct/20 distorted queries retrieved their record")
  }

  test("probe keys flip exactly the key bit their margin source feeds (permutation tracking)") {
    import graft.lsh.Bands
    val (hi, lo) = sigOf(42L)
    val nb = 8; val pb = 8
    val exact = Bands.simhashBands(hi, lo, nb, pb)
    val srcs = Bands.keyBitMarginSources(nb, pb)
    // for every band and key bit: flipping the SOURCE signature bit (margin
    // indexing: <64 = hi bit, 64+i = lo bit) must flip exactly that key bit
    // of exactly that band's bucket key under the real permutation
    for (b <- 0 until nb; j <- 0 until pb) {
      val s = srcs(b)(j)
      val (fhi, flo) =
        if (s < 64) (hi ^ (1L << s), lo) else (hi, lo ^ (1L << (s - 64)))
      val flipped = Bands.simhashBands(fhi, flo, nb, pb)
      assert(flipped(b).band_key === (exact(b).band_key ^ (1L << j)),
        s"band $b key bit $j source $s")
    }
    // margin-guided probes are single-bit flips of the exact key, probing
    // distinct buckets; extraProbes = 0 emits nothing
    val m = Array.tabulate(128)(i => (i % 13).toDouble + 0.5)
    assert(Bands.simhashProbeBands(hi, lo, m, nb, pb, 0).isEmpty)
    val probes = Bands.simhashProbeBands(hi, lo, m, nb, pb, 3)
    assert(probes.length === nb * 3)
    probes.groupBy(_.band_id).foreach { case (b, rows) =>
      val keys = rows.map(_.band_key).toSet
      assert(keys.size === 3)
      rows.foreach { r =>
        assert(java.lang.Long.bitCount(r.band_key ^ exact(b).band_key) === 1)
      }
    }
  }

  test("multi-probe at 8 bands matches 28-band single-probe recall (fold-distorted queries)") {
    import spark.implicits._
    import graft.pipeline.DedupConfig
    val sigsDf = corpus.toDF("id", "sim_hi", "sim_lo")
    val cfg8 = DedupConfig(nBands = 8)
    val cfg28 = DedupConfig(nBands = 28)
    val idx8 = SimIndex.build(sigsDf, cfg8).localCheckpoint()
    val idx28 = SimIndex.build(sigsDf, cfg28).localCheckpoint()
    // distorted queries from RE-FOLDED feature multisets (not raw bit
    // flips): record i's features with every 8th replaced — the realistic
    // near-neighbor shape, and the fold's own margins drive the probes
    val qDf = foldDistorted(60).localCheckpoint()
    def recall(index: org.apache.spark.sql.DataFrame, cfg: DedupConfig,
        probes: Int): Int = {
      val got = SimIndex.queryTopN(index, qDf, 1, 0.7, cfg, probes)
        .filter(col("rank") === 1).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      (1 to 60).count(i => got.get(s"q_$i").contains(s"rec_$i"))
    }
    val r28 = recall(idx28, cfg28, 0)
    val r8 = recall(idx8, cfg8, 0)
    val r8p = recall(idx8, cfg8, 3)
    println(s"multi-probe recall: 28-band/0p $r28/60, 8-band/0p $r8/60, " +
      s"8-band/3p $r8p/60")
    assert(r28 >= 55, s"baseline sanity: $r28/60")
    assert(r8p > r8, "probes must lift reduced-band recall")
    assert(r8p >= r28,
      s"8 bands + 3 margin probes ($r8p) must match 28-band recall ($r28)")
  }

  test("strict similarity threshold excludes sub-threshold matches (F5)") {
    import spark.implicits._
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo"))
    // unrelated query: expect no results above 0.8*128
    val (hi, lo) = sigOf(99999L)
    val q = Seq(("qx", hi, lo)).toDF("query_id", "sim_hi", "sim_lo")
    assert(SimIndex.queryTopN(index, q, 5, 0.8).count() === 0)
  }

  test("stats: entries = records x bands, occupancy + skew surfaced (§2.11)") {
    import spark.implicits._
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo"))
    val s = SimIndex.stats(index).collect()(0)
    // 200 records x 28 bands, like the reference's 1-add => buckets entries
    // (simhashsearchindex_test.cpp:18-45)
    assert(s.getAs[Long]("index_entries") === 200L * 28)
    assert(s.getAs[Long]("indexed_records") === 200L)
    assert(s.getAs[Long]("occupied_buckets") > 0L)
    assert(s.getAs[Long]("max_bucket") >= 1L &&
      s.getAs[Long]("max_bucket") <= 200L)
  }

  test("oddsOfRandomHit: reference direction (bigger = better), scales 1/N") {
    // simhashsearchindex.cpp:142-157 semantics: expected searches per random
    // hit at this similarity — HIGHER similarity => larger (rarer) odds
    val o100 = SimIndex.oddsOfRandomHit(100, 1000000)
    val o90 = SimIndex.oddsOfRandomHit(90, 1000000)
    assert(o100 > o90)
    // doubling the index halves the odds (twice as many chances to collide)
    assert(SimIndex.oddsOfRandomHit(100, 2000000) === o100 / 2)
    // at sim 64 (pure chance) the formula bottoms out at 1/N
    assert(math.abs(SimIndex.oddsOfRandomHit(64, 100) - 0.01) < 1e-9)
  }

  /** The small path and the broadcast-join plan on the same batch: the
    * small path must serve it, with the join plan's schema (nullability
    * included) and rows. Returns the rows. */
  private def bothPaths(index: DataFrame, queries: DataFrame, n: Int,
      minSimilarity: Double, cfg: DedupConfig = DedupConfig(),
      probes: Int = 0): Seq[Row] = {
    val local = SimIndex.localTopN(index, queries, n, minSimilarity, cfg, probes)
    assert(local.isDefined, "the small path must serve this batch")
    val join = SimIndex.joinTopN(index, queries, n, minSimilarity, cfg, probes)
    assert(local.get.schema === join.schema)
    val rows = local.get.collect().toSeq.sortBy(_.mkString("|"))
    assert(rows === join.collect().toSeq.sortBy(_.mkString("|")))
    rows
  }

  private def flipped(i: Int, bits: Int): (Long, Long) = {
    val (hi, lo) = (corpus(i)._2, corpus(i)._3)
    ((0 until bits).foldLeft(hi)((h, j) => h ^ (1L << (i * 7 + j * 13) % 64)), lo)
  }

  test("small path = join plan: pre-computed signatures, no hits, empty index, duplicate and null queries") {
    import spark.implicits._
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo")).localCheckpoint()
    val (uh, ul) = sigOf(99999L)
    val qs = Seq[(String, Option[Long], Option[Long])](
      ("q_exact", Some(corpus(5)._2), Some(corpus(5)._3)),
      ("q_near", Some(flipped(9, 6)._1), Some(flipped(9, 6)._2)),
      // one query_id twice: its candidates pool, min distance per id
      ("q_dup", Some(corpus(20)._2), Some(corpus(20)._3)),
      ("q_dup", Some(flipped(40, 3)._1), Some(flipped(40, 3)._2)),
      ("q_none", Some(uh), Some(ul)), // probes, but nothing similar
      ("q_null", None, None)) // no signature: no probes, no hits
      .toDF("query_id", "sim_hi", "sim_lo")
    val rows = bothPaths(index, qs, 3, 0.8)
    assert(rows.map(_.getString(0)).distinct.sorted ===
      Seq("q_dup", "q_exact", "q_near"))
    assert(rows.filter(_.getString(0) == "q_dup").map(_.getString(1)).toSet ===
      Set("rec_21", "rec_41"))
    val empty = SimIndex.build(Seq.empty[(String, Long, Long)]
      .toDF("id", "sim_hi", "sim_lo"))
    assert(bothPaths(empty, qs, 3, 0.8).isEmpty)
  }

  test("small path = join plan: multi-probe queries with margins") {
    import spark.implicits._
    val cfg = DedupConfig(nBands = 8)
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo"), cfg)
      .localCheckpoint()
    assert(bothPaths(index, foldDistorted(8), 2, 0.7, cfg, probes = 3).nonEmpty)
  }

  test("small path = join plan: strict threshold at an integral minSimilarity*128") {
    import spark.implicits._
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo")).localCheckpoint()
    // 4 flipped bits: similarity exactly 124
    val q = Seq(("q", flipped(30, 4)._1, flipped(30, 4)._2))
      .toDF("query_id", "sim_hi", "sim_lo")
    assert(bothPaths(index, q, 5, 124.0 / 128).isEmpty)
    assert(bothPaths(index, q, 5, 123.0 / 128).map(r => (r.getString(1), r.getInt(2))) ===
      Seq(("rec_31", 124)))
  }

  test("small path = join plan: ties cut at topN in Spark's string order, not UTF-16 order") {
    import spark.implicits._
    val (hi, lo) = sigOf(7L)
    // one signature under five ids; U+FF21 sorts before U+1F600 by code
    // point (and UTF-8 bytes) but after it by UTF-16 code unit
    val ids = Seq("\uD83D\uDE00_emoji", "\uFF21_fullwidth", "z", "b", "a")
    val index = SimIndex.build(ids.map(id => (id, hi, lo)).toDF("id", "sim_hi", "sim_lo"))
      .localCheckpoint()
    val q = Seq(("q", hi, lo)).toDF("query_id", "sim_hi", "sim_lo")
    assert(bothPaths(index, q, 4, 0.8).map(_.getString(1)) ===
      Seq("a", "b", "z", "\uFF21_fullwidth"))
  }

  test("a hit set over the broadcast budget falls back to the join plan, same rows") {
    import spark.implicits._
    val index = SimIndex.build(corpus.toDF("id", "sim_hi", "sim_lo")).localCheckpoint()
    val qs = (0 until 4).map(i => (s"q_$i", corpus(i)._2, corpus(i)._3))
      .toDF("query_id", "sim_hi", "sim_lo")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    // a budget of 2 hit rows (8 + 48 bytes each): 4 exact queries hit 112
    spark.conf.set(key, "120")
    try {
      assert(SimIndex.localTopN(index, qs, 3, 0.8).isEmpty)
      val got = SimIndex.queryTopN(index, qs, 3, 0.8).collect().toSeq.sortBy(_.mkString("|"))
      assert(got.nonEmpty)
      assert(got === SimIndex.joinTopN(index, qs, 3, 0.8).collect().toSeq.sortBy(_.mkString("|")))
    } finally spark.conf.set(key, saved)
    assert(SimIndex.localTopN(index, qs, 3, 0.8).isDefined)
  }
}
