package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.images.SyntheticCorpus
import graft.index.SimIndex
import graft.io.ParquetTableIO
import graft.pipeline.{Dedup, DedupConfig}

/** End-to-end `matchfunctionsfromindex` workflow (QueryJob): DedupJob builds
  * and commits the index; QueryJob reopens it (never rebuilds), probes raw
  * and DISTORTED queries, and enriches hits with reference-format metadata
  * — the Spark composition of `tools/matchfunctionsfromindex.cpp:82-200`
  * over `searchbackend/simhashsearchindex_test.cpp:82-125`'s
  * recall-under-perturbation contract. */
class QueryJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("reopen index, query raw + distorted, enrich with metadata") {
    val root = Files.createTempDirectory("graft-queryjob").toString
    val (images0, _) = SyntheticCorpus.generate(spark,
      nGroups = 12, variantsPerGroup = 2, nDistractors = 14)
    // fileid:address-style ids so the metadata join convention applies
    val images = images0.withColumn("image_id",
      concat(lit("f"), substring(col("image_id"), 5, 8), lit(":"),
        substring(col("image_id"), 14, 2)))
      .localCheckpoint()
    val n = images.count()
    DedupJob.run(spark, images, s"$root/work")

    // the planted corpus contains degenerate identical-signature families
    // (skew rows); for those, "retrieve YOURSELF" is unspecified under the
    // reference's (distance, id) tie-break — any family member at the same
    // distance is a correct answer. Exact-self assertions therefore scope
    // to records whose signature is unique in the corpus.
    val sigs = Dedup.signatures(images, DedupConfig()).localCheckpoint()
    val uniqueIds = sigs
      .withColumn("cnt", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("sim_hi", "sim_lo")))
      .filter(col("cnt") === 1)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(uniqueIds.size >= 15, s"corpus too degenerate: ${uniqueIds.size}")
    val uniq = (c: org.apache.spark.sql.Column) =>
      c.isin(uniqueIds.toSeq: _*)

    // 1) raw-image queries against the REOPENED index: rank 1 is a full
    // match for every query; unique-signature records retrieve THEMSELVES
    val self = QueryJob.run(spark, s"$root/work", images, topN = 3)
      .localCheckpoint()
    assert(self.filter(col("rank") === 1)
      .filter(col("similarity") === 128).count() === n)
    val selfHits = self.filter(col("query_id") === col("id"))
      .filter(uniq(col("query_id")))
    assert(selfHits.count() === uniqueIds.size)
    assert(selfHits.filter(col("similarity") === 128 && col("rank") === 1)
      .count() === uniqueIds.size)

    // 2) distorted signatures (4 flipped bits) still retrieve their source
    val distorted = sigs.select(col("image_id").as("query_id"),
      col("sim_hi").bitwiseXOR(lit((1L << 3) | (1L << 40))).as("sim_hi"),
      col("sim_lo").bitwiseXOR(lit((1L << 7) | (1L << 55))).as("sim_lo"))
    val hits = QueryJob.run(spark, s"$root/work", distorted, topN = 3)
    val found = hits.filter(col("query_id") === col("id"))
      .filter(uniq(col("query_id")))
    assert(found.count() === uniqueIds.size,
      s"distorted queries retrieved ${found.count()} of ${uniqueIds.size} unique sources")
    assert(found.filter(col("similarity") === 124).count() === uniqueIds.size)

    // 3) metadata enrichment: symbol (base64 round-trip) + vulnerability
    // flag land on each hit via the fileid:address convention
    val ids = images.select("image_id").collect().map(_.getString(0)).sorted
    val meta = ids.zipWithIndex.map { case (id, i) =>
      val Array(fid, addr) = id.split(":")
      val sym = java.util.Base64.getEncoder.encodeToString(
        s"sym_$id".getBytes("UTF-8"))
      s"$fid file_$fid.bin $addr $sym ${i % 2 == 0}"
    }
    val metaPath = s"$root/metadata.txt"
    Files.writeString(java.nio.file.Paths.get(metaPath),
      meta.mkString("", "\n", "\n"))
    val enriched = QueryJob.run(spark, s"$root/work", images, topN = 1,
      metadataTxt = Some(metaPath))
      .filter(col("query_id") === col("id")).filter(uniq(col("query_id")))
      .localCheckpoint()
    assert(enriched.count() === uniqueIds.size)
    val bad = enriched
      .filter(col("symbol") =!= concat(lit("sym_"), col("id")))
      .count()
    assert(bad === 0, s"$bad hits with wrong symbol")
    val vulnIds = ids.zipWithIndex
      .collect { case (id, i) if i % 2 == 0 => id }.toSet
    val gotVuln = enriched.filter(col("vulnerable"))
      .select("id").collect().map(_.getString(0)).toSet
    assert(gotVuln === vulnIds.intersect(uniqueIds))
  }

  test("multi-probe queries against a reduced-band index (probes surface)") {
    val root = Files.createTempDirectory("graft-queryjob-mp").toString
    val (images0, _) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 2, nDistractors = 10)
    val images = images0.localCheckpoint()
    val n = images.count()
    val cfg = DedupConfig(nBands = 8) // several-fold smaller persisted index
    DedupJob.run(spark, images, s"$root/work", cfg)
    // raw image rows + probes: featurized with fold margins automatically;
    // every query's exact bands still collide, so rank 1 is a full match —
    // this pins the CLI plumbing (margins ride along, probe rows join, the
    // verify/rank semantics are unchanged by probing)
    val hits = QueryJob.run(spark, s"$root/work", images, topN = 1,
      cfg = cfg, probes = 3)
    assert(hits.filter(col("rank") === 1)
      .filter(col("similarity") === 128).count() === n)
    // pre-computed signatures WITHOUT margins cannot probe: fail fast with
    // the actionable message, never probe undefined bits
    val bare = Dedup.signatures(images, cfg)
      .select(col("image_id").as("query_id"), col("sim_hi"), col("sim_lo"))
      .localCheckpoint()
    val e = intercept[IllegalArgumentException] {
      QueryJob.run(spark, s"$root/work", bare, cfg = cfg, probes = 3)
    }
    assert(e.getMessage.contains("margins"))
    // ... and WITH margins they probe fine (signaturesWithMargins is the
    // documented featurize path for precomputed multi-probe queries)
    val withM = Dedup.signaturesWithMargins(images, cfg)
      .select(col("image_id").as("query_id"), col("sim_hi"), col("sim_lo"),
        col("margins"))
    assert(QueryJob.run(spark, s"$root/work", withM, topN = 1,
      cfg = cfg, probes = 3)
      .filter(col("rank") === 1)
      .filter(col("similarity") === 128).count() === n)
  }

  test("DedupJob under a bandProbes config: probes transient, recall kept, probe default flows to QueryJob") {
    val root = Files.createTempDirectory("graft-dedupjob-mp").toString
    val (images0, truth) = SyntheticCorpus.generate(spark,
      nGroups = 10, variantsPerGroup = 3, nDistractors = 12)
    val images = images0.localCheckpoint()
    val cfg = DedupConfig(nBands = 8, bandProbes = 3)
    val clusters = DedupJob.run(spark, images, s"$root/work", cfg)
    // recall vs planted truth through the full persisted-stage pipeline
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val pairs = Dedup.clusterPairs(clusters).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(truthPairs.subsetOf(pairs),
      s"probed DedupJob lost ${truthPairs.diff(pairs).size} truth pairs")
    // the COMMITTED bands stage holds exactly the exact-key rows — probe
    // rows are generated transiently into the candidate pass, never stored
    val io = new graft.io.ParquetTableIO(s"$root/work")
    val stored = io.readStage(spark, "bands", cfg.stageHash).get.count()
    val exact = Dedup.bands(
      io.readStage(spark, "signatures", cfg.stageHash).get, cfg).count()
    assert(stored === exact, s"persisted bands $stored != exact rows $exact")
    // QueryJob with NO explicit probes argument inherits cfg.bandProbes —
    // a reduced-band index must never be silently queried exact-only
    val hits = QueryJob.run(spark, s"$root/work", images, topN = 1, cfg = cfg)
    assert(hits.filter(col("rank") === 1)
      .filter(col("similarity") === 128).count() === images.count())
  }

  test("small batch: same rows and schema as the join plan (raw rows, pre-computed signatures, probes)") {
    val root = Files.createTempDirectory("graft-queryjob-small").toString
    val (images0, _) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 2, nDistractors = 10)
    val images = images0.localCheckpoint()
    val cfg = DedupConfig(nBands = 8)
    DedupJob.run(spark, images, s"$root/work", cfg)
    val index = new ParquetTableIO(s"$root/work").readStage(spark, "bands",
      cfg.stageHash).get.withColumnRenamed("image_id", "id")
    val batch = images.orderBy("image_id").limit(SimIndex.smallBatchRows(spark))
      .localCheckpoint()
    def same(got: DataFrame, want: DataFrame): Unit = {
      // the small path answered: eagerly, as a local relation
      assert(got.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(got.schema === want.schema)
      val rows = got.collect().toSeq.sortBy(_.mkString("|"))
      assert(rows.nonEmpty)
      assert(rows === want.collect().toSeq.sortBy(_.mkString("|")))
    }
    for (probes <- Seq(0, 3)) {
      val base = Seq(col("image_id").as("query_id"), col("sim_hi"), col("sim_lo"))
      val sigs =
        if (probes > 0) Dedup.signaturesWithMargins(batch, cfg)
          .select(base :+ col("margins"): _*)
        else Dedup.signatures(batch, cfg).select(base: _*)
      val want = SimIndex.joinTopN(index, sigs, 3, 0.8, cfg, probes)
      same(QueryJob.run(spark, s"$root/work", batch, topN = 3, cfg = cfg,
        probes = probes), want)
      same(QueryJob.run(spark, s"$root/work", sigs, topN = 3, cfg = cfg,
        probes = probes), want)
    }
  }
}
