package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite
import graft.images.SyntheticCorpus

/** The tables `DedupJob.run` writes next to its stages: `metrics`,
  * `lineage` and `partition_lineage` must agree with the committed stage
  * data they describe. */
class DedupJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("metrics, lineage and partition_lineage reconcile with the committed stages") {
    val work = Files.createTempDirectory("graft-dedupjob").resolve("work").toString
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 2, nDistractors = 6)
    DedupJob.run(spark, images, work)

    def table(name: String) = spark.read.parquet(s"$work/$name")
    def stageData(stage: String) = table(s"$stage/data")
    val metrics = table("metrics").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(metrics("input_rows") === images.count())
    for ((metric, stage) <- Seq("signatures" -> "signatures",
        "band_rows" -> "bands", "candidate_pairs" -> "candidates",
        "verified_pairs" -> "pairs"))
      assert(metrics(metric) === stageData(stage).count(), metric)
    assert(metrics("clusters") ===
      stageData("clusters").select("cluster_id").distinct().count())
    assert(table("partition_lineage").agg(sum("count")).head().getLong(0) ===
      metrics("band_rows"))

    val stages = Seq("signatures", "bands", "candidates", "pairs", "clusters")
    def lineage() = table("lineage").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toSeq
    assert(lineage() === stages.map(_ -> false))
    DedupJob.run(spark, images, work)
    assert(lineage() === stages.map(_ -> true))
  }
}
