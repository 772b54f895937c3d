package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.{col, crc32, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite
import graft.images.SyntheticCorpus
import graft.index.SimIndex
import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig}
import graft.streaming.StreamingDedup

/** Spark job budgets of the shipped surfaces. Fixed per-job costs are most
  * of a small call, so each count is pinned where it stands: a change that
  * adds jobs fails here, and a change that cuts them lowers the pin. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("connected components, local path: one job and no shuffle before the result is used") {
    import spark.implicits._
    // RDD-backed, so the collect is a real job (a local relation would be
    // collected on the driver without one)
    val edges = spark.sparkContext.parallelize(
      Seq(("a", "b"), ("b", "c"), ("x", "y")), 1).toDF("a", "b")
    val vertices = Seq("a", "b", "c", "x", "y", "z").toDF("id")
    assert(SparkJobs.during(spark)(ConnectedComponents.run(spark, edges, vertices)) ===
      SparkJobs.Usage(jobs = 1, shuffleWriteBytes = 0L))
  }

  test("DedupJob.run fresh and resumed, and one collected QueryJob.run: pinned job counts") {
    val work = Files.createTempDirectory("graft-jobbudget").resolve("work").toString
    val (generated, _) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 2, nDistractors = 6)
    val images = generated.localCheckpoint()
    val queries = images.orderBy("image_id").limit(8).localCheckpoint()
    val fresh = SparkJobs.during(spark)(DedupJob.run(spark, images, work)).jobs
    val resumed = SparkJobs.during(spark)(DedupJob.run(spark, images, work)).jobs
    val query = SparkJobs.during(spark)(
      QueryJob.run(spark, work, queries, topN = 3).collect()).jobs
    assert((fresh, resumed, query) === ((29, 12, 2)),
      "(DedupJob fresh, DedupJob resumed, QueryJob)")
  }

  test("Dedup.run: pinned job count") {
    val (generated, _) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 2, nDistractors = 6)
    val images = generated.localCheckpoint()
    assert(SparkJobs.during(spark)(Dedup.run(images)).jobs === 13)
  }

  test("SimIndex.queryTopN: a small batch in two jobs; one row over the cap takes the join plan") {
    import spark.implicits._
    val sigs = (0 until 40).map { i =>
      val h = SyntheticCorpus.mix64(i.toLong)
      (s"rec_$i", h, SyntheticCorpus.mix64(h))
    }
    val index = SimIndex.build(sigs.toDF("id", "sim_hi", "sim_lo")).localCheckpoint()
    val cap = SimIndex.smallBatchRows(spark)
    // RDD-backed, so each collect is a real job
    def batch(rows: Int) = spark.sparkContext.parallelize(sigs.take(rows), 2)
      .toDF("query_id", "sim_hi", "sim_lo")
    def jobs(df: => org.apache.spark.sql.DataFrame) = SparkJobs.during(spark)(df.collect()).jobs
    assert(jobs(SimIndex.queryTopN(index, batch(cap), 3, 0.8)) === 2)
    // over the cap: the bounded collect that finds it out, then the join plan
    val joinJobs = jobs(SimIndex.joinTopN(index, batch(cap + 1), 3, 0.8))
    assert(jobs(SimIndex.queryTopN(index, batch(cap + 1), 3, 0.8)) === 1 + joinJobs)
    assert(joinJobs > 2)
  }

  test("StreamingDedup.processBatch: pinned job counts without state, with state, and compacting") {
    val state = Files.createTempDirectory("graft-jobbudget-stream").toString
    val (generated, _) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 2, nDistractors = 6)
    val images = generated.localCheckpoint()
    def batch(id: Long, compactEvery: Int) = SparkJobs.during(spark)(
      StreamingDedup.processBatch(spark,
        images.filter(pmod(crc32(col("image_id")), lit(3)) === id), state,
        DedupConfig(), batchId = id, metrics = true, stateP = 4,
        compactEvery = compactEvery)).jobs
    val first = batch(0L, compactEvery = 8)
    val second = batch(1L, compactEvery = 8)
    // two committed batches older than this one: compactEvery = 1 folds them
    val compacting = batch(2L, compactEvery = 1)
    assert((first, second, compacting) === ((43, 43, 55)),
      "(no state, state present, compacting)")
  }
}
