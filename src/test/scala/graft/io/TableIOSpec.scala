package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkJobs, SparkTestBase}

class TableIOSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The number of Spark jobs `body` submitted. */
  private def jobsDuring(body: => Any): Int = SparkJobs.during(spark)(body).jobs

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getString(0))

  test("stage runner: recompute once, resume from manifest, invalidate on config change") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-io").toString
    val io = new ParquetTableIO(root)
    var computes = 0
    def runner(h: String) = new StageRunner(io, spark, h)

    val r1 = runner("cfg-A")
    val out1 = r1.stage("sigs") { computes += 1; Seq(1, 2, 3).toDF("x") }
    assert(out1.count() === 3 && computes === 1)
    assert(r1.lineageLog === Seq(("sigs", false)))

    // resume: same config hash -> no recompute
    val r2 = runner("cfg-A")
    val out2 = r2.stage("sigs") { computes += 1; Seq(9).toDF("x") }
    assert(out2.count() === 3 && computes === 1)
    assert(r2.lineageLog === Seq(("sigs", true)))

    // config change -> stale manifest ignored, recompute
    val r3 = runner("cfg-B")
    val out3 = r3.stage("sigs") { computes += 1; Seq(7, 8).toDF("x") }
    assert(out3.count() === 2 && computes === 2)
  }

  test("a failed rewrite invalidates the previous commit instead of leaving a stale manifest") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-io-crash").toString
    val io = new ParquetTableIO(root)
    io.writeStage(Seq(1, 2, 3).toDF("x"), "sigs", "cfg-A")
    assert(io.readStage(spark, "sigs", "cfg-A").isDefined)
    // a rewrite under a new config that DIES mid-write (here: a task
    // failure; a driver kill behaves the same) must not leave the OLD
    // manifest pointing at torn new-config data — the old commit is
    // invalidated before the data dir is touched, so the crashed stage
    // reads as absent and is recomputed on resume
    val boom = org.apache.spark.sql.functions.udf((i: Int) =>
      if (i > 0) throw new RuntimeException("boom") else i)
    intercept[Exception] {
      io.writeStage(Seq(4, 5).toDF("x")
        .select(boom(org.apache.spark.sql.functions.col("x")).as("x")),
        "sigs", "cfg-B")
    }
    assert(io.readStage(spark, "sigs", "cfg-A").isEmpty,
      "stale manifest survived a failed rewrite")
    assert(io.readStage(spark, "sigs", "cfg-B").isEmpty)
  }

  test("a stage commit is one Spark job; a resume and a bare readStage run none") {
    val root = Files.createTempDirectory("graft-io-jobs").toString
    val io = new ParquetTableIO(root)
    val mapOnly = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") * 3).as("y"))
    assert(jobsDuring(new StageRunner(io, spark, "cfg").stage("t")(mapOnly)) === 1)
    assert(io.stageRows("t", "cfg") === Some(1000L))
    val resume = new StageRunner(io, spark, "cfg")
    assert(jobsDuring(
      resume.stage("t")(sys.error("a committed stage was recomputed"))) === 0)
    assert(resume.lineageLog === Seq(("t", true)))
    assert(jobsDuring(io.readStage(spark, "t", "cfg").get) === 0)
  }

  test("commit round trip: manifest rows and schema match the written data, empty frame included") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-io-roundtrip").toString
    val io = new ParquetTableIO(root)
    // shaped like the signatures stage: binary, array and long columns;
    // sim_hi is a primitive, so non-nullable in the frame's schema
    val sigsLike = Seq(
      ("img_a", 1L, Seq(3L, 4L), Array[Byte](1, 2)),
      ("img_b", -7L, Seq.empty[Long], Array.empty[Byte]),
      ("img_c", Long.MaxValue, Seq(Long.MinValue), null: Array[Byte])
    ).toDF("image_id", "sim_hi", "minhash", "bits").repartition(2)
    assert(!sigsLike.schema("sim_hi").nullable)
    for ((name, df) <- Seq("sigs" -> sigsLike, "empty" -> sigsLike.limit(0))) {
      io.writeStage(df, name, "cfg")
      val inferred = spark.read.parquet(s"$root/$name/data")
      assert(io.stageRows(name, "cfg") === Some(inferred.count()), name)
      val back = io.readStage(spark, name, "cfg").get
      assert(back.schema === inferred.schema, name)
      assert(sortedRows(back) === sortedRows(df), name)
    }
    assert(io.stageRows("sigs", "cfg") === Some(3L))
    assert(io.stageRows("empty", "cfg") === Some(0L))
  }

  test("a manifest without a schema (the older format) is stale: the stage recomputes once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-io-oldmanifest").toString
    val io = new ParquetTableIO(root)
    io.writeStage(Seq(1, 2, 3).toDF("x"), "sigs", "cfg-A")
    Files.writeString(Paths.get(root, "sigs", "MANIFEST.json"),
      """{"stage":"sigs","configHash":"cfg-A","rows":3}""")
    assert(io.readStage(spark, "sigs", "cfg-A").isEmpty)
    assert(io.stageRows("sigs", "cfg-A").isEmpty)

    var computes = 0
    val r1 = new StageRunner(io, spark, "cfg-A")
    val out = r1.stage("sigs") { computes += 1; Seq(1, 2, 3).toDF("x") }
    assert(computes === 1 && r1.lineageLog === Seq(("sigs", false)))
    assert(out.count() === 3 && io.stageRows("sigs", "cfg-A") === Some(3L))
    // the rewritten manifest is current: the next run resumes
    val r2 = new StageRunner(io, spark, "cfg-A")
    r2.stage("sigs") { computes += 1; Seq(9).toDF("x") }
    assert(computes === 1 && r2.lineageLog === Seq(("sigs", true)))
  }
}
