package graft.streaming

/** Writes each committed table of a `StreamingDedup` state dir, read through
  * `StreamingDedup.readCommitted` (so in-flight, torn and subsumed dirs are
  * left out), to `<outDir>/<table>` as Parquet, for comparing two state dirs
  * row by row with DuckDB.
  *
  *   sbt -batch "Test/runMain graft.streaming.StateDump <stateDir> <outDir>"
  */
object StateDump {
  def main(args: Array[String]): Unit = {
    val Array(stateDir, outDir) = args
    val spark = graft.SparkTestBase.spark
    StreamingDedup.tableSpecs.foreach { case (table, schema, _, _) =>
      StreamingDedup.readCommitted(spark, stateDir, table, schema)
        .write.mode("overwrite").parquet(s"$outDir/$table")
    }
    spark.stop()
  }
}
