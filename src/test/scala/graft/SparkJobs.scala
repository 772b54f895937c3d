package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What a block of driver code submits to Spark: its job count and the
  * shuffle bytes its tasks write. */
object SparkJobs {
  final case class Usage(jobs: Int, shuffleWriteBytes: Long)

  def during(spark: SparkSession)(body: => Any): Usage = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    ListenerBusDrain(sc) // earlier tests' events must not reach the counter
    sc.addSparkListener(counter)
    try {
      body
      ListenerBusDrain(sc)
      Usage(jobs.get, shuffleBytes.get)
    } finally sc.removeSparkListener(counter)
  }
}
