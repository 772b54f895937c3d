package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one benchmark run is given. */
final case class Ctx(spark: SparkSession, root: Path, seed: Long,
    seconds: Int, cores: Int, sessionSec: Double) {
  def deadlineAfter(t0: Long): Long = t0 + seconds * 1000000000L
}

/** What one benchmark run measured and checked. An operation is one call
  * of the workload's surface: a `DedupJob.run`, a micro-batch (or the
  * clustering call after a drain), or a `QueryJob.run`. A failed
  * correctness check counts as a failed operation. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  def layerMetric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    layerMetrics(name) = (value, unit)
  }

  /** Counts a failed operation. */
  def fail(msg: String): Unit = { failed += 1; failures += msg }

  /** Counts a failed operation unless `ok`. */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** Runs one operation, counting it and any exception it throws. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$what threw: $e"); None }
  }

  def correct: Boolean = failed == 0 && failures.isEmpty
}
