package perfbench

import java.nio.file.{Files, Path}

/** Small statistics and process helpers shared by the workloads. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A latency tail: the highest whole percentile, from p50 up, that still
    * has at least ten samples above it (nearest-rank), with the sample
    * count. With fewer than twenty samples no such percentile exists, and
    * the maximum is reported as p100. */
  final case class Tail(value: Double, percentile: Int, samples: Int) {
    def label: String = s"p$percentile of $samples samples"
  }

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val pct = (99 to 50 by -1).find { p =>
      val rank = math.ceil(p / 100.0 * n).toInt
      n - rank >= 10
    }
    pct match {
      case Some(p) => Tail(s(math.ceil(p / 100.0 * n).toInt - 1), p, n)
      case None => Tail(s.last, 100, n)
    }
  }

  /** Peak resident set size of this JVM in MiB (`VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Machine-wide (busy, steal) clock ticks from `/proc/stat`, 100 per
    * second: user + nice + system + irq + softirq, and steal. */
  def cpuTicks(): Seq[Long] = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      Seq(v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    } finally f.close()
  }

  /** Total size in bytes of the regular files under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val it = Files.walk(dir)
      try {
        var n = 0L
        it.forEach(p => if (Files.isRegularFile(p)) n += Files.size(p))
        n
      } finally it.close()
    }

  def deleteTree(dir: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}
