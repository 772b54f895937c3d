package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's JVM entry point; `perfbench/run.py` builds and launches
  * it.
  *
  *   perfbench.Main --workload batch|stream --seed N --seconds S
  *     --trace 0|1 --dir WORK_ROOT
  *
  * Runs one workload against the program's public entry points at
  * `local[<cores>]` in a session built by `graft.Bench.makeSession`, as
  * every shipped main builds it. With `--trace 0` it prints every
  * end-to-end metric; with `--trace 1` it alternates untraced and traced
  * operations and prints the per-layer table. The last line of standard
  * output is one JSON object; the exit code is 0 only when every
  * correctness check passed.
  */
object Main {
  private val Workloads: Map[String, (Ctx, Outcome, Option[Tracer]) => Unit] = Map(
    "batch" -> BatchWorkload.run, "stream" -> StreamWorkload.run)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    val body = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = opt("seed").toLongOption.getOrElse(usage("--seed is not a number"))
    val seconds = opt("seconds").toIntOption.filter(_ > 0).getOrElse(usage("bad --seconds"))
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val root = Paths.get(opt("dir")).toAbsolutePath
    Stats.deleteTree(root)
    Files.createDirectories(root)

    val cores = Runtime.getRuntime.availableProcessors
    val cpu0 = Stats.cpuTicks()
    val wall0 = System.nanoTime()
    val (spark, sessionSec) = Stats.timed(graft.Bench.makeSession(cores.toString))
    val ctx = Ctx(spark, root, seed, seconds, cores, sessionSec)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val out = new Outcome
    try body(ctx, out, tracer)
    finally {
      tracer.foreach(_.stop())
      spark.stop()
    }
    Stats.deleteTree(root)
    val cpu = Stats.cpuTicks().zip(cpu0).map { case (a, b) => (a - b) / 100.0 }
    out.info += f"host cpu over the run: ${Stats.secondsSince(wall0)}%.1f s wall, " +
      f"busy ${cpu(0)}%.1f s, stolen ${cpu(1)}%.1f s (all cpus; steal is time the " +
      "hypervisor ran something else)"

    out.info.foreach(println)
    val failedFrac = out.failed.toDouble / math.max(1L, out.attempted)
    println(f"failed_frac ${failedFrac}%.4f (${out.failed} of ${out.attempted} operations)")
    out.failures.foreach(f => println(s"FAILED CHECK: $f"))
    val shown = if (trace) out.layerMetrics else out.metrics
    val expected = if (trace) LayerReport.names.map(_._1) else EndToEnd
    expected.filterNot(shown.contains).foreach { m =>
      out.failures += s"metric $m was not measured"
      println(s"FAILED CHECK: metric $m was not measured")
    }
    if (!trace) shown.foreach { case (k, (v, u)) => println(f"$k%-28s $v%.6g $u") }
    val metrics = expected.filter(shown.contains).map { k =>
      val (v, u) = shown(k)
      s""""$k": {"value": ${v.toString}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": $metrics}""")
    sys.exit(if (out.correct) 0 else 1)
  }

  /** The end-to-end metric names, in `BENCHMARK.json` order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "peak_rss_mb", "images_per_s",
    "latency_p50_s", "latency_tail_s", "queries_per_s", "cluster_s",
    "stored_bytes_per_input_byte", "dup_pair_recall", "topn_recall")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      "batch|stream --seed N --seconds S --trace 0|1 --dir WORK_ROOT")
    sys.exit(2)
  }
}
