package graft

/** Measures the driver heap the local union-find path of
  * ConnectedComponents needs at representative edge volumes and id widths —
  * the number `MeasuredBytesPerEdge`'s scaladoc cites.
  *
  *   SPARK_DRIVER_MEM=2g sbt -batch "runMain graft.UnionFindProbe"
  *
  * No Spark session is needed. Run it with a small heap: the probe fills
  * the heap it is given.
  *
  * Ids are 36-char (image-id width). The probe materializes the collected
  * raw edge array (what the local path's bounded collect returns) and
  * reports two figures per shape and size:
  *  - `collect`: the array's retained heap, diffed across forced GCs;
  *  - `peak`: the most the kernel (`labelsOf`) holds at once on top of it —
  *    its intern map, `names`, `parent`/`rank` and `minOf` tables and the
  *    label array, most of which is garbage once it returns. Measured by
  *    bisecting, in this JVM, the largest ballast under which the kernel
  *    still completes, and the largest under which a no-op completes (the
  *    heap the collector itself keeps free, e.g. G1's reserve): peak = the
  *    difference, to one 64 KB ballast chunk.
  * Two shapes:
  *  - `clusters`: dedup-shaped, one hub and 4 spokes per cluster (1.25
  *    vertices per raw row), each row a canonical pair;
  *  - `matching`: the worst case per raw row, every row two ids no other
  *    row shares (2 vertices per row, the most a row can intern).
  */
object UnionFindProbe {
  private val ChunkBytes = 64 << 10 // well below a G1 region: no humongous ballast

  private def usedHeap(): Long = {
    (1 to 5).foreach(_ => System.gc())
    Thread.sleep(200)
    val r = Runtime.getRuntime
    r.totalMemory() - r.freeMemory()
  }

  private def id(n: Long, tag: Char): String = {
    val head = f"img_$n%016d_$tag"
    head + "a" * (36 - head.length)
  }

  /** Does `body` complete while `chunks` ballast chunks stay reachable? */
  private def completesUnder(chunks: Int)(body: => Unit): Boolean = {
    var ballast: Array[Array[Byte]] = null
    try {
      ballast = new Array[Array[Byte]](chunks)
      var i = 0
      while (i < chunks) { ballast(i) = new Array[Byte](ChunkBytes); i += 1 }
      body
      chunks == 0 || ballast(chunks - 1) != null
    } catch { case _: OutOfMemoryError => false }
    finally { ballast = null; usedHeap() }
  }

  /** The largest ballast, in bytes, under which `body` completes. */
  private def headroom(body: => Unit): Long = {
    var lo = 0
    var hi = (Runtime.getRuntime.maxMemory / ChunkBytes).toInt
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (completesUnder(mid)(body)) lo = mid else hi = mid - 1
    }
    lo.toLong * ChunkBytes
  }

  def main(args: Array[String]): Unit = {
    val shapes = Seq[(String, Int => (String, String))](
      "clusters" -> (i => (id(i / 4, 'a'), id(i / 4, ('b' + i % 4).toChar))),
      "matching" -> (i => (id(i, 'a'), id(i, 'b'))))
    println(f"heap ${Runtime.getRuntime.maxMemory / 1e6}%.0f MB")
    for ((shape, row) <- shapes; n <- Seq(250000, 500000, 1000000)) {
      val before = usedHeap()
      val edges = Array.tabulate(n)(row)
      val withEdges = usedHeap()
      val collect = withEdges - before
      val peak = headroom(()) -
        headroom(graft.pipeline.ConnectedComponents.labelsOf(edges))
      println(f"$shape%-8s rows=$n%8d collect=${collect / 1e6}%7.1f MB " +
        f"peak=${peak / 1e6}%7.1f MB " +
        f"perRow collect=${collect.toDouble / n}%6.1f B " +
        f"collect+peak=${(collect + peak).toDouble / n}%6.1f B")
    }
  }
}
