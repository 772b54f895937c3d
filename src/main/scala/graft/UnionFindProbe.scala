package graft

/** Measures the REAL driver-heap retention of ConnectedComponents' local
  * union-find path at representative edge volumes and id widths — the
  * number `localEdgeThreshold`'s scaladoc cites (round-3 review: the old
  * "~100 B/edge" estimate ignored tuple/HashMap boxing).
  *
  *   sbt -batch "runMain graft.UnionFindProbe"   # no Spark session needed
  *
  * Methodology: materialize the collected raw edge array (the dominant
  * retained structure — what the local path's bounded
  * `as[(String,String)].limit(cap + 1).collect()` returns) plus the
  * union-find's index/names/parent/rank/minOf tables, and diff used heap
  * across forced GCs. Ids are 36-char (image-id width). Two shapes:
  *  - `clusters`: dedup-shaped, one hub and 4 spokes per cluster (1.25
  *    vertices per raw row), each row a canonical pair;
  *  - `matching`: the worst case per raw row, every row two ids no other
  *    row shares (2 vertices per row, the most a row can intern).
  */
object UnionFindProbe {
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

  def main(args: Array[String]): Unit = {
    val shapes = Seq[(String, Int => (String, String))](
      "clusters" -> (i => (id(i / 4, 'a'), id(i / 4, ('b' + i % 4).toChar))),
      "matching" -> (i => (id(i, 'a'), id(i, 'b'))))
    for ((shape, row) <- shapes; n <- Seq(250000, 500000, 1000000)) {
      val before = usedHeap()
      val edges = Array.tabulate(n)(row)
      val mid = usedHeap()
      val labels = graft.pipeline.ConnectedComponents.labelsOf(edges)
      val after = usedHeap()
      println(f"$shape%-8s rows=$n%8d collect=${(mid - before) / 1e6}%7.1f MB " +
        f"unionfind=${(after - mid) / 1e6}%7.1f MB " +
        f"total=${(after - before) / 1e6}%7.1f MB " +
        f"perRow=${(after - before).toDouble / n}%6.1f B " +
        f"(vertices=${labels.length})")
    }
  }
}
