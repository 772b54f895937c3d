package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.images.{ImageCodec, ImageRow, SyntheticCorpus}
import graft.images.SyntheticCorpus.Rng

/** A planted corpus written as parquet: the only thing the program reads. */
final case class Corpus(images: String, rows: Long, bytes: Long,
    truth: Map[String, Long]) {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(images)
}

/** Seeded input generation. Every workload's inputs are a function of the
  * benchmark seed alone: `SyntheticCorpus` is counter-based, so the same
  * seed gives the same bytes. */
object Inputs {

  /** Variants per planted group: the generator cycles exact copy, noisy
    * pixels, re-encode and caption paraphrase, so one variant in four is
    * an exact duplicate record. */
  val Variants = 4

  /** `groups` planted groups of 1 + [[Variants]] rows plus as many
    * singleton distractors, written to `out`. */
  def corpus(spark: SparkSession, seed: Long, groups: Int, out: Path): Corpus = {
    val (images, truth) =
      SyntheticCorpus.generate(spark, groups, Variants, groups, seed)
    images.write.parquet(out.toString)
    val truthMap = truth.collect()
      .map(r => r.getAs[String]("image_id") -> r.getAs[Long]("group_id")).toMap
    spark.catalog.clearCache()
    Corpus(out.toString, truthMap.size.toLong, Stats.dirBytes(out), truthMap)
  }

  /** The corpus rows in seeded shuffled order, split into `files` parquet
    * files whose modification times follow that order, so the streaming
    * source reads them in it and group members land in different
    * micro-batches. */
  def streamFiles(spark: SparkSession, corpus: Corpus, seed: Long, files: Int,
      out: Path): Long = {
    val rows = corpus.read(spark).orderBy("image_id").collect().toSeq
    val shuffled = new scala.util.Random(seed).shuffle(rows)
    val staging = out.resolveSibling(out.getFileName.toString + ".staging")
    spark.createDataFrame(spark.sparkContext.parallelize(shuffled, files),
        graft.streaming.StreamingDedup.imageSchema)
      .write.parquet(staging.toString)
    val parts = listParts(staging)
    require(parts.length == files, s"expected $files part files, got ${parts.length}")
    Files.createDirectories(out)
    val t0 = System.currentTimeMillis() - files * 1000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = out.resolve(f"f_$i%05d.parquet")
      Files.move(p, dst)
      dst.toFile.setLastModified(t0 + i * 1000L)
    }
    Stats.deleteTree(staging)
    Stats.dirBytes(out)
  }

  /** Part files of a parquet directory, in partition order. */
  private def listParts(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith("part-")) b += p
      }
      b.result().sortBy(_.getFileName.toString)
    } finally s.close()
  }

  /** Id of a planted group's source row, as `SyntheticCorpus` names it. */
  def sourceId(group: Long): String = f"img_${group}%08d_00"

  /** Query batches of `batchSize` raw image rows, one parquet file each.
    * Half of each batch are fresh copies of a seeded sample of indexed
    * source images (new pixel noise, or a JPEG re-encode); the other half
    * are unrelated images generated from `seed ^ 0x5eed`. `tag` prefixes
    * the row ids and picks an independent sample. Returns the batch files
    * and, per planted copy, the id of its source image. */
  def queryBatches(spark: SparkSession, seed: Long, indexedGroups: Int,
      batches: Int, batchSize: Int, out: Path,
      tag: String = "q"): (Seq[String], Map[String, String]) = {
    import spark.implicits._
    val n = batches * batchSize
    // rows are built on the executors, one partition (so one file) per batch
    spark.range(0, n, 1, batches).as[Long]
      .map(q => queryRow(seed, indexedGroups, batchSize, tag, q))
      .write.parquet(out.toString)
    val files = listParts(out).map(_.toString)
    require(files.length == batches, s"expected $batches query files, got ${files.length}")
    val sources = (0L until n).filter(q => q % batchSize < batchSize / 2)
      .map(q => copyId(tag, q) -> sourceId(copySource(seed, indexedGroups, tag, q))).toMap
    (files, sources)
  }

  private def copyId(tag: String, q: Long) = f"${tag}_$q%06d_copy"

  /** The indexed group whose source query row `q` copies. */
  private def copySource(seed: Long, indexedGroups: Int, tag: String, q: Long): Long =
    new Rng(seed, 0x9e77L ^ tag.hashCode.toLong, q).nextInt(indexedGroups).toLong

  private def queryRow(seed: Long, indexedGroups: Int, batchSize: Int, tag: String,
      q: Long): ImageRow =
    if (q % batchSize < batchSize / 2) {
      val g = copySource(seed, indexedGroups, tag, q)
      val src = SyntheticCorpus.groupRows(seed, g, 0, withSubstringRow = false).head._1
      val img = ImageCodec.decode(src.bytes)
      val (bytes, fmt) =
        if (q % 2 == 0)
          (ImageCodec.encode(SyntheticCorpus.addNoise(img,
            new Rng(seed, g, 1000L + q + (tag.hashCode.toLong << 32))), "png"), "png")
        else (ImageCodec.encode(img, "jpg"), "jpg")
      ImageRow(copyId(tag, q), bytes, src.w, src.h, fmt, src.caption,
        ImageCodec.phash64(ImageCodec.decode(bytes)))
    } else {
      SyntheticCorpus.groupRows(seed ^ 0x5eedL, 1000000L + q, 0,
        withSubstringRow = false).head._1.copy(image_id = f"${tag}_$q%06d_other")
    }

  /** Planted-pair recall of a clustering: the share of same-group pairs of
    * the truth that share a cluster. Rows missing from the clustering count
    * as unmatched. */
  def dupPairRecall(truth: Map[String, Long], clusters: Map[String, String]): Double = {
    def pairs(n: Long) = n * (n - 1) / 2
    val byGroup = truth.toSeq.groupBy(_._2)
    val total = byGroup.values.map(m => pairs(m.size.toLong)).sum
    val found = byGroup.values.map { members =>
      members.flatMap { case (id, _) => clusters.get(id) }
        .groupBy(identity).values.map(c => pairs(c.size.toLong)).sum
    }.sum
    if (total == 0) 1.0 else found.toDouble / total
  }

  /** `(image_id -> cluster_id)` of a clustering frame, on the driver. */
  def clusterMap(df: DataFrame): Map[String, String] =
    df.select(col("image_id"), col("cluster_id").cast("string")).collect()
      .map((r: Row) => r.getString(0) -> r.getString(1)).toMap

  /** Share of planted copies whose top-N hits contain their source image.
    * Variant 1 of a group is an exact duplicate record of its source, and
    * the streaming exact tier indexes whichever of the two arrives first,
    * so either one counts as the source. */
  def topnRecall(hits: Seq[(String, String)], sources: Map[String, String]): Double = {
    if (sources.isEmpty) return 1.0
    val got = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
    sources.count { case (q, src) =>
      got.get(q).exists(h => h.contains(src) || h.contains(src.stripSuffix("_00") + "_01"))
    }.toDouble / sources.size
  }
}
