package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Storage abstraction with atomic-snapshot stage commit — the Iceberg-shaped
  * seam of SURVEY.md §7 (no Iceberg runtime jar ships in this sandbox, so the
  * default implementation emulates the semantics the pipeline needs on plain
  * Parquet: write-then-atomic-manifest-rename commit, append as new
  * snapshot directories, stage validity keyed by a config hash).
  *
  * The reference's analog is the `create=false` reopen of the mmap'd index
  * (`simhashsearchindex.cpp:23-40`) — an index file is "the last complete
  * state"; here every stage directory is.
  *
  * Production swap-in: an Iceberg catalog implements this trait with
  * `writeTo(...).createOrReplace()` / snapshot ids and nothing above it
  * changes.
  */
trait TableIO {
  /** Atomically commit `df` as stage `name`; a later `readStage` with the
    * same configHash returns it without recompute. */
  def writeStage(df: DataFrame, name: String, configHash: String): Unit
  /** The committed stage, if present and built under the same configHash. */
  def readStage(spark: SparkSession, name: String, configHash: String): Option[DataFrame]
  /** Row count recorded at stage commit, if the backend tracks one — lets
    * metrics reporting skip a re-count job over the stage table (the
    * commit's own write job already counted the rows). */
  def stageRows(name: String, configHash: String): Option[Long] = None
}

/** Parquet + manifest implementation. Commit protocol: write parquet to
  * `<root>/<name>/data`, then atomically move a manifest JSON into place;
  * readers treat the manifest as the commit record (crash between the two
  * leaves no manifest → stage is simply recomputed on resume).
  *
  * The manifest is `{"stage","configHash","rows","schema"}`: the row count
  * is observed inside the write job and the schema is the frame's own, so
  * a commit is exactly one Spark job and a reopen runs none — like the
  * reference's `create=false` reopen, the file alone says what the data
  * is. A manifest without a schema (written before the field existed)
  * reads as absent, so its stage is recomputed once. */
final class ParquetTableIO(root: String) extends TableIO {
  private def dir(name: String) = Paths.get(root, name)
  private def manifest(name: String) = dir(name).resolve("MANIFEST.json")
  private def data(name: String) = dir(name).resolve("data").toString

  override def writeStage(df: DataFrame, name: String, configHash: String): Unit = {
    // invalidate any PREVIOUS commit before touching its data: the
    // overwrite below deletes the old part files first, so a crash
    // mid-rewrite would otherwise leave the old manifest pointing at
    // torn new-config data, and a later run under the old configHash
    // would pass the manifest check and silently adopt it
    Files.deleteIfExists(manifest(name))
    // the row count rides the write job: observed directly under the
    // write, it sits in the write's result stage, where each task's
    // update is applied exactly once (no re-read count job)
    val written = Observation()
    // zstd: markedly better ratio than the snappy default at similar read
    // speed (guide §6) — stage tables are the long-lived bytes of a build
    df.observe(written, count(lit(1)).as("rows"))
      .write.option("compression", "zstd").mode("overwrite").parquet(data(name))
    val rows = written.get("rows").asInstanceOf[Long]
    val tmp = dir(name).resolve(".MANIFEST.tmp")
    Files.writeString(tmp, compact(render(
      ("stage" -> name) ~ ("configHash" -> configHash) ~ ("rows" -> rows) ~
        ("schema" -> parse(df.schema.json)))), StandardCharsets.UTF_8)
    Files.move(tmp, manifest(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The manifest's (rows, schema) if stage `name` is committed under
    * `configHash`; a missing, other-config or schema-less manifest is no
    * commit. */
  private def committed(name: String, configHash: String): Option[(Long, StructType)] = {
    val m = manifest(name)
    if (!Files.exists(m)) None
    else {
      val json = parse(Files.readString(m))
      (json \ "configHash", json \ "rows", json \ "schema") match {
        case (JString(`configHash`), JInt(rows), schema: JObject) =>
          Some((rows.toLong,
            DataType.fromJson(compact(render(schema))).asInstanceOf[StructType]))
        case _ => None
      }
    }
  }

  override def readStage(spark: SparkSession, name: String,
      configHash: String): Option[DataFrame] =
    committed(name, configHash).map { case (_, schema) =>
      spark.read.schema(schema).parquet(data(name))
    }

  override def stageRows(name: String, configHash: String): Option[Long] =
    committed(name, configHash).map(_._1)
}

/** Checkpoint-resumable stage chaining: each stage is computed only if its
  * manifest (keyed by the pipeline config hash) is absent, so a re-launched
  * job resumes from the last complete stage boundary (north rule). */
final class StageRunner(val io: TableIO, spark: SparkSession, configHash: String) {
  private val lineage = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]

  def stage(name: String)(compute: => DataFrame): DataFrame =
    io.readStage(spark, name, configHash) match {
      case Some(df) =>
        lineage += ((name, true)); df
      case None =>
        io.writeStage(compute, name, configHash)
        lineage += ((name, false))
        io.readStage(spark, name, configHash).get
    }

  /** (stage, resumedFromCheckpoint) in execution order — the lineage record
    * the metrics table persists. */
  def lineageLog: Seq[(String, Boolean)] = lineage.toSeq
}
