package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig, SubstringDup}

/** Structured-Streaming incremental near-dup ingestion — the streaming form
  * of the reference's add-then-query workflow (`tools/addfunctionstoindex
  * .cpp:32-91` adds signatures to a persistent index; `tools/
  * matchfunctionsfromindex.cpp:120-196` probes it): new image rows stream
  * in, are featurized and banded, probed against the band index accumulated
  * so far, and appended to it — so duplicate decisions are available
  * continuously instead of per full batch rerun.
  *
  * An exact front tier runs before featurization (the streaming form of
  * `TieredImageDedup`'s tier 1): incoming rows are record-hashed (sha-256
  * over bytes AND caption — `TieredImageDedup.recordSha`; a byte-identical
  * row with a different caption must survive, its caption drives edges)
  * and matched against the `hashes` state table + within the batch;
  * identical-record rows are paired to their keeper and dropped before
  * the decode, which at crawl-scale dup rates is the dominant per-row
  * cost. Dropped rows live only in the pair log — every feature of a
  * dropped row is bit-identical to its keeper's, so connectivity to
  * future matches flows through the keeper's signature and captions.
  *
  * == State layout (the scale contract) ==
  *
  * The reference's probe touches ~3.6M of 50M index entries — bucket-local,
  * never the whole index (`searchbackend/simhashsearchindex.hpp:40-86`).
  * The streaming state mirrors that with a two-tier, bucket-partitioned
  * layout per table:
  *
  *   <table>/base_<id>/p=<k>/...parquet   one compacted tier, partitioned by
  *                                        bucket hash (`p = hash(bucket
  *                                        key) % stateP`), rows sorted by
  *                                        bucket key within each partition
  *   <table>/batch_<id>/...parquet        one small dir per micro-batch not
  *                                        yet compacted (< compactEvery of
  *                                        these exist at any time)
  *
  * A probe reads ONLY the base partitions whose `p` the new rows touch
  * (computed from the new band/key set — directory-level pruning, the
  * columnar analog of the reference's `lower_bound` bucket seek) plus the
  * few uncompacted batch dirs, then refines with an exact left-semi join on
  * the bucket key. Old signatures are pruned the same way to the partitions
  * containing this batch's CANDIDATE ids (the only rows the MinHash/
  * substring verify can reference), so per-batch read cost is proportional
  * to touched buckets + recent arrivals, never to stream history. Every
  * `compactEvery` batches the committed batch dirs fold into a new base, so
  * file counts stay bounded (≈ stateP + compactEvery·tables) instead of
  * growing per batch forever. `stateP` is sized so a typical micro-batch
  * touches a minority of partitions (bigger index / smaller batches →
  * raise it; it plays the role of Iceberg's `bucket(band_key)` partition
  * spec at cluster scale). `stateP` is PERSISTED with the state
  * (`<stateDir>/meta/state_p`) and validated every batch: base `p=` dirs
  * written under one modulus must never be pruned under another (that
  * would silently skip partitions holding real duplicates), so a mismatch
  * fails fast with the recompaction procedure in the error. The metrics
  * table reports the observed touched-partition fraction and a
  * recommended `stateP` derived from base size at each compaction, so an
  * operator sees when pruning stops working (fraction → 1) BEFORE it
  * matters.
  *
  * == Replay / crash safety ==
  *
  *   1. Batch-keyed OVERWRITE per table (`<table>/batch_<id>`): a replayed
  *      micro-batch (checkpoint recovery between state write and offset
  *      commit) overwrites its own previous attempt instead of appending a
  *      duplicate copy — duplicated band rows would otherwise consume
  *      sliding-window slots and push true neighbors out of the W-row
  *      window.
  *   2. ONE commit marker per batch (`<stateDir>/commits/batch_<id>`),
  *      created only after EVERY table's files for that batch are in
  *      place and deleted FIRST on replay. A batch is either visible in
  *      all tables or in none — a concurrent `clustersFromState` /
  *      `clustersIncremental` can never observe pairs without their
  *      signatures (a per-table marker scheme could: the label snapshot
  *      would then permanently drop the unseen table's rows).
  *   3. Compaction only folds batches OLDER than the current one — their
  *      offsets are already committed, so they can never be replayed —
  *      and commits via write-to-tmp → `_done` → atomic rename. Readers
  *      take the newest complete base and ignore any batch dir it
  *      subsumes, so a crash between rename and cleanup leaves duplicates
  *      invisible. Consumed dirs are NOT deleted at compaction time: a
  *      concurrent cluster-mode reader may have lazily planned a scan
  *      over them (Spark fails mid-job on files deleted under a planned
  *      scan). They go onto a deletion ledger (`<stateDir>/_pending_delete`)
  *      and are removed one full compaction cycle later — any scan planned
  *      against the old view has long finished, and the reader rule
  *      (newest base subsumes every older batch/base) keeps the lingering
  *      dirs invisible to new reads. The ledger is recomputed from what is
  *      subsumed-and-present each cycle, so a crash between rename and
  *      ledger write self-heals instead of leaking dirs forever.
  *
  * Clustering stays a periodic batch job over the pair log
  * (`clustersFromState`) — connected components is a global fixpoint and
  * belongs outside the per-batch path.
  */
object StreamingDedup {

  /** Input schema per the corpus contract (`ImageRow`). */
  val imageSchema: StructType = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = true),
    StructField("caption", StringType, nullable = true),
    StructField("phash", LongType, nullable = false)))

  /** File-level cost of one batch's pruned state reads (metrics row). */
  final case class ReadStats(filesRead: Long, filesTotal: Long) {
    def +(o: ReadStats): ReadStats =
      ReadStats(filesRead + o.filesRead, filesTotal + o.filesTotal)
  }

  private val Zero = ReadStats(0L, 0L)
  private val BaseRe = "base_(-?\\d+)".r
  private val BatchRe = "batch_(-?\\d+)".r

  private def fileSystem(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_done"))

  private def markDone(fs: FileSystem, dir: Path): Unit = {
    val out = fs.create(new Path(dir, "_done"), true)
    out.close()
  }

  private def clearDone(fs: FileSystem, dir: Path): Unit = {
    val m = new Path(dir, "_done")
    if (fs.exists(m)) { fs.delete(m, false); () }
  }

  /** The batch-commit marker directory for a state root: one empty file
    * `batch_<id>` per committed micro-batch, covering ALL of that batch's
    * tables at once. */
  private def commitsDir(table: Path): Path =
    new Path(table.getParent, "commits")

  private def commitMarker(stateDir: Path, batchId: Long): Path =
    new Path(new Path(stateDir, "commits"), s"batch_$batchId")

  /** Batch ids with a commit marker present. One listing, not one RPC per
    * candidate dir. */
  private def committedBatchIds(fs: FileSystem, commits: Path): Set[Long] =
    if (!fs.exists(commits)) Set.empty
    else fs.listStatus(commits).toSeq.flatMap(_.getPath.getName match {
      case BatchRe(id) => Some(id.toLong)
      case _ => None
    }).toSet

  /** Committed state of one table: the newest complete base compaction (if
    * any) and every batch dir NEWER than it whose batch-level commit marker
    * exists, excluding the batch currently being processed. Dirs without a
    * marker (in-flight, torn) and batch dirs subsumed by the base
    * (deferred-delete leftovers, or survivors of a crash between compaction
    * rename and ledger write) are ignored. */
  private case class Committed(base: Option[Path], batches: Seq[(Long, Path)])

  private def committedDirs(fs: FileSystem, table: Path,
      excludeBatch: Option[Long]): Committed = {
    if (!fs.exists(table)) return Committed(None, Nil)
    val committed = committedBatchIds(fs, commitsDir(table))
    val entries = fs.listStatus(table).toSeq.filter(_.isDirectory)
    val bases = entries.flatMap { st =>
      st.getPath.getName match {
        case BaseRe(id) if isCommitted(fs, st.getPath) =>
          Some((id.toLong, st.getPath))
        case _ => None
      }
    }
    val base = if (bases.isEmpty) None else Some(bases.maxBy(_._1))
    val floor = base.map(_._1)
    val batches = entries.flatMap { st =>
      st.getPath.getName match {
        // a batch dir is committed via the central per-batch marker, or —
        // legacy migration — via a per-dir _done file (the pre-unified
        // protocol, where each table's dir carried its own marker); new
        // writers never create per-dir markers on batch dirs, so this
        // cannot resurrect a torn new-protocol batch
        case BatchRe(id) if (committed.contains(id.toLong) ||
              isCommitted(fs, st.getPath)) &&
            !excludeBatch.contains(id.toLong) &&
            floor.forall(id.toLong > _) =>
          Some((id.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
    Committed(base.map(_._2), batches)
  }

  private def parquetFiles(fs: FileSystem, dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else {
      val it = fs.listFiles(dir, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }

  /** Base partitions selected by the touched-partition set: `p=<k>` subdirs
    * with k ∈ touched (None = no pruning, read all). An UNPARTITIONED base
    * (the pair log — nothing probes it by key) has no `p=` subdirs and is
    * returned whole. */
  private def basePartDirs(fs: FileSystem, base: Path,
      touchedP: Option[Set[Int]]): Seq[Path] = {
    val parts = fs.listStatus(base).toSeq.filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("p="))
    if (parts.isEmpty) Seq(base)
    else touchedP match {
      case None => parts
      case Some(set) =>
        parts.filter(p => p.getName.stripPrefix("p=").toIntOption.exists(set))
    }
  }

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Read a table's committed state, pruned: base partitions restricted to
    * `touchedP`; uncompacted batch dirs always read in full (they are few
    * and small by construction). Returns the frame plus file-level read
    * stats when `wantStats`. */
  private def readState(spark: SparkSession, tablePath: String,
      schema: StructType, excludeBatch: Option[Long],
      touchedP: Option[Set[Int]],
      wantStats: Boolean): (DataFrame, ReadStats) = {
    val (fs, table) = fileSystem(spark, tablePath)
    val c = committedDirs(fs, table, excludeBatch)
    val baseDirs = c.base.toSeq.flatMap(basePartDirs(fs, _, touchedP))
    val dirs = (baseDirs ++ c.batches.map(_._2)).map(_.toString)
    val df =
      if (dirs.isEmpty) emptyDf(spark, schema)
      else spark.read.schema(schema).parquet(dirs: _*)
    val stats =
      if (!wantStats) Zero
      else {
        val read = dirs.map(d => parquetFiles(fs, new Path(d))).sum
        val total = (c.base.toSeq ++ c.batches.map(_._2))
          .map(parquetFiles(fs, _)).sum
        ReadStats(read, total)
      }
    (df, stats)
  }

  /** A state table's COMMITTED rows, unpruned — the one reader every
    * external consumer (evidence dumps, ad-hoc inspection) must go through
    * so engine and evidence can never diverge on what is committed: a raw
    * `recursiveFileLookup` read would include in-flight batch dirs,
    * `.base_*.tmp` compaction leftovers, and deferred-delete dirs the
    * engine ignores. */
  def readCommitted(spark: SparkSession, stateDir: String, table: String,
      schema: StructType): DataFrame =
    readState(spark, s"$stateDir/$table", schema, excludeBatch = None,
      touchedP = None, wantStats = false)._1

  /** The committed pair log (may hold duplicate pairs from re-probes /
    * replayed batches; `distinct` is the caller's choice). */
  def pairsFromState(spark: SparkSession, stateDir: String): DataFrame =
    readCommitted(spark, stateDir, "pairs", pairSchema)

  private def partCol(cols: Seq[Column], p: Int): Column =
    pmod(xxhash64(cols: _*), lit(p.toLong)).cast("int")

  /** The distinct state-partition numbers each tagged key frame takes —
    * the touched-partition sets driving directory pruning, for SEVERAL
    * tables in ONE Spark job (a per-table job is pure scheduling overhead
    * on frames this small). Uses `partCol` itself so read- and write-side
    * partitioning can never diverge. */
  private def touchedPartitionsMulti(tagged: Seq[(String, DataFrame, Seq[Column])],
      p: Int): Map[String, Set[Int]] = {
    val union = tagged.map { case (tag, df, keys) =>
      df.select(lit(tag).as("t"), partCol(keys, p).as("p"))
    }.reduce(_.union(_)).distinct().collect()
    val m = union.groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getInt(1)).toSet }
    tagged.map(_._1).map(t => t -> m.getOrElse(t, Set.empty[Int])).toMap
  }

  private def touchedPartitions(df: DataFrame, keys: Seq[Column],
      p: Int): Set[Int] =
    touchedPartitionsMulti(Seq(("x", df, keys)), p)("x")

  /** `Checkpoints.ckpt` + the frame's distinct state-partition numbers for
    * `keys`, collected as a SIDE EFFECT of the same materialization job via
    * a set-semantics accumulator — the separate touched-partition job per
    * table becomes free. Correctness notes: the helper column rides the
    * checkpointed blocks and is projected away before the frame is
    * returned (consumers and state writes see the original schema); the
    * UDF is marked non-deterministic so the optimizer can neither
    * eliminate nor duplicate it; accumulator updates from every partition
    * are visible once the (synchronous) checkpoint job completes, and
    * retried/speculative tasks can only re-add the same set members. Uses
    * `partCol` itself, so read- and write-side partitioning cannot
    * diverge. With `want = false` (no committed state — nothing will be
    * pruned) it degrades to a plain checkpoint and an empty set. */
  private def ckptTouched(df: DataFrame, keys: Seq[Column], p: Int,
      want: Boolean): (DataFrame, Set[Int]) = {
    if (!want) (graft.core.Checkpoints.ckpt(df), Set.empty)
    else {
      val spark = df.sparkSession
      val acc = new org.apache.spark.util.CollectionAccumulator[java.lang.Integer]()
      spark.sparkContext.register(acc, "touchedP")
      val tap = udf((x: Int) => { acc.add(x); x }).asNondeterministic()
      val ck = graft.core.Checkpoints.ckpt(
        df.withColumn("__touched_p", tap(partCol(keys, p))))
      import scala.jdk.CollectionConverters._
      (ck.drop("__touched_p"), acc.value.asScala.map(_.intValue()).toSet)
    }
  }

  // ---------------------------------------------------------------- stateP
  /** Persist-or-validate the state partition count. The base `p=` layout is
    * a function of `stateP`; pruning under a different modulus silently
    * skips partitions holding relevant rows, so a mismatch is an error, not
    * a degradation. */
  private def resizePendingMarker(stateDir: Path): Path =
    new Path(new Path(stateDir, "meta"), "resize_pending")

  private def checkStateP(fs: FileSystem, stateDir: Path, stateP: Int): Unit = {
    val metaDir = new Path(stateDir, "meta")
    val f = new Path(metaDir, "state_p")
    // an interrupted offline resize may have rewritten SOME tables' bases
    // under the new modulus while meta/state_p still holds the old one —
    // pruning those bases with old-modulus touched sets would silently
    // skip partitions holding real duplicates, so refuse to ingest until
    // the resize is re-run to completion
    require(!fs.exists(resizePendingMarker(stateDir)),
      s"a stateP resize of $stateDir was interrupted mid-rewrite (meta/" +
        "resize_pending exists): some bases may already use the new " +
        "modulus. Re-run StreamingDedup.resizeStateP (StreamJob `resize` " +
        "mode) to completion before ingesting — it is idempotent.")
    if (fs.exists(f)) {
      val in = fs.open(f)
      val persisted = try scala.io.Source.fromInputStream(in).mkString.trim.toInt
      finally in.close()
      require(persisted == stateP,
        s"stateP mismatch: state at $stateDir was written with " +
          s"stateP=$persisted but this run uses stateP=$stateP. Probing " +
          "would silently mis-prune base partitions. Either restart with " +
          s"stateP=$persisted, or migrate offline with " +
          "StreamingDedup.resizeStateP (StreamJob `resize` mode): it " +
          "rewrites every table's base under the new modulus and updates " +
          "meta/state_p atomically w.r.t. the reader rule.")
    } else {
      // adopt this run's stateP only for a FRESH state dir: pre-existing
      // base/batch dirs without a persisted modulus (state written by a
      // pre-meta version) were laid out under an unknown stateP, and
      // adopting blindly would mis-prune exactly like the mismatch above
      val preexisting = tableSpecs.map(_._1).exists { name =>
        val t = new Path(stateDir, name)
        fs.exists(t) && fs.listStatus(t).exists { st =>
          st.isDirectory && (st.getPath.getName match {
            case BaseRe(_) => true
            case BatchRe(_) => true
            case _ => false
          })
        }
      }
      require(!preexisting,
        s"state at $stateDir has base/batch dirs but no persisted " +
          "meta/state_p (written by a pre-meta version). Refusing to " +
          s"adopt stateP=$stateP blindly — if it differs from the value " +
          "the state was written with, probes would silently mis-prune. " +
          "Write the ORIGINAL partition count to meta/state_p, then " +
          "restart (and resize offline if a different value is wanted).")
      if (!fs.exists(metaDir)) fs.mkdirs(metaDir)
      val out = fs.create(f, true)
      try out.write(s"$stateP\n".getBytes("UTF-8")) finally out.close()
    }
  }

  // ------------------------------------------------------------ compaction
  private def pendingLedger(stateDir: Path): Path =
    new Path(stateDir, "_pending_delete")

  private def readLedger(fs: FileSystem, stateDir: Path): Seq[String] = {
    val f = pendingLedger(stateDir)
    if (!fs.exists(f)) Nil
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in).getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  private def writeLedger(fs: FileSystem, stateDir: Path,
      paths: Seq[String]): Unit = {
    val out = fs.create(pendingLedger(stateDir), true)
    try out.write(paths.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Fold the committed base + committed batch dirs (all of them when
    * `excludeBatch` is None, else all OLDER than it) into a new base
    * (partitioned by `partKeys` hash when given, rows sorted by `sortCols`
    * for parquet min/max locality). With `force`, a base with NO pending
    * batches is still rewritten — the stateP-resize path, where the base
    * layout itself must change modulus. Consumed dirs are NOT deleted
    * here — see the deferred-deletion contract in the header. Returns the
    * consumed dir paths (for the deletion ledger); the new base is never
    * among them, even when it reuses the old base's id (force + no
    * batches: the data is materialized into the tmp dir BEFORE the old
    * dest is deleted, so an in-place rewrite is safe). */
  private val TmpBaseRe = "\\.base_(-?\\d+)\\.tmp".r
  private val OldBaseRe = "\\.base_(-?\\d+)\\.old".r

  /** Complete or roll back an in-place base rewrite a crash interrupted.
    * The in-place sequence is: write `.base_N.tmp` (+ _done) → rename live
    * `base_N` aside to `.base_N.old` → rename tmp to `base_N`. A crash
    * between the two renames leaves NO visible base while the data exists
    * in the _done tmp (complete new base) and the aside dir (untouched old
    * base) — roll FORWARD by promoting the tmp; if only the aside exists
    * (crash after an aside rename whose tmp was then lost), roll BACK by
    * restoring it. Leftover aside/tmp dirs with a live base are residue,
    * swept by the recomputed deletion ledger. */
  private def healInPlaceRewrite(fs: FileSystem, table: Path): Unit = {
    if (!fs.exists(table)) return
    val entries = fs.listStatus(table).toSeq.filter(_.isDirectory)
    def basePresent(id: String) = fs.exists(new Path(table, s"base_$id"))
    entries.foreach { st =>
      st.getPath.getName match {
        case TmpBaseRe(id) if isCommitted(fs, st.getPath) && !basePresent(id) =>
          require(fs.rename(st.getPath, new Path(table, s"base_$id")),
            s"heal rename failed: ${st.getPath}")
        case _ => ()
      }
    }
    entries.foreach { st =>
      st.getPath.getName match {
        case OldBaseRe(id) if !basePresent(id) =>
          require(fs.rename(st.getPath, new Path(table, s"base_$id")),
            s"heal rollback failed: ${st.getPath}")
        case _ => ()
      }
    }
  }

  private def compactTable(spark: SparkSession, tablePath: String,
      schema: StructType, excludeBatch: Option[Long],
      partKeys: Option[Seq[Column]], sortCols: Seq[Column], stateP: Int,
      force: Boolean = false): Seq[String] = {
    val (fs, table) = fileSystem(spark, tablePath)
    healInPlaceRewrite(fs, table)
    val c = committedDirs(fs, table, excludeBatch)
    if (c.batches.isEmpty && !(force && c.base.nonEmpty)) return Nil
    val baseId = c.base.flatMap(_.getName match {
      case BaseRe(id) => Some(id.toLong)
      case _ => None
    })
    val newId = (c.batches.map(_._1) ++ baseId).max
    val dirs = (c.base.toSeq.flatMap(basePartDirs(fs, _, None)) ++
      c.batches.map(_._2)).map(_.toString)
    val all = spark.read.schema(schema).parquet(dirs: _*)
    val tmp = new Path(table, s".base_$newId.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    partKeys match {
      case Some(keys) =>
        all.withColumn("p", partCol(keys, stateP))
          .repartition(col("p"))
          .sortWithinPartitions(col("p") +: sortCols: _*)
          .write.option("compression", "zstd")
          .partitionBy("p").mode("overwrite").parquet(tmp.toString)
      case None =>
        all.coalesce(4).write.option("compression", "zstd")
          .mode("overwrite").parquet(tmp.toString)
    }
    markDone(fs, tmp)
    val dest = new Path(table, s"base_$newId")
    // never delete a live base before the new one is in place: when dest
    // is occupied (in-place rewrite — the force/resize path, or a crash
    // replay landing on the same id) rename it ASIDE first, so every
    // instant has either the old or the new base visible; a crash between
    // the renames is healed (forward) by healInPlaceRewrite above. The
    // aside dir is returned as consumed — deferred-deleted like any other
    // subsumed dir.
    val aside = new Path(table, s".base_$newId.old")
    if (fs.exists(dest)) {
      if (fs.exists(aside)) fs.delete(aside, true) // stale residue
      require(fs.rename(dest, aside), s"aside rename failed: $dest -> $aside")
    }
    require(fs.rename(tmp, dest), s"compaction rename failed: $tmp -> $dest")
    val consumedBase = c.base.map(b =>
      if (b.toString == dest.toString) aside else b)
    (consumedBase.toSeq ++ c.batches.map(_._2)).map(_.toString)
      .filter(_ != dest.toString)
  }

  /** One compaction round across all state tables: delete what the previous
    * round deferred, fold each table, write the new deletion ledger
    * (subsumed dirs + subsumed commit markers, recomputed from what is
    * actually present so a mid-round crash self-heals). */
  /** Run one independent per-table action per spec concurrently and
    * concatenate the results. Each action owns a disjoint table dir and
    * submits its own Spark jobs — Spark's scheduler is thread-safe, and
    * overlapping the seven small fold jobs turns serial driver latency
    * into cluster-parallel work. */
  private def parallelTables[A](
      tables: Seq[(String, StructType, Option[Seq[Column]], Seq[Column])])(
      f: ((String, StructType, Option[Seq[Column]], Seq[Column])) => Seq[A])
      : Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(tables.map(t => Future(f(t)))), Duration.Inf)
      .flatten
  }

  private def compactAll(spark: SparkSession, stateDir: String,
      tables: Seq[(String, StructType, Option[Seq[Column]], Seq[Column])],
      currentBatch: Long, stateP: Int): Unit = {
    val (fs, root) = fileSystem(spark, stateDir)
    // (1) previous cycle's deferral is due: any reader that planned a scan
    // over these dirs has had a full compaction cycle to finish
    readLedger(fs, root).foreach { p =>
      val path = new Path(p)
      if (fs.exists(path)) fs.delete(path, true)
    }
    // (2) fold each table — tables are disjoint dirs with independent
    // read→repartition→write jobs, so submit them concurrently (the same
    // pattern as the per-batch state writes): compaction wall is the max
    // of the table folds, not their sum, and a real cluster's executors
    // stay fed instead of draining between seven small serial jobs
    val consumed = parallelTables(tables) { case (name, schema, partKeys, sortCols) =>
      compactTable(spark, s"$stateDir/$name", schema,
        excludeBatch = Some(currentBatch), partKeys, sortCols, stateP)
    }
    // (3) defer: every dir the committed view no longer needs, RECOMPUTED
    // from what is actually present (not just this round's compactTable
    // returns) so a crash between a base rename and a ledger write
    // self-heals — the orphaned dirs reappear in the next round's sweep.
    // Subsumed: batch dirs at or below the table's base floor, superseded
    // (non-max) base dirs, and aside/tmp residue whose base is live.
    val swept = tables.flatMap { case (name, _, _, _) =>
      val (fsT, t) = fileSystem(spark, s"$stateDir/$name")
      if (!fsT.exists(t)) Nil
      else {
        val entries = fsT.listStatus(t).toSeq.filter(_.isDirectory)
        val baseIds = entries.flatMap(_.getPath.getName match {
          case BaseRe(id) if isCommitted(fsT, new Path(t, s"base_$id")) =>
            Some(id.toLong)
          case _ => None
        })
        val floor = baseIds.maxOption
        entries.flatMap { st =>
          st.getPath.getName match {
            case BaseRe(id) if floor.exists(id.toLong < _) =>
              Some(st.getPath.toString)
            case BatchRe(id) if floor.exists(id.toLong <= _) &&
                id.toLong != currentBatch =>
              Some(st.getPath.toString)
            case TmpBaseRe(id) if floor.exists(id.toLong <= _) &&
                fsT.exists(new Path(t, s"base_$id")) =>
              Some(st.getPath.toString)
            case OldBaseRe(id) if fsT.exists(new Path(t, s"base_$id")) =>
              Some(st.getPath.toString)
            case _ => None
          }
        }
      }
    }
    val staleMarkers =
      staleCommitMarkers(spark, stateDir, tables).map(_.toString)
    writeLedger(fs, root, (consumed ++ swept ++ staleMarkers).distinct)
  }

  /** Commit markers safe to drop: every batch at or below the MIN base
    * floor of the tables that EXIST is folded into every table's base, so
    * no reader needs its marker. A table never written — e.g. metrics with
    * metrics=false — must not pin the floor at -inf forever and leak one
    * marker per batch. Shared by streaming compaction (which defers the
    * deletes a cycle) and offline resize (which deletes immediately) so
    * the retention rule can never diverge between them. */
  private def staleCommitMarkers(spark: SparkSession, stateDir: String,
      tables: Seq[(String, StructType, Option[Seq[Column]], Seq[Column])])
      : Seq[Path] = {
    val (fs, root) = fileSystem(spark, stateDir)
    val floors = tables.flatMap { case (name, _, _, _) =>
      val (fsT, t) = fileSystem(spark, s"$stateDir/$name")
      if (!fsT.exists(t)) None
      else Some(fsT.listStatus(t).toSeq.filter(_.isDirectory).flatMap {
        st => st.getPath.getName match {
          case BaseRe(id) if isCommitted(fsT, st.getPath) => Some(id.toLong)
          case _ => None
        }
      }.maxOption.getOrElse(Long.MinValue))
    }
    val safeFloor = if (floors.isEmpty) Long.MinValue else floors.min
    val commits = new Path(root, "commits")
    if (!fs.exists(commits)) Nil
    else fs.listStatus(commits).toSeq.map(_.getPath).filter(_.getName match {
      case BatchRe(id) => id.toLong <= safeFloor
      case _ => false
    })
  }

  /** Recommended state partition count for a given base size: enough
    * partitions that each holds ~`targetBytes` (64 MB default — small
    * enough that reading a handful per probe is cheap, large enough that
    * parquet footer overhead stays negligible), never below the active
    * value. Surfaced in the metrics table at each compaction so operators
    * raise `stateP` BEFORE probes stop pruning. */
  def recommendedStateP(baseBytes: Long, current: Int,
      targetBytes: Long = 64L << 20): Int =
    math.max(current, math.ceil(baseBytes.toDouble / targetBytes).toInt)

  /** One micro-batch: probe new rows against the accumulated index, log
    * verified pairs, grow the index, compact on cadence. Pure DataFrame
    * logic — callable directly for tests and from `foreachBatch` in the
    * streaming query.
    *
    * With `metrics = true`, appends one observability row per batch to
    * `<stateDir>/metrics` (north rule: lineage + metrics tables): batch id,
    * new rows, bucket-probed index rows, candidate and accepted pair
    * counts, state files read vs present (the prune ratio), the observed
    * touched-partition fraction of the index probe, the active and
    * recommended `stateP`, and the batch's wall-clock ms. The counts come
    * from already-materialized frames plus one query Observation — no
    * recomputation jobs on the timed path. The metrics table is committed
    * and compacted like every other state table.
    *
    * `batchId` must be unique per DISTINCT batch and monotonically
    * increasing (the streaming engine guarantees both); a replay of the
    * same batch reuses the id and overwrites its own subdirectory. */
  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      cfg: DedupConfig, batchId: Long = -1L, metrics: Boolean = false,
      stateP: Int = 64, compactEvery: Int = 8): Unit = {
    // per-batch checkpoint scope: every frame this batch materializes
    // (hashes, sigs, bands, window tables, candidates, pair log) is on
    // disk in the state tables by batch end — nothing distributed survives
    // the batch, so a long-running stream must not accumulate block
    // storage across thousands of batches. The scope releases ONLY blocks
    // this batch created via Checkpoints.ckpt — a concurrent reader on the
    // same context (clustersIncremental's label snapshot, a monitoring
    // thread's clustersFromState) is never swept out from under its own
    // truncated lineage
    graft.core.Checkpoints.scopedUnit(spark) {
      processBatchImpl(spark, batch, stateDir, cfg, batchId, metrics,
        stateP, compactEvery)
    }
  }

  private def processBatchImpl(spark: SparkSession, batch: DataFrame,
      stateDir: String, cfg: DedupConfig, batchId: Long, metrics: Boolean,
      stateP: Int, compactEvery: Int): Unit = {
    val tWall0 = System.nanoTime()
    val probeLog = sys.env.contains("SPARK_GRAFT_STREAM_PROBE")
    var tPhase = tWall0
    def phase(name: String): Unit = if (probeLog) {
      val t = System.nanoTime()
      println(f"STREAMPROBE batch=$batchId $name%-28s ${(t - tPhase) / 1e9}%.3f s")
      tPhase = t
    }
    val (fsRoot, rootPath) = fileSystem(spark, stateDir)
    checkStateP(fsRoot, rootPath, stateP)
    val indexPath = s"$stateDir/index"
    val sigsPath = s"$stateDir/sigs"
    val anchPath = s"$stateDir/ss_anchors"
    val winsPath = s"$stateDir/ss_windows"
    val pairsPath = s"$stateDir/pairs"
    val hashPath = s"$stateDir/hashes"
    def batchDir(table: String) = s"$table/batch_$batchId"
    val self = Some(batchId)
    // first-batch short-circuit: all tables commit atomically, so the
    // index table's committed set witnesses whether ANY state exists. With
    // none, there is nothing to prune (or read) — skip the prune-set jobs
    // entirely instead of computing partition sets no read will consult
    // (measured: ~1.5 s of a 6 s single-batch drain was prune-set jobs
    // against an empty store). committedDirs already excludes this batch,
    // so computing it before the marker withdrawal below is equivalent.
    val hasState = {
      val c = committedDirs(fsRoot, new Path(indexPath), self)
      c.base.nonEmpty || c.batches.nonEmpty
    }
    // ---- exact front tier: rows with an IDENTICAL RECORD (bytes AND
    // caption — `TieredImageDedup.recordSha`; a byte-identical row with a
    // different caption must survive, its caption drives minhash/substring
    // edges) are matched against the hashes state table + within the
    // batch, paired to their keeper, and dropped BEFORE featurization. At
    // crawl-scale dup rates this skips the decode (the dominant per-row
    // cost) for the bulk of the volume; the price is a second scan of the
    // micro-batch source (hash pass + featurize pass over survivors),
    // which is I/O, not decode. Dropped rows never enter sigs/index/
    // substring state — every feature of a dropped row is bit-identical
    // to its keeper's, so any future match lands on the keeper and
    // connectivity (and recall) is preserved transitively. The hashes
    // table holds keepers only, hence one row per sha by construction;
    // the groupBy-min on the probe read is defensive, not load-bearing.
    // hash checkpoint + its touched-partition set in ONE job (ckptTouched)
    val (newHashes, hashTouched) = ckptTouched(
      batch.select(col("image_id"),
        graft.pipeline.TieredImageDedup.recordSha(col("bytes"), col("caption"))
          .as("record_sha")),
      Seq(col("record_sha")), stateP, want = hasState)
    // empty-batch early-out AFTER the hash pass: probing emptiness on the
    // materialized (local-block) frame folds the previous separate
    // source-scan isEmpty job into the checkpoint the tier needs anyway
    if (newHashes.isEmpty) return
    val (oldHashes, hashStats) = readState(spark, hashPath, hashSchema,
      self, Some(hashTouched), metrics)
    val oldRep = oldHashes.groupBy("record_sha")
      .agg(min("image_id").as("rep"))
    val minNew = newHashes.groupBy("record_sha")
      .agg(min("image_id").as("min_new"))
    val labeledNew = graft.core.Checkpoints.ckpt(newHashes
      .join(oldRep, Seq("record_sha"), "left").join(minNew, "record_sha")
      .withColumn("canon", coalesce(col("rep"), col("min_new"))))
    val exactPairs = labeledNew.filter(col("image_id") =!= col("canon"))
      .select(col("image_id").as("a"), col("canon").as("b"))
    val keeperHashes = labeledNew.filter(col("image_id") === col("canon"))
      .select(col("record_sha"), col("image_id"))
    val survivors = batch.join(keeperHashes.select("image_id"),
      Seq("image_id"), "left_semi")
    phase("exact tier")
    // multi-probe mode (cfg.bandProbes > 0): the fold's margins ride the
    // in-batch signature frame so probe rows can flip the lowest-margin
    // key bits; the PERSISTED sigs/index tables never see margins or probe
    // rows — probing is query-side only, which is what lets cfg.nBands
    // (the stored band count, the dominant state volume) shrink
    val sigsAll =
      graft.core.Checkpoints.ckpt(Dedup.signaturesFor(survivors, cfg))
    val sigs =
      if (cfg.bandProbes > 0) sigsAll.drop("margins") else sigsAll
    // the four frames derived from the materialized signatures (band
    // explode, probe rows, substring anchors/windows) are mutually
    // independent — materialize them as CONCURRENT jobs (guide §2.6): each
    // is a small job whose tail would otherwise leave the executors idle,
    // and per-batch wall is the max of the four instead of their sum. The
    // scope-aware runner keeps the checkpoint-release contract identical.
    val w = cfg.substringWindow
    val newTexts = sigs.select(col("image_id").as("id"),
      col("caption_norm").as("text"))
    // each checkpoint also yields its touched-partition set as a side
    // effect of the same materialization (ckptTouched) — the former
    // separate combined prune-set job is gone
    val bandKeys = Seq(col("band_id"), col("band_key"))
    val parallelParts =
      graft.core.Checkpoints.parallelRun[(DataFrame, Set[Int])](Seq(
        () => ckptTouched(Dedup.bands(sigs, cfg), bandKeys, stateP, hasState),
        () => if (cfg.bandProbes > 0)
          ckptTouched(Dedup.probeBands(sigsAll, cfg), bandKeys, stateP,
            hasState)
        else (null, Set.empty[Int]),
        () => ckptTouched(SubstringDup.anchorTable(newTexts, w),
          Seq(col("k")), stateP, hasState),
        () => ckptTouched(SubstringDup.windowTable(newTexts, w),
          Seq(col("k")), stateP, hasState)))
    val newBands = parallelParts(0)._1
    // exact + probe rows: everything this batch PROBES with (per-band
    // flipped-key rows collide with stored exact keys one bit-flip away)
    val probeSet =
      if (cfg.bandProbes > 0) newBands.unionByName(parallelParts(1)._1)
      else newBands
    val newAnch = parallelParts(2)._1
    val newWins = parallelParts(3)._1
    phase("featurize+bands+substr tables")
    // replay: withdraw this batch's ONE commit marker BEFORE touching its
    // files, so a concurrent clustersFromState never reads mid-overwrite —
    // and never sees some tables' rows without the others'
    val marker = commitMarker(rootPath, batchId)
    if (fsRoot.exists(marker)) { fsRoot.delete(marker, false); () }
    // five of the six state-table writes depend only on frames already
    // materialized (bands, sigs, anchors, windows, keeper hashes) — launch
    // them NOW so they overlap the candidate/verify phase below instead of
    // forming a serial write barrier at batch end (guide §2.6). They land
    // in this batch's own dirs, invisible until the commit marker, so
    // overlap cannot expose partial state; if a later phase throws, any
    // files these leave behind are torn-batch residue the existing replay
    // contract already covers (marker absent -> invisible; the retried
    // batch overwrites its own dirs).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val earlyWrites = Seq(
      newBands -> batchDir(indexPath),
      sigs -> batchDir(sigsPath),
      newAnch -> batchDir(anchPath),
      newWins -> batchDir(winsPath),
      keeperHashes -> batchDir(hashPath)).map { case (df, dir) =>
      Future(df.coalesce(4).write.option("compression", "zstd")
        .mode("overwrite").parquet(dir))
    }
    // prune sets assembled from the checkpoint-time accumulators above: the
    // index probe touches every partition an exact OR probe key lands in;
    // anchors are pruned by the new WINDOW keys and windows by the new
    // ANCHOR keys (the incremental substring join's two directions) — the
    // same sets the former dedicated job computed
    val touched0 = Map(
      "idx" -> (parallelParts(0)._2 ++ parallelParts(1)._2),
      "anch" -> parallelParts(3)._2,
      "wins" -> parallelParts(2)._2)
    phase("touched partitions")
    // the band-index candidate chain and the substring candidate chain are
    // independent until the verify stage — run them as concurrent jobs
    // (guide §2.6), same frames and checkpoints as the serial form
    val ((relevantOld, idxStats, cands), (anchStats, winStats, ssCands)) =
      graft.core.Checkpoints.par2(
        () => {
          // bucket probe, two levels: (1) directory prune — only base
          // partitions holding a bucket this batch touches (exact OR probe
          // key) are even listed; (2) exact left-semi on the bucket key
          val (oldBands0, idxStats) = readState(spark, indexPath,
            newBands.schema, self, Some(touched0("idx")), metrics)
          val touched = probeSet.select("band_id", "band_key").distinct()
          val relevantOld0 = oldBands0
            .join(touched, Seq("band_id", "band_key"), "left_semi")
          // metrics mode materializes the (bucket-pruned, so small) probe
          // result once, making the probed-row count a scan of local blocks
          // instead of a recomputation of the state read + semi-join
          val relevantOld = if (metrics)
            graft.core.Checkpoints.ckpt(relevantOld0) else relevantOld0
          val relevant = relevantOld.union(probeSet)
          (relevantOld, idxStats,
            graft.core.Checkpoints.ckpt(Dedup.candidates(relevant, cfg)))
        },
        () => {
          // incremental substring pass: only joins touching a NEW row — new
          // anchors vs all windows (new text contained in anything) plus old
          // anchors vs new windows (anything contained in new text). Anchor
          // and window hash tables are state, so old texts are never
          // re-hashed; the equi-join key is `k`, so old-side reads prune to
          // the partitions of the NEW side's keys.
          val (oldAnch, anchStats) = readState(spark, anchPath, newAnch.schema,
            self, Some(touched0("anch")), metrics)
          val (oldWins, winStats) = readState(spark, winsPath, newWins.schema,
            self, Some(touched0("wins")), metrics)
          (anchStats, winStats, graft.core.Checkpoints.ckpt(
            newAnch.join(oldWins.union(newWins), "k")
              .union(oldAnch.join(newWins, "k"))
              .filter(col("a") =!= col("b"))
              .select(col("a"), col("b"))
              .distinct()))
        })
    phase("index+substring candidates")
    // old signatures: the MinHash verify and the substring contains-check
    // only ever dereference ids that appear in a candidate pair — prune the
    // signature read to exactly those ids' partitions
    val candIds = cands.select(col("a").as("id"))
      .union(cands.select(col("b").as("id")))
      .union(ssCands.select(col("a").as("id")))
      .union(ssCands.select(col("b").as("id")))
    val sigTouched =
      if (!hasState) Set.empty[Int]
      else touchedPartitions(candIds, Seq(col("id")), stateP)
    val (oldSigs, sigStats) = readState(spark, sigsPath, sigs.schema, self,
      Some(sigTouched), metrics)
    val allSigs = oldSigs.union(sigs)
    val verifiedPairs = Dedup.verified(cands, allSigs, cfg)
    val allTexts = allSigs.select(col("image_id").as("id"),
      col("caption_norm").as("text"))
    val ssPairs = SubstringDup.verifyContained(ssCands, allTexts)
    phase("verify plans")
    val allPairs = verifiedPairs.union(ssPairs).union(exactPairs)
    val batchPairs =
      if (metrics) graft.core.Checkpoints.ckpt(allPairs) else allPairs
    // the pair log is the only table that needs the verify; the other five
    // writes were launched before the candidate phase (see earlyWrites)
    val pairsWrite = Future(batchPairs.coalesce(4)
      .write.option("compression", "zstd")
      .mode("overwrite").parquet(batchDir(pairsPath)))
    Await.result(Future.sequence(earlyWrites :+ pairsWrite), Duration.Inf)
    phase("state writes")
    if (metrics) {
      import spark.implicits._
      val st = idxStats + anchStats + winStats + sigStats + hashStats
      // every counted frame is localCheckpointed — counts scan materialized
      // local blocks, never recompute pipeline work; the five counts are
      // independent scans, so they run as concurrent jobs
      val Seq(probed, newRows, exactDropped2, candCount, pairCount) =
        graft.core.Checkpoints.parallelRun[Long](Seq(
          () => relevantOld.count(),
          () => sigs.count(),
          () => labeledNew.filter(col("image_id") =!= col("canon")).count(),
          () => cands.count(),
          () => batchPairs.count()))
      // 0.0 on the first batch (no state, nothing to prune — no prune job)
      val touchedFrac =
        if (stateP > 0) touched0("idx").size.toDouble / stateP else 1.0
      // recommendation derived from the committed index base's byte size —
      // a driver FS stat, no Spark job
      val idxBase = committedDirs(fsRoot, new Path(indexPath), self).base
      val recP = idxBase.map(b =>
        recommendedStateP(fsRoot.getContentSummary(b).getLength, stateP))
        .getOrElse(stateP)
      val wallMs = (System.nanoTime() - tWall0) / 1000000L
      Seq((batchId, newRows, exactDropped2, probed,
          candCount, pairCount, st.filesRead, st.filesTotal,
          touchedFrac, stateP, recP, wallMs))
        .toDF("batch_id", "new_rows", "exact_dropped", "index_rows_probed",
          "candidate_pairs", "pairs_appended",
          "state_files_read", "state_files_total",
          "touched_frac_idx", "state_p", "recommended_p", "batch_wall_ms")
        .coalesce(1).write.mode("overwrite")
        .parquet(batchDir(s"$stateDir/metrics"))
      if (touchedFrac > 0.5)
        println(s"StreamingDedup: batch $batchId touched " +
          f"$touchedFrac%.2f of $stateP state partitions — pruning is " +
          "no longer effective; raise stateP (see metrics.recommended_p)")
      phase("metrics")
    }
    // ONE commit marker, only after every table's files are in place
    val out = fsRoot.create(marker, true); out.close()
    // compaction cadence: enough committed PRE-current batches -> fold them
    // (and the previous base) into a new bucket-partitioned base
    val (fsIdx, idxTable) = fileSystem(spark, indexPath)
    val nCommitted =
      committedDirs(fsIdx, idxTable, excludeBatch = self).batches.size
    if (nCommitted >= compactEvery) {
      compactAll(spark, stateDir, tableSpecs, batchId, stateP)
      phase("compaction")
    }
    ()
  }

  /** Launch the streaming query over a parquet directory source. With
    * `Trigger.AvailableNow` it drains existing files in bounded micro-batches
    * and stops — the test/verify mode; with a processing-time trigger it
    * tails the directory indefinitely — the production mode.
    *
    * Exactly ONE running query may own a given `stateDir` (and its
    * checkpoint) — see StreamJob's ownership note. `stateP` is the state
    * bucket-partition count (persisted with the state; a restart must use
    * the same value — see `checkStateP`); `compactEvery` is the compaction
    * cadence in batches. */
  def run(spark: SparkSession, inputDir: String, stateDir: String,
      cfg: DedupConfig = DedupConfig(),
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 4, metrics: Boolean = false,
      stateP: Int = 64, compactEvery: Int = 8,
      autoResize: Boolean = false,
      autoResizeTargetBytes: Long = 64L << 20): StreamingQuery = {
    val stream = spark.readStream
      .schema(imageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$stateDir/checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the ACTIVE modulus is whatever the state carries (an auto-resize
        // in an earlier batch supersedes the launch parameter); the launch
        // value only seeds a fresh state dir
        val p = persistedStateP(spark, stateDir).getOrElse(stateP)
        processBatch(spark, batch, stateDir, cfg, batchId, metrics,
          p, compactEvery)
        if (autoResize) {
          maybeAutoResize(spark, stateDir, p, autoResizeTargetBytes); ()
        }
      }
      .start()
  }

  /** The stateP persisted with the state, if any (`<stateDir>/meta/state_p`). */
  def persistedStateP(spark: SparkSession, stateDir: String): Option[Int] = {
    val (fs, root) = fileSystem(spark, stateDir)
    val f = new Path(new Path(root, "meta"), "state_p")
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim.toInt)
      finally in.close()
    }
  }

  /** Between-batch auto-resize: when the committed index base has outgrown
    * the active modulus by 2× (`recommendedStateP` > 2·active — the
    * operator trigger `metrics.recommended_p` documents), run the offline
    * `resizeStateP` migration and return the new modulus; otherwise return
    * `active` unchanged. Safe exactly where `run`'s foreachBatch calls it:
    * between two processBatch invocations the streaming query is the sole
    * owner of the state dir, which is the resize's offline precondition.
    * The trigger reads one FS content summary — no Spark job. */
  def maybeAutoResize(spark: SparkSession, stateDir: String, active: Int,
      targetBytes: Long = 64L << 20): Int = {
    val (fs, _) = fileSystem(spark, stateDir)
    val idxBase =
      committedDirs(fs, new Path(s"$stateDir/index"), excludeBatch = None).base
    val rec = idxBase.map(b => recommendedStateP(
      fs.getContentSummary(b).getLength, active, targetBytes))
    rec match {
      case Some(r) if r > 2 * active =>
        println(s"StreamingDedup: auto-resize stateP $active -> $r " +
          s"(index base outgrew ${2 * active} x $targetBytes B target)")
        resizeStateP(spark, stateDir, r)
        r
      case _ => active
    }
  }

  val metricsSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType), StructField("new_rows", LongType),
    StructField("exact_dropped", LongType),
    StructField("index_rows_probed", LongType),
    StructField("candidate_pairs", LongType),
    StructField("pairs_appended", LongType),
    StructField("state_files_read", LongType),
    StructField("state_files_total", LongType),
    StructField("touched_frac_idx", DoubleType),
    StructField("state_p", IntegerType),
    StructField("recommended_p", IntegerType),
    StructField("batch_wall_ms", LongType)))

  /** Per-batch metrics rows accumulated so far (empty frame if none).
    * Committed-only, like every state read: an in-flight batch's metrics
    * dir is invisible until its commit marker lands. */
  def metricsFromState(spark: SparkSession, stateDir: String): DataFrame =
    readCommitted(spark, stateDir, "metrics", metricsSchema)

  private val sigSchema = StructType(Seq(
    StructField("image_id", StringType),
    StructField("caption_norm", StringType),
    StructField("sim_hi", LongType), StructField("sim_lo", LongType),
    StructField("minhash", ArrayType(LongType))))
  /** The committed LSH band index (EXACT keys only — with
    * `cfg.bandProbes > 0` probe rows join but are never persisted, so this
    * is the state-volume side of the multi-probe A/B: rows ≈ records ×
    * (simhash nBands + minhash bands)). */
  def indexFromState(spark: SparkSession, stateDir: String): DataFrame =
    readCommitted(spark, stateDir, "index", bandSchema)
  private val pairSchema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType)))
  private val bandSchema = StructType(Seq(
    StructField("band_id", IntegerType), StructField("band_key", LongType),
    StructField("sort_hi", LongType), StructField("sort_lo", LongType),
    StructField("image_id", StringType),
    StructField("sim_hi", LongType), StructField("sim_lo", LongType)))
  private val anchorSchema = StructType(Seq(
    StructField("a", StringType), StructField("k", LongType)))
  private val windowSchema = StructType(Seq(
    StructField("b", StringType), StructField("k", LongType)))
  private val hashSchema = StructType(Seq(
    StructField("record_sha", StringType), StructField("image_id", StringType)))

  /** Every state table with its schema, bucket-partition keys (None =
    * unpartitioned: nothing probes the table by key) and within-partition
    * sort — the single source of truth for compaction AND resize, so the
    * two can never fold a different table set. */
  private def tableSpecs: Seq[(String, StructType, Option[Seq[Column]], Seq[Column])] =
    Seq(
      ("index", bandSchema,
        Some(Seq(col("band_id"), col("band_key"))),
        Seq(col("band_id"), col("band_key"))),
      ("sigs", sigSchema, Some(Seq(col("image_id"))), Seq(col("image_id"))),
      ("ss_anchors", anchorSchema, Some(Seq(col("k"))), Seq(col("k"))),
      ("ss_windows", windowSchema, Some(Seq(col("k"))), Seq(col("k"))),
      ("pairs", pairSchema, None, Nil),
      ("hashes", hashSchema, Some(Seq(col("record_sha"))), Seq(col("record_sha"))),
      ("metrics", metricsSchema, None, Nil))

  /** OFFLINE stateP migration: rewrite every table's committed view into a
    * fresh base under `newP` and persist the new modulus. This is the ONLY
    * safe way to change `stateP` on existing state — the base `p=` layout
    * is a function of the modulus, so probing a base written under one
    * value with touched-sets computed under another silently skips
    * partitions holding real duplicates (`checkStateP` fails fast on
    * exactly that).
    *
    * PRECONDITION (caller-enforced, same single-writer rule as ingest): no
    * ingesting query and no concurrent cluster-mode reader is running
    * against `stateDir`. Being offline is what lets this path delete
    * consumed dirs immediately instead of deferring a cycle.
    *
    * Crash-safe w.r.t. the reader rule: each table's rewrite lands via
    * write-tmp → `_done` → aside-rename of the live base → commit rename
    * (a crash between the renames is healed forward from the `_done` tmp
    * by the next compactTable on that table), the new base subsumes every
    * batch dir (so lingering dirs stay invisible), and `meta/state_p` is
    * updated LAST. Every table stays READABLE through a crash, but a
    * crash mid-rewrite leaves a MIX of old- and new-modulus bases behind
    * `meta/state_p`'s old value — so a `meta/resize_pending` marker
    * brackets the whole operation: written before the first rewrite,
    * removed after the meta update, and `checkStateP` refuses to start an
    * ingesting query while it exists. The only way forward after a crash
    * is re-running this method, which force-rewrites every base under
    * `newP` regardless of the modulus a crashed attempt left it in. */
  def resizeStateP(spark: SparkSession, stateDir: String, newP: Int): Unit = {
    require(newP > 0, s"newP must be positive, got $newP")
    val (fs, root) = fileSystem(spark, stateDir)
    val metaF = new Path(new Path(root, "meta"), "state_p")
    require(fs.exists(metaF),
      s"no persisted stateP at $stateDir — state uninitialized, nothing to resize")
    val in = fs.open(metaF)
    val oldP = try scala.io.Source.fromInputStream(in).mkString.trim.toInt
    finally in.close()
    // resume/crash protocol: the pending marker is written BEFORE the
    // first base rewrite and removed only after meta/state_p is updated.
    // While it exists, `checkStateP` refuses to ingest (bases may be a
    // MIX of old- and new-modulus layouts) and the only way forward is
    // re-running this method, which force-rewrites every base under
    // `newP` regardless of what modulus a crashed attempt left it in.
    // oldP == newP with no marker is a completed no-op; WITH a marker it
    // must still rewrite (the crashed attempt may have targeted a
    // different modulus than meta now claims).
    val pending = resizePendingMarker(root)
    if (oldP == newP && !fs.exists(pending)) return
    val pOut = fs.create(pending, true)
    try pOut.write(s"$newP\n".getBytes("UTF-8")) finally pOut.close()
    // the previous deferred-deletion cycle is due by the offline precondition
    readLedger(fs, root).foreach { p =>
      val path = new Path(p)
      if (fs.exists(path)) fs.delete(path, true)
    }
    writeLedger(fs, root, Nil)
    val consumed = parallelTables(tableSpecs) {
      case (name, schema, partKeys, sortCols) =>
        compactTable(spark, s"$stateDir/$name", schema, excludeBatch = None,
          partKeys, sortCols, newP, force = true)
    }
    consumed.foreach { p =>
      val path = new Path(p)
      if (fs.exists(path)) fs.delete(path, true)
    }
    // every committed batch is now folded into some table's base, so every
    // marker at or below the min base floor is stale (offline: safe to
    // delete immediately, no deferral cycle needed)
    staleCommitMarkers(spark, stateDir, tableSpecs)
      .foreach(p => fs.delete(p, false))
    val out = fs.create(metaF, true)
    try out.write(s"$newP\n".getBytes("UTF-8")) finally out.close()
    fs.delete(pending, false)
    println(s"StreamingDedup: resized $stateDir stateP $oldP -> $newP " +
      s"(${consumed.size} consumed dirs removed)")
  }

  /** Periodic clustering over the accumulated pair log: connected
    * components across every id seen so far. The pair log may hold
    * duplicate pairs from bucket re-probes / replayed batches —
    * `ConnectedComponents` needs no distinct pairs (union-find ignores
    * duplicates; the distributed loop distincts its own edge table) — and the
    * signature log may hold duplicate ids from a replayed batch (state
    * written, checkpoint not yet committed), so the vertex set is
    * explicitly distinct-ed: the output has exactly one row per image.
    * Only committed state is read (safe to run concurrently with the
    * ingesting query — StreamJob `cluster` mode; the single per-batch
    * commit marker guarantees the pair and signature views describe the
    * same batch set). An empty/absent state yields an empty result, not
    * an error. */
  def clustersFromState(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val (sigDf, _) = readState(spark, s"$stateDir/sigs", sigSchema,
      excludeBatch = None, touchedP = None, wantStats = false)
    val ids = sigDf.select(col("image_id").as("id")).distinct()
    if (ids.isEmpty)
      return Seq.empty[(String, String)].toDF("image_id", "cluster_id")
    val (pairs, _) = readState(spark, s"$stateDir/pairs", pairSchema,
      excludeBatch = None, touchedP = None, wantStats = false)
    ConnectedComponents.run(spark, pairs.select("a", "b"), ids)
      .withColumnRenamed("id", "image_id")
  }

  /** Internals of one incremental-clustering step, surfaced for the
    * cost-proportionality spec: the subgraph actually re-clustered. */
  final case class IncrementalStats(fullRecompute: Boolean,
      newEdges: Long, subgraphEdges: Long, subgraphVertices: Long)

  /** INCREMENTAL periodic clustering: fold only the batches newer than the
    * previous label snapshot into it, re-clustering just the components
    * those new edges touch.
    *
    *  - Previous labels live in `<stateDir>/labels/upto_<W>` (W = the
    *    newest batch id folded in; `_done`-committed — the label store has
    *    its own single writer, so the per-dir marker suffices here).
    *  - New edges' endpoints name the AFFECTED old clusters; every other
    *    label row is provably unchanged (min-id labeling is per-component)
    *    and passes through untouched.
    *  - The re-clustered subgraph is (affected members ∪ new ids) with
    *    (new edges ∪ one star edge per affected member to its old label —
    *    collapsing each old component in one hop). Its size is proportional
    *    to new arrivals + touched components, never to stream history, and
    *    it is usually small enough to take ConnectedComponents' local
    *    union-find path outright.
    *  - The snapshot id is the max batch id committed via the CENTRAL
    *    per-batch marker (all tables at once), so a snapshot can never cap
    *    in a batch whose sig rows are missing — not even a torn LEGACY
    *    batch whose per-dir markers covered only some tables.
    *  - If compaction has folded batches beyond W into a base (the label
    *    snapshot lagged more than `compactEvery` batches), per-batch deltas
    *    are no longer addressable and the step falls back to one full
    *    recompute — correct, and self-healing: the new snapshot restores
    *    incrementality.
    *
    * Returns the same frame `clustersFromState` would. At most one
    * clustering runner may own `<stateDir>/labels` at a time (same
    * single-writer rule as the ingesting query itself). */
  def clustersIncremental(spark: SparkSession, stateDir: String): DataFrame =
    clustersIncrementalWithStats(spark, stateDir)._1

  def clustersIncrementalWithStats(spark: SparkSession,
      stateDir: String): (DataFrame, IncrementalStats) = {
    import spark.implicits._
    val labelsTable = s"$stateDir/labels"
    val (fs, lt) = fileSystem(spark, labelsTable)
    val SnapRe = "upto_(-?\\d+)".r
    val prevSnap: Option[(Long, Path)] =
      if (!fs.exists(lt)) None
      else fs.listStatus(lt).toSeq.filter(_.isDirectory).flatMap { st =>
        st.getPath.getName match {
          case SnapRe(w) if isCommitted(fs, st.getPath) =>
            Some((w.toLong, st.getPath))
          case _ => None
        }
      }.sortBy(_._1).lastOption

    val (fsS, sigT) = fileSystem(spark, s"$stateDir/sigs")
    val sigC = committedDirs(fsS, sigT, None)
    val (fsP, pairT) = fileSystem(spark, s"$stateDir/pairs")
    val pairC = committedDirs(fsP, pairT, None)
    def baseIdOf(c: Committed): Option[Long] = c.base.flatMap(_.getName match {
      case BaseRe(id) => Some(id.toLong)
      case _ => None
    })
    val baseFloor = (baseIdOf(sigC).toSeq ++ baseIdOf(pairC).toSeq)
      .maxOption.getOrElse(Long.MinValue)
    // the snapshot id advances only over batches committed via the CENTRAL
    // per-batch marker (all tables at once). Legacy batches admitted by
    // their per-dir _done markers still contribute edges/ids below, but a
    // TORN legacy batch (pairs marked, sigs not — a crash under the old
    // per-table protocol) must not cap the snapshot: `upto_<id>` at such
    // an id would make later incremental runs (`> w` filter) permanently
    // skip the batch's sig rows once they finally commit.
    val centralIds = committedBatchIds(fsS, commitsDir(sigT))
    val maxBatch = ((sigC.batches ++ pairC.batches).map(_._1)
      .filter(centralIds.contains) :+ baseFloor).max

    // NOTE: raw localCheckpoint (not Checkpoints.ckpt) throughout this
    // method — the label snapshot deliberately OUTLIVES any operator scope
    // (it is reused across incremental calls) and manages its own lifetime.
    def writeSnapshot(labels: DataFrame, upto: Long): DataFrame = {
      // never rewrite the LIVE snapshot in place: when the frontier has not
      // advanced (upto == previous id — e.g. every batch beyond it is a
      // legacy one the central-marker cap excludes), return the freshly
      // computed labels WITHOUT writing. Overwriting the only committed
      // snapshot would open a crash window (clearDone → overwrite →
      // markDone) that can destroy it, for zero progress — the extra
      // legacy edges are simply refolded on each call until their batch
      // commits centrally or compaction folds it into the base.
      if (prevSnap.exists(_._1 == upto)) return labels.localCheckpoint()
      val dir = new Path(lt, s"upto_$upto")
      clearDone(fs, dir)
      val out = labels.localCheckpoint()
      out.coalesce(4).write.mode("overwrite").parquet(dir.toString)
      markDone(fs, dir)
      // older snapshots are subsumed; best-effort cleanup
      prevSnap.filter(_._1 != upto).foreach(p => fs.delete(p._2, true))
      out
    }

    prevSnap match {
      case Some((w, snapDir)) if w >= baseFloor =>
        val newSigDirs = sigC.batches.filter(_._1 > w).map(_._2.toString)
        val newPairDirs = pairC.batches.filter(_._1 > w).map(_._2.toString)
        val prev = spark.read.parquet(snapDir.toString)
        if (newSigDirs.isEmpty && newPairDirs.isEmpty)
          return (prev, IncrementalStats(fullRecompute = false, 0L, 0L, 0L))
        // anti-join: an id can only be NEW if the snapshot has never
        // labeled it (defensive — a replayed id must not appear both as an
        // untouched old label and as a fresh singleton)
        val newIds =
          (if (newSigDirs.isEmpty) emptyDf(spark, sigSchema)
           else spark.read.schema(sigSchema).parquet(newSigDirs: _*))
            .select(col("image_id").as("id")).distinct()
            .join(prev.select(col("image_id").as("id")), Seq("id"), "left_anti")
        val newPairs =
          (if (newPairDirs.isEmpty) emptyDf(spark, pairSchema)
           else spark.read.schema(pairSchema).parquet(newPairDirs: _*))
            .select("a", "b").distinct().localCheckpoint()
        val endpoints = newPairs.select(col("a").as("image_id"))
          .union(newPairs.select(col("b").as("image_id"))).distinct()
        val affected = prev.join(endpoints, "image_id")
          .select("cluster_id").distinct()
        val members = prev.join(affected, "cluster_id").localCheckpoint()
        val starEdges = members
          .filter(col("image_id") =!= col("cluster_id"))
          .select(col("image_id").as("a"), col("cluster_id").as("b"))
        val subVertices = members.select(col("image_id").as("id"))
          .union(endpoints.select(col("image_id").as("id")))
          .union(newIds)
          .distinct()
        val subEdges = newPairs.union(starEdges)
        val re = ConnectedComponents.run(spark, subEdges, subVertices)
          .withColumnRenamed("id", "image_id")
        val untouched = prev.join(affected, Seq("cluster_id"), "left_anti")
          .select("image_id", "cluster_id")
        // stats BEFORE the snapshot write: their plans still read the old
        // snapshot files, which writeSnapshot deletes once the new one is
        // committed
        val stats = IncrementalStats(fullRecompute = false,
          newEdges = newPairs.count(), subgraphEdges = subEdges.count(),
          subgraphVertices = subVertices.count())
        val out = writeSnapshot(
          untouched.unionByName(re.select("image_id", "cluster_id")), maxBatch)
        (out, stats)
      case _ =>
        // first run, or the snapshot fell behind a compaction — one full
        // pass restores incrementality
        val full = clustersFromState(spark, stateDir)
        if (sigC.base.isEmpty && sigC.batches.isEmpty)
          return (full, IncrementalStats(fullRecompute = true, 0L, 0L, 0L))
        val out = writeSnapshot(full, maxBatch)
        (out, IncrementalStats(fullRecompute = true, 0L, 0L, 0L))
    }
  }
}
