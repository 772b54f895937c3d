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
  * spec at cluster scale). Like an Iceberg data file that records the
  * spec it was written under, each base records the modulus it was
  * partitioned by in its own `_done` marker (`p=<k>`), and every prune set
  * is computed under the modulus of the base it prunes. The launch
  * `stateP` only seeds a table's first base; compaction keeps a base's
  * modulus until `resizeStateP` rewrites it, so tables may carry
  * different moduli (an interrupted resize) and every such mix reads
  * correctly. A base whose marker names no modulus (written before bases
  * recorded one, or a torn marker) is read whole, never mis-pruned. The
  * metrics table reports the observed touched-partition fraction and a
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
  *      scan). They go onto a deletion ledger (`<stateDir>/_pending_delete`,
  *      entries relative to the state dir, so a copy of the dir never
  *      deletes the original's files)
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

  /** The file system of `path` and the path qualified against it, so paths
    * built from it compare equal to the paths its listings return. */
  private def fileSystem(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_done"))

  /** Commit `dir` with a `_done` marker; a base's marker names the modulus
    * its `p=` dirs were partitioned by (`p=<k>` and a newline). */
  private def markDone(fs: FileSystem, dir: Path,
      stateP: Option[Int] = None): Unit = {
    val out = fs.create(new Path(dir, "_done"), true)
    try stateP.foreach(p => out.write(s"p=$p\n".getBytes("UTF-8")))
    finally out.close()
  }

  private val MarkerPRe = "p=(\\d+)\n".r

  /** The modulus a committed base's `_done` names. None for an empty marker
    * (an unpartitioned table, or a base written before bases recorded
    * their modulus) and for a torn one (no trailing newline): such a base
    * is read whole. */
  private def markedP(fs: FileSystem, dir: Path): Option[Int] = {
    val in = fs.open(new Path(dir, "_done"))
    try new String(in.readAllBytes(), "UTF-8") match {
      case MarkerPRe(p) => p.toIntOption.filter(_ > 0)
      case _ => None
    } finally in.close()
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
    * rename and ledger write) are ignored. `baseId` is the base's id: the
    * table's floor, at or below which every batch is folded in. `baseP` is
    * the modulus the base's `_done` names (see [[markedP]]). */
  private case class Committed(base: Option[Path], baseId: Option[Long],
      baseP: Option[Int], batches: Seq[(Long, Path)])

  private def committedDirs(fs: FileSystem, table: Path,
      excludeBatch: Option[Long]): Committed = {
    if (!fs.exists(table)) return Committed(None, None, None, Nil)
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
        case BatchRe(id) if committed.contains(id.toLong) &&
            !excludeBatch.contains(id.toLong) &&
            floor.forall(id.toLong > _) =>
          Some((id.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
    Committed(base.map(_._2), floor, base.flatMap(b => markedP(fs, b._2)),
      batches)
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

  /** `dirs` read as parquet under `schema` (an empty frame for no dirs). */
  private def readDirs(spark: SparkSession, schema: StructType,
      dirs: Seq[String]): DataFrame =
    if (dirs.nonEmpty) spark.read.schema(schema).parquet(dirs: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** A prune set: the modulus it was computed under and the state
    * partitions a batch's keys land in under it. */
  private type Prune = (Int, Set[Int])

  /** Read a table's committed state, pruned: base partitions restricted to
    * the `touched` set when the base names the set's modulus (any other
    * base is read whole); uncompacted batch dirs always read in full (they
    * are few and small by construction). Returns the frame plus file-level
    * read stats when `wantStats`. */
  private def readState(spark: SparkSession, tablePath: String,
      schema: StructType, excludeBatch: Option[Long],
      touched: Option[Prune],
      wantStats: Boolean): (DataFrame, ReadStats) = {
    val (fs, table) = fileSystem(spark, tablePath)
    val c = committedDirs(fs, table, excludeBatch)
    val touchedP = touched.collect { case (p, set) if c.baseP.contains(p) => set }
    val baseDirs = c.base.toSeq.flatMap(basePartDirs(fs, _, touchedP))
    val dirs = (baseDirs ++ c.batches.map(_._2)).map(_.toString)
    val df = readDirs(spark, schema, dirs)
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
      touched = None, wantStats = false)._1

  /** The committed pair log (may hold duplicate pairs from re-probes /
    * replayed batches; `distinct` is the caller's choice). */
  def pairsFromState(spark: SparkSession, stateDir: String): DataFrame =
    readCommitted(spark, stateDir, "pairs", pairSchema)

  private def partCol(cols: Seq[Column], p: Int): Column =
    pmod(xxhash64(cols: _*), lit(p.toLong)).cast("int")

  /** The distinct state-partition numbers `df`'s keys take under modulus
    * `p` — the touched-partition set driving directory pruning, in one Spark
    * job; None (and no job) when `p` is None: the table to prune has no
    * base naming a modulus, so it is read whole. Uses `partCol` itself so
    * read- and write-side partitioning can never diverge. */
  private def touchedPartitions(df: DataFrame, keys: Seq[Column],
      p: Option[Int]): Option[Prune] =
    p.map(m => (m, df.select(partCol(keys, m).as("p")).distinct().collect()
      .map(_.getInt(0)).toSet))

  /** `Checkpoints.ckpt` + the frame's distinct state-partition numbers for
    * `keys` under modulus `p`, collected as a SIDE EFFECT of the same
    * materialization job via a set-semantics accumulator — the separate
    * touched-partition job per table becomes free. Correctness notes: the
    * helper column rides the checkpointed blocks and is projected away
    * before the frame is returned (consumers and state writes see the
    * original schema); the UDF is marked non-deterministic so the optimizer
    * can neither eliminate nor duplicate it; accumulator updates from every
    * partition are visible once the (synchronous) checkpoint job completes,
    * and retried/speculative tasks can only re-add the same set members.
    * Uses `partCol` itself, so read- and write-side partitioning cannot
    * diverge. With `p = None` (the pruned table has no base naming a
    * modulus — nothing will be pruned) it degrades to a plain checkpoint
    * and no prune set. */
  private def ckptTouched(df: DataFrame, keys: Seq[Column],
      p: Option[Int]): (DataFrame, Option[Prune]) = p match {
    case None => (graft.core.Checkpoints.ckpt(df), None)
    case Some(m) =>
      val spark = df.sparkSession
      val acc = new org.apache.spark.util.CollectionAccumulator[java.lang.Integer]()
      spark.sparkContext.register(acc, "touchedP")
      val tap = udf((x: Int) => { acc.add(x); x }).asNondeterministic()
      val ck = graft.core.Checkpoints.ckpt(
        df.withColumn("__touched_p", tap(partCol(keys, m))))
      import scala.jdk.CollectionConverters._
      (ck.drop("__touched_p"),
        Some((m, acc.value.asScala.map(_.intValue()).toSet)))
  }

  // ------------------------------------------------------------ compaction
  private def pendingLedger(stateDir: Path): Path =
    new Path(stateDir, "_pending_delete")

  /** `p` relative to the state root `root`, if it lies under it. */
  private def underRoot(root: Path, p: Path): Option[String] = {
    val rel = root.toUri.relativize(p.toUri)
    if (rel.isAbsolute || rel.getPath.isEmpty || rel.getPath.startsWith("/"))
      None
    else Some(rel.getPath)
  }

  /** The ledger's entries as paths under `root`. Entries are relative to
    * the state dir; an absolute one (the form older ledgers held) counts
    * only if it lies under this root, so a copy of a state dir never
    * deletes the dirs of the state dir it was copied from. */
  private def readLedger(fs: FileSystem, root: Path): Seq[Path] = {
    val f = pendingLedger(root)
    if (!fs.exists(f)) Nil
    else {
      val in = fs.open(f)
      val lines =
        try scala.io.Source.fromInputStream(in).getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      lines.flatMap { l =>
        val p = new Path(l)
        if (!p.isAbsolute && p.toUri.getScheme == null) Some(l)
        else underRoot(root, p.makeQualified(fs.getUri, fs.getWorkingDirectory))
      }.map(new Path(root, _))
    }
  }

  private def writeLedger(fs: FileSystem, root: Path,
      paths: Seq[Path]): Unit = {
    val out = fs.create(pendingLedger(root), true)
    try out.write(paths.flatMap(underRoot(root, _))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Delete each path that still exists (a dir recursively). */
  private def deleteAll(fs: FileSystem, paths: Seq[Path]): Unit =
    paths.foreach(p => if (fs.exists(p)) fs.delete(p, true))

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

  /** Fold the committed base + committed batch dirs (all of them when
    * `excludeBatch` is None, else all OLDER than it) into a new base
    * (partitioned by `partKeys` hash when given, rows sorted by `sortCols`
    * for parquet min/max locality). A partitioned base keeps the modulus
    * its own `_done` names; `stateP` seeds a table's first base (and
    * replaces a base that names none). With `force`, every partitioned
    * table is laid out under `stateP`, and a base with NO pending batches
    * is still rewritten unless it already is — the stateP-resize path.
    * Consumed dirs are NOT deleted here — see the deferred-deletion
    * contract in the header. Returns the consumed dir paths (for the
    * deletion ledger); the new base is never among them, even when it
    * reuses the old base's id (force + no batches: the data is
    * materialized into the tmp dir BEFORE the old dest is deleted, so an
    * in-place rewrite is safe). */
  private def compactTable(spark: SparkSession, tablePath: String,
      schema: StructType, excludeBatch: Option[Long],
      partKeys: Option[Seq[Column]], sortCols: Seq[Column], stateP: Int,
      force: Boolean = false): Seq[Path] = {
    val (fs, table) = fileSystem(spark, tablePath)
    healInPlaceRewrite(fs, table)
    val c = committedDirs(fs, table, excludeBatch)
    val p = if (force) stateP else c.baseP.getOrElse(stateP)
    val relayout = force && c.base.nonEmpty && partKeys.nonEmpty &&
      !c.baseP.contains(p)
    if (c.batches.isEmpty && !relayout) return Nil
    val newId = (c.batches.map(_._1) ++ c.baseId).max
    val dirs = (c.base.toSeq.flatMap(basePartDirs(fs, _, None)) ++
      c.batches.map(_._2)).map(_.toString)
    val all = spark.read.schema(schema).parquet(dirs: _*)
    val tmp = new Path(table, s".base_$newId.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    partKeys match {
      case Some(keys) =>
        all.withColumn("p", partCol(keys, p))
          .repartition(col("p"))
          .sortWithinPartitions(col("p") +: sortCols: _*)
          .write.option("compression", "zstd")
          .partitionBy("p").mode("overwrite").parquet(tmp.toString)
      case None =>
        all.coalesce(4).write.option("compression", "zstd")
          .mode("overwrite").parquet(tmp.toString)
    }
    markDone(fs, tmp, partKeys.map(_ => p))
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
    val consumedBase = c.base.map(b => if (b == dest) aside else b)
    (consumedBase.toSeq ++ c.batches.map(_._2)).filter(_ != dest)
  }

  /** One compaction round across all state tables: delete what the previous
    * round deferred, fold each table, write the new deletion ledger
    * (subsumed dirs + subsumed commit markers, recomputed from what is
    * actually present so a mid-round crash self-heals). */
  private def compactAll(spark: SparkSession, stateDir: String,
      tables: Seq[(String, StructType, Option[Seq[Column]], Seq[Column])],
      currentBatch: Long, stateP: Int): Unit = {
    val (fs, root) = fileSystem(spark, stateDir)
    // (1) previous cycle's deferral is due: any reader that planned a scan
    // over these dirs has had a full compaction cycle to finish
    deleteAll(fs, readLedger(fs, root))
    // (2) fold each table — tables are disjoint dirs with independent
    // read→repartition→write jobs, so submit them concurrently (the same
    // pattern as the per-batch state writes): compaction wall is the max
    // of the table folds, not their sum, and a real cluster's executors
    // stay fed instead of draining between seven small serial jobs
    val consumed = graft.core.Checkpoints.parallelRun(tables.map {
      case (name, schema, partKeys, sortCols) => () =>
        compactTable(spark, s"$stateDir/$name", schema,
          excludeBatch = Some(currentBatch), partKeys, sortCols, stateP)
    }).flatten
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
        val floor = committedDirs(fsT, t, None).baseId
        fsT.listStatus(t).toSeq.filter(_.isDirectory).flatMap { st =>
          st.getPath.getName match {
            case BaseRe(id) if floor.exists(id.toLong < _) =>
              Some(st.getPath)
            case BatchRe(id) if floor.exists(id.toLong <= _) &&
                id.toLong != currentBatch =>
              Some(st.getPath)
            case TmpBaseRe(id) if floor.exists(id.toLong <= _) &&
                fsT.exists(new Path(t, s"base_$id")) =>
              Some(st.getPath)
            case OldBaseRe(id) if fsT.exists(new Path(t, s"base_$id")) =>
              Some(st.getPath)
            case _ => None
          }
        }
      }
    }
    writeLedger(fs, root,
      (consumed ++ swept ++ staleCommitMarkers(spark, stateDir, tables)).distinct)
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
      else Some(committedDirs(fsT, t, None).baseId.getOrElse(Long.MinValue))
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
      targetBytes: Long = TargetPartitionBytes): Int =
    math.max(current, math.ceil(baseBytes.toDouble / targetBytes).toInt)

  private val TargetPartitionBytes = 64L << 20

  /** The modulus the committed index base was partitioned by — the
    * stream's active `stateP`. None while no base names one (no compaction
    * yet, or a base written before bases recorded their modulus). */
  def indexStateP(spark: SparkSession, stateDir: String): Option[Int] = {
    val (fs, index) = fileSystem(spark, s"$stateDir/index")
    committedDirs(fs, index, excludeBatch = None).baseP
  }

  /** The index base's modulus and [[recommendedStateP]] for its byte size —
    * a driver FS stat, no Spark job; None while no base names a modulus. */
  private def indexBaseRecommendedP(spark: SparkSession, stateDir: String,
      targetBytes: Long = TargetPartitionBytes): Option[(Int, Int)] = {
    val (fs, index) = fileSystem(spark, s"$stateDir/index")
    val c = committedDirs(fs, index, excludeBatch = None)
    for (b <- c.base; p <- c.baseP) yield
      (p, recommendedStateP(fs.getContentSummary(b).getLength, p, targetBytes))
  }

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
    * `stateP` seeds the modulus of a table's first base; a table with a
    * base keeps that base's own modulus (see the header).
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
    val indexPath = s"$stateDir/index"
    val sigsPath = s"$stateDir/sigs"
    val anchPath = s"$stateDir/ss_anchors"
    val winsPath = s"$stateDir/ss_windows"
    val pairsPath = s"$stateDir/pairs"
    val hashPath = s"$stateDir/hashes"
    def batchDir(table: String) = s"$table/batch_$batchId"
    val self = Some(batchId)
    // each prune set is computed under the modulus of the base it prunes:
    // index for band and probe rows, ss_windows for anchors, ss_anchors for
    // windows, hashes for hashes, sigs for candidate ids. A table with no
    // base naming a modulus has nothing to prune (its batch dirs are read
    // whole), so no prune set is computed for it — on a fresh state dir
    // that skips every prune-set job. committedDirs already excludes this
    // batch, so reading the bases before the marker withdrawal below is
    // equivalent.
    def baseP(table: String): Option[Int] = {
      val (fs, t) = fileSystem(spark, table)
      committedDirs(fs, t, self).baseP
    }
    val idxP = baseP(indexPath)
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
      Seq(col("record_sha")), baseP(hashPath))
    // empty-batch early-out AFTER the hash pass: probing emptiness on the
    // materialized (local-block) frame folds the previous separate
    // source-scan isEmpty job into the checkpoint the tier needs anyway
    if (newHashes.isEmpty) return
    val (oldHashes, hashStats) = readState(spark, hashPath, hashSchema,
      self, hashTouched, metrics)
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
      graft.core.Checkpoints.parallelRun[(DataFrame, Option[Prune])](Seq(
        () => ckptTouched(Dedup.bands(sigs, cfg), bandKeys, idxP),
        () => if (cfg.bandProbes > 0)
          ckptTouched(Dedup.probeBands(sigsAll, cfg), bandKeys, idxP)
        else (null, None),
        () => ckptTouched(SubstringDup.anchorTable(newTexts, w),
          Seq(col("k")), baseP(winsPath)),
        () => ckptTouched(SubstringDup.windowTable(newTexts, w),
          Seq(col("k")), baseP(anchPath))))
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
    def writeBatch(df: DataFrame, table: String): Unit =
      df.coalesce(4).write.option("compression", "zstd")
        .mode("overwrite").parquet(batchDir(table))
    // prune sets assembled from the checkpoint-time accumulators above: the
    // index probe touches every partition an exact OR probe key lands in;
    // anchors are pruned by the new WINDOW keys and windows by the new
    // ANCHOR keys (the incremental substring join's two directions)
    val idxTouched = parallelParts(0)._2.map { case (p, set) =>
      (p, set ++ parallelParts(1)._2.toSeq.flatMap(_._2)) }
    val anchTouched = parallelParts(3)._2
    val winsTouched = parallelParts(2)._2
    phase("touched partitions")
    // candidates -> verify -> pair-log write: the one chain of this batch
    // that needs the verify. Returns the frames and read stats the metrics
    // row counts.
    val chain = () => {
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
              newBands.schema, self, idxTouched, metrics)
            val touched = probeSet.select("band_id", "band_key").distinct()
            val relevantOld0 = oldBands0
              .join(touched, Seq("band_id", "band_key"), "left_semi")
            // metrics mode materializes the (bucket-pruned, so small) probe
            // result once, making the probed-row count a scan of local
            // blocks instead of a recomputation of the state read + semi-join
            val relevantOld = if (metrics)
              graft.core.Checkpoints.ckpt(relevantOld0) else relevantOld0
            val relevant = relevantOld.union(probeSet)
            (relevantOld, idxStats,
              graft.core.Checkpoints.ckpt(Dedup.candidates(relevant, cfg)))
          },
          () => {
            // incremental substring pass: only joins touching a NEW row — new
            // anchors vs all windows (new text contained in anything) plus
            // old anchors vs new windows (anything contained in new text).
            // Anchor and window hash tables are state, so old texts are never
            // re-hashed; the equi-join key is `k`, so old-side reads prune to
            // the partitions of the NEW side's keys.
            val (oldAnch, anchStats) = readState(spark, anchPath,
              newAnch.schema, self, anchTouched, metrics)
            val (oldWins, winStats) = readState(spark, winsPath,
              newWins.schema, self, winsTouched, metrics)
            (anchStats, winStats, graft.core.Checkpoints.ckpt(
              newAnch.join(oldWins.union(newWins), "k")
                .union(oldAnch.join(newWins, "k"))
                .filter(col("a") =!= col("b"))
                .select(col("a"), col("b"))
                .distinct()))
          })
      phase("index+substring candidates")
      // old signatures: the MinHash verify and the substring contains-check
      // only ever dereference ids that appear in a candidate pair — prune
      // the signature read to exactly those ids' partitions
      val candIds = cands.select(col("a").as("id"))
        .union(cands.select(col("b").as("id")))
        .union(ssCands.select(col("a").as("id")))
        .union(ssCands.select(col("b").as("id")))
      val (oldSigs, sigStats) = readState(spark, sigsPath, sigs.schema, self,
        touchedPartitions(candIds, Seq(col("id")), baseP(sigsPath)), metrics)
      val allSigs = oldSigs.union(sigs)
      val verifiedPairs = Dedup.verified(cands, allSigs, cfg)
      val allTexts = allSigs.select(col("image_id").as("id"),
        col("caption_norm").as("text"))
      val ssPairs = SubstringDup.verifyContained(ssCands, allTexts)
      phase("verify plans")
      val allPairs = verifiedPairs.union(ssPairs).union(exactPairs)
      val batchPairs =
        if (metrics) graft.core.Checkpoints.ckpt(allPairs) else allPairs
      writeBatch(batchPairs, pairsPath)
      (relevantOld, cands, batchPairs,
        idxStats + anchStats + winStats + sigStats)
    }
    // the other five state-table writes depend only on frames already
    // materialized (bands, sigs, anchors, windows, keeper hashes), so they
    // run beside the chain instead of forming a serial write barrier at
    // batch end (guide §2.6). They land in this batch's own dirs, invisible
    // until the commit marker, so the overlap cannot expose partial state.
    // If the chain or a write throws, parallelRun drains every other body
    // first: no write job outlives the batch scope that releases the
    // checkpoint blocks it scans, or races a replay into the same dirs. The
    // files left behind are torn-batch residue the replay contract covers
    // (marker absent -> invisible; the retried batch overwrites its dirs).
    val ((relevantOld, cands, batchPairs, chainStats), _) =
      graft.core.Checkpoints.par2(chain, () =>
        graft.core.Checkpoints.parallelRun(Seq(
          newBands -> indexPath,
          sigs -> sigsPath,
          newAnch -> anchPath,
          newWins -> winsPath,
          keeperHashes -> hashPath).map { case (df, table) =>
          () => writeBatch(df, table)
        }))
    phase("state writes")
    if (metrics) {
      import spark.implicits._
      val st = chainStats + hashStats
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
      // 0.0 while the index has no base naming a modulus (nothing pruned)
      val touchedFrac =
        idxTouched.fold(0.0) { case (p, set) => set.size.toDouble / p }
      val (activeP, recP) =
        indexBaseRecommendedP(spark, stateDir).getOrElse((stateP, stateP))
      val wallMs = (System.nanoTime() - tWall0) / 1000000L
      Seq((batchId, newRows, exactDropped2, probed,
          candCount, pairCount, st.filesRead, st.filesTotal,
          touchedFrac, activeP, recP, wallMs))
        .toDF("batch_id", "new_rows", "exact_dropped", "index_rows_probed",
          "candidate_pairs", "pairs_appended",
          "state_files_read", "state_files_total",
          "touched_frac_idx", "state_p", "recommended_p", "batch_wall_ms")
        .coalesce(1).write.mode("overwrite")
        .parquet(batchDir(s"$stateDir/metrics"))
      if (touchedFrac > 0.5)
        println(s"StreamingDedup: batch $batchId probed " +
          f"$touchedFrac%.2f of the index base's $activeP partitions: the " +
          "batch's probe keys land in most of them, so the directory prune " +
          "skips little (it needs far more partitions than keys per batch)")
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
    * bucket-partition count of a fresh state dir (each base records its
    * own, so a restart may pass any value); `compactEvery` is the
    * compaction cadence in batches. */
  def run(spark: SparkSession, inputDir: String, stateDir: String,
      cfg: DedupConfig = DedupConfig(),
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 4, metrics: Boolean = false,
      stateP: Int = 64, compactEvery: Int = 8,
      autoResize: Boolean = false): StreamingQuery = {
    val stream = spark.readStream
      .schema(imageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$stateDir/checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the ACTIVE modulus is whatever each base carries (an auto-resize
        // in an earlier batch supersedes the launch parameter); the launch
        // value only seeds a table's first base
        processBatch(spark, batch, stateDir, cfg, batchId, metrics,
          stateP, compactEvery)
        if (autoResize) {
          maybeAutoResize(spark, stateDir); ()
        }
      }
      .start()
  }

  /** Between-batch auto-resize: when the committed index base has outgrown
    * its own modulus by 2× (`recommendedStateP` > 2·active — the operator
    * trigger `metrics.recommended_p` documents), run the offline
    * `resizeStateP` migration and return the new modulus; otherwise None.
    * Safe exactly where `run`'s foreachBatch calls it: between two
    * processBatch invocations the streaming query is the sole owner of the
    * state dir, which is the resize's offline precondition. The trigger
    * reads one FS content summary — no Spark job. */
  def maybeAutoResize(spark: SparkSession, stateDir: String,
      targetBytes: Long = TargetPartitionBytes): Option[Int] =
    indexBaseRecommendedP(spark, stateDir, targetBytes) match {
      case Some((active, r)) if r > 2 * active =>
        println(s"StreamingDedup: auto-resize stateP $active -> $r " +
          s"(index base outgrew ${2 * active} x $targetBytes B target)")
        resizeStateP(spark, stateDir, r)
        Some(r)
      case _ => None
    }

  /** One row per batch (see [[processBatch]]). `touched_frac_idx` is the
    * share of the index base's partitions the batch's probe keys land in:
    * 0.0 on a batch whose index has no base naming a modulus (nothing is
    * pruned). `state_p` is the index base's modulus (the launch `stateP`
    * before there is one). */
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
  private[streaming] def tableSpecs
      : Seq[(String, StructType, Option[Seq[Column]], Seq[Column])] =
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

  /** OFFLINE stateP migration: rewrite every partitioned table's
    * committed view into a fresh base under `newP` (a base already under
    * `newP` with no pending batch is left as it is), fold every batch dir,
    * and delete what that consumed. Each rewritten base records `newP` in
    * its `_done`, so probes prune it under `newP` from then on.
    *
    * PRECONDITION (caller-enforced, same single-writer rule as ingest): no
    * ingesting query and no concurrent cluster-mode reader is running
    * against `stateDir`. Being offline is what lets this path delete
    * consumed dirs immediately instead of deferring a cycle.
    *
    * Crash-safe w.r.t. the reader rule: each table's rewrite lands via
    * write-tmp → `_done` → aside-rename of the live base → commit rename
    * (a crash between the renames is healed forward from the `_done` tmp
    * by the next compactTable on that table), and the new base subsumes
    * every batch dir (so lingering dirs stay invisible). A crash part-way
    * leaves some tables under the old modulus and some under `newP`; every
    * base names its own, so that mix is valid state to ingest into, and
    * re-running the resize completes it. */
  def resizeStateP(spark: SparkSession, stateDir: String, newP: Int): Unit = {
    require(newP > 0, s"newP must be positive, got $newP")
    val (fs, root) = fileSystem(spark, stateDir)
    require(fs.exists(root), s"no state at $stateDir — nothing to resize")
    // the previous deferred-deletion cycle is due by the offline precondition
    deleteAll(fs, readLedger(fs, root))
    writeLedger(fs, root, Nil)
    val consumed = graft.core.Checkpoints.parallelRun(tableSpecs.map {
      case (name, schema, partKeys, sortCols) => () =>
        compactTable(spark, s"$stateDir/$name", schema, excludeBatch = None,
          partKeys, sortCols, newP, force = true)
    }).flatten
    deleteAll(fs, consumed)
    // every committed batch is now folded into some table's base, so every
    // marker at or below the min base floor is stale (offline: safe to
    // delete immediately, no deferral cycle needed)
    staleCommitMarkers(spark, stateDir, tableSpecs)
      .foreach(p => fs.delete(p, false))
    println(s"StreamingDedup: resized $stateDir to stateP $newP " +
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
    val ids = readCommitted(spark, stateDir, "sigs", sigSchema)
      .select(col("image_id").as("id")).distinct()
    if (ids.isEmpty)
      return Seq.empty[(String, String)].toDF("image_id", "cluster_id")
    val pairs = readCommitted(spark, stateDir, "pairs", pairSchema)
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
    *  - The snapshot id is the max committed batch id. A batch commits
    *    through ONE marker covering all its tables, so a snapshot can
    *    never cap in a batch whose sig rows are missing.
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
    val baseFloor = (sigC.baseId.toSeq ++ pairC.baseId.toSeq)
      .maxOption.getOrElse(Long.MinValue)
    val maxBatch = ((sigC.batches ++ pairC.batches).map(_._1) :+ baseFloor).max

    // NOTE: raw localCheckpoint (not Checkpoints.ckpt) throughout this
    // method — the label snapshot deliberately OUTLIVES any operator scope
    // (it is reused across incremental calls) and manages its own lifetime.
    def writeSnapshot(labels: DataFrame, upto: Long): DataFrame = {
      // never rewrite the LIVE snapshot in place: when the frontier has not
      // advanced (upto == previous id), return the freshly computed labels
      // WITHOUT writing. Overwriting the only committed snapshot would open
      // a crash window (clearDone → overwrite → markDone) that can destroy
      // it, for zero progress.
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
        val newIds = readDirs(spark, sigSchema, newSigDirs)
          .select(col("image_id").as("id")).distinct()
          .join(prev.select(col("image_id").as("id")), Seq("id"), "left_anti")
        val newPairs = readDirs(spark, pairSchema, newPairDirs)
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
        val stats = IncrementalStats(fullRecompute = true, 0L, 0L, 0L)
        if (sigC.base.isEmpty && sigC.batches.isEmpty) (full, stats)
        else (writeSnapshot(full, maxBatch), stats)
    }
  }
}
