package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.images.SyntheticCorpus
import graft.pipeline.{Dedup, DedupConfig}

class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def pairSet(clusters: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    Dedup.clusterPairs(clusters).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("streaming incremental dedup recovers the batch pipeline's pairs and the planted truth") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream").toString
    val (images, truth) = SyntheticCorpus.generate(spark,
      nGroups = 12, variantsPerGroup = 3, nDistractors = 12)
    images.cache(); images.count()
    // several input files -> several micro-batches with maxFilesPerTrigger=1
    images.repartition(4).write.parquet(s"$root/input")

    // compactEvery=2 so the 4 micro-batches also exercise state compaction
    val q = StreamingDedup.run(spark, s"$root/input", s"$root/state", cfg,
      Trigger.AvailableNow(), maxFilesPerTrigger = 1,
      stateP = 16, compactEvery = 2)
    q.awaitTermination()
    assert(!q.isActive)

    val streamed = StreamingDedup.clustersFromState(spark, s"$root/state")
    val streamedPairs = pairSet(streamed)

    // recall vs planted truth must be total — every planted dup pair is
    // found regardless of which micro-batch each variant arrived in
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(truthPairs.nonEmpty)
    assert(truthPairs.subsetOf(streamedPairs),
      s"missed ${truthPairs.diff(streamedPairs).size} of ${truthPairs.size} truth pairs")

    // vs the one-shot batch run: the streaming candidate set is a SUPERSET
    // by construction (a pair within the sorted window at arrival time may
    // be pushed apart by later inserts, which the final-order batch pass
    // then misses; the reverse cannot happen — at the later element's
    // arrival the bucket holds a subset of its final rows, so a final-order
    // within-window pair is within-window then too). Every extra pair still
    // passed the identical verify predicate, so require batch ⊆ streamed
    // and streamed ⊆ truth, not equality.
    val batchPairs = pairSet(Dedup.run(images, cfg))
    assert(batchPairs.subsetOf(streamedPairs),
      s"streamed lost ${batchPairs.diff(streamedPairs).size} batch pairs")
    assert(streamedPairs.subsetOf(truthPairs),
      s"${streamedPairs.diff(truthPairs).size} streamed pairs outside planted groups")
    images.unpersist(); ()
  }

  test("stopped stream resumes from its checkpoint and converges to batch parity") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-resume").toString
    val (images, truth) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 3, nDistractors = 8)
    images.cache(); images.count()
    images.repartition(4).write.parquet(s"$root/input")

    // first incarnation: stop the query after >= 1 committed micro-batch
    // (compactEvery=2: resume must also survive a pre-stop compaction)
    val q1 = StreamingDedup.run(spark, s"$root/input", s"$root/state", cfg,
      Trigger.AvailableNow(), maxFilesPerTrigger = 1,
      stateP = 16, compactEvery = 2)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while ((q1.recentProgress.count(_.numInputRows > 0) < 2) &&
        q1.isActive && System.nanoTime() < deadline) Thread.sleep(200)
    q1.stop(); q1.awaitTermination()
    // a stop can interrupt a batch after its state writes but before its
    // checkpoint commit — resume replays it — so ids, not raw rows, count
    def distinctSigs() = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$root/state/sigs")
      .select("image_id").distinct().count()
    val committedBefore = distinctSigs()
    assert(committedBefore > 0, "first incarnation committed no batch")

    // second incarnation: same checkpoint + state -> processes only files
    // not yet committed, and the final clustering matches the batch pipeline
    val q2 = StreamingDedup.run(spark, s"$root/input", s"$root/state", cfg,
      Trigger.AvailableNow(), maxFilesPerTrigger = 1,
      stateP = 16, compactEvery = 2)
    q2.awaitTermination()
    // the exact front tier drops byte-identical rows before featurize, so
    // sigs hold <= one row per CONTENT; coverage of every image id is the
    // clustering's contract, checked below
    assert(distinctSigs() <= images.count())
    val streamedClusters =
      StreamingDedup.clustersFromState(spark, s"$root/state")
    assert(streamedClusters.select("image_id").distinct().count()
      === images.count())
    val streamedPairs = pairSet(streamedClusters)
    val batchPairs = pairSet(Dedup.run(images, cfg))
    assert(batchPairs.subsetOf(streamedPairs),
      s"resume lost ${batchPairs.diff(streamedPairs).size} batch pairs")
    // upper bound too: a recovery bug emitting spurious pairs must not hide
    // behind the subset relaxation
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamedPairs.subsetOf(truthPairs),
      s"${streamedPairs.diff(truthPairs).size} streamed pairs outside planted groups")
    images.unpersist(); ()
  }

  test("per-batch state read cost stays flat as batch count grows (bucket prune + compaction)") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-flat").toString
    val state = s"$root/state"
    val stateP = 32
    val compactEvery = 4
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 10, variantsPerGroup = 2, nDistractors = 10)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(2).toSeq // 15 micro-batches of 2 images
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val batch = rows.filter(col("image_id").isin(chunk.toSeq: _*))
      StreamingDedup.processBatch(spark, batch, state, cfg, batchId = i.toLong,
        metrics = true, stateP = stateP, compactEvery = compactEvery)
    }
    // compaction bounds the dir count: one base + < compactEvery recent
    // batches per table, PLUS at most one cycle's deferred-delete leftovers
    // (consumed dirs are tombstoned for one compaction cycle so a
    // concurrent reader's planned scan cannot lose files underneath it) —
    // bounded either way, vs one dir PER BATCH unbounded
    for (table <- Seq("index", "sigs", "ss_anchors", "ss_windows", "pairs",
        "hashes", "metrics")) {
      val dirs = new java.io.File(s"$state/$table").listFiles
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
      assert(dirs.length <= 2 * (compactEvery + 1),
        s"$table has ${dirs.length} dirs after ${chunks.size} " +
          s"batches — compaction not bounding state")
    }
    // the deferral is a LEDGER, not a leak: everything listed is deleted
    // one cycle later, so the ledger names only the latest cycle's dirs
    assert(new java.io.File(s"$state/_pending_delete").exists)
    val m = StreamingDedup.metricsFromState(spark, state)
      .orderBy("batch_id").collect()
    assert(m.length == chunks.size)
    val read = m.map(_.getAs[Long]("state_files_read"))
    val total = m.map(_.getAs[Long]("state_files_total"))
    // directory pruning: the final batch must NOT read the whole state
    assert(read.last < total.last,
      s"final batch read ${read.last}/${total.last} files — no pruning")
    // flatness: read cost per batch is (pruned base partitions + <=
    // compactEvery uncompacted batch dirs), NOT stream history. Compare the
    // last batch against earlier batches at the SAME phase of the
    // compaction cycle (same uncompacted-dir count): under the old
    // O(history) layout the last batch reads ~2.3x the mid-stream one here;
    // under the bounded layout both read base + (i % compactEvery) batches,
    // the base only growing with bucket occupancy (slack below)
    val last = read.length - 1
    val samePhase = Seq(last - compactEvery, last - 2 * compactEvery)
      .filter(_ > compactEvery).map(read)
    assert(samePhase.nonEmpty)
    assert(read.last <= samePhase.max * 3 / 2 + 8,
      s"read cost growing with history: ${read.toSeq}")
  }

  test("replay after compaction is idempotent and loses no state") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-compact-replay").toString
    val state = s"$root/state"
    val (images, truth) = SyntheticCorpus.generate(spark,
      nGroups = 6, variantsPerGroup = 3, nDistractors = 6)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(3).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val batch = rows.filter(col("image_id").isin(chunk.toSeq: _*))
      StreamingDedup.processBatch(spark, batch, state, cfg, batchId = i.toLong,
        metrics = false, stateP = 16, compactEvery = 3)
    }
    val once = StreamingDedup.clustersFromState(spark, state)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // crash-recovery replay of the LAST batch (its own dirs overwritten;
    // everything older is partly inside a compacted base by now)
    val lastChunk = chunks.last
    val lastBatch = rows.filter(col("image_id").isin(lastChunk.toSeq: _*))
    StreamingDedup.processBatch(spark, lastBatch, state, cfg,
      batchId = (chunks.size - 1).toLong,
      metrics = false, stateP = 16, compactEvery = 3)
    val twice = StreamingDedup.clustersFromState(spark, state)
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(twice === once)
    // and the planted truth is still fully recovered from compacted state
    val streamedPairs = pairSet(StreamingDedup.clustersFromState(spark, state))
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(truthPairs.subsetOf(streamedPairs),
      s"missed ${truthPairs.diff(streamedPairs).size} truth pairs after compaction")
  }

  test("incremental clustering: equals full recompute, keeps untouched labels, cost ∝ new edges") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-inc").toString
    val state = s"$root/state"
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 10, variantsPerGroup = 3, nDistractors = 10)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(8).toSeq
    def sameClusters(a: Map[String, String], b: Map[String, String]): Unit = {
      // labels are canonical (min id per component) so maps compare directly
      assert(a === b)
    }
    var batch = 0L
    chunks.take(3).foreach { c =>
      StreamingDedup.processBatch(spark,
        rows.filter(col("image_id").isin(c.toSeq: _*)), state, cfg,
        batchId = batch, stateP = 16, compactEvery = 100)
      batch += 1
    }
    // snapshot bootstrap = one full pass
    val (inc0, st0) = StreamingDedup.clustersIncrementalWithStats(spark, state)
    assert(st0.fullRecompute)
    sameClusters(
      inc0.collect().map(r => (r.getString(0), r.getString(1))).toMap,
      StreamingDedup.clustersFromState(spark, state)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap)
    val before = inc0.collect().map(r => (r.getString(0), r.getString(1))).toMap
    // fold in one more batch INCREMENTALLY
    chunks.drop(3).take(1).foreach { c =>
      StreamingDedup.processBatch(spark,
        rows.filter(col("image_id").isin(c.toSeq: _*)), state, cfg,
        batchId = batch, stateP = 16, compactEvery = 100)
      batch += 1
    }
    val (inc1, st1) = StreamingDedup.clustersIncrementalWithStats(spark, state)
    assert(!st1.fullRecompute)
    val incMap = inc1.collect().map(r => (r.getString(0), r.getString(1))).toMap
    sameClusters(incMap,
      StreamingDedup.clustersFromState(spark, state)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap)
    // label stability: ids whose component the new batch never touched
    // keep their exact previous label
    val touched = incMap.filter { case (id, cl) => before.get(id).exists(_ != cl) }
    touched.keys.foreach { id =>
      assert(!before.contains(id) || incMap(id) <= before(id)) // only merges
    }
    // cost proportionality: the re-clustered subgraph is bounded by new
    // edges + members of the clusters they touch — far below the full log
    val totalPairs = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$state/pairs").distinct().count()
    assert(st1.subgraphEdges <= st1.newEdges + inc1.count(),
      s"subgraph ${st1.subgraphEdges} edges vs ${st1.newEdges} new")
    assert(st1.subgraphVertices < inc1.count(),
      s"re-clustered ${st1.subgraphVertices} of ${inc1.count()} vertices")
    assert(totalPairs > st1.newEdges, "new batch should be a minority of the log")
    // idle call: nothing new -> the snapshot is returned as-is
    val (inc2, st2) = StreamingDedup.clustersIncrementalWithStats(spark, state)
    assert(!st2.fullRecompute && st2.subgraphEdges === 0L)
    sameClusters(incMap,
      inc2.collect().map(r => (r.getString(0), r.getString(1))).toMap)
  }

  test("restarting with a different stateP fails fast instead of silently mis-pruning") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-statep").toString
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 3, variantsPerGroup = 2, nDistractors = 3)
    val batch = images.localCheckpoint()
    StreamingDedup.processBatch(spark, batch, s"$root/state", cfg,
      batchId = 0L, stateP = 16)
    // same value: fine (the normal restart path)
    StreamingDedup.processBatch(spark, batch, s"$root/state", cfg,
      batchId = 1L, stateP = 16)
    // different value: base p= dirs were laid out under modulus 16; pruning
    // under 32 would silently skip partitions holding real duplicates
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.processBatch(spark, batch, s"$root/state", cfg,
        batchId = 2L, stateP = 32)
    }
    assert(e.getMessage.contains("stateP mismatch"))
  }

  test("resizeStateP migrates the base to a new modulus; probes stay correct across the boundary") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-resize").toString
    val state = s"$root/state"
    val control = s"$root/control"
    val (images, truth) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 3, nDistractors = 8)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(8).toSeq
    def ingest(dir: String, chunk: Seq[String], id: Long, p: Int): Unit =
      StreamingDedup.processBatch(spark,
        rows.filter(col("image_id").isin(chunk: _*)), dir, cfg,
        batchId = id, stateP = p, compactEvery = 2)
    // state: first 3 chunks under stateP=8 (compaction fires, so a p=-
    // partitioned base exists); control: ALL chunks under stateP=8
    chunks.take(3).zipWithIndex.foreach { case (c, i) => ingest(state, c, i.toLong, 8) }
    chunks.zipWithIndex.foreach { case (c, i) => ingest(control, c, i.toLong, 8) }
    val before = StreamingDedup.clustersFromState(spark, state)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    StreamingDedup.resizeStateP(spark, state, 32)

    // content is untouched by the migration
    val after = StreamingDedup.clustersFromState(spark, state)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(after === before)
    // the old modulus now fails fast (checkStateP reads the migrated value)
    val e = intercept[IllegalArgumentException] {
      ingest(state, chunks(3), 3L, 8)
    }
    assert(e.getMessage.contains("stateP mismatch"))
    // layout: every batch dir is folded into a base whose p= values are
    // valid under the NEW modulus (and some exceed the old one — the
    // rewrite really re-bucketed, not just renamed)
    val idxDirs = new java.io.File(s"$state/index").listFiles
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
    assert(idxDirs.forall(_.getName.startsWith("base_")),
      s"unfolded dirs after resize: ${idxDirs.map(_.getName).mkString(",")}")
    val pVals = idxDirs.flatMap(_.listFiles).map(_.getName)
      .filter(_.startsWith("p=")).map(_.stripPrefix("p=").toInt)
    assert(pVals.forall(p => p >= 0 && p < 32))
    assert(pVals.exists(_ >= 8), "no partition above the old modulus")
    // probes against the migrated base: ingest every REMAINING chunk under
    // the new modulus — cross-boundary duplicates (variant in chunks 0-2,
    // variant in a later chunk) are only found if pruning against the
    // rewritten base is sound — and the final pair set must equal the
    // constant-stateP control (which ingested all chunks)
    chunks.drop(3).zipWithIndex.foreach { case (c, i) =>
      ingest(state, c, (3 + i).toLong, 32)
    }
    val resizedPairs = pairSet(StreamingDedup.clustersFromState(spark, state))
    val controlPairs = pairSet(StreamingDedup.clustersFromState(spark, control))
    assert(resizedPairs === controlPairs)
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(truthPairs.subsetOf(resizedPairs),
      s"missed ${truthPairs.diff(resizedPairs).size} truth pairs after resize")
  }

  test("multi-probe band index: 8 bands + 3 probes keeps truth recall at a fraction of 28-band state") {
    val root = Files.createTempDirectory("graft-stream-multiprobe").toString
    val (images, truth) = SyntheticCorpus.generate(spark,
      nGroups = 10, variantsPerGroup = 3, nDistractors = 10)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(10).toSeq
    def ingestAll(dir: String, cfg: DedupConfig): Unit =
      chunks.zipWithIndex.foreach { case (c, i) =>
        StreamingDedup.processBatch(spark,
          rows.filter(col("image_id").isin(c: _*)), dir, cfg,
          batchId = i.toLong, stateP = 8, compactEvery = 2)
      }
    val stateA = s"$root/full28" // the 28-band default, no probes
    val stateB = s"$root/probe8" // 8 stored bands, 3 query-side flips each
    ingestAll(stateA, DedupConfig())
    ingestAll(stateB, DedupConfig(nBands = 8, bandProbes = 3))
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val pairsA = pairSet(StreamingDedup.clustersFromState(spark, stateA))
    val pairsB = pairSet(StreamingDedup.clustersFromState(spark, stateB))
    assert(truthPairs.subsetOf(pairsA), "28-band baseline lost truth pairs")
    assert(truthPairs.subsetOf(pairsB),
      s"8-band+3-probe config lost ${truthPairs.diff(pairsB).size} truth pairs")
    // the persisted index (bands x rows — the volume that dominates state
    // at corpus scale) must shrink with the stored band count: 8 simhash +
    // 16 minhash vs 28 + 16 band rows per record => ~0.55x the ROWS. Rows
    // are the scale-faithful measure; raw bytes at this toy scale are
    // footer/metadata-dominated (dozens of tiny parquet files), so they
    // shrink less and are only reported.
    def indexRows(dir: String): Long =
      StreamingDedup.indexFromState(spark, dir).count()
    def du(p: java.io.File): Long =
      if (p.isFile) p.length
      else if (p.isDirectory) p.listFiles.map(du).sum
      else 0L
    val rowsA = indexRows(stateA)
    val rowsB = indexRows(stateB)
    val bytesA = du(new java.io.File(s"$stateA/index"))
    val bytesB = du(new java.io.File(s"$stateB/index"))
    println(f"index state: 28-band $rowsA%,d rows / $bytesA%,d B; " +
      f"8-band+3probes $rowsB%,d rows / $bytesB%,d B; row ratio " +
      f"${rowsB.toDouble / rowsA}%.3f, byte ratio ${bytesB.toDouble / bytesA}%.2f")
    assert(rowsB < 0.6 * rowsA,
      s"expected a materially smaller stored index: $rowsB vs $rowsA rows")
  }

  test("auto-resize fires between batches; pair history survives the boundary") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-autoresize").toString
    val state = s"$root/state"
    val control = s"$root/control"
    val (images, truth) = SyntheticCorpus.generate(spark,
      nGroups = 8, variantsPerGroup = 3, nDistractors = 8)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(8).toSeq
    def ingest(dir: String, chunk: Seq[String], id: Long, p: Int): Unit =
      StreamingDedup.processBatch(spark,
        rows.filter(col("image_id").isin(chunk: _*)), dir, cfg,
        batchId = id, stateP = p, compactEvery = 2)
    // exactly run()'s autoResize wiring: active modulus = persisted state,
    // maybeAutoResize between batches; a tiny per-partition target forces
    // the trigger (recommended > 2x active) as soon as a base exists
    var resizes = 0
    chunks.zipWithIndex.foreach { case (c, i) =>
      val p = StreamingDedup.persistedStateP(spark, state).getOrElse(4)
      ingest(state, c, i.toLong, p)
      val np = StreamingDedup.maybeAutoResize(spark, state, p,
        targetBytes = 1024L)
      if (np != p) resizes += 1
    }
    assert(resizes >= 1, "auto-resize never fired")
    // the migrated modulus is persisted and consistent
    val finalP = StreamingDedup.persistedStateP(spark, state).get
    assert(finalP > 4)
    // control stream: constant stateP, no resize — identical dup decisions
    chunks.zipWithIndex.foreach { case (c, i) =>
      ingest(control, c, i.toLong, 4)
    }
    val autoPairs = pairSet(StreamingDedup.clustersFromState(spark, state))
    val controlPairs =
      pairSet(StreamingDedup.clustersFromState(spark, control))
    assert(autoPairs === controlPairs)
    val tl = truth.select(col("group_id"), col("image_id").as("a"))
    val tr = truth.select(col("group_id"), col("image_id").as("b"))
    val truthPairs = tl.join(tr, "group_id").filter(col("a") < col("b"))
      .select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(truthPairs.subsetOf(autoPairs),
      s"missed ${truthPairs.diff(autoPairs).size} truth pairs across the " +
        s"auto-resize boundary ($resizes resizes, final stateP $finalP)")
  }

  test("interrupted resize refuses ingest until re-run; re-run completes and clears the marker") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-resize-crash").toString
    val state = s"$root/state"
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 4, variantsPerGroup = 2, nDistractors = 4)
    val rows = images.localCheckpoint()
    StreamingDedup.processBatch(spark, rows, state, cfg,
      batchId = 0L, stateP = 8, compactEvery = 1)
    // simulate a crash mid-resize: the pending marker exists but
    // meta/state_p still holds the old modulus — SOME bases may already be
    // laid out under the new one, so ingesting at either modulus could
    // silently mis-prune
    val pending = new java.io.File(s"$state/meta/resize_pending")
    assert(pending.createNewFile())
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.processBatch(spark, rows, state, cfg,
        batchId = 1L, stateP = 8)
    }
    assert(e.getMessage.contains("resize"))
    // the advertised recovery: re-run the resize to completion — it force-
    // rewrites every base under the target modulus whatever a crashed
    // attempt left behind, then clears the marker
    StreamingDedup.resizeStateP(spark, state, 32)
    assert(!pending.exists())
    StreamingDedup.processBatch(spark, rows, state, cfg,
      batchId = 1L, stateP = 32)
  }

  test("pre-meta state (base dirs, no persisted stateP) is refused, not blindly adopted") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-premeta").toString
    val state = s"$root/state"
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 4, variantsPerGroup = 2, nDistractors = 4)
    val rows = images.localCheckpoint()
    StreamingDedup.processBatch(spark, rows, state, cfg,
      batchId = 0L, stateP = 16, compactEvery = 1)
    // state written by a version that did not persist the modulus: the
    // bases' p= layout is a function of an UNKNOWN stateP, so adopting
    // this run's value would mis-prune exactly like a mismatch
    val meta = new java.io.File(s"$state/meta/state_p")
    assert(meta.delete())
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.processBatch(spark, rows, state, cfg,
        batchId = 1L, stateP = 32)
    }
    assert(e.getMessage.contains("meta/state_p"))
    // the documented operator fix: restore the original value, then ingest
    java.nio.file.Files.write(meta.toPath, "16\n".getBytes("UTF-8"))
    StreamingDedup.processBatch(spark, rows, state, cfg,
      batchId = 1L, stateP = 16)
  }

  test("torn legacy batch (per-dir markers on some tables) cannot cap the label snapshot") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-torn").toString
    val state = s"$root/state"
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 6, variantsPerGroup = 2, nDistractors = 6)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(ids.length / 3 + 1).toSeq
    def ingest(chunk: Seq[String], id: Long): Unit =
      StreamingDedup.processBatch(spark,
        rows.filter(col("image_id").isin(chunk: _*)), state, cfg,
        batchId = id, stateP = 16, compactEvery = 100)
    ingest(chunks(0), 0L); ingest(chunks(1), 1L)
    StreamingDedup.clustersIncremental(spark, state)
    assert(new java.io.File(s"$state/labels/upto_1").isDirectory)
    ingest(chunks(2), 2L)
    // rewrite batch 2's commit as a TORN legacy batch: central marker gone,
    // per-dir _done on pairs only (the pre-unified protocol crashed between
    // per-table markers) — sigs/batch_2 exists but is uncommitted
    assert(new java.io.File(s"$state/commits/batch_2").delete())
    assert(new java.io.File(s"$state/pairs/batch_2/_done").createNewFile())
    StreamingDedup.clustersIncremental(spark, state)
    // the snapshot must NOT advance to 2: batch 2's sig rows are not yet
    // visible, and an upto_2 snapshot would make every later incremental
    // run (strictly-newer filter) skip them forever once they commit.
    // It must also not be RE-WRITTEN in place: overwriting the only
    // committed snapshot for zero progress opens a crash window that can
    // destroy it — the _done marker must survive untouched
    assert(new java.io.File(s"$state/labels/upto_1").isDirectory)
    assert(new java.io.File(s"$state/labels/upto_1/_done").exists(),
      "live snapshot was rewritten in place (commit marker cycled)")
    assert(!new java.io.File(s"$state/labels/upto_2").exists())
    // batch 2 commits properly (replay under the unified protocol)
    assert(new java.io.File(s"$state/commits/batch_2").createNewFile())
    val labels = StreamingDedup.clustersIncremental(spark, state)
    val labeled = labels.select("image_id").collect().map(_.getString(0)).toSet
    assert(ids.toSet.subsetOf(labeled),
      s"batch-2 ids missing from labels: ${ids.toSet.diff(labeled).size}")
    // and the incremental result equals the from-scratch recompute
    val full = StreamingDedup.clustersFromState(spark, state)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(labels.collect().map(r => (r.getString(0), r.getString(1))).toSet
      === full)
  }

  test("metrics are committed state: batch-atomic with the data tables, bounded by compaction") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-metrics").toString
    val state = s"$root/state"
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 4, variantsPerGroup = 2, nDistractors = 4)
    val rows = images.localCheckpoint()
    val ids = rows.select("image_id").collect().map(_.getString(0)).sorted
    val chunks = ids.grouped(4).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      StreamingDedup.processBatch(spark,
        rows.filter(col("image_id").isin(chunk.toSeq: _*)), state, cfg,
        batchId = i.toLong, metrics = true, stateP = 8, compactEvery = 2)
    }
    val m = StreamingDedup.metricsFromState(spark, state).orderBy("batch_id")
      .collect()
    assert(m.length == chunks.size) // compaction folds rows, loses none
    m.foreach { r =>
      val frac = r.getAs[Double]("touched_frac_idx")
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getAs[Int]("state_p") == 8)
      assert(r.getAs[Int]("recommended_p") >= 8) // never below the active value
      assert(r.getAs[Long]("batch_wall_ms") > 0L)
    }
    // an UNCOMMITTED batch (files written, marker withdrawn — the state a
    // crash mid-replay leaves) is invisible to the metrics reader
    val commits = new java.io.File(s"$state/commits")
    val marker = new java.io.File(commits, s"batch_${chunks.size - 1}")
    assert(marker.exists)
    marker.delete()
    val mAfter = StreamingDedup.metricsFromState(spark, state).count()
    assert(mAfter == chunks.size - 1,
      s"metrics reader saw $mAfter rows with the last batch uncommitted")
  }

  test("recommendedStateP scales with base size and never shrinks") {
    assert(StreamingDedup.recommendedStateP(0L, 64) == 64)
    assert(StreamingDedup.recommendedStateP(1L << 30, 8,
      targetBytes = 64L << 20) == 16)
    assert(StreamingDedup.recommendedStateP(1L << 30, 64,
      targetBytes = 64L << 20) == 64)
  }

  test("processBatch replay is idempotent (checkpoint-recovery safety)") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-replay").toString
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 5, variantsPerGroup = 2, nDistractors = 5)
    val batch = images.localCheckpoint()
    StreamingDedup.processBatch(spark, batch, s"$root/state", cfg)
    val once = StreamingDedup.clustersFromState(spark, s"$root/state")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // a replayed micro-batch appends duplicate state rows; dedup-at-read
    // must keep the clustering identical. Pair log grows, clusters do not.
    StreamingDedup.processBatch(spark, batch, s"$root/state", cfg)
    val twiceClusters = StreamingDedup.clustersFromState(spark, s"$root/state")
    // replay also duplicates signature rows -> dedupe ids for the compare
    val twice = twiceClusters.distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(twice === once)
  }

  test("exact front tier: byte-identical rows are dropped before featurize, cross- and intra-batch") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-exact").toString
    val state = s"$root/state"
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 6, variantsPerGroup = 2, nDistractors = 6)
    val base = images.localCheckpoint()
    StreamingDedup.processBatch(spark, base, state, cfg, batchId = 0L,
      metrics = true, stateP = 8)
    // batch 1: byte-identical copies of every batch-0 row (cross-batch
    // exact dups) plus two copies of one of them (intra-batch exact dup)
    val copies = base.withColumn("image_id", concat(col("image_id"), lit("~c")))
    val extra = copies.orderBy("image_id").limit(1)
      .withColumn("image_id", concat(col("image_id"), lit("2")))
    val b1 = copies.union(extra).localCheckpoint()
    StreamingDedup.processBatch(spark, b1, state, cfg, batchId = 1L,
      metrics = true, stateP = 8)

    // every copy was dropped by the exact tier: batch 1 contributed ZERO
    // signature/index rows (nothing decoded), and the metrics row says so
    val m = StreamingDedup.metricsFromState(spark, state)
      .orderBy("batch_id").collect()
    assert(m(1).getAs[Long]("new_rows") === 0L)
    assert(m(1).getAs[Long]("exact_dropped") === b1.count())
    // batch 0 drops exactly the corpus's own identical-RECORD rows (bytes
    // AND caption — a byte-identical paraphrase variant survives, its
    // caption drives edges) — intra-batch
    val distinctContents = base.select(
      graft.pipeline.TieredImageDedup.recordSha(col("bytes"), col("caption")))
      .distinct().count()
    assert(m(0).getAs[Long]("exact_dropped") === base.count() - distinctContents)
    assert(m(0).getAs[Long]("new_rows") === distinctContents)
    // ...yet clustering still places every copy with its original: the
    // exact pairs carry connectivity through the pair log
    val clusters = StreamingDedup.clustersFromState(spark, state)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    base.select("image_id").collect().map(_.getString(0)).foreach { id =>
      assert(clusters(s"$id~c") === clusters(id),
        s"copy of $id not co-clustered")
    }
    // the intra-batch duplicate (~c2) co-clusters with its original too
    val c2 = clusters.keys.find(_.endsWith("~c2")).get
    assert(clusters(c2) === clusters(c2.stripSuffix("~c2")))
    ()
  }

  test("in-place base rewrite heals a crash between the aside and commit renames") {
    val cfg = DedupConfig()
    val root = Files.createTempDirectory("graft-stream-heal").toString
    val state = s"$root/state"
    val (images, _) = SyntheticCorpus.generate(spark,
      nGroups = 5, variantsPerGroup = 2, nDistractors = 5)
    val part = pmod(crc32(col("image_id")), lit(2))
    StreamingDedup.processBatch(spark, images.filter(part === 0), state, cfg,
      batchId = 0L, stateP = 4, compactEvery = 1)
    StreamingDedup.processBatch(spark, images.filter(part === 1), state, cfg,
      batchId = 1L, stateP = 4, compactEvery = 1) // compaction -> bases exist
    val before = StreamingDedup.clustersFromState(spark, state)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    def baseDirOf(table: String): java.io.File =
      new java.io.File(s"$state/$table").listFiles
        .find(f => f.isDirectory && f.getName.startsWith("base_")).get
    // crash simulation A (forward heal): the _done new base sits in the
    // tmp slot, no visible base — exactly the window between the aside
    // rename and the commit rename
    val sigsBase = baseDirOf("sigs")
    assert(sigsBase.renameTo(
      new java.io.File(sigsBase.getParent, s".${sigsBase.getName}.tmp")))
    // crash simulation B (rollback): only the aside dir survives
    val pairsBase = baseDirOf("pairs")
    assert(pairsBase.renameTo(
      new java.io.File(pairsBase.getParent, s".${pairsBase.getName}.old")))

    // the simulated crash really hid both bases (readers ignore dotdirs)
    for (table <- Seq("sigs", "pairs"))
      assert(!new java.io.File(s"$state/$table").listFiles
        .exists(f => f.isDirectory && f.getName.startsWith("base_")),
        s"$table still has a visible base — simulation wrong")
    // resize routes every table through compactTable, which heals first
    StreamingDedup.resizeStateP(spark, state, 8)
    val after = StreamingDedup.clustersFromState(spark, state)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after === before)
    ()
  }

  test("streaming batch with early-overlapped writes: state identical to serial form semantics") {
    import graft.pipeline.DedupConfig
    val dir = java.nio.file.Files.createTempDirectory("r6stream").toString
    val (images, _) = graft.images.SyntheticCorpus.generate(spark, 6, 3, 4)
    val part = pmod(crc32(col("image_id")), lit(2))
    graft.streaming.StreamingDedup.processBatch(spark,
      images.filter(part === 0), dir, DedupConfig(), batchId = 0L, stateP = 4)
    graft.streaming.StreamingDedup.processBatch(spark,
      images.filter(part === 1), dir, DedupConfig(), batchId = 1L, stateP = 4)
    val streamed = graft.streaming.StreamingDedup.clustersFromState(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val batch = graft.pipeline.Dedup.run(images)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(streamed == batch)
  }
}
