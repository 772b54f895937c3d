package graft.core

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Explicit lifetime management for `localCheckpoint` blocks.
  *
  * `Dataset.localCheckpoint()` persists the materialized partitions in the
  * block manager and TRUNCATES lineage — the blocks are not recomputable, and
  * `Dataset.unpersist` does not release them (it only talks to the cache
  * manager). The ContextCleaner frees a checkpoint only after a driver GC
  * notices the RDD is unreachable, which in a long-lived session (a bench
  * sweep, a streaming job, a notebook) means every operator's checkpointed
  * intermediates accumulate in storage until memory pressure degrades
  * unrelated queries (round-4 verdict #1: 17-25× slowdowns on
  * broadcast-heavy queries after 30+ queries' blocks piled up).
  *
  * Contract used across the library:
  *  - operators that checkpoint INTERMEDIATES run in a scope ([[scoped]] /
  *    [[scopedSeq]] / [[scopedUnit]]) and route every internal checkpoint
  *    through [[ckpt]]. A scope releases EXACTLY the blocks its body
  *    created — ownership is tracked per checkpoint call, never inferred
  *    from a before/after diff of the context's persistent-RDD registry,
  *    because on a shared SparkContext a diff would sweep frames a
  *    CONCURRENT caller checkpointed during the window (truncated lineage
  *    makes that an unrecoverable SparkException for the other thread, not
  *    a recompute). Scopes nest: an inner operator's kept results are
  *    handed to the enclosing scope, so a streaming batch releases the
  *    operators it composes at batch end.
  *  - drivers that run many queries in one session ([[graft.Bench]],
  *    [[graft.Verify]]) additionally [[sweep]] after each query's action, so
  *    even result checkpoints never outlive the query that produced them.
  *    The blanket diff-sweep is a DRIVER-MAIN tool only (single-threaded
  *    process that owns the whole session); operators must use scopes.
  *  - jobs overlap only through [[parallelRun]] / [[par2]]: they carry the
  *    caller's scope to the bodies, run them on this object's own
  *    job-submission pool, and drain every body before a failure leaves.
  */
object Checkpoints {

  /** Ids of the persistent RDDs currently registered with the context. */
  def snapshot(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The persisted RDD id backing `df` when its plan IS a local checkpoint
    * (a `LogicalRDD` over a persisted RDD); None for any other plan. */
  def checkpointRddId(df: DataFrame): Option[Int] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getStorageLevel.isValid => Some(lr.rdd.id)
      case _ => None
    }

  /** Release the persisted blocks behind local-checkpoint frames. No-op for
    * non-checkpoint plans. Callers must not evaluate a released frame again:
    * checkpoint lineage is truncated, so the blocks are gone for good. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      df.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false); ()
        case _ => ()
      }
    }

  /** Unpersist every persistent RDD registered since `before`, except
    * `keep`. Returns how many were released. DRIVER-MAIN ONLY (Bench,
    * Verify, one-shot probe tools): the diff cannot tell this caller's
    * blocks from a concurrent thread's, so it is only safe in a
    * single-threaded process that owns the whole session. Operators use
    * [[scoped]]/[[scopedSeq]]/[[scopedUnit]] instead. */
  def sweep(spark: SparkSession, before: Set[Int],
      keep: Set[Int] = Set.empty): Int = {
    val now = spark.sparkContext.getPersistentRDDs
    var n = 0
    now.foreach { case (id, rdd) =>
      if (!before.contains(id) && !keep.contains(id)) {
        rdd.unpersist(blocking = false)
        n += 1
      }
    }
    n
  }

  // ---- exact-ownership scopes ----

  private final class Scope {
    val owned = scala.collection.mutable.LinkedHashSet.empty[Int]
    def add(id: Int): Unit = synchronized { owned += id; () }
    def snapshotIds: Seq[Int] = synchronized { owned.toSeq }
  }

  /** The innermost active scope on THIS thread. Thread-local by
    * construction (operators plan and materialize on the calling thread),
    * so concurrent operators on a shared context each see only their own
    * scope. */
  private val current = new scala.util.DynamicVariable[Option[Scope]](None)

  /** `df.localCheckpoint()`, with the resulting block set registered to the
    * active scope (outside any scope the checkpoint is caller-managed, as
    * with a raw `localCheckpoint`). Every operator-internal checkpoint goes
    * through here so scope sweeps release exactly what the operator
    * created. */
  def ckpt(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    for (s <- current.value; id <- checkpointRddId(out)) s.add(id)
    out
  }

  private def releaseIds(spark: SparkSession, ids: Iterable[Int]): Int = {
    val live = spark.sparkContext.getPersistentRDDs
    var n = 0
    ids.foreach { id =>
      live.get(id).foreach { rdd => rdd.unpersist(blocking = false); n += 1 }
    }
    n
  }

  /** Run `body` in its own checkpoint scope: the result is eagerly
    * materialized (checkpointed if it is not one already), every OTHER
    * block the body [[ckpt]]ed is released, and the kept block is handed to
    * the enclosing scope (if any) so nested operators compose. A long-lived
    * caller releases the returned frame via [[release]] (or a driver-level
    * [[sweep]]) when done. */
  def scoped(spark: SparkSession)(body: => DataFrame): DataFrame =
    scopedSeq(spark)(Seq(body)).head

  /** [[scoped]] for operators returning several result frames. */
  def scopedSeq(spark: SparkSession)(body: => Seq[DataFrame]): Seq[DataFrame] = {
    val scope = new Scope
    var kept = Set.empty[Int]
    try {
      val outs = current.withValue(Some(scope))(body).map { df =>
        if (checkpointRddId(df).isDefined) df
        else current.withValue(Some(scope))(ckpt(df))
      }
      kept = outs.flatMap(checkpointRddId).toSet
      // kept blocks outlive this scope: the parent scope (if any) owns them
      current.value.foreach(p => kept.foreach(p.add))
      outs
    } finally {
      releaseIds(spark, scope.snapshotIds.filterNot(kept.contains)); ()
    }
  }

  /** A scope that keeps NOTHING: for bodies whose results are on disk by
    * the end (a streaming micro-batch's state writes). Sweeps everything
    * the body [[ckpt]]ed, also on exception. */
  def scopedUnit(spark: SparkSession)(body: => Unit): Unit = {
    val scope = new Scope
    try current.withValue(Some(scope))(body)
    finally { releaseIds(spark, scope.snapshotIds); () }
  }

  /** [[parallelRun]]'s job-submission threads: a cached pool of daemon
    * threads, never shut down. A body holds its thread while its Spark
    * actions run (Spark waits on a job without `blocking {}`, so a
    * fork-join pool adds no thread for it) and bodies nest (a [[par2]]
    * inside a [[parallelRun]] body), so a fixed-width pool (the global one
    * has one worker per core) serializes the overlap or, nested, waits on
    * itself. It is not capped: the program's bodies set its width (at most
    * seven at one level, the table folds); idle threads exit after 60 s. */
  private lazy val jobPool: ExecutionContext = {
    val factory = new ThreadFactory {
      private val n = new AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-parallel-run-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    ExecutionContext.fromExecutorService(Executors.newCachedThreadPool(factory))
  }

  /** Run independent materializations CONCURRENTLY inside the calling
    * thread's checkpoint scope (guide §2.6: Spark's scheduler happily runs
    * several jobs at once; serial driver calls leave the tail of each job's
    * stage idle). The active scope is propagated to the worker threads —
    * `ckpt` calls made by any body register to the SAME scope as the
    * caller's, so scoped release semantics are identical to running the
    * bodies serially. Bodies must be independent (no body may consume
    * another's result). Every body runs to its end before this returns or
    * throws — a failed body never leaves a sibling still submitting jobs
    * against blocks the caller's scope is about to release — and the first
    * failure in body order is rethrown. An interrupt of the caller (a
    * stopped streaming query) is held until the bodies are done, then
    * restored. */
  def parallelRun[A](bodies: Seq[() => A]): Seq[A] = {
    if (bodies.lengthCompare(1) <= 0) return bodies.map(_())
    val scope = current.value
    // capture every Throwable: a Future never completes on a fatal one
    // (the drain would hang) and boxes other Errors
    val runs = bodies.map(b => Future(
      try Right(current.withValue(scope)(b()))
      catch { case t: Throwable => Left(t) })(jobPool))
    var interrupted = false
    runs.foreach { r =>
      while (!r.isCompleted)
        try Await.ready(r, Duration.Inf)
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    runs.map(_.value.get.get.fold(t => throw t, identity))
  }

  /** Two-body [[parallelRun]] with heterogeneous result types. */
  def par2[A, B](fa: () => A, fb: () => B): (A, B) = {
    val r = parallelRun[Any](Seq(fa, fb))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
