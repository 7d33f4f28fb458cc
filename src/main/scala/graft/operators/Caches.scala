package graft.operators

import org.apache.spark.sql.Dataset

/** Registry of operator-persisted frames (shingle caches, iterative-loop
  * rank/label vectors) so harness entry points can release executor
  * memory once a query family is done (ADVICE r4: `hashedShingles`
  * stayed resident for the whole 80+-query bench session).
  *
  * Operators register every frame they `persist`; `graft.Bench` and
  * `graft.Probe` call `releaseAll()` before every timed pass, so each
  * pass times one full execution, and `graft.Verify` calls it at
  * shutdown. Releasing is safe at those points because every query's
  * terminal action has already run; within one pass the caches stay
  * shared — Spark's CacheManager dedups identical plans, so e.g. a
  * key's persisted frame serves both its range sampler and its sort.
  */
object Caches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val checkpoints = scala.collection.mutable.ArrayBuffer
    .empty[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]
  private val releaseHooks = scala.collection.mutable.ArrayBuffer
    .empty[() => Unit]

  /** Register a callback to run at every `releaseAll()` — for operator
    * MEMOS that hold a checkpoint-backed frame by strong reference
    * (e.g. the k-NN graph index in `Similarity.knnGraph`). The weak
    * checkpoint registry alone is not enough for those: the memo keeps
    * the backing RDD reachable, and after release the memoized frame's
    * blocks are unrecomputable, so the memo itself must be dropped at
    * the same harness boundary. The hook stays registered for the JVM's
    * lifetime (it clears a map; running it twice is a no-op). */
  private[graft] def onRelease(hook: () => Unit): Unit = synchronized {
    releaseHooks += hook
  }

  private[graft] def register[T <: Dataset[_]](df: T): T = synchronized {
    frames += df; df
  }

  /** Queue an eager `localCheckpoint` frame that ESCAPED to a caller
    * (e.g. `join_bloom`'s result) for release at the next
    * `releaseAll()`. Unlike [[releaseCheckpoint]], this is safe for
    * returned frames: the blocks are only dropped at a harness
    * boundary, where every query's terminal action has already run
    * (ADVICE r7: releasing the previous invocation's result on the
    * NEXT call could break a caller still holding it). Outside a
    * harness (e.g. a test JVM that never calls releaseAll) the queue
    * holds the checkpoint's backing RDD only WEAKLY (ADVICE r8: a
    * strong ref here would pin the blocks forever — ContextCleaner can
    * only reclaim them once the RDD object is unreachable). The weak
    * referent is the RDD, NOT the Dataset wrapper: callers typically
    * hold a DERIVED frame (e.g. the operator's `orderBy` view), which
    * keeps the RDD strongly reachable through its plan while the inner
    * Dataset object itself is garbage — an entry must stay releasable
    * exactly as long as any such view is alive. */
  private[graft] def registerCheckpoint[T <: Dataset[_]](df: T): T =
    synchronized {
      val rdds = df.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      // A frame with NO LogicalRDD is not a checkpoint: registering it
      // would silently void the release guarantee (ADVICE r9), so the
      // contract is fail-fast. Multi-checkpoint plans (e.g. a join of
      // two checkpointed sides) register EVERY backing RDD.
      require(rdds.nonEmpty,
        "registerCheckpoint: plan contains no LogicalRDD — frame is not " +
          "an eager (local)checkpoint, nothing would be released")
      rdds.foreach { rdd =>
        checkpoints +=
          new java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]](rdd)
      }
      df
    }

  def releaseAll(): Unit = synchronized {
    releaseHooks.foreach(_.apply())
    frames.foreach(_.unpersist(false))
    frames.clear()
    // entries already GC-cleared were reclaimed by ContextCleaner.
    // blocking=true: checkpoint blocks are UNRECOMPUTABLE, so release
    // must be a synchronous point of no return — an async removal
    // leaves a window where a re-read silently succeeds, turning the
    // documented fail-loudly contract (CheckpointContractSpec) into a
    // race.
    checkpoints.foreach(r => Option(r.get()).foreach(_.unpersist(true)))
    checkpoints.clear()
  }

  /** Release the storage blocks behind a SUPERSEDED eager
    * `localCheckpoint` frame (VERDICT r6 item 4). An eager local
    * checkpoint materializes the frame's rows as storage blocks; once
    * the iterative loops (connected components, PageRank) replace a
    * round's frame with the next, the old blocks are dead weight that
    * only ContextCleaner reclaims — at JVM GC time, so a long verify /
    * bench session accumulates rounds × blocks of executor storage.
    * `Dataset.unpersist` can't release them (CacheManager never knew
    * about a checkpoint), so this digs the backing RDD out of the
    * frame's `LogicalRDD` plan node and unpersists it directly.
    *
    * The frame must NEVER be read again after this call: the checkpoint
    * truncated its lineage, so the dropped blocks are unrecomputable —
    * only call on a round's frame after the NEXT round has materialized
    * (eager checkpoint) and never on the loop's final result. */
  private[graft] def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))
}
