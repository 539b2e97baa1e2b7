package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.graft.BlockRelease

/** Tracked `localCheckpoint` — the engine's fix for the classic Spark
  * iterative-pipeline leak: `Dataset.localCheckpoint` persists its blocks
  * in the block manager, there is no Dataset-level `unpersist` for them,
  * and a long-lived session (the streaming service shape this engine
  * ships) accumulates corpus-sized blocks until eviction thrash or OOM.
  *
  * Every operator checkpoint goes through [[cp]], which registers the
  * checkpointed RDD in a session-global ledger; the query RUNNER
  * (Verify / Bench / a user's query loop) calls [[release]] after each
  * terminal action, freeing every intermediate the build pinned.
  * Iterative operators (k-means, star contraction, label propagation,
  * BPE rounds) additionally call [[drop]] on iteration i's checkpoint as
  * soon as iteration i+1 is materialized — per-superstep blocks never
  * outlive two iterations even WITHIN a build.
  *
  * Block removal goes through [[BlockRelease]] (the same internal
  * `SparkContext.unpersistRDD` that `RDD.unpersist` delegates to) rather
  * than `RDD.unpersist`, for two measured reasons:
  *
  *  - `RDD.unpersist` WARNs unconditionally on every locally-checkpointed
  *    RDD ("cannot be recomputed after unpersisting") — hundreds of scare
  *    lines per bench run for frees that are the ledger's entire design;
  *  - `RDD.unpersist` zeroes the RDD's storageLevel, so releasing a LAZY
  *    checkpoint before its first action leaves it unable to materialize.
  *    Via the shim, an unmaterialized checkpoint's release is a pure
  *    bookkeeping no-op (no blocks exist) and the frame stays usable —
  *    release-before-materialize is safe by construction (CheckpointSpec
  *    pins this).
  *
  * [[release]] frees with `blocking = true`: it runs runner-side, outside
  * any timed region, and waiting for removal means the next build starts
  * against actually-free memory instead of racing an async removal
  * backlog (round-5 bench showed late-session reps degrading 7× under
  * the async backlog). In-loop [[drop]] keeps `blocking = false` — it
  * sits inside the timed build, and per-superstep blocks are small.
  *
  * Safety: releasing a materialized localCheckpoint destroys the only
  * copy (the lineage is truncated by design), so [[release]] must only
  * run when no un-executed DataFrame still references the blocks — i.e.
  * between queries, not between actions of one query. Builds re-run from
  * scratch per rep in Bench, so per-rep release is sound there too. The
  * test JVM runs suites sequentially (sbt forked, non-parallel), so the
  * global ledger cannot drop a concurrent suite's live blocks.
  *
  * At 100 TB: the ledger holds RDD handles, not data — O(#checkpoints)
  * driver memory; block removal is the same RPC fan-out Spark's
  * ContextCleaner pays.
  */
object Checkpoints {

  private val ledger = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

  /** The innermost open [[scope]] of the calling thread, if any. */
  private val openScope = new ThreadLocal[Option[scala.collection.mutable.Buffer[RDD[_]]]] {
    override def initialValue() = None
  }

  /** The checkpointed RDD backing a just-checkpointed Dataset (its
    * analyzed plan is the LogicalRDD leaf `localCheckpoint` produced).
    */
  private def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** `df.localCheckpoint(eager)` + ledger registration. Drop-in
    * replacement for every raw `localCheckpoint` in the engine. Inside a
    * [[scope]] on the calling thread the scope holds the checkpoint
    * instead of the session-global ledger.
    */
  def cp(df: DataFrame, eager: Boolean = true): DataFrame = {
    val out = df.localCheckpoint(eager)
    rddOf(out).foreach { r =>
      openScope.get match {
        case Some(held) => held += r
        case None => ledger.add(r)
      }
    }
    out
  }

  /** Run `body` and free every checkpoint [[cp]] took on this thread
    * while it ran — operators' internal ones included — when it returns
    * or throws. The unit of work is one streaming micro-batch (load,
    * ingest, commit): its checkpoints live exactly as long as the commit,
    * so a long-running stream holds no blocks for the files it already
    * drained. Held by the scope, not the global ledger, so a runner's
    * [[release]] cannot destroy an in-flight batch's only copy (the
    * [[cpScoped]] rationale). `body` must not return a frame that reads a
    * checkpoint taken inside it. Scopes nest; each frees its own.
    */
  def scope[T](body: => T): T = {
    val outer = openScope.get
    val mine = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    openScope.set(Some(mine))
    try body
    finally {
      openScope.set(outer)
      mine.foreach(r => BlockRelease.unpersist(r.sparkContext, r.id, blocking = false))
    }
  }

  /** Free the blocks behind a checkpointed DataFrame that no live plan
    * needs anymore (iterative loops: the previous superstep, once the
    * next is eagerly materialized). No-op on non-checkpointed inputs.
    * Async: called inside timed builds, where waiting on removal RPCs
    * would bill block-manager latency to the query.
    */
  def drop(df: DataFrame): Unit = rddOf(df).foreach { r =>
    ledger.remove(r)
    BlockRelease.unpersist(r.sparkContext, r.id, blocking = false)
  }

  /** Remove a checkpointed DataFrame from the ledger WITHOUT freeing its
    * blocks — for deliberately session-lifetime results (the memoized
    * k-means centroid table: 20×64 doubles, bounded by construction).
    * Anything untracked must be bounded state; corpus-sized frames stay
    * ledgered.
    */
  def untrack(df: DataFrame): Unit = rddOf(df).foreach(ledger.remove)

  /** Whether a checkpointed DataFrame's blocks are still persisted —
    * caches handing out session-lifetime checkpoints must verify this on
    * every hit (anything may sweep the block manager between builds) and
    * rebuild on a dead entry instead of serving a frame that will throw
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND at execution. Fails CLOSED: a
    * frame whose plan is not a checkpoint leaf (nothing to verify) is
    * reported not-live, so a cache guard forces a rebuild instead of
    * vacuously trusting an unverifiable entry.
    */
  def isLive(df: DataFrame): Boolean = rddOf(df).exists(
    r => BlockRelease.isPersisted(r.sparkContext, r.id))

  /** Release every ledgered checkpoint's blocks. Call between queries —
    * after the terminal action, before the next build. Blocking: runs
    * outside any timed region, and returning only after removal completes
    * is what keeps rep-over-rep timings flat in a long session (no async
    * removal backlog shadowing the next build).
    */
  def release(): Unit = {
    var r = ledger.poll()
    while (r != null) {
      BlockRelease.unpersist(r.sparkContext, r.id, blocking = true)
      r = ledger.poll()
    }
  }

  /** Number of currently-ledgered checkpoints (spec probe). */
  def pending: Int = ledger.size()

  /** Checkpoint WITHOUT ledger registration — for scopes that free their
    * own blocks via [[drop]] before returning (the streaming foreachBatch
    * gates). Keeping these out of the session-global ledger means a
    * runner thread calling [[release]] mid-micro-batch cannot destroy an
    * in-flight batch's only copy: the global queue only ever holds
    * build-scoped checkpoints whose lifetime the runner owns.
    */
  def cpScoped(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)

  /** Postfix syntax so operator code reads like the raw API it replaces:
    * `df.trackedCheckpoint()` ≡ ledgered `df.localCheckpoint()`;
    * `df.scopedCheckpoint()` ≡ self-managed (caller must [[drop]]).
    */
  implicit class TrackedCheckpointOps(private val df: DataFrame)
      extends AnyVal {
    def trackedCheckpoint(eager: Boolean = true): DataFrame =
      Checkpoints.cp(df, eager)
    def scopedCheckpoint(eager: Boolean = true): DataFrame =
      Checkpoints.cpScoped(df, eager)
  }
}
