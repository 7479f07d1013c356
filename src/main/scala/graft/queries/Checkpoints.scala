package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Explicit lifecycle for RETIRED `localCheckpoint` blocks (round 15).
  *
  * Why this exists: a `localCheckpoint()` pins its partitions in the
  * executors' block store (MEMORY_AND_DISK) until the backing RDD is
  * garbage-collected on the DRIVER and the ContextCleaner gets around
  * to it. With a 100+-GiB driver heap, full GCs are rare — so every
  * per-call transient checkpoint (ANN scoring passes, Lloyd-iteration
  * codebooks, label-propagation iterates) ACCUMULATES across a long
  * session. The round-14 bench measured exactly that shape: q170's
  * in-suite passes degraded 11→41→39 s across the run while its
  * isolated probe stayed at ~5 s — storage-memory pressure from
  * retired blocks, not the query's own work. The memoized frames
  * (one per (session, dir)) are bounded by design; the per-call
  * transients were not. This object gives them a deterministic
  * lifecycle instead of a GC-timing-dependent one.
  *
  * CONTRACT: `free(df)` destroys the checkpoint — a localCheckpoint
  * has no lineage to recompute from, so the caller must guarantee
  * nothing will read `df` (or any plan built on it) again. Use it for
  * iterates superseded inside a loop and for scratch frames whose
  * consumers have all run. For transients that the RETURNED plan still
  * references (an ANN scoring pass feeding the emitted top-k), use
  * [[retireSwap]]: the blocks stay live until the SAME operator runs
  * again, by which point the previous invocation's result has been
  * consumed (queries are build-then-consume, sequentially, in the
  * bench, the verify dump, and the engine serve paths alike).
  */
private[graft] object Checkpoints {

  /** Unpersist the checkpointed RDD blocks behind `df` — see the
    * CONTRACT above. Safe on non-checkpoint frames (no LogicalRDD
    * leaves → no-op) and best-effort by design (a failure to free is
    * the pre-round-15 status quo, never worth failing a query over).
    */
  def free(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
    catch { case scala.util.control.NonFatal(_) => () }

  private val pool = TrieMap.empty[(SparkSession, String), Seq[DataFrame]]

  /** ONE-GENERATION transient policy: register this invocation's
    * transient checkpoints under `key`, freeing the PREVIOUS
    * invocation's. Bench pass N+1 thereby reclaims pass N's scoring
    * blocks instead of letting three passes (× every ANN query)
    * accumulate. Callers must consume an operator's result before
    * invoking the same operator again — the repo-wide sequential
    * build-then-consume discipline.
    */
  def retireSwap(s: SparkSession, key: String, dfs: DataFrame*): Unit = {
    pool.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(pool.remove)
    pool.put((s, key), dfs.toSeq).foreach(_.foreach(free))
  }

  /** SCALE-SAFE ordered output for per-document results (round 17).
    *
    * The round-16 shape was `repartition(1).sortWithinPartitions(...)`:
    * it fixed the real diagnosis — a global `orderBy` range-partitions,
    * and RangePartitioner SAMPLES its child, re-executing the heavy
    * regex/array/join stage a second time per run (guide §1.4/§2.4) —
    * but funneled the entire result through ONE task, and per-document
    * output is corpus-sized at the 100 TB target.
    *
    * This keeps both properties without the funnel: the heavy child is
    * LAZILY localCheckpointed, so the first action (the range sort's
    * sampling pass) materializes it ONCE and the sort itself re-reads
    * the stored blocks — heavy stage executed once, sort fully PARALLEL
    * (Exchange rangepartitioning + Sort in the plan, one task per range).
    * Blocks ride the one-generation [[retireSwap]] pool under `key`: the
    * next invocation of the same operator frees this one's blocks after
    * its result has been consumed (the repo-wide build-then-consume
    * discipline), so the bench's three passes hold one generation live.
    *
    * LIFETIME (build, then consume): the returned DataFrame is valid
    * until the NEXT call with the same `key` in the same session. That
    * call frees its checkpoint blocks, so a caller that keeps a handle
    * and collects it again after a newer run of the same query fails.
    * The public results routed here (q50, q52, q159, q165, q176) are to
    * be consumed once; a caller that needs the rows later collects or
    * persists them itself.
    */
  def sortedOnce(s: SparkSession, key: String, df: DataFrame)(
      cols: Column*): DataFrame = {
    val cp = df.localCheckpoint(false)
    retireSwap(s, key, cp)
    cp.orderBy(cols: _*)
  }
}
