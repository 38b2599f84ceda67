package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for localCheckpoint-backed plans.
  *
  * `Dataset.unpersist` only covers CacheManager entries; a
  * localCheckpoint's data lives in the RDD its LogicalRDD wraps, so
  * frames returned by the iterative/incremental operators (which
  * checkpoint internally — [[KCore]], [[Components]],
  * [[Dedup.minhashLshIncremental]]) pin block-manager storage until
  * the SparkContext dies. Batch jobs don't care; a LONG-LIVED driver
  * (streaming ingest loop, query service) must release what it has
  * finished consuming or storage grows with every call.
  *
  * The lifecycle contract of every operator that checkpoints
  * internally:
  *  - its intermediates are staged through one [[staging]] scope, which
  *    frees all of them if the call fails, and on success every one the
  *    returned plan does not reference;
  *  - a superseded intermediate (a loop's previous round) is freed the
  *    moment its successor materializes, not at scope exit, so storage
  *    stays bounded by one round rather than rounds × round size;
  *  - what the result still references is the caller's to free with
  *    [[release]] once the result is consumed.
  *
  * [[release]] walks a plan and unpersists every checkpoint it
  * references. After it, the frame is UNRECOMPUTABLE (checkpointing
  * truncated the lineage that could have rebuilt it) — call it only
  * once the result is consumed (collected / written), on a frame no
  * other live plan shares.
  */
object Lineage {

  /** Unpersist every localCheckpoint block the plan of `df` references.
    * Idempotent; safe on plans with no checkpoints.
    *
    * `blocking = true` waits for block deletion — use it when the next
    * thing on this host is latency-sensitive (a bench loop): an async
    * release overlaps its deletion I/O with whatever runs next.
    */
  def release(df: Dataset[_], blocking: Boolean = false): Unit =
    rdds(df).foreach(_.unpersist(blocking = blocking))

  /** Eagerly checkpoint `ds`, then release the checkpoint blocks its
    * OWN plan staged — they are superseded the moment the new
    * checkpoint materializes, but the truncation also hides them from
    * any later `release` (the plan that referenced them is gone). This
    * is the correct way to re-stage an operator result whose internals
    * already checkpointed (the q55/q36 shape: `minhashLsh(...)
    * .localCheckpoint(true)` orphaned the operator's shingle/band
    * stages — observed as bench leaks); callers must not reuse the
    * ORIGINAL frame afterwards.
    */
  def rebase[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint(true)
    release(ds)
    cp
  }

  /** Run `body` with a scope that owns the frames it tracks (see the
    * object doc for the contract). If `body` throws, every tracked frame
    * is released before the exception propagates. If it returns, every
    * tracked frame whose checkpoint the result's plan does not reference
    * is released; "references" compares the RDDs the LogicalRDDs wrap,
    * so a frame rebuilt on a checkpoint's RDD counts as that checkpoint.
    * A result that is not a Dataset references nothing.
    *
    * `body` must not `return` from the enclosing method: a non-local
    * return unwinds as an exception, which releases everything.
    */
  def staging[R](body: Staging => R): R = {
    val st = new Staging
    val result =
      try body(st)
      catch { case t: Throwable => st.close(Set.empty); throw t }
    st.close(result match {
      case ds: Dataset[_] => rdds(ds).map(_.id).toSet
      case _              => Set.empty
    })
    result
  }

  /** The frames one [[staging]] scope will release. */
  final class Staging private[Lineage] {
    private var tracked = List.empty[Dataset[_]]

    /** Track `ds` (checkpoint-backed, or a plan over checkpoints) and return it. */
    def apply[T](ds: Dataset[T]): Dataset[T] = { tracked ::= ds; ds }

    /** Release a superseded frame now and stop tracking it. */
    def drop(ds: Dataset[_]): Unit = {
      tracked = tracked.filterNot(_ eq ds)
      release(ds)
    }

    private[Lineage] def close(keep: Set[Int]): Unit =
      tracked.flatMap(rdds).filterNot(r => keep(r.id)).foreach(_.unpersist(blocking = false))
  }

  private def rdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
