package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.SQLExecution

/** The driver-lane gate of the operators that solve a small input
  * exactly on the driver and fall back to a distributed loop otherwise
  * (Components, KCore, LangId, QualityClassifier, Bpe, Unigram). Each
  * exposes its cap as `driverMaxRows`, counted in rows of its staged
  * input.
  *
  * A negative cap turns the lane off. Otherwise the staged frame is
  * counted first and collected only when `count <= cap`, so an
  * oversized input never reaches the driver. `staged` must be
  * checkpoint-backed (eager or lazy `localCheckpoint`): the count, the
  * collect and the caller's distributed lane all read it, so the
  * producer plan runs once.
  */
object DriverLane {

  /** All rows of `staged` if there are at most `cap`, else `None`. */
  def collectIfAtMost[T](staged: Dataset[T], cap: Long): Option[Array[T]] =
    if (cap >= 0 && rowCount(staged) <= cap) Some(staged.collect()) else None

  /** One job, where `Dataset.count`'s global aggregate runs as two
    * (map stage, final stage) under adaptive execution.
    */
  private def rowCount(staged: Dataset[_]): Long = {
    val qe = staged.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("count"))(qe.toRdd.count())
  }
}
