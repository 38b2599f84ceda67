package perfbench

import scala.collection.mutable

/** One timed operation of a workload's closed loop. */
final case class Op(name: String, seconds: Double, ok: Boolean)

object Op {
  /** Time `body`; a thrown failure is reported, counted, and yields None. */
  def time[A](body: => A): (Double, Option[A]) = {
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op failed: $e")
          None
      }
    ((System.nanoTime() - t0) / 1e9, out)
  }
}

/** A benchmark workload: repeatable input preparation, a warm-up on
  * other inputs, and rounds of timed ops.
  */
trait Workload {
  /** Make the seeded inputs and anything the ops need staged. */
  def prepare(): Unit
  /** Run the same code paths on separately seeded inputs. */
  def warmUp(): Unit
  /** One round of the closed loop. */
  def round(r: Int): Seq[Op]
  /** Check the outputs after the loop, outside any timer. */
  def finish(): Workload.Finish
}

object Workload {
  /** Offset that separates the warm-up's seed from the workload's. */
  val WarmSeed = 7919L

  /** Output mismatches and the bytes left at the destination. */
  final case class Finish(mismatches: Seq[String], storedBytes: Long)
}

/** Workload-specific per-layer counts, summed over the timed phase. */
object Layers {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def get(name: String): Double = sums.getOrElse(name, 0.0)
  def clear(): Unit = sums.clear()
}
