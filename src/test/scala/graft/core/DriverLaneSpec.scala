package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.functions.TextFunctions
import graft.operators._

/** The driver-lane gate, table-driven: the helper's boundary rows, then
  * every operator behind it giving the same answer one row either side
  * of its `driverMaxRows` cap (cap = n takes the driver lane, cap = n - 1
  * the distributed one, where n is the operator's staged row count).
  */
class DriverLaneSpec extends SparkTestBase {
  import DriverLaneSpec.Operator
  import spark.implicits._

  /** `body`'s value, the Spark jobs it started and the Dataset actions
    * (`count`, `collect`, …) it completed.
    */
  private def observed[A](body: => A): (A, Int, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val actions = new ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val actionListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        actions.add(funcName); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      val value = body
      ListenerBusBridge.drain(sc)
      (value, jobs.get, actions.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(actionListener)
    }
  }

  // ---- helper rows: (row, input size, cap, collected?) ----

  private val n = 5L
  private val helperRows = Seq(
    ("negative cap turns the lane off", n, -1L, false),
    ("cap 0, empty input", 0L, 0L, true),
    ("cap 0, non-empty input", n, 0L, false),
    ("cap n - 1", n, n - 1, false),
    ("cap n", n, n, true),
    ("cap n + 1", n, n + 1, true),
    ("cap Long.MaxValue", n, Long.MaxValue, true))

  for ((row, size, cap, collected) <- helperRows) {
    test(s"collectIfAtMost: $row") {
      val staged = spark.range(size).as[Long].localCheckpoint(true)
      val (got, jobs, actions) = observed(DriverLane.collectIfAtMost(staged, cap))
      if (collected) assert(got.map(_.sorted.toSeq) == Some(0L until size))
      else {
        assert(got.isEmpty)
        if (cap < 0) assert(jobs == 0 && actions.isEmpty, s"lane off ran $jobs jobs: $actions")
        else assert(jobs == 1 && actions == Seq("count"),
          s"over the gate: want one count job and no collect, got $jobs jobs: $actions")
      }
    }
  }

  // ---- operator rows: (operator, generated input, staged rows, run) ----

  private def pairs(maxId: Int): Gen[Seq[(Option[Long], Option[Long])]] = {
    val id = Gen.frequency(9 -> Gen.choose(0L, maxId.toLong).map(Some(_)), 1 -> Gen.const(None))
    Gen.choose(8, 40).flatMap(Gen.listOfN(_, Gen.zip(id, id)))
  }

  /** Words over `alphabet`, `minDocs` to 10 docs of 1-6 words each. */
  private def texts(alphabet: String, minDocs: Int): Gen[Seq[String]] = {
    val word = Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.oneOf(alphabet.toSeq)).map(_.mkString))
    val doc = Gen.choose(1, 6).flatMap(Gen.listOfN(_, word).map(_.mkString(" ")))
    Gen.choose(minDocs, 10).flatMap(Gen.listOfN(_, doc))
  }

  private def distinctWords(docs: DataFrame): Long =
    docs.select(explode(TextFunctions.tokens($"text"))).distinct().count()

  /** Two languages on disjoint alphabets, both present. */
  private val labeledTexts: Gen[DataFrame] =
    Gen.zip(texts("abcdefg", 2), texts("pqrstuv", 2)).map { case (a, b) =>
      (a.map("A" -> _) ++ b.map("B" -> _)).zipWithIndex
        .map { case ((l, t), i) => (i.toLong, l, t) }.toDF("doc_id", "lang", "text")
    }

  /** A corpus with a 6-letter word, so 3 merges never exhaust it. */
  private val corpus: Gen[DataFrame] =
    texts("abc", 1).map(ts => ("abcabc" +: ts).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))

  private val operators = Seq[Operator[_]](
    Operator[Seq[(Option[Long], Option[Long])]]("Components", pairs(30),
      ps => ps.count { case (a, b) => a.isDefined && b.isDefined }.toLong,
      (ps, cap) => Components.connectedComponents(ps.toDF("a", "b"), "a", "b",
        driverMaxRows = cap).as[(Long, Long)].collect().toMap),
    Operator[Seq[(Option[Long], Option[Long])]]("KCore", pairs(12),
      ps => ps.count { case (a, b) => a.isDefined && b.isDefined && a != b }.toLong,
      (ps, cap) => KCore.core(ps.toDF("a", "b"), "a", "b", k = 2,
        driverMaxRows = cap).as[(Long, Long)].collect().toMap),
    Operator[DataFrame]("LangId", labeledTexts,
      docs => LangId.features(docs, nBuckets = 64).count(),
      (docs, cap) => {
        val m = LangId.train(docs, "lang", nBuckets = 64, iters = 2, driverMaxRows = cap)
        (m.labels, m.weights.flatten.toSeq)
      }),
    Operator[DataFrame]("QualityClassifier",
      labeledTexts.map(_.withColumn("label", ($"lang" === "A").cast("long"))),
      docs => QualityClassifier.features(docs, nBuckets = 64).count(),
      (docs, cap) => QualityClassifier.train(docs, "label", nBuckets = 64, iters = 2,
        driverMaxRows = cap).weights.toSeq),
    Operator[DataFrame]("Bpe", corpus, distinctWords,
      (docs, cap) => Bpe.trainMerges(docs, 3, driverMaxRows = cap)),
    Operator[DataFrame]("Unigram", corpus, distinctWords,
      (docs, cap) => {
        val m = Unigram.train(docs, vocabSize = 8, maxPieceLen = 3, emRounds = 2,
          pruneAfter = 1, driverMaxRows = cap)
        (m.pieces.toSeq, m.logp.toSeq)
      }))

  /** Generated inputs per operator, from fixed seeds (reproducible). */
  private val samples = 3

  for (op <- operators) {
    test(s"${op.name}: driverMaxRows = n and n - 1 give identical results") {
      def check[I](o: Operator[I]): Unit =
        for (seed <- 1L to samples) {
          val input = o.gen.pureApply(Gen.Parameters.default, Seed(seed))
          val rows = o.stagedRows(input)
          val (driver, driverJobs, _) = observed(o.run(input, rows))
          val (distributed, distributedJobs, _) = observed(o.run(input, rows - 1))
          assert(driver == distributed, s"lanes diverge at n = $rows (seed $seed)")
          // the distributed lane launches more jobs than one collect;
          // equal counts would mean both runs took the same lane
          assert(driverJobs < distributedJobs,
            s"n = $rows is not the gate (seed $seed): $driverJobs vs $distributedJobs jobs")
        }
      check(op)
    }
  }

  test("graph operators: driverMaxRows = Long.MaxValue matches the default cap") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    def core(df: Dataset[_]) = df.as[(Long, Long)].collect().toMap
    assert(core(KCore.core(edges, "a", "b", k = 2, driverMaxRows = Long.MaxValue)) ==
      core(KCore.core(edges, "a", "b", k = 2)))
    assert(core(KCore.core(edges, "a", "b", k = 2)) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val components = core(Components.connectedComponents(edges, "a", "b"))
    assert(core(Components.connectedComponents(edges, "a", "b",
      driverMaxRows = Long.MaxValue)) == components)
    assert(components == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}

object DriverLaneSpec {

  /** `run(input, cap)` must fully evaluate its result (collect it). */
  private final case class Operator[I](
      name: String, gen: Gen[I], stagedRows: I => Long, run: (I, Long) => Any)
}
