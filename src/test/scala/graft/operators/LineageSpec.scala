package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

/** [[Lineage.release]] frees the checkpoint blocks an incremental
  * operator's result pins — the long-lived-driver hygiene contract —
  * and every operator that stages through [[Lineage.staging]] leaves
  * nothing registered once its result is released, or when it fails.
  */
class LineageSpec extends SparkTestBase {
  import spark.implicits._

  // track the specific RDD ids this test's operator registers, NOT a
  // global count: the session is shared across suites and the
  // ContextCleaner GC-drops earlier suites' abandoned blocks
  // ASYNCHRONOUSLY — a count comparison races those drops (observed as
  // a one-in-many-runs suite-order flake, r15)
  private def persistedIds =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release frees the checkpoint blocks an incremental dedup result pins") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely unrelated text with no overlap at all"))
      .toDF("doc_id", "text")
    val before = persistedIds
    val pairs = Dedup.minhashLshIncremental(corpus, batch, "doc_id", "text")
    assert(pairs.count() >= 1, "planted duplicate must match")
    val created = persistedIds -- before
    assert(created.nonEmpty,
      "the incremental path is expected to pin checkpoint blocks while live")
    Lineage.release(pairs)
    assert((created & persistedIds).isEmpty,
      "release must free every block the operator registered")
    // idempotent: releasing again is a no-op, not an error
    Lineage.release(pairs)
  }

  test("release on a checkpoint-free plan is a no-op") {
    val df = Seq(1, 2, 3).toDF("x")
    val before = persistedIds
    Lineage.release(df)
    assert((persistedIds -- before).isEmpty)
    assert(df.count() == 3, "a plain plan stays usable after release")
  }

  // ---- the staging lifecycle, one row per adopter ----

  /** Runs `body`. Returns its outcome, the ids of RDDs registered during
    * it that it also unpersisted, and those still registered. RDD ids
    * grow monotonically, so "registered during `body`" is "id above a
    * fresh id taken just before".
    */
  private def lifecycle(body: => Any): (Try[Any], Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    val floor = sc.emptyRDD[Int].id
    val freed = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (e.rddId > floor) { freed.add(e.rddId); () }
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val outcome = Try(body)
      ListenerBusBridge.drain(sc)
      (outcome, freed.asScala.toSet, persistedIds.filter(_ > floor))
    } finally sc.removeSparkListener(listener)
  }

  /** Consume a frame result, then release it as a caller must. */
  private def consume(df: DataFrame): Unit = {
    df.collect()
    Lineage.release(df, blocking = true)
  }

  private def edges(ps: Seq[(Long, Long)]): DataFrame = ps.toDF("a", "b")
  private def path(n: Long): DataFrame = edges((1L until n).map(i => (i, i + 1)))
  private val twoTriangles = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))

  private def docs(texts: String*): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  private def labeled: DataFrame =
    Seq((0L, "A", "abc abd bca"), (1L, "A", "cab bad"),
      (2L, "B", "pqr prq qrp"), (3L, "B", "rpq qqp")).toDF("doc_id", "lang", "text")

  private def embeddings: DataFrame = {
    val rnd = new scala.util.Random(7)
    Seq.tabulate(200)(i => (i.toLong, Seq.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
  }

  private val succeeding: Seq[(String, () => Any)] = Seq(
    "KCore driver lane" -> (() => consume(KCore.core(edges(twoTriangles), "a", "b", k = 2))),
    "KCore distributed" -> (() =>
      consume(KCore.core(edges(twoTriangles), "a", "b", k = 2, driverMaxRows = 0))),
    "Components driver lane" -> (() =>
      consume(Components.connectedComponents(path(6), "a", "b"))),
    "Components distributed" -> (() =>
      consume(Components.connectedComponents(path(6), "a", "b", driverMaxRows = -1))),
    // 9 rounds: the round-8 checkpoint is superseded inside the loop
    "LabelProp" -> (() => consume(LabelProp.propagate(path(6), rounds = 9, "a", "b"))),
    "PageRank" -> (() => consume(PageRank.ranks(
      PageRank.bothDirections(path(6).toDF("u", "v")), iters = 2))),
    "PageRank large-|V| branch" -> (() => consume(PageRank.ranks(
      PageRank.bothDirections(path(6).toDF("u", "v")), iters = 2, broadcastMaxVertices = 0))),
    "Similarity.knnGraph refinement" -> (() => consume(
      Similarity.knnGraph(embeddings, "vec_id", "embedding", k = 4, refineRounds = 1))),
    "Similarity.graphSearch" -> (() => {
      val emb = embeddings
      val graph = Similarity.knnGraph(emb, "vec_id", "embedding", k = 4)
      consume(Similarity.graphSearch(graph, emb, emb.where($"vec_id" < 3),
        "vec_id", "embedding", k = 5, beam = 8, rounds = 2, entryPoints = 2))
      Lineage.release(graph, blocking = true)
    }),
    "Bpe driver lane" -> (() => Bpe.trainMerges(docs("abcabc", "abab"), 3)),
    "Bpe distributed" -> (() =>
      Bpe.trainMerges(docs("abcabc", "abab"), 3, driverMaxRows = -1)),
    "Unigram" -> (() => Unigram.train(docs("abcabc", "abab"), vocabSize = 8,
      maxPieceLen = 3, emRounds = 2, pruneAfter = 1)),
    "LangId" -> (() => LangId.train(labeled, "lang", nBuckets = 64, iters = 2)),
    "QualityClassifier" -> (() => QualityClassifier.train(
      labeled.withColumn("label", ($"lang" === "A").cast("long")), "label",
      nBuckets = 64, iters = 2)))

  for ((name, run) <- succeeding) {
    test(s"staging, $name: released result leaves nothing registered") {
      val (outcome, freed, live) = lifecycle(run())
      outcome.get
      assert(live.isEmpty, s"still registered after release: $live")
      assert(freed.nonEmpty, "the call was expected to stage checkpoints")
    }
  }

  /** (adopter, whether it stages before failing, a call that fails) */
  private val failing: Seq[(String, Boolean, () => Any)] = Seq(
    ("KCore", true, () => KCore.core(path(6), "a", "b", k = 2,
      maxIter = 1, driverMaxRows = 0)),
    ("Components", true, () => Components.connectedComponents(path(40), "a", "b",
      maxIter = 1, driverMaxRows = -1)),
    ("Bpe", true, () => Bpe.trainMerges(docs("ab"), nMerges = 5, driverMaxRows = -1)),
    ("Unigram", true, () => Unigram.train(docs("abc abc"), vocabSize = 2)),
    ("PageRank", true, () => PageRank.ranks(Seq.empty[(Long, Long)].toDF("src", "dst"), 1)),
    ("LangId", false, () => LangId.train(
      Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text"), "lang")))

  for ((name, stages, run) <- failing) {
    test(s"staging, $name: a failed call leaves nothing registered") {
      val (outcome, freed, live) = lifecycle(run())
      assert(outcome.isFailure, s"expected the call to fail, got $outcome")
      assert(live.isEmpty, s"still registered after the failure: $live")
      if (stages) assert(freed.nonEmpty, "the call was expected to stage before failing")
    }
  }
}
