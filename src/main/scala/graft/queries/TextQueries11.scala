package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.core.Tables
import graft.operators.Unigram

/** Text/corpus round 11 (round 15): the UNIGRAM-LM (SentencePiece-
  * style) tokenizer lane beside BPE (round-14 verdict #3) — EM-trained
  * piece probabilities, Viterbi apply, and the q212 packing machinery
  * re-run on real unigram piece counts. Algorithm, determinism and the
  * O(vocab)-not-O(corpus) scale argument live on
  * [[graft.operators.Unigram]].
  */
object TextQueries11 {

  private val VocabSize = 512

  /** ONE trained model per fixture dir, shared by q219 and q221 so
    * q221's build is a cache hit (the q217/q218 memo: training is
    * bit-deterministic, so sharing is semantically invisible).
    */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Unigram.Model]()
  private def sharedModel(
      s: org.apache.spark.sql.SparkSession, d: String): Unigram.Model =
    modelCache.computeIfAbsent(d, _ =>
      Unigram.train(Tables.documents(s, d), VocabSize))

  def queries: Seq[GraftQuery] = Seq(

    // ---- q219: unigram-LM train→apply end-to-end. The trained float
    //      probabilities cannot be replicated in static SQL (the q215/
    //      q217 situation), so the oracle is the reduced assertion with
    //      exact anchors: doc_id / n_tokens / n_chars replicated
    //      bit-for-bit by DuckDB, plus two pinned flags — the per-doc
    //      SANDWICH (n_tokens ≤ n_pieces ≤ n_chars: every token is at
    //      least one piece, every piece at least one char — violated by
    //      any lossy or degenerate segmentation) and the global
    //      COMPRESSION gate (Σ pieces / Σ chars < 0.5 vs measured 0.229
    //      at sf0.01 through sf1, UnigramProbe — a tokenizer that
    //      learned nothing segments at ratio 1.0). Exactness of
    //      apply∘train itself is pinned by UnigramSpec (analytic EM
    //      fixture, lossless round-trip incl. unseen code points,
    //      bit-identical driver/distributed lanes, prune contract). ----
    GraftQuery.staged(
      "q219_unigram_train_apply",
      sharedModel,
      (s, d, model: Unigram.Model) => {
        val docs = Tables.documents(s, d)
        val rep = Unigram.pieceReport(docs, model)
        val anchored = rep.join(
          docs.select(col("doc_id"),
            length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_chars")),
          "doc_id")
        val flag = anchored
          .agg((sum(col("n_pieces")) * lit(2L) < sum(col("n_chars"))).cast("long")
            .as("compress_ok"))
        anchored
          .select(col("doc_id"), col("n_tokens"), col("n_chars"),
            (col("n_tokens") <= col("n_pieces") && col("n_pieces") <= col("n_chars"))
              .cast("long").as("sandwich_ok"))
          .crossJoin(broadcast(flag))
      },
      Some("""
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
          CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_chars,
          CAST(1 AS BIGINT) AS sandwich_ok,
          CAST(1 AS BIGINT) AS compress_ok
        FROM documents
      """),
      doc = "Unigram-LM tokenizer: EM train + Viterbi apply, sandwich/compression reduced assertion"),

    // ---- q221: sequence packing in UNIGRAM pieces — q212's two-phase
    //      distributed prefix sum (per-(lang, bucket) subtotals, bucket
    //      offsets via the 1024×-smaller window, broadcast back) driven
    //      by the trained tokenizer's real piece counts. The bins
    //      depend on trained floats, so the oracle anchors what static
    //      SQL can know (per-lang doc counts) and `pack_ok` pins the
    //      scale machinery: the two-phase bins must equal the plain
    //      per-lang-window bins doc-for-doc, AND every lang's bins must
    //      be contiguous 0..max with doc counts conserved. ----
    GraftQuery.staged(
      "q221_unigram_packing",
      sharedModel,
      (s, d, model: Unigram.Model) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val counts = Unigram.pieceReport(docs, model)
          .select(col("doc_id"), col("n_pieces").as("nt"))
        val base = docs.select(col("doc_id"), col("lang")).join(counts, Seq("doc_id"))
          .withColumn("bkt", expr("doc_id div 1024"))
          .localCheckpoint()
        // two-phase prefix sum (the q212 shape)
        val b = base.groupBy(col("lang"), col("bkt")).agg(sum(col("nt")).as("bsum"))
        val wOff = Window.partitionBy(col("lang")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = b.select(col("lang"), col("bkt"),
          coalesce(sum(col("bsum")).over(wOff), lit(0L)).as("off"))
        val wIn = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val binned = base.join(broadcast(off), Seq("lang", "bkt"))
          .withColumn("cum_before",
            coalesce(sum(col("nt")).over(wIn), lit(0L)) + col("off"))
          .withColumn("bin", floor(col("cum_before") / 4096L).cast("long"))
        // the formulation two-phase replaces: one plain per-lang window
        val wPlain = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val plain = base
          .withColumn("bin_plain",
            floor(coalesce(sum(col("nt")).over(wPlain), lit(0L)) / 4096L).cast("long"))
          .select(col("doc_id"), col("bin_plain"))
        val perBin = binned.groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n_docs")).localCheckpoint()
        val contiguos = perBin.groupBy(col("lang"))
          .agg((count(lit(1)) === max(col("bin")) + 1).as("_contig"))
        val flag = binned.join(plain, "doc_id")
          .agg(min((col("bin") === col("bin_plain")).cast("long")).as("_same"))
          .crossJoin(contiguos.agg(min(col("_contig").cast("long")).as("_ctg")))
          .select((col("_same") === 1 && col("_ctg") === 1).cast("long").as("pack_ok"))
        perBin.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_docs"))
          .crossJoin(broadcast(flag))
      },
      Some("""
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(1 AS BIGINT) AS pack_ok
        FROM documents GROUP BY lang
      """),
      doc = "Sequence packing in unigram pieces: two-phase prefix sum pinned against the plain window")
  )
}
