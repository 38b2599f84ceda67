package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.operators.LangId

/** Text/corpus round 10 (round 14): TRAINED language identification
  * (round-13 verdict #6) — the production LID lane replacing the q32
  * marker heuristic in the corpus-prep chain — and the q85 funnel
  * re-run on its PREDICTIONS.
  *
  * The fixture corpus carries no real language signal (its `lang`
  * column labels identically-distributed English-vocabulary text), so
  * both queries PLANT a deterministic multilingual corpus: each doc's
  * real fixture text is mapped through a per-class alphabet bijection
  * (`translate` — Latin → Greek/Cyrillic/Hiragana, class = doc_id % 4,
  * shared verbatim with DuckDB). Orthography is exactly what character
  * n-gram LID keys on, token/shingle/fingerprint structure is
  * preserved (the map is injective per class), and the real text tail
  * keeps the feature distribution honest.
  */
object TextQueries10 {

  private val Latin = "abcdefghijklmnopqrstuvwxyz"
  // exactly 26 single-code-point letters each (spec-pinned): a 1:1
  // translate() bijection per class, so token boundaries, distinct
  // counts and cross-doc gram equality survive the planting
  private[graft] val Greek = "αβγδεζηθικλμνξοπρστυφχψωάέ"
  private[graft] val Cyrillic = "абвгдежзийклмнопрстуфхцчшщ"
  private[graft] val Hiragana = "あいうえおかきくけこさしすせそたちつてとなにぬねのは"

  private def cls = pmod(col("doc_id"), lit(4L))

  /** Planted text, Spark side (lowercased first — the bijection is
    * over the lowercase alphabet).
    */
  private[graft] def plantedText: Column =
    when(cls === 1, translate(lower(col("text")), Latin, Greek))
      .when(cls === 2, translate(lower(col("text")), Latin, Cyrillic))
      .when(cls === 3, translate(lower(col("text")), Latin, Hiragana))
      .otherwise(lower(col("text")))

  private def langTrue: Column = concat(lit("L"), cls.cast("string"))

  /** The planted corpus as a DuckDB CTE `planted(doc_id, lang_true,
    * text)` — the SQL mirror of [[plantedText]].
    */
  private val PlantedCte = s"""
    planted AS (
      SELECT doc_id, 'L' || CAST(doc_id % 4 AS VARCHAR) AS lang_true,
        CASE doc_id % 4
          WHEN 1 THEN translate(lower(text), '$Latin', '$Greek')
          WHEN 2 THEN translate(lower(text), '$Latin', '$Cyrillic')
          WHEN 3 THEN translate(lower(text), '$Latin', '$Hiragana')
          ELSE lower(text) END AS text
      FROM documents)"""

  /** The planted corpus projection (cheap — one select over the scan). */
  private def planted(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), langTrue.as("lang_true"), plantedText.as("text"))

  /** ONE trained model per fixture dir, shared by q217 and q218
    * (round-14 verdict #2: q218 was retraining the exact model q217
    * had just trained), so q218's build is a cache hit. The model is
    * plain driver data (a weight array) and training is
    * bit-deterministic (LangIdSpec), so the memo is semantically
    * invisible.
    */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, LangId.Model]()
  private def sharedModel(
      s: org.apache.spark.sql.SparkSession, d: String): LangId.Model =
    modelCache.computeIfAbsent(d, _ =>
      LangId.train(planted(s, d).where(col("doc_id") % 5 === 0), "lang_true"))

  /** Train on the 20% labeled slice (doc_id % 5 = 0) — the production
    * shape: labeled LID data is a curated subset, the corpus-sized
    * pass is scoring. Holdout accuracy (over ALL docs, 80% unseen) is
    * what the gates below measure.
    *
    * Scoring is a pure per-row map, so the label/length/text columns a
    * query needs alongside `predicted` ride THROUGH `score` (its
    * `keep` parameter) instead of joining back on doc_id — the join
    * formulation shuffled two derivations of the same scan (guide
    * §2.4; at sf0.1 the join + double scoring pass was most of
    * q217/q218's wall). fanOut first: the sub-MB fixture parquet is
    * ONE scan partition, and the scoring kernel + funnel metrics are
    * the CPU-bound per-row stages fanOut exists for.
    */
  private def scoredKeeping(
      s: org.apache.spark.sql.SparkSession, d: String, model: LangId.Model,
      keep: Seq[String]) =
    LangId.score(
      graft.core.Partitioning.fanOut(planted(s, d))
        .withColumn("n_chars", length(col("text")).cast("long")),
      model, keep = keep)

  // ---- the HARD fixture (round-14 verdict #7): a SAME-SCRIPT pair.
  // The four q217 alphabets are disjoint scripts — every bigram is
  // class-unique, so accuracy 1.00 measures featurizer health, not
  // classifier discrimination. Here both classes are Latin and share
  // the first half of the alphabet verbatim: class S1 rotates only
  // n..z by one (n→o … z→n), so every a-m–internal bigram is
  // IDENTICAL across classes and only bigrams touching the rotated
  // half carry signal — real confusion pressure on hashed char-bigram
  // features. translate() is again a 1:1 single-code-point bijection
  // (length/token structure preserved, SQL-replicable). ----
  private val LatinTail = "nopqrstuvwxyz"
  private[graft] val LatinTailRot = "opqrstuvwxyzn"
  /** 15 chars: the knee where the shared-half alphabet starts producing
    * real confusion (LidHardProbe: holdout 0.9875 / 0.9978 / 0.9214 at
    * sf0.01/0.1/1; 25+ chars is back to 1.00 — short texts, not exotic
    * scripts, are what makes production LID hard).
    */
  private[graft] val HardTrunc = 15

  private def cls2 = pmod(col("doc_id"), lit(2L))

  private[graft] def plantedHardText: Column =
    when(cls2 === 1, translate(lower(col("text")), LatinTail, LatinTailRot))
      .otherwise(lower(col("text")))

  private val PlantedHardCte = s"""
    planted AS (
      SELECT doc_id, 'S' || CAST(doc_id % 2 AS VARCHAR) AS lang_true,
        substr(CASE doc_id % 2
          WHEN 1 THEN translate(lower(text), '$LatinTail', '$LatinTailRot')
          ELSE lower(text) END, 1, $HardTrunc) AS text
      FROM documents)"""

  private def plantedHard(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("S"), cls2.cast("string")).as("lang_true"),
        substring(plantedHardText, 1, HardTrunc).as("text"))

  def queries: Seq[GraftQuery] = Seq(

    // ---- q217: trained language-ID — fastText-shaped multi-class LR
    //      over hashed character-bigram presence features, trained on
    //      the 20% labeled slice, scored corpus-wide. The float weight
    //      matrix cannot be replicated in static SQL, so the oracle is
    //      the q215 reduced assertion: every replicable column exact
    //      (doc_id, lang_true, n_chars of the planted text) plus
    //      acc_ok pinned to 1 — HOLDOUT accuracy clearing 0.95
    //      (measured 1.00 at sf0.01-sf1, LangIdProbe/BASELINE r14: the
    //      planted alphabets are structurally separable, so the gate
    //      has full margin; a trainer/featurizer regression flips
    //      thousands of rows). ----
    GraftQuery.staged(
      "q217_trained_language_id",
      sharedModel,
      (s, d, model: LangId.Model) => {
        val scored = scoredKeeping(s, d, model, Seq("lang_true", "n_chars"))
        val flag = scored
          .agg(avg((col("predicted") === col("lang_true")).cast("double")).as("_acc"))
          .select((col("_acc") >= 0.95).cast("long").as("acc_ok"))
        // the output rows never read `predicted`, so column pruning
        // drops the margin kernel from this branch — a pure projection
        scored.select(col("doc_id"), col("lang_true"), col("n_chars"))
          .crossJoin(broadcast(flag))
      },
      Some(s"""
        WITH $PlantedCte
        SELECT doc_id, lang_true, CAST(length(text) AS BIGINT) AS n_chars,
          CAST(1 AS BIGINT) AS acc_ok
        FROM planted
      """),
      doc = "Trained language-ID: multi-class LR on hashed char bigrams, holdout accuracy-floor reduced assertion"),

    // ---- q218: the q85 corpus-prep funnel driven by the TRAINED LID
    //      (round-13 verdict #6 "chained into q85's pipeline"): quality
    //      gate → exact dedup → decontamination over the PLANTED
    //      multilingual corpus, with the funnel keyed by the
    //      classifier's PREDICTED language. The oracle replays the q85
    //      SQL chain over the same planted CTE keyed by the TRUE label
    //      and pins acc_ok=1: with holdout accuracy at 1.0 the two
    //      keys coincide, and any model drift flips both the flag and
    //      the per-language counts. ----
    GraftQuery.staged(
      "q218_lid_corpus_funnel",
      sharedModel,
      (s, d, model: LangId.Model) => {
        import graft.functions.TextFunctions.{tokenCount, textShingles, fingerprint}
        // predicted + lang_true + text ride one scoring map (no join
        // back on doc_id — scoring is per-row; guide §2.4).
        // localCheckpoint (r16): three consumers read this frame — the
        // accuracy flag, the funnel metrics, and the decontamination
        // bench side — and two of them pay the margin kernel; the
        // checkpoint runs the scoring pass ONCE (solo A/B in
        // OPTIMIZATION_r16.md §A5). Lazy: the flag aggregate below is
        // the materializing action either way.
        val docs = scoredKeeping(s, d, model, Seq("lang_true", "text"))
          .localCheckpoint(false)
        val flag = docs
          .agg(avg((col("predicted") === col("lang_true")).cast("double")).as("_acc"))
          .select((col("_acc") >= 0.95).cast("long").as("acc_ok"))
        // q85's stages verbatim, over the planted text, lang := predicted
        val metrics = docs
          .select(col("doc_id"), col("predicted"), col("text"),
            tokenCount(col("text")).as("nt"),
            size(textShingles(col("text"), 3)).cast("long").as("nd"))
          .withColumn("ng", col("nt") - 2)
        val quality = metrics
          .where(col("nt") >= 10 && length(col("text")) <= 5000 &&
            (col("ng") - col("nd")).cast("double") / col("ng") < 0.5)
        val survivors = quality
          .withColumn("fp", fingerprint(col("text")))
          .withColumn("keep",
            col("doc_id") === min(col("doc_id"))
              .over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
          .where(col("keep"))
          .select(col("doc_id"), col("predicted"), col("text"))
          .localCheckpoint(false)
        val clean = graft.operators.Decontaminate.clean(
          survivors.where(col("doc_id") % 10 =!= 3),
          docs.where(col("doc_id") % 10 === 3),
          "doc_id", "text", n = 8)
        clean.groupBy(col("predicted")).agg(count(lit(1)).as("n_kept"))
          .crossJoin(broadcast(flag))
      },
      Some(s"""
        WITH $PlantedCte,
        toks AS (
          SELECT doc_id, lang_true, text,
                 regexp_extract_all(text, '\\S+') AS tk
          FROM planted),
        quality AS (
          SELECT * FROM toks
          WHERE len(tk) >= 10 AND len(text) <= 5000
            AND CAST(len(tk) - 2 - len(list_distinct(list_transform(
                  generate_series(1, len(tk) - 2),
                  i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS DOUBLE)
                / (len(tk) - 2) < 0.5),
        survivors AS (
          SELECT * FROM (
            SELECT doc_id, lang_true, text, tk,
              min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS keep_id
            FROM quality)
          WHERE doc_id = keep_id),
        grams AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(tk) - 7),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3],
                                tk[i+4], tk[i+5], tk[i+6], tk[i+7])))) AS gram
          FROM toks WHERE len(tk) >= 8),
        bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 3),
        contaminated AS (
          SELECT DISTINCT g.doc_id
          FROM grams g JOIN bench b USING (gram)
          WHERE g.doc_id % 10 <> 3)
        SELECT lang_true AS predicted, count(*) AS n_kept,
          CAST(1 AS BIGINT) AS acc_ok
        FROM survivors s
        WHERE s.doc_id % 10 <> 3
          AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = s.doc_id)
        GROUP BY lang_true
      """),
      doc = "q85 corpus funnel keyed by the trained LID's predictions over the planted multilingual corpus"),

    // ---- q220: trained LID on the HARD fixture (round-14 verdict #7):
    //      a SAME-SCRIPT Latin pair sharing half the alphabet, truncated
    //      to 15 chars — the short-text, closely-related-language regime
    //      where real LID earns its keep. Same reduced-assertion oracle
    //      as q217 (replicable columns exact + an accuracy flag), but
    //      the flag's floor is 0.8 against MEASURED holdout accuracies
    //      0.9875 / 0.9978 / 0.9214 at sf0.01/0.1/1 (LidHardProbe;
    //      chance 0.5) — the fixture produces genuine off-diagonal
    //      confusion (1.8k-2.2k misclassified docs per class at sf1),
    //      deterministic per fixture because training is bit-exact.
    //      LangIdSpec pins the confusion matrix shape on this fixture. ----
    GraftQuery.staged(
      "q220_lid_same_script",
      (s, d) => LangId.train(plantedHard(s, d).where(col("doc_id") % 5 === 0), "lang_true"),
      (s, d, model: LangId.Model) => {
        val scored = LangId.score(
          graft.core.Partitioning.fanOut(plantedHard(s, d))
            .withColumn("n_chars", length(col("text")).cast("long")),
          model, keep = Seq("lang_true", "n_chars"))
        val flag = scored
          .agg(avg((col("predicted") === col("lang_true")).cast("double")).as("_acc"))
          .select((col("_acc") >= 0.8).cast("long").as("acc_ok"))
        scored.select(col("doc_id"), col("lang_true"), col("n_chars"))
          .crossJoin(broadcast(flag))
      },
      Some(s"""
        WITH $PlantedHardCte
        SELECT doc_id, lang_true, CAST(length(text) AS BIGINT) AS n_chars,
          CAST(1 AS BIGINT) AS acc_ok
        FROM planted
      """),
      doc = "Trained LID on the same-script short-text fixture: accuracy-floor reduced assertion with honest confusion")
  )
}
