package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.operators.Html

/** Text/corpus round 9 (round 13): HTML/markup main-content
  * extraction — the first stage of a web-corpus pipeline (round-12
  * verdict #1) — and what feeds on it. The fixture corpus is plain
  * text, so q214/q216 plant a deterministic doc_id-derived HTML
  * document around each row's real text on BOTH sides (the q149
  * planting discipline): the markup then exercises every pattern
  * (script/style spans with tag-looking attribute values, comments,
  * CDATA, block vs inline tags, the whole entity set including
  * double-encoding), while the tail of real fixture text guards
  * against over-matching. The extraction chain is RE2-safe and shared
  * VERBATIM with the oracle ([[graft.operators.Html]] patterns) —
  * bit-exact hash match, no reduced assertions.
  */
object TextQueries9 {

  /** The planted HTML document, Spark side. Shared by q214 (extraction
    * itself) and q216 (boilerplate-line removal OVER the extraction) —
    * one definition, so the two queries exercise the same corpus.
    */
  /** Exposed for HtmlExtractSpec's lane-equivalence check. */
  private[graft] def plantedHtmlForSpec: Column = plantedHtml

  private def plantedHtml: Column = {
    val m3 = pmod(col("doc_id"), lit(3L))
    val variant =
      when(m3 === 0, lit("<ul><li>alpha</li><li>beta &lt;i&gt;</li></ul>"))
        .when(m3 === 1,
          lit("<div><p>nested &quot;quote&quot;&#39;s &amp;amp; more</p></div>"))
        .otherwise(lit("<![CDATA[raw <fake> markup]]><pre>code&nbsp;block</pre>"))
    // coalesce: null text must not null the whole planted document
    // (Spark concat null-propagates; DuckDB's ignores NULL args)
    concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), col("doc_id"),
      lit(" &amp; co</title><style type=\"text/css\">.c"),
      pmod(col("doc_id"), lit(7L)), lit(" {font-size:"),
      pmod(col("doc_id"), lit(19L)),
      lit("px}</style></head><body><script type=\"text/javascript\">var id="),
      col("doc_id"),
      lit("; if (id<99 && id>0) { track(\"<p>fake</p>\"); }</script><!-- gen "),
      pmod(col("doc_id"), lit(13L)), lit(" --><h1>Head &lt;"),
      pmod(col("doc_id"), lit(5L)), lit("&gt;</h1><p class=\"lead\">"),
      coalesce(col("text"), lit("")), lit("</p>"), variant,
      lit("<table><tr><td>cell "), pmod(col("doc_id"), lit(11L)),
      lit("</td><td>&quot;x&quot;&#39;y&nbsp;z</td></tr></table></body></html>"))
  }

  /** DuckDB '…' literals have no backslash escapes (q56/q149
    * precedent) — patterns go in RAW, only quotes doubled.
    */
  private def esc(p: String) = p.replace("'", "''")

  /** The planted HTML document as a DuckDB CTE (`planted(doc_id, h)`)
    * — the SQL mirror of [[plantedHtml]].
    */
  private val PlantedCte = """
    planted AS (
      SELECT doc_id,
        concat('<!DOCTYPE html><html><head><title>Doc ', CAST(doc_id AS VARCHAR),
          ' &amp; co</title><style type="text/css">.c', CAST(doc_id % 7 AS VARCHAR),
          ' {font-size:', CAST(doc_id % 19 AS VARCHAR),
          'px}</style></head><body><script type="text/javascript">var id=',
          CAST(doc_id AS VARCHAR),
          '; if (id<99 && id>0) { track("<p>fake</p>"); }</script><!-- gen ',
          CAST(doc_id % 13 AS VARCHAR), ' --><h1>Head &lt;',
          CAST(doc_id % 5 AS VARCHAR), '&gt;</h1><p class="lead">',
          coalesce(text, ''), '</p>',
          CASE doc_id % 3
            WHEN 0 THEN '<ul><li>alpha</li><li>beta &lt;i&gt;</li></ul>'
            WHEN 1 THEN '<div><p>nested &quot;quote&quot;&#39;s &amp;amp; more</p></div>'
            ELSE '<![CDATA[raw <fake> markup]]><pre>code&nbsp;block</pre>' END,
          '<table><tr><td>cell ', CAST(doc_id % 11 AS VARCHAR),
          '</td><td>&quot;x&quot;&#39;y&nbsp;z</td></tr></table></body></html>') AS h
      FROM documents)"""

  /** The full [[Html.extractText]] chain as a DuckDB expression over a
    * column named `h` — the patterns come from [[Html]] verbatim.
    */
  private def extractSql: String = {
    val strip = Seq(
      Html.ScriptPattern -> "' '",
      Html.StylePattern -> "' '",
      Html.CommentPattern -> "' '",
      Html.CdataPattern -> "' '",
      Html.BlockTagPattern -> "chr(10)",
      Html.TagPattern -> "''")
    val stripped = strip.foldLeft("h") { case (acc, (pat, repl)) =>
      s"regexp_replace($acc, '${esc(pat)}', $repl, 'g')"
    }
    val decoded = Html.Entities.foldLeft(stripped) { case (acc, (ent, ch)) =>
      s"replace($acc, '${esc(ent)}', '${ch.replace("'", "''")}')"
    }
    Seq(
      Html.HorizontalWsPattern -> "' '",
      Html.NewlineRunPattern -> "chr(10)",
      Html.EdgeWsPattern -> "''").foldLeft(decoded) {
      case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '${esc(pat)}', $repl, 'g')"
    }
  }

  /** q215's planted labeled corpus (cheap projection, rebuilt per call). */
  private def q215Planted(s: org.apache.spark.sql.SparkSession, d: String) = {
    val m = pmod(col("doc_id"), lit(4L)).cast("string")
    val label = pmod(col("doc_id"), lit(2L))
    Tables.documents(s, d).select(
      col("doc_id"), label.as("label"),
      concat(coalesce(col("text"), lit("")),
        when(label === 1,
          concat(lit(" qga"), m, lit(" qgb"), m, lit(" qgc"), m))
          .otherwise(concat(lit(" qba"), m, lit(" qbb"), m, lit(" qbc"), m)))
        .as("text"))
  }

  def queries: Seq[GraftQuery] = Seq(

    // ---- q214: HTML main-content extraction — strip script/style/
    //      comment/CDATA spans, break blocks to lines, drop inline
    //      tags, decode entities (amp last), normalize whitespace.
    //      Pure map chain: no shuffle, scale-trivial, pushdown-clean;
    //      output feeds the quality/dedup/boilerplate operators that
    //      all assume extracted text. ----
    GraftQuery(
      "q214_html_extract",
      (s, d) => {
        // the FAST fused kernel (HtmlExtractText) — proven ≡ the regex
        // chain the oracle runs (HtmlExtractSpec adversarial property
        // tests + this very oracle gate)
        Tables.documents(s, d).select(col("doc_id"), plantedHtml.as("_h"))
          .select(col("doc_id"),
            Html.extractTitle(col("_h")).as("title"),
            Html.extractTextFast(col("_h")).as("body"),
            Html.tagCount(col("_h")).as("n_tags"),
            Html.entityCount(col("_h")).as("n_entities"))
      },
      Some(s"""
        WITH $PlantedCte
        SELECT doc_id,
          regexp_extract(h, '${esc(Html.TitlePattern)}', 1) AS title,
          $extractSql AS body,
          CAST(len(regexp_extract_all(h, '${esc(Html.TagPattern)}')) AS BIGINT) AS n_tags,
          CAST(len(regexp_extract_all(h, '${esc(Html.EntityPattern)}')) AS BIGINT) AS n_entities
        FROM planted
      """),
      doc = "HTML main-content extraction: RE2-safe strip/decode/normalize chain shared verbatim with the oracle"),

    // ---- q215: TRAINED quality classifier — the companion q158 was
    //      missing (round-12 verdict #5): label → train → score → gate
    //      as one pipeline op. Labels are planted (doc_id % 2) with
    //      3 marker tokens per doc appended to the REAL fixture text
    //      (the noise floor); training is the decimal-exact
    //      fixed-iteration logistic regression on hashed presence
    //      features (operators.QualityClassifier — deterministic
    //      weights by construction, spec-pinned). The float weight
    //      vector cannot be replicated in static SQL, so the oracle is
    //      the q48 reduced assertion: every replicable column exact
    //      (doc_id, label, n_tokens) plus `acc_ok` pinned to 1 — the
    //      training accuracy over the planted labels clearing 0.95
    //      (measured EXACTLY 1.00 at sf0.001, sf0.01, sf0.1 AND sf1 —
    //      Q215AccProbe, advice r13; the presence features separate
    //      the planted markers perfectly at every bench scale, so the
    //      gate has full margin; an optimizer/accumulation regression
    //      flips 500 rows). ----
    GraftQuery.staged(
      "q215_trained_quality_classifier",
      // training is the staged build: at sf10 the training slice crosses
      // the driver-GD gate and the distributed lane costs ~60 s. 12
      // rounds: measured 1.00 accuracy from round 8 up at sf0.01/sf0.1
      // (presence features separate the planted markers fast) — 1.5x
      // the needed depth at ~60% of the default 20-round cost.
      (s, d) => graft.operators.QualityClassifier.train(q215Planted(s, d), "label", iters = 12),
      (s, d, model: graft.operators.QualityClassifier.Model) => {
        import graft.operators.QualityClassifier
        // label/n_tokens ride THROUGH the per-row scoring map (keep
        // columns) instead of joining predictions back on doc_id — two
        // exchanges over two derivations of the same scan (guide §2.4);
        // fanOut first, the sub-MB fixture scan is one partition and
        // scoring/tokenizing is the CPU-bound per-row stage
        val scored = QualityClassifier.score(
          graft.core.Partitioning.fanOut(q215Planted(s, d))
            .withColumn("n_tokens",
              graft.functions.TextFunctions.tokenCount(col("text"))),
          model, keep = Seq("label", "n_tokens"))
        val flag = scored
          .agg(avg((col("accepted") === col("label")).cast("double")).as("_acc"))
          .select((col("_acc") >= 0.95).cast("long").as("acc_ok"))
        // the output rows never read `accepted`: pruning drops the
        // margin kernel from this branch (pure projection)
        scored.select(col("doc_id"), col("label"), col("n_tokens"))
          .crossJoin(broadcast(flag))
      },
      Some("""
        SELECT doc_id, doc_id % 2 AS label,
          CAST(len(regexp_extract_all(lower(coalesce(text, '')), '\S+')) AS BIGINT)
            + 3 AS n_tokens,
          CAST(1 AS BIGINT) AS acc_ok
        FROM documents
      """),
      doc = "Trained quality classifier: deterministic LR on hashed presence features, accuracy-floor reduced assertion"),

    // ---- q216: boilerplate-LINE removal over the EXTRACTED corpus —
    //      the CCNet-family scrub chained onto q214's extraction (the
    //      "boilerplate hooks" half of round-12 verdict #1): repeated
    //      template blocks (headings, list items, table cells — the
    //      planted markup repeats them across docs by construction)
    //      have high line document-frequency, the real fixture text is
    //      one unique line per doc. Full-algorithm oracle: DuckDB
    //      re-runs extraction, line df, and the removal join — per-doc
    //      line counts, removed counts and the md5 of the cleaned text
    //      hash-match bit-exact. Threshold 5 is shared; any value is
    //      correctness-equivalent (both engines compute the same exact
    //      integer df). ----
    GraftQuery(
      "q216_boilerplate_lines",
      (s, d) => {
        import graft.operators.Boilerplate
        val extracted = Tables.documents(s, d)
          .select(col("doc_id"), Html.extractTextFast(plantedHtml).as("text"))
        Boilerplate.removeFrequentLines(extracted, minDf = 5)
          .select(col("doc_id"), col("n_lines"), col("n_removed"),
            md5(col("cleaned")).as("cleaned_md5"))
      },
      Some(s"""
        WITH $PlantedCte,
        ext AS (SELECT doc_id, $extractSql AS body FROM planted),
        lns AS (
          -- empty lines KEPT so a doc with no non-empty lines still
          -- reaches the GROUP BY (loss-accounting contract, advice
          -- r13); they are excluded from the counts and the rejoin
          SELECT doc_id, CAST(i AS BIGINT) AS pos, l[i] AS line
          FROM (SELECT doc_id, string_split(body, chr(10)) AS l,
                  unnest(generate_series(1, len(string_split(body, chr(10))))) AS i
                FROM ext)),
        boiler AS (
          SELECT line FROM lns WHERE line <> '' GROUP BY line
          HAVING count(DISTINCT doc_id) >= 5)
        SELECT doc_id,
          CAST(sum(CASE WHEN lns.line <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_lines,
          CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          md5(coalesce(string_agg(CASE WHEN b.line IS NULL AND lns.line <> ''
            THEN lns.line END, chr(10) ORDER BY pos), '')) AS cleaned_md5
        FROM lns LEFT JOIN boiler b ON lns.line = b.line
        GROUP BY doc_id
      """),
      doc = "Boilerplate-line removal over extracted HTML: line document-frequency scrub, full-algorithm oracle")
  )
}
