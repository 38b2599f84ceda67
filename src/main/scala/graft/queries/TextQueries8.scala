package graft.queries

import org.apache.spark.sql.functions.col
import graft.GraftQuery
import graft.core.Tables
import graft.operators.SubstringDedup

/** Text/corpus round 8 (round 10, third session): exact substring-span
  * deduplication (Lee et al. 2021 shape) — the duplicated-span report
  * (q207) and keep-first span removal (q208). Both are pure integer /
  * exact-text results (positions, counts, md5 content witnesses), so
  * they hash-match the oracle with no tolerance. Operator semantics and
  * the 100-TB scale argument live on [[graft.operators.SubstringDedup]].
  */
object TextQueries8 {

  /** Shared oracle prelude: positional word 8-grams per document.
    * `toks[i : i + 7]` is DuckDB's 1-based inclusive list slice — the
    * gram starting at 0-based token position i-1; grams exist only for
    * docs with ≥ 8 tokens (mirrors the operator's size guard).
    */
  private val GramCte = """
    WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                FROM documents),
    g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 array_to_string(toks[i : i + 7], ' ') AS g
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 7)) AS i
                FROM tk WHERE len(toks) >= 8))"""

  private val BpeRounds = 8

  /** The q211 oracle with `n` unrolled training rounds. Symbolizations
    * are chr(1)-delimited strings exactly as in [[graft.operators.Bpe]];
    * each round counts adjacent symbol pairs weighted by word frequency,
    * picks the (count DESC, l, r) top, and folds it through every word
    * via list_reduce with the string accumulator.
    */
  private def bpeOracleSql(n: Int): String =
    bpeOracle(n, """
      SELECT doc_id, CAST(sum(nsym) AS BIGINT) AS n_bpe_tokens,
             md5(string_agg(symstr, '' ORDER BY pos)) AS bpe_md5
      FROM j GROUP BY doc_id""")

  /** The q212 oracle: per-doc BPE counts from the shared prelude, then
    * q87's shard-local cumulative packing in BPE tokens.
    */
  private def bpePackOracleSql(n: Int): String =
    bpeOracle(n, """
      , bd AS (SELECT doc_id, CAST(sum(nsym) AS BIGINT) AS nt FROM j GROUP BY doc_id),
      c AS (SELECT d.doc_id, d.lang, bd.nt,
              COALESCE(sum(bd.nt) OVER (PARTITION BY d.lang ORDER BY d.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM bd JOIN documents d ON d.doc_id = bd.doc_id)
      SELECT lang, CAST(floor(cum_before / 4096) AS BIGINT) AS bin,
             count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM c GROUP BY lang, bin""")

  private def bpeOracle(n: Int, finalSelect: String): String = {
    val rounds = (1 to n).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      s"""
        p$i AS (
          SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq) AS n
          FROM (SELECT freq,
                       list_filter(string_split(symstr, chr(1)), s -> s <> '') AS syms,
                       unnest(generate_series(1,
                         len(list_filter(string_split(symstr, chr(1)), s -> s <> '')) - 1)) AS i
                FROM $prev)
          GROUP BY 1, 2),
        t$i AS (SELECT l, r FROM p$i ORDER BY n DESC, l, r LIMIT 1),
        s$i AS (
          SELECT w, freq,
            list_reduce(
              list_prepend(chr(1), list_filter(string_split(symstr, chr(1)), s -> s <> '')),
              (acc, x) -> CASE WHEN ends_with(acc, chr(1) || t.l || chr(1)) AND x = t.r
                               THEN substr(acc, 1, length(acc) - length(t.l) - 1) || t.l || t.r || chr(1)
                               ELSE acc || x || chr(1) END) AS symstr
          FROM $prev, t$i t)"""
    }.mkString(",")
    s"""
      WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks FROM documents),
      wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
             FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
      s0 AS (SELECT w, freq,
               chr(1) || array_to_string(
                 list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)),
                 chr(1)) || chr(1) AS symstr
             FROM wf),
      $rounds,
      tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS w
              FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM tk)),
      j AS (SELECT tok.doc_id, tok.pos, sN.symstr,
                   len(list_filter(string_split(sN.symstr, chr(1)), s -> s <> '')) AS nsym
            FROM tok JOIN s$n sN ON sN.w = tok.w)
      $finalSelect
    """
  }

  /** A fresh temp root, deleted recursively at JVM exit — a published
    * index must outlive the staging call (the returned DataFrame is
    * consumed lazily by Verify/Bench), so exit-time is the earliest safe
    * point; repeated runs are separate JVMs, so /tmp holds at most one
    * copy per live process (advice r11).
    */
  private[queries] def tempRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(root))
    }))
    root
  }

  /** The 4-file drop, shared per (JVM, dataset dir) by q210 and q213:
    * both stream the IDENTICAL input (only their sink's maxSegments
    * differs), so the second build skips a repartition+write of the
    * documents table. Each fold still runs its own 4-trigger stream.
    */
  private val stagedInputs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def q210Stage(s: org.apache.spark.sql.SparkSession, d: String): String =
    stagedInputs.computeIfAbsent(d, _ => {
      val root = tempRoot("graft_q210")
      Tables.documents(s, d).repartition(4).write.mode("overwrite").parquet(s"$root/in")
      root
    })

  /** Stage the 4-file drop AND run the full streaming fold (the REAL
    * `SubstringIngest.substringIngestSink` — per-trigger probe, report
    * publish, atomic index fold / LSM compaction). Returns the root
    * whose `index/` holds the published state.
    *
    * Split rationale (round-13 verdict #3): the fold is the BUILD of a
    * persistent index — the analogue of q48/q112/q113's staged ANN
    * builds — while the DuckDB oracle computes only the final gram
    * index. Timing the 4-micro-batch fold in `sec` made q210/q213
    * 31× asymmetric rows that distorted aggregate comparisons, so it is
    * their staged build and `sec` times the PROBE: merge-on-read of the
    * published state, the operation a steady-state consumer actually
    * pays.
    */
  private def q210Fold(s: org.apache.spark.sql.SparkSession, d: String,
      maxSegments: Int): String = {
    val in = q210Stage(s, d) // shared per (JVM, dataset) — see q210Stage
    // index/reports/ckpt get their OWN root per fold: q210 and q213 run
    // concurrently-prepared sinks whose stores must not interleave
    val root = tempRoot("graft_q210run")
    val docs = Tables.documents(s, d)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/in")
    val q = graft.streaming.SubstringIngest.substringIngestSink(
      stream, s"$root/index", s"$root/reports", s"$root/ckpt", k = 8,
      maxSegments = maxSegments)
    try q.processAllAvailable() finally q.stop()
    root
  }

  val queries: Seq[GraftQuery] = Seq(

    // ---- q207: duplicated-span report — for every document, the
    //      maximal runs of tokens covered by 8-grams that occur
    //      verbatim elsewhere in the corpus (another doc OR another
    //      position in the same doc — the suffix-array notion of a
    //      duplicate, over-approximated by coverage islands as the
    //      operator doc derives). The span report is what a curation
    //      team audits before choosing removal policy.
    //      Scale shape: one gram-keyed shuffle (map-side-combined
    //      count), one gram-keyed join back, one per-doc islands
    //      window — linear, no candidate pairs (contrast q35/q161,
    //      which score doc PAIRS; this finds the duplicated TEXT). ----
    GraftQuery(
      "q207_substring_dup_spans",
      (s, d) => SubstringDedup.duplicatedSpans(Tables.documents(s, d), k = 8),
      Some(GramCte + """,
        gs AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
        d AS (SELECT doc_id, pos FROM g JOIN gs USING (g)),
        i AS (SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS ni
              FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        s AS (SELECT doc_id, pos,
                sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
              FROM i)
        SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
               CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len
        FROM s GROUP BY doc_id, isl
      """),
      doc = "Exact substring dedup: maximal duplicated spans (k=8 words)"),

    // ---- q208: keep-first span removal — drop every token covered by
    //      a NON-FIRST occurrence of a duplicated 8-gram (first = min
    //      (doc_id, pos) corpus-wide, compared through the same packed
    //      bigint doc_id·2^21+pos the engine aggregates — hash-agg-able
    //      where a struct min is not), so a duplicated run's first copy
    //      survives (exactly one copy unless distinct duplicated runs
    //      interleave — the operator doc has the precise guarantee). Per-doc retention report with an
    //      md5 content witness of the surviving text; fully-removed
    //      later copies of exact-dup docs report kept_md5 = md5('').
    //      The dup-start flag expands to token coverage via a dense
    //      ROWS window (k-1 preceding), not a range join. ----
    GraftQuery(
      "q208_substring_dedup_keep_first",
      (s, d) => SubstringDedup.cleanKeepFirst(Tables.documents(s, d), k = 8),
      Some(GramCte + """,
        tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks))) AS i
                      FROM tk)),
        gs AS (SELECT g, min(doc_id * 2097152 + pos) AS fp
               FROM g GROUP BY g HAVING count(*) >= 2),
        d AS (SELECT x.doc_id, x.pos FROM g x JOIN gs ON gs.g = x.g
              WHERE x.doc_id * 2097152 + x.pos <> gs.fp),
        m AS (SELECT t.doc_id, t.pos, t.tok,
                max(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END)
                  OVER (PARTITION BY t.doc_id ORDER BY t.pos
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
              FROM tok t LEFT JOIN d ON d.doc_id = t.doc_id AND d.pos = t.pos)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(cov) AS BIGINT) AS removed_tokens,
               CAST(sum(cov) * 1000000 // count(*) AS BIGINT) AS removed_ppm,
               md5(coalesce(string_agg(tok, ' ' ORDER BY pos)
                              FILTER (WHERE cov = 0), '')) AS kept_md5
        FROM m GROUP BY doc_id
      """),
      doc = "Exact substring dedup: keep-first removal + retention report"),

    // ---- q209: INCREMENTAL substring dedup — the steady-state ingest
    //      path: the corpus-so-far (doc_id % 4 != 3) is represented
    //      only by its persistable gram index (g, first-occurrence,
    //      count); the new batch (doc_id % 4 = 3) probes it and emits
    //      its own retention report without re-processing the corpus.
    //      The oracle is the definition itself: the FULL q208
    //      recompute over corpus ∪ batch, restricted to batch doc_ids
    //      — so the query hash-checks the incremental-equals-full
    //      invariant end-to-end (q126's incremental-minhash oracle
    //      discipline). ----
    GraftQuery(
      "q209_substring_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batchPred = col("doc_id") % 4 === 3
        val index = SubstringDedup.gramIndex(docs.where(!batchPred), k = 8)
        SubstringDedup.cleanKeepFirstIncremental(index, docs.where(batchPred), k = 8)
      },
      Some(GramCte + """,
        tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks))) AS i
                      FROM tk)),
        gs AS (SELECT g, min(doc_id * 2097152 + pos) AS fp
               FROM g GROUP BY g HAVING count(*) >= 2),
        d AS (SELECT x.doc_id, x.pos FROM g x JOIN gs ON gs.g = x.g
              WHERE x.doc_id * 2097152 + x.pos <> gs.fp),
        m AS (SELECT t.doc_id, t.pos, t.tok,
                max(CASE WHEN d.pos IS NOT NULL THEN 1 ELSE 0 END)
                  OVER (PARTITION BY t.doc_id ORDER BY t.pos
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
              FROM tok t LEFT JOIN d ON d.doc_id = t.doc_id AND d.pos = t.pos)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(cov) AS BIGINT) AS removed_tokens,
               CAST(sum(cov) * 1000000 // count(*) AS BIGINT) AS removed_ppm,
               md5(coalesce(string_agg(tok, ' ' ORDER BY pos)
                              FILTER (WHERE cov = 0), '')) AS kept_md5
        FROM m WHERE doc_id % 4 = 3 GROUP BY doc_id
      """),
      doc = "Incremental substring dedup: batch probe against the gram index"),

    // ---- q210: STREAM-folded gram index ≡ full recompute — the
    //      production wiring end-to-end: the documents table is staged
    //      as a 4-file drop, streamed through the REAL
    //      streaming.SubstringIngest.substringIngestSink (foreachBatch
    //      probe → report publish → atomic index fold under the lock),
    //      and the PUBLISHED index is the query result. The oracle is
    //      the batch definition (gramIndex over the whole corpus in
    //      SQL), so the hash check pins stream ≡ batch through every
    //      layer — micro-batching, the watermark skip logic, the staged
    //      swap. Deterministic because the fold is associative and
    //      min/sum are batching-order-free. ----
    GraftQuery.staged(
      "q210_substring_index_streamed",
      (s, d) => q210Fold(s, d, maxSegments =
        graft.streaming.SubstringIngest.DefaultMaxSegments),
      (s, _, root: String) =>
        graft.streaming.SubstringIngest.readState(s, s"$root/index")._1,
      Some(GramCte + """
        SELECT g, CAST(min(doc_id * 2097152 + pos) AS BIGINT) AS fp,
               CAST(count(*) AS BIGINT) AS cnt
        FROM g GROUP BY g
      """),
      doc = "Streaming substring-dedup ingest: published index equals batch gram index"),

    // ---- q213: LSM-compacted gram store ≡ batch gram index — the
    //      SAME wiring as q210 but with maxSegments=2, so the 4-batch
    //      drop FORCES a mid-stream compaction (segments fold into
    //      base/ through the staged swap, later batches land beside
    //      it). The published state the query returns is therefore
    //      base + live segments merged on read — the oracle (identical
    //      to q210's) pins the whole LSM lifecycle: O(batch) appends,
    //      the fold, the liveness rule, and merge-on-read. ----
    GraftQuery.staged(
      "q213_substring_index_compacted",
      // maxSegments=2 forces the mid-stream LSM compaction in the fold
      (s, d) => q210Fold(s, d, maxSegments = 2),
      (s, _, root: String) =>
        graft.streaming.SubstringIngest.readState(s, s"$root/index")._1,
      Some(GramCte + """
        SELECT g, CAST(min(doc_id * 2097152 + pos) AS BIGINT) AS fp,
               CAST(count(*) AS BIGINT) AS cnt
        FROM g GROUP BY g
      """),
      doc = "LSM-compacted streaming gram store: base+segments merge equals batch gram index"),

    // ---- q211: BPE train→apply end-to-end — 8 greedy merges trained
    //      on the corpus word-frequency table, then applied to tokenize
    //      every document; per-doc subword count + md5 witness of the
    //      full symbolization. The oracle UNROLLS the 8 training rounds
    //      in SQL (pair count → top-1 by (n DESC, l, r) → list_reduce
    //      fold apply — the identical string-accumulator fold the
    //      engine's `aggregate` runs), then applies via the trained
    //      word→symbolization map. Operator semantics + the
    //      O(vocab)-not-O(corpus) scale argument live on
    //      [[graft.operators.Bpe]]. ----
    GraftQuery(
      "q211_bpe_train_apply",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Bpe.subwordReport(docs,
          graft.operators.Bpe.trainMerges(docs, BpeRounds))
      },
      Some(bpeOracleSql(BpeRounds)),
      doc = "BPE: train 8 merges, tokenize the corpus, per-doc subword report"),

    // ---- q212: sequence packing in BPE tokens — q87's cumulative-
    //      capacity packing, but with REAL subword counts from the
    //      trained merge table instead of whitespace tokens (what a
    //      pipeline actually packs context windows by). The per-lang
    //      running sum is q175's TWO-PHASE distributed prefix sum
    //      (round-11 verdict #4): a plain per-lang window makes each
    //      language ONE task's sequential scan — with a handful of
    //      languages that is a near-global window at 100×. Instead:
    //      per-(lang, 1024-doc bucket) subtotals, bucket offsets via a
    //      window over the BUCKET list (1024× smaller; the only
    //      near-single-partition step), broadcast back, intra-bucket
    //      running sums partitioned by (lang, bkt). ----
    GraftQuery(
      "q212_bpe_packing",
      (s, d) => {
        import org.apache.spark.sql.functions.{broadcast, coalesce, count, expr, floor, lit, sum}
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val counts = graft.operators.Bpe.subwordReport(docs,
          graft.operators.Bpe.trainMerges(docs, BpeRounds))
          .select(col("doc_id"), col("n_bpe_tokens").as("nt"))
        val base = docs.select(col("doc_id"), col("lang")).join(counts, Seq("doc_id"))
          .withColumn("bkt", expr("doc_id div 1024"))
        val b = base.groupBy(col("lang"), col("bkt")).agg(sum(col("nt")).as("bsum"))
        val wOff = Window.partitionBy(col("lang")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = b.select(col("lang"), col("bkt"),
          coalesce(sum(col("bsum")).over(wOff), lit(0L)).as("off"))
        val wIn = Window.partitionBy(col("lang"), col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        base.join(broadcast(off), Seq("lang", "bkt"))
          .withColumn("cum_before",
            coalesce(sum(col("nt")).over(wIn), lit(0L)) + col("off"))
          .withColumn("bin", floor(col("cum_before") / 4096L).cast("long"))
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      },
      Some(bpePackOracleSql(BpeRounds)),
      doc = "Sequence packing in BPE tokens: two-phase prefix sum, no per-lang global scan")
  )

}
