package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Persistence for built ANN indexes — the missing third of the index
  * lifecycle (build / probe / SERVE ACROSS SESSIONS): an IVF or
  * IVF-PQ index is built once on the corpus and probed by many later
  * jobs, so it must land on storage, and it must land ATOMICALLY — an
  * index is multiple co-dependent tables (centroids + assignments
  * [+ codebooks]), and a reader that sees new centroids beside old
  * assignments returns silently wrong neighbors.
  *
  * The unit of atomicity is therefore the WHOLE index directory, not
  * one table: components write into `<dir>__staging`, then
  * [[graft.load.Load.stagedSwap]] makes the complete index visible in
  * one rename.
  *
  * Codebooks (driver-side float arrays) ride a parquet table of
  * (subspace, code, centroid-vector) rows plus a one-row meta table;
  * doubles round-trip parquet exactly, so a loaded index probes
  * BIT-IDENTICALLY to the built one (IndexStoreSpec pins this).
  */
object IndexStore {

  private def readPart(spark: SparkSession, dir: String, part: String,
      expectCols: Seq[String]): DataFrame = {
    // a component holds its batch-built files at the root PLUS
    // append-only `seg_<batchId>/` subdirectories from streaming
    // maintenance ([[appendSegment]]) PLUS at most one LIVE compacted
    // segment ([[compactSegments]]); the liveness view is the
    // merge-on-read union. Staging dirs live OUTSIDE the component
    // (committed by rename INTO it), so a crashed append is invisible;
    // dead parts (folded into a newer cseg) are excluded by rule.
    val v = componentView(spark, dir, part)
    val paths = (v.baseFiles ++ v.liveStreamed).map(_.toString)
    require(paths.nonEmpty, s"$dir/$part has no data files — not a saved index")
    val df = spark.read.parquet(paths: _*)
    require(expectCols.forall(df.columns.contains),
      s"$dir/$part lacks ${expectCols.filterNot(df.columns.contains).mkString(",")} — " +
        "not written by IndexStore")
    df
  }

  // ---- streaming append segments (the LSM shape: publish O(batch)) ----

  private val SegPrefix = "seg_"
  private val CsegPrefix = "cseg_"
  private val FsegPrefix = "fseg_"
  private val StagingSuffix = "__staging"

  /** Per-segment row-count sidecar (drift accounting without a
    * per-trigger table scan).
    */
  val SegCountFile = "_count"

  /** Liveness view of a component — three streamed levels above the
    * batch-built base files:
    *
    *  - `seg_<id>`: one per applied micro-batch (L0);
    *  - `cseg_<T>`: a MINOR run — the fold of segments with ids in
    *    (previous run's T, T]; several may be live at once;
    *  - `fseg_<T>`: a FULL fold of every streamed run at its time —
    *    at most the newest is live.
    *
    * Rules: let F = the max fseg T (or -inf). The fseg with T = F is
    * live; a cseg is live iff its T > F; a seg is live iff its id >
    * max(F, live cseg Ts). Everything else is DEAD the instant the
    * newer fold's commit rename lands — a crash between that rename
    * and the dead deletes double-counts nothing, because every reader
    * goes through this view.
    */
  private case class ComponentView(
      fs: FileSystem,
      comp: Path,
      baseFiles: Seq[Path],
      liveFseg: Option[(Long, Path)],
      liveCsegs: Seq[(Long, Path)], // ascending T, all > fseg T
      liveSegs: Seq[(Long, Path)], // ascending id, all > every run T
      dead: Seq[Path]) {
    def liveRuns: Seq[(Long, Path)] = liveFseg.toSeq ++ liveCsegs
    def liveStreamed: Seq[Path] = liveRuns.map(_._2) ++ liveSegs.map(_._2)
  }

  private def componentView(
      spark: SparkSession, dir: String, component: String): ComponentView = {
    val comp = new Path(s"$dir/$component")
    val fs = comp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(comp), s"$dir has no '$component' component — not a saved index")
    val children = fs.listStatus(comp).toSeq
    val baseFiles = children.collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getPath
    }
    def ids(prefix: String): Seq[(Long, Path)] = children.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith(prefix) =>
        s.getPath.getName.stripPrefix(prefix).toLongOption.map(_ -> s.getPath)
    }.flatten.sortBy(_._1)
    // none of the prefixes is a prefix of another's names: "cseg_…" /
    // "fseg_…" do not start with "seg_"
    val fsegs = ids(FsegPrefix)
    val csegs = ids(CsegPrefix)
    val segs = ids(SegPrefix)
    val fThrough = fsegs.lastOption.map(_._1).getOrElse(Long.MinValue)
    val (liveC, deadC) = csegs.partition(_._1 > fThrough)
    val segCover = (fThrough +: liveC.map(_._1)).max
    val (live, deadSegs) = segs.partition(_._1 > segCover)
    ComponentView(fs, comp, baseFiles,
      liveFseg = fsegs.lastOption,
      liveCsegs = liveC,
      liveSegs = live,
      dead = deadSegs.map(_._2) ++ deadC.map(_._2) ++ fsegs.dropRight(1).map(_._2))
  }

  private def runDataBytes(fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir).collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getLen
    }.sum

  /** Append one micro-batch's rows to a component as an immutable
    * segment, committed by a single atomic rename — the O(batch)
    * alternative to re-saving the whole index per trigger. The staging
    * directory lives BESIDE the component (not inside), so readers
    * never see a half-written segment; a crashed staging dir is
    * deleted by [[cleanStaleStaging]] on the next trigger.
    */
  def appendSegment(
      spark: SparkSession, dir: String, component: String,
      rows: DataFrame, batchId: Long): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(dir, s"$component$SegPrefix$batchId$StagingSuffix")
    val dest = new Path(s"$dir/$component/$SegPrefix$batchId")
    if (fs.exists(staging)) fs.delete(staging, true)
    rows.write.mode("overwrite").parquet(staging.toString)
    // footer-only count of what was just staged (no column reads)
    val n = spark.read.parquet(staging.toString).count()
    writeSidecars(spark, staging, Map(SegCountFile -> n.toString))
    if (fs.exists(dest)) fs.delete(dest, true) // window-a replay debris
    if (!fs.rename(staging, dest))
      throw new java.io.IOException(s"segment commit rename $staging -> $dest failed")
  }

  /** Delete crashed segment-staging directories (safe under the
    * caller's index lock).
    */
  def cleanStaleStaging(spark: SparkSession, dir: String): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(d))
      fs.listStatus(d).foreach { s =>
        if (s.isDirectory && s.getPath.getName.contains(SegPrefix) &&
          s.getPath.getName.endsWith(StagingSuffix))
          fs.delete(s.getPath, true)
      }
  }

  /** Committed streaming batch ids visible in a component (empty for a
    * pure batch save): live segment ids plus every live run's
    * fold-through id — the max is a stable applied-batch watermark
    * across compactions (a run's id IS the highest id it folded, so no
    * fold ever regresses the watermark).
    */
  def segmentIds(spark: SparkSession, dir: String, component: String): Seq[Long] = {
    val p = new Path(s"$dir/$component")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val v = componentView(spark, dir, component)
      (v.liveRuns.map(_._1) ++ v.liveSegs.map(_._1)).sorted
    }
  }

  /** Number of live UNCOMPACTED streaming segments — what a sink
    * compares against its maxSegments bound.
    */
  def liveStreamSegments(spark: SparkSession, dir: String, component: String): Int =
    componentView(spark, dir, component).liveSegs.size

  /** (base rows, streamed rows) of a component — drift accounting for
    * streaming maintenance. Streamed rows come from the per-segment
    * `_count` sidecars (driver-side, O(segments)); the base count is
    * computed once per index generation (footer-only scan of the
    * non-segment files) and cached in a `_base_count_<component>`
    * sidecar at the index root — a rebuild wipes the dir, so the cache
    * can never go stale. A crash between compute and cache write just
    * recomputes the same value (idempotent).
    */
  def componentCounts(spark: SparkSession, dir: String, component: String): (Long, Long) = {
    val root = new Path(dir)
    val v = componentView(spark, dir, component)
    // streamed = live segments + live runs, whose _count sidecars
    // carry the SUM of everything they folded — rows assigned with
    // frozen centroids stay streamed through every compaction level,
    // so the drift clock never resets without a rebuild
    val streamed = v.liveStreamed.map { p =>
      readSidecar(spark, p.toString, SegCountFile).map(_.trim.toLong).getOrElse(0L)
    }.sum
    val cacheName = s"_base_count_$component"
    val base = readSidecar(spark, dir, cacheName).map(_.trim.toLong).getOrElse {
      val baseFiles = v.baseFiles.map(_.toString)
      val n = if (baseFiles.isEmpty) 0L else spark.read.parquet(baseFiles: _*).count()
      writeSidecars(spark, root, Map(cacheName -> n.toString))
      n
    }
    (base, streamed)
  }

  /** Default size-ratio for the FULL fold: consolidate every streamed
    * run into one `fseg_<T>` when the minor runs' data bytes reach
    * this fraction of the consolidated data (base files + the live
    * fseg). Each full fold then at least doubles the consolidated
    * size, so full folds are geometrically spaced and the total
    * rewrite work per ingested row is O(log) — folding the previous
    * run into EVERY minor (the naive single-level shape) is quadratic
    * over a long rebuild horizon (e.g. 5-minute triggers for months).
    */
  val DefaultFullFoldRatio = 1.0

  /** Compact a component's streamed data, picking the level from the
    * pre-fold sizes:
    *
    *  - '''minor''' (the normal case): fold the live SEGMENTS — and
    *    only them — into one standalone `cseg_<T>` run (T = highest
    *    folded batch id); earlier runs are untouched. Cost O(data
    *    since the last fold).
    *  - '''full''': when live runs exceed `maxRuns` or their data
    *    bytes reach `fullFoldRatio` x the consolidated bytes, fold
    *    EVERY live run + segment into one `fseg_<T>`. T is the newest
    *    segment id, so the name never collides with an existing run
    *    and one atomic rename is the commit.
    *
    * Neither level resets drift accounting: folded rows were
    * assigned/encoded with frozen centroids and remain STREAMED rows —
    * every run's `_count` sidecar carries the sum of what it folded.
    *
    * Crash-safe by the [[componentView]] liveness rule: a crash inside
    * the staged write leaves only an invisible staging dir (swept by
    * [[cleanStaleStaging]]); the folded parts become dead parts every
    * reader already excludes. They are NOT deleted here — a probe that
    * resolved its concrete file list just before this commit must not
    * hit FileNotFound mid-read — later triggers' [[sweepDead]] deletes
    * them once the reader grace window has passed. Callers serialize
    * through the index lock (the sink's discipline).
    */
  def compactSegments(spark: SparkSession, dir: String, component: String,
      maxRuns: Int = 16, fullFoldRatio: Double = DefaultFullFoldRatio): Unit = {
    val v = componentView(spark, dir, component)
    if (v.liveSegs.isEmpty) return
    val csegBytes = v.liveCsegs.map { case (_, p) => runDataBytes(v.fs, p) }.sum
    val segBytes = v.liveSegs.map { case (_, p) => runDataBytes(v.fs, p) }.sum
    val consolidated = v.baseFiles.map(p => v.fs.getFileStatus(p).getLen).sum +
      v.liveFseg.map { case (_, p) => runDataBytes(v.fs, p) }.getOrElse(0L)
    val full = v.liveCsegs.size >= maxRuns ||
      csegBytes + segBytes >= fullFoldRatio * math.max(1L, consolidated)
    val (folded, prefix) =
      if (full) (v.liveStreamed, FsegPrefix)
      else (v.liveSegs.map(_._2), CsegPrefix)
    val through = v.liveSegs.map(_._1).max // > every live run T by liveness
    val streamed = folded.map { p =>
      readSidecar(spark, p.toString, SegCountFile).map(_.trim.toLong).getOrElse(0L)
    }.sum
    val staging = new Path(dir, s"$component$prefix$through$StagingSuffix")
    if (v.fs.exists(staging)) v.fs.delete(staging, true)
    spark.read.parquet(folded.map(_.toString): _*)
      .write.mode("overwrite").parquet(staging.toString)
    writeSidecars(spark, staging, Map(SegCountFile -> streamed.toString))
    val dest = new Path(v.comp, s"$prefix$through")
    if (v.fs.exists(dest)) v.fs.delete(dest, true)
    if (!v.fs.rename(staging, dest))
      throw new java.io.IOException(s"run commit rename $staging -> $dest failed")
    // the rename made the folded parts dead by rule — record death
    // time NOW so sweepDead's grace window runs from this commit, not
    // from each part's original (much older) mtime (advice r12)
    stampDead(v.fs, folded, System.currentTimeMillis())
  }

  /** Reader grace window before a dead part is physically deleted: a
    * probe that resolved its file list just before a compaction commit
    * keeps reading the dead files until its action completes — the
    * Delta/Iceberg vacuum-retention discipline. Zero = immediate (safe
    * only with no concurrent readers).
    */
  val DefaultSweepGraceMs: Long = 10L * 60 * 1000

  /** Death-time tombstone written into a part the moment a fold's
    * commit makes it dead. A part's own mtime is its ORIGINAL commit —
    * segments accumulate for maxSegments triggers before folding, so
    * in steady state they are already older than any grace window at
    * death, and sweeping against mtime would delete them on the very
    * next trigger, violating the retention contract (advice r12). The
    * grace window is measured from this stamp instead; a dead part
    * missing one (crash between the fold rename and the stamps) is
    * stamped by the first [[sweepDead]] that sees it, so every dead
    * part survives at least `graceMs` AFTER its death was recorded.
    */
  val DeadAtFile = "_dead_at"

  private def stampDead(fs: FileSystem, parts: Seq[Path], atMillis: Long): Unit =
    parts.foreach { p =>
      val t = new Path(p, DeadAtFile)
      if (fs.exists(p) && !fs.exists(t)) writeSmallFile(fs, t, atMillis.toString)
    }

  private def writeSmallFile(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readSmallFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  /** Delete parts a compaction made dead, once their DEATH stamp (see
    * [[DeadAtFile]]) is older than `graceMs`; unstamped dead parts are
    * stamped now and collected by a later sweep. `graceMs` <= 0
    * deletes immediately (documented: no concurrent readers).
    */
  def sweepDead(spark: SparkSession, dir: String, component: String,
      graceMs: Long = DefaultSweepGraceMs): Unit = {
    val v = componentView(spark, dir, component)
    val now = System.currentTimeMillis()
    v.dead.foreach { p =>
      if (graceMs <= 0L) { v.fs.delete(p, true); () }
      else readSmallFile(v.fs, new Path(p, DeadAtFile)).map(_.trim.toLong) match {
        case Some(at) if now - at >= graceMs => v.fs.delete(p, true); ()
        case Some(_) => ()
        case None => writeSmallFile(v.fs, new Path(p, DeadAtFile), now.toString)
      }
    }
  }

  /** EXACT id-reuse audit over a component's LIVE rows (base + cseg +
    * segments): ids appearing more than once, with their count. The
    * streaming sinks' watermark skips replays of the same batch, but a
    * SOURCE re-emitting ids across batches violates the uniqueness
    * contract silently (duplicate ids shadow each other in top-k
    * scoring) — this one distributed aggregate is the ground-truth
    * check, run it periodically or before promoting an index.
    */
  def auditIds(spark: SparkSession, dir: String, component: String = "assignments",
      idCol: String = "vid"): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    readPart(spark, dir, component, Seq(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_occurrences"))
      .where(col("n_occurrences") > 1)
  }

  // ---- IVF-flat ----

  /** `sidecars`: small underscore-named metadata files (e.g. a
    * streaming sink's applied-batch watermark) written INTO the staging
    * directory so they publish atomically with the index — never
    * observable without the index state they describe.
    */
  def saveIvf(spark: SparkSession, index: (DataFrame, DataFrame), dir: String,
      sidecars: Map[String, String] = Map.empty): Unit =
    graft.load.Load.stagedSwap(spark, dir) { staging =>
      index._1.write.parquet(s"$staging/centroids")
      index._2.write.parquet(s"$staging/assignments")
      writeSidecars(spark, staging, sidecars)
    }

  private def writeSidecars(
      spark: SparkSession, staging: Path, sidecars: Map[String, String]): Unit =
    sidecars.foreach { case (name, content) =>
      require(name.startsWith("_"),
        s"sidecar '$name' must be underscore-prefixed (invisible to Spark readers)")
      val p = new Path(staging, name)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }

  /** Read a sidecar written by a `save*(…, sidecars)` call; None when
    * the index dir or the sidecar is absent.
    */
  def readSidecar(spark: SparkSession, dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Centroids only, un-persisted — the streaming sink's per-trigger
    * need (assign one batch, append; the assignments table is never
    * read). Tiny by contract; every consumer broadcasts it.
    */
  def loadIvfCentroids(spark: SparkSession, dir: String): DataFrame =
    readPart(spark, dir, "centroids", Seq("cid", "cvec"))

  /** Loaded components are persisted (the `Ivf.build` contract — an
    * index is probed many times); release with [[Ivf.release]].
    */
  def loadIvf(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = readPart(spark, dir, "centroids", Seq("cid", "cvec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = readPart(spark, dir, "assignments", Seq("vid", "v", "cid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (c, a)
  }

  // ---- kNN graph (graph-ANN) ----

  /** Atomic persist of a [[Similarity.knnGraph]] edge set — the index
    * under [[Similarity.graphSearch]]. One component, same whole-
    * directory swap: a half-written edge table must never serve.
    */
  def saveKnnGraph(spark: SparkSession, graph: DataFrame, dir: String): Unit =
    graft.load.Load.stagedSwap(spark, dir) { staging =>
      graph.select("query_id", "neighbor_id", "sim").write.parquet(s"$staging/edges")
    }

  /** Loaded edges are persisted (probed many times); release with
    * `unpersist()` or `Ivf.release`-style cleanup by the caller.
    */
  def loadKnnGraph(spark: SparkSession, dir: String): DataFrame =
    readPart(spark, dir, "edges", Seq("query_id", "neighbor_id", "sim"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  // ---- IVF-PQ ----

  def saveIvfPq(spark: SparkSession, ix: IvfPq.Index, dir: String,
      sidecars: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    val meta = Seq((ix.cb.m, ix.cb.k, ix.cb.subDim)).toDF("m", "k", "subDim")
    val cents = ix.cb.cents.zipWithIndex.flatMap { case (codes, j) =>
      codes.zipWithIndex.map { case (vec, c) => (j, c, vec.toSeq) }
    }.toSeq.toDF("j", "c", "cvec")
    graft.load.Load.stagedSwap(spark, dir) { staging =>
      ix.centroids.write.parquet(s"$staging/centroids")
      ix.coded.write.parquet(s"$staging/coded")
      meta.write.parquet(s"$staging/cb_meta")
      cents.write.parquet(s"$staging/cb_cents")
      writeSidecars(spark, staging, sidecars)
    }
  }

  /** Loaded frames are persisted; release with [[IvfPq.release]]. */
  def loadIvfPq(spark: SparkSession, dir: String): IvfPq.Index = {
    val centroids = readPart(spark, dir, "centroids", Seq("cid", "cvec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val coded = readPart(spark, dir, "coded", Seq("vid", "cid", "codes"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    IvfPq.Index(centroids, coded, loadCodebooks(spark, dir))
  }

  /** Frozen quantizer only (centroids un-persisted + codebooks) — the
    * streaming sink's per-trigger need: encode one batch, append;
    * the coded table is never read.
    */
  def loadIvfPqCodec(spark: SparkSession, dir: String): (DataFrame, Pq.Codebooks) =
    (readPart(spark, dir, "centroids", Seq("cid", "cvec")), loadCodebooks(spark, dir))

  private def loadCodebooks(spark: SparkSession, dir: String): Pq.Codebooks = {
    val metaRow = readPart(spark, dir, "cb_meta", Seq("m", "k", "subDim")).head()
    val (m, k, subDim) = (metaRow.getInt(0), metaRow.getInt(1), metaRow.getInt(2))
    val cents = Array.fill(m)(Array.ofDim[Array[Double]](k))
    readPart(spark, dir, "cb_cents", Seq("j", "c", "cvec")).collect().foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    require(cents.forall(_.forall(_ != null)),
      s"$dir/cb_cents is missing (subspace, code) entries — truncated save?")
    Pq.Codebooks(m, k, subDim, cents)
  }
}
