package graft.operators

import graft.core.Tables

/** A/B the BPE trainer paths (dev-only): the driver-gated in-memory
  * trainer at a production-ish merge count vs the round-per-merge
  * distributed fold at a small count — the round-11 verdict #3 claim
  * ("1024-merge train at sf0.1 in seconds") measured, not asserted.
  */
object BpeTrainAB {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(32)
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[bpe] $tag ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val docs = Tables.documents(spark, d)
    docs.count()
    val small = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val big = args.drop(2).headOption.map(_.toInt).getOrElse(1024)
    val fast = time(s"driver   n=$small")(Bpe.trainMerges(docs, small))
    val slow = time(s"distrib  n=$small")(Bpe.trainMerges(docs, small, driverMaxRows = 0L))
    assert(fast == slow, s"trainer divergence: $fast vs $slow")
    println(s"[bpe] equivalence n=$small OK")
    // the fixture's synthetic text exhausts pairs after ~89 merges —
    // too small a vocabulary to exercise a production merge count, so
    // the big-n lane runs the in-memory trainer on a synthetic 100k-
    // word Zipf vocabulary (deterministic LCG letters, the web-text
    // vocab SHAPE), which isolates exactly the per-round cost the
    // round-11 verdict flagged (the one corpus pass is already timed
    // by the driver n=16 lane above, which includes it)
    val words = {
      var s = 0x9e3779b97f4a7c15L
      def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
      Array.tabulate(100000) { i =>
        val len = 4 + (math.abs(next()) % 9).toInt
        val w = new StringBuilder
        (0 until len).foreach(_ => w += ('a' + (math.abs(next()) % 26).toInt).toChar)
        (w.toString, 1000000L / (i + 1) + 1) // Zipf-ish
      }
    }
    val m = time(s"driver-mem n=$big vocab=100k")(Bpe.trainInMemory(words, big))
    println(s"[bpe] trained ${m.size} merges; last=${m.last}")

    // ---- above-gate lanes (round-12 verdict #2) ----
    // synthetic ABOVE-GATE vocabulary as a DataFrame: deterministic
    // md5-derived letter words, Zipf-ish frequencies with a singleton
    // tail (freq 1 for the back half) — the web-text vocab shape the
    // 2M driver gate exists for
    import org.apache.spark.sql.functions._
    val nWords = args.drop(3).headOption.map(_.toLong).getOrElse(3200000L)
    val distMerges = args.drop(4).headOption.map(_.toInt).getOrElse(64)
    val wf = spark.range(nWords).select(
      md5(col("id").cast("string"))
        .substr(lit(1), (pmod(col("id"), lit(9L)) + 4).cast("int")).as("w"),
      // Zipf head + singleton BACK HALF (what freqFloor exists for)
      greatest(lit(1L), (lit(nWords / 2) / (col("id") + 1)).cast("long")).as("freq"))
      .groupBy("w").agg(max(col("freq")).as("freq")) // md5-prefix collisions
      .localCheckpoint()
    val distinctWords = wf.count()
    println(s"[bpe] above-gate vocab: $distinctWords distinct words (gate=${Bpe.DriverMaxRows})")
    var rounds = 0
    val batched = time(s"distrib-batched n=$distMerges topK=16")(
      Bpe.trainDistributed(wf, distMerges, onRound = (r, _) => rounds = r))
    println(f"[bpe] batched rounds=$rounds avgBatch=${distMerges.toDouble / rounds}%.1f")
    val singleStep = time(s"distrib-single  n=$distMerges topK=1 ")(
      Bpe.trainDistributed(wf, distMerges, batchTopK = 1))
    assert(batched == singleStep,
      s"batched/single divergence: $batched vs $singleStep")
    println(s"[bpe] batched ≡ single-step over $distMerges merges OK")
    // freqFloor: the OTHER above-gate lever — dropping the singleton
    // tail re-enters the driver gate, where 32k merges are minutes
    val floored = wf.where(col("freq") >= 2L)
    val nFloored = floored.count()
    println(s"[bpe] freqFloor=2 keeps $nFloored of $distinctWords words " +
      s"(under gate: ${nFloored <= Bpe.DriverMaxRows})")
    val fm = time(s"driver-mem n=$big floored-vocab=$nFloored")(
      Bpe.trainInMemory(
        floored.collect().map(r => (r.getString(0), r.getLong(1))), big))
    println(s"[bpe] floored trained ${fm.size} merges; last=${fm.last}")
    // batch width on a 26-letter natural-shaped vocabulary (the
    // md5-hex one above is the tie-heavy worst case): same A/B on the
    // LCG Zipf vocab as a DataFrame
    import spark.implicits._
    val natWf = words.toSeq.toDF("w", "freq").repartition(32).localCheckpoint()
    var natRounds = 0
    val nb = time(s"distrib-batched nat-vocab n=$distMerges")(
      Bpe.trainDistributed(natWf, distMerges, onRound = (r, _) => natRounds = r))
    println(f"[bpe] nat-vocab batched rounds=$natRounds avgBatch=${distMerges.toDouble / natRounds}%.1f")
    val ns = time(s"distrib-single  nat-vocab n=$distMerges")(
      Bpe.trainDistributed(natWf, distMerges, batchTopK = 1))
    assert(nb == ns, s"nat-vocab batched/single divergence")
    println(s"[bpe] nat-vocab batched ≡ single over $distMerges merges OK")
    spark.stop()
  }
}
