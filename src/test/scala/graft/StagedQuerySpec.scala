package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** The [[GraftQuery.staged]] lifecycle on a fixture-free query: the
  * build bumps a counter and returns its value, the probe records the
  * value it was handed and returns `spark.range`.
  */
class StagedQuerySpec extends SparkTestBase {

  private final class Probe(name: String, buildFails: Int = 0, probeFails: Int = 0) {
    val builds = new AtomicInteger(0)
    val seen = ArrayBuffer.empty[Int]
    private val buildCalls = new AtomicInteger(0)
    private val probeCalls = new AtomicInteger(0)
    val query: GraftQuery = GraftQuery.staged(
      name,
      (_, _) => {
        if (buildCalls.incrementAndGet() <= buildFails) sys.error("build failed")
        builds.incrementAndGet()
      },
      (s, _, b: Int) => {
        if (probeCalls.incrementAndGet() <= probeFails) sys.error("probe failed")
        seen += b
        s.range(b.toLong).toDF()
      },
      oracle = None)
    def prepare(): Unit = query.prepare.get(spark, "")
    def run(): Long = query.run(spark, "").count()
  }

  test("prepare then run probes the staged build; a second run builds inline") {
    val p = new Probe("staged_a")
    p.prepare()
    assert(p.builds.get == 1)
    assert(p.run() == 1L)
    assert(p.builds.get == 1, "run must consume the staged build, not rebuild")
    assert(p.run() == 2L)
    assert(p.builds.get == 2 && p.seen.toSeq == Seq(1, 2))
  }

  test("a build that throws inside prepare stages nothing; the run builds inline") {
    val p = new Probe("staged_b", buildFails = 1)
    intercept[RuntimeException](p.prepare())
    assert(p.builds.get == 0)
    assert(p.run() == 1L)
    assert(p.builds.get == 1 && p.seen.toSeq == Seq(1))
  }

  test("a probe that throws has consumed the slot; a later run builds fresh") {
    val p = new Probe("staged_c", probeFails = 1)
    p.prepare()
    intercept[RuntimeException](p.run())
    assert(p.run() == 2L)
    assert(p.builds.get == 2 && p.seen.toSeq == Seq(2))
  }

  test("run without prepare builds exactly once") {
    val p = new Probe("staged_d")
    assert(p.run() == 1L)
    assert(p.builds.get == 1 && p.seen.toSeq == Seq(1))
  }
}
