package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

import graft.expressions._
import graft.functions.TextFunctions

/** Per-row cost of the engine's custom text kernels, each evaluated
  * over an in-memory column so the scan is not billed.
  */
object Kernels {

  /** Copies of the corpus stacked into the cached input. */
  val Copies = 4
  val Reps = 3
  val Names: Seq[String] = Seq("MinHashSig", "SimHash64", "LevenshteinBanded", "HtmlExtract", "CharGrams")

  /** (kernel, ns per row): the median of [[Reps]] `noop` writes of the
    * kernel's projection, over the row count.
    */
  def nsPerRow(spark: SparkSession, dataDir: String): Seq[(String, Double)] = {
    val text = col("text")
    val input = graft.core.Tables.documents(spark, dataDir)
      .select(text, explode(sequence(lit(1), lit(Copies))).as("copy"))
      .select(
        text,
        concat(lit("<html><head><title>doc</title><script>var x = 1;</script></head><body><p>"),
          text, lit("</p><!-- note --><br/>&amp;</body></html>")).as("html"),
        TextFunctions.textShingles(text, 3).as("shingles"),
        transform(TextFunctions.tokens(text), t => xxhash64(t)).as("hashes"),
        substring(lower(text), 1, 64).as("a"),
        substring(lower(text), 2, 64).as("b"))
      .cache()
    val rows = input.count()
    def k(e: => org.apache.spark.sql.catalyst.expressions.Expression): Column = column(e)
    val kernels = Names.zip(Seq(
      k(MinHashSig(expression(col("shingles")), 64)),
      k(SimHash64(expression(col("hashes")))),
      k(LevenshteinBanded(expression(col("a")), expression(col("b")), 8)),
      k(HtmlExtractText(expression(col("html")))),
      k(CharGrams(expression(text), 3))))
    try kernels.map { case (name, kernel) =>
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        input.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      name -> Stats.median(times) / rows
    }
    finally input.unpersist(blocking = true)
  }
}
