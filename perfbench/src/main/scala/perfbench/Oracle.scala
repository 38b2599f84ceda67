package perfbench

/** Writes the DuckDB oracle SQL of the analytics mix as a JSON object
  * `{query name: sql}`; `perfbench/expected.py` derives the expected
  * check values from it.
  *
  * Usage: `Oracle <out.json>`
  */
object Oracle {
  def main(args: Array[String]): Unit = {
    val entries = Analytics.queries(Analytics.Mix).map { q =>
      Json.str(q.name) + ": " + Json.str(q.oracle.getOrElse(
        throw new IllegalStateException(s"${q.name} has no oracle SQL")))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      entries.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
