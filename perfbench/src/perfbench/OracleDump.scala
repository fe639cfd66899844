package perfbench

/** Prints, as one JSON object, the oracle SQL of the named queries and,
  * for those without one, the row count the program itself returns.
  * `perfbench/expected.py` turns this into `expected_counts.json`.
  *
  * Args: <sf dir> <comma-separated query names>
  */
object OracleDump {
  import BenchMain.jstr

  def main(args: Array[String]): Unit = {
    val data = args(0)
    val names = args(1).split(",").toSeq
    val oracle = graft.SparkEntry.oracleSql
    val (withSql, rowsOnly) = names.partition(oracle.contains)
    val counts = if (rowsOnly.isEmpty) Map.empty[String, Long] else {
      val spark = BenchMain.newSession()
      try rowsOnly.map(n => n -> graft.SparkEntry.queries(n)(spark, data).count()).toMap
      finally spark.stop()
    }
    println(withSql.map(n => s"${jstr(n)}:${jstr(oracle(n))}").mkString("{\"oracle\":{", ",", "},") +
      counts.map { case (n, c) => s"${jstr(n)}:$c" }.mkString("\"program\":{", ",", "}}"))
  }
}
