package perfbench

/** Prints the engine's declared query keys and their DuckDB oracle SQL as
  * one JSON object, `{"key": "sql" | null, ...}`, for `freeze.py`. */
object Keys {
  def main(args: Array[String]): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    val keys = graft.SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Json.obj(keys.map(k => k -> oracles.get(k)): _*))
  }
}
