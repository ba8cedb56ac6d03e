package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of every `query_mix` query as one JSON
  * object to the path in `args(0)` (input of `perfbench/pin_digests.py`).
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = Main.QueryMix.modules.keys.toSeq.sorted.map { n =>
      Main.js(n) + ":" + Main.js(sql(n))
    }.mkString("{", ",", "}")
    Files.write(Paths.get(args(0)), json.getBytes(StandardCharsets.UTF_8))
  }
}
