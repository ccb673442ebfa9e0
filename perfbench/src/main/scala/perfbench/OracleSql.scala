package perfbench

import java.io.File

/** Writes `SparkEntry.oracleSql` as a JSON object to the path in args(0). */
object OracleSql {
  def main(args: Array[String]): Unit = {
    Main.json.writeValue(new File(args(0)), graft.SparkEntry.oracleSql)
  }
}
