package graft
import com.fasterxml.jackson.core.io.JsonStringEncoder
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark(LocalSpark.defaultCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (Catalog.only); unset, the full catalog is
    // dumped.
    val only = Catalog.only
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    SparkEntry.queries.keys.toSeq.sorted.filter(selected).foreach { name =>
      // clear per query: persists built inside one query serve its own
      // write, then never accumulate across the 60+-query session
      spark.catalog.clearCache()
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String =
      "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    // A null/empty oracle (e.g. a val-init-order bug making an entry
    // Some(null), round 9) must degrade ONE query to a rows-only check,
    // never NPE the escaper and zero the whole round's compare.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .filter { case (k, v) =>
        val ok = v != null && v.trim.nonEmpty
        if (!ok) System.err.println(s"[verify] $k: null/empty oracle, skipped")
        ok
      }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
