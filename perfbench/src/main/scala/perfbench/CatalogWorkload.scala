package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import Main.Cfg

/** A catalog query served warm. One op = the query function call (`build`,
  * where eager artifact work runs) plus a `noop` write of its result
  * (`serve`), Bench's action. Set-up copies the generated corpus to a
  * fresh directory, so its first execution builds every shared artifact
  * cold, then runs one warm execution, observed as an op's is, so the
  * first timed op is not charged the JIT and codegen of the warm path.
  *
  * Each op's result is checked through an observed checksum (row count and
  * the sum of per-row xxhash64) against the same checksum of the DuckDB
  * answer to `SparkEntry.oracleSql(query)`, aligned to the result schema.
  */
final class CatalogWorkload(cfg: Cfg, tracer: Tracer, query: String)
    extends Workload {

  private val q = graft.SparkEntry.queries(query)
  private var dir = ""
  private var schema: StructType = _
  private var expected: (Long, BigDecimal) = _

  override def setup(s: SparkSession, rep: Int): Unit = {
    val d = cfg.work.resolve(s"rep$rep/data")
    Files.createDirectories(d)
    Files.copy(Paths.get(cfg.docs, "documents.parquet"),
      d.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir = d.toString
    val cold = q(s, dir)
    schema = cold.schema
    Main.noop(cold)
    Main.noop(observed(q(s, dir), s"warm$rep")._1)
  }

  private def checksum(cols: Seq[Column]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))

  /** `df` with its checksum observed on its way into the sink. */
  private def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val sums = checksum(schema.fieldNames.toSeq.map(col))
    (df.observe(obs, sums.head, sums.tail: _*), obs)
  }

  override def prepareChecks(s: SparkSession): Unit = {
    val want = s.read.parquet(cfg.expected)
    require(want.columns.toSet == schema.fieldNames.toSet,
      s"oracle columns ${want.columns.sorted.mkString(",")} != " +
        schema.fieldNames.sorted.mkString(","))
    val aligned = want.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val r = aligned.agg(checksum(aligned.columns.toSeq.map(col)).head,
      checksum(aligned.columns.toSeq.map(col)).tail: _*).head()
    val n = r.getLong(0) + (if (cfg.corruptExpected) 1L else 0L)
    expected = (n, BigDecimal(r.getDecimal(1)))
  }

  override def op(s: SparkSession, k: Int, span: Long): () => OpResult = {
    val df: DataFrame = tracer.span("build", span, k) { id =>
      Main.tagJobs(s, id, k)
      q(s, dir)
    }
    val (out, obs) = observed(df, s"check$k")
    val t0 = System.nanoTime()
    tracer.span("serve", span, k) { id =>
      Main.tagJobs(s, id, k)
      Main.noop(out)
    }
    val serveS = (System.nanoTime() - t0) / 1e9
    () => {
      val got = obs.get
      val n = got("n").asInstanceOf[Long]
      val h = BigDecimal(got("h").asInstanceOf[java.math.BigDecimal])
      val ok = (n, h) == expected
      OpResult(ok, if (ok) "" else s"checksum ($n, $h) != expected $expected",
        Map("rows" -> n.toDouble, "serve_s" -> serveS))
    }
  }

  override def finish(s: SparkSession): Seq[String] = Nil
}
