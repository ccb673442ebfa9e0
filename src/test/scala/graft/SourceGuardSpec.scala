package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one session factory, one listener meter, one residency
  * mechanism, one streaming driver and one bounded driver collect: a
  * session builder, listener subclass, local checkpoint, temp-dir
  * creation, stream source/sink, limit-then-collect probe or
  * one-partition read anywhere else under src/main fails the build, so
  * the per-tool copies cannot grow back. Session-free source scan, like
  * CatalogIndexSpec's.
  */
class SourceGuardSpec extends AnyFunSuite {

  /** The .scala files under src/ with a line matching `pattern`. */
  private def filesMatching(pattern: String): Seq[String] = {
    val re = pattern.r
    Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filter { p: Path =>
        Files.readAllLines(p).asScala.exists(re.findFirstIn(_).isDefined)
      }
      .map(_.toString).sorted
  }

  test("one session builder (LocalSpark) and one SparkListener (Meter)") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""") ===
      Seq("src/main/scala/graft/LocalSpark.scala"))
    assert(filesMatching(
      """(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""") ===
      Seq("src/main/scala/graft/tools/Meter.scala"))
  }

  test("one residency mechanism (RunScope): every local checkpoint and " +
      "scratch dir under src/main goes through it") {
    val runScope = Seq("src/main/scala/graft/ops/RunScope.scala")
    assert(filesMatching("""localCheckpoint\(""")
      .filter(_.startsWith("src/main")) === runScope)
    assert(filesMatching("""createTempDirectory""")
      .filter(_.startsWith("src/main")) === runScope)
  }

  test("one streaming driver (StreamingOps.drain): every stream under " +
      "src/main is read and started in StreamingOps") {
    val streamingOps = Seq("src/main/scala/graft/streaming/StreamingOps.scala")
    assert(filesMatching("""\breadStream\b""")
      .filter(_.startsWith("src/main")) === streamingOps)
    assert(filesMatching("""\bwriteStream\b""")
      .filter(_.startsWith("src/main")) === streamingOps)
  }

  test("one bounded driver collect (Gates.collectBounded): no hand-rolled " +
      "limit probe and no one-partition read under src/main") {
    val limitProbe = """\.limit\(.*\)\s*\.\s*(collect|count)\(\)"""
    val probes = Seq("in.coalesce(1).limit(probeLimit(gate)).collect()",
      "df.limit(MaxRows.toInt + 1).count() <= MaxRows")
    assert(probes.forall(limitProbe.r.findFirstIn(_).isDefined))
    // HeavyHitters' top-k cut is a limit inside the plan, not a probe
    assert(limitProbe.r.findFirstIn(".limit(k + 1).agg(when(count(lit(1)) " +
      "=== k + 1, min(col(\"cnt\"))))").isEmpty)
    val gates = "src/main/scala/graft/ops/Gates.scala"
    def inMain(pattern: String) =
      filesMatching(pattern).filter(_.startsWith("src/main"))
    assert(inMain(limitProbe).filterNot(_ == gates) === Nil)
    // Verify writes each query's dump as one file
    assert(inMain("""coalesce\(1\)""").filterNot(Set(gates,
      "src/main/scala/graft/Verify.scala")) === Nil)
  }

  /** Each `read ... .parquet(` chain in `text` (continuation lines start
    * with a dot) that sets no schema: those run Spark's schema-inference
    * job. */
  private def schemalessParquetReads(text: String): Seq[String] =
    """\bread\b((?:[^\n]|\n\s*(?=\.))*?)\.\s*parquet\s*\(""".r
      .findAllMatchIn(text).filterNot(_.group(1).contains(".schema("))
      .map(_.matched).toSeq

  test("every parquet read under src/main/scala/graft/jobs passes a schema, " +
      "so the ingestion path runs no schema-inference job") {
    assert(schemalessParquetReads("spark.read.parquet(p)").size === 1)
    assert(schemalessParquetReads("spark.read\n  .option(\"a\", 1)\n" +
      "  .parquet(p)").size === 1)
    assert(schemalessParquetReads("spark.read.schema(s).parquet(p)").isEmpty)
    val jobs = Files.walk(Paths.get("src/main/scala/graft/jobs")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(jobs.nonEmpty)
    val found = jobs.flatMap(p =>
      schemalessParquetReads(new String(Files.readAllBytes(p), "UTF-8"))
        .map(m => s"$p: $m"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
