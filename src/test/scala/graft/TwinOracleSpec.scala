package graft

import org.scalatest.funsuite.AnyFunSuite

/** A streaming or maintaining twin states the same rule as its batch
  * query, so the two must hand DuckDB the same oracle text: a copy that
  * drifts (a reformatted CTE, a changed threshold) would let one engine
  * path be checked against a different rule than the other. Session-free,
  * like CatalogIndexSpec.
  */
class TwinOracleSpec extends AnyFunSuite {

  /** (twin, batch rule) by query-number prefix. */
  private val twins = Seq(
    // streaming twins
    "q61" -> "q51", "q63" -> "q60", "q64" -> "q80", "q65" -> "q62",
    "q66" -> "q90", "q67" -> "q47", "q68" -> "q38", "q107" -> "q104",
    "q108" -> "q44", "q109" -> "q34c", "q112" -> "q76", "q116" -> "q115",
    "q131" -> "q128", "q134" -> "q130", "q137" -> "q121", "q140" -> "q139",
    "q145" -> "q141", "q146" -> "q45", "q163" -> "q162", "q170" -> "q168",
    "q176" -> "q175", "q188" -> "q58", "q192" -> "q191", "q194" -> "q193",
    "q202" -> "q199", "q204" -> "q203", "q208" -> "q206", "q211" -> "q129",
    "q212" -> "q58",
    // indexed and maintaining twins
    "q44b" -> "q44", "q45b" -> "q45", "q117" -> "q78", "q144" -> "q45",
    "q160" -> "q159", "q187" -> "q58", "q207" -> "q206", "q209" -> "q129")

  private def named(prefix: String): String = {
    val hits = SparkEntry.catalog.map(_.name).filter(_.startsWith(prefix + "_"))
    assert(hits.size == 1, s"$prefix names ${hits.size} queries")
    hits.head
  }

  test("every twin's oracle is its batch rule's") {
    val oracle = SparkEntry.oracleSql
    twins.foreach { case (twin, batch) =>
      val (t, b) = (named(twin), named(batch))
      assert(oracle.contains(b), s"$b has no oracle")
      assert(oracle.get(t) == oracle.get(b), s"$t's oracle is not $b's")
    }
  }
}
