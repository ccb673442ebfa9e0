package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine operator exercised as a query over the driver testdata.
  *
  * @param name   key in `SparkEntry.queries` (and `BENCH_r{N}.json`)
  * @param fn     Spark-side implementation, (session, sfDir) => result
  * @param oracle equivalent ANSI SQL for DuckDB over the same parquet tables;
  *               None for non-SQL-expressible ops (driver falls back to a
  *               rows-only check)
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Catalog {
  /** Column/row hash-compare requires identical names on both sides; every
    * computed column is aliased identically in the Spark code and the SQL.
    * Each query composes in its own [[graft.ops.RunScope]], keyed by its
    * name: its result stays valid until the same query is composed again.
    */
  def toQueries(qs: Seq[Q]): Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> ((s: SparkSession, d: String) =>
      graft.ops.RunScope.keyed(q.name)(q.fn(s, d)))).toMap

  def toOracle(qs: Seq[Q]): Map[String, String] =
    qs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** A comma-separated list of query-name prefixes ("q01,q45b"), as the
    * `SPARK_GRAFT_ONLY` subset filter and the dev tools' arguments give it. */
  def prefixes(spec: String): Seq[String] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** `SPARK_GRAFT_ONLY`: the dev-only subset filter of Bench, Verify and
    * ScaleCurve. Unset, every query is selected. */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(prefixes)
}
