package graft.tools

import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** State-size scaling evidence for the event-time-TTL stateful paths
  * (round 17, VERDICT r16 #6): q163's debounce lanes (8 B of state per
  * live (user, type) lane) and q176's attribution touches (16 B per
  * live user). SCALING.md's per-lane byte claims were asserted from the
  * state encoders; this tool MEASURES them — live-lane count vs the
  * state operator's reported rows and bytes across the three testdata
  * SFs (a 100× span), so the "state is lane-bound, not event-bound"
  * scaling argument carries numbers.
  *
  * Eviction behavior (rows leaving state when the watermark passes a
  * lane's TTL) is asserted separately by StreamingSpec's multi-batch
  * MemoryStream fixtures; an AvailableNow drain of a static table holds
  * every lane live (the watermark is still at its initial value while
  * the only data batch processes), which is exactly what makes the
  * rows≈lanes equality here a meaningful meter.
  *
  * Usage: `sbt "runMain graft.tools.StateCurve"` (~1 min).
  */
object StateCurve {

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark(graft.LocalSpark.defaultCpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // drains on the catalog's streaming source and driver, as q163 and
    // q176 run, then reads the state operator from the query's progress
    def stateOf(name: String, transformed: DataFrame): (Long, Long) =
        graft.ops.RunScope.keyed(s"StateCurve.$name") {
      val q = StreamingOps.drain(transformed, StreamingOps.Memory("append"))
      val ops = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).map(_.stateOperators(0))
      // fail loudly, never fabricate: a missing state operator (plan
      // refactored stateless, progress rolled past retention) or an
      // empty state would otherwise print negative/Infinity evidence
      // numbers that look plausible enough to land in SCALING.md
      require(ops.nonEmpty,
        s"$name: no progress entry carries a state operator — " +
          "the measured plan is not the stateful path")
      val rows = ops.get.numRowsTotal
      require(rows > 0, s"$name: state is empty (rows=$rows) — " +
        "nothing to meter")
      (rows, ops.get.memoryUsedBytes)
    }

    println(f"${"path"}%-12s ${"sf"}%-8s ${"lanes"}%9s ${"stateRows"}%10s " +
      f"${"stateKB"}%9s ${"B/lane"}%7s")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val d = s"/root/testdata/$sf"
      val ev = graft.schema.Tables.events(spark, d)

      // q163's lanes: distinct (user, type)
      val lanesDeb = ev.select(col("user_id"), col("event_type"))
        .distinct().count()
      val (rowsDeb, bytesDeb) = stateOf(s"sc_deb_${sf.replace('.', '_')}",
        StreamingOps.debounceLanes(
          StreamingOps.tableStream(spark, d, "events")
            .withWatermark("ts", "0 seconds")
            .select(col("user_id").as("uid"), col("event_type").as("et"),
              col("ts"), col("event_id"))
            .as[(Long, String, java.sql.Timestamp, Long)],
          gapSec = 3600.0, ttlSec = 30 * 86400.0)
          .toDF("event_type", "event_id"))
      println(f"${"debounce"}%-12s $sf%-8s $lanesDeb%9d $rowsDeb%10d " +
        f"${bytesDeb / 1024.0}%9.1f ${bytesDeb * 1.0 / rowsDeb}%7.1f")

      // q176's lanes: users with >= 1 touch (click/view)
      val lanesAtt = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id")).distinct().count()
      val (rowsAtt, bytesAtt) = stateOf(s"sc_att_${sf.replace('.', '_')}",
        StreamingOps.attributeTouches(
          StreamingOps.tableStream(spark, d, "events")
            .withWatermark("ts", "0 seconds")
            .select(col("user_id").as("uid"), col("event_type").as("et"),
              col("ts"), col("event_id"),
              expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
            .as[(Long, String, java.sql.Timestamp, Long,
              java.lang.Long)],
          windowSec = 7 * 86400.0, ttlSec = 7 * 86400.0)
          .toDF("channel", "cents"))
      println(f"${"attribution"}%-12s $sf%-8s $lanesAtt%9d $rowsAtt%10d " +
        f"${bytesAtt / 1024.0}%9.1f ${bytesAtt * 1.0 / rowsAtt}%7.1f")
    }
    spark.stop()
  }
}
