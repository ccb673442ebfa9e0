package graft

import graft.expr.{HotShingles, MinHashExprs}
import graft.ops.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one-pass MinHash banding kernel against the relational formulation
  * it replaced: exploded postings, a broadcast anti-join on the hot list,
  * the rarest-hot floor rescue as a window, 96 `min(xxhash64(lit(h), s))`
  * aggregates and 32 `xxhash64(b, array_join(…))` band keys. That
  * formulation lives only here, as the reference. Every comparison is
  * row for row on (doc_id, band, bucket): the written index tables, the
  * ArtifactCache tags and the recall pins all assume these exact bytes.
  */
class MinHashKernelSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val cap = 16

  // ---- the reference formulation -------------------------------------

  private def refHot(docs: DataFrame): DataFrame =
    docs.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > cap)

  private def refKept(docs: DataFrame, hot: DataFrame): DataFrame = {
    val posts = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val kept = posts.join(broadcast(hot), Seq("s"), "left_anti")
    val nHot = posts.join(broadcast(hot), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("_n_hot"))
    val need = docs.select(col("doc_id"), size(col("sh")).as("_sz"))
      .join(nHot, Seq("doc_id"))
      .select(col("doc_id"),
        (lit(TextOps.DfFloor.toLong) - (col("_sz") - col("_n_hot")))
          .as("_need"))
      .filter(col("_need") > 0)
    val rescued = posts
      .join(broadcast(need), Seq("doc_id"))
      .join(broadcast(hot), Seq("s"))
      .withColumn("_rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("_df").asc, col("s").asc)))
      .filter(col("_rk") <= col("_need"))
      .select(col("doc_id"), col("s"))
    kept.select(col("doc_id"), col("s")).unionByName(rescued)
  }

  private def refBands(kept: DataFrame): DataFrame =
    kept.groupBy(col("doc_id"))
      .agg(array((0 until 96).map(h =>
        min(xxhash64(lit(h), col("s")))): _*).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(31)), b =>
          xxhash64(b, array_join(
            transform(slice(col("sig"), b * 3 + 1, lit(3)),
              x => x.cast("string")), "_"))))
          .as(Seq("band", "bucket")))

  // ---- fixtures ------------------------------------------------------

  private def rows(df: DataFrame): Seq[(Long, Int, Long)] =
    df.select(col("doc_id"), col("band"), col("bucket"))
      .as[(Long, Int, Long)].collect().toSeq.sorted

  private def shingled(rows: Seq[(Long, String)]) =
    TextOps.fingerprints(rows.toDF("doc_id", "text"))

  private val boiler = "zorple quandric flumina vexatron brillig slithy " +
    "toves gyre gimble wabe mimsy borogoves outgrabe raths"
  private val tail = " this document is provided as is without any warranty"

  /** Every rescue shape in one corpus, over a 100-doc background that
    * carries a corpus-hot tail (df 100+):
    *  - docs 1-18: an identical 18-way class — every shingle hot
    *    (df 18+), so the whole floor comes from the rescue;
    *  - doc 19: 4 cold shingles and only 2 hot ones — fewer hot than the
    *    floor needs, so both are rescued;
    *  - doc 20: 5 cold shingles and hot ones at three df levels (the class
    *    phrase's two and the background tail) — the top-up ranks by (df, s);
    *  - docs 21-22: fewer than 3 tokens — no shingles, no bands. */
  private lazy val corpus: Seq[(Long, String)] = {
    val background = spark.read.parquet(s"$sf/documents.parquet").limit(100)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => (id + 10000L, t + tail) }.toSeq
    (1L to 18L).map(i => (i, boiler)) ++ Seq(
      (19L, "needa needb needc needd " +
        boiler.split(" ").take(4).mkString(" ")),
      (20L, "mixa mixb mixc " + boiler.split(" ").take(6).mkString(" ") +
        tail),
      (21L, "two words"),
      (22L, "")) ++ background
  }

  test("frozen-hot banding equals the aggregate formulation row for row, " +
      "across floor rescue, partial top-up and short docs") {
    val sh = shingled(corpus).persist()
    val hot = refHot(sh).persist()
    val got = rows(TextOps.bandedSignaturesFrozenHot(sh, hot))
    assert(got === rows(refBands(refKept(sh, hot))))
    val ids = got.map(_._1).toSet
    // the all-hot class bands only through the rescue; short docs not
    assert((1L to 20L).forall(ids.contains))
    assert(!ids.contains(21L) && !ids.contains(22L))
    assert(got.count(_._1 == 1L) === 32)
    sh.unpersist(); hot.unpersist()
  }

  test("in-plan capped banding equals the aggregate formulation row for " +
      "row, and the cap's posting stream equals the anti-join + rescue") {
    val sh = shingled(corpus).persist()
    val hot = refHot(sh).persist()
    assert(hot.count() > 0, "the cap must be exercised")
    assert(rows(TextOps.bandedSignatures(sh, cap)) ===
      rows(refBands(refKept(sh, hot))))
    // the posting cap exactJaccardPairsCapped runs on
    val capped = sh.select(col("doc_id"), explode(MinHashExprs.capped(
      col("sh"), HotShingles.collect(hot), TextOps.DfFloor)).as("s"))
    def posts(df: DataFrame) = df.select(col("doc_id"), col("s"))
      .as[(Long, Long)].collect().toSeq.sorted
    val want = posts(refKept(sh, hot))
    assert(posts(capped) === want)
    // doc 19 keeps its 4 cold shingles and both hot ones; doc 20 its 5
    // cold ones topped up to the floor from 11 hot ones
    assert(posts(capped).count(_._1 == 19L) === 6)
    assert(posts(capped).count(_._1 == 20L) === TextOps.DfFloor)
    sh.unpersist(); hot.unpersist()
  }

  test("the kernel accepts only array<bigint> fingerprints: a string " +
      "shingle array fails analysis") {
    val strings = Seq((1L, Seq("a b c", "b c d"))).toDF("doc_id", "sh")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      strings.select(MinHashExprs.bands(col("sh"), HotShingles.empty,
        TextOps.DfFloor, 96, 3)))
    assert(e.getMessage.contains("graft_shingle_kernel"), e.getMessage)
  }

  test("the written snapshot index and its hot list equal the aggregate " +
      "formulation over the sf0.001 documents snapshot, row for row") {
    val cut = graft.schema.Cuts.documents(spark, sf)
    val snap = TextOps.fingerprints(graft.schema.Tables.documents(spark, sf))
      .filter(col("doc_id") < cut)
    TextOps.writeSnapshotLshIndex(spark, snap, cap, "mhk_snapshot_index")
    val hot = spark.table("mhk_snapshot_index_hot")
    val refHotRows = refHot(snap).as[(Long, Long)].collect().toSeq.sorted
    assert(hot.as[(Long, Long)].collect().toSeq.sorted === refHotRows)
    val got = rows(spark.table("mhk_snapshot_index"))
    assert(got.nonEmpty)
    assert(got === rows(refBands(refKept(snap, refHot(snap)))))
  }
}
