package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gaf.Constants._
import graft.operators.MergeSink

/** Per-run correctness checks over the committed FULL_ANNOT table. */
object Checks {

  /** The two row hashes the digest sums: a null-marked rendering of
    * every column, in name order, hashed with two seeds.
    */
  private def rowHashes(df: DataFrame): (Column, Column) = {
    val canon = concat_ws("\u0001", df.columns.sorted.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    (xxhash64(canon).cast("decimal(38,0)"),
      xxhash64(lit("perfbench-2"), canon).cast("decimal(38,0)"))
  }

  private def render(r: Row, at: Int): String = {
    def dec(i: Int) = Option(r.getDecimal(i)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(at)}:${dec(at + 1)}:${dec(at + 2)}"
  }

  /** Order-independent digest: row count plus the two hash sums. */
  def digest(df: DataFrame): String = {
    val (h1, h2) = rowHashes(df)
    render(df.agg(count(lit(1)), sum(h1), sum(h2)).head(), 0)
  }

  /** What a workload's runs must show, fixed before timing. */
  final case class Expect(existingRows: Long, incoming: Seq[Long],
                          staleIso: Long, otherRefsDigest: String,
                          pinned: Option[String])

  def otherRefs(df: DataFrame): DataFrame =
    df.filter(!col("ref_rgd_id").isin(Gen.HumanRef, REF_ISO))

  def expect(spark: SparkSession, in: Gen.Inputs,
             pinned: Option[String]): Expect = {
    val existing = spark.read.parquet(in.existing)
    Expect(
      existingRows = existing.count(),
      incoming = Workloads.incomingRows(spark, in),
      staleIso = if (in.workload == "multispecies")
        Gen.expectedStaleIso(existing,
          spark.read.parquet(s"${in.base}/dims/rgd_ids")) else 0L,
      otherRefsDigest = if (in.workload == "weekly_rerun")
        digest(otherRefs(existing)) else "",
      pinned = pinned)
  }

  /** [[expect]], kept beside the inputs it was computed from: it is a
    * function of them and of the program, both fixed in one checkout.
    */
  def expectCached(spark: SparkSession, in: Gen.Inputs,
                   pinned: Option[String]): Expect = {
    val f = java.nio.file.Paths.get(in.dir, "_EXPECT.txt")
    if (java.nio.file.Files.exists(f)) {
      val Array(rows, inc, stale, other) =
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split("\n", -1)
      Expect(rows.toLong, inc.split(",").toSeq.map(_.toLong), stale.toLong,
        other, pinned)
    } else {
      val e = expect(spark, in, pinned)
      java.nio.file.Files.write(f, Seq(e.existingRows.toString,
        e.incoming.mkString(","), e.staleIso.toString, e.otherRefsDigest)
        .mkString("\n").getBytes("UTF-8"))
      e
    }
  }

  /** Failed checks of one run (empty when it is correct) and its digest. */
  def run(spark: SparkSession, workload: String, out: String,
          o: Workloads.Outcome, e: Expect): (Seq[String], String) = {
    val t = spark.read.parquet(out)
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) bad += what

    // one pass grouped on the unique key gives the row count, null keys,
    // duplicate unique keys and the digests of the table and of the
    // rows of other references
    val (h1, h2) = rowHashes(t)
    val other = !col("ref_rgd_id").isin(Gen.HumanRef, REF_ISO)
    val a = t.groupBy(MergeSink.uniqueKey.map(col): _*).agg(
        count(lit(1)).as("n"), count(col("full_annot_key")).as("keys"),
        sum(h1).as("h1"), sum(h2).as("h2"),
        count(when(other, 1)).as("on"), sum(when(other, h1)).as("oh1"),
        sum(when(other, h2)).as("oh2"))
      .agg(sum("n").cast("long"), sum("h1"), sum("h2"),
        sum("on").cast("long"), sum("oh1"), sum("oh2"),
        sum("keys").cast("long"), count(when(col("n") > 1, 1)))
      .head()
    val rows = a.getLong(0)
    val keys = a.getLong(6)
    check(keys == rows, s"null full_annot_key: ${rows - keys}")
    check(a.getLong(7) == 0, s"rows not unique on MergeSink.uniqueKey: ${a.getLong(7)} keys")
    val distinctKeys = t.agg(countDistinct(col("full_annot_key"))).head().getLong(0)
    check(distinctKeys == keys, s"duplicate full_annot_key: ${keys - distinctKeys}")

    val perSpecies = o.species.map(s => Seq("insert", "update", "touch")
      .map(k => s._2.getOrElse(k, 0L)).sum)
    check(perSpecies == e.incoming,
      s"insert+update+touch per species $perSpecies != incoming ${e.incoming}")
    val inserts = o.op("insert")
    check(rows == e.existingRows + inserts - o.deleted,
      s"final rows $rows != existing ${e.existingRows} + inserts $inserts - deleted ${o.deleted}")

    workload match {
      case "weekly_rerun" =>
        Seq("insert", "update", "touch", "keep").foreach(k =>
          check(o.op(k) > 0, s"weekly re-run has no $k"))
        check(o.deleted > 0, "weekly re-run deleted nothing")
        check(o.brakeTrips == 0, "weekly re-run tripped the delete brake")
        check(render(a, 3) == e.otherRefsDigest, "rows of other references changed")
      case "multispecies" =>
        check(o.iso.exists(r => !r.aborted && r.staleCount == e.staleIso),
          s"U5 deleted ${o.iso} instead of the ${e.staleIso} seeded stale ISO rows")
        check(o.brakeTrips == 0, "multi-species run tripped the delete brake")
    }
    val dg = render(a, 0)
    e.pinned.foreach(p => check(p == dg, s"digest $dg != pinned $p"))
    (bad.toSeq, dg)
  }
}
