package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The shared memo-maintenance helper behind the three dimension memos
  * (DagClosure.descendantsCache, AnnotationPipeline.fixpointCache /
  * xdbGuardCache): identity-keyed entries must not outlive their owning
  * SparkSession, and an unbounded spec-churn cache clears wholesale.
  *
  * NOT a [[SparkSpec]]: the stopped-session scenario must stop a session,
  * and caching the fixture's lazy `spark` reference would leave later
  * tests (or a reordered run) holding a dead session. Every test here
  * resolves the live session through [[SparkSpec.session]] at call time,
  * and the stop test restores through the same factory, so suite
  * isolation doesn't depend on execution order or hand-copied config.
  */
class MemoSpec extends AnyFunSuite {

  private def cacheWith(df: DataFrame, n: Int) = {
    val c = new ConcurrentHashMap[(DataFrame, Long), java.lang.Boolean]
    (1 to n).foreach(i => c.put((df, i.toLong), java.lang.Boolean.TRUE))
    c
  }

  test("maintain keeps live-session entries and clears past the cap") {
    val spark = SparkSpec.session()
    import spark.implicits._
    val df = Seq(1, 2).toDF("x")
    val small = cacheWith(df, 3)
    Memo.maintain(small)(_._1.sparkSession)
    assert(small.size === 3, "live-session entries survive maintenance")

    val big = cacheWith(df, 70)
    Memo.maintain(big)(_._1.sparkSession)
    assert(big.isEmpty, "an over-cap cache clears wholesale")
  }

  test("localizeBounded localizes a small frame but returns a frame of " +
      "a few wide rows past the byte bound as the lazy plan") {
    val spark = SparkSpec.session()
    import spark.implicits._
    val small = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val local = Tables.localizeBounded(small)
    assert(local.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(local.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    // 4 rows, far under the row cap, whose collected strings estimate
    // past LocalizeMaxBytes on the driver heap
    val rowBytes = (Tables.LocalizeMaxBytes / 3).toInt
    val wide = spark.range(4).select($"id",
      org.apache.spark.sql.functions.expr(s"repeat('x', $rowBytes)").as("s"))
    assert(Tables.localizeBounded(wide) eq wide)
  }

  test("maintain evicts entries whose owning session has stopped") {
    // stops the JVM's active session (a SparkContext is JVM-global, so a
    // "private" session still shares it), then restores through the same
    // factory later suites use — their getOrCreate sees a live session
    val spark = SparkSpec.session()
    import spark.implicits._
    val df = Seq(1).toDF("x")
    val cache = cacheWith(df, 2)
    spark.stop()
    try {
      Memo.maintain(cache)(_._1.sparkSession)
      assert(cache.isEmpty,
        "entries keyed by frames of a stopped session must be evicted")
    } finally SparkSpec.session()
  }
}
