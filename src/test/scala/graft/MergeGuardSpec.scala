package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TableCommit

/** The MERGE source guard computed on the driver from collected rows
  * gives the same accept/refuse decision and the same pruning band as
  * the Spark aggregate it replaced: `count(1)`, `countDistinct(keys)`,
  * `min(lead).cast("string")`, `max(lead).cast("string")`. */
class MergeGuardSpec extends GraftSpec {
  import spark.implicits._

  /** (accepted, band) by the Spark aggregate and by the driver guard. */
  private def both(df: DataFrame, keys: Seq[String]) = {
    val spread = df.repartition(3)
    val r = spread.agg(count(lit(1)), countDistinct(col(keys.head),
        keys.tail.map(col): _*),
      min(col(keys.head)).cast("string"), max(col(keys.head)).cast("string"))
      .collect()(0)
    val keyType = Some(df.schema(keys.head).dataType)
    val old = (r.getLong(0), r.getLong(1) == r.getLong(0),
      TableCommit.mergeBand(keyType, Option(r.getString(2)),
        Option(r.getString(3))))
    val g = TableCommit.mergeGuard(spark, df.schema,
      spread.queryExecution.executedPlan.executeCollect().toSeq, keys)
    val now = (g.rows, g.distinctKeys == g.rows,
      TableCommit.mergeBand(keyType, g.lo, g.hi))
    (old, now, (Option(r.getString(2)), Option(r.getString(3))), (g.lo, g.hi))
  }

  private def same(df: DataFrame, keys: Seq[String], accepted: Boolean,
      banded: Boolean, sameRendering: Boolean = true): Unit = {
    val (old, now, oldLoHi, newLoHi) = both(df, keys)
    assert(now == old, s"${df.schema.simpleString}: driver $now vs Spark $old")
    assert(now._2 == accepted, s"${df.schema.simpleString}: accepted ${now._2}")
    assert(now._3.isDefined == banded, s"${df.schema.simpleString}: band ${now._3}")
    if (sameRendering) assert(newLoHi == oldLoHi)
  }

  test("int, long and decimal keys") {
    same(Seq(3, -1, 7, 0).toDF("k"), Seq("k"), accepted = true, banded = true)
    same(Seq(3, -1, 3).toDF("k"), Seq("k"), accepted = false, banded = true)
    same(Seq(Long.MinValue, 0L, Long.MaxValue).toDF("k"), Seq("k"),
      accepted = true, banded = true)
    same(Seq(BigDecimal("1.50"), BigDecimal("-2.25"), BigDecimal("10.00"))
      .toDF("k").select(col("k").cast("decimal(10,2)").as("k")), Seq("k"),
      accepted = true, banded = true)
    same(Seq(BigDecimal("1.5"), BigDecimal("1.50")).toDF("k")
      .select(col("k").cast("decimal(10,2)").as("k")), Seq("k"),
      accepted = false, banded = true)
  }

  test("string keys, non-ASCII included, order by code point") {
    same(Seq("b", "a", "é", "日本", "z", "￿", "😀").toDF("k"),
      Seq("k"), accepted = true, banded = true)
    same(Seq("日本", "é", "日本").toDF("k"), Seq("k"), accepted = false,
      banded = true)
  }

  test("double keys: -0.0 and 0.0 are one key, NaNs are one key and " +
      "leave the band open") {
    // which of -0.0 and 0.0 a distributed min keeps depends on task
    // order, so only the band is compared
    same(Seq(-0.0, 0.0).toDF("k"), Seq("k"), accepted = false,
      banded = true, sameRendering = false)
    same(Seq(1.5, -2.0, 0.0).toDF("k"), Seq("k"), accepted = true,
      banded = true)
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    same(Seq(Double.NaN, otherNaN).toDF("k"), Seq("k"), accepted = false,
      banded = false)
    same(Seq(Double.NaN, 1.0).toDF("k"), Seq("k"), accepted = true,
      banded = false)
  }

  test("date and TIMESTAMP_NTZ keys") {
    same(Seq("2024-01-02", "1999-12-31", "2030-06-30").toDF("s")
      .select(to_date(col("s")).as("k")), Seq("k"), accepted = true,
      banded = true)
    same(Seq("2024-01-02 10:00:00", "1999-12-31 23:59:59.123456").toDF("s")
      .select(col("s").cast("timestamp_ntz").as("k")), Seq("k"),
      accepted = true, banded = true)
  }

  test("composite keys: a NULL component is refused, a shared prefix is not") {
    same(Seq((1L, Option("a")), (2L, Option.empty[String])).toDF("a", "b"),
      Seq("a", "b"), accepted = false, banded = true)
    same(Seq((1L, "a"), (1L, "b")).toDF("a", "b"), Seq("a", "b"),
      accepted = true, banded = true)
    same(Seq((1L, "a"), (1L, "a")).toDF("a", "b"), Seq("a", "b"),
      accepted = false, banded = true)
  }

  test("an empty source: accepted, no band; a no-op without BY SOURCE, " +
      "the delete-everything sync with it") {
    same(Seq.empty[(Long, String)].toDF("k", "v"), Seq("k"), accepted = true,
      banded = false)
    val t = java.nio.file.Files.createTempDirectory("graft_guard").toFile
      .getAbsolutePath + "/t"
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (0L until 10L).map(i => (i, s"v$i", (i % 2).toInt)).toDF("k", "v", "pt"),
      clusterBy = Seq("k"))
    val id0 = TableCommit.resolve(t).get._1
    val empty = Seq.empty[(Long, String, Int)].toDF("k", "v", "pt")
    val a = TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("k"), empty,
      updateSet = Map("v" -> col("src_v")))
    assert(a.snapshotAfter == id0 && TableCommit.resolve(t).get._1 == id0)
    val b = TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("k"), empty,
      updateSet = Map("v" -> col("src_v")),
      notMatchedBySourceDelete = Some(col("k") < 4L))
    assert(b.rowsDeletedBySource == 4L && b.rowsInserted == 0L, b.toString)
    assert(TableCommit.read(spark, t).select("k").as[Long].collect().toSet ==
      (4L until 10L).toSet)
  }
}
