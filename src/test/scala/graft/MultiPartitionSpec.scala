package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** MULTI-COLUMN partitioning contract (round-11 verdict item 2): the
  * commit verbs over a nested `d=…/s=…` Hive layout — composite leaf
  * replacement, PREFIX replacement/deletion (drop-a-day on a
  * (day, source) table names ONE dir), appends, merge-on-read DML
  * whose deletion-vector keys must span every partition level (the
  * second level alone does not identify a file), MERGE, CDF and
  * clone. Single-column behavior is pinned by every pre-existing
  * suite — these are the two-level twins. */
class MultiPartitionSpec extends GraftSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mp").toFile
    new java.io.File(dir, "table").getAbsolutePath
  }

  /** (id, v, d, s): two partition levels d ∈ {1,2}, s ∈ {a,b}. */
  private def seedDf() = Seq(
    (1L, 10L, 1, "a"), (2L, 20L, 1, "a"),
    (3L, 30L, 1, "b"), (4L, 40L, 1, "b"),
    (5L, 50L, 2, "a"), (6L, 60L, 2, "a"),
    (7L, 70L, 2, "b"), (8L, 80L, 2, "b"))
    .toDF("id", "v", "d", "s")

  private val allLeaves = Seq("d=1/s=a", "d=1/s=b", "d=2/s=a", "d=2/s=b")

  private def seed(t: String): Unit = {
    seedDf().write.mode("overwrite").partitionBy("d", "s").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitionsBy(spark, t, Seq("d", "s"), allLeaves,
      seedDf(), clusterBy = Seq("id"), filesPerPartition = 2)
  }

  private def rows(t: String): Set[(Long, Long, Int, String)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("d").cast("int"), col("s"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))).toSet

  test("two-level layout: every data file lives under d=…/s=… and the " +
      "manifest carries the full relative paths") {
    val t = freshTable(); seed(t)
    val (_, files) = TableCommit.resolve(t).get
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(f.matches("d=[12]/s=[ab]/.+\\.parquet"), f)
      assert(TableCommit.partitionDirOf(f).matches("d=[12]/s=[ab]"), f)
    }
    assert(rows(t) == seedDf().collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))).toSet)
  }

  test("composite LEAF replacement swaps exactly one (d, s) partition; " +
      "sibling leaves byte-untouched") {
    val t = freshTable(); seed(t)
    val before = TableCommit.resolve(t).get._2
      .filterNot(_.startsWith("d=1/s=b/")).toSet
    TableCommit.replacePartitionsBy(spark, t, Seq("d", "s"), Seq("d=1/s=b"),
      Seq((30L, 300L, 1, "b"), (31L, 310L, 1, "b")).toDF("id", "v", "d", "s"))
    val after = TableCommit.resolve(t).get._2
    assert(after.filterNot(_.startsWith("d=1/s=b/")).toSet == before,
      "files outside the replaced leaf changed")
    assert(rows(t) == Set(
      (1L, 10L, 1, "a"), (2L, 20L, 1, "a"),
      (30L, 300L, 1, "b"), (31L, 310L, 1, "b"),
      (5L, 50L, 2, "a"), (6L, 60L, 2, "a"),
      (7L, 70L, 2, "b"), (8L, 80L, 2, "b")))
  }

  test("PREFIX replacement: dirty dir d=2 covers every s=* leaf under " +
      "it — drop-a-day semantics (replace with empty = partition delete)") {
    val t = freshTable(); seed(t)
    TableCommit.replacePartitionsBy(spark, t, Seq("d", "s"), Seq("d=2"),
      seedDf().filter(lit(false)))
    assert(rows(t) == Set(
      (1L, 10L, 1, "a"), (2L, 20L, 1, "a"),
      (3L, 30L, 1, "b"), (4L, 40L, 1, "b")))
    assert(TableCommit.resolve(t).get._2.forall(_.startsWith("d=1/")))
  }

  test("prefix-overlap OCC: a racing replace of d=1 conflicts with a " +
      "pinned replace of the d=1/s=a leaf underneath it") {
    val t = freshTable(); seed(t)
    val (baseId, _) = TableCommit.resolve(t).get
    // winner replaces the whole d=1 prefix
    TableCommit.replacePartitionsBy(spark, t, Seq("d", "s"), Seq("d=1"),
      Seq((90L, 900L, 1, "a")).toDF("id", "v", "d", "s"))
    // loser derived its leaf replacement from the pre-winner snapshot
    intercept[TableCommit.CommitConflictException] {
      TableCommit.replacePartitionsBy(spark, t, Seq("d", "s"),
        Seq("d=1/s=a"),
        Seq((91L, 910L, 1, "a")).toDF("id", "v", "d", "s"),
        readSnapshot = Some(baseId))
    }
  }

  test("blind append lands in nested dirs; clean leaves untouched") {
    val t = freshTable(); seed(t)
    TableCommit.appendRowsBy(spark, t, Seq("d", "s"),
      Seq((9L, 90L, 2, "b")).toDF("id", "v", "d", "s"),
      clusterBy = Seq("id"))
    assert(rows(t).contains((9L, 90L, 2, "b")))
    assert(rows(t).size == 9)
  }

  test("MoR delete on a two-level table: DV keys span all partition " +
      "levels — only the banded rows die, every leaf keeps its files") {
    val t = freshTable(); seed(t)
    val filesBefore = TableCommit.resolve(t).get._2.toSet
    val a = TableCommit.delete(spark, t, Seq("d", "s"),
      band("id", BigDecimal(3), BigDecimal(6)), TableCommit.MergeOnRead)
    assert(a.rowsDeleted == 4L)
    assert(TableCommit.resolve(t).get._2.toSet == filesBefore,
      "MoR delete rewrote a data file")
    assert(rows(t) == Set(
      (1L, 10L, 1, "a"), (2L, 20L, 1, "a"),
      (7L, 70L, 2, "b"), (8L, 80L, 2, "b")))
  }

  test("MoR update SET of a partition LEVEL moves rows across nested " +
      "dirs (kill-and-re-add); CoW update refuses it") {
    val t = freshTable(); seed(t)
    val a = TableCommit.update(spark, t, Seq("d", "s"),
      band("id", BigDecimal(1), BigDecimal(2)), Map("s" -> lit("b")),
      TableCommit.MergeOnRead)
    assert(a.rowsUpdated == 2L)
    assert(rows(t).contains((1L, 10L, 1, "b")))
    assert(rows(t).contains((2L, 20L, 1, "b")))
    intercept[IllegalArgumentException] {
      TableCommit.update(spark, t, Seq("d", "s"),
        band("id", BigDecimal(7), BigDecimal(7)), Map("s" -> lit("a")),
        TableCommit.CopyOnWrite)
    }
  }

  test("three-clause MERGE commits against the nested layout") {
    val t = freshTable(); seed(t)
    val src = Seq(
      (1L, 11L, 1, "a", "U"), (8L, 0L, 2, "b", "D"),
      (9L, 90L, 2, "a", "I")).toDF("id", "v", "d", "s", "op")
    val m = TableCommit.mergeIntoBy(spark, t, Seq("d", "s"), "id", src,
      updateSet = Map("v" -> col("src_v")),
      deleteWhen = Some(col("src_op") === "D"))
    assert(m.rowsUpdated == 1L && m.rowsDeleted == 1L && m.rowsInserted == 1L)
    assert(rows(t).contains((1L, 11L, 1, "a")))
    assert(!rows(t).exists(_._1 == 8L))
    assert(rows(t).contains((9L, 90L, 2, "a")))
  }

  test("change feed across a two-level MoR commit satisfies the apply " +
      "equation; clone of the nested table shares bytes and diverges") {
    val t = freshTable(); seed(t)
    val (fromId, _) = TableCommit.resolve(t).get
    TableCommit.delete(spark, t, Seq("d", "s"),
      band("id", BigDecimal(5), BigDecimal(6)), TableCommit.MergeOnRead)
    val (toId, _) = TableCommit.resolve(t).get
    val feed = TableCommit.changeFeed(spark, t, fromId, toId)
      .select(col("id"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((5L, "delete"), (6L, "delete")))
    val dst = new java.io.File(
      new java.io.File(t).getParentFile, "clone").getAbsolutePath
    TableCommit.cloneTo(t, dst)
    assert(rows(dst) == rows(t))
    TableCommit.replacePartitionsBy(spark, dst, Seq("d", "s"), Seq("d=1"),
      Seq((99L, 990L, 1, "a")).toDF("id", "v", "d", "s"))
    assert(rows(t) != rows(dst))
    assert(rows(t).contains((1L, 10L, 1, "a")))
  }

  test("#bytes entries cover fresh files of a nested-layout commit and " +
      "match the store's sizes") {
    val t = freshTable(); seed(t)
    val id = TableCommit.resolve(t).get._1
    val bytes = TableCommit.fileBytesAt(t, id)
    val files = TableCommit.resolve(t).get._2
    files.foreach { f =>
      assert(bytes.contains(f), s"no #bytes for $f")
      assert(bytes(f) == TableCommit.statFileSize(t, f))
    }
  }
  test("layout-depth guard: a single-column append to a two-level table " +
      "is REFUSED before any file moves (wrong partCols arity would " +
      "silently break DV/hit-scan keys)") {
    val t = freshTable(); seed(t)
    val e = intercept[IllegalArgumentException] {
      TableCommit.appendRows(spark, t, "d",
        Seq((9L, 90L, 2, "b")).toDF("id", "v", "d", "s"))
    }
    assert(e.getMessage.contains("partition-depth mismatch"))
    // the table is untouched
    assert(rows(t).size == 8)
  }

}
