package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** Contract of COLUMN MAPPING (round-10 verdict item 2 — the Delta
  * column-mapping rung): RENAME/DROP COLUMN are metadata-only commits.
  * The schema of record binds each logical name to the physical column
  * name the parquet files carry (`graft.physical` field metadata);
  * reads translate physical→logical at the scan boundary, writes
  * translate back at the stage boundary, and a dropped physical name is
  * quarantined so a re-added column can never resurrect old values. */
class ColumnMappingSpec extends GraftSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cm").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    Seq((1L, "a", 10.0, 0), (2L, "b", 20.0, 0), (3L, "c", 30.0, 1),
      (4L, "d", 40.0, 1))
      .toDF("id", "v", "price", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    // give the table a #schema of record + id stats via a replace
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      Seq((1L, "a", 10.0, 0), (2L, "b", 20.0, 0), (3L, "c", 30.0, 1),
        (4L, "d", 40.0, 1)).toDF("id", "v", "price", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 2)
    t
  }

  private def dataFileSigs(t: String): Map[String, (Long, Long)] =
    TableCommit.resolve(t).get._2.map { rel =>
      val f = new java.io.File(t, rel)
      rel -> (f.length(), f.lastModified())
    }.toMap

  test("RENAME COLUMN is metadata-only: zero data files touched, rows " +
      "read under the new name, #stats re-key (skipping keeps working), " +
      "the pre-rename snapshot time-travels with the OLD name, and " +
      "writes after the rename round-trip") {
    val t = freshTable()
    val (idBefore, filesBefore) = TableCommit.resolve(t).get
    val sigsBefore = dataFileSigs(t)
    TableCommit.renameColumn(t, "v", "label")
    val (idAfter, filesAfter) = TableCommit.resolve(t).get
    assert(idAfter == idBefore + 1 && filesAfter.toSet == filesBefore.toSet,
      "rename changed the file list")
    assert(dataFileSigs(t) == sigsBefore, "rename rewrote data bytes")
    val rows = TableCommit.read(spark, t)
      .select(col("id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      s"renamed column reads wrong values: $rows")
    assert(!TableCommit.read(spark, t).columns.contains("v"))
    // the pre-rename snapshot still reads under the old name
    assert(TableCommit.readAt(spark, t, idBefore).columns.contains("v"))
    // stats re-keyed: pruning on the KEY column still engages after a
    // rename of the key itself
    TableCommit.renameColumn(t, "id", "doc_id")
    val (kept, total) = TableCommit.pruneAudit(t,
      TableCommit.resolve(t).get._1, "doc_id", BigDecimal(1), BigDecimal(1))
    assert(kept < total, s"stats lost across rename: $kept/$total")
    assert(TableCommit.readWhere(spark, t, "doc_id",
      BigDecimal(1), BigDecimal(2)).count() == 2L)
    // a write AFTER the rename lands under the physical binding and
    // reads back logically — including its own new rows
    TableCommit.appendRows(spark, t, "pt",
      Seq((9L, "z", 90.0, 0)).toDF("doc_id", "label", "price", "pt"),
      clusterBy = Seq("doc_id"))
    val all = TableCommit.read(spark, t)
      .select(col("doc_id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(all == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z")))
    // DML on the mapped table: a CoW update through the renamed key
    TableCommit.update(spark, t, Seq("pt"),
      band("doc_id", BigDecimal(2), BigDecimal(2)), Map("label" -> lit("B")),
      TableCommit.CopyOnWrite)
    assert(TableCommit.read(spark, t).filter(col("doc_id") === 2)
      .select(col("label")).collect().map(_.getString(0)).toSeq == Seq("B"))
  }

  test("DROP COLUMN + re-add does NOT resurrect old values: the dropped " +
      "physical is quarantined, the re-added column reads null for old " +
      "files and real values for new ones") {
    val t = freshTable()
    val sigsBefore = dataFileSigs(t)
    TableCommit.dropColumn(t, "v")
    assert(dataFileSigs(t) == sigsBefore, "drop rewrote data bytes")
    assert(!TableCommit.read(spark, t).columns.contains("v"))
    // re-add the same logical name via schema evolution
    TableCommit.appendRows(spark, t, "pt",
      Seq((5L, 50.0, 0, "fresh")).toDF("id", "price", "pt", "v"),
      clusterBy = Seq("id"))
    val got = TableCommit.read(spark, t)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(got(5L).contains("fresh"), s"re-added column lost new value: $got")
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_).isEmpty),
      s"dropped values resurrected: $got")
    // and a MoR delete on the evolved mapped table still works
    val a = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(1), BigDecimal(1)), TableCommit.MergeOnRead)
    assert(a.rowsDeleted == 1L)
    assert(TableCommit.read(spark, t).count() == 4L)
  }

  test("TYPE WIDENING is metadata-only: int→long / float→double change " +
      "the schema of record without touching a file — old files upcast " +
      "at the scan, the pre-widen snapshot time-travels narrow, writers " +
      "of either width land, and narrowing/replacement still refuse") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
    val dir = java.nio.file.Files.createTempDirectory("graft_wide").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val seed = Seq((1, 1.5f, 0), (2, 2.5f, 0), (3, 3.5f, 1), (4, 4.5f, 1))
      .toDF("qty", "ratio", "pt")
    seed.repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "10"))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"), seed,
      clusterBy = Seq("qty"), filesPerPartition = 2)
    val (idNarrow, filesNarrow) = TableCommit.resolve(t).get
    val sigs = dataFileSigs(t)
    TableCommit.widenColumnType(t, "qty", LongType)
    TableCommit.widenColumnType(t, "ratio", DoubleType)
    assert(dataFileSigs(t) == sigs, "widening rewrote data bytes")
    assert(TableCommit.resolve(t).get._2.toSet == filesNarrow.toSet)
    // the SAME parquet bytes now read as the wider types
    val widened = TableCommit.read(spark, t)
    assert(widened.schema("qty").dataType == LongType)
    assert(widened.schema("ratio").dataType == DoubleType)
    val rows = widened.select(col("qty"), col("ratio")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows == Set((1L, 1.5), (2L, 2.5), (3L, 3.5), (4L, 4.5)),
      s"upcast read wrong values: $rows")
    // the pre-widen snapshot still reads NARROW
    assert(TableCommit.readAt(spark, t, idNarrow)
      .schema("qty").dataType == IntegerType)
    // a WIDE writer lands values beyond Int range
    TableCommit.appendRows(spark, t, "pt",
      Seq((9000000000L, 9.5, 0)).toDF("qty", "ratio", "pt"),
      clusterBy = Seq("qty"))
    assert(TableCommit.read(spark, t).filter(col("qty") > 100)
      .select(col("qty")).collect().map(_.getLong(0)).toSeq ==
      Seq(9000000000L))
    // a NARROW writer (pre-widening frame shape) still lands; the
    // record keeps the wide type
    TableCommit.appendRows(spark, t, "pt",
      Seq((7, 7.5f, 1)).toDF("qty", "ratio", "pt"), clusterBy = Seq("qty"))
    val after = TableCommit.read(spark, t)
    assert(after.schema("qty").dataType == LongType)
    assert(after.filter(col("qty") === 7).count() == 1L)
    // stats recorded across widths still prune (strings, compared
    // numerically)
    val (kept, total) = TableCommit.pruneAudit(t,
      TableCommit.resolve(t).get._1, "qty", BigDecimal(1), BigDecimal(1))
    assert(kept < total, s"stats lost across widening: $kept/$total")
    // narrowing and replacement refuse; partition column refuses;
    // idempotent re-widen is a no-op commit-wise
    intercept[IllegalArgumentException](
      TableCommit.widenColumnType(t, "qty", IntegerType))
    intercept[IllegalArgumentException](
      TableCommit.widenColumnType(t, "qty", StringType))
    intercept[IllegalArgumentException](
      TableCommit.widenColumnType(t, "pt", LongType))
    val idBefore = TableCommit.resolve(t).get._1
    TableCommit.widenColumnType(t, "qty", LongType)
    assert(TableCommit.resolve(t).get._1 == idBefore, "no-op widen committed")
  }

  test("mapping guards: partition column rename/drop refused; a column " +
      "referenced by a CHECK constraint refused; renaming onto an " +
      "existing name refused") {
    val t = freshTable()
    intercept[IllegalArgumentException](TableCommit.renameColumn(t, "pt", "p2"))
    intercept[IllegalArgumentException](TableCommit.dropColumn(t, "pt"))
    intercept[IllegalArgumentException](TableCommit.renameColumn(t, "v", "id"))
    TableCommit.addConstraint(spark, t, "price_pos", "price >= 0")
    intercept[IllegalArgumentException](TableCommit.dropColumn(t, "price"))
    intercept[IllegalArgumentException](
      TableCommit.renameColumn(t, "price", "amount"))
    TableCommit.dropConstraint(t, "price_pos")
    TableCommit.renameColumn(t, "price", "amount") // now fine
    assert(TableCommit.read(spark, t).columns.contains("amount"))
  }

  test("a DROP COLUMN landing between a writer's stage and publish " +
      "CONFLICTS the writer — rebasing would re-bind the staged column " +
      "to the quarantined physical and resurrect dropped values") {
    val t = freshTable()
    // writer appends a frame carrying column v; its stage evaluation
    // parks (static rendezvous) while dropColumn(v) lands
    val slow = org.apache.spark.sql.functions.udf(
      (id: Long) => ColumnMappingSpecDropRace.park(id))
    val df = Seq((9000L, "late", 95.0, 0)).toDF("id", "v", "price", "pt")
      .withColumn("id", slow(col("id")))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w = new Thread(() =>
      try TableCommit.appendRows(spark, t, "pt", df)
      catch { case e: Throwable => err.set(e) })
    w.start()
    assert(ColumnMappingSpecDropRace.staged
        .await(60, java.util.concurrent.TimeUnit.SECONDS),
      "writer never reached its stage write")
    TableCommit.dropColumn(t, "v")
    ColumnMappingSpecDropRace.gate.countDown()
    w.join(120000)
    assert(err.get() != null &&
      err.get().isInstanceOf[TableCommit.CommitConflictException],
      s"writer re-bound a dropped physical: ${Option(err.get())}")
    // nothing resurrected: v is gone, and re-adding it reads null for
    // every pre-drop row
    assert(!TableCommit.read(spark, t).columns.contains("v"))
    TableCommit.appendRows(spark, t, "pt",
      Seq((5L, 50.0, 0, "fresh")).toDF("id", "price", "pt", "v"))
    val got = TableCommit.read(spark, t)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(got(5L).contains("fresh") &&
      Seq(1L, 2L, 3L, 4L).forall(got(_).isEmpty),
      s"dropped values resurrected after the race: $got")
  }

  test("the mapping survives CLONE, RESTORE and the change feed: a clone " +
      "reads logical names; restore rolls the rename back and forward " +
      "states stay readable; changeFeed across a post-rename commit " +
      "emits the logical schema") {
    val t = freshTable()
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "8"))
    TableCommit.renameColumn(t, "v", "label")
    val renamedId = TableCommit.resolve(t).get._1
    // clone carries the mapped schema
    val dst = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_cmc").toFile,
      "clone").getAbsolutePath
    TableCommit.cloneTo(t, dst)
    assert(TableCommit.read(spark, dst).columns.contains("label"))
    assert(TableCommit.read(spark, dst).count() == 4L)
    // a post-rename append, then the feed between renamed and appended
    TableCommit.appendRows(spark, t, "pt",
      Seq((7L, "g", 70.0, 1)).toDF("id", "label", "price", "pt"),
      clusterBy = Seq("id"))
    val feed = TableCommit.changeFeed(spark, t, renamedId,
      TableCommit.resolve(t).get._1)
    assert(feed.columns.contains("label") && !feed.columns.contains("v"))
    val ins = feed.filter(col("_change_type") === "insert")
      .select(col("id"), col("label")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ins == Set((7L, "g")), s"feed across mapping wrong: $ins")
    // restore to the PRE-rename snapshot: data and schema roll back
    TableCommit.restore(t, renamedId - 1)
    assert(TableCommit.read(spark, t).columns.contains("v") &&
      !TableCommit.read(spark, t).columns.contains("label"))
    assert(TableCommit.read(spark, t).count() == 4L)
  }

  private def nestedTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmn").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val df = Seq((1L, 10, "x1", 0), (2L, 20, "x2", 0),
      (3L, 30, "x3", 1), (4L, 40, "x4", 1))
      .toDF("id", "a", "b", "pt")
      .select(col("id"), struct(col("a"), col("b")).as("props"), col("pt"))
    df.repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"), df,
      clusterBy = Seq("id"), filesPerPartition = 2)
    t
  }

  test("NESTED RENAME is metadata-only: props.a -> props.score reads old " +
      "files under the new name, zero bytes rewritten, survives CLONE " +
      "and the CHANGE FEED, and post-rename appends round-trip") {
    val t = nestedTable()
    val sigsBefore = dataFileSigs(t)
    TableCommit.renameColumn(t, "props.a", "score")
    assert(dataFileSigs(t) == sigsBefore, "nested rename rewrote bytes")
    def scores(tbl: String): Set[(Long, Int, String)] =
      TableCommit.read(spark, tbl)
        .select(col("id"), col("props.score"), col("props.b"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(scores(t) == Set((1L, 10, "x1"), (2L, 20, "x2"),
      (3L, 30, "x3"), (4L, 40, "x4")))
    // a post-rename APPEND writes under the new logical name; its file
    // carries the PHYSICAL nested name, so old and new files read alike
    val more = Seq((5L, 50, "x5", 0)).toDF("id", "score", "b", "pt")
      .select(col("id"), struct(col("score"), col("b")).as("props"),
        col("pt"))
    TableCommit.appendRows(spark, t, "pt", more)
    assert(scores(t).contains((5L, 50, "x5")))
    // CLONE: the binding rides the schema JSON — the clone reads the
    // shared bytes under the renamed view
    val dst = new java.io.File(new java.io.File(t).getParentFile,
      "clone").getAbsolutePath
    TableCommit.cloneTo(t, dst)
    assert(scores(dst) == scores(t))
    // CHANGE FEED across a post-rename MoR delete: change rows carry
    // the renamed struct
    val (fromId, _) = TableCommit.resolve(t).get
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(2), BigDecimal(2)), TableCommit.MergeOnRead)
    val (toId, _) = TableCommit.resolve(t).get
    val feed = TableCommit.changeFeed(spark, t, fromId, toId)
      .select(col("id"), col("props.score"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(feed == Set((2L, 20, "delete")))
  }

  test("write-path order guard: a REORDERED struct under a nested " +
      "binding is refused loudly (the positional physical cast would " +
      "cross-map values)") {
    val t = nestedTable()
    TableCommit.renameColumn(t, "props.a", "score")
    val reordered = Seq((7L, "x7", 70, 0)).toDF("id", "b", "score", "pt")
      .select(col("id"), struct(col("b"), col("score")).as("props"),
        col("pt"))
    val e = intercept[IllegalArgumentException] {
      TableCommit.appendRows(spark, t, "pt", reordered)
    }
    assert(e.getMessage.contains("field ORDER"), e.getMessage)
  }

  test("NESTED WIDENING is metadata-only: props.a int -> long reads OLD " +
      "files upcast at the scan (SPARK-40876 nested capability pinned " +
      "against this build); wider writers land, narrower re-declaration " +
      "stays accepted") {
    val t = nestedTable()
    val sigsBefore = dataFileSigs(t)
    TableCommit.widenColumnType(t, "props.a",
      org.apache.spark.sql.types.LongType)
    assert(dataFileSigs(t) == sigsBefore, "nested widening rewrote bytes")
    def rows(tbl: String): Set[(Long, Long, String)] =
      TableCommit.read(spark, tbl)
        .select(col("id"), col("props.a"), col("props.b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // OLD int32-encoded files read as long under the widened record
    assert(rows(t) == Set((1L, 10L, "x1"), (2L, 20L, "x2"),
      (3L, 30L, "x3"), (4L, 40L, "x4")))
    // a WIDE writer appends a genuinely long value
    val wide = Seq((5L, 5000000000L, "x5", 0)).toDF("id", "a", "b", "pt")
      .select(col("id"), struct(col("a"), col("b")).as("props"), col("pt"))
    TableCommit.appendRows(spark, t, "pt", wide)
    assert(rows(t).contains((5L, 5000000000L, "x5")))
    // a NARROW (int) re-declaration is still accepted — the record's
    // width wins (canWidenDeep through the struct)
    val narrow = Seq((6L, 60, "x6", 1)).toDF("id", "a", "b", "pt")
      .select(col("id"), struct(col("a"), col("b")).as("props"), col("pt"))
    TableCommit.appendRows(spark, t, "pt", narrow)
    assert(rows(t).contains((6L, 60L, "x6")))
    // time travel below the widening still reads (chain reconstructs)
    assert(TableCommit.read(spark, t).count() == 6L)
  }
}

/** JVM-static rendezvous for the stage-vs-dropColumn race test (same
  * shape as TableCommitSpecStageRace: latches cannot ride the task
  * closure). */
object ColumnMappingSpecDropRace {
  val gate = new java.util.concurrent.CountDownLatch(1)
  val staged = new java.util.concurrent.CountDownLatch(1)
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  def park(id: Long): Long = {
    if (fired.compareAndSet(false, true)) {
      staged.countDown()
      gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }
    id
  }

}
