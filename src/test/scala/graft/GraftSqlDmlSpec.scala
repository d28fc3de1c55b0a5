package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.operators.TableCommit
import graft.plans.GraftCatalog

/** SQL-statement DML on committed tables (round-14): MERGE INTO /
  * DELETE FROM / UPDATE lower onto the TableCommit verbs — effect-
  * identical to the Scala calls BY CONSTRUCTION (same kernel), with
  * the statement returning the verb's audit counters. Pins the
  * lowering (GraftDmlCommand in the plan, no Spark row-level
  * rewrite), the clause matrix, the no-insert MERGE shape, the CoW
  * mode property, and the loud refusals. */
class GraftSqlDmlSpec extends GraftSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dml").toFile
    GraftCatalog.register(spark, "graftdml", Some(dir.getAbsolutePath))
    dir.getAbsolutePath
  }

  private def mkTable(name: String): String = {
    val t = s"$wh/db/$name"
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (0 until 100).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"))
    t
  }

  private def rows(t: String): Set[(Long, String, Int)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("DELETE FROM: lowers to the MoR verb (CoW via graft.dml.mode), " +
      "returns rows_deleted, annotates #op, refuses nothing it shouldn't") {
    val t = mkTable("del")
    val out = spark.sql("DELETE FROM graftdml.db.del WHERE id % 10 = 3 OR v = 'v7'")
    assert(out.columns.toSeq == Seq("rows_deleted"))
    assert(out.head().getLong(0) == 11L)
    assert(rows(t).size == 89 && !rows(t).exists(_._1 == 13L))
    // the statement's plan is the lowered command, not a Spark rewrite
    assert(out.queryExecution.analyzed.toString.contains("GraftDmlCommand"),
      out.queryExecution.analyzed.toString)
    // a MoR vector landed (no data file rewritten)
    assert(new java.io.File(t, "_dv").isDirectory)
    // CoW mode: property flips the kernel
    TableCommit.setProperties(t, Map("graft.dml.mode" -> "cow"))
    val before = TableCommit.resolve(t).get._2.toSet
    assert(spark.sql("DELETE FROM graftdml.db.del WHERE id = 0")
      .head().getLong(0) == 1L)
    assert(TableCommit.resolve(t).get._2.toSet != before,
      "CoW delete rewrote no file")
  }

  test("UPDATE: SET expressions see the pre-update row; WHERE scopes; " +
      "returns rows_updated") {
    val t = mkTable("upd")
    val out = spark.sql(
      "UPDATE graftdml.db.upd SET v = concat(v, '!'), id = id + 1000 " +
        "WHERE pt = 1 AND id < 10")
    assert(out.head().getLong(0) == 5L)
    val got = rows(t)
    assert(got.contains((1001L, "v1!", 1)) && got.contains((1009L, "v9!", 1)))
    assert(got.contains((2L, "v2", 0)), "an unscoped row changed")
    assert(got.size == 100)
  }

  test("MERGE INTO: the full clause set — conditional DELETE first, " +
      "UPDATE SET, INSERT *, audit counters — effect-identical to the " +
      "mergeIntoKeys twin") {
    val t = mkTable("mrg")
    val twin = mkTable("mrg_twin")
    val src = Seq((3L, "U3", 1, "U"), (4L, "U4", 0, "U"),
      (7L, "x", 1, "D"), (500L, "I", 0, "I"))
      .toDF("id", "v", "pt", "op")
    src.createOrReplaceTempView("dml_src")
    val out = spark.sql(
      """MERGE INTO graftdml.db.mrg t USING dml_src s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(out.columns.toSeq == Seq("rows_updated", "rows_deleted",
      "rows_inserted", "rows_deleted_by_source"))
    assert(out.head().toSeq == Seq(2L, 1L, 1L, 0L), out.head().toString)
    // the Scala twin — same kernel, same result
    TableCommit.mergeIntoKeys(spark, twin, Seq("pt"), Seq("id"), src,
      updateSet = Map("v" -> col("src_v")),
      deleteWhen = Some(col("src_op") === "D"))
    assert(rows(t) == rows(twin),
      "SQL MERGE diverged from the Scala verb")
    assert(rows(t).contains((3L, "U3", 1)) && !rows(t).exists(_._1 == 7L) &&
      rows(t).contains((500L, "I", 0)))
  }

  test("MERGE without a NOT MATCHED clause inserts NOTHING (source " +
      "pre-restricted to pinned-snapshot keys); BY SOURCE DELETE lowers") {
    val t = mkTable("mrg_upd_only")
    Seq((5L, "U5", 1, "U"), (700L, "ghost", 0, "I"))
      .toDF("id", "v", "pt", "op").createOrReplaceTempView("dml_src2")
    val out = spark.sql(
      """MERGE INTO graftdml.db.mrg_upd_only t USING dml_src2 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |""".stripMargin)
    assert(out.head().toSeq == Seq(1L, 0L, 0L, 0L), out.head().toString)
    assert(rows(t).contains((5L, "U5", 1)) && !rows(t).exists(_._1 == 700L),
      "an update-only MERGE inserted")
    // BY SOURCE: drop pt=0 rows not re-delivered
    Seq((0L, "k0", 0)).toDF("id", "v", "pt")
      .createOrReplaceTempView("dml_src3")
    val out2 = spark.sql(
      """MERGE INTO graftdml.db.mrg_upd_only t USING dml_src3 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.pt = 0 THEN DELETE
        |""".stripMargin)
    assert(out2.head().getLong(3) == 49L, out2.head().toString)
    assert(rows(t).count(_._3 == 0) == 1)
  }

  test("no-NOT-MATCHED MERGE pre-restriction is STATS-PRUNED: the " +
      "semi-join's snapshot side reads only the source band's files " +
      "(round-14 verdict item 2), results identical to the full read") {
    // banded fixture: 4 partitions each holding a TIGHT id range
    // (clusterBy id records #stats per file)
    val t = s"$wh/db/mrg_banded"
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (0 until 100).map(i => (i.toLong, s"v$i", i / 25)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"))
    val total = TableCommit.resolve(t).get._2.length
    assert(total >= 4, s"fixture wants >=4 banded files, got $total")
    // CDC batch confined to ids 5..10 — only the pt=0 band can match
    Seq((5L, "U5", 0), (10L, "U10", 0)).toDF("id", "v", "pt")
      .createOrReplaceTempView("dml_band_src")
    val out = spark.sql(
      """MERGE INTO graftdml.db.mrg_banded t USING dml_band_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |""".stripMargin)
    assert(out.head().toSeq == Seq(2L, 0L, 0L, 0L), out.head().toString)
    val got = rows(t)
    assert(got.contains((5L, "U5", 0)) && got.contains((10L, "U10", 0)) &&
      got.size == 100 && got.contains((50L, "v50", 2)))
    // the probe: the pinned-snapshot semi-join side was band-pruned
    val (path, kept, snapTotal) = graft.plans.GraftSqlDml.lastMergePrune.get()
    assert(path == t, s"probe path $path")
    assert(kept < snapTotal && kept >= 1,
      s"pre-restriction read $kept of $snapTotal files — expected a " +
        "banded subset")
  }

  test("MERGE ON residual: non-equality ON conjuncts narrow the match " +
      "(full SQL ON) — in the insert path AND the update-only path") {
    val t = mkTable("mrg_resid")
    Seq((2L, "N2", 0), (4L, "N4", 0)).toDF("id", "v", "pt")
      .createOrReplaceTempView("dml_srcres")
    // residual t.pt = 1 excludes both targets (ids 2,4 sit in pt=0):
    // nothing matches, both source rows insert
    val out = spark.sql(
      """MERGE INTO graftdml.db.mrg_resid t USING dml_srcres s
        |ON t.id = s.id AND t.pt = 1
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(out.head().toSeq == Seq(0L, 0L, 2L, 0L), out.head().toString)
    assert(rows(t).count(_._1 == 2L) == 2)
    // update-only MERGE with a residual: the residual-failing source
    // row does NOTHING (no sneak-in insert)
    Seq((3L, "U3", 1), (6L, "U6", 0)).toDF("id", "v", "pt")
      .createOrReplaceTempView("dml_srcres2")
    val out2 = spark.sql(
      """MERGE INTO graftdml.db.mrg_resid t USING dml_srcres2 s
        |ON t.id = s.id AND t.pt = 1
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |""".stripMargin)
    assert(out2.head().toSeq == Seq(1L, 0L, 0L, 0L), out2.head().toString)
    val got = rows(t)
    assert(got.contains((3L, "U3", 1)))
    assert(got.contains((6L, "v6", 0)) && got.count(_._1 == 6L) == 1,
      "a residual-failing source row mutated the table")
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns evolve the " +
      "target through the catalog (AddColumn = nullable schema-merge " +
      "append) before the lowered merge binds them — retained rows " +
      "null-default, matched update and insert carry the new column") {
    val t = mkTable("merge_evo")
    Seq((3L, "u3", 1, 33), (990L, "new", 0, 99))
      .toDF("id", "v", "pt", "score")
      .createOrReplaceTempView("evo_src")
    val out = spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftdml.db.merge_evo t
        |USING evo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(out.head().getLong(0) == 1L && out.head().getLong(2) == 1L,
      out.head().toString)
    // the target schema gained the nullable column
    val sch = TableCommit.read(spark, t).schema
    assert(sch.fieldNames.contains("score") && sch("score").nullable)
    val got = spark.sql("SELECT id, v, score FROM graftdml.db.merge_evo " +
      "WHERE id IN (2, 3, 990) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(got == Seq((2L, "v2", None), (3L, "u3", Some(33)),
      (990L, "new", Some(99))), got.toString)
    spark.catalog.dropTempView("evo_src")
  }

  test("INSERT INTO: VALUES and SELECT lower onto the blind-append " +
      "commit; rows_inserted from #rows metadata; OVERWRITE plans " +
      "natively as truncate-replace") {
    val t = mkTable("ins")
    val out = spark.sql(
      "INSERT INTO graftdml.db.ins VALUES (900, 'i1', 0), (901, 'i2', 1)")
    assert(out.columns.toSeq == Seq("rows_inserted"))
    assert(out.head().getLong(0) == 2L)
    assert(rows(t).contains((900L, "i1", 0)) && rows(t).size == 102)
    // INSERT ... SELECT through the same front door
    assert(spark.sql(
      "INSERT INTO graftdml.db.ins SELECT id + 2000, upper(v), pt " +
        "FROM graftdml.db.ins WHERE id >= 900").head().getLong(0) == 2L)
    assert(rows(t).contains((2900L, "I1", 0)) && rows(t).size == 104)
    // the append is a real commit: exactly-once ledgered history grew
    assert(TableCommit.history(t).length >= 2)
    // the DataFrame v2 writer rides the same AppendData lowering
    Seq((5000L, "w2", 1)).toDF("id", "v", "pt")
      .writeTo("graftdml.db.ins").append()
    assert(rows(t).contains((5000L, "w2", 1)) && rows(t).size == 105)
    // INSERT OVERWRITE (round-15): no longer refused — it plans through
    // the NATIVE DSv2 write (GraftWriteSpec pins the partition
    // semantics); on a dedicated table, a full static overwrite is a
    // truncate-replace commit
    val t2 = mkTable("ins_ovr")
    spark.sql("INSERT OVERWRITE graftdml.db.ins_ovr VALUES (1, 'x', 0)")
    assert(rows(t2) == Set((1L, "x", 0)))
  }

  test("CTAS: CREATE TABLE ... PARTITIONED BY ... AS SELECT lowers to " +
      "createTable + blind append; IF NOT EXISTS no-ops; exists refuses") {
    mkTable("ctas_src") // own fixture — the test must run standalone
    val out = spark.sql(
      "CREATE TABLE graftdml.db.ctas PARTITIONED BY (bucket(4, id)) " +
        "AS SELECT id * 10 AS id, upper(v) AS v FROM graftdml.db.ctas_src " +
        "WHERE id < 5")
    assert(out.head().getLong(0) == 5L)
    val t = s"$wh/db/ctas"
    assert(TableCommit.properties(t).get("graft.partcols")
      .contains("bucket(4,id)"))
    assert(spark.sql("SELECT id, v FROM graftdml.db.ctas ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "V0"), (10L, "V1"), (20L, "V2"), (30L, "V3"), (40L, "V4")))
    intercept[Exception] {
      spark.sql("CREATE TABLE graftdml.db.ctas PARTITIONED BY (id) " +
        "AS SELECT 1L AS id")
    }
    assert(spark.sql(
      "CREATE TABLE IF NOT EXISTS graftdml.db.ctas PARTITIONED BY (id) " +
        "AS SELECT 1L AS id").head().getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM graftdml.db.ctas")
      .head().getLong(0) == 5L)
  }

  test("MERGE USING a VERSION AS OF source (round-14 verdict item 8): " +
      "the pinned-snapshot CDC replay — the merge applies the OLD " +
      "snapshot's rows even after the source moved on") {
    val t = mkTable("mrg_tt")
    val srcT = mkTable("mrg_tt_src")
    val v0 = TableCommit.resolve(srcT).get._1
    // the source moves on AFTER v0 — a replay must not see this
    spark.sql("UPDATE graftdml.db.mrg_tt_src SET v = concat('post_', v)")
    // Spark's MERGE grammar takes no temporal clause on the bare USING
    // identifier (a parser limit, not this engine's) — the supported
    // shape is the subquery source, which resolves VERSION AS OF
    // through the catalog's pinned loadTable
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"MERGE INTO graftdml.db.mrg_tt t USING " +
        s"graftdml.db.mrg_tt_src VERSION AS OF $v0 s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
    }
    val out = spark.sql(
      s"""MERGE INTO graftdml.db.mrg_tt t
         |USING (SELECT * FROM graftdml.db.mrg_tt_src VERSION AS OF $v0) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.id < 3 THEN UPDATE SET v = concat('tt_', s.v)
         |""".stripMargin)
    assert(out.head().toSeq == Seq(100L, 0L, 0L, 0L), out.head().toString) // conditional UPDATE: all matched rows rewrite (CASE WHEN), the documented MoR cost
    val got = rows(t)
    assert(got.contains((0L, "tt_v0", 0)) && got.contains((2L, "tt_v2", 0)),
      s"merge did not read the pinned snapshot: ${got.filter(_._1 < 3)}")
    assert(!got.exists(_._2.startsWith("tt_post_")),
      "the merge read the post-v0 source state")
    // the subquery form pins too (SELECT … FROM src VERSION AS OF v0)
    val out2 = spark.sql(
      s"""MERGE INTO graftdml.db.mrg_tt t
         |USING (SELECT id, v, pt FROM graftdml.db.mrg_tt_src
         |       VERSION AS OF $v0 WHERE id BETWEEN 3 AND 4) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = concat('sq_', s.v)
         |""".stripMargin)
    assert(out2.head().toSeq == Seq(2L, 0L, 0L, 0L), out2.head().toString)
    assert(rows(t).contains((3L, "sq_v3", 1)))
  }

  test("refusals are loud: differing ON names, conditional INSERT, BY " +
      "SOURCE UPDATE, UPDATE-then-DELETE order — table untouched") {
    val t = mkTable("mrg_refuse")
    val before = rows(t)
    Seq((1L, 1L, "a", 0)).toDF("kk", "id", "v", "pt")
      .createOrReplaceTempView("dml_srcr")
    def refused(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage != null, sql)
    }
    refused("""MERGE INTO graftdml.db.mrg_refuse t USING dml_srcr s
              |ON t.id = s.kk
              |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    refused("""MERGE INTO graftdml.db.mrg_refuse t USING dml_srcr s
              |ON t.id = s.id
              |WHEN NOT MATCHED AND s.v = 'a' THEN INSERT (id, v, pt)
              |  VALUES (s.id, s.v, s.pt)""".stripMargin)
    refused("""MERGE INTO graftdml.db.mrg_refuse t USING dml_srcr s
              |ON t.id = s.id
              |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'gone'"""
      .stripMargin)
    refused("""MERGE INTO graftdml.db.mrg_refuse t USING dml_srcr s
              |ON t.id = s.id
              |WHEN MATCHED AND s.v = 'a' THEN UPDATE SET v = s.v
              |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(rows(t) == before, "a refused statement mutated the table")
  }

  /** Rows the tasks `f` starts read from their input. */
  private def recordsReadDuring(f: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          n.addAndGet(m.inputMetrics.recordsRead))
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; GraftTestBus.drain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("SQL DELETE and UPDATE prune as the SQL read does: a BETWEEN on " +
      "the clustered key and pt = 1 read only their candidate files, and " +
      "the rows equal the model") {
    val t = s"$wh/db/pruned"
    // four appends of 150 contiguous ids: four stats-disjoint files per
    // partition, each append's files known by diffing the file list
    val rows0 = (0 until 600).map(i => (i.toLong, s"v$i", i % 2))
    val batches = rows0.grouped(150).toSeq.map { g =>
      val before = TableCommit.resolve(t).map(_._2.toSet).getOrElse(Set.empty)
      TableCommit.appendRowsBy(spark, t, Seq("pt"), g.toDF("id", "v", "pt"),
        clusterBy = Seq("id"))
      TableCommit.resolve(t).get._2.toSet -- before
    }
    // merge-on-read deletes rewrite no file: these counts stay physical
    val (id0, files0) = TableCommit.resolve(t).get
    val fileRows = TableCommit.fileRowsAt(t, id0)
    def physicalRows(keep: String => Boolean): Long =
      files0.filter(keep).map(fileRows).sum
    var model = rows0.toSet
    // id 100..160 lies in the first two appends' files
    val band = physicalRows(f => batches(0)(f) || batches(1)(f))
    assert(band == 300L)
    val read1 = recordsReadDuring(assert(spark.sql(
      "DELETE FROM graftdml.db.pruned WHERE id BETWEEN 100 AND 160")
      .head().getLong(0) == 61L))
    assert(read1 == band, s"read $read1 rows, candidates hold $band")
    model = model.filterNot(r => r._1 >= 100 && r._1 <= 160)
    val pt1 = physicalRows(_.startsWith("pt=1/"))
    val read2 = recordsReadDuring(assert(spark.sql(
      "DELETE FROM graftdml.db.pruned WHERE pt = 1 AND id % 3 = 0")
      .head().getLong(0) == model.count(r => r._3 == 1 && r._1 % 3 == 0)))
    assert(read2 == pt1 && pt1 < physicalRows(_ => true),
      s"read $read2 rows, pt=1 files hold $pt1")
    model = model.filterNot(r => r._3 == 1 && r._1 % 3 == 0)
    assert(spark.sql("UPDATE graftdml.db.pruned SET v = upper(v) " +
      "WHERE id BETWEEN 400 AND 420").head().getLong(0) ==
      model.count(r => r._1 >= 400 && r._1 <= 420))
    model = model.map { case (i, v, p) =>
      (i, if (i >= 400 && i <= 420) v.toUpperCase else v, p) }
    assert(spark.sql("UPDATE graftdml.db.pruned SET v = concat(v, '!') " +
      "WHERE pt = 0").head().getLong(0) == model.count(_._3 == 0))
    model = model.map { case (i, v, p) => (i, if (p == 0) v + "!" else v, p) }
    assert(rows(t) == model)
  }
}
