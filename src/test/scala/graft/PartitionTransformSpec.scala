package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** PARTITION TRANSFORMS (Iceberg hidden partitioning, round-12): a
  * spec entry may be `days(col)`, `bucket(N,col)` or `truncate(W,col)`
  * — the DERIVED directory column materializes only on the staged
  * frame, never enters the schema of record, and reads present the
  * logical columns unchanged. Composes with evolution: declaring a
  * transform spec on a live table is the same metadata-only commit,
  * mixed-generation semantics and migration path as any other spec
  * change. */
class PartitionTransformSpec extends GraftSpec {
  import spark.implicits._

  private def rowsOf(n: Int, from: Int = 0): Seq[(Long, String, java.sql.Date, Int)] =
    (from until from + n).map { i =>
      (i.toLong, s"v$i",
        java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1)
          .plusDays(i % 5)), i % 2)
    }

  private def freshTsTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pt").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val seed = rowsOf(100).toDF("id", "v", "d", "pt")
    seed.repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitionsBy(spark, t, Seq("pt"),
      Seq("pt=0", "pt=1"), seed, clusterBy = Seq("id"),
      filesPerPartition = 2)
    t
  }

  private def allRows(t: String): Set[(Long, String, String, Int)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("d").cast("string"),
        col("pt").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSet

  test("days() transform: evolved writes land under derived day dirs, " +
      "the derived column stays HIDDEN (schema of record unchanged), " +
      "and drop-a-day is one empty leaf replace after migration") {
    val t = freshTsTable()
    val before = allRows(t)
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "days(d)"))
    TableCommit.appendRowsBy(spark, t, Seq("pt", "days(d)"),
      rowsOf(20, from = 100).toDF("id", "v", "d", "pt"))
    // derived dirs exist on disk, derived column does NOT exist in reads
    val newFiles = TableCommit.resolve(t).get._2
      .filter(_.count(_ == '/') == 2)
    assert(newFiles.nonEmpty &&
      newFiles.forall(_.matches("pt=\\d/p_d_day=2026-01-0\\d/.*")),
      newFiles.toString)
    assert(TableCommit.read(spark, t).columns.toSeq ==
      Seq("id", "v", "d", "pt"),
      s"derived column leaked: ${TableCommit.read(spark, t).columns.toSeq}")
    assert(allRows(t) == before ++ rowsOf(20, from = 100).map(r =>
      (r._1, r._2, r._3.toString, r._4)))
    // migrate pt subtrees, then DROP 2026-01-02 under pt=0 as one
    // empty leaf replace (the lifecycle win transforms buy)
    TableCommit.compactPartitionsBy(spark, t, Seq("pt", "days(d)"),
      Seq("pt=0", "pt=1"), clusterBy = Seq("id"), filesPerPartition = 1)
    assert(TableCommit.resolve(t).get._2.forall(_.count(_ == '/') == 2))
    val dropped = "2026-01-02"
    TableCommit.replacePartitionsBy(spark, t, Seq("pt", "days(d)"),
      Seq(s"pt=0/p_d_day=$dropped"),
      rowsOf(0).toDF("id", "v", "d", "pt"))
    val after = allRows(t)
    assert(!after.exists(r => r._4 == 0 && r._3 == dropped),
      "dropped day still present")
    assert(after.count(r => r._3 == dropped) ==
      (before ++ rowsOf(20, from = 100).map(r =>
        (r._1, r._2, r._3.toString, r._4)))
        .count(r => r._3 == dropped && r._4 == 1),
      "pt=1's same-day rows must survive")
  }

  test("bucket() transform: stable hash dirs, DML across the mixed " +
      "snapshot, canonical spelling tolerated, stale spec refused") {
    val t = freshTsTable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("bucket(4,id)"))
    // whitespace-variant spelling canonicalizes to the same spec
    TableCommit.appendRowsBy(spark, t, Seq("bucket( 4 , id )"),
      rowsOf(20, from = 100).toDF("id", "v", "d", "pt"))
    val newFiles = TableCommit.resolve(t).get._2
      .filter(_.startsWith("p_id_bucket="))
    assert(newFiles.nonEmpty &&
      newFiles.forall(_.matches("p_id_bucket=\\d/.*")), newFiles.toString)
    // a stale writer still declaring the identity spec fails loudly
    val e = intercept[IllegalArgumentException] {
      TableCommit.appendRowsBy(spark, t, Seq("pt"),
        rowsOf(1, from = 500).toDF("id", "v", "d", "pt"))
    }
    assert(e.getMessage.contains("bucket(4,id)"), e.getMessage)
    // MoR delete across old-identity and new-bucket generations
    val mor = TableCommit.delete(spark, t, Seq("bucket(4,id)"),
      band("id", BigDecimal(90), BigDecimal(109)), TableCommit.MergeOnRead)
    assert(mor.rowsDeleted == 20, mor.toString)
    assert(TableCommit.read(spark, t).count() == 100L)
    assert(TableCommit.read(spark, t)
      .filter(col("id").between(90, 109)).count() == 0L)
  }

  test("days() on a ZONED timestamp derives the UTC calendar day — the " +
      "same instant lands in the same dir whatever the session zone " +
      "(the typed-stats TZ-stability rule, applied to layout)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tz").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    // 02:00 UTC instants: in America/New_York these are the PREVIOUS
    // calendar day — a session-zone-dependent derivation would split
    val instants = Seq("2026-03-10T02:00:00Z", "2026-03-11T02:00:00Z")
      .map(java.time.Instant.parse)
    val rows = instants.zipWithIndex.map { case (i, n) =>
      (n.toLong, java.sql.Timestamp.from(i), 0)
    }
    val seed = rows.toDF("id", "ts", "pt")
    seed.write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitionsBy(spark, t, Seq("pt"), Seq("pt=0"), seed)
    TableCommit.evolvePartitioningBy(spark, t, Seq("days(ts)"))
    val tzKey = "spark.sql.session.timeZone"
    val prior = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      TableCommit.appendRowsBy(spark, t, Seq("days(ts)"),
        rows.map { case (id, ts, pt) => (id + 10, ts, pt) }
          .toDF("id", "ts", "pt"))
    } finally spark.conf.set(tzKey, prior)
    val dayDirs = TableCommit.resolve(t).get._2
      .filter(_.startsWith("p_ts_day="))
      .map(f => f.substring(0, f.indexOf('/'))).distinct.sorted
    assert(dayDirs == Seq("p_ts_day=2026-03-10", "p_ts_day=2026-03-11"),
      s"session zone leaked into the day derivation: $dayDirs")
  }

  test("guards: degenerate transform params, non-temporal days() source, " +
      "rename of a spec source / to a derived dir name, CoW SET of a " +
      "transform source — all refused loudly") {
    val t = freshTsTable()
    intercept[IllegalArgumentException] {
      TableCommit.evolvePartitioningBy(spark, t, Seq("bucket(0,id)"))
    }
    intercept[IllegalArgumentException] {
      TableCommit.evolvePartitioningBy(spark, t, Seq("truncate(0,v)"))
    }
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "days(d)"))
    // days() of a string column fails loudly at stage time
    val e0 = intercept[RuntimeException] {
      TableCommit.evolvePartitioningBy(spark, t, Seq("days(v)"))
      TableCommit.appendRowsBy(spark, t, Seq("days(v)"),
        rowsOf(2, from = 900).toDF("id", "v", "d", "pt"))
    }
    assert(e0.getMessage.contains("date/timestamp"), e0.getMessage)
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "days(d)"))
    // renaming the spec's SOURCE column would brick later writes
    val e1 = intercept[IllegalArgumentException] {
      TableCommit.renameColumn(t, "d", "when_at")
    }
    assert(e1.getMessage.contains("derives from it"), e1.getMessage)
    // renaming TO the derived dir name would be overwritten at stage
    val e2 = intercept[IllegalArgumentException] {
      TableCommit.renameColumn(t, "v", "p_d_day")
    }
    assert(e2.getMessage.contains("derived partition dir"), e2.getMessage)
    // CoW SET of the transform's source moves rows across day dirs
    val e3 = intercept[IllegalArgumentException] {
      TableCommit.update(spark, t, Seq("pt", "days(d)"),
        band("id", BigDecimal(0), BigDecimal(10)),
        Map("d" -> date_add(col("d"), 30)), TableCommit.CopyOnWrite)
    }
    assert(e3.getMessage.contains("its source"), e3.getMessage)
  }

  test("legacy comma-joined graft.partcols (pre-transform format) still " +
      "parses — an upgraded engine keeps writing to an old evolved table") {
    val t = freshTsTable()
    // what the earlier identity-only format persisted
    TableCommit.setProperties(t, Map("graft.partcols" -> "pt"))
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      rowsOf(3, from = 500).toDF("id", "v", "d", "pt"))
    assert(TableCommit.read(spark, t).count() == 103L)
  }

  test("legacy comma-joined graft.partcols on a TWO-level table: SQL " +
      "INSERT, UPDATE and CALL compact resolve it as two columns") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ptleg").toFile
    graft.plans.GraftCatalog.register(spark, "graftleg",
      Some(wh.getAbsolutePath))
    val t = new java.io.File(wh, "db/leg").getAbsolutePath
    TableCommit.appendRowsBy(spark, t, Seq("pt", "b"),
      (0 until 40).map(i => (i.toLong, s"v$i", i % 2, i % 3))
        .toDF("id", "v", "pt", "b"), clusterBy = Seq("id"))
    // what the earlier identity-only format persisted
    TableCommit.setProperties(t, Map("graft.partcols" -> "pt,b"))
    spark.sql("INSERT INTO graftleg.db.leg (id, v, pt, b) " +
      "VALUES (100, 'new', 1, 2)")
    assert(spark.sql("UPDATE graftleg.db.leg SET v = 'upd' WHERE id < 4")
      .head().getLong(0) == 4L)
    spark.sql("CALL graftleg.system.compact('db.leg', 'pt=0', 'id', 1)")
    val got = TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("pt").cast("int"), col("b").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3))).toSet
    val want = (0 until 40).map(i =>
      (i.toLong, if (i < 4) "upd" else s"v$i", i % 2, i % 3)).toSet +
      ((100L, "new", 1, 2))
    assert(got == want)
    assert(TableCommit.resolve(t).get._2.forall(_.count(_ == '/') == 2))
  }

  test("truncate() transform: prefix dirs; derived dir name colliding " +
      "with a real column is refused; transform source must exist") {
    val t = freshTsTable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("truncate(1,v)"))
    TableCommit.appendRowsBy(spark, t, Seq("truncate(1,v)"),
      rowsOf(4, from = 100).toDF("id", "v", "d", "pt"))
    val newFiles = TableCommit.resolve(t).get._2
      .filter(_.startsWith("p_v_trunc="))
    assert(newFiles.nonEmpty && newFiles.forall(_.startsWith("p_v_trunc=v")),
      newFiles.toString)
    assert(TableCommit.read(spark, t).count() == 104L)
    intercept[IllegalArgumentException] {
      TableCommit.evolvePartitioningBy(spark, t, Seq("days(nope)"))
    }
    // a table already holding a column named like the derived dir
    val dir2 = java.nio.file.Files.createTempDirectory("graft_pt2").toFile
    val t2 = new java.io.File(dir2, "table").getAbsolutePath
    rowsOf(10).toDF("id", "p_d_day", "d", "pt").repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t2)
    TableCommit.initIfAbsent(t2)
    val e = intercept[IllegalArgumentException] {
      TableCommit.evolvePartitioningBy(spark, t2, Seq("days(d)"))
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("truncate() on an INTEGRAL source is Iceberg's floor multiple " +
      "(v - pmod(v, W), negatives floor), not a digit-string cut; " +
      "unsupported source types are refused at evolve AND stage time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ptn").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val rows = Seq((-150L, "a", 0), (-5L, "b", 0), (0L, "c", 0),
      (99L, "d", 1), (100L, "e", 1), (1234L, "f", 1))
      .toDF("id", "v", "pt")
    rows.write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.evolvePartitioningBy(spark, t, Seq("truncate(100,id)"))
    TableCommit.appendRowsBy(spark, t, Seq("truncate(100,id)"), rows)
    val dirs = TableCommit.resolve(t).get._2
      .filter(_.startsWith("p_id_trunc="))
      .map(f => f.substring(0, f.indexOf('/'))).distinct.sorted
    // -150 → -200, -5 → -100, 0/99 → 0, 100 → 100, 1234 → 1200 (the
    // pre-fix cast-to-string would have cut DIGITS: 1234 → "12")
    assert(dirs.toSet == Set("p_id_trunc=-200", "p_id_trunc=-100",
      "p_id_trunc=0", "p_id_trunc=100", "p_id_trunc=1200"), dirs.toString)
    // reads present logical columns, rows intact
    assert(TableCommit.read(spark, t)
      .filter(col("pt") === 0 || col("pt") === 1).count() == 12L)
    // a DOUBLE source is refused at evolve time...
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ptn2").toFile
    val t2 = new java.io.File(dir2, "table").getAbsolutePath
    Seq((1.5, 0)).toDF("x", "pt").write.mode("overwrite")
      .partitionBy("pt").parquet(t2)
    TableCommit.initIfAbsent(t2)
    val e = intercept[IllegalArgumentException] {
      TableCommit.evolvePartitioningBy(spark, t2, Seq("truncate(10,x)"))
    }
    assert(e.getMessage.contains("string or integral"), e.getMessage)
    // ...and at stage time for an undeclared write
    val e2 = intercept[RuntimeException] {
      TableCommit.appendRowsBy(spark, t2, Seq("truncate(10,x)"),
        Seq((2.5, 1)).toDF("x", "pt"))
    }
    assert(e2.getMessage.contains("string or integral"), e2.getMessage)
  }
}
