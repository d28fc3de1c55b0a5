package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.TableCommit
import graft.plans.GraftCatalog

/** The DSv2 catalog front door (round-14 verdict item 1): committed
  * tables as `graft.db.t` identities — catalog SQL reads, snapshot
  * pinning + VERSION AS OF, manifest data skipping through pushed
  * filters, deletion vectors and column mapping served through the
  * connector (both refused by the bucketed-view trick), and the
  * headline: KeyGroupedPartitioning from the committed `bucket(n,
  * key)` layout → storage-partitioned joins with ZERO Exchange and
  * no serve-tree links. */
class GraftCatalogSpec extends GraftSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toFile
    GraftCatalog.register(spark, "graftcat", Some(dir.getAbsolutePath))
    dir.getAbsolutePath
  }

  private def mkTable(name: String, n: Int = 400): String = {
    val t = s"$wh/db/$name"
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (0 until n).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"))
    t
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan:\n" +
      df.queryExecution.executedPlan))

  test("catalog SQL: SELECT FROM graftcat.db.t equals the Scala read; path " +
      "identity and VERSION AS OF resolve; pinning is analysis-time") {
    val t = mkTable("base")
    val got = spark.sql("SELECT id, v, pt FROM graftcat.db.base")
    assert(got.collect().map(r => (r.getLong(0), r.getString(1),
      r.getInt(2))).toSet ==
      TableCommit.read(spark, t).collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2))).toSet)
    // path identity
    assert(spark.sql(s"SELECT count(*) FROM graftcat.`$t`").head().getLong(0)
      == 400L)
    // a later commit bumps the snapshot; VERSION AS OF still serves v0
    val id0 = TableCommit.resolve(t).get._1
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      Seq((9999L, "z", 1)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    assert(spark.sql("SELECT count(*) FROM graftcat.db.base").head().getLong(0)
      == 401L)
    assert(spark.sql(
      s"SELECT count(*) FROM graftcat.db.base VERSION AS OF $id0")
      .head().getLong(0) == 400L)
    // SHOW: the table lists under its namespace
    assert(spark.sql("SHOW TABLES IN graftcat.db").collect()
      .map(_.getString(1)).contains("base"))
  }

  test("manifest data skipping: a pushed range filter prunes files at " +
      "plan time (zero IO) — and identity-dir filters prune partitions") {
    val t = s"$wh/db/skipping"
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 400).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 4)
    val total = TableCommit.resolve(t).get._2.length
    val banded = spark.sql(
      "SELECT id, v FROM graftcat.db.skipping WHERE id >= 10 AND id <= 49")
    assert(banded.count() == 40L)
    val desc = scanOf(banded).scan.description()
    val Pruned = """(\d+)/(\d+) files""".r.unanchored
    desc match {
      case Pruned(kept, all) =>
        assert(all.toInt == total && kept.toInt < total,
          s"stats band pruned nothing: $desc")
      case _ => fail(s"no prune audit in scan description: $desc")
    }
    // identity partition-dir pruning
    val partPruned = spark.sql(
      "SELECT count(*) FROM graftcat.db.skipping WHERE pt = 0")
    assert(partPruned.head().getLong(0) == 200L)
    val desc2 = scanOf(spark.sql(
      "SELECT id FROM graftcat.db.skipping WHERE pt = 0")).scan.description()
    desc2 match {
      case Pruned(kept, all) => assert(kept.toInt <= all.toInt / 2, desc2)
      case _ => fail(s"no prune audit: $desc2")
    }
  }

  test("DATE stats pruning: a pushed date band prunes files in the ISO " +
      "lex-safe era (zoned/NTZ timestamps deliberately keep all)") {
    val t = s"$wh/db/dated"
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      (0 until 240).map(i => (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1)
          .plusDays(i / 2)), 0)).toDF("id", "d", "pt"),
      clusterBy = Seq("d"), filesPerPartition = 6)
    val total = TableCommit.resolve(t).get._2.length
    val q = spark.sql("SELECT id FROM graftcat.db.dated " +
      "WHERE d >= DATE'2026-01-10' AND d <= DATE'2026-01-19'")
    assert(q.count() == 20L)
    val desc = scanOf(q).scan.description()
    val Pruned = """(\d+)/(\d+) files""".r.unanchored
    desc match {
      case Pruned(kept, all) =>
        assert(all.toInt == total && kept.toInt < total,
          s"date band pruned nothing: $desc")
      case _ => fail(s"no prune audit: $desc")
    }
  }

  test("deletion vectors serve through catalog SQL: MoR deletes drop " +
      "rows by position with no materialization — v1+v2 stacks included") {
    val t = mkTable("vectored")
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "6"))
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(299)), TableCommit.MergeOnRead)
    // stack a v1 vector on top (the mixed-fleet shape)
    TableCommit.setProperties(t, Map("graft.dv.format" -> "v1"))
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(9)), TableCommit.MergeOnRead)
    val got = spark.sql("SELECT id FROM graftcat.db.vectored")
      .collect().map(_.getLong(0)).toSet
    val want = ((10 until 100) ++ (300 until 400)).map(_.toLong).toSet
    assert(got == want, s"DV read drift: ${(got -- want).take(5)} extra, " +
      s"${(want -- got).take(5)} missing")
    // count(*) — the empty-projection path still applies vectors
    assert(spark.sql("SELECT count(*) FROM graftcat.db.vectored")
      .head().getLong(0) == 190L)
  }

  test("column mapping serves through catalog SQL: renamed columns read " +
      "under their logical names from physical footers") {
    val t = mkTable("mapped")
    TableCommit.renameColumn(t, "v", "label")
    val got = spark.sql(
      "SELECT id, label FROM graftcat.db.mapped WHERE id < 3 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((0L, "v0"), (1L, "v1"), (2L, "v2")))
  }

  test("STORAGE-PARTITIONED JOIN: two committed bucket(8, k) tables join " +
      "with ZERO Exchange — DV-carrying side included, no serve-tree " +
      "links, snapshot-fresh without re-registration") {
    val fact = s"$wh/db/fact_spj"
    val dim = s"$wh/db/dim_spj"
    def seed(t: String, rows: Int, payload: String): Unit = {
      TableCommit.appendRowsBy(spark, t, Seq("bucket(8,k)"),
        (0 until rows).map(i => ((i % 500).toLong, s"$payload$i"))
          .toDF("k", payload), clusterBy = Seq("k"))
      TableCommit.evolvePartitioningBy(spark, t, Seq("bucket(8,k)"))
    }
    seed(fact, 4000, "f")
    seed(dim, 500, "d")
    // the DV twist the bucketed VIEW must refuse: vector some fact rows
    TableCommit.delete(spark, fact, Seq("bucket(8,k)"),
      band("k", BigDecimal(490), BigDecimal(499)), TableCommit.MergeOnRead)
    val joined = spark.sql(
      """SELECT f.k, f.f, d.d
        |FROM graftcat.db.fact_spj f JOIN graftcat.db.dim_spj d ON f.k = d.k
        |""".stripMargin)
    val withConf = {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = joined.queryExecution.executedPlan
        val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.isEmpty,
          s"storage-partitioned join still shuffles:\n$plan")
        joined.collect()
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
        spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
      }
    }
    // oracle the join relationally: every live fact row matches exactly
    // one dim row on k
    assert(withConf.length == 4000 - (4000 / 500) * 10,
      s"got ${withConf.length}")
    assert(withConf.forall(r => r.getString(1).startsWith("f") &&
      r.getString(2).startsWith("d")))
    // a fresh commit serves WITHOUT any re-registration step
    TableCommit.appendRowsBy(spark, dim, Seq("bucket(8,k)"),
      Seq((1000L, "dNEW")).toDF("k", "d"), clusterBy = Seq("k"))
    assert(spark.sql("SELECT count(*) FROM graftcat.db.dim_spj")
      .head().getLong(0) == 501L)
  }

  test("METADATA-ONLY COUNTS: count(*) and GROUP BY a partition column " +
      "answer from #rows (live by protocol, MoR deletes included) — " +
      "zero data IO; filters or non-count shapes fall back") {
    val t = mkTable("counted")
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "6"))
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(49)), TableCommit.MergeOnRead)
    def planOf(sql: String): String = {
      val df = spark.sql(sql)
      (df.queryExecution.executedPlan.toString, df)._1
    }
    // global count: the plan carries the metadata-count scan and NO
    // parquet read
    val cq = spark.sql("SELECT count(*) FROM graftcat.db.counted")
    assert(cq.head().getLong(0) == 350L)
    val cPlan = cq.queryExecution.executedPlan.toString
    assert(cPlan.contains("metadata-only count"), cPlan.take(1500))
    // grouped by the partition column, same zero-IO answer
    val gq = spark.sql(
      "SELECT pt, count(*) AS n FROM graftcat.db.counted GROUP BY pt")
    val got = gq.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 400 rows striped i%3 over pt, ids 0..49 dead: pt0 loses 17
    // (0,3..48), pt1 loses 17 (1,4..49), pt2 loses 16 (2,5..47)
    assert(got == Map(0 -> (134 - 17), 1 -> (133 - 17), 2 -> (133 - 16)),
      got.toString)
    assert(gq.queryExecution.executedPlan.toString
      .contains("metadata-only count"))
    // a WHERE clause keeps the real scan (counts would lie through
    // residual filters)
    val fq = spark.sql(
      "SELECT count(*) FROM graftcat.db.counted WHERE id >= 200")
    assert(fq.head().getLong(0) == 200L)
    assert(!fq.queryExecution.executedPlan.toString
      .contains("metadata-only count"))
    // min/max over a VECTORED table must fall back (a dead row may
    // hold the recorded extremum)
    val mq = spark.sql("SELECT max(id) FROM graftcat.db.counted")
    assert(mq.head().getLong(0) == 399L)
    assert(!mq.queryExecution.executedPlan.toString
      .contains("metadata-only count"))
    // on a DV-free table, integral MIN/MAX answer from #stats — mixed
    // with count(*), globally and per partition group
    val t2 = mkTable("extrema")
    val xq = spark.sql("SELECT count(*), min(id), max(id) " +
      "FROM graftcat.db.extrema")
    assert(xq.head().toSeq == Seq(400L, 0L, 399L), xq.head().toString)
    assert(xq.queryExecution.executedPlan.toString
      .contains("metadata-only count"))
    val gx = spark.sql("SELECT pt, max(id) AS m FROM graftcat.db.extrema " +
      "GROUP BY pt")
    assert(gx.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(0 -> 399L, 1 -> 397L, 2 -> 398L))
    assert(gx.queryExecution.executedPlan.toString
      .contains("metadata-only count"))
    // a STRING min/max falls back (truncated stats cannot answer)
    val sq = spark.sql("SELECT min(v) FROM graftcat.db.extrema")
    assert(sq.head().getString(0) == "v0")
    assert(!sq.queryExecution.executedPlan.toString
      .contains("metadata-only count"))
  }

  test("DYNAMIC PARTITION PRUNING: a filtered dim side drops whole fact " +
      "files at runtime through SupportsRuntimeFiltering") {
    val fact = s"$wh/db/fact_dpp"
    TableCommit.appendRowsBy(spark, fact, Seq("pt"),
      (0 until 1200).map(i => (i.toLong, s"f$i", i % 12))
        .toDF("id", "f", "pt"), clusterBy = Seq("id"))
    val dim = s"$wh/db/dim_dpp"
    TableCommit.appendRowsBy(spark, dim, Seq("grp"),
      (0 until 12).map(i => (i, s"d$i", i % 3)).toDF("pt", "d", "grp"))
    val q = spark.sql(
      """SELECT f.id, d.d FROM graftcat.db.fact_dpp f
        |JOIN graftcat.db.dim_dpp d ON f.pt = d.pt
        |WHERE d.grp = 1""".stripMargin)
    graft.plans.GraftScan.lastRuntimeFilter.set(("", Set.empty))
    val rows = q.collect()
    // grp=1 keeps dim pts {1,4,7,10} -> a third of the fact rows
    assert(rows.length == 400, s"got ${rows.length}")
    val (dppPath, dropped) = graft.plans.GraftScan.lastRuntimeFilter.get()
    assert(dppPath == fact && dropped.nonEmpty,
      s"runtime filtering dropped no fact files (path=$dppPath):\n" +
        q.queryExecution.executedPlan.toString.take(2000))
    assert(dropped.forall(f =>
      !Set("pt=1", "pt=4", "pt=7", "pt=10").contains(f.split('/').head)),
      "DPP dropped a partition the dim side references")
  }

  test("catalog DDL: CREATE TABLE pins schema+spec as commits, INSERTs " +
      "flow through verbs, DROP removes; unpartitioned CREATE refused") {
    spark.sql("CREATE TABLE graftcat.db.fresh (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    val t = s"$wh/db/fresh"
    assert(TableCommit.resolve(t).isDefined)
    assert(TableCommit.properties(t).get("graft.partcols")
      .contains("bucket(4,k)"))
    TableCommit.appendRowsBy(spark, t, Seq("bucket(4,k)"),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), clusterBy = Seq("k"))
    assert(spark.sql("SELECT count(*) FROM graftcat.db.fresh")
      .head().getLong(0) == 2L)
    intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.db.flat (k BIGINT)")
    }
    spark.sql("DROP TABLE graftcat.db.fresh")
    assert(TableCommit.resolve(t).isEmpty)
  }

  test("catalog functions are SQL-callable and agree with the layout: " +
      "bucket/days/truncate (+ the width-baked family); CREATE TABLE " +
      "PARTITIONED BY (truncate(w, col)) round-trips the spec") {
    wh // force the catalog registration (lazy fixture)
    // SQL-callable shapes — each is EXACTLY the committed dir derivation
    assert(spark.sql("SELECT graftcat.system.bucket(4, CAST(10 AS BIGINT))")
      .head().getInt(0) ==
      spark.sql("SELECT pmod(hash(CAST(10 AS BIGINT)), 4)").head().getInt(0))
    assert(spark.sql(
      "SELECT graftcat.system.days(TIMESTAMP'2026-03-04 23:30:00+00:00')")
      .head().getDate(0).toString == "2026-03-04")
    assert(spark.sql("SELECT graftcat.system.truncate(2, 'abcdef')")
      .head().getString(0) == "ab")
    assert(spark.sql("SELECT graftcat.system.truncate(100, CAST(-128 AS BIGINT))")
      .head().getLong(0) == -200L)
    // the width-baked family resolves by name and agrees with the twin
    assert(spark.sql("SELECT graftcat.system.truncate2('abcdef')")
      .head().getString(0) == "ab")
    assert(spark.sql("SELECT graftcat.system.truncate100(CAST(-128 AS BIGINT))")
      .head().getLong(0) == -200L)
    // CREATE TABLE with a truncate transform records the canonical spec
    spark.sql("CREATE TABLE graftcat.db.trunc_ddl (k BIGINT, tag STRING) " +
      "PARTITIONED BY (truncate(8, tag))")
    val t = s"$wh/db/trunc_ddl"
    assert(TableCommit.properties(t).get("graft.partcols")
      .contains("truncate(8,tag)"))
    spark.sql("DROP TABLE graftcat.db.trunc_ddl")
  }

  test("CALL procedures: the maintenance verbs run from SQL — vacuum " +
      "(audit + run), compact-as-purge, restore, clone, evolve — each " +
      "the same TableCommit verb, audits as result rows") {
    val t = mkTable("proc")
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "2"))
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(199)), TableCommit.MergeOnRead)
    // compact = the REORG purge; reads THROUGH the vectors
    val cid = spark.sql(
      "CALL graftcat.system.compact('db.proc', 'pt=0,pt=1,pt=2', 'id', 1)")
      .head().getLong(0)
    assert(cid == TableCommit.resolve(t).get._1)
    assert(spark.sql("SELECT count(*) FROM graftcat.db.proc")
      .head().getLong(0) == 200L)
    // audit then vacuum: the dry run predicts, the run executes
    val audit = spark.sql("CALL graftcat.system.vacuum_audit('db.proc')")
      .head()
    assert(audit.getAs[scala.collection.Seq[Long]](0).nonEmpty)
    val vac = spark.sql("CALL graftcat.system.vacuum('db.proc')").head()
    assert(vac.getInt(0) == audit.getInt(2),
      s"vacuum deleted ${vac.getInt(0)} dead files, audit predicted " +
        s"${audit.getInt(2)}")
    // restore to the pre-compaction snapshot? retention=2 keeps it
    val prev = TableCommit.history(t).map(_._1).sorted.head
    val rid = spark.sql(
      s"CALL graftcat.system.restore('db.proc', $prev)").head().getLong(0)
    assert(rid == TableCommit.resolve(t).get._1 && rid > cid)
    // clone to an absolute path, then evolve the clone's spec
    val dst = s"$wh/db/proc_clone"
    spark.sql(s"CALL graftcat.system.clone('db.proc', '$dst')")
    assert(TableCommit.read(spark, dst).count() == 200L)
    spark.sql(
      s"CALL graftcat.system.evolve_partitioning('$dst', 'pt;bucket(4,id)')")
    assert(TableCommit.properties(dst).get("graft.partcols")
      .contains("pt;bucket(4,id)"))
    // unknown procedure refuses (Spark wraps it as FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception] {
      spark.sql("CALL graftcat.system.nope('x')")
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("COLUMNAR batches on DV-free scans (round-14 verdict item 6): a " +
      "clean table's catalog read keeps the vectorized columnar surface " +
      "(ColumnarToRow above the scan); a vectored table stays on rows; " +
      "row content identical either way") {
    val t = mkTable("columnar")
    val q = "SELECT id, v, pt FROM graftcat.db.columnar"
    val clean = spark.sql(q)
    val planClean = clean.queryExecution.executedPlan.toString
    assert(planClean.contains("ColumnarToRow"),
      s"DV-free catalog scan lost its columnar surface:\n" +
        planClean.take(2000))
    val cleanRows = clean.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(cleanRows.size == 400 && cleanRows.contains((7L, "v7", 1)))
    // payload-only projection is positional too — still columnar
    assert(spark.sql("SELECT id FROM graftcat.db.columnar")
      .queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // vector some rows: the row-index filter needs the row path — and
    // the rows served stay exactly the live set
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(99)), TableCommit.MergeOnRead)
    val vectored = spark.sql(q)
    assert(!vectored.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      "a DV-carrying scan claimed columnar support")
    val got = vectored.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == cleanRows.filter(_._1 >= 100L),
      s"row/columnar drift: ${(got -- cleanRows).take(3)}")
  }

  test("ALTER TABLE lowers onto the evolution verbs (round-14 verdict " +
      "item 5): rename/add/widen/set property/drop from SQL, widen-" +
      "lattice refusals reach the statement, physicals stay quarantined") {
    val t = s"$wh/db/altered"
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (0 until 20).map(i => (i.toLong, s"v$i", i, i % 2))
        .toDF("id", "v", "n", "pt"),
      clusterBy = Seq("id"))
    // RENAME COLUMN: metadata-only — the physical binding holds, rows
    // still read; old name gone
    spark.sql("ALTER TABLE graftcat.db.altered RENAME COLUMN v TO label")
    assert(spark.sql("SELECT label FROM graftcat.db.altered WHERE id = 3")
      .head().getString(0) == "v3")
    // ADD COLUMN: schema-merge — retained files null-default
    spark.sql("ALTER TABLE graftcat.db.altered ADD COLUMN score DOUBLE")
    val r = spark.sql(
      "SELECT score FROM graftcat.db.altered WHERE id = 3").head()
    assert(r.isNullAt(0))
    // ALTER COLUMN TYPE: the widen lattice — INT→BIGINT commits,
    // BIGINT→INT refuses all the way out of the statement
    spark.sql("ALTER TABLE graftcat.db.altered ALTER COLUMN n TYPE BIGINT")
    assert(spark.sql("SELECT n FROM graftcat.db.altered WHERE id = 3")
      .head().getLong(0) == 3L)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graftcat.db.altered ALTER COLUMN id TYPE INT")
    }
    assert(e.getMessage != null)
    // SET TBLPROPERTIES through the property commit
    spark.sql(
      "ALTER TABLE graftcat.db.altered SET TBLPROPERTIES ('team' = 'ops')")
    assert(TableCommit.properties(t).get("team").contains("ops"))
    // DROP COLUMN: metadata-only; the dropped physical is quarantined
    // so a re-add of the same name starts fresh
    spark.sql("ALTER TABLE graftcat.db.altered DROP COLUMN label")
    assert(!spark.table("graftcat.db.altered").columns.contains("label"))
    assert(TableCommit.properties(t).get("graft.mapping.dropped")
      .exists(_.nonEmpty))
    spark.sql("ALTER TABLE graftcat.db.altered ADD COLUMN label STRING")
    assert(spark.sql("SELECT label FROM graftcat.db.altered WHERE id = 3")
      .head().isNullAt(0), "a re-added column resurrected dropped values")
    // rows survived the whole evolution
    assert(spark.sql("SELECT count(*) FROM graftcat.db.altered")
      .head().getLong(0) == 20L)
  }

  test("mid-evolution snapshots read through the catalog: files under " +
      "two layouts resolve the schema of record") {
    val t = mkTable("evolving")
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "v"))
    TableCommit.appendRowsBy(spark, t, Seq("pt", "v"),
      Seq((9000L, "zz", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    val got = spark.sql(
      "SELECT id, v, pt FROM graftcat.db.evolving WHERE id >= 398")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((398L, "v398", 2), (399L, "v399", 0),
      (9000L, "zz", 0)), got.toString)
  }
}
