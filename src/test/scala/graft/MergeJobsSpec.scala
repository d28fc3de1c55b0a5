package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{DvCodec, TableCommit}
import graft.plans.GraftCatalog

/** One merge-on-read kernel: a driver-local source (MERGE), one
  * classify pass that returns per-file counts and kill bitmaps, a
  * driver-written vector and one write — at most 4 Spark jobs per
  * MERGE, 1 per DELETE and 3 per UPDATE (one more each with the change
  * feed), each labelled with its verb and phase, with results, audit,
  * manifest row counts, vector bytes and change feed equal to a
  * model. */
class MergeJobsSpec extends GraftSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mj").toFile
    GraftCatalog.register(spark, "graftmj", Some(dir.getAbsolutePath))
    dir.getAbsolutePath
  }

  /** `f`'s result and the description of every Spark job it started. */
  private def jobsDuring[A](f: => A): (A, Seq[String]) = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(String.valueOf(
          e.properties.getProperty("spark.job.description")))
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      GraftTestBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (a, descs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Jobs per phase of a `verb` statement; every job must carry its
    * label. */
  private def perPhase(t: String, descs: Seq[String],
      verb: String = "MERGE"): Map[String, Int] = {
    val prefix = s"graft $verb $t: "
    assert(descs.forall(_.startsWith(prefix)), s"unlabelled jobs: $descs")
    descs.groupBy(_.stripPrefix(prefix)).map { case (k, v) => k -> v.size }
  }

  private type Model = Map[Long, (Long, Long)]

  /** A 4-partition `state` table of 400 users, then a MoR DELETE of
    * every 7th user (prior vectors on every file). */
  private def mkState(name: String, v1: Boolean): (String, Model) = {
    val t = s"$wh/db/$name"
    spark.sql(s"CREATE TABLE graftmj.db.$name (user_id BIGINT, n BIGINT, " +
      "cents BIGINT, pt INT) PARTITIONED BY (pt)")
    if (v1) TableCommit.setProperties(t, Map("graft.dv.format" -> "v1"))
    (0L until 400L).map(u => (u, 1L, 10L, (u % 4).toInt))
      .toDF("user_id", "n", "cents", "pt").createOrReplaceTempView("mj_init")
    spark.sql(s"INSERT INTO graftmj.db.$name SELECT * FROM mj_init")
    spark.sql(s"DELETE FROM graftmj.db.$name WHERE user_id % 7 = 0")
    (t, (0L until 400L).filter(_ % 7 != 0).map(u => u -> (1L, 10L)).toMap)
  }

  private def rows(name: String): Model =
    spark.sql(s"SELECT user_id, n, cents FROM graftmj.db.$name")
      .as[(Long, Long, Long)].collect()
      .map { case (u, n, c) => u -> (n, c) }.toMap

  /** Live (file → positions) of `keys` in the current snapshot, read
    * from the data files themselves. */
  private def positionsOf(t: String, keys: Set[Long],
      live: Model): Map[String, Array[Long]] =
    TableCommit.resolve(t).get._2.map { rel =>
      rel -> spark.read.parquet(s"$t/$rel")
        .select(col("user_id"), col("_metadata.row_index"))
        .as[(Long, Long)].collect()
        .collect { case (u, p) if keys(u) && live.contains(u) => p }
    }.filter(_._2.nonEmpty).toMap

  /** The vector dir the newest snapshot registers that `before` did not. */
  private def newDvDir(t: String, before: Set[String]): String = {
    val dirs = TableCommit.scanMeta(t, None).get.dv.values.flatten.toSet
    val fresh = dirs -- before
    assert(fresh.size == 1, s"expected one new vector dir, got $fresh")
    fresh.head
  }

  private def dvDirs(t: String): Set[String] =
    TableCommit.scanMeta(t, None).get.dv.values.flatten.toSet

  /** The written vector's kill set per file key, decoded from disk. */
  private def killsOnDisk(t: String, dir: String): Map[String, Array[Long]] =
    if (dir.endsWith(".v2"))
      spark.read.parquet(s"$t/$dir").as[(String, Array[Byte])].collect()
        .map { case (k, bmp) => k -> DvCodec.decode(bmp) }.toMap
    else
      spark.read.parquet(s"$t/$dir").as[(String, Long)].collect().toSeq
        .groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).sorted.toArray }

  /** The vector `dir` holds exactly `want`'s positions per file: on v2,
    * each blob is the canonical encoding of the file's kill set. */
  private def assertVector(t: String, dir: String,
      want: Map[String, Array[Long]], v1: Boolean): Unit = {
    assert(dir.endsWith(".v2") != v1, dir)
    val onDisk = killsOnDisk(t, dir)
    assert(onDisk.keySet == want.keySet)
    want.foreach { case (rel, ps) =>
      assert(onDisk(rel).toSeq == ps.sorted.toSeq, rel)
    }
    if (!v1) {
      val blobs = spark.read.parquet(s"$t/$dir")
        .as[(String, Array[Byte])].collect().toMap
      want.foreach { case (rel, ps) =>
        assert(blobs(rel).sameElements(DvCodec.encode(ps)), rel)
      }
    }
  }

  private val upsert = "ON t.user_id = s.user_id WHEN MATCHED THEN UPDATE " +
    "SET n = t.n + s.n, cents = t.cents + s.cents WHEN NOT MATCHED THEN INSERT *"

  for (v1 <- Seq(false, true)) {
    val fmt = if (v1) "v1" else "v2"
    test(s"SQL MERGE USING a temp view over a Seq ($fmt vectors): at most " +
        "4 labelled jobs, results, counters, manifest rows and vector " +
        "bytes equal the model, and the next read opens no sidecar") {
      val name = s"state_$fmt"
      val (t, model0) = mkState(name, v1)
      val src = (100L until 300L by 2).map(u => (u, 2L, 5L, (u % 4).toInt)) ++
        (400L until 420L).map(u => (u, 3L, 7L, (u % 4).toInt))
      src.toDF("user_id", "n", "cents", "pt").createOrReplaceTempView("mj_src")
      val keys = src.map(_._1).toSet
      val wantKills = positionsOf(t, keys, model0)
      val rows0 = TableCommit.scanMeta(t, None).get.rows
      val before = dvDirs(t)
      val (res, descs) = jobsDuring(spark.sql(
        s"MERGE INTO graftmj.db.$name t USING mj_src s $upsert").collect())
      assert(descs.size <= 4, s"MERGE ran ${descs.size} jobs: $descs")
      assert(perPhase(t, descs) == Map("classify" -> 2, "write" -> 2),
        descs.toString)
      val matched = src.count { case (u, _, _, _) => model0.contains(u) }
      assert(res.toSeq == Seq(Row(matched.toLong, 0L,
        (src.size - matched).toLong, 0L)))
      val model = model0 ++ src.map { case (u, n, c, _) =>
        val (n0, c0) = model0.getOrElse(u, (0L, 0L))
        u -> (n0 + n, c0 + c)
      }
      // memo hit: the first read after the MERGE is served with the
      // sidecar trees moved away
      val dir = newDvDir(t, before)
      assert(TableCommit.dvMemoDirs(t).contains(dir))
      val dvTree = new java.io.File(t, "_dv")
      val hidden = new java.io.File(t, "_dv_hidden")
      assert(dvTree.renameTo(hidden))
      try assert(rows(name) == model)
      finally assert(hidden.renameTo(dvTree))
      // manifest row counts: each hit file loses its killed rows, and the
      // snapshot total is the model's
      val meta = TableCommit.scanMeta(t, None).get
      wantKills.foreach { case (rel, ps) =>
        assert(meta.rows(rel) == rows0(rel) - ps.length, rel)
      }
      assert(TableCommit.rowCount(t, meta.id).get == model.size)
      // the driver-written vector: one dir, keyed by manifest rel, each
      // blob the canonical encoding of the model's kill set
      assert(dir.endsWith(".v2") != v1, dir)
      val onDisk = killsOnDisk(t, dir)
      assert(onDisk.keySet == wantKills.keySet)
      wantKills.foreach { case (rel, ps) =>
        assert(onDisk(rel).toSeq == ps.sorted.toSeq, rel)
      }
      if (!v1) {
        val blobs = spark.read.parquet(s"$t/$dir")
          .as[(String, Array[Byte])].collect().toMap
        wantKills.foreach { case (rel, ps) =>
          assert(blobs(rel).sameElements(DvCodec.encode(ps)), rel)
        }
      }
      // the tree on disk reads back cold
      TableCommit.forgetDvUnder(t)
      assert(rows(name) == model)
    }
  }

  test("SQL MERGE USING a parquet-backed source runs at most 5 jobs: the " +
      "source collect is the one extra") {
    val name = "state_pq"
    val (t, model0) = mkState(name, v1 = false)
    val src = (50L until 150L).map(u => (u, 2L, 5L, (u % 4).toInt)) ++
      (500L until 510L).map(u => (u, 1L, 1L, (u % 4).toInt))
    val dir = java.nio.file.Files.createTempDirectory("graft_mj_src")
      .toFile.getAbsolutePath + "/src"
    src.toDF("user_id", "n", "cents", "pt").write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("mj_src_pq")
    val (_, descs) = jobsDuring(spark.sql(
      s"MERGE INTO graftmj.db.$name t USING mj_src_pq s $upsert").collect())
    assert(descs.size <= 5, s"MERGE ran ${descs.size} jobs: $descs")
    assert(perPhase(t, descs) ==
      Map("source" -> 1, "classify" -> 2, "write" -> 2), descs.toString)
    assert(rows(name) == model0 ++ src.map { case (u, n, c, _) =>
      val (n0, c0) = model0.getOrElse(u, (0L, 0L))
      u -> (n0 + n, c0 + c)
    })
  }

  test("mergeIntoKeys with a DELETE clause: MergeAudit equals the model, " +
      "still at most 4 jobs; CDF on adds one labelled job and records " +
      "the model's changes") {
    val name = "state_audit"
    val (t, model0) = mkState(name, v1 = false)
    // 120..179: even users update, odd users (cents < 0) delete, and
    // every 7th user, deleted before, inserts; so do 600..604
    val src = (120L until 180L).map(u =>
      (u, 9L, if (u % 2 == 0) 1L else -1L, (u % 4).toInt)) ++
      (600L until 605L).map(u => (u, 4L, 4L, (u % 4).toInt))
    def merge(table: String) = TableCommit.mergeIntoKeys(spark, table,
      Seq("pt"), Seq("user_id"), src.toDF("user_id", "n", "cents", "pt"),
      updateSet = Map("n" -> col("src_n")),
      deleteWhen = Some(col("src_cents") < 0))
    val wantKills = positionsOf(t, src.map(_._1).toSet, model0)
    val (matched, inserted) = src.partition { case (u, _, _, _) =>
      model0.contains(u) }
    val deleted = matched.count(_._3 < 0).toLong
    val (a, descs) = jobsDuring(merge(t))
    assert(perPhase(t, descs) == Map("classify" -> 2, "write" -> 2),
      descs.toString)
    val files = TableCommit.resolve(t).get._2
    assert(a.rowsUpdated == matched.size - deleted &&
      a.rowsDeleted == deleted && a.rowsInserted == inserted.size &&
      a.rowsDeletedBySource == 0L, a.toString)
    assert(a.filesHit == wantKills.size && a.filesCandidates == a.filesTotal,
      a.toString)
    assert(a.filesAdded == files.size - a.filesTotal, a.toString)
    val model = model0 -- matched.filter(_._3 < 0).map(_._1) ++
      matched.filter(_._3 >= 0).map { case (u, n, _, _) =>
        u -> (n, model0(u)._2)
      } ++ inserted.map { case (u, n, c, _) => u -> (n, c) }
    assert(rows(name) == model)
    assert(TableCommit.rowCount(t, a.snapshotAfter).get == model.size)

    // with the change feed on, the CDC sidecar is one more labelled job
    // and records the model's four-way classification
    val name2 = "state_cdf"
    val (t2, _) = mkState(name2, v1 = false)
    TableCommit.setProperties(t2, Map("graft.cdf" -> "true",
      "graft.retention.generations" -> "10"))
    val id2 = TableCommit.resolve(t2).get._1
    val (a2, descs2) = jobsDuring(merge(t2))
    assert(perPhase(t2, descs2) ==
      Map("classify" -> 2, "cdc" -> 1, "write" -> 2), descs2.toString)
    assert(rows(name2) == model)
    val feed = TableCommit.changeFeedPrecise(spark, t2, id2, a2.snapshotAfter)
      .select("user_id", "n", "cents", "_change_type")
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    val wantFeed = (matched.flatMap {
      case (u, _, c, _) if c < 0 => Seq((u, 1L, 10L, "delete"))
      case (u, n, _, _) => Seq((u, 1L, 10L, "update_preimage"),
        (u, n, 10L, "update_postimage"))
    } ++ inserted.map { case (u, n, c, _) => (u, n, c, "insert") }).sorted
    assert(feed == wantFeed)
  }

  test("the caller's job description is restored after a MERGE") {
    val name = "state_desc"
    val (t, _) = mkState(name, v1 = false)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("user_id"),
        Seq((1L, 1L, 1L, 1)).toDF("user_id", "n", "cents", "pt"),
        updateSet = Map("n" -> col("src_n")))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  for (v1 <- Seq(false, true); cdf <- Seq(false, true)) {
    val fmt = if (v1) "v1" else "v2"
    val feed = if (cdf) "with" else "without"
    test(s"SQL MoR DELETE then UPDATE ($fmt vectors, $feed graft.cdf): " +
        "1 and 3 labelled jobs (one more each with the feed); rows, " +
        "counts, manifest rows, vector bytes and change feed equal the " +
        "model") {
      val name = s"dml_${fmt}_${if (cdf) "cdf" else "plain"}"
      val (t, model0) = mkState(name, v1)
      if (cdf) TableCommit.setProperties(t, Map("graft.cdf" -> "true",
        "graft.retention.generations" -> "10"))
      val cdc = if (cdf) Map("cdc" -> 1) else Map.empty[String, Int]
      val rows0 = TableCommit.scanMeta(t, None).get.rows
      val id0 = TableCommit.resolve(t).get._1

      // DELETE every 5th user: one classify job, no successor write
      val dead = model0.keySet.filter(_ % 5 == 0)
      val wantDel = positionsOf(t, dead, model0)
      val before = dvDirs(t)
      val (res, descs) = jobsDuring(spark.sql(
        s"DELETE FROM graftmj.db.$name WHERE user_id % 5 = 0").collect())
      assert(perPhase(t, descs, "DELETE") == Map("classify" -> 1) ++ cdc,
        descs.toString)
      assert(res.toSeq == Seq(Row(dead.size.toLong)))
      val model1 = model0 -- dead
      assert(rows(name) == model1)
      val meta1 = TableCommit.scanMeta(t, None).get
      wantDel.foreach { case (rel, ps) =>
        assert(meta1.rows(rel) == rows0(rel) - ps.length, rel)
      }
      assert(TableCommit.rowCount(t, meta1.id).get == model1.size)
      assertVector(t, newDvDir(t, before), wantDel, v1)

      // UPDATE every 3rd live user: classify, then the successor write
      val upd = model1.keySet.filter(_ % 3 == 0)
      val wantUpd = positionsOf(t, upd, model1)
      val before2 = dvDirs(t)
      val (res2, descs2) = jobsDuring(spark.sql(
        s"UPDATE graftmj.db.$name SET n = n + 10, cents = cents * 2 " +
          "WHERE user_id % 3 = 0").collect())
      assert(perPhase(t, descs2, "UPDATE") ==
        Map("classify" -> 1, "write" -> 2) ++ cdc, descs2.toString)
      assert(res2.toSeq == Seq(Row(upd.size.toLong)))
      val model2 = model1 ++ upd.map(u => u -> (11L, 20L))
      assert(rows(name) == model2)
      val id2 = TableCommit.resolve(t).get._1
      assert(TableCommit.rowCount(t, id2).get == model2.size)
      assertVector(t, newDvDir(t, before2), wantUpd, v1)

      if (cdf) {
        def changes(from: Long, to: Long) =
          TableCommit.changeFeedPrecise(spark, t, from, to)
            .select("user_id", "n", "cents", "_change_type")
            .as[(Long, Long, Long, String)].collect().toSeq.sorted
        assert(changes(id0, meta1.id) ==
          dead.toSeq.map(u => (u, 1L, 10L, "delete")).sorted)
        assert(changes(meta1.id, id2) == upd.toSeq.flatMap(u => Seq(
          (u, 1L, 10L, "update_preimage"),
          (u, 11L, 20L, "update_postimage"))).sorted)
      }
    }
  }

  test("a predicate that prunes every file: delete and update in both " +
      "modes, and SQL DELETE and UPDATE, start 0 Spark jobs and publish " +
      "nothing") {
    val t = s"$wh/db/pruned_all"
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (0L until 400L).map(u => (u, 1L, (u % 4).toInt))
        .toDF("user_id", "n", "pt"), clusterBy = Seq("user_id"))
    val id0 = TableCommit.resolve(t).get._1
    val miss = "user_id BETWEEN 1000 AND 2000"
    for (mode <- Seq(TableCommit.CopyOnWrite, TableCommit.MergeOnRead)) {
      val (d, descs) = jobsDuring(
        TableCommit.delete(spark, t, Seq("pt"), expr(miss), mode))
      assert(descs.isEmpty && d.filesCandidates == 0 &&
        d.snapshotAfter == id0, s"$mode $d $descs")
      val (u, descs2) = jobsDuring(TableCommit.update(spark, t, Seq("pt"),
        expr(miss), Map("n" -> lit(0L)), mode))
      assert(descs2.isEmpty && u.filesCandidates == 0 &&
        u.snapshotAfter == id0, s"$mode $u $descs2")
    }
    val (del, descs3) = jobsDuring(
      spark.sql(s"DELETE FROM graftmj.db.pruned_all WHERE $miss").collect())
    assert(descs3.isEmpty && del.toSeq == Seq(Row(0L)), descs3.toString)
    val (upd, descs4) = jobsDuring(spark.sql(
      s"UPDATE graftmj.db.pruned_all SET n = 0 WHERE $miss").collect())
    assert(descs4.isEmpty && upd.toSeq == Seq(Row(0L)), descs4.toString)
    assert(TableCommit.resolve(t).get._1 == id0)
  }
}
