package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConditionalPutStore, TableCommit, TableStore}

/** The storage seam's PROOF suite (round-11 verdict item 1): the full
  * commit-protocol surface — adoption, append, replace, OCC races,
  * CoW and MoR DML, MERGE, restore, clone, time travel, CDF, vacuum,
  * the streaming sink's exactly-once ledger — driven through
  * [[ConditionalPutStore]], a store whose ONLY manifest publication
  * primitive is a conditional PUT (no hard links, no rename, no tmp
  * file, no directory semantics — the object-store constraint set).
  * Any protocol path that silently assumed link/rename semantics for
  * the log would fail here by construction. Local-FS behavior is
  * separately pinned byte-for-byte by every pre-seam suite running
  * against the default [[TableStore.local]]. */
class TableStoreSpec extends GraftSpec {
  import spark.implicits._

  private val memStore = new ConditionalPutStore()

  /** A fresh table whose prefix routes to the conditional-put store
    * for the duration of `body`; manifests live ONLY in the store's
    * map (the `_manifests` dir must never appear on disk). */
  private def withMemTable[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cps").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    TableStore.register(dir.getAbsolutePath, memStore)
    try body(t)
    finally {
      TableStore.unregister(dir.getAbsolutePath)
      memStore.dropTable(t)
      graft.operators.Sinks.deleteRecursively(dir)
    }
  }

  private def seed(t: String): Unit =
    Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1), (5L, "e", 2))
      .toDF("id", "v", "pt").repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)

  private def rows(t: String): Set[(Long, String, Int)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("conditional-put store: adoption, append, replace and time travel " +
      "publish through putIfAbsent alone — no _manifests dir ever exists " +
      "on disk") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      assert(TableCommit.resolve(t).get._1 == 0L)
      TableCommit.appendRows(spark, t, "pt",
        Seq((6L, "f", 2)).toDF("id", "v", "pt"))
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
        Seq((30L, "C", 1)).toDF("id", "v", "pt"))
      assert(rows(t) == Set((1L, "a", 0), (2L, "b", 0), (30L, "C", 1),
        (5L, "e", 2), (6L, "f", 2)))
      // time travel to the append snapshot (id 1) still resolves
      assert(TableCommit.readAt(spark, t, 1L).count() == 6L)
      // the log lives in the store's map, not on the filesystem
      assert(!new java.io.File(t, "_manifests").exists(),
        "a _manifests directory appeared on disk — some path bypassed " +
          "the store seam")
      assert(memStore.listManifestIds(t).nonEmpty)
    }
  }

  test("conditional-put store: the OCC race is arbitrated by the map's " +
      "putIfAbsent — loser rebases onto disjoint winner, both commits land") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      // two writers race commits to DISJOINT partitions through the
      // same conditional-put log
      val t1 = new Thread(() =>
        TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
          Seq((10L, "A", 0)).toDF("id", "v", "pt")))
      val t2 = new Thread(() =>
        TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
          Seq((50L, "E", 2)).toDF("id", "v", "pt")))
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(TableCommit.resolve(t).get._1 == 2L)
      assert(rows(t) == Set((10L, "A", 0), (3L, "c", 1), (4L, "d", 1),
        (50L, "E", 2)))
    }
  }

  test("conditional-put store: overlapping-partition race CONFLICTS for " +
      "exactly one writer (no silent lost update without rename " +
      "arbitration)") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def racer(v: String): Thread = new Thread(() =>
        try TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
          Seq((90L, v, 1)).toDF("id", "v", "pt"),
          readSnapshot = Some(0L))
        catch { case e: TableCommit.CommitConflictException => errs.add(e) })
      val a = racer("X"); val b = racer("Y")
      a.start(); b.start(); a.join(); b.join()
      assert(errs.size == 1,
        s"expected exactly one conflict, got ${errs.size}")
      val vs = rows(t).filter(_._3 == 1).map(_._2)
      assert(vs == Set("X") || vs == Set("Y"))
    }
  }

  test("conditional-put store: CoW delete, MoR delete+DV read, MERGE and " +
      "RESTORE all commit through the seam") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      // CoW delete id in [4,4]
      val da = TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(4), BigDecimal(4)), TableCommit.CopyOnWrite)
      assert(da.rowsDeleted == 1L)
      // MoR delete id in [3,3] — vector sidecar + manifest registration
      val ma = TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(3), BigDecimal(3)), TableCommit.MergeOnRead)
      assert(ma.rowsDeleted == 1L && ma.filesHit == 1)
      assert(rows(t) == Set((1L, "a", 0), (2L, "b", 0), (5L, "e", 2)))
      // MERGE: update id=1, insert id=7
      val src = Seq((1L, "a2", 0), (7L, "g", 2)).toDF("id", "v", "pt")
      val mg = TableCommit.mergeInto(spark, t, "pt", "id", src,
        updateSet = Map("v" -> col("src_v")))
      assert(mg.rowsUpdated == 1L && mg.rowsInserted == 1L)
      assert(rows(t) == Set((1L, "a2", 0), (2L, "b", 0), (5L, "e", 2),
        (7L, "g", 2)))
      // restore to the pre-merge snapshot
      TableCommit.restore(t, mg.snapshotBefore)
      assert(rows(t) == Set((1L, "a", 0), (2L, "b", 0), (5L, "e", 2)))
    }
  }

  test("conditional-put store: shallow clone goes down the COPY path " +
      "(object stores have no cross-object links) and diverges safely") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      val dst = new java.io.File(new java.io.File(t).getParentFile,
        "clone").getAbsolutePath
      TableCommit.cloneTo(t, dst)
      assert(rows(dst) == rows(t))
      // divergence: mutate the clone, source untouched
      TableCommit.replacePartitions(spark, dst, "pt", Seq("pt=0"),
        Seq((11L, "z", 0)).toDF("id", "v", "pt"))
      assert(rows(t).contains((1L, "a", 0)))
      assert(rows(dst).contains((11L, "z", 0)))
    }
  }

  test("conditional-put store: vacuumRun sweeps past-retention dead files " +
      "and deletes chain-surplus manifests from the map") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      // low checkpoint cadence so chain links exist
      TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "3"))
      (1 to 6).foreach { i =>
        TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
          Seq((100L + i, s"v$i", 1)).toDF("id", "v", "pt"))
      }
      TableCommit.vacuumRun(t)
      val ids = memStore.listManifestIds(t)
      val retained = TableCommit.history(t).map(_._1)
      assert(retained.forall(ids.contains))
      // newest state still reads correctly after the sweep
      assert(rows(t).contains((106L, "v6", 1)))
    }
  }

  test("conditional-put store: #bytes manifest entries cover every fresh " +
      "file, so byte-based admission never stats the store") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      TableCommit.appendRows(spark, t, "pt",
        Seq((8L, "h", 0), (9L, "i", 1)).toDF("id", "v", "pt"))
      val id = TableCommit.resolve(t).get._1
      val bytes = TableCommit.fileBytesAt(t, id)
      val (_, files) = TableCommit.resolve(t).get
      val fresh = files.filterNot(
        TableCommit.history(t).find(_._1 == id - 1).get._2.toSet)
      assert(fresh.nonEmpty)
      fresh.foreach { f =>
        assert(bytes.contains(f), s"no #bytes entry for fresh file $f")
        assert(bytes(f) == TableCommit.statFileSize(t, f),
          s"#bytes entry for $f disagrees with the store")
      }
    }
  }

  test("conditional-put store: partition evolution, mixed-generation DML " +
      "and string-keyed lex skipping all route through the seam (the " +
      "round-12 surfaces never assume local-FS log semantics)") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      // typed stats over the seam: a string-clustered commit
      TableCommit.replacePartitions(spark, t, "pt",
        Seq("pt=0", "pt=1", "pt=2"),
        (0 until 60).map(i => (i.toLong, f"k$i%03d", i % 3))
          .toDF("id", "v", "pt"),
        clusterBy = Seq("v"), filesPerPartition = 2)
      val (id, files) = TableCommit.resolve(t).get
      val pruned = TableCommit.readWhereLexAt(spark, t, id, "v",
        "k010", "k019")
      assert(pruned.count() == 10L &&
        pruned.inputFiles.length < files.length)
      // evolution is a conditional-PUT metadata commit like any other
      TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "v"))
      TableCommit.appendRowsBy(spark, t, Seq("pt", "v"),
        Seq((100L, "zz1", 0), (101L, "zz2", 1)).toDF("id", "v", "pt"))
      assert(TableCommit.read(spark, t).count() == 62L)
      // mixed-generation MoR delete through the seam
      val mor = TableCommit.delete(spark, t, Seq("pt", "v"),
        band("id", BigDecimal(50), BigDecimal(100)), TableCommit.MergeOnRead)
      assert(mor.rowsDeleted == 11L, mor.toString)
      assert(TableCommit.read(spark, t).count() == 51L)
      assert(!new java.io.File(t, "_manifests").exists,
        "a _manifests dir appeared on disk — a path bypassed the seam")
    }
  }

  test("conditional-put store: the streaming sink's exactly-once txn " +
      "ledger holds — a replayed batch is a structural no-op") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      val df = Seq((20L, "s", 0)).toDF("id", "v", "pt")
      TableCommit.appendRows(spark, t, "pt", df, txn = Some(("app1", 7L)))
      val before = rows(t)
      // replay of the same (appId, version): no second application
      TableCommit.appendRows(spark, t, "pt", df, txn = Some(("app1", 7L)))
      assert(rows(t) == before)
      assert(TableCommit.lastTxnVersion(t, "app1").contains(7L))
    }
  }
  test("conditional-put store: a REAL streaming pipeline (graft-table " +
      "source -> graft-table sink) commits end-to-end through the " +
      "rename-less log") {
    withMemTable { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      val base = new java.io.File(t).getParentFile
      val out = new java.io.File(base, "sink").getAbsolutePath
      val ckpt = new java.io.File(base, "ckpt").getAbsolutePath
      // the sink table lives under the SAME registered prefix — its
      // manifests go through the conditional-put map too
      val q = spark.readStream.format("graft-table").load(t)
        .writeStream.format("graft-table")
        .partitionBy("pt")
        .option("txnAppId", "cps_pipe")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      q.awaitTermination()
      assert(rows(out) == rows(t))
      // both logs live in the map, not on disk
      assert(!new java.io.File(t, "_manifests").exists())
      assert(!new java.io.File(out, "_manifests").exists())
      assert(TableCommit.lastTxnVersion(out, "cps_pipe").isDefined)
      memStore.dropTable(out)
    }
  }

}
