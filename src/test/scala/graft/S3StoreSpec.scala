package graft

import org.apache.spark.sql.functions._
import graft.operators.{S3SemanticsStore, TableCommit, TableStore}

/** The OBJECT-STORE adapter template's proof suite (round-13): the
  * full commit-protocol matrix — adoption, append, replace, OCC
  * races, CoW/MoR DML (v2 roaring vectors included), MERGE, restore,
  * clone, vacuum, sidecar cold-open, the streaming sink — driven
  * through [[S3SemanticsStore]], whose surface is exactly S3's:
  * conditional PUT for the log, ONE paged lexicographic LIST
  * primitive for every listing, copy+delete for move, copy for
  * share, generation-counter identities, spooled sidecar objects.
  * Any protocol path assuming directory nodes, rename(2), hard
  * links, or single-shot listings fails here by construction. */
class S3StoreSpec extends GraftSpec {
  import spark.implicits._

  // small pages so every listing genuinely paginates
  private val s3 = new S3SemanticsStore(pageSize = 3)

  private def withS3Table[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_s3").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    TableStore.register(dir.getAbsolutePath, s3)
    try body(t)
    finally {
      TableStore.unregister(dir.getAbsolutePath)
      s3.dropTable(t)
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

  test("s3 store: the LIST primitive paginates (pageSize=3 serves real " +
      "continuation pages), subdir recency is the newest object's " +
      "Last-Modified, and move is COPY+DELETE (new object identity)") {
    withS3Table { t =>
      seed(t)
      val before = s3.pagesServed
      val files = s3.listFilesUnder(t, "")
      assert(files.length == 5 || files.length >= 3, files.toString)
      assert(s3.pagesServed > before,
        "listing served no pages — pagination bypassed")
      // subdirs via delimiter CommonPrefixes
      val subs = s3.listSubdirs(t, "").map(_._1).toSet
      assert(subs == Set("pt=0", "pt=1", "pt=2"), subs.toString)
      // move = copy + delete: the destination is a NEW object (inode
      // changes; a rename would preserve it)
      val rel = files.head
      def inode(r: String) = java.nio.file.Files.readAttributes(
        new java.io.File(t, r).toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      val srcInode = inode(rel)
      s3.moveFile(t, rel, s"moved/${rel.split('/').last}")
      assert(!new java.io.File(t, rel).exists(), "source object survived")
      val dstInode = inode(s"moved/${rel.split('/').last}")
      assert(srcInode != dstInode,
        "move preserved the inode — a rename snuck in")
    }
  }

  test("s3 store: adoption, append, replace, time travel — conditional " +
      "PUT only, generation identities, no _manifests dir on disk") {
    withS3Table { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      assert(TableCommit.resolve(t).get._1 == 0L)
      TableCommit.appendRows(spark, t, "pt",
        Seq((6L, "f", 2)).toDF("id", "v", "pt"))
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
        Seq((30L, "C", 1)).toDF("id", "v", "pt"))
      assert(rows(t) == Set((1L, "a", 0), (2L, "b", 0), (30L, "C", 1),
        (5L, "e", 2), (6L, "f", 2)))
      assert(TableCommit.readAt(spark, t, 1L).count() == 6L)
      assert(!new java.io.File(t, "_manifests").exists(),
        "a _manifests directory appeared — a path bypassed the seam")
      val ident = s3.manifestIdentity(t, 0L)
      assert(ident.exists(_.startsWith("gen#")), ident.toString)
    }
  }

  test("s3 store: disjoint OCC race — both land; overlapping race — " +
      "exactly one conflict, no silent lost update") {
    withS3Table { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
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
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def racer(v: String): Thread = new Thread(() =>
        try TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
          Seq((90L, v, 1)).toDF("id", "v", "pt"),
          readSnapshot = Some(2L))
        catch { case e: TableCommit.CommitConflictException => errs.add(e) })
      val a = racer("X"); val b = racer("Y")
      a.start(); b.start(); a.join(); b.join()
      assert(errs.size == 1, s"expected exactly one conflict: ${errs.size}")
      val vs = rows(t).filter(_._3 == 1).map(_._2)
      assert(vs == Set("X") || vs == Set("Y"))
    }
  }

  test("s3 store: CoW delete, MoR delete with v2 roaring vectors, MERGE, " +
      "RESTORE — all commit and read back through the seam") {
    withS3Table { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      val da = TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(4), BigDecimal(4)), TableCommit.CopyOnWrite)
      assert(da.rowsDeleted == 1L)
      val ma = TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(3), BigDecimal(3)), TableCommit.MergeOnRead)
      assert(ma.rowsDeleted == 1L && ma.filesHit == 1)
      assert(rows(t) == Set((1L, "a", 0), (2L, "b", 0), (5L, "e", 2)))
      // the registered vector is the v2 roaring encoding
      val mid = TableCommit.resolve(t).get._1
      assert(TableCommit.history(t).nonEmpty)
      val manifest = s3.readManifest(t, mid)
      assert(manifest.contains(".v2\t") && manifest.contains("#require dv2"),
        manifest.take(500))
      val src = Seq((1L, "a2", 0), (7L, "g", 2)).toDF("id", "v", "pt")
      val mg = TableCommit.mergeInto(spark, t, "pt", "id", src,
        updateSet = Map("v" -> col("src_v")))
      assert(mg.rowsUpdated == 1L && mg.rowsInserted == 1L)
      assert(rows(t) == Set((1L, "a2", 0), (2L, "b", 0), (5L, "e", 2),
        (7L, "g", 2)))
      TableCommit.restore(t, mg.snapshotBefore)
      assert(rows(t) == Set((1L, "a", 0), (2L, "b", 0), (5L, "e", 2)))
    }
  }

  test("s3 store: shallow clone copies objects (no links) and diverges " +
      "safely") {
    withS3Table { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      val dst = new java.io.File(new java.io.File(t).getParentFile,
        "clone").getAbsolutePath
      TableCommit.cloneTo(t, dst)
      assert(rows(dst) == rows(t))
      TableCommit.replacePartitions(spark, dst, "pt", Seq("pt=0"),
        Seq((11L, "z", 0)).toDF("id", "v", "pt"))
      assert(rows(t).contains((1L, "a", 0)))
      assert(rows(dst).contains((11L, "z", 0)))
      s3.dropTable(dst)
    }
  }

  test("s3 store: sidecar COLD-OPEN works against spooled sidecar " +
      "objects — pruned read equals the text path; vacuum sweeps the " +
      "spool with its manifest") {
    withS3Table { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
      val rows400 = (0 until 400).map(i => (i.toLong, f"k$i%05d", i % 3))
      TableCommit.replacePartitions(spark, t, "pt",
        Seq("pt=0", "pt=1", "pt=2"), rows400.toDF("id", "v", "pt"),
        clusterBy = Seq("id"), filesPerPartition = 4)
      val (id, files) = TableCommit.resolve(t).get
      val viaSidecar = TableCommit.sidecarPrunedFiles(t, id, "id",
        BigDecimal(100), BigDecimal(150))
      assert(viaSidecar.isDefined,
        "no spooled sidecar served the newest checkpoint")
      assert(viaSidecar.get.length < files.length)
      val got = TableCommit.readWhereAt(spark, t, id, "id",
        BigDecimal(100), BigDecimal(150)).count()
      assert(got == 51L)
      // age past retention: publish more commits, then vacuum — the
      // dropped manifests' sidecar objects leave the spool
      val stem = TableCommit.sidecarPathProbe(t, id)
      assert(stem.exists(p => new java.io.File(p).isFile))
      (1 to 3).foreach { i =>
        TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
          Seq((1000L + i, s"x$i", 0)).toDF("id", "v", "pt"))
      }
      TableCommit.vacuumRun(t)
      assert(stem.forall(p => !new java.io.File(p).exists()),
        "vacuumed manifest's sidecar object survived in the spool")
    }
  }

  test("s3 store: vacuumRun sweeps dead objects via the paged LIST and " +
      "deletes chain-surplus manifests from the bucket") {
    withS3Table { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
      TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "3"))
      (1 to 6).foreach { i =>
        TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
          Seq((100L + i, s"v$i", 1)).toDF("id", "v", "pt"))
      }
      TableCommit.vacuumRun(t)
      val ids = s3.listManifestIds(t)
      val retained = TableCommit.history(t).map(_._1)
      assert(retained.forall(ids.contains))
      assert(rows(t).contains((106L, "v6", 1)))
    }
  }

  test("s3 store: a REAL streaming pipeline through a TRANSFORM " +
      "partition spec — graft-table source to hidden-day-bucketed sink, " +
      "end-to-end over the conditional-put log") {
    withS3Table { t =>
      val rows = (0 until 30).map(i => (i.toLong, s"v$i",
        java.sql.Date.valueOf(java.time.LocalDate.of(2026, 4, 1)
          .plusDays(i % 3))))
      import spark.implicits._
      TableCommit.appendRowsBy(spark, t, Seq("days(d)"),
        rows.toDF("id", "v", "d"))
      val base = new java.io.File(t).getParentFile
      val out = new java.io.File(base, "sink").getAbsolutePath
      spark.readStream.format("graft-table").load(t)
        .writeStream.format("graft-table")
        .option("partitionSpec", "days(d);bucket(2,id)")
        .option("txnAppId", "s3_tspipe")
        .option("checkpointLocation",
          new java.io.File(base, "ckpt").getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out).awaitTermination()
      val got = TableCommit.read(spark, out)
        .select(col("id"), col("v"), col("d").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).toSet
      assert(got == rows.map(r => (r._1, r._2, r._3.toString)).toSet)
      assert(TableCommit.resolve(out).get._2.forall(
        _.matches("p_d_day=2026-04-0\\d/p_id_bucket=[01]/.*")),
        TableCommit.resolve(out).get._2.toString)
      assert(!new java.io.File(t, "_manifests").exists() &&
        !new java.io.File(out, "_manifests").exists(),
        "a _manifests dir appeared — a path bypassed the seam")
      assert(TableCommit.lastTxnVersion(out, "s3_tspipe").isDefined)
      s3.dropTable(out)
    }
  }

  test("s3 store: partition evolution, transform layout, lex skipping " +
      "and the streaming sink's exactly-once ledger through the seam") {
    withS3Table { t =>
      seed(t)
      TableCommit.initIfAbsent(t)
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
      TableCommit.evolvePartitioningBy(spark, t, Seq("bucket(4,id)"))
      TableCommit.appendRowsBy(spark, t, Seq("bucket(4,id)"),
        Seq((100L, "zz1", 0), (101L, "zz2", 1)).toDF("id", "v", "pt"))
      assert(TableCommit.read(spark, t).count() == 62L)
      val mor = TableCommit.delete(spark, t, Seq("bucket(4,id)"),
        band("id", BigDecimal(50), BigDecimal(100)), TableCommit.MergeOnRead)
      assert(mor.rowsDeleted == 11L, mor.toString)
      assert(TableCommit.read(spark, t).count() == 51L)
      // exactly-once ledger
      val df = Seq((500L, "s", 0)).toDF("id", "v", "pt")
      TableCommit.appendRowsBy(spark, t, Seq("bucket(4,id)"), df,
        txn = Some(("s3app", 7L)))
      val before = TableCommit.read(spark, t).count()
      TableCommit.appendRowsBy(spark, t, Seq("bucket(4,id)"), df,
        txn = Some(("s3app", 7L)))
      assert(TableCommit.read(spark, t).count() == before)
      assert(TableCommit.lastTxnVersion(t, "s3app").contains(7L))
      assert(!new java.io.File(t, "_manifests").exists(),
        "a _manifests dir appeared — a path bypassed the seam")
    }
  }
}
