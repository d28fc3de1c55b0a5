package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** Unit contract of the minimal atomic commit protocol (TableCommit):
  * adoption, partition replacement, snapshot pinning, time travel,
  * retention vacuum and orphan sweep — on a tiny synthetic partitioned
  * table, independent of the three production call sites (which carry
  * their own integration pins: EtlOpsSpec's reader-vs-apply race,
  * SimilaritySpec's increment≡rebuild, StreamingSpec's batch
  * equivalence). */
class TableCommitSpec extends GraftSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tc").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1),
      (5L, "e", 2))
      .toDF("id", "v", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    t
  }

  private def snapshot(t: String): Set[(Long, String, Int)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("MERGE WHEN NOT MATCHED BY SOURCE: unreferenced target rows " +
      "delete by clause (the full-sync shape), NULL clause keeps, CDF " +
      "records the kills, empty source + unconditional clause wipes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nmbs").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    TableCommit.appendRows(spark, t, "pt",
      Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1),
        (5L, "e", 2)).toDF("id", "v", "pt"))
    TableCommit.setProperties(t, Map("graft.cdf" -> "true",
      "graft.retention.generations" -> "6"))
    // source references 1 (update) and 6 (insert); the clause deletes
    // UNREFERENCED rows only in pt <= 1 — kills 2,3,4, keeps 5
    val src = Seq((1L, "a2", 0), (6L, "f", 2)).toDF("id", "v", "pt")
    val a = TableCommit.mergeInto(spark, t, "pt", "id", src,
      updateSet = Map("v" -> col("src_v")),
      notMatchedBySourceDelete = Some(col("pt") <= 1))
    assert(a.rowsUpdated == 1L && a.rowsInserted == 1L &&
      a.rowsDeleted == 0L && a.rowsDeletedBySource == 3L, a.toString)
    assert(snapshot(t) == Set((1L, "a2", 0), (5L, "e", 2), (6L, "f", 2)))
    // metadata row count tracked the by-source kills exactly
    assert(TableCommit.rowCount(t,
      TableCommit.resolve(t).get._1).contains(3L))
    // the four-way feed recorded the kills as deletes
    val byType = TableCommit.changeFeedPrecise(spark, t,
      a.snapshotBefore, a.snapshotAfter)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 3L, "update_preimage" -> 1L,
      "update_postimage" -> 1L, "insert" -> 1L), byType.toString)
    // NULL clause keeps (SQL semantics): empty source, clause null for
    // id=1 — deletes 5 and 6, keeps 1
    val b = TableCommit.mergeInto(spark, t, "pt", "id", src.limit(0),
      updateSet = Map.empty,
      notMatchedBySourceDelete = Some(
        when(col("id") === 1L, lit(null).cast("boolean"))
          .otherwise(lit(true))))
    assert(b.rowsDeletedBySource == 2L && b.rowsInserted == 0L,
      b.toString)
    assert(snapshot(t) == Set((1L, "a2", 0)))
    // empty source + unconditional clause = full wipe, one MoR commit
    val c = TableCommit.mergeInto(spark, t, "pt", "id", src.limit(0),
      updateSet = Map.empty,
      notMatchedBySourceDelete = Some(lit(true)))
    assert(c.rowsDeletedBySource == 1L, c.toString)
    assert(TableCommit.read(spark, t).count() == 0L)
    // and WITHOUT the clause an empty source stays the no-op it was
    val d = TableCommit.mergeInto(spark, t, "pt", "id", src.limit(0),
      updateSet = Map.empty)
    assert(d.snapshotBefore == d.snapshotAfter, d.toString)
  }

  test("general-predicate DML: deleteMatching / updateMatching and their " +
      "MoR twins serve SQL's unrestricted WHERE — full candidacy, " +
      "hit-only writes, NULL-predicate rows kept") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    // CoW UPDATE across partitions on a non-band predicate
    val u = TableCommit.update(spark, t, Seq("pt"), col("v").isin("a", "d"),
      Map("v" -> upper(col("v"))), TableCommit.CopyOnWrite)
    assert(u.rowsUpdated == 2L && u.filesCandidates == u.filesTotal,
      u.toString)
    assert(snapshot(t) == Set((1L, "A", 0), (2L, "b", 0), (3L, "c", 1),
      (4L, "D", 1), (5L, "e", 2)))
    // MoR DELETE whose predicate is NULL for one row: SQL keeps it
    val nullish = when(col("id") === 2L,
      lit(null).cast("boolean")).otherwise(col("id") === 3L)
    val d = TableCommit.delete(spark, t, Seq("pt"), nullish,
      TableCommit.MergeOnRead)
    assert(d.rowsDeleted == 1L, d.toString)
    assert(snapshot(t) == Set((1L, "A", 0), (2L, "b", 0),
      (4L, "D", 1), (5L, "e", 2)))
    // CoW DELETE on a value-only predicate; hit scan narrows the
    // rewrite to the one file holding the match
    val d2 = TableCommit.delete(spark, t, Seq("pt"), col("v") === "e",
      TableCommit.CopyOnWrite)
    assert(d2.rowsDeleted == 1L && d2.filesHit == 1, d2.toString)
    // MoR UPDATE, arbitrary predicate
    val u2 = TableCommit.update(spark, t, Seq("pt"),
      col("v").startsWith("A") || col("v").startsWith("b"),
      Map("v" -> concat(col("v"), lit("!"))), TableCommit.MergeOnRead)
    assert(u2.rowsUpdated == 2L, u2.toString)
    assert(snapshot(t) == Set((1L, "A!", 0), (2L, "b!", 0), (4L, "D", 1)))
    // the metadata row count tracked every verb
    assert(TableCommit.rowCount(t,
      TableCommit.resolve(t).get._1).contains(3L))
  }

  test("#op commit annotations: every verb labels its manifest across " +
      "checkpoint AND delta forms, operations()/history surface them, " +
      "and state parsing is untouched") {
    val t = freshTable()
    TableCommit.initIfAbsent(t) // 0: ADOPT
    TableCommit.setProperties(t, Map( // 1: SET PROPERTIES
      "graft.retention.generations" -> "20",
      "graft.checkpoint.interval" -> "3")) // mixed delta/ckpt forms
    TableCommit.appendRows(spark, t, "pt", // 2: APPEND
      Seq((6L, "f", 2)).toDF("id", "v", "pt"))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"), // 3
      Seq((10L, "A", 0)).toDF("id", "v", "pt"))
    TableCommit.delete(spark, t, Seq("pt"), // 4: DELETE
      band("id", BigDecimal(4), BigDecimal(4)), TableCommit.CopyOnWrite)
    TableCommit.delete(spark, t, Seq("pt"), // 5: DELETE (MOR)
      band("id", BigDecimal(3), BigDecimal(3)), TableCommit.MergeOnRead)
    TableCommit.update(spark, t, Seq("pt"), // 6: UPDATE (MOR)
      band("id", BigDecimal(5), BigDecimal(5)), Map("v" -> upper(col("v"))),
      TableCommit.MergeOnRead)
    TableCommit.mergeInto(spark, t, "pt", "id", // 7: MERGE
      Seq((10L, "A2", 0), (7L, "g", 2)).toDF("id", "v", "pt"),
      updateSet = Map("v" -> col("src_v")))
    TableCommit.compactPartitions(spark, t, "pt", Seq("pt=2"), // 8
      clusterBy = Seq("id"), filesPerPartition = 1)
    TableCommit.restore(t, 7L) // 9: RESTORE (to the pre-compact state)
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "v")) // 10
    val want = Map(0L -> "ADOPT", 1L -> "SET PROPERTIES",
      2L -> "APPEND", 3L -> "REPLACE PARTITIONS", 4L -> "DELETE",
      5L -> "DELETE (MOR)", 6L -> "UPDATE (MOR)", 7L -> "MERGE",
      8L -> "COMPACT", 9L -> "RESTORE", 10L -> "EVOLVE PARTITIONING")
    val ops = TableCommit.operations(t)
    assert(ops.map(_._1).toSet == want.keySet, ops.toString)
    ops.foreach { case (id, ann) =>
      assert(ann.map(_._1).contains(want(id)),
        s"snapshot $id labeled ${ann.map(_._1)}, want ${want(id)}")
      assert(ann.exists(_._2 > 0L), s"snapshot $id missing timestamp")
    }
    // both manifest FORMS carry the line (interval 3: ids 3/6/9 are
    // checkpoints, the rest deltas)
    def manifestText(id: Long): String = new String(
      java.nio.file.Files.readAllBytes(new java.io.File(t,
        f"_manifests/manifest-$id%09d").toPath), "UTF-8")
    assert(manifestText(6L).contains("#op UPDATE (MOR)\t"))
    assert(manifestText(7L).contains("#op MERGE\t"))
    // the annotation never perturbs state: the restore target equals
    // the restored head row-for-row
    assert(snapshot(t) == TableCommit.readAt(spark, t, 7L)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSet)
    // CLONE labels the destination's adopted manifest
    val dst = new java.io.File(new java.io.File(t).getParentFile,
      "clone").getAbsolutePath
    TableCommit.cloneTo(t, dst)
    assert(TableCommit.operations(dst).headOption.exists(
      _._2.exists(_._1 == "CLONE")), TableCommit.operations(dst).toString)
  }

  test("initIfAbsent adopts a plain tree as manifest-0; read equals raw read") {
    val t = freshTable()
    assert(TableCommit.resolve(t).isEmpty)
    TableCommit.initIfAbsent(t)
    val Some((id, files)) = TableCommit.resolve(t)
    assert(id == 0L && files.nonEmpty)
    assert(files.forall(_.endsWith(".parquet")), files.toString)
    assert(snapshot(t) ==
      spark.read.parquet(t).select(col("id"), col("v"), col("pt").cast("int"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet)
  }

  test("replacePartitions swaps exactly the dirty partitions, atomically " +
      "bumping the manifest; clean partitions' files byte-untouched") {
    val t = freshTable()
    def files(p: Int): Map[String, Long] =
      Option(new java.io.File(t, s"pt=$p").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    TableCommit.initIfAbsent(t)
    val clean0 = files(0)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1), (60L, "F", 1)).toDF("id", "v", "pt"))
    assert(TableCommit.resolve(t).get._1 == 1L)
    assert(files(0) == clean0, "clean partition rewritten")
    assert(snapshot(t) == Set(
      (1L, "a", 0), (2L, "b", 0), (30L, "C", 1), (60L, "F", 1), (5L, "e", 2)))
  }

  test("retention: previous snapshot stays time-travel readable; the one " +
      "before it is vacuumed (manifest and files)") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val gen0 = snapshot(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    val gen1 = snapshot(t)
    // newest-1 (= gen0) is still pinned — a slow reader's grace window
    assert(TableCommit.readAt(spark, t, 0L)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      == gen0)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((50L, "E", 2)).toDF("id", "v", "pt"))
    // manifest-0 and the files only it referenced are gone
    assert(intercept[RuntimeException](
      TableCommit.readAt(spark, t, 0L)).getMessage.contains("retention"))
    val disk = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          // _manifests holds metadata (incl. columnar .parquet
          // checkpoint sidecars) — never table data
          Option(f.listFiles()).getOrElse(Array.empty).toSeq
            .filterNot(_.getName == "_manifests").flatMap(walk)
        else Seq(f)
      walk(new java.io.File(t)).map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    val live = (TableCommit.resolve(t).get._2 ++
      TableCommit.readAt(spark, t, 1L).inputFiles.map(
        f => f.substring(f.lastIndexOf('/') + 1)).toSeq)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(disk == live,
      s"disk holds files outside the retention window: ${disk -- live}")
    // both retained snapshots stay readable and correct
    assert(TableCommit.readAt(spark, t, 1L)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      == gen1)
    assert(snapshot(t) == Set(
      (1L, "a", 0), (2L, "b", 0), (30L, "C", 1), (50L, "E", 2)))
  }

  test("an aborted writer (files appended, no manifest committed) is " +
      "invisible to readers; an EXPLICIT vacuum reclaims its stale " +
      "debris (commits never pay the O(table) orphan walk)") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val before = snapshot(t)
    // simulate a crash mid-append: data files land, the commit never
    // happens — exactly what a killed job leaves behind
    Seq((99L, "Z", 1)).toDF("id", "v", "pt")
      .write.mode("append").partitionBy("pt").parquet(t)
    assert(snapshot(t) == before,
      "uncommitted files leaked into the pinned snapshot")
    // age the abandoned files past the orphan window
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filterNot(_.getName == "_manifests").flatMap(walk)
      else Seq(f)
    val live = TableCommit.resolve(t).get._2.map(p =>
      p.substring(p.lastIndexOf('/') + 1)).toSet
    val orphans = walk(new java.io.File(t))
      .filter(f => f.getName.endsWith(".parquet") && !live.contains(f.getName))
    assert(orphans.nonEmpty)
    orphans.foreach(_.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    // a COMMIT does not pay the tree walk — the debris survives it...
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((50L, "E", 2)).toDF("id", "v", "pt"))
    assert(orphans.forall(_.exists()),
      "inline vacuum paid the O(table) orphan walk")
    // ...and the explicit maintenance verb reclaims it
    TableCommit.vacuumRun(t)
    assert(orphans.forall(!_.exists()), "aborted append's files not reclaimed")
    assert(snapshot(t) == before.filterNot(_._3 == 2) + ((50L, "E", 2)))
  }

  test("model-checked commit sequence: every snapshot equals the " +
      "in-memory model after each of a randomized replace series") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    var model: Map[Int, Set[(Long, String, Int)]] =
      snapshot(t).groupBy(_._3).view.mapValues(_.toSet).toMap
    val rnd = new scala.util.Random(20260814L)
    for (step <- 1 to 6) {
      // replace 1-2 random partitions with fresh content
      val dirty = rnd.shuffle((0 to 2).toList).take(1 + rnd.nextInt(2))
      val rows = dirty.flatMap(p =>
        (0 until 1 + rnd.nextInt(3)).map(i =>
          (step * 100L + p * 10L + i, s"s$step-$p-$i", p)))
      TableCommit.replacePartitions(spark, t, "pt", dirty.map(p => s"pt=$p"),
        rows.toDF("id", "v", "pt"))
      model = model -- dirty ++ rows.groupBy(_._3).view.mapValues(_.toSet).toMap
      assert(snapshot(t) == model.values.flatten.toSet,
        s"snapshot diverged from model at step $step")
    }
  }

  test("optimistic concurrency: concurrent writers of DISJOINT partitions " +
      "all commit (CAS losers rebase); every change lands") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 to 2).map { p =>
      new Thread(() =>
        try TableCommit.replacePartitions(spark, t, "pt", Seq(s"pt=$p"),
          Seq((900L + p, s"occ$p", p)).toDF("id", "v", "pt"))
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"disjoint concurrent commits failed: ${errs.peek()}")
    // three successful commits on top of manifest-0
    assert(TableCommit.resolve(t).get._1 == 3L)
    assert(snapshot(t) == Set(
      (900L, "occ0", 0), (901L, "occ1", 1), (902L, "occ2", 2)))
  }

  test("optimistic concurrency: a writer whose pinned read snapshot was " +
      "overtaken on a dirty partition CONFLICTS; disjoint overtake rebases") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val readId = TableCommit.resolve(t).get._1
    // another commit lands on pt=1 between the read and the write
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    // overlapping dirty partition → lost-update conflict, table untouched
    val before = snapshot(t)
    val e = intercept[TableCommit.CommitConflictException] {
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
        Seq((31L, "X", 1)).toDF("id", "v", "pt"), readSnapshot = Some(readId))
    }
    assert(e.getMessage.contains("pt=1"))
    assert(snapshot(t) == before, "conflicted commit mutated the table")
    // disjoint dirty partition from the same stale read → rebases fine
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((50L, "E", 2)).toDF("id", "v", "pt"), readSnapshot = Some(readId))
    assert(snapshot(t) == before.filterNot(_._3 == 2) + ((50L, "E", 2)))
    // a read snapshot that fell out of retention is itself a conflict
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      Seq((10L, "A", 0)).toDF("id", "v", "pt"))
    assert(intercept[TableCommit.CommitConflictException] {
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
        Seq((11L, "B", 0)).toDF("id", "v", "pt"), readSnapshot = Some(readId))
    }.getMessage.contains("retention"))
  }

  test("exactly-once txn guard: a replayed (appId, version) commit is a " +
      "no-op; newer versions apply; the ledger survives other commits " +
      "and retention") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"), txn = Some(("appA", 1L)))
    val afterFirst = snapshot(t)
    val idAfterFirst = TableCommit.resolve(t).get._1
    // replay of version 1 — even with DIFFERENT rows — must not apply
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((99L, "REPLAY", 1)).toDF("id", "v", "pt"), txn = Some(("appA", 1L)))
    assert(TableCommit.resolve(t).get._1 == idAfterFirst,
      "replayed txn bumped the manifest")
    assert(snapshot(t) == afterFirst, "replayed txn mutated the table")
    // an unrelated commit (no txn) must not erase the ledger…
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((50L, "E", 2)).toDF("id", "v", "pt"))
    // …and several commits later (past retention of appA's manifest)
    // the replay is still recognized
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      Seq((10L, "A", 0)).toDF("id", "v", "pt"))
    val beforeReplay = snapshot(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((98L, "REPLAY2", 1)).toDF("id", "v", "pt"), txn = Some(("appA", 1L)))
    assert(snapshot(t) == beforeReplay,
      "txn ledger lost across commits/retention — replay re-applied")
    // a NEWER version from the same app applies normally
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((31L, "D", 1)).toDF("id", "v", "pt"), txn = Some(("appA", 2L)))
    assert(snapshot(t).contains((31L, "D", 1)))
    assert(TableCommit.lastTxnVersion(t, "appA").contains(2L))
  }

  test("a commit that empties the table yields a READABLE zero-row " +
      "snapshot (schema from the manifest's #schema directive); the " +
      "previous generation still time-travels") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val before = TableCommit.resolve(t).get._1
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1", "pt=2"),
      Seq.empty[(Long, String, Int)].toDF("id", "v", "pt"))
    val Some((id, files)) = TableCommit.resolve(t)
    assert(id == before + 1 && files.isEmpty)
    val empty = TableCommit.read(spark, t)
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq == Seq("id", "v", "pt"))
    // previous generation is inside retention and fully readable
    assert(TableCommit.readAt(spark, t, before).count() == 5L)
  }

  test("initIfAbsent on a not-yet-written root adopts an EMPTY manifest " +
      "(no phantom \"\" entry from the missing-dir walk)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tc").toFile
    val t = new java.io.File(dir, "never_written").getAbsolutePath
    TableCommit.initIfAbsent(t)
    val Some((id, files)) = TableCommit.resolve(t)
    assert(id == 0L && files.isEmpty, files.toString)
  }

  test("REAL-THREAD contention: four writers on disjoint partitions all " +
      "land (lost CAS rebases over the disjoint winner, never conflicts, " +
      "never drops a change)") {
    val t = freshTable()
    // widen to 4 partitions so each writer owns one
    Seq((7L, "g", 3)).toDF("id", "v", "pt")
      .write.mode("append").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    val base = TableCommit.resolve(t).get._1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val fs = (0 until 4).map { p =>
      scala.concurrent.Future {
        gate.await()
        TableCommit.replacePartitions(spark, t, "pt", Seq(s"pt=$p"),
          Seq((100L + p, s"W$p", p)).toDF("id", "v", "pt"))
      }
    }
    gate.countDown()
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(fs),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    // every writer's change landed; exactly 4 commits advanced the log
    assert(TableCommit.resolve(t).get._1 == base + 4)
    assert(snapshot(t) == Set(
      (100L, "W0", 0), (101L, "W1", 1), (102L, "W2", 2), (103L, "W3", 3)))
  }

  test("#stats data-skipping: a key-band read opens strictly fewer files " +
      "than the snapshot holds; rows identical to the unpruned filtered " +
      "read; audit surfaces agree") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    // 400 keyed rows over two partitions, committed with per-file id
    // stats and 4 key-contiguous files per partition
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 4)
    val (id, files) = TableCommit.resolve(t).get
    val pruned = TableCommit.readWhere(spark, t, "id",
      BigDecimal(100), BigDecimal(150))
    assert(pruned.inputFiles.length < files.length,
      s"no files pruned (${pruned.inputFiles.length} of ${files.length})")
    val expect = TableCommit.read(spark, t)
      .filter(col("id") >= 100 && col("id") <= 150)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val got = pruned.select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == expect, "pruned read diverged from unpruned filtered read")
    // the metadata-only audit agrees with what the read actually opened
    val (kept, total) = TableCommit.pruneAudit(t, id, "id",
      BigDecimal(100), BigDecimal(150))
    assert(kept == pruned.inputFiles.length && total == files.length)
    // global range spans exactly the committed keys; the stats-less
    // retained pt=2 file is conservatively kept by any band
    assert(TableCommit.statsRange(t, id, "id")
      .contains((BigDecimal(0), BigDecimal(399))))
    val (keptFar, _) = TableCommit.pruneAudit(t, id, "id",
      BigDecimal(10000), BigDecimal(10001))
    assert(keptFar == 1, "only the stats-less adopted file may survive " +
      s"an out-of-range band, got $keptFar")
    // band SWEEP: a misattributed per-file range (the straddling-task
    // same-file-name class — a range-partitioned task can write
    // same-named part files into TWO partition dirs) would wrongly
    // exclude an overlapping file in SOME band; every band must read
    // exactly the filtered rows
    for (lo <- 0 to 350 by 50) {
      val hi = lo + 49
      val p = TableCommit.readWhere(spark, t, "id",
          BigDecimal(lo), BigDecimal(hi))
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val e = TableCommit.read(spark, t)
        .filter(col("id") >= lo && col("id") <= hi)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(p == e, s"pruned band [$lo,$hi] diverged from filtered read")
    }
  }

  test("compaction commit: same rows, fewer files, manifest bumped; " +
      "racing a disjoint append both land; racing an overlapping " +
      "replace either serializes or conflicts cleanly — never torn") {
    val t = freshTable()
    // fragment pt=0 into several small files (the streaming-writer
    // accretion shape): three appends of one file each
    for (i <- 0 until 3)
      Seq((10L + i, s"f$i", 0)).toDF("id", "v", "pt")
        .write.mode("append").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    val before = snapshot(t)
    def filesIn(p: Int): Int =
      TableCommit.resolve(t).get._2.count(_.startsWith(s"pt=$p/"))
    val fragFiles = filesIn(0)
    assert(fragFiles >= 4)
    // --- plain compaction: row set invariant, fewer files ---
    TableCommit.compactPartitions(spark, t, "pt", Seq("pt=0"))
    assert(snapshot(t) == before, "compaction changed the row set")
    assert(filesIn(0) == 1, s"pt=0 not compacted: ${filesIn(0)} files")
    // --- race: compaction of pt=1 vs a replace of pt=2 (DISJOINT) —
    // both must land ---
    val preRace = snapshot(t)
    val idPre = TableCommit.resolve(t).get._1
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try TableCommit.compactPartitions(spark, t, "pt", Seq("pt=1"))
      catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
        Seq((50L, "E2", 2)).toDF("id", "v", "pt"))
      catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"disjoint compaction/append race failed: ${errs.peek()}")
    assert(TableCommit.resolve(t).get._1 == idPre + 2)
    assert(snapshot(t) ==
      preRace.filterNot(_._3 == 2) + ((50L, "E2", 2)),
      "compaction or append lost in a disjoint race")
    // --- race: compaction vs replace of the SAME partition — one may
    // conflict; the surviving state is the winner's, never a mix ---
    val replaced = Set((70L, "R", 0))
    val rest = snapshot(t).filterNot(_._3 == 0)
    val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t3 = new Thread(() =>
      try TableCommit.compactPartitions(spark, t, "pt", Seq("pt=0"))
      catch { case e: Throwable => errs2.add(e) })
    val t4 = new Thread(() =>
      try TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
        Seq((70L, "R", 0)).toDF("id", "v", "pt"))
      catch { case e: Throwable => errs2.add(e) })
    t3.start(); t4.start(); t3.join(); t4.join()
    import scala.jdk.CollectionConverters._
    assert(errs2.size() <= 1 && errs2.asScala.forall(
      _.isInstanceOf[TableCommit.CommitConflictException]),
      s"overlapping race raised a non-conflict error: ${errs2.peek()}")
    val pt0 = snapshot(t).filter(_._3 == 0)
    // whichever serialization happened, pt=0 is EITHER exactly the
    // replacement rows (replace landed, possibly compacted after) or
    // exactly the pre-race rows (replace conflicted) — never a mixture
    assert(pt0 == replaced || pt0 == preRace.filter(_._3 == 0),
      s"torn pt=0 state after overlapping race: $pt0")
    assert(snapshot(t).filterNot(_._3 == 0) == rest,
      "overlapping pt=0 race touched other partitions")
  }

  test("delete/update derive pruning from the predicate, in both modes: " +
      "a key BETWEEN keeps exactly the files whose #stats overlap it, " +
      "pt = 1 keeps only pt=1 files, a modulo keeps every file; rows " +
      "equal the model") {
    for (mode <- Seq(TableCommit.CopyOnWrite, TableCommit.MergeOnRead)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_dp").toFile
      val t = new java.io.File(dir, "table").getAbsolutePath
      // four appends of 150 contiguous ids: four stats-disjoint files per
      // partition
      val rows0 = (0 until 600).map(i => (i.toLong, s"v$i", i % 3))
      rows0.grouped(150).foreach(g => TableCommit.appendRowsBy(spark, t,
        Seq("pt"), g.toDF("id", "v", "pt"), clusterBy = Seq("id")))
      var model = rows0.toSet
      def statsKept(lo: Int, hi: Int): Int = {
        val (id, files) = TableCommit.resolve(t).get
        val (kept, total) = TableCommit.pruneAudit(t, id, "id", lo, hi)
        assert(kept < total && total == files.length, s"$kept of $total")
        kept
      }
      def ptFiles(p: Int): Int = {
        val files = TableCommit.resolve(t).get._2
        val n = files.count(_.startsWith(s"pt=$p/"))
        assert(n > 0 && n < files.length, files.toString)
        n
      }
      val k1 = statsKept(100, 160)
      val u1 = TableCommit.update(spark, t, Seq("pt"),
        expr("id BETWEEN 100 AND 160"), Map("v" -> upper(col("v"))), mode)
      assert(u1.filesCandidates == k1 && u1.rowsUpdated == 61, s"$mode $u1")
      model = model.map { case (i, v, p) =>
        (i, if (i >= 100 && i <= 160) v.toUpperCase else v, p) }
      val k2 = statsKept(300, 340)
      val d1 = TableCommit.delete(spark, t, Seq("pt"),
        expr("id BETWEEN 300 AND 340"), mode)
      assert(d1.filesCandidates == k2 && d1.rowsDeleted == 41, s"$mode $d1")
      model = model.filterNot(r => r._1 >= 300 && r._1 <= 340)
      val p1 = ptFiles(1)
      val u2 = TableCommit.update(spark, t, Seq("pt"), expr("pt = 1"),
        Map("v" -> concat(col("v"), lit("!"))), mode)
      assert(u2.filesCandidates == p1 &&
        u2.rowsUpdated == model.count(_._3 == 1), s"$mode $u2")
      model = model.map { case (i, v, p) => (i, if (p == 1) v + "!" else v, p) }
      val p2 = ptFiles(2)
      val d2 = TableCommit.delete(spark, t, Seq("pt"), expr("pt = 2"), mode)
      assert(d2.filesCandidates == p2 &&
        d2.rowsDeleted == model.count(_._3 == 2), s"$mode $d2")
      model = model.filterNot(_._3 == 2)
      val d3 = TableCommit.delete(spark, t, Seq("pt"), expr("id % 7 = 0"),
        mode)
      assert(d3.filesCandidates == d3.filesTotal &&
        d3.rowsDeleted == model.count(_._1 % 7 == 0), s"$mode $d3")
      model = model.filterNot(_._1 % 7 == 0)
      assert(snapshot(t) == model, mode.toString)
    }
  }

  test("row-level delete: copy-on-write of only the hit files — rows " +
      "equal the filtered read, untouched files byte-identical, the " +
      "three-stage narrowing audit holds, a no-match band publishes " +
      "nothing, and stats keep skipping after the delete") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "pt"), clusterBy = Seq("id"), filesPerPartition = 4)
    val (id1, files1) = TableCommit.resolve(t).get
    def fileIds(rels: Seq[String]): Map[String, (Long, Long)] =
      rels.map { rel =>
        val f = new java.io.File(t, rel)
        rel -> (f.length(), f.lastModified())
      }.toMap
    val beforeIds = fileIds(files1)
    val expect = TableCommit.read(spark, t)
      .filter(col("id").isNull || col("id") < 100 || col("id") > 150)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val a = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(150)), TableCommit.CopyOnWrite)
    // audit: manifest bumped once; 51 matching rows; the narrowing
    // chain is strict at both stages (band-disjoint files pruned by
    // stats; the stats-less pt=2 candidate holds no matching row)
    assert(a.snapshotBefore == id1 && a.snapshotAfter == id1 + 1)
    assert(a.rowsDeleted == 51L, s"rowsDeleted=${a.rowsDeleted}")
    assert(a.filesCandidates < a.filesTotal,
      s"stats pruned nothing (${a.filesCandidates} of ${a.filesTotal})")
    assert(a.filesHit < a.filesCandidates,
      "the no-match candidate was rewritten anyway")
    assert(snapshot(t) == expect, "post-delete rows diverged")
    // every retained pre-delete file is byte-untouched
    val (id2, files2) = TableCommit.resolve(t).get
    val retained = files2.toSet.intersect(files1.toSet).toSeq
    assert(retained.nonEmpty)
    assert(fileIds(retained) == beforeIds.filter(kv => retained.contains(kv._1)),
      "a retained file was modified in place")
    assert(files1.toSet.diff(files2.toSet).size == a.filesHit)
    // fresh files re-recorded #stats: a later band still prunes and
    // matches the filtered read
    val (kept, total) = TableCommit.pruneAudit(t, id2, "id",
      BigDecimal(300), BigDecimal(350))
    assert(kept < total, "post-delete stats no longer skip")
    val pruned = TableCommit.readWhere(spark, t, "id",
        BigDecimal(300), BigDecimal(350))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(pruned == (300L to 350L).toSet, "post-delete pruned read diverged")
    // no-match band: nothing published, audit reports the unchanged id
    val b = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(5000), BigDecimal(6000)), TableCommit.CopyOnWrite)
    assert(b.snapshotAfter == b.snapshotBefore && b.filesHit == 0 &&
      b.rowsDeleted == 0L)
    assert(TableCommit.resolve(t).get._1 == id2, "no-match delete committed")
  }

  test("#rows manifest metadata: every commit verb records footer-exact " +
      "per-file counts, carried forward with its files; an adopted " +
      "snapshot reports None until fully rewritten") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    // adopted manifest-0: no #rows entries → unknowable
    assert(TableCommit.rowCount(t, 0L).isEmpty)
    val rows = (0 until 200).map(i => (i.toLong, s"v$i", i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "pt"), clusterBy = Seq("id"),
      filesPerPartition = 4)
    val id1 = TableCommit.resolve(t).get._1
    // pt=2's adopted file still has no entry → total still None, but
    // the fresh files' partition sums are exact once the adopted one
    // is replaced
    assert(TableCommit.rowCount(t, id1).isEmpty)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((900L, "z", 2)).toDF("id", "v", "pt"))
    val id2 = TableCommit.resolve(t).get._1
    assert(TableCommit.rowCount(t, id2).contains(201L))
    assert(TableCommit.partitionRowCounts(t, id2).contains(
      Map("pt=0" -> 100L, "pt=1" -> 100L, "pt=2" -> 1L)))
    // append adds its count on top
    TableCommit.appendRows(spark, t, "pt",
      Seq((901L, "a", 0), (902L, "b", 1)).toDF("id", "v", "pt"))
    assert(TableCommit.rowCount(t, TableCommit.resolve(t).get._1)
      .contains(203L))
    // delete rewrites hit files; metadata tracks the survivors
    val d = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(50), BigDecimal(59)), TableCommit.CopyOnWrite)
    assert(d.rowsDeleted == 10L)
    assert(TableCommit.rowCount(t, d.snapshotAfter).contains(193L))
    // update keeps the count invariant
    val u = TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(9)), Map("v" -> lit("x")),
      TableCommit.CopyOnWrite)
    assert(TableCommit.rowCount(t, u.snapshotAfter).contains(193L))
    // and the metadata agrees with a real count throughout
    assert(TableCommit.read(spark, t).count() == 193L)
  }

  test("table properties: a metadata-only commit sets them, every verb " +
      "carries them, and graft.retention.generations widens the vacuum " +
      "window (deeper time travel)") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.setProperties(t, Map(
      "graft.retention.generations" -> "4", "owner" -> "pipeline-a"))
    assert(TableCommit.properties(t) == Map(
      "graft.retention.generations" -> "4", "owner" -> "pipeline-a"))
    // a later set merges per key, last writer wins
    TableCommit.setProperties(t, Map("owner" -> "pipeline-b"))
    assert(TableCommit.properties(t)("owner") == "pipeline-b")
    assert(TableCommit.properties(t)("graft.retention.generations") == "4")
    // data commits of every verb carry the properties forward
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      Seq((10L, "x", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    TableCommit.appendRows(spark, t, "pt",
      Seq((11L, "y", 0)).toDF("id", "v", "pt"))
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(11), BigDecimal(11)), TableCommit.CopyOnWrite)
    assert(TableCommit.properties(t)("owner") == "pipeline-b")
    // retention 4: the last four snapshots are retained and readable —
    // under the default (2) only newest and newest-1 would survive
    val ids = TableCommit.history(t).map(_._1)
    assert(ids.length == 4, s"retained $ids")
    val oldest = ids.min
    assert(TableCommit.readAt(spark, t, oldest).count() >= 0)
    // dropping retention back to 2 shrinks the window on the next commit
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "2"))
    TableCommit.appendRows(spark, t, "pt",
      Seq((12L, "z", 0)).toDF("id", "v", "pt"))
    assert(TableCommit.history(t).map(_._1).length == 2)
  }

  test("guard rails: a type-changing schema re-declaration REFUSES " +
      "(the commit would publish an unreadable table) and property " +
      "keys/values that would corrupt the manifest REFUSE — the table " +
      "is untouched either way") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      Seq((10L, "a", 0)).toDF("id", "v", "pt"))
    val before = TableCommit.resolve(t).get
    val state = snapshot(t)
    // id re-declared as double: retained files are INT64 — committing
    // this schema of record would throw on every subsequent read
    intercept[IllegalArgumentException] {
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
        Seq((2.5d, "b", 1)).toDF("id", "v", "pt"))
    }
    intercept[IllegalArgumentException] {
      TableCommit.appendRows(spark, t, "pt",
        Seq(("oops", "b", 1)).toDF("id", "v", "pt"))
    }
    // manifest injection: '=' in a key re-keys on parse; a newline in a
    // value emits a raw line filesOf would treat as a data-file path
    intercept[IllegalArgumentException] {
      TableCommit.setProperties(t, Map("a=b" -> "x"))
    }
    intercept[IllegalArgumentException] {
      TableCommit.setProperties(t, Map("k" -> "v1\nv2"))
    }
    assert(TableCommit.resolve(t).get == before,
      "a refused commit published a manifest")
    assert(snapshot(t) == state, "a refused commit changed the table")
  }

  test("restore: a retained snapshot republishes as the newest commit — " +
      "data rolls back, the txn ledger and properties do not, and the " +
      "pre-restore state still time-travels") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "4"))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      Seq((1L, "one", 0)).toDF("id", "v", "pt"),
      txn = Some(("app-r", 1L)))
    val stateA = snapshot(t)
    val idA = TableCommit.resolve(t).get._1
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(1), BigDecimal(1)), TableCommit.MergeOnRead)
    TableCommit.appendRows(spark, t, "pt",
      Seq((7L, "seven", 0)).toDF("id", "v", "pt"),
      txn = Some(("app-r", 2L)))
    val stateC = snapshot(t)
    TableCommit.setProperties(t, Map("owner" -> "me"))
    val idPre = TableCommit.resolve(t).get._1
    TableCommit.restore(t, idA)
    assert(snapshot(t) == stateA, "restore did not roll data back")
    // the ledger survives the rollback: a replayed (appId, version)
    // whose data the restore undid must STILL be a no-op
    val n0 = TableCommit.read(spark, t).count()
    TableCommit.appendRows(spark, t, "pt",
      Seq((7L, "seven", 0)).toDF("id", "v", "pt"),
      txn = Some(("app-r", 2L)))
    assert(TableCommit.read(spark, t).count() == n0,
      "a replayed append re-applied after restore")
    // properties survive (the Delta RESTORE rule)
    assert(TableCommit.properties(t)("owner") == "me")
    // the pre-restore newest is itself still a retained generation
    val pre = TableCommit.readAt(spark, t, idPre)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(pre == stateC, "pre-restore state lost")
    // restore to the current snapshot is a no-op
    val cur = TableCommit.resolve(t).get._1
    TableCommit.restore(t, cur)
    assert(TableCommit.resolve(t).get._1 == cur)
  }

  test("merge-on-read delete: deletion vectors kill rows without " +
      "touching a byte of data — read ≡ filtered, file list unchanged, " +
      "#rows metadata exact, vectors stack on the live set, and a " +
      "rewrite materializes them") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "pt"), clusterBy = Seq("id"),
      filesPerPartition = 4)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((900L, "z", 2)).toDF("id", "v", "pt"))
    val (id1, files1) = TableCommit.resolve(t).get
    assert(TableCommit.rowCount(t, id1).contains(401L))
    def fileIds(rels: Seq[String]): Map[String, (Long, Long)] =
      rels.map { rel =>
        val f = new java.io.File(t, rel)
        rel -> (f.length(), f.lastModified())
      }.toMap
    val before = fileIds(files1)
    val a = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(150)), TableCommit.MergeOnRead)
    assert(a.snapshotBefore == id1 && a.snapshotAfter == id1 + 1)
    assert(a.rowsDeleted == 51L, a.toString)
    assert(a.filesHit <= a.filesCandidates &&
      a.filesCandidates < a.filesTotal, a.toString)
    val (id2, files2) = TableCommit.resolve(t).get
    assert(files2.toSet == files1.toSet, "MoR delete changed the file list")
    assert(fileIds(files2) == before, "MoR delete touched a data file")
    val expect1 = rows.filterNot(r => r._1 >= 100 && r._1 <= 150).toSet +
      ((900L, "z", 2))
    assert(snapshot(t) == expect1, "post-MoR rows diverged")
    assert(TableCommit.rowCount(t, id2).contains(350L),
      "#rows not adjusted by the vector")
    // stacked vectors: the overlapping band kills only LIVE matches
    val b = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(140), BigDecimal(160)), TableCommit.MergeOnRead)
    assert(b.rowsDeleted == 10L, b.toString)
    val expect2 = rows.filterNot(r => r._1 >= 100 && r._1 <= 160).toSet +
      ((900L, "z", 2))
    assert(snapshot(t) == expect2, "stacked vectors diverged")
    assert(TableCommit.rowCount(t, b.snapshotAfter).contains(340L))
    // the pruned (stats) read path applies vectors too
    val pruned = TableCommit.readWhere(spark, t, "id",
        BigDecimal(150), BigDecimal(200))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(pruned == (161L to 200L).toSet, "pruned read ignored a vector")
    // no-match band publishes nothing
    val c = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(5000), BigDecimal(6000)), TableCommit.MergeOnRead)
    assert(c.snapshotAfter == c.snapshotBefore && c.filesHit == 0)
    // materialization: compaction reads THROUGH the vectors and drops
    // them with the replaced files — rows invariant, metadata exact
    TableCommit.compactPartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      clusterBy = Seq("id"), filesPerPartition = 2)
    assert(snapshot(t) == expect2, "compaction resurrected vectored rows")
    val idC = TableCommit.resolve(t).get._1
    assert(TableCommit.rowCount(t, idC).contains(340L))
    // and a copy-on-write delete now works on the clean files
    val d = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(9)), TableCommit.CopyOnWrite)
    assert(d.rowsDeleted == 10L)
    assert(TableCommit.rowCount(t, d.snapshotAfter).contains(330L))
  }

  test("merge-on-read update: ONE commit vectors the old versions and " +
      "appends the new — existing files untouched, row count invariant, " +
      "pre-update SET semantics, and a partition-moving SET works (the " +
      "MoR-only capability)") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i * 10L, i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "w", "pt"), clusterBy = Seq("id"),
      filesPerPartition = 4)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((900L, "z", 9000L, 2)).toDF("id", "v", "w", "pt"))
    val (id1, files1) = TableCommit.resolve(t).get
    assert(TableCommit.rowCount(t, id1).contains(401L))
    def fileIds(rels: Seq[String]): Map[String, (Long, Long)] =
      rels.map { rel =>
        val f = new java.io.File(t, rel)
        rel -> (f.length(), f.lastModified())
      }.toMap
    val sig1 = fileIds(files1)
    // SET w = id (the PRE-update id), id = id + 1000, pt = 5: the
    // matched rows MOVE to a brand-new partition
    val a = TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(150)), Map("w" -> col("id"), "id" -> (col("id") + lit(1000L)),
        "pt" -> lit(5)),
      TableCommit.MergeOnRead)
    assert(a.rowsUpdated == 51L && a.filesHit > 0 && a.filesAdded > 0,
      a.toString)
    val (id2, files2) = TableCommit.resolve(t).get
    assert(files1.toSet.subsetOf(files2.toSet),
      "MoR update removed an existing file")
    assert(fileIds(files1) == sig1, "MoR update touched an existing file")
    assert(files2.length == files1.length + a.filesAdded)
    val expect = rows.map { case (id, v, w, pt) =>
      if (id >= 100 && id <= 150) (id + 1000L, v, id, 5)
      else (id, v, w, pt)
    }.toSet + ((900L, "z", 9000L, 2))
    val got = TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("w"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(got == expect, "post-MoR-update rows diverged")
    // row count invariant: every killed position has one successor
    assert(TableCommit.rowCount(t, id2).contains(401L))
    // the successors' fresh #stats serve a pruned read of the new band
    val moved = TableCommit.readWhere(spark, t, "id",
        BigDecimal(1100), BigDecimal(1150))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(moved == (1100L to 1150L).toSet, "moved band not re-statted")
  }

  test("a MoR delete surfaces in the manifest diff as a rewrite of the " +
      "vectored files — the CDC/incremental-consumer contract") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "pt"), clusterBy = Seq("id"),
      filesPerPartition = 4)
    val (idA, _) = TableCommit.resolve(t).get
    val a = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(150)), TableCommit.MergeOnRead)
    val (added, removed) = TableCommit.changedFileSets(t, idA,
      TableCommit.resolve(t).get._1)
    assert(added.toSet == removed.toSet && added.nonEmpty,
      s"vectored files must appear on BOTH diff sides: +$added -$removed")
    assert(added.length == a.filesHit, s"+$added vs $a")
  }

  test("row-level update: copy-on-write of only the hit files with " +
      "pre-update-row SET semantics, row count invariant, schema and " +
      "stats contracts held, untouched files byte-identical, no-match " +
      "publishes nothing") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i * 10L, i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "w", "pt"), clusterBy = Seq("id"),
      filesPerPartition = 4)
    val (id1, files1) = TableCommit.resolve(t).get
    def fileIds(rels: Seq[String]): Map[String, (Long, Long)] =
      rels.map { rel =>
        val f = new java.io.File(t, rel)
        rel -> (f.length(), f.lastModified())
      }.toMap
    val beforeIds = fileIds(files1)
    // SET w = id (the PRE-update id), id = id + 1000: if assignments
    // were applied sequentially, w would read the shifted id
    val a = TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(150)),
      Map("w" -> col("id"), "id" -> (col("id") + lit(1000L))),
      TableCommit.CopyOnWrite)
    assert(a.snapshotBefore == id1 && a.snapshotAfter == id1 + 1)
    assert(a.rowsUpdated == 51L, s"rowsUpdated=${a.rowsUpdated}")
    assert(a.filesCandidates < a.filesTotal,
      s"stats pruned nothing (${a.filesCandidates} of ${a.filesTotal})")
    // pt=2's adopted row predates the w column — the evolved schema of
    // record reads it null (sentinel −1 below), untouched by the update
    val expect = rows.map { case (id, v, w, pt) =>
      if (id >= 100 && id <= 150) (id + 1000L, v, id, pt) else (id, v, w, pt)
    }.toSet + ((5L, "e", -1L, 2))
    val got = TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("w"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3))).toSet
    assert(got == expect, "post-update rows diverged from SQL semantics")
    // schema of record invariant: id stayed LongType through the cast rule
    assert(TableCommit.read(spark, t).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // retained pre-update files byte-untouched
    val (id2, files2) = TableCommit.resolve(t).get
    val retained = files2.toSet.intersect(files1.toSet).toSeq
    assert(retained.nonEmpty)
    assert(fileIds(retained) == beforeIds.filter(kv => retained.contains(kv._1)),
      "a retained file was modified in place")
    assert(files1.toSet.diff(files2.toSet).size == a.filesHit)
    // Halloween-safety + fresh stats over NEW values: the band moved to
    // [1100,1150] and a pruned read there finds exactly the moved rows
    val moved = TableCommit.readWhere(spark, t, "id",
        BigDecimal(1100), BigDecimal(1150))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(moved == (1100L to 1150L).toSet, "moved band not re-statted")
    val (kept, total) = TableCommit.pruneAudit(t, id2, "id",
      BigDecimal(300), BigDecimal(350))
    assert(kept < total, "post-update stats no longer skip")
    // no-match band: nothing published
    val b = TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(5000), BigDecimal(6000)), Map("w" -> lit(0L)),
      TableCommit.CopyOnWrite)
    assert(b.snapshotAfter == b.snapshotBefore && b.filesHit == 0 &&
      b.rowsUpdated == 0L)
    assert(TableCommit.resolve(t).get._1 == id2, "no-match update committed")
    // guard rails: unknown SET column and partition-column SET both refuse
    intercept[IllegalArgumentException] {
      TableCommit.update(spark, t, Seq("pt"),
        band("id", BigDecimal(0), BigDecimal(10)), Map("nope" -> lit(1)),
        TableCommit.CopyOnWrite)
    }
    intercept[IllegalArgumentException] {
      TableCommit.update(spark, t, Seq("pt"),
        band("id", BigDecimal(0), BigDecimal(10)), Map("pt" -> lit(9)),
        TableCommit.CopyOnWrite)
    }
  }

  test("row-level delete racing a DISJOINT-partition replace: both land; " +
      "racing a replace of a hit partition: serializes or conflicts " +
      "cleanly — never torn") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val rows = (0 until 400).map(i => (i.toLong, s"v$i", i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "pt"), clusterBy = Seq("id"), filesPerPartition = 4)
    // --- disjoint: delete hits pt=0/pt=1 files; replace swaps pt=2 ---
    val idPre = TableCommit.resolve(t).get._1
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val d1 = new Thread(() =>
      try TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(100), BigDecimal(150)), TableCommit.CopyOnWrite)
      catch { case e: Throwable => errs.add(e) })
    val r1 = new Thread(() =>
      try TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
        Seq((900L, "Z", 2)).toDF("id", "v", "pt"))
      catch { case e: Throwable => errs.add(e) })
    d1.start(); r1.start(); d1.join(); r1.join()
    assert(errs.isEmpty, s"disjoint delete/replace race failed: ${errs.peek()}")
    assert(TableCommit.resolve(t).get._1 == idPre + 2)
    val want = rows.filterNot(r => r._1 >= 100 && r._1 <= 150)
      .map(r => (r._1, r._2, r._3)).toSet + ((900L, "Z", 2))
    assert(snapshot(t) == want, "delete or disjoint replace lost")
    // --- overlapping: delete's hit files live in pt=0/pt=1; a replace
    // of pt=0 removes some of them — one side may conflict; the final
    // state is a legal serialization, never a mixture ---
    val pre = snapshot(t)
    val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val d2 = new Thread(() =>
      try TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(200), BigDecimal(250)), TableCommit.CopyOnWrite)
      catch { case e: Throwable => errs2.add(e) })
    val r2 = new Thread(() =>
      try TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
        Seq((901L, "R", 0)).toDF("id", "v", "pt"))
      catch { case e: Throwable => errs2.add(e) })
    d2.start(); r2.start(); d2.join(); r2.join()
    import scala.jdk.CollectionConverters._
    assert(errs2.asScala.forall(
      _.isInstanceOf[TableCommit.CommitConflictException]),
      s"overlapping delete/replace race raised a non-conflict error: " +
        s"${errs2.peek()}")
    val fin = snapshot(t)
    // legal outcomes: both serialized (delete then replace, or replace
    // then delete-with-fresh-read conflict → delete absent), or one
    // conflicted — enumerate the admissible states
    val deleted = pre.filterNot(r => r._1 >= 200 && r._1 <= 250)
    val legal = Set(
      // both landed, delete first then replace of pt=0
      deleted.filterNot(_._3 == 0) + ((901L, "R", 0)),
      // replace landed first, delete then saw its files gone → conflict
      pre.filterNot(_._3 == 0) + ((901L, "R", 0)),
      // delete landed, replace conflicted
      deleted,
      // replace landed, delete conflicted (lost CAS)
      pre.filterNot(_._3 == 0) + ((901L, "R", 0))
    )
    assert(legal.contains(fin), s"torn state after overlapping race: $fin")
  }

  test("Z-order commit: two-dimensional #stats prune files on BOTH " +
      "dimensions, rows invariant, pruned ≡ filtered on either dim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tc").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    // 1024 rows on a 32×32 (x, y) grid in one partition — x and y are
    // independent, so single-key clustering on either dim would give
    // the OTHER dim nothing; Z-order must buy both
    val rows = (0 until 1024).map(i => (i.toLong, i % 32, i / 32, 0))
    rows.toDF("id", "x", "y", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.compactPartitions(spark, t, "pt", Seq("pt=0"),
      clusterBy = Seq("x", "y"), filesPerPartition = 16)
    val (id, files) = TableCommit.resolve(t).get
    assert(files.length > 4, s"Z commit produced too few files: ${files.length}")
    assert(TableCommit.read(spark, t).count() == 1024L, "rows not invariant")
    for (c <- Seq("x", "y")) {
      // a central band on EACH dimension must skip files from metadata
      val (kept, total) = TableCommit.pruneAudit(t, id, c,
        BigDecimal(12), BigDecimal(19))
      assert(kept < total,
        s"no files pruned on $c ($kept of $total) — Z stats not biting")
      val pruned = TableCommit.readWhere(spark, t, c,
          BigDecimal(12), BigDecimal(19))
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val full = TableCommit.read(spark, t)
        .filter(col(c) >= 12 && col(c) <= 19)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(pruned == full, s"pruned read diverged on $c")
    }
  }

  test("changesSince: the delta is exactly the replaced partitions' fresh " +
      "rows, and newest ≡ (since outside replaced partitions) ∪ delta " +
      "row-for-row") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    val sinceId = TableCommit.resolve(t).get._1
    val sinceRows = snapshot(t)
    val fresh = Set((100L, "N0", 0), (101L, "N1", 0))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      fresh.toSeq.toDF("id", "v", "pt"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
      df.select(col("id"), col("v"), col("pt").cast("int"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val delta = rows(TableCommit.changesSince(spark, t, sinceId))
    assert(delta == fresh, s"delta is not the commit's write set: $delta")
    // the CDC consumer's catch-up rule: drop the replaced partitions
    // from the since snapshot, union the delta → the newest snapshot
    val replacedParts = delta.map(_._3)
    assert(sinceRows.filterNot(r => replacedParts.contains(r._3)) ++ delta
      == snapshot(t), "incremental union diverged from the full snapshot")
    // a no-change poll (since == newest) is an EMPTY delta, not an
    // error — including on an adopted schema-less manifest
    val newestId = TableCommit.resolve(t).get._1
    assert(TableCommit.changesSince(spark, t, newestId).count() == 0L)
    val t2 = freshTable()
    TableCommit.initIfAbsent(t2)
    assert(TableCommit.changesSince(spark, t2, 0L).count() == 0L)
    // out-of-retention since is an explicit error, not a wrong diff
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((50L, "E", 2)).toDF("id", "v", "pt"))
    assert(intercept[RuntimeException](
      TableCommit.changesSince(spark, t, sinceId))
      .getMessage.contains("retention"))
  }

  test("schema evolution: a column-add commit reads mixed generations " +
      "consistently (old files null-defaulted), the pre-evolution " +
      "generation time-travels with the old schema, and a narrower " +
      "later writer cannot drop the evolved column") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    // first commit under the protocol establishes the schema of record
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    val preEvolveId = TableCommit.resolve(t).get._1
    // evolving commit: pt=2 replaced WITH an extra column
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=2"),
      Seq((50L, "E", 2, 7.5)).toDF("id", "v", "pt", "w"))
    val evolved = TableCommit.read(spark, t)
    assert(evolved.columns.toSeq == Seq("id", "v", "pt", "w"),
      s"evolved schema wrong: ${evolved.columns.toSeq}")
    val got = evolved.select(col("id"), col("v"), col("pt").cast("int"),
        col("w")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(got == Set(
      (1L, "a", 0, None), (2L, "b", 0, None), (30L, "C", 1, None),
      (50L, "E", 2, Some(7.5))),
      s"mixed-generation read inconsistent: $got")
    // the pinned pre-evolution generation still reads, with ITS schema
    val pre = TableCommit.readAt(spark, t, preEvolveId)
    assert(pre.columns.toSeq == Seq("id", "v", "pt"))
    // 5 adopted rows − pt=1's two replaced by one = 4
    assert(pre.count() == 4L)
    // a narrower writer after the evolution: the evolved column stays
    // in the schema of record, its new rows read null for it
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((31L, "D", 1)).toDF("id", "v", "pt"))
    val after = TableCommit.read(spark, t)
    assert(after.columns.toSeq == Seq("id", "v", "pt", "w"),
      "a narrower writer dropped the evolved column")
    assert(after.filter(col("id") === 31L && col("w").isNull).count() == 1L)
    assert(after.filter(col("w") === 7.5).count() == 1L)
  }

  test("vacuumAudit: the dry run predicts exactly what the next commit's " +
      "vacuum keeps and sweeps, deleting nothing itself") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    // a stale orphan the age gate has passed
    val orphan = new java.io.File(t, "pt=0/orphan-aged.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    orphan.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    // two commits: generation 0 leaves the default-2 retention window
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    val filesBefore = TableCommit.resolve(t).get._2.toSet
    // stage the NEXT commit's state without running it: audit first
    TableCommit.appendRows(spark, t, "pt",
      Seq((40L, "D", 2)).toDF("id", "v", "pt"))
    // after the append's vacuum, generation 0 is gone; the aged orphan
    // survives COMMITS (no inline O(table) walk) until the explicit
    // verb sweeps it — then audit the live window and verify nothing
    // it reported as retained was deleted
    assert(orphan.exists(), "a commit paid the orphan walk")
    TableCommit.vacuumRun(t)
    val (ids, live, dead, orphans) = TableCommit.vacuumAudit(t)
    assert(ids.length == 2 && ids.head == TableCommit.resolve(t).get._1)
    assert(dead == 0, s"retained window still carries dead files: $dead")
    assert(orphans == 0, "the aged orphan survived the real vacuum")
    assert(!orphan.exists())
    val (_, files) = TableCommit.resolve(t).get
    assert(files.toSet.subsetOf(filesBefore ++ files), files.toString)
    assert(live >= files.length, s"live $live < newest snapshot ${files.length}")
    // dry-run purity: calling the audit again changes nothing on disk
    val sig = TableCommit.resolve(t).get._2
      .map(f => f -> new java.io.File(t, f).lastModified()).toMap
    TableCommit.vacuumAudit(t)
    assert(TableCommit.resolve(t).get._2
      .forall(f => sig(f) == new java.io.File(t, f).lastModified()))
  }

  test("3-DIMENSIONAL Z-order commit: every declared cluster dimension " +
      "participates in the layout and gets #stats — a band predicate on " +
      "ANY of the three prunes files (no silent cap at two dims)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_z3").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    Seq((0L, 0L, 0L, 0)).toDF("x", "y", "z", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    // 4096 rows over three independent 16-value dimensions
    val rows = (0 until 4096).map { i =>
      (i % 16L, (i / 16) % 16L, (i / 256) % 16L, i % 2)
    }.toDF("x", "y", "z", "pt")
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"), rows,
      clusterBy = Seq("x", "y", "z"), filesPerPartition = 16)
    val (id, files) = TableCommit.resolve(t).get
    assert(files.length >= 30, s"expected ~32 z-ordered files: ${files.length}")
    for (dim <- Seq("x", "y", "z")) {
      val (kept, total) = TableCommit.pruneAudit(t, id, dim,
        BigDecimal(0), BigDecimal(1))
      assert(kept < total,
        s"dimension $dim got no skipping from the 3-dim Z-layout: " +
          s"$kept/$total")
      // and the pruned read is still exactly the filtered read
      assert(TableCommit.readWhere(spark, t, dim,
        BigDecimal(0), BigDecimal(1)).count() ==
        TableCommit.read(spark, t)
          .filter(col(dim) >= 0 && col(dim) <= 1).count(),
        s"pruned read diverged on $dim")
    }
  }

  test("vacuumRun: the explicit VACUUM verb deletes EXACTLY what the dry " +
      "run predicts — and a reader pinned on a retained snapshot is " +
      "untouched by it") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    // an aged orphan + a fresh one, planted AFTER the last commit's
    // inline vacuum so only the explicit verb can sweep them
    val aged = new java.io.File(t, "pt=0/orphan-aged2.parquet")
    java.nio.file.Files.write(aged.toPath, Array[Byte](1))
    aged.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    val fresh = new java.io.File(t, "pt=0/orphan-fresh2.parquet")
    java.nio.file.Files.write(fresh.toPath, Array[Byte](1))
    val (ids, _, deadPred, orphanPred) = TableCommit.vacuumAudit(t)
    assert(orphanPred == 1, s"audit should see the aged orphan: $orphanPred")
    // a reader pins the OLDEST retained snapshot before the sweep
    val pinned = TableCommit.readAt(spark, t, ids.min)
    val swept = TableCommit.vacuumRun(t)
    assert(swept == ((deadPred, orphanPred)),
      s"vacuumRun $swept diverged from the audit ($deadPred, $orphanPred)")
    assert(!aged.exists() && fresh.exists())
    // the pinned reader still resolves its full snapshot AFTER the sweep
    assert(pinned.select(col("id")).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L, 5L))
    // idempotent: a second run finds nothing
    assert(TableCommit.vacuumRun(t) == ((0, 0)))
  }

  test("vacuumAudit on a TAGGED table: the tag's lease is part of the " +
      "one retention rule, so the audit predicts the run's sweep and the " +
      "tagged snapshot's file survives") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    val (id1, files1) = TableCommit.resolve(t).get
    val tagged = files1.filter(_.startsWith("pt=1/"))
    TableCommit.tag(t, "keep", id1)
    // four more commits: the tagged snapshot's pt=1 file leaves every
    // snapshot inside the window
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((31L, "D", 1)).toDF("id", "v", "pt"))
    (41L to 43L).foreach(i => TableCommit.appendRows(spark, t, "pt",
      Seq((i, "x", 2)).toDF("id", "v", "pt")))
    val (ids, _, dead, orphans) = TableCommit.vacuumAudit(t)
    assert(TableCommit.vacuumRun(t) == ((dead, orphans)),
      s"the audit predicted ($dead, $orphans)")
    assert(ids.contains(id1), s"the audit dropped the tagged snapshot: $ids")
    assert(tagged.nonEmpty && tagged.forall(f => new java.io.File(t, f).exists()))
    assert(TableCommit.readAt(spark, t, id1).filter(col("pt") === 1)
      .select(col("id")).as[Long].collect().toSeq == Seq(30L))
  }

  test("DV read-path plan pins: a stats-pruned read reads ONLY the kept " +
      "files' deletion-vector sidecars (a pruned file's _dv tree is " +
      "never opened), the plan carries NO join arm for DVs (broadcast " +
      "bitmap filter), and the caller's band filter pushes into the " +
      "parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dvplan").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    Seq((0L, "seed", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 200).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 5)
    def dvDirs(): Set[String] =
      Option(new java.io.File(t, "_dv").listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
    // one vector in the LOW key range, one in the HIGH — different
    // files by construction (5 key-contiguous files per partition)
    val before = dvDirs()
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(10), BigDecimal(19)), TableCommit.MergeOnRead)
    val dvLow = (dvDirs() -- before).head
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(180), BigDecimal(189)), TableCommit.MergeOnRead)
    val dvHigh = (dvDirs() -- before - dvLow).head
    // a low-band pruned read: correct rows, and its blob collection
    // opens the low vector but NEVER the high files' vector
    TableCommit.lastDvDirsRead.set(Nil)
    val df = TableCommit.readWhere(spark, t, "id",
      BigDecimal(0), BigDecimal(49))
    assert(df.count() == 40L) // 50 in band minus the 10 vectored dead
    val scannedDv = TableCommit.lastDvDirsRead.get()
      .map(_.stripPrefix("_dv/")).toSet
    assert(scannedDv == Set(dvLow),
      s"pruned read opened vector tree(s) $scannedDv (low=$dvLow, " +
        s"high=$dvHigh) — a pruned file's sidecar must not be scanned")
    // the vectors apply as a broadcast bitmap FILTER, not a join arm:
    // no join operator and no _dv scan in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti") && !plan.contains("Join"),
      s"expected no DV join arm in the plan:\n${plan.take(2000)}")
    assert(df.inputFiles.forall(!_.contains("/_dv/")),
      "DV sidecars must not appear as scan inputs (blobs are " +
        "collected driver-side and broadcast)")
    // data-file pruning held too (10 files total, band covers ~3)
    val dataScanned = df.inputFiles.count(f => !f.contains("/_dv/"))
    assert(dataScanned < 10,
      s"stats pruning lost under the DV filter: $dataScanned files")
    // the band filter still reaches the parquet scan:
    // PushedFilters on the data relation carries the id bounds
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pushed.exists(p => p.contains("GreaterThanOrEqual(id") ||
        p.contains("ThanOrEqual(id")),
      s"band filter not pushed into the scan under the DV filter; " +
        s"pushed=$pushed\n${plan.take(3000)}")
  }

  test("dense-kill MoR read: a vector marking ~1M dead rows of one file " +
      "applies as a bitmap filter — correct live set, no join arm, " +
      "and the sidecar stays compressed (bitmap containers, not a row " +
      "per position)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dvdense").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val n = 1200000L
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      spark.range(n).select(col("id"), lit("x").as("v"),
        lit(0).cast("int").as("pt")),
      clusterBy = Seq("id"), filesPerPartition = 1)
    // kill the first million rows in one MoR commit
    val audit = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(999999)), TableCommit.MergeOnRead)
    assert(audit.rowsDeleted == 1000000L, audit.toString)
    // the sidecar is compressed-bitmap-sized: ~8 KiB per 64Ki chunk for
    // a dense kill (~16 chunks => well under 1 MB), never 1M rows
    val dvBytes = Option(new java.io.File(t, "_dv").listFiles())
      .getOrElse(Array.empty).flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty)).map(_.length()).sum
    assert(dvBytes > 0 && dvBytes < (1L << 20),
      s"dense-kill sidecar is $dvBytes bytes — expected compressed bitmaps")
    val df = TableCommit.read(spark, t)
    assert(df.count() === n - 1000000L)
    assert(df.agg(org.apache.spark.sql.functions.min(col("id")))
      .collect()(0).getLong(0) == 1000000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"dense-kill read must not plan a join arm:\n${plan.take(2000)}")
    graft.operators.Sinks.deleteRecursively(dir)
  }

  test("dense-kill MoR delete of a file SEVERAL tasks read: the per-task " +
      "chunk bitmaps union on the driver into the same live set and the " +
      "same compressed sidecar bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dvsplit").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val n = 1200000L
    val confs = Seq("parquet.block.size", "spark.sql.files.maxPartitionBytes")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    // 1 MiB row groups and read splits: the file's rows, and so its
    // 64Ki-position chunks, reach the classify pass from several tasks
    confs.foreach(k => spark.conf.set(k, (1L << 20).toString))
    try {
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
        spark.range(n).select(col("id"), lit("x").as("v"),
          lit(0).cast("int").as("pt")),
        clusterBy = Seq("id"), filesPerPartition = 1)
      val rel = TableCommit.resolve(t).get._2.head
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.io.File(t, rel).toURI),
          spark.sessionState.newHadoopConf()))
      val rowGroups = try footer.getFooter.getBlocks.size finally footer.close()
      assert(rowGroups >= 4, s"the file has $rowGroups row groups")
      val audit = TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(0), BigDecimal(999999)), TableCommit.MergeOnRead)
      assert(audit.rowsDeleted == 1000000L, audit.toString)
      val dvBytes = Option(new java.io.File(t, "_dv").listFiles())
        .getOrElse(Array.empty).flatMap(d =>
          Option(d.listFiles()).getOrElse(Array.empty)).map(_.length()).sum
      assert(dvBytes > 0 && dvBytes < (1L << 20),
        s"dense-kill sidecar is $dvBytes bytes — expected compressed bitmaps")
      val df = TableCommit.read(spark, t)
      assert(df.count() === n - 1000000L)
      assert(df.agg(org.apache.spark.sql.functions.min(col("id")))
        .collect()(0).getLong(0) == 1000000L)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      graft.operators.Sinks.deleteRecursively(dir)
    }
  }

  test("explicit vacuum sweeps stale never-referenced orphans but spares " +
      "fresh ones (a concurrent in-flight append's files)") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    val staleOrphan = new java.io.File(t, "pt=0/orphan-stale.parquet")
    java.nio.file.Files.write(staleOrphan.toPath, Array[Byte](1, 2, 3))
    staleOrphan.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    val freshOrphan = new java.io.File(t, "pt=0/orphan-fresh.parquet")
    java.nio.file.Files.write(freshOrphan.toPath, Array[Byte](1, 2, 3))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=1"),
      Seq((30L, "C", 1)).toDF("id", "v", "pt"))
    TableCommit.vacuumRun(t)
    assert(!staleOrphan.exists(), "hour-old unreferenced orphan not swept")
    assert(freshOrphan.exists(), "fresh orphan swept under an in-flight writer")
    // the orphans never entered any manifest: reads are unaffected
    assert(snapshot(t) == Set(
      (1L, "a", 0), (2L, "b", 0), (30L, "C", 1), (5L, "e", 2)))
  }

  /** A committed keyed table with per-file `#stats` on `id` — the
    * layout [[TableCommit.mergeInto]]'s pruning and band-conflict
    * arbitration read. 400 rows over two partitions, 4 key-contiguous
    * files each. */
  private def mergeBase(): String = {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1", "pt=2"),
      (0 until 400).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 4)
    t
  }

  private def dataFileSigs(t: String): Map[String, (Long, Long)] =
    TableCommit.resolve(t).get._2.map { rel =>
      val f = new java.io.File(t, rel)
      rel -> (f.length(), f.lastModified())
    }.toMap

  test("mergeInto: three-clause MERGE in one MoR commit — matched rows " +
      "update or delete, unmatched insert, existing files byte-untouched, " +
      "row accounting metadata-exact, pre-merge snapshot still pinned") {
    val t = mergeBase()
    val (id0, _) = TableCommit.resolve(t).get
    val sig0 = dataFileSigs(t)
    val before = TableCommit.rowCount(t, id0).get
    // source: ids 100-109 update (v := src payload), 110-114 delete,
    // 1000-1004 insert (keys past the table's domain)
    val src = ((100 until 110).map(i => (i.toLong, s"U$i", i % 2, "U")) ++
      (110 until 115).map(i => (i.toLong, "x", i % 2, "D")) ++
      (1000 until 1005).map(i => (i.toLong, s"I$i", i % 2, "I")))
      .toDF("id", "v", "pt", "op")
    val a = TableCommit.mergeInto(spark, t, "pt", "id", src,
      updateSet = Map("v" -> col("src_v")),
      deleteWhen = Some(col("src_op") === "D"))
    assert(a.rowsUpdated == 10 && a.rowsDeleted == 5 && a.rowsInserted == 5,
      a.toString)
    assert(a.filesCandidates < a.filesTotal,
      "source band pruned no candidate files")
    assert(a.filesHit <= a.filesCandidates && a.filesHit > 0)
    // merge-on-read: every pre-merge data file is byte-identical
    val retained = TableCommit.resolve(t).get._2.filter(sig0.contains)
    assert(retained.forall { rel =>
      val f = new java.io.File(t, rel)
      sig0(rel) == (f.length(), f.lastModified())
    }, "a MoR merge rewrote an existing data file")
    // row accounting from #rows metadata alone
    val after = TableCommit.rowCount(t, a.snapshotAfter).get
    assert(after == before - 5 + 5, s"$before -> $after")
    // the final row set, exactly
    val got = snapshot(t)
    val expect = (0 until 400).filterNot(i => 110 <= i && i < 115)
      .map(i => (i.toLong,
        if (100 <= i && i < 110) s"U$i" else s"v$i", i % 2)).toSet ++
      (1000 until 1005).map(i => (i.toLong, s"I$i", i % 2))
    assert(got == expect)
    // the pre-merge snapshot is still pinned (time travel)
    assert(TableCommit.readAt(spark, t, id0).count() == before)
    // stats on the fresh files keep a post-merge band read pruning
    val pruned = TableCommit.readWhere(spark, t, "id",
      BigDecimal(1000), BigDecimal(1004))
    assert(pruned.count() == 5)
    assert(pruned.inputFiles.length < TableCommit.resolve(t).get._2.length)
  }

  test("mergeInto: duplicate source keys are refused (the SQL MERGE " +
      "cardinality rule) with the table untouched; an empty source is a " +
      "structural no-op") {
    val t = mergeBase()
    val (id0, _) = TableCommit.resolve(t).get
    val dup = Seq((100L, "a", 0, "U"), (100L, "b", 0, "U"))
      .toDF("id", "v", "pt", "op")
    intercept[IllegalArgumentException] {
      TableCommit.mergeInto(spark, t, "pt", "id", dup,
        updateSet = Map("v" -> col("src_v")))
    }
    assert(TableCommit.resolve(t).get._1 == id0, "failed merge published")
    val a = TableCommit.mergeInto(spark, t, "pt", "id",
      dup.limit(0), updateSet = Map("v" -> col("src_v")))
    assert(a.snapshotAfter == id0 && a.rowsInserted == 0)
    assert(TableCommit.resolve(t).get._1 == id0, "empty merge published")
  }

  test("mergeInto: a replayed (appId, version) merge is a structural " +
      "no-op even with different source rows") {
    val t = mergeBase()
    val src1 = Seq((100L, "first", 0, "U")).toDF("id", "v", "pt", "op")
    TableCommit.mergeInto(spark, t, "pt", "id", src1,
      updateSet = Map("v" -> col("src_v")), txn = Some(("mergeApp", 7L)))
    val (id1, _) = TableCommit.resolve(t).get
    val rows1 = snapshot(t)
    // checkpoint recovery re-delivers version 7 with a different batch
    val src2 = Seq((200L, "ghost", 0, "U")).toDF("id", "v", "pt", "op")
    val a = TableCommit.mergeInto(spark, t, "pt", "id", src2,
      updateSet = Map("v" -> col("src_v")), txn = Some(("mergeApp", 7L)))
    assert(a.snapshotBefore == a.snapshotAfter, "replay published a commit")
    assert(TableCommit.resolve(t).get._1 == id1 && snapshot(t) == rows1,
      "replayed merge changed the table")
    // a NEWER version applies
    TableCommit.mergeInto(spark, t, "pt", "id", src2,
      updateSet = Map("v" -> col("src_v")), txn = Some(("mergeApp", 8L)))
    assert(snapshot(t).contains((200L, "ghost", 0)))
  }

  test("mergeInto OCC: rebases over a winner whose added files are " +
      "provably key-disjoint from the source band; conflicts when a " +
      "winner's added file may hold source keys or re-vectored a hit " +
      "file — table untouched on conflict") {
    val t = mergeBase()
    val (idPin, _) = TableCommit.resolve(t).get
    def src = Seq((100L, "M", 0, "U")).toDF("id", "v", "pt", "op")
    // winner 1: a key-DISJOINT append (ids ≥ 5000, stats recorded) —
    // the pinned merge must rebase over it, both land
    TableCommit.appendRows(spark, t, "pt",
      Seq((5000L, "w", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    val a = TableCommit.mergeInto(spark, t, "pt", "id", src,
      updateSet = Map("v" -> col("src_v")), readSnapshot = Some(idPin))
    assert(a.snapshotAfter > a.snapshotBefore)
    assert(snapshot(t).contains((100L, "M", 0)) &&
      snapshot(t).contains((5000L, "w", 0)),
      "disjoint append + pinned merge did not both land")
    // winner 2: an append INSIDE the source band — the pinned merge's
    // not-matched decision is stale, must conflict, table untouched
    val (idPin2, _) = TableCommit.resolve(t).get
    TableCommit.appendRows(spark, t, "pt",
      Seq((101L, "in-band", 1)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    val (idW, _) = TableCommit.resolve(t).get
    val rowsW = snapshot(t)
    intercept[TableCommit.CommitConflictException] {
      TableCommit.mergeInto(spark, t, "pt", "id",
        Seq((101L, "stale", 1, "U")).toDF("id", "v", "pt", "op"),
        updateSet = Map("v" -> col("src_v")), readSnapshot = Some(idPin2))
    }
    assert(TableCommit.resolve(t).get._1 == idW && snapshot(t) == rowsW,
      "conflicted merge left the table changed")
    // winner 3: a MoR delete that re-vectored the merge's hit file
    val (idPin3, _) = TableCommit.resolve(t).get
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(100)), TableCommit.MergeOnRead)
    intercept[TableCommit.CommitConflictException] {
      TableCommit.mergeInto(spark, t, "pt", "id", src,
        updateSet = Map("v" -> col("src_v")), readSnapshot = Some(idPin3))
    }
  }

  /** A 400-row committed table keyed by the COMPOSITE (tenant, eid):
    * tenants 0–3 each hold eids 0–99, so every eid value repeats
    * across tenants — single-column matching would cross-talk. Files
    * cluster by the LEADING key (tenant) so its `#stats` band prunes. */
  private def compositeBase(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ck").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val rows = for (tn <- 0 until 4; e <- 0 until 100)
      yield (tn.toLong, e.toLong, s"v$tn-$e", tn % 2)
    rows.toDF("tenant", "eid", "v", "pt")
      .repartition(col("pt")).write.mode("overwrite")
      .partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("tenant", "eid", "v", "pt"),
      clusterBy = Seq("tenant"), filesPerPartition = 4)
    t
  }

  private def compositeRows(t: String): Set[(Long, Long, String)] =
    TableCommit.read(spark, t).select("tenant", "eid", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("mergeIntoKeys: COMPOSITE (tenant, eid) key — tuple-exact " +
      "matching (no cross-tenant cross-talk), leading-key band pruning, " +
      "duplicate/NULL tuple refusal, BY SOURCE clause intact") {
    val t = compositeBase()
    val all0 = compositeRows(t)
    // tenant-1 feed: update (1,5), delete (1,6), insert (1,500) — and
    // eid 5,6 also exist under tenants 0,2,3, which must ride through
    val src = Seq(
      (1L, 5L, "U", 1, "U"), (1L, 6L, "x", 1, "D"), (1L, 500L, "I", 1, "I"))
      .toDF("tenant", "eid", "v", "pt", "op")
    val a = TableCommit.mergeIntoKeys(spark, t, Seq("pt"),
      Seq("tenant", "eid"), src,
      updateSet = Map("v" -> col("src_v")),
      deleteWhen = Some(col("src_op") === "D"))
    assert(a.rowsUpdated == 1 && a.rowsDeleted == 1 && a.rowsInserted == 1,
      a.toString)
    // the LEADING key's stats band ([1,1]) pruned candidate files
    assert(a.filesCandidates < a.filesTotal,
      s"leading-key band pruned nothing: ${a.filesCandidates}/${a.filesTotal}")
    val got = compositeRows(t)
    val want = all0 - ((1L, 5L, "v1-5")) - ((1L, 6L, "v1-6")) +
      ((1L, 5L, "U")) + ((1L, 500L, "I"))
    assert(got == want, "composite matching cross-talked across tenants")
    // prefix-sharing tuples are NOT duplicates; exact tuple dups and
    // NULL components are refused with the table untouched
    val (idNow, _) = TableCommit.resolve(t).get
    intercept[IllegalArgumentException] {
      TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("tenant", "eid"),
        Seq((2L, 7L, "a", 0, "U"), (2L, 7L, "b", 0, "U"))
          .toDF("tenant", "eid", "v", "pt", "op"),
        updateSet = Map("v" -> col("src_v")))
    }
    intercept[IllegalArgumentException] {
      TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("tenant", "eid"),
        Seq((2L, Option.empty[Long], "a", 0, "U"))
          .toDF("tenant", "eid", "v", "pt", "op"),
        updateSet = Map("v" -> col("src_v")))
    }
    assert(TableCommit.resolve(t).get._1 == idNow,
      "a refused composite merge published")
    // key columns must exist on both sides
    intercept[IllegalArgumentException] {
      TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("tenant", "nope"),
        src, updateSet = Map.empty)
    }
    // BY SOURCE over the composite key: source references only (2,5);
    // the clause kills tenant-2 rows whose TUPLE is unreferenced
    val b = TableCommit.mergeIntoKeys(spark, t, Seq("pt"),
      Seq("tenant", "eid"),
      Seq((2L, 5L, "keep", 0)).toDF("tenant", "eid", "v", "pt"),
      updateSet = Map("v" -> col("src_v")),
      notMatchedBySourceDelete = Some(col("tenant") === 2L))
    assert(b.rowsUpdated == 1 && b.rowsDeletedBySource == 99L, b.toString)
    assert(compositeRows(t).count(_._1 == 2L) == 1)
  }

  test("mergeIntoKeys onResidual: an extra ON conjunct narrows the " +
      "match — residual-failing pairs keep the target row and INSERT " +
      "the source row; NULL residual = no match; BY SOURCE honors it") {
    val t = compositeBase()
    // residual: only rows with v not 'frozen' match. Freeze (1,5).
    TableCommit.update(spark, t, Seq("pt"),
      col("tenant") === 1L && col("eid") === 5L, Map("v" -> lit("frozen")),
      TableCommit.MergeOnRead)
    val src = Seq((1L, 5L, "U5", 1), (1L, 6L, "U6", 1))
      .toDF("tenant", "eid", "v", "pt")
    val a = TableCommit.mergeIntoKeys(spark, t, Seq("pt"),
      Seq("tenant", "eid"), src,
      updateSet = Map("v" -> col("src_v")),
      onResidual = Some(col("v") =!= "frozen"))
    // (1,6) updates; (1,5) fails the residual -> its target row stays
    // AND the source row inserts (SQL ON semantics: not matched)
    assert(a.rowsUpdated == 1 && a.rowsInserted == 1, a.toString)
    val got = compositeRows(t)
    assert(got.contains((1L, 6L, "U6")) && got.contains((1L, 5L, "frozen")))
    assert(got.count(r => r._1 == 1L && r._2 == 5L) == 2,
      "residual-failing source row did not insert")
    // BY SOURCE sees the SAME match definition: with an always-false
    // residual nothing matches, so the clause kills everything in scope
    val b = TableCommit.mergeIntoKeys(spark, t, Seq("pt"),
      Seq("tenant", "eid"),
      Seq((3L, 1L, "keep", 1)).toDF("tenant", "eid", "v", "pt"),
      updateSet = Map.empty,
      onResidual = Some(lit(false)),
      notMatchedBySourceDelete = Some(col("tenant") === 3L))
    assert(b.rowsUpdated == 0 && b.rowsDeletedBySource == 100L &&
      b.rowsInserted == 1, b.toString)
    assert(compositeRows(t).count(_._1 == 3L) == 1)
  }

  test("mergeIntoKeys OCC: rebases over a winner added OUTSIDE the " +
      "leading-key band; conflicts on an in-band added file and on a " +
      "re-vectored hit file — composite decisions stay sound") {
    val t = compositeBase()
    def src = Seq((1L, 5L, "M", 1)).toDF("tenant", "eid", "v", "pt")
    // winner 1: tenant-9 append, provably outside the [1,1] lead band
    val (idPin, _) = TableCommit.resolve(t).get
    TableCommit.appendRows(spark, t, "pt",
      Seq((9L, 1L, "w", 1)).toDF("tenant", "eid", "v", "pt"),
      clusterBy = Seq("tenant"))
    val a = TableCommit.mergeIntoKeys(spark, t, Seq("pt"),
      Seq("tenant", "eid"), src,
      updateSet = Map("v" -> col("src_v")), readSnapshot = Some(idPin))
    assert(a.snapshotAfter > a.snapshotBefore)
    assert(compositeRows(t).contains((1L, 5L, "M")) &&
      compositeRows(t).contains((9L, 1L, "w")),
      "band-disjoint winner + pinned composite merge did not both land")
    // winner 2: an added file INSIDE the lead band (tenant 1) — the
    // merge's tuple-level not-matched decisions are stale: conflict
    val (idPin2, _) = TableCommit.resolve(t).get
    TableCommit.appendRows(spark, t, "pt",
      Seq((1L, 700L, "in-band", 1)).toDF("tenant", "eid", "v", "pt"),
      clusterBy = Seq("tenant"))
    val rowsW = compositeRows(t)
    intercept[TableCommit.CommitConflictException] {
      TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("tenant", "eid"),
        Seq((1L, 700L, "stale", 1)).toDF("tenant", "eid", "v", "pt"),
        updateSet = Map("v" -> col("src_v")), readSnapshot = Some(idPin2))
    }
    assert(compositeRows(t) == rowsW, "conflicted merge changed the table")
    // winner 3: a MoR delete re-vectored the hit file
    val (idPin3, _) = TableCommit.resolve(t).get
    TableCommit.delete(spark, t, Seq("pt"),
      band("eid", BigDecimal(5), BigDecimal(5)), TableCommit.MergeOnRead)
    intercept[TableCommit.CommitConflictException] {
      TableCommit.mergeIntoKeys(spark, t, Seq("pt"), Seq("tenant", "eid"),
        src, updateSet = Map("v" -> col("src_v")),
        readSnapshot = Some(idPin3))
    }
  }

  test("CHECK constraints: adding one that existing data violates is " +
      "refused; a violating append or update publishes NOTHING (stage " +
      "swept, table untouched); NULL predicates pass; dropConstraint " +
      "re-admits; constraints survive compaction") {
    val t = mergeBase()
    TableCommit.addConstraint(spark, t, "id_pos", "id >= 0")
    // existing data violates "id < 10" (ids run to 399) — refused, and
    // the constraint set is unchanged
    intercept[TableCommit.ConstraintViolationException] {
      TableCommit.addConstraint(spark, t, "small", "id < 10")
    }
    assert(TableCommit.constraints(t) == Map("id_pos" -> "id >= 0"))
    val (id0, files0) = TableCommit.resolve(t).get
    val rows0 = snapshot(t)
    // violating append: nothing published, no stage residue
    intercept[TableCommit.ConstraintViolationException] {
      TableCommit.appendRows(spark, t, "pt",
        Seq((-5L, "bad", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    }
    assert(TableCommit.resolve(t).get == ((id0, files0)),
      "violating append published a commit")
    assert(snapshot(t) == rows0)
    assert(!Option(new java.io.File(t).listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith("_stage_")), "stage residue left behind")
    // violating UPDATE (the CoW rewrite goes through the same gate)
    intercept[TableCommit.ConstraintViolationException] {
      TableCommit.update(spark, t, Seq("pt"),
        band("id", BigDecimal(0), BigDecimal(10)), Map("id" -> -col("id")),
        TableCommit.CopyOnWrite)
    }
    assert(snapshot(t) == rows0, "violating update changed the table")
    // NULL predicate result passes (SQL CHECK semantics): a constraint
    // on v admits a NULL v row
    TableCommit.addConstraint(spark, t, "v_nonempty", "length(v) > 0")
    TableCommit.appendRows(spark, t, "pt",
      Seq((7000L, null.asInstanceOf[String], 0)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"))
    assert(snapshot(t).contains((7000L, null, 0)))
    // constraints ride ordinary commits (compaction carries properties)
    TableCommit.compactPartitions(spark, t, "pt", Seq("pt=0"),
      clusterBy = Seq("id"))
    assert(TableCommit.constraints(t).keySet == Set("id_pos", "v_nonempty"))
    // drop re-admits the previously-refused write
    TableCommit.dropConstraint(t, "id_pos")
    TableCommit.appendRows(spark, t, "pt",
      Seq((-5L, "ok-now", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    assert(snapshot(t).contains((-5L, "ok-now", 0)))
  }

  test("REAL-THREAD contention: a MERGE racing a key-disjoint append — " +
      "every outcome is serializable (both land, or the merge conflicts " +
      "cleanly with the table untouched by it)") {
    val t = mergeBase()
    val before = snapshot(t)
    val src = Seq((100L, "M", 0, "U"), (8000L, "I", 0, "I"))
      .toDF("id", "v", "pt", "op")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try TableCommit.mergeInto(spark, t, "pt", "id", src,
        updateSet = Map("v" -> col("src_v")))
      catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try TableCommit.appendRows(spark, t, "pt",
        Seq((9500L, "w", 1)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
      catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    import scala.jdk.CollectionConverters._
    // the append NEVER fails; the merge either lands or conflicts
    assert(errs.size() <= 1 && errs.asScala.forall(
      _.isInstanceOf[TableCommit.CommitConflictException]),
      s"race raised a non-conflict error: ${errs.asScala.toList}")
    val after = snapshot(t)
    assert(after.contains((9500L, "w", 1)), "the append lost the race")
    if (errs.isEmpty) {
      // both landed: the merge's update and insert are all present
      assert(after.contains((100L, "M", 0)) && after.contains((8000L, "I", 0)),
        s"merge landed without its changes: incomplete state")
    } else {
      // merge conflicted: its decisions never reached the table
      assert(after == before + ((9500L, "w", 1)),
        "a conflicted merge leaked changes into the table")
    }
  }

  test("change data feed: the apply equation to ≡ (from − deletes) ⊎ " +
      "inserts holds for every verb — append and MoR DML emit precise " +
      "changes, CoW/compaction coarse-but-correct ones") {
    val t = mergeBase()
    import TableCommit.changeFeed
    // row multiset as (row → count); the apply-equation checker
    def multiset(df: org.apache.spark.sql.DataFrame): Map[(Long, String, Int), Long] =
      df.select(col("id"), col("v"), col("pt").cast("int"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    def snapshotMs(id: Long): Map[(Long, String, Int), Long] =
      multiset(TableCommit.readAt(spark, t, id))
    def applyEq(fromId: Long, toId: Long): Unit = {
      val feed = changeFeed(spark, t, fromId, toId)
      val del = multiset(feed.filter(col("_change_type") === "delete"))
      val ins = multiset(feed.filter(col("_change_type") === "insert"))
      val from = snapshotMs(fromId)
      val applied = (from.keySet ++ ins.keySet).flatMap { k =>
        val n = from.getOrElse(k, 0L) - del.getOrElse(k, 0L) +
          ins.getOrElse(k, 0L)
        assert(n >= 0L, s"apply equation went negative at $k")
        if (n > 0) Some(k -> n) else None
      }.toMap
      assert(applied == snapshotMs(toId),
        s"apply equation failed for $fromId -> $toId")
    }
    // retention deep enough for multi-hop feeds
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "10"))
    val id0 = TableCommit.resolve(t).get._1
    // append: precise — feed is exactly the appended rows, no deletes
    TableCommit.appendRows(spark, t, "pt",
      Seq((7000L, "i", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    val id1 = TableCommit.resolve(t).get._1
    val f1 = changeFeed(spark, t, id0, id1)
    assert(multiset(f1.filter(col("_change_type") === "insert")) ==
      Map((7000L, "i", 0) -> 1L))
    assert(f1.filter(col("_change_type") === "delete").count() == 0)
    applyEq(id0, id1)
    // MoR delete: precise — feed is exactly the vectored rows
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(10), BigDecimal(20)), TableCommit.MergeOnRead)
    val id2 = TableCommit.resolve(t).get._1
    val f2 = changeFeed(spark, t, id1, id2)
    assert(f2.filter(col("_change_type") === "insert").count() == 0)
    assert(multiset(f2.filter(col("_change_type") === "delete")).keySet ==
      (10L to 20L).map(i => (i, s"v$i", (i % 2).toInt)).toSet)
    applyEq(id1, id2)
    // MoR update: precise — old versions delete, successors insert
    TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(30), BigDecimal(35)), Map("v" -> lit("upd")),
      TableCommit.MergeOnRead)
    val id3 = TableCommit.resolve(t).get._1
    val f3 = changeFeed(spark, t, id2, id3)
    assert(multiset(f3.filter(col("_change_type") === "delete")).keySet ==
      (30L to 35L).map(i => (i, s"v$i", (i % 2).toInt)).toSet)
    assert(multiset(f3.filter(col("_change_type") === "insert")).keySet ==
      (30L to 35L).map(i => (i, "upd", (i % 2).toInt)).toSet)
    applyEq(id2, id3)
    // CoW update + compaction: coarse but the apply equation holds
    TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(110)), Map("v" -> lit("cow")),
      TableCommit.CopyOnWrite)
    val id4 = TableCommit.resolve(t).get._1
    applyEq(id3, id4)
    TableCommit.compactPartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      clusterBy = Seq("id"), filesPerPartition = 2)
    val id5 = TableCommit.resolve(t).get._1
    applyEq(id4, id5)
    // compaction is row-preserving: the coarse feed's deletes and
    // inserts cancel exactly
    val f5 = changeFeed(spark, t, id4, id5)
    assert(multiset(f5.filter(col("_change_type") === "delete")) ==
      multiset(f5.filter(col("_change_type") === "insert")))
    // a multi-hop feed composes: from -> to across all five commits
    applyEq(id0, id5)
    // three-clause merge through the feed
    val src = Seq((40L, "m", 0, "U"), (41L, "x", 1, "D"),
      (7777L, "n", 1, "I")).toDF("id", "v", "pt", "op")
    TableCommit.mergeInto(spark, t, "pt", "id", src,
      updateSet = Map("v" -> col("src_v")),
      deleteWhen = Some(col("src_op") === "D"))
    val id6 = TableCommit.resolve(t).get._1
    applyEq(id5, id6)
    val f6 = changeFeed(spark, t, id5, id6)
    assert(multiset(f6.filter(col("_change_type") === "insert")).keySet
      .contains((7777L, "n", 1)))
  }

  test("shallow clone: zero-copy (hard-linked) table sharing the pinned " +
      "snapshot's bytes; clone and source diverge independently; either " +
      "side's vacuum never breaks the other; the txn ledger does NOT " +
      "carry (a replayed writer into the clone applies)") {
    val t = mergeBase()
    TableCommit.appendRows(spark, t, "pt",
      Seq((9000L, "w", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"),
      txn = Some(("cloner", 5L)))
    val (srcId, srcFiles) = TableCommit.resolve(t).get
    val dst = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_clone").toFile,
      "table").getAbsolutePath
    assert(TableCommit.cloneTo(t, dst) == 0L)
    // same rows, zero data copy (every linked file shares its inode)
    assert(snapshot(dst) == snapshot(t))
    val linked = TableCommit.resolve(dst).get._2.count { rel =>
      java.nio.file.Files.getAttribute(
        new java.io.File(dst, rel).toPath, "unix:nlink")
        .asInstanceOf[Number].intValue >= 2
    }
    assert(linked == srcFiles.length, s"only $linked/${srcFiles.length} " +
      "clone files are hard links")
    // stats carried: a band read on the clone still prunes
    val pruned = TableCommit.readWhere(spark, dst, "id",
      BigDecimal(100), BigDecimal(120))
    assert(pruned.inputFiles.length < srcFiles.length)
    // ledger did NOT carry: the same (appId, version) applies to the clone
    assert(TableCommit.lastTxnVersion(dst, "cloner").isEmpty)
    TableCommit.appendRows(spark, dst, "pt",
      Seq((9001L, "x", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"),
      txn = Some(("cloner", 5L)))
    assert(snapshot(dst).contains((9001L, "x", 0)),
      "replayed (appId, version) was wrongly no-op'd in the clone")
    // divergence: delete a band in the CLONE (rewrites shared files on
    // the clone side; its vacuum then unlinks old generations) — the
    // SOURCE reads byte-identically
    val srcRows = snapshot(t)
    TableCommit.delete(spark, dst, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(50)), TableCommit.CopyOnWrite)
    // push the clone's vacuum past the shared generation
    TableCommit.appendRows(spark, dst, "pt",
      Seq((9002L, "y", 1)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    TableCommit.appendRows(spark, dst, "pt",
      Seq((9003L, "z", 1)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    assert(snapshot(t) == srcRows,
      "mutating + vacuuming the clone changed the source")
    assert(TableCommit.readAt(spark, t, srcId).count() == srcRows.size)
    // and the other direction: mutate the source, clone unaffected
    val cloneRows = snapshot(dst)
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(200), BigDecimal(250)), TableCommit.CopyOnWrite)
    assert(snapshot(dst) == cloneRows,
      "mutating the source changed the clone")
    // cloning onto an existing table refuses
    intercept[IllegalArgumentException] {
      TableCommit.cloneTo(t, dst)
    }
  }

  test("mergeInto: partition-moving update (SET of the partition column) " +
      "relocates matched rows — the MoR kill-and-re-add capability") {
    val t = mergeBase()
    val src = Seq((100L, "moved", 9, "U")).toDF("id", "v", "pt", "op")
    TableCommit.mergeInto(spark, t, "pt", "id", src,
      updateSet = Map("v" -> col("src_v"), "pt" -> col("src_pt")))
    val got = snapshot(t).filter(_._1 == 100L)
    assert(got == Set((100L, "moved", 9)), got.toString)
    assert(TableCommit.resolve(t).get._2.exists(_.startsWith("pt=9/")),
      "moved row's fresh file not in the new partition dir")
  }

  test("mergeInto: a STRING-typed key derives NO pruning band — keys like " +
      "\"9\"/\"10\" whose lexicographic stats invert numerically are still " +
      "MATCHED, never duplicate-inserted") {
    // a table keyed by a string column whose values parse as numbers:
    // lexicographic min/max of {"10","9"} is ("10","9") — the numeric
    // band (10, 9) is inverted and would prune EVERY file, so the
    // merge would misclassify existing key "9" as NOT MATCHED
    val dir = java.nio.file.Files.createTempDirectory("graft_tc").toFile
    val t = new java.io.File(dir, "strkey").getAbsolutePath
    Seq(("9", "old9", 0), ("10", "old10", 0), ("7", "old7", 1))
      .toDF("k", "v", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    // establish #stats on the string key (what makes the band tempting)
    TableCommit.compactPartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      clusterBy = Seq("k"))
    val src = Seq(("9", "new9", 0), ("10", "new10", 0))
      .toDF("k", "v", "pt")
    val a = TableCommit.mergeInto(spark, t, "pt", "k", src,
      updateSet = Map("v" -> col("src_v")))
    assert(a.rowsUpdated == 2L && a.rowsInserted == 0L,
      s"string-keyed merge misclassified matches: $a")
    val rows = TableCommit.read(spark, t)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("9", "new9"), ("10", "new10"), ("7", "old7")),
      s"duplicate insert or lost update: $rows")
  }

  test("CHECK constraint added CONCURRENTLY between a writer's stage and " +
      "publish conflicts — the staged rows were never validated against " +
      "it, so carrying it forward silently would bypass the gate") {
    val t = mergeBase()
    // a frame whose evaluation (during the writer's stage write) parks
    // until the main thread has installed a constraint — deterministic
    // interleaving: constraints were read BEFORE the stage, the
    // constraint lands DURING it, publish must notice. The rendezvous
    // lives in a JVM-static object: latches must not ride the task
    // closure (not serializable).
    val slow = org.apache.spark.sql.functions.udf(
      (id: Long) => TableCommitSpecStageRace.park(id))
    val df = Seq((9000L, "x", 0)).toDF("id", "v", "pt")
      .withColumn("id", slow(col("id")))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w = new Thread(() =>
      try TableCommit.appendRows(spark, t, "pt", df)
      catch { case e: Throwable => err.set(e) })
    w.start()
    assert(TableCommitSpecStageRace.staged
        .await(60, java.util.concurrent.TimeUnit.SECONDS),
      "writer never reached its stage write")
    // lands while the writer is mid-stage (existing rows all satisfy it)
    TableCommit.addConstraint(spark, t, "id_pos", "id >= 0")
    TableCommitSpecStageRace.gate.countDown()
    w.join(120000)
    assert(err.get() != null &&
      err.get().isInstanceOf[TableCommit.CommitConflictException],
      s"writer published under a constraint set it never validated " +
        s"against: ${Option(err.get()).map(_.toString)}")
    // the conflicted append leaked nothing
    assert(!snapshot(t).contains((9000L, "x", 0)))
  }

  test("checkStaged pins the staged frame's schema: a constraint on a " +
      "STRING partition column with zero-padded values evaluates the " +
      "written value, not a dir-name re-inference") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tc").toFile
    val t = new java.io.File(dir, "padpart").getAbsolutePath
    Seq((1L, "a", "01"), (2L, "b", "02")).toDF("id", "v", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    // adopted manifest-0 has no #schema; give the table one via a
    // replace, then install a constraint that only a STRING read passes
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=01"),
      Seq((1L, "a", "01")).toDF("id", "v", "pt"))
    TableCommit.addConstraint(spark, t, "pt_padded", "length(pt) = 2")
    // an unpinned stage read would re-infer pt as int 1 → length 1 →
    // false violation rejecting a perfectly valid write
    TableCommit.appendRows(spark, t, "pt",
      Seq((3L, "c", "01")).toDF("id", "v", "pt"))
    val rows = TableCommit.read(spark, t)
      .select(col("id"), col("pt")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows.contains((3L, "01")), s"valid write was rejected: $rows")
  }

  test("FOUR-WAY change feed: MoR update emits update_preimage/" +
      "update_postimage pairs, MoR delete emits delete preimages, MERGE " +
      "emits all four classes, CoW rewrites fall back to the synthesized " +
      "insert/delete — and precise volume ∝ the band, never the table") {
    val t = freshTable()
    TableCommit.initIfAbsent(t)
    // a feed consumer may lag at most the retention window — widen it
    // so the whole 4-commit range stays walkable; four-way recording is
    // opt-in (graft.cdf, the Delta default)
    TableCommit.setProperties(t, Map(
      "graft.retention.generations" -> "10", "graft.cdf" -> "true"))
    val id0 = TableCommit.resolve(t).get._1
    // MoR update: ids 2..3 get v -> V
    TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(2), BigDecimal(3)), Map("v" -> upper(col("v"))),
      TableCommit.MergeOnRead)
    val id1 = TableCommit.resolve(t).get._1
    val f1 = TableCommit.changeFeedPrecise(spark, t, id0, id1)
      .select(col("id"), col("v"), col("_change_type"),
        col("_commit_version"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(f1 == Set(
      (2L, "b", "update_preimage", id1), (3L, "c", "update_preimage", id1),
      (2L, "B", "update_postimage", id1), (3L, "C", "update_postimage", id1)))
    // MoR delete: id 5
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(5), BigDecimal(5)), TableCommit.MergeOnRead)
    val id2 = TableCommit.resolve(t).get._1
    val f2 = TableCommit.changeFeedPrecise(spark, t, id1, id2)
      .select(col("id"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(f2 == Set((5L, "delete")))
    // MERGE: update id 1, delete id 4, insert id 9 — one commit,
    // all four classes
    val src = Seq((1L, "a9", 0, "U"), (4L, "d", 1, "D"), (9L, "i", 2, "I"))
      .toDF("id", "v", "pt", "op")
    TableCommit.mergeInto(spark, t, "pt", "id", src,
      updateSet = Map("v" -> col("src_v")),
      deleteWhen = Some(col("src_op") === "D"))
    val id3 = TableCommit.resolve(t).get._1
    val f3 = TableCommit.changeFeedPrecise(spark, t, id2, id3)
      .select(col("id"), col("v"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(f3 == Set(
      (1L, "a", "update_preimage"), (1L, "a9", "update_postimage"),
      (4L, "d", "delete"), (9L, "i", "insert")))
    // volume ∝ the change set: the whole 3-commit range emits exactly
    // the 4+1+4 recorded change rows, not table-sized output
    assert(TableCommit.changeFeedPrecise(spark, t, id0, id3).count() == 9L)
    // CoW delete records no sidecar — the per-commit step synthesizes
    // (delete of dead rows, re-insert of survivors from the rewrite)
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(9), BigDecimal(9)), TableCommit.CopyOnWrite)
    val id4 = TableCommit.resolve(t).get._1
    val f4 = TableCommit.changeFeedPrecise(spark, t, id3, id4)
      .select(col("id"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(f4.contains((9L, "delete")))
    assert(f4.forall(e => e._2 == "delete" || e._2 == "insert"))
    // apply-equation sanity across the synthesized step: survivors
    // re-inserted == survivors deleted (coarse churn, still correct)
    val ins = f4.filter(_._2 == "insert").map(_._1)
    val del = f4.filter(_._2 == "delete").map(_._1)
    assert((del -- ins) == Set(9L))
  }
}

/** JVM-static rendezvous for TableCommitSpec's stage-vs-addConstraint
  * race test: the parking UDF runs on an executor thread and its
  * latches cannot ride the task closure (CountDownLatch is not
  * serializable) — a static module is reachable from both sides of the
  * local-mode JVM without capture. */
object TableCommitSpecStageRace {
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
