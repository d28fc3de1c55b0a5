package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** PARTITION EVOLUTION (round-12, the Iceberg evolve-spec rung):
  * `evolvePartitioningBy` changes a table's partition spec as a
  * METADATA-ONLY commit. Old files stay under the old layout, fresh
  * writes lay out under the new spec, reads group a mixed-generation
  * snapshot by layout signature, DV/hit keys are per-file paths, and
  * migration is gradual (a prefix compaction). These tests pin the
  * whole lifecycle: mixed reads, stale-spec refusal, DML across
  * generations, the straddle guard, and time travel through the
  * evolution point. */
class PartitionEvolutionSpec extends GraftSpec {
  import spark.implicits._

  private def rowsOf(n: Int, from: Int = 0): Seq[(Long, Long, String, Int)] =
    (from until from + n).map(i =>
      (i.toLong, i * 10L, s"g${i % 3}", i % 2))

  /** Seed a (pt)-partitioned committed table of ids [0, 200) with `g`
    * as a PAYLOAD column and per-file id stats. */
  private def freshEvolvable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pe").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val seed = rowsOf(200).toDF("id", "v", "g", "pt")
    seed.repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitionsBy(spark, t, Seq("pt"),
      Seq("pt=0", "pt=1"), seed,
      clusterBy = Seq("id"), filesPerPartition = 2)
    t
  }

  private def allRows(t: String): Set[(Long, Long, String, Int)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("g"), col("pt").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
      .toSet

  test("evolve (pt) -> (pt, g): metadata-only commit; old files " +
      "byte-untouched; new writes land at the new depth; the mixed " +
      "snapshot reads as the union; time travel crosses the evolution") {
    val t = freshEvolvable()
    // keep the pre-evolution snapshot readable through evolve+append
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "5"))
    val (preId, preFiles) = TableCommit.resolve(t).get
    val preRows = allRows(t)
    val sig0 = preFiles.map(f =>
      f -> new java.io.File(t, f).lastModified()).toMap
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "g"))
    // metadata-only: same files, one more snapshot
    val (evoId, evoFiles) = TableCommit.resolve(t).get
    assert(evoId == preId + 1 && evoFiles.sorted == preFiles.sorted)
    // fresh write lands under the evolved two-level layout
    TableCommit.appendRowsBy(spark, t, Seq("pt", "g"),
      rowsOf(60, from = 200).toDF("id", "v", "g", "pt"),
      clusterBy = Seq("id"))
    val (mixId, mixFiles) = TableCommit.resolve(t).get
    val olds = mixFiles.filter(_.count(_ == '/') == 1)
    val news = mixFiles.filter(_.count(_ == '/') == 2)
    assert(olds.toSet == preFiles.toSet && news.nonEmpty,
      s"expected mixed generations, got $mixFiles")
    assert(news.forall(f => f.matches("pt=\\d/g=g\\d/.*")), news.toString)
    // old generation byte-untouched
    assert(olds.forall(f =>
      sig0(f) == new java.io.File(t, f).lastModified()),
      "evolution rewrote an old-generation file")
    // the mixed snapshot reads as the exact union
    assert(allRows(t) == preRows ++ rowsOf(60, from = 200).toSet)
    // time travel to the pre-evolution snapshot still serves it
    assert(TableCommit.readAt(spark, t, preId)
      .count() == 200L)
    val _ = mixId
  }

  test("a stale writer still declaring the pre-evolution spec fails " +
      "loudly at the stage choke point, before any file moves") {
    val t = freshEvolvable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "g"))
    val e = intercept[IllegalArgumentException] {
      TableCommit.appendRowsBy(spark, t, Seq("pt"),
        rowsOf(5, from = 500).toDF("id", "v", "g", "pt"))
    }
    assert(e.getMessage.contains("active partition spec") &&
      e.getMessage.contains("evolvePartitioningBy"), e.getMessage)
  }

  test("evolution to a non-existent column is refused (a pre-evolution " +
      "file could never resolve it)") {
    val t = freshEvolvable()
    val e = intercept[IllegalArgumentException] {
      TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "nope"))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("MoR delete and CoW update across MIXED generations: per-file " +
      "keys vector/rewrite the right rows in both layouts") {
    val t = freshEvolvable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "g"))
    TableCommit.appendRowsBy(spark, t, Seq("pt", "g"),
      rowsOf(60, from = 200).toDF("id", "v", "g", "pt"),
      clusterBy = Seq("id"))
    // band [150, 219] covers 50 old-generation + 20 new-generation rows
    val mor = TableCommit.delete(spark, t, Seq("pt", "g"),
      band("id", BigDecimal(150), BigDecimal(219)), TableCommit.MergeOnRead)
    assert(mor.rowsDeleted == 70, mor.toString)
    assert(TableCommit.read(spark, t).count() == 190L)
    assert(TableCommit.read(spark, t)
      .filter(col("id") >= 150 && col("id") <= 219).count() == 0L)
    // CoW update across the remaining mixed band [100, 239]:
    // 50 old + 20 new live rows get v negated; the rewrite lays the
    // old files' survivors out under the NEW spec (DML as migration)
    val upd = TableCommit.update(spark, t, Seq("pt", "g"),
      band("id", BigDecimal(100), BigDecimal(239)), Map("v" -> -col("v")),
      TableCommit.CopyOnWrite)
    assert(upd.rowsUpdated == 70, upd.toString)
    val got = TableCommit.read(spark, t)
      .filter(col("v") < 0).select(col("id")).collect()
      .map(_.getLong(0)).toSet
    assert(got == ((100L to 149L) ++ (220L to 239L)).toSet, got.size.toString)
    // the rewritten files are all at the evolved depth
    val rewritten = TableCommit.resolve(t).get._2
      .filterNot(TableCommit.readAt(spark, t, upd.snapshotBefore)
        .inputFiles.map(f => f.substring(f.indexOf(t) + t.length + 1)).toSet)
    assert(rewritten.nonEmpty && rewritten.forall(_.count(_ == '/') == 2),
      rewritten.toString)
  }

  test("leaf replace under a straddling old-layout file is refused with " +
      "the migration hint; prefix compaction migrates; the same leaf " +
      "replace then lands") {
    val t = freshEvolvable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "g"))
    val e = intercept[IllegalStateException] {
      TableCommit.replacePartitionsBy(spark, t, Seq("pt", "g"),
        Seq("pt=0/g=g0"),
        Seq((1000L, 1L, "g0", 0)).toDF("id", "v", "g", "pt"))
    }
    assert(e.getMessage.contains("straddle") &&
      e.getMessage.contains("compactPartitionsBy"), e.getMessage)
    // gradual migration: compact the pt=0 subtree under the new spec
    TableCommit.compactPartitionsBy(spark, t, Seq("pt", "g"), Seq("pt=0"),
      clusterBy = Seq("id"), filesPerPartition = 1)
    val pt0 = TableCommit.resolve(t).get._2.filter(_.startsWith("pt=0"))
    assert(pt0.nonEmpty && pt0.forall(_.count(_ == '/') == 2),
      s"pt=0 not migrated: $pt0")
    assert(allRows(t) == rowsOf(200).toSet, "migration changed the rows")
    // the leaf is now exactly addressable
    TableCommit.replacePartitionsBy(spark, t, Seq("pt", "g"),
      Seq("pt=0/g=g0"),
      Seq((1000L, 1L, "g0", 0)).toDF("id", "v", "g", "pt"))
    val after = allRows(t)
    assert(after.contains((1000L, 1L, "g0", 0)))
    // every pre-replace pt=0/g=g0 row is gone, everything else intact
    assert(after == rowsOf(200).toSet
      .filterNot(r => r._4 == 0 && r._3 == "g0") + ((1000L, 1L, "g0", 0)))
  }

  test("stats skipping keeps working across mixed generations (old and " +
      "new files both carry #stats; a band read prunes both ways)") {
    val t = freshEvolvable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "g"))
    TableCommit.appendRowsBy(spark, t, Seq("pt", "g"),
      rowsOf(200, from = 200).toDF("id", "v", "g", "pt"),
      clusterBy = Seq("id"))
    val (id, files) = TableCommit.resolve(t).get
    val pruned = TableCommit.readWhereAt(spark, t, id, "id",
      BigDecimal(50), BigDecimal(80))
    assert(pruned.inputFiles.length < files.length,
      s"${pruned.inputFiles.length} of ${files.length}")
    assert(pruned.count() == 31L)
    // a band wholly in the NEW generation prunes every old file
    val newBand = TableCommit.readWhereAt(spark, t, id, "id",
      BigDecimal(300), BigDecimal(320))
    assert(newBand.count() == 21L)
  }

  test("NON-EXTENSION evolution (pt) -> (g): a leaf replace is refused " +
      "while any old-layout file exists (no shared level can prove " +
      "disjointness), and compacting the OLD dirs under the new spec " +
      "migrates — the round-12 review's straddle-guard hole, closed") {
    val t = freshEvolvable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("g"))
    TableCommit.appendRowsBy(spark, t, Seq("g"),
      rowsOf(30, from = 200).toDF("id", "v", "g", "pt"))
    // pt=0/f shares NO level with g=g0 — it may hold g=g0 rows, so the
    // replace's exclusivity claim must be refused
    val e = intercept[IllegalStateException] {
      TableCommit.replacePartitionsBy(spark, t, Seq("g"), Seq("g=g0"),
        Seq((5000L, 1L, "g0", 0)).toDF("id", "v", "g", "pt"))
    }
    assert(e.getMessage.contains("straddle"), e.getMessage)
    // migration: compact the old top-level dirs under the new spec
    // (compaction claims no exclusivity — it rewrites what it read)
    TableCommit.compactPartitionsBy(spark, t, Seq("g"),
      Seq("pt=0", "pt=1"), clusterBy = Seq("id"), filesPerPartition = 1)
    val files = TableCommit.resolve(t).get._2
    assert(files.forall(_.startsWith("g=")), files.toString)
    assert(allRows(t) == (rowsOf(200) ++ rowsOf(30, from = 200)).toSet)
    // the leaf is now exactly addressable under the new spec
    TableCommit.replacePartitionsBy(spark, t, Seq("g"), Seq("g=g0"),
      Seq((5000L, 1L, "g0", 0)).toDF("id", "v", "g", "pt"))
    val after = allRows(t)
    assert(after.contains((5000L, 1L, "g0", 0)))
    assert(!after.exists(r => r._3 == "g0" && r._1 != 5000L))
  }

  test("REAL-THREAD race: stale-spec appends vs a concurrent evolution — " +
      "every append either lands wholly under the spec it declared " +
      "(before the evolution commit) or fails loudly; no commit after " +
      "the spec commit ever adds old-depth files") {
    val t = freshEvolvable()
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "30"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var specId = -1L
    val writer = new Thread(() =>
      (0 until 6).foreach { i =>
        try TableCommit.appendRowsBy(spark, t, Seq("pt"),
          rowsOf(5, from = 1000 + i * 5).toDF("id", "v", "g", "pt"))
        catch { case e: Throwable => errs.add(e) }
      })
    val evolver = new Thread(() => {
      Thread.sleep(120)
      TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "g"))
      specId = TableCommit.resolve(t).get._1
    })
    writer.start(); evolver.start(); writer.join(); evolver.join()
    assert(specId >= 0)
    // failures may only be the stage-time spec guard or the OCC
    // guardSpec conflict — never a silent wrong commit
    import scala.jdk.CollectionConverters._
    assert(errs.asScala.forall(e =>
      e.isInstanceOf[IllegalArgumentException] ||
        e.isInstanceOf[TableCommit.CommitConflictException]),
      s"unexpected failure kind: ${errs.asScala.map(_.getClass).toSet}")
    // the spec contract: no commit AFTER the evolution commit added
    // old-depth files (a rebase-over-evolution would have)
    val hist = TableCommit.history(t).sortBy(_._1)
    hist.sliding(2).foreach {
      case Seq((aId, aFiles), (bId, bFiles)) if bId > specId =>
        val added = bFiles.toSet -- aFiles.toSet
        assert(added.forall(_.count(_ == '/') == 2),
          s"commit $bId (> spec commit $specId) added old-layout " +
            s"files: ${added.filter(_.count(_ == '/') == 1)}")
      case _ => ()
    }
    // row accounting: exactly the successful appends landed
    val landed = 6 - errs.size()
    assert(TableCommit.read(spark, t).count() == 200L + 5L * landed,
      s"$landed appends should have landed")
  }

  test("sidecar #require gate: a sidecar written by a future-featured " +
      "engine is refused by the cold-open fast path (falls back to the " +
      "text manifest instead of serving rows the feature would falsify)") {
    val t = freshEvolvable()
    TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
    val seed = rowsOf(200).toDF("id", "v", "g", "pt")
    TableCommit.replacePartitionsBy(spark, t, Seq("pt"),
      Seq("pt=0", "pt=1"), seed, clusterBy = Seq("id"),
      filesPerPartition = 2)
    val (id, files) = TableCommit.resolve(t).get
    val p = TableCommit.sidecarPathProbe(t, id)
    assert(p.isDefined, "no sidecar for the newest checkpoint")
    // the genuine sidecar serves the band
    assert(TableCommit.sidecarPrunedFiles(t, id, "id",
      BigDecimal(0), BigDecimal(50)).isDefined)
    // rewrite it in place as a future engine would: same rows, plus a
    // required feature this reader does not implement
    graft.operators.CheckpointSidecar.write(p.get, files, Map.empty,
      Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, None,
      requires = Seq("row-lineage"))
    assert(TableCommit.sidecarPrunedFiles(t, id, "id",
      BigDecimal(0), BigDecimal(50)).isEmpty,
      "fast path served a sidecar requiring an unknown feature")
    // the text path still serves the read (its manifest requires
    // nothing this reader lacks)
    assert(TableCommit.readWhereAt(spark, t, id, "id",
      BigDecimal(0), BigDecimal(50)).count() == 51L)
  }

  test("MERGE across mixed generations: one commit updates old-gen rows, " +
      "deletes new-gen rows, inserts fresh keys under the new spec") {
    val t = freshEvolvable()
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "g"))
    TableCommit.appendRowsBy(spark, t, Seq("pt", "g"),
      rowsOf(60, from = 200).toDF("id", "v", "g", "pt"),
      clusterBy = Seq("id"))
    val src = (
      rowsOf(10, from = 100).map { case (id, v, g, pt) => (id, v, g, pt, "U") } ++
      rowsOf(10, from = 210).map { case (id, v, g, pt) => (id, v, g, pt, "D") } ++
      rowsOf(10, from = 400).map { case (id, v, g, pt) => (id, v, g, pt, "I") })
      .toDF("id", "v", "g", "pt", "op")
    val a = TableCommit.mergeIntoBy(spark, t, Seq("pt", "g"), "id", src,
      updateSet = Map("v" -> (col("v") + 1L)),
      deleteWhen = Some(col("src_op") === "D"))
    assert(a.rowsUpdated == 10 && a.rowsDeleted == 10 && a.rowsInserted == 10,
      a.toString)
    val rows = allRows(t)
    assert(rows.size == 260)
    assert((210L to 219L).forall(id => !rows.exists(_._1 == id)))
    assert((100L to 109L).forall(id => rows.exists(r =>
      r._1 == id && r._2 == id * 10 + 1)))
    assert((400L to 409L).forall(id => rows.exists(_._1 == id)))
  }
}
