package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalView, TableCommit}

/** Contract of incremental materialized-view maintenance over the
  * commit protocol: a view synced per source commit processes only the
  * manifest diff (append-only partitions fold in as deltas; rewritten
  * partitions recompute from the pinned newest snapshot), its position
  * advances atomically with its data through the sink's txn ledger
  * (replay = structural no-op), and a position that left the source's
  * retention window degrades to a full rebuild — never a wrong
  * answer. */
class IncrementalViewSpec extends GraftSpec {
  import spark.implicits._

  private def freshPair(): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_iv").toFile
    (new java.io.File(dir, "src").getAbsolutePath,
      new java.io.File(dir, "view").getAbsolutePath)
  }

  private val aggFn: DataFrame => DataFrame = df =>
    df.groupBy(col("pt")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))

  private val combineFn: (DataFrame, DataFrame) => DataFrame = (cur, part) =>
    cur.unionByName(part).groupBy(col("pt"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))

  private def viewRows(t: String): Set[(Int, Long, Long)] =
    TableCommit.read(spark, t)
      .select(col("pt").cast("int"), col("n"), col("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  private def recompute(src: String): Set[(Int, Long, Long)] =
    aggFn(TableCommit.read(spark, src))
      .select(col("pt").cast("int"), col("n"), col("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  private def seed(src: String): Unit =
    TableCommit.replacePartitions(spark, src, "pt",
      Seq("pt=0", "pt=1", "pt=2"),
      (0 until 300).map(i => (i.toLong, i % 3)).toDF("id", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 4)

  test("first sync is a full build; a re-sync with no source commit is " +
      "a noop; an append-only commit folds in as a delta touching ONLY " +
      "the appended partitions") {
    val (src, view) = freshPair()
    seed(src)
    val a1 = IncrementalView.sync(spark, src, view, "v1", "pt",
      aggFn, combineFn)
    assert(a1.mode == "full", a1.toString)
    assert(viewRows(view) == recompute(src), "full build diverged")
    val a2 = IncrementalView.sync(spark, src, view, "v1", "pt",
      aggFn, combineFn)
    assert(a2.mode == "noop", a2.toString)
    // blind append: two files into pt=0 (existing) and pt=3 (new)
    val (vid1, vfiles1) = TableCommit.resolve(view).get
    TableCommit.appendRows(spark, src, "pt",
      Seq((1000L, 0), (1001L, 0), (1002L, 3)).toDF("id", "pt"),
      clusterBy = Seq("id"))
    val a3 = IncrementalView.sync(spark, src, view, "v1", "pt",
      aggFn, combineFn)
    assert(a3.mode == "incremental" && a3.partsRecomputed == 0 &&
      a3.partsDelta == 2, a3.toString)
    assert(viewRows(view) == recompute(src), "delta fold diverged")
    // view partitions the delta never touched (pt=1, pt=2) are the
    // SAME files, byte-untouched
    val (_, vfiles2) = TableCommit.resolve(view).get
    val untouched = Set("pt=1", "pt=2")
    assert(vfiles1.filter(f => untouched(TableCommit.partitionDirOf(f)))
      .toSet.subsetOf(vfiles2.toSet),
      "an untouched view partition was rewritten")
    // replayed cycle: structural no-op
    val a4 = IncrementalView.sync(spark, src, view, "v1", "pt",
      aggFn, combineFn)
    assert(a4.mode == "noop", a4.toString)
  }

  test("a rewrite commit (row-level delete) routes its partitions to " +
      "RECOMPUTE — a delta fold over removed files would be wrong") {
    val (src, view) = freshPair()
    seed(src)
    IncrementalView.sync(spark, src, view, "v2", "pt", aggFn, combineFn)
    val d = TableCommit.delete(spark, src, Seq("pt"),
      band("id", BigDecimal(50), BigDecimal(80)), TableCommit.CopyOnWrite)
    assert(d.filesHit > 0)
    val a = IncrementalView.sync(spark, src, view, "v2", "pt",
      aggFn, combineFn)
    assert(a.mode == "incremental" && a.partsRecomputed > 0, a.toString)
    assert(viewRows(view) == recompute(src), "recompute routing diverged")
    // and a subsequent append still takes the cheap path
    TableCommit.appendRows(spark, src, "pt",
      Seq((3000L, 1)).toDF("id", "pt"), clusterBy = Seq("id"))
    val b = IncrementalView.sync(spark, src, view, "v2", "pt",
      aggFn, combineFn)
    assert(b.mode == "incremental" && b.partsRecomputed == 0 &&
      b.partsDelta == 1, b.toString)
    assert(viewRows(view) == recompute(src))
  }

  test("a merge-on-read delete on the source routes the vectored " +
      "partitions to RECOMPUTE — the diff shows the files as rewritten " +
      "even though no byte of data changed") {
    val (src, view) = freshPair()
    seed(src)
    IncrementalView.sync(spark, src, view, "v4", "pt", aggFn, combineFn)
    val a = TableCommit.delete(spark, src, Seq("pt"),
      band("id", BigDecimal(50), BigDecimal(80)), TableCommit.MergeOnRead)
    assert(a.filesHit > 0 && a.rowsDeleted > 0, a.toString)
    val b = IncrementalView.sync(spark, src, view, "v4", "pt",
      aggFn, combineFn)
    assert(b.mode == "incremental" && b.partsRecomputed > 0, b.toString)
    assert(viewRows(view) == recompute(src), "MoR routing diverged")
  }

  test("with a retract, a merge-on-read delete folds SUBTRACTIVELY — " +
      "work ∝ the deleted rows, no partition recompute; groups deleted " +
      "to zero vanish; a mixed append+MoR cycle folds both directions") {
    val (src, view) = freshPair()
    seed(src)
    val retractFn: (DataFrame, DataFrame) => DataFrame = (cur, dead) =>
      combineFn(cur, aggFn(dead)
        .select(col("pt"), (-col("n")).as("n"), (-col("s")).as("s")))
        .filter(col("n") =!= 0L)
    IncrementalView.sync(spark, src, view, "v7", "pt", aggFn, combineFn,
      retract = Some(retractFn))
    // MoR delete inside pt-spread band: vectors only, no file removed
    val d = TableCommit.delete(spark, src, Seq("pt"),
      band("id", BigDecimal(50), BigDecimal(80)), TableCommit.MergeOnRead)
    assert(d.filesHit > 0 && d.rowsDeleted > 0)
    val a = IncrementalView.sync(spark, src, view, "v7", "pt",
      aggFn, combineFn, retract = Some(retractFn))
    assert(a.mode == "incremental" && a.partsRecomputed == 0 &&
      a.partsRetracted > 0, a.toString)
    assert(viewRows(view) == recompute(src), "retract fold diverged")
    // mixed cycle: an append AND a MoR delete land before the sync —
    // the same partitions fold additively and subtractively at once
    TableCommit.setProperties(src,
      Map("graft.retention.generations" -> "5"))
    TableCommit.appendRows(spark, src, "pt",
      Seq((5000L, 0), (5001L, 1)).toDF("id", "pt"), clusterBy = Seq("id"))
    TableCommit.delete(spark, src, Seq("pt"),
      band("id", BigDecimal(100), BigDecimal(110)), TableCommit.MergeOnRead)
    val b = IncrementalView.sync(spark, src, view, "v7", "pt",
      aggFn, combineFn, retract = Some(retractFn))
    assert(b.mode == "incremental" && b.partsRecomputed == 0 &&
      b.partsDelta > 0 && b.partsRetracted > 0, b.toString)
    assert(viewRows(view) == recompute(src), "mixed fold diverged")
    // a group deleted to ZERO disappears from the view, exactly as a
    // recompute would drop it: empty pt=2 entirely via MoR
    TableCommit.delete(spark, src, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(100000)), TableCommit.MergeOnRead)
    val c = IncrementalView.sync(spark, src, view, "v7", "pt",
      aggFn, combineFn, retract = Some(retractFn))
    assert(c.partsRecomputed == 0 && c.partsRetracted > 0, c.toString)
    assert(viewRows(view) == recompute(src), "zero-group handling diverged")
    assert(viewRows(view).isEmpty,
      "deleting every row should empty the view")
  }

  test("with graft.retention.generations raised, a consumer can lag " +
      "several commits and still sync INCREMENTALLY") {
    val (src, view) = freshPair()
    seed(src)
    TableCommit.setProperties(src,
      Map("graft.retention.generations" -> "5"))
    IncrementalView.sync(spark, src, view, "v5", "pt", aggFn, combineFn)
    // three commits while the consumer sleeps — under the default
    // retention its position would leave the window and force a full
    // rebuild (the test below); here the manifest diff still resolves
    TableCommit.appendRows(spark, src, "pt",
      Seq((7000L, 0)).toDF("id", "pt"), clusterBy = Seq("id"))
    TableCommit.appendRows(spark, src, "pt",
      Seq((7001L, 1)).toDF("id", "pt"), clusterBy = Seq("id"))
    TableCommit.appendRows(spark, src, "pt",
      Seq((7002L, 3)).toDF("id", "pt"), clusterBy = Seq("id"))
    val a = IncrementalView.sync(spark, src, view, "v5", "pt",
      aggFn, combineFn)
    assert(a.mode == "incremental" && a.partsDelta == 3, a.toString)
    assert(viewRows(view) == recompute(src), "deep-lag delta diverged")
  }

  test("a position that left the source's retention window degrades to " +
      "a FULL rebuild, never a wrong answer") {
    val (src, view) = freshPair()
    seed(src)
    IncrementalView.sync(spark, src, view, "v3", "pt", aggFn, combineFn)
    // two more source commits push the synced snapshot out of the
    // newest/newest-1 retention window
    TableCommit.appendRows(spark, src, "pt",
      Seq((5000L, 0)).toDF("id", "pt"), clusterBy = Seq("id"))
    TableCommit.replacePartitions(spark, src, "pt", Seq("pt=2"),
      (600 until 650).map(i => (i.toLong, 2)).toDF("id", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 2)
    val a = IncrementalView.sync(spark, src, view, "v3", "pt",
      aggFn, combineFn)
    assert(a.mode == "full", a.toString)
    assert(viewRows(view) == recompute(src), "fallback rebuild diverged")
  }

  test("blind append commit: prior files untouched and retained, rows " +
      "unioned, two RACING appends both land without conflict, a " +
      "replayed (appId, version) append is a no-op") {
    val (src, _) = freshPair()
    seed(src)
    val (id1, files1) = TableCommit.resolve(src).get
    val before = TableCommit.read(spark, src).count()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try TableCommit.appendRows(spark, src, "pt",
        Seq((9001L, 0)).toDF("id", "pt"))
      catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try TableCommit.appendRows(spark, src, "pt",
        Seq((9002L, 0)).toDF("id", "pt"))
      catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"racing appends failed: ${errs.peek()}")
    val (id2, files2) = TableCommit.resolve(src).get
    assert(id2 == id1 + 2, "both appends must commit")
    assert(files1.toSet.subsetOf(files2.toSet),
      "an append removed or rewrote an existing file")
    assert(TableCommit.read(spark, src).count() == before + 2)
    // exactly-once: replaying a version the ledger already carries
    TableCommit.appendRows(spark, src, "pt",
      Seq((9003L, 0)).toDF("id", "pt"), txn = Some(("app-x", 7L)))
    val afterTxn = TableCommit.read(spark, src).count()
    TableCommit.appendRows(spark, src, "pt",
      Seq((9003L, 0)).toDF("id", "pt"), txn = Some(("app-x", 7L)))
    assert(TableCommit.read(spark, src).count() == afterTxn,
      "a replayed append applied twice")
  }
}
