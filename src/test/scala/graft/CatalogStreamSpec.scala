package graft

import org.apache.spark.sql.functions._

import graft.operators.TableCommit
import graft.plans.GraftCatalog

/** `spark.readStream.table("graft.db.t")` — the DSv2 micro-batch
  * stream (late round 15): snapshot-id offsets, manifest-diff
  * batches served by inner GraftScans (DVs, mapping, pruning for
  * free), strict append-only with a loud redirect to the V1 source's
  * ignoreChanges for rewrite-tolerant consumers. */
class CatalogStreamSpec extends GraftSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cstr").toFile
    GraftCatalog.register(spark, "graftstr", Some(dir.getAbsolutePath))
    dir.getAbsolutePath
  }

  private def append(t: String, from: Int, n: Int): Unit =
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (from until from + n).map(i => (i.toLong, s"v$i", i % 2))
        .toDF("id", "v", "pt"), clusterBy = Seq("id"))

  test("readStream.table tails the commit log: first batch = full " +
      "snapshot (DVs applied), subsequent batches = the appended files " +
      "only; exactly-once into a memory sink") {
    val t = s"$wh/db/tail"
    append(t, 0, 20)
    // vector some rows dead BEFORE the stream starts — the first
    // batch's inner scan must apply them
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(4)), TableCommit.MergeOnRead)
    val q = spark.readStream.table("graftstr.db.tail")
      .writeStream.format("memory").queryName("cat_tail").start()
    try {
      q.processAllAvailable()
      val first = spark.sql("SELECT id FROM cat_tail")
        .collect().map(_.getLong(0)).toSet
      assert(first == (5 until 20).map(_.toLong).toSet, first.toString)
      // two more commits → exactly their rows arrive, once
      append(t, 100, 5)
      append(t, 200, 5)
      q.processAllAvailable()
      val all = spark.sql("SELECT id FROM cat_tail")
        .collect().map(_.getLong(0)).toSeq
      assert(all.length == all.distinct.length, "duplicate emission")
      assert(all.toSet == ((5 until 20) ++ (100 until 105) ++
        (200 until 205)).map(_.toLong).toSet, all.sorted.mkString(","))
    } finally q.stop()
  }

  test("startingSnapshot hands off a backfill position: only commits " +
      "AFTER the named snapshot stream; a rewrite commit fails the " +
      "stream loudly with the V1-source redirect") {
    val t = s"$wh/db/handoff"
    append(t, 0, 10)
    val id0 = TableCommit.resolve(t).get._1
    append(t, 50, 5)
    val q = spark.readStream
      .option("startingSnapshot", id0.toString)
      .table("graftstr.db.handoff")
      .writeStream.format("memory").queryName("cat_handoff").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT id FROM cat_handoff")
        .collect().map(_.getLong(0)).toSet
      assert(got == (50 until 55).map(_.toLong).toSet, got.toString)
      // a rewrite (MoR delete registers a vector on an existing file —
      // the diff carries it on both sides) breaks the append-only
      // contract: the stream must FAIL, not emit phantom rows
      TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(50), BigDecimal(51)), TableCommit.MergeOnRead)
      intercept[Exception] { q.processAllAvailable() }
      val msg = q.exception.map(_.toString).getOrElse("")
      assert(msg.contains("APPEND-ONLY") && msg.contains("ignoreChanges"),
        msg.take(500))
    } finally q.stop()
  }

  test("the catalog-native pipe: readStream.table -> writeStream.toTable " +
      "between two committed tables — every epoch a native commit with " +
      "the epoch in the #txn ledger, exactly-once end to end") {
    val src = s"$wh/db/pipe_src"
    append(src, 0, 10)
    spark.sql("CREATE TABLE graftstr.db.pipe_dst " +
      "(id BIGINT, v STRING, pt INT) PARTITIONED BY (pt)")
    val dst = s"$wh/db/pipe_dst"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_pipe_ck").toString
    val q = spark.readStream.table("graftstr.db.pipe_src")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("graftstr.db.pipe_dst")
    try {
      q.processAllAvailable()
      def ids(t: String): Seq[Long] = TableCommit.read(spark, t)
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      assert(ids(dst).sorted == (0L until 10L), ids(dst).sorted.toString)
      append(src, 100, 5)
      q.processAllAvailable()
      val got = ids(dst)
      assert(got.length == got.distinct.length, "duplicate epoch emission")
      assert(got.toSet == ((0 until 10) ++ (100 until 105))
        .map(_.toLong).toSet, got.sorted.mkString(","))
      // the epochs are ledgered under the streaming txn app id —
      // the replay-proof exactly-once carrier
      val ledgered = TableCommit.operations(dst)
        .flatMap(_._2).map(_._1)
      assert(ledgered.contains("APPEND"), ledgered.toString)
    } finally {
      q.stop()
      graft.operators.Sinks.deleteRecursively(new java.io.File(ckpt))
    }
  }

  test("maxFilesPerTrigger admits commit-by-commit and " +
      "Trigger.AvailableNow drains everything committed at prepare " +
      "time, then stops") {
    val t = s"$wh/db/paced"
    append(t, 0, 4)
    val q = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .table("graftstr.db.paced")
      .writeStream.format("memory").queryName("cat_paced")
      .start()
    try {
      q.processAllAvailable() // batch 0: the full snapshot (one batch)
      append(t, 10, 4)
      append(t, 20, 4)
      append(t, 30, 4)
      q.processAllAvailable()
      val got = spark.sql("SELECT id FROM cat_paced")
        .collect().map(_.getLong(0)).toSeq
      assert(got.length == got.distinct.length, "duplicate emission")
      assert(got.toSet == ((0 until 4) ++ (10 until 14) ++ (20 until 24)
        ++ (30 until 34)).map(_.toLong).toSet, got.sorted.mkString(","))
      // the cap paced the TAIL into one batch per commit (each commit
      // wrote >1 file; one commit always admits, a second never fits)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        q.recentProgress.map(p => s"${p.batchId}:${p.numInputRows}")
          .mkString(", "))
    } finally q.stop()
    // Trigger.AvailableNow drains what was committed at prepare time
    // and TERMINATES (the pinned-cap contract)
    val q2 = spark.readStream.table("graftstr.db.paced")
      .writeStream.format("memory").queryName("cat_paced_now")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q2.awaitTermination(120000), "AvailableNow did not drain")
      assert(spark.sql("SELECT count(*) FROM cat_paced_now")
        .head().getLong(0) == 16L)
    } finally q2.stop()
  }

  test("a pinned snapshot refuses to stream (one immutable batch is " +
      "not a tail)") {
    val t = s"$wh/db/pinned"
    append(t, 0, 5)
    val id = TableCommit.resolve(t).get._1
    val err = intercept[Exception] {
      spark.readStream.table(s"graftstr.db.pinned VERSION AS OF $id")
        .writeStream.format("memory").queryName("cat_pin").start()
    }
    // either the parser or the scan refuses — both are loud
    assert(err != null)
  }
}
