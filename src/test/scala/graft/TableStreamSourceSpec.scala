package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.TableCommit

/** Contract of the committed table as a Structured Streaming source
  * (`graft.streaming.TableCommitSource`): full-snapshot first batch,
  * manifest-diff increments across a REAL checkpoint restart (parquet
  * sink — the memory sink cannot recover a checkpoint), the
  * append-only guard on rewrite commits, and the ignoreChanges escape
  * hatch. */
class TableStreamSourceSpec extends GraftSpec {
  import spark.implicits._

  private def committedTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tss").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1))
      .toDF("id", "v", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    // deep retention so a lagging consumer's diffs stay resolvable
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "6"))
    t
  }

  /** One consumer invocation: drain the table stream into the parquet
    * sink at `out` under checkpoint `ckpt` (same ckpt across calls =
    * one logical consumer resuming from its committed offset). */
  private def drain(t: String, ckpt: String, out: String,
      options: Map[String, String] = Map.empty): Unit = {
    val reader = options.foldLeft(spark.readStream.format("graft-table")) {
      case (r, (k, v)) => r.option(k, v)
    }
    val q = reader.load(t)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Sink contents as (id, v, pt) tuples WITH multiplicity — the
    * re-emission check needs duplicates visible. */
  private def sunk(out: String): Seq[(Long, String, Int)] =
    spark.read.parquet(out)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq

  test("graft-table source: batch 0 is the full snapshot; a later drain " +
      "from the same checkpoint sees exactly the appended delta; a " +
      "no-change drain is empty") {
    val t = committedTable()
    val scratch = java.nio.file.Files.createTempDirectory("graft_tss_io")
    val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
    val out = new java.io.File(scratch.toFile, "out").getAbsolutePath
    drain(t, ckpt, out)
    val first = sunk(out)
    assert(first.toSet == Set((1L, "a", 0), (2L, "b", 0), (3L, "c", 1),
      (4L, "d", 1)) && first.size == 4,
      s"batch 0 is not the full snapshot: $first")
    // two append commits land between drains — consumed as the delta
    TableCommit.appendRows(spark, t, "pt",
      Seq((10L, "x", 0)).toDF("id", "v", "pt"))
    TableCommit.appendRows(spark, t, "pt",
      Seq((11L, "y", 2)).toDF("id", "v", "pt"))
    drain(t, ckpt, out)
    val afterDelta = sunk(out)
    assert(afterDelta.size == 6 &&
      afterDelta.toSet == first.toSet + ((10L, "x", 0)) + ((11L, "y", 2)),
      s"incremental drain did not append exactly the delta: $afterDelta")
    // nothing new: the next drain emits nothing
    drain(t, ckpt, out)
    assert(sunk(out).size == 6, "no-change drain emitted rows")
  }

  test("graft-table source across PARTITION EVOLUTION: the metadata-only " +
      "spec commit streams as an empty delta, new-spec appends stream as " +
      "their rows, and a fresh consumer's batch 0 reads the mixed " +
      "snapshot whole") {
    val t = committedTable()
    val scratch = java.nio.file.Files.createTempDirectory("graft_tss_pe")
    val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
    val out = new java.io.File(scratch.toFile, "out").getAbsolutePath
    drain(t, ckpt, out)
    assert(sunk(out).size == 4)
    // the evolution commit changes NO files — an empty, non-breaking delta
    TableCommit.evolvePartitioningBy(spark, t, Seq("pt", "v"))
    drain(t, ckpt, out)
    assert(sunk(out).size == 4, "evolution commit emitted rows")
    // a new-spec append streams as exactly its rows
    TableCommit.appendRowsBy(spark, t, Seq("pt", "v"),
      Seq((10L, "x", 0), (11L, "y", 1)).toDF("id", "v", "pt"))
    drain(t, ckpt, out)
    assert(sunk(out).toSet == Set((1L, "a", 0), (2L, "b", 0), (3L, "c", 1),
      (4L, "d", 1), (10L, "x", 0), (11L, "y", 1)) && sunk(out).size == 6,
      s"mixed-generation delta wrong: ${sunk(out)}")
    // a FRESH consumer's batch 0 is the whole mixed-generation snapshot
    val ckpt2 = new java.io.File(scratch.toFile, "ckpt2").getAbsolutePath
    val out2 = new java.io.File(scratch.toFile, "out2").getAbsolutePath
    drain(t, ckpt2, out2)
    assert(sunk(out2).toSet == sunk(out).toSet && sunk(out2).size == 6,
      s"fresh consumer's mixed snapshot wrong: ${sunk(out2)}")
  }

  test("graft-table source: a non-append commit fails the append-only " +
      "consumer; ignoreChanges re-emits the rewritten files' rows") {
    val t = committedTable()
    val scratch = java.nio.file.Files.createTempDirectory("graft_tss_io2")
    val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
    val out = new java.io.File(scratch.toFile, "out").getAbsolutePath
    drain(t, ckpt, out)
    assert(sunk(out).size == 4)
    // a copy-on-write DELETE rewrites pt=0's file in place (id=1
    // survives into a FRESH file, id=2 drops)
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(2), BigDecimal(2)), TableCommit.CopyOnWrite)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(t, ckpt, out)
    }
    def mentionsNonAppend(x: Throwable): Boolean =
      x != null && (Option(x.getMessage).exists(_.contains("non-append")) ||
        mentionsNonAppend(x.getCause))
    assert(mentionsNonAppend(e), s"unexpected failure: ${e.getMessage}")
    assert(sunk(out).size == 4, "failed drain still wrote rows")
    // same checkpoint, ignoreChanges=true: the batch re-attempts and
    // re-emits the rewrite's fresh file (the id=1 survivor) — the
    // documented at-least-once degradation for idempotent sinks
    drain(t, ckpt, out, Map("ignoreChanges" -> "true"))
    val re = sunk(out)
    assert(re.count(_ == ((1L, "a", 0))) == 2,
      s"survivor row not re-emitted under ignoreChanges: $re")
    assert(re.count(_._1 == 2L) == 1,
      s"deleted row re-emitted or lost from history: $re")
  }

  test("graft-table sink: a table-to-table streaming pipeline commits " +
      "one append per micro-batch; a REPLAYED batch (checkpoint wiped, " +
      "same txnAppId) is a structural no-op — exactly-once end to end") {
    val src = committedTable()
    val scratch = java.nio.file.Files.createTempDirectory("graft_tsk")
    val dst = new java.io.File(scratch.toFile, "dst").getAbsolutePath
    val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
    def pipe(cp: String): Unit =
      spark.readStream.format("graft-table").load(src)
        .writeStream.format("graft-table")
        .partitionBy("pt")
        .option("txnAppId", "tsk_pipe")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start(dst).awaitTermination()
    pipe(ckpt)
    val rows1 = TableCommit.read(spark, dst)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows1 == Set((1L, "a", 0), (2L, "b", 0), (3L, "c", 1),
      (4L, "d", 1)), s"sink table missed the first batch: $rows1")
    val (dstId1, _) = TableCommit.resolve(dst).get
    // checkpoint DESTROYED: the restarted pipeline re-delivers batch 0
    // with the same (txnAppId, batchId) — the ledger makes it a no-op
    graft.operators.Sinks.deleteRecursively(new java.io.File(ckpt))
    pipe(ckpt)
    assert(TableCommit.read(spark, dst).count() == 4,
      "replayed batch 0 duplicated rows in the sink table")
    assert(TableCommit.lastTxnVersion(dst, "tsk_pipe").contains(0L))
    // the replay may publish nothing at all or a no-op is structural:
    // row set unchanged is the contract; a fresh commit id is allowed
    // only if it carries the same rows
    val rows2 = TableCommit.read(spark, dst)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows2 == rows1, s"replay changed the sink table: $rows2")
    // update/complete modes are refused
    val e = intercept[Exception] {
      spark.readStream.format("graft-table").load(src)
        .groupBy(col("pt")).count()
        .writeStream.format("graft-table")
        .partitionBy("pt")
        .outputMode("complete")
        .option("checkpointLocation",
          new java.io.File(scratch.toFile, "ckpt2").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start(new java.io.File(scratch.toFile, "dst2").getAbsolutePath)
        .awaitTermination()
    }
    def mentions(x: Throwable, s: String): Boolean =
      x != null && (Option(x.getMessage).exists(_.contains(s)) ||
        mentions(x.getCause, s))
    assert(mentions(e, "Append output mode only"),
      s"complete mode not refused: ${e.getMessage}")
    assert(dstId1 >= 1L)
    // NEITHER txnAppId nor a checkpointLocation OPTION: a conf-default
    // checkpoint setup (spark.sql.streaming.checkpointLocation + a
    // queryName for a stable dir) still gets a UNIQUE ledger identity —
    // the sink keys on the executing query's queryId instead of
    // refusing or falling back to a shared constant
    val dst3 = new java.io.File(scratch.toFile, "dst3").getAbsolutePath
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      new java.io.File(scratch.toFile, "ckptroot").getAbsolutePath)
    try {
      spark.readStream.format("graft-table").load(src)
        .writeStream.format("graft-table")
        .partitionBy("pt")
        .queryName("tsk_conf_pipe")
        .trigger(Trigger.AvailableNow())
        .start(dst3).awaitTermination()
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
    assert(TableCommit.read(spark, dst3).count() == 4,
      "conf-default-checkpoint pipeline lost rows")
    val ledger = Option(new java.io.File(dst3, "_manifests").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("manifest-"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
      .filter(_.startsWith("#txn "))
    assert(ledger.exists(_.startsWith("#txn graft_table_sink_q_")),
      s"queryId-scoped ledger identity missing: ${ledger.toSeq}")
  }

  test("graft-table sink through a TRANSFORM partition spec: the " +
      "partitionSpec option lays out hidden days()/bucket() dirs " +
      "identical to the batch writer's; a declared-spec table is the " +
      "default layout; conflicting/missing layouts are refused") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_tts").toFile
    val src = new java.io.File(scratch, "src").getAbsolutePath
    val rows = (0 until 40).map(i => (i.toLong, s"v$i",
      java.sql.Date.valueOf(java.time.LocalDate.of(2026, 2, 1)
        .plusDays(i % 3)), i % 2))
    rows.toDF("id", "v", "d", "pt").repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(src)
    TableCommit.initIfAbsent(src)

    // (1) explicit partitionSpec option — no .partitionBy at all
    val dst = new java.io.File(scratch, "dst").getAbsolutePath
    spark.readStream.format("graft-table").load(src)
      .writeStream.format("graft-table")
      .option("partitionSpec", "days(d);bucket(2,id)")
      .option("txnAppId", "tts_spec")
      .option("checkpointLocation",
        new java.io.File(scratch, "ck1").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start(dst).awaitTermination()
    val (dstId, files) = TableCommit.resolve(dst).get
    assert(files.nonEmpty && files.forall(
      _.matches("p_d_day=2026-02-0\\d/p_id_bucket=[01]/.*")),
      files.toString)
    // derived dir columns stay HIDDEN from reads
    assert(TableCommit.read(spark, dst).columns.toSeq ==
      Seq("id", "v", "d", "pt"),
      TableCommit.read(spark, dst).columns.toSeq.toString)
    val got = TableCommit.read(spark, dst)
      .select(col("id"), col("v"), col("d").cast("string"),
        col("pt").cast("int")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3))).toSet
    assert(got == rows.map(r => (r._1, r._2, r._3.toString, r._4)).toSet,
      s"streamed rows differ from source (${got.size})")
    // BATCH-EQUIVALENCE of the on-disk tree: the spec-aware batch
    // writer over the same rows produces the same partition-dir set
    val dstB = new java.io.File(scratch, "dstB").getAbsolutePath
    TableCommit.appendRowsBy(spark, dstB,
      Seq("days(d)", "bucket(2,id)"), rows.toDF("id", "v", "d", "pt"))
    def dirsOf(t: String): Set[String] = TableCommit.resolve(t).get._2
      .map(TableCommit.partitionDirOf).toSet
    assert(dirsOf(dst) == dirsOf(dstB),
      s"stream tree ${dirsOf(dst)} != batch tree ${dirsOf(dstB)}")
    // HIDDEN-PARTITION pruning: a one-day consumer reads only that
    // day's files, picked by manifest metadata alone
    val day = files.map(TableCommit.partitionDirOf)
      .filter(_.startsWith("p_d_day=")).map(_.split('/').head).min
    val subset = files.filter(_.startsWith(day + "/"))
    val pruned = TableCommit.readFileSubset(spark, dst, dstId, subset)
    assert(subset.nonEmpty && subset.length < files.length &&
      pruned.inputFiles.length == subset.length,
      s"day prune read ${pruned.inputFiles.length} of ${files.length}")
    assert(pruned.select(col("d").cast("string")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq(day.stripPrefix("p_d_day=")))

    // (2) DEFAULT layout: a table whose spec was DECLARED
    // (evolvePartitioningBy) needs no sink layout configuration
    val dst2 = new java.io.File(scratch, "dst2").getAbsolutePath
    TableCommit.appendRowsBy(spark, dst2, Seq("days(d)"),
      rows.take(3).toDF("id", "v", "d", "pt"))
    TableCommit.evolvePartitioningBy(spark, dst2, Seq("days(d)"))
    spark.readStream.format("graft-table").load(src)
      .writeStream.format("graft-table")
      .option("txnAppId", "tts_default")
      .option("checkpointLocation",
        new java.io.File(scratch, "ck2").getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start(dst2).awaitTermination()
    assert(TableCommit.read(spark, dst2).count() == 43L)
    assert(TableCommit.resolve(dst2).get._2.forall(
      _.matches("p_d_day=2026-02-0\\d/.*")),
      TableCommit.resolve(dst2).get._2.toString)

    def mentions(x: Throwable, s: String): Boolean =
      x != null && (Option(x.getMessage).exists(_.contains(s)) ||
        mentions(x.getCause, s))
    // (3) partitionBy AND a disagreeing partitionSpec: refused at
    // stream definition
    val e = intercept[Exception] {
      spark.readStream.format("graft-table").load(src)
        .writeStream.format("graft-table")
        .partitionBy("pt")
        .option("partitionSpec", "days(d)")
        .option("checkpointLocation",
          new java.io.File(scratch, "ck3").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start(new java.io.File(scratch, "dst3").getAbsolutePath)
        .awaitTermination()
    }
    assert(mentions(e, "give the layout once"), e.getMessage)
    // (4) no layout anywhere (undeclared table): the refusal names the
    // full menu
    val e2 = intercept[Exception] {
      spark.readStream.format("graft-table").load(src)
        .writeStream.format("graft-table")
        .option("txnAppId", "tts_none")
        .option("checkpointLocation",
          new java.io.File(scratch, "ck4").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start(new java.io.File(scratch, "dst4").getAbsolutePath)
        .awaitTermination()
    }
    assert(mentions(e2, "partitionSpec"), e2.getMessage)
    // (5) a STALE sink spec fails LOUDLY at the commit choke point: the
    // table evolved between drains, the sink still declares the old
    // layout — guardSpec refuses, never mis-lays files
    TableCommit.evolvePartitioningBy(spark, dst2, Seq("days(d)", "pt"))
    TableCommit.appendRowsBy(spark, src, Seq("pt"),
      Seq((999L, "tail", java.sql.Date.valueOf("2026-02-09"), 0))
        .toDF("id", "v", "d", "pt"))
    val e3 = intercept[Exception] {
      spark.readStream.format("graft-table").load(src)
        .writeStream.format("graft-table")
        .option("partitionSpec", "days(d)") // stale: table now days(d);pt
        .option("txnAppId", "tts_stale")
        .option("checkpointLocation",
          new java.io.File(scratch, "ck5").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start(dst2).awaitTermination()
    }
    assert(mentions(e3, "days(d)"), e3.getMessage)
    // nothing landed under the stale spec
    assert(TableCommit.read(spark, dst2).count() == 43L,
      "a stale-spec batch published rows")
  }

  test("graft-table source: maxSnapshotsPerTrigger bounds each " +
      "micro-batch at N source commits — a backlog drains as several " +
      "batches, each an exactly-once sink commit, same final rows") {
    val src = committedTable()
    // three append commits form the backlog
    for (i <- 0 until 3)
      TableCommit.appendRows(spark, src, "pt",
        Seq((100L + i, s"b$i", 0)).toDF("id", "v", "pt"))
    val scratch = java.nio.file.Files.createTempDirectory("graft_tsl")
    val dst = new java.io.File(scratch.toFile, "dst").getAbsolutePath
    val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
    spark.readStream.format("graft-table")
      .option("maxSnapshotsPerTrigger", "1")
      .load(src)
      .writeStream.format("graft-table")
      .partitionBy("pt")
      .option("txnAppId", "tsl_pipe")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst).awaitTermination()
    // batch 0 = full snapshot at the FIRST capped offset, then one
    // batch per remaining commit: the sink's ledger shows > 1 batches
    val lastBatch = TableCommit.lastTxnVersion(dst, "tsl_pipe").get
    assert(lastBatch >= 2L,
      s"cap=1 backlog drained in ${lastBatch + 1} batch(es) — not bounded")
    val got = TableCommit.read(spark, dst)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val want = TableCommit.read(spark, src)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == want, s"bounded drain lost or duplicated rows: $got")
  }

  test("graft-table source: startingSnapshot consumes changes only — " +
      "the backfill-then-tail handoff") {
    val t = committedTable()
    val (id0, _) = TableCommit.resolve(t).get
    TableCommit.appendRows(spark, t, "pt",
      Seq((20L, "z", 1)).toDF("id", "v", "pt"))
    val scratch = java.nio.file.Files.createTempDirectory("graft_tss_io3")
    val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
    val out = new java.io.File(scratch.toFile, "out").getAbsolutePath
    drain(t, ckpt, out, Map("startingSnapshot" -> id0.toString))
    val got = sunk(out)
    assert(got == Seq((20L, "z", 1)),
      s"startingSnapshot drain should be the post-$id0 delta: $got")
  }

  test("graft-table source: maxFilesPerTrigger splits a single FAT commit " +
      "across several bounded micro-batches via sub-snapshot offsets — " +
      "exactly-once preserved, no row lost or duplicated") {
    val t = committedTable()
    val scratch = java.nio.file.Files.createTempDirectory("graft_tss_io4")
    val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
    val out = new java.io.File(scratch.toFile, "out").getAbsolutePath
    def batches(): Int =
      Option(new java.io.File(ckpt, "offsets").listFiles())
        .getOrElse(Array.empty).count(f => !f.getName.contains("."))
    // batch 0: the full snapshot (never split)
    drain(t, ckpt, out, Map("maxFilesPerTrigger" -> "2"))
    val b0 = batches()
    // ONE commit adding SIX files (six partition dirs, one append)
    val nBefore = TableCommit.resolve(t).get._2.length
    TableCommit.appendRows(spark, t, "pt",
      (10 until 22).map(i => (i.toLong, s"f$i", i % 6)).toDF("id", "v", "pt"))
    assert(TableCommit.resolve(t).get._2.length == nBefore + 6,
      "setup: expected one fat 6-file append commit")
    drain(t, ckpt, out, Map("maxFilesPerTrigger" -> "2"))
    // 6 added files at 2 per batch → at least 3 data batches
    assert(batches() - b0 >= 3,
      s"fat commit did not split: ${batches() - b0} batch(es)")
    val got = sunk(out)
    assert(got.length == got.toSet.size, s"split drain duplicated rows")
    val want = TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got.toSet == want, s"split drain lost rows: ${want -- got.toSet}")
    // a rows-capped consumer from scratch: same final rows, also split
    val ckpt2 = new java.io.File(scratch.toFile, "ckpt2").getAbsolutePath
    val out2 = new java.io.File(scratch.toFile, "out2").getAbsolutePath
    drain(t, ckpt2, out2, Map("maxRowsPerTrigger" -> "5",
      "startingSnapshot" -> "1"))
    val got2 = sunk(out2)
    assert(got2.length == got2.toSet.size, "rows-capped drain duplicated")
    assert(got2.map(_._1).toSet == (10L until 22L).toSet,
      s"rows-capped drain wrong rows: $got2")
    // a FILES-ONLY cap is exact (no hidden row-budget clamp): 6 files
    // at 4 per batch drain in exactly ceil(6/4) = 2 data batches
    val ckpt3 = new java.io.File(scratch.toFile, "ckpt3").getAbsolutePath
    val out3 = new java.io.File(scratch.toFile, "out3").getAbsolutePath
    drain(t, ckpt3, out3, Map("maxFilesPerTrigger" -> "4",
      "startingSnapshot" -> "1"))
    val b3 = Option(new java.io.File(ckpt3, "offsets").listFiles())
      .getOrElse(Array.empty).count(f => !f.getName.contains("."))
    assert(b3 == 2, s"files-only cap drained 6 files in $b3 batches " +
      "(expected exactly 2 — a hidden row-budget clamp would inflate it)")
    assert(sunk(out3).map(_._1).toSet == (10L until 22L).toSet)
    // a BYTES cap (1 byte — every file exceeds it) degrades to one
    // file per batch while still guaranteeing progress: 6 batches
    val ckpt4 = new java.io.File(scratch.toFile, "ckpt4").getAbsolutePath
    val out4 = new java.io.File(scratch.toFile, "out4").getAbsolutePath
    drain(t, ckpt4, out4, Map("maxBytesPerTrigger" -> "1",
      "startingSnapshot" -> "1"))
    val b4 = Option(new java.io.File(ckpt4, "offsets").listFiles())
      .getOrElse(Array.empty).count(f => !f.getName.contains("."))
    assert(b4 >= 6, s"bytes cap did not split: $b4 batches")
    val got4 = sunk(out4)
    assert(got4.length == got4.toSet.size &&
      got4.map(_._1).toSet == (10L until 22L).toSet,
      s"bytes-capped drain lost or duplicated rows")
  }

  test("RANDOMIZED split-offset property: random-size commits interleaved " +
      "with capped AvailableNow drains from one checkpoint — the sink " +
      "ends exactly equal to the source, no row lost or duplicated, " +
      "whatever the cap/commit interleaving") {
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val t = committedTable()
      val scratch = java.nio.file.Files.createTempDirectory(s"graft_tsp$seed")
      val ckpt = new java.io.File(scratch.toFile, "ckpt").getAbsolutePath
      val out = new java.io.File(scratch.toFile, "out").getAbsolutePath
      var nextId = 100L
      for (round <- 0 until 4) {
        // 1..3 commits of 1..8 files each (distinct pt values = files)
        for (_ <- 0 to rnd.nextInt(3)) {
          val nFiles = 1 + rnd.nextInt(8)
          val rows = (0 until nFiles * 2).map(i =>
            (nextId + i, s"r$round", (i % nFiles) + 10 * round))
          nextId += nFiles * 2
          TableCommit.appendRows(spark, t, "pt",
            rows.toDF("id", "v", "pt"))
        }
        // drain under a random cap mix (sometimes none)
        val caps = rnd.nextInt(4) match {
          case 0 => Map.empty[String, String]
          case 1 => Map("maxFilesPerTrigger" -> (1 + rnd.nextInt(3)).toString)
          case 2 => Map("maxRowsPerTrigger" -> (1 + rnd.nextInt(6)).toString)
          case _ => Map("maxFilesPerTrigger" -> (1 + rnd.nextInt(3)).toString,
            "maxRowsPerTrigger" -> (2 + rnd.nextInt(8)).toString)
        }
        drain(t, ckpt, out, caps)
      }
      val got = sunk(out)
      assert(got.length == got.toSet.size,
        s"seed=$seed: interleaved capped drains duplicated rows")
      val want = TableCommit.read(spark, t)
        .select(col("id"), col("v"), col("pt").cast("int"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(got.toSet == want,
        s"seed=$seed: sink diverged from source " +
          s"(missing=${(want -- got.toSet).take(5)}, " +
          s"extra=${(got.toSet -- want).take(5)})")
    }
  }
  test("readChangeFeed stream: the first batch is the starting snapshot " +
      "AS INSERTS, later batches replay each commit's four-way change " +
      "rows, non-append commits are CONSUMABLE (no append-only error), " +
      "and the drained rows equal the batch changeFeedPrecise multiset") {
    val t = committedTable()
    TableCommit.setProperties(t, Map("graft.cdf" -> "true"))
    val base = new java.io.File(t).getParentFile
    val out = new java.io.File(base, "cdf_out").getAbsolutePath
    val ckpt = new java.io.File(base, "cdf_ckpt").getAbsolutePath
    def drainCdf(): Unit = {
      val q = spark.readStream.format("graft-table")
        .option("readChangeFeed", "true")
        .option("maxSnapshotsPerTrigger", "1")
        .load(t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // with a snapshot cap and no position, the bounded catch-up rule
    // starts at the OLDEST retained snapshot
    val snapId = TableCommit.history(t).map(_._1).min
    drainCdf() // first batch: the starting snapshot as inserts
    val first = spark.read.parquet(out)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(first == Set(1L, 2L, 3L, 4L).map(id => (id, "insert", snapId)))
    // two NON-APPEND commits: MoR update + MoR delete — the plain
    // source would throw; the change feed consumes them
    TableCommit.update(spark, t, Seq("pt"),
      band("id", BigDecimal(2), BigDecimal(2)), Map("v" -> lit("B")),
      TableCommit.MergeOnRead)
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(3), BigDecimal(3)), TableCommit.MergeOnRead)
    val toId = TableCommit.resolve(t).get._1
    drainCdf() // tail: one commit per trigger
    val drained = spark.read.parquet(out)
      .select(col("id"), col("v"), col("_change_type"),
        col("_commit_version"))
      .collect().map(r =>
        (r.getLong(0), Option(r.getString(1)).getOrElse(""), r.getString(2),
          r.getLong(3)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val expectTail = TableCommit.changeFeedPrecise(spark, t, snapId, toId)
      .select(col("id"), col("v"), col("_change_type"),
        col("_commit_version"))
      .collect().map(r =>
        (r.getLong(0), Option(r.getString(1)).getOrElse(""), r.getString(2),
          r.getLong(3)))
    val expectAll = (Seq((1L, "a", "insert", snapId), (2L, "b", "insert", snapId),
      (3L, "c", "insert", snapId), (4L, "d", "insert", snapId)) ++ expectTail)
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(drained == expectAll,
      s"stream drain diverged from batch feed: ${drained.toSet -- expectAll.toSet} / ${expectAll.toSet -- drained.toSet}")
    // the tail contains the four-way classes, not insert/delete churn
    val classes = expectTail.map(_._3).toSet
    assert(classes == Set("update_preimage", "update_postimage", "delete"))
  }

  test("readChangeFeed refuses the added-file admission caps (they " +
      "index file lists change rows do not replay)") {
    val t = committedTable()
    val e = intercept[Exception] {
      spark.readStream.format("graft-table")
        .option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", "2")
        .load(t)
        .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    assert(e.getMessage != null)
  }

}
