package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** Contract of the DELTA-ENCODED manifest log + periodic checkpoints
  * (round-10 verdict item 1 — the last O(table-files) residue in the
  * commit protocol): a commit's metadata bytes are proportional to its
  * WRITE SET, not the table's file count; readers reconstruct newest =
  * nearest checkpoint + delta tail; vacuum keeps chain links on disk
  * without widening the readable retention window. The format decision
  * lives entirely inside publish() — every verb, reader, diff and spec
  * is unchanged, which is exactly what the other table-format suites
  * re-verify on top of this one. */
class DeltaManifestSpec extends GraftSpec {
  import spark.implicits._

  private def freshDir(): java.io.File =
    java.nio.file.Files.createTempDirectory("graft_dm").toFile

  private def manifestFilesOf(t: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(t, "_manifests").listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(_.getName.startsWith("manifest-"))
      .map(f => f.getName.stripPrefix("manifest-").toLong -> f)
      .sortBy(_._1)

  private def isDelta(f: java.io.File): Boolean =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .nextOption().exists(_.startsWith("#delta "))

  private def rows(t: String): Set[(Long, String, Int)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("a 1-file append to a 1,000-file table writes a DELTA manifest " +
      "under 1% of the checkpoint's size — commit metadata ∝ write set, " +
      "not O(table files)") {
    val t = new java.io.File(freshDir(), "big").getAbsolutePath
    // 1,000 key-clustered files via one replace commit (id=1 — a delta
    // would be bigger than the checkpoint here, so publish writes full)
    Seq((0L, "seed", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 2000).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 500)
    val (id1, files1) = TableCommit.resolve(t).get
    assert(files1.length >= 1000, s"expected ~1000 files, got ${files1.length}")
    val ckptBytes = manifestFilesOf(t).find(_._1 == id1).get._2.length()
    // the 1-file append
    TableCommit.appendRows(spark, t, "pt",
      Seq((90000L, "tail", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    val (id2, files2) = TableCommit.resolve(t).get
    assert(files2.length == files1.length + 1)
    val (_, m2) = manifestFilesOf(t).find(_._1 == id2).get
    assert(isDelta(m2), "the append did not write a delta manifest")
    val deltaBytes = m2.length()
    assert(deltaBytes * 100 < ckptBytes,
      s"delta $deltaBytes B is not <1% of checkpoint $ckptBytes B")
    // and the reconstructed snapshot is exact
    assert(TableCommit.read(spark, t).count() == 2001L)
    assert(TableCommit.rowCount(t, id2).contains(2001L),
      "#rows metadata broken across the delta")
  }

  test("reconstruction across a delta chain: reads, time travel, " +
      "changesSince, stats pruning and the txn ledger all resolve the " +
      "same state a checkpoint would carry") {
    val t = new java.io.File(freshDir(), "chain").getAbsolutePath
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    // widen retention so the whole chain stays readable
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "9"))
    val expect = collection.mutable.Set((1L, "a", 0), (2L, "b", 1))
    for (i <- 10 to 14) {
      TableCommit.appendRows(spark, t, "pt",
        Seq((i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
        txn = Some(("chain_writer", i.toLong)), clusterBy = Seq("id"))
      expect += ((i.toLong, s"v$i", i % 2))
      assert(rows(t) == expect.toSet, s"read diverged after append $i")
    }
    val (newest, _) = TableCommit.resolve(t).get
    // the appended commits are deltas (ids 2..6, none on the cadence)
    val deltas = manifestFilesOf(t).filter(m => m._1 >= 2 && m._1 <= newest)
    assert(deltas.nonEmpty && deltas.forall(m => isDelta(m._2)),
      s"append commits were not delta-encoded: ${deltas.map(_._1)}")
    // time travel three commits back reconstructs mid-chain state
    val at = TableCommit.readAt(spark, t, newest - 3)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(at == Set(1L, 2L, 10L, 11L), s"mid-chain time travel wrong: $at")
    // log-incremental diff across deltas
    val delta2 = TableCommit.changesSince(spark, t, newest - 2)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(delta2 == Set(13L, 14L), s"changesSince across deltas: $delta2")
    // ledger carried through the chain
    assert(TableCommit.lastTxnVersion(t, "chain_writer").contains(14L))
    // stats recorded in delta commits still prune reads
    val (kept, total) = TableCommit.pruneAudit(t, newest, "id",
      BigDecimal(13), BigDecimal(13))
    assert(kept < total, s"stats from delta commits prune nothing: $kept/$total")
    assert(TableCommit.readWhere(spark, t, "id", BigDecimal(13), BigDecimal(13))
      .count() == 1L)
  }

  test("checkpoint cadence: every graft.checkpoint.interval-th commit is " +
      "a FULL manifest (bounding every reader's chain walk); interval=1 " +
      "degrades to the pre-delta all-checkpoints format") {
    val t = new java.io.File(freshDir(), "cadence").getAbsolutePath
    Seq((1L, "a", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.setProperties(t, Map(
      "graft.retention.generations" -> "20",
      "graft.checkpoint.interval" -> "5"))
    for (i <- 0 until 12)
      TableCommit.appendRows(spark, t, "pt",
        Seq((100L + i, s"x$i", 0)).toDF("id", "v", "pt"))
    val byId = manifestFilesOf(t).toMap
    val ckpts = byId.filter { case (_, f) => !isDelta(f) }.keySet
    val deltas = byId.filter { case (_, f) => isDelta(f) }.keySet
    // cadence ids are ALWAYS full manifests; off-cadence commits are
    // deltas once the table is big enough for a delta to be smaller
    // (the first couple of tiny-table commits legitimately fall back
    // to checkpoints — size-optimal, not a cadence violation)
    assert(Set(5L, 10L).subsetOf(ckpts), s"cadence checkpoints missing: $ckpts")
    assert(deltas.forall(_ % 5 != 0), s"on-cadence deltas: $deltas")
    assert(Set(6L, 7L, 8L, 9L, 11L, 12L).subsetOf(deltas),
      s"steady-state appends not delta-encoded: $deltas")
    assert(TableCommit.read(spark, t).count() == 13L)
    // interval=1: every commit a checkpoint
    val t1 = new java.io.File(freshDir(), "allckpt").getAbsolutePath
    Seq((1L, "a", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t1)
    TableCommit.initIfAbsent(t1)
    TableCommit.setProperties(t1, Map("graft.checkpoint.interval" -> "1"))
    TableCommit.appendRows(spark, t1, "pt",
      Seq((2L, "b", 0)).toDF("id", "v", "pt"))
    assert(manifestFilesOf(t1).forall(m => !isDelta(m._2)),
      "interval=1 still wrote a delta")
  }

  test("vacuum with a delta chain: the oldest retained snapshot's " +
      "checkpoint stays ON DISK as a chain link but is NOT readable; " +
      "dead data files sweep immediately; manifests below the chain " +
      "base are deleted") {
    val t = new java.io.File(freshDir(), "vac").getAbsolutePath
    Seq((0L, "seed", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t) // id 0
    // id 1: a 20-file layout (big enough that later single-partition
    // replaces delta-encode); id 2 and 3: replace pt=0 → deltas
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 200).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 10)
    def replaceP0(tag: String): Unit =
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
        (0 until 100).map(i => (i * 2L, s"$tag$i", 0)).toDF("id", "v", "pt"),
        clusterBy = Seq("id"), filesPerPartition = 10)
    replaceP0("A") // id 2
    replaceP0("B") // id 3
    val byId = manifestFilesOf(t).toMap
    // ids 2,3 retained (default retention 2) and delta-encoded; their
    // chain base is checkpoint 1 — it must stay on disk or snapshot 2
    // cannot reconstruct; manifest-0 is below the chain base → deleted
    assert(isDelta(byId(2L)) && isDelta(byId(3L)),
      s"single-partition replaces not delta-encoded")
    assert(byId.contains(1L), s"chain-base checkpoint vacuumed away: " +
      s"${byId.keySet}")
    assert(!byId.contains(0L), "manifest below the chain base survived")
    // the chain-base snapshot is OUTSIDE the readable retention window
    val e = intercept[RuntimeException](TableCommit.readAt(spark, t, 1L))
    assert(e.getMessage.contains("retention"), e.getMessage)
    // the oldest retained snapshot (a delta on the hidden checkpoint)
    // reads exactly
    assert(TableCommit.readAt(spark, t, 2L)
      .filter(col("pt") === 0).select(col("v")).collect()
      .forall(_.getString(0).startsWith("A")))
    // gen-1's replaced pt=0 files are DEAD (only snapshots 0/1
    // referenced them) and swept immediately, even though the retained
    // chain-base manifest still LISTS them
    def disk(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          // _manifests holds METADATA (text manifests + the columnar
          // checkpoint sidecars, which are .parquet too) — not data
          Option(f.listFiles()).getOrElse(Array.empty).toSeq
            .filterNot(_.getName == "_manifests").flatMap(walk)
        else Seq(f)
      walk(new java.io.File(t)).map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    val live = (TableCommit.resolve(t).get._2 ++
      TableCommit.readAt(spark, t, 2L).inputFiles.toSeq
        .map(f => f.substring(f.lastIndexOf('/') + 1)))
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(disk() == live,
      s"dead files survive the delta-chain vacuum: ${disk() -- live}")
    // advance twice more: retained {4,5}, chain still rooted at the
    // checkpoint — links 2,3 stay on disk, reads stay exact
    replaceP0("C") // id 4
    replaceP0("D") // id 5
    assert(TableCommit.read(spark, t)
      .filter(col("pt") === 0).select(col("v")).collect()
      .forall(_.getString(0).startsWith("D")))
    assert(TableCommit.readAt(spark, t, 4L)
      .filter(col("pt") === 0).select(col("v")).collect()
      .forall(_.getString(0).startsWith("C")))
    assert(manifestFilesOf(t).map(_._1).min == 1L,
      "chain base drifted or leaked")
  }

  test("a TRUNCATED manifest fails LOUDLY (#len header integrity): a " +
      "partial delta would otherwise reconstruct a silently-wrong " +
      "snapshot — the parsers ignore lines they lost") {
    val t = new java.io.File(freshDir(), "trunc").getAbsolutePath
    Seq((0L, "seed", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 100).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 5)
    TableCommit.appendRows(spark, t, "pt",
      Seq((500L, "x", 0)).toDF("id", "v", "pt"), clusterBy = Seq("id"))
    assert(TableCommit.read(spark, t).count() == 101L)
    // truncate the NEWEST manifest: drop its trailing 40% of lines
    // (what a torn write or disk truncation leaves behind)
    val (_, m) = manifestFilesOf(t).maxBy(_._1)
    val all = scala.io.Source.fromFile(m, "UTF-8").getLines().toSeq
    java.nio.file.Files.write(m.toPath,
      all.dropRight(math.max(1, all.length * 2 / 5))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[RuntimeException](TableCommit.read(spark, t).count())
    assert(e.getMessage.contains("corrupt manifest"),
      s"truncation not detected: ${e.getMessage}")
  }

  test("a MERGE-ON-READ delete commits as a delta: only the new vector " +
      "registration and the adjusted #rows entries ride the manifest — " +
      "no file list rewrite") {
    val t = new java.io.File(freshDir(), "mor").getAbsolutePath
    Seq((0L, "seed", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 200).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 10)
    val nFiles = TableCommit.resolve(t).get._2.length
    val a = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(50), BigDecimal(59)), TableCommit.MergeOnRead)
    assert(a.rowsDeleted == 10L)
    val (_, m) = manifestFilesOf(t).maxBy(_._1)
    assert(isDelta(m), "MoR delete wrote a full checkpoint")
    val lines = scala.io.Source.fromFile(m, "UTF-8").getLines().toSeq
    assert(!lines.exists(l => l.startsWith("+") || l.startsWith("-")),
      s"MoR delete changed the file list: ${lines.filter(l =>
        l.startsWith("+") || l.startsWith("-"))}")
    assert(lines.count(_.startsWith("#dv ")) == a.filesHit,
      "one #dv line per vectored file expected")
    // #rows overrides only for the vectored files
    assert(lines.count(_.startsWith("#rows ")) == a.filesHit)
    // constant-per-commit annotations (#delta/#len/#require/#op/#schema)
    // are not write-set-proportional — measure the lines that are
    val proportional = lines.filterNot(l => l.startsWith("#delta") ||
      l.startsWith("#len") || l.startsWith("#require") ||
      l.startsWith("#op ") || l.startsWith("#schema"))
    assert(proportional.length < nFiles / 2,
      s"MoR delta not proportional to its write set: " +
        s"${proportional.length} proportional lines")
    assert(TableCommit.read(spark, t).count() == 190L)
  }
  test("PARQUET CHECKPOINT SIDECAR: the columnar twin reconstructs the " +
      "EXACT snapshot the text checkpoint parses to — files, stats, " +
      "rows, bytes, DV registrations, properties, txn ledger, schema") {
    val t = new java.io.File(freshDir(), "pc").getAbsolutePath
    Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1))
      .toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    // checkpoint every commit so every id has a sidecar; stats + DV +
    // props + ledger all populated
    TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 40).map(i => (100L + i, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 4,
      txn = Some(("pc_app", 3L)))
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(104), BigDecimal(106)), TableCommit.MergeOnRead)
    val id = TableCommit.resolve(t).get._1
    val fromSidecar = TableCommit.sidecarStateOf(t, id)
    assert(fromSidecar.isDefined, "no sidecar for a checkpoint commit")
    // the text reconstruction, via the public surface it feeds
    val viaText = TableCommit.history(t).find(_._1 == id).get._2
    assert(fromSidecar.get.files == viaText.sorted)
    assert(TableCommit.rowCount(t, id).isDefined)
    // row/byte/stat parity: re-read the snapshot through BOTH paths
    val sc = fromSidecar.get
    assert(sc.rows.values.sum == TableCommit.rowCount(t, id).get)
    sc.files.foreach { f =>
      assert(sc.bytes(f) == TableCommit.statFileSize(t, f)) }
    assert(sc.stats.nonEmpty, "sidecar lost the #stats entries")
    assert(sc.props.get("graft.checkpoint.interval").contains("1"))
    assert(sc.txns.get("pc_app").contains(3L))
    assert(sc.schema.isDefined)
    // and the DV registration of the MoR delete survived the round-trip
    assert(sc.dv.nonEmpty, "sidecar lost the #dv registrations")
  }

  test("COLD-OPEN pruned read goes through the sidecar: the projected " +
      "columnar prune keeps a superset of the text decision, at most " +
      "the borderline-widening extra, and readWhereAt stays row-equal") {
    val t = new java.io.File(freshDir(), "pr").getAbsolutePath
    Seq((0L, "seed", 0)).toDF("id", "v", "pt")
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
    // 20 key-clustered files over id ∈ [0, 2000)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      (0 until 2000).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "pt"),
      clusterBy = Seq("id"), filesPerPartition = 10)
    val id = TableCommit.resolve(t).get._1
    val total = TableCommit.resolve(t).get._2.length
    val viaSidecar = TableCommit.sidecarPrunedFiles(t, id, "id",
      BigDecimal(300), BigDecimal(420))
    assert(viaSidecar.isDefined, "cold-open prune did not use the sidecar")
    // the text decision (pruneAudit counts through the text path)
    val (keptText, totalText) = TableCommit.pruneAudit(t, id, "id",
      BigDecimal(300), BigDecimal(420))
    assert(totalText == total)
    assert(viaSidecar.get.length >= keptText,
      "sidecar prune excluded a file the text decision kept")
    assert(viaSidecar.get.length < total,
      "sidecar prune skipped nothing — no row-group pushdown")
    // result equality: the pruned band read equals the full read + filter
    val a = TableCommit.readWhereAt(spark, t, id, "id",
      BigDecimal(300), BigDecimal(420))
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val b = TableCommit.readAt(spark, t, id)
      .filter(col("id") >= 300 && col("id") <= 420)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(a == b)
    // and the plan actually scanned only the kept files
    val scanned = TableCommit.readWhereAt(spark, t, id, "id",
      BigDecimal(300), BigDecimal(420)).inputFiles.length
    assert(scanned == viaSidecar.get.length,
      s"pruned read scanned $scanned files, sidecar kept ${viaSidecar.get.length}")
  }

  test("sidecar freshness is identity-bound: recreating the table at " +
      "the SAME path never serves the old incarnation's sidecar") {
    val dir = freshDir()
    val t = new java.io.File(dir, "fr").getAbsolutePath
    def build(n: Int): Unit = {
      Seq((0L, "seed", 0)).toDF("id", "v", "pt")
        .write.mode("overwrite").partitionBy("pt").parquet(t)
      TableCommit.initIfAbsent(t)
      TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
      TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
        (0 until n).map(i => (i.toLong, s"v$i", 0)).toDF("id", "v", "pt"),
        clusterBy = Seq("id"), filesPerPartition = 2)
    }
    build(10)
    val id1 = TableCommit.resolve(t).get._1
    val files1 = TableCommit.sidecarStateOf(t, id1).map(_.files)
    // drop and recreate the table at the SAME path with DIFFERENT data
    graft.operators.Sinks.deleteRecursively(new java.io.File(t))
    build(20)
    val id2 = TableCommit.resolve(t).get._1
    val files2 = TableCommit.sidecarStateOf(t, id2)
    assert(files2.isDefined)
    assert(files2.get.files == TableCommit.resolve(t).get._2.sorted,
      "sidecar served a stale incarnation's file list")
    assert(files1.isEmpty || files2.get.files != files1.get ||
      TableCommit.resolve(t).get._2.length == 10)
  }

}
