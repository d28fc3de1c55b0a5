package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** TYPED data skipping (round-12): `#stats` bounds for STRING (and
  * ISO date/timestamp) columns — Delta-style truncated lexicographic
  * bounds compared in CODE-POINT order (the order Spark's own binary
  * min/max aggregates use), escape-safe on the tab-separated text
  * manifest — plus the `#require` protocol feature gate. The round-10
  * review closed the string-key MERGE band by disabling pruning for
  * non-numeric keys; this suite pins the real fix: string keys prune
  * again, soundly. */
class TypedStatsSpec extends GraftSpec {
  import spark.implicits._

  // ---------------------------------------------------------- unit kernels

  test("cpCompare orders supplementary characters above U+E000 (code-point " +
      "order, where UTF-16 code-unit order inverts)") {
    val supp = new String(Character.toChars(0x10000)) // U+10000
    val bmp = ""
    // UTF-16 code units would say supp < bmp (0xD800 < 0xE000); code
    // points (and Spark's UTF8String byte order) say supp > bmp
    assert(supp.compareTo(bmp) < 0, "precondition: UTF-16 order inverts")
    assert(TableCommit.cpCompare(supp, bmp) > 0)
    assert(TableCommit.cpCompare(bmp, supp) < 0)
    assert(TableCommit.cpCompare("abc", "abd") < 0)
    assert(TableCommit.cpCompare("ab", "abc") < 0)
    assert(TableCommit.cpCompare("abc", "abc") == 0)
  }

  test("escapeStat/unescapeStat round-trip tab, newline, CR, backslash; " +
      "escaped form is single-line and tab-free") {
    val nasty = Seq("a\tb", "a\nb", "a\rb", "a\\tb", "a\\\\n", "\t\n\r\\",
      "plain", "", "9.5", "trailing\\")
    nasty.foreach { v =>
      val e = TableCommit.escapeStat(v)
      assert(!e.contains('\t') && !e.contains('\n') && !e.contains('\r'), e)
      assert(TableCommit.unescapeStat(e) == v, s"round-trip of ${v.toList}")
    }
    // numeric renderings pass through untouched (old manifests parse
    // identically)
    assert(TableCommit.escapeStat("12345.678") == "12345.678")
    assert(TableCommit.unescapeStat("12345.678") == "12345.678")
  }

  test("lexLower/lexUpper are sound truncated bounds in code-point order " +
      "(randomized, incl. multibyte and surrogate-pair content)") {
    val rnd = new scala.util.Random(421)
    val alphabet: IndexedSeq[String] =
      ('a' to 'z').map(_.toString) ++ Seq("\t", "\n", "\\", "é", "中",
        new String(Character.toChars(0x1F600)), "", "z")
    def randStr(): String =
      (0 until rnd.nextInt(200)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    (0 until 2000).foreach { _ =>
      val v = randStr()
      val lo = TableCommit.lexLower(v)
      assert(TableCommit.cpCompare(lo, v) <= 0, s"lower bound > value: $v")
      assert(lo.length <= 64)
      TableCommit.lexUpper(v).foreach { hi =>
        assert(TableCommit.cpCompare(hi, v) >= 0, s"upper bound < value: $v")
        assert(hi.length <= 65)
      }
      // bounds survive the UTF-8 file round-trip byte-identically
      Seq(Some(lo), TableCommit.lexUpper(v)).flatten.foreach { b =>
        assert(new String(b.getBytes("UTF-8"), "UTF-8") == b,
          s"bound not UTF-8-stable: ${b.toList}")
      }
    }
    // short values are recorded verbatim
    assert(TableCommit.lexLower("abc") == "abc")
    assert(TableCommit.lexUpper("abc").contains("abc"))
  }

  // ------------------------------------------------- end-to-end skipping

  /** A committed table clustered by a STRING key: 400 zero-padded keys
    * over two partitions, 4 key-contiguous files per partition. */
  private def freshLexTable(keyOf: Int => String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lex").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val rows = (0 until 400).map(i => (keyOf(i), s"v$i", i % 2))
    rows.toDF("k", "v", "pt")
      .repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("k", "v", "pt"), clusterBy = Seq("k"), filesPerPartition = 4)
    t
  }

  test("string-key data skipping: a lex-band read opens strictly fewer " +
      "files; rows identical to the unpruned filtered read; audit agrees") {
    val t = freshLexTable(i => f"doc-$i%05d")
    val (id, files) = TableCommit.resolve(t).get
    val pruned = TableCommit.readWhereLex(spark, t, "k",
      "doc-00100", "doc-00150")
    assert(pruned.inputFiles.length < files.length,
      s"no files pruned (${pruned.inputFiles.length} of ${files.length})")
    val expect = TableCommit.read(spark, t)
      .filter(col("k") >= "doc-00100" && col("k") <= "doc-00150")
      .select("k", "v").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet
    val got = pruned.select("k", "v").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expect && got.size == 51, s"got ${got.size}")
    val (kept, total) = TableCommit.pruneAuditLex(t, id, "k",
      "doc-00100", "doc-00150")
    assert(kept == pruned.inputFiles.length && total == files.length)
  }

  test("tab/newline/backslash-bearing string values: the manifest stays " +
      "line-parseable (#len intact), stats round-trip, pruning stays sound " +
      "across a delta commit") {
    val t = freshLexTable(i => f"doc-$i%05d")
    // a second commit (delta form) whose values carry every escape case
    val nasty = Seq(("a\tA0", "x", 0), ("b\nB1", "y", 0), ("c\\C2", "z", 0),
      ("d\rD3", "w", 0))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0"),
      nasty.toDF("k", "v", "pt"), clusterBy = Seq("k"),
      filesPerPartition = 2)
    // the table still reads (a torn/corrupt manifest would fail #len)
    assert(TableCommit.read(spark, t).count() == 204)
    // a band over the nasty keys returns exactly them ("d " caps above
    // "d\rD3" — control chars sort below space — and below "doc-…")
    val got = TableCommit.readWhereLex(spark, t, "k", "a", "d ")
      .select("k").collect().map(_.getString(0)).toSet
    assert(got == nasty.map(_._1).toSet, got.toString)
    // and a band clear of pt=0's new domain prunes those files
    // (pt=0's original doc-keys were replaced, so only pt=1's odd
    // indices survive in the band)
    val pruned = TableCommit.readWhereLex(spark, t, "k",
      "doc-00300", "doc-00310")
    val expect = TableCommit.read(spark, t)
      .filter(col("k") >= "doc-00300" && col("k") <= "doc-00310").count()
    assert(pruned.count() == expect && expect == 5L)
  }

  test("long values truncate: recorded bounds are <= 65 chars, bracket the " +
      "true range, and never exclude an overlapping file") {
    val pad = "x" * 200
    val t = freshLexTable(i => f"$pad-$i%05d")
    val (id, _) = TableCommit.resolve(t).get
    // every key shares a 64+-char prefix, so every file's truncated
    // bounds OVERLAP every in-domain band: nothing may be excluded
    val (kept, total) = TableCommit.pruneAuditLex(t, id, "k",
      s"$pad-00100", s"$pad-00150")
    assert(kept == total, s"truncated bounds wrongly excluded " +
      s"(${total - kept} of $total)")
    val got = TableCommit.readWhereLex(spark, t, "k",
      s"$pad-00100", s"$pad-00150").count()
    assert(got == 51L)
  }

  test("string-key MERGE prunes candidate files and never duplicate-inserts " +
      "(the round-10 '9' vs '10' trap, now with pruning instead of " +
      "full-candidacy)") {
    // mixed-width numeric strings: lexicographic band is correct,
    // numeric comparison of these strings would invert the band
    val t = freshLexTable(i => i.toString)
    val (id0, files0) = TableCommit.resolve(t).get
    // source: update two existing lex-adjacent keys, insert one new
    val src = Seq(("9", "V9", 0, "U"), ("90", "V90", 0, "U"),
      ("9zz", "NEW", 0, "I")).toDF("k", "v", "pt", "op")
    val before = TableCommit.read(spark, t).count()
    val a = TableCommit.mergeInto(spark, t, "pt", "k", src,
      updateSet = Map("v" -> col("src_v")))
    assert(a.filesCandidates < a.filesTotal,
      s"string band pruned nothing (${a.filesCandidates} of ${a.filesTotal})")
    assert(a.rowsUpdated == 2 && a.rowsInserted == 1, a.toString)
    val after = TableCommit.read(spark, t)
    assert(after.count() == before + 1)
    // no duplicates: every key appears exactly once
    assert(after.groupBy("k").count().filter(col("count") > 1).count() == 0,
      "duplicate keys after string-key merge")
    val touched = after.filter(col("k").isin("9", "90", "9zz"))
      .select("k", "v").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(touched == Set(("9", "V9"), ("90", "V90"), ("9zz", "NEW")))
  }

  test("deleteWhereLex / updateWhereMorLex: band verbs prune files for a " +
      "string key and produce exactly the banded effect") {
    val t = freshLexTable(i => f"doc-$i%05d")
    val upd = TableCommit.update(spark, t, Seq("pt"),
      lexBand("k", "doc-00100", "doc-00119"), Map("v" -> upper(col("v"))),
      TableCommit.MergeOnRead)
    assert(upd.filesCandidates < upd.filesTotal, upd.toString)
    assert(upd.rowsUpdated == 20, upd.toString)
    val uppered = TableCommit.read(spark, t)
      .filter(col("v").rlike("^V")).count()
    assert(uppered == 20L)
    val del = TableCommit.delete(spark, t, Seq("pt"),
      lexBand("k", "doc-00200", "doc-00249"), TableCommit.CopyOnWrite)
    assert(del.filesCandidates < del.filesTotal, del.toString)
    assert(del.rowsDeleted == 50, del.toString)
    assert(TableCommit.read(spark, t).count() == 350L)
    val mor = TableCommit.delete(spark, t, Seq("pt"),
      lexBand("k", "doc-00000", "doc-00009"), TableCommit.MergeOnRead)
    assert(mor.rowsDeleted == 10, mor.toString)
    assert(TableCommit.read(spark, t).count() == 340L)
  }

  test("sidecar cold-open serves a lex band: checkpoint commit with string " +
      "stats -> sidecarPrunedFilesLex equals the text-path decision") {
    val t = freshLexTable(i => f"doc-$i%05d")
    TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
    val rows = (0 until 400).map(i => (f"doc-$i%05d", s"w$i", i % 2))
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("k", "v", "pt"), clusterBy = Seq("k"), filesPerPartition = 4)
    val (id, _) = TableCommit.resolve(t).get
    val viaSidecar = TableCommit.sidecarPrunedFilesLex(t, id, "k",
      "doc-00100", "doc-00150")
    assert(viaSidecar.isDefined, "no sidecar served the newest checkpoint")
    val (kept, total) = TableCommit.pruneAuditLex(t, id, "k",
      "doc-00100", "doc-00150")
    assert(viaSidecar.get.length == kept && kept < total,
      s"sidecar ${viaSidecar.get.length} vs text $kept of $total")
    val got = TableCommit.readWhereLexAt(spark, t, id, "k",
      "doc-00100", "doc-00150").count()
    assert(got == 51L)
  }

  test("date-typed stats record for CE-era values and prune a date band") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dt").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val rows = (0 until 200).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i)),
        s"v$i", i % 2))
    rows.toDF("d", "v", "pt").repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("d", "v", "pt"), clusterBy = Seq("d"), filesPerPartition = 4)
    val (id, files) = TableCommit.resolve(t).get
    val pruned = TableCommit.readWhereLex(spark, t, "d",
      "2026-03-01", "2026-03-10")
    assert(pruned.inputFiles.length < files.length,
      s"date stats pruned nothing (${pruned.inputFiles.length} of " +
        s"${files.length})")
    assert(pruned.count() == 10L)
    // an era-unsafe band on a temporal column fails LOUDLY — its
    // rendering does not order lexicographically, so silently pruning
    // against it could drop overlapping files
    val e = intercept[IllegalArgumentException] {
      TableCommit.readWhereLexAt(spark, t, id, "d",
        "+10000-01-01", "+10000-12-31").count()
    }
    assert(e.getMessage.contains("four-digit-year"), e.getMessage)
    // the DML form of the same band is a predicate: its bounds cast to
    // DATE and pruning is typed by the column, so an era-unsafe bound
    // keeps its files instead of inverting under cpCompare (the
    // silent-no-op trap, 0 rows deleted) — the delete kills exactly the
    // model's rows, every date in [2020-01-01, +10000-01-01]
    val model = rows.count { case (d, _, _) =>
      !d.toLocalDate.isBefore(java.time.LocalDate.of(2020, 1, 1)) }
    val del = TableCommit.delete(spark, t, Seq("pt"),
      lexBand("d", "2020-01-01", "+10000-01-01"), TableCommit.CopyOnWrite)
    assert(del.rowsDeleted == model && model == 200, del.toString)
    assert(TableCommit.read(spark, t).count() == 0L)
  }

  test("ZONED timestamp stats (round-14 verdict item 7): epoch-micros " +
      "renderings prune a ts band in the verb, TVF and catalog paths — " +
      "session-TZ-independent by construction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zts").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    def ts(i: Int): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
        .plusSeconds(i * 3600L))
    val rows = (0 until 240).map(i => (ts(i), s"v$i", i % 2))
    rows.toDF("ts", "v", "pt").limit(1)
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("ts", "v", "pt"), clusterBy = Seq("ts"),
      filesPerPartition = 6)
    val (_, files) = TableCommit.resolve(t).get
    def micros(i: Int): Long = ts(i).toInstant.toEpochMilli * 1000L
    // verb path: fewer files, exact rows
    val pruned = TableCommit.readWhereTs(spark, t, "ts",
      micros(24), micros(47))
    assert(pruned.inputFiles.length < files.length,
      s"ts stats pruned nothing (${pruned.inputFiles.length} of " +
        s"${files.length})")
    assert(pruned.count() == 24L, s"got ${pruned.count()}")
    // TVF path
    val tvf = spark.sql(s"SELECT * FROM graft_table_where_ts('$t', 'ts', " +
      s"${micros(24)}, ${micros(47)})")
    assert(tvf.count() == 24L && tvf.inputFiles.length < files.length)
    // catalog path: a pushed ts range prunes at plan time
    graft.plans.GraftCatalog.register(spark, "graftts")
    val cat = spark.sql(s"SELECT ts, v FROM graftts.`$t` WHERE " +
      "ts >= TIMESTAMP'2026-01-02 00:00:00' AND " +
      "ts <= TIMESTAMP'2026-01-02 23:00:00'")
    assert(cat.count() == 24L)
    assert(cat.inputFiles.length < files.length,
      s"catalog ts pushdown pruned nothing (${cat.inputFiles.length} of " +
        s"${files.length})")
    // SESSION-TZ independence: the same instant band prunes and counts
    // identically under a different session zone (the exact trap that
    // kept zoned stats out before — ISO renderings skew, micros don't)
    withSQLConf("spark.sql.session.timeZone" -> "Asia/Kolkata") {
      assert(TableCommit.readWhereTs(spark, t, "ts",
        micros(24), micros(47)).count() == 24L)
    }
    // metadata-only MIN/MAX pushdown extends to zoned ts (no live DVs)
    val mm = spark.sql(s"SELECT min(ts), max(ts) FROM graftts.`$t`")
    assert(mm.queryExecution.executedPlan.toString
      .contains("metadata-only"),
      mm.queryExecution.executedPlan.toString.take(1500))
    assert(mm.head().getTimestamp(0) == ts(0) &&
      mm.head().getTimestamp(1) == ts(239))
  }

  /** An NTZ-timestamp table: Jan days in pt=0, Feb days in pt=1, one
    * file each — pt=1's recorded min is EXACTLY '2026-02-01 00:00:00',
    * the boundary a date-only prefix band must not mis-rank. */
  private def freshNtzTable(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val rows = (0 until 59).map { i =>
      (java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusDays(i),
        s"v$i", if (i < 31) 0 else 1)
    }
    rows.toDF("ts", "v", "pt").repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("ts", "v", "pt"), clusterBy = Seq("ts"),
      filesPerPartition = 1)
    t
  }

  test("NTZ prefix band re-renders to the full stats rendering: a hi bound " +
      "of '2026-02-01' keeps the file whose min is the midnight row the " +
      "predicate matches (keeps and pred share one order)") {
    val t = freshNtzTable()
    val (id, _) = TableCommit.resolve(t).get
    // rows: Jan 10..31 (22) + the Feb 1 midnight row (1) = 23; the
    // pre-fix cpCompare ranked mn='2026-02-01 00:00:00' ABOVE the
    // prefix hi and silently dropped the whole Feb file
    val got = TableCommit.readWhereLexAt(spark, t, id, "ts",
      "2026-01-10", "2026-02-01")
    val expect = TableCommit.readAt(spark, t, id)
      .filter(col("ts") >= "2026-01-10" && col("ts") <= "2026-02-01")
    assert(got.count() == 23L && expect.count() == 23L,
      s"got ${got.count()} expect ${expect.count()}")
    // the audit twin agrees with the read's decision
    val (kept, total) = TableCommit.pruneAuditLex(t, id, "ts",
      "2026-01-10", "2026-02-01")
    assert(kept == 2 && total == 2, s"kept $kept of $total")
    // and a band genuinely clear of Feb still prunes its file
    val (kept2, _) = TableCommit.pruneAuditLex(t, id, "ts",
      "2026-01-10", "2026-01-31")
    assert(kept2 == 1, s"kept $kept2, Jan-only band should prune Feb")
    // DML twin: a banded MoR delete through the same prefix bound
    // kills exactly the 23 rows (the pre-fix code pruned the Feb file
    // out of candidacy and under-deleted)
    val mor = TableCommit.delete(spark, t, Seq("pt"),
      lexBand("ts", "2026-01-10", "2026-02-01"), TableCommit.MergeOnRead)
    assert(mor.rowsDeleted == 23L, mor.toString)
    assert(TableCommit.read(spark, t).count() == 36L)
  }

  test("a lexicographic band over a NUMERIC column is refused loudly on " +
      "every entry point (code-point '9' > '10' vs numeric 9 < 10 would " +
      "silently lose rows)") {
    val t = freshLexTable(i => f"doc-$i%05d") // pt is an Int column
    val (id, _) = TableCommit.resolve(t).get
    val e = intercept[RuntimeException] {
      TableCommit.readWhereLexAt(spark, t, id, "pt", "0", "1").count()
    }
    assert(e.getMessage.contains("code-point"), e.getMessage)
    // the string key keeps working (the guard types, it does not ban)
    assert(TableCommit.readWhereLexAt(spark, t, id, "k",
      "doc-00000", "doc-00009").count() == 10L)
    // DML over the same bounds is a predicate: the string bounds cast to
    // INT and pruning is typed by the column, so no code-point compare
    // can arise — update and delete touch exactly the model's rows,
    // every pt in [0, 1], all 400
    val upd = TableCommit.update(spark, t, Seq("pt"), lexBand("pt", "0", "1"),
      Map("v" -> upper(col("v"))), TableCommit.MergeOnRead)
    assert(upd.rowsUpdated == 400L, upd.toString)
    assert(TableCommit.read(spark, t).filter(col("v").rlike("^V"))
      .count() == 400L)
    val del = TableCommit.delete(spark, t, Seq("pt"), lexBand("pt", "0", "1"),
      TableCommit.CopyOnWrite)
    assert(del.rowsDeleted == 400L, del.toString)
    assert(TableCommit.read(spark, t).count() == 0L)
  }

  test("sidecar cold-open types the band from the sidecar's own meta: a " +
      "checkpointed NTZ table refuses an era-unsafe band and normalizes a " +
      "prefix band without a text-chain parse dependency") {
    val t = freshNtzTable()
    TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
    // a fresh checkpoint commit so the newest id carries a sidecar
    val rows = (0 until 59).map { i =>
      (java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusDays(i),
        s"w$i", if (i < 31) 0 else 1)
    }
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("ts", "v", "pt"), clusterBy = Seq("ts"),
      filesPerPartition = 1)
    val (id, _) = TableCommit.resolve(t).get
    assert(TableCommit.sidecarPrunedFilesLex(t, id, "ts",
      "2026-01-10", "2026-02-01 00:00:00").isDefined,
      "no sidecar served the newest checkpoint")
    // era guard fires with the type resolved via the sidecar meta
    val e = intercept[IllegalArgumentException] {
      TableCommit.readWhereLexAt(spark, t, id, "ts",
        "+10000-01-01", "+10000-12-31").count()
    }
    assert(e.getMessage.contains("four-digit-year"), e.getMessage)
    // prefix normalization holds on the sidecar-served read
    assert(TableCommit.readWhereLexAt(spark, t, id, "ts",
      "2026-01-10", "2026-02-01").count() == 23L)
  }

  test("compactionPlan: a metadata-only OPTIMIZE picker — under-target " +
      "files per dir from #bytes entries, fragmented dirs first, " +
      "singleton dirs skipped; executing the plan clears it") {
    val t = freshLexTable(i => f"doc-$i%05d") // 4 files per pt dir
    val plan = TableCommit.compactionPlan(t, targetFileBytes = 1L << 20)
    assert(plan.map(_.dir).toSet == Set("pt=0", "pt=1"), plan.toString)
    assert(plan.forall(j => j.smallFiles.length == 4 && j.smallBytes > 0 &&
      j.estOutputFiles == 1), plan.toString)
    // a big-file dir is NOT proposed (its one file exceeds the target)
    val tiny = TableCommit.compactionPlan(t, targetFileBytes = 1L)
    assert(tiny.isEmpty,
      s"files above target proposed for compaction: $tiny")
    // execute and re-plan: nothing left to do
    plan.foreach(j => TableCommit.compactPartitions(spark, t, "pt",
      Seq(j.dir), clusterBy = Seq("k"), filesPerPartition = 1))
    assert(TableCommit.compactionPlan(t, targetFileBytes = 1L << 20).isEmpty,
      "plan not cleared after compaction")
    assert(TableCommit.read(spark, t).count() == 400L)
  }

  // ---------------------------------------------------- protocol gating

  test("#require: a manifest demanding an unknown feature fails the read " +
      "loudly instead of reconstructing a corrupt snapshot") {
    val t = freshLexTable(i => f"doc-$i%05d")
    // append a future-feature manifest by hand, #len-sealed like a
    // real writer would
    val (id, _) = TableCommit.resolve(t).get
    val body = Seq("#require vector-clocks") ++
      TableCommit.read(spark, t).inputFiles.map(f =>
        f.stripPrefix("file:").stripPrefix(t).stripPrefix("/"))
    val lines = s"#len ${body.length}" +: body
    val mf = new java.io.File(t,
      f"_manifests/manifest-${id + 1}%09d")
    java.nio.file.Files.write(mf.toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      TableCommit.read(spark, t).count()
    }
    assert(e.getMessage.contains("vector-clocks") &&
      e.getMessage.contains("does not implement"), e.getMessage)
  }

  test("#require dv: a MoR delete's manifest declares the dv feature and " +
      "keeps reading fine on this engine") {
    val t = freshLexTable(i => f"doc-$i%05d")
    TableCommit.delete(spark, t, Seq("pt"),
      lexBand("k", "doc-00000", "doc-00009"), TableCommit.MergeOnRead)
    val (id, _) = TableCommit.resolve(t).get
    val mf = new java.io.File(t, f"_manifests/manifest-$id%09d")
    val text = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(text.contains("#require dv"), "MoR manifest missing #require dv")
    assert(TableCommit.read(spark, t).count() == 390L)
  }
}
