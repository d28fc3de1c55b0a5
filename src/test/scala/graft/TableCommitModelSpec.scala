package graft

import org.apache.spark.sql.functions._
import graft.operators.TableCommit

/** MODEL-BASED randomized testing of the table format: drive the
  * committed table through seeded-random sequences of every DML verb —
  * blind append, copy-on-write delete/update, merge-on-read
  * delete/update, three-clause MERGE, compaction — and after EVERY
  * step assert the table's
  * snapshot read equals an in-memory reference model and the `#rows`
  * manifest metadata equals the model's size. Single-op specs pin each
  * verb's contract in isolation; this pins their COMPOSITION — the
  * interleavings (a vector on a file a later CoW rewrite must
  * materialize, an update of rows an earlier vector killed, compaction
  * over mixed clean/vectored files) where latent protocol bugs live.
  * Seeds are fixed, so a failure is a deterministic repro. */
class TableCommitModelSpec extends GraftSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcm").toFile
    new java.io.File(dir, "table").getAbsolutePath
  }

  private def tableRows(t: String): Set[(Long, Long, Int)] =
    TableCommit.read(spark, t)
      .select(col("id"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** ps = a second partition level derived from id — present in the
    * data either way; whether the LAYOUT uses it is the per-seed
    * randomization (round-11 verdict item 2: the model spec drives the
    * same verb sequences over one- AND two-level partition layouts). */
  private def psOf(id: Long): Int = (id % 2).toInt

  test("randomized verb sequences: snapshot read ≡ reference model, " +
      "#rows metadata ≡ model size, and a random RETAINED snapshot " +
      "time-travels to its recorded model state after every step — " +
      "under randomized checkpoint cadence and retention (the delta " +
      "chains reconstruct whatever the interleaving)") {
    for (seed <- Seq(11, 42, 77, 123)) {
      val rnd = new scala.util.Random(seed)
      val t = freshDir()
      var nextId = 300L
      // randomized LAYOUT: one partition level (pt) or two (pt, ps) —
      // the same verb sequence must hold over either; the top-level
      // dirty dirs are PREFIXES under the two-level layout (covering
      // every ps leaf beneath)
      val partCols = if (rnd.nextBoolean()) Seq("pt") else Seq("pt", "ps")
      def df3(rows: Seq[(Long, Long, Int)]) =
        rows.map { case (id, v, pt) => (id, v, pt, psOf(id)) }
          .toDF("id", "v", "pt", "ps")
      // reference model: id → (v, pt); ids unique by construction
      var model: Map[Long, (Long, Int)] =
        (0L until 300L).map(id => id -> (id * 10, (id % 3).toInt)).toMap
      TableCommit.replacePartitionsBy(spark, t, partCols,
        Seq("pt=0", "pt=1", "pt=2"),
        df3(model.toSeq.map { case (id, (v, pt)) => (id, v, pt) }),
        clusterBy = Seq("id"), filesPerPartition = 3)
      // randomized manifest-log shape: cadence 1 = all checkpoints (the
      // pre-delta format), 10 = long delta chains; retention 2..4
      val interval = Seq(1, 2, 3, 10)(rnd.nextInt(4))
      val keep = 2 + rnd.nextInt(3)
      TableCommit.setProperties(t, Map(
        "graft.checkpoint.interval" -> interval.toString,
        "graft.retention.generations" -> keep.toString))
      // snapshot id → the model state it pinned (for time travel)
      var hist: Map[Long, Map[Long, (Long, Int)]] =
        Map(TableCommit.resolve(t).get._1 -> model)

      def randomBand(): (Long, Long) = {
        val ids = model.keys
        val mx = if (ids.isEmpty) 10L else ids.max
        val lo = math.abs(rnd.nextLong()) % (mx + 1)
        (lo, lo + math.abs(rnd.nextLong()) % (mx / 4 + 1))
      }

      for (step <- 0 until 10) {
        // random DELETION-VECTOR ENCODING flips (round-13): MoR verbs
        // later in the sequence then stack roaring-v2 vectors over
        // legacy v1 ones (and vice versa) on the same files — every
        // step's model equality check below validates the mixed read
        if (rnd.nextInt(4) == 0)
          TableCommit.setProperties(t, Map("graft.dv.format" ->
            (if (rnd.nextBoolean()) "v1" else "v2")))
        val op = rnd.nextInt(7)
        val (lo, hi) = randomBand()
        op match {
          case 6 => // three-clause MERGE: update a band slice, delete a
            // sub-slice, insert fresh ids — one MoR commit
            val liveBand = model.collect {
              case (id, (v, pt)) if id >= lo && id <= hi => (id, v, pt)
            }.toSeq.sortBy(_._1)
            val (updSrc, delSrc) = liveBand.splitAt(liveBand.length / 2)
            val k = 1 + rnd.nextInt(10)
            val insSrc = (nextId until nextId + k)
              .map(id => (id, id * 10, (id % 3).toInt))
            nextId += k
            val src =
              (updSrc.map { case (id, v, pt) => (id, v, pt, psOf(id), "U") } ++
                delSrc.map { case (id, v, pt) => (id, v, pt, psOf(id), "D") } ++
                insSrc.map { case (id, v, pt) => (id, v, pt, psOf(id), "I") })
                .toDF("id", "v", "pt", "ps", "op")
            TableCommit.mergeIntoBy(spark, t, partCols, "id", src,
              updateSet = Map("v" -> (col("v") + lit(7L))),
              deleteWhen = Some(col("src_op") === "D"))
            val updIds = updSrc.map(_._1).toSet
            val delIds = delSrc.map(_._1).toSet
            model = model.flatMap { case (id, (v, pt)) =>
              if (delIds(id)) None
              else if (updIds(id)) Some(id -> (v + 7, pt))
              else Some(id -> (v, pt))
            } ++ insSrc.map { case (id, v, pt) => id -> (v, pt) }
          case 0 => // blind append of fresh ids
            val k = 1 + rnd.nextInt(20)
            val fresh = (nextId until nextId + k)
              .map(id => (id, id * 10, (id % 3).toInt))
            nextId += k
            TableCommit.appendRowsBy(spark, t, partCols,
              df3(fresh), clusterBy = Seq("id"))
            model ++= fresh.map { case (id, v, pt) => id -> (v, pt) }
          case 1 => // copy-on-write delete
            TableCommit.delete(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              TableCommit.CopyOnWrite)
            model = model.filter { case (id, _) => id < lo || id > hi }
          case 2 => // merge-on-read delete
            TableCommit.delete(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              TableCommit.MergeOnRead)
            model = model.filter { case (id, _) => id < lo || id > hi }
          case 3 => // copy-on-write update
            TableCommit.update(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              Map("v" -> (col("v") + lit(1L))), TableCommit.CopyOnWrite)
            model = model.map { case (id, (v, pt)) =>
              if (id >= lo && id <= hi) id -> (v + 1, pt) else id -> (v, pt)
            }
          case 4 => // merge-on-read update
            TableCommit.update(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              Map("v" -> (col("v") + lit(1L))), TableCommit.MergeOnRead)
            model = model.map { case (id, (v, pt)) =>
              if (id >= lo && id <= hi) id -> (v + 1, pt) else id -> (v, pt)
            }
          case 5 => // compaction of every current partition
            // compact by TOP-LEVEL dirs — prefixes cover every ps
            // leaf under the two-level layout
            val dirs = TableCommit.resolve(t).get._2
              .map(f => f.takeWhile(_ != '/')).distinct
            if (dirs.nonEmpty)
              TableCommit.compactPartitionsBy(spark, t, partCols, dirs,
                clusterBy = Seq("id"), filesPerPartition = 2)
        }
        val want = model.map { case (id, (v, pt)) => (id, v, pt) }.toSet
        assert(tableRows(t) == want,
          s"seed=$seed step=$step op=$op band=[$lo,$hi]: table diverged " +
            "from the reference model")
        val id = TableCommit.resolve(t).get._1
        assert(TableCommit.rowCount(t, id).contains(model.size.toLong),
          s"seed=$seed step=$step op=$op: #rows metadata diverged " +
            s"(${TableCommit.rowCount(t, id)} vs ${model.size})")
        hist += id -> model
        // TIME TRAVEL: a randomly-chosen retained snapshot must
        // reconstruct (across whatever checkpoint/delta chain the
        // cadence produced) to exactly the model state it pinned
        val retained = TableCommit.history(t).map(_._1)
          .filter(hist.contains)
        if (retained.nonEmpty) {
          val pick = retained(rnd.nextInt(retained.length))
          val wantAt = hist(pick)
            .map { case (hid, (v, pt)) => (hid, v, pt) }.toSet
          val gotAt = TableCommit.readAt(spark, t, pick)
            .select(col("id"), col("v"), col("pt").cast("int"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
            .toSet
          assert(gotAt == wantAt,
            s"seed=$seed step=$step op=$op: time travel to retained " +
              s"snapshot $pick diverged from its recorded model")
        }
        // an occasional EXPLICIT vacuum must be invisible to every
        // retained reader (it only sweeps past-retention debris)
        if (rnd.nextInt(5) == 0) {
          TableCommit.vacuumRun(t)
          assert(tableRows(t) == want,
            s"seed=$seed step=$step: vacuumRun changed the live table")
        }
      }
    }
  }

  test("EVOLUTION mid-sequence: the layout evolves (pt) -> (pt, ps) at a " +
      "random step and every verb keeps the table ≡ the reference model " +
      "over the mixed-generation snapshot (per-file keys, grouped reads, " +
      "spec-validated writes)") {
    for (seed <- Seq(5, 31)) {
      val rnd = new scala.util.Random(seed)
      val t = freshDir()
      var nextId = 200L
      var partCols = Seq("pt")
      val evolveAt = 2 + rnd.nextInt(6)
      def df3(rows: Seq[(Long, Long, Int)]) =
        rows.map { case (id, v, pt) => (id, v, pt, psOf(id)) }
          .toDF("id", "v", "pt", "ps")
      var model: Map[Long, (Long, Int)] =
        (0L until 200L).map(id => id -> (id * 10, (id % 3).toInt)).toMap
      TableCommit.replacePartitionsBy(spark, t, partCols,
        Seq("pt=0", "pt=1", "pt=2"),
        df3(model.toSeq.map { case (id, (v, pt)) => (id, v, pt) }),
        clusterBy = Seq("id"), filesPerPartition = 2)
      def randomBand(): (Long, Long) = {
        val ids = model.keys
        val mx = if (ids.isEmpty) 10L else ids.max
        val lo = math.abs(rnd.nextLong()) % (mx + 1)
        (lo, lo + math.abs(rnd.nextLong()) % (mx / 4 + 1))
      }
      // half the seeds evolve to an identity pair, half to a HIDDEN
      // bucket transform — the verb mix must hold over either layout
      val evolvedSpec =
        if (rnd.nextBoolean()) Seq("pt", "ps") else Seq("pt", "bucket(4,id)")
      for (step <- 0 until 12) {
        if (step == evolveAt) {
          TableCommit.evolvePartitioningBy(spark, t, evolvedSpec)
          partCols = evolvedSpec
        }
        val op = rnd.nextInt(6)
        val (lo, hi) = randomBand()
        op match {
          case 0 => // blind append of fresh ids under the ACTIVE spec
            val k = 1 + rnd.nextInt(15)
            val fresh = (nextId until nextId + k)
              .map(id => (id, id * 10, (id % 3).toInt))
            nextId += k
            TableCommit.appendRowsBy(spark, t, partCols,
              df3(fresh), clusterBy = Seq("id"))
            model ++= fresh.map { case (id, v, pt) => id -> (v, pt) }
          case 1 =>
            TableCommit.delete(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              TableCommit.CopyOnWrite)
            model = model.filter { case (id, _) => id < lo || id > hi }
          case 2 =>
            TableCommit.delete(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              TableCommit.MergeOnRead)
            model = model.filter { case (id, _) => id < lo || id > hi }
          case 3 =>
            TableCommit.update(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              Map("v" -> (col("v") + lit(1L))), TableCommit.CopyOnWrite)
            model = model.map { case (id, (v, pt)) =>
              if (id >= lo && id <= hi) id -> (v + 1, pt) else id -> (v, pt)
            }
          case 4 =>
            TableCommit.update(spark, t, partCols,
              band("id", BigDecimal(lo), BigDecimal(hi)),
              Map("v" -> (col("v") + lit(1L))), TableCommit.MergeOnRead)
            model = model.map { case (id, (v, pt)) =>
              if (id >= lo && id <= hi) id -> (v + 1, pt) else id -> (v, pt)
            }
          case 5 => // compaction by TOP-LEVEL dirs — under the evolved
            // spec this is exactly the gradual-migration verb
            val dirs = TableCommit.resolve(t).get._2
              .map(f => f.takeWhile(_ != '/')).distinct
            if (dirs.nonEmpty)
              TableCommit.compactPartitionsBy(spark, t, partCols, dirs,
                clusterBy = Seq("id"), filesPerPartition = 2)
        }
        val want = model.map { case (id, (v, pt)) => (id, v, pt) }.toSet
        assert(tableRows(t) == want,
          s"seed=$seed step=$step op=$op band=[$lo,$hi] " +
            s"evolved=${step >= evolveAt}: table diverged from the model")
        val id = TableCommit.resolve(t).get._1
        assert(TableCommit.rowCount(t, id).contains(model.size.toLong),
          s"seed=$seed step=$step op=$op: #rows metadata diverged")
      }
    }
  }

  // ------------------------------------------------- string-keyed model

  /** Adversarial STRING keys for the typed-stats model run: numeric
    * text that inverts under numeric compare ("k10" < "k9"), escape
    * characters, multibyte + supplementary code points, and >64-unit
    * tails that force bound truncation. Deterministic per id. */
  private def keyOf(id: Long): String = {
    val tails = Vector("", "\t", "~", "é中",
      "X" * 80, new String(Character.toChars(0x1F600)), "\n", "\\")
    s"k$id" + tails((id % 8).toInt)
  }

  private def tableRowsStr(t: String): Set[(String, Long, Int)] =
    TableCommit.read(spark, t)
      .select(col("k"), col("v"), col("pt").cast("int"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet

  test("randomized verb sequences over a STRING key: lexicographic bands " +
      "(truncated stats, escape-bearing and supplementary-plane keys) " +
      "keep snapshot read ≡ reference model and #rows ≡ model size at " +
      "every step") {
    def cp(a: String, b: String): Int = TableCommit.cpCompare(a, b)
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val t = freshDir()
      var nextId = 120L
      val partCols = if (rnd.nextBoolean()) Seq("pt") else Seq("pt", "ps")
      def df3(rows: Seq[(String, Long, Int)]) =
        rows.map { case (k, v, pt) => (k, v, pt, (v % 2).toInt) }
          .toDF("k", "v", "pt", "ps")
      var model: Map[String, (Long, Int)] =
        (0L until 120L).map(id => keyOf(id) -> (id * 10, (id % 3).toInt)).toMap
      TableCommit.replacePartitionsBy(spark, t, partCols,
        Seq("pt=0", "pt=1", "pt=2"),
        df3(model.toSeq.map { case (k, (v, pt)) => (k, v, pt) }),
        clusterBy = Seq("k"), filesPerPartition = 3)
      val interval = Seq(1, 3, 10)(rnd.nextInt(3))
      TableCommit.setProperties(t, Map(
        "graft.checkpoint.interval" -> interval.toString))

      def bandStr(): (String, String) = {
        def pick(): String =
          if (model.isEmpty || rnd.nextBoolean())
            keyOf(math.abs(rnd.nextLong()) % (nextId + 10))
          else {
            val ks = model.keys.toVector
            ks(rnd.nextInt(ks.size))
          }
        val a = pick(); val b = pick()
        if (cp(a, b) <= 0) (a, b) else (b, a)
      }
      def inBand(k: String, lo: String, hi: String): Boolean =
        cp(k, lo) >= 0 && cp(k, hi) <= 0

      for (step <- 0 until 10) {
        val op = rnd.nextInt(6)
        val (lo, hi) = bandStr()
        op match {
          case 5 => // three-clause MERGE keyed by the string
            val liveBand = model.collect {
              case (k, (v, pt)) if inBand(k, lo, hi) => (k, v, pt)
            }.toSeq.sortBy(_._1)
            val (updSrc, delSrc) = liveBand.splitAt(liveBand.length / 2)
            val kIns = 1 + rnd.nextInt(6)
            val insSrc = (nextId until nextId + kIns)
              .map(id => (keyOf(id), id * 10, (id % 3).toInt))
            nextId += kIns
            val src =
              (updSrc.map { case (k, v, pt) => (k, v, pt, (v % 2).toInt, "U") } ++
                delSrc.map { case (k, v, pt) => (k, v, pt, (v % 2).toInt, "D") } ++
                insSrc.map { case (k, v, pt) => (k, v, pt, (v % 2).toInt, "I") })
                .toDF("k", "v", "pt", "ps", "op")
            TableCommit.mergeIntoBy(spark, t, partCols, "k", src,
              updateSet = Map("v" -> (col("v") + lit(7L))),
              deleteWhen = Some(col("src_op") === "D"))
            val updKs = updSrc.map(_._1).toSet
            val delKs = delSrc.map(_._1).toSet
            model = model.flatMap { case (k, (v, pt)) =>
              if (delKs(k)) None
              else if (updKs(k)) Some(k -> (v + 7, pt))
              else Some(k -> (v, pt))
            } ++ insSrc.map { case (k, v, pt) => k -> (v, pt) }
          case 0 => // blind append of fresh keys
            val kIns = 1 + rnd.nextInt(12)
            val fresh = (nextId until nextId + kIns)
              .map(id => (keyOf(id), id * 10, (id % 3).toInt))
            nextId += kIns
            TableCommit.appendRowsBy(spark, t, partCols,
              df3(fresh), clusterBy = Seq("k"))
            model ++= fresh.map { case (k, v, pt) => k -> (v, pt) }
          case 1 => // copy-on-write delete over a lex band
            TableCommit.delete(spark, t, partCols, lexBand("k", lo, hi),
              TableCommit.CopyOnWrite)
            model = model.filter { case (k, _) => !inBand(k, lo, hi) }
          case 2 => // merge-on-read delete
            TableCommit.delete(spark, t, partCols, lexBand("k", lo, hi),
              TableCommit.MergeOnRead)
            model = model.filter { case (k, _) => !inBand(k, lo, hi) }
          case 3 => // copy-on-write update
            TableCommit.update(spark, t, partCols, lexBand("k", lo, hi),
              Map("v" -> (col("v") + lit(1L))), TableCommit.CopyOnWrite)
            model = model.map { case (k, (v, pt)) =>
              if (inBand(k, lo, hi)) k -> (v + 1, pt) else k -> (v, pt)
            }
          case 4 => // merge-on-read update
            TableCommit.update(spark, t, partCols, lexBand("k", lo, hi),
              Map("v" -> (col("v") + lit(1L))), TableCommit.MergeOnRead)
            model = model.map { case (k, (v, pt)) =>
              if (inBand(k, lo, hi)) k -> (v + 1, pt) else k -> (v, pt)
            }
        }
        val want = model.map { case (k, (v, pt)) => (k, v, pt) }.toSet
        assert(tableRowsStr(t) == want,
          s"seed=$seed step=$step op=$op band=[${lo.take(20)}," +
            s"${hi.take(20)}]: table diverged from the reference model")
        val id = TableCommit.resolve(t).get._1
        assert(TableCommit.rowCount(t, id).contains(model.size.toLong),
          s"seed=$seed step=$step op=$op: #rows metadata diverged " +
            s"(${TableCommit.rowCount(t, id)} vs ${model.size})")
      }
    }
  }
}
