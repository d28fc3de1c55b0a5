package graft

import org.apache.spark.sql.functions._
import graft.operators.{DvCodec, TableCommit}

/** Format-v2 deletion vectors (round-13): roaring-style compressed
  * position bitmaps behind the existing `#dv` directive — codec
  * round-trips, read equality across BOTH encodings (and mixed
  * stacks, the live-upgrade path), the `dv2` feature gate, and the
  * bytes-shrink win on a dense kill. */
class DvCodecSpec extends GraftSpec {
  import spark.implicits._

  test("codec round-trips randomized position sets across both container " +
      "kinds; encoding is canonical for the SET (order/dup independent); " +
      "torn or foreign blobs are refused") {
    val rnd = new scala.util.Random(1331)
    (0 until 50).foreach { trial =>
      // mix sparse chunks, dense chunks (past the 4096 array ceiling),
      // and chunk-boundary positions
      val sparse = Array.fill(rnd.nextInt(3000))(rnd.nextLong(1L << 40))
        .map(math.abs)
      val denseBase = (rnd.nextLong(1L << 20).abs << 16)
      val dense = Array.fill(5000 + rnd.nextInt(9000))(
        denseBase + rnd.nextInt(65536))
      val edges = Array(0L, 65535L, 65536L, (1L << 32) - 1, 1L << 32)
      val ps = sparse ++ dense ++ edges
      val enc = DvCodec.encode(ps)
      val dec = DvCodec.decode(enc)
      val want = ps.distinct.sorted
      assert(dec.sameElements(want), s"trial $trial round-trip drift")
      // canonical: shuffled, duplicated input encodes byte-identically
      val shuffled = rnd.shuffle((ps ++ ps.take(100)).toSeq).toArray
      assert(java.util.Arrays.equals(DvCodec.encode(shuffled), enc),
        s"trial $trial encoding not canonical")
    }
    // empty set round-trips
    assert(DvCodec.decode(DvCodec.encode(Array.empty[Long])).isEmpty)
    // dense chunks actually compress: 60k positions in one chunk fit
    // the 8 KiB bitmap container, not 120 KB of shorts
    val denseAll = (0L until 60000L).toArray
    assert(DvCodec.encode(denseAll).length < 9000,
      s"dense chunk not bitmap-packed: ${DvCodec.encode(denseAll).length}")
    // torn blob refused
    val good = DvCodec.encode(Array(1L, 2L, 99999L))
    intercept[Exception] { DvCodec.decode(good.dropRight(2)) }
    intercept[Exception] { DvCodec.decode(good ++ Array(0.toByte)) }
    intercept[Exception] { DvCodec.decode("junk".getBytes("UTF-8")) }
  }

  test("distributed chunk encode is BYTE-IDENTICAL to the monolithic " +
      "form across container mixes (the round-14 bounded-buffer writer): " +
      "assemble(encodeChunk per pos>>>16 group) == encode(all)") {
    val rnd = new scala.util.Random(1447)
    (0 until 30).foreach { trial =>
      val sparse = Array.fill(rnd.nextInt(2000))(rnd.nextLong(1L << 40).abs)
      val denseBase = (rnd.nextLong(1L << 20).abs << 16)
      val dense = Array.fill(4097 + rnd.nextInt(8000))(
        denseBase + rnd.nextInt(65536))
      val ps = (sparse ++ dense ++ Array(0L, 65535L, 65536L)).distinct
      // the writer's grouping: (pos >>> 16) buckets, arrival order
      // scrambled within and across chunks
      val blocks = rnd.shuffle(ps.groupBy(_ >>> 16).toSeq).map {
        case (hi, slots) =>
          hi -> DvCodec.encodeChunk(hi, rnd.shuffle(slots.toSeq).toArray)
      }
      assert(java.util.Arrays.equals(DvCodec.assemble(blocks),
        DvCodec.encode(ps)), s"trial $trial: chunked encode drifted")
    }
    // duplicate chunk blocks are refused (double-grouped encoder bug)
    val b = DvCodec.encodeChunk(3L, Array((3L << 16) + 7))
    intercept[Exception] { DvCodec.assemble(Seq(3L -> b, 3L -> b)) }
    // a position outside its declared chunk is refused
    intercept[Exception] { DvCodec.encodeChunk(2L, Array(1L)) }
  }

  /** A 50k-row single-file-per-partition committed table. */
  private def freshTable(fmt: Option[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv2").toFile
    val t = new java.io.File(dir, "table").getAbsolutePath
    val rows = (0 until 50000).map(i => (i.toLong, s"v$i", i % 2))
    rows.toDF("id", "v", "pt").repartition(col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(t)
    TableCommit.initIfAbsent(t)
    TableCommit.replacePartitions(spark, t, "pt", Seq("pt=0", "pt=1"),
      rows.toDF("id", "v", "pt"), clusterBy = Seq("id"),
      filesPerPartition = 1)
    TableCommit.setProperties(t,
      Map("graft.retention.generations" -> "8") ++
        fmt.map("graft.dv.format" -> _))
    t
  }

  private def dvTreeBytes(t: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
    walk(new java.io.File(t, "_dv"))
  }

  test("dvDebt / dvMaterializePlan: dead counts read from the vectors " +
      "themselves, stack across MoR commits and mixed encodings, and " +
      "compaction IS the purge (plan empties)") {
    val t = freshTable(None)
    assert(TableCommit.dvDebt(spark, t).isEmpty)
    // dense kill: ids [5000, 44999] — 20k dead per pt file (25k rows)
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(5000), BigDecimal(44999)), TableCommit.MergeOnRead)
    val debt1 = TableCommit.dvDebt(spark, t)
    assert(debt1.length == 2 && debt1.forall(d =>
      d.deadRows == 20000L && d.liveRows == 5000L), debt1.toString)
    assert(debt1.forall(d => math.abs(d.deadRatio - 0.8) < 1e-9))
    // a stacked v1 delete on top: debts SUM across encodings
    TableCommit.setProperties(t, Map("graft.dv.format" -> "v1"))
    TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(999)), TableCommit.MergeOnRead)
    val debt2 = TableCommit.dvDebt(spark, t)
    assert(debt2.forall(d => d.deadRows == 20500L && d.liveRows == 4500L),
      debt2.toString)
    // the picker: both pt dirs exceed any sane threshold; a 0.9 bar
    // excludes them
    val plan = TableCommit.dvMaterializePlan(spark, t, minDeadRatio = 0.5)
    assert(plan == Seq("pt=0", "pt=1"), plan.toString)
    assert(TableCommit.dvMaterializePlan(spark, t, 0.9).isEmpty)
    // compaction through the vectors clears the debt
    plan.foreach(dir => TableCommit.compactPartitions(spark, t, "pt",
      Seq(dir), clusterBy = Seq("id"), filesPerPartition = 1))
    assert(TableCommit.dvDebt(spark, t).isEmpty,
      "compaction left deletion-vector debt")
    assert(TableCommit.read(spark, t).count() == 9000L)
  }

  test("sidecar COLD-OPEN over a VECTORED v2 snapshot: the pruned read " +
      "applies roaring vectors carried by the sidecar's (path, dv) rows") {
    val t = freshTable(None)
    TableCommit.setProperties(t, Map("graft.checkpoint.interval" -> "1"))
    val mor = TableCommit.delete(spark, t, Seq("pt"),
      band("id", BigDecimal(10000), BigDecimal(19999)), TableCommit.MergeOnRead)
    assert(mor.rowsDeleted == 10000L, mor.toString)
    val (id, _) = TableCommit.resolve(t).get
    // the fast path serves this read (interval=1 → every commit is a
    // checkpoint with a sidecar) — and its kept rows honor the vectors
    assert(TableCommit.sidecarPrunedFiles(t, id, "id",
      BigDecimal(0), BigDecimal(25000)).isDefined,
      "no sidecar served the vectored checkpoint")
    val got = TableCommit.readWhereAt(spark, t, id, "id",
      BigDecimal(0), BigDecimal(25000))
    // ids 0..25000 (25001) minus the 10000 vectored dead
    assert(got.count() == 15001L, s"got ${got.count()}")
  }

  test("v1 and v2 encodings read identically (CoW-through, MoR stacking, " +
      "CDF), v2 gates with #require dv2, and a dense kill's v2 sidecar " +
      "is a fraction of v1's bytes") {
    val t1 = freshTable(Some("v1"))
    val t2 = freshTable(None) // v2 default
    def liveRows(t: String): Set[Long] = TableCommit.read(spark, t)
      .select("id").collect().map(_.getLong(0)).toSet
    // dense kill: 40k contiguous ids across both partition files
    val a1 = TableCommit.delete(spark, t1, Seq("pt"),
      band("id", BigDecimal(5000), BigDecimal(44999)), TableCommit.MergeOnRead)
    val a2 = TableCommit.delete(spark, t2, Seq("pt"),
      band("id", BigDecimal(5000), BigDecimal(44999)), TableCommit.MergeOnRead)
    assert(a1.rowsDeleted == 40000L && a2.rowsDeleted == 40000L)
    val want = ((0 until 5000) ++ (45000 until 50000)).map(_.toLong).toSet
    assert(liveRows(t1) == want && liveRows(t2) == want,
      "encodings disagree on live rows after the dense kill")
    assert(TableCommit.rowCount(t1, TableCommit.resolve(t1).get._1)
      .contains(10000L))
    assert(TableCommit.rowCount(t2, TableCommit.resolve(t2).get._1)
      .contains(10000L))
    // directive + feature-gate shape
    def newestManifest(t: String): String = {
      val id = TableCommit.resolve(t).get._1
      new String(java.nio.file.Files.readAllBytes(new java.io.File(t,
        f"_manifests/manifest-$id%09d").toPath), "UTF-8")
    }
    val m1 = newestManifest(t1)
    val m2 = newestManifest(t2)
    assert(m1.contains("#require dv") && !m1.contains("#require dv2"), m1)
    assert(m2.contains("#require dv2"), m2)
    assert("#dv (\\S+)\t".r.findAllMatchIn(m2).forall(
      _.group(1).endsWith(".v2")), "v2 table registered a non-.v2 dir")
    // THE BYTES WIN: the roaring sidecar is a fraction of the
    // row-per-position parquet
    val (b1, b2) = (dvTreeBytes(t1), dvTreeBytes(t2))
    assert(b2 * 2 < b1,
      s"v2 sidecar not smaller: v1=$b1 bytes, v2=$b2 bytes")
    // MIXED STACKING — the live-upgrade path: flip t1 to v2 and stack a
    // second MoR delete; reads apply a v1 vector AND a v2 vector on the
    // same files
    TableCommit.setProperties(t1, Map("graft.dv.format" -> "v2"))
    val a1b = TableCommit.delete(spark, t1, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(999)), TableCommit.MergeOnRead)
    val a2b = TableCommit.delete(spark, t2, Seq("pt"),
      band("id", BigDecimal(0), BigDecimal(999)), TableCommit.MergeOnRead)
    assert(a1b.rowsDeleted == 1000L && a2b.rowsDeleted == 1000L)
    val want2 = ((1000 until 5000) ++ (45000 until 50000))
      .map(_.toLong).toSet
    assert(liveRows(t1) == want2 && liveRows(t2) == want2,
      "mixed v1+v2 vector stack read wrong rows")
    // CDF equality across encodings: the feed over the SECOND delete's
    // commit (the only step both histories share shape on) sees the
    // same deletes whichever encoding recorded them — and t1's step is
    // a v2 vector stacked over v1 coverage
    def feedCounts(t: String): Map[String, Long] = {
      val newest = TableCommit.resolve(t).get._1
      TableCommit.changeFeed(spark, t, newest - 1, newest)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(feedCounts(t1) == feedCounts(t2),
      s"CDF drift across encodings: ${feedCounts(t1)} vs ${feedCounts(t2)}")
    // CoW-through: compaction materializes BOTH encodings' vectors and
    // drops the registrations
    TableCommit.compactPartitions(spark, t1, "pt", Seq("pt=0", "pt=1"),
      clusterBy = Seq("id"), filesPerPartition = 1)
    assert(liveRows(t1) == want2, "compaction through mixed vectors drifted")
    val mAfter = newestManifest(t1)
    assert(!mAfter.contains("#dv "),
      "compaction did not drop the materialized vectors")
  }

  test("mergeDecoded: the k-way primitive union equals the boxed " +
      "reference on overlapping stacks, and a dense ≥1M-position kill " +
      "stays allocation-flat (the round-14 read-side bound)") {
    val rnd = new scala.util.Random(1559)
    (0 until 20).foreach { trial =>
      // overlapping vectors: shared base + per-vector extras across
      // both container kinds and chunk boundaries
      val base = Array.fill(rnd.nextInt(4000))(rnd.nextLong(1L << 34).abs)
      val blobs = (0 until 1 + rnd.nextInt(4)).map { _ =>
        val extra = Array.fill(rnd.nextInt(6000))(rnd.nextLong(1L << 34).abs)
        DvCodec.encode(base ++ extra ++ Array(0L, 65535L, 65536L))
      }
      val got = DvCodec.mergeDecoded(blobs)
      val want = blobs.flatMap(DvCodec.decode(_).toSeq).distinct.sorted
      assert(got.toSeq == want, s"trial $trial union drift")
      // sorted + distinct by construction
      assert(got.toSeq == got.toSeq.distinct.sorted)
    }
    // dense-kill fixture: 3 vectors covering 1.2M positions with heavy
    // overlap — merges in one pass over primitives (a boxed
    // flatMap+distinct here allocated ~4× the working set)
    val dense = (0L until 1200000L).toArray
    val b1 = DvCodec.encode(dense.filter(_ % 2 == 0))
    val b2 = DvCodec.encode(dense.filter(_ % 3 == 0))
    val b3 = DvCodec.encode(dense)
    val merged = DvCodec.mergeDecoded(Seq(b1, b2, b3))
    assert(merged.length == 1200000 && merged(0) == 0L &&
      merged(1199999) == 1199999L)
  }

  test("union: the compressed-domain union equals encode(mergeDecoded) " +
      "on seeded stacks with colliding chunk keys, array/bitmap " +
      "crossovers and identical blobs") {
    val rnd = new scala.util.Random(1663)
    (0 until 30).foreach { trial =>
      // a few shared chunk keys, so blobs collide; each chunk sparse
      // (array) or dense (bitmap) at random, plus chunk-edge positions
      val keys = Array.fill(1 + rnd.nextInt(6))(rnd.nextLong(1L << 20))
      def blob(): Array[Byte] = DvCodec.encode(
        keys.filter(_ => rnd.nextBoolean()).flatMap { hi =>
          val n = if (rnd.nextBoolean()) 1 + rnd.nextInt(4096)
            else 3000 + rnd.nextInt(20000)
          Array.fill(n)((hi << 16) + rnd.nextInt(65536))
        } ++ Array(0L, 65535L, 65536L).filter(_ => rnd.nextBoolean()))
      val distinct = Seq.fill(1 + rnd.nextInt(4))(blob())
      val blobs = distinct ++ distinct.take(rnd.nextInt(2))
      assert(java.util.Arrays.equals(DvCodec.union(blobs),
        DvCodec.encode(DvCodec.mergeDecoded(blobs))), s"trial $trial")
    }
    // two array chunks whose union passes 4096 slots becomes a bitmap
    val a = DvCodec.encode((0L until 3000L).toArray)
    val b = DvCodec.encode((2000L until 6000L).toArray)
    assert(java.util.Arrays.equals(DvCodec.union(Seq(a, b)),
      DvCodec.encode((0L until 6000L).toArray)))
    // identical blobs, an empty blob and no blob at all
    assert(java.util.Arrays.equals(DvCodec.union(Seq(a, a)), a))
    assert(java.util.Arrays.equals(
      DvCodec.union(Seq(DvCodec.encode(Array.empty[Long]), a)), a))
    assert(java.util.Arrays.equals(DvCodec.union(Seq.empty),
      DvCodec.encode(Array.empty[Long])))
  }
}
