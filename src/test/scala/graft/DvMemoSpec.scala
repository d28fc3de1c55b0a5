package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TableCommit
import graft.plans.GraftCatalog

/** The deletion-vector memo: registered `_dv/<writerId>[.v2]` trees
  * load driver-side with no Spark job, once per (table, dir) per
  * process; every DataFrame-path plan of the same vectors reuses one
  * broadcast per dir; vacuum and DROP evict what they delete. */
class DvMemoSpec extends GraftSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dvmemo").toFile
    GraftCatalog.register(spark, "graftdvm", Some(dir.getAbsolutePath))
    dir.getAbsolutePath
  }

  // "a b%c" renders percent-encoded in `_metadata.file_path` (the
  // writer's DV key) but decoded in the manifest's rel paths
  private val parts = Seq("p0", "a b%c")

  private def mkTable(name: String): String = {
    val t = s"$wh/db/$name"
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (0 until 200).map(i => (i.toLong, s"v$i", parts(i % 2)))
        .toDF("id", "v", "pt"), clusterBy = Seq("id"))
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "10"))
    t
  }

  /** `f`'s result and the Spark jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      GraftTestBus.drain(spark.sparkContext)
      (a, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def catalogPoint(name: String, id: Long): DataFrame =
    spark.sql(s"SELECT id, v, pt FROM graftdvm.db.$name WHERE id = $id")

  /** Jobs spent planning each probe (executed plan forced, nothing
    * run), the probes' results, and the jobs their collects ran. */
  private def probe(t: String, name: String, point: Long)
      : (Seq[Int], Seq[Set[Long]], Seq[Int]) = {
    val plans = Seq(() => catalogPoint(name, point),
      () => TableCommit.read(spark, t))
    val planned = plans.map(p => jobsDuring {
      val df = p()
      df.queryExecution.executedPlan
      df
    })
    val ran = planned.map { case (df, _) => jobsDuring(ids(df)) }
    (planned.map(_._2), ran.map(_._1), ran.map(_._2))
  }

  test("vector dirs load with ZERO Spark jobs: planning a catalog point " +
      "read and a TableCommit.read over 4 v2 + 1 v1 vectors (percent-" +
      "encoded partition included) runs exactly the jobs of the same " +
      "table with no vectors, results match the model, and a second " +
      "plan opens no sidecar") {
    val t = mkTable("dv_jobs")
    val twin = mkTable("dv_jobs_twin")
    var model = (0L until 200L).toSet
    for ((lo, hi) <- Seq((10, 19), (40, 49), (100, 109), (150, 159))) {
      TableCommit.deleteWhereMor(spark, t, "pt", "id",
        BigDecimal(lo), BigDecimal(hi))
      model --= (lo.toLong to hi.toLong)
    }
    TableCommit.setProperties(t, Map("graft.dv.format" -> "v1"))
    TableCommit.deleteWhereMor(spark, t, "pt", "id",
      BigDecimal(60), BigDecimal(69))
    model --= (60L to 69L)
    val dvTree = new java.io.File(t, "_dv")
    val dirs = dvTree.list().toSeq
    assert(dirs.count(_.endsWith(".v2")) == 4 &&
      dirs.count(!_.endsWith(".v2")) == 1, dirs.toString)
    // every vector COLD: the counted plans pay the loads
    TableCommit.forgetDvUnder(t)
    val (plannedDv, gotDv, ranDv) = probe(t, "dv_jobs", 65L)
    val (plannedTwin, _, ranTwin) = probe(twin, "dv_jobs_twin", 65L)
    assert(plannedDv == plannedTwin,
      s"vector loads cost jobs at plan time: $plannedDv vs $plannedTwin")
    assert(ranDv == ranTwin,
      s"vectored reads ran extra jobs: $ranDv vs $ranTwin")
    assert(gotDv == Seq(Set.empty[Long], model))
    // odd ids live in the percent-encoded partition
    assert(ids(catalogPoint("dv_jobs", 151L)).isEmpty,
      "a percent-encoded partition's v2 vector was not applied")
    assert(ids(catalogPoint("dv_jobs", 71L)) == Set(71L))
    assert(TableCommit.dvMemoDirs(t) == dirs.map("_dv/" + _).toSet)
    // MEMO HIT: with the sidecar trees moved away, the same snapshot
    // still plans and reads correctly — no vector file is opened
    val hidden = new java.io.File(t, "_dv_hidden")
    assert(dvTree.renameTo(hidden))
    try {
      assert(ids(spark.sql("SELECT id FROM graftdvm.db.dv_jobs")) == model)
      assert(ids(TableCommit.read(spark, t)) == model)
      assert(ids(catalogPoint("dv_jobs", 150L)).isEmpty)
    } finally assert(hidden.renameTo(dvTree))
  }

  test("N DataFrame-path reads of one vectored snapshot create at most " +
      "one DV broadcast (the dir's memoized broadcast)") {
    val t = mkTable("dv_bc")
    val twin = mkTable("dv_bc_twin")
    TableCommit.deleteWhereMor(spark, t, "pt", "id",
      BigDecimal(20), BigDecimal(29))
    val want = (0L until 200L).toSet -- (20L to 29L)
    TableCommit.forgetDvUnder(t)
    // broadcast ids are sequential per context: the distance between
    // two probe broadcasts counts every broadcast made in between
    def broadcastsDuring(f: => Unit): Long = {
      val a = spark.sparkContext.broadcast(0)
      f
      val b = spark.sparkContext.broadcast(0)
      a.destroy(); b.destroy()
      b.id - a.id - 1
    }
    val n = 5
    val dv = broadcastsDuring((1 to n).foreach(_ =>
      assert(ids(TableCommit.read(spark, t)) == want)))
    val plain = broadcastsDuring((1 to n).foreach(_ =>
      ids(TableCommit.read(spark, twin))))
    assert(dv - plain <= 1,
      s"$n vectored reads made ${dv - plain} DV broadcasts (want <= 1)")
  }

  test("the memo tracks live vectors only: vacuum evicts the dir it " +
      "sweeps after compaction, DROP TABLE evicts the table's dirs") {
    val t = mkTable("dv_evict")
    def dvDirs(): Set[String] = Option(new java.io.File(t, "_dv").list())
      .getOrElse(Array.empty[String]).map("_dv/" + _).toSet
    TableCommit.deleteWhereMor(spark, t, "pt", "id",
      BigDecimal(30), BigDecimal(39))
    val swept = dvDirs().head
    val want = (0L until 200L).toSet -- (30L to 39L)
    assert(ids(TableCommit.read(spark, t)) == want)
    assert(TableCommit.dvMemoDirs(t) == Set(swept))
    // compaction reads through the vector and drops its entries; two
    // more commits move the last referencing snapshot out of retention
    TableCommit.setProperties(t, Map("graft.retention.generations" -> "2"))
    TableCommit.compactPartitions(spark, t, "pt",
      TableCommit.resolve(t).get._2.map(f => f.take(f.lastIndexOf('/')))
        .distinct)
    TableCommit.setProperties(t, Map("graft.note" -> "post-compaction"))
    // past the age gate: backdate the tree
    val tree = new java.io.File(t, swept)
    val old = System.currentTimeMillis() - 2L * 60 * 60 * 1000
    tree.listFiles().foreach(_.setLastModified(old))
    tree.setLastModified(old)
    TableCommit.vacuumRun(t)
    assert(!tree.exists(), s"vacuum did not sweep $swept")
    assert(!TableCommit.dvMemoDirs(t).contains(swept),
      s"memo still holds the swept dir $swept")
    assert(ids(TableCommit.read(spark, t)) == want)
    // DROP evicts every dir of the table
    TableCommit.deleteWhereMor(spark, t, "pt", "id",
      BigDecimal(0), BigDecimal(4))
    assert(ids(TableCommit.read(spark, t)) == want -- (0L to 4L))
    assert(TableCommit.dvMemoDirs(t).nonEmpty)
    spark.sql("DROP TABLE graftdvm.db.dv_evict")
    assert(TableCommit.dvMemoDirs(t).isEmpty)
  }
}
