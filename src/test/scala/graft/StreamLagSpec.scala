package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame

import graft.operators.TableCommit
import graft.plans.GraftCatalog

/** A catalog stream (`readStream.table`) that lags the writers by more
  * than the two-generation retention window keeps draining exactly
  * once while the lagged snapshots' manifest chains are on disk —
  * whether it lags while running or restarts from its checkpoint —
  * and fails loudly once vacuum has deleted the chain under its
  * offset. */
class StreamLagSpec extends GraftSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lag").toFile
    GraftCatalog.register(spark, "graftlag", Some(dir.getAbsolutePath))
    dir.getAbsolutePath
  }

  private def append(t: String, from: Int, n: Int): Unit =
    TableCommit.appendRowsBy(spark, t, Seq("pt"),
      (from until from + n).map(i => (i.toLong, s"v$i", i % 2))
        .toDF("id", "v", "pt"), clusterBy = Seq("id"))

  private def ids(commits: Int): Set[Long] =
    (0 to commits).flatMap(k => 10 * k until 10 * k + 4).map(_.toLong).toSet

  private def checkOnce(seen: ConcurrentLinkedQueue[Long],
      want: Set[Long]): Unit = {
    val got = seen.toArray.toSeq.map(_.asInstanceOf[Long])
    assert(got.length == got.distinct.length, "duplicate emission")
    assert(got.toSet == want, got.sorted.mkString(","))
  }

  test("a running stream parked in its first batch while 5 commits " +
      "land drains the rest exactly once, commit by commit") {
    val t = s"$wh/db/parked"
    append(t, 0, 4)
    val parked = new CountDownLatch(1)
    val resume = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[Long]()
    val collect: (DataFrame, Long) => Unit = (df, batchId) => {
      df.select("id").as[Long].collect().foreach(seen.add(_))
      if (batchId == 0L) {
        parked.countDown()
        resume.await(120, TimeUnit.SECONDS)
      }
    }
    val q = spark.readStream.option("maxFilesPerTrigger", "1")
      .table("graftlag.db.parked")
      .writeStream.queryName("lag_parked").foreachBatch(collect).start()
    try {
      assert(parked.await(120, TimeUnit.SECONDS), "first batch never ran")
      (1 to 5).foreach(k => append(t, 10 * k, 4))
      resume.countDown()
      q.processAllAvailable()
      checkOnce(seen, ids(5))
      // one batch per lagged commit: the cap still paces the tail
      assert(q.recentProgress.count(_.numInputRows > 0) >= 6,
        q.recentProgress.map(p => s"${p.batchId}:${p.numInputRows}")
          .mkString(", "))
    } finally { resume.countDown(); q.stop() }
  }

  test("a stream restarted from its checkpoint after 5 commits drains " +
      "them exactly once; past a vacuumed chain it fails loudly") {
    val t = s"$wh/db/restart"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lag_ck")
      .toFile.getAbsolutePath
    val seen = new ConcurrentLinkedQueue[Long]()
    val collect: (DataFrame, Long) => Unit = (df, _) =>
      df.select("id").as[Long].collect().foreach(seen.add(_))
    def drain(): Unit = {
      val q = spark.readStream.table("graftlag.db.restart")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(collect).start()
      try q.processAllAvailable() finally q.stop()
    }
    append(t, 0, 4)
    drain()
    (1 to 5).foreach(k => append(t, 10 * k, 4))
    drain()
    checkOnce(seen, ids(5))
    // commit past the next manifest checkpoint: vacuum deletes every
    // manifest below it, the checkpointed offset's chain included
    (6 to 16).foreach(k => append(t, 10 * k, 4))
    val err = intercept[Exception](drain())
    assert(err.getMessage.contains("outside the retention window"),
      err.getMessage)
  }
}
