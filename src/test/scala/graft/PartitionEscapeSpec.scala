package graft

import org.apache.spark.sql.functions._

import graft.operators.TableCommit
import graft.plans.GraftCatalog

/** Partition values whose dir names render differently in a URI than
  * in the manifest: `a+b c` (a literal `+` next to a percent-escaped
  * space — form decoding would turn the `+` into a space too) and
  * `a b%c` (Hive-escaped `%`). Every DML verb must find their files'
  * rows, and every read must see the result and the original value. */
class PartitionEscapeSpec extends GraftSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_esc").toFile
    GraftCatalog.register(spark, "graftesc", Some(dir.getAbsolutePath))
    dir.getAbsolutePath
  }

  for ((odd, name) <- Seq("a+b c" -> "plus_space", "a b%c" -> "space_pct")) {
    test(s"DML over partition value '$odd': MERGE updates in place, MoR " +
        "and CoW DELETE and UPDATE hit their rows, reads agree") {
      val t = s"$wh/db/$name"
      // even ids live in "p0", odd ids in the escaped partition
      def pt(i: Long): String = if (i % 2 == 0) "p0" else odd
      TableCommit.appendRowsBy(spark, t, Seq("pt"),
        (0L until 20L).map(i => (i, s"v$i", pt(i))).toDF("id", "v", "pt"),
        clusterBy = Seq("id"))
      var model = (0L until 20L).map(i => i -> s"v$i").toMap

      def check(step: String): Unit = {
        val want = model.toSeq.map { case (i, v) => (i, v, pt(i)) }.sorted
        val viaVerb = TableCommit.read(spark, t).select("id", "v", "pt")
          .as[(Long, String, String)].collect().toSeq.sorted
        val viaSql = spark.sql(s"SELECT id, v, pt FROM graftesc.db.$name")
          .as[(Long, String, String)].collect().toSeq.sorted
        assert(viaVerb == want, s"after $step (TableCommit.read)")
        assert(viaSql == want, s"after $step (catalog read)")
      }
      check("append")

      val m = TableCommit.mergeInto(spark, t, "pt", "id",
        Seq((1L, "x2", odd), (3L, "x3", odd)).toDF("id", "v", "pt"),
        updateSet = Map("v" -> col("src_v")))
      assert(m.rowsUpdated == 2 && m.rowsInserted == 0 && m.filesHit == 1,
        m.toString)
      model ++= Map(1L -> "x2", 3L -> "x3")
      check("MERGE")

      val md = TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(5), BigDecimal(5)), TableCommit.MergeOnRead)
      assert(md.rowsDeleted == 1, md.toString)
      model -= 5L
      check("MoR DELETE")

      val cd = TableCommit.delete(spark, t, Seq("pt"),
        band("id", BigDecimal(7), BigDecimal(7)), TableCommit.CopyOnWrite)
      assert(cd.rowsDeleted == 1, cd.toString)
      model -= 7L
      check("CoW DELETE")

      val mu = TableCommit.update(spark, t, Seq("pt"),
        band("id", BigDecimal(9), BigDecimal(9)), Map("v" -> lit("u9")),
        TableCommit.MergeOnRead)
      assert(mu.rowsUpdated == 1, mu.toString)
      model += 9L -> "u9"
      check("MoR UPDATE")

      val cu = TableCommit.update(spark, t, Seq("pt"),
        band("id", BigDecimal(11), BigDecimal(11)), Map("v" -> lit("u11")),
        TableCommit.CopyOnWrite)
      assert(cu.rowsUpdated == 1, cu.toString)
      model += 11L -> "u11"
      check("CoW UPDATE")

      // the merged row's old version stays dead after a cold vector load
      TableCommit.forgetDvUnder(t)
      check("cold vector reload")
    }
  }
}
