package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Captures `.explain("formatted")` output for the optimization round's
  * plan evidence (plans/r15/): each named query's final frame, plus the
  * committed-table read plans the round's read-path changes touch (the
  * scan `Location:` line is the witness — ManifestFileIndex vs a listed
  * InMemoryFileIndex). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> [name1,name2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").toSeq else Seq.empty
    outDir.mkdirs()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def dump(name: String, df: => DataFrame): Unit = {
      val text = try df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"(failed: ${e.getMessage})" }
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      val w = new java.io.PrintWriter(f)
      try w.write(text) finally w.close()
      println(s"[plandump] wrote $f")
    }
    // committed-table read fixture: bucket layout, key stats, a live DV
    // — the shape every pinned read serves
    val base = java.nio.file.Files.createTempDirectory("graft_plandump")
      .toFile.getAbsolutePath
    val t = new java.io.File(base, "t").getAbsolutePath
    import graft.operators.TableCommit
    TableCommit.appendRowsBy(spark, t, Seq("bucket(4,l_orderkey)"),
      graft.sources.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag")),
      clusterBy = Seq("l_orderkey"))
    TableCommit.delete(spark, t, Seq("bucket(4,l_orderkey)"),
      col("l_orderkey") >= lit(BigDecimal(1)) &&
        col("l_orderkey") <= lit(BigDecimal(32)),
      TableCommit.MergeOnRead)
    dump("table_read", TableCommit.read(spark, t))
    dump("table_read_where",
      TableCommit.readWhere(spark, t, "l_orderkey", BigDecimal(100),
        BigDecimal(500)))
    names.foreach(n => dump(n, SparkEntry.queries(n)(spark, sfDir)))
    graft.operators.Sinks.deleteRecursively(new java.io.File(base))
    spark.stop()
  }
}
