package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The two query-mix workloads (etl_mix, corpus_mix): passes over a
  * frozen list of registered queries, each op one registered call plus a
  * full materialization through the noop sink, in a seed-shuffled order
  * per pass. */
object QueryMix {

  private val MinPasses = 4

  private def fns: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries

  def run(ctx: Ctx, names: Seq[String]): Map[String, Any] = {
    val spark = ctx.spark
    val all = fns
    val ops = new Ops(ctx)
    val rng = new scala.util.Random(ctx.seed)
    val oracle = SparkEntry.oracleSql
    val coldDigest = scala.collection.mutable.Map.empty[String, String]
    /** One op. In the first pass the result also becomes check evidence:
      * an oracle query writes parquet for the DuckDB check, any other is
      * collected and digested. Every sink materializes every row. */
    def op(name: String, first: Boolean = false): Unit = ops("query", name) {
      val df = ctx.tracer.fold(all(name)(spark, ctx.in))(
        _.span("queries", name)(all(name)(spark, ctx.in)))
      if (!first) df.write.format("noop").mode("overwrite").save()
      else if (oracle.contains(name))
        df.write.mode("overwrite").parquet(s"${ctx.run}/check/$name")
      else coldDigest(name) = digest(df)
    }

    // cold first pass: part of set-up (it pays the artifact builds)
    val f0 = System.nanoTime()
    rng.shuffle(names).foreach(op(_, first = true))
    val firstPassS = (System.nanoTime() - f0) / 1e9
    val first = ops.samples.toSeq
    ops.samples.clear()
    val setupS = ctx.sinceJvmStartS()

    // steady state: whole passes, at least MinPasses and at least
    // `seconds`, so every run times each query the same way
    val s0 = System.nanoTime()
    def elapsed = (System.nanoTime() - s0) / 1e9
    var pass = 0
    val passOf = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (pass < MinPasses || elapsed < ctx.seconds) {
      pass += 1
      // traced run: odd passes traced, even passes not (overhead A/B)
      if (ctx.tracer.isDefined) ops.tracing = pass % 2 == 1
      rng.shuffle(names).foreach { n => op(n); passOf += pass }
    }
    val steadyS = (System.nanoTime() - s0) / 1e9
    val steady = ops.samples.toSeq
    val ok = steady.filter(_.ok)

    val checks = names.map { n =>
      n -> oracle.get(n).fold(digestCheck(ctx, n, coldDigest.get(n)))(sql =>
        Map("kind" -> "oracle", "sql" -> sql))
    }.toMap
    val perQuery = (first ++ steady).groupBy(_.name).map { case (k, v) => k -> v.size }
    val medianMs = steady.groupBy(_.name).map { case (k, v) => k -> Stats.pct(v.map(_.ms), 50) }

    Map(
      "setup_s" -> setupS,
      "first_pass_s" -> firstPassS,
      "ops_per_s" -> ok.size / steadyS,
      "steady_s" -> steadyS,
      "passes" -> pass,
      "attempted" -> (first.size + steady.size),
      "thrown" -> (first ++ steady).count(!_.ok),
      "ops_by_query" -> perQuery,
      "median_ms_by_query" -> medianMs,
      "samples" -> steady.map(x => Seq(x.name, x.ms, x.ok)),
      "checks" -> checks,
      "errors" -> ops.errors.toSeq,
      "trace" -> ctx.tracer.map(t => t.perOp(Seq("query")) ++
        Stats.overhead(steady.zip(passOf))).getOrElse(Map.empty)
    ) ++ Stats.perQuery(ok)
  }

  /** Untimed check of a query with no oracle. Its warm result on the
    * seeded input must digest the same as its cold first-pass result
    * (which paid any artifact build). With `refcheck`, its digest on the
    * fixed-seed reference input is also reported, for run.py to compare
    * with the one recorded in perfbench/digests.json. */
  private def digestCheck(ctx: Ctx, name: String, cold: Option[String])
      : Map[String, Any] =
    try {
      val warm = digest(fns(name)(ctx.spark, ctx.in))
      Map("kind" -> "digest", "cold" -> cold, "warm" -> warm) ++
        (if (ctx.refcheck) Map("ref" -> digest(fns(name)(ctx.spark, ctx.ref)))
         else Map.empty)
    } catch { case e: Throwable => Map("kind" -> "error", "error" -> Ops.describe(e)) }

  /** Order-insensitive SHA-256 over the rendered rows. */
  def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString.take(32) + s":${rows.length}"
  }
}
