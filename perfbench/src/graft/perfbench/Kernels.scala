package graft.perfbench

import org.apache.spark.sql.functions.{col, expr}

import graft.operators.{BlockPairScan, CheckpointSidecar, DvCodec}
import graft.sources.Tables

/** Kernel micro-numbers for the traced run, each on the workload's own
  * data: direct calls to the public kernels, timed as the median of a few
  * repetitions. A kernel whose input the workload did not produce (no
  * deletion vectors or checkpoints outside table_rw) reports 0. */
object Kernels {

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def timeMs(reps: Int)(f: => Unit): Double =
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  private def filesUnder(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) f +: filesUnder(f) else Seq(f))

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val wh = new java.io.File(ctx.run, "warehouse")
    val found = filesUnder(wh)

    // deletion vectors the workload wrote: canonical blobs in *.v2 dirs
    val blobs: Seq[Array[Byte]] = found.filter(f => f.isDirectory && f.getName.endsWith(".v2"))
      .flatMap(d => spark.read.parquet(d.getPath).select("bmp").as[Array[Byte]].collect())
    val positions = blobs.map(DvCodec.decode)
    val nPos = positions.map(_.length).sum.toDouble
    val (enc, dec) =
      if (nPos == 0) (0.0, 0.0)
      else {
        val reps = math.max(3, (200000 / nPos).toInt)
        (timeMs(reps)(positions.foreach(DvCodec.encode)) * 1e6 / nPos,
          timeMs(reps)(blobs.foreach(DvCodec.decode)) * 1e6 / nPos)
      }

    // checkpoint sidecars the workload published
    val sidecars = found.filter(f => f.isFile && f.getName.startsWith(".ckpt-") &&
      f.getName.endsWith(".parquet"))
    val meta =
      if (sidecars.isEmpty) 0.0
      else timeMs(5)(sidecars.foreach(f => CheckpointSidecar.readMeta(f.getPath))) /
        sidecars.size

    val docs = Tables.documents(spark, ctx.in)
      .select(col("doc_id"), expr("array_distinct(filter(split(text, ' '), t -> t != ''))"))
      .as[(Long, Array[String])].cache()
    docs.count()
    val emb = Tables.embeddings(spark, ctx.in).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].cache()
    emb.count()
    emb.createOrReplaceTempView("perfbench_emb")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val jaccard = timeMs(3)(noop(BlockPairScan.tokenJaccardPairs(docs, 949, 1000, 9500)))
    val knn = timeMs(3)(noop(BlockPairScan.knnPartials(emb, 5)))
    val dot = timeMs(3)(noop(spark.sql("SELECT a.vec_id, b.vec_id, " +
      "graft_dot_f(a.embedding, b.embedding) AS s FROM perfbench_emb a " +
      "JOIN perfbench_emb b ON a.vec_id < b.vec_id")))
    docs.unpersist(); emb.unpersist()

    Map(
      "kernel.dv_positions" -> nPos,
      "kernel.dv_encode_ns_per_pos" -> enc,
      "kernel.dv_decode_ns_per_pos" -> dec,
      "kernel.sidecar_read_meta_ms" -> meta,
      "kernel.token_jaccard_ms" -> jaccard,
      "kernel.knn_partials_ms" -> knn,
      "kernel.dot_f_selfjoin_ms" -> dot)
  }
}
