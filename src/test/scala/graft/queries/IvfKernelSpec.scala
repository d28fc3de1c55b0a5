package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSpec
import graft.functions.NearestCells

/** The DataFrame IVF trainer and window router the driver-side Lloyd's
  * and the `NearestCells` kernel replaced, kept as the reference they
  * must reproduce. */
object IvfReference {

  private def hcol = graft.operators.TextOps.portableHash(col("vec_id").cast("string"))

  /** K-row broadcast centroid frame (cid, cv, |c|²). */
  def centFrame(s: SparkSession, cs: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    broadcast(cs.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) }
      .toSeq.toDF("cid", "cv", "cn2"))
  }

  def scoredAgainst(s: SparkSession, in: DataFrame,
      cs: Array[Array[Double]]): DataFrame =
    in.crossJoin(centFrame(s, cs))
      .withColumn("score",
        call_function("graft_dot_fd", col("v"), col("cv")) * -2.0 + col("cn2"))

  def wTopCell = Window.partitionBy(col("vec_id"))
    .orderBy(col("score").asc, col("cid").asc)

  /** (vec_id, rank, cid) for each vector's top-`n` cells. */
  def route(s: SparkSession, in: DataFrame, cs: Array[Array[Double]],
      n: Int): Set[(Long, Int, Int)] =
    scoredAgainst(s, in.select(col("vec_id"), col("v")), cs)
      .withColumn("rn", row_number().over(wTopCell))
      .filter(col("rn") <= n)
      .select(col("vec_id"), col("rn"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  /** The sample's ids, the init and the trained centroids of the
    * DataFrame Lloyd's over an `n`-row frame. */
  def train(s: SparkSession, e: DataFrame, k: Int, iters: Int, n: Long)
      : (Set[Long], Array[Array[Double]], Array[Array[Double]]) = {
    import s.implicits._
    val train = e.sample(withReplacement = false,
        fraction = Similarity.sampleFraction(n), seed = 7)
      .select(col("vec_id"), col("v")).repartition(4, col("vec_id")).cache()
    try {
      val ids = train.select(col("vec_id")).as[Long].collect().toSet
      val cents: Array[Array[Double]] = train
        .withColumn("h", hcol)
        .orderBy(col("h"), col("vec_id")).limit(k)
        .select(col("v")).as[Array[Float]].collect().map(_.map(_.toDouble))
      val init = cents.map(_.clone())
      for (_ <- 0 until iters) {
        scoredAgainst(s, train, cents)
          .groupBy(col("vec_id"))
          .agg(min(struct(col("score"), col("cid"), col("v"))).as("m"))
          .select(col("m.cid").as("cell"), posexplode(col("m.v")))
          .groupBy(col("cell"), col("pos"))
          .agg(avg(col("col").cast("double")).as("c"))
          .collect()
          .foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      }
      (ids, init, cents)
    } finally train.unpersist(blocking = true)
  }
}

/** Driver-side Lloyd's and the nearest-cell kernel against the
  * DataFrame reference: same sample and init, centroids within 1e-12
  * relative, identical cells; the router equals the window's top-n on
  * exact ties, NaN scores, null vectors and null elements. */
class IvfKernelSpec extends GraftSpec {

  private def embeddings: DataFrame = {
    graft.functions.DotProductF.register(spark)
    graft.sources.Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding").as("v"))
  }

  private def kernelRoute(in: DataFrame, cs: Array[Array[Double]],
      n: Int): Set[(Long, Int, Int)] =
    in.select(col("vec_id"), posexplode(NearestCells.column(col("v"), cs, n)))
      .collect().map(r => (r.getLong(0), r.getInt(1) + 1, r.getInt(2))).toSet

  test("driver Lloyd's: same sample and init as the DataFrame trainer, " +
      "centroids within 1e-12 relative, every vector in the same cell") {
    val e = embeddings
    val n = e.count()
    val sample = Similarity.trainingSample(e, n)
    val (refIds, refInit, refCents) = IvfReference.train(spark, e, 16, 3, n)
    assert(sample.map(_.getLong(0)).toSet == refIds)
    assert(sample.length == refIds.size)
    assert(Similarity.lloyd(sample, 16, 0).map(_.toSeq).toSeq ==
      refInit.map(_.toSeq).toSeq, "init rows differ")
    val cents = Similarity.lloyd(sample, 16, 3)
    assert(cents.length == 16 && refCents.length == 16)
    for (c <- cents.indices; i <- cents(c).indices) {
      val (a, b) = (cents(c)(i), refCents(c)(i))
      assert(math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b)),
        s"centroid $c dim $i: $a vs $b")
    }
    val mine = kernelRoute(e, cents, 1)
    assert(mine.size == n)
    assert(mine == IvfReference.route(spark, e, refCents, 1))
  }

  test("nearest-cell kernel equals the window's top-n: ties to the lower " +
      "cid, NaN last, null vectors and null elements as the window") {
    val rnd = new scala.util.Random(4242)
    val dim = 8
    val base = Array.fill(13)(Array.fill(dim)(rnd.nextGaussian()))
    // duplicate rows (exact score ties: the lower cid must win), a NaN
    // centroid (NaN scores sort last) and a zero centroid
    val cents = base ++ Array(base(3).clone(), base(7).clone(),
      Array.fill(dim)(Double.NaN)) :+ Array.fill(dim)(0.0)
    val (c3, c7) = (cents(3), cents(7))
    cents(1) = c3.clone() // ties among cids 1, 3, 13
    assert(cents.length == 17 && (cents(13) sameElements c3) &&
      (cents(14) sameElements c7))
    def f(x: Double): java.lang.Float = java.lang.Float.valueOf(x.toFloat)
    val rows = (0 until 300).map { i =>
      val v: Seq[java.lang.Float] = i % 50 match {
        case 0 => null                                  // null vector
        case 1 => Seq.fill(dim)(f(0.0))                 // all-zero vector
        case 2 => Seq.tabulate(dim)(j => f(c3(j)))      // on a tied centroid
        case 3 => Seq.tabulate(dim)(j => if (j == 2) null else f(rnd.nextGaussian()))
        case 4 => Seq.tabulate(dim)(j => if (j == 5) f(Double.NaN) else f(rnd.nextGaussian()))
        case _ => Seq.fill(dim)(f(rnd.nextGaussian()))
      }
      Row(i.toLong, v)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val in = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    graft.functions.DotProductF.register(spark)
    for (n <- Seq(1, 2, 16)) {
      val want = IvfReference.route(spark, in, cents, n)
      assert(want.size == 300 * n)
      assert(kernelRoute(in, cents, n) == want, s"codegen, n=$n")
      withSQLConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        assert(kernelRoute(in, cents, n) == want, s"interpreted, n=$n")
      }
    }
  }
}
