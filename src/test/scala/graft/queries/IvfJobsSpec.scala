package graft.queries

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Window

import graft.GraftSpec

/** IVF training and routing as narrow kernels: a cold IVF model trains
  * in one Spark job, a steady `n_cosine_knn_ivf` runs a pinned number of
  * jobs, and no routed plan ranks cells with a window over vec_id. */
class IvfJobsSpec extends GraftSpec {

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      GraftTestBus.drain(spark.sparkContext)
      (a, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a cold IVF model trains in exactly one Spark job") {
    graft.operators.ModelStore.evict(sfTiny)
    // the session's first read of the file infers its schema in a job of
    // its own; that belongs to the table load, not to training
    graft.sources.Tables.embeddings(spark, sfTiny)
    val (cents, jobs) = jobsDuring(Similarity.ivfCentroids(spark, sfTiny))
    assert(cents.length == 16)
    assert(jobs == 1, s"cold ivfCentroids ran $jobs jobs")
  }

  test("a steady n_cosine_knn_ivf runs at most 5 Spark jobs") {
    val q = graft.SparkEntry.queries("n_cosine_knn_ivf")
    q(spark, sfTiny).write.format("noop").mode("overwrite").save()
    val (_, jobs) = jobsDuring(
      q(spark, sfTiny).write.format("noop").mode("overwrite").save())
    assert(jobs <= 5, s"steady n_cosine_knn_ivf ran $jobs jobs")
  }

  test("no routed plan ranks cells with a window partitioned by vec_id") {
    for (name <- Seq("n_cosine_knn_ivf", "n_semdedup", "n_ivf_pq")) {
      val plan = graft.SparkEntry.queries(name)(spark, sfTiny)
        .queryExecution.optimizedPlan
      val byVecId = plan.collect {
        case w: Window if w.partitionSpec.exists {
          case a: Attribute => a.name == "vec_id"
          case _ => false
        } => w
      }
      assert(byVecId.isEmpty, s"$name still routes with a window:\n$plan")
    }
  }
}
