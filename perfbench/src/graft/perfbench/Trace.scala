package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.TableStore

/** One traced interval, in monotonic milliseconds. Spans of one op share
  * `op`; the op's own span has layer "op". */
final case class Span(op: Long, layer: String, name: String,
    start: Double, end: Double)

/** Span and counter collection for the traced run. Everything is
  * installed from outside the program, around calls into each layer's
  * public surface:
  *  - a SparkListener (jobs, stages, task metrics) and a
  *    QueryExecutionListener (planning phases) on the session;
  *  - [[CountingStore]], registered for every table path through the
  *    `TableStore.register` seam, wrapping `TableStore.local`;
  *  - an explicit span the query mixes open around the registered query
  *    call.
  *
  * Ops run one at a time on one client thread. An op's span closes only
  * after the listener bus has drained, so every Spark event the op
  * caused is attributed to it. Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession, cpus: Int) {

  private val epochOffset = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def mono(epochMs: Long): Double = epochMs - epochOffset
  def now(): Double = System.nanoTime() / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Long = -1L
  @volatile private var opStart = 0.0

  /** Raw events buffered between drain points. */
  private val lock = new Object
  private val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  private val jobStarts = mutable.Map.empty[Int, Double]
  private var stages = 0L
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobStarts(e.jobId) = mono(e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += ((e.jobId, s, mono(e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        counters("spark.tasks") += 1
        counters("spark.task_run_ms") += m.executorRunTime
        counters("spark.task_cpu_ms") += m.executorCpuTime / 1e6
        counters("spark.task_gc_ms") += m.jvmGCTime
        counters("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        counters("spark.input_bytes") += m.inputMetrics.bytesRead
        counters("spark.input_records") += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planned(qe)
  }

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = phases.values.map(_.durationMs).sum
    lock.synchronized {
      counters("planner.plan_ms") += ms
      phases.foreach { case (name, p) =>
        if (current >= 0)
          spans += Span(current, "planner", name, mono(p.startTimeMs),
            mono(p.endTimeMs))
      }
    }
  }

  /** Per-op sums over every traced op, by op kind. */
  private val totals = mutable.Map.empty[String, mutable.Map[String, Double]]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    TableStore.register("", new CountingStore(TableStore.local, this))
  }

  /** Called by [[CountingStore]] for every store call. */
  def storeCall(counter: String, t0: Long, t1: Long, bytes: Long = 0L): Unit =
    if (current >= 0) lock.synchronized {
      counters(counter) += 1
      counters("store.busy_ms") += (t1 - t0) / 1e6
      if (bytes > 0) counters("store.manifest_read_bytes") += bytes
      spans += Span(current, "store", counter, t0 / 1e6, t1 / 1e6)
    }

  /** A child span of the open op around `f`. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (current < 0) f
    else {
      val t0 = now()
      try f
      finally {
        val t1 = now()
        lock.synchronized {
          spans += Span(current, layer, name, t0, t1)
          if (layer == "queries") counters("queries.build_ms") += t1 - t0
        }
      }
    }

  private def gc(): (Double, Double) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime.toDouble).sum,
      bs.map(_.getCollectionCount.toDouble).sum)
  }
  private var gc0 = (0.0, 0.0)

  def begin(op: Long): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      jobs.clear(); jobStarts.clear(); stages = 0; counters.clear()
    }
    gc0 = gc()
    opStart = now()
    current = op
  }

  /** Close the op that started at [[begin]] and ended (its latency
    * already stamped) at `end`. */
  def finish(kind: String, name: String, end: Double): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val op = current
    val (gcMs, gcN) = gc()
    current = -1L
    lock.synchronized {
      val wall = end - opStart
      spans += Span(op, "op", s"$kind:$name", opStart, end)
      jobs.foreach { case (id, s, e) =>
        spans += Span(op, "spark", s"job $id", math.max(s, opStart), math.min(e, end))
      }
      val busy = Intervals.length(jobs.map(j => (j._2, j._3)).toSeq, opStart, end)
      val c = counters
      c("ops") += 1
      c("op_ms") += wall
      c("spark.jobs") += jobs.size
      c("spark.stages") += stages
      c("spark.job_busy_ms") += busy
      c("spark.driver_gap_ms") += wall - busy
      c("jvm.gc_ms") += gcMs - gc0._1
      c("jvm.gc_count") += gcN - gc0._2
      selfTimes(op, opStart, end).foreach { case (l, v) => c(s"self.$l") += v }
      val t = totals.getOrElseUpdate(kind, mutable.Map.empty[String, Double]
        .withDefaultValue(0.0))
      c.foreach { case (k, v) => t(k) += v }
    }
  }

  /** Self time of each layer within one op: the part of its spans'
    * union not covered by a deeper layer (op > queries > planner >
    * spark > store). */
  private def selfTimes(op: Long, s: Double, e: Double): Seq[(String, Double)] = {
    val order = Seq("op", "queries", "planner", "spark", "store")
    val mine = spans.reverseIterator.takeWhile(_.op == op).toSeq
    def iv(l: String) = mine.filter(_.layer == l).map(x => (x.start, x.end))
    order.indices.map { i =>
      val deeper = order.drop(i + 1).flatMap(iv)
      order(i) -> Intervals.minus(iv(order(i)), deeper, s, e)
    }
  }

  /** Per-op means over the traced ops of the given kinds. */
  def perOp(kinds: Seq[String]): Map[String, Double] = {
    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    kinds.flatMap(totals.get).foreach(_.foreach { case (k, v) => sum(k) += v })
    val n = math.max(1.0, sum("ops"))
    val out = sum.map { case (k, v) => k -> v / n }.toMap
    val busy = sum("spark.job_busy_ms")
    out + ("spark.slot_util" ->
      (if (busy > 0) sum("spark.task_run_ms") / (busy * cpus) else 0.0))
  }

  def writeSpans(path: String): Unit = lock.synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { x =>
      w.println(s"""{"op":${x.op},"layer":"${x.layer}","name":${Json.str(x.name)},""" +
        f""""start_ms":${x.start}%.3f,"end_ms":${x.end}%.3f}""")
    } finally w.close()
  }
}

/** Interval arithmetic on (start, end) pairs clipped to [lo, hi]. */
object Intervals {
  private def merged(xs: Seq[(Double, Double)], lo: Double, hi: Double)
      : List[(Double, Double)] =
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def length(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    merged(xs, lo, hi).map { case (a, b) => b - a }.sum

  /** Length of union(xs) minus union(ys). */
  def minus(xs: Seq[(Double, Double)], ys: Seq[(Double, Double)],
      lo: Double, hi: Double): Double = {
    val a = merged(xs, lo, hi)
    a.map { case (s, e) => e - s }.sum -
      a.map { case (s, e) => length(ys, s, e) }.sum
  }
}

/** Counting/timing adapter over a [[TableStore]]: every protocol IO call
  * is counted by kind and timed into `store.busy_ms`. */
final class CountingStore(u: TableStore, t: Tracer) extends TableStore {
  private def timed[T](k: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally t.storeCall(k, t0, System.nanoTime())
  }
  override def listManifestIds(table: String): Seq[Long] =
    timed("store.manifest_lists")(u.listManifestIds(table))
  override def manifestIdentity(table: String, id: Long): Option[String] =
    timed("store.identity_probes")(u.manifestIdentity(table, id))
  override def readManifest(table: String, id: Long): String = {
    val t0 = System.nanoTime()
    val s = u.readManifest(table, id)
    t.storeCall("store.manifest_reads", t0, System.nanoTime(),
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
    s
  }
  override def putManifestIfAbsent(table: String, id: Long, content: String): Boolean = {
    val won = timed("store.cas_puts")(u.putManifestIfAbsent(table, id, content))
    if (!won) t.storeCall("store.cas_lost", 0L, 0L)
    won
  }
  override def deleteManifest(table: String, id: Long): Unit =
    timed("store.file_deletes")(u.deleteManifest(table, id))
  override def sidecarPath(table: String, id: Long, identity: String): Option[String] =
    u.sidecarPath(table, id, identity)
  override def sidecarExists(path: String): Boolean =
    timed("store.sidecar_probes")(u.sidecarExists(path))
  override def listFilesUnder(table: String, relDir: String): Seq[String] =
    timed("store.file_lists")(u.listFilesUnder(table, relDir))
  override def listSubdirs(table: String, relDir: String): Seq[(String, Long)] =
    timed("store.file_lists")(u.listSubdirs(table, relDir))
  override def fileMtime(table: String, rel: String): Long =
    timed("store.file_stats")(u.fileMtime(table, rel))
  override def fileSize(table: String, rel: String): Long =
    timed("store.file_stats")(u.fileSize(table, rel))
  override def deleteFile(table: String, rel: String): Unit =
    timed("store.file_deletes")(u.deleteFile(table, rel))
  override def moveFile(table: String, fromRel: String, toRel: String): Unit =
    timed("store.file_moves")(u.moveFile(table, fromRel, toRel))
  override def deleteTree(table: String, relDir: String): Unit =
    timed("store.file_deletes")(u.deleteTree(table, relDir))
  override def shareFile(srcTable: String, rel: String, dstTable: String): Unit =
    timed("store.file_moves")(u.shareFile(srcTable, rel, dstTable))
}
