package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one client thread, closed loop.
  *
  * Usage (normally launched by perfbench/run.py):
  *   graft.perfbench.Main key=value ...
  * keys: workload, in (seeded input dir), ref (fixed-seed input dir),
  * refcheck (0|1: digest no-oracle queries on ref), run (scratch dir),
  * out (result JSON), seed, seconds, trace (0|1), cpus, queries
  * (comma-separated list for the query mixes).
  *
  * Set-up runs from JVM start to the first steady-state op and includes
  * the first (cold) pass; the steady phase then runs whole passes (whole
  * rounds for table_rw), a fixed minimum and at least `seconds`.
  * Correctness checks run after the steady phase and are never timed. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val cpus = a("cpus").toInt
    val run = a("run")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer =
      if (a("trace") == "1") Some(new Tracer(spark, cpus)) else None
    tracer.foreach(_.install())
    val ctx = Ctx(spark, a("in"), a.getOrElse("ref", ""), a("refcheck") == "1", run,
      a("seed").toLong, a("seconds").toDouble, cpus, tracer)
    val out: Map[String, Any] = a("workload") match {
      case "table_rw" => TableRw.run(ctx)
      case _ => QueryMix.run(ctx, a("queries").split(',').toSeq)
    }
    val kernels = tracer.map(_ => Kernels.run(ctx)).getOrElse(Map.empty)
    tracer.foreach(_.writeSpans(s"$run/spans.jsonl"))
    val builds = graft.operators.BuildLog.snapshot
    Json.write(a("out"), out ++ kernels ++ Map("peak_rss_mb" -> Ctx.vmHwmMb(),
      "sinks.artifact_build_s" -> builds.values.sum,
      "sinks.artifacts_built" -> builds.size))
    spark.stop()
  }
}

/** What every workload gets. */
final case class Ctx(spark: SparkSession, in: String, ref: String,
    refcheck: Boolean, run: String, seed: Long, seconds: Double, cpus: Int,
    tracer: Option[Tracer]) {

  /** Seconds since this JVM started (RuntimeMXBean start time). */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Ctx {
  /** The process's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
}

/** One timed op sample. */
final case class Sample(kind: String, name: String, ms: Double, ok: Boolean)

/** Runs ops one at a time, timing each and, when tracing, opening and
  * closing its span. */
final class Ops(ctx: Ctx) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  private var nextId = 0L
  /** Whether ops are traced; the traced run alternates this per pass to
    * measure tracing overhead on the same process. */
  var tracing: Boolean = ctx.tracer.isDefined

  def apply[T](kind: String, name: String)(f: => T): Option[T] = {
    nextId += 1
    val tr = ctx.tracer.filter(_ => tracing)
    tr.foreach(_.begin(nextId))
    val t0 = System.nanoTime()
    val r = try Some(f) catch {
      case e: Throwable =>
        if (errors.size < 20) errors += s"$kind $name: ${Ops.describe(e)}"
        None
    }
    val t1 = System.nanoTime()
    tr.foreach(_.finish(kind, name, t1 / 1e6))
    samples += Sample(kind, name, (t1 - t0) / 1e6, r.isDefined)
    r
  }
}

object Ops {
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replace('\n', ' ').take(300)
}

object Stats {
  /** Percentile of `xs` (0 <= p <= 100), interpolated linearly between
    * the two nearest ranks (numpy's default): it moves continuously with
    * the samples instead of jumping from one sample to the next. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val k = (s.length - 1) * p / 100
      val i = k.toInt
      val j = math.min(i + 1, s.length - 1)
      s(i) + (s(j) - s(i)) * (k - i)
    }

  /** `<prefix>_p50_ms`, `<prefix>_p90_ms` and their sample count. */
  def latency(prefix: String, xs: Seq[Double]): Map[String, Any] = Map(
    s"${prefix}_p50_ms" -> pct(xs, 50),
    s"${prefix}_p90_ms" -> pct(xs, 90),
    s"${prefix}_samples" -> xs.size)

  /** A query mix's `op_p50_ms` and `op_p90_ms`: percentiles over the
    * queries' mean latencies. A pass times each query once, and the
    * queries' latencies lie far apart, so a percentile over single ops
    * falls in the gap between two queries' samples and jumps between
    * them from run to run. With 4 or 5 samples a query's mean varies less
    * from run to run than its median. */
  def perQuery(ok: Seq[Sample]): Map[String, Any] = {
    val means = ok.groupBy(_.name).values.map(v => v.map(_.ms).sum / v.size).toSeq
    latency("op", means) + ("op_samples" -> ok.size)
  }

  /** Traced minus untraced mean op latency, averaged over the op names run
    * both ways. Each sample carries its pass (or round); the traced run
    * traces the odd ones. */
  def overhead(xs: Seq[(Sample, Int)]): Map[String, Double] = {
    val byName = xs.filter(_._1.ok).groupBy(_._1.name).values.flatMap { v =>
      val (tr, un) = v.partition(_._2 % 2 == 1)
      if (tr.isEmpty || un.isEmpty) None
      else Some(tr.map(_._1.ms).sum / tr.size - un.map(_._1.ms).sum / un.size)
    }
    Map("trace.overhead_ms" ->
      (if (byName.isEmpty) 0.0 else byName.sum / byName.size))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes("UTF-8"))
}
