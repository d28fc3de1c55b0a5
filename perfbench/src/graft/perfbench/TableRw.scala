package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.TableCommit
import graft.plans.GraftCatalog
import graft.sources.Tables

/** table_rw: a seed-generated lakehouse operation stream through the SQL
  * front door on a fresh GraftCatalog warehouse — the event-ingest plus
  * keyed side-state shape.
  *
  *  - `log` (append-only, partitioned) takes `INSERT INTO` batches of
  *    re-keyed `events` rows; a `readStream.table` consumer drains it
  *    after a seed-drawn 1–3 log commits.
  *  - `state` (keyed by user_id) takes a `MERGE INTO` upsert per batch,
  *    merge-on-read `DELETE`/`UPDATE`, and a compaction plus vacuum per
  *    round.
  *  - Reads run at about two per write: point lookups, log range
  *    aggregates, a full GROUP BY, and VERSION AS OF the previous state
  *    snapshot.
  *
  * Every read, every drain's sink and the final snapshot are checked
  * against an in-memory model of the stream, untimed. A drain that
  * throws is a failed op; the consumer then restarts from a fresh
  * checkpoint. */
object TableRw {

  private val BatchRows = 200
  private val Users = 400
  private val BatchesPerRound = 2
  private val MinRounds = 2

  final case class Ev(id: Long, user: Long, kind: String, cents: Long) {
    def pt: Int = (user % 4).toInt
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val wh = s"${ctx.run}/warehouse"
    GraftCatalog.register(spark, "graft", Some(wh))
    val logPath = s"$wh/db/log"
    val statePath = s"$wh/db/state"
    val rng = new scala.util.Random(ctx.seed)
    val pool = Tables.events(spark, ctx.in)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), math.round(r.getDouble(2) * 100)))

    val ops = new Ops(ctx)
    var wrong = 0
    def bad(what: String): Unit = {
      wrong += 1
      if (ops.errors.size < 20) ops.errors += s"wrong answer: $what"
    }

    // ---- the model ---------------------------------------------------
    val log = mutable.ArrayBuffer.empty[Ev]
    val state = mutable.Map.empty[Long, (Long, Long)]
    val stateAt = mutable.LinkedHashMap.empty[Long, Map[Long, (Long, Long)]]
    var nextId = 0L
    def stateCommitted(): Unit = {
      val id = TableCommit.resolve(statePath).get._1
      stateAt(id) = state.toMap
      while (stateAt.size > 3) stateAt.remove(stateAt.head._1)
    }

    spark.sql("CREATE TABLE graft.db.log (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, cents BIGINT, pt INT) PARTITIONED BY (pt)")
    spark.sql("CREATE TABLE graft.db.state (user_id BIGINT, n BIGINT, " +
      "cents BIGINT, pt INT) PARTITIONED BY (pt)")

    var rowsReturned = 0L
    def commit(name: String, sql: String): Boolean =
      ops("commit", name)(spark.sql(sql).collect()).isDefined
    def read(name: String, sql: String)(ok: Array[Row] => Boolean): Unit =
      ops("read", name)(spark.sql(sql).collect()).foreach { rows =>
        if (ops.tracing) rowsReturned += rows.length
        if (!ok(rows)) bad(s"$name: $sql -> ${rows.take(3).mkString(",")}")
      }

    // ---- reads ---------------------------------------------------------
    def someUser(): Long =
      if (state.nonEmpty && rng.nextInt(4) > 0) state.keys.toSeq(rng.nextInt(state.size))
      else rng.nextInt(Users).toLong
    // reads cycle through the four kinds, so every run has the same mix
    var nRead = 0
    def oneRead(): Unit = { nRead += 1; readKind(nRead % 4) }
    def readKind(kind: Int): Unit = kind match {
      case 0 =>
        val k = someUser()
        read("point", s"SELECT n, cents FROM graft.db.state WHERE user_id = $k") { rs =>
          rs.map(r => (r.getLong(0), r.getLong(1))).toSeq == state.get(k).toSeq
        }
      case 1 =>
        val a = if (nextId == 0) 0L else (rng.nextDouble() * nextId).toLong
        val b = a + 50 + rng.nextInt(400)
        read("range", "SELECT count(*), coalesce(sum(cents), 0) FROM graft.db.log " +
          s"WHERE event_id BETWEEN $a AND $b") { rs =>
          val in = log.filter(e => e.id >= a && e.id <= b)
          rs.length == 1 && rs(0).getLong(0) == in.size &&
            rs(0).getLong(1) == in.map(_.cents).sum
        }
      case 2 =>
        read("group", "SELECT pt, count(*), sum(n), sum(cents) FROM graft.db.state " +
          "GROUP BY pt") { rs =>
          val want = state.groupBy(_._1 % 4).map { case (pt, m) =>
            (pt.toInt, m.size.toLong, m.values.map(_._1).sum, m.values.map(_._2).sum)
          }.toSet
          rs.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == want
        }
      case _ if stateAt.isEmpty => readKind(0)
      case _ =>
        // the previous state snapshot, still inside the retention window
        val newest = stateAt.keys.max
        val id = if (stateAt.contains(newest - 1)) newest - 1 else newest
        val m = stateAt(id)
        read("version_as_of", "SELECT count(*), coalesce(sum(cents), 0) FROM " +
          s"graft.db.state VERSION AS OF $id") { rs =>
          rs.length == 1 && rs(0).getLong(0) == m.size &&
            rs(0).getLong(1) == m.values.map(_._2).sum
        }
    }
    def reads(): Unit = { oneRead(); oneRead() }

    // ---- the stream consumer -------------------------------------------
    val sink = mutable.ArrayBuffer.empty[Long]
    var ckptN = 0
    def freshCkpt(): String = { ckptN += 1; s"${ctx.run}/ckpt/c$ckptN" }
    var ckpt = freshCkpt()
    var drainTarget = 1 + rng.nextInt(3)
    var logCommits = 0
    var drainFailures = 0
    val progress = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val collect: (DataFrame, Long) => Unit = (df, _) =>
      sink.synchronized { sink ++= df.select("event_id").as[Long].collect() }
    def drain(): Unit = {
      val started = scala.util.Try(spark.readStream.table("graft.db.log")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(collect).start())
      val ok = ops("drain", "drain")(started.get.processAllAvailable()).isDefined
      if (ops.tracing) started.foreach(_.recentProgress.foreach { p =>
        progress("stream.batches") += 1
        progress("stream.rows") += p.numInputRows
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress("stream.latest_offset_ms") += ms("latestOffset")
        progress("stream.get_batch_ms") += ms("getBatch")
        progress("stream.planning_ms") += ms("queryPlanning")
        progress("stream.add_batch_ms") += ms("addBatch")
        progress("stream.wal_commit_ms") += ms("walCommit")
      })
      if (ops.tracing) progress("drains") += 1
      started.foreach(q => scala.util.Try(q.stop()))
      if (!ok) {
        // the known lagging-consumer failure: count it, restart fresh
        drainFailures += 1
        ckpt = freshCkpt()
        sink.synchronized(sink.clear())
      } else {
        val got = sink.synchronized(sink.toSeq)
        if (got.size != got.distinct.size) bad("drain: duplicate rows in the sink")
        if (got.toSet != log.map(_.id).toSet)
          bad(s"drain: sink has ${got.toSet.size} ids, log has ${log.size}")
      }
      logCommits = 0
      drainTarget = 1 + rng.nextInt(3)
    }

    // ---- one batch of writes, with its reads ------------------------------
    // batches alternate a merge-on-read DELETE and UPDATE; the cold
    // first batch issues both
    var nBatch = 0
    def batch(): Unit = {
      nBatch += 1
      val evs = Seq.fill(BatchRows) {
        val (u, kind, cents) = pool(rng.nextInt(pool.length))
        nextId += 1
        Ev(nextId, (u * 7 + rng.nextInt(Users)) % Users, kind, cents)
      }
      evs.map(e => (e.id, e.user, e.kind, e.cents, e.pt))
        .toDF("event_id", "user_id", "event_type", "cents", "pt")
        .createOrReplaceTempView("batch_v")
      if (commit("insert", "INSERT INTO graft.db.log SELECT * FROM batch_v")) {
        log ++= evs
        logCommits += 1
      }
      reads()
      val agg = evs.groupBy(_.user).map { case (u, es) =>
        (u, es.size.toLong, es.map(_.cents).sum, (u % 4).toInt)
      }.toSeq
      agg.toDF("user_id", "n", "cents", "pt").createOrReplaceTempView("agg_v")
      if (commit("merge", "MERGE INTO graft.db.state t USING agg_v s " +
          "ON t.user_id = s.user_id WHEN MATCHED THEN UPDATE SET " +
          "n = t.n + s.n, cents = t.cents + s.cents WHEN NOT MATCHED THEN INSERT *")) {
        agg.foreach { case (u, n, c, _) =>
          val (n0, c0) = state.getOrElse(u, (0L, 0L))
          state(u) = (n0 + n, c0 + c)
        }
        stateCommitted()
      }
      reads()
      if (nBatch % 2 == 1) {
        val r = rng.nextInt(53)
        if (commit("delete", s"DELETE FROM graft.db.state WHERE user_id % 53 = $r")) {
          state.keys.filter(_ % 53 == r).toSeq.foreach(state.remove)
          stateCommitted()
        }
        reads()
      }
      if (nBatch % 2 == 0 || nBatch == 1) {
        val r = rng.nextInt(31)
        if (commit("update", s"UPDATE graft.db.state SET cents = cents + 7 " +
            s"WHERE user_id % 31 = $r")) {
          state.keys.filter(_ % 31 == r).toSeq.foreach { u =>
            val (n, c) = state(u); state(u) = (n, c + 7)
          }
          stateCommitted()
        }
        reads()
      }
      if (logCommits >= drainTarget) drain()
    }

    def maintain(): Unit = {
      if (commit("compact", "CALL graft.system.compact('db.state', " +
          "'pt=0,pt=1,pt=2,pt=3', 'user_id', 1)")) stateCommitted()
      commit("vacuum", "CALL graft.system.vacuum('db.state')")
      commit("vacuum", "CALL graft.system.vacuum('db.log')")
    }

    // cold first round, part of set-up: one batch (it issues every
    // statement and read shape), a drain, then maintenance
    val f0 = System.nanoTime()
    batch()
    if (logCommits > 0) drain()
    maintain()
    val firstPassS = (System.nanoTime() - f0) / 1e9
    val first = ops.samples.toSeq
    ops.samples.clear()
    val setupS = ctx.sinceJvmStartS()

    // steady state: whole rounds, at least MinRounds and at least
    // `seconds`; maintenance closes every round
    val s0 = System.nanoTime()
    def elapsed = (System.nanoTime() - s0) / 1e9
    var rounds = 0
    var b = 0
    val roundStart = mutable.ArrayBuffer.empty[Int]
    while (b != 0 || rounds < MinRounds || elapsed < ctx.seconds) {
      if (b == 0) {
        rounds += 1
        roundStart += ops.samples.size
        if (ctx.tracer.isDefined) ops.tracing = rounds % 2 == 1
      }
      batch()
      b += 1
      if (b == BatchesPerRound) { maintain(); b = 0 }
    }
    val steadyS = (System.nanoTime() - s0) / 1e9
    val steady = ops.samples.toSeq
    val roundOf = steady.indices.map(i => roundStart.lastIndexWhere(_ <= i) + 1)
    val ok = steady.filter(_.ok)
    ops.tracing = false

    // ---- final checks, untimed -------------------------------------------
    val finalState = spark.sql("SELECT user_id, n, cents FROM graft.db.state")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (finalState != state.toMap)
      bad(s"final state: ${finalState.size} rows vs model ${state.size}")
    val finalLog = spark.sql("SELECT event_id FROM graft.db.log").as[Long].collect()
    if (finalLog.length != log.size || finalLog.toSet != log.map(_.id).toSet)
      bad(s"final log: ${finalLog.length} rows vs model ${log.size}")

    def bytesUnder(p: String): Long = {
      val f = new java.io.File(p)
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(x => bytesUnder(x.getPath)).sum).getOrElse(0L)
    }

    def lat(kind: String) = ok.filter(_.kind == kind).map(_.ms)
    val trace: Map[String, Any] = ctx.tracer.map { t =>
      // space amplification: table roots vs the live rows as plain parquet
      val plain = s"${ctx.run}/plain"
      spark.sql("SELECT * FROM graft.db.state").coalesce(1).write.parquet(s"$plain/state")
      spark.sql("SELECT * FROM graft.db.log").coalesce(1).write.parquet(s"$plain/log")
      val stored = bytesUnder(logPath) + bytesUnder(statePath)
      val tables = Seq(logPath, statePath)
      val resolveMs = {
        val r0 = System.nanoTime()
        (1 to 20).foreach(_ => tables.foreach(TableCommit.resolve))
        (System.nanoTime() - r0) / 1e6 / 20
      }
      val reads = t.perOp(Seq("read"))
      val nDrains = math.max(1.0, progress("drains"))
      t.perOp(Seq("commit", "read", "drain")) ++ Map(
        "table.resolve_ms" -> resolveMs,
        "table.snapshots" -> tables.map(TableCommit.history(_).size).sum,
        "table.live_files" -> tables.map(TableCommit.resolve(_).get._2.size).sum,
        "table.bytes_stored" -> stored,
        "space_amp" -> stored.toDouble / math.max(1L, bytesUnder(plain)),
        "table.dv_debt_rows" -> TableCommit.dvDebt(spark, statePath).map(_.deadRows).sum,
        "table.rows_scanned_per_row_returned" ->
          (if (rowsReturned == 0) 0.0
           else reads("spark.input_records") * reads("ops") / rowsReturned)
      ) ++ progress.collect { case (k, v) if k.startsWith("stream.") => k -> v / nDrains } ++
        Stats.overhead(steady.zip(roundOf))
    }.getOrElse(Map.empty)

    Map(
      "setup_s" -> setupS,
      "first_pass_s" -> firstPassS,
      "ops_per_s" -> ok.size / steadyS,
      "steady_s" -> steadyS,
      "passes" -> rounds,
      "attempted" -> (first.size + steady.size),
      "thrown" -> (first ++ steady).count(!_.ok),
      "wrong" -> wrong,
      "drain_failures" -> drainFailures,
      "drains" -> steady.count(_.kind == "drain"),
      "errors" -> ops.errors.toSeq,
      "samples" -> steady.map(x => Seq(x.kind + ":" + x.name, x.ms, x.ok)),
      "trace" -> trace
    ) ++ Stats.latency("op", ok.map(_.ms)) ++ Stats.latency("commit", lat("commit")) ++
      Stats.latency("read", lat("read")) ++ Stats.latency("stream_drain", lat("drain"))
  }
}
