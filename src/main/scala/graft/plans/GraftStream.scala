package graft.plans

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

import graft.operators.TableCommit

/** DSv2 MICRO-BATCH STREAM over a committed table — the
  * `spark.readStream.table("graft.db.t")` front door (late round 15,
  * completing the catalog story: batch read, native write, and now
  * streaming all through one identity). An OFFSET is a snapshot id;
  * micro-batch (a, b] is the union of the manifest diffs' ADDED files
  * across that window, served by an inner [[GraftScan]] pinned at b —
  * so every batch read gets the connector's whole read surface free:
  * pushed-filter manifest pruning, deletion vectors, column mapping,
  * columnar batches. Planning cost per batch is MANIFEST-METADATA
  * work only — per window commit, one memoized state reconstruction
  * plus file-list set arithmetic (`changedFileSets` compares the two
  * snapshots' complete file lists, so it is O(table file COUNT) in
  * driver memory per diff — the same cost class the V1 source pays;
  * no data file is opened to plan).
  *
  * Contract (deliberately STRICT-APPEND-ONLY): the first batch is the
  * full snapshot at the stream's first observed offset (Delta's
  * default) unless `startingSnapshot=<id>` hands off a backfill
  * position (tail AFTER id); any diff in the window that REMOVED a
  * file (replace, compact, delete, update, or a re-vectored file —
  * a DV change surfaces on both sides) fails the stream loudly.
  * The advanced modes — `ignoreChanges` re-emission, files/rows/bytes
  * admission caps, sub-snapshot offsets, Trigger.AvailableNow
  * pinning, change-feed rows — live on the V1
  * `format("graft-table")` source ([[graft.streaming.TableCommitSource]]),
  * which remains the recommended front door for them; this stream is
  * the catalog-native tail for the append-only common case.
  *
  * Mid-stream evolution guards: a column-mapping change that re-binds
  * any REQUIRED column's physical name (drop + re-add mints a fresh
  * physical) fails the stream with a restart hint — a silent
  * null-read would be worse; pure renames and added columns are
  * benign (physicals are stable under rename by the mapping
  * contract).
  *
  * Lag: the diffs and the batch's end snapshot may lie past the
  * retention window while their manifest chains are on disk
  * (`pastWindow`), so a consumer — running or restarted from its
  * checkpoint — may fall any number of commits behind until vacuum
  * deletes the chain under its offset. */
private[plans] class GraftMicroBatchStream(
    path: String, streamSchema: StructType, required: StructType,
    pushed: Array[sources.Filter], startingSnapshot: Option[Long],
    maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** The physical bindings the stream pinned at creation — the
    * mid-stream mapping-drift guard compares against these. The value
    * is (physical name, physical TYPE rendering), so a NESTED
    * drop+re-add (which changes an inner physical name inside the
    * type) trips the guard too. */
  private val pinnedPhysicals: Map[String, (String, String)] = {
    val phys = TableCommit.physicalSchemaFor(streamSchema)
    streamSchema.fields.zip(phys.fields)
      .map { case (lf, pf) => lf.name -> (pf.name, pf.dataType.json) }.toMap
  }

  private case class GraftStreamOffset(id: Long) extends Offset {
    override def json: String = id.toString
  }

  /** Only consulted when the checkpoint holds NO offset yet — so the
    * handoff position is validated HERE, not at construction: a
    * restarted stream whose long-consumed startingSnapshot has aged
    * past retention must keep running from its checkpoint. */
  override def initialOffset(): Offset = {
    startingSnapshot.foreach(id =>
      require(TableCommit.scanMeta(path, Some(id)).isDefined,
        s"startingSnapshot=$id of $path is not a reconstructable " +
          "snapshot"))
    GraftStreamOffset(startingSnapshot.getOrElse(-1L))
  }

  private def newestId: Long = {
    val n = TableCommit.resolve(path).map(_._1)
      .getOrElse(sys.error(s"$path has no committed snapshot"))
    availableNowCap.fold(n)(math.min(_, n))
  }

  override def latestOffset(): Offset = GraftStreamOffset(newestId)

  // ---- admission control (maxFilesPerTrigger) + AvailableNow -------
  /** Trigger.AvailableNow pins the run to everything committed AT
    * PREPARE TIME; commits landing mid-run wait for the next
    * invocation. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = TableCommit.resolve(path).map(_._1)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  /** Snapshot-granular admission: advance the end offset commit by
    * commit until the window's ADDED-file count would exceed the
    * budget — at least one commit always admits (progress even when a
    * single commit exceeds the cap). The initial full-snapshot batch
    * is one batch regardless (offsets are snapshot ids; splitting a
    * snapshot needs the V1 source's sub-snapshot offsets). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val a = start.asInstanceOf[GraftStreamOffset].id
    val newest = newestId
    val cap = limit match {
      case f: ReadMaxFiles => Some(f.maxFiles())
      case _ => None
    }
    val b = cap match {
      case Some(maxF) if a >= 0L =>
        var end = a
        var budget = maxF.toLong
        var done = false
        while (!done && end < newest) {
          val n = TableCommit.changedFileSets(path, end, end + 1,
            pastWindow = true)._1.length
          if (end > a && n > budget) done = true
          else { end += 1; budget -= n }
        }
        end
      case _ => newest
    }
    GraftStreamOffset(math.max(b, a))
  }

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  /** The batch's inner scan — built by [[planInputPartitions]], read
    * by [[createReaderFactory]] (Spark calls them in that order while
    * planning each micro-batch). */
  @volatile private var inner: Option[GraftScan] = None

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[GraftStreamOffset].id
    val b = end.asInstanceOf[GraftStreamOffset].id
    if (b <= a && a >= 0L) { inner = None; return Array.empty }
    val metaB = TableCommit.scanMeta(path, Some(b), pastWindow = true).getOrElse(
      sys.error(s"micro-batch end snapshot $b of $path is no longer " +
        "reconstructable — vacuum removed its manifest chain"))
    // mapping-drift guard for the columns this stream actually reads
    metaB.schema.foreach { sch =>
      val physNow = TableCommit.physicalSchemaFor(sch)
      val nowByLogical = sch.fields.zip(physNow.fields)
        .map { case (lf, pf) => lf.name -> (pf.name, pf.dataType.json) }
        .toMap
      required.fieldNames.foreach { c =>
        (pinnedPhysicals.get(c), nowByLogical.get(c)) match {
          case (Some(p0), Some(p1)) if p0 != p1 => sys.error(
            s"the physical binding or type of $c changed mid-stream " +
              s"(${p0._1} -> ${p1._1}: a drop + re-add, nested re-bind, " +
              "or type widening) — restart the stream to adopt the " +
              "evolved schema")
          case (_, None) => sys.error(
            s"required column $c no longer exists at snapshot $b — " +
              "restart the stream against the evolved schema")
          case _ =>
        }
      }
    }
    val scanMeta =
      if (a < 0L) metaB // first batch = the full snapshot at b
      else {
        val added = Seq.newBuilder[String]
        ((a + 1L) to b).foreach { id =>
          val (add, removed) = TableCommit.changedFileSets(path, id - 1, id,
            pastWindow = true)
          if (removed.nonEmpty) sys.error(
            s"commit $id of $path removed ${removed.length} file(s) — " +
              "a streaming read tails APPEND-ONLY tables; rewrites " +
              "(replace, compact, DML, re-vectored files) would emit " +
              "phantom or duplicate rows. For re-emission semantics use " +
              "spark.readStream.format(\"graft-table\")" +
              ".option(\"ignoreChanges\", true).")
          added ++= add
        }
        val window = added.result().distinct.toSet
        metaB.copy(files = metaB.files.filter(window))
      }
    val scan = new GraftScan(path, scanMeta,
      metaB.schema.getOrElse(streamSchema), required, pushed)
    inner = Some(scan)
    scan.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    inner.map(_.createReaderFactory()).getOrElse(
      // an empty micro-batch (offsets equal) plans zero partitions —
      // serve a factory that must never be asked for a reader
      new PartitionReaderFactory {
        override def createReader(p: InputPartition)
            : org.apache.spark.sql.connector.read
              .PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
          sys.error("no partitions were planned for this micro-batch")
      })

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def toString: String = s"GraftMicroBatchStream($path)"
}
