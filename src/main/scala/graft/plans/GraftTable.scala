package graft.plans

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{DvCodec, TableCommit}

/** A committed table as a DSv2 [[Table]] (round-13 verdict item 1).
  * The scan serves the PINNED snapshot (analysis-time resolution, so
  * a query races no writer), with the table format's read semantics
  * carried by the connector itself:
  *
  *  - MANIFEST DATA SKIPPING: pushed range/equality filters prune
  *    files against `#stats` bands (numeric BigDecimal order, string
  *    code-point order against truncated bounds) and identity
  *    partition dirs — zero IO before parquet ever opens. Every
  *    filter stays residual above the scan (truncated stats and
  *    row-group granularity make source-exact filtering a lie), so
  *    pushdown can only drop provably-dead files, never rows.
  *  - DELETION VECTORS: each input partition ships its own files'
  *    compressed blobs; readers drop dead positions by row index
  *    (the parquet row-index column) — so MoR tables serve correct
  *    rows through SQL with no materialization, which the bucketed
  *    VIEW trick had to refuse.
  *  - COLUMN MAPPING: footers are read under PHYSICAL names; rows are
  *    position-identical to the logical schema, so the mapping is a
  *    name translation at plan time, zero row-time cost.
  *  - KEY-GROUPED PARTITIONING: a single-level `bucket(n, key)`
  *    layout reports `KeyGroupedPartitioning(bucket(n, key))` with
  *    one input partition per present bucket — two committed tables
  *    equi-joined on `key` storage-partition-join with ZERO Exchange,
  *    no serve-tree links, re-registration-free across commits
  *    (contrast TableCommit.registerBucketedView, the session-catalog
  *    interim which pays O(files) driver-serial links per snapshot).
  *
  * At 100 TB: scan planning is manifest-metadata-sized, partitions
  * carry only their own DV blobs, and the row path is Spark's own
  * vectorized parquet reader — the connector adds a projection only
  * when vectors or column order demand one. */
class GraftTable(val path: String, pinnedId: Option[Long])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private[plans] lazy val meta: TableCommit.ScanMeta =
    TableCommit.scanMeta(path, pinnedId).getOrElse(
      sys.error(s"$path has no committed snapshot" +
        pinnedId.fold("")(i => s" $i in the retention window")))

  private[plans] lazy val logicalSchema: StructType =
    meta.schema.getOrElse(
      // schemaless adopted manifest-0: infer once through the pinned
      // read (footer-sampled, metadata-cheap)
      TableCommit.readAt(SparkSession.active, path, meta.id).schema)

  override def name(): String =
    s"graft.`$path`" + pinnedId.fold("")(i => s"@v$i")

  override def schema(): StructType = logicalSchema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer's
      // ResolveMergeIntoSchemaEvolution gate — evolution itself runs
      // through GraftCatalog.alterTable (AddColumn = the nullable
      // schema-merge append; widenings ride the widen lattice)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION,
      // spark.readStream.table("graft.db.t") — see GraftMicroBatchStream
      TableCapability.MICRO_BATCH_READ,
      // writeStream.toTable("graft.db.t") — see GraftStreamingWrite
      TableCapability.STREAMING_WRITE)

  override def properties(): java.util.Map[String, String] =
    meta.props.asJava

  override def partitioning(): Array[Transform] =
    meta.props.get("graft.partcols").map(
      TableCommit.specColsOfProp(_).map { sc =>
        sc.transform match {
          case Some(("bucket", n)) => Expressions.bucket(n, sc.source)
          case Some(("days", _)) => Expressions.days(sc.source)
          case Some(("trunc", w)) =>
            // literal-first, the bucket convention — and the argument
            // order GraftTruncUnbound binds (width INT, then the key)
            Expressions.apply("truncate", Expressions.literal(w),
              Expressions.column(sc.source))
          case _ => Expressions.identity(sc.source)
        }
      }.toArray).getOrElse {
      // no DECLARED spec: a uniform identity layout IS the implicit
      // spec (the same rule the SQL DML lowering applies) — without
      // it the analyzer refuses a static `PARTITION (…)` clause on a
      // perfectly partitioned table; dirs may carry physical names on
      // mapped tables, so translate back to the logical field
      meta.files.map(TableCommit.layoutSigOf).distinct match {
        case Seq(one) => one.flatMap(dir =>
          logicalSchema.fields.find(f => f.name == dir ||
            TableCommit.physicalNameOf(f) == dir))
          .map(f => Expressions.identity(f.name)).toArray
        case _ => Array.empty
      }
    }

  private[plans] def isPinned: Boolean = pinnedId.isDefined

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, options)

  /** The NATIVE write path (round-14 verdict item 1): executor tasks
    * write the parquet, per-task commit messages feed the OCC publish
    * kernel — see [[GraftWriteBuilder]]. A time-travel-pinned identity
    * is read-only by construction. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(pinnedId.isEmpty,
      s"cannot write to $path VERSION AS OF ${pinnedId.get} — a pinned " +
        "snapshot is immutable (write to the table's newest identity)")
    new GraftWriteBuilder(this, info)
  }
}

class GraftScanBuilder(table: GraftTable,
    options: CaseInsensitiveStringMap =
      CaseInsensitiveStringMap.empty()) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = table.logicalSchema
  private var pushed: Array[sources.Filter] = Array.empty
  private var countPlan: Option[GraftCountScan] = None

  override def pushFilters(filters: Array[sources.Filter])
      : Array[sources.Filter] = {
    // accept the shapes the manifest/parquet layers can act on; ALL
    // filters stay residual above the scan regardless (file pruning
    // must never be row-exact filtering)
    pushed = filters.filter(GraftScan.supportedFilter)
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ------------- METADATA-ONLY COUNTS (aggregate pushdown) ----------
  /** `SELECT count(*) FROM t` (and `GROUP BY <one identity partition
    * column>`) answered from `#rows` manifest metadata — LIVE counts
    * by protocol (MoR commits decrement covered files' entries as
    * they register vectors) — ZERO data IO on a 100 TB table, the
    * audit read the table format records row accounting for.
    * Spark only offers an aggregate when every filter was fully
    * pushed; this scan always keeps filters residual, so the offer
    * arrives exactly when there is NO filter — the only case the
    * metadata answer is sound. Refused (scan proceeds normally) when
    * any file predates `#rows`, a dir value is missing/NULL, or the
    * aggregate shape is anything but COUNT(*). */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = planCounts(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    planCounts(agg) match {
      case some @ Some(_) => countPlan = some; true
      case None => false
    }

  // supportCompletePushDown and pushAggregation both arrive with the
  // same Aggregation — plan once (the DV decode is a real job)
  private var plannedFor: Option[(AnyRef, Option[GraftCountScan])] = None

  private def planCounts(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[GraftCountScan] = plannedFor match {
    case Some((prior, res)) if prior eq agg => res
    case _ =>
      val res = planCounts0(agg)
      plannedFor = Some((agg, res))
      res
  }

  private def planCounts0(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[GraftCountScan] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    val meta = table.meta
    val files = meta.files
    if (pushed.nonEmpty || agg.aggregateExpressions.isEmpty ||
        !files.forall(meta.rows.contains)) return None
    // the shapes the manifest can answer: COUNT(*) from `#rows` (LIVE
    // counts by protocol — MoR commits decrement covered entries, the
    // rowCount() witness), MIN/MAX of an INTEGRAL column from `#stats`
    // (untruncated exact renderings; integral parse is lossless) — the
    // latter only while NO deletion vector is live anywhere (a dead
    // row may hold the recorded extremum)
    def statsCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        table.logicalSchema.fields.find(_.name == r.fieldNames().head)
          .filter(f => f.dataType == ByteType || f.dataType == ShortType ||
            f.dataType == IntegerType || f.dataType == LongType ||
            // zoned timestamps record exact UTC epoch-micros digit
            // strings (round-15) — lossless parse, internal encoding
            f.dataType == TimestampType)
          .filter(f => files.forall(rel => meta.stats.contains((rel, f.name))))
          .filter(_ => meta.dv.isEmpty)
      case _ => None
    }
    sealed trait A
    case object CStar extends A
    final case class MinOf(f: StructField) extends A
    final case class MaxOf(f: StructField) extends A
    val specs: Seq[A] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => CStar
      case m: Min => MinOf(statsCol(m.column()).getOrElse(return None))
      case m: Max => MaxOf(statsCol(m.column()).getOrElse(return None))
      case _ => return None
    }
    def toTyped(v: BigDecimal, dt: DataType): Any = dt match {
      case ByteType => v.toByteExact
      case ShortType => v.toShortExact
      case IntegerType => v.toIntExact
      // TimestampType's internal encoding IS epoch micros (Long)
      case _ => v.toLongExact
    }
    def aggRow(fs: Seq[String]): Seq[Any] = specs.map {
      case CStar => fs.map(meta.rows).sum
      case MinOf(f) =>
        val vs = fs.map(rel => BigDecimal(meta.stats((rel, f.name))._1))
        if (vs.isEmpty) null else toTyped(vs.min, f.dataType)
      case MaxOf(f) =>
        val vs = fs.map(rel => BigDecimal(meta.stats((rel, f.name))._2))
        if (vs.isEmpty) null else toTyped(vs.max, f.dataType)
    }
    def outFields(prefixFields: Seq[StructField]): StructType = StructType(
      prefixFields ++ specs.zipWithIndex.map {
        case (CStar, i) => StructField(s"count_$i", LongType, nullable = false)
        case (MinOf(f), i) => StructField(s"min_$i", f.dataType)
        case (MaxOf(f), i) => StructField(s"max_$i", f.dataType)
      })
    scala.util.Try {
      agg.groupByExpressions.toSeq match {
        case Seq() =>
          Some(new GraftCountScan(table.path, outFields(Nil),
            Seq(InternalRow.fromSeq(aggRow(files)))))
        case Seq(ref: NamedReference) if ref.fieldNames().length == 1 =>
          val c = ref.fieldNames().head
          val f = table.logicalSchema.fields.find(_.name == c)
            .getOrElse(return None)
          // every file must carry the dir with a non-null value
          val dirVals = files.map(rel =>
            rel -> GraftScan.dirValuesOf(rel).get(c))
          if (dirVals.exists(_._2.isEmpty)) return None
          // group by the POST-CAST typed key, not the raw dir string:
          // with supportCompletePushDown the scan rows ARE the final
          // results, and an adopted tree rendering one typed key two
          // ways ('01' vs '1' for an INT column) would emit duplicate
          // group rows; a dir value that casts to NULL refuses (real
          // scan) instead of silently becoming a null group
          val typed = dirVals.map { case (rel, v) =>
            rel -> GraftScan.castDirValue(v.get, f.dataType) }
          if (typed.exists(_._2 == null)) return None
          val rows = typed.groupBy(_._2).toSeq.sortBy(_._1.toString).map {
            case (v, fs) => InternalRow.fromSeq(v +: aggRow(fs.map(_._1)))
          }
          Some(new GraftCountScan(table.path, outFields(Seq(f)), rows))
        case _ => None
      }
    }.getOrElse(None) // a non-integral stats rendering → fall back
  }

  override def build(): Scan = countPlan.getOrElse(
    new GraftScan(table.path, table.meta, table.logicalSchema,
      required, pushed, streamPinned = table.isPinned,
      startingSnapshot =
        Option(options.get("startingSnapshot")).map(_.toLong),
      maxFilesPerTrigger =
        Option(options.get("maxFilesPerTrigger")).map(_.toInt)))
}

/** The metadata-only aggregate scan: rows were fully computed at plan
  * time from `#rows` / `#stats` manifest entries; execution emits
  * them from one partition with zero file IO. */
private[graft] class GraftCountScan(path: String,
    outSchema: StructType, rows: Seq[InternalRow])
    extends Scan with Batch {

  override def readSchema(): StructType = outSchema

  override def description(): String =
    s"graft $path metadata-only count (#rows/#stats; zero data IO)"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftCountPartition(rows))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
        private val it = p.asInstanceOf[GraftCountPartition].rows.iterator
        private var row: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { row = it.next(); true } else false
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    }
}

private[plans] final case class GraftCountPartition(rows: Seq[InternalRow])
  extends InputPartition

/** One file slice of an input partition, fully resolved on the
  * driver: byte range, Hive partition values, layout-group id, and
  * (when covered) the file's deletion-vector blobs. */
private[plans] final case class GraftFileSlice(
    rel: String, absPath: String, start: Long, length: Long,
    fileSize: Long, groupId: Int, partValues: Array[Any],
    dvBlobs: Seq[Array[Byte]]) extends Serializable

private[plans] final case class GraftInputPartition(
    slices: Seq[GraftFileSlice], partKey: Option[Seq[Any]])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow.fromSeq(partKey.getOrElse(
      sys.error("partitionKey on a non-key-grouped partition")))
}

/** Per-layout-group reader recipe: the driver-built parquet closure
  * plus the positional map from closure output to the scan schema.
  * `batchReader` is the COLUMNAR twin (present iff this group can
  * serve ColumnarBatches positionally identical to the scan schema —
  * no DV row filter, no projection shim needed); `batchPartIdxs`
  * projects a slice's full partition values down to the requested
  * partition columns the batch closure appends. */
private[plans] final case class GraftGroupReader(
    reader: PartitionedFile => Iterator[InternalRow],
    partTypes: Seq[DataType],
    // closure output position of each requested field, scan order
    outPositions: Seq[Int],
    rowIdxPos: Int,
    batchReader: Option[PartitionedFile => Iterator[InternalRow]] = None,
    batchPartIdxs: Array[Int] = Array.empty) extends Serializable

class GraftScan(path: String, meta: TableCommit.ScanMeta,
    logicalSchema: StructType, required: StructType,
    pushed: Array[sources.Filter],
    streamPinned: Boolean = false,
    startingSnapshot: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None) extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  import GraftScan._

  private val session = SparkSession.active

  /** Files DYNAMIC PARTITION PRUNING dropped at runtime (the
    * filtered-dim ⋈ identity-partitioned-fact shape: Spark runs the
    * dim side first and hands the join keys' value set back through
    * [[filter]]) — empty until then. */
  @volatile private var runtimeDropped: Set[String] = Set.empty

  // ---------------- manifest-level pruning (zero IO) ----------------
  private lazy val keptFiles: Seq[String] =
    filesKept(meta.files, meta.stats, logicalSchema, pushed)

  // ------------------- layout groups (mid-evolution) ----------------
  private lazy val sigGroups: Seq[Seq[String]] =
    keptFiles.map(TableCommit.layoutSigOf).distinct.sortBy(_.mkString("/"))

  /** Schema fields dir-encoded under `sig` (identity partitioning —
    * the payload does NOT carry them); mapped tables may lay dirs out
    * under physical names. */
  private def partFieldsOf(sig: Seq[String]): Seq[(String, StructField)] =
    sig.flatMap(dir => logicalSchema.fields.find(f =>
      f.name == dir || TableCommit.physicalNameOf(f) == dir)
      .map(dir -> _))

  private lazy val anyDv: Boolean =
    keptFiles.exists(f => meta.dv.getOrElse(f, Nil).nonEmpty)

  // ----------------- key-grouped layout detection --------------------
  /** MULTI-LEVEL key grouping (round-14 verdict item 4, generalizing
    * the single-level bucket detection): Some((transforms, file→key))
    * iff the DECLARED spec's entries are each identity / `days` /
    * `bucket` / `truncate`, at least one is a TRANSFORM (pure-identity
    * layouts keep
    * dynamic partition pruning instead — the dim-filter shape), and
    * EVERY kept file sits exactly spec-deep in the declared layout
    * with every dir value parsing to its typed partition key. Then the
    * scan's rows are key-grouped by construction and two tables
    * committed under the same spec storage-partition-join with ZERO
    * Exchange — the `days(ts);bucket(n,key)` fact layout this engine
    * recommends at 100 TB (exactly what the streaming transform sink
    * produces) joins day-and-key co-located straight from the
    * committed trees. Anything else falls back to size-binned splits
    * (correct, just not co-partitioned) — the silent-fallback twin of
    * registerBucketedView's loud refusals. */
  private lazy val keyGrouped: Option[(Array[Transform], Map[String, Seq[Any]])] = {
    def parse(): Option[(Array[Transform], Map[String, Seq[Any]])] = {
      val specs = meta.props.get("graft.partcols")
        .map(TableCommit.specColsOfProp).getOrElse(return None)
      if (specs.isEmpty || specs.forall(_.transform.isEmpty)) return None
      val fields = specs.map(sc =>
        logicalSchema.fields.find(_.name == sc.source).getOrElse(return None))
      val transforms: Array[Transform] = specs.map { sc =>
        sc.transform match {
          case None => Expressions.identity(sc.source)
          case Some(("bucket", n)) => Expressions.bucket(n, sc.source)
          case Some(("days", _)) => Expressions.days(sc.source)
          case Some(("trunc", w)) =>
            // the width-baked single-argument family: a literal width
            // argument would be a second LEAF, and catalyst's
            // KeyGroupedPartitioning.satisfies refuses multi-leaf
            // partition expressions (see GraftTruncWUnbound)
            Expressions.apply(s"truncate$w", Expressions.column(sc.source))
          case _ => return None
        }
      }.toArray
      val keyed = keptFiles.map { rel =>
        val segs = rel.split('/').dropRight(1)
        if (segs.length != specs.length) return None
        val key: Seq[Any] = specs.zip(fields).zip(segs).map {
          case ((sc, f), seg) =>
            val cut = seg.indexOf('=')
            if (cut <= 0) return None
            val dirName = seg.substring(0, cut)
            val okName = dirName == sc.dirName ||
              (sc.transform.isEmpty &&
                dirName == TableCommit.physicalNameOf(f))
            if (!okName) return None
            val raw = seg.substring(cut + 1)
            if (raw == "__HIVE_DEFAULT_PARTITION__") {
              if (sc.transform.isDefined) return None
              null
            } else {
              val v = TableCommit.pctDecode(raw)
              sc.transform match {
                case None => castDirValue(v, f.dataType)
                case Some(("bucket", n)) =>
                  val b = scala.util.Try(v.toInt).getOrElse(return None)
                  if (b < 0 || b >= n) return None
                  b
                case Some(("days", _)) =>
                  // the dir renders the UTC calendar day; the typed key
                  // is its epoch day (the catalog days() function's
                  // result encoding — DateType internal int)
                  scala.util.Try(java.time.LocalDate.parse(v)
                    .toEpochDay.toInt).getOrElse(return None)
                case Some(("trunc", w)) => f.dataType match {
                  // the dir IS the derived value: a string level's
                  // W-char prefix (UTF8String — GraftTruncFunction's
                  // StringType result), an integral level's floor
                  // multiple (LongType result; refuse non-canonical
                  // dirs that aren't multiples of W)
                  case StringType => UTF8String.fromString(v)
                  case ByteType | ShortType | IntegerType | LongType =>
                    val m = scala.util.Try(v.toLong).getOrElse(return None)
                    if (java.lang.Math.floorMod(m, w.toLong) != 0L)
                      return None
                    m
                  case _ => return None
                }
                case _ => return None
              }
            }
        }
        rel -> key
      }
      Some((transforms, keyed.toMap))
    }
    parse()
  }

  // ----------------------- partition planning -----------------------
  private def sliceOf(rel: String, groupId: Int,
      partVals: Array[Any], start: Long, len: Long, size: Long,
      dv: Map[String, Seq[Array[Byte]]]): GraftFileSlice =
    GraftFileSlice(rel, s"$path/$rel", start, len, size, groupId,
      partVals, dv.getOrElse(rel, Nil))

  private lazy val partitions: Array[InputPartition] =
    buildPartitions(keptFiles)

  /** DV blobs of the kept files, gathered ONCE per scan from the
    * process-wide vector memo — the DPP re-plan
    * ([[planInputPartitions]] after [[filter]]) rebuilds partitions
    * over a SUBSET of keptFiles and reuses this map. */
  private lazy val dvForKept: Map[String, Seq[Array[Byte]]] =
    TableCommit.dvBlobsFor(session, path, meta, keptFiles)

  private def buildPartitions(files: Seq[String]): Array[InputPartition] = {
    val groupIdx = sigGroups.zipWithIndex.toMap
    val partFieldCache = sigGroups.map(partFieldsOf)
    def partValsOf(rel: String): Array[Any] = {
      val sig = TableCommit.layoutSigOf(rel)
      val dirVals = dirValuesOf(rel)
      partFieldCache(groupIdx(sig)).map { case (dir, f) =>
        dirVals.get(dir).map(castDirValue(_, f.dataType)).orNull
      }.toArray
    }
    def sizeOf(rel: String): Long =
      meta.bytes.getOrElse(rel, TableCommit.statFileSize(path, rel))
    val dv = dvForKept
    keyGrouped match {
      case Some((_, keyOf)) =>
        // one partition per PRESENT key tuple — grouping is the scan's
        // own property, not a physical-planning favor
        files.groupBy(keyOf).toSeq
          .sortBy(_._1.map(String.valueOf).mkString(" "))
          .map { case (key, fs) =>
            GraftInputPartition(fs.map(rel => sliceOf(rel,
              groupIdx(TableCommit.layoutSigOf(rel)), partValsOf(rel),
              0L, sizeOf(rel), sizeOf(rel), dv)), Some(key))
              : InputPartition
          }.toArray
      case None =>
        // size-binned splits, Spark's own open-cost heuristics
        val conf = session.sessionState.conf
        val totalBytes = files.map(sizeOf).sum +
          files.length * conf.filesOpenCostInBytes
        val maxSplit = math.max(conf.filesOpenCostInBytes,
          math.min(conf.filesMaxPartitionBytes,
            totalBytes / math.max(1, session.sparkContext.defaultParallelism)))
        val slices = files.flatMap { rel =>
          val size = sizeOf(rel)
          val gid = groupIdx(TableCommit.layoutSigOf(rel))
          val pv = partValsOf(rel)
          if (size <= 0L) Seq(sliceOf(rel, gid, pv, 0L, size, size, dv))
          else (0L until size by maxSplit).map(off =>
            sliceOf(rel, gid, pv, off, math.min(maxSplit, size - off),
              size, dv))
        }
        // bin-pack (first-fit in path order — keeps locality of small
        // files in one partition)
        val bins = Seq.newBuilder[GraftInputPartition]
        var cur = Vector.empty[GraftFileSlice]
        var curBytes = 0L
        slices.foreach { sl =>
          val cost = sl.length + conf.filesOpenCostInBytes
          if (cur.nonEmpty && curBytes + cost > maxSplit) {
            bins += GraftInputPartition(cur, None)
            cur = Vector.empty; curBytes = 0L
          }
          cur :+= sl; curBytes += cost
        }
        if (cur.nonEmpty) bins += GraftInputPartition(cur, None)
        bins.result().toArray[InputPartition]
    }
  }

  // --------------------------- Scan surface -------------------------
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** `spark.readStream.table("graft.db.t")` — the catalog-native
    * append-only tail; see [[GraftMicroBatchStream]] for the contract
    * (the advanced knobs stay on the V1 `format("graft-table")`
    * source). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!streamPinned,
      s"cannot stream $path VERSION AS OF a pinned snapshot — a pinned " +
        "identity is one immutable batch; stream the table itself")
    new GraftMicroBatchStream(path, logicalSchema, required, pushed,
      startingSnapshot, maxFilesPerTrigger)
  }
  override def description(): String =
    s"graft $path snapshot ${meta.id} " +
      s"(${keptFiles.length}/${meta.files.length} files after pruning)"

  override def outputPartitioning(): Partitioning = keyGrouped match {
    case Some((transforms, _)) =>
      new KeyGroupedPartitioning(
        transforms.map(t => t: org.apache.spark.sql.connector
          .expressions.Expression),
        partitions.length)
    case None => new UnknownPartitioning(partitions.length)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(1L,
      keptFiles.map(f => meta.bytes.getOrElse(f, 8L << 20)).sum))
    override def numRows(): OptionalLong =
      if (!anyDv && keptFiles.forall(meta.rows.contains))
        OptionalLong.of(keptFiles.map(meta.rows).sum)
      else OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeDropped.isEmpty) partitions
    else buildPartitions(keptFiles.filterNot(runtimeDropped))

  // ------------- DYNAMIC PARTITION PRUNING (runtime filtering) ------
  /** Identity partition-dir columns every kept file carries — the
    * attributes a DPP subquery can hand values back for. Bucket
    * layouts opt out: their scans report KeyGroupedPartitioning, and
    * runtime-dropping buckets would have to renegotiate the grouped
    * partition count mid-plan (the SPJ already removed the shuffle
    * DPP exists to shrink). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector
      .expressions.NamedReference] =
    if (keyGrouped.isDefined) Array.empty
    else sigGroups.map(partFieldsOf(_).map(_._2.name).toSet)
      .reduceOption(_ intersect _).getOrElse(Set.empty)
      .toArray.sorted.map(Expressions.column)

  /** Runtime arm of [[filterAttributes]]: EqualTo/In value sets from
    * the executed dim side drop whole files by their dir value —
    * unmatched shapes are ignored (the join above still applies them;
    * pruning may only ever be a subset claim). */
  override def filter(filters: Array[sources.Filter]): Unit = {
    val colType = logicalSchema.fields.map(f => f.name -> f.dataType).toMap
    val byCol: Seq[(String, Seq[Any])] = filters.toSeq.collect {
      case sources.EqualTo(c, v) if v != null => c -> Seq(v)
      case sources.In(c, vs) => c -> vs.toSeq.filter(_ != null)
    }
    if (byCol.nonEmpty) {
      val dropped = keptFiles.filter { rel =>
        val dirVals = dirValuesOf(rel)
        byCol.exists { case (c, vs) =>
          dirVals.get(c).exists(dv =>
            !vs.exists(v => keepsValue(colType.get(c), dv, Some(v), Some(v))))
        }
      }.toSet
      runtimeDropped = dropped
      GraftScan.lastRuntimeFilter.set((path, dropped))
    }
  }

  /** Test probe: what the runtime filter dropped. */
  private[graft] def runtimeDroppedProbe: Set[String] = runtimeDropped

  override def createReaderFactory(): PartitionReaderFactory = {
    val fmt = new ParquetFileFormat()
    val hadoopConf = session.sessionState.newHadoopConf()
    val withRowIdx = anyDv
    val groups = sigGroups.map { sig =>
      val partFields = partFieldsOf(sig)
      val partNames = partFields.map(_._2.name).toSet
      // payload fields under PHYSICAL names: the row layout is
      // position-identical to the logical view, names translate here
      val physAll = TableCommit.physicalSchemaFor(logicalSchema)
      val physByLogical = logicalSchema.fields.zip(physAll.fields).toMap
      val dataSchema = StructType(logicalSchema.fields
        .filterNot(f => partNames.contains(f.name)).map(physByLogical))
      val reqPayload = required.fields.toSeq
        .filterNot(f => partNames.contains(f.name))
        .map(f => physByLogical(logicalSchema.fields.find(_.name == f.name)
          .getOrElse(sys.error(s"${f.name} not in $path's schema"))))
      val rowIdxField = StructField(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
      val closureRequired = StructType(
        if (withRowIdx) reqPayload :+ rowIdxField else reqPayload)
      val partSchema = StructType(partFields.map(_._2))
      // parquet row-group pruning filters: payload-only, physical names
      val logicalToPhys = logicalSchema.fields.map(f =>
        f.name -> TableCommit.physicalNameOf(f)).toMap
      val dataFilters = pushed.toSeq.filter(f =>
        f.references.forall(r => !partNames.contains(r) &&
          logicalToPhys.contains(r)))
        .flatMap(renameFilter(_, logicalToPhys))
      // buildReaderWithPartitionValues WRITES the requested schema into
      // the conf it is given before broadcasting it — each layout
      // group must get its own copy or the last group's projection
      // clobbers every other group's closure
      val reader = fmt.buildReaderWithPartitionValues(session, dataSchema,
        partSchema, closureRequired, dataFilters,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new org.apache.hadoop.conf.Configuration(hadoopConf))
      // closure output = closureRequired ++ partSchema, positional
      val outNames = closureRequired.fields.map(_.name).toSeq ++
        partFields.map(_._2.name)
      val physName = required.fields.map(f =>
        if (partNames.contains(f.name)) f.name
        else logicalToPhys(f.name)).toSeq
      // ---------------- COLUMNAR twin (round-14 verdict item 6) ------
      // A DV-free group whose scan schema is POSITIONALLY the closure
      // output — payload fields first (in order), then a subset of the
      // partition fields in layout order — needs no projection shim,
      // so the vectorized parquet reader's ColumnarBatches can surface
      // as-is: the catalog path keeps whole-stage codegen's columnar
      // scan instead of falling to rows. DV row filters and reordered
      // projections stay on the row path (correct, just row-at-a-time).
      val batchPartFields = partFields.filter(pf =>
        required.fieldNames.contains(pf._2.name))
      // positional iff required = [payload fields, in required order]
      // ++ [partition fields, in layout order]
      val reqNames = required.fields.map(_.name).toSeq
      val positional = {
        val payloadNames = reqNames.filterNot(partNames.contains)
        val partInReq = reqNames.filter(partNames.contains)
        reqNames == payloadNames ++ partInReq &&
          partInReq == batchPartFields.map(_._2.name)
      }
      val batchSchema = StructType(closureRequired.fields ++
        batchPartFields.map(_._2))
      val batchOk = !withRowIdx && positional &&
        fmt.supportBatch(session, batchSchema)
      val batchReader =
        if (!batchOk) None
        else Some(fmt.buildReaderWithPartitionValues(session, dataSchema,
          StructType(batchPartFields.map(_._2)), closureRequired,
          dataFilters,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "true"),
          new org.apache.hadoop.conf.Configuration(hadoopConf)))
      val batchPartIdxs = batchPartFields.map(pf =>
        partFields.indexWhere(_._2.name == pf._2.name)).toArray
      GraftGroupReader(reader,
        partFields.map(_._2.dataType),
        physName.map(outNames.indexOf),
        if (withRowIdx) reqPayload.length else -1,
        batchReader, batchPartIdxs)
    }
    new GraftReaderFactory(groups.toArray,
      required.fields.map(_.dataType))
  }
}

private[graft] object GraftScan {
  /** Test observability for dynamic partition pruning: (table path,
    * dropped files) of the most recent [[GraftScan.filter]] call in
    * this JVM — AQE buries the scan inside leaf query stages, so a
    * spec cannot fish the instance out of the executed plan. */
  private[graft] val lastRuntimeFilter =
    new java.util.concurrent.atomic.AtomicReference[(String, Set[String])](
      ("", Set.empty))

  /** Filter shapes the pruning layers understand. */
  def supportedFilter(f: sources.Filter): Boolean = f match {
    case _: sources.EqualTo | _: sources.GreaterThan |
         _: sources.GreaterThanOrEqual | _: sources.LessThan |
         _: sources.LessThanOrEqual | _: sources.In |
         _: sources.IsNotNull | _: sources.IsNull |
         _: sources.StringStartsWith => true
    case sources.And(l, r) => supportedFilter(l) && supportedFilter(r)
    case _ => false
  }

  /** THE manifest-level pruning rule (zero IO), shared by the scan and
    * `TableCommit.delete`/`update`, so a DML `WHERE` prunes exactly as
    * a SQL read of it does: a file is dropped only when a band the
    * filters imply ([[rangeBands]]) provably misses it — by its
    * identity partition dir value ([[keepsValue]]) or by its recorded
    * `#stats` range ([[keepsStats]]). A column `schema` does not type,
    * or a file with no stats for it, keeps the file. */
  def filesKept(files: Seq[String],
      stats: Map[(String, String), (String, String)], schema: StructType,
      filters: Seq[sources.Filter]): Seq[String] = {
    val colType = schema.fields.map(f => f.name -> f.dataType).toMap
    val bands = rangeBands(filters)
    files.filter { rel =>
      val sig = TableCommit.layoutSigOf(rel)
      val dirVals = dirValuesOf(rel)
      bands.forall { case (c, (lo, hi)) =>
        colType.get(c) match {
          case _ if sig.contains(c) =>
            // identity partition dir: the file holds EXACTLY this value
            dirVals.get(c).forall(v =>
              keepsValue(colType.get(c), v, lo, hi))
          case Some(t) =>
            stats.get((rel, c)) match {
              case Some((mn, mx)) => keepsStats(t, mn, mx, lo, hi)
              case None => true
            }
          case None => true
        }
      }
    }
  }

  /** column → (lo, hi) closed bands implied by the pushed filters
    * (open ends None; equality = degenerate band; conjunctions
    * intersect — the strictest bound wins). */
  def rangeBands(pushed: Seq[sources.Filter])
      : Map[String, (Option[Any], Option[Any])] = {
    val out = scala.collection.mutable.Map
      .empty[String, (Option[Any], Option[Any])]
    def tighten(c: String, lo: Option[Any], hi: Option[Any]): Unit = {
      val (l0, h0) = out.getOrElse(c, (None, None))
      out(c) = (pick(l0, lo, want = 1), pick(h0, hi, want = -1))
    }
    def walk(f: sources.Filter): Unit = f match {
      case sources.EqualTo(c, v) if v != null => tighten(c, Some(v), Some(v))
      case sources.GreaterThan(c, v) => tighten(c, Some(v), None)
      case sources.GreaterThanOrEqual(c, v) => tighten(c, Some(v), None)
      case sources.LessThan(c, v) => tighten(c, None, Some(v))
      case sources.LessThanOrEqual(c, v) => tighten(c, None, Some(v))
      case sources.In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        // the enclosing band of the value set
        ordOf(vs.head).foreach { _ =>
          tighten(c, vs.sortWith(lt).headOption,
            vs.sortWith(lt).lastOption)
        }
      case sources.And(l, r) => walk(l); walk(r)
      case _ =>
    }
    pushed.foreach(walk)
    out.toMap
  }

  /** Strictest of two optional bounds: want=1 keeps the larger lower
    * bound, want=-1 the smaller upper bound. */
  private def pick(a: Option[Any], b: Option[Any],
      want: Int): Option[Any] = (a, b) match {
    case (None, x) => x
    case (x, None) => x
    case (Some(x), Some(y)) =>
      if (lt(x, y)) { if (want > 0) Some(y) else Some(x) }
      else { if (want > 0) Some(x) else Some(y) }
  }

  private def ordOf(v: Any): Option[Int] = v match {
    case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double |
         _: java.math.BigDecimal | _: BigDecimal => Some(0)
    case _: String => Some(1)
    case _: java.sql.Date | _: java.time.LocalDate => Some(2)
    case _: java.sql.Timestamp | _: java.time.Instant => Some(3)
    case _ => None
  }

  /** UTC epoch micros of a ZONED-timestamp filter value (both Java
    * encodings Spark's pushdown may hand over) — the rendering zoned
    * `#stats` record (round-15). NTZ values (LocalDateTime) stay
    * unbandable here by design: their stats are ISO strings on the
    * lex path. */
  private def tsMicrosOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  /** ISO `yyyy-MM-dd` of a date filter value — comparable against the
    * recorded DATE stats bounds (same rendering) iff both sides are
    * in the four-digit-year lex-safe era; None otherwise (file kept).
    * NTZ timestamps are deliberately absent from this path: their
    * filter-value rendering ('T' separator) does not match the
    * recorded bounds, so pruning on them would be a silent-loss trap.
    * ZONED timestamps prune through [[tsMicrosOf]] instead — their
    * stats are epoch-micros renderings (round-15). */
  private def isoDateOf(v: Any): Option[String] = (v match {
    // not Date.toString: it renders year 10000 as "0000", lex-safe and
    // below every real date, which would prune every file
    case d: java.sql.Date => Some(d.toLocalDate.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _ => None
  }).filter(TableCommit.isoLexSafe)

  private def toBD(v: Any): Option[BigDecimal] = v match {
    case b: Byte => Some(BigDecimal(b.toInt))
    case s: Short => Some(BigDecimal(s.toInt))
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case f: Float => Some(BigDecimal(f.toDouble))
    case d: Double => Some(BigDecimal(d))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case d: BigDecimal => Some(d)
    case _ => None
  }

  private def lt(a: Any, b: Any): Boolean = (toBD(a), toBD(b)) match {
    case (Some(x), Some(y)) => x < y
    case _ => (a, b) match {
      case (x: String, y: String) => TableCommit.cpCompare(x, y) < 0
      case _ => (isoDateOf(a), isoDateOf(b)) match {
        case (Some(x), Some(y)) => TableCommit.cpCompare(x, y) < 0
        case _ => (tsMicrosOf(a), tsMicrosOf(b)) match {
          case (Some(x), Some(y)) => x < y
          case _ => false
        }
      }
    }
  }

  /** Overlap test of a file's recorded [mn, mx] against the filter
    * band, typed like every band entry point; malformed or foreign
    * combinations keep the file. */
  def keepsStats(t: DataType, mn: String, mx: String,
      lo: Option[Any], hi: Option[Any]): Boolean = t match {
    case _: NumericType =>
      scala.util.Try {
        hi.flatMap(toBD).forall(h => BigDecimal(mn) <= h) &&
        lo.flatMap(toBD).forall(l => BigDecimal(mx) >= l)
      }.getOrElse(true)
    case DateType =>
      // ISO renderings order lexicographically in the lex-safe era;
      // an unsafe bound on either side keeps the file
      TableCommit.isoLexSafe(mn) && TableCommit.isoLexSafe(mx) && {
        hi.flatMap(isoDateOf).forall(h => TableCommit.cpCompare(mn, h) <= 0) &&
        lo.flatMap(isoDateOf).forall(l => TableCommit.cpCompare(mx, l) >= 0)
      } || !(TableCommit.isoLexSafe(mn) && TableCommit.isoLexSafe(mx))
    case StringType =>
      (lo.forall(_.isInstanceOf[String]) &&
        hi.forall(_.isInstanceOf[String])) && {
        hi.forall(h => TableCommit.cpCompare(mn, h.asInstanceOf[String]) <= 0) &&
        lo.forall(l => TableCommit.cpCompare(mx, l.asInstanceOf[String]) >= 0)
      } || !(lo.forall(_.isInstanceOf[String]) &&
        hi.forall(_.isInstanceOf[String]))
    case TimestampType =>
      // zoned stats are UTC epoch-micros digit strings (round-15);
      // non-digit bounds or unconvertible filter values keep the file
      scala.util.Try {
        hi.flatMap(tsMicrosOf).forall(h => mn.toLong <= h) &&
        lo.flatMap(tsMicrosOf).forall(l => mx.toLong >= l)
      }.getOrElse(true)
    case _ => true
  }

  /** Exact-value test for an identity partition dir value. */
  def keepsValue(t: Option[DataType], v: String,
      lo: Option[Any], hi: Option[Any]): Boolean = t match {
    case Some(_: NumericType) =>
      scala.util.Try {
        val x = BigDecimal(v)
        lo.flatMap(toBD).forall(_ <= x) && hi.flatMap(toBD).forall(_ >= x)
      }.getOrElse(true)
    case Some(DateType) if TableCommit.isoLexSafe(v) =>
      lo.flatMap(isoDateOf).forall(l => TableCommit.cpCompare(v, l) >= 0) &&
      hi.flatMap(isoDateOf).forall(h => TableCommit.cpCompare(v, h) <= 0)
    case Some(StringType) =>
      lo.forall {
        case l: String => TableCommit.cpCompare(v, l) >= 0
        case _ => true
      } && hi.forall {
        case h: String => TableCommit.cpCompare(v, h) <= 0
        case _ => true
      }
    case _ => true
  }

  /** Hive dir values of one rel path: dirName → decoded value. */
  def dirValuesOf(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val cut = seg.indexOf('=')
      if (cut <= 0) None
      else {
        val raw = seg.substring(cut + 1)
        if (raw == "__HIVE_DEFAULT_PARTITION__") None
        else Some(seg.substring(0, cut) -> TableCommit.pctDecode(raw))
      }
    }.toMap

  /** A dir string cast to the column's type (Catalyst cast — the same
    * coercion partition discovery applies). */
  def castDirValue(v: String, dt: DataType): Any =
    Cast(Literal(UTF8String.fromString(v), StringType), dt,
      Some(java.time.ZoneOffset.UTC.getId)).eval()

  /** Rename a filter tree's attribute references logical→physical;
    * None when any node is out of vocabulary (dropped from parquet
    * pushdown — residual evaluation still applies it). */
  def renameFilter(f: sources.Filter,
      m: Map[String, String]): Option[sources.Filter] = {
    def n(c: String): Option[String] = m.get(c)
    f match {
      case sources.EqualTo(c, v) => n(c).map(sources.EqualTo(_, v))
      case sources.GreaterThan(c, v) => n(c).map(sources.GreaterThan(_, v))
      case sources.GreaterThanOrEqual(c, v) =>
        n(c).map(sources.GreaterThanOrEqual(_, v))
      case sources.LessThan(c, v) => n(c).map(sources.LessThan(_, v))
      case sources.LessThanOrEqual(c, v) =>
        n(c).map(sources.LessThanOrEqual(_, v))
      case sources.In(c, vs) => n(c).map(sources.In(_, vs))
      case sources.IsNull(c) => n(c).map(sources.IsNull)
      case sources.IsNotNull(c) => n(c).map(sources.IsNotNull)
      case sources.StringStartsWith(c, v) =>
        n(c).map(sources.StringStartsWith(_, v))
      case sources.And(l, r) =>
        for (a <- renameFilter(l, m); b <- renameFilter(r, m))
          yield sources.And(a, b)
      case _ => None
    }
  }
}

/** Executor-side reader: runs each slice through its layout group's
  * parquet closure, drops deletion-vectored positions by row index,
  * and projects to the scan schema. */
private[plans] class GraftReaderFactory(
    groups: Array[GraftGroupReader],
    outTypes: Array[DataType]) extends PartitionReaderFactory {

  /** Columnar iff EVERY group built a batch closure (no DV row
    * filter, positional schema) — Spark refuses MIXED row/columnar
    * partitions outright, so a mid-evolution snapshot with one
    * row-only layout group keeps the whole scan on rows. */
  private val allColumnar: Boolean =
    groups.nonEmpty && groups.forall(_.batchReader.isDefined)

  override def supportColumnarReads(partition: InputPartition): Boolean =
    allColumnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val slices = p.slices.iterator
      private var current: Iterator[
        org.apache.spark.sql.vectorized.ColumnarBatch] = Iterator.empty
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _

      private def nextSlice(): Boolean = {
        if (!slices.hasNext) return false
        val sl = slices.next()
        val g = groups(sl.groupId)
        // the batch closure appends only the REQUESTED partition
        // columns — project the slice's full layout values down
        val pv = g.batchPartIdxs.map(sl.partValues)
        val pf = PartitionedFile(
          InternalRow.fromSeq(pv.toSeq),
          SparkPath.fromPathString(sl.absPath), sl.start, sl.length,
          Array.empty[String], 0L, sl.fileSize)
        // the vectorized reader surfaces batches through the row-typed
        // closure signature — Spark's own FileSourceScanExec applies
        // the same cast
        current = g.batchReader.get.apply(pf)
          .asInstanceOf[Iterator[
            org.apache.spark.sql.vectorized.ColumnarBatch]]
        true
      }

      override def next(): Boolean = {
        while (!current.hasNext) if (!nextSlice()) return false
        batch = current.next()
        true
      }

      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
        batch
      override def close(): Unit = ()
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      private val slices = p.slices.iterator
      private var current: Iterator[InternalRow] = Iterator.empty
      private var row: InternalRow = _

      private def nextSlice(): Boolean = {
        if (!slices.hasNext) return false
        val sl = slices.next()
        val g = groups(sl.groupId)
        val pf = PartitionedFile(
          InternalRow.fromSeq(sl.partValues.toSeq),
          SparkPath.fromPathString(sl.absPath), sl.start, sl.length,
          Array.empty[String], 0L, sl.fileSize)
        var it: Iterator[InternalRow] = g.reader(pf)
        if (sl.dvBlobs.nonEmpty && g.rowIdxPos >= 0) {
          // a position is dead when ANY covering vector holds it —
          // primitive k-way merge of the (already-sorted) decodes, no
          // boxed Seq[Long]/hash-distinct pass (symmetric to the
          // write side's chunk-bounded encode)
          val dead: Array[Long] = DvCodec.mergeDecoded(sl.dvBlobs)
          val at = g.rowIdxPos
          it = it.filter(r =>
            java.util.Arrays.binarySearch(dead, r.getLong(at)) < 0)
        }
        val proj = UnsafeProjection.create(
          g.outPositions.zip(outTypes).map { case (pos, dt) =>
            BoundReference(pos, dt, nullable = true)
          }.toArray[org.apache.spark.sql.catalyst.expressions.Expression])
        current = it.map(proj)
        true
      }

      override def next(): Boolean = {
        while (!current.hasNext) if (!nextSlice()) return false
        row = current.next()
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
