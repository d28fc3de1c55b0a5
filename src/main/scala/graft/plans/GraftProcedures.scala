package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TableCommit

/** SQL `CALL` procedures for the MAINTENANCE verbs (round-14 — the
  * Iceberg `CALL cat.system.proc(...)` shape on Spark 4's procedure
  * API): the table-format operations that are commands, not queries —
  * vacuum, compaction, restore, clone, partition evolution — each
  * reachable from a plain SQL string through [[GraftCatalog]]:
  *
  * {{{
  *   CALL graft.system.vacuum('/path/to/table')
  *   CALL graft.system.vacuum_audit('db.events')
  *   CALL graft.system.compact('db.events', 'pt=3', 'id', 1)
  *   CALL graft.system.restore('db.events', 7)
  *   CALL graft.system.clone('db.events', '/scratch/events_dev')
  *   CALL graft.system.evolve_partitioning('db.events', 'days(ts);bucket(8,uid)')
  * }}}
  *
  * The `table` argument is an absolute path or a warehouse-relative
  * `db.t` name. Each call executes the SAME TableCommit verb the
  * Scala API runs (OCC, retention, ledger semantics identical) and
  * returns the verb's audit as the statement's result rows. The two
  * query-shaped maintenance reads (DESCRIBE HISTORY, DV debt) stay
  * TVFs — they are relations, not commands. */
object GraftProcedures {

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString

  private def rowsScan(schema: StructType, out: Seq[InternalRow],
      what: String): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new org.apache.spark.sql.connector.read.LocalScan {
      private val data = out.toArray
      override def rows(): Array[InternalRow] = data
      override def readSchema(): StructType = schema
      override def description(): String = s"graft procedure $what"
    }).iterator()

  /** One bound+unbound procedure (none of these dispatch on argument
    * types, so bind() is identity). */
  private def proc(pname: String, descr: String,
      params: Seq[ProcedureParameter], out: StructType)(
      body: (SparkSession, InternalRow) => Seq[InternalRow])
      : UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = pname
      override def description(): String = descr
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] =
        rowsScan(out, body(SparkSession.active, input), s"$pname()")
    }

  private def p(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()
  private def pd(n: String, dt: DataType, d: String): ProcedureParameter =
    ProcedureParameter.in(n, dt).defaultValue(d).build()

  /** The procedure set; `resolve` maps a `table` argument (absolute
    * path or warehouse-relative `db.t`) to the table root. */
  def all(resolve: String => String): Map[String, UnboundProcedure] = Map(
    "vacuum" -> proc("vacuum",
      "delete past-retention data files, stale orphans and " +
        "chain-surplus manifests (the executing twin of vacuum_audit)",
      Seq(p("table", StringType)),
      StructType(Seq(StructField("dead_files_deleted", IntegerType),
        StructField("orphans_swept", IntegerType)))) { (_, in) =>
      val (dead, orphans) = TableCommit.vacuumRun(resolve(str(in, 0)))
      Seq(InternalRow(dead, orphans))
    },

    "vacuum_audit" -> proc("vacuum_audit",
      "dry run: retained snapshot ids, live/dead file counts and " +
        "sweepable orphans — nothing is deleted",
      Seq(p("table", StringType)),
      StructType(Seq(
        StructField("retained_snapshots", ArrayType(LongType)),
        StructField("live_files", IntegerType),
        StructField("dead_files", IntegerType),
        StructField("orphans", IntegerType)))) { (_, in) =>
      val (ids, live, dead, orphans) =
        TableCommit.vacuumAudit(resolve(str(in, 0)))
      Seq(InternalRow(org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(ids.toArray), live, dead, orphans))
    },

    "compact" -> proc("compact",
      "rewrite the named partition dirs into files_per_partition " +
        "files clustered by cluster_by (reads THROUGH deletion " +
        "vectors — compaction IS the REORG purge); dirs/cluster_by " +
        "are comma-separated; dirs may be any-level prefixes",
      Seq(p("table", StringType), p("dirs", StringType),
        pd("cluster_by", StringType, "''"),
        pd("files_per_partition", IntegerType, "1")),
      StructType(Seq(StructField("snapshot_id", LongType)))) { (s, in) =>
      val t = resolve(str(in, 0))
      val spec = TableCommit.partSpec(t)
      val dirs = str(in, 1).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      val cluster = str(in, 2).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      TableCommit.compactPartitionsBy(s, t, spec, dirs, cluster,
        math.max(1, in.getInt(3)))
      Seq(InternalRow(TableCommit.resolve(t).get._1))
    },

    "restore" -> proc("restore",
      "republish a retained snapshot's state as the NEWEST commit " +
        "(time travel made durable; history is append-only)",
      Seq(p("table", StringType), p("snapshot_id", LongType)),
      StructType(Seq(StructField("snapshot_id", LongType)))) { (_, in) =>
      val t = resolve(str(in, 0))
      TableCommit.restore(t, in.getLong(1))
      Seq(InternalRow(TableCommit.resolve(t).get._1))
    },

    "tag" -> proc("tag",
      "pin a snapshot under a name: VERSION AS OF 'name' resolves it " +
        "and vacuum leases it past retention until drop_tag",
      Seq(p("table", StringType), p("name", StringType),
        p("snapshot_id", LongType)),
      StructType(Seq(StructField("name", StringType),
        StructField("snapshot_id", LongType)))) { (_, in) =>
      val t = resolve(str(in, 0))
      TableCommit.tag(t, str(in, 1), in.getLong(2))
      Seq(InternalRow(UTF8String.fromString(str(in, 1)), in.getLong(2)))
    },

    "drop_tag" -> proc("drop_tag",
      "drop a snapshot tag — the vacuum lease ends",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("dropped", BooleanType)))) { (_, in) =>
      val t = resolve(str(in, 0))
      val existed = TableCommit.tags(t).contains(str(in, 1))
      TableCommit.dropTag(t, str(in, 1))
      Seq(InternalRow(existed))
    },

    "clone" -> proc("clone",
      "zero-copy shallow clone of the newest snapshot (same-store " +
        "bytes shared by link, object stores by server-side copy)",
      Seq(p("src", StringType), p("dst", StringType)),
      StructType(Seq(StructField("snapshot_id", LongType)))) { (_, in) =>
      Seq(InternalRow(
        TableCommit.cloneTo(resolve(str(in, 0)), resolve(str(in, 1)))))
    },

    "evolve_partitioning" -> proc("evolve_partitioning",
      "declare a new partition spec (';'-joined entries — identity " +
        "columns and days()/bucket()/truncate() transforms) as a " +
        "metadata-only commit; existing files migrate gradually",
      Seq(p("table", StringType), p("spec", StringType)),
      StructType(Seq(StructField("snapshot_id", LongType)))) { (s, in) =>
      val t = resolve(str(in, 0))
      TableCommit.evolvePartitioningBy(s, t,
        str(in, 1).split(';').toSeq.map(_.trim).filter(_.nonEmpty))
      Seq(InternalRow(TableCommit.resolve(t).get._1))
    })
}
