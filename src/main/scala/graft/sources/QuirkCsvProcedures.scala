package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL stored procedures for graft_cat maintenance —
  * `CALL graft_cat.system.<p>(…)` via the DSv2 [[ProcedureCatalog]]
  * tier, so every lifecycle operation the raw layer supports is
  * runnable from pure SQL, the way the reference's operators live
  * entirely in SQL (`SQLproject1.sql` throughout):
  *
  *  - `history('ns.tbl')` — the version log (DESCRIBE HISTORY).
  *  - `current_version('ns.tbl')` — the latest committed version.
  *  - `vacuum('ns.tbl', retain_last)` — drop attic generations past the
  *    horizon; returns it.
  *  - `compact('ns.tbl', num_files)` — fold small files (each value dir
  *    of a partitioned table, the root of a flat one); returns
  *    (files_before, files_after) summed.
  *  - `restore('ns.tbl', to_version)` — roll the table back to a past
  *    version AS A NEW VERSION (one-call undo); returns it.
  *  - `sweep('ns.tbl', min_age_minutes)` — remove crash residue older
  *    than the age gate: pre-replay asides a dead stream never
  *    re-committed and staged/replaced CTAS-RTAS directories whose
  *    commit never ran; returns (n_swept, bytes_freed).
  *
  * Outputs are driver-local [[LocalScan]] rows: maintenance results are
  * a handful of rows by construction (the version LOG, never data), so
  * nothing distributed is materialized. The table argument is
  * catalog-relative (`namespace.table`). */
private[sources] object QuirkCsvProcedures {

  val Namespace = "system"

  val Names: Seq[String] =
    Seq("history", "current_version", "vacuum", "compact", "restore",
      "sweep")

  def load(cat: QuirkCsvCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.toSeq == Seq(Namespace) &&
      Names.contains(ident.name),
      s"unknown procedure ${ident.namespace.mkString(".")}.${ident.name}" +
        s" — graft_cat provides ${Names.map(n => s"$Namespace.$n").mkString(", ")}")
    new GraftProcedure(cat, ident.name)
  }

  private def param(n: String, t: DataType) =
    ProcedureParameter.in(n, t).build()

  private[sources] final class GraftProcedure(cat: QuirkCsvCatalog,
                                              procName: String)
    extends UnboundProcedure with BoundProcedure {

    override def name(): String = procName
    override def description(): String = procName match {
      case "history" => "version log of a graft_cat table"
      case "current_version" => "latest committed version of a table"
      case "vacuum" => "drop attic generations, pin the retention horizon"
      case "compact" => "fold small files (per value dir when partitioned)"
      case "restore" => "roll the table back to a version, as a new version"
      case "sweep" => "remove crash residue (pre-replay asides, staged dirs)"
    }
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = procName match {
      case "history" | "current_version" =>
        Array(param("table", StringType))
      case "vacuum" =>
        Array(param("table", StringType), param("retain_last", IntegerType))
      case "compact" =>
        Array(param("table", StringType), param("num_files", IntegerType))
      case "restore" =>
        Array(param("table", StringType), param("to_version", IntegerType))
      case "sweep" =>
        Array(param("table", StringType), param("min_age_minutes", IntegerType))
    }

    private def outSchema: StructType = procName match {
      case "history" => StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("action", StringType, nullable = false),
        StructField("committed_at_ms", LongType, nullable = false),
        StructField("n_added", LongType, nullable = false),
        StructField("n_retired", LongType, nullable = false)))
      case "current_version" => StructType(Seq(
        StructField("version", LongType, nullable = false)))
      case "vacuum" => StructType(Seq(
        StructField("horizon", LongType, nullable = false)))
      case "compact" => StructType(Seq(
        StructField("files_before", LongType, nullable = false),
        StructField("files_after", LongType, nullable = false)))
      case "restore" => StructType(Seq(
        StructField("restored_as_version", LongType, nullable = false)))
      case "sweep" => StructType(Seq(
        StructField("n_swept", LongType, nullable = false),
        StructField("bytes_freed", LongType, nullable = false)))
    }

    override def call(input: InternalRow): util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val dir = cat.resolveTableDir(table)
      val fs = dir.getFileSystem(hadoopConf)
      val out: Seq[InternalRow] = procName match {
        case "history" =>
          QuirkCsvVersions.readLog(fs, dir).map(e =>
            new GenericInternalRow(Array[Any](e.version,
              UTF8String.fromString(e.action), e.ts,
              e.added.size.toLong,
              (e.retired.size + e.replaced.size).toLong)))
        case "current_version" =>
          Seq(new GenericInternalRow(
            Array[Any](QuirkCsvVersions.currentVersion(fs, dir))))
        case "vacuum" =>
          val h = QuirkCsvVersions.vacuum(fs, dir, input.getInt(1))
          Seq(new GenericInternalRow(Array[Any](h)))
        case "compact" =>
          val n = input.getInt(1)
          val spark = org.apache.spark.sql.SparkSession.active
          val targets: Seq[String] = QuirkCsv.readPartitioning(dir) match {
            case Some(pc) =>
              // partitioned: each LEAF value dir is the compaction unit
              // (one nesting level per partition column); the root guard
              // (and the hidden-dir guard) stay authoritative
              QuirkCsv.leafValueDirs(fs, dir, QuirkCsv.splitColsOption(pc))
                .map(_._1.toString).sorted
            case None => Seq(dir.toString)
          }
          // value dirs fold CONCURRENTLY (bounded driver pool): a
          // 100k-partition table must not issue 100k Spark jobs one at
          // a time with the cluster idle between them
          val (b, a) = QuirkCsvMaintenance.compactValueDirs(
            spark, targets, n)
          Seq(new GenericInternalRow(Array[Any](b, a)))
        case "restore" =>
          val v = QuirkCsvVersions.restore(fs, dir, input.getInt(1).toLong)
          Seq(new GenericInternalRow(Array[Any](v)))
        case "sweep" =>
          // crash residue older than min_age_minutes: `.‹f›.pre-replay`
          // asides (a replay that never re-committed — sweeping one
          // forfeits that epoch's pre-replay bytes from history, the
          // same envelope as vacuum discarding snapshots; the age gate
          // keeps a LIVE replay's aside safe) and `.staged-<t>-*` /
          // `.replaced-<t>-*` directories (CTAS/RTAS that died between
          // materialize and commit — never reader-visible, pure bytes)
          val cutoff = System.currentTimeMillis() -
            input.getInt(1).toLong * 60000L
          var n = 0L
          var bytes = 0L
          def sweepIn(d: org.apache.hadoop.fs.Path,
                      pred: org.apache.hadoop.fs.FileStatus => Boolean)
          : Unit =
            if (fs.exists(d)) fs.listStatus(d).foreach { st =>
              if (pred(st) && st.getModificationTime < cutoff) {
                bytes += (if (st.isFile) st.getLen
                  else fs.getContentSummary(st.getPath).getLength)
                n += 1
                fs.delete(st.getPath, true)
              }
            }
          def isAside(st: org.apache.hadoop.fs.FileStatus) =
            st.isFile && st.getPath.getName
              .endsWith(QuirkCsvStreamingWriterFactory.PreReplaySuffix)
          sweepIn(dir, isAside)
          QuirkCsv.readPartitioning(dir) match {
            case Some(pc) =>
              // partitioned: asides live in LEAF value dirs
              QuirkCsv.leafValueDirs(fs, dir, QuirkCsv.splitColsOption(pc))
                .foreach { case (vd, _) => sweepIn(vd, isAside) }
            case None => ()
          }
          val t = dir.getName
          sweepIn(dir.getParent, st => st.isDirectory &&
            (st.getPath.getName.startsWith(s".staged-$t-") ||
              st.getPath.getName.startsWith(s".replaced-$t-")))
          // stale index-maintenance lock markers in the namespace: the
          // same takeover IndexMaintenanceLock performs at its own
          // stale bound, made operator-schedulable here. The age gate
          // for THIS residue class is floored at StaleLockMs regardless
          // of the caller's min_age_minutes: a small gate is reasonable
          // for staged-dir residue, but lock markers heartbeat while
          // live — sweeping one younger than the lease would break
          // mutual exclusion under a running maintenance job
          val lockCutoff = math.min(cutoff, System.currentTimeMillis() -
            graft.operators.IndexMaintenanceLock.StaleLockMs)
          def sweepLocksIn(d: org.apache.hadoop.fs.Path): Unit =
            if (fs.exists(d)) fs.listStatus(d).foreach { st =>
              if (st.isFile &&
                  st.getPath.getName.startsWith(".graft-maint-") &&
                  (st.getPath.getName.endsWith(".lock") ||
                    st.getPath.getName.contains(".lock.tomb-")) &&
                  st.getModificationTime < lockCutoff) {
                bytes += st.getLen
                n += 1
                fs.delete(st.getPath, true)
              }
            }
          sweepLocksIn(dir.getParent)
          Seq(new GenericInternalRow(Array[Any](n, bytes)))
      }
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = out.toArray
        override def readSchema(): StructType = outSchema
        override def description(): String = s"graft_cat $procName"
      }
      util.Collections.singletonList(scan).iterator()
    }
  }
}
