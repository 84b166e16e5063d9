package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graftcsv` — a DataSourceV2 batch source for the reference's messy CSV
  * dialect (SURVEY §1.4 / §2.1 S1-S2), the missing rung of the extension
  * ladder below `Expression` / `Rule` / `Strategy`: a full
  * `TableProvider → Table → ScanBuilder → Batch → PartitionReader` stack.
  *
  * Semantics match `graft.superstore.Ingest.readRaw` (the expression-chain
  * formulation) line for line — `QuirkCsvSourceSpec` asserts set-equality
  * on the real 9,994-row file in both modes:
  *
  *  - trailing `;` before the line break (incl. the header) stripped;
  *  - rows wrapped whole in quotes with inner quotes doubled are
  *    structurally detected and unwrapped (`excelCompat=true` instead
  *    DROPS them, reproducing the workbook's lossy load);
  *  - quoted fields with embedded commas / doubled quotes;
  *  - bytes decoded as latin-1 (= cp1252 on this file's 0xA0), so chars
  *    == bytes and offsets stay exact;
  *  - all columns surface as nullable strings (the reference's
  *    all-NVARCHAR raw layer); short rows pad with NULL, long rows drop
  *    extras (PERMISSIVE).
  *
  * Why a DSv2 and not just `spark.read.csv` + expressions: the scan tier
  * is where 100-TB ingest wins or loses.
  *
  *  - '''Byte-range splits''': each file is carved into
  *    `maxSplitBytes`-sized `InputPartition`s aligned to line boundaries
  *    by the classic contract — a record belongs to the split containing
  *    its FIRST byte; a reader seeks in, discards the partial line, and
  *    overreads its last record past the boundary. One 100 GB file scans
  *    with 800 parallel tasks instead of 1.
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`): only the
  *    requested columns are materialized into rows (`ReadSchema` in
  *    `.explain` shrinks); the parser still splits the line once but
  *    allocates nothing for unused fields.
  *  - '''Filter pushdown''' (`SupportsPushDownFilters`): equality /
  *    null / prefix / membership predicates on string columns are
  *    evaluated inside the reader on the parsed fields — non-matching
  *    rows never surface to Spark, and the post-scan `Filter` node
  *    disappears for fully-consumed predicates. Filter-only columns are
  *    parsed but not emitted.
  *  - '''Statistics''' (`SupportsReportStatistics`): total byte size, so
  *    AQE / join planning can see the table isn't broadcastable.
  *  - '''Aggregate pushdown''' (`SupportsPushDownAggregates`):
  *    COUNT/MIN/MAX (optionally grouped) computed per split inside the
  *    reader — a 100 GB profile moves splits × groups rows, not 6 B;
  *    COMPLETE pushdown (no Aggregate node at all) for one-split reads.
  *  - '''Runtime filtering''' (`SupportsRuntimeFiltering`): the In-set a
  *    broadcast join derives at runtime drops rows inside the reader
  *    (and prunes whole files via the zone map below).
  *  - '''Limit pushdown''' (`SupportsPushDownLimit`): per-split early
  *    exit; Spark's own Limit node stays (multi-split ⇒ never complete).
  *  - '''Zone-map file skipping''': the sink's commit writes a
  *    `_graft_zonemap.tsv` sidecar (per-file min/max/null stats, keyed
  *    by byte length as the staleness guard); partition planning prunes
  *    whole files against pushed + runtime filters — min/max skipping
  *    for a format that has no footer, Delta/Iceberg-style.
  *  - '''Task metrics''' (`CustomMetric`): rowsEmitted / rowsFiltered
  *    per scan on the Spark UI.
  *
  * Contract: records are single-line (the wrapped-row quirk doubles its
  * embedded quotes rather than spanning lines) — the same contract
  * Hadoop's TextInputFormat byte-splitting relies on. Files with quoted
  * embedded newlines need a single-split read (`maxSplitBytes` ≥ file
  * size), same as every splittable text reader.
  */
class QuirkCsvDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graftcsv"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // a missing/empty location infers an empty schema instead of failing:
    // a streaming write to a fresh directory infers before LogicalWriteInfo
    // supplies the query schema. A READ of a missing location fails in
    // QuirkCsvTable.schema, which only the read side consults.
    val files = QuirkCsv.listFiles(options)
    if (files.isEmpty) return new StructType()
    // catalog tables carry a seed header file that IS the table schema —
    // prefer it: after an append-only ALTER TABLE ADD COLUMN the seed
    // has the widened header while pre-ALTER data files keep the narrow
    // one (their missing trailing columns read as NULL). Seeds are
    // VERSIONED (part-seed-00000, -00001, …): ALTER creates the next
    // version before deleting older ones, so the HIGHEST seed is the
    // schema authority and a crash between the two steps only leaves a
    // stale lower version behind, never a missing or narrowed schema.
    val seeds = files.filter(f =>
      new Path(f.path).getName.startsWith("part-seed-"))
    val schemaFile =
      if (seeds.nonEmpty) seeds.maxBy(f => new Path(f.path).getName)
      else files.head
    val header = QuirkCsv.readFirstLine(schemaFile.path, schemaFile.len)
    // Header names normalize to identifier-safe form ("Row ID" -> RowID,
    // "Sub-Category" -> SubCategory) — the raw layer's column names are
    // code-facing (the same normalization Ingest.rawColumns hand-applies)
    // normalization can COLLIDE distinct headers ("Row ID" and "RowID"
    // both -> RowID); colIndex is a map, so a silent collision would
    // read every duplicate from one position — de-duplicate by suffixing
    // the column ordinal (re-suffixing until free, in case the header
    // also contains the literal suffixed name)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val names =
      if (QuirkCsv.headerOpt(options))
        QuirkCsv.splitCsv(QuirkCsv.stripLineQuirks(header))
          .zipWithIndex.map { case (n0, i) =>
            val n1 = Option(n0).getOrElse("").replaceAll("[^A-Za-z0-9_]", "")
            var n = if (n1.isEmpty) s"_c$i" else n1
            while (!seen.add(n)) n = s"${n}_$i"
            n
          }
      else QuirkCsv.splitCsv(QuirkCsv.stripLineQuirks(header))
        .indices.map(i => s"_c$i").toArray
    // the header names are the PHYSICAL layout; a rename/drop journal
    // (ALTER TABLE RENAME/DROP COLUMN — positions frozen, files never
    // rewritten) maps them to the LOGICAL schema exposed to Spark
    val logical = QuirkCsv.schemaMapFor(options) match {
      case Some(m) => m.logicalOf(names.toArray)
      case None => names.toArray
    }
    StructType(logical.map(StructField(_, StringType, nullable = true)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new QuirkCsvTable(schema,
      new CaseInsensitiveStringMap(properties))
}

private[sources] class QuirkCsvTable(tableSchema: StructType,
                                     options: CaseInsensitiveStringMap)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String =
    s"graftcsv(${options.getOrDefault("path", "?")})"

  /** Fails with Spark's `PATH_NOT_FOUND`, naming the path, when the schema
    * was inferred from a missing location: a read builds its relation from
    * this schema, so a misspelt path fails at `load` instead of as an
    * unresolved column later. A write to a fresh directory never asks (a
    * batch write passes the query's schema, a streaming sink plans from
    * `LogicalWriteInfo`), so it still creates the directory. */
  override def schema(): StructType = {
    if (tableSchema.isEmpty && options.containsKey("path") &&
        !tableRoot.getFileSystem(hadoopConf).exists(tableRoot))
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> tableRoot.toString))
    tableSchema
  }

  /** `_file` metadata column (`SELECT _file, * FROM t`): the data file a
    * row was read from — per-row provenance for free (the reader knows
    * its split's path). Also the backbone of the row-level operations:
    * [[QuirkCsvRowLevelOperation]] REQUIRES it, which makes Spark build
    * the ReplaceData metadata projection and hand the replacement write
    * properly projected data rows (without a required metadata column,
    * Spark's group-based plan feeds the writer rows still carrying the
    * internal `__row_operation` column). */
  override def metadataColumns()
  : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(QuirkCsvFileColumn)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  /** SQL `MERGE INTO` / `UPDATE` / `DELETE` on graftcsv tables — the
    * reference's MERGE statements (`SQLproject1.sql:390-416,485-513`)
    * runnable literally against `graft_cat`. Group-based copy-on-write
    * at the layout's natural granularity:
    *
    *  - UNPARTITIONED tables: the whole table is the single group —
    *    Spark's rewrite reads the table through
    *    [[QuirkCsvRowLevelOperation]]'s scan, computes the full
    *    replacement content (carry-over + modified + inserted rows),
    *    and the write replaces the directory. Right-sized for dimension
    *    tables (the reference's MERGE targets).
    *  - PARTITIONED tables: the group is the partition VALUE directory —
    *    the replacement scan accepts Spark's runtime group filtering
    *    (the distinct partition values containing matching rows) and
    *    the write replaces only those dirs; untouched partitions' files
    *    stay byte-identical. A MERGE of a one-day increment into a
    *    date-partitioned fact rewrites one day. See
    *    [[QuirkCsvPartitionedReplaceScanBuilder]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
  : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new QuirkCsvRowLevelOperation(info.command(), tableSchema, options)

  /** Metadata-only DELETE (`SupportsDelete`): a predicate purely on the
    * partition column selects whole value directories, so the DELETE is
    * a directory removal — zero data files read, zero rows rewritten.
    * Spark's `OptimizeMetadataOnlyDeleteFromTable` consults
    * [[canDeleteWhere]] on the already-rewritten row-level plan: answer
    * true ONLY when every conjunct is an evaluable partition-column
    * predicate; anything else (non-partition columns, negations, nulls)
    * falls back to the partition-granular copy-on-write above. */
  /** `DELETE FROM t` with no WHERE arrives here as a single AlwaysTrue
    * (the planner's SupportsDeleteV2 case throws if canDeleteWhere says
    * no BEFORE its TruncatableTable case is consulted, so the truncate
    * route must run through deleteWhere) — an explicit whole-table
    * statement, handled by [[truncateTable]] on both table kinds. */
  private def isDeleteAll(filters: Array[Filter]): Boolean =
    filters.length == 1 && filters(0).isInstanceOf[AlwaysTrue]

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    // filters.nonEmpty matters: a vacuous forall would declare an empty
    // predicate list metadata-deletable and deleteWhere would then wipe
    // every partition — whole-table removal is the explicit
    // isDeleteAll/truncateTable route only
    isDeleteAll(filters) ||
      (partitionCols.nonEmpty && filters.nonEmpty && filters.forall(f =>
        (try partitionCols.contains(QuirkCsv.filterColumn(f))
        catch { case _: IllegalArgumentException => false }) &&
          QuirkCsv.evaluable(tableSchema, f)))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (isDeleteAll(filters)) { truncateTable(); return }
    require(canDeleteWhere(filters),
      s"graftcsv metadata DELETE handles partition-column predicates " +
        s"only, got [${filters.mkString(", ")}]")
    val cols = partitionCols
    val fs = tableRoot.getFileSystem(hadoopConf)
    if (!fs.exists(tableRoot)) return
    // predicates may hit ANY subset of the levels (a partial spec like
    // `batch = 'b'` on a (band_bucket, batch) layout matches every
    // band_bucket's batch=b leaf); the deletion unit is the LEAF value
    // dir — intermediate dirs that empty out stay as harmless skeleton
    val matched = QuirkCsv.leafValueDirs(fs, tableRoot, cols)
      .filter { case (_, tuple) =>
        filters.forall { f =>
          val c = QuirkCsv.filterColumn(f)
          QuirkCsv.eval(f, tuple(cols.indexOf(c)))
        }
      }
    // versioned: the delete stays metadata-only — ONE rename per value
    // directory into the attic (sidecar travels along), one log entry
    if (QuirkCsvVersions.isVersioned(fs, tableRoot))
      QuirkCsvVersions.commit(fs, tableRoot, "delete", Nil, Nil,
        matched.map(_._1))
    else matched.foreach { case (d, _) => fs.delete(d, true) }
  }

  /** Whole-table row removal: `TRUNCATE TABLE t` AND `DELETE FROM t`
    * with no WHERE both land here (Spark's delete rewrite short-circuits
    * a TrueLiteral condition to TruncatableTable BEFORE the row-level
    * path, so without this override an unconditional DELETE — which the
    * copy-on-write path used to serve — would throw). Both statements
    * are EXPLICIT whole-table requests, unlike the un-scoped INSERT
    * OVERWRITE the write builder rejects (where "replace everything" is
    * an easy accident of partitionOverwriteMode=static). Unpartitioned:
    * delete the data files + zone sidecar. Partitioned: delete every
    * value directory — the layout's deletion unit — keeping the schema
    * seed and partitioning marker (the empty table stays readable and
    * writable). */
  override def truncateTable(): Boolean = {
    val fs = tableRoot.getFileSystem(hadoopConf)
    if (!fs.exists(tableRoot)) return true
    val versioned = QuirkCsvVersions.isVersioned(fs, tableRoot)
    partitionCols.headOption match {
      case Some(c) =>
        // level-1 dirs carry everything beneath them — depth-agnostic
        val dirs = fs.listStatus(tableRoot).toIndexedSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(c + "="))
        if (versioned)
          QuirkCsvVersions.commit(fs, tableRoot, "truncate", Nil, Nil,
            dirs.map(_.getPath))
        else dirs.foreach(st => fs.delete(st.getPath, true))
      case None =>
        val files = fs.listStatus(tableRoot).toIndexedSeq
          .filter { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
              !n.startsWith("part-seed-")
          }
        if (versioned)
          QuirkCsvVersions.commit(fs, tableRoot, "truncate", Nil,
            files.map(_.getPath))
        else files.foreach(st => fs.delete(st.getPath, false))
        val zm = new Path(tableRoot, QuirkCsv.ZoneMapFile)
        if (fs.exists(zm)) fs.delete(zm, false)
    }
    true
  }

  /** Identity partitioning (hive-style `col=value` subdirs) when the
    * catalog marker is present — surfaces through SHOW CREATE/DESCRIBE
    * and drives the clustered write distribution + grouped scan mode. */
  override def partitioning(): Array[Transform] =
    partitionCols
      .map(c => org.apache.spark.sql.connector.expressions.Expressions
        .identity(c): Transform)
      .toArray

  // -------------------------------- partition management (SQL surface)
  //
  // SHOW PARTITIONS / ALTER TABLE ADD|DROP PARTITION on partitioned
  // tables: the append-only raw layer's DELETION UNIT is the partition
  // directory — retention ("drop everything before 2023") becomes one
  // SQL statement that removes whole value subdirs, never a row-level
  // rewrite. On an unpartitioned table every call fails with the same
  // message the ALTER path uses.

  private def partitionCols: Seq[String] = QuirkCsv.partitionColsOf(options)

  private def requirePartitioned(): Seq[String] = {
    val cols = partitionCols
    if (cols.isEmpty) throw new UnsupportedOperationException(
      s"${name()} is not partitioned — partition management applies to " +
        "PARTITIONED BY tables only")
    cols
  }

  private def tableRoot: Path = new Path(options.get("path"))

  private def partDir(ident: InternalRow): Path = {
    val cols = requirePartitioned()
    require(ident.numFields == cols.length,
      s"partition ident arity ${ident.numFields} != partitioning " +
        s"(${cols.mkString(", ")})")
    val values = cols.indices.map { i =>
      require(!ident.isNullAt(i),
        "NULL partition value — partitioned graftcsv tables reject null " +
          "partition keys")
      ident.getUTF8String(i).toString
    }
    QuirkCsv.partitionDirPath(tableRoot, cols, values)
  }

  override def partitionSchema(): StructType =
    StructType(requirePartitioned().map(c =>
      StructField(c, StringType, nullable = false)))

  override def createPartition(ident: InternalRow,
                               properties: util.Map[String, String]): Unit = {
    // LOCATION (and any other property) cannot be honored — partition
    // dirs live under the table root by construction. Silently dropping
    // a user's LOCATION would leave their external data unread forever;
    // reject instead.
    require(properties == null || properties.isEmpty,
      s"graftcsv partitions take no properties (got $properties): the " +
        "directory is always <tableRoot>/<col>=<value>; external " +
        "LOCATIONs are unsupported")
    val dir = partDir(ident)
    val fs = dir.getFileSystem(hadoopConf)
    if (fs.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .PartitionsAlreadyExistException(name(), ident, partitionSchema())
    require(fs.mkdirs(dir), s"ADD PARTITION: mkdirs($dir) failed")
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    val dir = partDir(ident)
    val fs = dir.getFileSystem(hadoopConf)
    if (!fs.exists(dir)) return false
    if (QuirkCsvVersions.isVersioned(fs, tableRoot)) {
      QuirkCsvVersions.commit(fs, tableRoot, "dropPartition", Nil, Nil,
        Seq(dir))
      true
    } else fs.delete(dir, true)
  }

  override def partitionExists(ident: InternalRow): Boolean = {
    val dir = partDir(ident)
    dir.getFileSystem(hadoopConf).exists(dir)
  }

  override def replacePartitionMetadata(
      ident: InternalRow, properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graftcsv partitions carry no metadata")

  override def loadPartitionMetadata(ident: InternalRow)
  : util.Map[String, String] = util.Collections.emptyMap()

  override def listPartitionIdentifiers(names: Array[String],
                                        ident: InternalRow)
  : Array[InternalRow] = {
    val cols = requirePartitioned()
    require(names.forall(n => cols.exists(_.equalsIgnoreCase(n))),
      s"unknown partition column(s) ${names.mkString(", ")} — the " +
        s"partitioning is (${cols.mkString(", ")})")
    val fs = tableRoot.getFileSystem(hadoopConf)
    if (!fs.exists(tableRoot)) return Array.empty
    val wanted: Seq[(Int, UTF8String)] = names.toIndexedSeq.zipWithIndex
      .map { case (n, i) =>
        cols.indexWhere(_.equalsIgnoreCase(n)) -> ident.getUTF8String(i)
      }
    QuirkCsv.leafValueDirs(fs, tableRoot, cols)
      .map(_._2)
      .sortBy(_.mkString(" "))
      // PARTIAL specs filter on just the named levels — SHOW PARTITIONS
      // (names empty) lists every leaf tuple
      .filter(t => wanted.forall { case (ci, v) =>
        UTF8String.fromString(t(ci)) == v })
      .map(t => new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(
          t.map(v => UTF8String.fromString(v): Any).toArray)
        : InternalRow)
      .toArray
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // merge TABLE options under the write options: the catalog-set
    // partitionCol must reach the writer even though DataFrameWriterV2
    // passes only per-write options in info
    val mergedOpts = QuirkCsv.mergeOptions(options, info.options)
    val path = mergedOpts.get("path")
    require(path != null && path.nonEmpty,
      "graftcsv write requires a 'path' option")
    new QuirkCsvWriteBuilder(path, info.schema(), mergedOpts,
      info.queryId())
  }

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap)
  : ScanBuilder = new QuirkCsvScanBuilder(tableSchema,
    QuirkCsv.mergeOptions(options, caseInsensitiveOptions))
}

private[sources] class QuirkCsvScanBuilder(fullSchema: StructType,
                                           options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownAggregates with SupportsPushDownLimit
  with SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[QuirkCsvAgg] = None
  private var limit: Int = -1
  private var topN: Option[QuirkCsvTopN] = None

  /** Storage-partitioned-join mode: ONE input split per partition VALUE
    * (files chained), reported to Spark as KeyGroupedPartitioning so a
    * join of two tables partitioned on the join key plans NO exchange on
    * either side — the DSv2 answer to co-located bucketed joins, and the
    * layout-level shuffle eliminator at 100 TB. Active for partitioned
    * tables when `spark.sql.sources.v2.bucketing.enabled` is on (the
    * same switch every SPJ source keys off) or forced per-scan with
    * option groupByPartition. The conf defaults TRUE in Spark 4, so
    * partitioned-table scans group by default — the cost is
    * intra-partition parallelism (one task per value); scan-heavy jobs
    * over few-value tables opt out per scan with
    * groupByPartition=false — and any pushed aggregate/limit/top-N
    * wins over grouping at build() (see there). */
  private val grouped: Boolean = {
    val pc = options.get("partitionCol")
    pc != null && pc.nonEmpty && {
      val forced = options.get("groupByPartition")
      if (forced != null) forced.toBoolean
      // the typed accessor, NOT getConfString(key, default): the string
      // read ignores a registered entry's default, silently disabling
      // grouping whenever the user hasn't set the conf explicitly
      else (try org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled
      catch { case _: Exception => false })
    }
  }

  /** PARTIAL top-N pushdown: each split's reader keeps only its `limit`
    * best rows under the pushed ordering (a bounded heap — the
    * GroupedTopK idea at the scan tier), so an `ORDER BY c LIMIT k`
    * over a 100 GB file returns splits × k rows to Spark instead of
    * every matching row. `isPartiallyPushed` stays true: Spark's own
    * TopN still merges the per-split candidates. Only single-column
    * references order-ably; anything else stays un-pushed — as does any
    * n above `maxTopNPerSplit` (option, default 100k): the heap is
    * in-memory per task, and a huge LIMIT belongs to Spark's spilling
    * sort, not a reader heap (same fail-safe posture as
    * `maxAggGroupsPerSplit`, except top-N can simply decline). */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val specs = orders.map(o => o.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
        fullSchema.fieldNames.contains(nr.fieldNames()(0)) =>
        Some(QuirkCsvSortSpec(nr.fieldNames()(0),
          o.direction() == SortDirection.ASCENDING,
          o.nullOrdering() == NullOrdering.NULLS_FIRST))
      case _ => None
    })
    // same defensive guard as pushLimit: top-N over PARTIAL aggregate
    // rows would drop partials before the final merge
    if (pushedAgg.isEmpty && n > 0 &&
      n <= options.getInt("maxTopNPerSplit", 100000) && specs.nonEmpty &&
      specs.forall(_.isDefined)) {
      topN = Some(QuirkCsvTopN(specs.map(_.get), n))
      true
    } else false
  }

  override def isPartiallyPushed(): Boolean = true

  /** PARTIAL limit pushdown: each split's reader stops parsing after
    * `limit` surviving rows (a `LIMIT 100` over a 100 GB file exits every
    * split after 100 rows instead of parsing to the end). Returning
    * false keeps Spark's own Limit node — a multi-split scan can emit up
    * to splits × limit rows in total, so the push is never "complete". */
  override def pushLimit(l: Int): Boolean = {
    // defensive: never cap PARTIAL-aggregate rows (Spark doesn't push a
    // limit through an Aggregate today; keep that invariant local)
    if (pushedAgg.isEmpty) limit = l
    false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep data fields we have, plus the `_file` metadata column (the
    // reader serves it as the split's path) — anything else is dropped
    // defensively
    required = StructType(requiredSchema.fields.filter(f =>
      fullSchema.fieldNames.contains(f.name) ||
        f.name == QuirkCsvFileColumn.name()))

  /** Accept predicates the reader can evaluate on parsed string fields;
    * everything else is returned for Spark to evaluate post-scan. An
    * accepted filter is FULLY consumed (not also re-evaluated) — the
    * reader drops non-matching rows. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, theirs) = filters.partition(QuirkCsv.evaluable(fullSchema, _))
    pushed = ours
    theirs
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown (`supportCompletePushDown` stays false —
    * a multi-split scan can only pre-aggregate per split; Spark plans the
    * final merge over the ≤-one-row-per-group-per-split partials). A
    * 100 GB raw-layer profile (`COUNT(*)`/`COUNT(col)`/`MIN`/`MAX`,
    * optionally grouped by dashboard-cardinality columns) then moves
    * splits × groups rows instead of 6 B — the scan IS the aggregation.
    * Composes with filter pushdown: accepted filters drop rows before
    * they are counted. Distinct aggregates and non-column arguments stay
    * in Spark. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val agg = QuirkCsvAgg.tryPlan(fullSchema, aggregation, options)
    pushedAgg = agg
    agg.isDefined
  }

  /** COMPLETE pushdown — Spark plans no final aggregate at all — is
    * claimable only when exactly ONE split will read the data (one
    * reader sees every row, so its "partials" are already global).
    * Multi-split scans stay partial. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = {
    val files = QuirkCsv.listFiles(options)
    val maxSplit = options.getLong("maxSplitBytes", 128L * 1024 * 1024)
    files.map(_.len).filter(_ > 0) match {
      case Seq(len) => len <= maxSplit &&
        QuirkCsvAgg.tryPlan(fullSchema, aggregation, options).isDefined
      case _ => false
    }
  }

  override def build(): Scan = pushedAgg match {
    case Some(agg) => new QuirkCsvAggScan(fullSchema, pushed, agg, options)
    case None =>
      // pushdowns WIN over SPJ grouping: a scan whose output is a
      // pushed aggregate/limit/top-N is not the join input the grouped
      // mode exists for, and a grouped count(*) over a few-value table
      // would trade split-parallel pushed partials for one task per
      // value — strictly worse. Grouping applies only to the plain
      // filtered row-scan shape.
      new QuirkCsvScan(fullSchema, required, pushed, options, limit, topN,
        grouped && limit < 0 && topN.isEmpty)
  }
}

/** Group-based copy-on-write row-level operation (MERGE/UPDATE/DELETE),
  * whole table = one group.
  *
  * The SCAN is deliberately minimal: column pruning and COMPILE-TIME
  * filter pushdown only (safe by plan structure — anything pushed was a
  * Filter node the rewrite itself placed above the scan, e.g. DELETE's
  * `NOT cond`). It must NOT implement runtime filtering: Spark's
  * row-level group-filtering rule assumes `filter()` prunes GROUPS and
  * that the write then replaces only the scanned groups — our reader
  * applies runtime In-filters to ROWS and our replacement write
  * truncates the whole directory, so a runtime filter here would
  * silently drop every carry-over row it excluded. Aggregate / limit /
  * top-N pushdown are likewise omitted (never legal above a replacement
  * scan).
  *
  * The WRITE is the ordinary batch write pre-set to truncate: replace
  * scanned groups == replace the whole table. */
private[sources] class QuirkCsvRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    fullSchema: StructType,
    tableOptions: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.write.RowLevelOperation {

  private def partitioned: Boolean =
    QuirkCsv.partitionColsOf(tableOptions).nonEmpty

  /** Scan→write coordination for the PARTITIONED path: the replacement
    * scan records which partition values it planned, the write replaces
    * exactly those dirs. One scope per operation instance — Spark calls
    * newScanBuilder and newWriteBuilder on the same instance. */
  private val scope = new QuirkCsvReplaceScope

  override def command()
  : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap)
  : ScanBuilder = {
    val merged = QuirkCsv.mergeOptions(tableOptions, scanOptions)
    if (partitioned)
      new QuirkCsvPartitionedReplaceScanBuilder(fullSchema, merged, scope)
    else new QuirkCsvRowLevelScanBuilder(fullSchema, merged)
  }

  /** Requiring `_file` does double duty: it is the natural group id of
    * a copy-on-write source, and its presence makes Spark project the
    * replacement rows down to the data schema before the write (see
    * [[QuirkCsvTable.metadataColumns]]). */
  override def requiredMetadataAttributes()
  : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(QuirkCsvFileColumn.name()))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = tableOptions.get("path")
    require(path != null && path.nonEmpty,
      "graftcsv row-level operation requires a 'path' option")
    // TABLE options must reach the builder: partitionCol in particular —
    // without it the builder can't see the table is partitioned, and
    // the copy-on-write would flat-rewrite the root of a partitioned
    // layout (files written at root, value subdirs left stale = silent
    // duplication)
    val b = new QuirkCsvWriteBuilder(path, info.schema(),
      QuirkCsv.mergeOptions(tableOptions, info.options), info.queryId())
    // unpartitioned: whole-directory copy-on-write (dim-sized tables).
    // partitioned: PARTITION-GRANULAR copy-on-write — replace only the
    // value dirs the replacement scan planned; untouched partitions'
    // files stay byte-identical
    if (partitioned) b.replaceScanned(scope) else b.truncate()
    b
  }

  override def description(): String = s"graftcsv row-level $cmd"
}

/** The `_file` metadata column definition (one instance, shared by the
  * table's declaration and the operation's requirement). */
private[sources] object QuirkCsvFileColumn
  extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = "_file"
  override def dataType(): org.apache.spark.sql.types.DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String = "data file the row was read from"
}

private[sources] class QuirkCsvRowLevelScanBuilder(
    fullSchema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Spark pushes the command's condition here as a GROUP filter — "only
    * groups that may contain matching rows need rewriting". Our write
    * replaces the WHOLE directory (one group), so accepting it in any
    * form (row filtering OR zone-map file skipping) would drop carry-over
    * rows the write no longer sees. Decline everything; the rewritten
    * plan's own Filter/CASE expressions carry the semantics. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = filters

  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan =
    new QuirkCsvReplaceScan(fullSchema, required, options)
}

/** The replacement-content scan: the batch read path (same splits, same
  * reader) with NO pruning and NO pushdown surfaces — a replacement scan
  * must deliver every row of every group the write will replace (see
  * [[QuirkCsvRowLevelOperation]]). */
private[sources] class QuirkCsvReplaceScan(fullSchema: StructType,
                                           required: StructType,
                                           options: CaseInsensitiveStringMap)
  extends Scan with Batch {

  private val files: Seq[QuirkCsvFileMeta] = QuirkCsv.listFiles(options)
  private val maxSplit: Long =
    options.getLong("maxSplitBytes", 128L * 1024 * 1024)

  override def readSchema(): StructType = required

  override def description(): String =
    s"graftcsv-replace ${files.size} file(s) (full-table group)"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    QuirkCsv.planSplits(files, maxSplit)

  override def createReaderFactory(): PartitionReaderFactory =
    new QuirkCsvReaderFactory(
      QuirkCsv.readerColumns(options, fullSchema.fieldNames),
      required.fieldNames,
      Array.empty, QuirkCsv.headerOpt(options),
      options.getBoolean("excelCompat", false))
}

/** Replacement scan for PARTITIONED tables — the group is the partition
  * value directory. Differences from the whole-table replace scan:
  *
  *  - it implements [[SupportsRuntimeFiltering]], so Spark's
  *    `RowLevelOperationRuntimeGroupFiltering` rule injects the distinct
  *    partition values that actually contain rows MATCHING the command's
  *    condition (computed by a separate matching-rows subquery at
  *    runtime); partition dirs outside that set are neither read nor
  *    rewritten — a MERGE of one day's increment into a date-partitioned
  *    100-TB fact reads and rewrites one day, not the fact.
  *  - compile-time pushed filters are still declined entirely: above a
  *    replacement scan they are the rewritten plan's CARRY-OVER
  *    condition (the NEGATED command condition), and pruning groups with
  *    them would drop exactly the partitions that need rewriting.
  *  - every file of every surviving dir is read in full (runtime group
  *    filters are dir-granular by construction: they reference only the
  *    partition column).
  *
  * The scan records the partition values it planned in the operation's
  * [[QuirkCsvReplaceScope]]; the paired write's commit replaces exactly
  * those dirs. Latest planning wins — the runtime-filtered planning is
  * the one whose rows feed the write. */
private[sources] class QuirkCsvPartitionedReplaceScanBuilder(
    fullSchema: StructType, options: CaseInsensitiveStringMap,
    scope: QuirkCsvReplaceScope)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = filters

  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan =
    new QuirkCsvPartitionedReplaceScan(fullSchema, required, options, scope)
}

private[sources] class QuirkCsvPartitionedReplaceScan(
    fullSchema: StructType, required: StructType,
    options: CaseInsensitiveStringMap, scope: QuirkCsvReplaceScope)
  extends Scan with Batch with SupportsRuntimeFiltering {

  private val cols = QuirkCsv.partitionColsOf(options)
  private val files: Seq[QuirkCsvFileMeta] = QuirkCsv.listFiles(options)
  private val maxSplit: Long =
    options.getLong("maxSplitBytes", 128L * 1024 * 1024)
  private var runtimeGroupFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    cols.map(c => org.apache.spark.sql.connector.expressions.Expressions
      .column(c): NamedReference).toArray

  /** Runtime GROUP filters from the row-level group-filtering rule:
    * predicates on partition column(s) listing the values with matching
    * rows. Dropping one we can't evaluate is safe-side — more dirs are
    * read and rewritten with identical content, never fewer. */
  override def filter(newFilters: Array[Filter]): Unit =
    runtimeGroupFilters = newFilters.filter(f =>
      QuirkCsv.evaluable(fullSchema, f) &&
        cols.contains(QuirkCsv.filterColumn(f)))

  override def readSchema(): StructType = required

  override def description(): String =
    s"graftcsv-replace-partitioned(${cols.mkString(", ")}) " +
      s"${files.size} file(s), " +
      s"RuntimeGroupFilters: [${runtimeGroupFilters.mkString(", ")}]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = QuirkCsv.prunePartitions(options, files, runtimeGroupFilters)
    scope.record(
      kept.flatMap(f => QuirkCsv.partitionTupleOf(f.path, cols)).toSet)
    QuirkCsv.planSplits(kept, maxSplit)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new QuirkCsvReaderFactory(
      QuirkCsv.readerColumns(options, fullSchema.fieldNames),
      required.fieldNames,
      Array.empty, QuirkCsv.headerOpt(options),
      options.getBoolean("excelCompat", false))
}

/** One pushed sort key: column, ascending?, nulls-first?. */
private[sources] case class QuirkCsvSortSpec(column: String,
                                             ascending: Boolean,
                                             nullsFirst: Boolean)

/** A pushed ORDER BY + LIMIT: the reader keeps each split's `n` best
  * rows under `keys` (Spark's string order = UTF8String binary order,
  * which the comparator uses verbatim). */
private[sources] case class QuirkCsvTopN(keys: Array[QuirkCsvSortSpec],
                                         n: Int) {
  override def toString: String =
    keys.map(k => s"${k.column} ${if (k.ascending) "ASC" else "DESC"} " +
      s"NULLS ${if (k.nullsFirst) "FIRST" else "LAST"}")
      .mkString("ORDER BY ", ", ", s" LIMIT $n (per split)")
}

// ------------------------------------------------------- custom metrics

private[sources] class QuirkCsvRowsEmittedMetric extends CustomSumMetric {
  override def name(): String = "rowsEmitted"
  override def description(): String = "rows emitted by the graftcsv reader"
}

private[sources] class QuirkCsvRowsFilteredMetric extends CustomSumMetric {
  override def name(): String = "rowsFiltered"
  override def description(): String =
    "rows dropped inside the graftcsv reader by pushed/runtime filters"
}

private[sources] case class QuirkCsvTaskMetric(name: String, value: Long)
  extends CustomTaskMetric

private[sources] class QuirkCsvScan(fullSchema: StructType,
                                    required: StructType,
                                    filters: Array[Filter],
                                    options: CaseInsensitiveStringMap,
                                    limit: Int = -1,
                                    topN: Option[QuirkCsvTopN] = None,
                                    grouped: Boolean = false)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // partition-filter-aware listing: value dirs a pushed partition-column
  // predicate excludes are never listed. Safe in grouped (SPJ) mode too:
  // groupedPartitions already prunes GROUPS by exactly these compile-time
  // filters (prunePartitions) — the reported KeyGroupedPartitioning is
  // query-static either way; only DATA-dependent (zone-level) pruning
  // must never drop a group, and listing never consults zone stats.
  private val files: Seq[QuirkCsvFileMeta] =
    QuirkCsv.listFiles(options, filters)
  private val maxSplit: Long =
    options.getLong("maxSplitBytes", 128L * 1024 * 1024)
  private val header: Boolean = QuirkCsv.headerOpt(options)
  private val excelCompat: Boolean =
    options.getBoolean("excelCompat", false)

  /** Filters Spark derives AT RUNTIME (dynamic pruning: the join-key
    * values actually present on the other side of a join, delivered as
    * an `In` once the build side has executed) — applied in the reader
    * exactly like compile-time pushed filters. A fact-to-dim join where
    * the dim filter keeps 1% of keys then parses-and-drops 99% of rows
    * inside the scan instead of shuffling them. */
  private var runtimeFilters: Array[Filter] = Array.empty

  // only columns of the PRUNED read schema: Spark resolves these against
  // the scan's output (PartitionPruning.getFilterableTableScan), so
  // declaring a pruned-away column is an AnalysisException, not a no-op.
  // GROUPED (SPJ) scans decline runtime filtering outright: the reported
  // KeyGroupedPartitioning's split count is a plan-time contract, and a
  // runtime In-filter that emptied a value group would break it.
  override def filterAttributes(): Array[NamedReference] =
    if (grouped) Array.empty
    else required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  /** The GROUPING key column of the SPJ mode: the LEADING partition
    * column. On a single-column table that is the partition column; on
    * a multi-level layout (e.g. the co-located band table's
    * `(band_bucket, batch)`) the level-1 value still fully determines a
    * file's group — all deeper levels chain into it — so the reported
    * KeyGroupedPartitioning stays layout-determined and an SPJ keyed on
    * the leading column plans exchange-free while the deeper levels
    * keep their replay/retention granularity. */
  private def groupingColName: String =
    QuirkCsv.partitionColsOf(options).head

  /** One split per LEADING-column partition value (files chained,
    * deeper value levels included), sorted by value for deterministic
    * split order. Computed once: both the reported partitioning's count
    * and the planned splits must agree. DIRECTORY pruning decides the
    * GROUPS; the per-dir zone maps then prune files WITHIN each group
    * but never the group itself (a zone-emptied group stays as an empty
    * split) — if data-value distribution could drop a value from the
    * reported KeyGroupedPartitioning, the two sides of an SPJ would
    * disagree and Spark would re-insert the exchanges the grouped mode
    * exists to eliminate. */
  private lazy val groupedPartitions: Array[InputPartition] = {
    val col = groupingColName
    QuirkCsv.prunePartitions(options, files, filters)
      .groupBy(f => QuirkCsv.partitionValueOf(f.path, col).get)
      .toSeq.sortBy(_._1)
      .map { case (v, fs) =>
        QuirkCsvGroupedPartition(
          QuirkCsv.pruneFiles(options, fs, filters)
            .sortBy(_.path).toArray, v): InputPartition
      }.toArray
  }

  /** Pruned file set under the COMPILE-TIME pushed filters, computed
    * once per scan — planning consults it repeatedly (statistics,
    * split planning) and each pruneFiles pass costs driver-side
    * sidecar I/O. Runtime-filtered planning recomputes (the filters
    * arrive after this is first needed). */
  private lazy val compileKept: Seq[QuirkCsvFileMeta] =
    QuirkCsv.pruneFiles(options, files, filters)

  override def outputPartitioning()
  : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (grouped)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .identity(groupingColName)),
          groupedPartitions.length)
    else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)

  override def filter(newFilters: Array[Filter]): Unit =
    // anything not reader-evaluable is dropped — runtime filters are an
    // optimization; Spark re-applies the join itself regardless
    runtimeFilters = newFilters.filter(QuirkCsv.evaluable(fullSchema, _))

  override def readSchema(): StructType = required

  override def description(): String =
    s"graftcsv ${files.size} file(s), " +
      s"PushedFilters: [${filters.mkString(", ")}], " +
      (if (limit >= 0) s"PushedLimit: LIMIT $limit (per split), " else "") +
      topN.map(t => s"PushedTopN: $t, ").getOrElse("") +
      s"ReadSchema: ${required.simpleString}"

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
  : MicroBatchStream = {
    // a snapshot is a CLOSED set — "streaming the past" would emit one
    // batch and hang; loud rejection beats a silently-stuck query
    require({ val v = options.get("asOfVersion"); v == null || v.isEmpty },
      "graftcsv snapshot reads (VERSION/TIMESTAMP AS OF) are batch-only — " +
        "stream the current table instead")
    new QuirkCsvMicroBatchStream(fullSchema, required, filters, options,
      maxSplit, header, excelCompat, checkpointLocation)
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (grouped) groupedPartitions
    // zone-map file skipping: sidecar stats vs pushed AND runtime
    // filters (runtime In-filters arrive before partition planning, so
    // a dynamic-pruning join skips whole files here)
    else QuirkCsv.planSplits(
      if (runtimeFilters.isEmpty) compileKept
      else QuirkCsv.pruneFiles(options, files, filters ++ runtimeFilters),
      maxSplit)

  override def createReaderFactory(): PartitionReaderFactory =
    new QuirkCsvReaderFactory(
      QuirkCsv.readerColumns(options, fullSchema.fieldNames),
      required.fieldNames,
      filters ++ runtimeFilters, header, excelCompat, limit, topN,
      // columnar=true: emit reused flat ColumnarBatch vectors instead of
      // per-row objects (see QuirkCsvColumnarReader). STAYS opt-in by
      // measurement: on a 876 MB / 4M-row / 21-col fixture with a
      // non-pushable all-column consumer, row 4.94 s vs columnar 4.97 s
      // (PLANS.md, AQE-stage-reuse corrected) — the latin-1 field
      // PARSE dominates and the batch handoff it replaces is noise, so
      // flipping the default would buy nothing until the parse itself
      // vectorizes
      columnar = options.getBoolean("columnar", false),
      columnarBatchSize = options.getInt("columnarBatchSize", 4096))

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new QuirkCsvRowsEmittedMetric, new QuirkCsvRowsFilteredMetric)

  /** Statistics AFTER pruning, not raw directory size: the planner's
    * broadcast-side and join-order decisions key off these, and a scan
    * whose pushed filters prune 99% of files should look 99% smaller.
    * `numRows` is served exactly from fresh sidecar entries when no
    * pushed predicate discriminates WITHIN files (none at all, or — on
    * a partitioned table — partition-column predicates that directory
    * pruning fully applies); otherwise it stays unknown rather than
    * overstating. */
  override def estimateStatistics(): Statistics = stats

  private lazy val stats: Statistics = {
    val bytes = compileKept.map(_.len).sum
    val rows = QuirkCsv.sidecarRowCount(options, fullSchema, compileKept,
      filters)
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(bytes)
      override def numRows(): util.OptionalLong =
        rows.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
    }
  }
}

private[sources] case class QuirkCsvPartition(path: String, start: Long,
                                              end: Long)
  extends InputPartition

/** SPJ split: every file of one partition VALUE, chained in one reader.
  * HasPartitionKey is what lets Spark line this split up against the
  * matching split of the other join side. */
private[sources] case class QuirkCsvGroupedPartition(
    files: Array[QuirkCsvFileMeta], value: String)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(value)))
}

/** One listed data file: path, byte length, and modification time — the
  * (len, mtime) pair is the zone-map staleness key (length alone would
  * trust stale stats after a same-length out-of-band rewrite). */
private[graft] case class QuirkCsvFileMeta(path: String, len: Long,
                                             mtime: Long)

private[sources] class QuirkCsvReaderFactory(allColumns: Array[String],
                                             requiredColumns: Array[String],
                                             filters: Array[Filter],
                                             header: Boolean,
                                             excelCompat: Boolean,
                                             limit: Int = -1,
                                             topN: Option[QuirkCsvTopN] =
                                               None,
                                             columnar: Boolean = false,
                                             columnarBatchSize: Int = 4096)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = partition match {
    case g: QuirkCsvGroupedPartition =>
      // SPJ split: the builder declined limit/top-N/aggregate pushdowns
      // in grouped mode, so a plain filtered chain is the whole story
      new QuirkCsvChainedReader(g.files, allColumns, requiredColumns,
        filters, header, excelCompat)
    case _ =>
      val p = partition.asInstanceOf[QuirkCsvPartition]
      val rows = new QuirkCsvReader(p, allColumns, requiredColumns, filters,
        header, excelCompat, limit)
      topN match {
        case Some(t) => new QuirkCsvTopNReader(rows, requiredColumns, t)
        case None => rows
      }
  }

  // columnar output is offered only for the plain scan shape: a pushed
  // top-N needs the heap's row comparator, a pushed limit's early
  // stop composes more simply row-wise, and grouped (SPJ) splits chain
  // several files through one row reader
  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar && topN.isEmpty && limit < 0 &&
      !partition.isInstanceOf[QuirkCsvGroupedPartition]

  override def createColumnarReader(partition: InputPartition)
  : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[QuirkCsvPartition]
    new QuirkCsvColumnarReader(
      new QuirkCsvReader(p, allColumns, requiredColumns, filters,
        header, excelCompat, limit, materializeRow = false),
      columnarBatchSize)
  }
}

/** Chains one partition value's files through sequential
  * [[QuirkCsvReader]]s — the reader behind an SPJ split. Metrics
  * accumulate across the chain. */
private[sources] class QuirkCsvChainedReader(files: Array[QuirkCsvFileMeta],
                                             allColumns: Array[String],
                                             requiredColumns: Array[String],
                                             filters: Array[Filter],
                                             header: Boolean,
                                             excelCompat: Boolean)
  extends PartitionReader[InternalRow] {

  private var idx = -1
  private var cur: QuirkCsvReader = null
  private var doneEmitted = 0L
  private var doneFiltered = 0L

  private def metricsOf(r: QuirkCsvReader): (Long, Long) = {
    val m = r.currentMetricsValues()
    (m.find(_.name == "rowsEmitted").map(_.value).getOrElse(0L),
      m.find(_.name == "rowsFiltered").map(_.value).getOrElse(0L))
  }

  override def next(): Boolean = {
    while (true) {
      if (cur != null && cur.next()) return true
      if (cur != null) {
        val (e, f) = metricsOf(cur)
        doneEmitted += e; doneFiltered += f
        cur.close()
        cur = null
      }
      idx += 1
      if (idx >= files.length) return false
      val fm = files(idx)
      cur = new QuirkCsvReader(QuirkCsvPartition(fm.path, 0L, fm.len),
        allColumns, requiredColumns, filters, header, excelCompat)
    }
    false
  }

  override def get(): InternalRow = cur.get()

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val (e, f) = if (cur == null) (0L, 0L) else metricsOf(cur)
    Array(QuirkCsvTaskMetric("rowsEmitted", doneEmitted + e),
      QuirkCsvTaskMetric("rowsFiltered", doneFiltered + f))
  }

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Batched output over the same parse/filter loop: parsed fields land
  * directly in reused on-heap column vectors, skipping the per-row
  * `GenericInternalRow` + per-field `UTF8String` object graph the row
  * path allocates (the batch's memory is flat and recycled, so the scan
  * stops generating per-row garbage). Downstream, Spark's codegen reads
  * the vectors via `ColumnarToRow` without materializing rows either.
  * The parse itself stays scalar — a vectorized CSV parser is the next
  * rung, not a prerequisite for the batched interface. */
private[sources] class QuirkCsvColumnarReader(inner: QuirkCsvReader,
                                              batchSize: Int)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val nCols = inner.requiredIdx.length
  private val vectors =
    org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
      .allocateColumns(batchSize, StructType(
        (0 until nCols).map(i => StructField(s"c$i", StringType))))
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
    vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))
  private val filePathBytes = inner.filePathBytes

  override def next(): Boolean = {
    var i = 0
    var c = 0
    while (c < nCols) { vectors(c).reset(); c += 1 }
    while (i < batchSize && inner.next()) {
      val fields = inner.currentFields
      c = 0
      while (c < nCols) {
        val idx = inner.requiredIdx(c)
        if (idx < 0) // `_file` metadata column
          vectors(c).putByteArray(i, filePathBytes)
        else if (idx >= fields.length || fields(idx) == null)
          vectors(c).putNull(i)
        else {
          val b = fields(idx)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          vectors(c).putByteArray(i, b)
        }
        c += 1
      }
      i += 1
    }
    batch.setNumRows(i)
    i > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    inner.currentMetricsValues()

  override def close(): Unit = { batch.close(); inner.close() }
}

/** Bounded per-split top-N over the row reader: a `n`-capped heap under
  * the pushed ordering (UTF8String binary compare — exactly Spark's
  * string order), emitted once the split is exhausted. Rows leave in
  * heap order; Spark's final TopN re-sorts the splits × n candidates. */
private[sources] class QuirkCsvTopNReader(inner: QuirkCsvReader,
                                          requiredColumns: Array[String],
                                          topN: QuirkCsvTopN)
  extends PartitionReader[InternalRow] {

  private val keyIdx: Array[(Int, Boolean, Boolean)] = topN.keys.map(k =>
    (requiredColumns.indexOf(k.column), k.ascending, k.nullsFirst))
  require(keyIdx.forall(_._1 >= 0),
    "pushed top-N sort columns must survive column pruning " +
      s"(required=${requiredColumns.mkString(",")}, topN=$topN)")

  /** Spark's ordering for one key, on rows of the required schema. */
  private def cmpKey(a: InternalRow, b: InternalRow,
                     i: Int, asc: Boolean, nullsFirst: Boolean): Int = {
    val an = a.isNullAt(i)
    val bn = b.isNullAt(i)
    val c =
      if (an && bn) 0
      else if (an) { if (nullsFirst) -1 else 1 }
      else if (bn) { if (nullsFirst) 1 else -1 }
      else {
        val raw = a.getUTF8String(i).compareTo(b.getUTF8String(i))
        if (asc) raw else -raw
      }
    c
  }

  private def cmp(a: InternalRow, b: InternalRow): Int = {
    var j = 0
    while (j < keyIdx.length) {
      val (i, asc, nf) = keyIdx(j)
      val c = cmpKey(a, b, i, asc, nf)
      if (c != 0) return c
      j += 1
    }
    0
  }

  private def heap(): java.util.PriorityQueue[InternalRow] = {
    // worst-of-the-best at the head so it can be evicted in O(log n)
    val pq = new java.util.PriorityQueue[InternalRow](topN.n + 1,
      (a: InternalRow, b: InternalRow) => -cmp(a, b))
    while (inner.next()) {
      val row = inner.get() // fresh GenericInternalRow per row — safe to keep
      if (pq.size < topN.n) pq.add(row)
      else if (cmp(row, pq.peek()) < 0) { pq.poll(); pq.add(row) }
    }
    pq
  }

  private var out: java.util.PriorityQueue[InternalRow] = _
  private var current: InternalRow = _
  private var returned = 0L

  override def next(): Boolean = {
    if (out == null) out = heap()
    if (out.isEmpty) false
    else { current = out.poll(); returned += 1; true }
  }

  override def get(): InternalRow = current

  // rowsEmitted reports what THIS reader returned to Spark (<= n), not
  // the rows the inner reader drained into the heap — consistent with
  // the pushed-limit path's early-exit accounting
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    inner.currentMetricsValues().map {
      case m if m.name == "rowsEmitted" =>
        QuirkCsvTaskMetric("rowsEmitted", returned)
      case m => m
    }

  override def close(): Unit = inner.close()
}

/** Streams `[start, end)` of one file: seeks to `start`, discards the
  * partial line (it belongs to the previous split), then emits every line
  * whose first byte lies in the range — overreading the final record past
  * `end` per the split contract. latin-1 decode keeps 1 char == 1 byte so
  * offsets need no transcoding bookkeeping. */
private[sources] class QuirkCsvReader(part: QuirkCsvPartition,
                                      allColumns: Array[String],
                                      requiredColumns: Array[String],
                                      filters: Array[Filter],
                                      header: Boolean,
                                      excelCompat: Boolean,
                                      limit: Int = -1,
                                      materializeRow: Boolean = true)
  extends PartitionReader[InternalRow] {

  // per-task observability (rowsEmitted / rowsFiltered custom metrics)
  private var emitted = 0L
  private var filteredOut = 0L

  private val in = {
    val path = new Path(part.path)
    val fs = path.getFileSystem(hadoopConf)
    fs.open(path)
  }
  // Hadoop's split-start contract: seek to start-1 and discard one line.
  // Reading from start (and discarding to the next newline) would LOSE a
  // record whose first byte sits exactly at the boundary — the previous
  // split stops at lineStart >= end and never reads it. From start-1, the
  // discard consumes exactly the tail of the straddling line (or just the
  // newline at start-1 when the boundary coincides with a line start),
  // leaving pos at the first record this split owns.
  private val seekTo = if (part.start > 0) part.start - 1 else 0L
  in.seek(seekTo)

  // byte offset of the next unread char (chars == bytes under latin-1)
  private var pos: Long = seekTo

  // Byte-buffered line scanner. The dialect is latin-1 on disk (1 char ==
  // 1 byte), so a whole line decodes with ONE bulk
  // new String(bytes, ISO_8859_1) — which the JDK turns into an arraycopy
  // under compact strings — instead of a synchronized
  // BufferedReader.read() call plus a StringBuilder append PER CHARACTER
  // of every data file (the previous shape; it dominated scan CPU).
  private val buf = new Array[Byte](1 << 16)
  private var bufLen = 0
  private var bufPos = 0
  private def fill(): Boolean = {
    bufLen = in.read(buf); bufPos = 0; bufLen > 0
  }
  // discard the partial line at a mid-file split start
  if (part.start > 0) readLine()

  private val colIndex = allColumns.zipWithIndex.toMap
  // -1 marks the `_file` metadata column (emitted as this split's path)
  private[sources] val requiredIdx = requiredColumns.map(c =>
    if (c == QuirkCsvFileColumn.name()) -1 else colIndex(c))
  private val filePathUtf8 = UTF8String.fromString(part.path)
  private[sources] def filePathBytes: Array[Byte] =
    part.path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  // the parsed fields of the current row (the columnar reader consumes
  // these directly; valid after next() returns true)
  private[sources] var currentFields: Array[String] = _
  // filters compile ONCE per reader: In value lists become hash sets —
  // a dynamic-pruning join can deliver thousands of keys, and a per-row
  // linear `exists` would make the scan O(rows × |In-set|)
  private val filterIdx: Array[(Int, String => Boolean)] = filters.map {
    case In(a, vs) =>
      val set = new java.util.HashSet[String](vs.length * 2)
      vs.foreach(v => set.add(v.asInstanceOf[String]))
      colIndex(a) -> ((v: String) => v != null && set.contains(v))
    case f =>
      colIndex(QuirkCsv.filterColumn(f)) -> ((v: String) =>
        QuirkCsv.eval(f, v))
  }

  private var current: InternalRow = _

  /** Next raw line (terminator consumed, counted; '\r' kept for the
    * quirk-strip step), or null at EOF. */
  private def readLine(): String = {
    if (bufPos >= bufLen && !fill()) return null
    // spill only when a line straddles the 64K buffer boundary
    var spill: java.io.ByteArrayOutputStream = null
    while (true) {
      var i = bufPos
      while (i < bufLen && buf(i) != '\n') i += 1
      if (i < bufLen) { // newline at i
        val s =
          if (spill == null) new String(buf, bufPos, i - bufPos,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          else {
            spill.write(buf, bufPos, i - bufPos)
            new String(spill.toByteArray,
              java.nio.charset.StandardCharsets.ISO_8859_1)
          }
        pos += (i - bufPos) + 1
        bufPos = i + 1
        return s
      }
      if (spill == null) spill = new java.io.ByteArrayOutputStream(256)
      spill.write(buf, bufPos, bufLen - bufPos)
      pos += bufLen - bufPos
      if (!fill()) // EOF mid-line: emit the unterminated tail
        return new String(spill.toByteArray,
          java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    null // unreachable
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false // pushed LIMIT
    while (true) {
      val lineStart = pos
      if (lineStart >= part.end) return false
      val line = readLine()
      if (line == null) return false
      val stripped = QuirkCsv.stripLineQuirks(line)
      val keep =
        if (header && lineStart == 0) false // header line of the file
        else if (excelCompat && line.startsWith("\"")) false
        // skip fully blank lines (dialect quirk P8) — EXCEPT under a
        // single-column schema, where a blank line is exactly how the
        // sink serializes a (NULL) row: splitCsv("") yields [null], so
        // the round-trip keeps it instead of silently dropping it
        else stripped.nonEmpty || allColumns.length == 1
      if (keep) {
        val fields = QuirkCsv.parseLine(stripped, allColumns.length)
        if (passesFilters(fields)) {
          currentFields = fields
          if (materializeRow) current = buildRow(fields)
          emitted += 1
          return true
        } else filteredOut += 1
      }
    }
    false
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(QuirkCsvTaskMetric("rowsEmitted", emitted),
      QuirkCsvTaskMetric("rowsFiltered", filteredOut))

  private def field(fields: Array[String], i: Int): String =
    if (i < fields.length) fields(i) else null

  private def passesFilters(fields: Array[String]): Boolean = {
    var k = 0
    while (k < filterIdx.length) { // while-loop: no per-row closure alloc
      val (i, fn) = filterIdx(k)
      if (!fn(field(fields, i))) return false
      k += 1
    }
    true
  }

  private def buildRow(fields: Array[String]): InternalRow = {
    val values = new Array[Any](requiredIdx.length)
    var j = 0
    while (j < requiredIdx.length) {
      if (requiredIdx(j) < 0) values(j) = filePathUtf8
      else {
        val v = field(fields, requiredIdx(j))
        values(j) = if (v == null) null else UTF8String.fromString(v)
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
  }

  override def get(): InternalRow = current

  override def close(): Unit = in.close()
}

// -------------------------------------------------- aggregate pushdown

private[sources] sealed trait QuirkCsvAggFunc
private[sources] case object QuirkCsvCountStar extends QuirkCsvAggFunc
private[sources] case class QuirkCsvCountCol(name: String)
  extends QuirkCsvAggFunc
private[sources] case class QuirkCsvMinCol(name: String)
  extends QuirkCsvAggFunc
private[sources] case class QuirkCsvMaxCol(name: String)
  extends QuirkCsvAggFunc

/** A pushed aggregation the reader can compute per split: COUNT(*),
  * COUNT(col), MIN(col), MAX(col) over the raw string layer, grouped by
  * zero or more string columns. */
private[sources] case class QuirkCsvAgg(groupNames: Array[String],
                                        aggs: Array[QuirkCsvAggFunc],
                                        maxGroupsPerSplit: Int) {

  /** Scan output: group columns first, then one column per aggregate —
    * the positional layout Spark's partial-pushdown rewrite expects. */
  def schema: StructType = StructType(
    groupNames.map(StructField(_, StringType, nullable = true)) ++
      aggs.map {
        case QuirkCsvCountStar =>
          StructField("count(*)", org.apache.spark.sql.types.LongType,
            nullable = false)
        case QuirkCsvCountCol(n) =>
          StructField(s"count($n)", org.apache.spark.sql.types.LongType,
            nullable = false)
        case QuirkCsvMinCol(n) => StructField(s"min($n)", StringType,
          nullable = true)
        case QuirkCsvMaxCol(n) => StructField(s"max($n)", StringType,
          nullable = true)
      })

  /** Distinct parsed columns the aggregation reads. */
  def neededColumns: Array[String] =
    (groupNames ++ aggs.collect {
      case QuirkCsvCountCol(n) => n
      case QuirkCsvMinCol(n) => n
      case QuirkCsvMaxCol(n) => n
    }).distinct

  override def toString: String = {
    val fs = aggs.map {
      case QuirkCsvCountStar => "COUNT(*)"
      case QuirkCsvCountCol(n) => s"COUNT($n)"
      case QuirkCsvMinCol(n) => s"MIN($n)"
      case QuirkCsvMaxCol(n) => s"MAX($n)"
    }.mkString(", ")
    if (groupNames.isEmpty) fs
    else s"$fs GROUP BY ${groupNames.mkString(", ")}"
  }
}

private[sources] object QuirkCsvAgg {

  private def colOf(
      e: org.apache.spark.sql.connector.expressions.Expression,
      schema: StructType): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 &&
      schema.fieldNames.contains(nr.fieldNames()(0)) =>
      Some(nr.fieldNames()(0))
    case _ => None
  }

  /** Resolve a Catalyst [[Aggregation]] to reader form, or None when any
    * group/aggregate expression is not computable on parsed string
    * fields (distinct aggregates, nested refs, non-column args). */
  def tryPlan(schema: StructType, aggregation: Aggregation,
              options: CaseInsensitiveStringMap): Option[QuirkCsvAgg] = {
    val groups = aggregation.groupByExpressions.map(colOf(_, schema))
    val aggs: Array[Option[QuirkCsvAggFunc]] =
      aggregation.aggregateExpressions.map {
        case _: CountStar => Some(QuirkCsvCountStar)
        case c: Count if !c.isDistinct =>
          colOf(c.column, schema).map(QuirkCsvCountCol)
        case m: Min => colOf(m.column, schema).map(QuirkCsvMinCol)
        case m: Max => colOf(m.column, schema).map(QuirkCsvMaxCol)
        case _: AggregateFunc => None
      }
    if (groups.forall(_.isDefined) && aggs.nonEmpty &&
      aggs.forall(_.isDefined))
      Some(QuirkCsvAgg(groups.map(_.get), aggs.map(_.get),
        options.getInt("maxAggGroupsPerSplit", 100000)))
    else None
  }
}

/** Scan that returns per-split PARTIAL aggregates instead of rows. Same
  * byte-range split planning as the row scan; each split contributes at
  * most `groups` rows (exactly one for a global aggregate, even over an
  * empty split — `SUM` over zero partial counts would merge to NULL, not
  * 0). Batch-only: Spark does not push aggregates into streaming scans. */
private[sources] class QuirkCsvAggScan(fullSchema: StructType,
                                       filters: Array[Filter],
                                       agg: QuirkCsvAgg,
                                       options: CaseInsensitiveStringMap)
  extends Scan with Batch with SupportsReportStatistics {

  private val files: Seq[QuirkCsvFileMeta] =
    QuirkCsv.listFiles(options, filters)
  private val maxSplit: Long =
    options.getLong("maxSplitBytes", 128L * 1024 * 1024)
  private val header: Boolean = QuirkCsv.headerOpt(options)
  private val excelCompat: Boolean = options.getBoolean("excelCompat", false)

  override def readSchema(): StructType = agg.schema

  /** METADATA-ONLY answer for an unfiltered GLOBAL aggregate: the zone
    * sidecar already stores exact per-file row counts, null counts, and
    * min/max, so COUNT(*) / COUNT(col) / MIN / MAX over the whole table
    * fold on the DRIVER from the sidecars alone — zero data files read,
    * the Parquet-footer/manifest-count trick at the raw-CSV tier (a
    * COUNT(*) on a 100-TB directory becomes a sidecar read). Strictly
    * guarded — any of these falls back to the scanning plan:
    *
    *  - filters or GROUP BY (per-group stats don't exist)
    *  - `metadataAgg=false` (the escape hatch)
    *  - excelCompat (its parse is lossy BY DESIGN: scan counts
    *    legitimately differ from written-row counts)
    *  - any file without a FRESH sidecar entry (absent, or (len, mtime)
    *    drifted — hand-dropped or out-of-band-rewritten files)
    *  - any entry missing a needed column (pre-ALTER files: their NULLs
    *    for the new column aren't in the stats)
    *  - a min/max candidate at the stats length cap ([[QuirkCsv
    *    .StatsMaxLen]]): bounds at the cap may be TRUNCATED (valid for
    *    pruning, but not real data values — serving one would be wrong,
    *    not just loose)
    *
    * Partitioned tables fold across their per-value-directory sidecars
    * through the same per-file lookup. */
  private def metaAnswer(kept: Seq[QuirkCsvFileMeta])
  : Option[Array[AnyRef]] = {
    // filters are admissible ONLY when directory pruning fully applies
    // them (QuirkCsv.dirCompleteFilters): on a partitioned table,
    // predicates purely on the partition column select whole value
    // dirs — so "COUNT(*) of one day" on a 100-TB fact is also a
    // sidecar read. Any other predicate discriminates WITHIN files and
    // forces the scan. zoneMapPruning=false (the operator's
    // distrust-the-sidecars switch) disables this path too — both
    // sidecar-trusting features honor the same quarantine.
    if (agg.groupNames.nonEmpty || kept.isEmpty || excelCompat ||
      !options.getBoolean("metadataAgg", true) ||
      !options.getBoolean("zoneMapPruning", true) ||
      !QuirkCsv.dirCompleteFilters(options, fullSchema, filters))
      return None
    val entries = QuirkCsv.freshEntries(kept).getOrElse(return None)
    // sidecar stats are keyed by PHYSICAL names; aggregate columns are
    // logical — translate before lookup (RENAME evolution)
    val phys: String => String =
      QuirkCsv.schemaMapFor(options).map(m => m.phys _).getOrElse(identity)
    def bound(n0: String, lower: Boolean): Option[AnyRef] = {
      val n = phys(n0)
      var best: String = null
      entries.foreach { e =>
        e.cols.get(n) match {
          case Some((mn, mx, _)) =>
            (if (lower) mn else mx).foreach { v =>
              if (v.length >= QuirkCsv.StatsMaxLen) return None
              if (best == null || (if (lower) v < best else v > best))
                best = v
            }
          case None => return None
        }
      }
      Some(best) // null = all-null column => NULL aggregate
    }
    val vals = new Array[AnyRef](agg.aggs.length)
    var i = 0
    while (i < agg.aggs.length) {
      vals(i) = agg.aggs(i) match {
        case QuirkCsvCountStar => java.lang.Long.valueOf(entries.map(_.rows).sum)
        case QuirkCsvCountCol(n) =>
          var total = 0L
          entries.foreach { e =>
            e.cols.get(phys(n)) match {
              case Some((_, _, nulls)) => total += e.rows - nulls
              case None => return None
            }
          }
          java.lang.Long.valueOf(total)
        case QuirkCsvMinCol(n) => bound(n, lower = true).getOrElse(return None)
        case QuirkCsvMaxCol(n) => bound(n, lower = false).getOrElse(return None)
      }
      i += 1
    }
    Some(vals)
  }

  // pruning + sidecar loads are driver-side I/O on the planning hot
  // path: compute the pruned file set ONCE per scan (pushed filters are
  // fixed after build; the agg scan has no runtime filters)
  private lazy val keptFiles: Seq[QuirkCsvFileMeta] =
    QuirkCsv.pruneFiles(options, files, filters)

  private lazy val meta: Option[Array[AnyRef]] = metaAnswer(keptFiles)

  override def description(): String =
    s"graftcsv ${files.size} file(s), " +
      s"PushedAggregation: [$agg], " +
      s"PushedFilters: [${filters.mkString(", ")}]" +
      (if (meta.isDefined) ", MetadataOnlyAggregate: true" else "")

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    meta match {
      case Some(vals) => return Array(QuirkCsvMetaAggPartition(vals))
      case None =>
    }
    val splits = QuirkCsv.planSplits(keptFiles, maxSplit)
    // a GLOBAL aggregate — partial OR complete pushdown — must still
    // emit its one zero-row (count=0, not no-rows): with zero
    // partitions, Spark's partial-pushdown rewrite (COUNT -> SUM of
    // partials) merges to NULL instead of 0. Whenever NO partitions got
    // planned for ANY reason (pruning emptied the file set, the
    // directory is empty, or every file is zero bytes), plan one
    // synthetic partition backed by no file at all — its reader emits
    // exactly the zero-partial, zero I/O.
    if (splits.isEmpty && agg.groupNames.isEmpty)
      Array(QuirkCsvZeroPartition())
    else splits
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new QuirkCsvAggReaderFactory(
      QuirkCsv.readerColumns(options, fullSchema.fieldNames), agg, filters,
      header, excelCompat)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(files.map(_.len).sum)
    override def numRows(): util.OptionalLong = util.OptionalLong.empty()
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new QuirkCsvRowsEmittedMetric, new QuirkCsvRowsFilteredMetric)
}

/** The no-backing-file partition a GLOBAL pushed aggregate plans when no
  * real partition exists — its reader emits only the zero-partial. */
private[sources] case class QuirkCsvZeroPartition() extends InputPartition

/** The one-partition plan of a metadata-only aggregate: the final values
  * (boxed Long / String / null per aggregate, group-free by contract)
  * were folded from the zone sidecars on the driver; the reader just
  * emits them. */
private[sources] case class QuirkCsvMetaAggPartition(values: Array[AnyRef])
  extends InputPartition

private[sources] class QuirkCsvMetaAggReader(values: Array[AnyRef])
  extends PartitionReader[InternalRow] {
  private var done = false
  private var current: InternalRow = _
  override def next(): Boolean =
    if (done) false
    else {
      current = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(values.map {
          case s: String => UTF8String.fromString(s): Any
          case l: java.lang.Long => l.longValue(): Any
          case null => null: Any
          case other => throw new IllegalStateException(
            s"unexpected metadata-aggregate value $other")
        })
      done = true
      true
    }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Emits the single zero-partial row of a global pushed aggregate
  * (counts 0, min/max NULL) without touching any file. */
private[sources] class QuirkCsvZeroAggReader(agg: QuirkCsvAgg)
  extends PartitionReader[InternalRow] {
  private var done = false
  private var current: InternalRow = _
  override def next(): Boolean =
    if (done) false
    else {
      current = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(agg.aggs.map {
          case QuirkCsvCountStar | _: QuirkCsvCountCol => 0L: Any
          case _ => null: Any
        })
      done = true
      true
    }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

private[sources] class QuirkCsvAggReaderFactory(allColumns: Array[String],
                                                agg: QuirkCsvAgg,
                                                filters: Array[Filter],
                                                header: Boolean,
                                                excelCompat: Boolean)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
  : PartitionReader[InternalRow] = partition match {
    case QuirkCsvZeroPartition() => new QuirkCsvZeroAggReader(agg)
    case m: QuirkCsvMetaAggPartition => new QuirkCsvMetaAggReader(m.values)
    case p: QuirkCsvPartition =>
      new QuirkCsvAggReader(p, allColumns, agg, filters, header, excelCompat)
  }
}

/** Aggregates one split through the ordinary row reader (same parse,
  * same pushed filters), then replays the per-group partials. Group state
  * is an in-memory map — the contract is dashboard-cardinality group
  * keys; `maxAggGroupsPerSplit` (option, default 100k) fails fast with a
  * clear error instead of OOMing a 100 GB scan when a caller groups by a
  * unique key (which should be a plain scan + shuffle aggregate). */
private[sources] class QuirkCsvAggReader(part: QuirkCsvPartition,
                                         allColumns: Array[String],
                                         agg: QuirkCsvAgg,
                                         filters: Array[Filter],
                                         header: Boolean,
                                         excelCompat: Boolean)
  extends PartitionReader[InternalRow] {

  private val needed = agg.neededColumns
  private val inner = new QuirkCsvReader(part, allColumns, needed, filters,
    header, excelCompat)
  private val idx = needed.zipWithIndex.toMap
  private val groupIdx = agg.groupNames.map(idx)
  private val aggIdx: Array[Int] = agg.aggs.map {
    case QuirkCsvCountStar => -1
    case QuirkCsvCountCol(n) => idx(n)
    case QuirkCsvMinCol(n) => idx(n)
    case QuirkCsvMaxCol(n) => idx(n)
  }

  private def accumulate(): Iterator[InternalRow] = {
    // LinkedHashMap: deterministic (first-seen) emit order per split
    val state = new java.util.LinkedHashMap[Seq[UTF8String], Array[Any]]()
    while (inner.next()) {
      val row = inner.get()
      val key: Seq[UTF8String] = groupIdx.toIndexedSeq.map(i =>
        if (row.isNullAt(i)) null else row.getUTF8String(i))
      var acc = state.get(key)
      if (acc == null) {
        if (state.size() >= agg.maxGroupsPerSplit)
          throw new IllegalStateException(
            s"graftcsv pushed aggregation exceeded maxAggGroupsPerSplit=" +
              s"${agg.maxGroupsPerSplit} distinct groups in one split — " +
              "group-by keys this wide should aggregate post-scan " +
              "(raise the option only if the keys are genuinely bounded)")
        acc = new Array[Any](agg.aggs.length)
        var j = 0
        while (j < acc.length) {
          acc(j) = agg.aggs(j) match {
            case QuirkCsvCountStar | _: QuirkCsvCountCol => 0L
            case _ => null
          }
          j += 1
        }
        state.put(key, acc)
      }
      var j = 0
      while (j < agg.aggs.length) {
        agg.aggs(j) match {
          case QuirkCsvCountStar =>
            acc(j) = acc(j).asInstanceOf[Long] + 1L
          case _: QuirkCsvCountCol =>
            if (!row.isNullAt(aggIdx(j)))
              acc(j) = acc(j).asInstanceOf[Long] + 1L
          case _: QuirkCsvMinCol =>
            if (!row.isNullAt(aggIdx(j))) {
              val v = row.getUTF8String(aggIdx(j))
              val cur = acc(j).asInstanceOf[UTF8String]
              if (cur == null || v.compareTo(cur) < 0) acc(j) = v.clone()
            }
          case _: QuirkCsvMaxCol =>
            if (!row.isNullAt(aggIdx(j))) {
              val v = row.getUTF8String(aggIdx(j))
              val cur = acc(j).asInstanceOf[UTF8String]
              if (cur == null || v.compareTo(cur) > 0) acc(j) = v.clone()
            }
        }
        j += 1
      }
    }
    // a GLOBAL aggregate must emit its zero-partial even for an empty
    // split (see class doc); a grouped one emits nothing
    if (agg.groupNames.isEmpty && state.isEmpty) {
      val acc = agg.aggs.map {
        case QuirkCsvCountStar | _: QuirkCsvCountCol => 0L: Any
        case _ => null: Any
      }
      state.put(Seq.empty, acc)
    }
    state.entrySet().iterator().asScala.map { e =>
      val values = new Array[Any](agg.groupNames.length + agg.aggs.length)
      var j = 0
      while (j < agg.groupNames.length) {
        values(j) = e.getKey()(j); j += 1
      }
      var k = 0
      while (k < agg.aggs.length) {
        values(j + k) = e.getValue()(k); k += 1
      }
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(values): InternalRow
    }
  }

  private var out: Iterator[InternalRow] = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (out == null) out = accumulate()
    if (out.hasNext) { current = out.next(); true } else false
  }

  override def get(): InternalRow = current

  // rowsEmitted/rowsFiltered reflect the UNDERLYING row reader — what
  // was parsed and what the pushed filters dropped, not the partial rows
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    inner.currentMetricsValues()

  override def close(): Unit = inner.close()
}

// -------------------------------------------------------------- stream

private[sources] case class QuirkCsvOffset(n: Int) extends Offset {
  override def json(): String = s"""{"n":$n}"""
}

/** File-drop micro-batch stream over the quirk-CSV directory — the
  * corpus-intake shape (`streaming/CorpusIntake.scala`) driven by a
  * CUSTOM DSv2 streaming source instead of Spark's file source.
  *
  * Offset = count of files observed, in arrival order; each micro-batch
  * plans the byte-range splits of exactly the files in `(start, end]`,
  * through the same PartitionReader (and the same pruning/pushdown — the
  * ScanBuilder ran before the stream was materialized) as the batch
  * path. Files must be immutable once placed.
  *
  * '''Restart contract.''' The stream persists its arrival order as an
  * append-only manifest under its own checkpoint location (segment
  * files, tmp+renamed BEFORE the offset that covers them is returned),
  * so a restart replays by the RECORDED order, not by re-deriving
  * positions from a fresh listing — arbitrary file names and
  * out-of-order arrivals are safe across restarts. (A pre-manifest
  * checkpoint falls back to the historic positional contract:
  * path-sorted listing + monotonic names.)
  *
  * '''Compaction.''' `compactCsv` replaces consumed epoch files with
  * folded copies and records the folded→replaced mapping in the
  * directory's hidden fold log ([[QuirkCsvMaintenance.loadFoldLog]]).
  * A folded file showing up in the listing is classified by provenance,
  * chasing chained folds: every replaced original already observed by
  * this stream → the folded file is SKIPPED (its rows were consumed
  * under their original names — exactly-once across the compaction,
  * live or restarted); no replaced original observed → it is read as
  * ordinary new data (a fresh stream over an already-compacted
  * directory); a MIX → fail loudly (file-granularity replay cannot
  * split a folded file; restart from a fresh checkpoint). The one
  * remaining loud window: a restart whose UNCOMMITTED batch spans
  * originals that compaction already deleted — the replay detects the
  * missing files and aborts with the compaction named, never silently
  * dropping or duplicating rows. Compact cold files, not the epoch a
  * live trigger is reading (that in-flight race is file deletion under
  * a running scan, same as any reader).
  *
  * PARTITIONED tables stream too: `listFiles` already walks the value
  * subdirectories (partitionCol arrives through the catalog's table
  * options), rows carry the partition column like any other field, and
  * the schema-seed file at the root — header-only by contract, excluded
  * from batch split planning by `prunePartitions` — is skipped here for
  * the same reason (and because ALTER ADD COLUMN mints new seed versions
  * mid-stream, which must not surface as phantom empty batches). The
  * manifest makes value-dir-local names and late partition dirs safe
  * across restarts; per-value-dir fold logs classify value-dir
  * compaction the same way. DROP PARTITION under a live stream violates
  * file immutability exactly like deleting files from a flat dir. */
private[sources] class QuirkCsvMicroBatchStream(
    fullSchema: StructType, required: StructType, filters: Array[Filter],
    options: CaseInsensitiveStringMap, maxSplit: Long, header: Boolean,
    excelCompat: Boolean, checkpointLocation: String)
  extends MicroBatchStream {

  private val seen = ArrayBuffer.empty[QuirkCsvFileMeta] // arrival order
  private val seenNames = scala.collection.mutable.HashSet.empty[String]
  // restored manifest entries (by position) no longer present on disk —
  // legal for COMMITTED positions (compacted away after consumption),
  // fatal if an uncommitted replay slice touches one
  private val missingNames = scala.collection.mutable.HashSet.empty[String]
  private val partitioned = {
    val c = options.get("partitionCol")
    c != null && c.nonEmpty
  }

  // ---- durable arrival manifest (scoped to THIS query's checkpoint) ----
  private val manifestDir = new Path(checkpointLocation, "graft-seen")

  restoreManifest()

  private def manifestFs: FileSystem =
    manifestDir.getFileSystem(hadoopConf)

  /** Rebuild `seen` from the manifest segments, oldest first. Entries
    * whose file is gone stay as PLACEHOLDERS — their positions must keep
    * meaning so committed offsets stay valid. */
  private def restoreManifest(): Unit = {
    val fs = manifestFs
    if (!fs.exists(manifestDir)) return
    val segs = fs.listStatus(manifestDir).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("seg-"))
      .sortBy(s => s.getPath.getName.stripPrefix("seg-")
        .takeWhile(_ != '-').toLong)
    segs.foreach { s =>
      val from = s.getPath.getName.stripPrefix("seg-")
        .takeWhile(_ != '-').toLong
      require(from == seen.size,
        s"graftcsv stream manifest is discontiguous at ${s.getPath} " +
          s"(expected segment starting at ${seen.size}) — the checkpoint " +
          "is damaged; start the stream from a fresh checkpoint")
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(s.getPath), java.nio.charset.StandardCharsets.ISO_8859_1))
      try {
        Iterator.continually(in.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty).foreach { line =>
            val t = line.split("\t", -1)
            val meta = QuirkCsvFileMeta(
              QuirkCsv.decodePinnedName(t(0)), t(1).toLong, 0L)
            if (seenNames.add(meta.path)) seen += meta
          }
      } finally in.close()
    }
  }

  /** Persist `seen(from until seen.size)` as one segment, tmp+renamed —
    * runs BEFORE the offset covering these positions is returned, so any
    * offset Spark ever logs is backed by a durable arrival record. */
  private def persistSegment(from: Int): Unit = {
    if (from >= seen.size) return
    val fs = manifestFs
    fs.mkdirs(manifestDir)
    val name = f"seg-$from%09d-${seen.size}%09d.tsv"
    val tmp = new Path(manifestDir, s".$name.tmp")
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmp, true), java.nio.charset.StandardCharsets.ISO_8859_1))
    try seen.slice(from, seen.size).foreach { m =>
      out.write(QuirkCsv.encodePinned(Seq(m.path)))
      out.write("\t"); out.write(m.len.toString); out.write("\n")
    } finally out.close()
    val dst = new Path(manifestDir, name)
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst),
      s"graftcsv stream manifest: rename $tmp -> $dst failed")
  }

  private sealed trait Prov
  private case object Consumed extends Prov
  private case object Fresh extends Prov
  private case object Mixed extends Prov

  private def combine(ps: Iterable[Prov]): Prov =
    if (ps.forall(_ == Consumed)) Consumed
    else if (ps.forall(_ == Fresh)) Fresh
    else Mixed

  /** Provenance of one file name in `parent`: already observed by this
    * stream (directly, or — chasing chained folds — as the originals a
    * folded file replaced), never observed, or an unsplittable mix. */
  private def provenance(parent: Path, name: String,
                         foldOf: Map[String, Seq[String]]): Prov =
    if (seenNames.contains(new Path(parent, name).toString)) Consumed
    else foldOf.get(name) match {
      case Some(replaced) =>
        combine(replaced.map(provenance(parent, _, foldOf)))
      case None => Fresh
    }

  private def refresh(): Unit = synchronized {
    val listed = QuirkCsv.listFiles(options).filterNot { f =>
      partitioned && new Path(f.path).getName.startsWith("part-seed-")
    }
    val listedNames = listed.map(_.path).toSet
    missingNames.clear()
    seen.foreach(f =>
      if (!listedNames.contains(f.path)) missingNames += f.path)
    val candidates = listed.filterNot(f => seenNames.contains(f.path))
    if (candidates.isEmpty) return
    // per-directory fold logs, loaded once per refresh
    val foldLogs = scala.collection.mutable.Map.empty[String, Map[String, Seq[String]]]
    def foldOf(parent: Path): Map[String, Seq[String]] =
      foldLogs.getOrElseUpdate(parent.toString,
        QuirkCsvMaintenance.loadFoldLog(parent.toString)
          .flatMap { case (fn, dn) => fn.map(_ -> dn) }.toMap)
    // plain files first, folded files second: in the transient crash
    // window where originals and their folded copies coexist, the
    // originals must register as observed BEFORE the folded copy is
    // classified, or both would be read (duplicates)
    val (folded, plain) = candidates.partition(f =>
      foldOf(new Path(f.path).getParent).contains(new Path(f.path).getName))
    val before = seen.size
    plain.foreach { f => if (seenNames.add(f.path)) seen += f }
    folded.foreach { f =>
      val parent = new Path(f.path).getParent
      val name = new Path(f.path).getName
      provenance(parent, name, foldOf(parent)) match {
        case Consumed => seenNames += f.path // rows already consumed
        case Fresh => if (seenNames.add(f.path)) seen += f
        case Mixed => throw new IllegalStateException(
          s"graftcsv stream over $parent: compacted file '$name' mixes " +
            "rows this stream already consumed with rows it has not — " +
            "file-granularity replay cannot split it. The directory was " +
            "compacted across this stream's frontier; restart the query " +
            "from a fresh checkpoint (full re-read) or compact only " +
            "fully-consumed cold files")
      }
    }
    if (seen.size > before) persistSegment(before)
  }

  override def initialOffset(): Offset = QuirkCsvOffset(0)

  override def latestOffset(): Offset = {
    refresh()
    QuirkCsvOffset(seen.size)
  }

  override def deserializeOffset(json: String): Offset =
    QuirkCsvOffset("""\d+""".r.findFirstIn(json).getOrElse("0").toInt)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    refresh()
    val a = start.asInstanceOf[QuirkCsvOffset].n
    val b = end.asInstanceOf[QuirkCsvOffset].n
    val slice = seen.slice(a, b).toSeq
    val gone = slice.filter(f => missingNames.contains(f.path))
    if (gone.nonEmpty) throw new IllegalStateException(
      s"graftcsv stream cannot replay batch ($a, $b]: file(s) " +
        s"${gone.map(_.path).mkString(", ")} were observed before a " +
        "restart but no longer exist — compaction (or out-of-band " +
        "deletion) removed them before the batch committed. Rows were " +
        "neither lost nor duplicated; restart the query from a fresh " +
        "checkpoint, and compact only files whose batches have committed")
    QuirkCsv.planSplits(slice, maxSplit)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new QuirkCsvReaderFactory(
      QuirkCsv.readerColumns(options, fullSchema.fieldNames),
      required.fieldNames,
      filters, header, excelCompat)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

// ---------------------------------------------------------------- sink

/** What the batch write's job COMMIT does beyond making the job's own
  * files visible — the scope of the files it deletes. Everything except
  * [[QuirkCsvWriteMode.Truncate]] is partition-granular: commits touch
  * only the value directories in scope, so re-running one day's load
  * can never truncate the rest of a 100-TB fact. */
private[sources] sealed trait QuirkCsvWriteMode
private[sources] object QuirkCsvWriteMode {
  /** Plain append: no deletes. */
  case object Append extends QuirkCsvWriteMode
  /** Whole-directory replace (unpartitioned tables only). */
  case object Truncate extends QuirkCsvWriteMode
  /** Static partition overwrite (`INSERT OVERWRITE … PARTITION (c='v')`):
    * value dirs matching the filters are truncated — including matching
    * dirs the job wrote NO rows into (re-loading an empty day clears it). */
  case class OverwriteWhere(filters: Array[Filter]) extends QuirkCsvWriteMode
  /** Dynamic partition overwrite (`overwritePartitions()` /
    * partitionOverwriteMode=dynamic): exactly the value dirs that
    * RECEIVED rows are truncated; untouched partitions survive. */
  case object DynamicPartitions extends QuirkCsvWriteMode
  /** Row-level copy-on-write: replace exactly the value dirs the
    * operation's replacement scan planned (recorded in the scope). */
  case class ReplaceScanned(scope: QuirkCsvReplaceScope)
    extends QuirkCsvWriteMode
}

/** Driver-side scan→write coordination for PARTITIONED copy-on-write
  * row-level operations: the replacement scan records the partition
  * VALUES it planned (after runtime group filtering) and the write's
  * commit replaces exactly those value directories. Latest recording
  * wins — the runtime-filtered planning is the one whose rows feed the
  * write. Both ends run on the driver (scan planning and job commit),
  * so a plain atomic reference suffices. */
private[sources] final class QuirkCsvReplaceScope {
  private val ref = new java.util.concurrent.atomic
    .AtomicReference[Option[Set[Seq[String]]]](None)
  def record(values: Set[Seq[String]]): Unit = ref.set(Some(values))
  def get: Option[Set[Seq[String]]] = ref.get()
}

/** Batch write path: one CSV part file per partition, header per file
  * (so any file subset — and the whole directory — reads back through
  * the scan path). Tasks write attempt-private hidden tmps renamed into
  * place at `DataWriter.commit` (see [[QuirkCsvWriterFactory]]), so
  * in-progress or crash-orphaned task output is never reader-visible
  * and a speculative retry replaces its partition's file instead of
  * duplicating it. `mode("overwrite")` maps to `SupportsTruncate`:
  * files not written by the committing job are deleted AT COMMIT, after
  * every task has succeeded — a failed job leaves the old data in place
  * (same guarantee as Hadoop's non-atomic rename committers on object
  * stores). Partitioned tables replace that whole-directory mode with
  * the partition-scoped ones in [[QuirkCsvWriteMode]].
  *
  * The sink is the RAW layer's (all columns nullable strings, like the
  * reference's NVARCHAR staging table): NULL writes as an empty unquoted
  * field, the empty string as `""`, and fields containing commas /
  * quotes / line breaks quote-and-double — the exact inverses the reader
  * applies, so write → read round-trips bit-for-bit. */
private[sources] class QuirkCsvWriteBuilder(path: String,
                                            schema: StructType,
                                            options: CaseInsensitiveStringMap,
                                            queryId: String)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var mode: QuirkCsvWriteMode = QuirkCsvWriteMode.Append

  private def partitionCols: Seq[String] = QuirkCsv.partitionColsOf(options)

  // SupportsOverwrite's default truncate() routes through
  // overwrite(ALWAYS_TRUE); keep the explicit whole-table mode instead
  // (it carries the partitioned-table rejection with guidance)
  override def truncate(): WriteBuilder = {
    mode = QuirkCsvWriteMode.Truncate; this
  }

  /** Static overwrite is accepted only when every conjunct is an
    * evaluable predicate on the partition column — the deleted region
    * is then exactly a set of whole value directories. Anything else
    * answers false and Spark fails the query loudly (no silent
    * whole-table fallback). */
  override def canOverwrite(filters: Array[Filter]): Boolean = {
    val cols = partitionCols
    cols.nonEmpty && filters.nonEmpty && filters.forall(f =>
      (try cols.contains(QuirkCsv.filterColumn(f))
      catch { case _: IllegalArgumentException => false }) &&
        QuirkCsv.evaluable(schema, f))
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(canOverwrite(filters),
      s"graftcsv overwrite-by-filter needs a PARTITIONED table and " +
        s"predicates on the partition column only, got " +
        s"[${filters.mkString(", ")}] — use INSERT OVERWRITE … " +
        "PARTITION (…), dynamic partition overwrite, or row-level " +
        "MERGE/UPDATE/DELETE")
    mode = QuirkCsvWriteMode.OverwriteWhere(filters); this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(partitionCols.nonEmpty,
      "graftcsv dynamic partition overwrite applies to PARTITIONED " +
        "tables; overwrite an unpartitioned directory with " +
        "mode(\"overwrite\") / truncate")
    mode = QuirkCsvWriteMode.DynamicPartitions; this
  }

  /** Row-level operations on PARTITIONED tables: the commit replaces
    * exactly the value dirs the operation's replacement scan planned. */
  private[sources] def replaceScanned(
      scope: QuirkCsvReplaceScope): WriteBuilder = {
    mode = QuirkCsvWriteMode.ReplaceScanned(scope); this
  }

  override def build(): Write = {
    // a table handle loaded VERSION/TIMESTAMP AS OF is a read-only view
    // of history — writing "into the past" has no meaning
    require({ val v = options.get("asOfVersion"); v == null || v.isEmpty },
      "graftcsv snapshot reads (VERSION/TIMESTAMP AS OF) are read-only — " +
        "write through the current table instead")
    schema.fields.foreach { f =>
      require(f.dataType == StringType,
        s"graftcsv writes the all-string raw layer; column '${f.name}' " +
          s"is ${f.dataType.catalogString} — cast to string first")
    }
    if (partitionCols.isEmpty) {
      // a flat write into a partitioned table root would drop data
      // files beside the schema seed, where the scan's stray-file guard
      // then rejects the whole table — catch it at the write instead
      val p = new Path(path, QuirkCsv.PartitioningFile)
      require(!p.getFileSystem(hadoopConf).exists(p),
        s"$path is a PARTITIONED graftcsv table — write it through its " +
          "catalog (the partitionCol option routes rows into value " +
          "directories); a flat write would strand data files at the root")
    }
    partitionCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partitioned write is missing partition column '$c' in " +
          s"(${schema.fieldNames.mkString(", ")})")
      require(mode != QuirkCsvWriteMode.Truncate,
        "graftcsv partitioned tables never truncate whole-table: scope " +
          "the rewrite to partitions instead — INSERT OVERWRITE … " +
          "PARTITION (…), dynamic partition overwrite " +
          "(overwritePartitions() / partitionOverwriteMode=dynamic), " +
          "row-level MERGE/UPDATE/DELETE (partition-granular " +
          "copy-on-write), or DROP PARTITION for retention")
    }
    // RENAME/DROP evolution: data files keep the FROZEN physical layout
    // (header + zone-stats keys = physical names; dropped positions
    // written as NULL), so every file generation reads positionally and
    // sidecar stats keys never change meaning under a rename
    val sm = QuirkCsv.schemaMapFor(options)
    val physCols = sm.map(_.physical(schema.fieldNames))
      .getOrElse(schema.fieldNames)
    val srcIdx = sm.map(_.srcIdx(schema.fieldNames))
      .getOrElse(Array.tabulate(schema.fieldNames.length)(identity))
    val clusterBy = Option(options.get("clusterBy")).filter(_.nonEmpty)
    clusterBy.foreach(c => require(schema.fieldNames.contains(c),
      s"clustered write is missing cluster column '$c' in " +
        s"(${schema.fieldNames.mkString(", ")})"))
    // bloomCols names are CREATE-time (= physical) names by contract —
    // the marker predates any rename and writers key stats physically
    val bloomCols = Option(options.get("bloomCols")).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)).getOrElse(Array.empty[String])
    bloomCols.foreach(c => require(physCols.contains(c),
      s"bloom column '$c' is not a physical column of " +
        s"(${physCols.mkString(", ")})"))
    val bloomBits = options.getInt("bloomBits", QuirkCsvBloom.DefaultBits)
    require(bloomBits >= 64 && bloomBits % 64 == 0 && bloomBits <= (1 << 24),
      s"bloomBits must be a multiple of 64 in [64, ${1 << 24}], got " +
        s"$bloomBits")
    new QuirkCsvWrite(path, physCols, mode,
      QuirkCsv.headerOpt(options), queryId, partitionCols, srcIdx,
      clusterBy, bloomCols, bloomBits)
  }
}

private[sources] class QuirkCsvWrite(path: String, columns: Array[String],
                                     mode: QuirkCsvWriteMode, header: Boolean,
                                     queryId: String,
                                     partitionCols: Seq[String] = Nil,
                                     srcIdx: Array[Int] = null,
                                     clusterBy: Option[String] = None,
                                     bloomCols: Array[String] = Array.empty,
                                     bloomBits: Int =
                                       QuirkCsvBloom.DefaultBits)
  extends Write with BatchWrite with StreamingWrite
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private def truncateFirst: Boolean = mode == QuirkCsvWriteMode.Truncate

  /** Partitioned writes request rows CLUSTERED by the partition column:
    * Spark shuffles so each task holds whole value groups — without it,
    * every task opens a file in every value subdir it happens to see
    * (tasks × values small files, the classic dynamic-partition write
    * mistake). Unpartitioned writes request nothing. */
  private def sortOrderOf(c: String): SortOrder =
    org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.identity(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)

  /** Clustered (`clusterBy` marker) tables request an ORDERED
    * distribution — a global RANGE shuffle on (partition column, cluster
    * column) — so each task's file covers a disjoint cluster-key range
    * and the per-dir zone maps prune selective probes to one file.
    * Plain partitioned writes request hash clustering by the partition
    * column (whole value groups per task, no small-file explosion). */
  override def requiredDistribution()
  : org.apache.spark.sql.connector.distributions.Distribution =
    (partitionCols, clusterBy) match {
      case (pc, Some(k)) =>
        org.apache.spark.sql.connector.distributions.Distributions.ordered(
          (pc :+ k).map(sortOrderOf).toArray)
      case (pc, None) if pc.nonEmpty =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          pc.map(c => org.apache.spark.sql.connector.expressions.Expressions
            .identity(c): org.apache.spark.sql.connector.expressions
            .Expression).toArray)
      case _ =>
        org.apache.spark.sql.connector.distributions.Distributions
          .unspecified()
    }

  override def requiredOrdering(): Array[SortOrder] = clusterBy match {
    case Some(k) => (partitionCols :+ k).map(sortOrderOf).toArray
    case None => Array.empty
  }

  override def distributionStrictlyRequired(): Boolean = false

  // both parent traits default this; Scala requires the diamond be
  // resolved explicitly
  override def useCommitCoordinator(): Boolean = true

  override def toBatch: BatchWrite = this

  /** Streaming sink: append-only epochs through the same row writers.
    * The recovery contract, piece by piece:
    *
    *  - '''final names''' are `part-<queryId>-epoch-<epoch%020d>-
    *    <partition%05d>.csv`: the checkpoint-stable queryId keeps a
    *    restarted-from-scratch query (or a second query) from
    *    clobbering a previous run's epoch 0; zero-padding keeps
    *    path-sorted order == arrival order WITHIN one query — the
    *    micro-batch SOURCE's restart contract therefore holds for
    *    single-writer directories. A directory fed by MULTIPLE sink
    *    queries stays batch-readable but is not restart-safe for a
    *    downstream graftcsv STREAM (queryIds interleave the sort
    *    order); that pairing needs a manifest, which is exactly why
    *    Spark's own FileStreamSink/Source pair through one.
    *  - '''speculation-safe''': each task ATTEMPT writes a hidden
    *    `.‹final›.attempt-<taskId>.tmp` and renames into place only in
    *    `DataWriter.commit()` — the commit coordinator admits one
    *    attempt, so a losing speculative attempt aborts only its own
    *    tmp and can never delete committed data.
    *  - '''replay-idempotent''': a replayed epoch renames over the same
    *    final names instead of appending duplicates, and the epoch
    *    commit deletes any OTHER file of that (query, epoch) — task
    *    commits that landed under a died driver with a different
    *    partitioning can't survive as phantom rows.
    *  - each epoch commit merges its zone-map entries, so streamed
    *    files prune exactly like batch-written ones.
    *
    * Complete/truncate output modes are rejected: a raw-layer CSV
    * directory is an append-only log. */
  override def toStreaming: StreamingWrite = {
    require(mode == QuirkCsvWriteMode.Append,
      "graftcsv streaming sink is append-only; use outputMode(\"append\")")
    // PARTITIONED tables stream too: the per-value router writes
    // epoch-keyed file names into each value dir (names unique per
    // dir), a replayed epoch renames over the same names, and the
    // first-commit phantom sweep walks the value dirs. Per-dir zone
    // sidecars merge per epoch like the flat path's root sidecar.
    this
  }

  private def src: Array[Int] =
    if (srcIdx != null) srcIdx else Array.tabulate(columns.length)(identity)

  // the partition value is read off the INPUT (logical) row, so the
  // physical position of the partition column maps through srcIdx (the
  // partition column itself can never be renamed or dropped)
  private def partitionRowIdx(c: String): Int = src(columns.indexOf(c))

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
  : DataWriterFactory =
    if (partitionCols.nonEmpty)
      new QuirkCsvPartitionedWriterFactory(path, columns, header,
        java.util.UUID.randomUUID().toString, partitionCols.toArray,
        partitionCols.map(partitionRowIdx).toArray, src,
        bloomCols, bloomBits)
    else
      new QuirkCsvWriterFactory(path, columns, header,
        java.util.UUID.randomUUID().toString, src, bloomCols, bloomBits)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
  : StreamingDataWriterFactory = {
    // versioned roots preserve replaced finals (epoch replay) for the
    // epoch commit to retire into the attic — probed ONCE at the driver,
    // the flag ships to the tasks
    val root = new Path(path)
    val preserve = QuirkCsvVersions.isVersioned(
      root.getFileSystem(hadoopConf), root)
    if (partitionCols.nonEmpty)
      new QuirkCsvPartitionedStreamingWriterFactory(path, columns, header,
        queryId, partitionCols.toArray,
        partitionCols.map(partitionRowIdx).toArray, src,
        bloomCols, bloomBits, preserve)
    else
      new QuirkCsvStreamingWriterFactory(path, columns, header, queryId,
        src, bloomCols, bloomBits, preserve)
  }

  /** The action label a versioned table's log records for this write. */
  private def versionAction: String = mode match {
    case QuirkCsvWriteMode.Append => "append"
    case QuirkCsvWriteMode.Truncate => "overwrite"
    case QuirkCsvWriteMode.OverwriteWhere(_) => "overwriteWhere"
    case QuirkCsvWriteMode.DynamicPartitions => "dynamicOverwrite"
    case QuirkCsvWriteMode.ReplaceScanned(_) => "replaceRows"
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // Zone-map sidecars: per-file min/max/null stats gathered by the
    // writers, keyed by file name + (len, mtime) (the staleness guard),
    // written AFTER the data files are final so a reader never sees
    // stats for half-written files. Unpartitioned tables keep one root
    // sidecar (append carries surviving prior entries; truncate starts
    // fresh and deletes files this job didn't write). Partitioned
    // tables get one sidecar PER VALUE DIRECTORY — part-file names
    // repeat across value subdirs so the root can't carry one map, but
    // within a dir names are unique, and directory pruning already
    // handles partition-column predicates: the per-dir maps let filters
    // on NON-partition columns skip files inside surviving partitions.
    // Merged after the mode's disposals so replaced files' entries drop
    // out via the exists filter.
    //
    // VERSIONED tables (catalog marker): files this commit replaces are
    // RETIRED — moved to the attic by the version commit below — instead
    // of deleted, and the commit appends one version-log entry (adds +
    // retirements) so the pre-write state stays readable via VERSION AS
    // OF. Unversioned (raw-path) directories dispose physically, exactly
    // as before.
    val root = new Path(path)
    val rootFs = root.getFileSystem(hadoopConf)
    val versioned = QuirkCsvVersions.isVersioned(rootFs, root)
    val retired = ArrayBuffer.empty[Path]
    val dispose: Path => Unit =
      if (versioned) (p => retired += p)
      else (p => p.getFileSystem(hadoopConf).delete(p, false))
    if (partitionCols.isEmpty) {
        val commits = messages.collect { case c: QuirkCsvCommit => c }
        if (truncateFirst) {
          val written = commits.map(c => new Path(c.file).getName).toSet
          if (rootFs.exists(root)) rootFs.listStatus(root).foreach { st =>
            val n = st.getPath.getName
            if (st.isFile && !written.contains(n) && !n.startsWith("_") &&
              !n.startsWith(".") && !n.startsWith("part-seed-"))
              dispose(st.getPath)
          }
        }
        if (versioned)
          QuirkCsvVersions.commit(rootFs, root, versionAction,
            commits.map(c => new Path(c.file)).toSeq, retired.toSeq)
        mergeZoneMap(commits, dropPrior = truncateFirst)
    } else {
        if (mode != QuirkCsvWriteMode.Append)
          commitPartitioned(partitionCols, messages, dispose)
        if (versioned)
          QuirkCsvVersions.commit(rootFs, root, versionAction,
            allCommits(messages).map(cm => new Path(cm.file)),
            retired.toSeq)
        mergeZoneMapsByDir(allCommits(messages))
    }
  }

  /** Per-value-dir sidecar merges for a partitioned commit, fanned out
    * from the bounded maintenance pool past a small threshold: a write
    * touching thousands of leaf dirs (a first full load of a two-level
    * layout) must not pay one sequential open-merge-write per directory
    * on the driver — measured at 2,048 leaves, the sequential loop
    * dominated the whole commit. Distinct dirs never contend (one
    * sidecar each). */
  private def mergeZoneMapsByDir(commits: Seq[QuirkCsvCommit]): Unit = {
    val byDir = commits.groupBy(cm => new Path(cm.file).getParent).toSeq
    if (byDir.size <= 16)
      byDir.foreach { case (dir, cs) =>
        mergeZoneMapAt(dir, cs, dropPrior = false)
      }
    else
      QuirkCsvMaintenance.runBounded(
        byDir.map { case (dir, cs) =>
          dir.getName -> (() => mergeZoneMapAt(dir, cs, dropPrior = false))
        }, 16, 600L, "zone sidecar merge")
  }

  private def allCommits(messages: Array[WriterCommitMessage])
  : Seq[QuirkCsvCommit] = messages.toSeq.flatMap {
    case mc: QuirkCsvMultiCommit => mc.commits
    case cm: QuirkCsvCommit => Seq(cm)
    case _ => Nil
  }

  /** Partition-granular commit: delete every visible pre-existing file
    * in each IN-SCOPE value directory that this job didn't write (the
    * job's own files became visible through the task-commit renames).
    * The scope depends on the mode — dirs that RECEIVED rows (dynamic
    * overwrite), dirs MATCHING the static filters (overwrite-where,
    * including matching dirs the job wrote nothing into), or dirs the
    * row-level replacement scan PLANNED. Out-of-scope directories are
    * never listed, touched, or rewritten — that is the byte-identity
    * guarantee partitioned copy-on-write rests on. */
  private def commitPartitioned(cols: Seq[String],
                                messages: Array[WriterCommitMessage],
                                dispose: Path => Unit): Unit = {
    def evalTuple(f: Filter, tuple: Seq[String]): Boolean =
      QuirkCsv.eval(f, tuple(cols.indexOf(QuirkCsv.filterColumn(f))))
    val writtenByValue: Map[Seq[String], Set[String]] = messages.flatMap {
      case mc: QuirkCsvMultiCommit => mc.commits
      case cm: QuirkCsvCommit => Seq(cm)
      case _ => Nil
    }.flatMap { cm =>
      QuirkCsv.partitionTupleOf(cm.file, cols)
        .map(t => t -> new Path(cm.file).getName)
    }.groupBy(_._1).map { case (t, ns) => t -> ns.map(_._2).toSet }
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val targetValues: Set[Seq[String]] = mode match {
      case QuirkCsvWriteMode.DynamicPartitions => writtenByValue.keySet
      case QuirkCsvWriteMode.OverwriteWhere(filters) =>
        // Iceberg-style validation BEFORE any delete: rows landing
        // outside the overwritten region would silently become appends
        // with overwrite semantics claimed — abort the commit instead
        // (job abort then removes this job's files; no data changed)
        val stray = writtenByValue.keySet
          .filterNot(t => filters.forall(evalTuple(_, t)))
        require(stray.isEmpty,
          s"overwrite-by-filter write produced rows in partition(s) " +
            s"${stray.map(_.mkString("/")).mkString(", ")} outside the " +
            s"overwritten region [${filters.mkString(", ")}] — every " +
            "written row must satisfy the overwrite condition (commit " +
            "aborted, nothing was deleted)")
        QuirkCsv.leafValueDirs(fs, root, cols)
          .map(_._2)
          .filter(t => filters.forall(evalTuple(_, t)))
          .toSet
      case QuirkCsvWriteMode.ReplaceScanned(scope) =>
        scope.get.getOrElse(throw new IllegalStateException(
          "graftcsv row-level write committed before its replacement " +
            "scan planned — cannot determine which partitions to replace"))
      case m => throw new IllegalStateException(
        s"unexpected partitioned commit mode $m") // Append returns above
    }
    targetValues.foreach { t =>
      val dir = QuirkCsv.partitionDirPath(root, cols, t)
      if (fs.exists(dir)) {
        val keep = writtenByValue.getOrElse(t, Set.empty)
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
            !keep.contains(n))
            dispose(st.getPath)
        }
      }
    }
  }

  /** Phantom files — task commits of an epoch whose driver died before
    * the epoch commit, under a partitioning the replay no longer
    * produces — can only exist for the FIRST epoch committed by this
    * (restarted) write instance; later epochs ran entirely under a live
    * driver. Sweeping only once keeps the per-epoch commit free of a
    * full directory listing (which would grow with stream age). */
  @volatile private var sweptFirstEpoch = false

  /** Replaced-final asides reported by this epoch's task commits
    * (versioned replay — see QuirkCsvRenamingWriter): each retires into
    * the epoch's attic generation UNDER THE ORIGINAL final relpath, so
    * pre-replay snapshots keep their bytes. */
  private def replayAsides(root: Path, commits: Seq[QuirkCsvCommit])
  : Seq[(Path, String)] =
    commits.filter(_.priorAside != null).map { c =>
      (new Path(c.priorAside),
        QuirkCsvVersions.relpathOf(root, new Path(c.file)))
    }

  /** Streaming epoch commit: on the instance's first commit, sweep
    * every OTHER file of this (query, epoch) — phantom task commits and
    * stale attempt tmps — then merge the sidecar(s). Partitioned tables
    * sweep across their value dirs and merge each written dir's OWN
    * sidecar (the same per-dir layout the batch commit maintains). */
  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val prefix = QuirkCsvStreamingWriterFactory.epochPrefix(queryId, epochId)
    val doSweep = !sweptFirstEpoch
    sweptFirstEpoch = true
    // NOT a phantom: `.‹final›.pre-replay` asides — they hold the
    // version-committed bytes a replayed task displaced, and the commit
    // below retires them into the attic UNDER THE ORIGINAL relpath via
    // retiredAliases (sweeping one as a phantom would file its bytes
    // under the dot-name, leaving pre-replay snapshots unresolvable)
    def phantom(n: String): Boolean =
      (n.startsWith(prefix) || n.startsWith("." + prefix)) &&
        !n.endsWith(QuirkCsvStreamingWriterFactory.PreReplaySuffix)
    // versioned tables: each epoch is ONE version entry — the epoch's
    // files as adds AND any swept phantoms as retirements. Phantoms of a
    // replayed epoch may already be RECORDED as added (the previous
    // instance's commit logged them before the driver died short of the
    // sink commit log), so deleting them physically would poison every
    // later snapshot ("expects live file ... missing"); retiring them
    // keeps history closed. The current-version probe lists only the
    // tiny log dir — O(epochs) names, no data I/O.
    val root = new Path(path)
    val rootFs = root.getFileSystem(hadoopConf)
    val versioned = QuirkCsvVersions.isVersioned(rootFs, root)
    val phantoms = ArrayBuffer.empty[Path]
    val dispose: Path => Unit =
      if (versioned) (p => phantoms += p)
      else (p => p.getFileSystem(hadoopConf).delete(p, false))
    val commits = allCommits(messages)
    if (partitionCols.isEmpty) {
        if (doSweep) {
          val written = commits.map(c => new Path(c.file).getName).toSet
          if (rootFs.exists(root)) rootFs.listStatus(root).foreach { st =>
            val n = st.getPath.getName
            if (st.isFile && !written.contains(n) && phantom(n))
              dispose(st.getPath)
          }
        }
        if (versioned)
          QuirkCsvVersions.commit(rootFs, root, s"streamEpoch-$epochId",
            commits.map(cm => new Path(cm.file)), phantoms.toSeq,
            retiredAliases = replayAsides(root, commits))
        mergeZoneMap(messages.collect { case c: QuirkCsvCommit => c },
          dropPrior = false)
    } else {
        if (doSweep) {
          // a phantom commit of this (query, epoch) under a died driver
          // can sit in ANY (leaf) value dir — walk them once (first
          // epoch of this instance only, like the flat path). Keyed by
          // the partition TUPLE (scheme-independent): leaf dir NAMES
          // repeat across level-1 dirs on a multi-level layout.
          val keepByTuple = commits
            .flatMap(cm => QuirkCsv.partitionTupleOf(cm.file, partitionCols)
              .map(_ -> new Path(cm.file).getName))
            .groupBy(_._1)
            .map { case (t, ns) => t -> ns.map(_._2).toSet }
          QuirkCsv.leafValueDirs(rootFs, root, partitionCols)
            .foreach { case (d, tuple) =>
              val keep = keepByTuple.getOrElse(tuple, Set.empty)
              rootFs.listStatus(d).foreach { st =>
                val n = st.getPath.getName
                if (st.isFile && !keep.contains(n) && phantom(n))
                  dispose(st.getPath)
              }
            }
        }
        if (versioned)
          QuirkCsvVersions.commit(rootFs, root, s"streamEpoch-$epochId",
            commits.map(cm => new Path(cm.file)), phantoms.toSeq,
            retiredAliases = replayAsides(root, commits))
        mergeZoneMapsByDir(commits)
    }
  }

  private def mergeZoneMap(commits: Array[QuirkCsvCommit],
                           dropPrior: Boolean): Unit =
    mergeZoneMapAt(new Path(path), commits.toSeq, dropPrior)

  /** Merge `commits`' zone entries into `dir`'s sidecar: prior entries
    * survive unless overwritten, pointing at vanished files, or
    * `dropPrior`; fresh entries are keyed by the final files' actual
    * (len, mtime). One definition serves the unpartitioned root and
    * every partitioned value directory. */
  private def mergeZoneMapAt(dir: Path, commits: Seq[QuirkCsvCommit],
                             dropPrior: Boolean): Unit = {
    val fs = dir.getFileSystem(hadoopConf)
    val written = commits.map(c => new Path(c.file).getName).toSet
    val prior =
      if (dropPrior) Map.empty[String, QuirkCsvZoneEntry]
      else QuirkCsv.loadZoneMap(dir.toString)
        .filter { case (n, _) => !written.contains(n) &&
          fs.exists(new Path(dir, n)) }
    val fresh = commits.map { c =>
      val p = new Path(c.file)
      val name = p.getName
      val st = fs.getFileStatus(p)
      name -> QuirkCsvZoneEntry(st.getLen, st.getModificationTime, c.rows,
        columns.indices.map(i => columns(i) ->
          ((Option(c.mins(i)), Option(c.maxs(i)), c.nulls(i)))).toMap,
        c.blooms)
    }.toMap
    QuirkCsv.writeZoneMap(dir.toString, prior ++ fresh)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteFiles(messages)

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    deleteFiles(messages)

  private def deleteFiles(messages: Array[WriterCommitMessage]): Unit = {
    def del(c: QuirkCsvCommit): Unit = {
      val p = new Path(c.file)
      val fs = p.getFileSystem(hadoopConf)
      fs.delete(p, false)
    }
    messages.foreach {
      case c: QuirkCsvCommit => del(c)
      case m: QuirkCsvMultiCommit => m.commits.foreach(del)
      case _ =>
    }
  }
}

private[sources] object QuirkCsvStreamingWriterFactory {
  def epochPrefix(queryId: String, epochId: Long): String =
    f"part-$queryId-epoch-$epochId%020d-"
  /** Hidden-name suffix for a replaced final's preserved bytes. */
  val PreReplaySuffix = ".pre-replay"
}

private[sources] class QuirkCsvStreamingWriterFactory(
    path: String, columns: Array[String], header: Boolean, queryId: String,
    srcIdx: Array[Int] = null, bloomCols: Array[String] = Array.empty,
    bloomBits: Int = QuirkCsvBloom.DefaultBits,
    preserveReplaced: Boolean = false)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = {
    val finalName =
      QuirkCsvStreamingWriterFactory.epochPrefix(queryId, epochId) +
        f"$partitionId%05d.csv"
    // attempt-private tmp, renamed into place at DataWriter.commit —
    // see QuirkCsvWrite.toStreaming's recovery-contract doc
    new QuirkCsvRenamingWriter(
      s"$path/.$finalName.attempt-$taskId.tmp", s"$path/$finalName",
      columns, header, srcIdx, bloomCols, bloomBits, preserveReplaced)
  }
}

/** Writes to an attempt-private tmp path; the coordinator-approved
  * attempt's `commit()` renames it over the final name (replacing a
  * previous replay's file), so concurrent speculative attempts never
  * touch each other's output.
  *
  * `preserveReplaced` (VERSIONED roots, streaming factories only): a
  * final name that already exists may hold bytes an earlier version
  * entry recorded as ADDED (a replayed epoch re-lands the same names) —
  * deleting them would poison every snapshot that references them. The
  * FIRST replace instead renames the existing file aside to a hidden
  * deterministic name (`.‹final›.pre-replay`) and reports it in the
  * commit message; the driver's epoch commit retires the aside bytes
  * into the replaying version's attic under the ORIGINAL relpath, so
  * history stays byte-accurate across replays. The name is
  * deterministic, not attempt-keyed, on purpose: if a replay itself
  * dies after replacing and a SECOND replay runs, the aside already
  * holds the only version-committed bytes — the second replay's
  * pre-state (the first replay's uncommitted output) is safe to drop. */
private[sources] class QuirkCsvRenamingWriter(tmp: String, dest: String,
                                              columns: Array[String],
                                              header: Boolean,
                                              srcIdx: Array[Int] = null,
                                              bloomCols: Array[String] =
                                                Array.empty,
                                              bloomBits: Int =
                                                QuirkCsvBloom.DefaultBits,
                                              preserveReplaced: Boolean =
                                                false)
  extends QuirkCsvWriter(tmp, columns, header, srcIdx, bloomCols,
    bloomBits) {

  override def commit(): WriterCommitMessage = {
    val m = super.commit().asInstanceOf[QuirkCsvCommit]
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(hadoopConf)
    var aside: String = null
    if (preserveReplaced) {
      val asidePath = new Path(destPath.getParent,
        s".${destPath.getName}${QuirkCsvStreamingWriterFactory.PreReplaySuffix}")
      if (fs.exists(destPath) && !fs.exists(asidePath)) {
        // racing speculative attempts: rename is atomic, loser falls
        // through to the delete branch below (dest then gone, no-op)
        fs.rename(destPath, asidePath)
      }
      if (fs.exists(asidePath)) aside = asidePath.toString
    }
    if (fs.exists(destPath)) fs.delete(destPath, false)
    require(fs.rename(new Path(tmp), destPath),
      s"graftcsv sink: rename $tmp -> $dest failed")
    m.copy(file = dest, priorAside = aside)
  }
}

/** Per-file write result: path plus the zone-map statistics the writer
  * gathered row by row (per-column min/max over non-null values under
  * plain String ordering — the same ordering the reader's filter
  * evaluation uses — and null counts). */
private[sources] case class QuirkCsvCommit(file: String, rows: Long,
                                           mins: Array[String],
                                           maxs: Array[String],
                                           nulls: Array[Long],
                                           blooms: Map[String, String] =
                                             Map.empty,
                                           // versioned replay: hidden
                                           // aside file holding `file`'s
                                           // pre-replace bytes (see
                                           // QuirkCsvRenamingWriter)
                                           priorAside: String = null)
  extends WriterCommitMessage

/** Per-file Bloom filter over one column's non-null values — the sidecar
  * complement to min/max zone stats: equality/IN probes on a
  * high-cardinality UNCLUSTERED column (where every file's range overlaps
  * and min/max prunes nothing) skip files whose bloom excludes the value.
  *
  * Fixed size (default 8192 bits = 1 KiB/col/file in the sidecar), 4 bit
  * positions per value off one MD5 (deterministic — full value bytes, no
  * truncation, so unlike the 256-char-capped bounds a bloom answer is
  * never about a fabricated value). Saturates — never lies — on files
  * with far more distinct values than bits: pruning degrades to the range
  * stats, correctness holds. Absent blooms (pre-bloom files, attic
  * snapshots, disabled columns) answer "might contain". */
private[graft] object QuirkCsvBloom {
  val DefaultBits = 8192

  // MessageDigest.getInstance is a JCA provider lookup — far too slow to
  // pay once PER VALUE on the write path; reset() + digest() reuses the
  // instance (MD5 state is 128 bytes)
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def bitPositions(v: String, m: Int): Array[Int] = {
    val digest = md5.get()
    digest.reset()
    val d = digest
      .digest(v.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    Array.tabulate(4) { k =>
      val i = k * 4
      val h = ((d(i) & 0xff) << 24) | ((d(i + 1) & 0xff) << 16) |
        ((d(i + 2) & 0xff) << 8) | (d(i + 3) & 0xff)
      math.floorMod(h, m)
    }
  }

  def toHex(bits: Array[Long]): String =
    bits.map(w => f"$w%016x").mkString

  def mightContain(hex: String, v: String): Boolean = {
    val m = hex.length * 4
    if (m == 0) return true
    bitPositions(v, m).forall { p =>
      val word = java.lang.Long.parseUnsignedLong(
        hex.substring((p >> 6) * 16, (p >> 6) * 16 + 16), 16)
      (word & (1L << (63 - (p & 63)))) != 0
    }
  }

  def set(bits: Array[Long], v: String): Unit =
    bitPositions(v, bits.length * 64).foreach { p =>
      bits(p >> 6) |= 1L << (63 - (p & 63))
    }
}

private[sources] class QuirkCsvWriterFactory(path: String,
                                             columns: Array[String],
                                             header: Boolean, jobId: String,
                                             srcIdx: Array[Int] = null,
                                             bloomCols: Array[String] =
                                               Array.empty,
                                             bloomBits: Int =
                                               QuirkCsvBloom.DefaultBits)
  extends DataWriterFactory {

  /** Batch tasks write the same attempt-private-tmp + rename-on-commit
    * protocol as the streaming path: the final name is attempt-STABLE
    * (jobId + partitionId only), each attempt writes a hidden
    * `.‹final›.attempt-<taskId>.tmp`, and only the coordinator-admitted
    * attempt's `DataWriter.commit()` renames into place. In-progress and
    * crash-orphaned task output is therefore never visible to a reader
    * (hidden names are skipped by `listFiles`), and a speculative retry
    * replaces — never duplicates — its partition's file. */
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] = {
    val finalName = f"part-$jobId-$partitionId%05d.csv"
    new QuirkCsvRenamingWriter(
      s"$path/.$finalName.attempt-$taskId.tmp", s"$path/$finalName",
      columns, header, srcIdx, bloomCols, bloomBits)
  }
}

/** One task's commits across several partition-value files. */
private[sources] case class QuirkCsvMultiCommit(commits: Seq[QuirkCsvCommit])
  extends WriterCommitMessage

private[sources] class QuirkCsvPartitionedWriterFactory(
    path: String, columns: Array[String], header: Boolean, jobId: String,
    partitionCols: Array[String], partitionIdxs: Array[Int],
    srcIdx: Array[Int] = null,
    bloomCols: Array[String] = Array.empty,
    bloomBits: Int = QuirkCsvBloom.DefaultBits)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new QuirkCsvPartitionedWriter(path, columns, header,
      f"part-$jobId-$partitionId%05d.csv", taskId, partitionCols,
      partitionIdxs, srcIdx, bloomCols, bloomBits)
}

/** Streaming twin: the same per-value router with epoch-keyed final
  * names — one file per (epoch, task partition) in each value dir it
  * received rows for, replay renaming over the same names. */
private[sources] class QuirkCsvPartitionedStreamingWriterFactory(
    path: String, columns: Array[String], header: Boolean, queryId: String,
    partitionCols: Array[String], partitionIdxs: Array[Int],
    srcIdx: Array[Int] = null,
    bloomCols: Array[String] = Array.empty,
    bloomBits: Int = QuirkCsvBloom.DefaultBits,
    preserveReplaced: Boolean = false)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new QuirkCsvPartitionedWriter(path, columns, header,
      QuirkCsvStreamingWriterFactory.epochPrefix(queryId, epochId) +
        f"$partitionId%05d.csv",
      taskId, partitionCols, partitionIdxs, srcIdx, bloomCols, bloomBits,
      preserveReplaced)
}

/** Dynamic-partition router: each row lands in its value tuple's nested
  * `c1=v1/c2=v2/` subdir through the same attempt-private-tmp +
  * rename-on-commit writers as the flat path (one open writer per tuple
  * seen by this task — the requested clustered distribution keeps that
  * count ~1). NULL partition values fail LOUDLY: a silent null bucket
  * (hive's `__HIVE_DEFAULT_PARTITION__`) turns cleaning bugs into
  * unreadable layout; the raw layer's contract is clean-then-load. */
private[sources] class QuirkCsvPartitionedWriter(
    basePath: String, columns: Array[String], header: Boolean,
    finalName: String, taskId: Long,
    partitionCols: Array[String], partitionIdxs: Array[Int],
    srcIdx: Array[Int] = null,
    bloomCols: Array[String] = Array.empty,
    bloomBits: Int = QuirkCsvBloom.DefaultBits,
    preserveReplaced: Boolean = false)
  extends DataWriter[InternalRow] {

  private val open = scala.collection.mutable
    .LinkedHashMap.empty[Seq[String], QuirkCsvRenamingWriter]

  private def writerFor(values: Seq[String]): QuirkCsvRenamingWriter =
    open.getOrElseUpdate(values, {
      val dir = QuirkCsv.partitionDirPath(new Path(basePath),
        partitionCols.toIndexedSeq, values)
      dir.getFileSystem(hadoopConf).mkdirs(dir)
      new QuirkCsvRenamingWriter(
        s"$dir/.$finalName.attempt-$taskId.tmp", s"$dir/$finalName",
        columns, header, srcIdx, bloomCols, bloomBits, preserveReplaced)
    })

  override def write(row: InternalRow): Unit = {
    val values = new Array[String](partitionIdxs.length)
    var i = 0
    while (i < partitionIdxs.length) {
      require(!row.isNullAt(partitionIdxs(i)),
        s"NULL value for partition column '${partitionCols(i)}' — " +
          "partitioned raw tables reject null partition keys; clean " +
          "upstream or use an explicit sentinel value")
      values(i) = row.getUTF8String(partitionIdxs(i)).toString
      i += 1
    }
    writerFor(values.toIndexedSeq).write(row)
  }

  /** Per-value renames happen sequentially; a failure partway would
    * otherwise leave the already-renamed files reader-visible with NO
    * commit message returned — job abort deletes only files named by
    * returned messages, so those rows would persist as spurious appends.
    * On failure, best-effort delete the finals this task already renamed
    * (names are attempt-stable, so they are exactly identifiable) before
    * rethrowing; un-renamed writers' tmps are cleaned by abort(). */
  override def commit(): WriterCommitMessage = {
    val done = scala.collection.mutable.ArrayBuffer.empty[QuirkCsvCommit]
    try {
      open.values.foreach(w => done += w.commit().asInstanceOf[QuirkCsvCommit])
      QuirkCsvMultiCommit(done.toSeq)
    } catch {
      case t: Throwable =>
        // best-effort; a final whose delete ALSO fails survives as a
        // reader-visible duplicate with no commit message — the one
        // window job abort cannot clean. Name the survivors on the
        // rethrown failure so the silent-duplication window is at least
        // diagnosable by the operator.
        val undeleted = scala.collection.mutable.ArrayBuffer.empty[String]
        done.foreach { c =>
          try {
            val p = new Path(c.file)
            if (!p.getFileSystem(hadoopConf).delete(p, false) &&
              p.getFileSystem(hadoopConf).exists(p))
              undeleted += c.file
          } catch { case _: Exception => undeleted += c.file }
        }
        if (undeleted.nonEmpty) throw new java.io.IOException(
          "partitioned commit failed AND cleanup left already-renamed " +
            s"final file(s) behind — inspect/remove manually before " +
            s"re-running: ${undeleted.mkString(", ")}", t)
        throw t
    }
  }

  override def abort(): Unit = open.values.foreach(_.abort())

  override def close(): Unit = open.values.foreach(_.close())
}

private[sources] class QuirkCsvWriter(file: String, columns: Array[String],
                                      header: Boolean,
                                      srcIdx: Array[Int] = null,
                                      bloomCols: Array[String] = Array.empty,
                                      bloomBits: Int =
                                        QuirkCsvBloom.DefaultBits)
  extends DataWriter[InternalRow] {

  // physical position -> input-row ordinal; -1 = dropped column (written
  // as NULL so the frozen physical layout never shifts). Identity when
  // the table has no rename/drop journal.
  private val src: Array[Int] =
    if (srcIdx != null) srcIdx else Array.tabulate(columns.length)(identity)

  private val fsPath = new Path(file)
  private val out = {
    val fs = fsPath.getFileSystem(hadoopConf)
    val stream = fs.create(fsPath, true)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      stream, java.nio.charset.StandardCharsets.ISO_8859_1), 1 << 16)
    if (header) { w.write(columns.map(QuirkCsv.formatField).mkString(",")); w.write("\n") }
    w
  }

  // zone-map stats, updated per row (min/max over non-nulls, null count,
  // and — for opted-in columns — a per-file bloom over full values)
  private var rows = 0L
  private val mins = new Array[String](columns.length)
  private val maxs = new Array[String](columns.length)
  private val nulls = new Array[Long](columns.length)
  private val blooms: Array[Array[Long]] =
    columns.map(c => if (bloomCols.contains(c))
      new Array[Long](bloomBits / 64) else null)

  // per-row scratch, reused: the row loop previously allocated a fresh
  // StringBuilder plus a String copy of the full line per row
  private val sb = new java.lang.StringBuilder(256)
  private var lineChars = new Array[Char](256)

  override def write(row: InternalRow): Unit = {
    var i = 0
    sb.setLength(0)
    while (i < columns.length) {
      if (i > 0) sb.append(',')
      val s = src(i)
      if (s >= 0 && !row.isNullAt(s)) {
        val v = row.getUTF8String(s).toString
        sb.append(QuirkCsv.formatField(v))
        if (mins(i) == null || v.compareTo(mins(i)) < 0) mins(i) = v
        if (maxs(i) == null || v.compareTo(maxs(i)) > 0) maxs(i) = v
        if (blooms(i) != null) QuirkCsvBloom.set(blooms(i), v)
      } else nulls(i) += 1
      i += 1
    }
    sb.append('\n')
    val n = sb.length
    if (lineChars.length < n)
      lineChars = new Array[Char](math.max(n, lineChars.length * 2))
    sb.getChars(0, n, lineChars, 0)
    out.write(lineChars, 0, n)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    QuirkCsvCommit(file, rows,
      mins.map(QuirkCsv.boundDown), maxs.map(QuirkCsv.boundUp), nulls,
      columns.indices.collect { case i if blooms(i) != null =>
        columns(i) -> QuirkCsvBloom.toHex(blooms(i))
      }.toMap)
  }

  override def abort(): Unit = {
    out.close()
    val fs = fsPath.getFileSystem(hadoopConf)
    fs.delete(fsPath, false)
  }

  override def close(): Unit = ()
}

/** One data file's zone-map entry: byte length + modification time (the
  * staleness guard — length alone would trust stale stats after a
  * same-length out-of-band rewrite), row count, and per-column
  * (min, max, nullCount) — min/max None when every value in the file is
  * null. */
private[sources] case class QuirkCsvZoneEntry(len: Long, mtime: Long,
    rows: Long,
    cols: Map[String, (Option[String], Option[String], Long)],
    blooms: Map[String, String] = Map.empty)

/** Logical→physical schema mapping for RENAME/DROP COLUMN evolution on
  * graftcsv tables ([[QuirkCsv.SchemaMapFile]] journal): positions are
  * FROZEN — a rename re-labels a position, a drop masks one — so data
  * files are NEVER rewritten and every generation of file stays readable
  * positionally. `ops` holds at most one entry per affected physical
  * position: `logicalName = None` means dropped; `Some(l)` means the
  * position's physical (original seed) name `physName` now surfaces as
  * logical name `l`. Zone-map stats are keyed by PHYSICAL names forever
  * (writers keep writing them), so query-time lookups translate
  * logical→physical through [[toPhys]] and stale stats can never be
  * re-used under a recycled name. */
private[sources] case class QuirkCsvSchemaMapOp(idx: Int, physName: String,
                                                logicalName: Option[String])

private[sources] case class QuirkCsvSchemaMap(ops: Seq[QuirkCsvSchemaMapOp]) {
  val byIdx: Map[Int, QuirkCsvSchemaMapOp] = ops.map(o => o.idx -> o).toMap
  require(byIdx.size == ops.size,
    s"schema map holds duplicate ops for one position: $ops")
  private val nDropped = ops.count(_.logicalName.isEmpty)

  /** logical → physical name (identity for never-renamed columns). */
  val toPhys: Map[String, String] =
    ops.flatMap(o => o.logicalName.map(_ -> o.physName)).toMap
  def phys(c: String): String = toPhys.getOrElse(c, c)

  /** Every physical name the journal knows (dropped + pre-rename) —
    * reserved forever: reusing one would alias old files' positions or
    * sidecar stats. */
  def reservedPhysNames: Set[String] = ops.map(_.physName).toSet

  def width(nLogical: Int): Int = nLogical + nDropped

  /** Physical-position name arrays derived from the LOGICAL schema.
    * `positional`: what readers index required (logical) names against —
    * dropped positions get an unmatchable placeholder. `physical`: what
    * writers emit as header + zone-stats keys. `srcIdx`: physical
    * position → ordinal in the logical row (-1 = dropped, write NULL). */
  def positional(logical: Array[String]): Array[String] =
    layout(logical)._1
  def physical(logical: Array[String]): Array[String] =
    layout(logical)._2
  def srcIdx(logical: Array[String]): Array[Int] =
    layout(logical)._3

  private def layout(logical: Array[String])
  : (Array[String], Array[String], Array[Int]) = {
    val n = width(logical.length)
    require(ops.forall(_.idx < n),
      s"schema map references position beyond width $n: $ops")
    val pos = new Array[String](n)
    val phy = new Array[String](n)
    val src = new Array[Int](n)
    var li = 0
    var i = 0
    while (i < n) {
      byIdx.get(i) match {
        case Some(QuirkCsvSchemaMapOp(_, p, None)) => // dropped
          pos(i) = s" dropped:$i"; phy(i) = p; src(i) = -1
        case Some(QuirkCsvSchemaMapOp(_, p, Some(_))) => // renamed
          pos(i) = logical(li); phy(i) = p; src(i) = li; li += 1
        case None =>
          pos(i) = logical(li); phy(i) = logical(li); src(i) = li; li += 1
      }
      i += 1
    }
    require(li == logical.length,
      s"schema map width mismatch: $n physical vs ${logical.length} logical")
    (pos, phy, src)
  }

  /** The inverse direction: PHYSICAL (seed) names → logical schema. */
  def logicalOf(physNames: Array[String]): Array[String] =
    physNames.indices.flatMap { i =>
      byIdx.get(i) match {
        case Some(QuirkCsvSchemaMapOp(_, _, None)) => None
        case Some(QuirkCsvSchemaMapOp(_, _, Some(l))) => Some(l)
        case None => Some(physNames(i))
      }
    }.toArray
}

private[sources] object QuirkCsv {

  // ------------------------------------------------ schema-map journal

  val SchemaMapFile = "_graft_schema_map.tsv"
  private val SchemaMapHeader = "graft-schema-map-v1"

  /** Load a table root's rename/drop journal; None when absent. A
    * present-but-unreadable journal fails LOUDLY: it is the only record
    * of what the positions mean, and guessing would silently re-label
    * data. */
  def loadSchemaMap(dir: String): Option[QuirkCsvSchemaMap] = {
    val p = new Path(dir, SchemaMapFile)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return None
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.ISO_8859_1))
    try {
      val header = in.readLine()
      require(header == SchemaMapHeader,
        s"unrecognized schema-map header '$header' in $p")
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).toList
      require(lines.lastOption.contains("end"),
        s"schema map $p is truncated")
      val ops = lines.init.map { l =>
        val t = l.split("\t", -1)
        t(0) match {
          case "R" => QuirkCsvSchemaMapOp(t(1).toInt, dec(t(2)),
            Some(dec(t(3))))
          case "D" => QuirkCsvSchemaMapOp(t(1).toInt, dec(t(2)), None)
          case other => throw new IllegalArgumentException(
            s"schema map $p holds an unknown op '$other'")
        }
      }
      Some(QuirkCsvSchemaMap(ops))
    } finally in.close()
  }

  /** Write the journal via tmp+rename — absent or complete, never
    * partial. */
  def writeSchemaMap(dir: String, m: QuirkCsvSchemaMap): Unit = {
    val dst = new Path(dir, SchemaMapFile)
    val tmp = new Path(dir, s".$SchemaMapFile.tmp")
    val fs = dst.getFileSystem(hadoopConf)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmp, true), java.nio.charset.StandardCharsets.ISO_8859_1))
    try {
      out.write(SchemaMapHeader); out.write("\n")
      m.ops.sortBy(_.idx).foreach {
        case QuirkCsvSchemaMapOp(i, p, Some(l)) =>
          out.write(s"R\t$i\t${enc(p)}\t${enc(l)}\n")
        case QuirkCsvSchemaMapOp(i, p, None) =>
          out.write(s"D\t$i\t${enc(p)}\n")
      }
      out.write("end\n")
    } finally out.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"schema map swap $tmp -> $dst failed")
  }

  // journal memo keyed by directory, validated by the journal file's
  // (len, mtime): planning paths call schemaMapFor several times per
  // query (inferSchema, pruning, reader factories, write build) and the
  // journal is immutable between ALTERs — one getFileStatus replaces an
  // open+parse per call. Absence is cached as (-1,-1).
  private val schemaMapMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Option[QuirkCsvSchemaMap])]()

  /** The journal governing `options`' path (table root; a file path
    * resolves through its parent, same as zone maps).
    * `ignoreSchemaMap=true` (the compaction fold's option) bypasses it:
    * the fold must read and write the FROZEN PHYSICAL layout, or
    * swapped-in folded files would be positionally mis-read through the
    * very journal that described the originals. */
  def schemaMapFor(options: CaseInsensitiveStringMap)
  : Option[QuirkCsvSchemaMap] = {
    if (options.getBoolean("ignoreSchemaMap", false)) return None
    val raw = options.get("path")
    if (raw == null || raw.isEmpty) return None
    val base = new Path(raw)
    val fs = base.getFileSystem(hadoopConf)
    if (!fs.exists(base)) return None
    val dir = if (fs.getFileStatus(base).isDirectory) base else base.getParent
    val p = new Path(dir, SchemaMapFile)
    val key = (if (fs.exists(p)) {
      val st = fs.getFileStatus(p)
      (st.getLen, st.getModificationTime)
    } else (-1L, -1L))
    val cached = schemaMapMemo.get(dir.toString)
    if (cached != null && cached._1 == key._1 && cached._2 == key._2)
      return cached._3
    val loaded =
      if (key._1 < 0) None else loadSchemaMap(dir.toString)
    schemaMapMemo.put(dir.toString, (key._1, key._2, loaded))
    loaded
  }

  /** Reader-side positional names: logical names at their physical
    * positions, dropped positions unmatchable. */
  def readerColumns(options: CaseInsensitiveStringMap,
                    logical: Array[String]): Array[String] =
    schemaMapFor(options).map(_.positional(logical)).getOrElse(logical)


  /** Inverse of [[splitCsv]]'s field decode: empty string → `""`;
    * fields containing a comma or quote — or ENDING with `;`, which the
    * reader's trailing-semicolon quirk strip would otherwise eat off a
    * line's last field — quote-and-double. (NULL is handled by the
    * caller as a bare empty field.)
    *
    * Line breaks are rejected: the dialect's records are single-line by
    * contract (byte-range splitting depends on it), so a value with an
    * embedded newline has no faithful representation — failing the
    * write beats silently corrupting the read. Characters above U+00FF
    * are rejected for the same reason: the dialect is latin-1 on disk
    * (1 char == 1 byte is what makes byte-range splits seek-free), and
    * the JDK writer would silently transliterate them to '?' — the
    * round-trip would break AND the zone-map bounds (computed on the
    * ORIGINAL string) could then wrongly prune a file that actually
    * holds matching rows. One pass over the value covers both checks
    * and the quote decision. */
  def formatField(v: String): String = {
    var needQuote = v.isEmpty || v.charAt(v.length - 1) == ';'
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      require(c != '\n' && c != '\r',
        "graftcsv records are single-line; a value with an embedded line " +
          "break cannot round-trip — strip or escape it before the write")
      require(c <= 'ÿ',
        f"graftcsv is a latin-1 dialect; char U+${c.toInt}%04X cannot " +
          "round-trip — transliterate or base64 the value before the write")
      if (c == ',' || c == '"') needQuote = true
      i += 1
    }
    if (!needQuote) v
    else if (v.isEmpty) "\"\""
    else "\"" + v.replace("\"", "\"\"") + "\""
  }

  def headerOpt(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("header", true)

  /** Encode file names for the `pinnedFiles` scan option (inverse is
    * applied inside [[listFiles]]); names go through [[enc]] so commas
    * and control characters survive the comma-joined option value. */
  private[graft] def encodePinned(names: Seq[String]): String =
    names.map(enc).mkString(",")

  /** Inverse of one [[encodePinned]] element (used by the maintenance
    * intent sidecar, whose lines reuse the same encoding). */
  private[graft] def decodePinnedName(s: String): String = dec(s)

  /** Byte-range split planning, shared by the batch, aggregate, and
    * streaming scans (ONE definition of the split contract: a record
    * belongs to the split containing its first byte). */
  def planSplits(files: Seq[QuirkCsvFileMeta],
                 maxSplit: Long): Array[InputPartition] = {
    require(maxSplit >= 1, s"maxSplitBytes must be >= 1, got $maxSplit")
    files.flatMap { fm =>
      if (fm.len == 0) Nil
      else (0L until fm.len by maxSplit).map { start =>
        QuirkCsvPartition(fm.path, start, math.min(start + maxSplit, fm.len))
      }
    }.toArray
  }

  /** (path, length, mtime) of every regular file under the `path` option
    * (a file, or a directory scanned non-recursively), sorted by path
    * for deterministic partition planning.
    *
    * The `pinnedFiles` option (comma-separated [[enc]]-encoded file
    * NAMES) restricts the listing to exactly those files — the handle a
    * maintenance job uses to read a point-in-time snapshot of a
    * directory that a concurrent writer (e.g. a live streaming sink) is
    * still appending to. Every pinned name must still exist: a vanished
    * pinned file fails loudly rather than silently reading less than
    * the caller pinned. */
  def listFiles(options: CaseInsensitiveStringMap): Seq[QuirkCsvFileMeta] =
    listFiles(options, Array.empty[Filter])

  /** [[listFiles]] with PARTITION-FILTER-AWARE directory pruning: value
    * directories whose `col=value` name fails an evaluable pushed
    * predicate on the partition column are never LISTED, not merely
    * pruned after the fact — at 100k partitions with a year filter the
    * planner pays one directory listing instead of 100k. Identity
    * partitioning makes this exact (every row of a skipped dir fails the
    * predicate — the same argument as prunePartitions, applied one RPC
    * earlier). Disabled automatically under `asOfVersion` (snapshot
    * resolution needs the COMPLETE live listing to pair log events with
    * files) and `pinnedFiles` (a pinned name inside a skipped dir must
    * fail loudly, not silently vanish). */
  def listFiles(options: CaseInsensitiveStringMap,
                partitionFilters: Array[Filter]): Seq[QuirkCsvFileMeta] = {
    val raw = options.get("path")
    require(raw != null && raw.nonEmpty, "graftcsv requires a 'path' option")
    val path = new Path(raw)
    val fs: FileSystem = path.getFileSystem(hadoopConf)
    if (!fs.exists(path)) return Nil
    val st = fs.getFileStatus(path)
    val pcols = partitionColsOf(options)
    // per-LEVEL directory predicates: a pushed filter on cols(i) prunes
    // the level-i listing before anything beneath it is touched (never
    // under a snapshot/pinned read — those resolve file sets themselves)
    val dirPredicates: Map[String, Array[Filter]] =
      if (pcols.isEmpty ||
        Option(options.get("asOfVersion")).exists(_.nonEmpty) ||
        Option(options.get("pinnedFiles")).exists(_.nonEmpty))
        Map.empty.withDefaultValue(Array.empty)
      else pcols.map(c => c -> partitionFilters.filter(f =>
        (try filterColumn(f) == c
        catch { case _: Exception => false }))).toMap
        .withDefaultValue(Array.empty)
    def dirMayMatch(level: Int, name: String): Boolean = {
      if (level >= pcols.length) return true
      val c = pcols(level)
      val preds = dirPredicates(c)
      preds.isEmpty || !name.startsWith(c + "=") || {
        val v = dec(name.substring(c.length + 1))
        preds.forall(eval(_, v))
      }
    }
    def visible(s: FileStatus): Boolean =
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")
    // identity-partitioned tables keep data in nested `col=value`
    // subdirs (one level per partition column), opted in by the
    // partitionCol option so plain directories never pay (or
    // accidentally read) nested content
    val partitioned = pcols.nonEmpty
    // reading a partitioned table root WITHOUT the option would see only
    // the root-level schema seed and silently return an empty,
    // schema-correct frame — fail loudly instead (the marker makes the
    // situation detectable)
    if (!partitioned && st.isDirectory &&
      fs.exists(new Path(path, QuirkCsv.PartitioningFile)))
      throw new IllegalArgumentException(
        s"$path is a PARTITIONED graftcsv table (see " +
          s"${QuirkCsv.PartitioningFile}) — read it through its catalog, " +
          "or pass the partitionCol option; a plain load would silently " +
          "return zero rows")
    val statuses: Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else {
        val top = fs.listStatus(path).toIndexedSeq
        val direct = top.filter(visible)
        if (!partitioned) direct
        else {
          // value-dir listings fan out from a bounded pool past a small
          // threshold: a many-partition root must not pay one sequential
          // filesystem RPC per directory at every scan planning (Hadoop
          // FileSystem instances are thread-safe for reads; the sortBy
          // below keeps the result deterministic either way). Bounded
          // await: one wedged listStatus must fail planning loudly, not
          // hang it forever with the pool alive.
          def listMany(dirs: Seq[FileStatus]): Seq[FileStatus] =
            if (dirs.size <= 16)
              dirs.flatMap(d => fs.listStatus(d.getPath).toIndexedSeq)
            else QuirkCsvMaintenance.runBounded(
              dirs.map(d => d.getPath.getName -> (() =>
                fs.listStatus(d.getPath).toIndexedSeq)),
              16, 600L, "partition listing").flatten
          def valueDirs(level: Int, in: Seq[FileStatus]): Seq[FileStatus] =
            in.filter(s => s.isDirectory &&
              !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith(".") &&
              dirMayMatch(level, s.getPath.getName))
          // descend one listing level per partition column
          var dirs = valueDirs(0, top)
          var level = 1
          while (level < pcols.length) {
            dirs = valueDirs(level, listMany(dirs))
            level += 1
          }
          direct ++ listMany(dirs).filter(visible)
        }
      }
    val all = statuses
      .map(s => QuirkCsvFileMeta(s.getPath.toString, s.getLen,
        s.getModificationTime))
      .sortBy(_.path)
    // VERSION AS OF: reconstruct the file set at the pinned version from
    // the live listing + the version log (attic files stand in for
    // retired ones). Orthogonal to pinnedFiles — a maintenance snapshot
    // of a historical snapshot has no meaning; reject the combination.
    val asOfOpt = options.get("asOfVersion")
    if (asOfOpt != null && asOfOpt.nonEmpty) {
      val pinned0 = options.get("pinnedFiles")
      require(pinned0 == null || pinned0.isEmpty,
        "asOfVersion and pinnedFiles cannot combine")
      require(st.isDirectory,
        s"asOfVersion applies to graftcsv table directories, got file $path")
      return QuirkCsvVersions.snapshotListing(fs, path,
        java.lang.Long.parseLong(asOfOpt), all)
    }
    val pinnedOpt = options.get("pinnedFiles")
    if (pinnedOpt == null || pinnedOpt.isEmpty) all
    else {
      val pinned = pinnedOpt.split(",", -1).map(dec).toSet
      val kept = all.filter(f => pinned.contains(new Path(f.path).getName))
      require(kept.size == pinned.size,
        s"graftcsv pinnedFiles: ${pinned.size - kept.size} pinned file(s) " +
          "no longer exist — the snapshot was invalidated by a concurrent " +
          "delete; re-list and retry")
      kept
    }
  }

  def readFirstLine(path: String, len: Long): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](math.min(len, 1L << 16).toInt)
      var read = 0
      var eof = false
      while (read < buf.length && !eof) {
        val n = in.read(buf, read, buf.length - read)
        if (n < 0) eof = true else read += n
      }
      val s = new String(buf, 0, read,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val nl = s.indexOf('\n')
      if (nl >= 0) s.substring(0, nl) else s
    } finally in.close()
  }

  /** The reader's full line decode AFTER [[stripLineQuirks]]: wrapped-row
    * repair, then quote-aware split. The repair is structurally ambiguous
    * with a lone quoted FIELD spanning the whole line (`"a,b"`); under a
    * single-column schema the field reading is the only sensible one (a
    * wrapped row would also hold one field), so the repair is skipped
    * there and the sink's quoted single-column values round-trip instead
    * of being split apart. ONE definition, shared by the reader and the
    * dialect property suite. */
  def parseLine(stripped: String, nCols: Int): Array[String] =
    splitCsv(if (nCols == 1) stripped else repairLine(stripped))

  /** Quirks 1+5: trailing '\r' (CRLF) and the spurious trailing ';'. */
  def stripLineQuirks(line: String): String = {
    val noCr = if (line.endsWith("\r")) line.dropRight(1) else line
    if (noCr.endsWith(";")) noCr.dropRight(1) else noCr
  }

  /** Quirk 2: a row wrapped whole in quotes with inner quotes doubled.
    * Structural detection — identical to Ingest.readRaw's expression
    * form: after collapsing doubled quotes the line must be left with
    * exactly its two OUTER quotes, first and last character, none
    * interior. */
  def repairLine(line: String): String = {
    if (line.length < 2 || line.charAt(0) != '"' ||
      line.charAt(line.length - 1) != '"') return line
    val undoubled = line.replace("\"\"", "")
    val wrapped = undoubled.length > 1 &&
      undoubled.charAt(0) == '"' &&
      undoubled.charAt(undoubled.length - 1) == '"' &&
      !undoubled.substring(1, undoubled.length - 1).contains('"')
    if (wrapped)
      line.substring(1, line.length - 1).replace("\"\"", "\"")
    else line
  }

  /** Comma-split honoring double-quoted fields with `""` escapes
    * (PERMISSIVE: an unterminated quote runs to end of line). An EMPTY
    * UNQUOTED field is NULL, a quoted empty field (`""`) is the empty
    * string — Spark's CSV nullValue/emptyValue defaults, and the
    * distinction [[QuirkCsvWriter]] relies on for exact round-trips. */
  def splitCsv(line: String): Array[String] = {
    // fast path — no quote anywhere (the overwhelmingly common shape):
    // plain comma split via bulk substrings, empty unquoted field == NULL.
    // Exactly the slow path's semantics with none of its per-char work.
    if (line.indexOf('"') < 0) {
      var n = 1
      var c = line.indexOf(',')
      while (c >= 0) { n += 1; c = line.indexOf(',', c + 1) }
      val fast = new Array[String](n)
      var start = 0
      var j = 0
      while (j < n) {
        val e = if (j == n - 1) line.length else line.indexOf(',', start)
        fast(j) = if (e == start) null else line.substring(start, e)
        start = e + 1
        j += 1
      }
      return fast
    }
    val out = ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    var inQuotes = false
    var sawQuote = false
    def flush(): Unit = {
      out += (if (sb.length == 0 && !sawQuote) null else sb.toString)
      sb.setLength(0); sawQuote = false
    }
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') {
            sb.append('"'); i += 1
          } else inQuotes = false
        } else sb.append(c)
      } else c match {
        case '"' => inQuotes = true; sawQuote = true
        case ',' => flush()
        case _ => sb.append(c)
      }
      i += 1
    }
    flush()
    out.toArray
  }

  /** Column a pushable filter references (call only after `evaluable`). */
  def filterColumn(f: Filter): String = f match {
    case EqualTo(a, _) => a
    case EqualNullSafe(a, _) => a
    case IsNotNull(a) => a
    case IsNull(a) => a
    case In(a, _) => a
    case StringStartsWith(a, _) => a
    case StringEndsWith(a, _) => a
    case StringContains(a, _) => a
    case GreaterThan(a, _) => a
    case GreaterThanOrEqual(a, _) => a
    case LessThan(a, _) => a
    case LessThanOrEqual(a, _) => a
    case _ => throw new IllegalArgumentException(s"not pushable: $f")
  }

  /** Which filters the reader can fully evaluate: string-typed simple
    * predicates on a known column. Range comparisons use plain String
    * ordering — the SAME ordering the writers' zone stats are gathered
    * under, which is what makes them zone-prunable; on a range-clustered
    * (clusterBy / zero-padded key) table they are the predicates the
    * layout exists for. */
  def evaluable(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v: String) => schema.fieldNames.contains(a) && v != null
    // <=> — the shape static partition overwrite emits (the analyzer's
    // staticDeleteExpression builds EqualNullSafe over the partition col)
    case EqualNullSafe(a, v) => schema.fieldNames.contains(a) &&
      (v == null || v.isInstanceOf[String])
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case IsNull(a) => schema.fieldNames.contains(a)
    case In(a, vs) => schema.fieldNames.contains(a) &&
      vs.forall(_.isInstanceOf[String])
    case StringStartsWith(a, _) => schema.fieldNames.contains(a)
    case StringEndsWith(a, _) => schema.fieldNames.contains(a)
    case StringContains(a, _) => schema.fieldNames.contains(a)
    case GreaterThan(a, v: String) =>
      schema.fieldNames.contains(a) && v != null
    case GreaterThanOrEqual(a, v: String) =>
      schema.fieldNames.contains(a) && v != null
    case LessThan(a, v: String) =>
      schema.fieldNames.contains(a) && v != null
    case LessThanOrEqual(a, v: String) =>
      schema.fieldNames.contains(a) && v != null
    case _ => false
  }

  /** TABLE options under per-call overrides — the one merge every
    * scan/write entry point must apply so catalog-set options (path,
    * partitionCol, dialect flags) reach readers and writers. */
  def mergeOptions(table: CaseInsensitiveStringMap,
                   overrides: CaseInsensitiveStringMap)
  : CaseInsensitiveStringMap = {
    val m = new util.HashMap[String, String]()
    m.putAll(table.asCaseSensitiveMap())
    m.putAll(overrides.asCaseSensitiveMap())
    new CaseInsensitiveStringMap(m)
  }

  // ------------------------------------------- identity partitioning

  /** Marker file naming a partitioned table's partition column(s) —
    * one enc()'d name per level, comma-joined (enc escapes commas, so
    * the join is unambiguous; a single-column marker is byte-identical
    * to the pre-multi-level format). Level order = directory nesting
    * order: `c1=v1/c2=v2/part-*.csv`. */
  val PartitioningFile = "_graft_partitioning"

  def writePartitioning(dir: Path, col: String): Unit =
    writePartitioning(dir, splitColsOption(col))

  def writePartitioning(dir: Path, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "partitioning marker needs at least one column")
    val fs = dir.getFileSystem(hadoopConf)
    val out = fs.create(new Path(dir, PartitioningFile), true)
    out.write(cols.map(enc).mkString(",")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    out.close()
  }

  /** The marker's column list as the comma-joined OPTION value the
    * catalog plumbs through `partitionCol` (names stay enc()'d inside
    * the option; [[partitionColsOf]] decodes). */
  def readPartitioning(dir: Path): Option[String] = {
    val fs = dir.getFileSystem(hadoopConf)
    val p = new Path(dir, PartitioningFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(new String(bytes,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim
          .split(",", -1).toIndexedSeq.filter(_.nonEmpty).map(dec)
          .mkString(","))
      } finally in.close()
    }
  }

  /** The ordered partition columns of a table's options (empty =
    * unpartitioned). The `partitionCol` option value is comma-joined;
    * catalog column names are identifier-safe so the split is exact. */
  def partitionColsOf(options: CaseInsensitiveStringMap): Seq[String] =
    splitColsOption(options.get("partitionCol"))

  private[sources] def splitColsOption(v: String): Seq[String] =
    if (v == null || v.isEmpty) Nil
    else v.split(",", -1).toIndexedSeq.map(_.trim).filter(_.nonEmpty)

  /** The nested value-directory relative path for one partition tuple:
    * `c1=enc(v1)/c2=enc(v2)`. */
  def partitionDirPath(root: Path, cols: Seq[String],
                       values: Seq[String]): Path = {
    require(cols.length == values.length,
      s"partition tuple arity ${values.length} != columns $cols")
    cols.zip(values).foldLeft(root) { case (p, (c, v)) =>
      new Path(p, partitionDirName(c, v))
    }
  }

  /** The full partition-value TUPLE a file inherits from its ancestor
    * directories — all columns present (innermost = last level) or None
    * (root-level files like the schema seed, or foreign layouts). */
  def partitionTupleOf(filePath: String,
                       cols: Seq[String]): Option[Seq[String]] = {
    val vals = new Array[String](cols.length)
    var p = new Path(filePath).getParent
    var i = cols.length - 1
    while (p != null && i >= 0) {
      val n = p.getName
      if (n.startsWith(cols(i) + "=")) {
        vals(i) = dec(n.substring(cols(i).length + 1)); i -= 1
      } else if (n.contains("=")) return None // wrong level order
      else return if (i < 0) Some(vals.toSeq) else None
      p = p.getParent
    }
    if (i < 0) Some(vals.toIndexedSeq) else None
  }

  /** Every LEAF value directory of a partitioned table root with its
    * decoded value tuple, in path order. Intermediate levels with stray
    * files are NOT reported (prunePartitions rejects those loudly at
    * scan time). Level listings past a small threshold fan out from the
    * bounded maintenance pool — the same discipline as [[listFiles]]: a
    * 100k-leaf table must not pay one sequential filesystem RPC per
    * directory inside every maintenance commit (overwrite-where
    * targeting, partial-spec deletes, compaction/sweep walks). */
  def leafValueDirs(fs: FileSystem, root: Path,
                    cols: Seq[String]): Seq[(Path, Seq[String])] = {
    if (cols.isEmpty || !fs.exists(root)) return Nil
    def level(dirs: Seq[(Path, List[String])], c: String)
    : Seq[(Path, List[String])] = {
      def list(d: Path): Seq[FileStatus] =
        fs.listStatus(d).toIndexedSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(c + "="))
      val listed: Seq[(List[String], Seq[FileStatus])] =
        if (dirs.size <= 16) dirs.map { case (d, acc) => acc -> list(d) }
        else QuirkCsvMaintenance.runBounded(
          dirs.map { case (d, acc) =>
            d.getName -> (() => acc -> list(d)) },
          16, 600L, "leaf value-dir listing")
      listed.flatMap { case (acc, sts) =>
        sts.map(st => st.getPath ->
          (dec(st.getPath.getName.substring(c.length + 1)) :: acc))
      }
    }
    cols.foldLeft(Seq(root -> List.empty[String]))(level)
      .map { case (d, acc) => d -> acc.reverse }
      .sortBy(_._1.toString)
  }

  /** `_graft_cluster` marker: the table's CLUSTER column
    * (TBLPROPERTIES('clusterBy'='col') at CREATE TABLE). Writes request
    * an ORDERED distribution on (partition column, cluster column) — a
    * global range shuffle — so each task's output file covers a disjoint
    * key range, and compaction folds with the same range layout: the
    * per-dir zone maps then prune a selective probe to the one file
    * whose range covers it instead of reading every overlapping epoch
    * file. The raw-path `Scale.writeRangeLayout` story, catalog-native. */
  val ClusterFile = "_graft_cluster"

  def writeClustering(dir: Path, col: String): Unit = {
    val fs = dir.getFileSystem(hadoopConf)
    val out = fs.create(new Path(dir, ClusterFile), true)
    out.write(enc(col).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    out.close()
  }

  def readClustering(dir: Path): Option[String] = {
    val fs = dir.getFileSystem(hadoopConf)
    val p = new Path(dir, ClusterFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(dec(new String(bytes,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim))
      } finally in.close()
    }
  }

  /** `TBLPROPERTIES('bloomCols'='a,b')` marker: per-file Bloom filters in
    * the zone sidecar for the named columns — equality/IN file skipping
    * on HIGH-CARDINALITY columns whose min/max ranges overlap across
    * files (where range stats prune nothing without a clustered
    * rewrite). Stored comma-separated, each name [[enc]]-encoded. */
  val BloomFile = "_graft_bloom"

  def writeBloomCols(dir: Path, cols: Seq[String], bits: Int): Unit = {
    val fs = dir.getFileSystem(hadoopConf)
    val out = fs.create(new Path(dir, BloomFile), true)
    out.write(s"$bits\t${cols.map(enc).mkString(",")}"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    out.close()
  }

  /** (bloomBits, bloom columns) from the marker; (default, Nil) when
    * absent. Size the bits to ~10x the expected DISTINCT values per
    * file: a bloom saturates — never lies — past its capacity, and a
    * saturated bloom prunes nothing. */
  def readBloomCols(dir: Path): (Int, Seq[String]) = {
    val fs = dir.getFileSystem(hadoopConf)
    val p = new Path(dir, BloomFile)
    if (!fs.exists(p)) (QuirkCsvBloom.DefaultBits, Nil)
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        val t = new String(bytes,
          java.nio.charset.StandardCharsets.ISO_8859_1).trim.split("\t", -1)
        require(t.length == 2,
          s"unreadable $BloomFile in $dir: expected <bits>\\t<cols>")
        (t(0).toInt,
          t(1).split(",", -1).toIndexedSeq.filter(_.nonEmpty).map(dec))
      } finally in.close()
    }
  }

  /** Bloom (bits, columns) governing `dir` — the dir's own marker, or
    * (for a partition value subdir) the table root's. */
  def bloomColsFor(dir: Path): (Int, Seq[String]) = {
    val own = readBloomCols(dir)
    if (own._2.nonEmpty) own
    else Option(dir.getParent).map(readBloomCols)
      .getOrElse((QuirkCsvBloom.DefaultBits, Nil))
  }

  /** Hive-style partition directory name; the value is URL-encoded so
    * separators/quotes in data can't escape the directory. NULL values
    * are rejected at the WRITE (loudly), so a dir always has a value. */
  def partitionDirName(col: String, value: String): String =
    s"$col=${enc(value)}"

  /** Decode the value half of a `col=value` partition directory name. */
  def decodePartitionDirValue(encoded: String): String = dec(encoded)

  /** The partition value a file inherits for `col` from its ancestor
    * `col=value` directory (any nesting level), or None for root-level
    * files (the schema seed) / files outside a `col=` directory. */
  def partitionValueOf(filePath: String, col: String): Option[String] = {
    var p = new Path(filePath).getParent
    while (p != null) {
      val n = p.getName
      if (n.startsWith(col + "=")) return Some(dec(n.substring(col.length + 1)))
      if (!n.contains("=")) return None // climbed out of the value levels
      p = p.getParent
    }
    None
  }

  /** Directory-level partition pruning: drop files whose partition-dir
    * value fails a pushed/runtime filter ON the partition column. The
    * schema-seed file is dropped from SPLIT planning (header-only by
    * contract — planning it would cost one task per scan and break the
    * grouped/SPJ mode's one-split-per-value invariant); any OTHER
    * root-level data file in a partitioned table is out-of-contract and
    * fails loudly rather than being silently read into no partition. */
  def prunePartitions(options: CaseInsensitiveStringMap,
                      files: Seq[QuirkCsvFileMeta],
                      filters: Array[Filter]): Seq[QuirkCsvFileMeta] = {
    val cols = partitionColsOf(options)
    if (cols.isEmpty) return files
    val data = files.filter { fm =>
      val p = new Path(fm.path)
      if (partitionTupleOf(fm.path, cols).isDefined) true
      else if (p.getName.startsWith("part-seed-")) false
      else throw new IllegalStateException(
        s"partitioned graftcsv table has a data file '${p.getName}' " +
          s"outside the ${cols.mkString("/")} value-directory layout — " +
          "move it into its partition directory (root holds only the " +
          "schema seed)")
    }
    // each conjunct prunes on ITS column's inherited dir value
    val relevant = filters.flatMap { f =>
      val c = try Some(filterColumn(f)) catch { case _: Exception => None }
      c.filter(cols.contains).map(_ -> f)
    }
    if (relevant.isEmpty) data
    else data.filter { fm =>
      relevant.forall { case (c, f) =>
        partitionValueOf(fm.path, c) match {
          case Some(v) => eval(f, v)
          case None => true
        }
      }
    }
  }

  // ------------------------------------------------- zone-map sidecar

  val ZoneMapFile = "_graft_zonemap.tsv"

  /** Stats length cap: a multi-KB field (a whole wrapped row, a base64
    * blob) must not bloat the sidecar. Bounds are made CONSERVATIVE the
    * way Parquet truncates its min/max: a min truncates to a prefix
    * (prefix <= value, still a valid lower bound); a max truncates and
    * increments the last prefix char (> every string with that prefix,
    * still a valid upper bound). Pruning with looser bounds skips less,
    * never wrongly. */
  private[sources] val StatsMaxLen = 256

  def boundDown(v: String): String =
    if (v == null || v.length <= StatsMaxLen) v
    else v.substring(0, StatsMaxLen)

  def boundUp(v: String): String = {
    if (v == null || v.length <= StatsMaxLen) return v
    val p = v.substring(0, StatsMaxLen).toCharArray
    var i = p.length - 1
    // latin-1 payload: chars <= 0xFF. The bumped char must STAY in
    // latin-1 (the sidecar is ISO-8859-1-encoded) — bumping 0xFF to
    // 0x100 would mangle on encode into a bound BELOW real values,
    // i.e. WRONG pruning. Skip 0xFF chars when looking for the bump.
    while (i >= 0 && p(i) >= '\u00FF') i -= 1
    if (i < 0) v // all-0xFF prefix (pathological) — keep the exact value
    else {
      // pad the bumped prefix back to EXACTLY StatsMaxLen with 0xFF:
      // appending to a string that is already strictly greater keeps it
      // an upper bound, and the fixed length is what lets consumers
      // RECOGNIZE a possibly-truncated bound (metadata-only MAX must
      // never serve one — a short bumped prefix is not a value that
      // exists in the data)
      val bumped = new String(p, 0, i) + (p(i) + 1).toChar
      bumped + ("\u00FF" * (StatsMaxLen - bumped.length))
    }
  }

  private[sources] def enc(s: String): String =
    java.net.URLEncoder.encode(s, "ISO-8859-1")
  private[sources] def dec(s: String): String =
    java.net.URLDecoder.decode(s, "ISO-8859-1")

  /** Write the sidecar: one `F` line per data file (name, byte length,
    * row count), one `C` line per column (min/max over non-null values —
    * recoverable as absent when nulls == rows — and the null count).
    * Values are URL-encoded so tabs/newlines in data can't corrupt the
    * format. */
  def writeZoneMap(dir: String,
                   entries: Map[String, QuirkCsvZoneEntry]): Unit = {
    val p = new Path(dir, ZoneMapFile)
    val fs = p.getFileSystem(hadoopConf)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.ISO_8859_1))
    try {
      // v3: written by builds whose boundUp pads truncated upper bounds
      // back to EXACTLY StatsMaxLen (so a truncated bound is always
      // recognizable by length). v2 sidecars may contain a bumped max
      // SHORTER than the cap — a fabricated non-data value the
      // metadata-only MAX would serve as real — so v2 is rejected on
      // load (degrades to scan) rather than risk serving one.
      out.write("graft-zonemap-v3\n")
      entries.toSeq.sortBy(_._1).foreach { case (name, e) =>
        out.write(s"F\t${enc(name)}\t${e.len}\t${e.mtime}\t${e.rows}\n")
        e.cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx, nulls)) =>
          out.write(s"C\t${enc(name)}\t${enc(c)}\t" +
            s"${mn.map(enc).getOrElse("")}\t${mx.map(enc).getOrElse("")}\t" +
            s"$nulls\n")
        }
        // B lines (per-column bloom, hex) are ADDITIVE: the loader skips
        // unknown line types, so their presence never invalidates stats
        e.blooms.toSeq.sortBy(_._1).foreach { case (c, hex) =>
          out.write(s"B\t${enc(name)}\t${enc(c)}\t$hex\n")
        }
      }
    } finally out.close()
  }

  /** Load the sidecar for a directory (or a file's parent); empty map
    * when absent or unparseable — pruning silently degrades to "read
    * everything", never to wrong answers. */
  def loadZoneMap(dirOrFile: String): Map[String, QuirkCsvZoneEntry] = try {
    val base = new Path(dirOrFile)
    val fs = base.getFileSystem(hadoopConf)
    val dir = if (fs.exists(base) && fs.getFileStatus(base).isDirectory) base
      else base.getParent
    val p = new Path(dir, ZoneMapFile)
    if (!fs.exists(p)) return Map.empty
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.ISO_8859_1))
    try {
      // older sidecars are treated as absent — pruning degrades to
      // "read everything" until the next commit rewrites v3 (v1 lacked
      // the mtime field; v2 could carry unpadded truncated max bounds
      // indistinguishable from real values — see writeZoneMap)
      if (in.readLine() != "graft-zonemap-v3") return Map.empty
      val files = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
      val cols = scala.collection.mutable.Map
        .empty[String, Map[String, (Option[String], Option[String], Long)]]
      val blooms = scala.collection.mutable.Map
        .empty[String, Map[String, String]]
      Iterator.continually(in.readLine()).takeWhile(_ != null).foreach {
        line =>
          val t = line.split("\t", -1)
          t(0) match {
            case "F" =>
              files(dec(t(1))) = (t(2).toLong, t(3).toLong, t(4).toLong)
            case "C" =>
              val name = dec(t(1))
              val rows = files.get(name).map(_._3).getOrElse(0L)
              val nulls = t(5).toLong
              val mn = if (nulls == rows) None else Some(dec(t(3)))
              val mx = if (nulls == rows) None else Some(dec(t(4)))
              cols(name) = cols.getOrElse(name, Map.empty) +
                (dec(t(2)) -> ((mn, mx, nulls)))
            case "B" =>
              val name = dec(t(1))
              blooms(name) = blooms.getOrElse(name, Map.empty) +
                (dec(t(2)) -> t(3))
            case _ =>
          }
      }
      files.map { case (n, (len, mtime, rows)) =>
        n -> QuirkCsvZoneEntry(len, mtime, rows, cols.getOrElse(n, Map.empty),
          blooms.getOrElse(n, Map.empty))
      }.toMap
    } finally in.close()
  } catch { case _: Exception => Map.empty }

  /** Can this file possibly contain a row passing `f`? Conservative:
    * unknown columns / un-prunable predicates answer true. */
  private def zoneMayMatch(e: QuirkCsvZoneEntry, f: Filter,
                           phys: String => String = identity): Boolean = {
    // sidecar stats are keyed by PHYSICAL names (frozen across RENAME);
    // query filters carry logical names — translate before lookup
    def stats(c: String) = e.cols.get(phys(c))
    def nonNull(c: String): Boolean =
      stats(c).forall { case (_, _, nulls) => nulls < e.rows }
    def inRange(c: String, v: String): Boolean = stats(c) match {
      case Some((Some(mn), Some(mx), _)) =>
        v.compareTo(mn) >= 0 && v.compareTo(mx) <= 0
      case Some((None, None, _)) => false // all-null column
      case _ => true
    }
    // bloom test for equality probes: a file whose bloom excludes the
    // value cannot contain it even when its [min,max] range covers it —
    // the skip that matters on high-cardinality UNCLUSTERED columns.
    // Blooms hash FULL values (never truncated like the 256-char-capped
    // bounds), absent blooms answer "might contain".
    def bloomOk(c: String, v: String): Boolean =
      e.blooms.get(phys(c)).forall(QuirkCsvBloom.mightContain(_, v))
    f match {
      case EqualTo(c, v: String) => nonNull(c) && inRange(c, v) &&
        bloomOk(c, v)
      case In(c, vs) => nonNull(c) &&
        vs.exists(v => inRange(c, v.asInstanceOf[String]) &&
          bloomOk(c, v.asInstanceOf[String]))
      case IsNull(c) =>
        stats(c).forall { case (_, _, nulls) => nulls > 0 }
      case IsNotNull(c) => nonNull(c)
      case StringStartsWith(c, p) => stats(c) match {
        case Some((Some(mn), Some(mx), nulls)) => nulls < e.rows &&
          mx.compareTo(p) >= 0 &&
          !(mn.compareTo(p) > 0 && !mn.startsWith(p))
        case Some((None, None, _)) => false
        case _ => true
      }
      // range probes against the per-file [min,max] — conservative under
      // the 256-char truncated bounds (boundDown <= true min, boundUp >=
      // true max, so a possible match is never pruned). On a
      // range-clustered layout (disjoint per-file key ranges) these cut
      // a BETWEEN to exactly the covering files.
      case GreaterThan(c, x: String) => nonNull(c) && (stats(c) match {
        case Some((_, Some(mx), _)) => mx.compareTo(x) > 0
        case Some((None, None, _)) => false
        case _ => true
      })
      case GreaterThanOrEqual(c, x: String) => nonNull(c) && (stats(c) match {
        case Some((_, Some(mx), _)) => mx.compareTo(x) >= 0
        case Some((None, None, _)) => false
        case _ => true
      })
      case LessThan(c, x: String) => nonNull(c) && (stats(c) match {
        case Some((Some(mn), _, _)) => mn.compareTo(x) < 0
        case Some((None, None, _)) => false
        case _ => true
      })
      case LessThanOrEqual(c, x: String) => nonNull(c) && (stats(c) match {
        case Some((Some(mn), _, _)) => mn.compareTo(x) <= 0
        case Some((None, None, _)) => false
        case _ => true
      })
      case _ => true
    }
  }

  /** Files from `listFiles` that survive zone-map pruning under the
    * given (pushed + runtime) filters. Files without a fresh sidecar
    * entry (absent, or byte length / modification time drifted —
    * someone rewrote the file outside the committing writer) are always
    * read. */
  def pruneFiles(options: CaseInsensitiveStringMap,
                 files: Seq[QuirkCsvFileMeta],
                 filters: Array[Filter]): Seq[QuirkCsvFileMeta] = {
    val pruning = options.getBoolean("zoneMapPruning", true)
    val phys: String => String =
      schemaMapFor(options).map(m => m.phys _).getOrElse(identity)
    // partitioned tables: directory-level partition pruning first
    // (partition-column predicates drop whole value dirs), then each
    // surviving dir's OWN zone-map sidecar (part-file names repeat
    // across value subdirs so the root can't carry one map, but within
    // a dir they are unique) prunes files by the remaining predicates —
    // a filter on a non-partition column skips files INSIDE partitions
    val pcs = partitionColsOf(options)
    if (pcs.nonEmpty) {
      val dirPruned = prunePartitions(options, files, filters)
      // per-dir sidecar loads only pay off when some predicate can
      // discriminate WITHIN a dir (partition-col stats are constant
      // there), and only when there is anything to prune with
      val intraDir = filters.exists(f =>
        (try !pcs.contains(filterColumn(f))
        catch { case _: Exception => false }))
      if (!pruning || !intraDir) return dirPruned
      return dirPruned.groupBy(f => new Path(f.path).getParent)
        .toSeq.sortBy(_._1.toString)
        .flatMap { case (dir, fs) =>
          val zm = loadZoneMap(dir.toString)
          if (zm.isEmpty) fs
          else fs.filter { fm =>
            zm.get(new Path(fm.path).getName) match {
              case Some(e) if e.len == fm.len && e.mtime == fm.mtime =>
                filters.forall(zoneMayMatch(e, _, phys))
              case _ => true
            }
          }
        }
    }
    if (filters.isEmpty || !pruning) return files
    val raw = options.get("path")
    if (raw == null || raw.isEmpty) return files
    val zm = loadZoneMap(raw)
    if (zm.isEmpty) return files
    files.filter { fm =>
      zm.get(new Path(fm.path).getName) match {
        case Some(e) if e.len == fm.len && e.mtime == fm.mtime =>
          filters.forall(zoneMayMatch(e, _, phys))
        case _ => true
      }
    }
  }

  /** True when directory pruning FULLY applies `filters`: none at all,
    * or — on a partitioned table — every conjunct an evaluable predicate
    * on the partition column (identity partitioning: every row of a
    * surviving dir satisfies them). The admissibility test both
    * sidecar-trusting fast paths (metadata aggregates, exact planner
    * row counts) share. */
  def dirCompleteFilters(options: CaseInsensitiveStringMap,
                         schema: StructType,
                         filters: Array[Filter]): Boolean =
    filters.isEmpty || {
      val pcols = partitionColsOf(options)
      pcols.nonEmpty && filters.forall(f =>
        (try pcols.contains(filterColumn(f))
        catch { case _: Exception => false }) &&
          evaluable(schema, f))
    }

  /** One FRESH (len, mtime)-matching sidecar entry per file, resolved
    * through each file's own directory's sidecar (flat roots and
    * partitioned value dirs alike) — None when any file lacks one, the
    * all-or-nothing gate the sidecar-trusting fast paths require. */
  def freshEntries(files: Seq[QuirkCsvFileMeta])
  : Option[Seq[QuirkCsvZoneEntry]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[QuirkCsvZoneEntry]
    // schema-seed files are header-only by contract (zero rows) and never
    // receive a sidecar entry — requiring one would silently disable the
    // sidecar fast paths (metadata aggregates, exact planner row counts)
    // for every UNPARTITIONED catalog table, whose file listing keeps the
    // root seed (partitioned tables drop it via prunePartitions).
    // Skipping them is exact ONLY for a genuinely header-only file, so
    // the exemption VERIFIES it (first line + terminator == whole file);
    // a data-bearing file that merely wears the seed name falls back to
    // requiring an entry — i.e. the conservative scan — instead of its
    // rows silently vanishing from a metadata-served aggregate.
    files.filterNot { f =>
      new Path(f.path).getName.startsWith("part-seed-") &&
        f.len <= readFirstLine(f.path, f.len).length + 2
    }
      .groupBy(f => new Path(f.path).getParent.toString)
      .foreach { case (dir, fs) =>
        val zm = loadZoneMap(dir)
        fs.foreach { fm =>
          zm.get(new Path(fm.path).getName) match {
            case Some(e) if e.len == fm.len && e.mtime == fm.mtime =>
              out += e
            case _ => return None
          }
        }
      }
    Some(out.toSeq)
  }

  /** Exact total row count of `files` from fresh sidecar entries —
    * None (unknown) when any file lacks a fresh entry, when a pushed
    * predicate discriminates WITHIN files ([[dirCompleteFilters]]),
    * when sidecars are distrusted (`zoneMapPruning=false`), or under
    * excelCompat (whose lossy parse yields fewer rows than were
    * written). */
  def sidecarRowCount(options: CaseInsensitiveStringMap,
                      schema: StructType,
                      files: Seq[QuirkCsvFileMeta],
                      filters: Array[Filter]): Option[Long] = {
    if (options.getBoolean("excelCompat", false) ||
      !options.getBoolean("zoneMapPruning", true) ||
      !dirCompleteFilters(options, schema, filters)) return None
    freshEntries(files).map(_.map(_.rows).sum)
  }

  /** Evaluate an accepted filter against one parsed field value
    * (null == missing / short row). */
  def eval(f: Filter, v: String): Boolean = f match {
    case EqualTo(_, expected: String) => v != null && v == expected
    case EqualNullSafe(_, expected) =>
      if (expected == null) v == null
      else v != null && v == expected
    case IsNotNull(_) => v != null
    case IsNull(_) => v == null
    case In(_, vs) => v != null && vs.exists(x => x == v)
    case StringStartsWith(_, p) => v != null && v.startsWith(p)
    case StringEndsWith(_, p) => v != null && v.endsWith(p)
    case StringContains(_, p) => v != null && v.contains(p)
    case GreaterThan(_, x: String) => v != null && v.compareTo(x) > 0
    case GreaterThanOrEqual(_, x: String) => v != null && v.compareTo(x) >= 0
    case LessThan(_, x: String) => v != null && v.compareTo(x) < 0
    case LessThanOrEqual(_, x: String) => v != null && v.compareTo(x) <= 0
    case _ => false
  }
}
