package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft_cat` — a directory-backed DSv2 catalog plugin over the
  * graftcsv source: the last rung of the extension ladder (expression →
  * rule → strategy → physical operator → source/sink → '''catalog'''),
  * making the quirk-CSV raw layer addressable from pure SQL:
  *
  * {{{
  *   SET spark.sql.catalog.graft_cat=graft.sources.QuirkCsvCatalog
  *   SET spark.sql.catalog.graft_cat.root=/data/raw
  *   CREATE TABLE graft_cat.staging.superstore (OrderID STRING, ...)
  *   INSERT INTO graft_cat.staging.superstore SELECT ...
  *   SELECT Region, count(*) FROM graft_cat.staging.superstore GROUP BY 1
  * }}}
  *
  * Layout is the filesystem: a namespace is a directory under `root`, a
  * table is a directory of CSV part files inside it. There is no
  * metastore — `CREATE TABLE` materializes the schema as a header-only
  * seed part file (the same header every data file carries), so
  * `loadTable` recovers the schema through the source's normal header
  * inference and an external tool dropping files into the directory
  * needs no side channel. All reads/writes go through [[QuirkCsvTable]],
  * so every scan optimization (splits, pruning, filter/aggregate/limit
  * pushdown, runtime filtering, zone maps) applies to catalog tables
  * unchanged.
  *
  * The raw layer is all-strings by contract (the reference's NVARCHAR
  * staging, FIXTURES.md §1); `CREATE TABLE` rejects other column types
  * with the same message as the write path. */
class QuirkCsvCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var root: Path = _
  private def fs = root.getFileSystem(hadoopConf)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"catalog '$name' requires spark.sql.catalog.$name.root")
    root = new Path(r)
  }

  override def name(): String = catalogName

  private def nsDir(namespace: Array[String]): Path =
    namespace.foldLeft(root)(new Path(_, _))

  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace), ident.name)

  /** Tables and namespaces are both directories; the discriminator is
    * content — a table directory holds at least one `.csv` part file
    * (`CREATE TABLE` always seeds one) or a `_graft_partitioning`
    * marker (partitioned tables hold their data in value subdirs), a
    * namespace holds only directories. */
  private def isTableDir(dir: Path): Boolean =
    fs.exists(dir) && fs.getFileStatus(dir).isDirectory &&
      fs.listStatus(dir).exists(st =>
        st.isFile && (st.getPath.getName.endsWith(".csv") ||
          st.getPath.getName == QuirkCsv.PartitioningFile))

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toIndexedSeq).toArray)
    fs.listStatus(dir).filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tableDir(ident))

  override def loadTable(ident: Identifier): Table =
    loadTableAt(ident, None)

  /** `SELECT … FROM t VERSION AS OF n` — a read-only snapshot handle.
    * The snapshot resolves against the current LOGICAL schema (positions
    * are frozen by the rename/drop journal, so historical files read
    * correctly under it — the same contract mixed-generation current
    * reads already rely on). */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(version != null && version.nonEmpty && version.forall(_.isDigit),
      s"graftcsv table versions are the integers DESCRIBE HISTORY " +
        s"lists, got '$version'")
    loadTableAt(ident, Some(version))
  }

  /** `TIMESTAMP AS OF ts` (microseconds from Spark): the greatest
    * version committed at or before the stamp. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val v = QuirkCsvVersions.versionAtTimestamp(fs, dir, timestampMicros)
    loadTableAt(ident, Some(v.toString))
  }

  private def loadTableAt(ident: Identifier,
                          asOfVersion: Option[String]): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    tableForDir(dir, asOfVersion)
  }

  /** The graftcsv table over an arbitrary directory — shared by the
    * ident-resolved load above and the staged (CTAS/RTAS) path, whose
    * directory is hidden and not ident-addressable until commit. */
  private def tableForDir(dir: Path,
                          asOfVersion: Option[String]): Table = {
    val opts = new util.HashMap[String, String]()
    opts.put("path", dir.toString)
    // partitioned tables carry their partition column in the marker
    // file; surfacing it as an option turns on recursive listing,
    // directory-level partition pruning, routed writes, and the
    // grouped (storage-partitioned-join) planning mode downstream
    QuirkCsv.readPartitioning(dir).foreach(c => opts.put("partitionCol", c))
    QuirkCsv.readClustering(dir).foreach(c => opts.put("clusterBy", c))
    val (bloomBits, bloomCols) = QuirkCsv.readBloomCols(dir)
    if (bloomCols.nonEmpty) {
      opts.put("bloomCols", bloomCols.mkString(","))
      opts.put("bloomBits", bloomBits.toString)
    }
    asOfVersion.foreach(v => opts.put("asOfVersion", v))
    val options = new CaseInsensitiveStringMap(opts)
    val schema = new QuirkCsvDataSource().inferSchema(options)
    new QuirkCsvTable(schema, options)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (fs.exists(dir)) throw new TableAlreadyExistsException(ident)
    materializeTable(dir, schema, partitions, properties)
    loadTable(ident)
  }

  /** Validate and write a table's physical skeleton (seed header +
    * markers) at `dir` — the shared body of [[createTable]] and the
    * staged (CTAS/RTAS) path, which materializes into a HIDDEN staging
    * directory first. Validates EVERYTHING before the first filesystem
    * mutation: a failed CREATE must not leave a ghost table directory
    * behind (isTableDir would be true, making the corrected retry throw
    * AlreadyExists). */
  private def materializeTable(dir: Path, schema: StructType,
                               partitions: Array[Transform],
                               properties: util.Map[String, String]): Unit = {
    // PARTITIONED BY (c1, c2, …): IDENTITY transforms over schema
    // columns — the hive-style nested `c1=v1/c2=v2` subdir layout that
    // buys directory-level partition pruning (any level), partial-spec
    // partition retention, and storage-partitioned joins keyed on the
    // LEADING column. Bucket/sort transforms stay engine-layer concerns.
    val partitionCols: Seq[String] = partitions.toSeq.map { t =>
      val refs = t.references()
      require(t.name() == "identity" && refs.length == 1 &&
        refs(0).fieldNames().length == 1,
        s"graftcsv supports PARTITIONED BY (identity columns) only, got $t")
      val c = refs(0).fieldNames()(0)
      require(schema.fieldNames.contains(c),
        s"partition column '$c' is not in the table schema")
      c
    }
    require(partitionCols.map(_.toLowerCase).distinct.size ==
      partitionCols.size,
      s"duplicate partition column in (${partitionCols.mkString(", ")})")
    schema.fields.foreach { f =>
      require(f.dataType == StringType,
        s"graftcsv is the all-string raw layer; column '${f.name}' " +
          s"is ${f.dataType.catalogString} — cast to string first")
      // the schema round-trips through the seed file HEADER, and header
      // inference normalizes names to identifier form — a name that
      // would change under that normalization must be rejected here,
      // not silently renamed on the first read
      require(f.name.matches("[A-Za-z0-9_]+"),
        s"graftcsv catalog column names must be identifier-safe " +
          s"([A-Za-z0-9_]+); '${f.name}' would not survive the header " +
          "round-trip")
    }
    val clusterBy = Option(properties.get("clusterBy")).filter(_.nonEmpty)
    clusterBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"clusterBy column '$c' is not in the table schema")
      require(!partitionCols.contains(c),
        s"clusterBy column '$c' is already a partition column — " +
          "directory routing clusters it for free")
    }
    // TBLPROPERTIES('bloomCols'='a,b'): per-file sidecar Bloom filters on
    // the named columns — equality file skipping where min/max overlaps
    val bloomCols = Option(properties.get("bloomCols")).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // TBLPROPERTIES('bloomBits'='131072'): size to ~10x the expected
    // distinct values per file — saturated blooms prune nothing
    val bloomBits = Option(properties.get("bloomBits")).map(_.trim.toInt)
      .getOrElse(QuirkCsvBloom.DefaultBits)
    require(bloomBits >= 64 && bloomBits % 64 == 0 && bloomBits <= (1 << 24),
      s"bloomBits must be a multiple of 64 in [64, ${1 << 24}], got " +
        s"$bloomBits")
    bloomCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"bloomCols column '$c' is not in the table schema")
      require(!partitionCols.contains(c),
        s"bloomCols column '$c' is a partition column — directory " +
          "pruning already answers equality probes on it")
    }
    fs.mkdirs(dir)
    // the schema IS the seed header file (read back by inferSchema);
    // header-only => zero rows
    val seed = fs.create(new Path(dir, "part-seed-00000.csv"), true)
    seed.write((schema.fieldNames.map(QuirkCsv.formatField)
      .mkString(",") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    seed.close()
    if (partitionCols.nonEmpty) QuirkCsv.writePartitioning(dir, partitionCols)
    // TBLPROPERTIES('clusterBy'='col'): writes range-layout the cluster
    // column so per-(value-)dir zone maps prune selective probes to the
    // one covering file (see QuirkCsv.ClusterFile); validated above
    clusterBy.foreach(c => QuirkCsv.writeClustering(dir, c))
    if (bloomCols.nonEmpty)
      QuirkCsv.writeBloomCols(dir, bloomCols, bloomBits)
    // VERSIONED by default: mutations retire files into the attic and
    // log one entry each, so VERSION/TIMESTAMP AS OF reads any retained
    // snapshot. TBLPROPERTIES('versioning'='false') opts a table out
    // (mutations then delete physically, as raw-path dirs always do).
    if (!"false".equalsIgnoreCase(
      Option(properties.get("versioning")).getOrElse("true")))
      QuirkCsvVersions.writeMarker(fs, dir)
  }

  // ------------------------------------------------- staged CTAS / RTAS

  /** Atomic `CREATE TABLE … AS SELECT`: the table skeleton AND the
    * query's output land in a HIDDEN staging directory
    * (`.staged-<table>-<uuid>`, invisible to listings and loads); commit
    * is ONE directory rename into the final name, abort deletes the
    * staging dir. A crash at any point leaves either no table or the
    * complete table — never the empty-then-half-written window of the
    * non-staged fallback (create, then write into the live table). */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
  : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (fs.exists(tableDir(ident))) throw new TableAlreadyExistsException(ident)
    stage(ident, schema, partitions, properties, replace = false,
      orCreate = false)
  }

  /** Atomic `REPLACE TABLE … AS SELECT`: the replacement materializes
    * fully in staging; commit renames the CURRENT table aside, renames
    * the staging dir in, then deletes the old bytes. The old table
    * stays live and complete until the instant of the swap — the
    * non-staged fallback would DROP it before computing the query, a
    * data-loss window if the query fails. Crash envelope, stated
    * honestly: between the two commit renames a reader sees "no such
    * table" (never mixed content); a crash there leaves the old table
    * under its hidden aside name — manual recovery, not silent loss.
    * REPLACE is drop-and-recreate by contract: the version history
    * restarts with the new table (the log lives inside the directory). */
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
  : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!isTableDir(tableDir(ident))) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
  : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, schema, partitions, properties, replace = true,
      orCreate = true)

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    replace: Boolean, orCreate: Boolean)
  : org.apache.spark.sql.connector.catalog.StagedTable = {
    val fin = tableDir(ident)
    val staged = new Path(fin.getParent,
      s".staged-${ident.name}-${java.util.UUID.randomUUID()}")
    materializeTable(staged, schema, partitions, properties)
    val inner = tableForDir(staged, None)
    new QuirkCsvStagedTable(inner, fs, staged, fin, ident, replace, orCreate)
  }

  /** Schema evolution WITHOUT data rewrites — at raw-layer scale
    * (100 TB of CSV) rewriting files for a DDL statement is not an
    * option, so every supported change is metadata-only and positions
    * are FROZEN:
    *
    *  - `ADD COLUMN c STRING` appends a new physical position: the seed
    *    header is rewritten to the widened (physical) schema; readers
    *    bounds-check positional access, so rows from pre-ALTER files
    *    surface NULL for appended columns.
    *  - `RENAME COLUMN a TO b` re-labels a position in the
    *    [[QuirkCsv.SchemaMapFile]] journal: the seed keeps the original
    *    PHYSICAL name, reads resolve positionally (mixed-generation
    *    files untouched), and zone-map stats — keyed by physical names
    *    forever — keep serving pruning and metadata aggregates across
    *    the rename.
    *  - `DROP COLUMN c` masks the position in the journal: it vanishes
    *    from the logical schema while later writes keep emitting the
    *    position (as NULL) so no other position ever shifts.
    *
    * Physical names are RESERVED forever (re-adding a dropped or
    * pre-rename name is rejected): a recycled name would alias old
    * files' positions or stale sidecar stats. The partition column can
    * be neither renamed nor dropped — its physical name IS the value-dir
    * layout. Position changes (FIRST/AFTER) stay rejected. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val partitionCols = QuirkCsv.readPartitioning(dir).toSeq
      .flatMap(QuirkCsv.splitColsOption)
    var schemaMap = QuirkCsv.loadSchemaMap(dir.toString)
      .getOrElse(QuirkCsvSchemaMap(Nil))
    var logical = loadTable(ident).columns().map(_.name()).toSeq
    def reserved: Set[String] =
      schemaMap.reservedPhysNames ++ logical
    def requireSafeName(n: String): Unit =
      require(n.matches("[A-Za-z0-9_]+"),
        s"graftcsv catalog column names must be identifier-safe " +
          s"([A-Za-z0-9_]+); '$n' would not survive the header round-trip")
    // physical position of logical column `l` (journal drops interleave)
    def physIdxOf(l: String): Int = {
      val li = logical.indexOf(l)
      require(li >= 0, s"column '$l' does not exist in $ident")
      val width = schemaMap.width(logical.length)
      var pi = 0; var seen = -1
      while (pi < width) {
        val droppedHere = schemaMap.byIdx.get(pi).exists(_.logicalName.isEmpty)
        if (!droppedHere) { seen += 1; if (seen == li) return pi }
        pi += 1
      }
      throw new IllegalStateException(s"position of '$l' not found")
    }
    var mapChanged = false
    val added = scala.collection.mutable.ArrayBuffer.empty[String]
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graftcsv columns are flat; nested add is not supported")
        val n = add.fieldNames()(0)
        require(add.dataType() == StringType,
          s"graftcsv is the all-string raw layer; column '$n' is " +
            s"${add.dataType().catalogString} — cast to string first")
        require(add.isNullable,
          s"appended column '$n' must be nullable: rows in pre-ALTER " +
            "files have no value for it")
        require(add.position() == null,
          s"appended column '$n' must go last (FIRST/AFTER would " +
            "re-label existing positions)")
        requireSafeName(n)
        require(!reserved.exists(_.equalsIgnoreCase(n)),
          s"column name '$n' is reserved: it is (or once was) a physical " +
            "column of this table — reusing it would alias old files' " +
            "positions or stale sidecar stats")
        added += n
        logical = logical :+ n
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "graftcsv columns are flat; nested rename is not supported")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        requireSafeName(to)
        require(!partitionCols.exists(_.equalsIgnoreCase(from)),
          s"cannot rename partition column '$from': its physical name " +
            "is the value-directory layout on disk")
        require(!QuirkCsv.readClustering(dir).exists(_.equalsIgnoreCase(from)),
          s"cannot rename cluster column '$from': its physical name is " +
            "recorded in the table's cluster marker")
        require(!reserved.exists(_.equalsIgnoreCase(to)),
          s"column name '$to' is reserved: it is (or once was) a " +
            "physical or logical column of this table")
        val pi = physIdxOf(from)
        val physName = schemaMap.byIdx.get(pi).map(_.physName).getOrElse(from)
        schemaMap = QuirkCsvSchemaMap(
          schemaMap.ops.filterNot(_.idx == pi) :+
            QuirkCsvSchemaMapOp(pi, physName, Some(to)))
        logical = logical.updated(logical.indexOf(from), to)
        mapChanged = true
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graftcsv columns are flat; nested drop is not supported")
        val n = del.fieldNames()(0)
        require(!partitionCols.exists(_.equalsIgnoreCase(n)),
          s"cannot drop partition column '$n': it is the value-directory " +
            "layout on disk")
        require(!QuirkCsv.readClustering(dir).exists(_.equalsIgnoreCase(n)),
          s"cannot drop cluster column '$n': it drives the table's " +
            "range-clustered write layout")
        require(logical.size > 1,
          s"cannot drop '$n': a table needs at least one column")
        val pi = physIdxOf(n)
        val physName = schemaMap.byIdx.get(pi).map(_.physName).getOrElse(n)
        schemaMap = QuirkCsvSchemaMap(
          schemaMap.ops.filterNot(_.idx == pi) :+
            QuirkCsvSchemaMapOp(pi, physName, None))
        logical = logical.filterNot(_ == n)
        mapChanged = true
      case other => throw new UnsupportedOperationException(
        s"graftcsv supports ADD COLUMN (append), RENAME COLUMN, and " +
          s"DROP COLUMN: $other would re-label existing file positions; " +
          "rewrite the files instead")
    }
    if (mapChanged) QuirkCsv.writeSchemaMap(dir.toString, schemaMap)
    if (added.isEmpty) return loadTable(ident)
    // appends rewrite the seed to the widened PHYSICAL schema (the seed
    // never carries logical renames — it is the frozen physical layout)
    val currentPhys = physicalSeedNames(dir)
    val widened = currentPhys.toSeq ++ added
    require(widened.map(_.toLowerCase).distinct.size == widened.size,
      s"duplicate column after ALTER: ${widened.mkString(", ")}")
    // crash-safe widen via VERSIONED seeds: write the next version
    // hidden, rename it into place under its NEW name (an atomic
    // create, never an overwrite), and only then delete older seeds.
    // inferSchema takes the HIGHEST seed, so the worst crash window
    // leaves a redundant older version behind — the schema can never
    // go missing or silently narrow (the prior delete-then-rename
    // protocol lost the seed if the process died between the steps).
    val priorSeeds = fs.listStatus(dir).toIndexedSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("part-seed-") && n.endsWith(".csv"))
    val nextVer = priorSeeds
      .flatMap(n => scala.util.Try(
        n.stripPrefix("part-seed-").stripSuffix(".csv").toInt).toOption)
      .foldLeft(-1)(_ max _) + 1
    val seed = new Path(dir, f"part-seed-$nextVer%05d.csv")
    val tmp = new Path(dir, f".part-seed-$nextVer%05d.csv.alter")
    val out = fs.create(tmp, true)
    out.write((widened.map(QuirkCsv.formatField).mkString(",") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    out.close()
    require(fs.rename(tmp, seed), s"ALTER TABLE $ident: seed swap failed")
    priorSeeds.foreach(n => fs.delete(new Path(dir, n), false))
    loadTable(ident)
  }

  /** The frozen PHYSICAL column names — the highest seed's header.
    * Catalog columns are identifier-safe by CREATE/ALTER contract, so
    * the header splits to the names directly. */
  private def physicalSeedNames(dir: Path): Array[String] = {
    val seeds = fs.listStatus(dir).toIndexedSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("part-seed-") && n.endsWith(".csv")).sorted
    require(seeds.nonEmpty, s"no schema seed in $dir")
    val p = new Path(dir, seeds.last)
    val header = QuirkCsv.readFirstLine(p.toString,
      fs.getFileStatus(p).getLen)
    QuirkCsv.splitCsv(QuirkCsv.stripLineQuirks(header))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    // the isTableDir guard keeps DROP TABLE from recursively deleting a
    // same-named NAMESPACE directory
    isTableDir(dir) && fs.delete(dir, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!isTableDir(tableDir(from))) throw new NoSuchTableException(from)
    if (fs.exists(tableDir(to))) throw new TableAlreadyExistsException(to)
    fs.mkdirs(tableDir(to).getParent)
    require(fs.rename(tableDir(from), tableDir(to)),
      s"rename $from -> $to failed")
  }

  // --------------------------------------------------------- functions

  /** The [[GraftFunctions]] library is AMBIENT: the same functions exist
    * in every namespace of the catalog (like a database's builtins), so
    * `SELECT <cat>.<any_ns>.token_count(...)` resolves wherever the
    * caller's tables live — no dedicated function namespace to remember.
    * Listing requires the namespace to exist (same contract as tables);
    * loading only requires the name to match, since Spark resolves
    * function references directly by identifier. */
  // ------------------------------------------------- stored procedures
  //
  // `CALL graft_cat.system.<p>(…)` — the SQL surface for the lifecycle
  // operations (history / current_version / vacuum / compact), so the
  // whole maintenance story is runnable without any Scala entry point.
  // See QuirkCsvProcedures.

  override def loadProcedure(ident: Identifier)
  : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    QuirkCsvProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq(QuirkCsvProcedures.Namespace))
      QuirkCsvProcedures.Names
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  /** Catalog-relative `namespace.table` → the table's directory; loud
    * when it does not resolve to a table (procedures must not silently
    * operate on an arbitrary path). */
  private[sources] def resolveTableDir(table: String): Path = {
    val parts = table.split("\\.").toIndexedSeq.filter(_.nonEmpty)
    require(parts.nonEmpty,
      s"procedure table argument must be 'namespace.table', got '$table'")
    val ident = Identifier.of(parts.init.toArray, parts.last)
    val dir = tableDir(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    dir
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toIndexedSeq).toArray)
    GraftFunctions.names.map(Identifier.of(namespace, _)).toArray
  }

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftFunctions.load(ident.name())
      .getOrElse(throw new NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    GraftFunctions.load(ident.name()).isDefined

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root)
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String])
  : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toIndexedSeq).toArray)
    fs.listStatus(dir)
      .filter(st => st.isDirectory && !isTableDir(st.getPath))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(nsDir(namespace)) && !isTableDir(nsDir(namespace)))

  override def loadNamespaceMetadata(namespace: Array[String])
  : util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace.toIndexedSeq).toArray)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    fs.mkdirs(nsDir(namespace))

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graftcsv namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) return false
    if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(dir, true)
  }
}

/** The staged handle CTAS/RTAS writes into: a full graftcsv table over a
  * hidden staging directory, made visible (or swapped in) by ONE
  * directory rename at commit. See QuirkCsvCatalog.stageCreate /
  * stageReplace for the atomicity contract and crash envelope. */
private[sources] class QuirkCsvStagedTable(
    inner: Table, fs: org.apache.hadoop.fs.FileSystem,
    stagedDir: Path, finalDir: Path, ident: Identifier,
    replace: Boolean, orCreate: Boolean)
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = ident.toString
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities()
  : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    inner.capabilities()

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder =
    inner.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    if (!replace) {
      // exclusive landing: a concurrent CREATE of the same name wins by
      // rename order — the loser cleans its staging and throws. The
      // exists-check + rename alone is NOT enough: if the winner lands
      // finalDir between our check and our rename, Hadoop's rename moves
      // stagedDir INTO the winner's directory and still returns true
      // (POSIX mv-into-dir), which would report success while our data
      // sits as a hidden .staged-* subdir inside the other table. Verify
      // the landing and treat a nested arrival as a lost race.
      val nested = new Path(finalDir, stagedDir.getName)
      if (fs.exists(finalDir) || !fs.rename(stagedDir, finalDir) ||
          fs.exists(nested)) {
        fs.delete(nested, true)
        fs.delete(stagedDir, true)
        throw new TableAlreadyExistsException(ident)
      }
    } else {
      if (!orCreate && !fs.exists(finalDir)) {
        fs.delete(stagedDir, true)
        throw new NoSuchTableException(ident)
      }
      val aside = new Path(finalDir.getParent,
        s".replaced-${finalDir.getName}-${java.util.UUID.randomUUID()}")
      val hadPrior = fs.exists(finalDir)
      if (hadPrior)
        require(fs.rename(finalDir, aside),
          s"staged REPLACE: could not move $finalDir aside")
      require(fs.rename(stagedDir, finalDir),
        s"staged REPLACE: could not land $stagedDir as $finalDir" +
          (if (hadPrior) s" — prior table preserved at $aside" else ""))
      if (hadPrior) fs.delete(aside, true)
    }
  }

  override def abortStagedChanges(): Unit = fs.delete(stagedDir, true)
}
