package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, NonEmptyNamespaceException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, Table, TableCapability, TableCatalog, TableChange, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSourceV2 [[TableCatalog]] over a lake warehouse directory —
  * the Iceberg-SparkCatalog-shaped surface that makes lake tables
  * first-class SQL objects instead of paths:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/wh")
  *   spark.sql("CREATE NAMESPACE graft.db")
  *   spark.sql("CREATE TABLE graft.db.t (k BIGINT, v DOUBLE) USING graftlake")
  *   spark.sql("INSERT INTO graft.db.t SELECT ...")
  *   spark.sql("SELECT * FROM graft.db.t VERSION AS OF 1")   // native time travel
  *   spark.sql("ALTER TABLE graft.db.t RENAME COLUMN v TO value")
  *   spark.sql("SELECT * FROM graft.db.t.history")           // metadata table
  * }}}
  *
  * Layout is the obvious one: a namespace is a directory under the
  * warehouse, a table is a directory with lake metadata
  * (`_graft_meta/v*`) in it. Everything data-shaped delegates to
  * [[LakeTable]] (one commit protocol whatever surface the op arrives
  * through) and everything scan-shaped to [[GraftLakeTable]] (so
  * pushdown, exact statistics, metadata-only aggregates, and SQL DML
  * all work identically on catalog tables and path tables).
  *
  * Time travel is the NATIVE V2 route: `VERSION AS OF n` arrives as
  * `loadTable(ident, "n")` (a tag name resolves too — Iceberg's
  * ref-as-version), `TIMESTAMP AS OF t` as `loadTable(ident, micros)`
  * lowered onto [[LakeTable.versionAsOf]].
  *
  * The warehouse root is re-read from the session conf on every call
  * (falling back to the init-time option): catalog instances are
  * cached per session, and a cached instance pinned to a stale work
  * dir would silently cross-wire tests and queries that point the
  * SAME catalog name at different roots.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with ViewCatalog {

  /** Iceberg-style `CALL cat.system.<proc>(…)` through Spark 4's
    * NATIVE ProcedureCatalog route — stock grammar, analyzer-bound
    * named/positional args, declared defaults; procedures route onto
    * the same maintenance machinery as the OPTIMIZE/VACUUM/RESTORE
    * statements ([[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.length == 1 &&
        ident.namespace.head.equalsIgnoreCase("system"),
      s"procedures live in the 'system' namespace: CALL ${name()}.system.<proc>(…)")
    GraftProcedures.load(this, spark, ident.name).getOrElse(
      throw new UnsupportedOperationException(
        s"unknown procedure '${ident.name}' — supported: " +
          GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty ||
        (namespace.length == 1 && namespace.head.equalsIgnoreCase("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** The layout functions of the lake format ([[GraftBucketFunction]])
    * — Spark resolves a scan-reported bucket transform against the
    * table's FunctionCatalog when planning a storage-partitioned
    * join; exposing it here is what lets two bucket-partitioned
    * catalog tables join shuffle-free. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array("bucket", "day", "hour", "month", "year")
        .map(Identifier.of(Array.empty, _))
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(
      ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    else ident.name.toLowerCase(java.util.Locale.ROOT) match {
      case "bucket" => GraftBucketFunction
      case "day" => GraftDayFunction
      case "hour" => GraftTimeUnitFunction.Hour
      case "month" => GraftTimeUnitFunction.Month
      case "year" => GraftTimeUnitFunction.Year
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }

  private var catalogName: String = _
  private var initWarehouse: Option[String] = None
  private var initUri: Option[String] = None
  private var initToken: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse"))
    initUri = Option(options.get("uri"))
    initToken = Option(options.get("token"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  // ---- catalog-over-HTTP (round-11 "missing" #3): with
  //   spark.sql.catalog.<name>.uri = http://host:port
  // set, DISCOVERY and loadTable resolve through the
  // [[CatalogHttpServer]] read plane (the server holds the registry
  // and assigns locations), and every resolved table's COMMITS are
  // arbitrated through [[HttpCatalogArbiter]] against the same
  // service — a second process needs only the URL; only the data
  // plane (shared storage) stays filesystem-direct, Iceberg-REST's
  // exact split. Without a uri, everything below is bypassed and the
  // catalog is the warehouse-path form it always was. ----

  private def uriOpt: Option[String] =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.uri").orElse(initUri)

  // bearer token forwarded on every read-plane request (the server
  // 401s without it when it was started with one)
  private def tokenOpt: Option[String] =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.token").orElse(initToken)

  // one read client + one writer-identity commit arbiter per service
  // uri (the arbiter is stateful: a persistent connection carrying
  // this session's writer id)
  private val restClients =
    new java.util.concurrent.ConcurrentHashMap[String, RestCatalogClient]()
  private val restArbiters =
    new java.util.concurrent.ConcurrentHashMap[String, HttpCatalogArbiter]()

  private def restClient(uri: String): RestCatalogClient = {
    val tok = tokenOpt
    restClients.computeIfAbsent(uri + tok.fold("")("|" + _),
      _ => new RestCatalogClient(uri, token = tok))
  }

  private def restArbiter(uri: String): HttpCatalogArbiter =
    restArbiters.computeIfAbsent(uri, u => {
      val parsed = new java.net.URI(u)
      new HttpCatalogArbiter(parsed.getHost, parsed.getPort)
    })

  /** Resolve `ident` through the service and hand back its storage
    * location with commits wired through the service's arbiter. */
  private def restResolve(uri: String, ns: Seq[String], name: String)
      : Option[String] =
    restClient(uri).loadTable(ns, name).map { case (loc, _) =>
      LakeTable.setCommitArbiter(loc, restArbiter(uri))
      loc
    }

  private def warehouse: String = {
    val raw = spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .orElse(initWarehouse)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog '$catalogName': set spark.sql.catalog.$catalogName.warehouse" +
          uriOpt.map(u => s" (catalog-over-HTTP at $u serves table resolution; " +
            "namespace-DIRECTORY surfaces like views still need a warehouse)")
            .getOrElse("")))
    if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
  }

  private def pathOf(parts: Seq[String]): String =
    (warehouse +: parts).mkString("/")

  /** Storage path of `parts` when it is a live lake table in this
    * catalog — the maintenance-SQL resolver ([[GraftSqlParser]]).
    * In uri-mode the service registry is the resolution authority. */
  private[sources] def lakeTablePath(parts: Seq[String]): Option[String] =
    uriOpt match {
      case Some(uri) if parts.size >= 2 =>
        restResolve(uri, parts.dropRight(1), parts.last).filter(isTable)
      case Some(_) => None
      case None => Some(pathOf(parts)).filter(isTable)
    }

  /** Warehouse path for a NEW table ident (no existence filter) —
    * the snapshot/migrate procedures' destination resolution. Path
    * mode only: in uri mode locations are server-assigned at CREATE,
    * so a client-side path guess would be wrong by construction. */
  private[sources] def newLakeTablePath(parts: Seq[String]): Option[String] =
    uriOpt match {
      case Some(_) => None
      case None => Some(pathOf(parts))
    }

  /** `register_table` (round-14 #5): bind an EXISTING lake metadata
    * location to a catalog ident. uri mode registers through the
    * service — the indirection layer built for exactly this; path
    * mode refuses by name, the same HadoopCatalog reasoning as
    * [[renameTable]]: a location-addressed warehouse has no
    * indirection to bind an external location through. Returns the
    * registered location. */
  private[sources] def registerLakeTable(parts: Seq[String], location: String): String =
    uriOpt match {
      case Some(uri) =>
        require(parts.size >= 2,
          s"register_table: need 'ns.table', got '${parts.mkString(".")}'")
        require(LakeTable.latestVersion(location).nonEmpty,
          s"register_table: $location is not a lake table (no metadata)")
        restClient(uri).registerTable(parts.dropRight(1), parts.last, Some(location))
          .getOrElse(throw new IllegalArgumentException(
            s"register_table: ${parts.mkString(".")} already exists in this catalog"))
      case None => throw new UnsupportedOperationException(
        "register_table: this catalog resolves tables by warehouse PATH — " +
          "there is no indirection layer to bind an external metadata " +
          "location (Iceberg's HadoopCatalog refuses for the same reason); " +
          "use a catalog-over-HTTP session (spark.sql.catalog.<c>.uri) " +
          "whose registry IS that layer, or import via add_files/snapshot")
    }

  private def tablePath(ident: Identifier): String =
    pathOf(ident.namespace.toSeq :+ ident.name)

  /** Storage path of a TABLE identifier under the active resolution
    * mode: the service-registered location in uri-mode (None when
    * unregistered), the warehouse path otherwise. */
  private def resolveTablePath(ident: Identifier): Option[String] =
    uriOpt match {
      case Some(uri) => restResolve(uri, ident.namespace.toSeq, ident.name)
      case None => Some(tablePath(ident))
    }

  /** Warehouse path of an identifier — the view/materialized-view
    * machinery's address resolution ([[GraftMaterializedViews]]). */
  private[sources] def warehousePathOf(ident: Identifier): String =
    tablePath(ident)

  private def isTable(p: String): Boolean = LakeTable.latestVersion(p).nonEmpty

  /** CREATE-time TBLPROPERTIES minus the keys Spark injects and the
    * ones with their own declaration machinery. */
  private def userProps(properties: util.Map[String, String]): Map[String, String] = {
    val reserved = Set("provider", "location", "comment", "owner",
      "external", "write.sort-order")
    properties.asScala.toMap.filterNot { case (k, _) =>
      reserved(k) || k.startsWith("option.") }
  }

  private def listDirs(p: String): Seq[String] = {
    val dir = Paths.get(p)
    if (!Files.isDirectory(dir)) return Nil
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filterNot(_.startsWith("_")).toSeq.sorted
    finally ls.close()
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    uriOpt match {
      case Some(uri) =>
        restClient(uri).listTables(namespace.toSeq)
          .getOrElse(throw new NoSuchNamespaceException(namespace))
          .map(Identifier.of(namespace, _)).toArray
      case None =>
        if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
        listDirs(pathOf(namespace.toSeq))
          .filter(n => isTable(pathOf(namespace.toSeq :+ n)))
          .map(Identifier.of(namespace, _)).toArray
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    resolveTablePath(ident).exists(isTable)

  /** The table's read schema; an EMPTY table (sentinel-only snapshot,
    * no file to carry a schema) falls back to the declared schema
    * persisted at CREATE TABLE time. A metadata-only ADDed column
    * that no data file carries yet is null-extended here: it is
    * registered in the version's field-id schema, and its TYPE comes
    * from the declared schema (the only place a type can live before
    * a file carries it) — the V2 scan then null-fills it via schema
    * clipping, exactly like absent columns of older files. */
  private def schemaFor(p: String, version: Option[Int]): StructType = {
    val s = LakeTable.read(spark, p, version).schema
    if (s.isEmpty) return declaredSchemaOf(p).getOrElse(s)
    val latest = LakeTable.latestVersion(p)
    val latestSchema = latest.flatMap(v => LakeTable.schemaOf(p, v)).getOrElse(Nil)
    val registered =
      if (version.forall(latest.contains)) latestSchema
      else version.flatMap(v => LakeTable.schemaOf(p, v)).getOrElse(Nil)
    val declared = declaredSchemaOf(p)
    // the declared schema tracks CURRENT names, so a version pinned
    // between an ADD and a later RENAME must resolve the TYPE through
    // the field id's latest name, then surface the column under the
    // version's own name (round-8 review catch). Known bound: a
    // column added AND later dropped without any write ever carrying
    // it has no surviving type anywhere (declared lost it, no file
    // holds it) — pinned reads inside that interval omit it, the
    // honest answer short of per-version declared-schema snapshots.
    val latestNames: Map[Int, String] = latestSchema.toMap
    val extras = registered.filterNot { case (_, n) => s.fieldNames.contains(n) }
      .flatMap { case (id, n) =>
        declared.flatMap(_.fields.find(_.name == latestNames.getOrElse(id, n)))
          .map(_.copy(name = n))
      }
    val merged = if (extras.isEmpty) s else StructType(s.fields ++ extras)
    withDefaultMeta(p, version.orElse(latest), merged)
  }

  /** Decorate defaulted columns (S9d) with Spark's standard
    * CURRENT_DEFAULT / EXISTS_DEFAULT field metadata, so the analyzer
    * fills them on `INSERT INTO t (subset-of-columns)` and resolves
    * the `DEFAULT` keyword — the V2 write-default path. The same one
    * declared constant backs both keys (see
    * [[LakeTable.addColumnWithDefault]]: any file missing the column
    * serves it, so current- and exists-default coincide here). */
  private def withDefaultMeta(
      p: String, version: Option[Int], s: StructType): StructType =
    version.flatMap(LakeTable.schFor(p, _)).map { sch =>
      if (sch.defaults.isEmpty) s
      else {
        val names = sch.cols.toMap
        val byName = sch.defaults.flatMap { case (id, d) => names.get(id).map(_ -> d) }
        StructType(s.fields.map(f => byName.get(f.name).map { d =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", d)
            .putString("EXISTS_DEFAULT", d).build())
        }.getOrElse(f)))
      }
    }.getOrElse(s)

  /** Keep the declared (typed) schema in sync across metadata-only
    * DDL, when one was persisted at CREATE time. */
  private def syncDeclared(p: String)(f: StructType => StructType): Unit =
    declaredSchemaOf(p).foreach(cur =>
      Files.writeString(declaredSchemaFile(p), f(cur).toDDL))

  private def declaredSchemaFile(p: String) = Paths.get(s"$p/_graft_meta/catalog_schema.json")

  private def declaredSchemaOf(p: String): Option[StructType] = {
    val f = declaredSchemaFile(p)
    if (Files.exists(f)) Some(StructType.fromDDL(Files.readString(f))) else None
  }

  override def loadTable(ident: Identifier): Table = {
    resolveTablePath(ident) match {
      case Some(p) if isTable(p) => new GraftLakeTable(p, None, schemaFor(p, None))
      case Some(p) if uriOpt.isDefined => throw new IllegalStateException(
        s"graft catalog '$catalogName': $ident is registered at $p but no " +
          "lake table exists there — the shared storage is not reachable " +
          "from this process, or the registration is stale")
      case _ => metaTableOf(ident).getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** `SELECT ... FROM cat.ns.t VERSION AS OF x` — x is a version
    * number or a tag name (Iceberg's ref-as-version). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = resolveTablePath(ident).filter(isTable)
      .getOrElse(throw new NoSuchTableException(ident))
    version.toIntOption match {
      case Some(v) => new GraftLakeTable(p, Some(v), schemaFor(p, Some(v)))
      case None if LakeTable.tags(p).contains(version) =>
        val v = LakeTable.tagVersion(p, version)
        new GraftLakeTable(p, Some(v), schemaFor(p, Some(v)))
      case None if LakeTable.branches(p).contains(version) =>
        // a BRANCH is its own chain — read its head, not a main pin
        val bp = LakeTable.branchPath(p, version)
        new GraftLakeTable(bp, None, schemaFor(bp, None))
      case None => // preserve tagVersion's named refusal
        val v = LakeTable.tagVersion(p, version)
        new GraftLakeTable(p, Some(v), schemaFor(p, Some(v)))
    }
  }

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = resolveTablePath(ident).filter(isTable)
      .getOrElse(throw new NoSuchTableException(ident))
    val v = LakeTable.versionAsOf(spark, p, timestamp / 1000L)
    new GraftLakeTable(p, Some(v), schemaFor(p, Some(v)))
  }

  /** Iceberg-style METADATA TABLES: `cat.ns.t.history` resolves when
    * `cat.ns.t` is a lake table — served as a driver-local scan (the
    * frame is O(#versions) metadata). */
  private def metaTableOf(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    // the parent table resolves under the active mode too, so
    // `cat.ns.t.history` works over catalog-over-HTTP identifiers
    val parent = uriOpt match {
      case Some(uri) if ident.namespace.length >= 2 =>
        // tables first, then the view registry — so `cat.ns.v.versions`
        // version-travels a service-registered view too (S16c)
        restResolve(uri, ident.namespace.toSeq.dropRight(1),
          ident.namespace.last)
          .orElse(restClient(uri).loadView(
            ident.namespace.toSeq.dropRight(1), ident.namespace.last).map(_._1))
          .getOrElse(return None)
      case Some(_) => return None
      case None => pathOf(ident.namespace.toSeq)
    }
    if (!isTable(parent)) {
      // `cat.ns.v.versions` when the parent is a VIEW: its immutable
      // definition history — O(#versions) driver metadata
      if (ident.name == "versions" && GraftViews.isView(parent))
        return Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.versions",
          GraftViews.history(spark, parent)))
      return None
    }
    ident.name match {
      case "history" =>
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.history",
          LakeTable.history(spark, parent)))
      case "manifests" =>
        // O(#manifests) metadata — LocalScan-honest. `files` is NOT
        // served here on purpose: it is O(#files) and already a
        // DISTRIBUTED frame at the library level (LakeTable.files);
        // lowering it through a driver-local scan would materialize a
        // 10⁷-row listing on the driver.
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.manifests",
          LakeTable.manifests(spark, parent)))
      case "partitions" =>
        // per-partition rollup: O(#partitions) result rows (fine as a
        // LocalScan) computed by ONE distributed job over manifests
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.partitions",
          LakeTable.partitions(spark, parent)))
      case "refs" =>
        // named refs (main/tags/branches): O(#refs) rows, pure metadata
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.refs",
          LakeTable.refs(spark, parent)))
      case "metadata_log_entries" =>
        // one row per live version's manifest-list file + wall-time:
        // O(#versions), pure metadata
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.metadata_log_entries",
          LakeTable.metadataLog(spark, parent)))
      case "snapshots" =>
        // per-version commit summary incl. added/removed file deltas:
        // O(#versions) result rows from ONE distributed list read
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.snapshots",
          LakeTable.snapshots(spark, parent)))
      case "entries" =>
        // per-manifest-entry debug rows (seqs, delete kinds, lineage
        // spans). O(#files) — a LocalScan materializes on the driver,
        // so past the distributed-plan threshold this surface refuses
        // by name and points at the distributed library frame (the
        // same honesty rule that keeps `files` off the LocalScan path)
        import org.apache.spark.sql.functions.{coalesce, lit, sum}
        val claimed = LakeTable.manifests(spark, parent)
          .agg(coalesce(sum("n_files"), lit(0L))).head().getLong(0)
        require(claimed <= LakeTable.DistributedPlanThreshold,
          s"$parent claims $claimed files — the `entries` SQL surface is " +
            "driver-local and stops at the distributed-plan threshold " +
            s"(${LakeTable.DistributedPlanThreshold}); read " +
            "LakeTable.entries(spark, path) instead (one distributed job)")
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.entries",
          LakeTable.entries(spark, parent)))
      case "position_deletes" =>
        // one row per deleted position (posdel rows + expanded DV
        // bits). O(deleted rows) — the same LocalScan honesty rule:
        // refuse past the threshold by the claimed delete-row bound
        // a DV manifest's n_rows counts BITMAPS, not set bits, so the
        // honest bound is a distributed count of the frame itself
        // (O(delete files) work, one small job — never driver rows)
        val pd = LakeTable.positionDeletes(spark, parent)
        val claimed = pd.count()
        require(claimed <= LakeTable.DistributedPlanThreshold,
          s"$parent claims $claimed position-delete rows — the " +
            "`position_deletes` SQL surface is driver-local and stops at " +
            s"the distributed-plan threshold " +
            s"(${LakeTable.DistributedPlanThreshold}); read " +
            "LakeTable.positionDeletes(spark, path) instead (one " +
            "distributed job)")
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.position_deletes", pd))
      case "all_manifests" =>
        // one row per (snapshot, manifest) — pure list metadata
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.all_manifests",
          LakeTable.allManifests(spark, parent)))
      case "all_files" =>
        // O(Σ per-snapshot files) result rows — the same LocalScan
        // honesty rule as `entries`, summed across the history
        import org.apache.spark.sql.functions.{coalesce, lit, sum}
        val claimed = LakeTable.allManifests(spark, parent)
          .agg(coalesce(sum("n_files"), lit(0L))).head().getLong(0)
        require(claimed <= LakeTable.DistributedPlanThreshold,
          s"$parent claims $claimed (snapshot, file) rows across its history " +
            "— the `all_files` SQL surface is driver-local and stops at the " +
            s"distributed-plan threshold (${LakeTable.DistributedPlanThreshold}); " +
            "read LakeTable.allFiles(spark, path) instead (one distributed job)")
        Some(new GraftLocalTable(
          s"${ident.namespace.mkString(".")}.all_files",
          LakeTable.allFiles(spark, parent)))
      case _ => None
    }
  }

  /** `PARTITIONED BY` DDL transforms → the lake's hidden-partition
    * spec (S9g). Supported: `identity(c)`, `bucket(n, c)` (BIGINT
    * sources — the write path enforces it, see stageHidden),
    * `days(c)` over the epoch-second BIGINT convention, and
    * `truncate(w, c)`. Anything else refuses loudly at CREATE. */
  private def specOfTransforms(
      schema: StructType, ts: Array[Transform]): Seq[LakeTable.PartitionTransform] = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
    def colOf(t: Transform): String = {
      val refs = t.references()
      require(refs.length == 1,
        s"graft catalog: partition transform ${t.describe()} must reference " +
          "exactly one column")
      val name = refs(0).fieldNames().mkString(".")
      require(schema.fieldNames.contains(name),
        s"graft catalog: partition source '$name' is not a table column")
      name
    }
    def litLong(t: Transform): Long = t.arguments().collectFirst {
      case l: VLit[_] => l.value() match {
        case n: java.lang.Number => n.longValue
        case other => throw new UnsupportedOperationException(
          s"graft catalog: non-numeric transform argument $other in ${t.describe()}")
      }
    }.getOrElse(throw new UnsupportedOperationException(
      s"graft catalog: transform ${t.describe()} needs a numeric argument"))
    // CREATE-time validation must cover everything the WRITE path
    // would reject, or the table is born unwritable (half-made):
    // zero widths divide by zero in the transform expression, bucket
    // hashes only BIGINT (xxhash64 int32≠int64 — stageHidden's own
    // contract), day/truncate do integral arithmetic
    def integral(n: String): Boolean =
      schema(n).dataType == org.apache.spark.sql.types.LongType ||
        schema(n).dataType == org.apache.spark.sql.types.IntegerType
    ts.toSeq.map { t =>
      t.name() match {
        case "identity" => LakeTable.PartitionTransform(colOf(t), "identity")
        case "bucket" =>
          val (n, w) = (colOf(t), litLong(t))
          require(w > 0, s"graft catalog: bucket($w, $n) needs a positive width")
          require(schema(n).dataType == org.apache.spark.sql.types.LongType,
            s"graft catalog: bucket transform supports BIGINT sources; '$n' is " +
              s"${schema(n).dataType.sql}")
          LakeTable.PartitionTransform(n, "bucket", w)
        case tn @ ("days" | "day" | "hours" | "hour" | "months" | "month" |
                   "years" | "year") =>
          val n = colOf(t)
          require(integral(n),
            s"graft catalog: $tn transform works over the epoch-second " +
              s"integral convention; '$n' is ${schema(n).dataType.sql}")
          LakeTable.PartitionTransform(n, tn.stripSuffix("s"))
        case "truncate" =>
          val (n, w) = (colOf(t), litLong(t))
          require(w > 0, s"graft catalog: truncate($w, $n) needs a positive width")
          require(integral(n),
            s"graft catalog: truncate transform works over integral sources; " +
              s"'$n' is ${schema(n).dataType.sql}")
          LakeTable.PartitionTransform(n, "truncate", w)
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported partition transform '$other' — " +
            "identity, bucket(n, c), hours/days/months/years(c), truncate(w, c)")
      }
    }
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val spec = specOfTransforms(schema, partitions) // refuses unsupported shapes
    val p = uriOpt match {
      case Some(uri) =>
        // catalog-over-HTTP: the SERVICE assigns the storage location
        // (its warehouse) and owns the name — a 409 is the
        // already-exists signal; the physical table then lands at the
        // assigned location through the same machinery, with commits
        // arbitrated by the service
        val loc = restClient(uri)
          .registerTable(ident.namespace.toSeq, ident.name)
          .getOrElse(throw new TableAlreadyExistsException(ident))
        if (isTable(loc)) {
          // a stale registry row was replaced but storage survived:
          // CREATE must not silently adopt foreign data
          restClient(uri).dropTable(ident.namespace.toSeq, ident.name)
          throw new TableAlreadyExistsException(ident)
        }
        LakeTable.setCommitArbiter(loc, restArbiter(uri))
        loc
      case None => tablePath(ident)
    }
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    require(!GraftViews.isView(p),
      s"graft catalog: a VIEW already exists at $ident — views and tables " +
        "share the warehouse namespace")
    // v0 is an EMPTY snapshot (sentinel commit): the table is
    // immediately SELECT-able (zero rows) and history starts at v0
    LakeTable.overwrite(
      spark.createDataFrame(util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      p)
    Files.writeString(declaredSchemaFile(p), schema.toDDL)
    // declare the STANDING layout after the empty sentinel: every
    // INSERT from here on lands hidden-partitioned (S9g)
    if (spec.nonEmpty) LakeTable.setPartitionSpec(p, spec)
    Option(properties.get("write.sort-order")).foreach { order =>
      LakeTable.setSortOrder(p, order.split(",").map(_.trim).filter(_.nonEmpty): _*)
    }
    // CREATE-time TBLPROPERTIES seed the versioned sidecar (an
    // audited commit on top of the v0 sentinel)
    val up = userProps(properties)
    if (up.nonEmpty) LakeTable.setTableProperties(spark, p, up)
    new GraftLakeTable(p, None, schema)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  //
  // The staging substrate is the same trick as branch fast-forward:
  // manifests can be ADOPTED across metadata roots without moving a
  // file, because they reference data by absolute path. stageCreate
  // writes the SELECT into a hidden staged table at
  // `<table>/_graft_staging/ctas_<uuid>` (underscore-prefixed, so it
  // is invisible to listings and `isTable` stays false — a failed
  // CTAS leaves nothing visible); commitStagedChanges publishes ONE
  // commit at the final path re-referencing the staged manifests
  // (create: v0 via the ErrorIfExists version-rename, so two racing
  // CTAS cannot both win; replace: the next version over the old
  // content, keeping history time-travelable). abortStagedChanges
  // removes the staging dir. Crash residue (neither committed nor
  // aborted) is underscore-hidden and swept by the next stage call
  // on the same table past the orphan grace window.

  private def stagingRoot(p: String) = s"$p/_graft_staging"

  /** Newest mtime anywhere under `dir` — an IN-FLIGHT stage keeps
    * writing files in subdirs while the top-level dir's own mtime
    * never moves, so residue detection must look at the tree. */
  private def deepMtime(dir: java.nio.file.Path): Long =
    // Files.walk's own directory iteration throws UncheckedIOException
    // if a concurrent abortStagedChanges deletes the dir mid-walk; a
    // vanished/unreadable dir must read as FRESH (non-sweepable) so
    // the sweep can never abort an unrelated in-flight stage call.
    try {
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .map(f => try Files.getLastModifiedTime(f).toMillis
          catch { case _: java.io.IOException => Long.MaxValue })
        .foldLeft(0L)(math.max)
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => Long.MaxValue
    }

  private def sweepStaleStaging(p: String): Unit = {
    val root = Paths.get(stagingRoot(p))
    if (!Files.isDirectory(root)) return
    val cutoff = System.currentTimeMillis() - LakeTable.DefaultOrphanGraceMs
    val ls = Files.list(root)
    try ls.iterator().asScala
      // the DEEP newest mtime must be past grace: a long-running
      // concurrent stage writes fresh files in subdirs while the
      // top-level dir's mtime stays at creation time
      .filter(d => deepMtime(d) <= cutoff)
      // a COMMITTED CTAS/RTAS leaves its staged dir in place forever —
      // the commit adopted its manifests without moving a file — so
      // age alone cannot distinguish crash residue from live data:
      // only dirs no live version (or branch) references are residue
      .filterNot(d => LakeTable.referencesUnder(p, d.toString))
      .foreach(d => graft.Util.rmRecursive(d.toString))
    finally ls.close()
  }

  private def stageFor(
      ident: Identifier, declared: StructType,
      partitions: Array[Transform], tableProps: util.Map[String, String],
      replace: Boolean, orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val spec = specOfTransforms(declared, partitions) // refuses unsupported shapes
    val p = tablePath(ident)
    if (!replace && isTable(p)) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !isTable(p)) throw new NoSuchTableException(ident)
    sweepStaleStaging(p)
    val sp = s"${stagingRoot(p)}/ctas_${java.util.UUID.randomUUID()}"
    // honor a declared sort order DURING the staged write, so the
    // adopted files are already laid out (the final table gets the
    // same declaration at commit)
    Option(tableProps.get("write.sort-order")).foreach { order =>
      LakeTable.setSortOrder(sp, order.split(",").map(_.trim).filter(_.nonEmpty): _*)
    }
    // PARTITIONED BY on CTAS/RTAS (S9g): the staged SELECT lands
    // under the declared layout, and the final table adopts the
    // standing spec at commit
    if (spec.nonEmpty) LakeTable.setPartitionSpec(sp, spec)
    new GraftLakeTable(sp, None, declared)
      with org.apache.spark.sql.connector.catalog.StagedTable {
      override def name(): String = s"$catalogName.$ident (staged)"

      override def commitStagedChanges(): Unit = {
        val base =
          if (replace) LakeTable.latestVersion(p).getOrElse(-1)
          else {
            if (isTable(p)) throw new TableAlreadyExistsException(ident)
            -1
          }
        val op = if (base >= 0) "replace" else "ctas"
        LakeTable.latestVersion(sp) match {
          case Some(h) =>
            val sch = LakeTable.schFor(sp, h)
            LakeTable.commitRefs(spark, p, base, LakeTable.listRefs(sp, h), op,
              sch.map(_.cols), Some(LakeTable.constraintsOf(sp, h)),
              promotedTypes = Some(sch.fold(Map.empty[Int, String])(_.promoted)),
              defaultVals = Some(sch.fold(Map.empty[Int, String])(_.defaults)))
          case None => // empty SELECT never wrote — an empty sentinel version
            // a REPLACED table's metadata must not survive into the
            // replacement's lineage: clear promotions AND defaults
            // (the staged table had neither)
            LakeTable.commitRefs(spark, p, base, Nil, op, None, Some(Nil),
              promotedTypes = Some(Map.empty), defaultVals = Some(Map.empty))
        }
        Files.writeString(declaredSchemaFile(p), declared.toDDL)
        // the replacement DEFINES the table: an RTAS without the
        // sort-order property / PARTITIONED BY must not inherit the
        // replaced table's standing declarations (the old order may
        // even name columns the replacement lacks)
        Option(tableProps.get("write.sort-order")) match {
          case Some(order) =>
            LakeTable.setSortOrder(p, order.split(",").map(_.trim).filter(_.nonEmpty): _*)
          case None => LakeTable.clearSortOrder(p)
        }
        if (spec.nonEmpty) LakeTable.setPartitionSpec(p, spec)
        else LakeTable.clearPartitionSpec(p)
      }

      override def abortStagedChanges(): Unit = {
        // Task kills are ASYNCHRONOUS: when the write job fails, the
        // driver enters abort while an interrupted straggler task may
        // still be flushing its part file, recreating the staging tree
        // mid-removal. Remove until the tree has STAYED gone across
        // consecutive checks. The common abort (nothing staged, or one
        // clean removal with no straggler) pays ~200 ms of bounded
        // confirmation; persistent failure THROWS instead of leaking
        // the staged files behind a clean-looking return.
        val sPath = Paths.get(sp)
        var lastFailure: Throwable = null
        var quiet = 0
        var rounds = 0
        while (quiet < 4 && rounds < 60) {
          if (Files.exists(sPath)) {
            // a write landing mid-walk makes the removal itself throw
            // (new child under a dir being deleted, entries vanishing
            // under Files.walk) — that IS the race; retry next round
            try { graft.Util.rmRecursive(sp); lastFailure = null }
            catch {
              case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
                lastFailure = e
            }
            quiet = 0
          } else quiet += 1
          rounds += 1
          if (quiet < 4) Thread.sleep(50)
        }
        if (Files.exists(sPath)) {
          val why = Option(lastFailure).map(e => s": $e").getOrElse(
            " (a writer kept recreating it past the quiesce bound)")
          throw new IllegalStateException(
            s"aborted staged write at $sp could not be removed$why — " +
              "staged files would leak invisibly; remove the directory " +
              "or let the next stage call's sweep reclaim it", lastFailure)
        }
        // leave no empty husk behind: if the staged table was the only
        // thing under a freshly-created table dir, remove the dir too
        // (a pre-existing namespace dir with children stays). A racing
        // recreation between the empty-check and the delete throws
        // DirectoryNotEmptyException — swallow it; the husk is then
        // in-flight residue for the sweep, not a leak.
        def dropIfEmpty(dir: java.nio.file.Path): Unit =
          if (Files.isDirectory(dir)) {
            val ls = Files.list(dir)
            val empty = try !ls.iterator().hasNext finally ls.close()
            if (empty)
              try Files.deleteIfExists(dir)
              catch { case _: java.nio.file.DirectoryNotEmptyException => () }
          }
        dropIfEmpty(Paths.get(stagingRoot(p)))
        dropIfEmpty(Paths.get(p))
      }
    }
  }

  override def stageCreate(
      ident: Identifier, info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageFor(ident, info.schema(), info.partitions(), info.properties(),
      replace = false, orCreate = false)

  override def stageReplace(
      ident: Identifier, info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageFor(ident, info.schema(), info.partitions(), info.properties(),
      replace = true, orCreate = false)

  override def stageCreateOrReplace(
      ident: Identifier, info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageFor(ident, info.schema(), info.partitions(), info.properties(),
      replace = true, orCreate = true)

  /** Declares DEFAULT-clause support (S9d): without this, Spark's
    * analyzer rejects `ADD COLUMN … DEFAULT …` before the catalog
    * ever sees the change. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = resolveTablePath(ident).filter(isTable)
      .getOrElse(throw new NoSuchTableException(ident))
    // generic property changes batch into ONE audited commit however
    // many keys one ALTER carries (set and unset both)
    val propSets = changes.collect {
      case s: TableChange.SetProperty if s.property != "write.sort-order" =>
        s.property -> s.value
    }
    val propUnsets = changes.collect {
      case r: TableChange.RemoveProperty => r.property
    }
    require(!propUnsets.contains("write.sort-order"),
      "write.sort-order is a declaration, not a sidecar property — " +
        "unsetting it here would silently leave the standing order in " +
        "force; use ALTER TABLE ... WRITE UNORDERED")
    if (propSets.nonEmpty || propUnsets.nonEmpty) {
      val base = LakeTable.latestVersion(p).getOrElse(
        throw new NoSuchTableException(ident))
      val merged = LakeTable.tablePropsOf(p, base) ++ propSets -- propUnsets
      require(!propSets.exists(_._1 == "write.sort-order"), "unreachable")
      LakeTable.commitRefs(spark, p, base, LakeTable.listRefs(p, base),
        if (propSets.nonEmpty) "set_properties" else "unset_properties",
        props = Some(merged))
    }
    changes.foreach {
      case _: TableChange.RemoveProperty => () // handled above
      case s: TableChange.SetProperty
          if s.property != "write.sort-order" => () // handled above
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
        LakeTable.renameColumn(spark, p, r.fieldNames()(0), r.newName())
        syncDeclared(p)(cur => StructType(cur.fields.map(f =>
          if (f.name == r.fieldNames()(0)) f.copy(name = r.newName()) else f)))
      case d: TableChange.DeleteColumn if d.fieldNames.length == 1 =>
        LakeTable.dropColumn(spark, p, d.fieldNames()(0))
        syncDeclared(p)(cur =>
          StructType(cur.fields.filterNot(_.name == d.fieldNames()(0))))
      case s: TableChange.SetProperty if s.property == "write.sort-order" =>
        LakeTable.setSortOrder(p, s.value.split(",").map(_.trim).filter(_.nonEmpty): _*)
      case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
        // METADATA-ONLY add: a fresh field id is committed (so later
        // rename/drop address it and ids are never reused); the TYPE
        // lives in the declared schema until a write carries the
        // column, and reads null-extend via schemaFor's merge.
        // With a DEFAULT (S9d), existing rows read the declared
        // constant instead — which also makes NOT NULL honest.
        require(a.isNullable || a.defaultValue() != null,
          s"graft catalog: ADD COLUMN ${a.fieldNames()(0)} NOT NULL would lie " +
            "about every existing row (they read as null) — add it nullable " +
            "or give it a DEFAULT")
        require(a.position() == null,
          s"graft catalog: ADD COLUMN ${a.fieldNames()(0)} supports trailing " +
            "position only (FIRST/AFTER would reorder file-carried columns)")
        if (declaredSchemaOf(p).isEmpty) // pre-catalog table: seed from data
          // BEFORE the add commits — a defaulted column appears in
          // read() immediately and would otherwise seed AND append
          Files.writeString(declaredSchemaFile(p),
            LakeTable.read(spark, p, None).schema.toDDL)
        Option(a.defaultValue()) match {
          case Some(dv) =>
            // prefer the user's SQL text; a purely-expression default
            // (no SQL form) falls back to the analyzed literal value
            val sql = Option(dv.getSql).getOrElse(
              org.apache.spark.sql.catalyst.expressions.Literal(
                dv.getValue.value, dv.getValue.dataType).sql)
            LakeTable.addColumnWithDefault(
              spark, p, a.fieldNames()(0), a.dataType().sql, sql)
          case None =>
            LakeTable.addColumn(spark, p, a.fieldNames()(0))
        }
        val field = org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = a.isNullable)
        syncDeclared(p)(cur => StructType(cur.fields :+ field))
      case u: TableChange.UpdateColumnType if u.fieldNames.length == 1 =>
        // METADATA-ONLY widening (S9a): data-carried columns promote
        // through the lake's widening evolution (lossless upcasts
        // only — LakeTable.promoteColumnType validates); a column no
        // data file carries yet has its type ONLY in the declared
        // schema, where any re-declaration is trivially lossless.
        val n = u.fieldNames()(0)
        val hasData = LakeTable.read(spark, p, None).schema.fieldNames.contains(n)
        if (hasData) LakeTable.promoteColumnType(spark, p, n, u.newDataType().sql)
        else require(declaredSchemaOf(p).exists(_.fieldNames.contains(n)),
          s"graft catalog: no such column '$n' at $p")
        syncDeclared(p)(cur => StructType(cur.fields.map(f =>
          if (f.name == n) f.copy(dataType = u.newDataType()) else f)))
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog: unsupported ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    uriOpt match {
      case Some(uri) =>
        restClient(uri).loadTable(ident.namespace.toSeq, ident.name) match {
          case None => false
          case Some((loc, _)) =>
            restClient(uri).dropTable(ident.namespace.toSeq, ident.name)
            if (isTable(loc)) graft.Util.rmRecursive(loc)
            true
        }
      case None =>
        val p = tablePath(ident)
        if (!isTable(p)) return false
        graft.Util.rmRecursive(p)
        true
    }
  }

  /** Path mode: refused, for the same reason Iceberg's path-based
    * HadoopCatalog refuses it — manifests reference data files by
    * ABSOLUTE path, so a directory move orphans every file reference,
    * and a location-addressed warehouse has no indirection layer to
    * retarget. Catalog-over-HTTP mode IS that indirection layer
    * (round 12): the service's registry maps the new name onto the
    * unchanged location — Iceberg REST's own rename semantics, zero
    * bytes moved, the manifests' absolute paths stay valid. */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    uriOpt match {
      case Some(uri) =>
        restClient(uri).renameTable(
          from.namespace.toSeq, from.name, to.namespace.toSeq, to.name) match {
          case "ok" => ()
          case "no-source" => throw new NoSuchTableException(from)
          case "exists" => throw new TableAlreadyExistsException(to)
        }
      case None =>
        if (!isTable(tablePath(from))) throw new NoSuchTableException(from)
        throw new UnsupportedOperationException(
          s"graft catalog '$catalogName': RENAME TABLE is not supported in a " +
            "location-addressed warehouse (manifests hold absolute paths — a " +
            "move would orphan them); CREATE TABLE AS SELECT into the new " +
            "name, or serve the table through a catalog service " +
            s"(spark.sql.catalog.$catalogName.uri) whose registry provides " +
            "the name indirection")
    }
  }

  // ---- views (Iceberg-view-spec-shaped, Spark's native ViewCatalog
  //      route: CREATE/REPLACE/ALTER/DROP/SHOW VIEWS and SELECT
  //      through a view all arrive here) ----

  /** Every view mutation commits a NEW immutable version file
    * ([[GraftViews]]) — `SELECT * FROM cat.ns.v.versions` reads the
    * audit trail. */
  /** Resolution root of a view ident: the SERVICE REGISTRY in
    * uri-mode (S16c — the view's version files live at the registered
    * location on shared storage, so a second process pointed at the
    * service reads and version-travels it), the warehouse path
    * otherwise. None = not a registered view (uri-mode only). */
  private def viewPathOf(ident: Identifier): Option[String] =
    uriOpt match {
      case Some(uri) => restClient(uri).loadView(ident.namespace.toSeq,
        ident.name).map(_._1)
      case None => Some(tablePath(ident))
    }

  override def loadView(ident: Identifier): View = {
    val p = viewPathOf(ident).getOrElse(throw new NoSuchViewException(ident))
    val v = GraftViews.latest(p).getOrElse(throw new NoSuchViewException(ident))
    new GraftView(ident, p, v)
  }

  override def viewExists(ident: Identifier): Boolean =
    viewPathOf(ident).exists(GraftViews.isView)

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    uriOpt match {
      case Some(uri) =>
        restClient(uri).listViews(ns.toSeq).getOrElse(Nil)
          .map(Identifier.of(ns, _)).toArray
      case None =>
        listDirs(pathOf(ns.toSeq))
          .filter(n => GraftViews.isView(pathOf(ns.toSeq :+ n)))
          .map(Identifier.of(ns, _)).toArray
    }
  }

  private def viewMetaOf(info: ViewInfo): GraftViews.ViewMeta =
    GraftViews.ViewMeta(
      sql = info.sql,
      currentCatalog = info.currentCatalog,
      currentNamespace = Option(info.currentNamespace).map(_.toSeq).getOrElse(Nil),
      schemaDdl = info.schema.toDDL,
      queryColumnNames =
        Option(info.queryColumnNames).map(_.toSeq).getOrElse(Nil),
      columnAliases = Option(info.columnAliases).map(_.toSeq).getOrElse(Nil),
      columnComments = Option(info.columnComments).map(_.toSeq).getOrElse(Nil)
        .map(c => Option(c).getOrElse("")),
      properties = Option(info.properties).map(_.asScala.toMap)
        .getOrElse(Map.empty),
      committedAtMs = System.currentTimeMillis())

  override def createView(info: ViewInfo): View = {
    if (viewExists(info.ident)) throw new ViewAlreadyExistsException(info.ident)
    if (info.ident.namespace.nonEmpty && !namespaceExists(info.ident.namespace))
      throw new NoSuchNamespaceException(info.ident.namespace)
    uriOpt match {
      case Some(uri) =>
        // uri-mode: the service assigns the location and owns name
        // uniqueness — a 409 (view OR table holds the name) refuses
        val p = restClient(uri)
          .registerView(info.ident.namespace.toSeq, info.ident.name)
          .getOrElse(throw new ViewAlreadyExistsException(info.ident))
        // registry-then-storage is two steps: a failed version-file
        // commit must not leave the NAME wedged (registered, zero
        // versions — unreadable yet 409ing every retry); unregister
        // best-effort and rethrow
        try GraftViews.commit(p, viewMetaOf(info))
        catch {
          case t: Throwable =>
            try restClient(uri).dropView(
              info.ident.namespace.toSeq, info.ident.name)
            catch { case _: Throwable => () }
            throw t
        }
      case None =>
        val wp = tablePath(info.ident)
        require(!isTable(wp),
          s"graft catalog: a TABLE already exists at ${info.ident} — views and " +
            "tables share the warehouse namespace")
        GraftViews.commit(wp, viewMetaOf(info))
    }
    loadView(info.ident)
  }

  /** CREATE OR REPLACE: the replacement is version N+1 — the prior
    * definition stays readable in `versions` (REPLACE is an audit
    * event, not an overwrite). */
  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    viewPathOf(info.ident) match {
      case Some(p) if GraftViews.isView(p) =>
        require(uriOpt.isDefined || !isTable(p),
          s"graft catalog: ${info.ident} is a TABLE — REPLACE VIEW refuses it")
        GraftViews.commit(p, viewMetaOf(info))
        loadView(info.ident)
      case Some(p) if uriOpt.isEmpty =>
        require(!isTable(p),
          s"graft catalog: ${info.ident} is a TABLE — REPLACE VIEW refuses it")
        if (!orCreate) throw new NoSuchViewException(info.ident)
        GraftViews.commit(p, viewMetaOf(info))
        loadView(info.ident)
      case _ =>
        if (!orCreate) throw new NoSuchViewException(info.ident)
        createView(info)
    }
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val p = viewPathOf(ident).getOrElse(throw new NoSuchViewException(ident))
    val v = GraftViews.latest(p).getOrElse(throw new NoSuchViewException(ident))
    val m = GraftViews.load(p, v)
    val props = changes.foldLeft(m.properties) {
      case (acc, s: ViewChange.SetProperty) => acc + (s.property -> s.value)
      case (acc, r: ViewChange.RemoveProperty) => acc - r.property
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER VIEW change $other")
    }
    GraftViews.commit(p,
      m.copy(properties = props, committedAtMs = System.currentTimeMillis()))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    uriOpt match {
      case Some(uri) =>
        viewPathOf(ident) match {
          case Some(p) =>
            // unregister, then drop the storage (the registry is
            // resolution; the version files are the metadata plane)
            restClient(uri).dropView(ident.namespace.toSeq, ident.name)
            GraftViews.drop(p)
          case None => false
        }
      case None => GraftViews.drop(tablePath(ident))
    }

  /** Views CAN rename (unlike path-mode tables): the stored SQL
    * resolves its table references through the saved
    * catalog/namespace context, never through the view's own
    * location, so neither a directory move (path mode) nor a
    * registry re-point (uri mode) orphans anything. uri mode
    * (round-16 #8) routes through the service's
    * `POST /v1/views/rename` — pure registry indirection, the
    * storage directory never moves (the tables plane's exact
    * contract), with the cross-registry 409 (a destination held by a
    * TABLE refuses) arbitrated server-side under one monitor. */
  override def renameView(from: Identifier, to: Identifier): Unit =
    uriOpt match {
      case Some(uri) =>
        restClient(uri).renameView(
          from.namespace.toSeq, from.name, to.namespace.toSeq, to.name) match {
          case "ok" => ()
          case "no-source" => throw new NoSuchViewException(from)
          case "exists" => throw new ViewAlreadyExistsException(to)
        }
      case None =>
        if (!viewExists(from)) throw new NoSuchViewException(from)
        if (viewExists(to)) throw new ViewAlreadyExistsException(to)
        require(!isTable(tablePath(to)),
          s"graft catalog: rename target $to is a TABLE")
        GraftViews.rename(tablePath(from), tablePath(to))
    }

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    uriOpt match {
      case Some(uri) =>
        restClient(uri).listNamespaces().filter(_.size == 1)
          .map(_.toArray).toArray
      case None =>
        listDirs(warehouse)
          .filterNot(n => isTable(pathOf(Seq(n))) || GraftViews.isView(pathOf(Seq(n))))
          .map(Array(_)).toArray
    }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    uriOpt match {
      case Some(uri) =>
        // the service registry is flat: children are the registered
        // namespaces one level below this prefix
        restClient(uri).listNamespaces()
          .filter(ns => ns.size == namespace.length + 1 &&
            ns.startsWith(namespace.toSeq))
          .map(_.toArray).toArray
      case None =>
        listDirs(pathOf(namespace.toSeq))
          .filterNot(n => isTable(pathOf(namespace.toSeq :+ n)) ||
            GraftViews.isView(pathOf(namespace.toSeq :+ n)))
          .map(n => namespace :+ n).toArray
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || (uriOpt match {
      case Some(uri) =>
        restClient(uri).listNamespaces().contains(namespace.toSeq)
      case None =>
        Files.isDirectory(Paths.get(pathOf(namespace.toSeq))) &&
          !isTable(pathOf(namespace.toSeq)) &&
          !GraftViews.isView(pathOf(namespace.toSeq))
    })

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    uriOpt match {
      case Some(uri) =>
        if (!restClient(uri).createNamespace(namespace.toSeq))
          throw new NamespaceAlreadyExistsException(namespace)
      case None =>
        if (namespaceExists(namespace) && namespace.nonEmpty)
          throw new NamespaceAlreadyExistsException(namespace)
        Files.createDirectories(Paths.get(pathOf(namespace.toSeq)))
    }
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no alterable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty) return false
    val p = pathOf(namespace.toSeq)
    if (!cascade && listDirs(p).nonEmpty)
      throw NonEmptyNamespaceException(namespace, "drop without CASCADE", None)
    graft.Util.rmRecursive(p)
    true
  }
}

/** A small driver-local V2 table over an already-computed metadata
  * frame (table history etc.) — O(#versions) rows, so a [[LocalScan]]
  * is the honest plan. */
class GraftLocalTable(tableName: String, df: org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = df.schema
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          df.queryExecution.executedPlan.executeCollect()
        override def description(): String = s"GraftLocalTable($tableName)"
      }
    }
}

/** One immutable VERSION of a catalog view — the analyzer re-parses
  * [[query]] under the stored catalog/namespace context, so the view
  * keeps meaning what it meant when written no matter where the
  * reading session sits. */
class GraftView(ident: Identifier, p: String, v: Int)
    extends View {
  private val m = GraftViews.load(p, v)
  override def name(): String =
    (ident.namespace :+ ident.name).mkString(".")
  override def query(): String = m.sql
  override def currentCatalog(): String = m.currentCatalog
  override def currentNamespace(): Array[String] = m.currentNamespace.toArray
  override def schema(): StructType = StructType.fromDDL(m.schemaDdl)
  override def queryColumnNames(): Array[String] = m.queryColumnNames.toArray
  override def columnAliases(): Array[String] = m.columnAliases.toArray
  override def columnComments(): Array[String] = m.columnComments.toArray
  override def properties(): util.Map[String, String] = m.properties.asJava
}
