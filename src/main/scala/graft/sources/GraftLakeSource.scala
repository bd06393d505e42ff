package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, LocalScan, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.{And, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 read connector for [[LakeTable]]: the idiomatic
  * "Spark SQL + DataFrame API" surface of the lake format —
  *
  * {{{
  *   spark.read.format("graftlake").load(path)                       // latest
  *   spark.read.format("graftlake").option("versionAsOf", 3).load(p) // time travel
  *   spark.sql("CREATE TABLE t USING graftlake OPTIONS (path '…')")  // catalog
  * }}}
  *
  * Architecture: this file is METADATA-ONLY. The [[GraftLakeScanBuilder]]
  * receives Spark's pushed filters ([[SupportsPushDownFilters]]) and
  * required columns ([[SupportsPushDownRequiredColumns]]), routes the
  * numeric ranges into the lake's ONE read planner — [[LakeTable.planV2]]
  * plans through the same `planScan` and `prunePlan` as every library
  * read (identical `PlanAudit` counts by construction) — and returns
  * Spark's own vectorized [[ParquetScan]] over the surviving files —
  * whole-stage codegen, columnar batches, and parquet row-group
  * pushdown all come from the engine, exactly as a Spark-first design
  * wants. At 100 TB the scan-side cost model is unchanged from the
  * library path: the prune runs on manifest metadata, read on the
  * driver, never on data files.
  *
  * Scope: ONE servability rule of the plan (`LakeTable.v2Refusal`)
  * names the snapshots a file-level scan cannot serve — live
  * merge-on-read delete files, field-id renames, files predating a
  * defaulted column, mixed hive/unpartitioned layouts and partial
  * hive-layout manifests, all row-level assembly that belongs to
  * `LakeTable.read`. [[LakeTable.planV2]] refuses them with that reason
  * (naming the fold that lifts it), and [[MorReadLiftRule]] lifts the
  * same snapshots onto the library read. Additive schema evolution and
  * drops read fine through the V2 path.
  */
class GraftLakeSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {

  override def shortName(): String = "graftlake"

  /** `df.write.format("graftlake").mode(…).save(path)` — the
    * DataFrameWriter V1 command path (path-based saves do not route
    * through the V2 write builder); same library commits as every
    * other write surface. */
  override def createRelation(
      ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import scala.jdk.CollectionConverters._
    val path = GraftLakeSource.pathOf(new CaseInsensitiveStringMap(parameters.asJava))
    import org.apache.spark.sql.SaveMode._
    mode match {
      case Append => LakeTable.append(data, path)
      case Overwrite => LakeTable.overwrite(data, path)
      case ErrorIfExists =>
        if (LakeTable.latestVersion(path).nonEmpty)
          throw new IllegalArgumentException(
            s"graftlake table already exists at $path (mode ErrorIfExists)")
        LakeTable.overwrite(data, path)
      case Ignore =>
        if (LakeTable.latestVersion(path).isEmpty) LakeTable.overwrite(data, path)
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  // schema comes from the snapshot's own files, never from the user
  override def supportsExternalMetadata(): Boolean = false

  private def active: SparkSession = SparkSession.getActiveSession.getOrElse(
    throw new IllegalStateException("graftlake: no active SparkSession"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = active
    if (GraftLakeSource.changeFeedOf(options))
      // streaming CDC read: the schema is the changelog's (data
      // columns + change_type [+ _row_id on the lineage feed] + the
      // v partition column)
      LakeTable.changeFeedSchema(spark, GraftLakeSource.pathOf(options),
        GraftLakeSource.lineageFeedOf(options))
    else if (LakeTable.latestVersion(GraftLakeSource.pathOf(options)).isEmpty)
      // no snapshots yet: this resolution is a STREAMING SINK about to
      // CREATE the table (reads of a missing table still fail loudly,
      // at scan build). The write takes the query's schema.
      new StructType()
    else
      // the library read's schema IS the V2 table schema (union across
      // commit generations, renames/drops resolved) — computed from
      // table metadata and each commit dir's schema record, no data
      // scan (only a dir written without a record infers its footers)
      LakeTable.read(spark, GraftLakeSource.pathOf(options),
        GraftLakeSource.versionOf(options)).schema
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftLakeTable(
      GraftLakeSource.pathOf(opts), GraftLakeSource.versionOf(opts), schema,
      GraftLakeSource.changeFeedOf(opts), GraftLakeSource.lineageFeedOf(opts))
  }
}

object GraftLakeSource {
  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val raw = Option(options.get("path"))
      .orElse(Option(options.get("location")))
      .getOrElse(throw new IllegalArgumentException(
        "graftlake: a table path is required — .load(path), " +
          "OPTIONS (path '…'), or LOCATION '…'"))
    // the session catalog hands table locations back as URIs
    // ("file:/p"); the lake's metadata layer is java.nio-based and
    // wants the bare filesystem path
    if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
  }

  private[sources] def versionOf(options: CaseInsensitiveStringMap): Option[Int] =
    versionOf(options, pathOf(options))

  /** As [[versionOf]] but against a KNOWN table path — the catalog
    * route (`spark.read.option("timestampAsOf", …).table(t)`) reaches
    * [[GraftLakeTable.newScanBuilder]] with no path option, so
    * timestampAsOf must resolve against the table's own path field
    * rather than re-deriving it from scan options. */
  private[sources] def versionOf(
      options: CaseInsensitiveStringMap, path: String): Option[Int] = {
    val v = Option(options.get("versionAsOf")).map { s =>
      try s.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graftlake: versionAsOf must be an integer version, got '$s'")
      }
    }
    // timestampAsOf resolves THROUGH versionAsOf (Delta's option,
    // Iceberg's as-of-timestamp): epoch millis, ISO instant, or
    // 'yyyy-MM-dd[ HH:mm:ss]' read as UTC — resolution itself is one
    // metadata read (LakeTable.versionAsOf), no data touched
    val t = Option(options.get("timestampAsOf")).map { s =>
      LakeTable.versionAsOf(
        SparkSession.active, path, LakeTable.timestampMillisOf(s))
    }
    require(v.isEmpty || t.isEmpty,
      "graftlake: versionAsOf and timestampAsOf are mutually exclusive")
    v.orElse(t)
  }

  private[sources] def hasTimeTravel(options: CaseInsensitiveStringMap): Boolean =
    options.containsKey("versionAsOf") || options.containsKey("timestampAsOf")

  /** `changeFeed` option: false (plain table read/stream), true (the
    * row-level change feed), or `lineage` — the LINEAGE feed, whose
    * rows key on the durable `_row_id` and pair updates as
    * preimage/postimage ([[LakeTable.changesWithLineage]] per
    * version). Anything else refuses loudly. */
  private[sources] def feedModeOf(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("changeFeed"))
      .map(_.toLowerCase(java.util.Locale.ROOT)).flatMap {
        case "false" => None
        case "true" => Some("rows")
        case "lineage" => Some("lineage")
        case other => throw new IllegalArgumentException(
          s"graftlake: changeFeed must be true, false or 'lineage', got '$other'")
      }

  private[sources] def changeFeedOf(options: CaseInsensitiveStringMap): Boolean =
    feedModeOf(options).isDefined

  private[sources] def lineageFeedOf(options: CaseInsensitiveStringMap): Boolean =
    feedModeOf(options).contains("lineage")
}

/** One lake snapshot as a V2 [[Table]] (batch read/write + SQL DELETE).
  * [[org.apache.spark.sql.connector.catalog.SupportsDelete]] is the
  * idiomatic V2 route for `DELETE FROM t WHERE …`: Spark translates
  * the condition to source filters and hands them here, where they
  * lower onto the copy-on-write [[LakeTable.delete]]. Conditions the
  * filter algebra cannot express are refused via `canDeleteWhere`
  * (Spark raises the standard cannot-delete error). UPDATE and MERGE
  * lower through [[LakeSqlDmlRule]] instead. */
class GraftLakeTable(
    path: String, version: Option[Int], tableSchema: StructType,
    changeFeed: Boolean = false, lineageFeed: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The lake path / pinned version (for the SQL DML lowering rule). */
  def tablePath: String = path
  def pinnedVersion: Option[Int] = version

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && filters.forall(f => GraftLakeTable.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version.isEmpty, s"cannot DELETE from a version-pinned read of $path")
    val spark = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("graftlake: no active SparkSession"))
    val cond = filters.map(f => GraftLakeTable.filterColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graftlake DELETE at $path: cannot express filter $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // write.delete.mode routes the SQL boundary (Iceberg's key):
    // merge-on-read commits the positions, copy-on-write rewrites
    if (LakeTable.dmlModeOf(path, "delete") == "merge-on-read")
      LakeTable.deleteMoRPositional(spark, path, cond)
    else LakeTable.delete(spark, path, cond)
  }

  /** `TRUNCATE TABLE` over a catalog ident — override the
    * [[org.apache.spark.sql.connector.catalog.TruncatableTable]]
    * default (`deleteWhere` over an empty filter set, which pays the
    * CoW delete's classification scan) with the O(#manifests)
    * metadata-only commit: a truncate already knows every file goes. */
  override def truncateTable(): Boolean = {
    require(version.isEmpty, s"cannot TRUNCATE a version-pinned read of $path")
    val spark = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("graftlake: no active SparkSession"))
    LakeTable.truncate(spark, path)
    true
  }

  override def name(): String =
    s"graftlake.`$path`${version.map(v => s" VERSION AS OF $v").getOrElse("")}"

  override def schema(): StructType = tableSchema

  /** The versioned properties sidecar (SET/UNSET TBLPROPERTIES) at
    * this table's pinned-or-latest version — SHOW TBLPROPERTIES and
    * DESCRIBE EXTENDED read them through Spark's own machinery. */
  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    version.orElse(LakeTable.latestVersion(path))
      .map(v => LakeTable.tablePropsOf(path, v)).getOrElse(Map.empty)
      .asJava
  }

  /** The table's hidden-partition layout as V2 transforms (visible in
    * DESCRIBE EXTENDED; the join-usable subset is what the SCAN
    * reports for storage-partitioned joins). Empty when generations
    * disagree (partition evolution) or the table has none. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    version.orElse(LakeTable.latestVersion(path))
      .flatMap(v => GraftLakeSpj.layoutOf(path, v, tableSchema))
      .map(_.transforms)
      .getOrElse(Array.empty)

  override def capabilities(): util.Set[TableCapability] =
    if (changeFeed)
      // the CDC projection is a STREAM (batch CDC is LakeTable.changes)
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, // append-following table stream
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, // REPLACE WHERE
      // INSERT OVERWRITE under partitionOverwriteMode=dynamic: served
      // by [[LakeSqlDmlRule]]'s lowering onto overwriteDynamic (Spark
      // has no V1 fallback exec for OverwritePartitionsDynamic), so
      // the capability must still be declared for the analyzer's
      // capability check
      TableCapability.OVERWRITE_DYNAMIC)

  /** V2 WRITE surface via the V1 fallback ([[V1Write]] — the shape
    * Delta shipped on for years): `INSERT INTO t SELECT …`,
    * `INSERT OVERWRITE …`, and `df.write.format("graftlake")` land as
    * the library's own transactional [[LakeTable.append]] /
    * [[LakeTable.overwrite]], so the commit protocol (staging, retry/
    * rebase, constraints, declared sort order, schema tracking) is
    * ONE code path whichever API the batch arrives through. A full
    * distributed BatchWrite would only relocate the parquet write —
    * the data job is already distributed inside append/overwrite. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(version.isEmpty, s"cannot write a version-pinned read of $path")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      // REPLACE WHERE: the analyzer hands the scope as V2 filters;
      // AlwaysTrue alone is a plain truncate-overwrite
      private var replaceCond: Option[org.apache.spark.sql.Column] = None
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def overwrite(
          filters: Array[Filter]): org.apache.spark.sql.connector.write.WriteBuilder = {
        if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          overwrite = true
        else {
          val conds = filters.toSeq.map(f =>
            GraftLakeTable.filterColumn(f).getOrElse(
              throw new IllegalArgumentException(
                s"REPLACE WHERE at $path: condition '$f' is outside the " +
                  "translatable filter algebra — rewrite the predicate")))
          replaceCond = Some(conds.reduce(_ && _))
        }
        this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(
                  data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                  fallbackOverwrite: Boolean): Unit =
                replaceCond match {
                  case Some(cond) => LakeTable.overwriteWhere(data, path, cond)
                  case None =>
                    if (overwrite || fallbackOverwrite) LakeTable.overwrite(data, path)
                    else LakeTable.append(data, path)
                }
            }
          /** `df.writeStream.format("graftlake")` — the native
            * exactly-once epoch sink ([[GraftLakeStreamingWrite]]);
            * the write schema is the QUERY's (a first write may be
            * creating the table). */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!overwrite,
              s"graftlake streaming sink at $path is append-only — Complete/" +
                "Truncate mode would overwrite the table every epoch; use " +
                "foreachBatch + LakeTable.overwrite to opt into that explicitly")
            val spark = SparkSession.getActiveSession.getOrElse(
              throw new IllegalStateException("graftlake: no active SparkSession"))
            new GraftLakeStreamingWrite(path, info.queryId(), info.schema(), spark)
          }
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("graftlake: no active SparkSession"))
    if (changeFeed) {
      require(version.isEmpty,
        s"graftlake changeFeed at $path: a version-pinned CDC stream is " +
          "contradictory — the stream's offsets ARE versions")
      val maxV = options.getInt("maxVersionsPerTrigger", 1)
      val allowLoss = options.getBoolean("allowDataLoss", false)
      // bounded CDC read (Delta's endingVersion): deliver versions up
      // to and including this one, then report no more data — a
      // consumer replaying a PREFIX of a shared table's history never
      // pays for (or sees) the versions past its bound. Negative =
      // unbounded (the default follow-the-head contract).
      val endV = options.getInt("endingVersion", -1)
      return new ScanBuilder {
        override def build(): Scan =
          new GraftLakeChangeScan(
            spark, path, tableSchema, lineageFeed, maxV, allowLoss, endV)
      }
    }
    // a read-time versionAsOf/timestampAsOf option overrides the
    // table-level pin
    val v =
      if (GraftLakeSource.hasTimeTravel(options))
        GraftLakeSource.versionOf(options, path)
      else version
    new GraftLakeScanBuilder(spark, path, v, tableSchema,
      skipChangeCommits = options.getBoolean("skipChangeCommits", false),
      maxVersionsPerTrigger = options.getInt("maxVersionsPerTrigger", 1))
  }
}

object GraftLakeTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}

  /** A source filter as a Column predicate over the table's own
    * columns — None when the algebra cannot express it (the caller
    * refuses rather than guessing). */
  private[sources] def filterColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case org.apache.spark.sql.sources.EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case org.apache.spark.sql.sources.StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case org.apache.spark.sql.sources.StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case org.apache.spark.sql.sources.StringContains(c, v) => Some(col(c).contains(v))
    case And(l, r) => for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- filterColumn(l); rc <- filterColumn(r) } yield lc || rc
    case org.apache.spark.sql.sources.Not(child) => filterColumn(child).map(not)
    case org.apache.spark.sql.sources.AlwaysTrue() => Some(lit(true))
    case org.apache.spark.sql.sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Routes V2 pushdown into the lake's manifest pruning, then returns
  * Spark's vectorized parquet scan over the survivors. Filters are
  * reported as pushed (they drive file skipping AND parquet row-group
  * pruning) but all of them are also returned as residuals, so Spark
  * re-applies the exact row predicate — file-granular pruning is a
  * subset guarantee, not row-exact. */
class GraftLakeScanBuilder(
    spark: SparkSession, path: String, version: Option[Int],
    tableSchema: StructType, skipChangeCommits: Boolean = false,
    maxVersionsPerTrigger: Int = 1)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var accepted: Array[Filter] = Array.empty
  private var allFilters: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var pushedAgg: Option[(StructType, Seq[ce.GenericInternalRow])] = None

  /** Metadata-only AGGREGATE pushdown — the Iceberg-style answer for
    * `SELECT count(*), min(c), max(c) FROM t`: COMPLETE pushdown of a
    * global (no GROUP BY, no filters) count/min/max aggregation,
    * answered from per-file row counts and [min,max] stats in the
    * manifests. [[LakeTable.metadataAggregate]] owns every exactness
    * refusal (merge-on-read rows, legacy entries, stats gaps, NaN
    * vintages); here we additionally refuse when the stored Double
    * bound cannot round-trip EXACTLY into the column's type (a long
    * beyond 2^53). When it fires, the scan is a [[LocalScan]] of one
    * precomputed row — zero data files opened, O(#manifest-rows)
    * metadata work, distributed past the planner threshold. */
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    if (pushedAgg.isEmpty) pushedAgg = tryMetaAgg(agg)
    pushedAgg.isDefined
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (pushedAgg.isEmpty) pushedAgg = tryMetaAgg(agg)
    pushedAgg.isDefined
  }

  private def tryMetaAgg(agg: Aggregation): Option[(StructType, Seq[ce.GenericInternalRow])] = {
    import org.apache.spark.sql.types._
    if (allFilters.nonEmpty) return None
    def fieldOf(r: NamedReference): Option[StructField] =
      r.fieldNames match {
        case Array(one) => tableSchema.fields.find(_.name == one)
          .filter(f => f.dataType match {
            case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
                 _: FloatType | _: DoubleType => true
            case _ => false // decimals lose precision through Double stats
          })
        case _ => None
      }
    if (agg.groupByExpressions.nonEmpty) return tryMetaGroupAgg(agg, fieldOf)
    // (needCount, minField, maxField) per aggregate, in output order
    val parsed: Seq[Option[(Boolean, Option[StructField], Option[StructField])]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some((true, None, None))
        case m: Min => m.column match {
          case r: NamedReference => fieldOf(r).map(f => (false, Some(f), None))
          case _ => None
        }
        case m: Max => m.column match {
          case r: NamedReference => fieldOf(r).map(f => (false, None, Some(f)))
          case _ => None
        }
        case _ => None
      }
    if (parsed.exists(_.isEmpty)) return None
    val wants = parsed.flatten
    val v = version.orElse(LakeTable.latestVersion(path)).getOrElse(return None)
    val ans = LakeTable.metadataAggregate(
      spark, path, v,
      minCols = wants.flatMap(_._2).map(_.name),
      maxCols = wants.flatMap(_._3).map(_.name),
      needCount = wants.exists(_._1)).getOrElse(return None)
    // a stored Double bound must round-trip exactly into the column
    // type, or the metadata answer could differ from the scan's
    def exact(f: StructField, d: Double): Option[Any] = f.dataType match {
      case DoubleType => Some(d)
      case FloatType => Some(d.toFloat).filter(_.toDouble == d)
      case LongType => Some(d.toLong).filter(_.toDouble == d)
      case IntegerType => Some(d.toInt).filter(_.toDouble == d)
      case ShortType => Some(d.toShort).filter(_.toDouble == d)
      case ByteType => Some(d.toByte).filter(_.toDouble == d)
      case _ => None
    }
    val fieldsValues: Seq[(StructField, Any)] = wants.map {
      case (true, _, _) =>
        (StructField("count(*)", LongType, nullable = false),
          ans.count.getOrElse(return None))
      case (_, Some(f), _) =>
        val value = ans.mins.get(f.name).flatten match {
          case None => null
          case Some(d) => exact(f, d).getOrElse(return None)
        }
        (StructField(s"min(${f.name})", f.dataType), value)
      case (_, _, Some(f)) =>
        val value = ans.maxes.get(f.name).flatten match {
          case None => null
          case Some(d) => exact(f, d).getOrElse(return None)
        }
        (StructField(s"max(${f.name})", f.dataType), value)
      case _ => return None
    }
    Some((StructType(fieldsValues.map(_._1)),
      Seq(new ce.GenericInternalRow(fieldsValues.map(_._2).toArray))))
  }

  /** GROUP-BY metadata aggregate (round 8): GROUP BY over identity-
    * partition source columns with count/min/max, answered from the
    * per-partition manifest rows ([[LakeTable.metadataGroupAggregate]]
    * owns the exactness refusals — non-identity group keys, mixed
    * specs, MoR rows, stats gaps). Output rows are the group keys (in
    * the query's grouping order) followed by the aggregates, the
    * complete-pushdown contract shape. */
  private def tryMetaGroupAgg(
      agg: Aggregation,
      fieldOf: NamedReference => Option[org.apache.spark.sql.types.StructField])
      : Option[(StructType, Seq[ce.GenericInternalRow])] = {
    import org.apache.spark.sql.types._
    // group keys: single-name integral fields only — the dir value is
    // a long, and it must round-trip into the column type exactly
    val groupFields: Seq[StructField] = agg.groupByExpressions.toSeq.map {
      case r: NamedReference => fieldOf(r)
        .filter(f => f.dataType match {
          case _: IntegerType | _: LongType | _: ShortType | _: ByteType => true
          case _ => false
        }).getOrElse(return None)
      case _ => None.getOrElse(return None)
    }
    val parsed: Seq[Option[(Boolean, Option[StructField], Option[StructField])]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some((true, None, None))
        case m: Min => m.column match {
          case r: NamedReference => fieldOf(r).map(f => (false, Some(f), None))
          case _ => None
        }
        case m: Max => m.column match {
          case r: NamedReference => fieldOf(r).map(f => (false, None, Some(f)))
          case _ => None
        }
        case _ => None
      }
    if (parsed.exists(_.isEmpty)) return None
    val wants = parsed.flatten
    val v = version.orElse(LakeTable.latestVersion(path)).getOrElse(return None)
    val groups = LakeTable.metadataGroupAggregate(
      spark, path, v, groupFields.map(_.name),
      minCols = wants.flatMap(_._2).map(_.name),
      maxCols = wants.flatMap(_._3).map(_.name),
      needCount = wants.exists(_._1)).getOrElse(return None)
    def exact(dt: DataType, d: Double): Option[Any] = dt match {
      case DoubleType => Some(d)
      case FloatType => Some(d.toFloat).filter(_.toDouble == d)
      case LongType => Some(d.toLong).filter(_.toDouble == d)
      case IntegerType => Some(d.toInt).filter(_.toDouble == d)
      case ShortType => Some(d.toShort).filter(_.toDouble == d)
      case ByteType => Some(d.toByte).filter(_.toDouble == d)
      case _ => None
    }
    def keyValue(dt: DataType, k: Long): Option[Any] = dt match {
      case LongType => Some(k)
      case IntegerType => Some(k.toInt).filter(_.toLong == k)
      case ShortType => Some(k.toShort).filter(_.toLong == k)
      case ByteType => Some(k.toByte).filter(_.toLong == k)
      case _ => None
    }
    val aggFields: Seq[StructField] = wants.map {
      case (true, _, _) => StructField("count(*)", LongType, nullable = false)
      case (_, Some(f), _) => StructField(s"min(${f.name})", f.dataType)
      case (_, _, Some(f)) => StructField(s"max(${f.name})", f.dataType)
      case _ => return None
    }
    val rows = groups.map { g =>
      val keyVals = groupFields.zip(g.key).map { case (f, k) =>
        keyValue(f.dataType, k).getOrElse(return None)
      }
      val aggVals: Seq[Any] = wants.map {
        case (true, _, _) => g.count.getOrElse(return None)
        case (_, Some(f), _) => g.mins.get(f.name).flatten match {
          case None => null
          case Some(d) => exact(f.dataType, d).getOrElse(return None)
        }
        case (_, _, Some(f)) => g.maxes.get(f.name).flatten match {
          case None => null
          case Some(d) => exact(f.dataType, d).getOrElse(return None)
        }
        case _ => return None
      }
      new ce.GenericInternalRow((keyVals ++ aggVals).toArray)
    }
    Some((StructType(groupFields ++ aggFields), rows))
  }

  /** The conjunctive numeric boxes a filter set implies, per column —
    * the lake prune's native predicate shape. Strict bounds tighten
    * to inclusive ones (file skipping keeps a superset; the residual
    * row filter restores exactness). Non-numeric and non-range
    * filters contribute nothing (no pruning, still correct). */
  private def intervalsOf(fs: Seq[Filter]): Map[String, (Double, Double)] = {
    val bounds = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def tighten(c: String, lo: Double, hi: Double): Unit = {
      // nested field references are not prunable columns
      if (!c.contains('.')) {
        val (l0, h0) = bounds.getOrElse(
          c, (Double.NegativeInfinity, Double.PositiveInfinity))
        bounds(c) = (math.max(l0, lo), math.min(h0, hi))
      }
    }
    def num(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    def walk(f: Filter): Unit = f match {
      case EqualTo(c, v) => num(v).foreach(d => tighten(c, d, d))
      case GreaterThan(c, v) => num(v).foreach(d => tighten(c, d, Double.PositiveInfinity))
      case GreaterThanOrEqual(c, v) => num(v).foreach(d => tighten(c, d, Double.PositiveInfinity))
      case LessThan(c, v) => num(v).foreach(d => tighten(c, Double.NegativeInfinity, d))
      case LessThanOrEqual(c, v) => num(v).foreach(d => tighten(c, Double.NegativeInfinity, d))
      case And(l, r) => walk(l); walk(r)
      case _ => ()
    }
    fs.foreach(walk)
    bounds.toMap
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    allFilters = filters
    accepted = filters.filter(f => intervalsOf(Seq(f)).nonEmpty)
    // everything is residual: pruning is file-granular, so Spark must
    // keep the exact row predicate above the scan
    filters
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Pushed filters that reference ONLY hive-partition columns,
    * translated to catalyst expressions the file index can prune
    * directories with (`PartitioningAwareFileIndex.listFiles` binds
    * attribute references by NAME against the partition schema). */
  private def partitionFilterExprs(partSchema: StructType): Seq[ce.Expression] = {
    if (partSchema.isEmpty) return Nil
    val attrs = partSchema.fields
      .map(f => f.name -> ce.AttributeReference(f.name, f.dataType)()).toMap
    def litFor(a: ce.AttributeReference, v: Any): ce.Expression = {
      val l = ce.Literal(v)
      if (l.dataType == a.dataType) l else ce.Cast(l, a.dataType)
    }
    def conv(f: Filter): Option[ce.Expression] = f match {
      case EqualTo(c, v) => attrs.get(c).map(a => ce.EqualTo(a, litFor(a, v)))
      case GreaterThan(c, v) => attrs.get(c).map(a => ce.GreaterThan(a, litFor(a, v)))
      case GreaterThanOrEqual(c, v) => attrs.get(c).map(a => ce.GreaterThanOrEqual(a, litFor(a, v)))
      case LessThan(c, v) => attrs.get(c).map(a => ce.LessThan(a, litFor(a, v)))
      case LessThanOrEqual(c, v) => attrs.get(c).map(a => ce.LessThanOrEqual(a, litFor(a, v)))
      case In(c, vs) => attrs.get(c).map(a => ce.In(a, vs.toSeq.map(litFor(a, _))))
      case IsNotNull(c) => attrs.get(c).map(ce.IsNotNull)
      case IsNull(c) => attrs.get(c).map(ce.IsNull)
      case And(l, r) => for { le <- conv(l); re <- conv(r) } yield ce.And(le, re)
      case Or(l, r) => for { le <- conv(l); re <- conv(r) } yield ce.Or(le, re)
      case _ => None
    }
    allFilters.toSeq.flatMap(conv)
  }

  override def build(): Scan = {
    pushedAgg.foreach { case (schema, rows) =>
      return new GraftLakeAggScan(path, schema, rows)
    }
    val v = version.orElse(LakeTable.latestVersion(path)).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path"))
    val preds = intervalsOf(accepted.toSeq)
      .map { case (c, (lo, hi)) => (c, lo, hi) }.toSeq
    // storage-partitioned-join layout, reported only under Spark's
    // own SPJ gate (the conf also gates the planner rule that would
    // consume it — reporting it unconditionally costs planning work
    // for nothing)
    val spj =
      if (spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false") == "true")
        GraftLakeSpj.layoutOf(path, v, tableSchema)
      else None
    new GraftLakeScan(path, tableSchema, preds, spj, ps => buildParquet(v, ps),
      // under Spark's partially-clustered SPJ mode the connector
      // hands over split-granular keyed partitions and Spark owns
      // the grouping/replication (S9c); read at build time so the
      // partition report and the plan agree for this scan's lifetime
      partiallyClustered = spark.conf.get(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        "false") == "true",
      streamCtx = Some((spark, version, skipChangeCommits,
        maxVersionsPerTrigger)))
  }

  /** One (ParquetScan, plan) for a predicate-box set — called once at
    * build time and again per RUNTIME filter arrival (the wrapper
    * re-plans with the tightened boxes). */
  private def buildParquet(
      v: Int, preds: Seq[(String, Double, Double)])
      : (ParquetScan, LakeTable.V2Plan) = {
    val plan = LakeTable.planV2(spark, path, v, preds)
    val paths = (plan.dirs ++ plan.files).map(new Path(_))
    val index = new InMemoryFileIndex(
      spark, paths, Map.empty, Some(tableSchema),
      FileStatusCache.getOrCreate(spark))
    // hive-partitioned commit dirs surface their dir-encoded columns
    // through the file index's partition schema (typed by the table
    // schema); those columns live in dir names, not files, so they
    // split out of the data/read schemas and partition filters prune
    // at LISTING time — Spark's native mechanism for this layout
    val partSchema = index.partitionSchema
    val partNames = partSchema.fieldNames.toSet
    val fileSchema = StructType(tableSchema.fields.filterNot(f => partNames.contains(f.name)))
    val readData = StructType(required.fields.filterNot(f => partNames.contains(f.name)))
    val readPart = StructType(partSchema.fields.filter(f => required.fieldNames.contains(f.name)))
    // Spark's own vectorized parquet scan does the reading: the
    // pushed filters ride along for row-group/footer pruning (ones on
    // absent columns are dropped by the parquet filter converter),
    // the pruned column set becomes the read schema (missing columns
    // in older files null-extend via schema clipping)
    (ParquetScan(
      spark, GraftSqlShim.hadoopConf(spark), index,
      dataSchema = fileSchema, readDataSchema = readData,
      readPartitionSchema = readPart,
      pushedFilters = allFilters,
      options = CaseInsensitiveStringMap.empty(),
      partitionFilters = partitionFilterExprs(partSchema)), plan)
  }
}

/** The lake's batch V2 [[Scan]]: a [[ParquetScan]] over the pruned
  * file set, plus the two metadata superpowers the manifests afford —
  *
  *  - EXACT statistics ([[SupportsReportStatistics]]): post-prune
  *    (rows, bytes) summed from manifest entries, so Catalyst's
  *    broadcast/AQE decisions see true cardinality, not a listing
  *    guess (falls back to the parquet scan's estimate when the plan
  *    was whole-dir/distributed);
  *  - RUNTIME file skipping ([[SupportsRuntimeV2Filtering]]): a
  *    dynamic-pruning IN-set from a broadcast join side arrives as V2
  *    predicates, collapses to per-column [min,max] boxes, and the
  *    scan RE-PLANS through the same manifest prune before any
  *    partition is read — the Iceberg runtime-filtering shape, where
  *    a star-join's dim filter skips fact FILES at execution time.
  *    File skipping is a superset guarantee, so tightening boxes at
  *    runtime can only drop files the join would discard anyway.
  *
  * The inner scan is swapped atomically on re-plan; `toBatch` always
  * defers to the CURRENT inner scan, because BatchScanExec may have
  * materialized the batch before runtime filters arrive. */
class GraftLakeScan(
    path: String, tableSchema: StructType,
    staticPreds: Seq[(String, Double, Double)],
    spj: Option[GraftLakeSpj.KeyedLayout],
    mk: Seq[(String, Double, Double)] => (ParquetScan, LakeTable.V2Plan),
    // partially-clustered SPJ (S9c): report split-granular keyed
    // partitions and let Spark group or replicate them
    partiallyClustered: Boolean = false,
    // (session, version pin, skipChangeCommits) for the streaming read
    streamCtx: Option[(SparkSession, Option[Int], Boolean, Int)] = None)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  @volatile private var state: (ParquetScan, LakeTable.V2Plan) = mk(staticPreds)
  private def underlying: ParquetScan = state._1

  /** One keyed input partition per distinct hidden-partition value —
    * computed ONCE (the planner reads outputPartitioning and
    * planInputPartitions at different times; both must describe the
    * same grouping, so runtime re-planning is disabled in keyed
    * mode). None ⇒ not keyable (whole-dir plan, unparseable layout,
    * or no SPJ layout) ⇒ UnknownPartitioning. */
  private lazy val keyedPartitions
      : Option[Array[org.apache.spark.sql.connector.read.InputPartition]] =
    spj.filter(_ => state._2.dirs.isEmpty)
      .flatMap(l =>
        if (partiallyClustered) GraftLakeSpj.perFileKeyed(l, state._2.files)
        else GraftLakeSpj.groupByKey(l, state._2.files))

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (spj, keyedPartitions) match {
      case (Some(l), Some(groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          l.transforms.map(t => t: org.apache.spark.sql.connector.expressions.Expression),
          groups.length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  override def readSchema(): StructType = underlying.readSchema()

  override def description(): String = {
    val stats = state._2.stats.map { case (b, r) => s" rows=$r bytes=$b" }.getOrElse("")
    s"${underlying.description()} (graftlake$stats)"
  }

  /** `spark.readStream.format("graftlake").load(path)` — the
    * append-following TABLE stream ([[GraftLakeTableStream]]): version
    * offsets, one commit per micro-batch, non-append commits refused
    * (or skipped under `skipChangeCommits`). */
  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val (spark, pin, skip, maxV) = streamCtx.getOrElse(
      throw new UnsupportedOperationException(
        s"graftlake scan at $path was not built for streaming"))
    require(pin.isEmpty,
      s"graftlake stream at $path: a version-pinned streaming read is " +
        "contradictory — the stream's offsets ARE versions")
    new GraftLakeTableStream(spark, path, tableSchema, skip, maxV)
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
      keyedPartitions.getOrElse(underlying.toBatch.planInputPartitions())
    override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory = {
      val inner = underlying.toBatch.createReaderFactory()
      if (keyedPartitions.isDefined) new KeyedReaderFactory(inner) else inner
    }
  }

  override def estimateStatistics(): Statistics = {
    // per-column NDV from the survivors' ANALYZE sketches (S9i):
    // reported as V2 column statistics so Catalyst's CBO sees real
    // distinct counts for join-cardinality estimation — restricted
    // to the READ schema (pruned-away columns would dangle)
    val colStats: java.util.Map[
        NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val readCols = underlying.readSchema().fieldNames.toSet
      state._2.ndv.foreach { case (n, d) =>
        if (readCols.contains(n))
          m.put(GraftSqlShim.fieldReference(n),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(d)
            })
      }
      m
    }
    state._2.stats match {
      case Some((bytes, rows)) => new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
        override def columnStats(): java.util.Map[
            NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
      }
      case None => underlying match {
        case s: SupportsReportStatistics => s.estimateStatistics()
        case _ => new Statistics {
          override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
          override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
        }
      }
    }
  }

  /** Dynamic pruning may target any column the manifest prune can
    * skip on — the numeric subset of the READ schema (declaring
    * pruned-away columns would crash Spark's PartitionPruning, which
    * resolves these refs against the scan's pruned output). */
  override def filterAttributes(): Array[NamedReference] =
    underlying.readSchema().fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(f => GraftSqlShim.fieldReference(f.name))

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // keyed (SPJ) mode: the reported KeyGroupedPartitioning and the
    // planned partitions must stay one grouping — a runtime re-plan
    // could drop whole key groups after the partitioning was fixed
    if (keyedPartitions.isDefined) return
    val extra = GraftLakeScan.boxesOf(predicates)
    if (extra.nonEmpty) {
      // intersect with the build-time boxes and re-plan
      val merged = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
      (staticPreds.map { case (c, lo, hi) => c -> (lo, hi) } ++ extra).foreach {
        case (c, (lo, hi)) =>
          val (l0, h0) = merged.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
          merged(c) = (math.max(l0, lo), math.min(h0, hi))
      }
      state = mk(merged.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) })
    }
  }
}

object GraftLakeScan {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expression}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  /** Conjunctive per-column [lo,hi] boxes implied by runtime V2
    * predicates — IN sets (the dynamic-pruning shape) collapse to
    * their value range; unrecognized predicates contribute nothing
    * (no pruning, still correct: the row filter re-applies above). */
  private[sources] def boxesOf(predicates: Array[Predicate]): Seq[(String, (Double, Double))] = {
    def num(e: V2Expression): Option[Double] =
      GraftSqlShim.literalValueOf(e).collect {
        case n: java.lang.Number => n.doubleValue()
      }
    def colOf(e: V2Expression): Option[String] = e match {
      case r: NamedReference => r.fieldNames match {
        case Array(one) => Some(one)
        case _ => None
      }
      case _ => None
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, (Double, Double))]
    def walk(p: Predicate): Unit = (p.name(), p.children()) match {
      case ("IN", cs) if cs.length >= 2 =>
        for {
          c <- colOf(cs.head)
          vs <- Some(cs.tail.toSeq.map(num)) if vs.forall(_.isDefined)
        } out += c -> (vs.flatten.min, vs.flatten.max)
      case ("=", Array(l, r)) =>
        (colOf(l), num(r)) match {
          case (Some(c), Some(d)) => out += c -> (d, d)
          case _ => (colOf(r), num(l)) match {
            case (Some(c), Some(d)) => out += c -> (d, d)
            case _ => ()
          }
        }
      case (">=", Array(l, r)) =>
        for { c <- colOf(l); d <- num(r) } out += c -> (d, Double.PositiveInfinity)
      case (">", Array(l, r)) =>
        for { c <- colOf(l); d <- num(r) } out += c -> (d, Double.PositiveInfinity)
      case ("<=", Array(l, r)) =>
        for { c <- colOf(l); d <- num(r) } out += c -> (Double.NegativeInfinity, d)
      case ("<", Array(l, r)) =>
        for { c <- colOf(l); d <- num(r) } out += c -> (Double.NegativeInfinity, d)
      case ("AND", cs) => cs.foreach {
        case cp: Predicate => walk(cp)
        case _ => ()
      }
      case _ => ()
    }
    predicates.foreach(walk)
    out.toSeq
  }
}

/** The one-row result of a COMPLETELY pushed-down global aggregate —
  * Spark plans this as a driver-local table scan; no data file, no
  * job. */
class GraftLakeAggScan(path: String, schema: StructType, resultRows: Seq[ce.GenericInternalRow])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    resultRows.toArray[org.apache.spark.sql.catalyst.InternalRow]
  override def description(): String =
    s"GraftLakeAggScan(metadata-only aggregate over $path)"
}
