package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the private[sql] Column↔Expression converters —
  * the standard shim pattern for libraries that define native Catalyst
  * expressions outside Spark's own packages. */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Execute a parsed LOGICAL PLAN as a DataFrame (analysis runs
    * fresh over the plan) — the SQL DML rule materializes IN/EXISTS
    * subquery key frames through this. */
  def dataFrame(
      spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Structural view of a Column's UNRESOLVED node tree — for
    * callers that INSPECT a predicate's shape (interval extraction)
    * rather than execute it. In Spark 4 the Column→catalyst
    * conversion is a lazy opaque wrapper and the ColumnNode ADT is
    * private[sql], so the flattening lives here: SQL function
    * applications keep their name and arguments, attributes keep
    * their dotted name, numeric literals their double value, and
    * everything else collapses to [[POther]] (callers must treat it
    * as unknowable). */
  sealed trait PredNode
  final case class PFn(name: String, args: Seq[PredNode]) extends PredNode
  final case class PAttr(name: String) extends PredNode
  final case class PNum(value: Double) extends PredNode
  case object POther extends PredNode

  def predTree(c: Column): PredNode = {
    import org.apache.spark.sql.catalyst.{expressions => cexpr}
    // catalyst-wrapped Columns (the SQL DML rule builds predicates
    // via ExpressionUtils.column) flatten from the EXPRESSION tree;
    // Column-DSL ones from the node tree — same PredNode view either
    // way, so interval extraction works on both surfaces
    def goExpr(e: cexpr.Expression): PredNode = e match {
      case cexpr.And(l, r) => PFn("and", Seq(goExpr(l), goExpr(r)))
      case cexpr.EqualTo(a, b) => PFn("=", Seq(goExpr(a), goExpr(b)))
      case cexpr.EqualNullSafe(a, b) => PFn("<=>", Seq(goExpr(a), goExpr(b)))
      case cexpr.GreaterThan(a, b) => PFn(">", Seq(goExpr(a), goExpr(b)))
      case cexpr.GreaterThanOrEqual(a, b) => PFn(">=", Seq(goExpr(a), goExpr(b)))
      case cexpr.LessThan(a, b) => PFn("<", Seq(goExpr(a), goExpr(b)))
      case cexpr.LessThanOrEqual(a, b) => PFn("<=", Seq(goExpr(a), goExpr(b)))
      case cexpr.In(a, vs) => PFn("in", goExpr(a) +: vs.map(goExpr))
      case a: catalyst.analysis.UnresolvedAttribute => PAttr(a.name)
      case a: cexpr.AttributeReference => PAttr(a.name)
      case cexpr.Literal(v: java.lang.Number, _) => PNum(v.doubleValue)
      case _ => POther
    }
    def go(n: internal.ColumnNode): PredNode = n match {
      case f: internal.UnresolvedFunction =>
        PFn(f.functionName.toLowerCase(java.util.Locale.ROOT), f.arguments.map(go))
      case a: internal.UnresolvedAttribute => PAttr(a.nameParts.mkString("."))
      case l: internal.Literal => l.value match {
        case v: java.lang.Number => PNum(v.doubleValue)
        case _ => POther
      }
      case classic.ExpressionColumnNode(e, _) => goExpr(e)
      case _ => POther
    }
    go(c.node)
  }

  /** Conservative determinism check on an UNRESOLVED Column — the
    * guard DML classification needs (Spark/Delta refuse
    * nondeterministic DELETE/UPDATE conditions because a multi-pass
    * planner re-evaluating `rand() < 0.5` per pass silently loses
    * rows). Walks the node tree for the nondeterministic function
    * family; unknown leaf nodes default to deterministic (attributes,
    * literals, extensions), wrapped catalyst trees ask the
    * expressions themselves. */
  def isDeterministic(c: Column): Boolean = {
    val nondet = Set("rand", "randn", "random", "uuid", "shuffle",
      "monotonically_increasing_id", "input_file_name", "spark_partition_id")
    import org.apache.spark.sql.catalyst.{expressions => cexpr}
    // An unresolved function resolves through the SESSION's actual
    // function resolution (builtins + temp/persistent UDFs), so a
    // registered SQL UDF's own `asNondeterministic` flag is consulted
    // — the hardcoded name set alone would wave such a UDF through to
    // the multi-pass DML planner (round-10 advice #3). A function
    // that fails to resolve/build refuses conservatively: a wrong
    // `true` here means silent row loss.
    def fnDet(f: catalyst.analysis.UnresolvedFunction): Boolean =
      !nondet(f.nameParts.last.toLowerCase(java.util.Locale.ROOT)) &&
        scala.util.Try {
          val ss = SparkSession.active.asInstanceOf[classic.SparkSession]
          val fid = f.nameParts match {
            case Seq(n) => catalyst.FunctionIdentifier(n)
            case parts => catalyst.FunctionIdentifier(parts.last, Some(parts(parts.size - 2)))
          }
          ss.sessionState.catalog.lookupFunction(fid, f.arguments).deterministic
        }.getOrElse(false)
    def exprDet(e: cexpr.Expression): Boolean = e.find {
      case f: catalyst.analysis.UnresolvedFunction => !fnDet(f)
      case x => !x.deterministic
    }.isEmpty
    def go(n: internal.ColumnNodeLike): Boolean = n match {
      case f: internal.UnresolvedFunction =>
        !nondet(f.functionName.toLowerCase(java.util.Locale.ROOT)) &&
          // registry consultation for the DSL surface
          // (`call_udf("f", ...)` of a registered nondeterministic
          // UDF): build through the session's function resolution and
          // read the built node's own flag. A structural build failure
          // REFUSES, matching the SQL-string arm (fnDet/SqlExpression)
          // — a function this guard cannot even resolve must not
          // default to "safe"; a wrong `true` here means silent row
          // loss in the multi-pass DML planner (round-11 "wrong" #3).
          scala.util.Try {
            val ss = SparkSession.active.asInstanceOf[classic.SparkSession]
            ss.sessionState.catalog.lookupFunction(
              catalyst.FunctionIdentifier(f.functionName),
              f.arguments.map(a => expression(Column(a)))).deterministic
          }.getOrElse(false) &&
          f.arguments.forall(go)
      case a: internal.Alias => go(a.child)
      case k: internal.Cast => go(k.child)
      case w: internal.CaseWhenOtherwise =>
        w.branches.forall { case (p, v) => go(p) && go(v) } &&
          w.otherwise.forall(go)
      case l: internal.LambdaFunction => go(l.function)
      case x: internal.UnresolvedExtractValue => go(x.child) && go(x.extraction)
      case u: internal.UpdateFields => go(u.structExpression)
      case s: internal.SortOrder => go(s.child)
      case s: internal.SqlExpression =>
        // parse failure → refusal: an expression string this guard
        // cannot even parse must not default to "safe" (advice #3)
        scala.util.Try(exprDet(SparkSession.active.asInstanceOf[classic.SparkSession]
          .sessionState.sqlParser.parseExpression(s.expression))).getOrElse(false)
      case u: internal.InvokeInlineUserDefinedFunction =>
        // a UDF's own determinism flag decides; an unknown UDF-like
        // refuses conservatively (a wrong 'true' here means silent
        // row loss in the multi-pass DML planner)
        (u.function match {
          case f: org.apache.spark.sql.expressions.UserDefinedFunction =>
            f.deterministic
          case _ => false
        }) && u.arguments.forall(go)
      case classic.ExpressionColumnNode(e, _) => exprDet(e)
      case _ => true
    }
    go(c.node)
  }

  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Unload every cached state-store provider (`StateStore.unloadAll`
    * is private[sql]) — the between-query streaming hygiene hook;
    * see [[graft.Util.drainStreamState]] for the contract. */
  def unloadStateStores(): Unit =
    execution.streaming.state.StateStore.unloadAll()

  /** Session-configured Hadoop conf (SQL confs applied) — what file
    * scans must read footers with; `sessionState` is private[sql]. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** [[connector.expressions.FieldReference]] is private[sql] in
    * Scala source — mint NamedReferences for V2 interfaces here. */
  def fieldReference(name: String): connector.expressions.NamedReference =
    connector.expressions.FieldReference.column(name)

  /** The value inside a V2 LiteralValue, None for anything else
    * (LiteralValue is private[sql] in Scala source). */
  def literalValueOf(e: connector.expressions.Expression): Option[Any] = e match {
    case l: connector.expressions.LiteralValue[_] => Some(l.value)
    case _ => None
  }

  /** The session's CURRENT (catalog name, namespace) — the
    * name-resolution context a view definition must freeze at CREATE
    * time (catalogManager is private[sql]). */
  def currentContext(spark: SparkSession): (String, Seq[String]) = {
    val cm = spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager
    (cm.currentCatalog.name, cm.currentNamespace.toSeq)
  }

  /** A registered V2 catalog plugin by name (catalogManager is
    * private[sql]); None when unregistered or failing to load. */
  def catalogPlugin(
      spark: SparkSession, name: String): Option[connector.catalog.CatalogPlugin] =
    try Some(spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalogManager.catalog(name))
    catch { case scala.util.control.NonFatal(_) => None }

  /** (provider, location path) of a session-catalog table, None when
    * the identifier is not a catalog table (or has neither recorded).
    * Used by the graftlake SQL surface to resolve `VERSION AS OF`
    * over catalog-registered lake tables at parse time. */
  def tableProviderAndLocation(
      spark: SparkSession, nameParts: Seq[String]): Option[(String, String)] = {
    val catalog = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    val ident = nameParts match {
      case Seq(t) => Some(catalyst.TableIdentifier(t))
      case Seq(db, t) => Some(catalyst.TableIdentifier(t, Some(db)))
      case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
        Some(catalyst.TableIdentifier(t, Some(db)))
      case _ => None
    }
    try ident.filter(catalog.tableExists).flatMap { ti =>
      val m = catalog.getTableMetadata(ti)
      for { p <- m.provider; l <- m.storage.locationUri } yield (p, l.getPath)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Whether a session-catalog table is EXTERNAL (its DROP removes the
    * registration only, never the data files) — the gate the in-place
    * `migrate` procedure needs before dropping the source. */
  def tableIsExternal(spark: SparkSession, nameParts: Seq[String]): Option[Boolean] = {
    val catalog = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    val ident = nameParts match {
      case Seq(t) => Some(catalyst.TableIdentifier(t))
      case Seq(db, t) => Some(catalyst.TableIdentifier(t, Some(db)))
      case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
        Some(catalyst.TableIdentifier(t, Some(db)))
      case _ => None
    }
    try ident.filter(catalog.tableExists).map(ti =>
      catalog.getTableMetadata(ti).tableType ==
        catalyst.catalog.CatalogTableType.EXTERNAL)
    catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** An executor-side handle on one open parquet writer — wraps the
  * private[sql] [[execution.datasources.OutputWriter]] so code
  * outside Spark's packages can drive it. */
class GraftParquetWriter private[sql] (w: execution.datasources.OutputWriter) {
  def write(row: catalyst.InternalRow): Unit = w.write(row)
  def close(): Unit = w.close()
}

/** Driver-built, executor-shipped parquet WRITE recipe: Spark's own
  * [[execution.datasources.parquet.ParquetFileFormat]] `prepareWrite`
  * output-writer factory plus the job Hadoop conf it configured
  * (schema converters, compression, timestamp encoding), bundled
  * behind a serializable facade. This is exactly the writer the
  * engine's FileFormatWriter drives — a streaming sink task using it
  * produces files byte-identical in format to a batch write, with no
  * reimplemented parquet layer.
  *
  * The job conf rides a BROADCAST, not the task closure: a streaming
  * sink builds one bundle per micro-batch, and a conf inside the
  * closure (a few hundred entries) would be serialized into every
  * batch's task binary and deserialized again by every sink task. A
  * broadcast is written once and read once per executor JVM (in
  * local mode the driver's own copy, never deserialized). The owner
  * calls [[release]] once the epoch the bundle wrote has committed
  * or aborted. */
class GraftParquetWriteBundle(
    @transient spark: SparkSession, schema: types.StructType)
    extends Serializable {

  private[spark] val (factory, conf) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(GraftSqlShim.hadoopConf(spark))
    val f = new execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark.asInstanceOf[classic.SparkSession], job, Map.empty, schema)
    (f, spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration)))
  }

  /** Open `file` for writing on this task (any JVM). */
  def newWriter(file: String, partitionId: Int, taskId: Long): GraftParquetWriter = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graftlake-stream", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf.value.value, attempt)
    new GraftParquetWriter(factory.newInstance(file, schema, ctx))
  }

  /** Driver side, after the last task using this bundle finished:
    * destroy the broadcast conf on the driver and every executor. */
  def release(): Unit = conf.destroy()
}
