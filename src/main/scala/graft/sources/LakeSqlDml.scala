package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, EqualNullSafe, EqualTo, Exists, Expression, InSubquery, Literal, Not => CNot, OuterReference, PredicateHelper, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, CountIf, HyperLogLogPlusPlus, RegrCount}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Assignment, Command, DeleteAction, DeleteFromTable, Filter, InsertAction, InsertIntoStatement, InsertStarAction, LeafNode, LogicalPlan, MergeAction, MergeIntoTable, OverwritePartitionsDynamic, Project, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

/** SQL DML over lake tables — the "Spark SQL … for Iceberg table
  * operations" surface:
  *
  * {{{
  *   UPDATE lake_tbl SET v = v + 1 WHERE k < 10
  *   MERGE INTO lake_tbl t USING updates s ON t.k = s.k
  *     WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
  *     WHEN MATCHED AND s.dead THEN DELETE
  *     WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM lake_tbl WHERE k = 7      -- via SupportsDelete, not here
  *   SELECT * FROM lake_tbl VERSION AS OF 2
  * }}}
  *
  * Spark's own parser produces `UpdateTable` / `MergeIntoTable` /
  * `RelationTimeTravel` nodes; this resolution rule (injected by
  * [[graft.GraftExtensions]]) recognizes the ones whose target is a
  * graftlake V2 relation and lowers them onto the library ops —
  * [[LakeTable.update]], [[LakeTable.mergeConditional]],
  * versioned [[LakeTable.read]] — as an eagerly-executed command.
  * Without the rule, Spark rejects these statements outright (the
  * table does not implement SupportsRowLevelOperations); with it, the
  * exact MERGE algebra the library already hash-verifies against the
  * oracle becomes reachable from SQL. DELETE needs no lowering: the
  * table implements `SupportsDelete` and Spark routes the translated
  * filters straight to it. */
class LakeSqlDmlRule(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  private def refuse(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graftlake SQL DML: $msg")

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  /** True when every subquery inside `e` is a SCALAR subquery —
    * those lower by VALUE (one tiny job each, at effect time), not
    * through the key-frame merge. */
  private def onlyScalarSubqueries(e: Expression): Boolean =
    e.collect { case sq: SubqueryExpression => sq }
      .forall(_.isInstanceOf[ScalarSubquery])

  /** Replace every scalar subquery with its VALUE as a typed literal
    * — evaluated at effect time. SQL semantics pinned: zero rows =
    * NULL, more than one row refuses loudly. Correlated scalar
    * subqueries fail their own standalone analysis with Spark's
    * unresolved-reference error — honest, since by-value lowering
    * cannot express per-row correlation. */
  private def materializeScalars(e: Expression): Expression =
    e.transform {
      case sq: ScalarSubquery =>
        val df = GraftSqlShim.dataFrame(spark, sq.plan)
        require(df.columns.length == 1,
          s"graftlake SQL DML: a scalar subquery must produce exactly " +
            s"one column, got ${df.columns.mkString(", ")}")
        val rows = df.limit(2).collect()
        require(rows.length <= 1,
          "graftlake SQL DML: a scalar subquery returned more than one row")
        Literal.create(if (rows.isEmpty) null else rows(0).get(0),
          df.schema.head.dataType)
    }

  /** The lake table under a (possibly aliased) resolved V2 relation. */
  private def lakeTarget(plan: LogicalPlan): Option[GraftLakeTable] = plan match {
    case SubqueryAlias(_, child) => lakeTarget(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftLakeTable => Some(t)
      case _ => None
    }
    case _ => None
  }

  private def aliasOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(id, _) => Some(id.name)
    case u: UnresolvedRelation => u.multipartIdentifier.lastOption
    case _ => None
  }

  /** Column name of an assignment key (qualifiers dropped — the key
    * is a target column by SQL's own rules). */
  private def keyName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute => u.nameParts.last
    case other => refuse(s"unsupported assignment target $other")
  }

  /** An expression as a Column over the plain target frame: every
    * column reference collapses to its unqualified name (resolved
    * attributes belong to the DML plan's relation instance and would
    * not bind against a fresh read). */
  private def bare(e: Expression): Column = GraftSqlShim.column(e.transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    case u: UnresolvedAttribute => UnresolvedAttribute(Seq(u.nameParts.last))
  })

  /** An expression re-anchored onto the library merge's `t`/`s`
    * aliases: resolved references map by attribute identity, still-
    * unresolved qualified ones by the statement's own aliases, and
    * unqualified ones stay bare (the joined frame resolves them, or
    * raises the standard ambiguity error). */
  private def anchored(
      e: Expression, tOut: AttributeSet, sOut: AttributeSet,
      tAlias: Option[String], sAlias: Option[String]): Column = {
    def requal(parts: Seq[String]): Seq[String] = parts match {
      case Seq(q, c) if tAlias.contains(q) => Seq("t", c)
      case Seq(q, c) if sAlias.contains(q) => Seq("s", c)
      case other => other
    }
    GraftSqlShim.column(e.transform {
      case a: AttributeReference if tOut.contains(a) => UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if sOut.contains(a) => UnresolvedAttribute(Seq("s", a.name))
      case u: UnresolvedAttribute => UnresolvedAttribute(requal(u.nameParts))
    })
  }

  /** One classified subquery predicate of a DML condition: the
    * target-side key column, the subquery rewritten as a standalone
    * key-frame plan, negation/IN-vs-EXISTS flags, and the residual
    * plain conjuncts anchored on the merge alias `t`. Shared by the
    * DELETE and UPDATE lowerings. */
  private final case class SubqPred(
      negated: Boolean, isIn: Boolean, keyCol: String,
      keyPlan: LogicalPlan, residual: Option[Column], label: String)

  /** Expression re-anchored onto the library merge's target alias. */
  private def tAnchor(e: Expression, tAlias: Option[String]): Column =
    GraftSqlShim.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq("t", a.name))
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, c) if tAlias.contains(q) => UnresolvedAttribute(Seq("t", c))
        case parts => UnresolvedAttribute(Seq("t", parts.last))
      }
    })

  /** Does `e` hold a scalar subquery that REFERENCES the target
    * relation (i.e. is correlated)? Correlation is recognized in
    * resolved form (`OuterReference` / attributes of the target's
    * output) and in the parser's qualified form (`t.col` under the
    * statement's target alias). An UNQUALIFIED name that happens to
    * exist on both sides resolves to the subquery's own relation by
    * SQL scoping — correctly treated as uncorrelated here. */
  private def hasCorrelatedScalar(
      e: Expression, tOut: AttributeSet, tAlias: Option[String]): Boolean =
    e.exists {
      // correlation = resolved OuterReference/outerAttrs OR an
      // alias-QUALIFIED target name; NOT raw attribute-id containment
      // — a subquery re-scanning the target's own resolved view (before
      // DeduplicateRelations) shares analyzed attribute ids with it,
      // and containment would misclassify that uncorrelated by-value
      // scalar as correlated, turning a working lowering into a shape
      // refusal (round-13 advice; the MERGE path documents the same
      // trap at [[planRefsQualified]])
      case sq: ScalarSubquery =>
        sq.outerAttrs.nonEmpty || planRefsQualified(sq.plan, tAlias)
      case _ => false
    }

  /** Does the subquery's own FROM clause (re)define `alias`? SQL
    * scoping says the INNER definition shadows the outer one, so a
    * qualified name under a shadowed alias is NOT a correlation —
    * `SET v = (SELECT max(x) FROM ref t WHERE t.c = 5)` with target
    * alias `t` is an uncorrelated scalar filtered inside `ref`. */
  private def definesAlias(plan: LogicalPlan, alias: String): Boolean =
    plan.exists {
      case SubqueryAlias(id, _) => id.name.equalsIgnoreCase(alias)
      case u: UnresolvedRelation =>
        u.multipartIdentifier.lastOption.exists(_.equalsIgnoreCase(alias))
      case _ => false
    }

  /** Does the subquery plan reference the OUTER statement's relation?
    * Correlation is recognized as a resolved OuterReference or an
    * alias-QUALIFIED name under the statement's (unshadowed) alias —
    * deliberately NOT raw attribute-id containment: a subquery
    * scanning the same temp view as the statement's target/source
    * shares that view's analyzed attribute ids (DeduplicateRelations
    * has not run yet), so containment false-positives an uncorrelated
    * by-value scalar into a shape refusal (round-13 advice). Resolved
    * correlation always arrives as OuterReference/outerAttrs;
    * unresolved correlation as an alias-qualified name. */
  private def planRefsQualified(plan: LogicalPlan, alias0: Option[String]): Boolean = {
    val alias = alias0.filterNot(definesAlias(plan, _)) // shadowed = inner
    def refs(e: Expression): Boolean = e.exists {
      case _: OuterReference => true
      case u: UnresolvedAttribute =>
        u.nameParts.length == 2 && alias.contains(u.nameParts.head)
      case _ => false
    }
    plan.expressions.exists(refs) ||
      plan.children.exists(planRefsQualified(_, alias))
  }

  /** `SET x = (SELECT agg(v) FROM src WHERE src.c = t.k [AND rest])`
    * → (target key column `k`, the subquery REGROUPED as a standalone
    * key→value plan `SELECT c AS __graft_sq_key, agg(v) AS
    * __graft_sq_val FROM src [WHERE rest] GROUP BY c`). Only the
    * canonical single-value, single-equi-correlation, top-level-WHERE
    * shape decomposes; anything deeper refuses by name. */
  private def decomposeCorrelatedScalar(
      plan0: LogicalPlan, path: String,
      tOut: AttributeSet, tAlias0: Option[String],
      what: String = "UPDATE"): (String, LogicalPlan, Boolean) = {
    // a subquery whose own FROM redefines the target alias shadows
    // it (SQL scoping) — only unshadowed qualified names correlate
    val tAlias = tAlias0.filterNot(definesAlias(plan0, _))
    def isTargetRef(e: Expression): Option[String] = e match {
      case OuterReference(a) => Some(a.name)
      case a: AttributeReference if tOut.contains(a) => Some(a.name)
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, c) if tAlias.contains(q) => Some(c)
        case _ => None
      }
      case _ => None
    }
    def refuseShape(why: String): Nothing = refuse(
      s"$what graftlake.`$path`: a correlated scalar subquery " +
        s"must be the canonical SELECT <agg(expr)> FROM ... WHERE " +
        s"<target.col = expr> [AND ...] shape — $why")
    val (projs, cond, child) = plan0 match {
      case Project(ps, Filter(c, ch)) => (ps, c, ch)
      case Aggregate(g, ps, Filter(c, ch), _) if g.isEmpty => (ps, c, ch)
      case other => refuseShape(s"got ${other.nodeName}")
    }
    if (projs.size != 1)
      refuseShape(s"it must select exactly one value, got ${projs.size}")
    val cs = splitConjunctivePredicates(cond)
    val (corr, rest) = cs.partition {
      case EqualTo(l, r) => isTargetRef(l).isDefined ^ isTargetRef(r).isDefined
      case _ => false
    }
    if (corr.size != 1) refuseShape(
      s"exactly one equi-correlation predicate is needed, got ${corr.size}")
    if (rest.exists(_.exists(x => isTargetRef(x).isDefined))) refuseShape(
      "conjuncts other than the equi-correlation must not reference the target")
    val EqualTo(l, r) = corr.head: @unchecked
    val (tc, inner) = isTargetRef(l) match {
      case Some(n) => (n, r)
      case None => (isTargetRef(r).get, l)
    }
    val innerStripped = inner.transform { case OuterReference(a) => a }
    val valueExpr = (projs.head match {
      case UnresolvedAlias(e, _) => e
      case Alias(e, _) => e
      case e => e
    }).transform { case OuterReference(a) => a }
    if (valueExpr.exists(x => isTargetRef(x).isDefined)) refuseShape(
      "the selected value must not reference the target")
    // SQL's empty-scalar-subquery value is the aggregate over an
    // EMPTY group: NULL for max/min/avg/sum — but 0 for the count
    // family. The regrouped frame only holds keys PRESENT in the
    // source, so the lowering's key-missing arm must carry that 0 or
    // `SET n = (SELECT count(*) ...)` silently writes NULL and
    // `WHERE (SELECT count(*) ...) = 0` never matches (round-13
    // advice, medium). Only a bare count is lowered; a count buried
    // in arithmetic refuses by name — its empty-group value is the
    // arithmetic at count=0, which the merge arms cannot carry.
    def isCountFn(e: Expression): Boolean = e match {
      case f: UnresolvedFunction =>
        Set("count", "count_if", "approx_count_distinct", "regr_count")(
          f.nameParts.last.toLowerCase(java.util.Locale.ROOT))
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Count | _: CountIf | _: HyperLogLogPlusPlus | _: RegrCount => true
        case _ => false
      }
      case _ => false
    }
    val countsEmptyAsZero = isCountFn(valueExpr)
    if (!countsEmptyAsZero && valueExpr.exists(isCountFn)) refuseShape(
      "a count-family aggregate must be the WHOLE selected value " +
        "(its empty-group value is 0, not NULL — move arithmetic " +
        "around the count outside the subquery)")
    val base = rest.reduceOption(And).map(Filter(_, child)).getOrElse(child)
    (tc, Aggregate(Seq(innerStripped),
      Seq(Alias(innerStripped, "__graft_sq_key")(),
        Alias(valueExpr, "__graft_sq_val")()), base),
      countsEmptyAsZero)
  }

  /** UPDATE ... SET x = (SELECT agg(...) FROM s WHERE s.c = t.k) —
    * the per-key relabel shape ("set every doc's score to its
    * group's best"). By-value lowering cannot express per-row
    * correlation, so the subquery REGROUPS by its correlation key
    * into a key→value frame and the statement lowers onto the
    * library merge: matched rows take `s.__graft_sq_val`, rows whose
    * key the frame misses take NULL (SQL's empty-scalar-subquery
    * semantics) via the not-matched-by-source clause — both gated by
    * the statement's own WHERE. NULL target keys never equality-match
    * a correlation, so NULL frame keys are stripped and NULL-keyed
    * rows fall to the NULL arm, exactly SQL. One correlated scalar
    * per statement; other SET values ride t-anchored (uncorrelated
    * scalars by value); a keyed WHERE subquery alongside refuses by
    * name. The rewrite touches every WHERE-matching row BY DESIGN
    * (each must take a value or NULL), so this is a whole-table merge
    * — the file-granular planner cannot help a statement whose
    * semantics touch all rows. */
  private def lowerCorrelatedScalarUpdate(
      path: String, assignments: Seq[Assignment], condition: Option[Expression],
      tOut: AttributeSet, tAlias: Option[String]): LogicalPlan = {
    import org.apache.spark.sql.functions.{col, lit}
    val (corrAsg, plainAsg) = assignments.partition(a =>
      hasCorrelatedScalar(a.value, tOut, tAlias))
    if (corrAsg.size != 1) refuse(
      s"UPDATE graftlake.`$path`: exactly ONE correlated scalar SET " +
        s"value is supported per statement (got ${corrAsg.size})")
    val Assignment(ck, cv) = corrAsg.head: @unchecked
    // type coercion may wrap the subquery in a Cast to the SET
    // column's type (count's bigint under a double column) — strip
    // it; the merge arm re-casts on write
    def stripCasts(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => stripCasts(c.child)
      case other => other
    }
    val sq = stripCasts(cv) match {
      case s: ScalarSubquery => s
      case _ => refuse(
        s"UPDATE graftlake.`$path`: a correlated scalar SET value must " +
          "be the subquery itself — wrap arithmetic INSIDE the subquery")
    }
    condition.foreach(c => if (hasSubquery(c)) refuse(
      s"UPDATE graftlake.`$path`: WHERE may not carry subqueries when " +
        "a SET value is a correlated scalar (one subquery per statement)"))
    val (tc, aggPlan, countAgg) =
      decomposeCorrelatedScalar(sq.plan, path, tOut, tAlias)
    val cond = condition.map(tAnchor(_, tAlias))
    lazy val setOthers = plainAsg.map { case Assignment(k, v) =>
      keyName(k) -> tAnchor(materializeScalars(v), tAlias)
    }.toMap
    val ckName = keyName(ck)
    LakeDmlCommand(
      s"UPDATE graftlake.`$path` SET $ckName = (correlated scalar subquery)",
      () => {
        val src = corrKeyFrame(aggPlan, tc, path, "UPDATE")
        mergeByMode(path, "update")(src, tc,
          matched = Seq(LakeTable.MatchedUpdate(cond,
            setOthers + (ckName -> col("s.__graft_sq_val")))),
          notMatchedBySource = Seq(LakeTable.MatchedUpdate(cond,
            // the key-missing arm: SQL's empty-scalar-subquery value —
            // NULL for every aggregate except the count family's 0
            setOthers + (ckName -> (if (countAgg) lit(0L) else lit(null))))))
      })
  }

  /** DELETE ... WHERE <cmp involving (SELECT agg(...) FROM r WHERE
    * r.c = t.k)> — the per-key threshold shape ("delete every doc
    * below its source's review average"). The correlated scalar
    * REGROUPS exactly like the UPDATE form; the WHOLE delete
    * condition (residual conjuncts included) becomes the merge's
    * matched-delete clause with the subquery replaced by
    * `s.__graft_sq_val`. Rows whose key the frame misses never match
    * the merge — their scalar is SQL-NULL, the comparison UNKNOWN,
    * the row kept — so the file-granular merge planner applies: only
    * files holding keyed rows are touched. */
  /** The shared half of the correlated-condition lowerings: exactly
    * ONE subquery (the correlated scalar) per statement, decompose it,
    * and substitute `s.__graft_sq_val` into the whole condition. */
  /** Returns (correlation key, regrouped plan, condition with the
    * scalar replaced by `s.__graft_sq_val`, and — for a count-family
    * aggregate only — the condition at the EMPTY-group value 0, for
    * the key-missing arm: a missing key means count=0, not NULL, so
    * `WHERE (SELECT count(*) ...) = 0` must match those rows). */
  private def corrCondParts(
      path: String, what: String, condition: Expression,
      tOut: AttributeSet, tAlias: Option[String])
      : (String, LogicalPlan, Expression, Option[Expression]) = {
    val allSqs = condition.collect { case sq: SubqueryExpression => sq }
    val corrSqs = condition.collect {
      case sq: ScalarSubquery
        if sq.outerAttrs.nonEmpty || planRefsQualified(sq.plan, tAlias) => sq
    }
    if (allSqs.size != 1 || corrSqs.size != 1) refuse(
      s"$what graftlake.`$path`: exactly ONE subquery is supported " +
        s"per statement (got ${allSqs.size}, of which ${corrSqs.size} " +
        "correlated scalars)")
    val sq = corrSqs.head
    val (tc, aggPlan, countAgg) =
      decomposeCorrelatedScalar(sq.plan, path, tOut, tAlias, what)
    val cond2 = condition.transform {
      case s: ScalarSubquery if s eq sq =>
        UnresolvedAttribute(Seq("s", "__graft_sq_val"))
    }
    val emptyCond = if (countAgg) Some(condition.transform {
      case s: ScalarSubquery if s eq sq => Literal(0L)
    }) else None
    (tc, aggPlan, cond2, emptyCond)
  }

  private def lowerCorrelatedScalarDelete(
      path: String, condition: Expression,
      tOut: AttributeSet, tAlias: Option[String]): LogicalPlan = {
    val (tc, aggPlan, cond2, emptyCond) =
      corrCondParts(path, "DELETE FROM", condition, tOut, tAlias)
    LakeDmlCommand(
      s"DELETE FROM graftlake.`$path` WHERE <correlated scalar subquery>",
      () => {
        val src = corrKeyFrame(aggPlan, tc, path, "DELETE FROM")
        mergeByMode(path, "delete")(src, tc,
          matched = Seq(LakeTable.MatchedDelete(
            Some(anchorTKeepSVal(cond2, tAlias)))),
          // count-family: a key the frame misses has count=0 (not a
          // NULL-kept row) — the condition at 0 decides those rows
          notMatchedBySource = emptyCond.toSeq.map(c =>
            LakeTable.MatchedDelete(Some(tAnchor(c, tAlias)))))
      })
  }

  /** UPDATE ... SET <plain values> WHERE <cmp involving a correlated
    * scalar> — [[lowerCorrelatedScalarDelete]] with an update clause:
    * the whole condition (subquery substituted by `s.__graft_sq_val`)
    * gates the matched-update; key-missing rows never match, their
    * NULL threshold keeps them untouched, and the file-granular merge
    * planner applies. */
  private def lowerCorrelatedCondUpdate(
      path: String, assignments: Seq[Assignment], condition: Expression,
      tOut: AttributeSet, tAlias: Option[String]): LogicalPlan = {
    assignments.foreach(a => if (hasSubquery(a.value)) refuse(
      s"UPDATE graftlake.`$path`: SET values may not carry subqueries " +
        "when the WHERE holds a correlated scalar (one subquery per " +
        "statement)"))
    val (tc, aggPlan, cond2, emptyCond) =
      corrCondParts(path, "UPDATE", condition, tOut, tAlias)
    val setT = assignments.map { case Assignment(k, v) =>
      keyName(k) -> tAnchor(v, tAlias)
    }.toMap
    LakeDmlCommand(
      s"UPDATE graftlake.`$path` WHERE <correlated scalar subquery>",
      () => {
        val src = corrKeyFrame(aggPlan, tc, path, "UPDATE")
        mergeByMode(path, "update")(src, tc,
          matched = Seq(LakeTable.MatchedUpdate(
            Some(anchorTKeepSVal(cond2, tAlias)), setT)),
          // count-family empty-group arm: key-missing rows see 0
          notMatchedBySource = emptyCond.toSeq.map(c =>
            LakeTable.MatchedUpdate(Some(tAnchor(c, tAlias)), setT)))
      })
  }

  /** t-anchor everything EXCEPT the substituted `s.__graft_sq_val`
    * source-value reference. */
  private def anchorTKeepSVal(e: Expression, tAlias: Option[String]): Column =
    GraftSqlShim.column(e.transform {
      case u: UnresolvedAttribute
        if u.nameParts == Seq("s", "__graft_sq_val") => u
      case a: AttributeReference => UnresolvedAttribute(Seq("t", a.name))
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, c) if tAlias.contains(q) => UnresolvedAttribute(Seq("t", c))
        case parts => UnresolvedAttribute(Seq("t", parts.last))
      }
    })

  /** Can every conjunct of a DELETE condition reach [[GraftLakeTable]]
    * through Spark's V2 filter translation? Expressible conditions
    * stay on the idiomatic SupportsDelete route; anything else
    * (modulo arithmetic, functions, OR-of-columns …) lowers onto the
    * library DML here instead of dying with Spark's cannot-delete
    * error. Unresolved conditions answer true — the analyzer resolves
    * them before the V2 strategy decides, and this rule re-fires. */
  private def v2Expressible(cond: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Contains, EndsWith, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, StartsWith}
    def isAttr(e: Expression): Boolean = e match {
      case _: AttributeReference | _: UnresolvedAttribute => true
      case _ => false
    }
    def attrLit(l: Expression, r: Expression): Boolean =
      (isAttr(l) && r.isInstanceOf[Literal]) ||
        (isAttr(r) && l.isInstanceOf[Literal])
    // the structural mirror of GraftLakeTable.filterColumn — a shape
    // outside it cannot round-trip Spark's V2 translation into the
    // connector, so it lowers here. Misclassifying either way is
    // safe: "expressible" falls back to Spark's own cannot-delete
    // error exactly as before; "inexpressible" runs the identical
    // predicate through the library planner.
    def ok(e: Expression): Boolean = e match {
      case EqualTo(l, r) => attrLit(l, r)
      case EqualNullSafe(l, r) => attrLit(l, r)
      case GreaterThan(l, r) => attrLit(l, r)
      case GreaterThanOrEqual(l, r) => attrLit(l, r)
      case LessThan(l, r) => attrLit(l, r)
      case LessThanOrEqual(l, r) => attrLit(l, r)
      case In(a, vs) => isAttr(a) && vs.forall(_.isInstanceOf[Literal])
      case _: InSet => true
      case IsNull(a) => isAttr(a)
      case IsNotNull(a) => isAttr(a)
      case StartsWith(l, r) => attrLit(l, r)
      case EndsWith(l, r) => attrLit(l, r)
      case Contains(l, r) => attrLit(l, r)
      case And(l, r) => ok(l) && ok(r)
      case org.apache.spark.sql.catalyst.expressions.Or(l, r) => ok(l) && ok(r)
      case CNot(c) => ok(c)
      case Literal(_, org.apache.spark.sql.types.BooleanType) => true
      case _ => false
    }
    !cond.resolved || ok(cond)
  }

  /** Route a single-key merge-shaped DML effect on `write.<kind>.mode`
    * (Iceberg's key, default copy-on-write): merge-on-read ships a
    * delete file + replacements, copy-on-write rewrites touched
    * files. The clause algebra is shared, so results are identical —
    * only the commit SHAPE (and read-side cost model) differs. */
  private def mergeByMode(path: String, kind: String)(
      source: org.apache.spark.sql.DataFrame, keyCol: String,
      matched: Seq[LakeTable.MergeClause],
      notMatchedBySource: Seq[LakeTable.MergeClause] = Nil): Int =
    // kind threads twice: the WRITE mode picks the commit shape, and
    // the ISOLATION kind keeps write.<kind>.isolation-level governing
    // a statement its merge-shaped lowering would otherwise re-home
    // under write.merge.*
    if (LakeTable.dmlModeOf(path, kind) == "merge-on-read")
      LakeTable.mergeConditionalMoR(source, path, keyCol, matched,
        notMatchedBySource = notMatchedBySource, isolationKind = kind)
    else
      LakeTable.mergeConditional(source, path, keyCol, matched,
        notMatchedBySource = notMatchedBySource, isolationKind = kind)

  /** Route a plain-predicate UPDATE effect on `write.update.mode`. */
  private def updateByMode(
      path: String, set: Map[String, Column], cond: Column): Int =
    if (LakeTable.dmlModeOf(path, "update") == "merge-on-read")
      LakeTable.updateMoR(spark, path, set, cond)
    else LakeTable.update(spark, path, set, cond)

  /** The regrouped key→value frame of a correlated scalar, analyzed
    * at effect time; NULL keys are stripped (an equality correlation
    * cannot match them — those rows take the NULL arm). */
  private def corrKeyFrame(
      aggPlan: LogicalPlan, tc: String, path: String, what: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val f =
      try GraftSqlShim.dataFrame(spark, aggPlan)
      catch { case e: org.apache.spark.sql.AnalysisException => refuse(
        s"$what graftlake.`$path`: the correlated scalar must be " +
          "an AGGREGATE over the subquery's rows (a plain column cannot " +
          s"regroup by the correlation key): ${e.getMessage}")
      }
    f.select(col("__graft_sq_key").as(tc), col("__graft_sq_val"))
      .filter(col(tc).isNotNull)
  }

  private def classifySubquery(
      path: String, what: String, condition: Expression,
      tOut: AttributeSet, tAlias: Option[String]): SubqPred = {
    val conjs = splitConjunctivePredicates(condition)
    val (subs, plains) = conjs.partition(hasSubquery)
    if (subs.size != 1) refuse(
      s"$what graftlake.`$path`: exactly ONE IN/NOT IN/EXISTS/" +
        s"NOT EXISTS subquery predicate is supported per statement " +
        s"(got ${subs.size})")
    val residual: Option[Column] =
      if (plains.isEmpty) None
      else Some(plains.map(tAnchor(_, tAlias)).reduce(_ && _))

    def targetColName(e: Expression): String = e match {
      case a: AttributeReference => a.name
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, c) if tAlias.contains(q) => c
        case parts => parts.last
      }
      case other => refuse(
        s"$what graftlake.`$path`: the subquery predicate's target " +
          s"side must be one target column, got $other")
    }

    def isTargetRef(e: Expression): Option[String] = e match {
      case OuterReference(a) => Some(a.name)
      case a: AttributeReference if tOut.contains(a) => Some(a.name)
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, c) if tAlias.contains(q) => Some(c)
        case _ => None
      }
      case _ => None
    }

    /** EXISTS (SELECT ... FROM s WHERE s.x = t.k [AND rest]) → the
      * key column name on the target plus the subquery re-written as
      * a standalone key-frame plan (correlation conjunct stripped,
      * inner side projected). Only the canonical top-level-filter
      * shape decomposes — anything deeper refuses by name. */
    def decomposeExists(plan0: LogicalPlan): (String, LogicalPlan) = {
      val (cond, child) = plan0 match {
        case Filter(c, ch) => (c, ch)
        case Project(_, Filter(c, ch)) => (c, ch)
        case other => refuse(
          s"$what graftlake.`$path`: EXISTS subquery must be the " +
            s"canonical SELECT ... FROM ... WHERE <target.col = expr> " +
            s"[AND ...] shape, got ${other.nodeName}")
      }
      val cs = splitConjunctivePredicates(cond)
      val (corr, rest) = cs.partition {
        case EqualTo(l, r) => isTargetRef(l).isDefined ^ isTargetRef(r).isDefined
        case _ => false
      }
      if (corr.size != 1) refuse(
        s"$what graftlake.`$path`: EXISTS needs exactly one " +
          s"equi-correlation predicate (target.col = subquery expr), " +
          s"got ${corr.size}")
      val remainingCorr = rest.exists(_.exists(x => isTargetRef(x).isDefined))
      if (remainingCorr) refuse(
        s"$what graftlake.`$path`: EXISTS supports one " +
          "equi-correlation only; other conjuncts must not reference " +
          "the target")
      val EqualTo(l, r) = corr.head: @unchecked
      val (tc, inner) = isTargetRef(l) match {
        case Some(n) => (n, r)
        case None => (isTargetRef(r).get, l)
      }
      val innerStripped = inner.transform {
        case OuterReference(a) => a // unreachable side, defensive
      }
      val base = rest.reduceOption(And).map(Filter(_, child)).getOrElse(child)
      (tc, Project(Seq(Alias(innerStripped, "__graft_sq_key")()), base))
    }

    val (negated, keyCol, keyPlan) = subs.head match {
      case InSubquery(values, q) =>
        if (values.size != 1) refuse(
          s"$what graftlake.`$path`: IN subquery supports one key column")
        (false, targetColName(values.head), q.plan)
      case CNot(InSubquery(values, q)) =>
        if (values.size != 1) refuse(
          s"$what graftlake.`$path`: NOT IN subquery supports one key column")
        (true, targetColName(values.head), q.plan)
      case e: Exists =>
        val (tc, kp) = decomposeExists(e.plan)
        (false, tc, kp)
      case CNot(e: Exists) =>
        val (tc, kp) = decomposeExists(e.plan)
        (true, tc, kp)
      case other => refuse(
        s"$what graftlake.`$path`: unsupported subquery predicate " +
          s"${other.sql}; supported: IN (SELECT ...), NOT IN, EXISTS, NOT EXISTS")
    }
    val isIn = subs.head match {
      case _: InSubquery | CNot(_: InSubquery) => true
      case _ => false
    }
    val label = (if (negated) "NOT " else "") + (if (isIn) "IN" else "EXISTS")
    SubqPred(negated, isIn, keyCol, keyPlan, residual, label)
  }

  /** The materialized, distinct, null-stripped key frame of a
    * classified subquery predicate — the merge source. Runs INSIDE
    * the command effect, never at analysis. */
  private def keyFrameOf(sp: SubqPred, path: String, what: String)
      : org.apache.spark.sql.DataFrame = {
    val raw = GraftSqlShim.dataFrame(spark, sp.keyPlan)
    require(raw.columns.length == 1,
      s"$what graftlake.`$path`: the subquery must produce " +
        s"exactly one column, got ${raw.columns.mkString(", ")}")
    raw.toDF(sp.keyCol)
  }

  /** DELETE ... WHERE <subquery predicate> — the decontamination /
    * GDPR-erasure shape ("delete every doc_id found in this benchmark
    * table"). Plain-predicate DELETEs route through SupportsDelete and
    * never reach here; a condition carrying IN (SELECT ...) /
    * NOT IN / EXISTS / NOT EXISTS cannot be expressed as V2 filters,
    * so it lowers onto the library ops: the subquery MATERIALIZES to
    * a key frame (computed inside the command's effect, not at
    * analysis), and the delete routes through the file-granular
    * merge planner — touched files found by the semi-join touch test,
    * O(touched files) write cost for IN/EXISTS. NOT IN / NOT EXISTS
    * are honest whole-table rewrites (every row must be checked
    * against the full key set) with SQL null semantics pinned: a NULL
    * anywhere in a NOT IN list makes the predicate never-true (no row
    * deletes), a NULL target key is never deleted by NOT IN but IS
    * deleted by NOT EXISTS (equality correlation cannot match it).
    * Residual plain conjuncts (WHERE k IN (...) AND lang = 'en')
    * apply on the delete clause. */
  private def lowerSubqueryDelete(
      path: String, condition: Expression,
      tOut: AttributeSet, tAlias: Option[String]): LogicalPlan = {
    val sp = classifySubquery(path, "DELETE FROM", condition, tOut, tAlias)
    import org.apache.spark.sql.functions.{col, lit}
    LakeDmlCommand(
      s"DELETE FROM graftlake.`$path` WHERE ${sp.keyCol} ${sp.label} (subquery)",
      () => {
        val keys = keyFrameOf(sp, path, "DELETE FROM")
        if (!sp.negated) {
          // IN / EXISTS: equality semantics — NULL keys on either side
          // never match, so they are stripped before the merge's
          // null-safe join (which WOULD pair null with null)
          mergeByMode(path, "delete")(
            keys.filter(col(sp.keyCol).isNotNull).distinct(), sp.keyCol,
            matched = Seq(LakeTable.MatchedDelete(sp.residual)))
        } else if (sp.isIn &&
            keys.filter(col(sp.keyCol).isNull).limit(1).count() > 0L) {
          // NOT IN with a NULL in the list is never true for any row
          // (SQL three-valued logic): zero rows delete; the explicit
          // never-true DELETE still commits the audit-trail version a
          // predicate DELETE would
          (if (LakeTable.dmlModeOf(path, "delete") == "merge-on-read")
            LakeTable.deleteMoRPositional(spark, path, lit(false))
          else LakeTable.delete(spark, path, lit(false)))
        } else {
          // NOT IN / NOT EXISTS: delete rows matching NO key. A NULL
          // target key is UNKNOWN under NOT IN (kept) but TRUE under
          // NOT EXISTS (an equality correlation cannot match it).
          val keep = if (sp.isIn)
            Some(sp.residual.foldLeft(col(s"t.${sp.keyCol}").isNotNull)(_ && _))
          else sp.residual
          mergeByMode(path, "delete")(
            keys.filter(col(sp.keyCol).isNotNull).distinct(), sp.keyCol,
            matched = Nil,
            notMatchedBySource = Seq(LakeTable.MatchedDelete(keep)))
        }
      })
  }

  /** UPDATE ... SET ... WHERE <subquery predicate> — same lowering as
    * [[lowerSubqueryDelete]] with update clauses: SET values anchor on
    * the target alias `t` (they reference the row being rewritten),
    * IN/EXISTS ride the file-granular matched-update, NOT IN /
    * NOT EXISTS the not-matched-by-source rewrite, null semantics
    * identical to the DELETE form. */
  private def lowerSubqueryUpdate(
      path: String, assignments: Seq[Assignment], condition: Expression,
      tOut: AttributeSet, tAlias: Option[String]): LogicalPlan = {
    val sp = classifySubquery(path, "UPDATE", condition, tOut, tAlias)
    // SET values may themselves carry SCALAR subqueries (UPDATE ...
    // SET v = (SELECT max(v) FROM x) WHERE k IN (SELECT ...)) —
    // materialized by value at effect time, inside the lazy map
    lazy val setT = assignments.map {
      case Assignment(k, v) => keyName(k) -> tAnchor(materializeScalars(v), tAlias)
    }.toMap
    import org.apache.spark.sql.functions.{col, lit}
    LakeDmlCommand(
      s"UPDATE graftlake.`$path` WHERE ${sp.keyCol} ${sp.label} (subquery)",
      () => {
        val keys = keyFrameOf(sp, path, "UPDATE")
        if (!sp.negated) {
          mergeByMode(path, "update")(
            keys.filter(col(sp.keyCol).isNotNull).distinct(), sp.keyCol,
            matched = Seq(LakeTable.MatchedUpdate(sp.residual, setT)))
        } else if (sp.isIn &&
            keys.filter(col(sp.keyCol).isNull).limit(1).count() > 0L) {
          // NOT IN with a NULL in the list: never true — zero rows
          // update; the never-true UPDATE (identity assignments —
          // the t-anchored SET values cannot resolve outside the
          // merge frame) still validates column names and commits
          // the audit-trail version
          updateByMode(path,
            // keys straight from the assignments: forcing setT here
            // would execute SET-value scalar subqueries whose results
            // the never-true predicate discards
            assignments.map(a => keyName(a.key) -> col(keyName(a.key)))
              .toMap, lit(false))
        } else {
          val keep = if (sp.isIn)
            Some(sp.residual.foldLeft(col(s"t.${sp.keyCol}").isNotNull)(_ && _))
          else sp.residual
          mergeByMode(path, "update")(
            keys.filter(col(sp.keyCol).isNotNull).distinct(), sp.keyCol,
            matched = Nil,
            notMatchedBySource = Seq(LakeTable.MatchedUpdate(keep, setT)))
        }
      })
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {

    case d @ DeleteFromTable(target, condition)
        if lakeTarget(target).isDefined &&
          (hasSubquery(condition) || !v2Expressible(condition)) =>
      val tbl = lakeTarget(target).get
      if (tbl.pinnedVersion.nonEmpty)
        refuse(s"cannot DELETE from a version-pinned read of ${tbl.tablePath}")
      val path = tbl.tablePath
      if (hasCorrelatedScalar(condition, target.outputSet, aliasOf(target)))
        // DELETE ... WHERE v < (SELECT agg(...) WHERE r.c = t.k):
        // per-row correlation cannot lower by value — regroup onto
        // the merge (the UPDATE SET lowering's delete twin)
        lowerCorrelatedScalarDelete(path, condition,
          target.outputSet, aliasOf(target))
      else if (onlyScalarSubqueries(condition))
        // DELETE ... WHERE v > (SELECT avg(v) FROM x): lower BY VALUE
        // through the ordinary file-granular delete — the threshold
        // evaluates once, the planner's manifest pruning then applies
        // to the resulting plain predicate
        LakeDmlCommand(s"DELETE FROM graftlake.`$path` WHERE " +
          (if (hasSubquery(condition)) "<scalar subquery>"
           else "<non-pushable predicate>"),
          () => {
            val cond = bare(materializeScalars(condition))
            if (LakeTable.dmlModeOf(path, "delete") == "merge-on-read")
              LakeTable.deleteMoRPositional(spark, path, cond)
            else LakeTable.delete(spark, path, cond)
          })
      else
        lowerSubqueryDelete(path, condition, target.outputSet, aliasOf(target))

    case u @ UpdateTable(target, assignments, condition) =>
      lakeTarget(target) match {
        case None => u
        case Some(tbl) =>
          if (tbl.pinnedVersion.nonEmpty)
            refuse(s"cannot UPDATE a version-pinned read of ${tbl.tablePath}")
          val path = tbl.tablePath
          val setHasSubq = assignments.exists(a => hasSubquery(a.value))
          val condKeyed = condition.exists(c =>
            hasSubquery(c) && !onlyScalarSubqueries(c))
          val setCorrelated = assignments.exists(a =>
            hasCorrelatedScalar(a.value, target.outputSet, aliasOf(target)))
          val condCorrelated = condition.exists(c =>
            hasCorrelatedScalar(c, target.outputSet, aliasOf(target)))
          if (setCorrelated && (condKeyed || condCorrelated)) refuse(
            s"UPDATE graftlake.`$path`: a correlated scalar SET value " +
              "cannot combine with a WHERE subquery " +
              "(one subquery per statement)")
          if (setCorrelated)
            lowerCorrelatedScalarUpdate(path, assignments, condition,
              target.outputSet, aliasOf(target))
          else if (condCorrelated)
            // a keyed subquery alongside refuses INSIDE the lowering
            // (exactly-one-subquery check), naming both counts
            lowerCorrelatedCondUpdate(path, assignments, condition.get,
              target.outputSet, aliasOf(target))
          else if (condKeyed)
            lowerSubqueryUpdate(path, assignments, condition.get,
              target.outputSet, aliasOf(target))
          else if (setHasSubq || condition.exists(hasSubquery)) {
            // scalar subqueries only — in SET values and/or the
            // condition: lower BY VALUE through the ordinary update
            assignments.foreach(a => if (!onlyScalarSubqueries(a.value)) refuse(
              s"UPDATE graftlake.`$path`: a SET value supports scalar " +
                "subqueries only (IN/EXISTS belong in the WHERE clause)"))
            LakeDmlCommand(s"UPDATE graftlake.`$path` (scalar subquery)",
              () => {
                val set = assignments.map {
                  case Assignment(k, v) => keyName(k) -> bare(materializeScalars(v))
                }.toMap
                val cond = condition.map(c => bare(materializeScalars(c)))
                  .getOrElse(lit(true))
                updateByMode(path, set, cond)
              })
          } else {
            val set = assignments.map {
              case Assignment(k, v) => keyName(k) -> bare(v)
            }.toMap
            val cond = condition.map(bare).getOrElse(lit(true))
            LakeDmlCommand(s"UPDATE graftlake.`$path`",
              () => updateByMode(path, set, cond))
          }
      }

    case m @ MergeIntoTable(target, source, mergeCond,
        matchedActions, notMatchedActions, notMatchedBySourceActions, withEvo) =>
      lakeTarget(target) match {
        case None => m
        case Some(tbl) =>
          if (tbl.pinnedVersion.nonEmpty)
            refuse(s"cannot MERGE into a version-pinned read of ${tbl.tablePath}")
          val path = tbl.tablePath
          val tOut = target.outputSet
          val sOut = source.outputSet
          val tAlias = aliasOf(target)
          val sAlias = aliasOf(source)

          // which side does a bare column reference belong to?
          def side(e: Expression): Option[(Boolean, String)] = e match {
            case a: AttributeReference if tOut.contains(a) => Some((true, a.name))
            case a: AttributeReference if sOut.contains(a) => Some((false, a.name))
            case u: UnresolvedAttribute => u.nameParts match {
              case Seq(q, c) if tAlias.contains(q) => Some((true, c))
              case Seq(q, c) if sAlias.contains(q) => Some((false, c))
              case _ => None
            }
            case _ => None
          }
          // the library merge is a (null-safe) equi-merge over one or
          // more SAME-NAMED key columns: accept ON t.k = s.k [AND
          // t.k2 = s.k2 ...] — the composite business-key shape
          val keyCols = splitConjunctivePredicates(mergeCond).map { c =>
            (c match {
              case EqualTo(l, r) => Some((l, r))
              case EqualNullSafe(l, r) => Some((l, r))
              case _ => None
            }).flatMap { case (l, r) =>
              for {
                (ls, ln) <- side(l); (rs, rn) <- side(r)
                if ls != rs && ln.equalsIgnoreCase(rn)
              } yield ln
            }.getOrElse(refuse(
              s"MERGE INTO graftlake.`$path` requires ON to be a " +
                "conjunction of target.k = source.k same-named key " +
                s"equalities; got $c"))
          }.distinct

          // clause conditions/values evaluate inside the merge's
          // joined frame — an UNCORRELATED SCALAR subquery lowers by
          // value there (one tiny job at effect time, the same
          // contract as scalar subqueries in UPDATE/DELETE); anything
          // correlated (either alias) or keyed has no lowering: name
          // the fix instead of failing with an unresolved plan
          def scalarsByValue(e0: Expression): Expression =
            if (!hasSubquery(e0)) e0
            else {
              val corr = e0.collect { case sq: ScalarSubquery => sq }
                .exists(sq => sq.outerAttrs.nonEmpty ||
                  planRefsQualified(sq.plan, tAlias) ||
                  planRefsQualified(sq.plan, sAlias))
              if (!onlyScalarSubqueries(e0) || corr) refuse(
                s"MERGE INTO graftlake.`$path`: only uncorrelated SCALAR " +
                  "subqueries lower inside MERGE clauses (by value) — " +
                  "precompute correlated or keyed values into the USING " +
                  "source (or a temp view) and reference them as s.<col>")
              // correlation written WITHOUT alias qualification is
              // undetectable above — it surfaces here as a standalone
              // analysis failure; keep the named refusal contract
              try materializeScalars(e0)
              catch { case ae: org.apache.spark.sql.AnalysisException => refuse(
                s"MERGE INTO graftlake.`$path`: a clause subquery failed " +
                  "standalone analysis (likely an unqualified correlated " +
                  "reference) — precompute correlated or keyed values " +
                  s"into the USING source; cause: ${ae.getMessage}")
              }
            }
          def anchor(e0: Expression): Column =
            anchored(scalarsByValue(e0), tOut, sOut, tAlias, sAlias)
          def clauseOf(a: MergeAction): LakeTable.MergeClause = a match {
            // under WITH SCHEMA EVOLUTION an analyzer-expanded SET *
            // (fromStar) is re-expanded at effect time like a raw
            // UpdateStarAction: the analyzer aligned it to the
            // PRE-evolution target schema, dropping exactly the
            // source-only columns the clause exists to write
            case UpdateAction(cond, _, true) if withEvo =>
              LakeTable.MatchedUpdate(cond.map(anchor), Map.empty)
            case UpdateAction(cond, assigns, _) =>
              LakeTable.MatchedUpdate(cond.map(anchor),
                assigns.map { case Assignment(k, v) => keyName(k) -> anchor(v) }.toMap)
            case DeleteAction(cond) => LakeTable.MatchedDelete(cond.map(anchor))
            case UpdateStarAction(cond) =>
              // SET * = every source column overwrites its namesake;
              // expanded at effect time when the source frame is known
              LakeTable.MatchedUpdate(cond.map(anchor), Map.empty)
            case other => refuse(s"unsupported WHEN MATCHED action $other")
          }
          // a NOT MATCHED condition is evaluated over the bare source
          // frame (no t/s aliases exist there): source references
          // unqualify, target references are meaningless — refuse
          def sourceOnly(e: Expression): Column = GraftSqlShim.column(e.transform {
            case a: AttributeReference if sOut.contains(a) =>
              UnresolvedAttribute(Seq(a.name))
            case a: AttributeReference if tOut.contains(a) => refuse(
              s"MERGE INTO graftlake.`$path`: a WHEN NOT MATCHED condition may " +
                "reference only source columns")
            case u: UnresolvedAttribute => u.nameParts match {
              case Seq(q, c) if sAlias.contains(q) => UnresolvedAttribute(Seq(c))
              case Seq(q, _) if tAlias.contains(q) => refuse(
                s"MERGE INTO graftlake.`$path`: a WHEN NOT MATCHED condition may " +
                  "reference only source columns")
              case parts => UnresolvedAttribute(Seq(parts.last))
            }
          })
          // INSERT only ships the source row itself (the library
          // contract): INSERT * always qualifies; an explicit column
          // list must be the identity mapping c = s.c. The analyzer
          // may have expanded INSERT * into aligned assignments with
          // store-assignment casts before this rule ran (catalog
          // tables resolve natively) — strip those wrappers before
          // judging identity.
          def stripped(e: Expression): Expression = e match {
            case c: org.apache.spark.sql.catalyst.expressions.Cast => stripped(c.child)
            case a: org.apache.spark.sql.catalyst.expressions.Alias => stripped(a.child)
            case other => other
          }
          def insertCond(a: MergeAction): Column = a match {
            case InsertStarAction(cond) =>
              cond.map(c => sourceOnly(scalarsByValue(c))).getOrElse(lit(true))
            case InsertAction(cond, assigns) =>
              val identity = assigns.forall {
                case Assignment(k, v0) => val v = stripped(v0); side(v) match {
                  case Some((false, vn)) => vn.equalsIgnoreCase(keyName(k))
                  case None => v match {
                    case u: UnresolvedAttribute =>
                      u.nameParts.last.equalsIgnoreCase(keyName(k))
                    case _ => false
                  }
                  case _ => false
                }
              }
              if (!identity) refuse(
                s"MERGE INTO graftlake.`$path`: WHEN NOT MATCHED INSERT must be " +
                  "INSERT * or the identity column mapping (the inserted row is " +
                  "the source row)")
              cond.map(c => sourceOnly(scalarsByValue(c))).getOrElse(lit(true))
            case other => refuse(s"unsupported WHEN NOT MATCHED action $other")
          }
          if (notMatchedActions.size > 1)
            refuse(s"MERGE INTO graftlake.`$path`: at most one WHEN NOT MATCHED clause")
          // lazy: scalar-by-value materialization (and its refusals)
          // runs INSIDE the command effect, never at analysis — the
          // first reference to each val is in the closure below
          lazy val matched = matchedActions.map(clauseOf)
          val starCols = matchedActions.collect {
            case _: UpdateStarAction => ()
            case UpdateAction(_, _, true) if withEvo => () // deferred SET *
          }.nonEmpty
          lazy val nmbs = notMatchedBySourceActions.map(clauseOf)
          lazy val insert = notMatchedActions.headOption.map(insertCond)
          // the source plan re-analyzes as its own frame at effect
          // time (capturing the analyzed child of THIS plan would pin
          // attribute ids that die with it)
          LakeDmlCommand(s"MERGE INTO graftlake.`$path`", () => {
            val srcDf = GraftSqlShim.ofRows(spark, source)
            val expanded = matched.map {
              case LakeTable.MatchedUpdate(c, s) if starCols && s.isEmpty =>
                LakeTable.MatchedUpdate(c,
                  srcDf.columns.toSeq.map(c0 =>
                    c0 -> org.apache.spark.sql.functions.col(s"s.$c0")).toMap)
              case other => other
            }
            // SCHEMA EVOLUTION (S9e): source-only columns are
            // admitted only under MERGE WITH SCHEMA EVOLUTION — they
            // then evolve the target (SET * writes them on matched
            // rows, inserts carry them, untouched rows read null);
            // without the clause a wider source refuses loudly when
            // the merge would WRITE those columns. Only clauses that
            // ship whole source rows write them: SET * (starCols) and
            // any INSERT (the library insert contract ships the source
            // row). An explicit-assignment UPDATE-only merge never
            // touches source-only columns, so a wider source is fine
            // there — and must NOT evolve the schema as a side effect.
            // An EMPTY target (no data file carries a schema yet) is
            // exempt: the merge is all-inserts and the insert frame
            // defines the schema, evolution or not. Target columns
            // come from the registered field-id schema — O(1)
            // metadata, no table assembly — falling back to a read
            // only for legacy pre-field-id tables. A concurrent
            // schema change between this look and the merge's own
            // observedBase pin is backstopped by commitRefs'
            // field-id conflict check; a benign mis-classification
            // of evolveColumns is re-filtered inside mergeRows.
            val targetCols = LakeTable.latestVersion(path)
              .flatMap(v => LakeTable.schemaOf(path, v).map(_.map(_._2)))
              .getOrElse(LakeTable.read(spark, path).columns.toSeq)
            val srcOnly = srcDf.columns.toSeq
              .filterNot(c => targetCols.exists(_.equalsIgnoreCase(c)))
            val writesSource = starCols || insert.nonEmpty
            if (targetCols.nonEmpty && srcOnly.nonEmpty && writesSource && !withEvo)
              refuse(
                s"MERGE INTO graftlake.`$path`: source carries column(s) " +
                  s"${srcOnly.mkString(", ")} the target lacks — use MERGE WITH " +
                  "SCHEMA EVOLUTION to add them, or project them away")
            if (LakeTable.dmlModeOf(path, "merge") == "merge-on-read")
              // composite ON keys ship a MULTI-COLUMN equality-delete
              // file (Iceberg v2's shape) — the tuple-match rule lives
              // in applyMorDeletes, shared with the read path
              LakeTable.mergeConditionalMoRKeys(srcDf, path, keyCols,
                expanded, insert, nmbs,
                evolveColumns = if (withEvo && writesSource) srcOnly else Nil)
            else
              LakeTable.mergeConditionalKeys(srcDf, path, keyCols, expanded, insert, nmbs,
                evolveColumns = if (withEvo && writesSource) srcOnly else Nil)
          })
      }

    // INSERT OVERWRITE under partitionOverwriteMode=dynamic (and
    // DataFrameWriterV2.overwritePartitions): Spark plans
    // OverwritePartitionsDynamic, which has NO V1 fallback exec — a
    // V1Write table hits toBatch and dies. Lower it here onto
    // [[LakeTable.overwriteDynamic]] instead, the same one-commit-path
    // rule as every other write surface. Fires only once the analyzer
    // has aligned the query to the table schema (outputResolved), so
    // the effect can bind columns positionally.
    case o: OverwritePartitionsDynamic if o.query.resolved && o.outputResolved =>
      lakeTarget(o.table) match {
        case None => o
        case Some(tbl) =>
          if (tbl.pinnedVersion.nonEmpty)
            refuse(s"cannot INSERT OVERWRITE a version-pinned read of ${tbl.tablePath}")
          val path = tbl.tablePath
          val cols = tbl.schema().fieldNames.toSeq
          val query = o.query
          LakeDmlCommand(s"INSERT OVERWRITE (dynamic) graftlake.`$path`",
            () => LakeTable.overwriteDynamic(
              GraftSqlShim.ofRows(spark, query).toDF(cols: _*), path))
      }

  }
}

/** Parser wrapper (injected by [[graft.GraftExtensions]]): resolves
  * the two relation shapes the built-in analyzer REJECTS before any
  * injected resolution rule can run —
  *
  *  - `SELECT … FROM graftlake.`/path`` (direct path query;
  *    ResolveSQLOnFile only serves V1 FileFormat sources)
  *  - `… FROM <lake table or path> VERSION AS OF n` (the session
  *    catalog refuses time travel for TableProvider tables)
  *
  * Both rewrite to the connector's versioned read right after
  * parsing; every other statement passes through untouched (catalog
  * reads, DML, DDL all keep the standard path). */
class GraftSqlParser(
    spark: SparkSession,
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {

  /** The NARROW resolution the time-travel rewrites use — graftlake
    * namespace or a session-catalog graftlake table, deliberately
    * WITHOUT the GraftCatalog arm (a catalog ident's time travel is
    * the catalog plugin's own job). */
  private def lakePathOf(parts: Seq[String]): Option[String] = parts match {
    case Seq(ns, p) if ns.equalsIgnoreCase("graftlake") => Some(p)
    case _ => GraftSqlShim.tableProviderAndLocation(spark, parts).collect {
      case (prov, loc) if prov.equalsIgnoreCase("graftlake") => loc
    }
  }

  /** Resolve a maintenance-statement target: `graftlake.\`/path\``, a
    * session-catalog graftlake table, or a [[GraftCatalog]] table
    * (`cat.ns.t` — looked up through the registered plugin). Shared
    * with the `table_changes` TVF via [[LakeSqlTargets]]. */
  private def maintenancePathOf(parts: Seq[String]): Option[String] =
    LakeSqlTargets.lakePathOf(spark, parts)

  // Delta-shaped MAINTENANCE statements the stock parser rejects:
  //   OPTIMIZE <t>                      -- binpack small files (128 MiB target)
  //   OPTIMIZE <t> ZORDER BY (c1, c2)   -- z-order rewrite, file count preserved
  //   VACUUM <t>                        -- remove orphans (grace-gated)
  //   VACUUM <t> RETAIN <n> VERSIONS    -- expire snapshots first, then orphans
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+(.+?)(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*$""".r
  // Spark's own ANALYZE grammar, routed to the lake's per-file NDV
  // sketches (S9i) when the target IS a lake table; any other table
  // falls through to the stock command untouched
  private val AnalyzeRe =
    """(?is)^\s*ANALYZE\s+TABLE\s+(.+?)\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s+(.+?)\s*;?\s*$""".r
  private val AnalyzeAllRe =
    """(?is)^\s*ANALYZE\s+TABLE\s+(.+?)\s+COMPUTE\s+STATISTICS\s+FOR\s+ALL\s+COLUMNS\s*;?\s*$""".r
  // Iceberg's spec/order EVOLUTION statements (not stock Spark
  // grammar — `ADD PARTITION FIELD` ≠ hive's `ADD PARTITION (spec)`,
  // the FIELD keyword disambiguates): metadata-only declarations,
  // existing files keep their written layout (S8e/S9g)
  private val AddPartFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+ADD\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*$""".r
  private val DropPartFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*$""".r
  private val WriteOrderedRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+WRITE\s+ORDERED\s+BY\s+(.+?)\s*;?\s*$""".r
  private val WriteUnorderedRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+WRITE\s+UNORDERED\s*;?\s*$""".r
  // Iceberg's schema-level row-identity declaration (SET names the
  // full set; DROP removes the named fields from the declaration)
  private val SetIdFieldsRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+SET\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*;?\s*$""".r
  private val DropIdFieldsRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+IDENTIFIER\s+FIELDS\s+(.+?)\s*;?\s*$""".r
  // stock grammar: claim TRUNCATE only for lake tables (everything
  // else keeps Spark's own command — and a lake CATALOG ident served
  // natively still lands on the metadata-only truncateTable override)
  private val TruncateRe =
    """(?is)^\s*TRUNCATE\s+TABLE\s+(.+?)\s*;?\s*$""".r
  private val FnTransformRe = """(?is)^\s*(\w+)\s*\(\s*([^)]*?)\s*\)\s*$""".r
  // Iceberg's ref DDL (branches as writable lineages, tags as
  // immutable GC-protected pins) + timestamp-based expiration
  private val CreateBranchRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+CREATE\s+BRANCH\s+([A-Za-z0-9._-]+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""".r
  private val DropBranchRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+BRANCH\s+([A-Za-z0-9._-]+)\s*;?\s*$""".r
  private val CreateTagRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+CREATE\s+TAG\s+([A-Za-z0-9._-]+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""".r
  private val DropTagRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+TAG\s+([A-Za-z0-9._-]+)\s*;?\s*$""".r
  private val FastForwardRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+FAST\s+FORWARD\s+([A-Za-z0-9._-]+)\s*;?\s*$""".r
  private val VacuumOlderRe =
    """(?is)^\s*VACUUM\s+(.+?)\s+OLDER\s+THAN\s+'([^']+)'\s*;?\s*$""".r
  // Delta's RESTORE grammar over the lake's rollback (a NEW forward
  // commit re-referencing the old snapshot — history never rewrites)
  private val RestoreVersionRe =
    """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RestoreTimestampRe =
    """(?is)^\s*RESTORE\s+TABLE\s+(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""".r

  /** Parse one `ADD/DROP PARTITION FIELD` transform, validating the
    * SAME contracts GraftCatalog enforces at CREATE (existence,
    * BIGINT buckets, integral time/truncate sources) so the ALTER
    * cannot leave the table unwritable. */
  private def transformOf(
      txt: String, schema: org.apache.spark.sql.types.StructType)
      : LakeTable.PartitionTransform = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def strip(c: String) = c.trim.stripPrefix("`").stripSuffix("`")
    def checked(n: String): String = {
      require(schema.fieldNames.contains(n),
        s"graftlake ALTER: partition source '$n' is not a table column " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      n
    }
    def integral(n: String): Unit = require(
      schema(n).dataType == LongType || schema(n).dataType == IntegerType,
      s"graftlake ALTER: transform over '$n' needs an integral " +
        s"(epoch-second) source; it is ${schema(n).dataType.sql}")
    txt match {
      case FnTransformRe(fn, args) =>
        val as = args.split(",").map(strip).filter(_.nonEmpty).toSeq
        fn.toLowerCase match {
          case t @ ("days" | "day" | "hours" | "hour" | "months" | "month" |
                    "years" | "year") =>
            require(as.size == 1, s"graftlake ALTER: $t takes one column")
            integral(checked(as.head))
            LakeTable.PartitionTransform(as.head, t.stripSuffix("s"))
          case "identity" =>
            require(as.size == 1, "graftlake ALTER: identity takes one column")
            LakeTable.PartitionTransform(checked(as.head), "identity")
          case t @ ("bucket" | "truncate") =>
            require(as.size == 2 && as.head.forall(_.isDigit),
              s"graftlake ALTER: $t(<width>, <col>) expected, got '$txt'")
            val (w, n) = (as.head.toLong, checked(as(1)))
            require(w > 0, s"graftlake ALTER: $t($w, $n) needs a positive width")
            if (t == "bucket")
              require(schema(n).dataType == LongType,
                s"graftlake ALTER: bucket supports BIGINT sources; '$n' is " +
                  s"${schema(n).dataType.sql}")
            else integral(n)
            LakeTable.PartitionTransform(n, t, w)
          case other => throw new UnsupportedOperationException(
            s"graftlake ALTER: unsupported partition transform '$other' — " +
              "identity, bucket(n, c), hours/days/months/years(c), truncate(w, c)")
        }
      case bare => LakeTable.PartitionTransform(checked(strip(bare)), "identity")
    }
  }

  private def maintenance(sqlText: String): Option[LogicalPlan] = {
    def pathFor(refText: String): String = {
      val parts = delegate.parseMultipartIdentifier(refText.trim)
      maintenancePathOf(parts).getOrElse(throw new UnsupportedOperationException(
        s"graftlake maintenance SQL: ${parts.mkString(".")} is not a lake table"))
    }
    sqlText match {
      case OptimizeRe(ref, null) =>
        val p = pathFor(ref)
        Some(LakeDmlCommand(s"OPTIMIZE graftlake.`$p`",
          () => LakeTable.compactSmall(spark, p, 128L * 1024 * 1024)))
      case OptimizeRe(ref, zcols) =>
        val p = pathFor(ref)
        val cols = zcols.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq
        val n = math.max(1L, LakeTable.liveFileCount(p)).toInt
        Some(LakeDmlCommand(s"OPTIMIZE graftlake.`$p` ZORDER BY (${cols.mkString(", ")})",
          () => LakeTable.zOrderBy(spark, p, n, cols: _*)))
      case VacuumOlderRe(ref, ts) =>
        // must precede the bare-VACUUM arm: its lazy (.+?) would
        // otherwise swallow "t OLDER THAN '…'" as the table name
        val p = pathFor(ref)
        Some(LakeDmlCommand(s"VACUUM graftlake.`$p` OLDER THAN", () => {
          LakeTable.expireOlderThan(spark, p, LakeTable.timestampMillisOf(ts))
          LakeTable.removeOrphans(spark, p).size
        }))
      case VacuumRe(ref, retain) =>
        val p = pathFor(ref)
        Some(LakeDmlCommand(s"VACUUM graftlake.`$p`", () => {
          Option(retain).foreach(r => LakeTable.expireSnapshots(spark, p, r.toInt))
          LakeTable.removeOrphans(spark, p).size
        }))
      case RestoreVersionRe(ref, ver) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map(p => LakeDmlCommand(
          s"RESTORE graftlake.`$p` TO VERSION AS OF $ver",
          () => LakeTable.rollback(spark, p, ver.toInt)))
      case RestoreTimestampRe(ref, ts) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map(p => LakeDmlCommand(
          s"RESTORE graftlake.`$p` TO TIMESTAMP AS OF",
          () => LakeTable.rollback(spark, p,
            LakeTable.versionAsOf(spark, p, LakeTable.timestampMillisOf(ts)))))
      case CreateBranchRe(ref, name, ver) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map(p => LakeDmlCommand(
          s"ALTER graftlake.`$p` CREATE BRANCH $name",
          () => LakeTable.createBranch(spark, p, name,
            Option(ver).map(_.toInt))))
      case DropBranchRe(ref, name) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map(p => LakeDmlCommand(
          s"ALTER graftlake.`$p` DROP BRANCH $name",
          () => { LakeTable.dropBranch(p, name); 0 }))
      case CreateTagRe(ref, name, ver) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map(p => LakeDmlCommand(
          s"ALTER graftlake.`$p` CREATE TAG $name",
          () => {
            val v = Option(ver).map(_.toInt)
              .orElse(LakeTable.latestVersion(p))
              .getOrElse(throw new IllegalArgumentException(
                s"no snapshots to tag at $p"))
            LakeTable.tag(p, name, v); v
          }))
      case DropTagRe(ref, name) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map(p => LakeDmlCommand(
          s"ALTER graftlake.`$p` DROP TAG $name",
          () => { LakeTable.dropTag(p, name); 0 }))
      case FastForwardRe(ref, name) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map(p => LakeDmlCommand(
          s"ALTER graftlake.`$p` FAST FORWARD $name",
          () => LakeTable.fastForward(spark, p, name)))
      case AddPartFieldRe(ref, tr) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          LakeDmlCommand(s"ALTER graftlake.`$p` ADD PARTITION FIELD $tr", () => {
            val t = transformOf(tr, LakeTable.read(spark, p).schema)
            val cur = LakeTable.partitionSpecOf(p)
            require(!cur.contains(t),
              s"graftlake ALTER: partition field $t is already declared")
            LakeTable.setPartitionSpec(p, cur :+ t)
            cur.size + 1
          })
        }
      case DropPartFieldRe(ref, tr) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          LakeDmlCommand(s"ALTER graftlake.`$p` DROP PARTITION FIELD $tr", () => {
            val t = transformOf(tr, LakeTable.read(spark, p).schema)
            val cur = LakeTable.partitionSpecOf(p)
            require(cur.contains(t),
              s"graftlake ALTER: partition field $t is not declared " +
                s"(standing spec: ${if (cur.isEmpty) "none" else cur.mkString(", ")})")
            val next = cur.filterNot(_ == t)
            if (next.isEmpty) LakeTable.clearPartitionSpec(p)
            else LakeTable.setPartitionSpec(p, next)
            next.size
          })
        }
      case WriteOrderedRe(ref, colsTxt) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          LakeDmlCommand(s"ALTER graftlake.`$p` WRITE ORDERED BY $colsTxt", () => {
            val schema = LakeTable.read(spark, p).schema
            val cols = colsTxt.split(",")
              .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty).toSeq
            cols.foreach(c => require(schema.fieldNames.contains(c),
              s"graftlake ALTER: sort column '$c' is not a table column"))
            LakeTable.setSortOrder(p, cols: _*)
            cols.size
          })
        }
      case WriteUnorderedRe(ref) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          LakeDmlCommand(s"ALTER graftlake.`$p` WRITE UNORDERED",
            () => { LakeTable.clearSortOrder(p); 0 })
        }
      case SetIdFieldsRe(ref, colsTxt) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          LakeDmlCommand(s"ALTER graftlake.`$p` SET IDENTIFIER FIELDS $colsTxt",
            () => {
              val cols = colsTxt.split(",")
                .map(_.trim.stripPrefix("`").stripSuffix("`"))
                .filter(_.nonEmpty).toSeq
              LakeTable.setIdentifierFields(p, cols)
              cols.size
            })
        }
      case DropIdFieldsRe(ref, colsTxt) =>
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          LakeDmlCommand(s"ALTER graftlake.`$p` DROP IDENTIFIER FIELDS $colsTxt",
            () => {
              val cols = colsTxt.split(",")
                .map(_.trim.stripPrefix("`").stripSuffix("`"))
                .filter(_.nonEmpty).toSeq
              val cur = LakeTable.identifierFieldsOf(p)
              cols.foreach(c => require(cur.contains(c),
                s"graftlake ALTER: '$c' is not a declared identifier field " +
                  s"(declared: ${if (cur.isEmpty) "none" else cur.mkString(", ")})"))
              val next = cur.filterNot(cols.contains)
              if (next.isEmpty) LakeTable.dropIdentifierFields(p)
              else LakeTable.setIdentifierFields(p, next)
              next.size
            })
        }
      case TruncateRe(ref) =>
        // TRUNCATE TABLE t PARTITION (…) is v1 grammar whose tail
        // would not parse as an identifier — fall through, never claim
        scala.util.Try(delegate.parseMultipartIdentifier(ref.trim)).toOption
          .flatMap(maintenancePathOf)
          .map(p => LakeDmlCommand(s"TRUNCATE graftlake.`$p`",
            () => LakeTable.truncate(spark, p)))
      case AnalyzeAllRe(ref) =>
        // every sketchable column (the hll_sketch_agg input types);
        // non-sketchable ones (double, struct, …) are skipped, not
        // refused — ALL means "all that can"
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          LakeDmlCommand(s"ANALYZE graftlake.`$p` FOR ALL COLUMNS", () => {
            val cols = LakeTable.read(spark, p).schema.fields
              .filter(f => LakeTable.ndvSketchable(f.dataType)).map(_.name).toSeq
            require(cols.nonEmpty,
              s"ANALYZE at $p: no INT/BIGINT/STRING/BINARY column to sketch")
            LakeTable.analyzeNdv(spark, p, cols)
          })
        }
      case AnalyzeRe(ref, colsTxt) =>
        // unlike OPTIMIZE/VACUUM this is stock Spark grammar: only
        // claim it for lake tables, everything else keeps the v1
        // AnalyzeColumn command
        val parts = delegate.parseMultipartIdentifier(ref.trim)
        maintenancePathOf(parts).map { p =>
          val cols = colsTxt.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
            .filter(_.nonEmpty).toSeq
          LakeDmlCommand(
            s"ANALYZE graftlake.`$p` FOR COLUMNS (${cols.mkString(", ")})",
            () => LakeTable.analyzeNdv(spark, p, cols))
        }
      case _ => None
    }
  }

  private def lakeRelation(path: String, version: Option[Int]): LogicalPlan = {
    val reader = spark.read.format("graftlake")
    GraftSqlShim.analyzedPlan(
      version.fold(reader)(v => reader.option("versionAsOf", v)).load(path))
  }

  // transformDown: the time-travel node must match BEFORE its
  // UnresolvedRelation child is rewritten away (the version would be
  // silently dropped otherwise). InsertIntoStatement keeps its TARGET
  // in a non-child field (its only child is the query), so the
  // rewrite recurses into it explicitly.
  private def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement =>
      i.copy(table = rewrite(i.table))
    case RelationTimeTravel(u: UnresolvedRelation, None, Some(versionStr))
        if lakePathOf(u.multipartIdentifier).isDefined =>
      // Iceberg's ref-as-version: a non-integer resolves as a TAG
      // (version pin on the main chain) or a BRANCH (its own chain's
      // head — a branch is a sibling table path, not a version)
      val p = lakePathOf(u.multipartIdentifier).get
      val s = versionStr.trim
      s.toIntOption match {
        case Some(v) => lakeRelation(p, Some(v))
        case None if LakeTable.tags(p).contains(s) =>
          lakeRelation(p, Some(LakeTable.tagVersion(p, s)))
        case None if LakeTable.branches(p).contains(s) =>
          lakeRelation(LakeTable.branchPath(p, s), None)
        case None => throw new UnsupportedOperationException(
          s"graftlake VERSION AS OF: '$s' is neither an integer version " +
            s"nor a tag/branch of $p (tags: ${LakeTable.tags(p).keys.toSeq.sorted
              .mkString(", ")}; branches: ${LakeTable.branches(p).sorted.mkString(", ")})")
      }
    case RelationTimeTravel(u: UnresolvedRelation, Some(ts), None)
        if lakePathOf(u.multipartIdentifier).isDefined =>
      // TIMESTAMP AS OF: the parser hands a literal (string or
      // timestamp); resolve to a version through the same metadata
      // read the reader option uses
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
      val millis = ts match {
        case Literal(v: Long, _: TimestampType) => v / 1000L
        case Literal(v: Long, _: TimestampNTZType) => v / 1000L
        case Literal(v, _) if v != null => LakeTable.timestampMillisOf(v.toString)
        case other => throw new UnsupportedOperationException(
          s"graftlake TIMESTAMP AS OF needs a literal timestamp, got $other")
      }
      val p = lakePathOf(u.multipartIdentifier).get
      lakeRelation(p, Some(LakeTable.versionAsOf(spark, p, millis)))
    case u: UnresolvedRelation if u.multipartIdentifier.length == 2 &&
        u.multipartIdentifier.head.equalsIgnoreCase("graftlake") =>
      lakeRelation(u.multipartIdentifier(1), None)
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    // maintenance statements first: the stock grammar REJECTS them,
    // so they can never shadow a legal Spark statement. View DDL
    // aimed at a GraftCatalog intercepts here too — the stock grammar
    // PARSES it but ResolveSessionCatalog refuses every V2-catalog
    // view statement (MISSING_CATALOG_ABILITY) before any injected
    // rule runs, so the parser is the only honest hook (S11g).
    viewStatement(sqlText)
      .orElse(maintenance(sqlText))
      .getOrElse(rewrite(delegate.parsePlan(sqlText)))

  // ---- versioned-view DDL (S11g): lowered onto the catalog's native
  //      ViewCatalog methods, one code path for SQL and library ----
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val CreateMatViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val RefreshMatViewRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*;?\s*$""".r
  private val DropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*;?\s*$""".r
  private val AlterViewSetPropsRe =
    """(?is)^\s*ALTER\s+VIEW\s+([\w.`]+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*$""".r
  private val AlterViewUnsetPropsRe =
    """(?is)^\s*ALTER\s+VIEW\s+([\w.`]+)\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*$""".r
  private val AlterViewRenameRe =
    """(?is)^\s*ALTER\s+VIEW\s+([\w.`]+)\s+RENAME\s+TO\s+([\w.`]+)\s*;?\s*$""".r
  private val ShowViewsRe =
    """(?is)^\s*SHOW\s+VIEWS\s+(?:IN|FROM)\s+([\w.`]+)\s*;?\s*$""".r
  private val PropPairRe = """'([^']*)'\s*=\s*'([^']*)'""".r
  private val PropKeyRe = """'([^']*)'""".r

  /** (catalog, identifier) when the statement's target lives in a
    * registered [[GraftCatalog]] — explicit `cat.ns.v` names resolve
    * by their head part; bare names resolve through the session's
    * CURRENT catalog/namespace, except when a same-named temp view
    * exists (the stock grammar owns temp views). Anything else →
    * None, and the statement passes through untouched. */
  private def viewTargetOf(parts: Seq[String])
      : Option[(GraftCatalog, org.apache.spark.sql.connector.catalog.Identifier)] = {
    import org.apache.spark.sql.connector.catalog.Identifier
    parts match {
      case cat +: rest if rest.nonEmpty &&
          GraftSqlShim.catalogPlugin(spark, cat).isDefined =>
        GraftViewSql.viewCatalogOf(spark, cat)
          .map(g => (g, Identifier.of(rest.init.toArray, rest.last)))
      case _ =>
        if (parts.size == 1 && spark.catalog.tableExists(parts.head)) None
        else {
          val (curCat, curNs) = GraftSqlShim.currentContext(spark)
          GraftViewSql.viewCatalogOf(spark, curCat).map(g =>
            (g, Identifier.of((curNs ++ parts.init).toArray, parts.last)))
        }
    }
  }

  private def viewStatement(sqlText: String): Option[LogicalPlan] = {
    def parts(t: String) = delegate.parseMultipartIdentifier(t.trim)
    sqlText match {
      case CreateMatViewRe(replace, ifNot, ref, body) =>
        viewTargetOf(parts(ref)).map { case (g, ident) =>
          LakeDmlCommand(s"CREATE MATERIALIZED VIEW $ident",
            () => GraftViewSql.createView(spark, g, ident, body.trim,
              replace = replace != null, ifNotExists = ifNot != null,
              materialized = true))
        }
      case RefreshMatViewRe(ref) =>
        viewTargetOf(parts(ref)).filter(t => t._1.viewExists(t._2))
          .map { case (g, ident) =>
            LakeDmlCommand(s"REFRESH MATERIALIZED VIEW $ident",
              () => { GraftMaterializedViews.refresh(spark, g, ident); 0 })
          }
      case CreateViewRe(replace, ifNot, ref, body) =>
        viewTargetOf(parts(ref)).map { case (g, ident) =>
          LakeDmlCommand(s"CREATE VIEW $ident",
            () => GraftViewSql.createView(spark, g, ident, body.trim,
              replace = replace != null, ifNotExists = ifNot != null))
        }
      case DropViewRe(ifExists, ref) =>
        viewTargetOf(parts(ref)).filter { case (g, ident) =>
          // only claim the statement when the view EXISTS (or the
          // target is explicit): a bare DROP VIEW of a session object
          // under a graft current catalog stays with the stock path
          g.viewExists(ident) || ifExists == null
        }.map { case (g, ident) =>
          LakeDmlCommand(s"DROP VIEW $ident", () => {
            if (!g.dropView(ident) && ifExists == null)
              throw new org.apache.spark.sql.catalyst.analysis
                .NoSuchViewException(ident)
            0
          })
        }
      case AlterViewSetPropsRe(ref, props) =>
        viewTargetOf(parts(ref)).filter(t => t._1.viewExists(t._2))
          .map { case (g, ident) =>
            val changes = PropPairRe.findAllMatchIn(props).map(m =>
              org.apache.spark.sql.connector.catalog.ViewChange
                .setProperty(m.group(1), m.group(2))).toSeq
            require(changes.nonEmpty,
              s"ALTER VIEW $ident SET TBLPROPERTIES: no 'k' = 'v' pairs in ($props)")
            LakeDmlCommand(s"ALTER VIEW $ident SET TBLPROPERTIES",
              () => { g.alterView(ident, changes: _*); 0 })
          }
      case AlterViewUnsetPropsRe(ref, props) =>
        viewTargetOf(parts(ref)).filter(t => t._1.viewExists(t._2))
          .map { case (g, ident) =>
            val changes = PropKeyRe.findAllMatchIn(props).map(m =>
              org.apache.spark.sql.connector.catalog.ViewChange
                .removeProperty(m.group(1))).toSeq
            require(changes.nonEmpty,
              s"ALTER VIEW $ident UNSET TBLPROPERTIES: no 'k' keys in ($props)")
            LakeDmlCommand(s"ALTER VIEW $ident UNSET TBLPROPERTIES",
              () => { g.alterView(ident, changes: _*); 0 })
          }
      case AlterViewRenameRe(fromRef, toRef) =>
        val fromParts = parts(fromRef)
        viewTargetOf(fromParts).filter(t => t._1.viewExists(t._2))
          .map { case (g, from) =>
            val to = viewTargetOf(parts(toRef)).collect {
              case (g2, i) if g2 eq g => i
            }.getOrElse(throw new IllegalArgumentException(
              s"ALTER VIEW RENAME: target $toRef must stay in the same catalog"))
            LakeDmlCommand(s"ALTER VIEW $from RENAME TO $to",
              () => { g.renameView(from, to); 0 })
          }
      case ShowViewsRe(ref) =>
        val p = parts(ref)
        GraftViewSql.viewCatalogOf(spark, p.head).map { g =>
          val ns = p.tail
          LakeRowsCommand(s"SHOW VIEWS IN ${p.mkString(".")}",
            Seq("namespace", "viewName", "isTemporary"),
            () => g.listViews(ns: _*).toSeq.map(i =>
              Seq(i.namespace.mkString("."), i.name, "false")))
        }
      case _ => None
    }
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): org.apache.spark.sql.catalyst.TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

/** An eagerly-executed DML side effect (the commit happens when Spark
  * runs the command, exactly once). */
case class LakeDmlCommand(sql: String, effect: () => Int)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
  override def simpleString(maxFields: Int): String = s"LakeDmlCommand $sql"
}

case class LakeDmlExec(sql: String, effect: () => Int) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Unit = { effect(); () }
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD[InternalRow]
  }
}

object LakeDmlStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LakeDmlCommand(sql, effect) => LakeDmlExec(sql, effect) :: Nil
    case _ => Nil
  }
}

/** READ-LIFT for snapshots needing ROW-LEVEL assembly (round 14): a
  * SQL read of a graftlake table whose snapshot the V2 file scan
  * cannot serve — live merge-on-read delete manifests, a field-id
  * rename, files predating a defaulted column, mixed or partial
  * hive-layout manifests — used to REFUSE through the V2 scan. The
  * lake's ONE servability rule (`LakeTable.v2Refusal`, the same one
  * [[LakeTable.planV2]] throws) is evaluated ONCE per relation, and
  * this resolution rule lifts exactly the refused relations onto the
  * LIBRARY read: [[LakeTable.read]]'s analyzed
  * plan substitutes for the relation, output-aliased onto the
  * relation's attribute ids so every parent operator resolves
  * unchanged — SELECTs, joins, aggregates, and VERSION/TIMESTAMP AS
  * OF over MoR-state snapshots all serve through SQL instead of
  * refusing. DML and WRITE targets are SHIELDED by reference —
  * UPDATE/MERGE/DELETE/INSERT own their V2 relation (the row-level
  * lowerings and the write builder need it); only genuine read
  * positions lift. Snapshots the V2 scan can serve stay on it
  * (pushdown, runtime filtering, exact stats). Trade-off (SCALE.md):
  * a lifted read is the library's union/anti-join plan — parquet
  * filter pushdown still applies inside it; manifest-stats skipping
  * does not, the same cost [[LakeTable.read]] always had. */
class MorReadLiftRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // collect write/DML target relations BY REFERENCE — the same
    // table read elsewhere in the same statement (self-join, MERGE
    // source) still lifts
    val shielded = new java.util.IdentityHashMap[LogicalPlan, Unit]()
    def shield(p: LogicalPlan): Unit = p.foreach {
      case r: DataSourceV2Relation => shielded.put(r, ())
      case _ => ()
    }
    plan.foreach {
      case u: UpdateTable => shield(u.table)
      case m: MergeIntoTable => shield(m.targetTable)
      case del: DeleteFromTable => shield(del.table)
      case i: InsertIntoStatement => shield(i.table)
      case w: V2WriteCommand => shield(w.table)
      case _ => ()
    }
    // relations consumed DIRECTLY by an aggregate: the MoR metadata
    // plane answers count-only shapes from manifest counts (position
    // deletes/DVs subtract exactly) — lifting those would regress a
    // metadata-only answer to a table scan. "defer" = the aggregate's
    // functions are not resolved yet, so whether it is count-only is
    // unknowable this iteration; leave the relation and decide when
    // the fixed point resolves them.
    val aggMark = new java.util.IdentityHashMap[LogicalPlan, String]()
    plan.foreach {
      case a: Aggregate =>
        @annotation.tailrec def strip(p: LogicalPlan): LogicalPlan = p match {
          case SubqueryAlias(_, c) => strip(c)
          case Project(_, c) => strip(c)
          case _ => p
        }
        strip(a.child) match {
          case r: DataSourceV2Relation =>
            val mark =
              if (!a.resolved) "defer"
              else {
                val fns = a.aggregateExpressions.flatMap(_.collect {
                  case ae: AggregateExpression => ae.aggregateFunction })
                if (fns.nonEmpty && fns.forall {
                    case Count(args) => args.forall(_.foldable)
                    case _ => false })
                  "count-only" else "lift"
              }
            aggMark.put(r, mark)
          case _ => ()
        }
      case _ => ()
    }
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if !shielded.containsKey(r) =>
        r.table match {
          case t: GraftLakeTable =>
            val path = t.tablePath
            // the servability decision, once per relation
            t.pinnedVersion.orElse(LakeTable.latestVersion(path))
                .flatMap(v => LakeTable.v2Refusal(spark, path, v).map(v -> _)) match {
              case Some(_) if aggMark.get(r) == "defer" => r
              case Some((_, refusal)) if refusal.countable &&
                  aggMark.get(r) == "count-only" => r
              case Some((v, _)) =>
                val lib = LakeTable.read(spark, path, Some(v))
                  .queryExecution.analyzed
                val byName = lib.output
                  .map(a => a.name.toLowerCase(java.util.Locale.ROOT) -> a).toMap
                val aliases = r.output.map { o =>
                  val src = byName.getOrElse(
                    o.name.toLowerCase(java.util.Locale.ROOT),
                    throw new IllegalStateException(
                      s"graftlake read-lift at $path v$v: the library read " +
                        s"lacks column '${o.name}' the relation declares"))
                  Alias(src, o.name)(o.exprId, o.qualifier)
                }
                Project(aliases, lib)
              case _ => r
            }
          case _ => r
        }
    }
  }
}

/** Shared table-reference resolution for the SQL surfaces that take a
  * table NAME rather than a resolved plan (maintenance statements,
  * the `table_changes` TVF): `graftlake.\`/path\``, a session-catalog
  * graftlake table, or a [[GraftCatalog]] ident (`cat.ns.t`). */
private[sources] object LakeSqlTargets {
  def lakePathOf(spark: SparkSession, parts: Seq[String]): Option[String] =
    (parts match {
      case Seq(ns, p) if ns.equalsIgnoreCase("graftlake") => Some(p)
      case _ => GraftSqlShim.tableProviderAndLocation(spark, parts).collect {
        case (prov, loc) if prov.equalsIgnoreCase("graftlake") => loc
      }
    }).orElse(parts match {
      case cat +: rest if rest.nonEmpty =>
        GraftSqlShim.catalogPlugin(spark, cat).collect {
          case g: GraftCatalog => g.lakeTablePath(rest)
        }.flatten
      case _ => None
    })
}

/** Delta's `table_changes(<table>, <from_version> [, <to_version>])`
  * table-valued function over [[LakeTable.changes]] — the SQL-first
  * incremental-ETL route (round-13 verdict "missing" #2); a SQL user
  * never has to drop to the library to read a change feed.
  * `table_changes_with_lineage` rides [[LakeTable.changesWithLineage]]
  * (row-lineage keyed diff — cheaper and id-stable, both versions
  * must track lineage). Registered by [[graft.GraftExtensions]] via
  * `injectTableFunction`, so it composes inside any SELECT (joins,
  * filters, aggregates over the change frame). `<to_version>`
  * defaults to the table head. EVERY change-feed refusal contract
  * rides the library call unchanged: a diff across expired versions
  * names the expire, cross-version schema drift refuses, and the
  * lineage variant refuses tables not tracking lineage. */
object GraftTableChanges {
  private def refuse(what: String, msg: String): Nothing =
    throw new UnsupportedOperationException(s"graftlake $what: $msg")

  def plan(lineage: Boolean, args: Seq[Expression]): LogicalPlan =
    plan(if (lineage) "table_changes_with_lineage" else "table_changes", args)

  /** `table_appends(<table>, <from_version>[, <to_version>])` — the
    * [[LakeTable.appendsBetween]] twin of the change TVFs (S16):
    * exactly the rows ADDED in the version range, O(appended files)
    * whatever the table size — the nightly-sync shape, cheaper than
    * `table_changes` because no diff and no delete machinery runs.
    * The library's refusal contract rides unchanged: any non-append
    * commit in range refuses BY NAME (use table_changes there). */
  def plan(what: String, args: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    if (args.size < 2 || args.size > 3) refuse(what,
      s"$what(<table>, <from_version>[, <to_version>]) takes 2 or 3 " +
        s"arguments, got ${args.size}")
    def litOf(e: Expression, n: String): Any = e match {
      case l: Literal => l.value
      case f if f.foldable => f.eval()
      case other => refuse(what, s"<$n> must be a literal, got $other")
    }
    val tbl = litOf(args.head, "table") match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => refuse(what, s"<table> must be a string literal, got $other")
    }
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(tbl)
    val path = LakeSqlTargets.lakePathOf(spark, parts).getOrElse(
      refuse(what, s"${parts.mkString(".")} is not a lake table"))
    // an endpoint is an integer VERSION or a timestamp STRING resolved
    // through the same one-metadata-read rule as TIMESTAMP AS OF
    def verOf(e: Expression, n: String): Int = litOf(e, n) match {
      case i: java.lang.Number => i.intValue()
      case s: org.apache.spark.unsafe.types.UTF8String =>
        LakeTable.versionAsOf(spark, path, LakeTable.timestampMillisOf(s.toString))
      case other => refuse(what,
        s"<$n> must be an integer version or a timestamp string, got $other")
    }
    val from = verOf(args(1), "from_version")
    val to =
      if (args.size == 3) verOf(args(2), "to_version")
      else LakeTable.latestVersion(path).getOrElse(
        refuse(what, s"no snapshots at $path"))
    val df = what match {
      case "table_changes_with_lineage" =>
        LakeTable.changesWithLineage(spark, path, from, to)
      case "table_appends" => LakeTable.appendsBetween(spark, path, from, to)
      case _ => LakeTable.changes(spark, path, from, to)
    }
    // the ANALYZED change frame drops in as a resolved subtree; the
    // outer query's own analysis composes around it
    df.queryExecution.analyzed
  }
}
