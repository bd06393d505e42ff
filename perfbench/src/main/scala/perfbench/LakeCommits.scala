package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.sources.LakeTable
import graft.sources.LakeTable.PartitionTransform
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.functions._

/** `lake_commits`: a seeded stream of commits onto a partitioned,
  * lineitem-shaped lake table, with reads of it in between. The commit
  * protocol and metadata IO do most of the work; the reads put scan
  * planning, pruning and merge-on-read apply on the same table, so a
  * commit-path change that costs reads shows here too.
  *
  * Ops come in decks of 25 commits, 7 reads and two maintenance calls.
  * The commits follow the benchmark's specified mix of about 50%
  * appends, 20% MERGE, 15% merge-on-read deletes, 10% copy-on-write
  * deletes and updates and 5% partition overwrites: 13 appends, 5
  * MERGE upserts (2 copy-on-write, 3 merge-on-read), 4 merge-on-read
  * deletes, 1 copy-on-write delete, 1 update and 1 partition overwrite,
  * then `compactSmall` and `expireSnapshots` close the deck. The reads
  * are one of each kind and path: a point lookup and a range scan
  * (2 and 5% of the keys) both through SQL on a `GraftCatalog` (the V2
  * scan, or the merge-on-read lift where delete files exist) and
  * through the library entry points; a full aggregate and a time-travel
  * read through SQL; a change feed through the library. Time travel and
  * the change feed look one commit back. A run stops
  * at a deck boundary. MERGE batches, deletes and updates take windows
  * of recent keys, so a copy-on-write rewrite touches a few files, not
  * the table. */
object LakeCommits {
  /** One deck, in order: each op kind with its rows per commit (1k to
    * 20k) or, for a range read, the percent of keys it covers. Kinds,
    * sizes and order are fixed; the seed varies the generated values and
    * the keys read, so runs of different seeds do the same work. */
  val Deck: Seq[(String, Int)] = Seq(
    "append" -> 1000, "overwrite" -> 8000, "point_sql" -> 0, "append" -> 1500,
    "merge" -> 8000, "point_lib" -> 0, "append" -> 2000, "delete_mor" -> 5000,
    "range_sql" -> 2, "append" -> 3000, "merge_mor" -> 8000, "append" -> 4000,
    "changes_lib" -> 0, "delete_mor" -> 5000, "append" -> 5000, "update" -> 5000,
    "range_lib" -> 5, "append" -> 6000, "merge_mor" -> 8000, "append" -> 7000,
    "delete_mor" -> 5000, "aggregate_sql" -> 0, "append" -> 8000, "delete" -> 5000,
    "travel_sql" -> 5, "append" -> 10000, "merge" -> 8000, "append" -> 12000,
    "delete_mor" -> 5000, "append" -> 15000, "merge_mor" -> 8000, "append" -> 20000,
    "compact" -> 0, "expire" -> 0)
  val InitialRows = 20000
  val SetupReps = 3
  val SmallFileBytes: Long = 1L << 20
  val RetainSnapshots = 10
  /** Time-travel and change-feed reads look this many commits back. */
  val Lookback = 1

  private val Maintenance = Set("compact", "expire")
  private val WarmKinds = Set("append", "merge_mor", "delete_mor", "compact", "expire")
  def isRead(kind: String): Boolean = kind.endsWith("_sql") || kind.endsWith("_lib")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def scaled(n: Int) = math.max(1, (n * ctx.scale).round.toInt)
    val rnd = new Random(ctx.seed)
    var path, table = ""
    var model = mutable.LongMap.empty[Li]
    /** (version, model) after each of the latest commits, newest last. */
    val history = mutable.ArrayBuffer.empty[(Int, mutable.LongMap[Li])]
    var nextKey = 0L
    var overwrites = 0

    def fresh(n: Int): Seq[Li] = {
      val rows = (nextKey until nextKey + n).map(k => Lineitems.row(ctx.seed, k, 0))
      nextKey += n
      rows
    }
    /** The `width` newest keys: changes revisit recent orders, and a
      * window fixed at the head makes every seed's rewrites touch the
      * same files. */
    def keyRange(width: Long): (Long, Long) = (math.max(0L, nextKey - width), nextKey - 1)
    /** Up to `n` live keys from one recent window, for a MERGE batch. */
    def liveKeys(n: Int): Seq[Long] = {
      val (lo, hi) = keyRange(2L * n)
      (lo to hi).filter(model.contains).take(n)
    }
    def inRange(lo: Long, hi: Long): Int = model.keysIterator.count(k => k >= lo && k <= hi)
    def remember(): Unit = {
      val v = LakeTable.latestVersion(path).get
      if (history.lastOption.forall(_._1 != v)) history += v -> model
      if (history.size > Lookback + 1) history.remove(0)
    }
    val unchecked = mutable.ArrayBuffer.empty[OpRec]
    /** Compare the table's checksum with the model's. A table read per
      * commit would cost more than the commits, so the check runs
      * between decks (the final row-by-row check covers the last); a
      * mismatch fails every op since the previous check. */
    def check(): Seq[OpRec] = {
      val got = Lineitems.checksum(LakeTable.read(spark, path))
      val want = Lineitems.checksum(model.valuesIterator)
      if (got != want) unchecked.foreach(_.fail(s"table checksum $got, model $want after ops ${
        unchecked.head.id} to ${unchecked.last.id}"))
      val checked = unchecked.toSeq
      unchecked.clear()
      checked
    }
    var files: TableFiles = null

    /** One commit or maintenance call. Inputs are built and the model
      * is updated outside the timed region; the check follows untimed.
      * `rows` is what the commit writes: the incoming rows of an append,
      * MERGE or overwrite, the matched rows of a delete or update. */
    def commit(kind: String, n: Int): Unit = {
      val (call, expect, rows): (() => Any, () => mutable.LongMap[Li], Long) = kind match {
        case "append" =>
          val rows = fresh(n)
          val df = Lineitems.frame(spark, rows)
          (() => LakeTable.append(df, path), () => model ++ rows.map(r => r.l_orderkey -> r), n)
        case "merge" | "merge_mor" =>
          val updated = liveKeys(n / 2).map(k => Lineitems.row(ctx.seed, k, model(k).l_rev + 1))
          val rows = updated ++ fresh(n - updated.size)
          val df = Lineitems.frame(spark, rows)
          (() => if (kind == "merge") LakeTable.upsert(df, path, "l_orderkey")
                 else LakeTable.upsertMoR(df, path, "l_orderkey"),
            () => model ++ rows.map(r => r.l_orderkey -> r), n)
        case "delete" | "delete_mor" =>
          val (lo, hi) = keyRange(n / 2)
          val pred = col("l_orderkey").between(lo, hi)
          (() => if (kind == "delete") LakeTable.delete(spark, path, pred)
                 else LakeTable.deleteMoR(spark, path, "l_orderkey", pred),
            () => model.filter { case (k, _) => k < lo || k > hi }, inRange(lo, hi))
        case "update" =>
          val (lo, hi) = keyRange(n / 2)
          val set = Map("l_rev" -> (col("l_rev") + 1), "l_quantity" -> (col("l_quantity") + 1.0))
          (() => LakeTable.update(spark, path, set, col("l_orderkey").between(lo, hi)),
            () => model.map { case (k, r) =>
              if (k >= lo && k <= hi) k -> r.copy(l_rev = r.l_rev + 1, l_quantity = r.l_quantity + 1.0)
              else k -> r
            }, inRange(lo, hi))
        case "overwrite" =>
          val year = 1995 + overwrites % 7
          overwrites += 1
          val rows = Iterator.continually(fresh(1).head).filter(_.l_shipyear == year).take(n).toSeq
          val df = Lineitems.frame(spark, rows)
          (() => LakeTable.overwriteWhere(df, path, col("l_shipyear") === year),
            () => model.filter(_._2.l_shipyear != year) ++ rows.map(r => r.l_orderkey -> r), n)
        case "compact" => (() => LakeTable.compactSmall(spark, path, SmallFileBytes), () => model, 0L)
        case "expire" => (() => LakeTable.expireSnapshots(spark, path, RetainSnapshots), () => model, 0L)
      }
      val layer = if (Maintenance(kind)) s"sources.maintenance.$kind" else s"sources.commit.$kind"
      val (_, rec) = ctx.op(kind)(ctx.probe.span(layer)(call()))
      if (rec.ok) {
        rec.rows = rows
        model = expect()
      }
      unchecked += rec
      files.delta().into(rec)
      remember()
    }

    /** A live key, drawn from the seed. */
    def liveKey(): Long = Iterator.continually((rnd.nextDouble() * nextKey).toLong).find(model.contains).get
    /** A key window covering about `pct` percent of the keys. */
    def window(pct: Int): (Long, Long) = {
      val width = math.max(1L, nextKey * pct / 100)
      val lo = (rnd.nextDouble() * (nextKey - width)).toLong
      (lo, lo + width - 1)
    }
    def rowsIn(m: mutable.LongMap[Li], lo: Long, hi: Long): Seq[Li] =
      m.valuesIterator.filter(r => r.l_orderkey >= lo && r.l_orderkey <= hi).toSeq
    def sameRows(got: Seq[Li], want: Seq[Li]): Option[String] =
      if (got.sortBy(_.l_orderkey) == want.sortBy(_.l_orderkey)) None
      else Some(s"read ${got.size} rows, model has ${want.size}")

    /** One timed read: building the DataFrame is `sources.scan.plan`
      * (for SQL: parsing and analysis, where the merge-on-read lift
      * happens), collecting it `sources.scan.exec`. Its scan shape and
      * the check against the model follow untimed. */
    def read(kind: String, pct: Int): Unit = {
      val sql = kind.endsWith("_sql")
      val (version, snapshot) = history.last
      val (plan, expected): (() => DataFrame, Array[Row] => Option[String]) = kind match {
        case "point_sql" | "point_lib" =>
          val k = liveKey()
          (() => if (sql) spark.sql(s"SELECT * FROM $table WHERE l_orderkey = $k")
                 else LakeTable.readWhereEquals(spark, path, "l_orderkey", k.toString),
            rows => sameRows(rows.toSeq.map(Lineitems.fromRow), model.get(k).toSeq))
        case "range_sql" | "range_lib" =>
          val (lo, hi) = window(pct)
          (() => if (sql) spark.sql(s"SELECT * FROM $table WHERE l_orderkey BETWEEN $lo AND $hi")
                 else LakeTable.readWhereBetween(spark, path, "l_orderkey", lo.toDouble, hi.toDouble),
            rows => sameRows(rows.toSeq.map(Lineitems.fromRow), rowsIn(model, lo, hi)))
        case "aggregate_sql" =>
          (() => spark.sql(s"SELECT l_shipyear, count(*), sum(l_rev), sum(l_quantity) FROM $table GROUP BY l_shipyear"),
            rows => {
              val got = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
              val want = model.values.groupBy(_.l_shipyear).toSeq.sortBy(_._1).map { case (y, rs) =>
                (y, rs.size.toLong, rs.map(_.l_rev).sum, rs.map(_.l_quantity).sum) }
              if (got == want) None else Some(s"aggregate $got, model $want")
            })
        case "travel_sql" =>
          val (v, old) = history.head
          val (lo, hi) = window(pct)
          (() => spark.sql(s"SELECT * FROM $table VERSION AS OF $v WHERE l_orderkey BETWEEN $lo AND $hi"),
            rows => sameRows(rows.toSeq.map(Lineitems.fromRow), rowsIn(old, lo, hi)))
        case "changes_lib" =>
          val (v, old) = history.head
          (() => LakeTable.changes(spark, path, v, version),
            rows => {
              def diff(a: mutable.LongMap[Li], b: mutable.LongMap[Li]) =
                a.valuesIterator.filter(r => !b.get(r.l_orderkey).contains(r)).toSet
              val got = rows.toSeq.map(r => Lineitems.fromRow(r) -> r.getAs[String]("change_type"))
              val want = diff(snapshot, old).map(_ -> "insert") ++ diff(old, snapshot).map(_ -> "delete")
              if (got.size == want.size && got.toSet == want) None
              else Some(s"change feed of ${got.size} rows, model has ${want.size}")
            })
      }
      val (out, rec) = ctx.op(kind) {
        val t0 = ctx.probe.now()
        val df = ctx.probe.span("sources.scan.plan")(plan())
        val t1 = ctx.probe.now()
        val rows = ctx.probe.span("sources.scan.exec")(df.collect())
        (df, rows, t1 - t0, ctx.probe.now() - t1)
      }
      out.foreach { case (df, rows, planMs, execMs) =>
        rec.rows = rows.length
        expected(rows).foreach(rec.fail)
        val lifted = sql && df.queryExecution.analyzed.collectFirst { case r: DataSourceV2Relation => r }.isEmpty
        val readVersion = if (kind == "travel_sql") history.head._1 else version
        val (dataFiles, deleteFiles) = Shape.fileCounts(ctx, path, readVersion)
        rec.info ++= Seq("plan_ms" -> planMs, "exec_ms" -> execMs,
          "files_read" -> ScanFiles(df.queryExecution.executedPlan).toDouble,
          "files_total" -> (dataFiles + deleteFiles), "lifted" -> (if (lifted) 1.0 else 0.0),
          // the V2 scan refuses snapshots with delete files, so only the
          // library path and a lifted SQL read apply them
          "delete_files_applied" -> (if (sql && !lifted) 0.0 else deleteFiles))
      }
    }

    def step(kind: String, n: Int): Unit = if (isRead(kind)) read(kind, n) else commit(kind, n)

    for (r <- 0 until SetupReps) ctx.timeSetup {
      path = s"${ctx.work}/lake/db/commits$r"
      table = s"bench.db.commits$r"
      graft.Util.rmRecursive(path)
      model = mutable.LongMap.empty
      history.clear()
      nextKey = 0L
      LakeTable.setPartitionSpec(path, Seq(PartitionTransform("l_shipyear", "identity")))
      val rows = fresh(scaled(InitialRows))
      LakeTable.append(Lineitems.frame(spark, rows), path)
      model ++= rows.map(x => x.l_orderkey -> x)
    }
    remember()
    files = new TableFiles(path)
    ctx.log(s"set-up done: ${ctx.setupS.map(t => f"$t%.2f").mkString(", ")} s")

    // untimed warm-up: one op of each commit kind that recurs in a deck
    // (the kinds the median op is drawn from), so none of those pays
    // first-use class loading and JIT; the once-a-deck kinds run cold,
    // which keeps a run inside its time budget. It ends in compaction
    // and expiry, as a deck does, so every deck starts from the same
    // kind of table.
    ctx.warming = true
    Deck.filter(t => WarmKinds(t._1)).distinctBy(_._1).foreach { case (k, n) => step(k, if (isRead(k)) n else scaled(500)) }
    check().find(!_.ok).foreach(o => sys.error(s"warm-up ${o.kind} failed: ${o.error}"))
    ctx.warming = false
    ctx.log(s"warm-up done: ${ctx.opTimes(ctx.warmOps.toSeq)}")

    ctx.probe.span("workload") {
      while (ctx.opSeconds < ctx.seconds) {
        Deck.foreach { case (k, n) => step(k, if (isRead(k)) n else scaled(n)) }
        if (ctx.corrupt) LakeTable.append(Lineitems.frame(spark, Seq(Lineitems.row(ctx.seed, -1L, 0))), path)
        if (ctx.opSeconds < ctx.seconds) check()
      }
    }

    ctx.log(s"timed ops done: ${ctx.ops.size} ops, ${ctx.opTimes(ctx.ops.toSeq)}")
    // final check: the whole table, row by row, against the model
    val got = Lineitems.collect(LakeTable.read(spark, path)).sortBy(_.l_orderkey).toSeq
    val want = model.values.toSeq.sortBy(_.l_orderkey)
    if (got != want) unchecked.foreach(_.fail(s"final table differs from the model (${got.size} vs ${want.size} rows)"))

    val tableBytes = Lineitems.Dirs.bytes(path)
    ctx.spaceAmp = tableBytes.toDouble / Lineitems.compactBytes(spark, want, s"${ctx.work}/compact")
    if (ctx.probe.tracing) Shape.record(ctx, path)
  }
}

/** Distinct data and delete files a query's executed plan scanned: the
  * files of each V1 file scan (the library read paths) and of each V2
  * scan's file partitions (the SQL scan). */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
    case b: BatchScanExec => b.inputPartitions.collect { case p: FilePartition => p.files.map(_.filePath.toString).toSeq }.flatten
  }.flatten.distinct.size
}

/** Table shape from the lake's metadata tables. */
object Shape {
  /** (data files, delete files) live in snapshot `version`. */
  def fileCounts(ctx: Ctx, path: String, version: Int): (Double, Double) = {
    val (data, deletes) = LakeTable.manifests(ctx.spark, path, Some(version)).collect()
      .partition(_.getString(2) == "data")
    (data.map(_.getAs[Number](4).doubleValue).sum, deletes.map(_.getAs[Number](4).doubleValue).sum)
  }

  /** End-of-run shape, as per-layer figures. */
  def record(ctx: Ctx, path: String): Unit = {
    val v = LakeTable.latestVersion(path).get
    val (data, deletes) = fileCounts(ctx, path, v)
    ctx.layer("sources.metadata.snapshots") = LakeTable.snapshots(ctx.spark, path).count().toDouble
    ctx.layer("sources.metadata.manifests") = LakeTable.manifests(ctx.spark, path, Some(v)).count().toDouble
    ctx.layer("sources.metadata.data_files") = data
    ctx.layer("sources.metadata.delete_files") = deletes
  }
}
