package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A lineitem-shaped lake row. `l_rev` counts the rewrites of a key,
  * so an update that lands on the wrong rows changes the checksum. */
final case class Li(
    l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_quantity: Double,
    l_extendedprice: Double, l_discount: Double, l_returnflag: String,
    l_shipyear: Int, l_rev: Long)

/** Seeded row generation, the in-memory model of committed rows, and
  * the checks that compare a lake table against it. */
object Lineitems {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pick(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  /** The row of key `k` at revision `rev`; its partition year depends on
    * the key alone, so a rewrite never moves a key between partitions. */
  def row(seed: Long, k: Long, rev: Long): Li = {
    val h = mix(mix(seed) ^ (k * 1000003L + rev))
    val hk = mix(seed ^ (k * 7919L))
    Li(k, pick(h, 20000), pick(h >>> 7, 1000), 1 + pick(h >>> 13, 50),
      pick(h >>> 19, 10000000) / 100.0, pick(h >>> 43, 11) / 100.0,
      "ANR".substring(pick(h >>> 51, 3)).take(1), 1995 + pick(hk, 7), rev)
  }

  def frame(spark: SparkSession, rows: Seq[Li]): DataFrame = {
    import spark.implicits._
    rows.toDS().toDF()
  }

  /** Integer-only checksum, so it is exact whatever order Spark sums in. */
  final case class Sum(count: Long, keys: Long, revs: Long, mixed: Long)

  def checksum(rows: Iterator[Li]): Sum = {
    var c, k, r, m = 0L
    rows.foreach { x =>
      c += 1; k += x.l_orderkey; r += x.l_rev; m += x.l_partkey * x.l_shipyear % 1000003L
    }
    Sum(c, k, r, m)
  }

  def checksum(df: DataFrame): Sum = {
    val r = df.agg(count(lit(1)), coalesce(sum("l_orderkey"), lit(0L)),
      coalesce(sum("l_rev"), lit(0L)),
      coalesce(sum(col("l_partkey") * col("l_shipyear") % 1000003L), lit(0L))).head()
    Sum(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** A row with the lineitem columns (others, as a change feed's
    * `change_type`, are ignored). */
  def fromRow(r: Row): Li = Li(
    r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey"), r.getAs[Long]("l_suppkey"),
    r.getAs[Double]("l_quantity"), r.getAs[Double]("l_extendedprice"), r.getAs[Double]("l_discount"),
    r.getAs[String]("l_returnflag"), r.getAs[Int]("l_shipyear"), r.getAs[Long]("l_rev"))

  def collect(df: DataFrame): Array[Li] = {
    import df.sparkSession.implicits._
    df.select(Columns.map(col): _*).as[Li].collect()
  }

  val Columns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag", "l_shipyear", "l_rev")

  /** Bytes of a compact copy of `rows`: one parquet file, default codec. */
  def compactBytes(spark: SparkSession, rows: Seq[Li], dir: String): Long = {
    frame(spark, rows).coalesce(1).write.mode("overwrite").parquet(dir)
    val b = Dirs.bytes(dir)
    graft.Util.rmRecursive(dir)
    b
  }

  /** File listing of a table directory: path -> size. */
  object Dirs {
    def sizes(dir: String): Map[String, Long] = {
      val root = Paths.get(dir)
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(p => Files.isRegularFile(p))
          .map(p => p.toString -> Files.size(p)).toMap
        finally s.close()
      }
    }
    def bytes(dir: String): Long = sizes(dir).valuesIterator.sum
  }
}

/** Tracks what one lake op added to and removed from a table's files:
  * metadata bytes (manifests, lists, sidecars under `_graft_meta`) and
  * data files. Walked outside the timed region. */
final case class FileDelta(metaBytes: Long, dataFiles: Int, dataBytes: Long, removed: Int) {
  def into(rec: OpRec): Unit = rec.info ++= Seq("meta_bytes" -> metaBytes.toDouble,
    "data_files" -> dataFiles.toDouble, "data_bytes" -> dataBytes.toDouble, "files_removed" -> removed.toDouble)
}

final class TableFiles(path: String) {
  private var seen = Lineitems.Dirs.sizes(path)
  def delta(): FileDelta = {
    val now = Lineitems.Dirs.sizes(path)
    val added = now.filter { case (p, _) => !seen.contains(p) }
    val (meta, data) = added.partition(_._1.contains("/_graft_meta/"))
    val parquet = data.filter(_._1.endsWith(".parquet"))
    val d = FileDelta(meta.values.sum, parquet.size, parquet.values.sum, seen.keysIterator.count(!now.contains(_)))
    seen = now
    d
  }
}
