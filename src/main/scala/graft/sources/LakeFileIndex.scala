package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The files of one schema generation of a lake read, as a Spark
  * [[FileIndex]] built from the lake's own metadata.
  *
  *  - A root is a whole commit dir (a manifest that covers its dir) or
  *    one file (an explicit manifest entry). Each root is listed once,
  *    on the driver at planning time ([[LakeFileIndex.listed]]), with
  *    Spark's visibility rule (`_`/`.` names are skipped unless they
  *    hold `=`); nothing lists through Spark, so no parallel-listing
  *    job ever starts, whatever the root count.
  *  - Each file's commit sequence is its one partition value, under
  *    `seqCol`: the sequence-number rule of merge-on-read deletes reads
  *    it per row, exactly, without a literal per file in the plan.
  *  - Hidden-partition dirs (`__p_…=v`) contribute their files only;
  *    their derived values are layout, not data. Hive-layout dirs never
  *    reach this index (their values are typed from the dir names).
  *
  * Statuses come from the same Hadoop filesystem Spark's own listing
  * uses, so `_metadata.file_path` spells every file exactly as a
  * listed scan would (position deletes join on that spelling). */
private[sources] final class LakeFileIndex(roots: Seq[LakeFileIndex.Root], seqCol: String)
    extends FileIndex {

  override val partitionSchema: StructType =
    StructType(Seq(StructField(seqCol, IntegerType, nullable = false)))

  override val rootPaths: Seq[Path] = roots.map(r => new Path(r.path))

  private val files: Seq[(FileStatus, Int)] = roots.flatMap(r => r.files.map(_ -> r.seq))

  private val partitions: Seq[PartitionDirectory] =
    files.groupBy(_._2).toSeq.sortBy(_._1).map { case (seq, fs) =>
      PartitionDirectory(InternalRow(seq), fs.map(f => FileStatusWithMetadata(f._1)))
    }

  /** Partition filters name only `seqCol`; Spark does not re-check
    * them above the scan, so they prune here. */
  override def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val pred = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, IntegerType, nullable = false)
      })
      partitions.filter(p => pred.eval(p.values))
    }

  /** URI strings, as Spark's own indexes and `input_file_name()` spell them. */
  override def inputFiles: Array[String] = files.map(_._1.getPath.toUri.toString).toArray

  override val sizeInBytes: Long = files.map(_._1.getLen).sum

  override def refresh(): Unit = ()

  override def toString: String = s"LakeFileIndex(${roots.size} roots, ${files.size} files)"
}

private[sources] object LakeFileIndex {
  /** A whole commit dir or one lake file, read at commit sequence
    * `seq`, with the visible files under it. */
  final case class Root(path: String, seq: Int, files: Seq[FileStatus])

  /** `path` (a commit dir, listed recursively, or one file) listed on
    * the driver with Spark's visibility rule. */
  def listed(spark: SparkSession, path: String, seq: Int): Root = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(name: String): Boolean =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_"))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter(s => visible(s.getPath.getName)).flatMap(leaves)
    Root(path, seq, leaves(fs.getFileStatus(fs.makeQualified(p))))
  }
}
