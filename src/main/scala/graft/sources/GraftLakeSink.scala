package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{GraftParquetWriteBundle, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** Native V2 STREAMING SINK for lake tables —
  *
  * {{{
  *   df.writeStream.format("graftlake")
  *     .option("checkpointLocation", chk).start(tablePath)
  * }}}
  *
  * EXACTLY-ONCE by construction, with no driver hop for data:
  *
  *  - sink TASKS write parquet files straight into an epoch-scoped
  *    commit dir (`data/stream-<writeId>-e<epoch>/`) using Spark's own
  *    [[GraftParquetWriteBundle parquet output writer]] — the files
  *    are format-identical to a batch write's, and rows never funnel
  *    through the driver (the 100 TB shape: write bandwidth scales
  *    with the cluster);
  *  - the DRIVER's `commit(epochId)` publishes exactly the files the
  *    committed tasks reported, through
  *    [[LakeTable.commitStreamEpoch]]: CHECK constraints, the
  *    distributed stats job, declared sort order, and the
  *    retry/rebase protocol — one commit path shared with every batch
  *    write surface;
  *  - the commit atomically records (queryId → epochId) in the
  *    version's transaction map. A RESTART that replays an epoch from
  *    an older checkpoint is detected there and skipped (its
  *    re-written files deleted), so rows land exactly once however
  *    many times the engine re-runs the batch. This is Delta's
  *    SetTransaction idempotency, expressed over the lake's
  *    carried-forward version sidecars.
  *
  * Append-mode only: Complete mode would overwrite the table per
  * epoch, which is [[LakeTable.overwrite]] semantics a caller should
  * opt into explicitly via foreachBatch.
  *
  * Micro-batch only: each batch's writer factory carries a fresh
  * [[GraftParquetWriteBundle]] whose broadcast Hadoop conf is
  * released when that epoch commits or aborts, so a continuous-mode
  * factory reused across epochs would outlive its conf. */
class GraftLakeStreamingWrite(
    path: String, queryId: String, schema: StructType, spark: SparkSession)
    extends StreamingWrite {

  // one write-lifetime id: epoch dirs of different (re)starts never
  // collide, and a dead run's half-written dirs are orphan-GC food
  private val writeId = java.util.UUID.randomUUID().toString

  // bundles handed out since the last commit/abort; their broadcast
  // confs are released once the epoch's tasks have all finished
  private var open: List[GraftParquetWriteBundle] = Nil

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val bundle = new GraftParquetWriteBundle(spark, schema)
    synchronized { open ::= bundle }
    new GraftLakeWriterFactory(s"$path/data", writeId, bundle)
  }

  private def releaseBundles(): Unit = {
    val done = synchronized { val b = open; open = Nil; b }
    done.foreach(_.release())
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    releaseBundles()
    val files = messages.collect { case GraftFilesMessage(fs) => fs }.flatten.toSeq
    LakeTable.commitStreamEpoch(
      SparkSession.active, path, files, schema, queryId, epochId)
      // table-property-driven post-commit compaction
      // (write.auto-compact.small-file-count): the sink amortizes its
      // own small-file maintenance — see maybeAutoCompactAfterEpoch
      .foreach(v =>
        LakeTable.maybeAutoCompactAfterEpoch(SparkSession.active, path, v))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    releaseBundles()
    messages.collect { case GraftFilesMessage(fs) => fs }.flatten.foreach { f =>
      try Files.deleteIfExists(Paths.get(f))
      catch { case _: Exception => () } // best effort; orphan GC covers the rest
    }
  }
}

/** Files one committed sink task wrote (empty for rowless tasks — an
  * idle partition produces no file, not an empty one). */
case class GraftFilesMessage(files: Seq[String]) extends WriterCommitMessage

class GraftLakeWriterFactory(
    dataRoot: String, writeId: String,
    private[graft] val bundle: GraftParquetWriteBundle)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftLakeDataWriter(
      s"$dataRoot/stream-$writeId-e$epochId", partitionId, taskId, bundle)
}

/** One sink task: opens its parquet file lazily on the first row (an
  * empty task leaves nothing behind), reports the file on commit.
  * Task retries/speculation are safe: each attempt writes its own
  * task-id-scoped file, only the committed attempt's message reaches
  * the driver, and the manifest (marked partial) lists only committed
  * files — losers are unreferenced bytes for the orphan GC. */
class GraftLakeDataWriter(
    dir: String, partitionId: Int, taskId: Long, bundle: GraftParquetWriteBundle)
    extends DataWriter[InternalRow] {

  private val file = s"$dir/part-$partitionId-$taskId.parquet"
  private var writer: org.apache.spark.sql.GraftParquetWriter = _

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      Files.createDirectories(Paths.get(dir))
      writer = bundle.newWriter(file, partitionId, taskId)
    }
    writer.write(row)
  }

  override def commit(): WriterCommitMessage =
    if (writer == null) GraftFilesMessage(Nil)
    else { writer.close(); writer = null; GraftFilesMessage(Seq(file)) }

  override def abort(): Unit = {
    if (writer != null) { try writer.close() catch { case _: Exception => () }; writer = null }
    Files.deleteIfExists(Paths.get(file))
  }

  override def close(): Unit =
    if (writer != null) { try writer.close() catch { case _: Exception => () }; writer = null }
}
