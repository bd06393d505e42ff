package graft

import java.nio.file.{Files, Paths}

import graft.sources.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The native V2 streaming sink (`writeStream.format("graftlake")`):
  * end-to-end delivery, restart resume over the engine checkpoint,
  * the exactly-once replay ledger, and commit-path parity (CHECK
  * constraints gate streamed batches like batch appends). */
class GraftLakeSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def corpus(n: Int, from: Int = 0): DataFrame =
    (from until from + n).map(i => (i.toLong, s"row_$i", i * 1.5)).toDF("id", "name", "score")

  private def runStream(arrivals: String, table: String, chk: String): Unit = {
    val schema = spark.read.parquet(arrivals).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(arrivals)
      .writeStream.format("graftlake")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start(table)
    q.awaitTermination()
  }

  test("stream lands in the lake table; one version per epoch; resume appends only new files") {
    val root = "/tmp/graft_sink_spec_e2e"
    SparkSpec.rmdir(root)
    val (arrivals, table, chk) = (s"$root/arrivals", s"$root/table", s"$root/chk")

    corpus(40).repartition(4).write.parquet(arrivals)
    runStream(arrivals, table, chk)

    val got = LakeTable.read(spark, table)
    assert(got.count() === 40)
    assert(got.agg(sum("id")).head().getLong(0) === (0L until 40).sum)
    // 4 files × maxFilesPerTrigger=1 → 4 epochs → 4 versions, each a
    // streaming-append commit carrying the txn ledger
    val v = LakeTable.latestVersion(table).get
    assert(v === 3, "one commit per micro-batch epoch")
    val txns = LakeTable.txnsOf(table, v)
    assert(txns.size === 1 && txns.head._2 === 3L, s"ledger should hold epoch 3, got $txns")

    // RESTART with the same checkpoint after two more files arrive:
    // the engine resumes past committed epochs, the sink appends only
    // the new rows, exactly once
    corpus(20, from = 40).coalesce(2).write.mode("append").parquet(arrivals)
    runStream(arrivals, table, chk)
    val after = LakeTable.read(spark, table)
    assert(after.count() === 60)
    assert(after.select(countDistinct("id")).head().getLong(0) === 60)
  }

  test("replayed epoch is skipped: ledger check deletes re-written files, no duplicate rows") {
    val root = "/tmp/graft_sink_spec_replay"
    SparkSpec.rmdir(root)
    val table = s"$root/table"
    val schema = corpus(0).schema

    def epochFiles(tag: String, rows: Seq[(Long, String, Double)]): Seq[String] = {
      val dir = s"$root/stage_$tag"
      rows.toDF("id", "name", "score").coalesce(1).write.parquet(dir)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(dir)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    }

    val e0 = epochFiles("e0", Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    assert(LakeTable.commitStreamEpoch(spark, table, e0, schema, "q-123", 0L) === Some(0))
    assert(LakeTable.read(spark, table).count() === 2)

    // the SAME epoch arrives again (restart from an older checkpoint):
    // skipped, files dropped, version unchanged
    val e0again = epochFiles("e0b", Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    assert(LakeTable.commitStreamEpoch(spark, table, e0again, schema, "q-123", 0L) === None)
    assert(LakeTable.latestVersion(table) === Some(0))
    assert(LakeTable.read(spark, table).count() === 2)
    assert(e0again.forall(f => !Files.exists(Paths.get(f))), "replayed files must be deleted")

    // an OLDER epoch than the ledger is equally a replay
    val eOld = epochFiles("eold", Seq((9L, "z", 9.0)))
    val e1 = epochFiles("e1", Seq((3L, "c", 3.0)))
    assert(LakeTable.commitStreamEpoch(spark, table, e1, schema, "q-123", 1L) === Some(1))
    assert(LakeTable.commitStreamEpoch(spark, table, eOld, schema, "q-123", 0L) === None)
    // a DIFFERENT query's epoch 0 is not a replay (per-query ledger)
    val eq2 = epochFiles("eq2", Seq((10L, "y", 10.0)))
    assert(LakeTable.commitStreamEpoch(spark, table, eq2, schema, "q-456", 0L) === Some(2))
    assert(LakeTable.read(spark, table).count() === 4)
    val txns = LakeTable.txnsOf(table, 2)
    assert(txns === Map("q-123" -> 1L, "q-456" -> 0L))
  }

  test("CHECK constraints gate streamed epochs; batch writes interleave with the ledger intact") {
    val root = "/tmp/graft_sink_spec_cons"
    SparkSpec.rmdir(root)
    val table = s"$root/table"
    val schema = Seq.empty[(Long, Double)].toDF("id", "score").schema
    import scala.jdk.CollectionConverters._

    def oneFile(tag: String, rows: Seq[(Long, Double)]): Seq[String] = {
      val dir = s"$root/stage_$tag"
      rows.toDF("id", "score").coalesce(1).write.parquet(dir)
      Files.list(Paths.get(dir)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    }

    assert(LakeTable.commitStreamEpoch(spark, table, oneFile("a", Seq((1L, 0.5))), schema, "q", 0L).isDefined)
    LakeTable.addConstraint(spark, table, "score_pos", "score >= 0")
    val bad = oneFile("b", Seq((2L, -1.0)))
    val err = intercept[Exception] {
      LakeTable.commitStreamEpoch(spark, table, bad, schema, "q", 1L)
    }
    assert(err.getMessage.contains("score_pos"))
    assert(LakeTable.read(spark, table).count() === 1, "violating epoch must not land")

    // a plain batch append between epochs carries the ledger forward
    LakeTable.append(Seq((3L, 3.0)).toDF("id", "score"), table)
    assert(LakeTable.commitStreamEpoch(spark, table, oneFile("c", Seq((4L, 4.0))), schema, "q", 1L).isDefined)
    val v = LakeTable.latestVersion(table).get
    assert(LakeTable.txnsOf(table, v) === Map("q" -> 1L))
    assert(LakeTable.read(spark, table).count() === 3)
  }

  test("an epoch commit without constraints or sort order runs no Spark job") {
    val root = "/tmp/graft_sink_spec_jobs"
    SparkSpec.rmdir(root)
    val table = s"$root/table"
    import scala.jdk.CollectionConverters._
    val written = corpus(30, from = 1)
    written.coalesce(2).write.parquet(s"$root/stage")
    val files = Files.list(Paths.get(s"$root/stage")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.size === 2)

    // count only this thread's jobs: other suites' streams may still run
    val group = s"sink-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "epoch commit")
    try {
      assert(LakeTable.commitStreamEpoch(spark, table, files, written.schema, "q", 0L) === Some(0))
      assert(LakeTable.commitStreamEpoch(spark, table, Nil, written.schema, "q", 1L) === Some(1))
    } finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get === 0, "the epoch's own files need no schema inference or stats job")
    val got = LakeTable.read(spark, table)
    assert(got.count() === 30)
    assert(got.agg(sum("id")).head().getLong(0) === (1L to 30L).sum)
  }

  test("the sink's task closure carries no Hadoop conf; epochs release its broadcast") {
    val root = "/tmp/graft_sink_spec_closure"
    SparkSpec.rmdir(root)
    val table = s"$root/table"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("score", "double")
    val write = new graft.sources.GraftLakeStreamingWrite(table, "q", schema, spark)
    val writeInfo = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    def serialized(o: AnyRef): Array[Byte] = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o); out.close()
      bytes.toByteArray
    }
    def deserialized[T](b: Array[Byte]): T =
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
        .readObject().asInstanceOf[T]
    val confBytes = serialized(new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())).length
    def released(f: graft.sources.GraftLakeWriterFactory): Boolean = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (org.apache.spark.BroadcastShim.held(spark.sparkContext, f.bundle) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      !org.apache.spark.BroadcastShim.held(spark.sparkContext, f.bundle)
    }

    // epoch 0 commits: the factory goes through Java serialization
    // like a task closure, and the copy writes the epoch's file
    val f0 = write.createStreamingWriterFactory(writeInfo)
      .asInstanceOf[graft.sources.GraftLakeWriterFactory]
    val f0Bytes = serialized(f0)
    info(s"serialized writer factory: ${f0Bytes.length} B; " +
      s"one serialized Hadoop Configuration: $confBytes B")
    assert(f0Bytes.length < confBytes / 8,
      s"the writer factory (${f0Bytes.length} B) must not carry the job conf " +
        s"($confBytes B serialized)")
    val w = deserialized[graft.sources.GraftLakeWriterFactory](f0Bytes)
      .createWriter(0, 0L, 0L)
    (1L to 5L).foreach(i => w.write(org.apache.spark.sql.catalyst.InternalRow(i, i * 0.5)))
    val msg = w.commit()
    w.close()
    assert(org.apache.spark.BroadcastShim.held(spark.sparkContext, f0.bundle))
    write.commit(0L, Array(msg))
    assert(released(f0), "a committed epoch must leave no live bundle broadcast")
    val got = LakeTable.read(spark, table)
    assert(got.count() === 5)
    assert(got.agg(sum("id")).head().getLong(0) === 15L)

    // epoch 1 aborts: its bundle is released too
    val f1 = write.createStreamingWriterFactory(writeInfo)
      .asInstanceOf[graft.sources.GraftLakeWriterFactory]
    write.abort(1L, Array.empty)
    assert(released(f1), "an aborted epoch must leave no live bundle broadcast")
  }

  test("auto-compact property: small epochs trigger a fold; ledger and lineage intact") {
    val root = "/tmp/graft_sink_spec_autocompact"
    SparkSpec.rmdir(root)
    val (arrivals, table, chk) = (s"$root/arrivals", s"$root/table", s"$root/chk")
    // seed: lineage-tracked table carrying the auto-compact policy
    LakeTable.overwrite(corpus(4).coalesce(1), table) // v0
    LakeTable.enableRowLineage(spark, table) // v1
    LakeTable.setTableProperties(spark, table, Map(
      "write.auto-compact.small-file-count" -> "3")) // v2
    corpus(40, from = 4).repartition(5).write.parquet(arrivals) // 5 small epochs
    runStream(arrivals, table, chk)
    val v = LakeTable.latestVersion(table).get
    val ops = LakeTable.snapshots(spark, table)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.count(_ == "streaming-append") === 5, s"5 epochs must commit: $ops")
    assert(ops.count(_ == "binpack") >= 1,
      s"past 3 small files the sink must fold its own tail: $ops")
    // no rows lost or duplicated through the folds
    val got = LakeTable.read(spark, table)
    assert(got.count() === 44)
    assert(got.select(countDistinct("id")).head().getLong(0) === 44)
    // the replay ledger rides the fold commits (a restart after an
    // auto-compact must still skip committed epochs)
    assert(LakeTable.txnsOf(table, v).values.max === 4L,
      s"ledger must survive the fold: ${LakeTable.txnsOf(table, v)}")
    // lineage survives: every row keeps a distinct durable id
    val ids = LakeTable.readWithLineage(spark, table)
    assert(ids.select(countDistinct("_row_id")).head().getLong(0) === 44)
    // and the fold actually shrank the small-file tail below the bound
    // + the folded files themselves (a fold leaves <= a few right-
    // sized outputs, never the 5-epoch pile)
    val files = LakeTable.entriesOf(table, v).count(_ => true)
    assert(files < 6, s"the tail must fold, got $files files")
  }
}
