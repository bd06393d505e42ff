package graft

import graft.sources.{CatalogHttpServer, CommitArbitrationException, HttpCatalogArbiter, LakeTable, RenameArbiter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The catalog-service commit protocol over a REAL socket: the
  * loopback [[CatalogHttpServer]] runs the same claim/publish/steal
  * state machine as the in-process stand-in, but as Iceberg-REST
  * commits (`POST /v1/tables/{t}/commits` with requirements +
  * updates, 409 as the conflict signal) — exercising request
  * serialization, connection lifecycle, reconnects, and the client's
  * two-phase timeout contract the in-process form cannot; plus the
  * multi-table transaction route and the catalog read plane. */
class WireArbiterSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("HTTP: requirements+updates commits; 409 refusal; publish/abandon") {
    val srv = new graft.sources.CatalogHttpServer()
    try {
      val a = new graft.sources.HttpCatalogArbiter("127.0.0.1", srv.port)
      val b = new graft.sources.HttpCatalogArbiter("127.0.0.1", srv.port)
      try {
        a.observed("db.t", -1)
        assert(a.tryClaim("db.t", 0), "first claim of v0 must win")
        assert(!b.tryClaim("db.t", 0), "concurrent claim answers 409 → rebase")
        assert(srv.refusedClaims === 1)
        a.published("db.t", 0)
        assert(srv.headOf("db.t") === 0)
        // a stale base version fails the assert-table-version
        // requirement itself — the catalog's optimistic-concurrency 409
        assert(!b.tryClaim("db.t", 0), "stale-base claim must 409")
        assert(b.tryClaim("db.t", 1))
        b.abandon("db.t", 1)
        assert(a.tryClaim("db.t", 1))
        a.published("db.t", 1)
        assert(srv.headOf("db.t") === 1)
      } finally { a.close(); b.close() }
    } finally srv.close()
  }

  test("HTTP: crash-steal past grace; path-shaped table names URL-encode") {
    var now = 1000L
    val srv = new graft.sources.CatalogHttpServer(claimGraceMs = 500L, clock = () => now)
    try {
      val crashed = new graft.sources.HttpCatalogArbiter("127.0.0.1", srv.port)
      val successor = new graft.sources.HttpCatalogArbiter("127.0.0.1", srv.port)
      try {
        val table = "/tmp/odd path/with spaces & percent%"
        crashed.observed(table, -1)
        assert(crashed.tryClaim(table, 0))
        crashed.close() // claimant dies holding the claim
        now += 100L
        assert(!successor.tryClaim(table, 0), "young claim honored over HTTP")
        now += 1000L
        assert(successor.tryClaim(table, 0), "dangling claim stolen past grace")
        assert(srv.stolenClaims === 1)
        successor.published(table, 0)
        assert(srv.headOf(table) === 0)
      } finally successor.close()
    } finally srv.close()
  }

  test("HTTP: end-to-end concurrent lake appends arbitrated, no loss") {
    val path = "/tmp/graft_test/httparb_concurrent"
    SparkSpec.rmdir(path)
    val srv = new graft.sources.CatalogHttpServer()
    val arb = new graft.sources.HttpCatalogArbiter("127.0.0.1", srv.port)
    LakeTable.setCommitArbiter(path, arb)
    try {
      LakeTable.overwrite(Seq((0L, "seed")).toDF("k", "tag"), path)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val writes = (1 to 6).map { i =>
        scala.concurrent.Future {
          LakeTable.append(Seq((i.toLong, s"w$i")).toDF("k", "tag"), path)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(writes),
        scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      assert(LakeTable.read(spark, path).count() === 7,
        "every HTTP-arbitrated append must land exactly once")
    } finally {
      LakeTable.setCommitArbiter(path, RenameArbiter)
      arb.close()
      srv.close()
    }
  }

  test("HTTP read plane: a catalog session resolves tables knowing only the URL") {
    val wh = "/tmp/graft_test/resthttp_wh"
    SparkSpec.rmdir(wh)
    val srv = new graft.sources.CatalogHttpServer(warehouse = Some(wh))
    val cat = "rhttp"
    try {
      // uri ONLY — this catalog has no warehouse conf and no path
      // knowledge; every table it touches resolves through the service
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:${srv.port}")
      spark.sql(s"CREATE NAMESPACE $cat.db")
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).contains("db"))
      // CREATE through the service: the SERVER assigns the location
      spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, tag STRING) USING graftlake")
      val loc = srv.locationOf(Seq("db"), "t").get
      assert(loc.startsWith(wh), s"server must assign from its warehouse: $loc")
      assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
        .map(_.getString(1)).toSeq === Seq("t"))
      // INSERTs commit THROUGH the service's arbiter: the server-held
      // head pointer tracks every commit
      spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b')")
      spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'c')")
      assert(spark.sql(s"SELECT k FROM $cat.db.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
      assert(srv.headOf(loc) === LakeTable.latestVersion(loc).get,
        "the service must have arbitrated (and therefore tracked) every commit")
      // loadTable over HTTP answers the head pointer + location
      val client = new graft.sources.RestCatalogClient(s"http://127.0.0.1:${srv.port}")
      val (gotLoc, gotV) = client.loadTable(Seq("db"), "t").get
      assert(gotLoc === loc && gotV === srv.headOf(loc))
      // a PRE-EXISTING path table registers and then resolves through
      // the catalog — the session never saw its disk path
      val ext = "/tmp/graft_test/resthttp_external"
      SparkSpec.rmdir(ext)
      LakeTable.overwrite(Seq((10L, 5.0), (20L, 7.0)).toDF("id", "x"), ext)
      assert(client.registerTable(Seq("db"), "ext", Some(ext)).contains(ext))
      assert(spark.sql(s"SELECT sum(id) FROM $cat.db.ext").head.getLong(0) === 30L)
      // metadata tables resolve through the service identifier too
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t.history").head
        .getLong(0) >= 3L)
      // time travel through the service identifier
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 0")
        .head.getLong(0) === 0L, "v0 is the empty CREATE sentinel")
      // unknown table → the standard named miss, not a path error
      val e = intercept[Exception](spark.sql(s"SELECT * FROM $cat.db.nope").collect())
      assert(e.getMessage.contains("nope"), e.getMessage)
      // ALTER resolves through the service too (an audited property
      // commit on the service-registered location)
      spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('graft.probe'='12')")
      assert(spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
        .exists(r => r.getString(0) == "graft.probe" && r.getString(1) == "12"))
      // RENAME through the service registry (the path catalog refuses
      // this by design — the registry IS the missing indirection):
      // zero bytes move, the new name serves the same rows, the old
      // name misses, and a conflicting destination answers 409
      spark.sql(s"ALTER TABLE $cat.db.t RENAME TO db.t2")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.t2").head.getLong(0) === 3L)
      assert(client.loadTable(Seq("db"), "t").isEmpty)
      assert(client.loadTable(Seq("db"), "t2").map(_._1).contains(loc),
        "rename must keep the storage location")
      assert(client.renameTable(Seq("db"), "ext", Seq("db"), "t2") === "exists")
      spark.sql(s"ALTER TABLE $cat.db.t2 RENAME TO db.t") // restore
      // DROP unregisters on the service and removes storage
      spark.sql(s"DROP TABLE $cat.db.ext")
      assert(client.loadTable(Seq("db"), "ext").isEmpty)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ext)))
      // CALL register_table binds a pre-existing lake location through
      // the registry (the uri-mode green path of the procedure; the
      // path catalog refuses it — CallProcedureSpec)
      val ext2 = "/tmp/graft_test/resthttp_external2"
      SparkSpec.rmdir(ext2)
      LakeTable.overwrite(Seq((7L, 1.0)).toDF("id", "x"), ext2)
      val reg = spark.sql(s"CALL $cat.system.register_table(" +
        s"table => 'db.ext2', metadata_location => '$ext2')").collect()
      assert(reg.length === 1 && reg.head.getString(0) === ext2)
      assert(spark.sql(s"SELECT sum(id) FROM $cat.db.ext2").head.getLong(0) === 7L)
      // double registration answers the 409 as a named refusal
      val eReg = intercept[Exception](spark.sql(
        s"CALL $cat.system.register_table(table => 'db.ext2', " +
          s"metadata_location => '$ext2')").collect())
      assert(eReg.getMessage.contains("already exists"), eReg.getMessage)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.uri")
      srv.close()
    }
  }

  test("HTTP read plane: views created through the service resolve from a second session") {
    val wh = "/tmp/graft_test/resthttp_views_wh"
    SparkSpec.rmdir(wh)
    val srv = new graft.sources.CatalogHttpServer(warehouse = Some(wh))
    val (c1, c2) = ("rhview1", "rhview2")
    try {
      // TWO catalog sessions knowing only the URL — the second never
      // sees a disk path; every view resolves through the registry
      Seq(c1, c2).foreach { c =>
        spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$c.uri", s"http://127.0.0.1:${srv.port}")
      }
      spark.sql(s"CREATE NAMESPACE $c1.db")
      spark.sql(s"CREATE TABLE $c1.db.t (k BIGINT, v DOUBLE) USING graftlake")
      spark.sql(s"INSERT INTO $c1.db.t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
      spark.sql(
        s"CREATE VIEW $c1.db.big AS SELECT k, v FROM $c1.db.t WHERE v >= 20.0")
      val loc = srv.viewLocationOf(Seq("db"), "big").get
      assert(loc.startsWith(wh), s"server must assign from its warehouse: $loc")
      // the SECOND session: discovery, read, and version travel
      assert(spark.sql(s"SHOW VIEWS IN $c2.db").collect()
        .map(_.getString(1)).contains("big"))
      assert(spark.sql(s"SELECT sum(k) FROM $c2.db.big").head.getLong(0) === 5L)
      spark.sql(s"CREATE OR REPLACE VIEW $c2.db.big AS " +
        s"SELECT k, v FROM $c2.db.t WHERE v >= 30.0")
      assert(spark.sql(s"SELECT sum(k) FROM $c1.db.big").head.getLong(0) === 3L,
        "session 1 must read the replaced definition")
      val hist = spark.sql(
        s"SELECT version FROM $c1.db.big.versions ORDER BY version").collect()
        .map(_.getInt(0)).toSeq
      assert(hist === Seq(0, 1), "REPLACE must keep the definition history")
      // client-level load answers location + current version
      val client = new graft.sources.RestCatalogClient(s"http://127.0.0.1:${srv.port}")
      assert(client.loadView(Seq("db"), "big").contains((loc, 1)))
      assert(client.listViews(Seq("db")).contains(Seq("big")))
      // a view name cannot shadow a registered table (409 → refusal)
      val clash = intercept[Exception](spark.sql(
        s"CREATE VIEW $c2.db.t AS SELECT 1 AS one"))
      assert(clash.getMessage.toLowerCase.contains("exists")
        || clash.getMessage.contains("t"), clash.getMessage)
      // uri-mode RENAME VIEW (round-16 #8): pure registry indirection.
      // The OTHER session resolves the new name, the old name 404s,
      // and the storage directory never moved.
      spark.sql(s"ALTER VIEW $c2.db.big RENAME TO $c2.db.bigger")
      assert(spark.sql(s"SELECT sum(k) FROM $c1.db.bigger").head.getLong(0) === 3L,
        "session 1 must resolve the renamed view")
      assert(srv.viewLocationOf(Seq("db"), "big").isEmpty,
        "the old name must unregister")
      assert(srv.viewLocationOf(Seq("db"), "bigger").contains(loc),
        "the registry row moved; the storage location did not")
      val old404 = intercept[Exception](spark.sql(
        s"SELECT * FROM $c2.db.big").collect())
      assert(old404.getMessage.contains("big"), old404.getMessage)
      assert(client.renameView(Seq("db"), "big", Seq("db"), "whatever")
        === "no-source", "renaming the gone name must 404")
      // cross-409: a rename onto a registered TABLE name refuses (the
      // shared-namespace rule, arbitrated server-side)
      val renClash = intercept[Exception](spark.sql(
        s"ALTER VIEW $c2.db.bigger RENAME TO $c2.db.t"))
      assert(renClash.getMessage.toLowerCase.contains("exists")
        || renClash.getMessage.contains("t"), renClash.getMessage)
      // DROP from the second session unregisters and removes storage
      spark.sql(s"DROP VIEW $c2.db.bigger")
      assert(srv.viewLocationOf(Seq("db"), "bigger").isEmpty)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(loc)))
      val gone = intercept[Exception](spark.sql(s"SELECT * FROM $c1.db.bigger").collect())
      assert(gone.getMessage.contains("bigger"), gone.getMessage)
    } finally {
      Seq(c1, c2).foreach { c =>
        spark.conf.unset(s"spark.sql.catalog.$c")
        spark.conf.unset(s"spark.sql.catalog.$c.uri")
      }
      srv.close()
    }
  }

  test("HTTP: timeout is ambiguous → throws and discards the connection") {
    // an HTTP server that accepts but never answers
    val stall = new java.net.ServerSocket(
      0, 5, java.net.InetAddress.getLoopbackAddress)
    try {
      val c = new graft.sources.HttpCatalogArbiter("127.0.0.1",
        stall.getLocalPort, timeoutMs = 300)
      val t0 = System.nanoTime()
      val e = intercept[CommitArbitrationException](c.tryClaim("t", 0))
      val ms = (System.nanoTime() - t0) / 1e6
      assert(e.getMessage.contains("ambiguous"), e.getMessage)
      assert(ms < 5000, s"must fail within the timeout, took $ms ms")
      c.close()
    } finally stall.close()
  }

  test("HTTP: a timeout DISCARDS the connection — the late answer can never desync") {
    // a loopback HTTP server whose FIRST reply, a 200, is held until
    // the client's request has timed out; every later request answers
    // a prompt 409. A client that kept the connection would read the
    // stale 200 as `true` for its next request; a correct one reads
    // exactly `false` per fresh request.
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 5)
    val release = new java.util.concurrent.CountDownLatch(1)
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val (status, body) =
        if (first.compareAndSet(true, false)) { release.await(); (200, """{"ok":true}""") }
        else (409, """{"error":"commit conflict"}""")
      // the held reply's client has gone: its write may fail
      try {
        ex.sendResponseHeaders(status, body.length.toLong)
        ex.getResponseBody.write(body.getBytes("UTF-8"))
      } catch { case _: java.io.IOException => () }
      finally ex.close()
    })
    srv.start()
    try {
      val c = new HttpCatalogArbiter("127.0.0.1", srv.getAddress.getPort, timeoutMs = 2000)
      try {
        val e = intercept[CommitArbitrationException](c.tryClaim("t", 0))
        assert(e.getMessage.contains("ambiguous"), e.getMessage)
        // only now may the stale 200 go out, on the discarded socket
        release.countDown()
        assert(!c.tryClaim("t", 1), "post-timeout request must pair with ITS answer")
        assert(!c.tryClaim("t", 2))
      } finally c.close()
    } finally { release.countDown(); srv.stop(0) }
  }

  test("HTTP: a dropped idle connection reconnects once; a dead server throws") {
    val srv = new CatalogHttpServer()
    val c = new HttpCatalogArbiter("127.0.0.1", srv.port)
    try {
      c.observed("t", -1)
      assert(c.tryClaim("t", 0))
      c.published("t", 0)
      // kill the transport under the client, server stays up: the
      // next request reconnects transparently (unambiguous failure)
      c.close()
      assert(c.tryClaim("t", 1))
      c.published("t", 1)
      assert(srv.headOf("t") === 1)
      // server gone entirely → loud failure, never a silent grant
      srv.close()
      c.close()
      intercept[CommitArbitrationException](c.tryClaim("t", 2))
    } finally { c.close(); srv.close() }
  }

  test("TXN: multi-table claims are all-or-nothing; re-entry consumes once") {
    val inner = new graft.sources.InProcessCatalogArbiter()
    val w1 = new graft.sources.OwnedArbiter(inner, "w1")
    val w2 = new graft.sources.OwnedArbiter(inner, "w2")
    w1.observed("a", 0); w1.observed("b", 5)
    // a stale assertion on ONE table takes NOTHING on the other
    assert(!w1.tryClaimAll(Seq("a" -> 1, "b" -> 9)),
      "b is at 5; claiming 9 must refuse the whole transaction")
    assert(w2.tryClaim("a", 1), "table a must be untouched by the refusal")
    w2.abandon("a", 1)
    // a successful transaction holds BOTH; other owners refuse on each
    assert(w1.tryClaimAll(Seq("a" -> 1, "b" -> 6)))
    assert(!w2.tryClaim("a", 1) && !w2.tryClaim("b", 6),
      "transaction claims must exclude other writers")
    assert(!w2.tryClaimAll(Seq("a" -> 1, "b" -> 6)),
      "another owner's transaction must refuse against held claims")
    // the owner's own per-table claim re-enters ONCE (then consumed)
    assert(w1.tryClaim("a", 1), "the transaction owner's commit re-enters")
    assert(!w1.tryClaim("a", 1),
      "re-entry consumes the mark: a duplicate claim refuses as always")
    w1.published("a", 1); w1.published("b", 6)
    assert(inner.headOf("a") === 1 && inner.headOf("b") === 6)
  }

  test("TXN: plain same-owner claims never re-enter (shared-client threads stay safe)") {
    val inner = new graft.sources.InProcessCatalogArbiter()
    val w = new graft.sources.OwnedArbiter(inner, "shared")
    w.observed("t", 0)
    assert(w.tryClaim("t", 1))
    assert(!w.tryClaim("t", 1),
      "two threads sharing one writer identity must not double-claim")
  }

  test("TXN: HTTP end-to-end — atomic cross-table appends under contention") {
    val (p1, p2) = ("/tmp/graft_test/txn_t1", "/tmp/graft_test/txn_t2")
    SparkSpec.rmdir(p1); SparkSpec.rmdir(p2)
    val srv = new graft.sources.CatalogHttpServer()
    val arb = new graft.sources.HttpCatalogArbiter("127.0.0.1", srv.port)
    LakeTable.setCommitArbiter(p1, arb)
    LakeTable.setCommitArbiter(p2, arb)
    try {
      LakeTable.overwrite(Seq((0L, "seed")).toDF("k", "tag"), p1)
      LakeTable.overwrite(Seq((0L, "seed")).toDF("k", "tag"), p2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // two transaction writers land (i, txn) on BOTH tables while a
      // single-table writer contends on t1 — every row exactly once
      val txns = (1 to 4).map { i =>
        scala.concurrent.Future {
          LakeTable.appendTransaction(spark, Seq(
            (Seq((i.toLong, s"txn$i")).toDF("k", "tag"), p1),
            (Seq((i.toLong, s"txn$i")).toDF("k", "tag"), p2)))
        }
      }
      val singles = (10 to 12).map { i =>
        scala.concurrent.Future {
          LakeTable.append(Seq((i.toLong, s"solo$i")).toDF("k", "tag"), p1)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(txns ++ singles),
        scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      val t1 = LakeTable.read(spark, p1).collect().map(_.getLong(0)).sorted.toSeq
      val t2 = LakeTable.read(spark, p2).collect().map(_.getLong(0)).sorted.toSeq
      assert(t1 === Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L),
        s"t1 must hold every row exactly once: $t1")
      assert(t2 === Seq(0L, 1L, 2L, 3L, 4L),
        s"t2 must hold every transaction row exactly once: $t2")
      // a table name with a quote and a backslash serializes in the
      // transaction body, which JSON-escapes it (the per-table routes
      // URL-encode it instead)
      val odd = """/tmp/odd "quoted"\path"""
      assert(arb.tryClaimAll(Seq(odd -> 0)), "a fresh table's v0 claim must win")
      arb.published(odd, 0)
      assert(srv.headOf(odd) === 0)
    } finally {
      LakeTable.setCommitArbiter(p1, RenameArbiter)
      LakeTable.setCommitArbiter(p2, RenameArbiter)
      arb.close()
      srv.close()
    }
  }

  test("TXN: refusals name the requirement — non-transactional or mixed arbiters") {
    val (p1, p2) = ("/tmp/graft_test/txn_ref1", "/tmp/graft_test/txn_ref2")
    SparkSpec.rmdir(p1); SparkSpec.rmdir(p2)
    LakeTable.overwrite(Seq((0L, "x")).toDF("k", "tag"), p1)
    LakeTable.overwrite(Seq((0L, "x")).toDF("k", "tag"), p2)
    val e1 = intercept[IllegalArgumentException](
      LakeTable.appendTransaction(spark, Seq(
        (Seq((1L, "a")).toDF("k", "tag"), p1),
        (Seq((1L, "a")).toDF("k", "tag"), p2))))
    assert(e1.getMessage.contains("TransactionalArbiter"), e1.getMessage)
    val inner = new graft.sources.InProcessCatalogArbiter()
    LakeTable.setCommitArbiter(p1, new graft.sources.OwnedArbiter(inner, "w1"))
    LakeTable.setCommitArbiter(p2, new graft.sources.OwnedArbiter(inner, "w1"))
    try {
      val e2 = intercept[IllegalArgumentException](
        LakeTable.appendTransaction(spark, Seq(
          (Seq((1L, "a")).toDF("k", "tag"), p1),
          (Seq((1L, "a")).toDF("k", "tag"), p2))))
      assert(e2.getMessage.contains("DIFFERENT arbiters"), e2.getMessage)
      // same handle on both: the transaction lands
      val one = new graft.sources.OwnedArbiter(inner, "w2")
      LakeTable.setCommitArbiter(p1, one)
      LakeTable.setCommitArbiter(p2, one)
      LakeTable.appendTransaction(spark, Seq(
        (Seq((1L, "a")).toDF("k", "tag"), p1),
        (Seq((1L, "a")).toDF("k", "tag"), p2)))
      assert(LakeTable.read(spark, p1).count() === 2)
      assert(LakeTable.read(spark, p2).count() === 2)
    } finally {
      LakeTable.setCommitArbiter(p1, RenameArbiter)
      LakeTable.setCommitArbiter(p2, RenameArbiter)
    }
  }

  test("FANOUT: the replay ledger makes the multi-table txn exactly-once") {
    val (p1, p2) = ("/tmp/graft_test/fo_t1", "/tmp/graft_test/fo_t2")
    SparkSpec.rmdir(p1); SparkSpec.rmdir(p2)
    LakeTable.overwrite(Seq((0L, "seed")).toDF("k", "tag"), p1)
    LakeTable.overwrite(Seq((0L, "seed")).toDF("k", "tag"), p2)
    val inner = new graft.sources.InProcessCatalogArbiter()
    val w = new graft.sources.OwnedArbiter(inner, "fanout")
    LakeTable.setCommitArbiter(p1, w)
    LakeTable.setCommitArbiter(p2, w)
    def batch(tag: String) = Seq((1L, tag)).toDF("k", "tag")
    val q = "fanout-query"
    try {
      // batch 0 lands everywhere through one transaction
      val r0 = LakeTable.fanOutExactlyOnce(spark,
        Seq((batch("b0"), p1), (batch("b0"), p2)), q, 0L)
      assert(r0 === Seq(Some(1), Some(1)))
      // a full replay of batch 0 is a no-op on every table
      val r0again = LakeTable.fanOutExactlyOnce(spark,
        Seq((batch("dup"), p1), (batch("dup"), p2)), q, 0L)
      assert(r0again === Seq(None, None))
      assert(LakeTable.read(spark, p1).count() === 2)
      // PARTIAL replay — the crash-between-publishes recovery: land
      // batch 1 on table 1 alone (the crash left table 2 behind)...
      assert(LakeTable.fanOutExactlyOnce(spark,
        Seq((batch("b1"), p1)), q, 1L) === Seq(Some(2)))
      // ...the restart re-offers batch 1 to BOTH; only table 2 moves
      val r1 = LakeTable.fanOutExactlyOnce(spark,
        Seq((batch("b1"), p1), (batch("b1"), p2)), q, 1L)
      assert(r1 === Seq(None, Some(2)),
        "partial replay must converge the lagging table alone")
      assert(LakeTable.read(spark, p1).count() === 3)
      assert(LakeTable.read(spark, p2).count() === 3)
      // the ledger is monotone: an OLDER batch id than recorded skips
      assert(LakeTable.fanOutExactlyOnce(spark,
        Seq((batch("old"), p1), (batch("old"), p2)), q, 0L) ===
        Seq(None, None))
      // a DIFFERENT query's ledger is independent
      assert(LakeTable.fanOutExactlyOnce(spark,
        Seq((batch("other"), p1)), "other-query", 0L) === Seq(Some(3)))
      // a hidden-partitioned target rides the same ledgered commit
      val p3 = "/tmp/graft_test/fo_t3"
      SparkSpec.rmdir(p3)
      LakeTable.setPartitionSpec(p3,
        Seq(LakeTable.PartitionTransform("k", "identity")))
      LakeTable.append(Seq((0L, "seed")).toDF("k", "tag"), p3) // v0, partitioned
      LakeTable.setCommitArbiter(p3, w)
      try {
        assert(LakeTable.fanOutExactlyOnce(spark,
          Seq((batch("pb0"), p3)), q, 0L) === Seq(Some(1)))
        assert(LakeTable.fanOutExactlyOnce(spark,
          Seq((batch("pb0"), p3)), q, 0L) === Seq(None),
          "the partitioned route records the ledger too")
        assert(LakeTable.read(spark, p3).count() === 2)
      } finally LakeTable.setCommitArbiter(p3, RenameArbiter)
    } finally {
      LakeTable.setCommitArbiter(p1, RenameArbiter)
      LakeTable.setCommitArbiter(p2, RenameArbiter)
    }
  }

  test("HTTP read plane: pagination walks pages to the identical listing; bad token 401s") {
    val srv = new graft.sources.CatalogHttpServer(
      warehouse = Some("/tmp/graft_test/wire_page_wh"),
      token = Some("sesame"))
    try {
      val ok = new graft.sources.RestCatalogClient(
        s"http://127.0.0.1:${srv.port}", token = Some("sesame"))
      assert(ok.createNamespace(Seq("db")))
      val names = (1 to 7).map(i => f"t$i%02d")
      names.foreach(n => assert(ok.registerTable(Seq("db"), n).nonEmpty))
      // paginated listing (3 per page → 3 pages) ≡ the one-shot form
      assert(ok.listTables(Seq("db")) === Some(names))
      assert(ok.listTables(Seq("db"), pageSize = Some(3)) === Some(names))
      assert(ok.listTables(Seq("db"), pageSize = Some(1)) === Some(names),
        "page size 1 must still walk the full registry")
      // raw page shape: the first page carries a next-page-token
      val conn = new java.net.URI(
        s"http://127.0.0.1:${srv.port}/v1/namespaces/db/tables?pageSize=3")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestProperty("Authorization", "Bearer sesame")
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      conn.disconnect()
      assert(body.contains("next-page-token"), body)
      // wrong / missing token → 401, named refusal, nothing leaks
      val bad = new graft.sources.RestCatalogClient(
        s"http://127.0.0.1:${srv.port}", token = Some("wrong"))
      val e1 = intercept[RuntimeException](bad.listTables(Seq("db")))
      assert(e1.getMessage.contains("401"), e1.getMessage)
      val anon = new graft.sources.RestCatalogClient(
        s"http://127.0.0.1:${srv.port}")
      val e2 = intercept[RuntimeException](anon.listNamespaces())
      assert(e2.getMessage.contains("401"), e2.getMessage)
      // rename is covered by the same gate
      assert(ok.renameTable(Seq("db"), "t01", Seq("db"), "t01r") === "ok")
      intercept[RuntimeException](
        bad.renameTable(Seq("db"), "t02", Seq("db"), "t02r"))
      assert(ok.listTables(Seq("db")).get.contains("t02"),
        "an unauthorized rename must not apply")
    } finally srv.close()
  }

  test("HTTP read plane: conditional loadTable 304s until the head moves; namespaces paginate") {
    val wh = "/tmp/graft_test/wire_etag_wh"
    SparkSpec.rmdir(wh)
    val srv = new graft.sources.CatalogHttpServer(warehouse = Some(wh))
    try {
      val c = new graft.sources.RestCatalogClient(s"http://127.0.0.1:${srv.port}")
      (1 to 5).foreach(i => assert(c.createNamespace(Seq(s"ns$i"))))
      // namespaces listing pages to the identical set
      assert(c.listNamespaces(pageSize = Some(2)) === c.listNamespaces())
      assert(c.createNamespace(Seq("db")) || true)
      val loc = c.registerTable(Seq("db"), "t").get
      // first load carries an ETag; presenting it back answers 304
      val first = c.loadTableConditional(Seq("db"), "t", None)
      val etag = first match {
        case ok @ c.LoadOk(l, v, Some(e)) =>
          assert(l === loc); assert(v === -1, "untracked head reads -1"); e
        case other => fail(s"expected LoadOk with an ETag, got $other")
      }
      assert(c.loadTableConditional(Seq("db"), "t", Some(etag)) === c.LoadUnchanged,
        "an unmoved head must answer 304")
      // a commit moves the head: the stale ETag now answers 200 + new tag
      import spark.implicits._
      graft.sources.LakeTable.setCommitArbiter(loc,
        new graft.sources.HttpCatalogArbiter("127.0.0.1", srv.port))
      graft.sources.LakeTable.overwrite(Seq((1L, "a")).toDF("k", "s"), loc)
      c.loadTableConditional(Seq("db"), "t", Some(etag)) match {
        case c.LoadOk(_, v, Some(e2)) =>
          assert(v === 0, s"head must have moved, got $v")
          assert(e2 !== etag, "a moved head must mint a fresh ETag")
          assert(c.loadTableConditional(Seq("db"), "t", Some(e2)) === c.LoadUnchanged)
        case other => fail(s"expected a fresh LoadOk, got $other")
      }
      graft.sources.LakeTable.setCommitArbiter(loc, graft.sources.RenameArbiter)
    } finally srv.close()
  }
}
