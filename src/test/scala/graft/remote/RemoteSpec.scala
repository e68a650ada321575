package graft.remote

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration
import graft.tsdb.{Engine, SparkTestSession}

/** The remote SQL surface end to end: SQL in, Arrow IPC batches back over
  * TCP, decoded to a local DataFrame; INCLUDE federation against a LIVE
  * server; error propagation. Mirrors the reference's Flight integration
  * coverage (/root/reference/crates/modelardb_server/tests/integration_test.rs)
  * minus the gRPC transport, which is not on the offline classpath.
  */
class RemoteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def makeEngine(tag: String, n: Int): Engine = {
    val engine = new Engine(spark, Files.createTempDirectory("graft_remote").toString)
    engine.sql("CREATE TIME SERIES TABLE rts(ts_us TIMESTAMP, v FIELD, tag TAG)")
    val rng = new scala.util.Random(tag.hashCode.toLong)
    val ts = DataGeneration.generateTimestamps(n, irregular = false, rng)
    val vs = DataGeneration.generateValues(n, DataGeneration.Linear, Some(0.05f), rng)
    import spark.implicits._
    engine.write("rts", ts.indices.map(i => (ts(i), vs(i), tag))
      .toDF("ts_us", "v", "tag"))
    engine
  }

  test("remote sql returns the same rows as local, via arrow batches") {
    val engine = makeEngine("a", 800)
    val server = new RemoteServer(engine)
    try {
      val addr = RemoteClient.parseAddress(server.address).get
      val remote = RemoteClient.sql(spark, addr,
        "SELECT tag, count(v) AS n, min(v) AS mn, max(v) AS mx " +
          "FROM rts GROUP BY tag")
      val local = engine.sql(
        "SELECT tag, count(v) AS n, min(v) AS mn, max(v) AS mx " +
          "FROM rts GROUP BY tag")
      assert(remote.schema.fieldNames.toSeq == local.schema.fieldNames.toSeq)
      assert(remote.collect().toSeq == local.collect().toSeq)

      // Raw point scans round-trip the grid through Arrow too.
      val points = RemoteClient.sql(spark, addr,
        "SELECT * FROM rts ORDER BY ts_us LIMIT 10")
      assert(points.count() == 10)
    } finally server.close()
  }

  test("time travel executes on the remote server") {
    val engine = makeEngine("tt", 300) // v1
    import spark.implicits._
    engine.write("rts",
      Seq((1800000000000000L, 1.0f, "tt2")).toDF("ts_us", "v", "tag")) // v2
    val server = new RemoteServer(engine)
    try {
      val addr = RemoteClient.parseAddress(server.address).get
      val atV1 = RemoteClient.sql(spark, addr,
        "SELECT COUNT(*) AS n FROM rts VERSION AS OF 1")
        .collect().head.getLong(0)
      val atHead = RemoteClient.sql(spark, addr,
        "SELECT COUNT(*) AS n FROM rts")
        .collect().head.getLong(0)
      assert(atV1 == 300L, s"snapshot count must be the first write, got $atV1")
      assert(atHead == 301L)
    } finally server.close()
  }

  test("large results stream across many arrow batches intact") {
    val engine = makeEngine("big", 30000) // > 3 batches at 8192 records each
    val server = new RemoteServer(engine)
    try {
      val addr = RemoteClient.parseAddress(server.address).get
      val remote = RemoteClient.sql(spark, addr,
        "SELECT ts_us, v, tag FROM rts ORDER BY ts_us")
      assert(remote.count() == 30000)
      // Spot-check content equality against local execution, not just size.
      val localSum = engine.sql("SELECT sum(CAST(v AS DOUBLE)) FROM rts")
        .collect().head.getDouble(0)
      val remoteSum = remote.agg(sum(col("v").cast("double")))
        .collect().head.getDouble(0)
      assert(math.abs(remoteSum - localSum) <= math.abs(localSum) * 1e-9)
    } finally server.close()
  }

  test("empty results carry their schema") {
    val engine = makeEngine("b", 50)
    val server = new RemoteServer(engine)
    try {
      val addr = RemoteClient.parseAddress(server.address).get
      val empty = RemoteClient.sql(spark, addr,
        "SELECT tag, v FROM rts WHERE tag = 'nope'")
      assert(empty.count() == 0)
      assert(empty.schema.fieldNames.toSeq == Seq("tag", "v"))
    } finally server.close()
  }

  test("remote INSERT ingests through the compression path (do_put parity)") {
    val engine = makeEngine("ins", 100)
    val server = new RemoteServer(engine)
    try {
      val addr = RemoteClient.parseAddress(server.address).get
      RemoteClient.sql(spark, addr,
        "INSERT INTO rts VALUES (TIMESTAMP '2024-01-01 00:00:00', 42.0, 'remote')")
      val n = RemoteClient.sql(spark, addr,
        "SELECT count(v) AS n FROM rts WHERE tag = 'remote'")
        .collect().head.getLong(0)
      assert(n == 1L, "remotely inserted row must be queryable")
      assert(engine.readTable("rts").count() == 101)
    } finally server.close()
  }

  test("remote errors propagate with the server's message") {
    val engine = makeEngine("c", 50)
    val server = new RemoteServer(engine)
    try {
      val addr = RemoteClient.parseAddress(server.address).get
      val e = intercept[IllegalStateException] {
        RemoteClient.sql(spark, addr, "SELECT * FROM no_such_table")
      }
      assert(e.getMessage.contains("no_such_table"))
    } finally server.close()
  }

  test("INCLUDE federates a live server with the local folder") {
    val localEngine = makeEngine("local", 300)
    val remoteEngine = makeEngine("remote", 200)
    val server = new RemoteServer(remoteEngine)
    try {
      val union = localEngine.sql(
        s"INCLUDE '${server.address}' SELECT count(v) AS n FROM rts")
      // One row per participant; totals add up to both folders.
      val counts = union.collect().map(_.getLong(0)).toSeq
      assert(counts.sorted == Seq(200L, 300L))

      // Folder-root INCLUDE still works alongside server addresses.
      val viaFolder = localEngine.sql(
        s"INCLUDE '${remoteEngine.root}' SELECT count(v) AS n FROM rts")
      assert(viaFolder.collect().map(_.getLong(0)).toSeq.sorted == Seq(200L, 300L))
    } finally server.close()
  }

  test("the CLI client loop executes, lists tables, and survives errors") {
    val engine = makeEngine("cli", 300)
    val server = new RemoteServer(engine)
    try {
      val addr = RemoteClient.parseAddress(server.address).get
      val buf = new java.io.ByteArrayOutputStream()
      val out = new java.io.PrintStream(buf, true, "UTF-8")
      ClientMain.runStatements(spark, addr, Iterator(
        "SELECT count(v) AS n",   // multi-line statement...
        "FROM rts;",              // ...terminated here
        "\\dt",
        "SELECT broken FROM nowhere;", // must print an error, not die
        "SELECT 'after-error' AS ok;",
        "\\q",
        "SELECT 'never-runs' AS x;"), out)
      val printed = buf.toString("UTF-8")
      assert(printed.contains("300"), s"count output missing:\n$printed")
      assert(printed.contains("rts") && printed.contains("time series"),
        "\\dt must list the server's tables")
      assert(printed.contains("error:"), "errors must print and continue")
      assert(printed.contains("after-error"), "loop must survive an error")
      assert(!printed.contains("never-runs"), "\\q must stop the loop")
    } finally server.close()
  }

  test("a client that stalls or trickles its request is dropped, and serving goes on") {
    val engine = makeEngine("idle", 50)
    val server = new RemoteServer(engine)
    val timeoutMs = RemoteServer.RequestTimeoutMs
    val addr = RemoteClient.parseAddress(server.address).get
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    try {
      // Statement execution itself has no deadline: a statement that runs
      // longer than the request timeout, alongside the dropped clients,
      // still answers.
      val slow = Future(RemoteClient.sql(spark, addr,
        "SELECT count(*) AS n FROM rts CROSS JOIN (SELECT reflect(" +
          s"'java.lang.Thread', 'sleep', CAST(${timeoutMs + 500} AS BIGINT)) AS z)")
        .collect().head.getLong(0))
      val silent = new java.net.Socket("localhost", server.boundPort)
      // Announces a 1000-byte request, then sends one byte every 200 ms:
      // each read sees data well inside the timeout, so only a deadline
      // on the whole request ends it.
      val trickle = new java.net.Socket("localhost", server.boundPort)
      @volatile var trickling = true
      val writer = new Thread(() => {
        val out = trickle.getOutputStream
        try {
          out.write(java.nio.ByteBuffer.allocate(4).putInt(1000).array())
          while (trickling) { out.write('x'); out.flush(); Thread.sleep(200) }
        } catch { case _: java.io.IOException => } // the server hung up
      })
      writer.setDaemon(true)
      writer.start()
      try {
        // The server closes both connections once its request timeout has
        // passed (a close with trickled bytes unread may arrive as a
        // reset); a server without one leaves these reads blocked until
        // the client's own timeout fails them.
        val t0 = System.nanoTime()
        for (c <- Seq(silent, trickle)) {
          c.setSoTimeout(3 * timeoutMs)
          val closed =
            try c.getInputStream.read() == -1
            catch { case _: java.net.SocketException => true }
          assert(closed)
        }
        assert((System.nanoTime() - t0) / 1e6 < 2 * timeoutMs)
      } finally {
        trickling = false
        silent.close(); trickle.close()
        writer.join(5000)
      }
      assert(Await.result(slow, 60.seconds) == 50L)
    } finally server.close()
  }

  test("parseAddress accepts only graft:// endpoints") {
    assert(RemoteClient.parseAddress("graft://host:9999")
      .contains(RemoteClient.Address("host", 9999)))
    assert(RemoteClient.parseAddress("/data/folder").isEmpty)
    assert(RemoteClient.parseAddress("s3a://bucket/root").isEmpty)
  }
}
