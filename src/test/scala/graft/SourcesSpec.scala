package graft

import java.io.ByteArrayOutputStream
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Http, Readers, WarehouseSink}

/** Out-of-engine source/sink edges: the HTTP fetch utility (against a local
  * socket stub — zero egress) and the JDBC sink round-trip (embedded Derby,
  * which ships in /opt/spark/jars). */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  /** Serve `responses` (raw HTTP bytes) to consecutive connections on an
    * ephemeral port, consuming each request's header block first. */
  private def withStubServer(responses: Seq[String])(
      body: Int => Unit): Unit = {
    val server = new ServerSocket(0)
    val thread = new Thread(() => {
      responses.foreach { resp =>
        val s = server.accept()
        try {
          val in = s.getInputStream
          val seen = new ByteArrayOutputStream()
          var c = in.read()
          var done = c == -1
          while (!done) {
            seen.write(c)
            if (seen.toString(US_ASCII).endsWith("\r\n\r\n")) done = true
            else {
              c = in.read()
              done = c == -1
            }
          }
          s.getOutputStream.write(resp.getBytes(US_ASCII))
          s.getOutputStream.flush()
        } finally s.close()
      }
    })
    thread.setDaemon(true)
    thread.start()
    try body(server.getLocalPort)
    finally server.close()
  }

  private def resp(code: String, bodyText: String): String =
    s"HTTP/1.1 $code\r\nContent-Length: ${bodyText.length}\r\n" +
      s"Connection: close\r\n\r\n$bodyText"

  test("Http.fetchWithRetry recovers from a transient 500 on the retry") {
    withStubServer(Seq(
      resp("500 Internal Server Error", ""),
      resp("200 OK", "trip-bytes"))) { port =>
      val got = Http.fetchWithRetry(s"http://127.0.0.1:$port/data.parquet",
        retries = 1, backoffMs = 10L)
      assert(new String(got, US_ASCII) === "trip-bytes")
    }
  }

  test("Http.fetchWithRetry fails fast on 404 (the skip branch, not retry)") {
    withStubServer(Seq(resp("404 Not Found", ""))) { port =>
      val e = intercept[IllegalArgumentException] {
        Http.fetchWithRetry(s"http://127.0.0.1:$port/missing-month",
          retries = 3, backoffMs = 10L)
      }
      assert(e.getMessage.contains("404"))
      // and the URL (which may carry credentials) is not in the error
      assert(!e.getMessage.contains("127.0.0.1"))
    }
  }

  test("Http.fetchWithRetry follows a redirect to the new location") {
    // stub: 301 to /moved on the same socket, then the real payload
    def respRedirect(port: Int): String =
      s"HTTP/1.1 301 Moved Permanently\r\n" +
        s"Location: http://127.0.0.1:$port/moved\r\n" +
        "Content-Length: 0\r\nConnection: close\r\n\r\n"
    val server = new ServerSocket(0)
    try {
      val port = server.getLocalPort
      val thread = new Thread(() => {
        Seq(respRedirect(port), resp("200 OK", "moved-bytes")).foreach { r =>
          val s = server.accept()
          try {
            val in = s.getInputStream
            val seen = new ByteArrayOutputStream()
            var c = in.read()
            var done = c == -1
            while (!done) {
              seen.write(c)
              if (seen.toString(US_ASCII).endsWith("\r\n\r\n")) done = true
              else { c = in.read(); done = c == -1 }
            }
            s.getOutputStream.write(r.getBytes(US_ASCII))
            s.getOutputStream.flush()
          } finally s.close()
        }
      })
      thread.setDaemon(true)
      thread.start()
      val got = Http.fetchWithRetry(s"http://127.0.0.1:$port/old",
        retries = 0, backoffMs = 10L)
      assert(new String(got, US_ASCII) === "moved-bytes")
    } finally server.close()
  }

  test("Http.fetchWithRetry redacts the URL from every error path") {
    // malformed URL: URI.create's message embeds the raw input — must not
    val bad = intercept[IllegalArgumentException] {
      Http.fetchWithRetry("http://host/with space?X-Sig=SECRET", retries = 0)
    }
    assert(!bad.getMessage.contains("SECRET"))
    // unresolvable host: UnknownHostException carries the hostname
    val io = intercept[java.io.IOException] {
      Http.fetchWithRetry("http://secret-host-name.invalid/x",
        retries = 0, backoffMs = 1L, connectTimeoutMs = 500,
        readTimeoutMs = 500)
    }
    assert(!io.getMessage.contains("secret-host-name"))
    assert(io.getCause === null)
  }

  test("Http.fetchWithRetry exhausts retries and surfaces the IO error") {
    withStubServer(Seq(
      resp("503 Service Unavailable", ""),
      resp("502 Bad Gateway", ""))) { port =>
      val e = intercept[java.io.IOException] {
        Http.fetchWithRetry(s"http://127.0.0.1:$port/flaky",
          retries = 1, backoffMs = 10L)
      }
      assert(e.getMessage.contains("502"))
    }
  }

  test("JDBC sink round-trips the conformed trip table through Derby") {
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftwh;create=true"
    val trips = Schemas.conform(
      ops.Pipeline.syntheticTripsRaw(spark, SparkSuite.sf),
      Schemas.fhvhvTripdata, Schemas.fhvhvRenames)
      .orderBy(col("dispatching_base_num")).limit(200)
    WarehouseSink.jdbcAppend(trips, url, "trips", props).save()
    def readBack = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "trips")
      .option("driver", props("driver")).load()
    val back = readBack
    assert(back.count() === 200)
    assert(back.columns.sorted === trips.columns.sorted)
    assert(back.exceptAll(trips).isEmpty && trips.exceptAll(back).isEmpty)
    // blind append is the reference's semantic (etl.py:53-55): a re-run
    // doubles the rows — which is exactly why dedupAppend exists
    WarehouseSink.jdbcAppend(trips, url, "trips", props).save()
    assert(readBack.count() === 400)
    assert(WarehouseSink.dedupAppend(trips, readBack,
      ops.Pipeline.tripKey).count() === 0)
  }

  test("staged JDBC load lands via the staging dir and is retryable " +
    "from staged files alone") {
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftstage;create=true"
    val trips = Schemas.conform(
      ops.Pipeline.syntheticTripsRaw(spark, SparkSuite.sf),
      Schemas.fhvhvTripdata, Schemas.fhvhvRenames)
      .orderBy(col("dispatching_base_num")).limit(150)
    val staging = Scratch.lasting("graft-staging").toString + "/batch1"
    val n = WarehouseSink.stagedJdbcLoad(trips, staging, url,
      "trips_staged", props)
    assert(n === 150L)
    def readBack = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "trips_staged")
      .option("driver", props("driver")).load()
    assert(readBack.count() === 150)
    assert(readBack.exceptAll(trips).isEmpty &&
      trips.exceptAll(readBack).isEmpty)
    // the staged copy is the durable handoff: a retry loads from the
    // FILES, with the upstream lineage gone entirely
    val staged = spark.read.parquet(staging)
    WarehouseSink.jdbcAppend(staged, url, "trips_staged", props).save()
    assert(readBack.count() === 300)
  }

  test("raw-zone compaction shrinks file counts without changing data") {
    import spark.implicits._
    val root = Scratch.lasting("compact").toString
    // six small appends → six files per year partition
    (1 to 6).foreach { i =>
      WarehouseSink.rawZoneAppend(
        Seq((i.toLong, java.sql.Timestamp.valueOf(s"2023-0$i-01 00:00:00")),
          (100L + i, java.sql.Timestamp.valueOf(s"2024-0$i-01 00:00:00")))
          .toDF("id", "ts"),
        root, "ts")
    }
    val before = spark.read.parquet(root)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val plan1 = WarehouseSink.compactionPlan(spark, root, targetBytes = 128L * 1024 * 1024)
    assert(plan1.map(_.partition).toSet === Set("year=2023", "year=2024"))
    plan1.foreach { e =>
      assert(e.n_files === 6 && e.target_files === 1 && e.compact)
    }
    plan1.filter(_.compact).foreach(e =>
      WarehouseSink.compactPartition(spark, root, e.partition, e.target_files))
    val plan2 = WarehouseSink.compactionPlan(spark, root, targetBytes = 128L * 1024 * 1024)
    plan2.foreach(e => assert(e.n_files === 1 && !e.compact, e.toString))
    val after = spark.read.parquet(root)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(after === before, "compaction must be a pure layout change")
  }

  test("z-order buckets confine both keys to one 16-wide rectangle") {
    import graft.sources.ZOrder
    val rows = ZOrder.q86Zorder(spark, SparkSuite.sf).collect()
    assert(rows.length > 1, "degenerate single-bucket layout proves nothing")
    rows.foreach { r =>
      val (minPk, maxPk) = (r.getLong(2), r.getLong(3))
      val (minSk, maxSk) = (r.getLong(4), r.getLong(5))
      assert(maxPk - minPk < 16 && maxSk - minSk < 16,
        s"z bucket ${r.getLong(0)} spans a wider key rectangle than the " +
          s"Morton top-bits guarantee: pk [$minPk,$maxPk] sk [$minSk,$maxSk]")
      // and the fixed top-4-bits form of the same statement
      assert(minPk >> 4 === maxPk >> 4)
      assert(minSk >> 4 === maxSk >> 4)
    }
  }

  test("morton interleave round-trips hand-computed codes") {
    import graft.sources.ZOrder
    import spark.implicits._
    // interleave(0b101, 0b011) with 3 bits: a bits at even positions
    // (1,0,1 -> 1,4,16 taken where set: 1 + 16), b at odd (1,1,0 -> 2+8)
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.mortonInterleave(col("a"), col("b"), 3).as("z"))
      .head().getLong(0)
    assert(got === (1L | 16L | 2L | 8L))
  }

  test("ORC round-trips lineitem losslessly through the ingest boundary") {
    val sp = SparkSuite.session
    val dir = Scratch.lasting("graft-orc")
      .toString + "/li"
    val li = Tables.lineitem(sp, SparkSuite.sf).limit(200)
    li.write.orc(dir)
    val back = Readers.ingest(sp, dir, "orc",
      sourceSchema = li.schema, target = li.schema)
    assert(back.schema === li.schema)
    val key = Seq("l_orderkey", "l_linenumber").map(col)
    assert(back.orderBy(key: _*).collect().toSeq ===
      li.orderBy(key: _*).collect().toSeq)
  }
}
