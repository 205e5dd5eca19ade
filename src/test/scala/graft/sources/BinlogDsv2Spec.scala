package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.TestSpark
import BinlogFormat.ColumnDef

/** The DataSource V2 packaging of the socket tail
  * (`spark.readStream.format("mysql-binlog")`): offset json stability,
  * schema/option validation, the catalyst conversion surface, and the
  * e2e offset-log contract — restart resumes from Spark's own
  * checkpoint, replaying nothing, with `_seq` replay-stable. */
class BinlogDsv2Spec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark

  private val cols = IndexedSeq(
    ColumnDef(BinlogFormat.TypeLongLong, 0),  // id
    ColumnDef(BinlogFormat.TypeDouble, 8))    // bal
  private val rowSchema = StructType.fromDDL("id BIGINT, bal DOUBLE")
  private def insert(k: Long) =
    BinlogFixture.Change.insert(IndexedSeq[Any](k, k.toDouble))

  test("offset json roundtrips; garbage is rejected loudly") {
    val o = BinlogSourceOffset("a-bin.000007", 1234L, 56L)
    assert(o.json() == """{"file":"a-bin.000007","pos":1234,"count":56}""")
    assert(BinlogSourceOffset.parse(o.json()) == o)
    assertThrows[IllegalArgumentException](
      BinlogSourceOffset.parse("""{"pos":1}"""))
    // a file name that would corrupt the json is refused at construction
    assertThrows[IllegalArgumentException](
      BinlogSourceOffset("""a"b""", 4L, 0L))
  }

  test("schema without the meta tail and missing options fail at plan time") {
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("mysql-binlog").schema(rowSchema)
        .option("host", "127.0.0.1").option("port", "1").option("user", "u")
        .option("password", "p").option("table", "t").load()
    }
    assert(e.getMessage.contains("withMeta"))
    val e2 = intercept[IllegalArgumentException] {
      spark.readStream.format("mysql-binlog")
        .schema(MysqlBinlogSource.withMeta(rowSchema))
        .option("host", "127.0.0.1").option("port", "1").option("user", "u")
        .option("table", "t").load()
    }
    assert(e2.getMessage.contains("password"))
    // no schema at all: the inferSchema path must point at withMeta
    val e3 = intercept[IllegalArgumentException] {
      spark.readStream.format("mysql-binlog")
        .option("host", "127.0.0.1").option("port", "1").option("user", "u")
        .option("password", "p").option("table", "t").load()
    }
    assert(e3.getMessage.contains("schema"))
  }

  test("toCatalyst covers the decode surface and rejects the unmapped") {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val f = BinlogPartitionReaderFactory.toCatalyst _
    assert(f("x", StringType) == UTF8String.fromString("x"))
    assert(f(java.lang.Long.valueOf(7L), LongType) == 7L)
    assert(f(java.lang.Double.valueOf(1.5), DoubleType) == 1.5)
    assert(f(null, StringType) == null)
    assert(f(java.sql.Date.valueOf("1970-01-11"), DateType) == 10)
    // absolute-instant construction: Timestamp.valueOf would read LOCAL
    // wall time and make the expectation JVM-default-zone dependent
    val ts = new java.sql.Timestamp(1000L)
    ts.setNanos(1000)
    assert(f(ts, TimestampType) == 1000001L)
    // DATETIME's zone-less form: micros of the wall-clock value itself
    assert(f(java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 1, 1000),
      TimestampNTZType) == 1000001L)
    val dec = new java.math.BigDecimal("12.34")
    assert(f(dec, DecimalType(10, 2)) ==
      Decimal(scala.math.BigDecimal(dec), 10, 2))
    assertThrows[IllegalStateException](f(new Object, StringType))
  }

  test("e2e: AvailableNow drains the log; a restarted query on the same " +
      "checkpoint replays nothing and streams only the growth") {
    val firstHalf = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 6L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    val full = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 10L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    val srv = new BinlogFixtureServer(
      IndexedSeq("dsv2-bin.000001" -> full), "repl", "graft-secret")
    srv.truncate("dsv2-bin.000001", firstHalf.length)
    try {
      val ckp = graft.GateCache.tempDir("graft_dsv2_spec_ckp").toString
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def drain(): Unit = {
        val q = spark.readStream.format("mysql-binlog")
          .schema(MysqlBinlogSource.withMeta(rowSchema))
          .option("host", "127.0.0.1").option("port", srv.port.toString)
          .option("user", "repl").option("password", "graft-secret")
          .option("table", "t")
          .option("startFile", "dsv2-bin.000001").option("startPos", "4")
          .load()
        q.writeStream.option("checkpointLocation", ckp)
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              seen.synchronized {
                seen ++= b.select("id", "_seq").collect()
                  .map(r => (r.getLong(0), r.getLong(1)))
              }
              ()
          }
          .start().awaitTermination()
      }
      drain()
      assert(seen.map(_._1).sorted == (1L to 6L),
        s"first run should drain the visible half, got $seen")
      // _seq is the cumulative table-row count: replay-stable, 0-based
      assert(seen.map(_._2).sorted == (0L until 6L))
      seen.clear()
      srv.reveal("dsv2-bin.000001")
      drain() // FRESH query, SAME checkpoint: Spark's offset log resumes
      assert(seen.map(_._1).sorted == (7L to 10L),
        s"restart must stream ONLY the growth, got $seen")
      assert(seen.map(_._2).sorted == (6L until 10L),
        s"_seq must continue from the checkpointed count, got $seen")
    } finally srv.close()
  }

  test("batch read: one bounded dump into a DataFrame; an explicit end " +
      "is stable while the log grows") {
    val firstHalf = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 4L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    val full = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 9L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    val srv = new BinlogFixtureServer(
      IndexedSeq("batch-bin.000001" -> full), "repl", "graft-secret")
    srv.truncate("batch-bin.000001", firstHalf.length)
    try {
      def read(extra: Map[String, String]) = {
        var r = spark.read.format("mysql-binlog")
          .schema(MysqlBinlogSource.withMeta(rowSchema))
          .option("host", "127.0.0.1").option("port", srv.port.toString)
          .option("user", "repl").option("password", "graft-secret")
          .option("table", "t")
          .option("startFile", "batch-bin.000001").option("startPos", "4")
        extra.foreach { case (k, v) => r = r.option(k, v) }
        r.load()
      }
      // unbounded: end = log end captured when the ACTION plans
      val unbounded = read(Map.empty)
      assert(unbounded.select("id").collect().map(_.getLong(0)).sorted
        .toSeq == (1L to 4L))
      // bounded: the explicit end survives log growth — writes landing
      // past it (the reveal) are excluded whole
      val bounded = read(Map(
        "endFile" -> "batch-bin.000001",
        "endPos" -> firstHalf.length.toString))
      srv.reveal("batch-bin.000001")
      assert(bounded.select("id", "_seq").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
        .toSeq == (1L to 4L).map(k => (k, k - 1)))
      // ...while a fresh unbounded action now sees the grown log
      assert(read(Map.empty).count() == 9L)
      // batch without a start anchor fails loudly at action time
      val e = intercept[Exception] {
        spark.read.format("mysql-binlog")
          .schema(MysqlBinlogSource.withMeta(rowSchema))
          .option("host", "127.0.0.1").option("port", srv.port.toString)
          .option("user", "repl").option("password", "graft-secret")
          .option("table", "t").load().count()
      }
      // null-safe: Spark may wrap the failure with message-less layers
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).take(5).flatMap(t => Option(t.getMessage))
      assert(msgs.exists(_.contains("startFile")), s"got: $e")
    } finally srv.close()
  }

  test("a stream rejects the batch-only end options; a batch rejects " +
      "an inverted range — both loudly, neither silently empty") {
    def opts(r: org.apache.spark.sql.streaming.DataStreamReader) = r
      .format("mysql-binlog").schema(MysqlBinlogSource.withMeta(rowSchema))
      .option("host", "127.0.0.1").option("port", "1").option("user", "u")
      .option("password", "p").option("table", "t")
      .option("startFile", "x-bin.000002").option("startPos", "100")
    // end options on a STREAM: refused before any connection is made
    val e1 = intercept[Exception] {
      opts(spark.readStream).option("endFile", "x-bin.000002")
        .option("endPos", "200").load()
        .writeStream.option("checkpointLocation",
          graft.GateCache.tempDir("graft_dsv2_endstream_ckp").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => ()
        }
        .start().awaitTermination()
    }
    val msgs1 = Iterator.iterate[Throwable](e1)(_.getCause)
      .takeWhile(_ != null).take(5).flatMap(t => Option(t.getMessage))
    assert(msgs1.exists(_.contains("batch-read")), s"got: $e1")
    // inverted batch range: refused at planning, not an empty frame
    val e2 = intercept[Exception] {
      spark.read.format("mysql-binlog")
        .schema(MysqlBinlogSource.withMeta(rowSchema))
        .option("host", "127.0.0.1").option("port", "1").option("user", "u")
        .option("password", "p").option("table", "t")
        .option("startFile", "x-bin.000002").option("startPos", "100")
        .option("endFile", "x-bin.000002").option("endPos", "50")
        .load().count()
    }
    val msgs2 = Iterator.iterate[Throwable](e2)(_.getCause)
      .takeWhile(_ != null).take(5).flatMap(t => Option(t.getMessage))
    assert(msgs2.exists(_.contains("inverted")), s"got: $e2")
    // earlier end FILE is inverted too, numerically
    val e3 = intercept[Exception] {
      spark.read.format("mysql-binlog")
        .schema(MysqlBinlogSource.withMeta(rowSchema))
        .option("host", "127.0.0.1").option("port", "1").option("user", "u")
        .option("password", "p").option("table", "t")
        .option("startFile", "x-bin.000002").option("startPos", "100")
        .option("endFile", "x-bin.000001").option("endPos", "999")
        .load().count()
    }
    val msgs3 = Iterator.iterate[Throwable](e3)(_.getCause)
      .takeWhile(_ != null).take(5).flatMap(t => Option(t.getMessage))
    assert(msgs3.exists(_.contains("inverted")), s"got: $e3")
  }

  test("database option scopes the stream to one schema's table") {
    // the log belongs to db "d": a stream scoped to another database
    // must surface nothing (same-named tables across schemas would
    // otherwise interleave under one _tbl value)
    val bytes = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 3L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    val srv = new BinlogFixtureServer(
      IndexedSeq("db-bin.000001" -> bytes), "repl", "graft-secret")
    try {
      def count(db: String): Long = {
        var n = 0L
        spark.readStream.format("mysql-binlog")
          .schema(MysqlBinlogSource.withMeta(rowSchema))
          .option("host", "127.0.0.1").option("port", srv.port.toString)
          .option("user", "repl").option("password", "graft-secret")
          .option("table", "t").option("database", db)
          .option("startFile", "db-bin.000001").option("startPos", "4")
          .load()
          .writeStream.option("checkpointLocation",
            graft.GateCache.tempDir(s"graft_dsv2_db_${db}_ckp").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) => n += b.count(); ()
          }
          .start().awaitTermination()
        n
      }
      assert(count("other") == 0L, "foreign-database rows leaked")
      assert(count("d") == 3L)
    } finally srv.close()
  }

  test("e2e: ops and _tbl surface; other tables' rows never count " +
      "against offsets") {
    import BinlogFixture.Change
    val mixed = BinlogFixture.encode("d", "t", cols,
      txns = Seq(
        Seq(insert(1L), insert(2L)),
        Seq(Change.update(IndexedSeq[Any](1L, 1.0),
          IndexedSeq[Any](1L, 11.0))),
        Seq(Change.delete(IndexedSeq[Any](2L, 2.0)))),
      gtidFrom = Some(1L))
    val srv = new BinlogFixtureServer(
      IndexedSeq("ops-bin.000001" -> mixed), "repl", "graft-secret")
    try {
      val ckp = graft.GateCache.tempDir("graft_dsv2_ops_ckp").toString
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, String, Long, String)]
      spark.readStream.format("mysql-binlog")
        .schema(MysqlBinlogSource.withMeta(rowSchema))
        .option("host", "127.0.0.1").option("port", srv.port.toString)
        .option("user", "repl").option("password", "graft-secret")
        .option("table", "other") // nothing in the log matches
        .option("startFile", "ops-bin.000001").option("startPos", "4")
        .load()
        .writeStream.option("checkpointLocation",
          graft.GateCache.tempDir("graft_dsv2_none_ckp").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => assert(b.isEmpty, "foreign-table rows leaked"); ()
        }
        .start().awaitTermination()
      spark.readStream.format("mysql-binlog")
        .schema(MysqlBinlogSource.withMeta(rowSchema))
        .option("host", "127.0.0.1").option("port", srv.port.toString)
        .option("user", "repl").option("password", "graft-secret")
        .option("table", "t")
        .option("startFile", "ops-bin.000001").option("startPos", "4")
        .load()
        .writeStream.option("checkpointLocation", ckp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            rows.synchronized {
              rows ++= b.collect().map(r => (r.getLong(0), r.getDouble(1),
                r.getString(2), r.getLong(3), r.getString(4)))
            }
            ()
        }
        .start().awaitTermination()
      assert(rows.sortBy(_._4) == Seq(
        (1L, 1.0, "I", 0L, "t"), (2L, 2.0, "I", 1L, "t"),
        (1L, 11.0, "U", 2L, "t"), (2L, 2.0, "D", 3L, "t")),
        s"got $rows")
    } finally srv.close()
  }

  test("ranges: ceil(span / split) contiguous, near-even ranges that " +
      "never cut a commit") {
    val ends = (0 to 10).map(i =>
      BinlogSourceOffset("r-bin.000001", 4L + 100L * i, i.toLong))
    def counts(rs: Seq[(BinlogSourceOffset, BinlogSourceOffset)]) =
      rs.map { case (a, b) => (a.count, b.count) }
    assert(counts(BinlogMicroBatchStream.ranges(ends, 250L)) ==
      Seq((0L, 3L), (3L, 5L), (5L, 8L), (8L, 10L)))
    assert(counts(BinlogMicroBatchStream.ranges(ends, 1000L)) == Seq((0L, 10L)))
    val big = IndexedSeq(BinlogSourceOffset("r-bin.000001", 4L, 0L),
      BinlogSourceOffset("r-bin.000001", 1004L, 5L),
      BinlogSourceOffset("r-bin.000002", 100L, 6L))
    assert(counts(BinlogMicroBatchStream.ranges(big, 250L)) ==
      Seq((0L, 5L), (5L, 6L)))
  }

  test("a backlog larger than one split drains as byte ranges the tasks " +
      "dump: the same rows and _seq as one split, also when a restart " +
      "re-plans the logged batch") {
    import BinlogFixture.{Change, TableDef}
    // 60 transactions over two tables: t's inserts, updates and deletes
    // interleave with rows of u, which must not count against t's _seq
    val txns = (1L to 60L).map { k =>
      val mine = if (k <= 30) Seq(insert(k), insert(k + 100))
        else Seq(Change.update(IndexedSeq[Any](k - 30, (k - 30).toDouble),
            IndexedSeq[Any](k - 30, k * 10.0)),
          Change.delete(IndexedSeq[Any](k + 70, (k + 70).toDouble)))
      mine.map("t" -> _) ++ (if (k % 3 == 0) Seq("u" -> insert(k)) else Nil)
    }
    val log = BinlogFixture.encodeMulti(
      Seq(TableDef("d", "t", 23L, cols), TableDef("d", "u", 24L, cols)),
      txns, gtidFrom = Some(1L))
    val srv = new BinlogFixtureServer(
      IndexedSeq("split-bin.000001" -> log), "repl", "graft-secret")
    val split = "spark.sql.files.maxPartitionBytes"
    import spark.implicits._
    try {
      /** Drains the log into (rows, partitions per attempt); the first
        * `failures` attempts fail after the batch is planned and logged. */
      def drain(maxBytes: Option[Long], failures: Int)
          : (org.apache.spark.sql.DataFrame, Seq[Int]) = {
        val ckp = graft.GateCache.tempDir("graft_dsv2_split_ckp").toString
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Double, String, Long, String)]
        val parts = scala.collection.mutable.ArrayBuffer.empty[Int]
        maxBytes.foreach(b => spark.conf.set(split, b.toString))
        try (0 to failures).foreach { attempt =>
          val q = spark.readStream.format("mysql-binlog")
            .schema(MysqlBinlogSource.withMeta(rowSchema))
            .option("host", "127.0.0.1").option("port", srv.port.toString)
            .option("user", "repl").option("password", "graft-secret")
            .option("table", "t")
            .option("startFile", "split-bin.000001").option("startPos", "4")
            .load()
            .writeStream.option("checkpointLocation", ckp)
            .trigger(Trigger.AvailableNow())
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               _: Long) =>
                parts.synchronized { parts += b.rdd.getNumPartitions }
                if (attempt < failures)
                  throw new IllegalStateException("injected sink failure")
                rows.synchronized {
                  rows ++= b.collect().map(r => (r.getLong(0),
                    r.getDouble(1), r.getString(2), r.getLong(3),
                    r.getString(4)))
                }
                ()
            }
            .start()
          if (attempt < failures)
            intercept[org.apache.spark.sql.streaming.StreamingQueryException](
              q.awaitTermination())
          else q.awaitTermination()
        } finally spark.conf.unset(split)
        (rows.toSeq.toDF("id", "bal", "op", "_seq", "_tbl"), parts.toSeq)
      }
      def same(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

      val (one, oneParts) = drain(None, failures = 0)
      assert(oneParts == Seq(1), s"one split expected, got $oneParts")
      assert(one.count() == 120 &&
        one.select("_seq").as[Long].collect().sorted.toSeq == (0L until 120L))

      val (cut, cutParts) = drain(Some(log.length / 4L), failures = 0)
      assert(cutParts.size == 1 && cutParts.head >= 2,
        s"the backlog should drain as one batch of >= 2 ranges: $cutParts")
      assert(same(one, cut))

      val (replanned, replanParts) = drain(Some(log.length / 4L), failures = 1)
      assert(replanParts.size == 2 && replanParts.forall(_ >= 2),
        s"the logged batch should re-plan as ranges: $replanParts")
      assert(same(one, replanned))
    } finally srv.close()
  }
}
