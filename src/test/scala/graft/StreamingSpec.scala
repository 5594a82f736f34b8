package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** B43/B44: streaming-only semantics (watermark, stateful dedup) driven via
  * MemoryStream — these are not DuckDB-comparable by nature (SURVEY.md §2B). */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)
  case class EvV(user_id: Long, ts: Timestamp, value: Double)

  test("streaming tumbling window aggregates with watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(
      Ev(1, ts("2024-01-01T01:00:00Z"), 1, "view"),
      Ev(2, ts("2024-01-01T02:00:00Z"), 1, "view"),
      Ev(3, ts("2024-01-02T01:00:00Z"), 2, "click"))
    val q = streaming.StreamOps.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("tumble_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    val out = spark.sql("SELECT * FROM tumble_test").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      ("2024-01-01T00:00:00Z", "view", 2L),
      ("2024-01-02T00:00:00Z", "click", 1L)))
    q.stop()
  }

  test("batch tumbling IS the streaming tumbling semantics (B40 parity)") {
    // The same fixture events through BOTH paths: the judged batch
    // aggregation (Events.tumbling) and the streaming window()-under-
    // watermark form (StreamOps.tumblingCounts) must agree on every
    // completed (day, event_type) count — the "batch twin IS the streaming
    // semantics" claim as an executable assertion, not a comment.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = sf("sf0.001")
    // Tables.events carries TIMESTAMP_NTZ wall-clock instants; watermarks
    // demand TIMESTAMP, so pin the NTZ wall clock to UTC explicitly — the
    // session timeZone is UTC, so window() truncates the same wall clock
    // the batch dayNtz sees, independent of the JVM default zone.
    val evs = Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect().toSeq
      .map(r => Ev(r.getLong(0),
        Timestamp.from(r.getAs[java.time.LocalDateTime](1)
          .toInstant(java.time.ZoneOffset.UTC)),
        r.getLong(2), r.getString(3)))
    val ms = MemoryStream[Ev]
    ms.addData(evs)
    val q = streaming.StreamOps.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("tumble_parity")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM tumble_parity").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString.take(10),
        r.getString(1), r.getLong(2))).toSet
    val batch = ops.Events.tumbling(spark, d).collect()
      .map(r => (r.get(0).toString.take(10), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    q.stop()
  }

  test("batch sliding IS the streaming sliding semantics (B41 parity)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = sf("sf0.001")
    val evs = Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect().toSeq
      .map(r => Ev(r.getLong(0),
        Timestamp.from(r.getAs[java.time.LocalDateTime](1)
          .toInstant(java.time.ZoneOffset.UTC)),
        r.getLong(2), r.getString(3)))
    val ms = MemoryStream[Ev]
    ms.addData(evs)
    val q = streaming.StreamOps.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName("slide_parity")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM slide_parity").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1))).toSet
    // batch judged query: (w_start NTZ, cnt, val_sum) — compare the shared
    // (window start wall clock, count) projection
    val batch = ops.Events.sliding(spark, d).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0)
        .toInstant(java.time.ZoneOffset.UTC).toString, r.getLong(1))).toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    q.stop()
  }

  test("batch session IS the streaming session semantics (B42 parity)") {
    // Completes the window-family trio (B40/B41 above): the same fixture
    // events through Events.session (batch) and StreamOps.sessionCounts
    // (session_window under watermark) agree on every (user, session
    // start/end, count).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = sf("sf0.001")
    val evs = Tables.events(spark, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect().toSeq
      .map(r => Ev(r.getLong(0),
        Timestamp.from(r.getAs[java.time.LocalDateTime](1)
          .toInstant(java.time.ZoneOffset.UTC)),
        r.getLong(2), r.getString(3)))
    val ms = MemoryStream[Ev]
    ms.addData(evs)
    val q = streaming.StreamOps.sessionCounts(ms.toDF())
      .writeStream.format("memory").queryName("session_parity")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM session_parity").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString,
        r.getTimestamp(2).toInstant.toString, r.getLong(3))).toSet
    val batch = ops.Events.session(spark, d).collect()
      .map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1).toInstant(java.time.ZoneOffset.UTC).toString,
        r.getAs[java.time.LocalDateTime](2).toInstant(java.time.ZoneOffset.UTC).toString,
        r.getLong(3))).toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    q.stop()
  }

  test("dropDuplicatesWithinWatermark emits each event_id once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = streaming.StreamOps.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01T01:00:00Z"), 1, "view"),
      Ev(1, ts("2024-01-01T01:05:00Z"), 1, "view"),  // dup id within watermark
      Ev(2, ts("2024-01-01T01:10:00Z"), 1, "view"))
    q.processAllAvailable()
    ms.addData(Ev(1, ts("2024-01-01T01:20:00Z"), 1, "view")) // still within
    q.processAllAvailable()
    val ids = spark.sql("SELECT event_id FROM dedup_test").collect().map(_.getLong(0))
    assert(ids.sorted === Array(1L, 2L))
    q.stop()
  }

  test("flatMapGroupsWithState closes sessions when the gap passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvV]
    val q = streaming.StreamOps.customSessions(
        ms.toDF().selectExpr("user_id", "ts", "CAST(1 AS BIGINT) AS event_id", "value"))
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    // session 1: two events; then a later event >30min after → closes it
    ms.addData(EvV(1, ts("2024-01-01T10:00:00Z"), 2.0),
      EvV(1, ts("2024-01-01T10:10:00Z"), 3.0))
    q.processAllAvailable()
    ms.addData(EvV(1, ts("2024-01-01T12:00:00Z"), 5.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM sess_test").collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 1L && rows.head.getLong(2) == 2L &&
      rows.head.getDouble(3) == 5.0)
    q.stop()
  }

  test("stream-stream interval join matches clicks within the hour window") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = streaming.StreamOps.purchaseClickJoin(ms.toDF())
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    ms.addData(
      Ev(1, ts("2024-01-01T10:00:00Z"), 1, "click"),
      Ev(2, ts("2024-01-01T10:30:00Z"), 1, "purchase"),  // joins click 1
      Ev(3, ts("2024-01-01T08:00:00Z"), 2, "click"),
      Ev(4, ts("2024-01-01T10:30:00Z"), 2, "purchase"))  // click too old
    q.processAllAvailable()
    val out = spark.sql("SELECT p_id, c_id FROM ssjoin_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L)))
    q.stop()
  }

  test("foreachBatch sink appends micro-batches to parquet") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ms = MemoryStream[Ev]
    val q = streaming.StreamOps.sinkToParquet(ms.toDF(), s"$dir/out", s"$dir/ckpt")
    ms.addData(Ev(1, ts("2024-01-01T01:00:00Z"), 1, "view"))
    q.processAllAvailable()
    ms.addData(Ev(2, ts("2024-01-01T01:01:00Z"), 2, "click"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 2)
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
  }

  test("kv sink STREAMING_WRITE publishes one idempotent epoch per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_kv_stream")
    val dir = root.resolve("out").toString
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "s")
      .writeStream.format("graft.sources.GraftKvSink")
      .option("path", dir)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    ms.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    ms.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
    assert(back.count() == 3)
    assert(back.select("id").collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
    // two epochs published, every data file epoch-tagged, no strays
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    val kv = names.filter(_.endsWith(".kv"))
    assert(kv.nonEmpty && kv.forall(_.startsWith("epoch-")), names)
    assert(kv.map(_.split("-")(1)).distinct.size == 2, kv)
    assert(!names.exists(_.endsWith(".tmp")), names)
    // time travel: asOfEpoch=0 sees only the first micro-batch
    val v0 = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).option("asOfEpoch", "0").load()
    assert(v0.count() == 2)
    assert(v0.select("id").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    // replaying an already-published epoch is a no-op (recovery idempotency)
    val mfBefore = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_manifest.json"))
    val sw = new graft.sources.GraftKvStreamingWrite(dir,
      back.schema)
    sw.commit(0L, Array.empty)
    val mfAfter = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_manifest.json"))
    assert(java.util.Arrays.equals(mfBefore, mfAfter))
  }

  test("kv source MICRO_BATCH_READ replays the epoch history and agrees with asOfEpoch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_kv_mbr")
    val dir = root.resolve("out").toString
    // produce three epochs through the streaming WRITE half
    val ms = MemoryStream[(Long, String)]
    val w = ms.toDF().toDF("id", "s")
      .writeStream.format("graft.sources.GraftKvSink")
      .option("path", dir)
      .option("checkpointLocation", root.resolve("wckpt").toString)
      .start()
    ms.addData((1L, "a"), (2L, "b")); w.processAllAvailable()
    ms.addData((3L, "c"));            w.processAllAvailable()
    ms.addData((4L, "d"), (5L, "e")); w.processAllAvailable()
    // w stays running: a fourth epoch is written later in this test
    // unit level: offsets are epoch ids, (start, end] selects exactly the
    // epoch's files — the same rule the batch asOfEpoch read applies
    val mbs = new graft.sources.GraftKvMicroBatchStream(dir)
    assert(mbs.latestOffset().json() == "2")
    def filesIn(s: Long, e: Long): Seq[String] =
      mbs.planInputPartitions(mbs.deserializeOffset(s.toString),
          mbs.deserializeOffset(e.toString))
        .map(_.asInstanceOf[graft.sources.GraftKvFilePartition].file).toSeq
    assert(filesIn(-1, 0).forall(_.startsWith("epoch-0-")))
    assert(filesIn(0, 1).forall(_.startsWith("epoch-1-")))
    assert(filesIn(-1, 2).size == filesIn(-1, 0).size + filesIn(0, 1).size
      + filesIn(1, 2).size)
    // integration: readStream over the connector, foreachBatch collecting
    // per-micro-batch contents; the union must equal the batch read and
    // the first batch must equal asOfEpoch=<its end offset>
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val r = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
      .writeStream
      .option("checkpointLocation", root.resolve("rckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += df.select("id").collect().map(_.getLong(0)).toSet }
        ()
      }
      .start()
    r.processAllAvailable()
    r.stop()
    assert(seen.flatten.toSet == Set(1L, 2L, 3L, 4L, 5L))
    val batch = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
      .select("id").collect().map(_.getLong(0)).toSet
    assert(seen.flatten.toSet == batch)
    // epoch-for-epoch agreement with time travel: everything the stream
    // saw up to epoch N equals the asOfEpoch=N batch read (N = 1 here)
    val upTo1 = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).option("asOfEpoch", "1").load()
      .select("id").collect().map(_.getLong(0)).toSet
    assert(upTo1 == Set(1L, 2L, 3L))
    // a LIVE source: a new epoch written after the first read finished is
    // visible to a restarted read from the same checkpoint
    ms.addData((6L, "f")); w.processAllAvailable(); w.stop()
    val r2 = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
      .writeStream
      .option("checkpointLocation", root.resolve("rckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += df.select("id").collect().map(_.getLong(0)).toSet }
        ()
      }
      .start()
    r2.processAllAvailable()
    r2.stop()
    assert(seen.flatten.toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("explicit-epoch batch writes feed a live stream epoch-for-epoch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kv_epopt")
    val dir = root.resolve("feed").toString
    def writeEpoch(k: Int, rows: Seq[(Long, String)], mode: String): Unit =
      rows.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", k.toString).mode(mode).save()
    writeEpoch(0, Seq((1L, "a"), (2L, "b")), "overwrite")
    // each explicitly-stamped batch write is one micro-batch to a live
    // streaming read — the executor-side fixture-feed contract the judged
    // streaming queries rely on
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
      .writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += df.select("id").collect().map(_.getLong(0)).toSet }
        ()
      }
      .start()
    q.processAllAvailable()
    writeEpoch(1, Seq((3L, "c")), "append"); q.processAllAvailable()
    writeEpoch(2, Seq((4L, "d")), "append"); q.processAllAvailable()
    q.stop()
    assert(seen.filter(_.nonEmpty) ==
      Seq(Set(1L, 2L), Set(3L), Set(4L)), seen)
    // re-publishing an existing epoch is rejected (batch writes carry no
    // attempt identity, so this can only be a caller bug, not a replay)
    val dup = intercept[Exception] { writeEpoch(1, Seq((9L, "x")), "append") }
    assert(dup.getMessage.contains("already published"), dup.getMessage)
    // ...and so is an epoch inside compacted history
    graft.sources.GraftKvSink.compact(dir, 1L)
    val fenced = intercept[Exception] { writeEpoch(0, Seq((9L, "x")), "append") }
    assert(fenced.getMessage.contains("compacted history"), fenced.getMessage)
    // overwrite resets history: an explicit epoch 0 is valid again
    writeEpoch(0, Seq((7L, "z")), "overwrite")
    assert(spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      .load().select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("row-level DML on epoch history: pre-DML time travel reconstructs until vacuum") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kv_dmlfence")
    val dir = root.resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.fence.t")
    spark.sql(s"CREATE TABLE graft.fence.t (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    // three explicit epochs, then DML that rewrites epoch 1's file
    (0 to 2).foreach { k =>
      Seq((k.toLong * 10, s"e$k")).toDF("id", "s")
        .write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", k.toString)
        .mode(if (k == 0) "overwrite" else "append").save()
    }
    spark.sql("DELETE FROM graft.fence.t WHERE id = 10")
    assert(spark.table("graft.fence.t").select("id").collect()
      .map(_.getLong(0)).toSet == Set(0L, 20L))
    def asOf(v: String): Set[Long] =
      spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("asOfEpoch", v).load()
        .select("id").collect().map(_.getLong(0)).toSet
    // the superseded file is RETAINED HISTORY: every pre-DML boundary
    // state reconstructs exactly (the Delta/Iceberg old-version contract)
    assert(asOf("0") == Set(0L))
    assert(asOf("1") == Set(0L, 10L))
    assert(asOf("2") == Set(0L, 10L, 20L))
    // at and after the replacement epoch (3): the post-DML state
    assert(asOf("3") == Set(0L, 20L))
    // a stream checkpointed before the rewrite refuses (its replay would
    // re-deliver surviving rows with no retraction); a COUNT at a pre-DML
    // epoch is still manifest-answered from the retained row counts
    val cnt = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).option("asOfEpoch", "2").load()
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
    assert(cnt.queryExecution.executedPlan.toString
      .contains("manifest row counts"), cnt.queryExecution.executedPlan.toString)
    assert(cnt.head().getLong(0) == 3L)
    // VACUUM is the retention boundary: it reclaims the superseded file
    // and raises the fence, after which pre-DML reads error loudly
    assert(graft.sources.GraftKvSink.vacuum(dir, graceMs = 0L) == 1)
    Seq("0", "2").foreach { v =>
      val e = intercept[Exception] {
        spark.read.format("graft.sources.GraftKvSink")
          .option("path", dir).option("asOfEpoch", v).load().collect()
      }
      assert(e.getMessage.contains("vacuumed"), s"asOf=$v: ${e.getMessage}")
    }
    assert(asOf("3") == Set(0L, 20L))
    spark.sql("DROP TABLE graft.fence.t")
  }

  test("kv CDC stream emits per-epoch change records and lifts the MOR fence") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kv_cdcstream")
    val dir = root.resolve("t").toString
    spark.sql("DROP TABLE IF EXISTS graft.cdcs.t")
    spark.sql(s"CREATE TABLE graft.cdcs.t (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir', mor 'true')")
    spark.sql("INSERT INTO graft.cdcs.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdc_stream_test")
      .outputMode("append")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    def changes(): Seq[(Long, String, String, Long)] =
      spark.table("cdc_stream_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq.sorted
    try {
      q.processAllAvailable()
      val base = changes()
      assert(base.map(t => (t._1, t._2, t._3)).toSet ==
        Set((1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert")), base)
      val e0 = base.head._4
      assert(base.forall(_._4 == e0), base)
      // a MOR DELETE becomes a position-delete delta: the CDC stream reads
      // on (the snapshot fence below still refuses) and surfaces the
      // deleted row's PRE-IMAGE as a `delete` record at the DML's epoch
      spark.sql("DELETE FROM graft.cdcs.t WHERE id = 1")
      q.processAllAvailable()
      val afterDel = changes().diff(base)
      assert(afterDel.map(t => (t._1, t._2, t._3)).toSet ==
        Set((1L, "a", "delete")), afterDel)
      assert(afterDel.forall(_._4 > e0), afterDel)
      // an UPDATE classifies as update_preimage + update_postimage (the
      // Delta CDF four-valued _change_type) — NOT a bare delete+insert
      // pair, which downstream consumers could not tell from a genuine
      // delete and unrelated insert
      spark.sql("UPDATE graft.cdcs.t SET s = 'B' WHERE id = 2")
      q.processAllAvailable()
      val afterUpd = changes().diff(base).diff(afterDel)
      assert(afterUpd.map(t => (t._1, t._2, t._3)).toSet ==
        Set((2L, "b", "update_preimage"), (2L, "B", "update_postimage")),
        afterUpd)
      assert(afterUpd.map(_._4).distinct.size == 1, afterUpd)
      // folding the change stream in epoch order reconstructs the snapshot
      val insertish = Set("insert", "update_postimage")
      val folded = changes().groupBy(_._1).flatMap { case (_, evs) =>
        val last = evs.maxBy(_._4)
        val net = evs.filter(_._4 == last._4)
        if (net.exists(t => insertish(t._3))) net.filter(t => insertish(t._3))
        else Nil
      }.map(t => (t._1, t._2)).toSet
      assert(folded == spark.table("graft.cdcs.t")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet, folded)
    } finally q.stop()
    // the SNAPSHOT stream fence still stands with deltas present — and
    // points at the CDC option that does represent them
    val fenced = intercept[Exception] {
      val snap = spark.readStream.format("graft.sources.GraftKvSink")
        .option("path", dir).load()
        .writeStream.format("memory").queryName("cdc_snap_fence")
        .option("checkpointLocation", root.resolve("ckpt2").toString).start()
      try snap.processAllAvailable() finally snap.stop()
    }
    assert(fenced.getMessage.contains("readChangeFeed"), fenced.getMessage)
    // batch reads answer changefeeds via the manifest-diff frame, not this
    // option — a batch readChangeFeed refuses loudly
    val batch = intercept[Exception] {
      spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("readChangeFeed", "true").load().collect()
    }
    assert(batch.getMessage.contains("streaming read option"), batch.getMessage)
    spark.sql("DROP TABLE graft.cdcs.t")

    // a COPY-ON-WRITE rewrite of EPOCH-STAMPED history is file-granular —
    // no row-level change record exists — but RETAINED HISTORY makes the
    // change records computable: the stream synthesizes removed files as
    // `delete` and their replacements as `insert`. Here the DELETE empties
    // the epoch-0 file outright (no replacement), so the synthesized
    // epoch-2 batch is exactly the one pre-image delete record.
    val dir2 = root.resolve("cow").toString
    spark.sql("DROP TABLE IF EXISTS graft.cdcs.cow")
    spark.sql(s"CREATE TABLE graft.cdcs.cow (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir2')")
    (0 to 1).foreach { k =>
      Seq((k.toLong + 1, ('a' + k).toChar.toString)).toDF("id", "s")
        .write.format("graft.sources.GraftKvSink")
        .option("path", dir2).option("epoch", k.toString)
        .mode(if (k == 0) "overwrite" else "append").save()
    }
    // a checkpointed stream that stops BEFORE the DML: its offset (epoch
    // 1) is behind the rewrite — resumable while history is retained,
    // refused once vacuum reclaims the window (pinned below). foreachBatch
    // because the memory sink cannot recover a checkpoint; each call
    // returns only the records THIS run consumed.
    def cowStream(ckpt: String): Set[(Long, String, String, Long)] = {
      val got = scala.collection.mutable.Set.empty[(Long, String, String, Long)]
      val q2 = spark.readStream.format("graft.sources.GraftKvSink")
        .option("path", dir2).option("readChangeFeed", "true").load()
        .writeStream
        .option("checkpointLocation", root.resolve(ckpt).toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
      try q2.processAllAvailable() finally q2.stop()
      got.synchronized(got.toSet)
    }
    assert(cowStream("ckpt3") ==
      Set((1L, "a", "insert", 0L), (2L, "b", "insert", 1L)))
    assert(cowStream("ckpt5").size == 2) // second behind checkpoint (ep 1)
    spark.sql("DELETE FROM graft.cdcs.cow WHERE id = 1") // rewrite at epoch 2
    // a fresh full-history CDC stream synthesizes the whole sequence
    assert(cowStream("ckpt4") ==
      Set((1L, "a", "insert", 0L), (2L, "b", "insert", 1L),
        (1L, "a", "delete", 2L)))
    // the behind checkpoint catches up through the retained window
    assert(cowStream("ckpt3") == Set((1L, "a", "delete", 2L)))
    // VACUUM reclaims the retained window and folds the rewrite into
    // compacted history — the SECOND behind checkpoint (still at epoch 1)
    // now refuses loudly. It must refuse rather than idle: rewrittenUpTo
    // keeps the stream head at the rewrite epoch even though the retained
    // files (and their removedAt entries) are gone.
    assert(graft.sources.GraftKvSink.vacuum(dir2, graceMs = 0L) >= 1)
    val stale = intercept[Exception] { cowStream("ckpt5") }
    assert(stale.getMessage.contains("compacted history"), stale.getMessage)
    spark.sql("DROP TABLE graft.cdcs.cow")
  }

  test("startingEpoch begins a stream mid-history; CDC after a CoW rewrite") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kv_startep")
    val dir = root.resolve("t").toString
    def writeEpoch(k: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "s").write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", k.toString)
        .mode(if (k == 0) "overwrite" else "append").save()
    writeEpoch(0, Seq((1L, "a")))
    writeEpoch(1, Seq((2L, "b")))
    writeEpoch(2, Seq((3L, "c")))
    // snapshot stream from epoch 2: earlier epochs never surface
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("startingEpoch", "2").load()
      .writeStream.format("memory").queryName("startep_snap")
      .option("checkpointLocation", root.resolve("ck1").toString).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("startep_snap").collect().map(_.getLong(0)).toSet ==
      Set(3L))
    // a beyond-head start would stream NOTHING forever — refuse at scan
    // construction with the same version-not-found shape as asOfEpoch
    val oob = intercept[Exception] {
      val qo = spark.readStream.format("graft.sources.GraftKvSink")
        .option("path", dir).option("startingEpoch", "40").load()
        .writeStream.format("memory").queryName("startep_oob")
        .option("checkpointLocation", root.resolve("ck0").toString).start()
      try qo.processAllAvailable() finally qo.stop()
    }
    assert(oob.getMessage.contains("version not found"), oob.getMessage)
    // a batch read must not honor a streaming-only option silently — and
    // neither may the manifest-answered COUNT shortcut
    val batch = intercept[Exception] {
      spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("startingEpoch", "2").load().collect() }
    assert(batch.getMessage.contains("streaming read option"), batch.getMessage)
    val batchCnt = intercept[Exception] {
      spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("startingEpoch", "2").load()
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).collect() }
    assert(batchCnt.getMessage.contains("streaming read option"),
      batchCnt.getMessage)
    // CDC on a COPY-ON-WRITE table: a fresh full-history stream
    // SYNTHESIZES the rewrite from retained history (removed file →
    // delete pre-image), and startingEpoch past the rewrite boundary
    // still works for consumers that only want the live tail
    spark.sql("DROP TABLE IF EXISTS graft.sep.cow")
    spark.sql(s"CREATE TABLE graft.sep.cow (id BIGINT, s STRING) " +
      s"USING graft_kv OPTIONS (path '$dir')")
    spark.sql("DELETE FROM graft.sep.cow WHERE id = 2") // rewrite at epoch 3
    val f = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("startep_full")
      .option("checkpointLocation", root.resolve("ck2").toString).start()
    try f.processAllAvailable() finally f.stop()
    assert(spark.table("startep_full").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet == Set((1L, "a", "insert", 0L), (2L, "b", "insert", 1L),
        (3L, "c", "insert", 2L), (2L, "b", "delete", 3L)))
    writeEpoch(4, Seq((9L, "z")))
    val cdc = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingEpoch", "4").load()
      .writeStream.format("memory").queryName("startep_cdc")
      .option("checkpointLocation", root.resolve("ck3").toString).start()
    try cdc.processAllAvailable() finally cdc.stop()
    assert(spark.table("startep_cdc").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet ==
      Set((9L, "insert", 4L)))
    spark.sql("DROP TABLE graft.sep.cow")
  }

  test("kv streaming read rate-limits catch-up with maxEpochsPerTrigger") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_kv_ratelim")
    val dir = root.resolve("feed").toString
    // a 4-epoch backlog published BEFORE the stream starts
    (0 to 3).foreach { k =>
      Seq((k.toLong, s"e$k")).toDF("id", "s")
        .write.format("graft.sources.GraftKvSink")
        .option("path", dir).option("epoch", k.toString)
        .mode(if (k == 0) "overwrite" else "append").save()
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("maxEpochsPerTrigger", "1").load()
      .writeStream
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen += df.select("id").collect().map(_.getLong(0)).toSet }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // the backlog drains one epoch per micro-batch, never one giant batch
    assert(seen.filter(_.nonEmpty) ==
      Seq(Set(0L), Set(1L), Set(2L), Set(3L)), seen)
  }

  test("kv compact merges epochs, preserves state, and fences vacuumed history") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_kv_compact")
    val dir = root.resolve("out").toString
    val ms = MemoryStream[(Long, String)]
    val w = ms.toDF().toDF("id", "s")
      .writeStream.format("graft.sources.GraftKvSink")
      .option("path", dir)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    ms.addData((1L, "a"), (2L, "b")); w.processAllAvailable()
    ms.addData((3L, "c"));            w.processAllAvailable()
    ms.addData((4L, "d"));            w.processAllAvailable()
    w.stop()
    def readAll(opts: Map[String, String] = Map.empty): Set[Long] = {
      var r = spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().select("id").collect().map(_.getLong(0)).toSet
    }
    val before = readAll()
    // compact epochs 0..1 into one file
    val removed = graft.sources.GraftKvSink.compact(dir, 1L)
    assert(removed >= 2)
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("epoch-1-compacted.kv"), names)
    assert(!names.exists(n => n.startsWith("epoch-0-") && n.endsWith(".kv")), names)
    // current read and asOfEpoch at/after the boundary are unchanged
    assert(readAll() == before)
    assert(readAll(Map("asOfEpoch" -> "1")) == Set(1L, 2L, 3L))
    // the manifest COUNT(*) path composes with time travel + the fence
    assert(spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).option("asOfEpoch", "1").load().count() == 3L)
    val eCnt = intercept[Exception] {
      spark.read.format("graft.sources.GraftKvSink")
        .option("path", dir).option("asOfEpoch", "0").load().count()
    }
    assert(eCnt.getMessage.contains("vacuumed"), eCnt.getMessage)
    // vacuumed history errors instead of returning partial rows
    val e = intercept[Exception] { readAll(Map("asOfEpoch" -> "0")) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // streaming: fresh replay (-1) covers everything in one batch; a
    // checkpoint ending strictly inside the compacted range is refused
    val mbs = new graft.sources.GraftKvMicroBatchStream(dir)
    def filesIn(s: Long, en: Long) =
      mbs.planInputPartitions(mbs.deserializeOffset(s.toString),
        mbs.deserializeOffset(en.toString))
    assert(filesIn(-1L, 2L).length == names.count(_.endsWith(".kv")))
    val e2 = intercept[Exception] { filesIn(0L, 2L) }
    assert(e2.getMessage.contains("fresh checkpoint"), e2.getMessage)
    // appending a later epoch (batch append here) keeps the boundary
    Seq((9L, "z")).toDF("id", "s").write.format("graft.sources.GraftKvSink")
      .option("path", dir).mode(org.apache.spark.sql.SaveMode.Append).save()
    assert(readAll() == before + 9L)
    val mfJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_manifest.json")))
    assert(mfJson.contains("\"compactedUpTo\" : 1"), mfJson)
    // the batch append joined the table's epoch history (epoch-less files
    // would read as epoch 0 and a reader checkpointed past 0 would
    // silently skip them): a stream resuming after epoch 2 delivers it
    val names2 = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names2.exists(n => n.startsWith("epoch-3-") && n.endsWith(".kv")), names2)
    val mbs2 = new graft.sources.GraftKvMicroBatchStream(dir)
    assert(mbs2.latestOffset().json() == "3")
    assert(mbs2.planInputPartitions(mbs2.deserializeOffset("2"),
      mbs2.deserializeOffset("3")).length == 1)
    // compacting past the newest epoch is CLAMPED — a later live commit
    // must never be mistaken for an already-published replay
    graft.sources.GraftKvSink.compact(dir, 999L)
    val mfJson2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_manifest.json")))
    assert(mfJson2.contains("\"compactedUpTo\" : 3"), mfJson2)
    assert(readAll() == before + 9L)
    // re-compacting at the same boundary is a safe no-op for state
    graft.sources.GraftKvSink.compact(dir, 1L)
    assert(readAll() == before + 9L)
    // WRITE-side fence: a FRESH-checkpoint stream committing an epoch the
    // compaction already fenced must fail loudly — silently deleting its
    // files (pre-r13 behavior) was data loss. compactedUpTo is 3 here, so
    // epoch 2 is inside vacuumed history with no epoch-2-* file listed.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val sw = new graft.sources.GraftKvStreamingWrite(dir, schema)
    val tmpName = "epoch-2-part-00000-1.tmp"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, tmpName),
      "8\tfresh\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fence = intercept[IllegalStateException] {
      sw.commit(2L, Array(graft.sources.GraftKvCommit(
        tmpName, "epoch-2-part-00000-1.kv", 1L)))
    }
    assert(fence.getMessage.contains("compaction/rewrite boundary"),
      fence.getMessage)
    // the attempt files are cleaned up and nothing was published
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, tmpName)))
    assert(readAll() == before + 9L)
    // ...while a REPLAY of the boundary epoch 3 (its files are listed via
    // the compacted file's `epoch-3-` prefix) stays a silent idempotent
    // no-op — exactly the recovery case the dedup exists for
    val tmp3 = "epoch-3-part-00000-1.tmp"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, tmp3),
      "8\treplay\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    sw.commit(3L, Array(graft.sources.GraftKvCommit(
      tmp3, "epoch-3-part-00000-1.kv", 1L)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, tmp3)))
    assert(readAll() == before + 9L)
  }

  test("mapGroupsWithState accumulates per-user counts across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = streaming.StreamOps.runningUserCounts(ms.toDF())
      .writeStream.format("memory").queryName("state_test")
      .outputMode(streaming.StreamOps.runningOutputMode).start()
    ms.addData(Ev(1, ts("2024-01-01T01:00:00Z"), 7, "view"),
      Ev(2, ts("2024-01-01T01:01:00Z"), 7, "view"))
    q.processAllAvailable()
    ms.addData(Ev(3, ts("2024-01-01T01:02:00Z"), 7, "view"),
      Ev(4, ts("2024-01-01T01:03:00Z"), 8, "click"))
    q.processAllAvailable()
    val last = spark.sql("SELECT * FROM state_test").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }
    assert(last == Map(7L -> 3L, 8L -> 1L))
    q.stop()
  }

  test("admission control end-to-end in TRUE streaming matches the judged batch twin") {
    // The round-8 verdict's streaming-demo ask: the stream_rate_limit
    // semantics (3 events per user per day) executed by the REAL streaming
    // engine — the whole sf0.001 events fixture fed through a MemoryStream
    // in event-time-ordered chunks, per-key quotas carried across
    // micro-batches in flatMapGroupsWithState state — and the admitted
    // event_id SET compared against the batch twin's window-rank
    // formulation. Row-level set equality is strictly stronger than the
    // judged aggregate parity.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixture = Tables.events(spark, sf("sf0.001"))
      .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts",
        "CAST(ts AS DATE) AS day", "user_id",
        "event_type", "CAST(value AS DOUBLE) AS value")
      .as[streaming.StreamOps.AdmissionIn]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(fixture.length == 1000)
    val ms = MemoryStream[streaming.StreamOps.AdmissionIn]
    val q = streaming.StreamOps.admissionControl(ms.toDF())
      .writeStream.format("memory").queryName("admission_test")
      .outputMode("append").start()
    // 5 chronological micro-batches: a user's day quota must persist from
    // one batch to the next (the stateful part a batch job gets for free)
    fixture.grouped(200).foreach { chunk =>
      ms.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    val streamed = spark.sql("SELECT event_id FROM admission_test")
      .collect().map(_.getLong(0)).toSet
    val wB = Window.partitionBy(col("user_id"), col("ts").cast("date"))
      .orderBy(col("ts"), col("event_id"))
    val expected = Tables.events(spark, sf("sf0.001"))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= 3)
      .select("event_id").as[Long].collect().toSet
    assert(streamed == expected)
    assert(streamed.size < fixture.length) // the quota actually throttled
    // and the judged aggregate itself agrees per event_type
    val byType = spark.sql(
      "SELECT event_type, count(*) FROM admission_test GROUP BY event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val judged = ops.Events.streamRateLimit(spark, sf("sf0.001"))
      .select("event_type", "n_admitted")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == judged)
    q.stop()
  }

  test("admission control on transformWithState matches the fMGWS twin") {
    // The MODERN arbitrary-state API (Spark 4 transformWithState): same
    // per-(user, day) quota, typed ValueState + an event-time eviction
    // timer, RocksDB-backed. Admitted set must equal the judged batch
    // window-rank formulation — the third independent execution of the
    // same semantics (batch twin, fMGWS, transformWithState).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val fixture = Tables.events(spark, sf("sf0.001"))
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts",
          "CAST(ts AS DATE) AS day", "user_id",
          "event_type", "CAST(value AS DOUBLE) AS value")
        .as[streaming.StreamOps.AdmissionIn]
        .collect().sortBy(e => (e.ts.getTime, e.event_id))
      val ms = MemoryStream[streaming.StreamOps.AdmissionIn]
      val q = streaming.StreamOps.admissionControlTws(ms.toDF())
        .writeStream.format("memory").queryName("admission_tws")
        .outputMode("append").start()
      fixture.grouped(200).foreach { chunk =>
        ms.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.sql("SELECT event_id FROM admission_tws")
        .collect().map(_.getLong(0)).toSet
      q.stop()
      val wB = Window.partitionBy(col("user_id"), col("ts").cast("date"))
        .orderBy(col("ts"), col("event_id"))
      val expected = Tables.events(spark, sf("sf0.001"))
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= 3)
        .select("event_id").as[Long].collect().toSet
      assert(streamed == expected)
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("admission control survives a checkpoint restart exactly-once") {
    // The production bit the end-to-end demo doesn't show: kill the
    // admission query mid-stream and restart it from its checkpoint. The
    // state store must restore the per-(user, day) quota counts and the
    // source offsets, so the union of pre- and post-restart admissions is
    // EXACTLY the batch twin's set — no duplicates (the restarted query
    // must not re-admit a replayed batch) and no gaps (it must not skip
    // the uncommitted tail).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fixture = Tables.events(spark, sf("sf0.001"))
      .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts",
        "CAST(ts AS DATE) AS day", "user_id",
        "event_type", "CAST(value AS DOUBLE) AS value")
      .as[streaming.StreamOps.AdmissionIn]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    val root = java.nio.file.Files
      .createTempDirectory("graft_admission_ckpt")
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    // the FILE sink: its _spark_metadata manifest is the recovery-capable
    // exactly-once ledger (the memory sink refuses checkpoint recovery)
    def startQuery(ms: MemoryStream[streaming.StreamOps.AdmissionIn]) =
      streaming.StreamOps.admissionControl(ms.toDF())
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    val ms = MemoryStream[streaming.StreamOps.AdmissionIn]
    val chunks = fixture.grouped(200).toSeq
    val q1 = startQuery(ms)
    chunks.take(2).foreach { chunk =>
      ms.addData(chunk.toIndexedSeq)
      q1.processAllAvailable()
    }
    q1.stop() // simulated crash/redeploy after two committed batches
    val before = spark.read.parquet(out)
      .select("event_id").as[Long].collect().toSet
    assert(before.nonEmpty)
    val q2 = startQuery(ms)
    chunks.drop(2).foreach { chunk =>
      ms.addData(chunk.toIndexedSeq)
      q2.processAllAvailable()
    }
    q2.stop()
    val all = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(all.length == all.toSet.size) // exactly-once: no re-admissions
    assert(before.subsetOf(all.toSet))
    val wB = Window.partitionBy(col("user_id"), col("ts").cast("date"))
      .orderBy(col("ts"), col("event_id"))
    val expected = Tables.events(spark, sf("sf0.001"))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= 3)
      .select("event_id").as[Long].collect().toSet
    assert(all.toSet == expected) // no gaps either: state + offsets restored
  }

  test("two streaming queries on one kv directory: replay idempotent, foreign writer rebases") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.write.PhysicalWriteInfo
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_txn").toString
    spark.range(0).count(): Unit // init the session: the factory's guard
    // resolution calls SparkSession.active eagerly even with no checks
    val schema = StructType(Seq(StructField("id", LongType)))
    val onePart = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    def commitEpoch(queryId: String, epoch: Long, id: Long,
        taskId: Long): Unit = {
      val w = new graft.sources.GraftKvStreamingWrite(dir, schema, queryId)
      val writer = w.createStreamingWriterFactory(onePart)
        .createWriter(0, taskId, epoch)
      writer.write(InternalRow(id))
      w.commit(epoch, Array(writer.commit()))
    }
    commitEpoch("query-A", 0L, 1L, 10L)
    commitEpoch("query-A", 1L, 2L, 11L)
    // recovery replay by the SAME query: idempotent, no duplicate rows
    commitEpoch("query-A", 1L, 2L, 12L)
    def ids(): Seq[Long] = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load().collect().map(_.getLong(0)).toSeq.sorted
    assert(ids() == Seq(1L, 2L))
    // a DIFFERENT streaming query hitting an epoch query-A owns: its
    // batch must NOT be silently discarded as a "replay" — it REBASES to
    // a fresh epoch past all published history (the Delta multi-writer
    // shape: per-query transaction identity, one owner per epoch)
    commitEpoch("query-B", 1L, 99L, 13L)
    assert(ids() == Seq(1L, 2L, 99L)) // nothing lost, nothing interleaved
    // B continues through its own recorded base
    commitEpoch("query-B", 2L, 3L, 14L)
    assert(ids() == Seq(1L, 2L, 3L, 99L))
    // a recovery replay by B maps through ITS frozen base: still dedups
    commitEpoch("query-B", 1L, 99L, 15L)
    assert(ids() == Seq(1L, 2L, 3L, 99L))
    // LEGACY manifests (written before stream bases existed) recorded
    // txn ownership at the identity mapping but no base: a replay of an
    // owned epoch must keep base 0 and dedup — recomputing a fresh base
    // there would re-publish committed rows under a new name (duplicates)
    val mfp = graft.sources.GraftKvSink.manifestPath(dir)
    val json = new String(java.nio.file.Files.readAllBytes(mfp), "UTF-8")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(json).asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove("streamBase")
    java.nio.file.Files.write(mfp, om.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(root))
    commitEpoch("query-A", 1L, 2L, 16L) // replay of A's owned epoch 1
    assert(ids() == Seq(1L, 2L, 3L, 99L), "legacy replay duplicated rows")
  }

  test("streaming writes to a PARTITIONED kv table split per tuple and prune") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.sources.GraftKvSink
    val root = java.nio.file.Files.createTempDirectory("graft_kv_spart")
    val dir = root.resolve("out").toString
    // declare the layout as a WRITER OPTION on a fresh directory: the
    // first streaming commit must bootstrap the manifest WITH the spec
    // (the batch-path rule), or later option-less writers stop splitting
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "grp")
      .writeStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("partitionedBy", "grp")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    ms.addData((1L, "a"), (2L, "b"), (3L, "a"))
    q.processAllAvailable()
    ms.addData((4L, "b"))
    q.processAllAvailable()
    q.stop()
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m.partitionSpec == Seq("grp"), m.partitionSpec)
    // every streamed file carries exactly one tuple
    assert(m.files.nonEmpty)
    m.files.foreach { case (n, _) =>
      assert(m.stats.getOrElse(n, Map.empty).contains("part:grp"), n) }
    // epoch structure intact (one epoch per micro-batch, idempotent names)
    assert(m.files.map(f => GraftKvSink.epochOf(f._1)).toSet == Set(0L, 1L))
    // tuple pruning composes with the epoch machinery
    val aFiles = m.files.count(f => m.stats(f._1)("part:grp")._1 == "a")
    assert(new graft.sources.GraftKvScan(dir, None,
      Seq(org.apache.spark.sql.sources.EqualTo("grp", "a")))
      .planInputPartitions().length == aFiles)
    assert(aFiles < m.files.length)
    assert(spark.read.format("graft.sources.GraftKvSink").option("path", dir)
      .load().where("grp = 'a'").count() == 2L)
  }

  test("streaming into a days(ts)-partitioned table: per-day files, " +
    "hidden pruning, scoped OPTIMIZE repairs the streamed layout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.sources.GraftKvSink
    val root = java.nio.file.Files.createTempDirectory("graft_kv_stime")
    val dir = root.resolve("out").toString
    spark.sql("DROP TABLE IF EXISTS graft.stime.t")
    spark.sql("CREATE TABLE graft.stime.t (id BIGINT, ts TIMESTAMP_NTZ) " +
      s"USING graft_kv PARTITIONED BY (days(ts)) OPTIONS (path '$dir')")
    val day0 = 1709251200000000L // 2024-03-01T00:00Z, epoch day 19783
    def at(day: Int, s: Int): java.time.LocalDateTime =
      java.time.LocalDateTime.ofEpochSecond(
        day0 / 1000000L + day * 86400L + s, 0, java.time.ZoneOffset.UTC)
    val ms = MemoryStream[(Long, java.time.LocalDateTime)]
    val q = ms.toDF().toDF("id", "ts")
      .writeStream.format("graft.sources.GraftKvSink")
      .option("path", dir).option("partitionedBy", "days(ts)")
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    // two micro-batches, each spanning both days -> 2 epochs x 2 day files
    ms.addData((1L, at(0, 1)), (2L, at(1, 1)))
    q.processAllAvailable()
    ms.addData((3L, at(0, 2)), (4L, at(1, 2)))
    q.processAllAvailable()
    q.stop()
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(m.partitionSpec == Seq("days(ts)"), m.partitionSpec)
    val days = m.files.map(f => m.stats(f._1)("part:days(ts)")._1.toLong)
    assert(days.toSet == Set(19783L, 19784L) && days.length == 4, days)
    // hidden pruning on the raw timestamp over STREAMED files
    assert(new graft.sources.GraftKvScan(dir, None,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("ts", at(1, 0))))
      .planInputPartitions().length == 2)
    // the everyday repair: fold yesterday's streamed files only
    spark.sql("OPTIMIZE graft.stime.t WHERE ts < '2024-03-02 00:00:00'")
    val m1 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val byDay = m1.files.groupBy(f => m1.stats(f._1)("part:days(ts)")._1)
    assert(byDay("19783").size == 1 && byDay("19784").size == 2, byDay.keys)
    assert(spark.table("graft.stime.t").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    spark.sql("DROP TABLE graft.stime.t")
  }

  test("streaming read FROM a branch head follows branch-local epochs") {
    val root = java.nio.file.Files.createTempDirectory("graft_sbr")
    val dir = root.resolve("t").toString
    val out = root.resolve("out").toString
    spark.sql("DROP TABLE IF EXISTS graft.sbr.t")
    spark.sql("CREATE TABLE graft.sbr.t (id BIGINT) USING graft_kv " +
      s"OPTIONS (path '$dir', epochs 'true')")
    spark.sql("INSERT INTO graft.sbr.t SELECT id FROM range(3)")
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.sbr.t CREATE BRANCH dev")
    spark.sql("INSERT INTO graft.sbr.t.branch_dev SELECT id + 10 FROM range(2)")
    // the stream follows the BRANCH lineage: fork state + branch-local
    // epochs, never parent commits made after the fork
    val q = spark.readStream.table("graft.sbr.t.branch_dev")
      .writeStream.option("checkpointLocation", root.resolve("c").toString)
      .format("parquet").option("path", out).start()
    try {
      q.processAllAvailable()
      spark.sql("INSERT INTO graft.sbr.t.branch_dev SELECT id + 20 FROM range(2)")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L, 10L, 11L, 20L, 21L), got)
    graft.ops.Ddl.execute(spark, "ALTER TABLE graft.sbr.t DROP BRANCH dev")
    spark.sql("DROP TABLE graft.sbr.t")
  }

  test("a fresh stream appends AFTER existing batch epochs (epoch base)") {
    import graft.sources.GraftKvSink
    val root = java.nio.file.Files.createTempDirectory("graft_sbase")
    val feed = root.resolve("feed").toString
    val dir = root.resolve("out").toString
    spark.sql("DROP TABLE IF EXISTS graft.sbase.t")
    spark.sql("CREATE TABLE graft.sbase.t (id BIGINT) USING graft_kv " +
      s"OPTIONS (path '$dir', epochs 'true')")
    // batch history occupies epochs 0 and 1 BEFORE any stream exists —
    // the exact shape a fresh checkpoint used to silently lose its first
    // batches to (engine epoch 0 collided with batch epoch-0 names and
    // was dropped as a "replay duplicate")
    spark.sql("INSERT INTO graft.sbase.t SELECT id FROM range(5)")
    spark.sql("INSERT INTO graft.sbase.t SELECT id + 10 FROM range(5)")
    spark.range(3).selectExpr("id + 100 AS id")
      .write.format("graft.sources.GraftKvSink").option("path", feed)
      .option("epoch", "0").mode("append").save()
    val q = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", feed).load()
      .writeStream.option("checkpointLocation", root.resolve("c").toString)
      .toTable("graft.sbase.t")
    try q.processAllAvailable() finally q.stop()
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    // nothing lost: 10 batch rows + 3 streamed rows
    assert(spark.table("graft.sbase.t").count() == 13,
      m.files.mkString(", "))
    // the streamed epoch PUBLISHED past the batch history, base recorded
    val streamed = m.files.map(_._1)
      .filterNot(n => n.startsWith("epoch-0-") || n.startsWith("epoch-1-"))
    assert(streamed.nonEmpty && streamed.forall(_.startsWith("epoch-2-")),
      m.files.map(_._1).mkString(", "))
    assert(m.streamBase.values.toSeq == Seq(2L), m.streamBase)
    // a LATER batch epoch landing mid-stream rebases the stream instead
    // of killing it or losing the batch
    spark.sql("INSERT INTO graft.sbase.t SELECT id + 20 FROM range(2)")
    spark.range(2).selectExpr("id + 200 AS id")
      .write.format("graft.sources.GraftKvSink").option("path", feed)
      .option("epoch", "1").mode("append").save()
    val q2 = spark.readStream.format("graft.sources.GraftKvSink")
      .option("path", feed).load()
      .writeStream.option("checkpointLocation", root.resolve("c").toString)
      .toTable("graft.sbase.t")
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("graft.sbase.t").count() == 17)
    spark.sql("DROP TABLE graft.sbase.t")
  }

  test("mid-stream rebase detects MOR-delta and metadata-DELETE occupants") {
    import graft.sources.GraftKvSink
    // arm 1: a foreign MOR delta (.kvd) at the stream's next slot — no
    // base file carries that epoch, so a files-only occupancy probe would
    // let the stream publish base files under the SAME epoch number,
    // mixing changefeed attribution and VERSION AS OF boundaries
    val root = java.nio.file.Files.createTempDirectory("graft_sdr")
    val feed = root.resolve("feed").toString
    val dir = root.resolve("out").toString
    spark.sql("DROP TABLE IF EXISTS graft.sdr.t")
    spark.sql("CREATE TABLE graft.sdr.t (id BIGINT) USING graft_kv " +
      s"OPTIONS (path '$dir', epochs 'true', mor 'true')")
    spark.sql("INSERT INTO graft.sdr.t SELECT id FROM range(5)")
    spark.range(3).selectExpr("id + 100 AS id")
      .write.format("graft.sources.GraftKvSink").option("path", feed)
      .option("epoch", "0").mode("append").save()
    val ck = root.resolve("c").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.GraftKvSink")
        .option("path", feed).load()
        .writeStream.option("checkpointLocation", ck)
        .toTable("graft.sdr.t")
      try q.processAllAvailable() finally q.stop()
    }
    run() // stream publishes epoch 1 (base past batch epoch 0)
    // the MOR delete lands a .kvd delta at the stream's next slot (2)
    spark.sql("DELETE FROM graft.sdr.t WHERE id = 1")
    val mDel = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    assert(mDel.deltas.nonEmpty &&
      mDel.deltas.forall(d => GraftKvSink.epochOf(d.name) == 2L),
      mDel.deltas.map(_.name))
    spark.range(2).selectExpr("id + 200 AS id")
      .write.format("graft.sources.GraftKvSink").option("path", feed)
      .option("epoch", "1").mode("append").save()
    run() // engine epoch 1 → slot 2 occupied by the delta → rebases to 3
    val m = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir))
    val baseEpochs = m.files.map(f => GraftKvSink.epochOf(f._1))
    assert(!baseEpochs.contains(2L),
      s"stream shared the delta's epoch 2: ${m.files.map(_._1)}")
    assert(baseEpochs.contains(3L), m.files.map(_._1))
    assert(spark.table("graft.sdr.t").count() == 5 - 1 + 3 + 2)
    spark.sql("DROP TABLE graft.sdr.t")

    // arm 2: a metadata DELETE's commit epoch exists ONLY as removedAt —
    // the stream must rebase past it (not die on the rewrite fence, and
    // never share the slot)
    val root2 = java.nio.file.Files.createTempDirectory("graft_sdr2")
    val feed2 = root2.resolve("feed").toString
    val dir2 = root2.resolve("out").toString
    spark.sql("DROP TABLE IF EXISTS graft.sdr2.t")
    spark.sql("CREATE TABLE graft.sdr2.t (id BIGINT, grp STRING) " +
      "USING graft_kv PARTITIONED BY (grp) " +
      s"OPTIONS (path '$dir2', epochs 'true')")
    spark.sql("INSERT INTO graft.sdr2.t SELECT id, 'a' FROM range(4)")
    spark.sql("INSERT INTO graft.sdr2.t SELECT id + 10, 'b' FROM range(4)")
    spark.range(2).selectExpr("id + 100 AS id", "'c' AS grp")
      .write.format("graft.sources.GraftKvSink").option("path", feed2)
      .option("epoch", "0").mode("append").save()
    val ck2 = root2.resolve("c").toString
    def run2(): Unit = {
      val q = spark.readStream.format("graft.sources.GraftKvSink")
        .option("path", feed2).load()
        .writeStream.option("checkpointLocation", ck2)
        .toTable("graft.sdr2.t")
      try q.processAllAvailable() finally q.stop()
    }
    run2() // publishes epoch 2
    // partition-aligned metadata DELETE: removal epoch 3, no file named 3
    spark.sql("DELETE FROM graft.sdr2.t WHERE grp = 'b'")
    val mMd = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir2))
    assert(mMd.removed.nonEmpty && mMd.removed.forall(_.removedAt == 3L),
      mMd.removed)
    spark.range(2).selectExpr("id + 200 AS id", "'c' AS grp")
      .write.format("graft.sources.GraftKvSink").option("path", feed2)
      .option("epoch", "1").mode("append").save()
    run2() // slot 3 occupied by removedAt → rebases to 4
    val m2 = GraftKvSink.readManifest(GraftKvSink.manifestPath(dir2))
    val be2 = m2.files.map(f => GraftKvSink.epochOf(f._1))
    assert(!be2.contains(3L),
      s"stream shared the removal epoch 3: ${m2.files.map(_._1)}")
    assert(be2.contains(4L), m2.files.map(_._1))
    assert(spark.table("graft.sdr2.t").count() == 4 + 2 + 2) // a + 2 streams
    spark.sql("DROP TABLE graft.sdr2.t")
  }

  test("a stateful checkpointed stream starts no readlink or chmod process") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_forks")
    try {
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try {
        // two batches through a checkpoint (offset and commit logs), a state
        // store (the dedup keys) and a foreachBatch parquet sink
        val ms = MemoryStream[Ev]
        val q = streaming.StreamOps.sinkToParquet(
          streaming.StreamOps.dedupWithinWatermark(ms.toDF()),
          s"$dir/out", s"$dir/ckpt")
        try {
          ms.addData(Ev(1, ts("2024-01-01T01:00:00Z"), 1, "view"),
            Ev(1, ts("2024-01-01T01:05:00Z"), 1, "view"))
          q.processAllAvailable()
          ms.addData(Ev(1, ts("2024-01-01T01:20:00Z"), 1, "view"),
            Ev(2, ts("2024-01-01T01:30:00Z"), 2, "click"))
          q.processAllAvailable()
        } finally q.stop()
        // proves the recording sees process starts
        new ProcessBuilder("true").start().waitFor()
      } finally rec.stop()
      val jfr = dir.resolve("forks.jfr")
      rec.dump(jfr)
      rec.close()
      val programs = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      assert(programs.contains("true"), programs)
      // Spark's own `rm -rf` (JavaUtils.deleteRecursively) may still fork
      assert(!programs.exists(Set("readlink", "chmod")), programs)
      assert(spark.read.parquet(s"$dir/out").select("event_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("stream_join and stream_dedup run no empty micro-batch") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress): Unit
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        ended.incrementAndGet(): Unit
    }
    // the events of a stopped query are delivered asynchronously, but in
    // order: its progress events all precede its termination event
    def batches(run: => Any): Seq[Long] = {
      progress.clear(); ended.set(0)
      spark.streams.addListener(listener)
      try {
        run
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (ended.get() == 0 && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(ended.get() == 1)
      } finally spark.streams.removeListener(listener)
      // an idle trigger may also report progress; only an executed batch
      // times addBatch
      progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
        .map(_.numInputRows)
    }
    val d = sf("sf0.001")
    val join = batches(ops.Events.streamJoin(spark, d))
    assert(join.size == 2 && join.forall(_ > 0), join)
    val dedup = batches(ops.Events.streamDedup(spark, d))
    assert(dedup.size == 3 && dedup.forall(_ > 0), dedup)
  }
}
