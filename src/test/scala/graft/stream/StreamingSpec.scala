package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** True Structured Streaming behavior: micro-batch windows, watermark
  * late-data drop, watermark dedup, and custom mapGroupsWithState —
  * driven deterministically through MemoryStream. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
  private def tsH(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$minute%02d:00")

  test("tumbling stream aggregates by event-time window and drops late data") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Events.tumblingStream(events, "10 minutes")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()

    // batch 1: two events in the 10:00 window, one in 11:00
    in.addData((1L, tsH(10, 5), "click", 1.0), (2L, tsH(10, 40), "click", 2.0),
      (3L, tsH(11, 5), "click", 4.0))
    q.processAllAvailable()
    // batch 2: advance watermark far past 10:xx (12:30), then a LATE event
    // back in the 10:00 window — must be dropped.
    in.addData((4L, tsH(12, 30), "click", 8.0))
    q.processAllAvailable()
    in.addData((5L, tsH(10, 50), "click", 100.0)) // late
    in.addData((6L, tsH(13, 30), "click", 16.0))  // closes 12:xx
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tumbling_out")
      .select("w_start", "n", "sum_value").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows("2024-01-01 10:00:00") == ((2L, 3.0)),
      s"late event must not appear: $rows")
    assert(rows("2024-01-01 11:00:00") == ((1L, 4.0)))
  }

  test("update output mode re-emits a window when late-but-valid data refines it") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Events.tumblingStream(events, "2 hours") // generous watermark
      .writeStream.format("memory").queryName("update_out")
      .outputMode("update").start()
    in.addData((1L, tsH(10, 5), "click", 1.0))
    q.processAllAvailable()
    // same window, second batch: within watermark → the 10:00 row is
    // emitted AGAIN with the refined aggregate (update semantics)
    in.addData((2L, tsH(10, 40), "click", 2.0))
    q.processAllAvailable()
    q.stop()
    val emits = spark.table("update_out")
      .filter(col("w_start") === "2024-01-01 10:00:00")
      .select("n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(emits.toSeq == Seq((1L, 1.0), (2L, 3.0)), emits.mkString(","))
  }

  test("dropDuplicatesWithinWatermark removes repeated event_ids") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Events.dedupStream(events, "30 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    in.addData((1L, ts(0), "a", 1.0), (1L, ts(1), "a", 1.0),
      (2L, ts(2), "b", 2.0), (1L, ts(3), "a", 1.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == 2)
  }

  test("stream-stream interval join pairs errors with preceding clicks only") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String, Double)]
    val errors = MemoryStream[(Long, Timestamp, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Events.clickErrorJoin(
      df(clicks).withColumn("user_id", col("event_id") % 10),
      df(errors).withColumn("user_id", col("event_id") % 10))
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    // user 1: click at 10:00 and 10:30; error at 10:40 → joins BOTH clicks
    // user 2: click at 10:00 only; error at 11:30 → outside 1h, no join
    clicks.addData((1L, tsH(10, 0), "click", 1.0), (1L, tsH(10, 30), "click", 2.0),
      (2L, tsH(10, 0), "click", 3.0))
    errors.addData((11L, tsH(10, 40), "error", 0.0), (12L, tsH(11, 30), "error", 0.0))
    q.processAllAvailable()
    // push both watermarks forward so joined rows emit in append mode
    clicks.addData((3L, tsH(14, 0), "click", 9.0))
    errors.addData((13L, tsH(14, 0), "error", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjoin_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("error_id"),
        r.getAs[Double]("click_value")))
    assert(rows.count(_._2 == 11L) == 2, rows.mkString(","))
    assert(rows.forall(_._2 != 12L), rows.mkString(","))
  }

  test("left-outer stream-stream join emits unmatched errors after the watermark closes") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String, Double)]
    val errors = MemoryStream[(Long, Timestamp, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "event_type", "value")
        .withColumn("user_id", col("event_id") % 10)
    // through the library entry point, not a re-implementation
    val joined = Events.clickErrorJoin(df(clicks), df(errors),
      watermark = "10 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("lojoin_out")
      .outputMode("append").start()
    // user 1 error has a click; user 2 error has none
    clicks.addData((1L, tsH(10, 0), "click", 1.0))
    errors.addData((11L, tsH(10, 30), "error", 0.0), (12L, tsH(10, 30), "error", 0.0))
    q.processAllAvailable()
    // advance both watermarks far past the join horizon → the unmatched
    // error must be emitted with a null click side
    clicks.addData((3L, tsH(14, 0), "click", 9.0))
    errors.addData((13L, tsH(14, 0), "error", 9.0))
    q.processAllAvailable()
    clicks.addData((4L, tsH(16, 0), "click", 9.0))
    errors.addData((14L, tsH(16, 0), "error", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("lojoin_out").collect()
      .map(r => r.getAs[Long]("error_id") -> r.isNullAt(r.fieldIndex("click_ts")))
      .toMap
    assert(rows.get(11L).contains(false), s"matched error wrong: $rows")
    assert(rows.get(12L).contains(true), s"unmatched error not emitted null: $rows")
  }

  test("full-outer stream-stream join emits BOTH unmatched sides after the watermark") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String, Double)]
    val errors = MemoryStream[(Long, Timestamp, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "event_type", "value")
        .withColumn("user_id", col("event_id") % 10)
    val joined = Events.clickErrorJoin(df(clicks), df(errors),
      watermark = "10 minutes", joinType = "full_outer")
    val q = joined.writeStream.format("memory").queryName("fojoin_out")
      .outputMode("append").start()
    // user 1: click+error pair; user 2: error only; user 5: click only
    clicks.addData((1L, tsH(10, 0), "click", 1.0), (5L, tsH(10, 0), "click", 5.0))
    errors.addData((11L, tsH(10, 30), "error", 0.0), (12L, tsH(10, 30), "error", 0.0))
    q.processAllAvailable()
    // advance both watermarks far past the horizon, twice
    for (h <- Seq(14, 16)) {
      clicks.addData((3L, tsH(h, 0), "click", 9.0))
      errors.addData((13L, tsH(h, 0), "error", 9.0))
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("fojoin_out").collect()
    val byError = rows.filter(!_.isNullAt(1))
      .map(r => r.getAs[Long]("error_id") ->
        r.isNullAt(r.fieldIndex("click_ts"))).toMap
    assert(byError.get(11L).contains(false), s"matched pair wrong: $byError")
    assert(byError.get(12L).contains(true), s"unmatched error missing: $byError")
    // the click-only row surfaces with a null error side and its OWN key
    val clickOnly = rows.filter(r =>
      r.isNullAt(1) && !r.isNullAt(r.fieldIndex("click_value")) &&
        r.getAs[Double]("click_value") == 5.0)
    assert(clickOnly.nonEmpty, "unmatched click not emitted")
    assert(clickOnly.forall(_.getAs[Long]("user_id") == 5L))
  }

  test("left-semi stream-stream join emits each correlated error ONCE") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String, Double)]
    val errors = MemoryStream[(Long, Timestamp, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "event_type", "value")
        .withColumn("user_id", col("event_id") % 10)
    val joined = Events.errorWithClickSemi(df(clicks), df(errors),
      watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("semijoin_out")
      .outputMode("append").start()
    // user 1: TWO clicks before its error -> the error must emit ONCE
    // (st05's inner join emits it twice); user 2: error, no click
    clicks.addData((1L, tsH(10, 0), "click", 1.0), (1L, tsH(10, 30), "click", 2.0))
    errors.addData((11L, tsH(10, 40), "error", 0.0), (12L, tsH(10, 40), "error", 0.0))
    q.processAllAvailable()
    clicks.addData((3L, tsH(14, 0), "click", 9.0))
    errors.addData((13L, tsH(14, 0), "error", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("semijoin_out").collect()
      .map(_.getAs[Long]("error_id"))
    assert(rows.count(_ == 11L) == 1,
      s"semi must emit the matched error exactly once: ${rows.mkString(",")}")
    assert(!rows.contains(12L), s"uncorrelated error leaked: ${rows.mkString(",")}")
    // and the registered batch form agrees with a driver-side
    // brute-force correlation scan over the fixture
    val sf = graft.TestSpark.sf0001
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getString(3)))
    val clicksByUser = ev.filter(_._4 == "click").groupBy(_._2)
    val expect = ev.filter(_._4 == "error").filter { e =>
      clicksByUser.getOrElse(e._2, Array.empty).exists(c =>
        c._3 <= e._3 && c._3 >= e._3 - 3600000L)
    }.map(_._1).toSet
    val got = Events.streamSemiJoinQ.build(spark, sf).collect()
      .map(_.getAs[Long]("error_id")).toSet
    assert(got == expect,
      s"batch semi form disagrees with brute force: extra=${got -- expect}, missing=${expect -- got}")
  }

  test("st21 CEP alarm: chained join+agg emits thresholded errors once, stream==batch") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String, Double)]
    val errors = MemoryStream[(Long, Timestamp, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, String, Double)]) =
      m.toDF().toDF("event_id", "ts", "event_type", "value")
        .withColumn("user_id", col("event_id") % 10)
    // CHAINED stateful ops in one query (interval join -> windowed
    // count): the engine must accept the plan and emit in append mode
    // once the watermark passes the error's hour window
    val q = Events.cepAlarmStream(df(clicks), df(errors),
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("cep_out")
      .outputMode("append").start()
    // user 1: TWO clicks then an error (alarm); user 2: ONE click then
    // an error (below threshold)
    clicks.addData((1L, tsH(10, 0), "click", 1.0),
      (1L, tsH(10, 30), "click", 2.0), (2L, tsH(10, 10), "click", 3.0))
    errors.addData((11L, tsH(10, 40), "error", 0.0),
      (12L, tsH(10, 45), "error", 0.0))
    q.processAllAvailable()
    // flush: the chained aggregate's watermark is held back by the
    // join's 24 h interval, so advance BOTH sides several days past
    // the 10:xx window before expecting append-mode emission
    val flush = Timestamp.valueOf("2024-01-05 00:00:00")
    clicks.addData((3L, flush, "click", 9.0))
    errors.addData((13L, flush, "error", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cep_out").collect()
      .map(r => r.getAs[Long]("error_id") -> r.getAs[Long]("n_clicks"))
    assert(rows.count(_._1 == 11L) == 1,
      s"alarmed error must emit exactly once: ${rows.mkString(",")}")
    assert(rows.toMap.get(11L).contains(2L), rows.mkString(","))
    assert(!rows.exists(_._1 == 12L),
      s"below-threshold error leaked: ${rows.mkString(",")}")
    // batch form agrees with a driver-side brute force over the fixture
    val sf = graft.TestSpark.sf0001
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getString(3)))
    val clicksByUser = ev.filter(_._4 == "click").groupBy(_._2)
    val expect = ev.filter(_._4 == "error").flatMap { e =>
      val n = clicksByUser.getOrElse(e._2, Array.empty).count(c =>
        c._3 <= e._3 && c._3 >= e._3 - 24L * 3600000L)
      if (n >= 2) Some(e._1 -> n.toLong) else None
    }.toMap
    val got = Events.cepAlarmQ.build(spark, sf).collect()
      .map(r => r.getAs[Long]("error_id") -> r.getAs[Long]("n_clicks")).toMap
    assert(got == expect,
      s"batch CEP disagrees with brute force: extra=${got.toSet -- expect.toSet}, missing=${expect.toSet -- got.toSet}")
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val q = Events.runningTotals(in.toDS())
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    in.addData((7L, 1.0), (7L, 2.0), (8L, 5.0))
    q.processAllAvailable()
    in.addData((7L, 4.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("state_out")
      .groupBy("user_id").agg(max("n").as("n"), max("sum_value").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(last(7L) == ((3L, 7.0)))
    assert(last(8L) == ((1L, 5.0)))
  }

  test("flatMapGroupsWithState sessionizer closes sessions at the event-time timeout") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val withWm = in.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "1 second")
    val sessions = Events.sessionizeStream(
      withWm.as[(Long, Timestamp, Double)], "10 minutes")
    val q = sessions.toDF()
      .writeStream.format("memory").queryName("sessionize_out")
      .outputMode("append").start()
    // user 7, ONE batch spanning two sessions: events at 10:00/10:05,
    // then a 25-min gap to 10:30 — the first session must close and emit
    // immediately (within-batch gap split), the second stays open.
    in.addData((7L, ts(0), 1.0), (7L, ts(5), 2.0), (7L, ts(30), 4.0))
    q.processAllAvailable()
    val early = spark.table("sessionize_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_value")))
    assert(early.toSeq == Seq((7L, 2L, 3.0)), early.mkString(","))
    // another user far in the future pushes the watermark past the gap
    in.addData((8L, tsH(12, 0), 5.0))
    q.processAllAvailable()
    in.addData((8L, tsH(13, 0), 1.0)) // one more batch so the timeout fires
    q.processAllAvailable()
    q.stop()
    val user7 = spark.table("sessionize_out").collect()
      .filter(_.getAs[Long]("user_id") == 7L)
      .map(r => (r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
      .sortBy(_._1)
    // both sessions now emitted: the in-batch-closed (n=2) and the
    // timeout-closed (n=1)
    assert(user7.toSeq == Seq((1L, 4.0), (2L, 3.0)), user7.mkString(","))
  }

  test("file-source stream over real events parquet equals the batch result") {
    // unified batch/stream contract: the same tumbling() transform over
    // readStream(sf0.001 events) must reproduce the batch answer exactly.
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    // copy the parquet file into a stream-source directory
    val src = java.nio.file.Paths.get(s"${graft.TestSpark.sf0001}/events.parquet")
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = Events.tumbling(Events.readEventsStream(spark, dir))
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("file_stream_out")
    val batch = Events.tumbling(
      graft.core.Tables.events(spark, graft.TestSpark.sf0001))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("st14 streaming type counts equal the batch counts on the file source") {
    // the st14 leaderboard's streaming stage: same typeCounts() over
    // readStream must reproduce the batch counts exactly; the rank is a
    // deterministic function of the counts, so count parity IS
    // leaderboard parity.
    val dir = java.nio.file.Files.createTempDirectory("evtoptypes").toString
    val src = java.nio.file.Paths.get(s"${graft.TestSpark.sf0001}/events.parquet")
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = Events.typeCounts(Events.readEventsStream(spark, dir))
      .writeStream.format("memory").queryName("top_types_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("top_types_out")
    val batch = Events.typeCounts(
      graft.core.Tables.events(spark, graft.TestSpark.sf0001))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("Trigger.AvailableNow drains the file source and self-terminates") {
    // the batch-catchup trigger: process everything currently available
    // across rate-limited micro-batches, then stop — how a 100 TB
    // backfill shares code with the live stream without running forever
    val dir = java.nio.file.Files.createTempDirectory("evavail").toString
    val src = java.nio.file.Paths.get(s"${graft.TestSpark.sf0001}/events.parquet")
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val q = Events.tumbling(Events.readEventsStream(spark, dir))
      .writeStream.format("memory").queryName("avail_now_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    val streamed = spark.table("avail_now_out")
    val batch = Events.tumbling(
      graft.core.Tables.events(spark, graft.TestSpark.sf0001))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("watermark EVICTS dedup state — state rows stay bounded across batches") {
    // the difference between "runs on the laptop" and "runs forever at
    // 100 TB/day": without eviction, dedup state grows with the stream.
    // Drive many micro-batches with an advancing watermark and assert
    // the retained state row count stays bounded by the horizon, not
    // the total events seen.
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Events.dedupStream(events, "10 minutes")
      .writeStream.format("memory").queryName("evict_out")
      .outputMode("append").start()
    val totals = (0 until 12).map { b =>
      // each batch: 10 fresh ids, 40 minutes apart → watermark sweeps
      // past old state every batch
      val base = b * 10L
      in.addData((0 until 10).map(i =>
        (base + i, tsH(10 + b, i), "click", 1.0)): _*)
      q.processAllAvailable()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    q.stop()
    assert(spark.table("evict_out").count() == 120) // all unique ids pass
    // state never accumulates all 120 keys — eviction keeps it at the
    // horizon (≤ 2 batches' worth with margin)
    assert(totals.max <= 30, s"state grew: $totals")
    assert(totals.last <= 30, s"final state unbounded: $totals")
  }

  test("restart from checkpoint RESUMES aggregation state across queries") {
    // operational recovery: executor/driver loss at 100 TB is routine —
    // a restarted query must pick up the offsets AND the window state
    // from the checkpoint, not recount from zero
    val srcDir = java.nio.file.Files.createTempDirectory("ckpt-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt-loc").toString
    def nanos(hour: Int, minute: Int): Long =
      tsH(hour, minute).getTime * 1000000L
    def writeBatch(name: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("event_id", "ts")
        .selectExpr("event_id", "ts", "event_id AS user_id",
          "'click' AS event_type", "1.0 AS value", "'{}' AS props")
        .coalesce(1).write.mode("append").parquet(s"$srcDir/$name")
    def run(): Map[String, Long] = {
      val q = Events.tumbling(Events.readEventsStream(spark, s"$srcDir/*"))
        .writeStream.format("memory").queryName("ckpt_out")
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      q.processAllAvailable()
      q.stop()
      spark.table("ckpt_out").collect()
        .map(r => r.getAs[String]("w_start") -> r.getAs[Long]("n")).toMap
    }
    writeBatch("b1", Seq((1L, nanos(10, 5)), (2L, nanos(10, 40))))
    val first = run()
    assert(first("2024-01-01 10:00:00") == 2L, first.toString)
    // "crash": the first query is stopped; new data lands; a NEW query
    // starts from the SAME checkpoint
    writeBatch("b2", Seq((3L, nanos(10, 50))))
    val resumed = run()
    assert(resumed("2024-01-01 10:00:00") == 3L,
      s"state reset instead of resumed: $resumed")
  }

  test("a fitted ML model scores a live stream identically to batch") {
    // model-inference-on-stream: fit once (batch), transform the stream —
    // LinearRegressionModel is pure column math, so it applies to a
    // streaming frame unchanged and ships to executors like any literal
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.LinearRegression
    val train = spark.range(0, 200).selectExpr(
      "CAST(id AS DOUBLE) AS x", "CAST(3 * id + 7 AS DOUBLE) AS label")
    val assembled = new VectorAssembler().setInputCols(Array("x"))
      .setOutputCol("features")
    val model = new LinearRegression().setMaxIter(10)
      .fit(assembled.transform(train))
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Double]
    val scored = model.transform(
      assembled.transform(in.toDF().toDF("x")))
      .select(col("x"), round(col("prediction"), 6).as("pred"))
    val q = scored.writeStream.format("memory").queryName("scored_out")
      .outputMode("append").start()
    in.addData(1.0, 10.0, 100.0)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scored_out").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val batch = model.transform(assembled.transform(
        Seq(1.0, 10.0, 100.0).toDF("x")))
      .select(col("x"), round(col("prediction"), 6).as("pred"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)
    // the model actually learned the line (sanity on the fixture)
    assert(math.abs(streamed(10.0) - 37.0) < 1.0)
  }

  test("built-in session_window works in true streaming mode with a watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", col("event_id") % 10)
      .withWatermark("ts", "1 minute")
    val q = Events.session(events, "10 minutes")
      .writeStream.format("memory").queryName("builtin_session_out")
      .outputMode("append").start()
    // user 1: one session of two events; then far-future events close it
    in.addData((1L, ts(0), "click", 1.0), (1L, ts(5), "click", 2.0))
    q.processAllAvailable()
    in.addData((2L, tsH(12, 0), "click", 5.0))
    q.processAllAvailable()
    in.addData((3L, tsH(13, 0), "click", 5.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("builtin_session_out")
      .filter(col("user_id") === 1L)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(("2024-01-01 10:00:00", 2L, 3.0)),
      rows.mkString(","))
  }

  test("st05 batch interval join: every pair inside the 1h lookback band") {
    val out = Events.intervalJoinQ.build(spark, graft.TestSpark.sf0001)
      .collect()
    assert(out.nonEmpty)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    out.foreach { r =>
      val c = java.time.LocalDateTime.parse(r.getAs[String]("click_ts"), fmt)
      val e = java.time.LocalDateTime.parse(r.getAs[String]("error_ts"), fmt)
      assert(!c.isAfter(e), s"click after error: $r")
      assert(!c.isBefore(e.minusHours(1).minusSeconds(1)),
        s"click outside 1h band: $r")
    }
  }

  test("st06 dedupBatch keeps a real survivor row (earliest ts, min user on ties)") {
    val dup = Seq(
      (100L, ts(2), 7L, "x", 1.0, "{}"), // later copy, smaller user_id
      (100L, ts(0), 9L, "x", 2.0, "{}"), // earliest -> survivor user 9
      (100L, ts(0), 4L, "x", 3.0, "{}"), // exact-ts tie -> min user 4
      (200L, ts(5), 1L, "y", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.dedupBatch(dup).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("first_ts"), r.getAs[Long]("user_id"),
          r.getAs[Long]("n_copies")))).toMap
    assert(out(100L) == (("2024-01-01 10:00:00", 4L, 3L)), out.toString)
    assert(out(200L)._2 == 1L && out(200L)._3 == 1L)
    // the (ts, user) pair is a row that actually existed: (ts0, user 4)
    // is real, whereas independent min aggregates could emit (ts0, 4)
    // only by luck — here the tie rule pins it deterministically
  }

  test("st08 foreachBatch sink is idempotent under batch replay") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("st08_sink").toString + "/out"
    val in = MemoryStream[(Long, String, Double)]
    val q = in.toDF().toDF("event_id", "event_type", "value")
      .writeStream
      .foreachBatch(Events.idempotentBatchWriter(dir) _)
      .start()
    in.addData((1L, "click", 1.0), (2L, "error", 2.0))
    q.processAllAvailable()
    in.addData((3L, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val table = () => spark.read.parquet(dir)
    assert(table().count() == 3)
    val fpBefore = graft.core.Sinks.fingerprint(table())
    // simulate the failure-recovery path: the harness re-delivers batch 0
    // with the SAME batchId — an append sink would now hold duplicates
    Events.idempotentBatchWriter(dir)(
      Seq((1L, "click", 1.0), (2L, "error", 2.0))
        .toDF("event_id", "event_type", "value"), 0L)
    assert(table().count() == 3, "replayed batch duplicated rows")
    assert(graft.core.Sinks.fingerprint(table()) == fpBefore)
    // a genuinely NEW batch still lands
    Events.idempotentBatchWriter(dir)(
      Seq((4L, "click", 4.0)).toDF("event_id", "event_type", "value"), 2L)
    assert(table().count() == 4)
  }

  test("streaming fuzzy-dedup admission: each trigger probes the band index built by prior triggers") {
    // the x20 pattern under Structured Streaming: foreachBatch probes a
    // file-backed LSH band index that GROWS across triggers — matches
    // only ever pair a new doc with an EARLIER trigger's doc (history
    // never self-pairs, same-trigger dups don't match each other)
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_fuzzy").toString
    val indexDir = s"$dir/index"; val outDir = s"$dir/matches"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi"
    val other = "one two three four five six seven eight nine ten " +
      "eleven twelve"
    def processBatch(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      import graft.ext.Dedup._
      val fam = MinHashFamily.Md5
      val b = minhashBands(minhashSignatures(minhashShingles(batch, fam),
        fam, 8), fam, 8, 4).localCheckpoint()
      if (new java.io.File(indexDir).exists()) {
        val idx = spark.read.parquet(indexDir)
          .withColumnRenamed("doc_id", "old_id")
        b.join(idx, Seq("band", "bv"))
          .select(col("doc_id").as("new_id"), col("old_id")).distinct()
          .write.mode("append").parquet(outDir)
      }
      b.write.mode("append").parquet(indexDir)
    }
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(processBatch _).start()
    in.addData((0L, base), (1L, other)) // trigger 0 seeds the index
    q.processAllAvailable()
    in.addData((2L, base), (3L, "unseen novel words entirely fresh"))
    q.processAllAvailable()
    // 4 dups 0 and 2; 5 dups 3; 6 dups 5 WITHIN this trigger (and 3
    // transitively through the index)
    in.addData((4L, base), (5L, "unseen novel words entirely fresh"),
      (6L, "unseen novel words entirely fresh"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"))).toSet
    // every pair crosses triggers backwards; (6,5) must be ABSENT
    assert(got == Set((2L, 0L), (4L, 0L), (4L, 2L), (5L, 3L), (6L, 3L)))
    // equivalently: exactly the identical-text pairs with old < new from
    // a strictly earlier trigger — the batch-mode ground truth
    val trigger = Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1,
      4L -> 2, 5L -> 2, 6L -> 2)
    val texts = Map(0L -> base, 1L -> other, 2L -> base,
      3L -> "unseen novel words entirely fresh", 4L -> base,
      5L -> "unseen novel words entirely fresh",
      6L -> "unseen novel words entirely fresh")
    val expected = (for {
      a <- texts.keys; b <- texts.keys
      if texts(a) == texts(b) && trigger(a) > trigger(b)
    } yield (a, b)).toSet
    assert(got == expected)
  }

  test("custom HLL Aggregator merges across micro-batches == batch result") {
    // the extension-point x streaming composition: the DistinctSketch
    // UDAF's merge() runs between trigger-local partials and the state
    // store — the final estimate must equal one batch pass over the union
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val events = in.toDF().toDF("user_id", "ts")
    val q = events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.expr.DistinctSketch.distinctSketch(col("user_id")).as("est"))
      .writeStream.format("memory").queryName("sketch_out")
      .outputMode("complete").start()
    // three micro-batches, overlapping users within the same hour window
    in.addData((1L to 400L).map(u => (u, tsH(10, 5))): _*)
    q.processAllAvailable()
    in.addData((201L to 600L).map(u => (u, tsH(10, 25))): _*)
    q.processAllAvailable()
    in.addData((1L to 100L).map(u => (u, tsH(10, 55))): _*) // all dups
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sketch_out").collect()
      .map(r => r.getLong(1)).head
    val batch = (1L to 600L).map(u => (u, tsH(10, 5)))
      .toDF("user_id", "ts")
      .agg(graft.expr.DistinctSketch.distinctSketch(col("user_id")))
      .collect().head.getLong(0)
    assert(streamed == batch,
      s"incremental merge diverged: streamed=$streamed batch=$batch")
    assert(math.abs(streamed - 600.0) / 600.0 < 0.1, s"est=$streamed")
  }

  test("Q-digest quantile Aggregator merges across micro-batches == batch result") {
    // the second mergeable-sketch x streaming composition: the quantile
    // sketch's exact-count state sums across trigger partials and the
    // state store, so incremental == batch EXACTLY (not within bounds)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val events = in.toDF().toDF("v", "ts")
    val q = events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.expr.QuantileSketch.quantileSketch(col("v")).as("qs"))
      .writeStream.format("memory").queryName("qsketch_out")
      .outputMode("complete").start()
    val vs = (1L to 900L).map(i => (i * 7919L) % 40000L)
    in.addData(vs.slice(0, 300).map(v => (v, tsH(10, 5))): _*)
    q.processAllAvailable()
    in.addData(vs.slice(300, 700).map(v => (v, tsH(10, 25))): _*)
    q.processAllAvailable()
    in.addData(vs.slice(700, 900).map(v => (v, tsH(10, 55))): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qsketch_out").collect()
      .map(r => r.getSeq[Long](1)).head
    val batch = vs.map(v => (v, tsH(10, 5))).toDF("v", "ts")
      .agg(graft.expr.QuantileSketch.quantileSketch(col("v")))
      .collect().head.getSeq[Long](0)
    assert(streamed == batch,
      s"incremental merge diverged: streamed=$streamed batch=$batch")
    assert(streamed(3) == 900L)
  }

  test("e09 Bloom position set unions across micro-batches == batch filter") {
    // the third mergeable-sketch x streaming composition: e09's bit set
    // is a position SET, so its streaming form is collect_set union
    // between trigger partials and the state store — the filter built
    // incrementally must equal one batch pass, bit for bit, and hence
    // give identical membership verdicts
    implicit val sc = spark.sqlContext
    val M = 65536; val K = 3
    def bitsOf(c: org.apache.spark.sql.Column) = org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.expr(
        s"transform(sequence(0, ${K - 1}), i -> " +
          s"CAST(${graft.ext.Dedup.sparkMd5Int60("concat(i, ':', tok)")} % $M AS BIGINT))"))
    val in = MemoryStream[(String, Timestamp)]
    val q = in.toDF().toDF("tok", "ts")
      .select(col("ts"), bitsOf(col("tok")).as("bit"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(collect_set(col("bit")).as("bits"))
      .writeStream.format("memory").queryName("bloom_out")
      .outputMode("complete").start()
    val toks = (1 to 500).map(i => s"tok$i")
    in.addData(toks.slice(0, 200).map(t => (t, tsH(10, 5))): _*)
    q.processAllAvailable()
    in.addData(toks.slice(150, 400).map(t => (t, tsH(10, 25))): _*) // overlap
    q.processAllAvailable()
    in.addData(toks.slice(400, 500).map(t => (t, tsH(10, 55))): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bloom_out").collect()
      .map(_.getSeq[Long](1).toSet).head
    val batch = toks.map(t => (t, tsH(10, 5))).toDF("tok", "ts")
      .select(bitsOf(col("tok")).as("bit"))
      .agg(collect_set(col("bit")))
      .collect().head.getSeq[Long](0).toSet
    assert(streamed == batch, "incremental bit-set union diverged")
    // membership verdicts agree with the definition: every streamed
    // token's K bits are set (no false negatives through the stream path)
    val probeBits = toks.map(t => (t, tsH(10, 5))).toDF("tok", "ts")
      .select(col("tok"), bitsOf(col("tok")).as("bit"))
      .collect().groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(_.getLong(1)).toSet }
    probeBits.foreach { case (t, bs) =>
      assert(bs.subsetOf(streamed), s"false negative on $t") }
  }

  test("st09 funnel counts only IN-ORDER completions") {
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, "view", ts(0)), (1L, "click", ts(5)), (1L, "purchase", ts(10)),
      // user 2: click BEFORE first view — must not reach step 2
      (2L, "click", ts(0)), (2L, "view", ts(5)), (2L, "purchase", ts(10)),
      // user 3: view only
      (3L, "view", ts(0)),
      // user 4: no view at all — not even step 1
      (4L, "click", ts(0)), (4L, "purchase", ts(5)))
      .toDF("user_id", "event_type", "ts")
    val r = Events.funnelOf(ev).collect().head
    assert(r.getAs[Long]("n_view") == 3L)
    assert(r.getAs[Long]("n_view_click") == 1L, r.toString)
    assert(r.getAs[Long]("n_view_click_purchase") == 1L, r.toString)
  }

  test("batch session window merges events within gap, splits at gap") {
    val df = Seq(
      (1L, ts(0), 1.0), (1L, ts(5), 2.0),   // session A (gap 5 < 10)
      (1L, ts(30), 4.0),                    // session B (gap 25)
      (2L, ts(0), 8.0))
      .toDF("user_id", "ts", "value")
      .withColumn("event_id", col("user_id"))
      .withColumn("event_type", lit("x"))
    val rows = Events.session(df).collect()
      .map(r => (r.getLong(1), r.getString(0)) -> r.getLong(2)).toMap
    assert(rows((1L, "2024-01-01 10:00:00")) == 2L)
    assert(rows((1L, "2024-01-01 10:30:00")) == 1L)
    assert(rows((2L, "2024-01-01 10:00:00")) == 1L)
  }

  test("RocksDB state store: same windowed result as the default provider") {
    // at 100 TB/day the aggregation state outgrows executor heaps — the
    // RocksDB provider spills state to local disk with changelog
    // checkpointing. The library code must be provider-agnostic: the
    // same tumblingStream run under RocksDB must produce byte-identical
    // windows to the default HDFSBackedStateStoreProvider run above.
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Timestamp, String, Double)]
      val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
      val q = Events.tumblingStream(events, "10 minutes")
        .writeStream.format("memory").queryName("rocksdb_out")
        .outputMode("append").start()
      in.addData((1L, tsH(10, 5), "click", 1.0), (2L, tsH(10, 40), "click", 2.0),
        (3L, tsH(11, 5), "click", 4.0))
      q.processAllAvailable()
      in.addData((4L, tsH(12, 30), "click", 8.0))
      q.processAllAvailable()
      in.addData((5L, tsH(10, 50), "click", 100.0)) // late — must drop
      in.addData((6L, tsH(13, 30), "click", 16.0))
      q.processAllAvailable()
      // the provider must actually be RocksDB, not a silent fallback:
      // its custom state metrics are rocksdb-prefixed
      val metrics = q.lastProgress.stateOperators
        .flatMap(_.customMetrics.keySet.toArray.map(_.toString))
      q.stop()
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"state metrics carry no rocksdb marker: ${metrics.mkString(",")}")
      val rows = spark.table("rocksdb_out")
        .select("w_start", "n", "sum_value").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(rows("2024-01-01 10:00:00") == ((2L, 3.0)),
        s"late event must not appear: $rows")
      assert(rows("2024-01-01 11:00:00") == ((1L, 4.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState (v2 API): per-key running count/max under RocksDB") {
    // transformWithState only runs on the RocksDB provider; state is a
    // named typed ValueState slot per key. Update mode emits one row
    // per touched key per micro-batch — the memory sink accumulates
    // them, so the table is the full update HISTORY and the per-batch
    // snapshots are asserted, not just the final state.
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Double)]
      val q = Events.runningMaxStream(in.toDS())
        .toDF("user_id", "n_events", "max_value")
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      in.addData((1L, 5.0), (1L, 3.0), (2L, 7.0))
      q.processAllAvailable()
      in.addData((1L, 9.0)) // user 2 untouched: no new row for it
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, 2L, 5.0), (2L, 1L, 7.0), (1L, 3L, 9.0)),
        s"unexpected update history: $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState funnel state machine: final snapshot equals " +
    "the batch twin under in-order delivery") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // in-order event log: user 1 completes the funnel across TWO
      // micro-batches (state persists), user 2 clicks before viewing
      // (click must NOT count), user 3 views only
      val in = MemoryStream[(Long, String, Long)]
      val q = Events.funnelStateStream(in.toDS())
        .toDF("user_id", "stage", "v_us", "c_us", "p_us")
        .writeStream.format("memory").queryName("funnel_out")
        .outputMode("update").start()
      in.addData((1L, "view", 10L), (2L, "click", 5L), (1L, "click", 20L))
      q.processAllAvailable()
      in.addData((1L, "purchase", 30L), (2L, "view", 50L), (3L, "view", 7L),
        (2L, "click", 60L))
      q.processAllAvailable()
      q.stop()
      val hist = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      // final snapshot per user = the row from the last batch touching it
      val Unset = Long.MinValue
      val last = hist.zipWithIndex.groupBy(_._1._1)
        .map { case (u, v) => u -> v.maxBy(_._2)._1 }
      assert(last(1L) == ((1L, 3L, 10L, 20L, 30L)), s"user1: ${last(1L)}")
      // user 2's early click was pre-view: only view+late click count
      assert(last(2L) == ((2L, 2L, 50L, 60L, Unset)), s"user2: ${last(2L)}")
      assert(last(3L) == ((3L, 1L, 7L, Unset, Unset)), s"user3: ${last(3L)}")
      // cross-check against the batch twin's rule on the same event set
      val evs = Seq((1L, "view", 10L), (2L, "click", 5L), (1L, "click", 20L),
        (1L, "purchase", 30L), (2L, "view", 50L), (3L, "view", 7L),
        (2L, "click", 60L))
      evs.groupBy(_._1).foreach { case (u, rows) =>
        val v = rows.collect { case (_, "view", us) => us }
          .reduceOption(_ min _)
        val c = v.flatMap(vu => rows.collect {
          case (_, "click", us) if us >= vu => us }.reduceOption(_ min _))
        val p = c.flatMap(cu => rows.collect {
          case (_, "purchase", us) if us >= cu => us }
          .reduceOption(_ min _))
        val want = (u,
          if (p.isDefined) 3L else if (c.isDefined) 2L
          else if (v.isDefined) 1L else 0L,
          v.getOrElse(Unset), c.getOrElse(Unset), p.getOrElse(Unset))
        assert(last(u) == want, s"stream != batch for user $u")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState ListState: last-3 path buffer final snapshot " +
    "equals the batch twin across micro-batches") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // user 1 sees 4 events across two batches (buffer must TRIM to the
      // last 3 — ListState clear+re-put actually exercised); user 2 has
      // an in-batch tie on us broken by event_id; user 3 one event only
      val in = MemoryStream[(Long, String, Long, Long)]
      val q = Events.pathBufferStream(in.toDS())
        .toDF("user_id", "n_events", "last3_path", "last_us")
        .writeStream.format("memory").queryName("tws_list_out")
        .outputMode("update").start()
      in.addData((1L, "view", 10L, 1L), (1L, "click", 20L, 2L),
        (2L, "scroll", 5L, 4L), (2L, "view", 5L, 3L))
      q.processAllAvailable()
      in.addData((1L, "scroll", 30L, 5L), (1L, "purchase", 40L, 6L),
        (3L, "view", 7L, 7L))
      q.processAllAvailable()
      q.stop()
      val hist = spark.table("tws_list_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .zipWithIndex
      val last = hist.groupBy(_._1._1)
        .map { case (u, v) => u -> v.maxBy(_._2)._1 }
      // buffer trimmed: view dropped, only the last 3 of user 1 remain
      assert(last(1L) == ((1L, 4L, "click>scroll>purchase", 40L)),
        s"user1: ${last(1L)}")
      // same-us tie breaks by event_id: view (id 3) before scroll (id 4)
      assert(last(2L) == ((2L, 2L, "view>scroll", 5L)), s"user2: ${last(2L)}")
      assert(last(3L) == ((3L, 1L, "view", 7L)), s"user3: ${last(3L)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState token bucket: admission snapshots equal the " +
    "in-row fold twin across micro-batches") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val H = 3600000000L // 1 h in µs = 1 token refill
      // user 1: 6 rapid events (cap 5 admits, 6th rejected), then one
      // after 2 h (refill admits); user 2: 2 events 1 h apart
      val in = MemoryStream[(Long, Long, Long)]
      val q = Events.tokenBucketStream(in.toDS())
        .toDF("user_id", "n_events", "n_admitted", "n_rejected",
          "final_tokens_e6")
        .writeStream.format("memory").queryName("tws_bucket_out")
        .outputMode("update").start()
      in.addData((1 to 6).map(i => (1L, i.toLong * 1000L, i.toLong)): _*)
      q.processAllAvailable()
      in.addData((1L, 6000L + 2 * H, 7L), (2L, 10L, 8L), (2L, 10L + H, 9L))
      q.processAllAvailable()
      q.stop()
      val hist = spark.table("tws_bucket_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).zipWithIndex
      val last = hist.groupBy(_._1._1)
        .map { case (u, v) => u -> v.maxBy(_._2)._1 }
      // replay the same fold sequentially per user
      val evs = Map(
        1L -> ((1 to 6).map(_.toLong * 1000L) :+ (6000L + 2 * H)),
        2L -> Seq(10L, 10L + H))
      evs.foreach { case (u, us) =>
        var tok = 5000000L; var lastU = us.head; var adm = 0L
        us.foreach { x =>
          val t2 = math.min(5000000L, tok + (x - lastU) / 3600L)
          if (t2 >= 1000000L) { tok = t2 - 1000000L; adm += 1 }
          else tok = t2
          lastU = x
        }
        val want = (u, us.size.toLong, adm, us.size - adm, tok)
        assert(last(u) == want, s"user $u: ${last(u)} vs $want")
      }
      // the limiter genuinely limits and the refill genuinely refills
      assert(last(1L)._4 >= 1, "no rejection despite burst past capacity")
      assert(last(1L)._3 >= 6, "post-refill admission missing")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState MapState: per-user event-type histogram across batches") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, String)]
      val q = Events.typeCountsStream(in.toDS())
        .toDF("user_id", "event_type", "n")
        .writeStream.format("memory").queryName("tws_map_out")
        .outputMode("update").start()
      in.addData((1L, "click"), (1L, "click"), (1L, "error"), (2L, "click"))
      q.processAllAvailable()
      in.addData((1L, "click")) // only user 1 re-emits; its error count persists
      q.processAllAvailable()
      q.stop()
      val hist = spark.table("tws_map_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // final snapshot per (user, type) = max over the update history
      val last = hist.groupBy(t => (t._1, t._2))
        .map { case (k, v) => k -> v.map(_._3).max }
      assert(last == Map((1L, "click") -> 3L, (1L, "error") -> 1L,
        (2L, "click") -> 1L), s"history: ${hist.mkString(",")}")
      // batch-2 re-emit carries the UNTOUCHED error entry too (full-map
      // snapshot semantics): error count 1 appears at least twice
      assert(hist.count(t => t._1 == 1L && t._2 == "error") >= 2,
        s"full-map re-emit missing: ${hist.mkString(",")}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("readEventsStream schema probe: missing path falls back, " +
      "non-analysis failures SURFACE") {
    // The probe's catch is scoped to AnalysisException (path empty or
    // missing — the one case where assuming the current runtime's
    // encoding is sound). An EMPTY dir — the files-arrive-later shape a
    // streaming source starts from — must still hand back a well-formed
    // stream with the normalized TimestampType ts column…
    val dir = java.nio.file.Files
      .createTempDirectory("evt_probe").toString
    val df = Events.readEventsStream(spark, dir)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // …while an IO-layer probe failure (unknown filesystem scheme,
    // standing in for transient IO/permission failures) must propagate
    // instead of silently picking a schema that could deserialize
    // corrupt rows. Anything BUT AnalysisException proves the catch is
    // scoped: the old blanket catch would have swallowed this and then
    // surfaced readStream's own PATH_NOT_FOUND AnalysisException.
    val ex = intercept[Exception] {
      Events.readEventsStream(spark, "bogus-scheme://nope")
    }
    assert(!ex.isInstanceOf[org.apache.spark.sql.AnalysisException],
      s"probe swallowed the IO failure: $ex")
  }

  test("st12b/st13b batch twins run the SAME processors on bounded input " +
      "and equal the plain aggregates") {
    // The batch twins exercise the actual StatefulProcessors (Spark
    // feeds each key's rows through one handleInputRows call against
    // empty state), so twin == groupBy proves the processors' steady
    // state — and guards the one-call-per-key batch contract: a chunked
    // feed would emit duplicate per-key rows and break the row counts.
    val dir = "/root/testdata/sf0.001"
    val ev = graft.core.Tables.events(spark, dir)
    val st12 = Events.runningMaxBatchQ.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val agg12 = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), max("value").as("max_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(st12 == agg12 && st12.nonEmpty)
    val st13 = Events.typeCountsBatchQ.build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val agg13 = ev.groupBy("user_id", "event_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(st13 == agg13 && st13.nonEmpty)
    // the save/restore wrapper must not leak the RocksDB provider into
    // the shared session (the q53 conf-hygiene discipline)
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("st18 chained window rollup: ONE streaming query aggregates " +
      "5-min buckets into hourly summaries; stream == batch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Events.typeRollupStream(events, "10 minutes")
      .writeStream.format("memory").queryName("rollup_out")
      .outputMode("append").start()
    // hour 10: three clicks across two 5-min buckets (10:00 ×2, 10:05 ×1)
    in.addData((1L, tsH(10, 1), "click", 1.0), (2L, tsH(10, 2), "click", 1.0),
      (3L, tsH(10, 7), "click", 1.0))
    q.processAllAvailable()
    // advance the watermark far enough to close hour 10's buckets AND
    // the hour-10 rollup window itself
    in.addData((4L, tsH(13, 0), "click", 1.0))
    q.processAllAvailable()
    in.addData((5L, tsH(16, 0), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rollup_out")
      .select("w_start", "event_type", "n_events", "peak_bucket",
        "n_buckets").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.contains(("2024-01-01 10:00:00", "click", 3L, 2L, 2L)),
      s"hour-10 rollup wrong: ${got.mkString(",")}")
    // stream closed-window rows agree with the batch form on the same data
    val batch = Events.typeRollup(
      Seq((1L, tsH(10, 1), "click", 1.0), (2L, tsH(10, 2), "click", 1.0),
        (3L, tsH(10, 7), "click", 1.0), (4L, tsH(13, 0), "click", 1.0),
        (5L, tsH(16, 0), "click", 1.0))
        .toDF("event_id", "ts", "event_type", "value")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got.toSet.subsetOf(batch),
      s"stream emitted a row the batch form disagrees with: " +
        s"${(got.toSet -- batch).mkString(",")}")
  }

  test("st19 dropDuplicatesWithinWatermark: in-horizon duplicate " +
      "suppressed, expired key re-emitted as new") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Events.dedupWithinWatermarkStream(events, "10 minutes")
      .writeStream.format("memory").queryName("wmdedup_out")
      .outputMode("append").start()
    // id 100 arrives twice within the horizon -> ONE emission
    in.addData((100L, tsH(10, 0), "click", 1.0),
      (100L, tsH(10, 3), "click", 1.0))
    q.processAllAvailable()
    // advance the watermark far past 10:00 so key 100's state expires
    in.addData((200L, tsH(12, 0), "click", 1.0))
    q.processAllAvailable()
    // id 100 re-arrives AFTER expiry -> a NEW event (st06's global
    // dedup would suppress it forever)
    in.addData((100L, tsH(12, 5), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("wmdedup_out").collect()
      .map(_.getAs[Long]("event_id")).toSeq
    assert(ids.count(_ == 100L) == 2,
      s"expected suppressed duplicate then post-expiry re-emit: $ids")
    assert(ids.count(_ == 200L) == 1, ids.toString)
    // the registered batch census agrees with a driver recount
    val sf = graft.TestSpark.sf0001
    val rows = Events.dedupWithinWatermarkQ.build(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val raw = ev.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val uniq = ev.distinct.groupBy(_._2)
      .map { case (t, xs) => t -> xs.length.toLong }
    rows.foreach { case (t, nu, nr, nd) =>
      assert(nu == uniq(t) && nr == raw(t) && nd == nr - nu, s"$t census") }
  }

  test("st20 dynamic-gap sessions: 8-minute idle splits clicks (5-min " +
      "gap) but not errors (15-min gap); stream == batch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", lit(1L))
    val q = Events.sessionDynamicStream(events, "1 hour")
      .writeStream.format("memory").queryName("dyngap_out")
      .outputMode("append").start()
    // clicks at 10:00 and 10:08 (8 min apart), errors at the same times
    in.addData((1L, tsH(10, 0), "click", 1.0), (2L, tsH(10, 8), "click", 1.0),
      (3L, tsH(10, 0), "error", 1.0), (4L, tsH(10, 8), "error", 1.0))
    q.processAllAvailable()
    in.addData((9L, tsH(14, 0), "click", 1.0)) // close everything
    q.processAllAvailable()
    in.addData((10L, tsH(18, 0), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dyngap_out")
      .select("s_start", "event_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val clicks = got.filter(x => x._2 == "click" && x._1.startsWith("2024-01-01 10:"))
    val errors = got.filter(_._2 == "error")
    assert(clicks.length == 2 && clicks.forall(_._3 == 1L),
      s"8-min idle must split the 5-min-gap clicks: ${got.mkString(",")}")
    assert(errors.length == 1 && errors.head._3 == 2L,
      s"8-min idle must NOT split the 15-min-gap errors: ${got.mkString(",")}")
    // the registered batch form agrees with the driver's islands replay
    val sf = graft.TestSpark.sf0001
    val rows = Events.sessionDynamicQ.build(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val ev = graft.core.Tables.events(spark, sf)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val want = ev.groupBy(e => (e._1, e._2)).toSeq.flatMap {
      case ((uid, et), es) =>
        val gap = (if (et == "click") 5 else 15) * 60000L
        val sorted = es.map(_._3).sortBy(_.getTime)
        val sessions = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer(sorted.head))
        sorted.tail.foreach { t =>
          if (t.getTime >= sessions.last.last.getTime + gap)
            sessions += scala.collection.mutable.ArrayBuffer(t)
          else sessions.last += t
        }
        sessions.map(ss => (uid, et, ss.length.toLong))
    }
    val gotCounts = rows.map(r => (r._2, r._3, r._4))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    val wantCounts = want.groupBy(identity).map { case (k, v) => k -> v.length }
    assert(gotCounts == wantCounts,
      s"batch sessions disagree with islands replay")
  }

  test("st22: stream-static anti gate drops blocked users; stream == batch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = in.toDF()
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val customers = Seq((1L, -5.0), (2L, 10.0), (3L, -0.01))
      .toDF("c_custkey", "c_acctbal")
    val q = Events.blockGate(events, customers)
      .select("event_id", "user_id", "event_type")
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()

    // users 1 and 3 are blocked (negative balance); 2 and 99 pass
    // (99 is not a customer at all — the anti join must keep it)
    in.addData(
      (1L, 1L, tsH(10, 0), "click", 1.0),
      (2L, 2L, tsH(10, 1), "click", 2.0),
      (3L, 99L, tsH(10, 2), "error", 3.0))
    q.processAllAvailable()
    in.addData((4L, 3L, tsH(10, 3), "view", 4.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("gate_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((2L, 2L, "click"), (3L, 99L, "error")),
      s"blocked users leaked or survivors dropped: $got")

    // the registered batch twin agrees with a driver recompute
    val sf = graft.TestSpark.sf0001
    val blocked = graft.core.Tables.customer(spark, sf)
      .select("c_custkey", "c_acctbal").collect()
      .filter(_.getDouble(1) < 0).map(_.getLong(0)).toSet
    val want = graft.core.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents").collect()
      .filter(r => !blocked(r.getLong(0)))
      .groupBy(_.getString(1)).view.mapValues { rs =>
        (rs.length.toLong, rs.map(_.getLong(2)).sum / 100.0)
      }.toMap
    val rows = Events.blockGateQ.build(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows == want, "batch twin disagrees with driver recompute")
  }

  test("st23 timers: inactivity session close — timer-driven, data-driven, " +
      "and stream==batch on the fixture under RocksDB") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gap = "10 minutes"
      val in = MemoryStream[(Long, Timestamp)]
      val q = Events.sessionTimerStream(in.toDS(), gap)
        .toDF("user_id", "start_us", "end_us", "n_events")
        .writeStream.format("memory").queryName("st23_out")
        .outputMode("append").start()

      def us(t: Timestamp): Long = t.getTime * 1000L

      // batch 1: user 1 opens a session (2 events), user 2 opens one
      in.addData((1L, tsH(10, 0)), (1L, tsH(10, 5)), (2L, tsH(10, 7)))
      q.processAllAvailable()
      assert(spark.table("st23_out").count() == 0,
        "no session may close before the watermark passes end + gap")

      // batch 2: TIMER-driven close — an unrelated user far in the
      // future advances the watermark past both ends + gap
      in.addData((99L, tsH(12, 0)))
      q.processAllAvailable()
      val afterTimer = spark.table("st23_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(afterTimer == Set(
        (1L, us(tsH(10, 0)), us(tsH(10, 5)), 2L),
        (2L, us(tsH(10, 7)), us(tsH(10, 7)), 1L)),
        s"timer-driven closes wrong: $afterTimer")

      // batch 3: DATA-driven close — user 99's next event arrives past
      // the gap BEFORE any watermark advance, closing the first session
      // inline; then a flush far ahead closes the successor by timer
      in.addData((99L, tsH(12, 30)))
      q.processAllAvailable()
      val afterData = spark.table("st23_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(afterData.contains((99L, us(tsH(12, 0)), us(tsH(12, 0)), 1L)),
        s"data-driven inline close missing: $afterData")
      in.addData((99L, tsH(23, 0)))
      q.processAllAvailable()
      in.addData((99L, Timestamp.valueOf("2024-01-02 23:00:00"))) // flush
      q.processAllAvailable()
      q.stop()

      // every closed session equals the batch twin over the SAME rows,
      // minus the one session still open at the unflushed frontier
      val fed = Seq(
        (1L, tsH(10, 0)), (1L, tsH(10, 5)), (2L, tsH(10, 7)),
        (99L, tsH(12, 0)), (99L, tsH(12, 30)), (99L, tsH(23, 0)),
        (99L, Timestamp.valueOf("2024-01-02 23:00:00")))
      val gapUs = 10L * 60 * 1000000
      val twin = Events.sessionTimerBatch(
        fed.toDF("user_id", "ts"), gapUs)
        .select("user_id", "start_us", "end_us", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val streamed = spark.table("st23_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val frontier = us(Timestamp.valueOf("2024-01-02 23:00:00"))
      assert(twin -- streamed ==
        Set((99L, frontier, frontier, 1L)),
        s"stream != batch-twin - open-frontier: ${twin -- streamed}")
      assert(streamed.subsetOf(twin),
        s"stream emitted a session the twin does not have: " +
          s"${streamed -- twin}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("st23 fixture parity: streaming ts-ordered fixture slices converge " +
      "to the oracle-checked batch twin (plus flush sentinel)") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sf = TestSpark.sf0001
      val rows = graft.core.Tables.events(spark, sf)
        .select("user_id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)))
        .sortBy(t => (t._2.getTime, t._2.getNanos, t._1))
      val in = MemoryStream[(Long, Timestamp)]
      val q = Events.sessionTimerStream(in.toDS(), "30 minutes")
        .toDF("user_id", "start_us", "end_us", "n_events")
        .writeStream.format("memory").queryName("st23_fix_out")
        .outputMode("append").start()
      val n = rows.length
      val sentinelUid = -1L
      (0 until 4).foreach { k =>
        in.addData(rows.slice(k * n / 4, (k + 1) * n / 4).toSeq: _*)
        q.processAllAvailable()
      }
      // flush: sentinel user a year ahead advances the watermark past
      // every session end + gap
      in.addData((sentinelUid,
        Timestamp.valueOf("2025-06-01 00:00:00")))
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("st23_fix_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 != sentinelUid).toSet
      val twin = Events.sessionTimerQ.build(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == twin,
        s"missing=${(twin -- streamed).take(3)} " +
          s"extra=${(streamed -- twin).take(3)}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState TTL: value state expires on the TTL clock " +
      "while fresh state survives") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Double)]
      val q = Events.ttlRunningCountStream(in.toDS(), ttlMs = 10000)
        .toDF("user_id", "n_events", "had_state")
        .writeStream.format("memory").queryName("ttl_out")
        .outputMode("update").start()
      // under TimeMode.ProcessingTime the engine keeps scheduling
      // batches for the TTL clock, so processAllAvailable never
      // settles — poll the sink for the expected row count instead
      def waitRows(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (spark.table("ttl_out").count() < n) {
          assert(System.nanoTime() < deadline,
            s"sink stuck below $n rows: ${q.status}")
          Thread.sleep(50)
        }
      }
      in.addData((7L, 1.0))
      waitRows(1)
      // immediate re-touch: state is fresh, counter continues
      in.addData((7L, 1.0))
      waitRows(2)
      // let the TTL clock (processing time) pass with 1.5x margin
      // (the 10 s TTL itself gives the re-touch above a ~20x margin
      // over engine batch latency)
      Thread.sleep(15000)
      in.addData((7L, 1.0))
      waitRows(3)
      q.stop()
      val hist = spark.table("ttl_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(hist(0) == ((7L, 1L, false)), s"hist=$hist")
      assert(hist(1) == ((7L, 2L, true)),
        s"fresh state must survive an immediate re-touch: $hist")
      assert(hist(2) == ((7L, 1L, false)),
        s"expired state must read as absent after TTL: $hist")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
  test("st27 incremental manifest: summed per-batch accounting equals " +
    "the batch twin under in-order delivery") {
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the fixture corpus in doc_id order (the in-order contract: the
      // stream's first-seen text is then the minimum doc_id, x62 stage
      // 1's rule), cut into 4 delivery slices one hour apart — inside
      // the 1 h watermark, so nothing is late in this test (the
      // late-drop contract is LateDataAudit's job)
      val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .select("doc_id", "text", "n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      val nB = 4
      val base = Timestamp.valueOf("2024-01-01 00:00:00")
      // the FIXED benchmark gram index (same frame the twin's stage 4
      // reads), materialized once for all batches
      val evalGrams = graft.ext.Curation.mfEvalGrams(
        graft.ext.Curation.mfWithHx(
          spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")))
        .localCheckpoint()
      val in = MemoryStream[(Timestamp, Long, String, Long)]
      val df = in.toDF().toDF("ingest_ts", "doc_id", "text", "n_chars")
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Long, Long, Long, Long)]
      val q = Events.incrementalManifestStream(df)
        .toDF("doc_id", "text", "n_chars", "survived")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = Events.incrementalManifestAccounting(b, evalGrams)
            .collect()
          acc.synchronized {
            rows.foreach(r => acc += ((r.getLong(0), r.getString(1),
              r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6))))
          }
          ()
        }
        .outputMode("update").start()
      for (k <- 0 until nB) {
        val slice = docs.zipWithIndex
          .filter { case (_, i) => i.toLong * nB / docs.length == k }
          .map(_._1)
        val ts = new Timestamp(base.getTime + k * 3600000L)
        in.addData(slice.map { case (id, t, nc) => (ts, id, t, nc) }: _*)
        q.processAllAvailable()
      }
      q.stop()
      // each doc is decided in exactly one batch and every stage rule
      // is per-doc against fixed reference data, so per-stage counts
      // are additive across batches and must sum to the batch twin
      val summed = acc.groupBy(r => (r._1, r._2))
        .map { case (k2, v) => k2 ->
          ((v.map(_._3).sum, v.map(_._4).sum, v.map(_._5).sum,
            v.map(_._6).sum)) }
      val twin = Events.incrementalManifestQ.build(spark, TestSpark.sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6))))
        .toMap
      assert(summed.keySet == twin.keySet,
        s"stage sets differ: ${summed.keySet} vs ${twin.keySet}")
      summed.foreach { case (st, v) =>
        assert(v == twin(st), s"stage $st: stream $v != twin ${twin(st)}")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
  test("st27 dedup survivor rule: in-batch min doc_id wins, duplicates " +
    "and re-deliveries marked non-survivors") {
    // the fixture corpus has zero duplicate texts (500 docs -> 500
    // distinct), so the stream==twin equality above never exercises
    // WHICH doc survives — this synthetic corpus pins the rule: the
    // minimum doc_id among a text's first-batch arrivals survives
    // (x62 stage 1's min(doc_id) under in-order delivery); same-batch
    // higher ids and every later re-delivery are marked survived=false
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Timestamp, Long, String, Long)]
      val df = in.toDF().toDF("ingest_ts", "doc_id", "text", "n_chars")
      val q = Events.incrementalManifestStream(df)
        .toDF("doc_id", "text", "n_chars", "survived")
        .writeStream.format("memory").queryName("st27_rule_out")
        .outputMode("update").start()
      val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
      val t2 = Timestamp.valueOf("2024-01-01 00:30:00")
      // batch 1: docs 5 and 3 share textX IN ONE BATCH; doc 1 unique
      in.addData((t1, 5L, "textX", 5L), (t1, 3L, "textX", 5L),
        (t1, 1L, "textY", 5L))
      q.processAllAvailable()
      // batch 2: re-deliveries of textX and textY; doc 11 fresh
      in.addData((t2, 7L, "textX", 5L), (t2, 9L, "textY", 5L),
        (t2, 11L, "textZ", 5L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("st27_rule_out").collect()
        .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(got == Map(3L -> true, 5L -> false, 1L -> true,
        7L -> false, 9L -> false, 11L -> true),
        s"survivor flags diverged from the min-id rule: $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
