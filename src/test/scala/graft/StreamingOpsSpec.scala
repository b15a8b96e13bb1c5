package graft

import java.sql.Timestamp

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{Event, UserRunning}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** M4 acceptance: streaming operators over MemoryStream — tumbling windows
  * (batch-equivalence), watermark late-data drop, streaming dedup, and
  * arbitrary keyed state (mapGroupsWithState running counters).
  */
class StreamingOpsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling window agg on a stream equals the batch query on same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val data = Seq(
      Event(1, "view", ts(1), 1.0), Event(1, "view", ts(2), 2.0),
      Event(2, "buy", ts(6), 5.0), Event(1, "view", ts(7), 3.0),
      Event(2, "buy", ts(12), 7.0))
    input.addData(data: _*)

    val agg = input.toDS()
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")

    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling").orderBy("w_start", "event_type").collect()
    val batch = data.toDS()
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"sum_value")
      .orderBy("w_start", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("watermark drops events later than the threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]

    val agg = input.toDS()
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w_start"), $"n")

    val q = agg.writeStream.format("memory").queryName("wmark")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, "view", ts(1), 1.0), Event(1, "view", ts(30), 1.0))
      q.processAllAvailable() // watermark advances to 10:20
      input.addData(Event(1, "late", ts(2), 1.0)) // 10:02 << watermark → dropped
      input.addData(Event(1, "view", ts(45), 1.0)) // pushes watermark, closes 10:30 window
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("wmark").as[(Timestamp, Long)].collect().toMap
    // the 10:00 window emitted exactly 1 (the late 10:02 event was dropped)
    assert(rows(ts(0)) === 1L)
    assert(rows(ts(30)) === 1L)
  }

  test("dropDuplicates within a stream dedups by key across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]

    val dedup = input.toDS()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

    val q = dedup.writeStream.format("memory").queryName("dedupstream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, "view", ts(1), 1.0), Event(1, "view", ts(2), 2.0))
      q.processAllAvailable()
      input.addData(Event(1, "view", ts(3), 3.0), Event(2, "view", ts(3), 4.0))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("dedupstream").as[Event].collect()
    assert(out.map(e => (e.user_id, e.event_type)).toSet.size === out.length)
    assert(out.length === 2) // (1,view) kept once, (2,view) kept once
  }

  test("session window merges gap-bounded runs per user on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]

    val sessions = input.toDS()
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("s_start"), $"n")

    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: events at 10:01, 10:20 (same session), 11:30 (new session)
      input.addData(Event(1, "view", ts(1), 1.0), Event(1, "view", ts(20), 1.0))
      input.addData(Event(1, "view", Timestamp.valueOf("2024-01-01 11:30:00"), 1.0))
      // advance watermark far enough to close both sessions
      input.addData(Event(2, "view", Timestamp.valueOf("2024-01-01 14:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("sessions").as[(Long, Timestamp, Long)].collect()
      .filter(_._1 == 1L).sortBy(_._2.getTime)
    assert(rows.length === 2)
    assert(rows(0)._3 === 2L) // 10:01+10:20 merged
    assert(rows(1)._3 === 1L) // 11:30 alone
  }

  test("stream-static join enriches a stream against a broadcast table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]

    val static = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val joined = input.toDS().join(
      org.apache.spark.sql.functions.broadcast(static), Seq("user_id"), "inner")

    val q = joined.writeStream.format("memory").queryName("ssenrich")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, "view", ts(1), 1.0), Event(3, "view", ts(2), 2.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("ssenrich").collect()
    assert(rows.length === 1) // user 3 has no tier; inner join drops it
    assert(rows.head.getAs[String]("tier") === "gold")
  }

  test("stream-stream inner join with watermarks joins within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]

    val c = clicks.toDS().withWatermark("ts", "20 minutes")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
    val b = buys.toDS().withWatermark("ts", "20 minutes")
      .select($"user_id".as("b_user"), $"ts".as("b_ts"))

    // buy within 10 minutes after a click by the same user
    val joined = c.join(b,
      $"c_user" === $"b_user" &&
        $"b_ts" >= $"c_ts" && $"b_ts" <= $"c_ts" + org.apache.spark.sql.functions.expr("interval 10 minutes"))

    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(Event(1, "click", ts(0), 0), Event(2, "click", ts(0), 0))
      buys.addData(Event(1, "buy", ts(5), 9.99))   // within 10 min → joins
      buys.addData(Event(2, "buy", ts(15), 5.0))   // 15 min later → outside bound
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("ssjoin").collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 1L)
  }

  test("transformWithState running counters match mapGroupsWithState semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]

    // transformWithState needs a multi-column-family store (RocksDB).
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StatefulOps.runningPerUserTws(input.toDS())
      .writeStream.format("memory").queryName("running_tws")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Event(1, "view", ts(1), 1.0), Event(1, "view", ts(2), 2.0))
      q.processAllAvailable()
      input.addData(Event(1, "view", ts(3), 4.0), Event(2, "buy", ts(3), 10.0))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    import org.apache.spark.sql.Row
    val last = spark.table("running_tws").collect()
      .map { case Row(u: Long, n: Long, s: Double) => (u, (n, s)) }.toMap
    assert(last(1L) === ((3L, 7.0)))
    assert(last(2L) === ((1L, 10.0)))
  }

  test("streaming EWMA equals the batch closed form on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]

    // the whole sf0.001 event log, in time order, split into three batches
    val all = Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts", $"value", $"event_id")
      .orderBy("ts", "event_id")
      .as[Event].collect()
    val chunks = all.grouped(math.max(all.length / 3, 1)).toSeq

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StatefulOps.ewmaPerUserTws(input.toDS())
      .writeStream.format("memory").queryName("ewma_tws")
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // final state per user = the row with the highest n_events
    val streamed = spark.table("ewma_tws").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._1) }
    val batch = SparkEntry.queries("q194_ewma_dyadic")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (u, s) =>
      assert(s === batch(u),
        s"user $u: streaming $s != batch ${batch(u)} — the smoother must " +
          "not depend on micro-batch boundaries")
    }
  }

  test("streaming Count-Min converges to the batch sketch and never underestimates") {
    import spark.implicits._
    import graft.functions.TextQueries
    import graft.streaming.StatefulOps.{CmsCell, CmsRow}
    implicit val sqlCtx = spark.sqlContext

    def bucketed = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .withColumn("fp", TextQueries.base31Fold(col("token")))
    val cellCols = TextQueries.cmsParams.map { case (i, a, b) =>
      struct(lit(i).as("row_i"),
        pmod(pmod(col("fp") * lit(a) + lit(b), lit(1000003L)), lit(256L))
          .as("bucket"))
    }
    val allCells = bucketed
      .select(explode(array(cellCols: _*)).as("t"))
      .select(col("t.row_i").as("row_i"), col("t.bucket").as("bucket"),
        lit(1L).as("weight"))
      .as[CmsCell].collect()

    val input = MemoryStream[CmsCell]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StatefulOps.cmsTws(input.toDS())
      .writeStream.format("memory").queryName("cms_tws")
      .outputMode(OutputMode.Update()).start()
    try {
      allCells.grouped(math.max(allCells.length / 3, 1))
        .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // final sketch per hash row = the update with the largest total
    val streamed = spark.table("cms_tws").as[CmsRow].collect()
      .groupBy(_.row_i).map { case (r, rs) => r -> rs.map(_.cells).maxBy(_.sum) }
    val batch = allCells.groupBy(c => (c.row_i, c.bucket))
      .map { case ((r, b), hits) => (r, b) -> hits.length.toLong }
    streamed.foreach { case (r, cells) =>
      cells.zipWithIndex.foreach { case (c, b) =>
        assert(c === batch.getOrElse((r, b.toLong), 0L),
          s"cell ($r, $b) diverged from the batch sketch")
      }
    }
    // CMS point estimates (min over the 4 rows) never undercount any token
    val exact = bucketed.groupBy("token").agg(count(lit(1)).as("n"))
      .withColumn("fp", TextQueries.base31Fold(col("token")))
      .select(col("token"), col("n"), col("fp")).collect()
    exact.foreach { row =>
      val fp = row.getLong(2)
      val est = TextQueries.cmsParams.map { case (i, a, b) =>
        streamed(i)((((fp * a + b) % 1000003L) % 256L).toInt)
      }.min
      assert(est >= row.getLong(1),
        s"CMS underestimated '${row.getString(0)}'")
    }
  }

  test("EWMA orders same-timestamp events by event_id, not arrival order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two (user, ts) ties fed in REVERSE event_id arrival order: the handler
    // must sort by (ts, event_id), so event_id 2 (value 2.0) is newest.
    val input = MemoryStream[Event]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StatefulOps.ewmaPerUserTws(input.toDS())
      .writeStream.format("memory").queryName("ewma_tie")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Event(1, "v", ts(1), 2.0, event_id = 2),
        Event(1, "v", ts(1), 1.0, event_id = 1))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val out = spark.table("ewma_tie").as[StatefulOps.EwmaOut].collect()
    assert(out.length === 1)
    // newest-first window [2.0, 1.0] micros, dyadic weights 128:64
    assert(out.head.last_micros === 2000000L)
    assert(out.head.ewma_micros === (2000000L * 128 + 1000000L * 64) / 192)
  }

  test("CMS accepts a pre-aggregated weighted feed and rejects bad buckets") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{CmsCell, CmsRow}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CmsCell]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = StatefulOps.cmsTws(input.toDS())
      .writeStream.format("memory").queryName("cms_weighted")
      .outputMode(OutputMode.Update()).start()
    try {
      // pre-aggregated: (bucket 5 × 2) + (bucket 7 × 1), one batch
      input.addData(CmsCell(0, 5L, 2L), CmsCell(0, 7L))
      q.processAllAvailable()
    } finally q.stop()
    val row = spark.table("cms_weighted").as[CmsRow].collect()
      .maxBy(_.cells.sum)
    assert(row.cells(5) === 2L && row.cells(7) === 1L && row.cells.sum === 3L)

    // an out-of-range bucket must fail the query with a clear message,
    // not a silent ArrayIndexOutOfBoundsException
    val bad = MemoryStream[CmsCell]
    val qb = StatefulOps.cmsTws(bad.toDS())
      .writeStream.format("memory").queryName("cms_bad")
      .outputMode(OutputMode.Update()).start()
    val err = intercept[Exception] {
      try {
        bad.addData(CmsCell(0, 256L))
        qb.processAllAvailable()
      } finally {
        try qb.stop() catch { case _: Exception => () }
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("CmsCell.bucket")),
      s"expected the bucket-range message in: ${messages(err).mkString(" | ")}")
  }

  test("mapGroupsWithState keeps running per-user counters across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]

    val q = StatefulOps.runningPerUser(input.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(StatefulOps.runningOutputMode).start()
    try {
      input.addData(Event(1, "view", ts(1), 1.0), Event(1, "view", ts(2), 2.0))
      q.processAllAvailable()
      input.addData(Event(1, "view", ts(3), 4.0), Event(2, "buy", ts(3), 10.0))
      q.processAllAvailable()
    } finally q.stop()

    import org.apache.spark.sql.Row
    // last update per user wins
    val last = spark.table("running").collect()
      .map { case Row(u: Long, n: Long, s: Double) => (u, (n, s)) }.toMap
    assert(last(1L) === ((3L, 7.0)))
    assert(last(2L) === ((1L, 10.0)))
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions on gap and timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StatefulOps.sessions(
      input.toDS().withWatermark("ts", "0 seconds"), gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, "v", ts(1), 1.0), Event(1, "v", ts(2), 1.0))
      q.processAllAvailable()
      // 10:20 is past the 5-min gap → closes (10:01..10:02) mid-batch
      input.addData(Event(1, "v", ts(20), 1.0))
      q.processAllAvailable()
      // another user's event pushes the watermark past 10:25, so user 1's
      // open session times out and is emitted with NO further user-1 input
      input.addData(Event(2, "v", ts(40), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(rows.contains((1L, ts(1), ts(2), 2L)), s"gap-closed session missing: $rows")
    assert(rows.contains((1L, ts(20), ts(20), 1L)), s"timeout-closed session missing: $rows")
    assert(!rows.exists(_._1 == 2L), "user 2's session must still be open")
  }

  test("sessionizer merges late in-gap events without rewinding session bounds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // 10-minute watermark delay so a 10:03 event still flows in a batch
    // AFTER the session's last has advanced to 10:04
    val q = StatefulOps.sessions(
      input.toDS().withWatermark("ts", "10 minutes"), gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, "v", ts(1), 1.0), Event(1, "v", ts(4), 1.0))
      q.processAllAvailable()
      input.addData(Event(1, "v", ts(3), 1.0)) // late, within gap → merge
      q.processAllAvailable()
      // 10:08 is 4 min past last=10:04: had the late event rewound last to
      // 10:03, the 5-min gap would still hold — but a rewind bug would
      // have emitted end(10:03) < start is impossible here, so instead we
      // assert the whole run closes as ONE 4-event session
      input.addData(Event(1, "v", ts(8), 1.0))
      q.processAllAvailable()
      input.addData(Event(1, "v", ts(45), 1.0)) // far past gap → closes prior
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(rows.toSeq === Seq((1L, ts(1), ts(8), 4L)),
      s"late event must merge without splitting or rewinding: ${rows.toSeq}")
  }

  test("stream-stream LEFT OUTER join emits null-padded rows after watermark expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]

    val left = clicks.toDS().withWatermark("ts", "5 minutes")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"))
    val right = buys.toDS().withWatermark("ts", "5 minutes")
      .select($"user_id".as("b_user"), $"ts".as("b_ts"))
    val joined = left.join(right,
      $"c_user" === $"b_user" &&
        $"b_ts" >= $"c_ts" && $"b_ts" <= $"c_ts" + expr("interval 5 minutes"),
      "leftOuter")

    val q = joined.writeStream.format("memory").queryName("ss_louter")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1 clicks then buys (match); user 2 clicks, never buys
      clicks.addData(Event(1, "click", ts(1), 0), Event(2, "click", ts(1), 0))
      buys.addData(Event(1, "buy", ts(3), 9.0))
      q.processAllAvailable()
      // advance both watermarks far past the join window so the unmatched
      // click can be finalized and emitted with nulls
      clicks.addData(Event(9, "click", ts(45), 0))
      buys.addData(Event(9, "buy", ts(45), 0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("ss_louter")
      .select($"c_user", $"b_user").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((1L, 1L)), "matched pair must join")
    assert(rows.contains((2L, -1L)),
      "unmatched left row must emit with nulls once the watermark passes")
  }

  test("cleaning pipeline runs incrementally: quality gates + digest dedup on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]

    // q69's gates, streaming: the same declarative filters pipeline into the
    // micro-batch scan; dedup is stateful dropDuplicates on the content digest
    val markers = Seq("the", "a", "and", "of")
    val docs = input.toDS().toDF("doc_id", "text")
    val w = split(lower(col("text")), " ")
    val cleaned = docs
      .withColumn("n_tokens", size(w).cast("long"))
      .withColumn("n_stop", size(filter(w, x => x.isInCollection(markers))).cast("long"))
      .filter(col("n_tokens") >= 4 && col("n_stop") * 10 >= col("n_tokens"))
      .withColumn("digest", sha2(col("text"), 256))
      .dropDuplicates("digest")

    val q = cleaned.select("doc_id", "text").writeStream
      .format("memory").queryName("clean_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      val keeper = "the quick brown fox jumps over the lazy dog"
      input.addData((1L, keeper), (2L, "no stopwords here whatsoever today"))
      q.processAllAvailable()
      // second batch: an exact duplicate of a kept doc and a too-short doc
      input.addData((3L, keeper), (4L, "too short"))
      q.processAllAvailable()
    } finally q.stop()

    val kept = spark.table("clean_stream").select("doc_id").collect().map(_.getLong(0)).sorted
    // doc 2 fails the stopword gate, doc 3 is a cross-batch duplicate,
    // doc 4 fails the length gate — only doc 1 survives
    assert(kept.toSeq === Seq(1L))
  }

  test("incremental dedup streams: anti-join vs static index + keyed admit-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]

    // q160's shape run as a STREAM: arrivals dedup against a static
    // digest-only index (stream-static LEFT ANTI join — the index side
    // broadcasts, the stream never shuffles for it) and then against
    // themselves across micro-batches (stateful dropDuplicates on the
    // same canonical lead fingerprint).
    val indexed = Seq("alpha beta gamma delta", "epsilon zeta eta theta")
      .toDF("text")
      .select(operators.DedupQueries.leadFingerprint.as("h"))
    val arrivals = input.toDS().toDF("doc_id", "text")
      .withColumn("h", operators.DedupQueries.leadFingerprint)
    val admitted = arrivals
      .join(broadcast(indexed), Seq("h"), "left_anti")
      .dropDuplicates("h")

    val q = admitted.select("doc_id").writeStream
      .format("memory").queryName("incr_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: doc 10 collides with the index (rejected), doc 11 is novel
      input.addData((10L, "alpha beta gamma delta"),
        (11L, "iota kappa lambda mu nu xi omicron pi rho"))
      q.processAllAvailable()
      // batch 2: doc 12 shares doc 11's first 8 words (cross-batch
      // near-duplicate under the lead fingerprint), doc 13 is novel
      input.addData((12L, "iota kappa lambda mu nu xi omicron pi sigma tau"),
        (13L, "upsilon phi chi psi"))
      q.processAllAvailable()
    } finally q.stop()

    val ids = spark.table("incr_dedup_stream").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(11L, 13L),
      "index hits are rejected, cross-batch same-key arrivals admit once")
  }

  test("admit-once tws equals batch q160 and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{AdmitDecision, Doc}
    implicit val sqlCtx = spark.sqlContext

    // the sf0.001 corpus as a stream: epoch 0 = q160's index (doc_id%10<8),
    // epoch 1 = q160's arriving batch — epoch is a data column, so the
    // classification must not depend on how the stream is chunked
    val docs = Tables.documents(spark, sf)
      .select(operators.DedupQueries.leadFingerprint.as("h"),
        col("doc_id"), col("source"),
        when(col("doc_id") % 10 >= 8, 1).otherwise(0).as("epoch"))
      .orderBy("epoch", "doc_id")
      .as[Doc].collect()

    def run(name: String, nChunks: Int): Map[Long, String] = {
      val input = MemoryStream[Doc]
      // conf set + start live INSIDE the try: a failing start() must not
      // leak the provider override into the rest of the suite
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.admitOnceTws(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          docs.grouped(math.max(docs.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[AdmitDecision].collect()
        .map(d => d.doc_id -> d.status).toMap
    }

    val a = run("admit_once_3", 3)
    val b = run("admit_once_7", 7)
    assert(a === b, "re-chunking the stream changed an admit decision")
    assert(a.size === docs.length, "every arrival gets exactly one decision")

    // epoch-1 decisions, aggregated per source, must reproduce q160's audit
    val byDoc = docs.map(d => d.doc_id -> d).toMap
    val got = a.toSeq.filter { case (id, _) => byDoc(id).epoch == 1 }
      .groupBy { case (id, _) => byDoc(id).source }
      .map { case (src, ds) =>
        val st = ds.map(_._2)
        src -> ((st.size.toLong, st.count(_ == "batch_dupe").toLong,
          st.count(_ == "index_dupe").toLong,
          st.count(_ == "admitted").toLong))
      }
    val batch = SparkEntry.queries("q160_incremental_dedup")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === batch,
      "streaming admit-once audit diverged from batch q160")
  }

  test("quota admission tws equals batch q228 and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{QuotaDecision, SrcDoc}
    implicit val sqlCtx = spark.sqlContext

    // the corpus in the mixer's priority order: pri = q228's LCG value, so
    // an in-priority-order stream must admit exactly the batch selection
    def lcg(id: Long): Long = (id * 1103515245L + 12345L) % 2147483648L
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).as[(Long, String)].collect()
      .map { case (id, src) => SrcDoc(id, src, lcg(id)) }
      .sortBy(d => (d.pri, d.doc_id))

    // q228's integer quota formula, from first principles
    val cnt = docs.groupBy(_.source).view.mapValues(_.size.toLong).toMap
    val f = cnt.view.mapValues(c => math.floor(math.sqrt(c.toDouble)).toLong).toMap
    val sumf = f.values.sum
    val total = cnt.values.sum
    val quotas = f.view.mapValues(fi => ((total / 2) * fi) / sumf).toMap

    def run(name: String, nChunks: Int): Seq[QuotaDecision] = {
      val input = MemoryStream[SrcDoc]
      // conf set + start live INSIDE the try: a failing start() must not
      // leak the provider override into the rest of the suite
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.quotaAdmitTws(input.toDS(), quotas)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          docs.grouped(math.max(docs.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[QuotaDecision].collect().toSeq
    }

    val a = run("quota_admit_3", 3)
    val b = run("quota_admit_7", 7)
    assert(a.toSet === b.toSet, "re-chunking the stream changed a decision")
    assert(a.size === docs.length, "every arrival gets exactly one decision")

    val batch = SparkEntry.queries("q228_source_mixture_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val admitted = a.filter(_.admitted).map(d => (d.doc_id, d.source, d.rk)).toSet
    assert(admitted === batch,
      "streaming quota admission diverged from the batch mixer's selection")
  }

  test("quota admission survives a restart without double-counting (checkpointed)") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{QuotaDecision, SrcDoc}
    import org.apache.spark.sql.streaming.Trigger

    val base = java.nio.file.Files.createTempDirectory("graft_quota_restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val quotas = Map("s0" -> 3L, "s1" -> 2L)
    // pri = doc_id and ids arrive ascending, so the admitted set is
    // invariant to how the file stream batches the arrivals
    def docs(ids: Range) =
      ids.map(i => SrcDoc(i.toLong, s"s${i % 2}", i.toLong))

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[SrcDoc].schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir).as[SrcDoc]
        val q = StatefulOps.quotaAdmitTws(src, quotas)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not drain within timeout")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // a run() between the two writes pins cross-batch arrival order (the
    // file source orders by modification time, where a same-mtime tie could
    // deliver 5-8 before 1-4 and flip the admitted set) — the quota
    // contract itself only promises order WITHIN a batch
    docs(1 to 4).toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    docs(5 to 8).toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    assert(spark.read.parquet(outDir).count() === 8L)

    // restart with no new input: the sink's commit log re-emits nothing
    run()
    assert(spark.read.parquet(outDir).count() === 8L)

    // more arrivals after the restart: partially-consumed quotas persist
    // in the state store — counters must resume, not reset
    docs(9 to 12).toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    val all = spark.read.parquet(outDir).as[QuotaDecision].collect()
    assert(all.length === 12, "every arrival decided exactly once across restarts")
    val admitted = all.filter(_.admitted)
    // s0 arrivals 2,4,6,8,10,12 at quota 3 → first three; s1 arrivals
    // 1,3,5,7,9,11 at quota 2 → first two. A reset counter would admit
    // 8/10/12 or 9/11 after the restart.
    assert(admitted.filter(_.source == "s0").map(d => (d.doc_id, d.rk)).sorted.toSeq
      === Seq((2L, 1L), (4L, 2L), (6L, 3L)))
    assert(admitted.filter(_.source == "s1").map(d => (d.doc_id, d.rk)).sorted.toSeq
      === Seq((1L, 1L), (3L, 2L)))
  }

  test("quota admission decides a slice far larger than the quota like the full sort would") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{QuotaDecision, SrcDoc}
    implicit val sqlCtx = spark.sqlContext

    // one mega-source whose single micro-batch slice dwarfs its quota — the
    // skewed shape the processor's bounded selection heap exists for. pris
    // are scrambled (LCG) so the k-smallest are scattered all over the
    // slice, and collide in pairs so the doc_id tie-break is exercised.
    val quota = 7L
    val slice = (1L to 5000L).map(d => SrcDoc(d, "mega", (d * 48271L) % 2500L))
    // the sort-based reference the bounded heap must reproduce exactly:
    // sort the whole slice by (pri, doc_id), admit the head with ranks
    val sorted = slice.sortBy(d => (d.pri, d.doc_id))
    val expect = (sorted.take(quota.toInt).zipWithIndex.map { case (d, i) =>
      QuotaDecision(d.doc_id, d.source, i + 1L, admitted = true)
    } ++ sorted.drop(quota.toInt).map(d =>
      QuotaDecision(d.doc_id, d.source, 0L, admitted = false))).toSet

    val input = MemoryStream[SrcDoc]
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = StatefulOps.quotaAdmitTws(input.toDS(), Map("mega" -> quota))
        .writeStream.format("memory").queryName("quota_mega")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(slice)
        q.processAllAvailable()
        val got = spark.table("quota_mega").as[QuotaDecision].collect().toSet
        assert(got === expect,
          "bounded selection diverged from the sort-the-whole-slice reference")
        // a follow-up slice against the now-saturated source rides the
        // zero-buffering pass-through branch: all rejected, counter frozen
        input.addData((6000L to 6100L).map(d => SrcDoc(d, "mega", d)))
        q.processAllAvailable()
        val after = spark.table("quota_mega").as[QuotaDecision].collect()
        assert(after.length === slice.length + 101)
        assert(after.filter(_.doc_id >= 6000L).forall(d => !d.admitted && d.rk == 0L),
          "a saturated source must reject every later arrival")
        assert(after.count(_.admitted) === quota,
          "saturation pass-through must not move the admitted counter")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming semantic admit is chunking-invariant and keeps an eps-separated net") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{ClusterVec, SemanticDecision}
    implicit val sqlCtx = spark.sqlContext
    val Eps = 0.35

    // the q234 shape computed test-side: sf0.001 embeddings assigned to the
    // full-corpus LCG centroids; arrivals flow in vec_id order
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val cents = vecs.keySet.filter(id =>
      ((id % 2147483647L) * 1103515245L + 12345L) % 2147483647L % 50 == 0)
      .toSeq.sorted
    assert(cents.nonEmpty)
    val arrivals = vecs.keys.toSeq.sorted.map { id =>
      ClusterVec(cents.maxBy(c => (cos(vecs(id), vecs(c)), c)), id, vecs(id))
    }

    // sequential greedy eps-net reference, per cluster in arrival order
    val refNet = scala.collection.mutable.Map.empty[Long, List[Long]]
    val refAdmitted = arrivals.map { a =>
      val kept = refNet.getOrElse(a.cent_id, Nil)
      val dup = kept.exists(k => cos(vecs(k), a.v) >= Eps)
      if (!dup) refNet(a.cent_id) = kept :+ a.vec_id
      a.vec_id -> !dup
    }.toMap

    def run(chunks: Int, name: String): Map[Long, Boolean] = {
      val input = MemoryStream[ClusterVec]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.semanticAdmitTws(input.toDS(), Eps)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          arrivals.grouped(math.max(arrivals.length / chunks, 1))
            .foreach { c => input.addData(c); q.processAllAvailable() }
          spark.table(name).as[SemanticDecision].collect()
            .map(d => d.vec_id -> d.admitted).toMap
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    val three = run(3, "sem_admit_3")
    val seven = run(7, "sem_admit_7")
    assert(three === refAdmitted,
      "3-chunk decisions diverged from the sequential greedy reference")
    assert(seven === refAdmitted,
      "7-chunk decisions diverged from the sequential greedy reference")
    assert(refAdmitted.values.exists(identity) && refAdmitted.values.exists(!_),
      "corpus must exercise both admit and reject")

    // the invariant the memory bound rests on: admitted vectors of one
    // cluster are pairwise BELOW eps (an eps-separated net), and every
    // rejection is witnessed by an EARLIER admitted vector
    val admittedByCluster = arrivals.filter(a => refAdmitted(a.vec_id))
      .groupBy(_.cent_id)
    admittedByCluster.values.foreach { as =>
      for (i <- as.indices; j <- (i + 1) until as.length)
        assert(cos(as(i).v, as(j).v) < Eps,
          s"net not eps-separated: ${as(i).vec_id} vs ${as(j).vec_id}")
    }
    arrivals.filter(a => !refAdmitted(a.vec_id)).foreach { a =>
      val witnesses = admittedByCluster(a.cent_id)
        .filter(k => k.vec_id < a.vec_id && cos(k.v, a.v) >= Eps)
      assert(witnesses.nonEmpty,
        s"rejected ${a.vec_id} has no earlier admitted witness")
    }
  }

  test("semantic admit's eps-net survives a restart (checkpointed state, no re-admission)") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{ClusterVec, SemanticDecision}
    import org.apache.spark.sql.streaming.Trigger

    val base = java.nio.file.Files.createTempDirectory("graft_sem_restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    def v(x: Double, y: Double) = Array(x, y)

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[ClusterVec].schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir).as[ClusterVec]
        val q = StatefulOps.semanticAdmitTws(src, 0.35)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not drain within timeout")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // run() between writes pins cross-batch arrival order, as in the quota
    // restart test. Cluster 1, eps = 0.35:
    //   1 (1,0)        admit        2 ~(1,0)  dup of 1
    //   3 (0,1)        admit        4 (.7,.7) dup of both
    Seq(ClusterVec(1L, 1L, v(1, 0)), ClusterVec(1L, 2L, v(0.995, 0.1)),
      ClusterVec(1L, 3L, v(0, 1)), ClusterVec(1L, 4L, v(0.7, 0.714)))
      .toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    //   5 (-1,.2)      admit        6 ~5      dup of 5
    //   7 (.5,-.87)    dup of 1     8 (-.6,-.8) dup of 5 — the witness
    //                               lives in the PREVIOUS batch's state
    Seq(ClusterVec(1L, 5L, v(-1, 0.2)), ClusterVec(1L, 6L, v(-0.99, 0.21)),
      ClusterVec(1L, 7L, v(0.5, -0.866)), ClusterVec(1L, 8L, v(-0.6, -0.8)))
      .toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    assert(spark.read.parquet(outDir).count() === 8L)

    // restart with no new input: the sink's commit log re-emits nothing
    run()
    assert(spark.read.parquet(outDir).count() === 8L)

    // arrivals after the restart: 9 REPEATS vector 1 — a state store that
    // reset on restart would re-admit it; 10 is genuinely novel; 11
    // repeats 3; 12 repeats 10 (rejected by post-restart state)
    Seq(ClusterVec(1L, 9L, v(1, 0)), ClusterVec(1L, 10L, v(0.2, -0.98)),
      ClusterVec(1L, 11L, v(0, 1)), ClusterVec(1L, 12L, v(0.21, -0.97)))
      .toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    val all = spark.read.parquet(outDir).as[SemanticDecision].collect()
    assert(all.length === 12, "every arrival decided exactly once across restarts")
    assert(all.filter(_.admitted).map(_.vec_id).sorted.toSeq === Seq(1L, 3L, 5L, 10L),
      "eps-net state must persist across restarts (9/11/12 re-admitted?)")
    // n_net reports the cluster's net size at decision time: 1,1,2,2 / 3,3,3,3 / 3,4,4,4
    assert(all.maxBy(_.vec_id).n_net === 4L)
  }

  test("token-budget admission tws equals batch q238 and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{TokDecision, TokDoc}
    implicit val sqlCtx = spark.sqlContext

    // shard budgets straight from the q235 plan (alloc div cap_epochs — the
    // q238 gate), so the streaming form admits under the SAME waterline
    val shards = SparkEntry.queries("q235_token_budget_mix")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(7) / r.getLong(4)).toMap

    // the corpus in the admitter's priority order, token counts computed by
    // the same expression the batch uses
    def lcg(id: Long): Long = (id * 1103515245L + 12345L) % 2147483648L
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .as[(Long, String, Long)].collect()
      .map { case (id, src, nt) => TokDoc(id, src, lcg(id), nt) }
      .sortBy(d => (d.pri, d.doc_id))

    def run(name: String, nChunks: Int): Seq[TokDecision] = {
      val input = MemoryStream[TokDoc]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.tokenBudgetAdmitTws(input.toDS(), shards)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          docs.grouped(math.max(docs.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[TokDecision].collect().toSeq
    }

    val a = run("tok_admit_3", 3)
    val b = run("tok_admit_7", 7)
    assert(a.toSet === b.toSet, "re-chunking the stream changed a decision")
    assert(a.size === docs.length, "every arrival gets exactly one decision")

    val batch = SparkEntry.queries("q238_token_budget_admit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4))).toSet
    val admitted = a.filter(_.admitted)
      .map(d => (d.doc_id, d.source, d.cum_tokens)).toSet
    assert(admitted === batch,
      "streaming token admission diverged from the batch shard (cum positions included)")
    assert(a.exists(!_.admitted), "the shard gate must reject something at sf0.001")
  }

  test("token-budget admission decides a mega-slice like the full sort would") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{TokDecision, TokDoc}
    implicit val sqlCtx = spark.sqlContext

    // one mega-source, one micro-batch far larger than its token shard:
    // scrambled pris, varying token sizes. The bounded heap must reproduce
    // the sort-the-slice-and-walk-the-prefix reference exactly, including
    // the final overshooting admission.
    val shard = 1000L
    val slice = (1L to 5000L).map(d =>
      TokDoc(d, "mega", (d * 48271L) % 2500L, 1L + d % 7L))
    val sorted = slice.sortBy(d => (d.pri, d.doc_id))
    var cum = 0L
    val expect = sorted.map { d =>
      val admit = cum < shard
      if (admit) cum += d.n_tokens
      TokDecision(d.doc_id, d.source, if (admit) cum else 0L, admit)
    }.toSet

    val input = MemoryStream[TokDoc]
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = StatefulOps.tokenBudgetAdmitTws(input.toDS(), Map("mega" -> shard))
        .writeStream.format("memory").queryName("tok_mega")
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(slice)
        q.processAllAvailable()
        val got = spark.table("tok_mega").as[TokDecision].collect().toSet
        assert(got === expect,
          "bounded mass-tracking heap diverged from the sorted-prefix reference")
        // saturated source: pass-through rejections, counter frozen
        input.addData((6000L to 6100L).map(d => TokDoc(d, "mega", d, 1L)))
        q.processAllAvailable()
        val after = spark.table("tok_mega").as[TokDecision].collect()
        assert(after.filter(_.doc_id >= 6000L)
          .forall(d => !d.admitted && d.cum_tokens == 0L),
          "a spent shard must reject every later arrival")
        assert(after.filter(_.admitted).map(_.cum_tokens).max ===
          expect.filter(_.admitted).map(_.cum_tokens).max,
          "saturation pass-through must not move the token counter")
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("token-budget admission survives a restart without double-spending (checkpointed)") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{TokDecision, TokDoc}
    import org.apache.spark.sql.streaming.Trigger

    val base = java.nio.file.Files.createTempDirectory("graft_tok_restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    // s0 docs carry 3 tokens each against a 7-token shard: cum 3, 6, 9 —
    // the third admission overshoots, the fourth is rejected; s1 docs carry
    // 2 against a 3-token shard: cum 2, 4 — overshoot at the second
    val shards = Map("s0" -> 7L, "s1" -> 3L)
    def docs(ids: Range) =
      ids.map(i => TokDoc(i.toLong, s"s${i % 2}", i.toLong, if (i % 2 == 0) 3L else 2L))

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[TokDoc].schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir).as[TokDoc]
        val q = StatefulOps.tokenBudgetAdmitTws(src, shards)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not drain within timeout")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // run() between the writes pins cross-batch arrival order (the quota
    // restart test's discipline) — pri = doc_id and ids ascend
    docs(1 to 4).toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    docs(5 to 8).toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    assert(spark.read.parquet(outDir).count() === 8L)

    // restart with no new input: the sink's commit log re-emits nothing
    run()
    assert(spark.read.parquet(outDir).count() === 8L)

    // arrivals after the restart: a token counter that reset would re-open
    // both shards and admit 9-12; persisted counters must reject them all
    docs(9 to 12).toDS().repartition(1).write.mode("append").parquet(inDir)
    run()
    val all = spark.read.parquet(outDir).as[TokDecision].collect()
    assert(all.length === 12, "every arrival decided exactly once across restarts")
    // s0 arrivals 2,4,6,8,10,12 at 3 tokens, shard 7 → cum 3,6,9 admits
    // 2,4,6 (9 overshoots) then saturation; s1 arrivals 1,3,5,... at 2
    // tokens, shard 3 → cum 2,4 admits 1,3 then saturation
    assert(all.filter(_.admitted).map(d => (d.doc_id, d.cum_tokens)).sorted.toSeq
      === Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 6L), (6L, 9L)))
  }

  test("streaming PQ drift monitor: final reading equals batch q245 under any chunking") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{PqDriftCell, PqErr}
    implicit val sqlCtx = spark.sqlContext

    // the monitor's feed is EXACTLY q245's pre-aggregation rows (shared
    // pqErrU definition — live and nightly monitors watch one arithmetic)
    val errs = operators.RefineQueries.pqErrU(spark, sf)
      .as[PqErr].collect().sortBy(e => (e.vec_id, e.m))

    def run(name: String, nChunks: Int): Seq[PqDriftCell] = {
      val input = MemoryStream[PqErr]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.pqDriftTws(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          errs.grouped(math.max(errs.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[PqDriftCell].collect().toSeq
    }

    // counters COMMUTE, so the FINAL reading per subspace must be identical
    // across chunkings (intermediate time series legitimately differ)
    def finalReading(cells: Seq[PqDriftCell]): Map[Long, PqDriftCell] =
      cells.groupBy(_.m).view.mapValues(_.maxBy(c => c.n_old + c.n_new)).toMap
    val a = finalReading(run("pq_drift_3", 3))
    val b = finalReading(run("pq_drift_7", 7))
    assert(a === b, "re-chunking changed a final monitor reading")

    // ...and equal batch q245 row-for-row, flags included
    val batch = SparkEntry.queries("q245_pq_drift_audit")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(a.keySet === batch.keySet, "monitor must cover every subspace")
    a.foreach { case (m, c) =>
      assert((c.n_old, c.n_new, c.merr_old_u.get, c.merr_new_u.get,
        c.shift_u.get, c.retrain.get) === batch(m), s"subspace $m")
    }
    // the monitor really emits a time series: one reading per touched
    // subspace per batch (grouped() rounds up, so count the actual chunks)
    val nBatches = errs.grouped(math.max(errs.length / 3, 1)).size
    val series = run("pq_drift_series", 3)
    assert(series.groupBy(_.m).values
      .forall(s => s.length >= 2 && s.length <= nBatches),
      "each subspace should have one reading per batch that touched it")
  }

  test("PQ drift monitor counters survive a restart without double-counting") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{PqDriftCell, PqErr}
    import org.apache.spark.sql.streaming.Trigger

    val base = java.nio.file.Files.createTempDirectory("graft_pqdrift_restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[PqErr].schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir).as[PqErr]
        val q = StatefulOps.pqDriftTws(src)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not drain within timeout")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // two vectors per epoch in subspace 0: errors 10/30 (old), 20/40 (new)
    def err(id: Long, u: Long) = PqErr(id, 0L, u)
    Seq(err(0L, 10L), err(1L, 20L)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    // restart with no new input: commit log re-emits nothing, state intact
    run()
    val mid = spark.read.parquet(outDir).as[PqDriftCell].collect()
    assert(mid.length === 1 && mid.head.n_old === 1L && mid.head.n_new === 1L)

    // arrivals after the restart: counters must RESUME (a reset would
    // report n=1/mean=30 and n=1/mean=40 instead of n=2 running means)
    Seq(err(2L, 30L), err(3L, 40L)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    val all = spark.read.parquet(outDir).as[PqDriftCell].collect()
      .sortBy(c => c.n_old + c.n_new)
    assert(all.length === 2, "one reading per batch across restarts")
    val last = all.last
    assert((last.n_old, last.n_new, last.merr_old_u, last.merr_new_u) ===
      ((2L, 2L, Some(20L), Some(30L))),
      "restarted counters must continue from the checkpointed sums")
  }

  test("streaming IVF cell monitor: final counts through the shared finisher equal batch q241") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{CellArrival, IvfCellCount}
    implicit val sqlCtx = spark.sqlContext

    // the monitor's feed is EXACTLY q241's pre-aggregation rows (shared
    // ivfCellArrivals — live and nightly monitors watch one assignment)
    val arrivals = operators.RefineQueries.ivfCellArrivals(spark, sf)
      .as[CellArrival].collect().sortBy(_.vec_id)

    def run(name: String, nChunks: Int): Seq[IvfCellCount] = {
      val input = MemoryStream[CellArrival]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.ivfCellTws(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          arrivals.grouped(math.max(arrivals.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[IvfCellCount].collect().toSeq
    }

    // counters COMMUTE: the FINAL per-cell counts must be identical across
    // chunkings (intermediate time series legitimately differ)
    def finalCounts(cells: Seq[IvfCellCount]): Map[Long, (Long, Long)] =
      cells.groupBy(_.cent_id).view
        .mapValues(s => { val m = s.maxBy(c => c.n_old + c.n_new); (m.n_old, m.n_new) })
        .toMap
    val a = finalCounts(run("ivf_cells_3", 3))
    val b = finalCounts(run("ivf_cells_7", 7))
    assert(a === b, "re-chunking changed a final monitor count")

    // ...and the final counts, folded through the SAME finisher batch q241
    // uses, must reproduce the batch audit row-for-row, flags included
    val reading = operators.RefineQueries.ivfDriftFromCells(
      a.toSeq.map { case (cid, (o, n)) => (cid, o, n) }
        .toDF("cent_id", "n_old", "n_new")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    val batch = SparkEntry.queries("q241_ivf_drift_audit")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(reading === batch,
      "live monitor's final reading must equal the batch drift audit")

    // the monitor really emits a time series: one count per touched cell
    // per batch that touched it
    val nBatches = arrivals.grouped(math.max(arrivals.length / 3, 1)).size
    val series = run("ivf_cells_series", 3)
    assert(series.groupBy(_.cent_id).values
      .forall(s => s.nonEmpty && s.length <= nBatches),
      "each cell should read once per batch that touched it")
  }

  test("IVF cell monitor counters survive a restart without double-counting") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{CellArrival, IvfCellCount}
    import org.apache.spark.sql.streaming.Trigger

    val base = java.nio.file.Files.createTempDirectory("graft_ivfcell_restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[CellArrival].schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir).as[CellArrival]
        val q = StatefulOps.ivfCellTws(src)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not drain within timeout")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // cell 5: one old (even id) + one new (odd id) arrival
    Seq(CellArrival(0L, 5L), CellArrival(1L, 5L)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    // restart with no new input: commit log re-emits nothing, state intact
    run()
    val mid = spark.read.parquet(outDir).as[IvfCellCount].collect()
    assert(mid.length === 1 && mid.head.n_old === 1L && mid.head.n_new === 1L)

    // arrivals after the restart: counters must RESUME (a reset would
    // report 1/1 again instead of 2/2)
    Seq(CellArrival(2L, 5L), CellArrival(3L, 5L)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    val all = spark.read.parquet(outDir).as[IvfCellCount].collect()
      .sortBy(c => c.n_old + c.n_new)
    assert(all.length === 2, "one reading per batch across restarts")
    assert((all.last.n_old, all.last.n_new) === ((2L, 2L)),
      "restarted counters must continue from the checkpointed sums")
  }

  test("media near-dup tws equals batch q252 pairs and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{MediaSig, NearDupPair}
    implicit val sqlCtx = spark.sqlContext

    // the sf0.001 corpus's media envelopes (q252's exact payloads) PLUS a
    // planted byte-identical pair and a 3-byte-patch near-dup, so the pin
    // covers both organic and adversarial collisions
    def lcgBytes(seed: Long, n: Int): Array[Byte] = {
      var x = seed
      Array.fill(n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 33) & 0xff).toByte
      }
    }
    val base = lcgBytes(42L, 1000)
    val nearDup = base.clone()
    Seq(150, 450, 750).foreach(i => nearDup(i) = (nearDup(i) ^ 0x5a).toByte)
    val planted = Seq((900001L, base), (900002L, base.clone()),
      (900003L, nearDup)).toDF("doc_id", "payload")
    val media = Tables.documents(spark, sf)
      .select(col("doc_id"), operators.MultimodalQueries.mediaPayload.as("payload"))
      .union(planted)

    val batchPairs = operators.MultimodalQueries.byteSimhashPairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs.contains((900001L, 900002L, 0L)),
      "planted byte-identical pair must be in the batch reference")

    val sigs = operators.MultimodalQueries.byteSimhashSigs(media)
      .orderBy("doc_id").as[MediaSig].collect()

    def run(name: String, nChunks: Int): Set[(Long, Long, Long)] = {
      val input = MemoryStream[MediaSig]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.mediaNearDupTws(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          sigs.grouped(math.max(sigs.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[NearDupPair].collect()
        .map(p => (p.doc_a, p.doc_b, p.hamming)).toSet
    }

    val a = run("media_neardup_3", 3)
    val b = run("media_neardup_7", 7)
    assert(a === b, "re-chunking the stream changed the reported pair set")
    assert(a === batchPairs,
      s"streaming pair set diverged from batch q252: only-stream=${a -- batchPairs}, only-batch=${batchPairs -- a}")
  }

  test("text near-dup through the same tws equals batch q40 — the processor is signature-generic") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{MediaSig, NearDupPair}
    implicit val sqlCtx = spark.sqlContext

    // The near-dup state processor is keyed on (band, key) of a 64-bit
    // SimHash — nothing in it is media-specific. Feeding the TEXT
    // signature stream must reproduce batch q40 exactly, so one streaming
    // operator serves both modalities' ingest-time admission.
    val batchPairs = operators.DedupQueries.simhashNearDupPairs(
      operators.DedupQueries.textSimhashSigs(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = operators.DedupQueries.textSimhashSigs(spark, sf)
      .orderBy("doc_id").as[MediaSig].collect()

    val input = MemoryStream[MediaSig]
    val pairs = try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = StatefulOps.mediaNearDupTws(input.toDS())
        .writeStream.format("memory").queryName("text_neardup")
        .outputMode(OutputMode.Append()).start()
      try {
        sigs.grouped(math.max(sigs.length / 5, 1))
          .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
      spark.table("text_neardup").as[NearDupPair].collect()
        .map(p => (p.doc_a, p.doc_b, p.hamming)).toSet
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert(pairs === batchPairs,
      s"streamed text pairs diverged from batch q40: only-stream=${pairs -- batchPairs}, only-batch=${batchPairs -- pairs}")
  }

  test("the calibrated cap flows through streaming admission — streamed pairs equal batch at the dial's choice") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{MediaSig, NearDupPair}
    implicit val sqlCtx = spark.sqlContext

    // q265's saturated-drift scenario on the streaming side: 70
    // byte-identical payloads saturate every bucket past the default cap,
    // so default-cap streaming admits nothing — the dial chooses 128 and
    // the SAME processor at that cap must report exactly the batch pair
    // set. Without the cap parameter a recalibration would move batch and
    // leave ingestion silently blind.
    val payload = Array.tabulate(64)(i => (i * 7 + 3).toByte)
    val media = (0L until 70L).map(id => (id, payload.clone))
      .toDF("doc_id", "payload")
    val sigsDf = operators.MultimodalQueries.byteSimhashSigs(media)
    val dial = operators.DedupQueries.bucketCapDial(sigsDf).collect()
    val chosen = dial.filter(_.getBoolean(dial.head.fieldIndex("chosen")))
      .head.getLong(0).toInt
    assert(chosen == 128)
    val batchPairs = operators.DedupQueries
      .simhashNearDupPairsUnsorted(sigsDf, chosen).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs.size == 69 * 35, "chosen cap recovers the full family")

    val sigs = sigsDf.orderBy("doc_id").as[MediaSig].collect()
    def run(name: String, cap: Int): Set[(Long, Long, Long)] = {
      val input = MemoryStream[MediaSig]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.mediaNearDupTws(input.toDS(), cap)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          sigs.grouped(25).foreach { c =>
            input.addData(c.toIndexedSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[NearDupPair].collect()
        .map(p => (p.doc_a, p.doc_b, p.hamming)).toSet
    }
    // streaming bounds by CURRENT filed size (the documented divergence
    // from batch's final-size rule): the default cap files the first 64
    // arrivals and pairs only those — every later doc is silently lost
    val first64 = (0L until 64L)
      .flatMap(b => (0L until b).map(a => (a, b, 0L))).toSet
    assert(run("capped_default", operators.DedupQueries.MaxBucket) === first64,
      "the default cap must lose every doc past the first 64")
    assert(run("capped_calibrated", chosen) === batchPairs,
      "streaming at the dial's cap must equal the batch pair set")
  }

  test("chunk-store admission tws equals the batch min-doc rule and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{ChunkArrival, ChunkDecision}
    implicit val sqlCtx = spark.sqlContext

    // the corpus's real per-doc distinct chunk stream (q253's convention),
    // delivered in doc order — the ingest sequence of a media lake
    val media = Tables.documents(spark, sf)
      .select(col("doc_id"), operators.MultimodalQueries.mediaPayload.as("payload"))
    val arrivals = media
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.Sketches.cdcChunks(col("payload"),
          operators.MultimodalQueries.CdcDivisor,
          operators.DedupQueries.ShingleP))).as("cfp"))
      .select(col("cfp"), col("doc_id")).as[ChunkArrival]
      .collect().sortBy(_.doc_id)

    // batch truth: a (doc, chunk) is novel iff the doc is the chunk's
    // min-id filer; the first writer is that min id
    val firstWriter = arrivals.groupBy(_.cfp).map { case (c, as) =>
      c -> as.map(_.doc_id).min
    }
    def run(name: String, nChunks: Int): Map[(Long, Long), (Boolean, Long)] = {
      val input = MemoryStream[ChunkArrival]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.chunkAdmitTws(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          arrivals.grouped(math.max(arrivals.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[ChunkDecision].collect()
        .map(d => (d.doc_id, d.cfp) -> ((d.novel, d.first_doc_id))).toMap
    }

    val a = run("chunk_admit_3", 3)
    val b = run("chunk_admit_7", 7)
    assert(a === b, "re-chunking the stream changed a chunk admission")
    assert(a.size === arrivals.length, "every (doc, chunk) gets exactly one decision")
    arrivals.foreach { r =>
      val (novel, first) = a((r.doc_id, r.cfp))
      assert(first === firstWriter(r.cfp),
        s"first writer for ${r.cfp} diverged from the batch min-doc rule")
      assert(novel === (r.doc_id == firstWriter(r.cfp)),
        s"novelty for (${r.doc_id}, ${r.cfp}) diverged from the batch rule")
    }
    // the admitted set IS q254's distinct_chunks reading
    assert(a.count(_._2._1) === firstWriter.size)
  }

  test("label census tws equals the batch census and feeds q258's matches column") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{LabelArrival, LabelCount}
    implicit val sqlCtx = spark.sqlContext

    // the census feed is the embeddings metadata — two pruned int columns
    val arrivals = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("lbl"))
      .as[LabelArrival].collect().sortBy(_.vec_id)

    def run(name: String, nChunks: Int): Seq[LabelCount] = {
      val input = MemoryStream[LabelArrival]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.labelCensusTws(input.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          arrivals.grouped(math.max(arrivals.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[LabelCount].collect().toSeq
    }

    def finalCounts(cs: Seq[LabelCount]): Map[Long, Long] =
      cs.groupBy(_.lbl).view.mapValues(_.map(_.n).max).toMap
    val a = finalCounts(run("label_census_3", 3))
    val b = finalCounts(run("label_census_7", 7))
    assert(a === b, "re-chunking changed a final census count")

    // final reading == the batch census
    val batch = arrivals.groupBy(_.lbl).view.mapValues(_.length.toLong).toMap
    assert(a === batch, "streaming census diverged from the batch groupBy")

    // ...and the router's matches column IS census(label) - 1
    SparkEntry.queries("q258_filter_strategy_router")(spark, sf).collect()
      .foreach { r =>
        val lbl = r.getLong(r.fieldIndex("label"))
        val m = r.getLong(r.fieldIndex("matches"))
        assert(m === a(lbl) - 1,
          s"q258 matches for label $lbl must be the census reading minus one")
      }
  }

  // ---------- embedding LSH near-dup admission ----------

  /** Drive [[StatefulOps.lshAdmitTws]] over a code stream and return the
    * candidate pair set. */
  private def runLshAdmit(name: String, sigs: Seq[StatefulOps.LshSig],
                          bits: Int, nChunks: Int): Set[(Long, Long)] = {
    import spark.implicits._
    import graft.streaming.StatefulOps.{LshCandidate, LshSig}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[LshSig]
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = StatefulOps.lshAdmitTws(input.toDS(), bits)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        sigs.grouped(math.max(sigs.length / nChunks, 1))
          .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.table(name).as[LshCandidate].collect()
      .map(p => (p.vec_a, p.vec_b)).toSet
  }

  /** The downstream exact re-check a production admission performs with
    * two point lookups per candidate: cosine over the collected vectors. */
  private def cosConfirm(cands: Set[(Long, Long)],
                         vecs: Map[Long, Array[Double]]): Set[(Long, Long)] =
    cands.filter { case (a, b) =>
      val (va, vb) = (vecs(a), vecs(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val na = math.sqrt(va.map(x => x * x).sum)
      val nb = math.sqrt(vb.map(x => x * x).sum)
      dot / (na * nb) >= 0.35
    }

  test("embedding LSH admission tws equals batch q67 pairs and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.streaming.StatefulOps.LshSig
    import graft.operators.{DedupQueries, SimilarityQueries}

    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    val bits = SimilarityQueries.codeBits(n)
    val e = DedupQueries.normVecs(spark, sf)
    val sigs = DedupQueries.lshSigCodes(e, bits)
      .orderBy("vec_id").as[LshSig].collect().toSeq
    val vecs = e.select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    val batchPairs = DedupQueries.lshNearDupPairsFrom(e, bits).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val a = runLshAdmit("lsh_admit_3", sigs, bits, 3)
    val b = runLshAdmit("lsh_admit_7", sigs, bits, 7)
    assert(a === b, "re-chunking the stream changed the candidate set")
    val confirmed = cosConfirm(a, vecs)
    assert(confirmed === batchPairs,
      s"streamed+confirmed pairs diverged from batch q67: " +
        s"only-stream=${confirmed -- batchPairs}, only-batch=${batchPairs -- confirmed}")
  }

  // ---------- MinHash near-dup admission ----------

  /** Drive [[StatefulOps.minhashAdmitTws]] over a band-key stream and
    * return the candidate pair set. */
  private def runMinhashAdmit(name: String, sigs: Seq[StatefulOps.MinhashSig],
                              nChunks: Int): Set[(Long, Long)] = {
    import spark.implicits._
    import graft.streaming.StatefulOps.{MinhashCandidate, MinhashSig}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MinhashSig]
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = StatefulOps.minhashAdmitTws(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        sigs.grouped(math.max(sigs.length / nChunks, 1))
          .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.table(name).as[MinhashCandidate].collect()
      .map(p => (p.doc_a, p.doc_b)).toSet
  }

  test("minhash admission tws equals batch q39 pairs and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.streaming.StatefulOps.MinhashSig
    import graft.operators.DedupQueries

    val docs = Tables.documents(spark, sf)
    val sigRows = DedupQueries.minhashSigKeysFor(docs)
      .orderBy("doc_id").as[MinhashSig].collect().toSeq
    // the downstream signature confirm a production admission performs
    // with two point lookups per candidate: eqCount >= 32 (est J >= 1/2)
    val sigMap = DedupQueries.minhashSignaturesFor(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def confirm(cands: Set[(Long, Long)]): Set[(Long, Long)] =
      cands.filter { case (a, b) =>
        sigMap(a).zip(sigMap(b)).count { case (x, y) => x == y } >=
          graft.functions.Sketches.NumMinHashes / 2
      }

    val batchPairs = SparkEntry.queries("q39_dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val a = runMinhashAdmit("mh_admit_3", sigRows, 3)
    val b = runMinhashAdmit("mh_admit_7", sigRows, 7)
    assert(a === b, "re-chunking the stream changed the candidate set")
    val confirmed = confirm(a)
    assert(confirmed === batchPairs,
      s"streamed+confirmed pairs diverged from batch q39: " +
        s"only-stream=${confirmed -- batchPairs}, only-batch=${batchPairs -- confirmed}")
  }

  test("cdc candidate tws: confirmed candidates equal batch q253 and the calibrated cap flows through") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{CdcCandidate, ChunkArrival}
    import graft.operators.{DedupQueries, MultimodalQueries}
    import org.apache.spark.sql.expressions.Window
    implicit val sqlCtx = spark.sqlContext

    def lcgBytes(seed: Long, n: Int): Array[Byte] = {
      var x = seed
      Array.fill(n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 33) & 0xff).toByte
      }
    }
    def chunkFrame(media: org.apache.spark.sql.DataFrame) = media
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.Sketches.cdcChunks(col("payload"),
          MultimodalQueries.CdcDivisor, DedupQueries.ShingleP))).as("cfp"))
    // the downstream containment confirm a production ingest performs with
    // two chunk-manifest lookups per candidate — q253's predicate verbatim
    // over the cap's informative universe
    def manifests(media: org.apache.spark.sql.DataFrame,
                  cap: Int): Map[Long, Set[Long]] =
      chunkFrame(media)
        .withColumn("df", count(lit(1)).over(Window.partitionBy("cfp")))
        .filter(col("df") <= cap).collect()
        .groupBy(_.getLong(0))
        .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    def confirm(cands: Set[(Long, Long)],
                mf: Map[Long, Set[Long]]): Set[(Long, Long)] =
      cands.filter { case (a, b) =>
        val sa = mf.getOrElse(a, Set.empty[Long])
        val sb = mf.getOrElse(b, Set.empty[Long])
        val m = math.min(sa.size, sb.size)
        m > 0 && 1000000L * sa.intersect(sb).size / m >= 500000L
      }
    def runCands(name: String, arr: Seq[ChunkArrival], nChunks: Int,
                 cap: Int): Set[(Long, Long)] = {
      val input = MemoryStream[ChunkArrival]
      try {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val q = StatefulOps.cdcCandidateTws(input.toDS(), cap)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          arr.grouped(math.max(arr.length / nChunks, 1))
            .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      spark.table(name).as[CdcCandidate].collect()
        .map(p => (p.doc_a, p.doc_b)).toSet
    }

    // no-saturation corpus: two copies + an insertion variant + unrelated —
    // the candidate set is chunking-invariant and, confirmed, equals q253
    val base = lcgBytes(7L, 4096)
    val ins = base.take(200) ++ lcgBytes(99L, 5) ++ base.drop(200)
    val mediaA = Seq((1L, base), (2L, base.clone()), (3L, ins),
      (4L, lcgBytes(777L, 4096)), (5L, lcgBytes(888L, 4096)))
      .toDF("doc_id", "payload")
    val arrA = chunkFrame(mediaA).select(col("cfp"), col("doc_id"))
      .as[ChunkArrival].collect().sortBy(_.doc_id).toSeq
    val a3 = runCands("cdc_cand_3", arrA, 3, DedupQueries.MaxBucket)
    val a7 = runCands("cdc_cand_7", arrA, 7, DedupQueries.MaxBucket)
    assert(a3 === a7, "re-chunking the stream changed the candidate set")
    val batchA = MultimodalQueries.cdcContainmentPairs(mediaA).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val confirmedA = confirm(a3, manifests(mediaA, DedupQueries.MaxBucket))
    assert(confirmedA === batchA,
      s"streamed+confirmed pairs diverged from batch q253: " +
        s"only-stream=${confirmedA -- batchA}, only-batch=${batchA -- confirmedA}")

    // q276's saturation scenario on the streaming side: 70 byte-identical
    // payloads put every chunk in a df-70 bucket. At the default cap the
    // stream files only the first 64 arrivals per bucket (current-size
    // bound, the documented divergence) AND the confirm step rejects them
    // all (the 64-universe manifests are empty — saturated buckets can't
    // false-admit); the dial chooses 128 and the SAME processor at that
    // cap, confirmed, equals batch q253 at the dial's choice.
    val hot = lcgBytes(3L, 2048)
    val mediaB = (0L until 70L).map(i => (i, hot.clone())).toDF("doc_id", "payload")
    val dialB = MultimodalQueries.cdcCapDial(mediaB).collect()
    val chosen = dialB.filter(_.getAs[Boolean]("chosen"))
      .head.getAs[Long]("cap").toInt
    assert(chosen === 128)
    val arrB = chunkFrame(mediaB).select(col("cfp"), col("doc_id"))
      .as[ChunkArrival].collect().sortBy(_.doc_id).toSeq
    val def64 = runCands("cdc_cand_def", arrB, 5, DedupQueries.MaxBucket)
    assert(def64 === (0L until 64L)
      .flatMap(b => (0L until b).map(a => (a, b))).toSet,
      "the default cap must surface only the first 64 filers per bucket")
    assert(confirm(def64, manifests(mediaB, DedupQueries.MaxBucket)).isEmpty,
      "the confirm step must reject saturated-bucket candidates at the default cap")
    val at128 = runCands("cdc_cand_cal", arrB, 5, chosen)
    val batchB = MultimodalQueries.cdcContainmentPairs(mediaB, chosen).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(confirm(at128, manifests(mediaB, chosen)) === batchB,
      "streaming at the dial's cap must equal the batch pair set")
  }

  test("the calibrated table count flows through streaming LSH admission") {
    import spark.implicits._
    import graft.streaming.StatefulOps.LshSig
    import graft.operators.{DedupQueries, SimilarityQueries}

    // q268's drift scenario on the streaming side (the IndexLifecycleSpec
    // table-pillar corpus): 12 cos-0.40 pairs on disjoint dim pairs whose
    // first colliding table was measured against the fixed hyperplanes as
    // 0 for three pairs, 1 for one, 2 for five, 3 for three. A single
    // table admits only the first three; the dial's choice (3 tables)
    // must admit nine — without the tables parameter a recalibration
    // would move batch and leave ingestion silently blind.
    val driftJs = Seq((8, 0), (17, 0), (22, 0), (30, 1),
      (3, 2), (10, 2), (12, 2), (13, 2), (23, 2), (1, 3), (26, 3), (28, 3))
    val ct = 0.40f
    val st = math.sqrt(1 - 0.40 * 0.40).toFloat
    val rows = driftJs.zipWithIndex.flatMap { case ((j, _), m) =>
      val a = Array.fill(64)(0.0f); a(2 * j) = 1.0f
      val b = Array.fill(64)(0.0f); b(2 * j) = ct; b(2 * j + 1) = st
      Seq((10000L + 5 * m, a), (10001L + 5 * m, b))
    }
    val e = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorFunctions.dotd(col("v"), col("v"))))
    val bits = SimilarityQueries.codeBits(rows.length)
    val vecs = e.select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    def streamedAt(tables: Int): Set[(Long, Long)] = {
      val sigs = DedupQueries.lshSigCodes(e, bits, tables)
        .orderBy("vec_id").as[LshSig].collect().toSeq
      cosConfirm(runLshAdmit(s"lsh_admit_t$tables", sigs, bits, 4), vecs)
    }
    val trueTwin = driftJs.indices
      .map(m => (10000L + 5 * m, 10001L + 5 * m)).toSet

    val atOne = streamedAt(1)
    assert(atOne === driftJs.zipWithIndex.collect {
      case ((_, 0), m) => (10000L + 5 * m, 10001L + 5 * m)
    }.toSet, "one table must admit exactly the table-0 colliders")

    val atChosen = streamedAt(3)
    assert(atChosen.size === 9 && atChosen.subsetOf(trueTwin),
      s"the dial's 3 tables must admit the nine pairs colliding by table 2: $atChosen")
    // and the streamed set at the calibrated count equals batch q67 there
    val batchAt3 = DedupQueries.lshNearDupPairsFrom(e, bits, tables = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atChosen === batchAt3)
  }

  // ---------- exact-substring span admission ----------

  /** Drive [[StatefulOps.spanAdmitTws]] over a window-key stream and
    * return the duplicated (doc_id, pos) set. `replayLast` re-offers the
    * final chunk after it committed — the restart race. */
  private def runSpanAdmit(name: String, wins: Seq[StatefulOps.WindowArrival],
                           nChunks: Int, replayLast: Boolean = false)
      : Set[(Long, Long)] = {
    import spark.implicits._
    import graft.streaming.StatefulOps.{SpanDecision, WindowArrival}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WindowArrival]
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = StatefulOps.spanAdmitTws(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        val chunks = wins.grouped(math.max(wins.length / nChunks, 1)).toSeq
        chunks.foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        if (replayLast) { input.addData(chunks.last.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.table(name).as[SpanDecision].collect()
      .filter(_.dup).map(d => (d.doc_id, d.pos)).toSet
  }

  test("span admission tws reproduces batch q277's spans and is batch-boundary-invariant") {
    import spark.implicits._
    import graft.operators.DedupQueries
    import graft.streaming.StatefulOps.WindowArrival

    // window keys in the batch keeper order (global (doc_id, pos)),
    // epoch = position in that order so any chunking delivers in-order
    val keyRows = DedupQueries.windowKeysFor(Tables.documents(spark, sf))
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def arrivals(nChunks: Int): Seq[WindowArrival] = {
      val per = math.max(keyRows.length / nChunks, 1)
      keyRows.zipWithIndex.map { case ((wh, d, p), ix) =>
        WindowArrival(wh, d, p, ix / per)
      }.toSeq
    }

    val a = runSpanAdmit("span_admit_3", arrivals(3), 3)
    val b = runSpanAdmit("span_admit_7", arrivals(7), 7)
    assert(a === b, "re-chunking the stream changed the duplicate set")
    // a replayed committed chunk changes no decision
    val r = runSpanAdmit("span_admit_rp", arrivals(3), 3, replayLast = true)
    assert(r === a, "replaying a committed chunk changed the duplicate set")

    // the doc-local islands merge over the streamed duplicate offsets is
    // exactly batch q277's span audit
    def mergeSpans(ps: Seq[Long]): Seq[(Long, Long)] =
      ps.sorted.foldLeft(Vector.empty[(Long, Long)]) { case (acc, i) =>
        acc.lastOption match {
          case Some((s0, e0)) if i <= e0 + 1 =>
            acc.init :+ (s0, math.max(e0, i + 3))
          case _ => acc :+ (i, i + 3)
        }
      }
    val streamed = a.groupBy(_._1).map { case (d, ps) =>
      val spans = mergeSpans(ps.map(_._2).toSeq)
      d -> ((spans.length.toLong, spans.map { case (s0, e0) => e0 - s0 + 1 }.sum))
    }
    val batch = SparkEntry.queries("q277_duplicate_span_extraction")(spark, sf)
      .collect().filter(_.getLong(2) > 0)
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(streamed === batch,
      s"streamed spans diverged from batch q277: only-stream=" +
        s"${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("span admission ownership survives a restart from checkpoint") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{SpanDecision, WindowArrival}
    import org.apache.spark.sql.streaming.Trigger

    val base = java.nio.file.Files.createTempDirectory("graft_span_restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[WindowArrival].schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir).as[WindowArrival]
        val q = StatefulOps.spanAdmitTws(src)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not drain within timeout")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // doc 0 claims window hash 42 before the restart
    Seq(WindowArrival(42L, 0L, 7L, 0)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    // restart with no new input: commit log re-emits nothing
    run()
    assert(spark.read.parquet(outDir).as[SpanDecision].collect().toSeq ===
      Seq(SpanDecision(0L, 7L, 0, dup = false)))
    // after the restart the checkpointed owner must still win: a new doc
    // arriving at the same hash is a duplicate (a reset state store would
    // re-admit it), and the owner re-offered is still recognized by value
    Seq(WindowArrival(42L, 5L, 1L, 1), WindowArrival(42L, 0L, 7L, 1)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    val rows = spark.read.parquet(outDir).as[SpanDecision].collect()
      .map(d => (d.doc_id, d.pos, d.dup))
    assert(rows.length === 3 &&
      rows.toSet === Set((0L, 7L, false), (5L, 1L, true)),
      s"checkpointed ownership must persist across the restart: ${rows.toSeq}")
  }

  /** Drive [[StatefulOps.contaminationRunTws]] over a hit stream and
    * return the FINAL reading per document (the emission at each doc's
    * highest epoch). `replayLast` re-offers the final chunk after it
    * committed — idempotence under duplicate delivery. */
  private def runContamMonitor(name: String, hits: Seq[StatefulOps.EvalHit],
                               nChunks: Int, replayLast: Boolean = false)
      : Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    import graft.streaming.StatefulOps.{ContamReading, EvalHit}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EvalHit]
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = StatefulOps.contaminationRunTws(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        val chunks = hits.grouped(math.max(hits.length / nChunks, 1)).toSeq
        chunks.foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
        if (replayLast) { input.addData(chunks.last.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.table(name).as[ContamReading].collect()
      .groupBy(_.doc_id).map { case (d, rs) =>
        val last = rs.maxBy(_.epoch)
        d -> ((last.n_runs, last.max_run_tokens, last.covered_tokens))
      }
  }

  test("streaming contamination monitor: final readings equal batch q278 under any chunking") {
    import org.apache.spark.sql.functions.{broadcast, col, lower}
    import graft.operators.DedupQueries
    import graft.streaming.StatefulOps.EvalHit

    // batch-side prologue, exactly q278's: lowercased stride-1 windows,
    // eval = the % 97 panel's DISTINCT hashes broadcast onto the rest
    val wk = DedupQueries.windowKeysFor(
      Tables.documents(spark, sf).select(col("doc_id"),
        lower(col("text")).as("text")))
    val evalW = wk.filter(col("doc_id") % 97 === 0).select("wh").distinct()
    val hitRows = wk.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalW), "wh")
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    def arrivals(nChunks: Int): Seq[EvalHit] = {
      val per = math.max(hitRows.length / nChunks, 1)
      hitRows.zipWithIndex.map { case ((d, p), ix) =>
        EvalHit(d, p, ix / per)
      }.toSeq
    }

    val a = runContamMonitor("contam_3", arrivals(3), 3)
    val b = runContamMonitor("contam_7", arrivals(7), 7)
    assert(a === b, "re-chunking the stream changed a final reading")
    // duplicate delivery of a committed chunk merges into covered spans
    val r = runContamMonitor("contam_rp", arrivals(3), 3, replayLast = true)
    assert(r === a, "replaying a committed chunk changed a final reading")

    val batch = SparkEntry.queries("q278_contamination_runs")(spark, sf)
      .collect().map(r2 => r2.getLong(0) ->
        ((r2.getLong(1), r2.getLong(2), r2.getLong(3)))).toMap
    assert(a === batch,
      s"streamed verdicts diverged from batch q278: only-stream=" +
        s"${a.toSet -- batch.toSet}, only-batch=${batch.toSet -- a.toSet}")
  }

  test("contamination run state survives a restart from checkpoint") {
    import spark.implicits._
    import graft.streaming.StatefulOps.{ContamReading, EvalHit}
    import org.apache.spark.sql.streaming.Trigger

    val base = java.nio.file.Files.createTempDirectory("graft_contam_restart")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[EvalHit].schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(inDir).as[EvalHit]
        val q = StatefulOps.contaminationRunTws(src)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "stream did not drain within timeout")
      } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    // doc 9's first batch: two separated runs [0,3] and [5,8]
    Seq(EvalHit(9L, 0L, 0), EvalHit(9L, 5L, 0)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    // restart with no new input: commit log re-emits nothing
    run()
    assert(spark.read.parquet(outDir).as[ContamReading].collect().toSeq ===
      Seq(ContamReading(9L, 0, 2L, 4L, 8L)))
    // after the restart, a bridging window at pos 4 must coalesce BOTH
    // checkpointed runs into one 9-token run — a reset state store would
    // read (1, 4, 4) instead
    Seq(EvalHit(9L, 4L, 1)).toDS()
      .repartition(1).write.mode("append").parquet(inDir)
    run()
    val last = spark.read.parquet(outDir).as[ContamReading].collect()
      .maxBy(_.epoch)
    assert((last.n_runs, last.max_run_tokens, last.covered_tokens) ===
      ((1L, 9L, 9L)),
      s"checkpointed runs must persist and merge across the restart: $last")
  }

  test("admission-time excision: streamed cleaned corpus == batch q282 under any chunking, accumulating across a restart") {
    import graft.operators.DedupQueries

    val docs = Tables.documents(spark, sf)
    val evalW = DedupQueries.evalWindowHashes(
      docs.filter(col("doc_id") % 97 === 0))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text")
    val batchExp = SparkEntry.queries("q282_decontaminate_excise")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(batchExp.nonEmpty)

    def landed(outDir: String): Set[Seq[Any]] =
      spark.read
        .schema("doc_id BIGINT, n_tokens BIGINT, n_runs BIGINT, " +
          "excised_tokens BIGINT, text_clean STRING")
        .parquet(outDir)
        .select("doc_id", "n_tokens", "n_runs", "excised_tokens", "text_clean")
        .collect().map(_.toSeq).toSet

    // docs stream in as whole files, one micro-batch per file — the
    // chunking knob; the landed union must be chunking-invariant
    def runChunks(nFiles: Int): Set[Seq[Any]] = {
      val base = java.nio.file.Files.createTempDirectory("graft_excise")
      val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
      train.repartition(nFiles).write.mode("overwrite").parquet(inDir)
      val src = spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = StatefulOps.decontaminateAdmit(src, evalW, outDir, ckpt)
      try q.processAllAvailable() finally q.stop()
      landed(outDir)
    }
    val out3 = runChunks(3)
    assert(out3 == batchExp,
      "the streamed cleaned corpus must equal batch q282 row-for-row")
    assert(runChunks(7) == out3, "re-chunking the stream changed the corpus")

    // restart: a drained checkpoint re-lands nothing; the second wave
    // accumulates to exactly the full-corpus verdict
    val base = java.nio.file.Files.createTempDirectory("graft_excise_rs")
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    def drain(): Unit = {
      val src = spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = StatefulOps.decontaminateAdmit(src, evalW, outDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    train.filter(col("doc_id") % 2 === 1)
      .repartition(2).write.mode("append").parquet(inDir)
    drain()
    val wave1 = landed(outDir)
    drain() // restart with no new input: nothing re-lands
    assert(landed(outDir) == wave1,
      "a restarted drained stream must land nothing new")
    train.filter(col("doc_id") % 2 === 0)
      .repartition(2).write.mode("append").parquet(inDir)
    drain()
    assert(landed(outDir) == batchExp,
      "the post-restart union must equal the full batch verdict")
  }

  // ---------- admitter bootstrap from the stored pillars (r15) ----------

  /** Drive one bootstrapped admitter over a batch-only stream. */
  private def runBootstrapped[I: org.apache.spark.sql.Encoder,
                              O: org.apache.spark.sql.Encoder](
      name: String, batch: Seq[I], nChunks: Int)(
      mk: org.apache.spark.sql.Dataset[I] => org.apache.spark.sql.Dataset[O])
      : Seq[O] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[I]
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = mk(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        batch.grouped(math.max(batch.length / nChunks, 1))
          .foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.table(name).as[O].collect().toSeq
  }

  test("a fresh stream bootstrapped from the installed pillar admits the batch with decisions == batch admission (simhash/minhash/lsh)") {
    import spark.implicits._
    import graft.operators.{DedupQueries, IndexLifecycle, SimilarityQueries}
    import graft.streaming.StatefulOps.{LshCandidate, LshSig, MediaSig,
      MinhashCandidate, MinhashSig, NearDupPair}

    def touching(q: String, a: String, b: String): Set[(Long, Long)] =
      SparkEntry.queries(q)(spark, sf)
        .filter(col(a) % 7 === 0 || col(b) % 7 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // --- SimHash text: pillar on ~6/7, the 1/7 batch streams in ---
    val shRoot = java.nio.file.Files.createTempDirectory("boot_sh").toString
    val shSigs = DedupQueries.textSimhashSigs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, shRoot, 1L,
      IndexLifecycle.SimhashPostings, shSigs.filter(col("doc_id") % 7 =!= 0),
      Seq(DedupQueries.MaxBucket)))
    val shBatch = shSigs.filter(col("doc_id") % 7 === 0)
      .orderBy("doc_id").as[MediaSig].collect().toSeq
    val shPairs = runBootstrapped[MediaSig, NearDupPair](
      "boot_sh_q", shBatch, 3)(in =>
      StatefulOps.mediaNearDupTwsBootstrapped(in,
        StatefulOps.simhashBootstrapFrom(spark, shRoot)))
      .map(p => (p.doc_a, p.doc_b)).toSet
    val shExp = touching("q40_dedup_simhash", "doc_a", "doc_b")
    assert(shExp.nonEmpty && shPairs === shExp,
      s"bootstrapped SimHash admission diverged from batch q289 truth: " +
        s"only-stream=${shPairs -- shExp}, only-batch=${shExp -- shPairs}")

    // --- MinHash: candidates + the two-lookup signature confirm ---
    val mhRoot = java.nio.file.Files.createTempDirectory("boot_mh").toString
    val docs = Tables.documents(spark, sf)
    assert(IndexLifecycle.installPostings(spark, mhRoot, 1L,
      IndexLifecycle.MinhashPostings,
      DedupQueries.minhashSignatures(spark, sf)
        .filter(col("doc_id") % 7 =!= 0), Seq(DedupQueries.MaxBucket)))
    val mhBatch = DedupQueries.minhashSigKeysFor(
        docs.filter(col("doc_id") % 7 === 0))
      .orderBy("doc_id").as[MinhashSig].collect().toSeq
    val sigMap = DedupQueries.minhashSignaturesFor(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mhCands = runBootstrapped[MinhashSig, MinhashCandidate](
      "boot_mh_q", mhBatch, 3)(in =>
      StatefulOps.minhashAdmitTwsBootstrapped(in,
        StatefulOps.minhashBootstrapFrom(spark, mhRoot)))
      .map(p => (p.doc_a, p.doc_b)).toSet
    val mhConfirmed = mhCands.filter { case (a, b) =>
      sigMap(a).zip(sigMap(b)).count { case (x, y) => x == y } >=
        graft.functions.Sketches.NumMinHashes / 2
    }
    val mhExp = touching("q39_dedup_minhash_lsh", "doc_a", "doc_b")
    assert(mhExp.nonEmpty && mhConfirmed === mhExp,
      s"bootstrapped MinHash admission diverged from batch q290 truth: " +
        s"only-stream=${mhConfirmed -- mhExp}, only-batch=${mhExp -- mhConfirmed}")

    // --- embedding LSH: candidates + the exact cosine confirm; codes
    // come from the INSTALLED full-corpus width, as in q291 ---
    val lshRoot = java.nio.file.Files.createTempDirectory("boot_lsh").toString
    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    val bits = SimilarityQueries.codeBits(n)
    val e = DedupQueries.normVecs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, lshRoot, 1L,
      IndexLifecycle.LshPostings(sf), e.filter(col("vec_id") % 7 =!= 0),
      Seq(bits, DedupQueries.LshTables)))
    val lshBatch = DedupQueries.lshSigCodes(
        e.filter(col("vec_id") % 7 === 0), bits)
      .orderBy("vec_id").as[LshSig].collect().toSeq
    val vecs = e.select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val lshCands = runBootstrapped[LshSig, LshCandidate](
      "boot_lsh_q", lshBatch, 3)(in =>
      StatefulOps.lshAdmitTwsBootstrapped(in, bits,
        StatefulOps.lshBootstrapFrom(spark, lshRoot)))
      .map(p => (p.vec_a, p.vec_b)).toSet
    val lshConfirmed = lshCands.filter { case (a, b) =>
      val (va, vb) = (vecs(a), vecs(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(va.map(x => x * x).sum) *
        math.sqrt(vb.map(x => x * x).sum)) >= 0.35
    }
    val lshExp = SparkEntry.queries("q67_dedup_embedding_lsh")(spark, sf)
      .filter(col("vec_a") % 7 === 0 || col("vec_b") % 7 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshExp.nonEmpty && lshConfirmed === lshExp,
      s"bootstrapped LSH admission diverged from batch q291 truth: " +
        s"only-stream=${lshConfirmed -- lshExp}, only-batch=${lshExp -- lshConfirmed}")
  }

  test("cdc and span admitters bootstrap from their stored state — decisions equal the corpus-streamed run's") {
    import spark.implicits._
    import graft.operators.{DedupQueries, IndexLifecycle, MultimodalQueries}
    import graft.streaming.StatefulOps.{CdcCandidate, ChunkArrival,
      ChunkDecision, SpanDecision, WindowArrival}
    import org.apache.spark.sql.expressions.Window

    def lcgBytes(seed: Long, nb: Int): Array[Byte] = {
      var x = seed
      Array.fill(nb) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 33) & 0xff).toByte
      }
    }
    def chunkFrame(media: org.apache.spark.sql.DataFrame) = media
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.Sketches.cdcChunks(col("payload"),
          MultimodalQueries.CdcDivisor, DedupQueries.ShingleP))).as("cfp"))

    // docs 1,2,4 are stored; 3 (an insertion variant of 1/2) and 5 arrive
    val base = lcgBytes(7L, 4096)
    val ins = base.take(200) ++ lcgBytes(99L, 5) ++ base.drop(200)
    val media = Seq((1L, base), (2L, base.clone()), (3L, ins),
      (4L, lcgBytes(777L, 4096)), (5L, lcgBytes(888L, 4096)))
      .toDF("doc_id", "payload")
    val stored = media.filter(col("doc_id").isin(1L, 2L, 4L))
    val cdcRoot = java.nio.file.Files.createTempDirectory("boot_cdc").toString
    assert(IndexLifecycle.installPostings(spark, cdcRoot, 1L,
      IndexLifecycle.CdcPostings, stored, Seq(DedupQueries.MaxBucket)))
    val batchArr = chunkFrame(media.filter(col("doc_id").isin(3L, 5L)))
      .select(col("cfp"), col("doc_id")).as[ChunkArrival]
      .collect().sortBy(_.doc_id).toSeq

    // candidates: bootstrapped batch-only == batch q253 pairs touching 3/5
    val cands = runBootstrapped[ChunkArrival, CdcCandidate](
      "boot_cdc_q", batchArr, 3)(in =>
      StatefulOps.cdcCandidateTwsBootstrapped(in,
        StatefulOps.cdcFilersBootstrapFrom(spark, cdcRoot)))
      .map(p => (p.doc_a, p.doc_b)).toSet
    val manifests = chunkFrame(media)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("cfp")))
      .filter(col("df") <= DedupQueries.MaxBucket).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) =>
        d -> rs.map(_.getLong(1)).toSet }
    val confirmed = cands.filter { case (a, b) =>
      val sa = manifests.getOrElse(a, Set.empty[Long])
      val sb = manifests.getOrElse(b, Set.empty[Long])
      val m = math.min(sa.size, sb.size)
      m > 0 && 1000000L * sa.intersect(sb).size / m >= 500000L
    }
    val cdcExp = MultimodalQueries.cdcContainmentPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => Set(3L, 5L)(a) || Set(3L, 5L)(b) }.toSet
    assert(cdcExp.nonEmpty && confirmed === cdcExp,
      s"bootstrapped CDC admission diverged from batch q292 truth: " +
        s"only-stream=${confirmed -- cdcExp}, only-batch=${cdcExp -- confirmed}")

    // chunk-store admission: bootstrapped owners = stored min-doc rule;
    // a batch chunk is novel iff its fingerprint was never stored
    val decisions = runBootstrapped[ChunkArrival, ChunkDecision](
      "boot_chunk_q", batchArr, 3)(in =>
      StatefulOps.chunkAdmitTwsBootstrapped(in,
        StatefulOps.chunkOwnerBootstrapFrom(spark, cdcRoot)))
    val storedOwners = chunkFrame(stored).groupBy("cfp")
      .agg(min(col("doc_id")).as("o")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchMin = batchArr.groupBy(_.cfp)
      .map { case (c, as) => c -> as.map(_.doc_id).min }
    decisions.foreach { d =>
      storedOwners.get(d.cfp) match {
        case Some(o) =>
          assert(!d.novel && d.first_doc_id == o,
            s"stored fingerprint must keep its canonical owner: $d")
        case None =>
          assert(d.first_doc_id == batchMin(d.cfp) &&
            d.novel == (d.doc_id == batchMin(d.cfp) &&
              d.novel), s"unseen fingerprint must admit min-doc first: $d")
      }
    }
    assert(decisions.exists(_.novel) && decisions.exists(!_.novel),
      "the batch must exercise both novel and duplicate chunk decisions")

    // span: bootstrapped batch-only decisions == the corpus-streamed
    // run's decisions on the SAME batch slice (the checkpoint-equivalence
    // the bootstrap exists for)
    val keyRows = DedupQueries.windowKeysFor(Tables.documents(spark, sf))
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val storedWins = keyRows.filter(_._2 % 7 != 0)
    val batchWins = keyRows.filter(_._2 % 7 == 0)
      .map { case (wh, d, p) => WindowArrival(wh, d, p, 1) }.toSeq
    val bootDecisions = runBootstrapped[WindowArrival, SpanDecision](
      "boot_span_q", batchWins, 3)(in =>
      StatefulOps.spanAdmitTwsBootstrapped(in,
        StatefulOps.spanOwnersBootstrap(
          storedWins.toSeq.toDF("wh", "doc_id", "pos"))))
      .map(d => (d.doc_id, d.pos, d.dup)).toSet
    val fullStream = runBootstrapped[WindowArrival, SpanDecision](
      "full_span_q",
      storedWins.map { case (wh, d, p) => WindowArrival(wh, d, p, 0) }.toSeq
        ++ batchWins, 5)(in => StatefulOps.spanAdmitTws(in))
      .filter(_.epoch == 1).map(d => (d.doc_id, d.pos, d.dup)).toSet
    assert(bootDecisions.nonEmpty && bootDecisions === fullStream,
      s"bootstrapped span decisions diverged from the corpus-streamed " +
        s"run: only-boot=${bootDecisions -- fullStream}, " +
        s"only-full=${fullStream -- bootDecisions}")
  }

  test("composed ingest admission: streamed == batch composition row-for-row, chunking-invariant, restart and replay exactly-once") {
    import spark.implicits._
    import graft.operators.DedupQueries
    import graft.streaming.IngestPipeline

    val all = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    // plant one verbatim copy (doc 900001 = doc 1's text) so the
    // exact-dedup stage provably decides on this corpus
    val train = all.filter(col("doc_id") % 97 =!= 0)
      .unionByName(all.filter(col("doc_id") === 1L)
        .select(lit(900001L).as("doc_id"), col("lang"), col("text")))
    val evalW = DedupQueries.evalWindowHashes(
      all.filter(col("doc_id") % 97 === 0))

    // a budget that BINDS: 60% of the largest per-lang admitted token
    // mass under no budget pressure, so over_budget decisions exist
    val free = IngestPipeline.ingestAdmitBatch(spark, train, evalW,
      Long.MaxValue)
    val budget = free.filter(col("admitted"))
      .groupBy("lang").agg(sum("clean_tokens").as("n"))
      .agg(max("n")).head.getLong(0) * 6 / 10
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batchManifest = rows(
      IngestPipeline.ingestAdmitBatch(spark, train, evalW, budget))
    // every stage must actually decide something on this corpus
    Seq("exact_dup", "near_dup", "over_budget").foreach { c =>
      assert(batchManifest.nonEmpty &&
        IngestPipeline.ingestAdmitBatch(spark, train, evalW, budget)
          .filter(col(c)).limit(1).count() > 0,
        s"the corpus must exercise the $c stage")
    }

    val ordered = train.orderBy("doc_id").collect()
    def runStreamed(nChunks: Int): (String, Seq[Seq[Any]]) = {
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_ingest_$nChunks").toString
      val feed = s"$base/feed"; val ckpt = s"$base/ckpt"
      def drain(): Unit = {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val src = spark.readStream
            .schema("doc_id BIGINT, lang STRING, text STRING")
            .option("maxFilesPerTrigger", 1).parquet(feed)
          // snapEvery = 2: every run crosses admission-state snapshot
          // boundaries, so chunking-invariance and replay determinism
          // are proven THROUGH the snapshot + tail read path
          val q = IngestPipeline.ingestAdmit(src, evalW, budget, base, ckpt,
            snapEvery = 2)
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
      // chunks arrive as sequential doc_id ranges — the file's delivery
      // contract (cross-batch arrival order is the caller's)
      ordered.grouped(math.max(ordered.length / nChunks, 1)).foreach { c =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(c.toIndexedSeq, 1), train.schema)
          .coalesce(1).write.mode("append").parquet(feed)
        drain()
      }
      (base, rows(IngestPipeline.manifestOf(spark, base)))
    }

    val (base3, streamed3) = runStreamed(3)
    assert(streamed3 === batchManifest,
      "3-chunk streamed manifest must equal the batch composition " +
        "row-for-row")
    val (_, streamed7) = runStreamed(7)
    assert(streamed7 === batchManifest,
      "7-chunk streamed manifest must equal the batch composition " +
        "row-for-row")

    // restart with no new input: the commit log re-fires nothing
    val preRestart = rows(IngestPipeline.manifestOf(spark, base3))
    val src = spark.readStream
      .schema("doc_id BIGINT, lang STRING, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$base3/feed")
    val q = IngestPipeline.ingestAdmit(src, evalW, budget, base3,
      s"$base3/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(rows(IngestPipeline.manifestOf(spark, base3)) === preRestart,
      "a restarted drained ingest must decide nothing new")

    // REPLAY a committed epoch (the crash-between-write-and-commit race):
    // re-driving batch 1 against the ADVANCED pillar must rewrite
    // byte-identical decisions — the pinned store version, the
    // batch<id-filtered digest/budget state — and the pillar append must
    // replay as its anti-join no-op
    val vBefore = graft.operators.IndexLifecycle
      .latestVersion(s"$base3/pillar")
    val chunk1 = ordered.grouped(math.max(ordered.length / 3, 1)).toSeq(1)
    IngestPipeline.processBatch(spark,
      spark.createDataFrame(
        spark.sparkContext.parallelize(chunk1.toIndexedSeq, 1), train.schema),
      1L, evalW, budget, base3)
    assert(rows(IngestPipeline.manifestOf(spark, base3)) === preRestart,
      "a replayed committed epoch must rewrite identical decisions")
    assert(graft.operators.IndexLifecycle.latestVersion(s"$base3/pillar")
      === vBefore,
      "a replayed epoch's pillar append must be the anti-join no-op")

    // replay ACROSS a snapshot boundary: batch 2 (snapEvery=2 put a
    // committed snapshot at upto=2) re-derives its blocking state from
    // snapshot + tail and must still rewrite identical decisions
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$base3/snap/upto=2/digests/_SUCCESS")),
      "the snapshot cadence must have landed a committed upto=2 snapshot")
    val chunk2 = ordered.grouped(math.max(ordered.length / 3, 1)).toSeq(2)
    IngestPipeline.processBatch(spark,
      spark.createDataFrame(
        spark.sparkContext.parallelize(chunk2.toIndexedSeq, 1), train.schema),
      2L, evalW, budget, base3)
    assert(rows(IngestPipeline.manifestOf(spark, base3)) === preRestart,
      "a replay across the snapshot boundary must rewrite identical " +
        "decisions")

    // epoch-pin-aware retention: every committed epoch's pinned pillar
    // version must survive a keep=1 prune, or replay determinism dies
    val pins = IngestPipeline.ingestPinnedVersions(spark, base3)
    val latest = graft.operators.IndexLifecycle
      .latestVersion(s"$base3/pillar").get
    assert(pins.nonEmpty && pins.min < latest,
      s"the run must have pinned versions older than the head: " +
        s"$pins vs $latest")
    // advance the pillar once more so the prune has an UNPINNED,
    // non-head version to actually reclaim
    graft.operators.IndexLifecycle.appendPostings(spark, s"$base3/pillar",
      graft.operators.IndexLifecycle.SimhashPostings,
      Seq((999999L, 123L)).toDF("doc_id", "sim"))
    val (vDropped, _) = IngestPipeline.pruneIngestPillar(spark, base3,
      keep = 1)
    assert(vDropped >= 1,
      "the prune must reclaim the unpinned non-head version")
    pins.foreach { v =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"$base3/pillar/v=$v")),
        s"pinned version v=$v must survive the keep=1 prune")
    }
    IngestPipeline.processBatch(spark,
      spark.createDataFrame(
        spark.sparkContext.parallelize(chunk1.toIndexedSeq, 1), train.schema),
      1L, evalW, budget, base3)
    assert(rows(IngestPipeline.manifestOf(spark, base3)) === preRestart,
      "replay after a pin-respecting prune must still rewrite identical " +
        "decisions")
  }

  test("composed ingest with pluggable families and the span grain: streamed == batch row-for-row with every configured stage deciding") {
    import spark.implicits._
    import graft.operators.DedupQueries
    import graft.streaming.IngestPipeline
    import graft.streaming.IngestPipeline.IngestStages

    val stages = IngestStages(families = Seq("simhash", "minhash"),
      spanGrain = true)
    val all = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val evalW = DedupQueries.evalWindowHashes(
      all.filter(col("doc_id") % 97 === 0))
    val baseDocs = all.filter(col("doc_id") % 97 =!= 0 &&
      col("doc_id") <= 120)

    // pick two clean admitted source docs to build the plants from
    val free0 = IngestPipeline.ingestAdmitBatch(spark, baseDocs, evalW,
      Long.MaxValue, stages)
    val srcIds = free0
      .filter(col("admitted") && col("excised_tokens") === 0 &&
        col("span_excised") === 0 && col("n_tokens").between(40, 120))
      .orderBy("doc_id").limit(2).collect().map(_.getLong(0))
    assert(srcIds.length === 2, "need two clean admitted source docs")
    val Array(srcA, srcB) = srcIds
    def docRow(id: Long) = baseDocs.filter(col("doc_id") === id)
      .select("lang", "text").head
    val (langA, textA) = (docRow(srcA).getString(0), docRow(srcA).getString(1))
    val (langB, textB) = (docRow(srcB).getString(0), docRow(srcB).getString(1))
    val toksB = textB.toLowerCase.split(" ")
    // 910001: verbatim copy of srcA            -> exact-dedup stage
    // 910002: srcA with its last token swapped -> both near-dup families
    // 910003: srcB's first 12 tokens + a unique tail -> span grain
    //         excises the duplicated prefix, doc still admits
    val plants = Seq(
      (910001L, langA, textA),
      (910002L, langA,
        (textA.toLowerCase.split(" ").dropRight(1) :+ "zzplantedtail")
          .mkString(" ")),
      (910003L, langB,
        (toksB.take(12) ++ (0 until 40).map(i => s"zzq$i")).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val train = baseDocs.unionByName(plants)

    val free = IngestPipeline.ingestAdmitBatch(spark, train, evalW,
      Long.MaxValue, stages)
    val budget = free.filter(col("admitted"))
      .groupBy("lang")
      .agg(sum(col("clean_tokens") - col("span_excised")).as("n"))
      .agg(max("n")).head.getLong(0) * 6 / 10
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batchManifest = rows(
      IngestPipeline.ingestAdmitBatch(spark, train, evalW, budget, stages))

    // EVERY configured stage decides, with per-family reasons recorded
    // (plant verdicts read off the unlimited-budget run — the plants
    // arrive last, so the binding budget would shadow their stage)
    val m = free.collect().map(r => r.getLong(0) -> r).toMap
    assert(m(910001L).getAs[Boolean]("exact_dup"),
      "the verbatim plant must be an exact duplicate")
    assert(m(910002L).getAs[Boolean]("near_dup") &&
      m(910002L).getAs[String]("dup_families") === "minhash,simhash",
      s"the near-dup plant must be blocked by BOTH families: " +
        s"${m(910002L)}")
    assert(m(910003L).getAs[Boolean]("admitted") &&
      m(910003L).getAs[Long]("span_excised") === 12L,
      s"the span plant must admit with its 12-token prefix excised: " +
        s"${m(910003L)}")
    assert(batchManifest.nonEmpty &&
      IngestPipeline.ingestAdmitBatch(spark, train, evalW, budget, stages)
        .filter(col("over_budget")).limit(1).count() > 0,
      "the binding budget must reject something")
    assert(IngestPipeline.ingestAdmitBatch(spark, train, evalW, budget,
        stages).filter(col("excised_tokens") > 0).limit(1).count() > 0,
      "the corpus must exercise decontamination")

    val ordered = train.orderBy("doc_id").collect()
    def runStreamed(nChunks: Int): (String, Seq[Seq[Any]]) = {
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_ingest_fam_$nChunks").toString
      val feed = s"$base/feed"; val ckpt = s"$base/ckpt"
      def drain(): Unit = {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val src = spark.readStream
            .schema("doc_id BIGINT, lang STRING, text STRING")
            .option("maxFilesPerTrigger", 1).parquet(feed)
          val q = IngestPipeline.ingestAdmit(src, evalW, budget, base, ckpt,
            snapEvery = 2, stages = stages)
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
      ordered.grouped(math.max(ordered.length / nChunks, 1)).foreach { c =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(c.toIndexedSeq, 1), train.schema)
          .coalesce(1).write.mode("append").parquet(feed)
        drain()
      }
      (base, rows(IngestPipeline.manifestOf(spark, base)))
    }

    val (base3, streamed3) = runStreamed(3)
    assert(streamed3 === batchManifest,
      "3-chunk streamed manifest (all stages) must equal the batch " +
        "composition row-for-row")
    val (_, streamed7) = runStreamed(7)
    assert(streamed7 === batchManifest,
      "7-chunk streamed manifest (all stages) must equal the batch " +
        "composition row-for-row")

    // both family pillars advanced, and the span store landed
    assert(graft.operators.IndexLifecycle
      .latestVersion(s"$base3/pillar").get > 1L)
    assert(graft.operators.IndexLifecycle
      .latestVersion(s"$base3/pillarm").get > 1L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$base3/spans/batch=0/_SUCCESS")))

    // replay a committed epoch with all stages: identical decisions,
    // every family append the anti-join no-op
    val preReplay = rows(IngestPipeline.manifestOf(spark, base3))
    val vSim = graft.operators.IndexLifecycle
      .latestVersion(s"$base3/pillar")
    val vMin = graft.operators.IndexLifecycle
      .latestVersion(s"$base3/pillarm")
    val chunk1 = ordered.grouped(math.max(ordered.length / 3, 1)).toSeq(1)
    IngestPipeline.processBatch(spark,
      spark.createDataFrame(
        spark.sparkContext.parallelize(chunk1.toIndexedSeq, 1), train.schema),
      1L, evalW, budget, base3, stages = stages)
    assert(rows(IngestPipeline.manifestOf(spark, base3)) === preReplay,
      "a replayed committed epoch must rewrite identical decisions " +
        "under all stages")
    assert(graft.operators.IndexLifecycle
      .latestVersion(s"$base3/pillar") === vSim &&
      graft.operators.IndexLifecycle
        .latestVersion(s"$base3/pillarm") === vMin,
      "every family's replayed append must be the anti-join no-op")
  }

  test("ingest takedown: removed content re-admits; replayed epochs keep their pinned takedown horizon") {
    import spark.implicits._
    import graft.operators.DedupQueries
    import graft.streaming.IngestPipeline

    val all = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val evalW = DedupQueries.evalWindowHashes(
      all.filter(col("doc_id") % 97 === 0))
    val baseDocs = all.filter(col("doc_id") % 97 =!= 0 &&
      col("doc_id") <= 60)
    val x = baseDocs.filter(col("doc_id") === 1L)
    def copyOf(id: Long) =
      x.select(lit(id).as("doc_id"), col("lang"), col("text"))

    val base = java.nio.file.Files
      .createTempDirectory("graft_ingest_td").toString
    val feed = s"$base/feed"; val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = spark.readStream
          .schema("doc_id BIGINT, lang STRING, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(feed)
        val q = IngestPipeline.ingestAdmit(src, evalW, Long.MaxValue,
          base, ckpt)
        try q.processAllAvailable() finally q.stop()
      } finally spark.conf
        .unset("spark.sql.streaming.stateStore.providerClass")
    }
    def verdictOf(id: Long): (Boolean, Boolean, Boolean) = {
      val r = IngestPipeline.manifestOf(spark, base)
        .filter(col("doc_id") === id).head
      (r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"),
        r.getAs[Boolean]("admitted"))
    }

    // wave 0: the corpus, doc 1 admitted; wave 1: a verbatim copy of
    // doc 1 is rejected as an exact duplicate
    baseDocs.coalesce(1).write.mode("append").parquet(feed)
    drain()
    assert(verdictOf(1L) === ((false, false, true)))
    copyOf(900001L).coalesce(1).write.mode("append").parquet(feed)
    drain()
    val wave1 = verdictOf(900001L)
    assert(wave1 === ((true, true, false)),
      s"a verbatim copy of admitted content must be rejected: $wave1")

    // takedown doc 1: pillar survivor commit + digest tombstone
    val vBefore = graft.operators.IndexLifecycle
      .latestVersion(s"$base/pillar").get
    assert(IngestPipeline.ingestTakedown(spark, base,
      Seq(1L).toDF("doc_id")) === 1L)
    assert(graft.operators.IndexLifecycle
      .latestVersion(s"$base/pillar").get === vBefore + 1)

    // wave 2: re-offered verbatim copy of the REMOVED content admits —
    // neither the tombstoned digest nor the taken-down postings block it
    copyOf(900002L).coalesce(1).write.mode("append").parquet(feed)
    drain()
    assert(verdictOf(900002L) === ((false, false, true)),
      s"removed content re-offered must be admittable: ${verdictOf(900002L)}")

    // replaying wave 1's committed epoch still rejects the first copy —
    // its pinned takedown horizon (seq 0) and pillar version predate the
    // takedown, so history does not rewrite
    IngestPipeline.processBatch(spark, copyOf(900001L).toDF(), 1L, evalW,
      Long.MaxValue, base)
    assert(verdictOf(900001L) === ((true, true, false)),
      "a replayed pre-takedown epoch must keep its original decisions")
  }

  test("ingest crash recovery: a footer-less pin directory rewrites instead of wedging; a replayed append never resurrects taken-down docs") {
    import spark.implicits._
    import graft.operators.{DedupQueries, IndexLifecycle}
    import graft.streaming.IngestPipeline

    val all = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val evalW = DedupQueries.evalWindowHashes(
      all.filter(col("doc_id") % 97 === 0))
    val docs0 = all.filter(col("doc_id") % 97 =!= 0 && col("doc_id") <= 40)
    val base = java.nio.file.Files
      .createTempDirectory("graft_ingest_crash").toString

    IngestPipeline.processBatch(spark, docs0.toDF(), 0L, evalW,
      Long.MaxValue, base)
    assert(IngestPipeline.manifestOf(spark, base)
      .filter(col("doc_id") === 1L && col("admitted")).count() === 1L)

    // CRASH SIMULATION 1: batch 1's pin write died inside its staged
    // attempt (no _SUCCESS, no footers), where a crashed publish leaves
    // it. The replay must treat the pin as absent and write it — not
    // throw on .head.
    val wedge = java.nio.file.Paths.get(s"$base/pillarv/batch=1")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/pillarv/.staging-batch=1/killed-attempt"))
    val docs1 = all.filter(col("doc_id") % 97 =!= 0 &&
      col("doc_id") > 40 && col("doc_id") <= 60)
    IngestPipeline.processBatch(spark, docs1.toDF(), 1L, evalW,
      Long.MaxValue, base)
    assert(java.nio.file.Files.exists(wedge.resolve("_SUCCESS")),
      "the recovered pin must commit with its _SUCCESS marker")
    assert(IngestPipeline.manifestOf(spark, base)
      .filter(col("doc_id").isin(docs1.select("doc_id").collect()
        .map(_.getLong(0)).toSeq: _*)).count() === docs1.count(),
      "the recovered batch must land its full manifest")

    // CRASH SIMULATION 2: batch 1 committed its append, a takedown of
    // one of its admitted docs lands, THEN batch 1 replays (the
    // crash-between-append-and-checkpoint window). The replayed append
    // must not resurrect the deleted doc: the takedown removed it from
    // the pillar, so the plain anti-join would see it as fresh.
    val victim = docs1.select("doc_id").orderBy("doc_id").head.getLong(0)
    IngestPipeline.ingestTakedown(spark, base, Seq(victim).toDF("doc_id"))
    val vAfterTd = IndexLifecycle.latestVersion(s"$base/pillar").get
    def storedHas(id: Long): Boolean =
      IndexLifecycle.readPostings(spark, s"$base/pillar",
        IndexLifecycle.SimhashPostings.layout)("sigs")
        .filter(col("doc_id") === id).count() > 0
    assert(!storedHas(victim), "the takedown must remove the victim")
    IngestPipeline.processBatch(spark, docs1.toDF(), 1L, evalW,
      Long.MaxValue, base)
    assert(IndexLifecycle.latestVersion(s"$base/pillar").get === vAfterTd,
      "the replayed epoch's masked append must be a version no-op")
    assert(!storedHas(victim),
      "a replayed append must never resurrect a taken-down doc")
  }

  test("ingest listings skip stray names: a batch=old directory does not stop the next batch") {
    import graft.operators.DedupQueries
    import graft.streaming.IngestPipeline

    val all = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val evalW = DedupQueries.evalWindowHashes(
      all.filter(col("doc_id") % 97 === 0))
    val docs0 = all.filter(col("doc_id") % 97 =!= 0 && col("doc_id") <= 40)
    val docs1 = all.filter(col("doc_id") % 97 =!= 0 &&
      col("doc_id") > 40 && col("doc_id") <= 60)
    val base = java.nio.file.Files
      .createTempDirectory("graft_ingest_stray").toString
    IngestPipeline.processBatch(spark, docs0.toDF(), 0L, evalW,
      Long.MaxValue, base)
    // a hand-made backup or a foreign tool's directory next to the
    // numbered ones, in each listing the next batch reads
    Seq("manifest/batch=old", "snap/upto=old", "takedowns/seq=old")
      .foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base, d)))
    IngestPipeline.processBatch(spark, docs1.toDF(), 1L, evalW,
      Long.MaxValue, base)
    assert(IngestPipeline.manifestOf(spark, base).count() ===
      docs0.count() + docs1.count(),
      "both batches must land their full manifests")
  }

  test("contamination monitor bootstraps from the batch audit's span frame — later hits merge into the pre-filed ledger") {
    import spark.implicits._
    import graft.operators.DedupQueries
    import graft.streaming.StatefulOps.{ContamReading, EvalHit}

    def lowered(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), lower(col("text")).as("text"))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val evalW = DedupQueries.windowKeysFor(
        lowered(docs.filter(col("doc_id") % 97 === 0)))
      .select("wh").distinct()
    val hits = DedupQueries.windowKeysFor(
        lowered(docs.filter(col("doc_id") % 97 =!= 0)))
      .join(broadcast(evalW), "wh")
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(hits.nonEmpty, "the corpus must have eval overlap")

    // the PRIOR state: every even-position hit, merged by the batch
    // machinery (as if those hits streamed before the checkpoint loss);
    // the stream then delivers only the odd-position remainder
    val pre = hits.filter(_._2 % 2 == 0)
    val post = hits.filter(_._2 % 2 == 1)
    assert(pre.nonEmpty && post.nonEmpty)
    val preSpans = DedupQueries.mergedSpans(pre.toDF("doc_id", "i"))
    val streamed = runBootstrapped[EvalHit, ContamReading]("contam_boot",
      post.map { case (d, p) => EvalHit(d, p, 1) }, 3)(in =>
      StatefulOps.contaminationRunTwsBootstrapped(in,
        StatefulOps.contamBootstrap(preSpans)))
      .groupBy(_.doc_id)
      .map { case (d, rs) => d -> rs.last }
      .map { case (d, r) => (d, r.n_runs, r.max_run_tokens,
        r.covered_tokens) }.toSet

    // the batch truth over ALL hits, restricted to docs the stream
    // actually touched (a doc whose hits were all pre-filed emits no
    // reading — its ledger sits silently, exactly a checkpointed run)
    val touched = post.map(_._1).toSet
    val batch = SparkEntry.queries("q278_contamination_runs")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(t => touched(t._1)).toSet
    assert(streamed === batch,
      s"bootstrapped monitor readings must equal the batch audit: " +
        s"only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
  }
}
