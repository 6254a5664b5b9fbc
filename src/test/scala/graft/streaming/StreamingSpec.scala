package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

case class Ev(event_id: Long, user_id: Long, event_type: String,
  value: Double, ts: Timestamp)
case class Ord(order_id: Long, o_ts: Timestamp, total: Long)
case class Det(d_order_id: Long, d_ts: Timestamp, amount: Long)
case class Li(ship_ts: Timestamp, sku_id: Long, order_id: Long,
  amount_cents: Long)
case class AL(lid: Long, lk: Long, lts: Timestamp)
case class AR(rk: Long, rts: Timestamp, pay: Long)
case class OvL(ol_id: Long, ol_lo: Timestamp, ol_hi: Timestamp)
case class OvR(or_id: Long, or_lo: Timestamp, or_hi: Timestamp)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private val fixture = Seq(
    Ev(1, 1, "view", 1.0, t("2021-03-21 10:00:01")),
    Ev(2, 1, "view", 2.0, t("2021-03-21 10:00:03")),   // same session as 1
    Ev(3, 1, "view", 1.0, t("2021-03-21 12:00:00")),   // lone → bounce
    Ev(4, 2, "click", 4.0, t("2021-03-21 10:00:05")),  // lone → bounce
    Ev(5, 1, "view", 1.0, t("2021-03-22 09:00:00")))   // next day

  // far-future sentinel so the watermark passes every real session
  private val sentinel = Ev(99, 999, "view", 0.0, t("2021-04-01 00:00:00"))

  test("streaming UV dedup emits the same (mid, day) set as batch") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.uvDedup(src.toDF())
      .writeStream.format("memory").queryName("uv_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("uv_out")
      .select(col("mid"), col("dt").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "2021-03-21"), (2L, "2021-03-21"),
      (1L, "2021-03-22")))
  }

  test("streaming tumble agg matches batch totals after watermark close") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.visitorTumble(src.toDF())
      .writeStream.format("memory").queryName("vt_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    src.addData(sentinel)               // advance the watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vt_out")
    // events 1+2 share the 10:00:00 window for (ar=1, ch=view)
    val w1 = got.filter(col("ar") === 1 && col("ch") === "view" &&
      col("stt") === t("2021-03-21 10:00:00"))
      .select("pv_ct").as[Long].collect()
    assert(w1.toSeq == Seq(2L))
    assert(got.agg(sum("pv_ct")).as[Long].head() == fixture.size)
  }

  test("file-source events stream: UV dedup set matches the batch operator") {
    val q = StreamJobs.uvDedup(StreamJobs.eventsStream(spark, Sf))
      .writeStream.format("memory").queryName("uv_file_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("uv_file_out")
      .select(col("mid"), col("dt").cast("string"))
      .as[(Long, String)].collect().toSet
    val batch = graft.dwm.UniqueVisit(spark, Sf)
      .select(col("mid"), col("dt")).as[(Long, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming product tumble matches the batch aggregate after close") {
    implicit val sc = spark.sqlContext
    val lis = Seq(
      Li(t("2021-03-21 10:00:01"), 7, 100, 500L),
      Li(t("2021-03-21 10:00:04"), 7, 100, 300L),  // same window+sku+order
      Li(t("2021-03-21 10:00:09"), 7, 101, 200L),  // same window, 2nd order
      Li(t("2021-03-21 10:00:12"), 7, 102, 100L),  // next window
      Li(t("2021-03-21 10:00:03"), 9, 103, 900L),  // other sku
      Li(t("2021-04-01 00:00:00"), 0, 0, 0L))      // sentinel closes windows
    val src = MemoryStream[Li]
    val q = StreamJobs.productTumble(src.toDF())
      .writeStream.format("memory").queryName("ps_out")
      .outputMode("append").start()
    src.addData(lis: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ps_out")
      .filter(col("sku_id") =!= 0)
      .as[(Timestamp, Long, Long, Long, Long)].collect().toSet
    val batch = StreamJobs.productTumble(lis.toDF())
      .filter(col("sku_id") =!= 0)
      .as[(Timestamp, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    val w7 = streamed.find(r =>
      r._1 == t("2021-03-21 10:00:00") && r._2 == 7L).get
    assert(w7._3 == 3L && w7._4 == 2L && w7._5 == 1000L)
  }

  test("stream-stream interval join matches batch and excludes out-of-bound rows") {
    implicit val sc = spark.sqlContext
    val orders = Seq(
      Ord(10, t("2021-03-21 10:00:00"), 500L),
      Ord(20, t("2021-03-21 11:00:00"), 700L))
    val details = Seq(
      Det(10, t("2021-03-21 10:10:00"), 100L), // in [-30m, +30m]
      Det(10, t("2021-03-21 09:40:00"), 150L), // in (earlier side)
      Det(10, t("2021-03-21 12:00:00"), 999L), // OUT: +2h
      Det(20, t("2021-03-21 11:29:00"), 300L), // in
      Det(30, t("2021-03-21 11:00:00"), 400L)) // no matching order
    val oSrc = MemoryStream[Ord]
    val dSrc = MemoryStream[Det]
    val q = StreamJobs.intervalJoin(oSrc.toDF(), dSrc.toDF(),
        "order_id", "d_order_id", "o_ts", "d_ts", "30 minutes")
      .select(col("order_id"), col("amount"))
      .writeStream.format("memory").queryName("ivj_out")
      .outputMode("append").start()
    oSrc.addData(orders: _*)
    dSrc.addData(details: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ivj_out")
      .as[(Long, Long)].collect().toSet
    // the SAME transform body in batch mode (unified API)
    val batch = StreamJobs.intervalJoin(orders.toDF(), details.toDF(),
        "order_id", "d_order_id", "o_ts", "d_ts", "30 minutes")
      .select(col("order_id"), col("amount"))
      .as[(Long, Long)].collect().toSet
    assert(streamed == Set((10L, 100L), (10L, 150L), (20L, 300L)))
    assert(streamed == batch)
  }

  test("stream-stream interval join state stays bounded by the window " +
      "plus delay, then falls to the sentinel residue") {
    // J2's back-looking shape (a payment follows its order by at most
    // the window): orders at 2 Hz, each payment `off` < window later,
    // each side fed in its own event-time order. Join state is the
    // watermark horizon — orders buffer window + delay, payments the
    // delay — so it must plateau while events keep flowing, never
    // grow with the total ingested
    implicit val sc = spark.sqlContext
    val (n, nBatches, stepMs) = (1600, 8, 500L)
    val (windowS, delayS) = (30L, 10L)
    val base = t("2021-03-21 10:00:00").getTime
    val orders = (0 until n).map(i =>
      Ord(i, new Timestamp(base + i * stepMs), i.toLong))
    val payments = (0 until n).map { i =>
      val off = (i % 50) * stepMs // < window: every payment joins
      Det(i, new Timestamp(base + i * stepMs + off), i.toLong)
    }.sortBy(_.d_ts.getTime)
    val per = n / nBatches
    val pSrc = MemoryStream[Det]
    val oSrc = MemoryStream[Ord]
    def join(p: org.apache.spark.sql.DataFrame,
             o: org.apache.spark.sql.DataFrame) =
      StreamJobs.intervalJoinBounds(p, o, "d_order_id", "order_id",
          "d_ts", "o_ts", lo = s"$windowS seconds", hi = "0 seconds",
          delay = s"$delayS seconds")
        .select(col("order_id"), col("amount"))
    val q = join(pSrc.toDF(), oSrc.toDF())
      .writeStream.format("memory").queryName("ivj_bounded")
      .outputMode("append").start()
    def stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    val states = (0 until nBatches).map { b =>
      pSrc.addData(payments.slice(b * per, (b + 1) * per): _*)
      oSrc.addData(orders.slice(b * per, (b + 1) * per): _*)
      q.processAllAvailable()
      stateRows
    }
    // far-future sentinels on disjoint keys close both watermarks
    val far = t("2021-04-01 00:00:00")
    pSrc.addData(Det(-1, far, -1L))
    oSrc.addData(Ord(-2, far, -2L))
    q.processAllAvailable()
    val finalState = stateRows
    q.stop()
    // one batch plus the horizon, per side — independent of n
    val horizonRows = 2 * (per + (windowS + delayS) * 1000 / stepMs)
    assert(states.max <= horizonRows,
      s"join state grew past the watermark horizon ($horizonRows rows): " +
        states.mkString(", "))
    // each batch spans 100 s > window + delay, so the second batch is
    // already past the horizon: from there on, flat
    assert(states.drop(1).max <= states(1) * 13 / 10,
      s"join state kept growing with events: ${states.mkString(", ")}")
    assert(finalState <= 2,
      s"sentinel flush left $finalState buffered rows besides the sentinels")
    val streamed = spark.table("ivj_bounded").filter(col("order_id") >= 0)
      .as[(Long, Long)].collect()
    assert(streamed.length === n)
    assert(streamed.toSet === join(payments.toDF(), orders.toDF())
      .as[(Long, Long)].collect().toSet)
  }

  test("streaming as-of join matches the batch composition, state-final") {
    implicit val sc = spark.sqlContext
    val rights = Seq(
      AR(1, t("2021-03-21 10:00:00"), 100L),
      AR(1, t("2021-03-21 10:00:10"), 200L),
      AR(3, t("2021-03-21 10:00:01"), 900L)) // right-only key: no output
    val lefts = Seq(
      AL(1, 1, t("2021-03-21 09:59:59")), // before any right -> null
      AL(2, 1, t("2021-03-21 10:00:00")), // tie -> 100
      AL(3, 1, t("2021-03-21 10:00:05")), // -> 100
      AL(4, 1, t("2021-03-21 10:00:10")), // tie with later right -> 200
      AL(5, 1, t("2021-03-21 10:00:30")), // -> 200 (latest persists)
      AL(6, 2, t("2021-03-21 10:00:07"))) // key with no rights -> null
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay")
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    // rights land a batch BEFORE the lefts (cross-batch state), then a
    // far-future sentinel on each side advances the watermark past
    // every real row so all pending lefts become final
    rSrc.addData(rights: _*)
    q.processAllAvailable()
    lSrc.addData(lefts: _*)
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_out")
      .filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    assert(got === Map(1L -> None, 2L -> Some(100L), 3L -> Some(100L),
      4L -> Some(200L), 5L -> Some(200L), 6L -> None))
    // parity with the batch composition on the same rows (ms domain)
    val batch = graft.operators.AsOf.asOf(
        lefts.toDF().select(col("lid"), col("lk"),
          unix_millis(col("lts")).as("lms")),
        rights.toDF().select(col("rk"),
          unix_millis(col("rts")).as("rms"), col("pay")),
        "lk", "rk", "lms", "rms", Seq("pay"))
      .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
    assert(got === batch)
  }

  test("streaming as-of join tolerates in-delay disorder across batches") {
    // the contract bounds out-of-orderness by the watermark delay, not
    // by batch boundaries: a later micro-batch may carry EARLIER event
    // times as long as they are not late — the buffers are unordered
    // by construction, so arrival order must not change one answer
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay")
      .writeStream.format("memory").queryName("asof_dis")
      .outputMode("append").start()
    // batch 1 carries the NEWER rows, batch 2 back-fills older ones
    // (all within the 1-minute default delay of the max seen)
    lSrc.addData(AL(1, 1, t("2021-03-21 10:00:30")))
    rSrc.addData(AR(1, t("2021-03-21 10:00:25"), 250L))
    q.processAllAvailable()
    lSrc.addData(AL(2, 1, t("2021-03-21 10:00:05")))   // older left
    rSrc.addData(AR(1, t("2021-03-21 10:00:02"), 20L)) // older right
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_dis").filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    // left 1 (t=30) sees the t=25 right; left 2 (t=05) must see the
    // BACK-FILLED t=02 right even though it arrived a batch later
    assert(got === Map(1L -> Some(250L), 2L -> Some(20L)))
  }

  test("streaming forward as-of: earliest right within tolerance, " +
      "batch parity, cross-batch disorder") {
    implicit val sc = spark.sqlContext
    val tol = 30000L
    val rights = Seq(
      AR(1, t("2021-03-21 10:00:10"), 100L),
      AR(1, t("2021-03-21 10:00:20"), 200L),
      AR(3, t("2021-03-21 10:00:01"), 900L)) // right-only key: no output
    val lefts = Seq(
      AL(1, 1, t("2021-03-21 10:00:05")), // earliest at-or-after -> 100
      AL(2, 1, t("2021-03-21 10:00:10")), // tie -> 100
      AL(3, 1, t("2021-03-21 10:00:15")), // -> 200
      AL(4, 1, t("2021-03-21 10:00:21")), // nothing within 30 s -> null
      AL(5, 2, t("2021-03-21 10:00:07"))) // key with no rights -> null
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfNext(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay", tol)
      .writeStream.format("memory").queryName("asof_fwd")
      .outputMode("append").start()
    // lefts land a batch BEFORE the rights they await (cross-batch
    // state), then sentinels finalize everything
    lSrc.addData(lefts: _*)
    q.processAllAvailable()
    rSrc.addData(rights: _*)
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    // the no-residue claim: every real key (1, 2, 3) is fully evicted
    // once flushed — only the two sentinel keys (pending left 999,
    // ahead-of-watermark right 998) may remain in the state store
    assert(q.lastProgress.stateOperators.head.numRowsTotal === 2L,
      s"forward as-of must keep no dimension residue: ${q.lastProgress}")
    q.stop()
    val got = spark.table("asof_fwd")
      .filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(100L),
      3L -> Some(200L), 4L -> None, 5L -> None))
    // parity with the batch directional operator on the same rows
    val batch = graft.operators.AsOf.asOfDirection(
        lefts.toDF().select(col("lid"), col("lk"),
          unix_millis(col("lts")).as("lms")),
        rights.toDF().select(col("rk"),
          unix_millis(col("rts")).as("rms"), col("pay")),
        "lk", "rk", "lms", "rms", Seq("pay"), "forward", tol)
      .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
    assert(got === batch)
  }

  test("streaming nearest as-of: min distance within tolerance, backward " +
      "ties, batch parity, no residue") {
    implicit val sc = spark.sqlContext
    val tol = 10000L
    val rights = Seq(
      AR(1, t("2021-03-21 10:00:10"), 100L),
      AR(1, t("2021-03-21 10:00:30"), 300L),
      AR(3, t("2021-03-21 10:00:01"), 900L)) // right-only key: no output
    val lefts = Seq(
      AL(1, 1, t("2021-03-21 10:00:05")), // only forward in window -> 100
      AL(2, 1, t("2021-03-21 10:00:12")), // back d=2 beats fwd d=18>tol -> 100
      AL(3, 1, t("2021-03-21 10:00:20")), // EXACT distance tie 10/10 -> backward 100
      AL(4, 1, t("2021-03-21 10:00:21")), // fwd d=9 beats back d=11>tol -> 300
      AL(5, 1, t("2021-03-21 10:00:45")), // nothing within 10 s -> null
      AL(6, 2, t("2021-03-21 10:00:07"))) // key with no rights -> null
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val q = StreamJobs.asOfNearest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay", tol)
      .writeStream.format("memory").queryName("asof_near")
      .outputMode("append").start()
    // lefts land a batch BEFORE the rights (cross-batch state: the
    // backward candidates of several lefts arrive later, in event-time
    // order within the delay), then sentinels finalize everything
    lSrc.addData(lefts: _*)
    q.processAllAvailable()
    rSrc.addData(rights: _*)
    q.processAllAvailable()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q.processAllAvailable()
    // no residue: every real key (1, 2, 3) fully evicts once the
    // watermark passes its 2·tol horizon — only the sentinel keys stay
    assert(q.lastProgress.stateOperators.head.numRowsTotal === 2L,
      s"nearest as-of must keep no residue: ${q.lastProgress}")
    q.stop()
    val got = spark.table("asof_near")
      .filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect().toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(100L),
      3L -> Some(100L), 4L -> Some(300L), 5L -> None, 6L -> None))
    // parity with the batch directional operator on the same rows
    val batch = graft.operators.AsOf.asOfDirection(
        lefts.toDF().select(col("lid"), col("lk"),
          unix_millis(col("lts")).as("lms")),
        rights.toDF().select(col("rk"),
          unix_millis(col("rts")).as("rms"), col("pay")),
        "lk", "rk", "lms", "rms", Seq("pay"), "nearest", tol)
      .select("lid", "pay").as[(Long, Option[Long])].collect().toMap
    assert(got === batch)
  }

  test("streaming as-of join: idle-key TTL evicts the dimension residue; " +
      "default keeps it forever") {
    implicit val sc = spark.sqlContext
    // same event script under both knobs; only the TTL differs
    def run(name: String, ttlMs: Long): Map[Long, Option[Long]] = {
      val lSrc = MemoryStream[AL]
      val rSrc = MemoryStream[AR]
      val q = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
          "lk", "rk", "lts", "rts", "lid", "pay", idleTtlMs = ttlMs)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      rSrc.addData(AR(1, t("2021-03-21 10:00:00"), 100L))
      lSrc.addData(AL(1, 1, t("2021-03-21 10:00:05")))
      q.processAllAvailable()
      // watermark to 10:01:00: the FLUSH timer fires, left 1
      // finalizes (-> 100), key 1 drops to the residue right; with
      // TTL=60s the idle clock arms at 10:02
      lSrc.addData(AL(97, 999, t("2021-03-21 10:02:00")))
      rSrc.addData(AR(997, t("2021-03-21 10:02:00"), 0L))
      q.processAllAvailable()
      // a left RETURNING WITHIN the TTL (10:01:30 < 10:01 + 60s) must
      // still see the residue — this is exactly the row that catches
      // an eviction keyed off the flush timer instead of the idle one
      lSrc.addData(AL(2, 1, t("2021-03-21 10:01:30")))
      q.processAllAvailable()
      // watermark to 10:19:00: left 2 flushes (-> 100) and the idle
      // clock re-arms at 10:20
      lSrc.addData(AL(98, 999, t("2021-03-21 10:20:00")))
      rSrc.addData(AR(998, t("2021-03-21 10:20:00"), 0L))
      q.processAllAvailable()
      // watermark to 10:25:00, past the re-armed idle deadline: the
      // TTL branch (and only it) forgets key 1's residue
      lSrc.addData(AL(100, 999, t("2021-03-21 10:26:00")))
      rSrc.addData(AR(995, t("2021-03-21 10:26:00"), 0L))
      q.processAllAvailable()
      // a fresh (not-late) left on key 1 after the quiet stretch
      lSrc.addData(AL(3, 1, t("2021-03-21 10:25:30")))
      q.processAllAvailable()
      lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
      rSrc.addData(AR(996, t("2021-04-01 00:00:00"), 0L))
      q.processAllAvailable()
      q.stop()
      spark.table(name).filter(col("left_id") < 97)
        .select("left_id", "payload").as[(Long, Option[Long])]
        .collect().toMap
    }
    // default: the residue is kept forever — the late-returning key
    // still sees its dimension payload
    assert(run("asof_nottl", 0L) ===
      Map(1L -> Some(100L), 2L -> Some(100L), 3L -> Some(100L)))
    // TTL on: the within-TTL return still matches; only the key idle
    // past the TTL loses its residue — the documented trade-off for
    // rotating key domains
    assert(run("asof_ttl", 60000L) ===
      Map(1L -> Some(100L), 2L -> Some(100L), 3L -> None))
  }

  test("streaming as-of join: restart from checkpoint keeps state and " +
      "emits each answer exactly once") {
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[AL]
    val rSrc = MemoryStream[AR]
    val outDir = graft.func.TempDirs.scoped("asof-rst-out")
    val ckDir = graft.func.TempDirs.scoped("asof-rst-ck")
    def start() = StreamJobs.asOfLatest(lSrc.toDF(), rSrc.toDF(),
        "lk", "rk", "lts", "rts", "lid", "pay")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckDir)
      .outputMode("append").start()

    // incarnation 1: rights + some lefts, all still PENDING in state
    // (watermark hasn't passed them) when the query stops
    val q1 = start()
    rSrc.addData(AR(1, t("2021-03-21 10:00:00"), 100L),
      AR(1, t("2021-03-21 10:00:10"), 200L))
    lSrc.addData(AL(1, 1, t("2021-03-21 10:00:05")),
      AL(2, 1, t("2021-03-21 10:00:20")))
    q1.processAllAvailable()
    q1.stop()

    // arrives while the query is down
    lSrc.addData(AL(3, 1, t("2021-03-21 10:00:40")))

    // incarnation 2: same checkpoint — buffered lefts/rights must be
    // RESTORED from the state store, then the sentinel finalizes all
    val q2 = start()
    lSrc.addData(AL(99, 999, t("2021-04-01 00:00:00")))
    rSrc.addData(AR(998, t("2021-04-01 00:00:00"), 0L))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).filter(col("left_id") < 99)
      .select("left_id", "payload").as[(Long, Option[Long])]
      .collect()
    assert(got.length === got.map(_._1).distinct.length,
      s"restart re-emitted an answer: ${got.toSeq}")
    assert(got.toMap === Map(1L -> Some(100L), 2L -> Some(200L),
      3L -> Some(200L)),
      "state (incl. the pre-restart rights) must survive the restart")
  }

  test("stream-static range join: same operator body, batch parity") {
    // the bucket device is side-agnostic: a streaming point source
    // against a static interval table is a plain stream-static
    // equi-join on the bucket id — no watermark, no state store
    implicit val sc = spark.sqlContext
    val intervals = Seq((1L, 0L, 10L), (2L, 1000L, 2000L), (3L, 5L, 5L))
      .toDF("id", "lo", "hi")
    val pts = Seq(0L, 5L, 1024L, 2000L, 9999L)
    val src = MemoryStream[Long]
    val q = graft.operators.RangeJoin.pointInInterval(
        src.toDF().withColumnRenamed("value", "p"), intervals,
        "p", "lo", "hi")
      .select("id", "p")
      .writeStream.format("memory").queryName("rj_out")
      .outputMode("append").start()
    src.addData(pts: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("rj_out").as[(Long, Long)].collect().toSet
    val batch = graft.operators.RangeJoin.pointInInterval(
        pts.toDF("p"), intervals, "p", "lo", "hi")
      .select("id", "p").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed === Set((1L, 0L), (1L, 5L), (3L, 5L),
      (2L, 1024L), (2L, 2000L)))
  }

  test("stream-static interval overlap: same operator body, batch parity") {
    // both sides explode, but only the STREAM side's explode is
    // unbounded — against a static interval table the responsibility
    // dedup still needs no state store, it is a per-row predicate on
    // the equi-joined bucket
    implicit val sc = spark.sqlContext
    val statics = Seq((1L, 0L, 10L), (2L, 1000L, 3000L), (3L, 5000L, 5000L))
      .toDF("s_id", "lo_s", "hi_s")
    val live = Seq((10L, 5L, 1200L), (11L, 2500L, 6000L), (12L, 20L, 30L))
    val src = MemoryStream[(Long, Long, Long)]
    val q = graft.operators.RangeJoin.intervalOverlap(
        src.toDF().toDF("l_id", "lo_l", "hi_l"), statics,
        "lo_l", "hi_l", "lo_s", "hi_s")
      .select("l_id", "s_id")
      .writeStream.format("memory").queryName("ovl_out")
      .outputMode("append").start()
    src.addData(live: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ovl_out").as[(Long, Long)].collect()
    assert(streamed.length === streamed.distinct.length,
      "responsibility dedup must hold stream-static")
    val batch = graft.operators.RangeJoin.intervalOverlap(
        live.toDF("l_id", "lo_l", "hi_l"), statics,
        "lo_l", "hi_l", "lo_s", "hi_s")
      .select("l_id", "s_id").as[(Long, Long)].collect().toSet
    assert(streamed.toSet === batch)
    assert(streamed.toSet === Set((10L, 1L), (10L, 2L), (11L, 2L),
      (11L, 3L)))
  }

  test("stream-stream interval overlap: exactly-once across shared " +
      "buckets, cross-batch state, watermark flush") {
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    // 10 s buckets (10:00:00 UTC epoch-ms is bucket-aligned), 15 s max span
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L)
      .writeStream.format("memory").queryName("ovs_out")
      .outputMode("append").start()
    // A and B share TWO buckets (both cover :00 and :10) — the
    // responsibility rule must emit their pair exactly once
    lSrc.addData(OvL(1, t("2021-03-21 10:00:01"), t("2021-03-21 10:00:12")))
    rSrc.addData(OvR(1, t("2021-03-21 10:00:02"), t("2021-03-21 10:00:17")))
    q.processAllAvailable()
    // cross-batch: D arrives a batch after B and must still meet it
    lSrc.addData(OvL(2, t("2021-03-21 10:00:15"), t("2021-03-21 10:00:16")))
    rSrc.addData(OvR(2, t("2021-03-21 10:00:30"), t("2021-03-21 10:00:31")))
    q.processAllAvailable()
    // far-future sentinels push the watermark past every real row:
    // all real state must prune to the wm − maxSpan horizon
    lSrc.addData(OvL(99, t("2021-04-01 00:00:00"), t("2021-04-01 00:00:00")))
    rSrc.addData(OvR(98, t("2021-04-01 00:00:00"), t("2021-04-01 00:00:00")))
    q.processAllAvailable()
    val finalState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val got = spark.table("ovs_out").filter(col("l_id") < 90)
      .as[(Long, Long)].collect()
    assert(got.length === got.distinct.length,
      "a pair meeting in two buckets must emit once")
    assert(got.toSet === Set((1L, 1L), (2L, 1L)))
    assert(finalState <= 2,
      s"only the sentinels may remain buffered, got $finalState rows")
  }

  test("stream-stream interval overlap: randomized batch parity, " +
      "width-independent") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(42)
    val base = t("2021-03-21 10:00:00").getTime
    def gen(n: Int) = (0 until n).map { i =>
      val lo = base + rnd.nextInt(120000)
      (i.toLong, lo, lo + rnd.nextInt(15000))
    }
    val ls = gen(150).sortBy(_._3)
    val rs = gen(150).map { case (i, lo, hi) => (i + 1000L, lo, hi) }
      .sortBy(_._3)
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L)
      .writeStream.format("memory").queryName("ovs_rand")
      .outputMode("append").start()
    // each side in its own event-time (hi) order, three micro-batches
    for (b <- 0 until 3) {
      lSrc.addData(ls.slice(b * 50, (b + 1) * 50).map { case (i, lo, hi) =>
        OvL(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      rSrc.addData(rs.slice(b * 50, (b + 1) * 50).map { case (i, lo, hi) =>
        OvR(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("ovs_rand").as[(Long, Long)].collect()
    assert(got.length === got.distinct.length)
    // parity with the batch operator on the SAME rows (ms domain) —
    // at the streaming width AND another, per the width-independence
    // contract both forms share
    for (w <- Seq(10000L, 3000L)) {
      val batch = graft.operators.RangeJoin.intervalOverlap(
          ls.toDF("l_id", "lo_l", "hi_l"), rs.toDF("r_id", "lo_r", "hi_r"),
          "lo_l", "hi_l", "lo_r", "hi_r", w)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
      assert(got.toSet === batch, s"parity at batch width $w")
    }
    assert(got.nonEmpty)
  }

  test("stream-stream interval overlap SALTED: salt-invariant, " +
      "exactly-once across salt-grid cells, crowd included") {
    // the value-crowd rung: a same-range crowd (all rows one interval)
    // collapses into ONE group unsalted; on the 4×2 salt grid each
    // left row sits in 2 cells (its hash row × both columns) and each
    // right row in 4 (both coordinates replicate) — the answer must
    // not notice (placement-only), and no pair may emit twice though
    // its two rows now share state in exactly one grid cell
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val base = t("2021-03-21 10:00:00").getTime
    def gen(n: Int, idBase: Long) = (0 until n).map { i =>
      val lo = base + rnd.nextInt(120000)
      (idBase + i, lo, lo + rnd.nextInt(15000))
    }
    // 60 background rows + a 25-per-side crowd on ONE exact interval
    val crowd = base + 40000L
    val ls = (gen(60, 0L) ++ (0 until 25).map(i =>
      (500L + i, crowd, crowd + 9000L))).sortBy(_._3)
    val rs = (gen(60, 1000L) ++ (0 until 25).map(i =>
      (1500L + i, crowd, crowd + 9000L))).sortBy(_._3)
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L,
        saltLeft = 4, saltRight = 2)
      .writeStream.format("memory").queryName("ovs_salt")
      .outputMode("append").start()
    // two micro-batches so crowd pairing also crosses batches (a
    // buffered right must meet a later left inside its salt group)
    for (b <- 0 until 2) {
      lSrc.addData(ls.slice(b * 43, (b + 1) * 43).map { case (i, lo, hi) =>
        OvL(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      rSrc.addData(rs.slice(b * 43, (b + 1) * 43).map { case (i, lo, hi) =>
        OvR(i, new Timestamp(lo), new Timestamp(hi)) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("ovs_salt").as[(Long, Long)].collect()
    assert(got.length === got.distinct.length,
      "a pair must emit once though the right row sits in every salt group")
    val batch = graft.operators.RangeJoin.intervalOverlap(
        ls.toDF("l_id", "lo_l", "hi_l"), rs.toDF("r_id", "lo_r", "hi_r"),
        "lo_l", "hi_l", "lo_r", "hi_r", 10000L)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got.toSet === batch, "salt placement changed the answer")
    // the crowd really pairs all-to-all (the shape under test)
    assert(got.count { case (l, r) => l >= 500 && l < 525 &&
      r >= 1500 && r < 1525 } === 625)
  }

  test("stream-stream interval overlap SALTED: the crowd's state spreads " +
      "from one key to one per grid cell") {
    // a pure same-range crowd sits in ONE state key unsalted; the 1-D
    // (16, 1) split and the 2-D (4, 4) grid must each spread it over
    // exactly 16 cells. The delay outlasts the feed, so nothing prunes
    // and the key counts read the full buffered placement
    implicit val sc = spark.sqlContext
    val c = 40
    val lo = t("2021-03-21 10:00:00").getTime + 96 // bucket-aligned at 32 ms
    def crowd(idBase: Long) = (0 until c).map(i =>
      (idBase + i, new Timestamp(lo), new Timestamp(lo + 16)))
    val (ls, rs) = (crowd(0L), crowd(1000L))
    def run(saltLeft: Int, saltRight: Int): (Long, Set[(Long, Long)]) = {
      val lSrc = MemoryStream[OvL]
      val rSrc = MemoryStream[OvR]
      val name = s"ovs_cells_${saltLeft}_$saltRight"
      val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
          "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
          bucketWidthMs = 32L, maxSpanMs = 16L, delay = "1 hour",
          saltLeft = saltLeft, saltRight = saltRight)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // two batches: later lefts meet buffered rights inside their cell
      for (b <- 0 until 2) {
        lSrc.addData(ls.slice(b * c / 2, (b + 1) * c / 2)
          .map { case (i, a, z) => OvL(i, a, z) }: _*)
        rSrc.addData(rs.slice(b * c / 2, (b + 1) * c / 2)
          .map { case (i, a, z) => OvR(i, a, z) }: _*)
        q.processAllAvailable()
      }
      val keys = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q.stop()
      (keys, spark.table(name).as[(Long, Long)].collect().toSet)
    }
    val (k0, p0) = run(1, 1)
    val (k1, p1) = run(16, 1)
    val (k2, p2) = run(4, 4)
    assert((k0, k1, k2) === ((1L, 16L, 16L)),
      "crowd placement must read 1 -> 16 -> 16 state keys")
    assert(p0.size === c * c)
    assert(p1 === p0 && p2 === p0, "salt placement changed the answer")
  }

  test("stream-stream interval overlap: an over-span row fails loudly") {
    // a span past maxSpanMs would outlive the state-eviction horizon
    // and silently lose pairs — the operator must raise instead
    implicit val sc = spark.sqlContext
    val lSrc = MemoryStream[OvL]
    val rSrc = MemoryStream[OvR]
    val q = StreamJobs.intervalOverlapStream(lSrc.toDF(), rSrc.toDF(),
        "ol_id", "ol_lo", "ol_hi", "or_id", "or_lo", "or_hi",
        bucketWidthMs = 10000L, maxSpanMs = 15000L)
      .writeStream.format("memory").queryName("ovs_guard")
      .outputMode("append").start()
    lSrc.addData(OvL(1, t("2021-03-21 10:00:00"), t("2021-03-21 10:05:00")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxSpanMs")),
      s"error should name the knob: ${messages(e)}")
  }

  test("socket line ingest: live TCP endpoint, parse + corrupt channel") {
    // S1 end-to-end IN-SANDBOX: a real TCP server feeds JSON lines
    // (one good, one truncated, one good) through real micro-batches
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      val s = server.accept()
      val w = new java.io.PrintWriter(s.getOutputStream, true)
      w.println("""{"mid":1,"ch":"app"}""")
      w.println("""{"mid":2,"ch":""")          // truncated → corrupt channel
      w.println("""{"mid":3,"ch":"web"}""")
      w.flush()
      Thread.sleep(60000); s.close()            // keep the pipe open
    })
    writer.setDaemon(true)
    writer.start()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("mid", "long").add("ch", "string")
    val q = StreamJobs.socketLogStream(spark, "localhost", port, schema)
      .select(col("log.mid").as("mid"), col("log.ch").as("ch"),
        col("is_corrupt"))
      .writeStream.format("memory").queryName("sock_out")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("sock_out").count() < 3 &&
        System.currentTimeMillis < deadline) Thread.sleep(250)
    } finally {
      q.stop()
      server.close()
    }
    val rows = spark.table("sock_out")
      .as[(Option[Long], Option[String], Int)].collect()
    assert(rows.length === 3, s"expected 3 ingested lines, got ${rows.toSeq}")
    assert(rows.count(_._3 == 1) === 1, "exactly the truncated line is corrupt")
    assert(rows.filter(_._3 == 0).flatMap(_._1).sorted.toSeq === Seq(1L, 3L))
    assert(rows.filter(_._3 == 0).flatMap(_._2).sorted.toSeq ===
      Seq("app", "web"))
  }

  test("kafka source construction resolves up to the missing connector") {
    // the sandbox ships no spark-sql-kafka jar: the production path
    // must fail AT SOURCE RESOLUTION (proving the format/options wiring
    // is real), not at option validation or analysis
    val schema = spark.read.parquet(s"$Sf/events.parquet").schema
    val err = intercept[Exception] {
      StreamJobs.kafkaJsonStream(spark, "broker:9092", "ods_base_log", schema)
    }
    assert(err.getMessage.toLowerCase.contains("kafka"),
      s"expected connector-resolution failure, got: ${err.getMessage}")
  }

  test("flatMapGroupsWithState is_new repair matches the batch window form") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.isNewRepair(src.toDF())
      .writeStream.format("memory").queryName("inr_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("inr_out")
      .select("event_id", "is_new").as[(Long, Int)].collect().toMap
    // mid 1 first seen 2021-03-21: events 1,2,3 that day are new, 5 (next
    // day) is not; mid 2's only event is new
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 0))
  }

  test("streaming session bounces agree with the batch lag/lead operator") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = StreamJobs.sessionBounces(src.toDF())
      .writeStream.format("memory").queryName("sb_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    src.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sb_out")
      .filter(col("mid") =!= 999)
      .select("mid", "session_start").as[(Long, Timestamp)].collect().toSet
    // batch truth via the same session_window expression (unified API)
    val batch = StreamJobs.sessionBounces(fixture.toDF())
      .select("mid", "session_start").as[(Long, Timestamp)].collect().toSet
    assert(streamed == batch)
    // and the lag/lead JumpDetect formulation agrees: events 3, 4, 5
    // are isolated; 1-2 session; day boundary separates 3 from 5
    assert(batch.map(_._1).toSeq.sorted == Seq(1L, 1L, 2L).sorted ||
      batch.size == 3)
  }

  test("streamed curation projections match their batch operators") {
    // ingest-time curation: the stateless mixture-sampling and quality
    // projections run UNCHANGED on the documents file stream
    val mixQ = graft.llm.CorpusOps
      .mixtureSampleOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("mix_stream_out")
      .outputMode("append").start()
    mixQ.processAllAvailable()
    mixQ.stop()
    val mixStreamed = spark.table("mix_stream_out")
      .as[(Long, String, Long, Long, Int)].collect().toSet
    val mixBatch = graft.llm.CorpusOps.mixtureSample(spark, Sf)
      .as[(Long, String, Long, Long, Int)].collect().toSet
    assert(mixStreamed == mixBatch && mixStreamed.nonEmpty)

    val qQ = graft.llm.TextAnalysis
      .qualityOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("q_stream_out")
      .outputMode("append").start()
    qQ.processAllAvailable()
    qQ.stop()
    val qStreamed = spark.table("q_stream_out")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val qBatch = graft.llm.TextAnalysis.qualityScore(spark, Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(qStreamed == qBatch && qStreamed.nonEmpty)

    // the round-6 additions are equally stateless: the stratified
    // rate cascade and the sliding-window chunker (a bounded explode
    // is still per-row work — no watermark, no state)
    val stratQ = graft.llm.CorpusOps
      .mixtureSampleStratifiedOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("strat_stream_out")
      .outputMode("append").start()
    stratQ.processAllAvailable()
    stratQ.stop()
    val stratStreamed = spark.table("strat_stream_out")
      .as[(Long, String, String, Long, Long, Int)].collect().toSet
    val stratBatch = graft.llm.CorpusOps.mixtureSampleStratified(spark, Sf)
      .as[(Long, String, String, Long, Long, Int)].collect().toSet
    assert(stratStreamed == stratBatch && stratStreamed.nonEmpty)

    val chunkQ = graft.llm.CorpusOps
      .chunkOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("chunk_stream_out")
      .outputMode("append").start()
    chunkQ.processAllAvailable()
    chunkQ.stop()
    val chunkStreamed = spark.table("chunk_stream_out")
      .as[(Long, Long, Long, String)].collect().toSet
    val chunkBatch = graft.llm.CorpusOps.chunk(spark, Sf)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(chunkStreamed == chunkBatch && chunkStreamed.nonEmpty)
  }

  test("streamed PII redaction matches the batch operator") {
    // the compliance pass is stateless (regex projection), so it runs
    // UNCHANGED on an ingest stream — here the customer file stream
    // with the same contact-card render as the batch form
    val schema = spark.read.parquet(s"$Sf/customer.parquet").schema
    val cs = spark.readStream.schema(schema)
      .option("pathGlobFilter", "customer.parquet").parquet(Sf)
      .select(col("c_custkey").as("doc_id"),
        expr(graft.llm.Pii.RenderSql).as("text"))
    val q = graft.llm.Pii.piiRedactOf(cs)
      .writeStream.format("memory").queryName("pii_stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pii_stream_out")
      .as[(Long, String, Long)].collect().toSet
    val batch = graft.llm.Pii.piiRedact(spark, Sf)
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch && streamed.exists(_._3 > 0))
  }

  test("incremental dedup stream: durable state crosses micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stateDir = graft.func.TempDirs.scoped("dedup-state")
    val outDir = graft.func.TempDirs.scoped("dedup-verdicts")
    val q = StreamJobs.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "text"), stateDir, outDir)
    // batch 1: two copies of "a" — lower id wins inside the batch
    mem.addData((1L, "a"), (2L, "b"), (3L, "a"))
    q.processAllAvailable()
    // batch 2: "a" again (now in the snapshot) + a fresh doc
    mem.addData((4L, "a"), (5L, "c"))
    q.processAllAvailable()
    q.stop()
    val v = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(1L) === "kept" && v(2L) === "kept" && v(5L) === "kept")
    assert(v(3L) === "dup_in_batch")
    assert(v(4L) === "dup_of_base",
      "the snapshot must carry batch 1's hashes into batch 2")
    // the durable snapshot holds exactly the distinct kept hashes
    assert(spark.read.parquet(stateDir).distinct().count() === 3)
  }

  test("incremental dedup stream: restart against the same checkpoint " +
      "re-emits nothing and loses nothing") {
    // the exactly-once recovery story §2.10 claims: a query stopped
    // after committed batches and RESTARTED from the same checkpoint
    // must (a) not re-read committed offsets — no duplicate verdicts
    // for already-processed docs, (b) pick up data that arrived while
    // it was down, and (c) see batch-1 hashes in the durable snapshot
    // so cross-restart dedup verdicts stay correct
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stateDir = graft.func.TempDirs.scoped("dedup-rst-state")
    val outDir = graft.func.TempDirs.scoped("dedup-rst-verdicts")
    val ckDir = graft.func.TempDirs.scoped("dedup-rst-ck")
    val src = mem.toDF().toDF("doc_id", "text")

    // ---- incarnation 1: two committed batches, then stop (the kill)
    val q1 = StreamJobs.incrementalDedupStream(src, stateDir, outDir,
      Some(ckDir))
    mem.addData((1L, "a"), (2L, "b"), (3L, "a"))
    q1.processAllAvailable()
    mem.addData((4L, "a"))
    q1.processAllAvailable()
    q1.stop()
    val afterStop = spark.read.parquet(outDir).count()
    assert(afterStop === 4L, "4 verdicts committed before the stop")

    // data arrives WHILE THE QUERY IS DOWN
    mem.addData((5L, "b"), (6L, "d"))

    // ---- incarnation 2: same checkpoint, same dirs
    val q2 = StreamJobs.incrementalDedupStream(src, stateDir, outDir,
      Some(ckDir))
    q2.processAllAvailable()
    q2.stop()

    val v = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // no loss: every doc has a verdict; no re-emission: exactly one
    assert(v.length === 6, s"one verdict per doc, got ${v.toSeq.sorted}")
    assert(v.map(_._1).distinct.length === 6, "no doc re-emitted")
    val m = v.toMap
    assert(m(1L) === "kept" && m(2L) === "kept" && m(6L) === "kept")
    assert(m(3L) === "dup_in_batch")
    assert(m(4L) === "dup_of_base")
    assert(m(5L) === "dup_of_base",
      "post-restart batch must see pre-restart snapshot hashes")
    // snapshot = distinct kept hashes across both incarnations
    assert(spark.read.parquet(stateDir).distinct().count() === 3L)

    // ---- incarnation 3: restart with NOTHING pending → zero emission
    val q3 = StreamJobs.incrementalDedupStream(src, stateDir, outDir,
      Some(ckDir))
    q3.processAllAvailable()
    q3.stop()
    assert(spark.read.parquet(outDir).count() === 6L,
      "an idle restart must not replay any committed batch")
  }

  test("streaming lake sink: stop/restart exactly-once, replay idempotent, " +
      "one-day prune parity, one file per (day, batch)") {
    import org.apache.spark.sql.types._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val root = graft.func.TempDirs.scoped("lake-sink")
    val ck = graft.func.TempDirs.scoped("lake-sink-ck")
    val src = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    // ---- incarnation 1: two committed batches, then stop (the kill)
    val q1 = StreamJobs.lakeSink(src, root, ck)
    mem.addData((1L, t("2024-01-01 10:00:00"), 7L, "view"),
      (2L, t("2024-01-02 11:00:00"), 8L, "cart"))
    q1.processAllAvailable()
    mem.addData((3L, t("2024-01-01 12:00:00"), 9L, "view"))
    q1.processAllAvailable()
    q1.stop()

    // data arrives WHILE THE QUERY IS DOWN
    mem.addData((4L, t("2024-01-03 09:00:00"), 7L, "buy"))

    // ---- incarnation 2: same checkpoint drains it, replays nothing
    val q2 = StreamJobs.lakeSink(src, root, ck)
    q2.processAllAvailable()
    q2.stop()

    // explicit read schema: pins the partition columns' types (DATE,
    // LONG) independent of inference
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("dt", DateType), StructField("__batch", LongType)))
    def lake() = spark.read.schema(schema).parquet(root)
    val fed = Seq((1L, 7L, "view"), (2L, 8L, "cart"),
      (3L, 9L, "view"), (4L, 7L, "buy"))
    def rows() = lake().select("event_id", "user_id", "event_type")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows() === fed,
      "every fed row exactly once across the stop/restart")

    // ---- replay idempotency: foreachBatch is at-least-once, so the
    // per-batch write must converge when the SAME batch id re-runs —
    // write the post-restart batch twice more by hand
    val bid = lake().filter(col("event_id") === 4L)
      .select("__batch").as[Long].head()
    val replay = Seq((4L, t("2024-01-03 09:00:00"), 7L, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("dt", to_date(col("ts")))
    StreamJobs.lakeBatchWrite(replay, root, bid)
    StreamJobs.lakeBatchWrite(replay, root, bid)
    assert(rows() === fed, "a replayed batch id must not duplicate rows")

    // ---- empty micro-batch (streams fire them to advance watermarks):
    // dynamic overwrite with NO partitions in the data must be a no-op
    // on the lake, not a truncation
    StreamJobs.lakeBatchWrite(replay.filter(lit(false)), root, bid + 1)
    assert(rows() === fed, "an empty batch must leave the lake intact")

    // ---- one-day prune: results match, and dt is a PARTITION filter
    val day = lake().filter(col("dt") === to_date(lit("2024-01-01")))
    day.queryExecution.toRdd.count()
    val planStr = day.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(planStr).getOrElse("")
    assert(pf.contains("dt"),
      s"the day slice must prune at the directory level:\n$planStr")
    assert(day.select("event_id").as[Long].collect().sorted ===
      Array(1L, 3L))

    // ---- small-files shape: ONE file per (dt, __batch) directory
    val batchDirs = Option(new java.io.File(root).listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("dt="))
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(d => d.isDirectory && d.getName.startsWith("__batch="))
    assert(batchDirs.nonEmpty, "no (dt, batch) directories written")
    val spray = batchDirs
      .map(d => d.getPath -> graft.PlanWalk.dataFiles(d).size)
      .filter(_._2 != 1)
    assert(spray.isEmpty,
      s"repartition(dt) must leave one file per (day, batch): $spray")
  }

  test("streaming HLL registers converge to the batch sketch") {
    // the register table is a streaming-natural aggregate (groupBy
    // bucket, max) — complete mode over the documents file stream must
    // land on exactly the batch registers, because max-merge is the
    // sketch's merge operation (SketchesSpec: half ∪ half = whole)
    val q = graft.llm.Sketches
      .hllSketchOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("hll_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_stream_out")
      .as[(Long, Long)].collect().toMap
    val batch = graft.llm.Sketches.hllSketch(spark, Sf)
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("stream-static enrichment: broadcast dim join matches batch") {
    // the remaining standard streaming join: a static dimension
    // broadcast against each micro-batch (the streaming face of the
    // reference's async dim lookups) — per-batch planning re-reads
    // the static side, and the result must equal the batch join
    val dim = graft.Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_nationkey"))
    val q = StreamJobs.eventsStream(spark, Sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("ss_join_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ss_join_out")
      .as[(Long, Long)].collect().toSet
    val batch = graft.Tables.events(spark, Sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streamed CDC chunking matches the batch chunker") {
    // the boundary scan is per-row (stateless flatMap) — it runs on
    // the documents file stream unchanged, ingest-time chunking
    val q = graft.llm.Segmentation
      .cdcChunksOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("cdc_stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cdc_stream_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.llm.Segmentation.cdcChunks(spark, Sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming grouped HLL registers match the batch register table") {
    // the per-key register store is the streaming UV state a 100 TB
    // job keeps instead of exact per-key sets; complete mode over the
    // events file stream must converge to the batch registers
    val q = graft.llm.Sketches
      .uvRegistersOf(StreamJobs.eventsStream(spark, Sf))
      .writeStream.format("memory").queryName("uvreg_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("uvreg_stream_out")
      .as[(String, Long, Long)].collect().toSet
    val batch = graft.llm.Sketches
      .uvRegistersOf(graft.Tables.events(spark, Sf))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming hq sketch converges to the batch histogram") {
    // the add-mergeable histogram is a grouped count over a PURE
    // projection (scoredByLang carries lang through qualityOf — no
    // self-join), so the batch body runs unchanged as a streaming
    // complete-mode aggregate; the bin counts are the bounded state
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (Option(r.getString(0)), r.getAs[Long]("bin"))
        -> r.getAs[Long]("ct")).toMap
    val q = graft.llm.Sketches
      .hqSketchOf(StreamJobs.documentsStream(spark, Sf))
      .writeStream.format("memory").queryName("hq_stream_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = toMap(spark.table("hq_stream_out").collect())
    val batch = toMap(graft.llm.Sketches
      .hqSketchOf(graft.Tables.documents(spark, Sf)).collect())
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("session_window sessions agree with the batch lag-based sessionize") {
    // the same 30-minute gap notion, two formulations: streaming
    // session_window vs batch lag → flag → running sum. Per-session
    // (user, start_ms, n_events) must be identical.
    implicit val sc = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = src.toDF()
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        col("n_events"))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    src.addData(fixture: _*)
    q.processAllAvailable()
    src.addData(sentinel)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_out")
      .filter(col("user_id") =!= 999)
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.ads.EventFlows.sessionizeOf(
        fixture.toDF().withColumn("event_id", col("event_id")))
      .select(col("user_id"), col("start_ms"), col("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streamed funnel state machine matches the batch join-chain funnel") {
    implicit val sc = spark.sqlContext
    // in-order single batch: the keyed state machine must land on the
    // same first-touch stage timestamps as the batch min/join form
    val src = MemoryStream[Ev]
    val q = StreamJobs.funnelState(src.toDF())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    val rows = Seq(
      Ev(1, 1, "click", 0, t("2021-03-21 09:00:00")), // pre-view click: orphan
      Ev(2, 1, "view", 0, t("2021-03-21 10:00:00")),
      Ev(3, 1, "click", 0, t("2021-03-21 10:05:00")),
      Ev(4, 1, "click", 0, t("2021-03-21 10:07:00")), // later click ignored
      Ev(5, 1, "purchase", 0, t("2021-03-21 10:10:00")),
      Ev(6, 2, "view", 0, t("2021-03-21 10:00:00")),
      Ev(7, 2, "purchase", 0, t("2021-03-21 10:01:00")), // no click: stops at 1
      Ev(8, 3, "purchase", 0, t("2021-03-21 10:00:00"))) // nothing viewed
    src.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_out")
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> r).toMap
    val batch = graft.ads.EventFlows.funnelOf(rows.toDF())
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(streamed === batch)
    assert(batch(1L)._5 === 3 && batch(2L)._5 === 1 && batch(3L)._5 === 0)

    // cross-batch: state carries — a purchase arriving in a LATER
    // micro-batch completes the funnel opened earlier
    val src2 = MemoryStream[Ev]
    val q2 = StreamJobs.funnelState(src2.toDF())
      .writeStream.format("memory").queryName("funnel_out2")
      .outputMode("append").start()
    src2.addData(Ev(1, 7, "view", 0, t("2021-03-21 10:00:00")),
      Ev(2, 7, "click", 0, t("2021-03-21 10:01:00")))
    q2.processAllAvailable()
    src2.addData(Ev(3, 7, "purchase", 0, t("2021-03-21 10:02:00")))
    q2.processAllAvailable()
    q2.stop()
    val last = spark.table("funnel_out2").as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().maxBy(_._5)
    assert(last._5 === 3, "state persisted across micro-batches")
  }
}
