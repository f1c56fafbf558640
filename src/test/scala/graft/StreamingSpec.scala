package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{EventStreams, StreamingIngest}
import graft.streaming.EventStreams.Ev

class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("file-source bronze stream: AvailableNow processes each file exactly once") {
    val landing = tmp("landing")
    val silver = tmp("silver")
    val ckpt = tmp("ckpt")

    def writeCsv(name: String, rows: Seq[String]): Unit = {
      val f = new java.io.File(landing, name)
      val w = new java.io.PrintWriter(f)
      w.println("carrier_bp;carrier_name")
      rows.foreach(w.println)
      w.close()
    }
    writeCsv("empresas_1.csv", Seq("BP1;Acme", "BP2;Globex"))
    writeCsv("empresas_2.csv", Seq("BP3;Initech"))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("carrier_bp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("carrier_name",
        org.apache.spark.sql.types.StringType)))

    def run(): Unit = {
      val bronze = StreamingIngest.bronzeStream(spark, landing, schema)
      val q = StreamingIngest.runAvailableNow(bronze, ckpt) { (batch, _) =>
        if (!batch.isEmpty)
          batch.select("carrier_bp", "carrier_name", "_source_file")
            .write.mode("append").parquet(silver)
      }
      q.awaitTermination()
    }
    run()
    val first = spark.read.parquet(silver)
    assert(first.count() === 3)
    assert(first.select("_source_file").distinct().count() === 2)

    // a third file lands; the checkpoint must skip the two already done
    writeCsv("empresas_3.csv", Seq("BP4;Umbrella"))
    run()
    val second = spark.read.parquet(silver)
    assert(second.count() === 4)
    assert(second.filter(col("carrier_bp") === "BP1").count() === 1,
      "already-processed file was re-ingested")
  }

  test("streaming ETL end-to-end: landed CSVs flow through the Silver pipelines") {
    import graft.etl.SilverStore
    val landing = tmp("etl-landing")
    val silverRoot = tmp("etl-silver")
    val ckpt = tmp("etl-ckpt")
    val store = new SilverStore(spark, silverRoot)

    Files.writeString(java.nio.file.Paths.get(landing, "empresas_1.csv"),
      """carrier_bp;carrier_name;carrier_tin;carrier_type
        |1111111;EMPRESA UNO;"11.111.111-1";Spot
        |2222222;EMPRESA DOS;"22222222-2";Licitada
        |;SIN BP;"33333333-3";Spot
        |""".stripMargin)

    graft.streaming.StreamingEtl.start(store, landing, ckpt).awaitTermination()
    val empresa = store.read("empresa")
    assert(empresa.count() === 2)
    assert(empresa.filter(col("carrier_rut") === "11111111-1").count() === 1)

    // second file lands: upsert existing, insert new, checkpoint skips file 1
    Files.writeString(java.nio.file.Paths.get(landing, "empresas_2.csv"),
      """carrier_bp;carrier_name;carrier_tin;carrier_type
        |1111111;EMPRESA UNO RENOMBRADA;"11.111.111-1";Spot
        |4444444;EMPRESA CUATRO;"44444444-4";Spot
        |""".stripMargin)
    graft.streaming.StreamingEtl.start(store, landing, ckpt).awaitTermination()
    val after = store.read("empresa")
    assert(after.count() === 3)
    assert(after.filter(col("carrier_bp") === "1111111")
      .head.getAs[String]("carrier_name") === "EMPRESA UNO RENOMBRADA")
  }

  test("user profiles: update-mode state accumulates across batches == batch agg") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val t0 = 1600000000L * us
    val input = MemoryStream[Ev]
    val q = EventStreams.userProfiles(input.toDS()).writeStream
      .format("memory").queryName("profiles_out").outputMode("update").start()

    // three batches, users interleaved and re-touched
    val b1 = Seq(Ev(1, t0, 1.5), Ev(1, t0 + us, 2.0), Ev(2, t0 + 2 * us, 3.0))
    val b2 = Seq(Ev(2, t0 + 5 * us, 4.25), Ev(3, t0 + 6 * us, 0.5))
    val b3 = Seq(Ev(1, t0 + 9 * us, 1.0), Ev(3, t0 + 3 * us, 2.5)) // 3: out-of-order
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    input.addData(b3: _*); q.processAllAvailable()
    q.stop()

    // the LAST emission per user is the live profile
    val live = spark.table("profiles_out")
      .as[EventStreams.UserProfile].collect()
      .zipWithIndex.groupBy(_._1.user_id)
      .map { case (u, rows) => u -> rows.maxBy(_._2)._1 }
    val all = b1 ++ b2 ++ b3
    all.groupBy(_.user_id).foreach { case (u, evs) =>
      val p = live(u)
      assert(p.first_us == evs.map(_.ts_us).min, s"user $u first")
      assert(p.last_us == evs.map(_.ts_us).max,
        s"user $u last must survive the out-of-order event")
      assert(p.n_events == evs.size, s"user $u count")
      assert(math.abs(p.sum_value - evs.map(_.value).sum) < 1e-9,
        s"user $u total")
    }
    // update mode must RE-EMIT touched users: user 1 appears in batch 1
    // and batch 3 outputs, with the count strictly growing
    val u1 = spark.table("profiles_out")
      .as[EventStreams.UserProfile].collect().filter(_.user_id == 1L)
    assert(u1.length == 2 && u1.map(_.n_events).toSet == Set(2L, 3L),
      s"expected two emissions for user 1 (2 then 3 events), got ${u1.toSeq}")
  }

  test("stateful sessionization: gap splits sessions, timeout closes them") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    // epoch-0 timestamps are at the initial watermark and get dropped
    // as late — anchor the clock in 2020 like real data
    val t0 = 1600000000L * us
    val input = MemoryStream[Ev]
    val sessions = EventStreams.sessionizeStateful(input.toDS(), gapUs = 30 * min)
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()

    // user 1: two bursts 40 min apart -> first burst closes in-batch
    input.addData(
      Ev(1, t0, 1.0), Ev(1, t0 + 10 * min, 2.0),
      Ev(1, t0 + 50 * min, 3.0),
      Ev(2, t0, 5.0))
    q.processAllAvailable()

    val inBatch = spark.table("sessions_out").as[EventStreams.Session].collect()
    assert(inBatch.toSet === Set(
      EventStreams.Session(1, t0, t0 + 10 * min + 30 * min, 2, 3.0)))

    // watermark advance (far-future event) times out the open sessions
    input.addData(Ev(99, t0 + 1000 * min, 0.0))
    q.processAllAvailable()
    input.addData(Ev(99, t0 + 2000 * min, 0.0))
    q.processAllAvailable()

    val all = spark.table("sessions_out").as[EventStreams.Session].collect()
    assert(all.toSet.contains(
      EventStreams.Session(1, t0 + 50 * min, t0 + 80 * min, 1, 3.0)))
    assert(all.toSet.contains(
      EventStreams.Session(2, t0, t0 + 30 * min, 1, 5.0)))
    q.stop()
  }

  test("stateful sessionization: late in-watermark events merge without state regression") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1600000000L * us
    val input = MemoryStream[Ev]
    val q = EventStreams.sessionizeStateful(input.toDS(), gapUs = 30 * min)
      .writeStream.format("memory")
      .queryName("late_out").outputMode("append").start()

    // batch 1: open sessions
    input.addData(Ev(5, t0 + 60 * min, 1.0), Ev(6, t0 + 100 * min, 9.0))
    q.processAllAvailable()

    // batch 2: user 5 gets a LATE event (55min < open start 60min) that
    // must merge extending start backward WITHOUT regressing `last` —
    // the following 86min event is 26min after the true last (60min)
    // and must stay in the same session (a regressed last of 55min
    // would fake a 31min gap and wrongly split). User 6's event is
    // more than a gap BEFORE its open session: an orphan session.
    input.addData(Ev(5, t0 + 55 * min, 2.0), Ev(5, t0 + 86 * min, 3.0),
      Ev(6, t0 + 10 * min, 7.0))
    q.processAllAvailable()

    // user 7: session opens at +300min; a later batch delivers THREE
    // consecutive late events (+200, +210, +218min) that must merge
    // into ONE earlier session, exactly as the batch session_window
    // twin would merge them
    input.addData(Ev(7, t0 + 300 * min, 1.0))
    q.processAllAvailable()
    input.addData(Ev(7, t0 + 200 * min, 1.0), Ev(7, t0 + 210 * min, 1.0),
      Ev(7, t0 + 218 * min, 1.0))
    q.processAllAvailable()

    // user 8: chain bridging — open at +300; a later batch has a late
    // event at +265 (pending), one at +290 (merges open to [290,300]),
    // then +340 closes the open session, which must FIRST reconcile
    // with the pending chain: 290-265 < gap, so ONE session
    // [265, 300+gap) n=3 closes, and +340 stays open
    input.addData(Ev(8, t0 + 300 * min, 1.0))
    q.processAllAvailable()
    input.addData(Ev(8, t0 + 265 * min, 1.0), Ev(8, t0 + 290 * min, 1.0),
      Ev(8, t0 + 340 * min, 1.0))
    q.processAllAvailable()

    // close everything via watermark advance
    input.addData(Ev(99, t0 + 2000 * min, 0.0))
    q.processAllAvailable()
    input.addData(Ev(99, t0 + 4000 * min, 0.0))
    q.processAllAvailable()

    val all = spark.table("late_out").as[EventStreams.Session].collect().toSet
    assert(all.contains(
      EventStreams.Session(5, t0 + 55 * min, t0 + 86 * min + 30 * min, 3, 6.0)),
      s"user 5 must be ONE merged session; got $all")
    assert(all.contains(
      EventStreams.Session(6, t0 + 10 * min, t0 + 40 * min, 1, 7.0)),
      "orphan late event must close as its own session")
    assert(all.contains(
      EventStreams.Session(6, t0 + 100 * min, t0 + 130 * min, 1, 9.0)))
    assert(all.contains(
      EventStreams.Session(7, t0 + 200 * min, t0 + 218 * min + 30 * min, 3, 3.0)),
      s"consecutive late events must merge into one session; got $all")
    assert(all.contains(
      EventStreams.Session(7, t0 + 300 * min, t0 + 330 * min, 1, 1.0)))
    assert(all.contains(
      EventStreams.Session(8, t0 + 265 * min, t0 + 330 * min, 3, 3.0)),
      s"pending chain must reconcile into the closing session; got $all")
    assert(all.contains(
      EventStreams.Session(8, t0 + 340 * min, t0 + 370 * min, 1, 1.0)))
    q.stop()
  }

  test("stream-stream join attributes purchases to in-window clicks") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    case class E(user_id: Long, ts_us: Long, event_id: Long, value: Double)
    val us = 1000000L
    val min = 60 * us
    val t0 = 1600000000L * us
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    // Ev has no event_id; synthesize one from ts for the join payload
    def withId(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("event_id", col("ts_us"))

    val out = EventStreams.clickAttribution(
      withId(clicks.toDS().toDF()), withId(purchases.toDS().toDF()),
      windowMinutes = 30)
    val q = out.writeStream.format("memory")
      .queryName("attr_out").outputMode("append").start()

    clicks.addData(Ev(1, t0, 0), Ev(1, t0 + 50 * min, 0), Ev(2, t0, 0))
    purchases.addData(
      Ev(1, t0 + 10 * min, 9.0),  // within 30min of click@t0
      Ev(1, t0 + 45 * min, 7.0),  // within 30min of click@t0+50? NO: before it
      Ev(2, t0 + 40 * min, 5.0))  // outside user 2's click window
    q.processAllAvailable()

    val rows = spark.table("attr_out")
      .select("user_id", "click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((1L, t0, t0 + 10 * min)),
      s"only the in-window (click, purchase) pair must join; got $rows")
    q.stop()
  }

  test("left-outer stream-stream join emits unattributed purchases after watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val hour = 60 * min
    val t0 = 1600000000L * us
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    def withId(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("event_id", col("ts_us"))

    val out = EventStreams.clickAttributionOuter(
      withId(clicks.toDS().toDF()), withId(purchases.toDS().toDF()),
      windowMinutes = 30, lateness = "1 hour")
    val q = out.writeStream.format("memory")
      .queryName("attr_outer_out").outputMode("append").start()

    clicks.addData(Ev(1, t0, 0))
    purchases.addData(
      Ev(1, t0 + 10 * min, 9.0), // attributed to click@t0
      Ev(2, t0 + 10 * min, 5.0)) // user 2 never clicks
    q.processAllAvailable()

    // advance BOTH watermarks far past t0+10min+window+lateness so the
    // unmatched purchase can no longer find a click and must emit
    clicks.addData(Ev(9, t0 + 5 * hour, 0))
    purchases.addData(Ev(9, t0 + 5 * hour, 1.0))
    q.processAllAvailable()
    clicks.addData(Ev(9, t0 + 6 * hour, 0))
    purchases.addData(Ev(9, t0 + 6 * hour, 1.0))
    q.processAllAvailable()

    val rows = spark.table("attr_outer_out")
      .filter(col("user_id").isin(1L, 2L))
      .select("user_id", "click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2))).toSet
    assert(rows === Set(
      (1L, t0, t0 + 10 * min),          // matched: click columns filled
      (2L, -1L, t0 + 10 * min)),        // unmatched: null click after watermark
      s"got $rows")
    q.stop()
  }

  test("streaming dedup collapses duplicates within the watermark horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1600000000L * us
    val input = MemoryStream[Ev]
    val out = EventStreams.dedupWithinWatermark(
      input.toDS().toDF().withColumn("k",
        concat_ws("-", col("user_id"), col("value"))),
      keys = Seq("k"), lateness = "30 minutes")
    val q = out.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()

    // same logical record delivered twice in one batch + again in the
    // next (replay): must survive exactly once
    input.addData(Ev(1, t0, 42.0), Ev(1, t0 + 1 * min, 42.0),
      Ev(2, t0, 7.0))
    q.processAllAvailable()
    input.addData(Ev(1, t0 + 2 * min, 42.0))
    q.processAllAvailable()

    assert(spark.table("dedup_out").count() === 2,
      "duplicates within the watermark must collapse to one row each")
    q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val dimDir = tmp("dim")
    Seq((1L, "gold"), (2L, "silver")).toDF("dim_user", "tier")
      .write.mode("overwrite").parquet(dimDir)

    val input = MemoryStream[Ev]
    val out = EventStreams.enrichWithDim(
      input.toDS().toDF(), spark.read.parquet(dimDir), "user_id", "dim_user")
    val q = out.writeStream.format("memory")
      .queryName("enrich_out").outputMode("append").start()

    input.addData(Ev(1, 1600000000000000L, 1.0), Ev(3, 1600000000000000L, 2.0))
    q.processAllAvailable()
    val rows = spark.table("enrich_out")
      .select("user_id", "tier").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "gold", 3L -> null),
      "match enriches, miss passes through with null dim columns")

    // a later micro-batch joins the same pinned dim snapshot
    input.addData(Ev(2, 1600000060000000L, 3.0))
    q.processAllAvailable()
    val tier2 = spark.table("enrich_out")
      .filter(col("value") === 3.0).select("tier").collect()(0).getString(0)
    assert(tier2 === "silver")
    q.stop()

    // both sides naming the key identically (the standard dim shape)
    // must resolve — dataset-qualified join keys, no AMBIGUOUS_REFERENCE
    val dimSame = Seq((1L, "x")).toDF("user_id", "tag")
    val out2 = EventStreams.enrichWithDim(
      input.toDS().toDF(), dimSame, "user_id", "user_id")
    assert(out2.queryExecution.analyzed.resolved)
  }

  test("watermark drops events later than the lateness bound") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1600000000L * us
    val input = MemoryStream[Ev]
    val out = EventStreams.hourlyWindows(
      input.toDS().toDF().withColumn("event_type", lit("e")),
      lateness = "10 minutes")
    val q = out.writeStream.format("memory")
      .queryName("wm_out").outputMode("append").start()

    input.addData(Ev(1, t0, 5.0))
    q.processAllAvailable()
    // advance the watermark far past t0's hour
    input.addData(Ev(1, t0 + 600 * min, 1.0))
    q.processAllAvailable()
    // this event is WAY older than watermark - lateness: must be dropped
    input.addData(Ev(1, t0 + 1 * min, 100.0))
    q.processAllAvailable()
    input.addData(Ev(1, t0 + 1200 * min, 1.0))
    q.processAllAvailable()
    input.addData(Ev(1, t0 + 1800 * min, 1.0))
    q.processAllAvailable()

    val rows = spark.table("wm_out").select("n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // t0's hour closed with ONLY the on-time event; the 100.0 late
    // arrival never entered the aggregate
    assert(rows.contains((1L, 5.0)), rows.mkString(", "))
    assert(!rows.exists(_._2 == 105.0), "late event leaked past the watermark")
    q.stop()
  }

  test("windowed HLL distinct: stream state stays sketch-sized, output == batch twin") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1599998400L * us // hour-ALIGNED: each batch below is one window
    // hour 1: users 1..40, each appearing 3 times (120 events);
    // hour 2: users 21..50 (overlap with hour 1 — windows are
    // independent sketches)
    val h1 = (1 to 40).flatMap(u =>
      (0 until 3).map(i => Ev(u, t0 + (u + i) * min % (50 * min), 1.0)))
    val h2 = (21 to 50).map(u => Ev(u, t0 + 60 * min + u * min % (50 * min), 1.0))
    val input = MemoryStream[Ev]
    val q = EventStreams.hourlyDistinctUsers(input.toDS().toDF(),
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("append").start()
    input.addData(h1: _*)
    q.processAllAvailable()
    input.addData(h2: _*)
    q.processAllAvailable()
    // push the watermark far ahead so both hours close and emit
    input.addData(Ev(99, t0 + 600 * min, 1.0))
    q.processAllAvailable()
    input.addData(Ev(99, t0 + 1200 * min, 1.0))
    q.processAllAvailable()
    val streamed = spark.table("hll_out")
      .select("hour", "n_events", "s_scaled", "distinct_users_est")
      .collect().map(r => (r.getTimestamp(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap

    // batch twin: the SAME function over the same rows as a plain
    // frame (no watermark in batch, so it also reports the sentinel
    // windows the stream hasn't closed — compare per window)
    val batch = EventStreams.hourlyDistinctUsers((h1 ++ h2).toDS().toDF())
      .select("hour", "n_events", "s_scaled", "distinct_users_est")
      .collect().map(r => (r.getTimestamp(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    val hour1 = new java.sql.Timestamp(t0 / 1000)
    val hour2 = new java.sql.Timestamp((t0 + 60 * min) / 1000)
    assert(streamed.contains(hour1) && streamed.contains(hour2),
      s"closed windows missing from stream output: ${streamed.keySet}")
    // the sentinel watermark-pusher events exist only on the stream
    // side — compare the two real windows (counts + exact register
    // summary + estimate must agree bit-for-bit)
    Seq(hour1, hour2).foreach { hour =>
      assert(batch(hour) == streamed(hour),
        s"stream/batch divergence at $hour: ${streamed(hour)} vs ${batch(hour)}")
    }
    assert(streamed(hour1)._1 == 120L && streamed(hour2)._1 == 30L)
    // the estimates land in the raw-regime accuracy band (~3σ = 14%)
    assert(math.abs(streamed(hour1)._3 - 40) / 40.0 < 0.15,
      s"hour-1 est ${streamed(hour1)._3}")
    assert(math.abs(streamed(hour2)._3 - 30) / 30.0 < 0.15,
      s"hour-2 est ${streamed(hour2)._3}")
    q.stop()
  }

  test("windowed CMS frequencies: stream == batch twin, never undercounts") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1599998400L * us // hour-aligned, like the HLL twin test
    // hour 1: user u appears u times (1..8); hour 2: users 5..10 × 3
    val h1 = (1 to 8).flatMap(u =>
      (1 to u).map(i => Ev(u, t0 + ((u * 7 + i) % 50) * min, 1.0)))
    val h2 = (5 to 10).flatMap(u =>
      (1 to 3).map(i => Ev(u, t0 + 60 * min + ((u + i) % 50) * min, 1.0)))
    val probes = (1L to 10L).toSeq
    val input = MemoryStream[Ev]
    val q = EventStreams.hourlyUserFrequencies(input.toDS().toDF(), probes,
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("append").start()
    input.addData(h1: _*)
    q.processAllAvailable()
    input.addData(h2: _*)
    q.processAllAvailable()
    // push the watermark far ahead so both hours close and emit
    input.addData(Ev(99, t0 + 600 * min, 1.0))
    q.processAllAvailable()
    input.addData(Ev(99, t0 + 1200 * min, 1.0))
    q.processAllAvailable()
    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getTimestamp(0), r.getLong(2)) -> (r.getLong(1), r.getLong(3))).toMap
    val streamed = toMap(spark.table("cms_out").collect())
    // batch twin: the SAME function over the same rows as a plain frame
    val batch = toMap(
      EventStreams.hourlyUserFrequencies((h1 ++ h2).toDS().toDF(), probes)
        .collect())
    val hour1 = new java.sql.Timestamp(t0 / 1000)
    val hour2 = new java.sql.Timestamp((t0 + 60 * min) / 1000)
    for (hour <- Seq(hour1, hour2); u <- probes) {
      assert(streamed.contains((hour, u)), s"missing ($hour, $u)")
      assert(streamed((hour, u)) == batch((hour, u)),
        s"stream/batch divergence at ($hour, $u): " +
          s"${streamed((hour, u))} vs ${batch((hour, u))}")
    }
    // one-sided error: the estimate never undercounts the true
    // per-(window, user) frequency (q110's pinned CMS property)
    val exact1 = h1.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    val exact2 = h2.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    probes.foreach { u =>
      assert(streamed((hour1, u))._2 >= exact1.getOrElse(u, 0L),
        s"hour-1 undercount for user $u")
      assert(streamed((hour2, u))._2 >= exact2.getOrElse(u, 0L),
        s"hour-2 undercount for user $u")
    }
    q.stop()
  }

  test("windowed histogram quantiles: stream == batch twin == driver replay") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1599998400L * us
    // hour 1: values 1..100 (p50=50's bucket, p99=99's); hour 2: a
    // skewed long tail so high buckets matter (10 × 1000, 90 × 10);
    // hour 3: all values NEGATIVE — the sketch skips every one, so the
    // window must report NULL quantiles (the empty-sketch sentinel),
    // not 0
    val h1 = (1 to 100).map(i =>
      Ev(i.toLong, t0 + (i % 50) * min, i.toDouble))
    val h2 = (1 to 100).map(i =>
      Ev(i.toLong, t0 + 60 * min + (i % 50) * min,
        if (i <= 10) 1000.0 else 10.0))
    val h3 = (1 to 20).map(i =>
      Ev(i.toLong, t0 + 120 * min + (i % 50) * min, -1.0 * i))
    val input = MemoryStream[Ev]
    val q = EventStreams.hourlyValueQuantiles(input.toDS().toDF(),
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("hist_out")
      .outputMode("append").start()
    input.addData(h1: _*)
    q.processAllAvailable()
    input.addData(h2: _*)
    q.processAllAvailable()
    input.addData(h3: _*)
    q.processAllAvailable()
    input.addData(Ev(99, t0 + 600 * min, 1.0))
    q.processAllAvailable()
    input.addData(Ev(99, t0 + 1200 * min, 1.0))
    q.processAllAvailable()
    // null-quantile (empty-sketch) rows are checked separately below
    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(!_.isNullAt(3)).map(r =>
        r.getTimestamp(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    val allStreamed = spark.table("hist_out").collect()
    val streamed = toMap(allStreamed)
    val batch = toMap(
      EventStreams.hourlyValueQuantiles((h1 ++ h2 ++ h3).toDS().toDF())
        .collect())
    // hour 3: events exist, but every value was negative → the sketch
    // is empty and all three quantiles must be NULL (not 0)
    val hour3 = new java.sql.Timestamp((t0 + 120 * min) / 1000)
    val r3 = allStreamed.filter(_.getTimestamp(0) == hour3)
    assert(r3.length == 1, "hour-3 window must emit")
    assert(r3.head.getLong(1) == 20L && r3.head.getLong(2) == 0L)
    assert(r3.head.isNullAt(3) && r3.head.isNullAt(4) && r3.head.isNullAt(5),
      s"empty sketch must report null quantiles: ${r3.head}")
    val hour1 = new java.sql.Timestamp(t0 / 1000)
    val hour2 = new java.sql.Timestamp((t0 + 60 * min) / 1000)
    Seq(hour1, hour2).foreach { hour =>
      assert(streamed.contains(hour), s"window $hour did not emit")
      assert(streamed(hour) == batch(hour),
        s"stream/batch divergence at $hour: ${streamed(hour)} vs ${batch(hour)}")
    }
    // driver replay: nearest-rank over HistAgg's bucket math
    import graft.plans.HistAgg.{bucketOf, loOf}
    def replay(vs: Seq[Long], p: Int): Long = {
      val bs = vs.map(bucketOf).sorted
      var cum = 0
      bs.groupBy(identity).toSeq.sortBy(_._1).collectFirst {
        case (b, g) if { cum += g.size; cum * 100 >= p * bs.size } => loOf(b)
      }.get
    }
    val v1 = h1.map(_.value.toLong)
    val v2 = h2.map(_.value.toLong)
    assert(streamed(hour1) == ((100L, 100L,
      replay(v1, 50), replay(v1, 90), replay(v1, 99))))
    assert(streamed(hour2) == ((100L, 100L,
      replay(v2, 50), replay(v2, 90), replay(v2, 99))))
    // the skewed hour's p99 must land in 1000's bucket, p50 in 10's
    assert(streamed(hour2)._3 == loOf(bucketOf(10L)))
    assert(streamed(hour2)._5 == loOf(bucketOf(1000L)))
    q.stop()
  }

  test("near-dup bloom gate: _bloom maintained, suppression holds, heals when deleted") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup

    def sentence(i: Int) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"
    val state = tmp("bg-state")
    val kept = tmp("bg-kept")
    // batch 0 registers docs 1..5 and seeds the merged bloom
    StreamingNearDup.dedupBatch(
      (1L to 5L).map(i => i -> sentence(i.toInt)).toDF("doc_id", "text"),
      0L, state, kept)
    val seeded = StreamingNearDup.readBloom(state)
    assert(seeded.exists(_.exists(_ != 0L)), "merged bloom must exist after batch 0")
    // a cross-batch dup must be suppressed THROUGH the gate (its
    // buckets hit the bloom and fall through to the exact probe);
    // a fresh doc passes
    StreamingNearDup.dedupBatch(
      Seq(11L -> sentence(2), 12L -> sentence(12)).toDF("doc_id", "text"),
      1L, state, kept)
    assert(spark.read.parquet(kept).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === ((1L to 5L) :+ 12L),
      "gate must pass registered-bucket hits to the exact check")
    // self-heal: deleting _bloom and rebuilding from the state tree
    // reproduces the incrementally merged words bit-for-bit
    val before = StreamingNearDup.readBloom(state).get
    assert(new java.io.File(state, "_bloom").delete())
    val rebuilt = StreamingNearDup.rebuildBloom(spark, state)
    assert(rebuilt.toSeq === before.toSeq,
      "rebuild from state must equal the incremental merge")
    // an all-new batch sails through (steady state: the gate empties
    // the probe — correctness is what's asserted here; the skip is
    // the performance path)
    StreamingNearDup.dedupBatch(
      Seq(21L -> sentence(21), 22L -> sentence(22)).toDF("doc_id", "text"),
      2L, state, kept)
    assert(spark.read.parquet(kept).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === ((1L to 5L) :+ 12L :+ 21L :+ 22L))
  }

  test("streaming session_window + watermark emits closed sessions") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1600000000L * us
    val input = MemoryStream[Ev]
    val df = input.toDS().toDF()
    val out = EventStreams.sessionWindows(df, gap = "30 minutes",
      lateness = "10 minutes")
    val q = out.writeStream.format("memory")
      .queryName("sw_out").outputMode("append").start()

    input.addData(Ev(7, t0, 1.0), Ev(7, t0 + 5 * min, 2.0))
    q.processAllAvailable()
    // nothing emitted yet: watermark has not passed session end
    assert(spark.table("sw_out").count() === 0)

    // event 10h later pushes the watermark far past the session
    input.addData(Ev(8, t0 + 600 * min, 1.0))
    q.processAllAvailable()
    input.addData(Ev(8, t0 + 1200 * min, 1.0))
    q.processAllAvailable()

    val rows = spark.table("sw_out")
      .select(col("user_id"), col("n_events"), col("sum_value")).collect()
    assert(rows.exists(r => r.getLong(0) == 7 && r.getLong(1) == 2 &&
      r.getDouble(2) == 3.0))
    q.stop()
  }

  test("pre-_sb near-dup state layouts migrate in place and keep suppressing") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    val state = tmp("nd-mig-state"); val kept = tmp("nd-mig-kept")
    def sentence(i: Int) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"
    // batch 0 as the PREVIOUS code version wrote it: plain parquet
    // files directly under _batch=0, no _sb bucketing
    StreamingNearDup.bandBuckets(
        Seq(1L -> sentence(1), 2L -> sentence(2)).toDF("doc_id", "text"))
      .select("band", "ha", "hb").distinct()
      .write.parquet(s"$state/_batch=0")
    // next trigger under the new layout: doc 11 duplicates doc 1 from
    // the legacy batch and must still be suppressed
    StreamingNearDup.dedupBatch(
      Seq(11L -> sentence(1), 12L -> sentence(12)).toDF("doc_id", "text"),
      1L, state, kept)
    assert(spark.read.parquet(kept).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(12L),
      "legacy-registered buckets must still suppress")
    val b0 = new java.io.File(s"$state/_batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(b0.nonEmpty && b0.forall(_.startsWith("_sb=")),
      s"legacy batch dir must be rewritten into _sb dirs: ${b0.toSeq}")
  }

  test("auto-compaction keeps per-batch state dirs bounded across triggers") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    val state = tmp("nd-ac-state"); val kept = tmp("nd-ac-kept")
    def sentence(i: Int) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"
    for (b <- 0 until 6)
      StreamingNearDup.dedupBatch(
        Seq((100L + b) -> sentence(100 + b)).toDF("doc_id", "text"),
        b.toLong, state, kept, autoCompactDirs = 2)
    def dirs(d: String) = new java.io.File(d).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("_batch="))
    // worst case after a trigger: _batch=-1 + carried-newest + own
    assert(dirs(state) <= 3, s"state dirs must stay bounded: ${dirs(state)}")
    // the kept OUTPUT is deliberately not auto-compacted (downstream
    // readers would race the swap): one dir per trigger
    assert(dirs(kept) === 6, s"kept dirs must be untouched: ${dirs(kept)}")
    // folding must lose nothing: a dup of the OLDEST (long-compacted)
    // doc is still suppressed, all six originals still present
    StreamingNearDup.dedupBatch(
      Seq(200L -> sentence(100)).toDF("doc_id", "text"),
      6L, state, kept, autoCompactDirs = 2)
    assert(spark.read.parquet(kept).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === (100L to 105L),
      "compacted state must still suppress, kept rows must survive folds")
    // a manual compactKept crash between its two swap renames leaves
    // the output only in its Commit aside; the NEXT TRIGGER must settle
    // it before recreating the dir, or the aside would later read as a
    // completed swap and be dropped with every previously kept row
    val keptP = java.nio.file.Paths.get(kept)
    java.nio.file.Files.move(keptP, graft.etl.Commit.asideOf(keptP))
    StreamingNearDup.dedupBatch(
      Seq(300L -> sentence(300)).toDF("doc_id", "text"),
      7L, state, kept, autoCompactDirs = 2)
    assert(spark.read.parquet(kept).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === ((100L to 105L) :+ 300L),
      "kept crash window must heal on the next trigger, not lose rows")
  }

  test("streaming near-dup suppresses LSH collisions within and across batches") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup

    val src = tmp("nd-src")
    val ckpt = tmp("nd-ckpt")
    val state = tmp("nd-state")
    val kept = tmp("nd-kept")

    // every token carries the doc index so distinct docs share ZERO
    // shingles (the template words alone would make everything a
    // legitimate near-dup of everything)
    def sentence(i: Int) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"
    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(s"$src/$name")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      StreamingNearDup.runAvailableNow(docs, ckpt, state, kept)
        .awaitTermination()
    }

    // batch 1: ten originals + doc 11 an exact near-dup of doc 1
    // (identical text -> identical signature -> every band collides)
    writeBatch("b1", (1L to 10L).map(i => i -> sentence(i.toInt))
      :+ (11L -> sentence(1)))
    run()
    val kept1 = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept1.toSeq === (1L to 10L), s"in-batch dup must drop: ${kept1.toSeq}")

    // batch 2: doc 21 duplicates doc 2 (previous batch -> registered
    // bucket hit), doc 22 is fresh
    writeBatch("b2", Seq(21L -> sentence(2), 22L -> sentence(22)))
    run()
    val kept2 = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept2.toSeq === ((1L to 10L) :+ 22L),
      s"cross-batch dup must drop, fresh doc must survive: ${kept2.toSeq}")

    // replaying with the same checkpoint is a no-op (exactly-once)
    run()
    assert(spark.read.parquet(kept).count() === 11)

    // a REPLAYED micro-batch (crash between write and checkpoint
    // commit) re-runs dedupBatch with the same id — it must reproduce
    // its output, not self-collide with its own registered buckets
    // and erase it
    val rState = tmp("nd-rstate"); val rKept = tmp("nd-rkept")
    val rb = Seq(31L -> sentence(31), 32L -> sentence(32)).toDF("doc_id", "text")
    StreamingNearDup.dedupBatch(rb, 7L, rState, rKept)
    StreamingNearDup.dedupBatch(rb, 7L, rState, rKept)
    assert(spark.read.parquet(rKept).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(31L, 32L),
      "replayed batch must keep its survivors")

    // compaction folds older batch dirs into _batch=-1 but carries the
    // NEWEST batch partition verbatim — it may be an uncommitted tail
    // whose replay depends on excluding its own id — and suppression
    // keeps working: doc 41 duplicates doc 3 from batch 1
    val (dirsBefore, _) = StreamingNearDup.compactState(spark, state)
    assert(dirsBefore >= 2, "test needs multiple per-batch state dirs")
    val dirNames = new java.io.File(state).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
      .map(_.getName).sorted
    assert(dirNames.length === 2 && dirNames.head === "_batch=-1",
      s"compacted + carried newest expected, got ${dirNames.toSeq}")
    StreamingNearDup.dedupBatch(
      Seq(41L -> sentence(3), 42L -> sentence(42)).toDF("doc_id", "text"),
      8L, state, kept)
    val kept3 = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept3.toSeq === ((1L to 10L) :+ 22L :+ 42L),
      "suppression must survive state compaction")

    // crash window between the two swap renames: state exists only as
    // its Commit aside — the next batch settles it before reading
    val asideDir = graft.etl.Commit.asideOf(
      java.nio.file.Paths.get(state)).toFile
    assert(new java.io.File(state).renameTo(asideDir))
    StreamingNearDup.dedupBatch(
      Seq(51L -> sentence(4), 52L -> sentence(52)).toDF("doc_id", "text"),
      9L, state, kept)
    assert(!asideDir.exists(), "aside must be consumed by the repair")
    val kept4 = spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept4.toSeq === ((1L to 10L) :+ 22L :+ 42L :+ 52L),
      "restored state must still suppress doc 51 (dup of doc 4)")

    // the kept output compacts the same way: rows survive verbatim,
    // older batch dirs fold into _batch=-1, newest carried over
    val (keptDirsBefore, keptRows) = StreamingNearDup.compactKept(spark, kept)
    assert(keptDirsBefore >= 3 && keptRows === 13)
    assert(new java.io.File(kept).listFiles()
      .count(f => f.isDirectory && !f.getName.startsWith(".")) === 2)
    assert(spark.read.parquet(kept).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq === kept4.toSeq,
      "compaction must not change the kept rows")

    // scale contract: the state scan streams through a broadcast hash
    // probe of the batch's buckets — the (unbounded) state side is
    // never shuffled for the hit check
    val plan = StreamingNearDup.stateHits(
      spark.read.parquet(state),
      StreamingNearDup.bandBuckets(rb)).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      "batch buckets must broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "state side must not shuffle for the hit check")

    // the state layout is hash-bucketed on (band, ha, hb) into _sb
    // dirs, and a probe prunes the read to the _sb values the batch
    // touches — untouched state files are never opened
    val sbDirs = new java.io.File(state).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).distinct
    assert(sbDirs.nonEmpty && sbDirs.forall(_.startsWith("_sb=")),
      s"state must be laid out in _sb buckets: ${sbDirs.take(5).toSeq}")
    val prunedPlan = StreamingNearDup.prunedState(spark, state, 99L, Seq(0, 1))
      .queryExecution.explainString(org.apache.spark.sql.execution
        .ExplainMode.fromString("formatted"))
    val partFilters = prunedPlan.linesIterator
      .find(_.contains("PartitionFilters:")).getOrElse("")
    assert(partFilters.contains("_sb") && partFilters.contains("_batch"),
      s"state probe must partition-prune on _sb and _batch: $partFilters")

    // the streamed result equals the batch q25 rule on the full corpus
    val all = ((1L to 10L).map(i => i -> sentence(i.toInt))
      :+ (11L -> sentence(1)) :+ (21L -> sentence(2)) :+ (22L -> sentence(22)))
      .toDF("doc_id", "text")
    val removedBatch = StreamingNearDup.bandBuckets(all)
      .groupBy(col("band"), col("ha"), col("hb"))
      .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(explode(slice(col("docs"), lit(2), size(col("docs")))).as("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(kept2.toSet === all.select("doc_id").collect()
      .map(_.getLong(0)).toSet -- removedBatch,
      "streamed kept set must equal the one-shot batch rule")
  }

  test("state probe lists only manifest-named leaf dirs between compactions") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    val state = tmp("nd-man-state"); val kept = tmp("nd-man-kept")
    def sentence(i: Int) =
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"
    // many un-compacted batches — the situation where full-tree
    // discovery costs batches × _sb-dirs list calls per trigger
    val nBatches = 6
    for (b <- 0 until nBatches)
      StreamingNearDup.dedupBatch(
        Seq((100L * b + 1) -> sentence(100 * b + 1),
          (100L * b + 2) -> sentence(100 * b + 2)).toDF("doc_id", "text"),
        b.toLong, state, kept)
    val leafDirs = new java.io.File(state).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_batch="))
      .flatMap(_.listFiles()).filter(f =>
        f.isDirectory && f.getName.startsWith("_sb="))
    assert(leafDirs.length >= nBatches,
      "test needs a tree with many leaf dirs")
    // probe ONE _sb value: the scan's root paths must be exactly the
    // manifest-named _batch=*/_sb=<n> dirs — discovery never lists
    // the other leaf dirs, whatever the un-compacted batch count
    val sb = leafDirs.head.getName.stripPrefix("_sb=").toInt
    val pruned = StreamingNearDup.prunedState(spark, state, 999L, Seq(sb))
    val roots = pruned.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths
    }.flatten.map(_.toString)
    assert(roots.nonEmpty, "probe must resolve to explicit root paths")
    assert(roots.forall(_.matches(".*/_batch=\\d+/_sb=" + sb + "$")),
      s"every listed root must be a named _sb=$sb leaf: $roots")
    assert(roots.size < leafDirs.length,
      "probe must list strictly fewer dirs than the tree holds")
    // the named-dirs read returns exactly what the full-scan fallback
    // filter returns
    val full = spark.read.parquet(state)
      .filter(col("_batch") =!= 999L && col("_sb") === sb)
      .select("band", "ha", "hb").collect().map(_.toSeq).toSet
    assert(pruned.select("band", "ha", "hb").collect()
      .map(_.toSeq).toSet === full)
    // self-heal: a deleted manifest falls back to one full listing,
    // rewrites the file, and serves the same rows
    val mf = new java.io.File(state, "_sb_manifest")
    assert(mf.exists(), "single writer must maintain the manifest")
    assert(mf.delete())
    val healed = StreamingNearDup.prunedState(spark, state, 999L, Seq(sb))
    assert(healed.select("band", "ha", "hb").collect()
      .map(_.toSeq).toSet === full)
    assert(mf.exists(), "fallback must rebuild the manifest")
    // compaction keeps the manifest in step with the folded layout
    StreamingNearDup.compactState(spark, state)
    val afterCompact = StreamingNearDup
      .prunedState(spark, state, 999L, Seq(sb))
      .select("band", "ha", "hb").collect().map(_.toSeq).toSet
    assert(afterCompact === full,
      "compacted state must serve the same buckets through the manifest")
  }

  test("windowed anomaly monitor: stream == batch, unknown type flags") {
    import spark.implicits._
    import graft.streaming.EventStreams.TypedEv
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1599998400L * us // hour-aligned
    // thresholds as a nightly q145 run would hand them over:
    // click med 10 mad 2 (3·max(2,1)=6 band), view med 3 mad 0
    // (floor: 3·max(0,1)=3 band); "signup" is deliberately absent
    val th = Seq(("click", 10L, 2L), ("view", 3L, 0L))
    // hour 1: click 10 (normal), view 12 (|12-3|=9 > 3 → anomalous)
    // hour 2: click 20 (|20-10|=10 > 6 → anomalous), signup 1 (unknown
    // type → anomalous by definition)
    val h1 = (1 to 10).map(i => TypedEv("click", t0 + i * min)) ++
      (1 to 12).map(i => TypedEv("view", t0 + i * min))
    val h2 = (1 to 20).map(i => TypedEv("click", t0 + 60 * min + i * min % (50 * min))) :+
      TypedEv("signup", t0 + 60 * min + 5 * min)
    val input = MemoryStream[TypedEv]
    val q = EventStreams.hourlyAnomalies(input.toDS().toDF(), th,
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    input.addData(h1: _*)
    q.processAllAvailable()
    input.addData(h2: _*)
    q.processAllAvailable()
    // watermark pushers so both hours close
    input.addData(TypedEv("click", t0 + 600 * min))
    q.processAllAvailable()
    input.addData(TypedEv("click", t0 + 1200 * min))
    q.processAllAvailable()
    val streamed = spark.table("anom_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getInt(5))).toMap
    val hour1 = new java.sql.Timestamp(t0 / 1000)
    val hour2 = new java.sql.Timestamp((t0 + 60 * min) / 1000)
    assert(streamed((hour1, "click")) == ((10L, 0)), "normal hour flagged")
    assert(streamed((hour1, "view")) == ((12L, 1)), "9 > 3·max(0,1) must flag")
    assert(streamed((hour2, "click")) == ((20L, 1)), "10 > 3·2 must flag")
    assert(streamed((hour2, "signup")) == ((1L, 1)), "unknown type must flag")

    // the SAME function over the same rows as a batch frame agrees on
    // every closed window (the stream==batch contract)
    val batch = EventStreams.hourlyAnomalies((h1 ++ h2).toDS().toDF(), th)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getInt(5))).toMap
    Seq((hour1, "click"), (hour1, "view"), (hour2, "click"),
      (hour2, "signup")).foreach { k =>
      assert(streamed(k) == batch(k), s"stream/batch drift at $k")
    }
  }

  test("dp count feed: stream == batch, noise replays, exact count never leaks") {
    import spark.implicits._
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.TypedEv
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1599998400L * us // hour-aligned
    val h1 = (1 to 17).map(i => TypedEv("click", t0 + i * min % (50 * min))) ++
      (1 to 5).map(i => TypedEv("view", t0 + i * min))
    val input = MemoryStream[TypedEv]
    val q = EventStreams.hourlyDpCounts(input.toDS().toDF(),
        graft.analytics.DpNoise.OracleSecret, lateness = "10 minutes")
      .writeStream.format("memory").queryName("dp_out")
      .outputMode("append").start()
    try {
      input.addData(h1: _*)
      q.processAllAvailable()
      input.addData(TypedEv("click", t0 + 600 * min)) // closes hour 1
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dp_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap

    // driver replay of the shared sampler (the q157 OperatorSpec math)
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def noiseOf(key: String): Long = {
      val h = java.lang.Long.parseLong(
        md5hex(graft.analytics.DpNoise.OracleSecret + "|dp0|" + key)
          .take(15), 16)
      val u = h % (3L << 40)
      if (u < (1L << 40)) 0L
      else {
        val v = u - (1L << 40)
        val t = ((1L << 40) - 1) - (v >> 1)
        val k = if (t == 0) 40L
          else 41L - java.lang.Long.toBinaryString(t).length
        if (v % 2 == 0) k else -k
      }
    }
    val hour1 = new java.sql.Timestamp(t0 / 1000)
    val sec = t0 / 1000000 // window start in epoch seconds
    assert(streamed((hour1, "click")) == 17L + noiseOf(s"$sec|click"))
    assert(streamed((hour1, "view")) == 5L + noiseOf(s"$sec|view"))
    // the release column is the ONLY count column (no exact leak)
    assert(spark.table("dp_out").columns.toSeq ==
      Seq("hour", "event_type", "released"))
    // batch twin agrees on the closed window
    val batch = EventStreams.hourlyDpCounts(h1.toDS().toDF(),
        graft.analytics.DpNoise.OracleSecret).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch((hour1, "click")) == streamed((hour1, "click")))
    assert(batch((hour1, "view")) == streamed((hour1, "view")))
  }

  test("anomaly monitor refresh: post-refresh flags equal batch flags under the new thresholds") {
    import spark.implicits._
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.TypedEv
    implicit val sc = spark.sqlContext

    val us = 1000000L
    val min = 60 * us
    val t0 = 1599998400L * us // hour-aligned
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val thDir = tmp("graft-anomth")
    val outDir = tmp("graft-anomout") + "/flags"
    val ckpt = tmp("graft-anomck")

    // nightly publication #1: click history at 8/10/12 per hour →
    // med 10, mad 2 by the exact q145 nearest-rank math (replayed)
    def hist(counts: Seq[Int]) = counts.zipWithIndex.flatMap {
      case (n, h) => (1 to n).map(i => TypedEv("click", (h * 3600L + i) * us))
    }
    EventStreams.writeAnomalyThresholds(hist(Seq(8, 10, 12)).toDS().toDF(), thDir)
    assert(EventStreams.loadAnomalyThresholds(spark, thDir) ==
      Seq(("click", 10L, 2L)), "publication must match the q145 replay")

    val input = MemoryStream[TypedEv]
    // refreshEvery = 1: every trigger re-reads the latest publication
    val q = EventStreams.hourlyAnomaliesRefreshing(input.toDS().toDF(),
      thDir, outDir, ckpt, refreshEvery = 1, lateness = "10 minutes")
    val fed = scala.collection.mutable.ArrayBuffer[TypedEv]()
    def feed(evs: Seq[TypedEv]): Unit = {
      fed ++= evs; input.addData(evs: _*); q.processAllAvailable()
    }
    try {
      // hour 1: click 20 → |20−10| = 10 > 3·2 → anomalous under set #1
      feed((1 to 20).map(i => TypedEv("click", t0 + i * min % (50 * min))))
      feed(Seq(TypedEv("click", t0 + 600 * min))) // closes hour 1
      // traffic has drifted: publication #2 from an 18/20/22 history →
      // med 20, mad 2 — the SAME absolute count is now normal
      EventStreams.writeAnomalyThresholds(
        hist(Seq(18, 20, 22)).toDS().toDF(), thDir)
      assert(EventStreams.loadAnomalyThresholds(spark, thDir) ==
        Seq(("click", 20L, 2L)))
      // hour 2 (post-refresh): click 20 → dev 0 → NOT anomalous; the
      // stale set #1 would have flagged it, so a pass proves the
      // refresh actually bound
      feed((1 to 20).map(i =>
        TypedEv("click", t0 + 1200 * min + i * min % (50 * min))))
      feed(Seq(TypedEv("click", t0 + 2000 * min))) // closes hour 2
    } finally q.stop()

    val out = spark.read.parquet(outDir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    val hour1 = new java.sql.Timestamp(t0 / 1000)
    val hour2 = new java.sql.Timestamp((t0 + 1200 * min) / 1000)
    assert(out((hour1, "click")) == ((20L, 10L, 2L, 1)),
      "pre-refresh hour must flag under publication #1")
    assert(out((hour2, "click")) == ((20L, 20L, 2L, 0)),
      "post-refresh hour must score against publication #2")

    // the post-refresh stream row equals the BATCH q145-threshold run
    // (same flag rule, same current publication) on the same window
    val batch = EventStreams.hourlyAnomalies(fed.toSeq.toDS().toDF(),
        EventStreams.loadAnomalyThresholds(spark, thDir))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toMap
    assert(out((hour2, "click")) == batch((hour2, "click")),
      "stream/batch drift on the post-refresh window")
    // the sink layout is per-batchId directories (the idempotent
    // shape), surfaced to root readers as a trailing partition column
    assert(spark.read.parquet(outDir).columns.last == "batch")
  }

  test("anomaly flag sink: batchId replay overwrites, never duplicates") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val out = java.nio.file.Files
      .createTempDirectory("graft-flagsink").toString + "/flags"
    def flags(n: Long) = Seq(
      (new java.sql.Timestamp(0L), "click", n, 10L, 2L, 1))
      .toDF("hour", "event_type", "n", "med", "mad", "anomalous")
    EventStreams.writeFlagsBatch(flags(20L), out, 0L)
    EventStreams.writeFlagsBatch(flags(99L), out, 1L)
    // a failure/restart replays batch 1 (foreachBatch is
    // at-least-once) — possibly with recomputed content; the replay
    // must REPLACE batch 1's rows, leaving exactly one copy
    EventStreams.writeFlagsBatch(flags(21L), out, 1L)
    val rows = spark.read.parquet(out)
      .select("event_type", "n", "batch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows == Set(("click", 20L, 0), ("click", 21L, 1)),
      s"replayed batch must overwrite its own directory, got $rows")
  }

  test("rollup maintenance: versioned folds == batch rollup; replay idempotent (r13)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.CascadedRollup._
    import graft.streaming.RollupStream

    val dims = Seq("u", "dy")
    val aggs = Seq(sum_("cents", "sc"), count_("n"), max_("cents", "mx"))
    val us = 1000000L; val day = 86400L * us
    val t0 = 1600000000L * us
    def shape(df: org.apache.spark.sql.DataFrame) = df.select(
      col("user_id").as("u"),
      expr(s"ts_us div $day").as("dy"),
      round(col("value") * 100).cast("long").as("cents"))

    val store = tmp("rollup-store")
    val input = MemoryStream[Ev]
    val q = RollupStream.maintainRollup(shape(input.toDF()), dims, aggs,
      store, tmp("rollup-ckpt"))
    val b1 = Seq(Ev(1, t0, 1.5), Ev(1, t0, 2.0), Ev(2, t0 + day, 3.0))
    val b2 = Seq(Ev(1, t0, 0.25), Ev(3, t0 + 2 * day, 4.0)) // touch + new
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()

    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (Option(r.getAs[Any]("u")), Option(r.getAs[Any]("dy")),
        r.getAs[Int]("lvl")) ->
        (r.getAs[Long]("sc"), r.getAs[Long]("n"), r.getAs[Long]("mx"))
    ).toMap
    // every level served from the group-scale state == a full batch
    // rollup over all rows ever streamed
    val served = asMap(RollupStream.serveRollup(spark, store, dims, aggs))
    val full = asMap(rollup(shape((b1 ++ b2).toDF()), dims, aggs))
    assert(served === full, "maintained state must equal a full rebuild")

    // replay of the LAST batch id (foreachBatch at-least-once): folds
    // from the same below-id state, overwrites its own version —
    // store row-identical, sums NOT doubled
    val root = java.nio.file.Paths.get(store)
    val vmax = graft.etl.Commit.versions(root).max
    val lastId = vmax >> 1 // fold slots are 2·id
    def stateRows() = graft.streaming.BucketedStateStore
      .readAllAt(spark, root, vmax).collect().map(_.toSeq).toSet
    val before = stateRows()
    val stats = RollupStream.foldBatch(shape(b2.toDF()), lastId, dims,
      aggs, store)
    assert(stateRows() === before,
      "a replayed micro-batch must leave the store row-identical")
    // bucketed publication: the replayed 2-group batch rewrote at most
    // 2 of the 64 buckets — untouched groups are REFERENCED in earlier
    // versions, never copied
    assert(stats.touched <= 2 && stats.buckets === 64,
      s"2-group batch must touch ≤ 2 buckets, touched ${stats.touched}")
  }

  test("vector ingest: streamed folds == full rebuild; replay idempotent (r14)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.similarity.VectorStore
    import graft.streaming.VectorIngest

    val emb = graft.analytics.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val isBatch = col("vec_id") >= 16 && col("vec_id") % 5 === 4
    val store = tmp("vec-store")
    VectorStore.init(spark, emb.filter(!isBatch), store)

    // the ingest slice arrives as TWO micro-batches
    val arriving = emb.filter(isBatch)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(arriving.length >= 4, "fixture needs a non-trivial ingest slice")
    val (b1, b2) = arriving.splitAt(arriving.length / 2)

    val input = MemoryStream[(Long, Seq[Float])]
    val q = VectorIngest.maintainVectorStore(
      input.toDF().toDF("vec_id", "embedding"), store, tmp("vec-ckpt"))
    input.addData(b1.toSeq: _*); q.processAllAvailable()
    input.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()

    // streamed store == one-shot rebuild over everything (same
    // geometry: centroids vec_id < 16 all sit in the base slice)
    val full = tmp("vec-full")
    VectorStore.init(spark, emb, full)
    def rows(dir: String) = VectorStore.lists(spark, dir)
      .select(col("vec_id"), col("_c").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(store) === rows(full),
      "streamed folds must equal the full rebuild's assignment")

    // at-least-once replay: re-fold the LAST batch id with the same
    // rows — the store must not change (files replaced, not appended)
    def files(): Set[(String, Long)] = {
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(store, "lists"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toSet
      } finally st.close()
    }
    val before = files()
    VectorStore.foldBatch(spark, store,
      b2.toSeq.toDF("vec_id", "embedding"), 1L)
    assert(files() === before,
      "a replayed micro-batch must leave the store file-identical")
    assert(rows(store) === rows(full), "replay must not duplicate vectors")
  }

  test("bm25 ingest: streamed folds == full rebuild; replay idempotent (r15)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.text.Bm25Store
    import graft.streaming.Bm25Ingest

    val docs = graft.analytics.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
    val isBatch = col("doc_id") % 3 === 1
    val store = tmp("bm25-store")
    Bm25Store.init(spark, docs.filter(!isBatch), store)

    val arriving = docs.filter(isBatch)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(arriving.length >= 4, "fixture needs a non-trivial ingest slice")
    val (b1, b2) = arriving.splitAt(arriving.length / 2)

    val input = MemoryStream[(Long, String)]
    val q = Bm25Ingest.maintainBm25Store(
      input.toDF().toDF("doc_id", "text"), store, tmp("bm25-ckpt"))
    input.addData(b1.toSeq: _*); q.processAllAvailable()
    input.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()

    val full = tmp("bm25-full")
    Bm25Store.init(spark, docs, full)
    def postingRows(dir: String) = Bm25Store.postings(spark, dir)
      .select(col("t"), col("doc_id"), col("tf"), col("dl")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(postingRows(store) === postingRows(full),
      "streamed folds must equal the full rebuild's postings")
    assert(Bm25Store.stats(spark, store).collect() ===
      Bm25Store.stats(spark, full).collect())

    // at-least-once replay: re-fold the LAST batch id with the same
    // rows — both tables must stay file-identical
    def files(): Set[(String, Long)] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .filter(!_.getFileName.toString.startsWith("_meta"))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toSet
      } finally st.close()
    }
    val before = files()
    Bm25Store.foldBatch(spark, store, b2.toSeq.toDF("doc_id", "text"), 1L)
    assert(files() === before,
      "a replayed micro-batch must leave the store file-identical")
    assert(postingRows(store) === postingRows(full),
      "replay must not duplicate postings")
  }

  test("scd2 stream: streamed folds == full build; replay idempotent (r15)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.Scd2Stream

    val all = graft.analytics.Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_custkey").as("custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        col("o_orderkey").as("change_key"),
        col("o_orderstatus").as("status"))
    val k = Seq("custkey"); val sq = Seq("valid_from", "change_key")
    val at = Seq("status")
    // two per-key-ordered micro-batches: a date split keeps every
    // key's later changes strictly after its earlier ones
    val rows = all.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getString(3)))
    val (b1, b2) = rows.partition(_._2 < "1996-01-01")
    assert(b1.nonEmpty && b2.nonEmpty, "both stream batches must be non-trivial")

    val store = tmp("scd2-store")
    val input = MemoryStream[(Long, String, Long, String)]
    val q = Scd2Stream.maintainScd2(
      input.toDF().toDF("custkey", "valid_from", "change_key", "status"),
      k, sq, at, store, tmp("scd2-ckpt"))
    input.addData(b1.toSeq: _*); q.processAllAvailable()
    input.addData(b2.toSeq: _*); q.processAllAvailable()
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), Option(r.getString(4)), r.getInt(5))).toSet
    val served = canon(Scd2Stream.serveScd2(spark, store))
    assert(served === canon(graft.etl.Scd2.build(all, k, sq, at)),
      "streamed folds must equal the one-shot build over all changes")

    // at-least-once replay: re-fold the LAST batch id with the same
    // rows — the served table must not change (v1 rebuilt from v0)
    Scd2Stream.foldBatch(
      b2.toSeq.toDF("custkey", "valid_from", "change_key", "status"),
      1L, k, sq, at, store)
    assert(canon(Scd2Stream.serveScd2(spark, store)) === served,
      "a replayed micro-batch must leave the served table row-identical")
  }

  test("attribution stream: streamed folds == batch perConversion; " +
      "state bounded; replay idempotent (r16)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AttributionStream
    import graft.analytics.Attribution

    val chs = Seq("click", "view")
    val L = 7L * 86400 * 1000000
    val base = graft.analytics.Tables.events(spark, "/root/testdata/sf0.001")
    val raw = base
      .filter(col("event_type").isin("click", "view", "purchase") &&
        col("user_id").isNotNull && col("event_id").isNotNull)
      .select(col("user_id").as("user"),
        graft.analytics.Tables.tsUs(base).as("ts"),
        col("event_type").as("channel"), col("event_id").as("tie"))
    val rows = raw.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // three ten-day micro-batches (wider than the 7-day lookback, so
    // the horizon prune genuinely drops state rows between folds); a
    // time split keeps every user's stream append-only
    val cuts = Seq(1704931200000000L, 1705795200000000L)
    val batches = Seq(rows.filter(_._2 < cuts(0)),
      rows.filter(r => r._2 >= cuts(0) && r._2 < cuts(1)),
      rows.filter(_._2 >= cuts(1)))
    assert(batches.forall(_.nonEmpty), "all three batches must be non-trivial")

    val store = tmp("attr-store"); val credits = tmp("attr-credits")
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = AttributionStream.maintainAttribution(
      input.toDF().toDF("user", "ts", "channel", "tie"),
      chs, "purchase", L, store, credits, tmp("attr-ckpt"))
    batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(r.fieldIndex("cid")) -> (
        r.getLong(r.fieldIndex("n_touches")),
        Option(r.getString(r.fieldIndex("first_ch"))),
        Option(r.getString(r.fieldIndex("last_ch"))),
        Option(r.get(r.fieldIndex("lin_click_e6"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("lin_view_e6"))).map(_.asInstanceOf[Long])
      )).toMap
    val served = canon(AttributionStream.serveCredits(spark, credits))
    val batchTwin = canon(Attribution.perConversion(
      raw.filter(col("channel").isin(chs: _*)),
      raw.filter(col("channel") === "purchase")
        .select(col("user"), col("ts"), col("tie").as("cid")),
      chs, lit(L)))
    assert(served.size === batchTwin.size && served === batchTwin,
      "streamed credits must equal the one-shot batch attribution")

    // bounded state: the final version holds only horizon rows + one
    // sentinel per user — strictly fewer than the full touch history
    val touchTotal = rows.count(r => chs.contains(r._3))
    val storeRoot = java.nio.file.Paths.get(store)
    def fullState() = graft.streaming.BucketedStateStore
      .readAll(spark, storeRoot, "attribution")
    val stateRows = fullState().count()
    assert(stateRows < touchTotal,
      s"horizon prune must drop rows ($stateRows vs $touchTotal touches)")

    // at-least-once replay of the LAST batch id: credits and state
    // must both stay row-identical (v2 rebuilt from v1)
    AttributionStream.foldBatch(
      batches(2).toSeq.toDF("user", "ts", "channel", "tie"),
      2L, chs, "purchase", L, store, credits)
    assert(canon(AttributionStream.serveCredits(spark, credits)) === served,
      "a replayed micro-batch must leave the credit output row-identical")
    assert(fullState().count() === stateRows)

    // the served credits carry the window counts (k_<ch>), so every
    // DOWNSTREAM model rolls up from the stream store without
    // re-touching events: position rollup over served == batch q196
    def posOf(df: org.apache.spark.sql.DataFrame) =
      Attribution.positionByChannel(df, chs).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(posOf(AttributionStream.serveCredits(spark, credits)) ===
      posOf(Attribution.perConversion(
        raw.filter(col("channel").isin(chs: _*)),
        raw.filter(col("channel") === "purchase")
          .select(col("user"), col("ts"), col("tie").as("cid")),
        chs, lit(L), keepCounts = true)),
      "position model over streamed credits drifted from batch")
  }

  test("funnel stream: streamed folds == batch stages; replay idempotent (r16)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.FunnelStream
    import graft.analytics.Funnel

    val steps = Seq("signup", "click", "purchase")
    val L = 7L * 86400 * 1000000
    val base = graft.analytics.Tables.events(spark, "/root/testdata/sf0.001")
    val raw = base
      .filter(col("event_type").isin(steps: _*) &&
        col("user_id").isNotNull)
      .select(col("user_id").as("user"),
        graft.analytics.Tables.tsUs(base).as("ts"),
        col("event_type").as("step"))
    val rows = raw.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2)))
    val cuts = Seq(1704931200000000L, 1705795200000000L)
    val batches = Seq(rows.filter(_._2 < cuts(0)),
      rows.filter(r => r._2 >= cuts(0) && r._2 < cuts(1)),
      rows.filter(_._2 >= cuts(1)))
    assert(batches.forall(_.nonEmpty))

    val store = tmp("funnel-store")
    val input = MemoryStream[(Long, Long, String)]
    val q = FunnelStream.maintainFunnel(
      input.toDF().toDF("user", "ts", "step"),
      steps, L, store, tmp("funnel-ckpt"))
    batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val served = canon(FunnelStream.serveSummary(spark, store, steps))
    assert(served === canon(Funnel.summary(
      Funnel.stages(raw, steps, lit(L)), steps)),
      "streamed funnel summary must equal the one-shot batch build")
    // replay of the last batch id leaves the served report identical
    FunnelStream.foldBatch(
      batches(2).toSeq.toDF("user", "ts", "step"), 2L, steps, L, store)
    assert(canon(FunnelStream.serveSummary(spark, store, steps)) === served)
  }

  test("bucketed state store: a fold writes ONLY touched buckets; " +
      "untouched buckets are referenced, not copied; layered prune + " +
      "compact (r17)") {
    import spark.implicits._
    import graft.streaming.{BucketedStateStore, FunnelStream}
    import graft.analytics.Funnel

    val steps = Seq("a", "b")
    val L = 1000L
    val store = tmp("bucketed-store")
    val root = java.nio.file.Paths.get(store)
    // batch 0: 200 users spread across most of the 64 buckets
    val b0 = (1L to 200L).map(u => (u, 10L * u, "a"))
    val s0 = FunnelStream.foldBatch(b0.toDF("user", "ts", "step"),
      0L, steps, L, store)
    assert(s0.touched > 40, s"200 users must spread buckets, ${s0.touched}")
    // batch 1: ONE user — exactly one bucket rewritten, bytes a small
    // fraction of the full-state publication the r16 store would do
    val b1 = Seq((7L, 100L, "b"))
    val s1 = FunnelStream.foldBatch(b1.toDF("user", "ts", "step"),
      1L, steps, L, store)
    assert(s1.touched === 1,
      s"1-user batch must rewrite exactly 1 bucket, got ${s1.touched}")
    assert(s1.bytesWritten < s0.bytesWritten / 10,
      s"1-bucket publication (${s1.bytesWritten} B) must be a small " +
        s"fraction of the 0-batch's full write (${s0.bytesWritten} B)")
    // batch 1 publishes slot v2 (fold versions are 2·id — odd slots
    // belong to compactions) holding exactly one _sb= dir; every other
    // bucket is served from v0 through the manifest
    val v1Dirs = java.nio.file.Files.list(root.resolve("v2")).toArray
      .map(_.toString).count(_.contains("_sb="))
    assert(v1Dirs === 1)
    // served state == one-shot batch rebuild over all events
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val all = (b0 ++ b1).toDF("user", "ts", "step")
    val rebuilt = canon(Funnel.fold(Funnel.initState(all, steps), all,
      steps, lit(L)))
    assert(canon(BucketedStateStore.readAll(spark, root, "t")) === rebuilt)
    // layered retention: prune(keep=1) keeps v2 AND v0 (v2's manifest
    // still references v0's buckets)
    BucketedStateStore.prune(store, keep = 1)
    assert(java.nio.file.Files.isDirectory(root.resolve("v0")),
      "a version owning live buckets must survive prune")
    // compact rewrites everything self-contained into the ODD slot
    // above the latest fold; then prune retires the layers and the
    // state is unchanged
    val cv = BucketedStateStore.compact(spark, store, Seq("user"))
    assert(cv === 3L, s"compaction of v2 must claim slot v3, got $cv")
    BucketedStateStore.prune(store, keep = 1)
    assert(!java.nio.file.Files.isDirectory(root.resolve("v0")) &&
      !java.nio.file.Files.isDirectory(root.resolve("v2")),
      "compacted layers must be prunable")
    assert(java.nio.file.Files.isDirectory(root.resolve(s"v$cv")))
    assert(canon(BucketedStateStore.readAll(spark, root, "t")) === rebuilt,
      "compaction must preserve the state")
    // LIVE-store compaction: the next micro-batch must fold ON TOP of
    // the compacted version, not mistake it for its own stale replay
    // output and reinitialize from one batch (the compaction slot is
    // outside the batch-id namespace precisely for this)
    val b2 = Seq((7L, 200L, "a"), (300L, 5L, "a"))
    FunnelStream.foldBatch(b2.toDF("user", "ts", "step"),
      2L, steps, L, store)
    val all3 = (b0 ++ b1 ++ b2).toDF("user", "ts", "step")
    assert(canon(BucketedStateStore.readAll(spark, root, "t")) ===
      canon(Funnel.fold(Funnel.initState(all3, steps), all3,
        steps, lit(L))),
      "a fold after compact+prune must keep the compacted state")
    // compacting a compaction is a no-op (already self-contained)
    val cv2 = BucketedStateStore.compact(spark, store, Seq("user"))
    assert(cv2 === 5L && BucketedStateStore.compact(spark, store,
      Seq("user")) === 5L)
  }

  test("markov stream: streamed cell folds == one-shot markovByChannel; " +
      "replay idempotent (r17)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AttributionStream
    import graft.analytics.Attribution

    val chs = Seq("click", "view")
    val base = graft.analytics.Tables.events(spark, "/root/testdata/sf0.001")
    val raw = base
      .filter(col("event_type").isin("click", "view", "purchase") &&
        col("user_id").isNotNull && col("event_id").isNotNull)
      .select(col("user_id").as("user"),
        graft.analytics.Tables.tsUs(base).as("ts"),
        col("event_type").as("channel"), col("event_id").as("tie"))
    val rows = raw.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cuts = Seq(1704931200000000L, 1705795200000000L)
    val batches = Seq(rows.filter(_._2 < cuts(0)),
      rows.filter(r => r._2 >= cuts(0) && r._2 < cuts(1)),
      rows.filter(_._2 >= cuts(1)))
    assert(batches.forall(_.nonEmpty))

    val fdir = tmp("mk-frontier"); val cdir = tmp("mk-cells")
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = AttributionStream.maintainMarkov(
      input.toDF().toDF("user", "ts", "channel", "tie"),
      chs, "purchase", fdir, cdir, tmp("mk-ckpt"))
    batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val served = canon(AttributionStream.serveMarkov(spark, cdir,
      "click", "view"))
    val oneShot = canon(Attribution.markovByChannel(
      raw.filter(col("channel").isin(chs: _*)),
      raw.filter(col("channel") === "purchase")
        .select(col("user"), col("ts")), "click", "view"))
    assert(served === oneShot,
      "streamed markov report must equal the one-shot chain")

    // at-least-once replay of the LAST batch id: both stores rebuild
    // from strictly-below versions — served report identical
    AttributionStream.foldMarkovBatch(
      batches(2).toSeq.toDF("user", "ts", "channel", "tie"),
      2L, chs, "purchase", fdir, cdir)
    assert(canon(AttributionStream.serveMarkov(spark, cdir,
      "click", "view")) === served,
      "a replayed micro-batch must leave the markov report identical")

    // retention: the cell sidecar would otherwise grow one v<id> per
    // trigger forever; pruneMarkov drops superseded versions on both
    // stores without changing the served report
    AttributionStream.pruneMarkov(fdir, cdir)
    val cellVs = graft.etl.Commit.versions(
      java.nio.file.Paths.get(cdir)).sorted
    assert(cellVs === Seq(1L, 2L),
      s"pruneMarkov must keep the newest two cell versions, $cellVs")
    assert(canon(AttributionStream.serveMarkov(spark, cdir,
      "click", "view")) === served,
      "pruning must not change the served markov report")

    // the SAME maintained cell store serves the N-channel Jacobi
    // recipe (q207's serve half) — the state is channel-agnostic
    assert(canon(AttributionStream.serveMarkovN(spark, cdir, chs)) ===
      canon(Attribution.markovNByChannel(
        raw.filter(col("channel").isin(chs: _*)),
        raw.filter(col("channel") === "purchase")
          .select(col("user"), col("ts")), chs)),
      "N-channel serve over maintained cells drifted from one-shot q202")
  }

  test("decay stream: streamed totals == one-shot q198 pair plan; " +
      "replay idempotent (r17)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AttributionStream
    import graft.analytics.Attribution

    val chs = Seq("click", "view")
    val L = 7L * 86400000000L
    val base = graft.analytics.Tables.events(spark, "/root/testdata/sf0.001")
    val raw = base
      .filter(col("event_type").isin("click", "view", "purchase") &&
        col("user_id").isNotNull && col("event_id").isNotNull)
      .select(col("user_id").as("user"),
        graft.analytics.Tables.tsUs(base).as("ts"),
        col("event_type").as("channel"), col("event_id").as("tie"))
    val rows = raw.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cuts = Seq(1704931200000000L, 1705795200000000L)
    val batches = Seq(rows.filter(_._2 < cuts(0)),
      rows.filter(r => r._2 >= cuts(0) && r._2 < cuts(1)),
      rows.filter(_._2 >= cuts(1)))
    assert(batches.forall(_.nonEmpty))

    val hdir = tmp("dc-horizon"); val tdir = tmp("dc-totals")
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = AttributionStream.maintainDecay(
      input.toDF().toDF("user", "ts", "channel", "tie"),
      chs, "purchase", L, hdir, tdir, tmp("dc-ckpt"))
    batches.foreach { b => input.addData(b.toSeq: _*); q.processAllAvailable() }
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val served = canon(AttributionStream.serveDecay(spark, tdir, chs))
    // one-shot twin: a single fold over everything IS q198's pair plan
    val (h0, t0) = Attribution.decayInitState(raw.limit(0))
    val (_, oneTotals) = Attribution.decayFold(h0, t0,
      raw.filter(col("channel").isin(chs: _*)),
      raw.filter(col("channel") === "purchase")
        .select(col("user"), col("ts")), L)
    assert(served === canon(Attribution.decayServe(oneTotals, chs)),
      "streamed decay totals must equal the one-shot pair plan")
    // the horizon state is bounded: strictly fewer rows than touches
    val touchTotal = rows.count(r => chs.contains(r._3))
    val stateRows = graft.streaming.BucketedStateStore
      .readAll(spark, java.nio.file.Paths.get(hdir), "decay").count()
    assert(stateRows < touchTotal,
      s"horizon prune must drop rows ($stateRows vs $touchTotal)")

    // at-least-once replay of the LAST batch id
    AttributionStream.foldDecayBatch(
      batches(2).toSeq.toDF("user", "ts", "channel", "tie"),
      2L, chs, "purchase", L, hdir, tdir)
    assert(canon(AttributionStream.serveDecay(spark, tdir, chs)) ===
      served, "a replayed micro-batch must leave the report identical")
    AttributionStream.pruneDecay(hdir, tdir)
    assert(canon(AttributionStream.serveDecay(spark, tdir, chs)) ===
      served, "pruning must not change the served decay report")
  }

  test("credit sink compaction: batch dirs merge into the versioned " +
      "store, served rows identical, replay of the live id still " +
      "idempotent (r17)") {
    import spark.implicits._
    import graft.streaming.AttributionStream

    val chs = Seq("click", "view")
    val L = 1000000L
    val store = tmp("cc-store"); val credits = tmp("cc-credits")
    // serve before any batch: descriptive error, not a raw parquet one
    val err = intercept[IllegalArgumentException] {
      AttributionStream.serveCredits(spark, credits)
    }
    assert(err.getMessage.contains("no credited batches"))

    // three micro-batches: touches then a conversion per user-epoch
    def batch(id: Long, users: Seq[Long], t0: Long) = {
      val rows = users.flatMap(u => Seq(
        (u, t0, "click", 10 * t0 + u),
        (u, t0 + 1, "view", 10 * t0 + 100 + u),
        (u, t0 + 2, "purchase", 10 * t0 + 200 + u)))
      AttributionStream.foldBatch(rows.toDF("user", "ts", "channel", "tie"),
        id, chs, "purchase", L, store, credits)
    }
    batch(0L, Seq(1L, 2L, 3L), 1000L)
    batch(1L, Seq(2L, 4L), 5000L)
    batch(2L, Seq(1L, 5L), 9000L)
    def canon() = AttributionStream.serveCredits(spark, credits)
      .collect().map(_.toSeq).toSet
    val before = canon()
    assert(before.size === 7, s"7 conversions credited, ${before.size}")
    // served credits carry their micro-batch provenance (and keep it
    // through compaction below — `before` embeds the batch values)
    val provenance = AttributionStream.serveCredits(spark, credits)
      .groupBy("batch").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(provenance === Map(0L -> 3L, 1L -> 2L, 2L -> 2L),
      s"batch provenance column drifted: $provenance")

    val through = AttributionStream.compactCredits(spark, credits)
    assert(through === 1L)
    val croot = java.nio.file.Paths.get(credits)
    assert(!java.nio.file.Files.isDirectory(croot.resolve("batch=0")) &&
      !java.nio.file.Files.isDirectory(croot.resolve("batch=1")),
      "compacted batch dirs must be deleted")
    assert(java.nio.file.Files.isDirectory(croot.resolve("batch=2")),
      "the newest (replayable) batch dir must survive")
    assert(canon() === before,
      "compaction must not change the served credits")

    // at-least-once replay of the live id after compaction
    batch(2L, Seq(1L, 5L), 9000L)
    assert(canon() === before,
      "a replayed live batch must leave served credits row-identical")
    // second compaction is a no-op on rows (nothing newly compactable)
    AttributionStream.compactCredits(spark, credits)
    assert(canon() === before)
  }

  test("flags sink compaction: batch dirs merge into the versioned " +
      "store, served flags row-identical, stale replay of an " +
      "already-compacted id excluded (r18)") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val out = tmp("flags-compact") + "/flags"
    // serve before any batch: descriptive error, not a raw parquet one
    val err = intercept[IllegalArgumentException] {
      EventStreams.serveFlags(spark, out)
    }
    assert(err.getMessage.contains("no flag batches"))

    def flags(ty: String, n: Long) = Seq(
      (new java.sql.Timestamp(0L), ty, n, 10L, 2L, 1))
      .toDF("hour", "event_type", "n", "med", "mad", "anomalous")
    EventStreams.writeFlagsBatch(flags("click", 20L), out, 0L)
    EventStreams.writeFlagsBatch(flags("view", 99L), out, 1L)
    EventStreams.writeFlagsBatch(flags("click", 7L), out, 2L)
    def canon() = EventStreams.serveFlags(spark, out)
      .collect().map(_.toSeq).toSet
    val before = canon()
    assert(before.size === 3)

    val through = EventStreams.compactFlags(spark, out)
    assert(through === 1L)
    val root = java.nio.file.Paths.get(out)
    assert(!java.nio.file.Files.isDirectory(root.resolve("batch=0")) &&
      !java.nio.file.Files.isDirectory(root.resolve("batch=1")),
      "compacted batch dirs must be deleted")
    assert(java.nio.file.Files.isDirectory(root.resolve("batch=2")),
      "the newest (replayable) batch dir must survive")
    assert(canon() === before,
      "compaction must not change the served flags (provenance included)")

    // a STALE at-least-once replay re-materializes an already-compacted
    // id (crash between the sink write and the checkpoint commit, then
    // a delayed restart): its rows are already in the compacted store,
    // so serve must EXCLUDE the directory, not double-serve it — and
    // the next compaction sweeps it without re-merging
    EventStreams.writeFlagsBatch(flags("view", 99L), out, 1L)
    assert(canon() === before,
      "a stale replay below the watermark must not double-serve")
    EventStreams.compactFlags(spark, out)
    assert(!java.nio.file.Files.isDirectory(root.resolve("batch=1")),
      "the next compaction must sweep the stale replay dir")
    assert(canon() === before)

    // growth is bounded: new batches + compaction keep ONE live batch
    // dir + the _compacted store, rows always served exactly once
    EventStreams.writeFlagsBatch(flags("signup", 3L), out, 3L)
    EventStreams.compactFlags(spark, out)
    val dirs = java.nio.file.Files.list(root).iterator()
    val names = {
      import scala.jdk.CollectionConverters._
      dirs.asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSet // hidden: Commit staging
    }
    assert(names === Set("batch=3", "_compacted"),
      s"sink must stay bounded at one live dir + compacted store: $names")
    assert(canon().size === 4)
  }

  test("graph stream: streamed edge folds == one-batch fold, replay " +
      "idempotent, ranks served from maintained state (r18)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.analytics.EdgeFold
    import graft.streaming.GraphStream
    val store = tmp("edges-store")
    val input = MemoryStream[(Long, Long)]
    val q = GraphStream.maintainEdges(input.toDF().toDF("src", "dst"),
      store, tmp("edges-ckpt"), buckets = 8)
    // parallel edge (0,1) recurs across batches — weights must add
    val b1 = Seq((0L, 1L), (1L, 0L), (0L, 1L))
    val b2 = Seq((2L, 3L), (3L, 2L), (0L, 1L))
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def weights(dir: String) = EdgeFold.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val served = weights(store)
    assert(served === Map((0L, 1L) -> 3L, (1L, 0L) -> 1L,
      (2L, 3L) -> 1L, (3L, 2L) -> 1L))
    val oneDir = tmp("edges-one")
    EdgeFold.fold((b1 ++ b2).toDF("src", "dst"), 1L, oneDir, buckets = 8)
    assert(served === weights(oneDir),
      "streamed folds must equal the one-batch fold (associativity)")
    // at-least-once replay of the last micro-batch id
    EdgeFold.fold(b2.toDF("src", "dst"), 1L, store, buckets = 8)
    assert(weights(store) === served,
      "a replayed micro-batch must leave the maintained edges identical")
    GraphStream.prune(store)
    assert(weights(store) === served)
  }

  test("auto-compaction hook: N triggers with autoCompactEvery=k keep " +
      "at most k live batch dirs + one compacted store (r19)") {
    import spark.implicits._
    import graft.streaming.{AttributionStream, BatchDirSink}
    val chs = Seq("click", "view")
    val store = tmp("ac-store"); val credits = tmp("ac-credits")
    val every = 2
    // the exact foreachBatch body maintainAttribution wires: fold the
    // batch, then maybeCompact — driven directly so the trigger count
    // is deterministic
    def trigger(id: Long, u: Long, t0: Long): Unit = {
      val rows = Seq((u, t0, "click", t0 + u),
        (u, t0 + 2, "purchase", t0 + 200 + u))
      AttributionStream.foldBatch(rows.toDF("user", "ts", "channel", "tie"),
        id, chs, "purchase", 1000000L, store, credits)
      BatchDirSink.maybeCompact(spark, credits, id, every)
      ()
    }
    (0L until 7L).foreach(i => trigger(i, 100L + i, 1000L * (i + 1)))
    def liveDirs() = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(credits))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted
      finally st.close()
    }
    // last compaction fired at id=6, merging everything below: one
    // live dir; in general ≤ every live dirs at any point
    assert(liveDirs() === Seq("batch=6"),
      s"auto-compaction must bound the sink: ${liveDirs()}")
    val served = AttributionStream.serveCredits(spark, credits)
      .collect().map(_.toSeq).toSet
    assert(served.size === 7, "every trigger's conversion still served")
    // stale replay of an already-compacted id stays excluded
    trigger(3L, 103L, 4000L)
    assert(AttributionStream.serveCredits(spark, credits)
      .collect().map(_.toSeq).toSet === served,
      "a stale replay below the auto-compaction watermark must not " +
        "double-serve")
  }

  test("serve vs concurrent compact: the watermark re-check retries " +
      "instead of silently missing merged rows (r18 ADVICE)") {
    import spark.implicits._
    import graft.streaming.{BatchDirSink, EventStreams}
    val out = tmp("race-flags") + "/flags"
    def flags(ty: String, n: Long) = Seq(
      (new java.sql.Timestamp(0L), ty, n, 10L, 2L, 1))
      .toDF("hour", "event_type", "n", "med", "mad", "anomalous")
    (0L to 3L).foreach(i => EventStreams.writeFlagsBatch(
      flags(s"t$i", i * 10), out, i))
    val before = EventStreams.serveFlags(spark, out)
      .collect().map(_.toSeq).toSet
    assert(before.size === 4)
    // inject a compact into the window between serve's dir listing and
    // its watermark re-check — the exact interleave that deleted the
    // merged dirs out from under the stale (watermark, dirs) pair
    var fired = false
    BatchDirSink.raceSeam = () => if (!fired) {
      fired = true
      EventStreams.compactFlags(spark, out)
    }
    try {
      val raced = EventStreams.serveFlags(spark, out)
        .collect().map(_.toSeq).toSet
      assert(fired, "the seam must have fired inside serve")
      assert(raced === before,
        "serve racing a compact must retry and return ALL rows — " +
          "missing rows are exactly the silent loss the re-check closes")
    } finally BatchDirSink.raceSeam = () => ()
  }

  test("pre-provenance credits: sentinel stamped at serve time and " +
      "persisted by migratePreProvenance; no null batch group (r19)") {
    import spark.implicits._
    import graft.streaming.BatchDirSink
    val dir = tmp("preprov") + "/credits"
    // a store whose compacted rows were written by the release that
    // null-filled pre-provenance rows: _compacted/v0 with null batch
    val root = java.nio.file.Paths.get(dir, "_compacted", "v0")
    java.nio.file.Files.createDirectories(root.getParent)
    Seq((1L, "click", 10L, Option.empty[Long]),
        (2L, "view", 20L, Option.empty[Long]),
        (3L, "click", 30L, Some(7L)))
      .toDF("user", "channel", "credit", "batch")
      .write.parquet(root.resolve("rows").toString)
    java.nio.file.Files.writeString(root.resolve("through"), "7")
    // one live batch above the watermark
    Seq((4L, "view", 40L)).toDF("user", "channel", "credit")
      .write.parquet(s"$dir/batch=8")

    val stamped = BatchDirSink.migratePreProvenance(spark, dir)
    assert(stamped === 2L, s"exactly the null rows stamp: $stamped")
    val served = BatchDirSink.serve(spark, dir, "credited")
    assert(served.filter(col("batch").isNull).count() === 0,
      "migrated store must serve zero null-batch rows")
    assert(served.count() === 4, "row counts identical across migration")
    assert(served.filter(col("batch") === BatchDirSink.PreProvenanceBatch)
      .count() === 2, "stamped rows carry the sentinel")
    // re-compaction preserves the sentinel as an ordinary value
    Seq((5L, "click", 50L)).toDF("user", "channel", "credit")
      .write.parquet(s"$dir/batch=9")
    BatchDirSink.compact(spark, dir)
    val after = BatchDirSink.serve(spark, dir, "credited")
    assert(after.count() === 5)
    assert(after.filter(col("batch") === BatchDirSink.PreProvenanceBatch)
      .count() === 2, "re-compaction must preserve the sentinel")
    // idempotent: nothing left to migrate
    assert(BatchDirSink.migratePreProvenance(spark, dir) === 0L)
  }

  test("scheme migration: tag-less slot-shaped manifests stamp in " +
      "place; genuinely pre-slot layouts still rebuild (r18 ADVICE)") {
    import spark.implicits._
    import graft.streaming.BucketedStateStore
    val dir = tmp("scheme-migrate")
    def fold(id: Long, rows: Seq[(Long, Long)]) =
      BucketedStateStore.foldBatch(rows.toDF("k", "v"), id, dir,
        Seq("k"), 4,
        init = identity,
        fold = (s, b) => s.unionByName(b))
    fold(1L, Seq((1L, 10L), (2L, 20L)))
    fold(2L, Seq((3L, 30L)))
    val before = BucketedStateStore.readAll(spark,
      java.nio.file.Paths.get(dir), "test").collect().map(_.toSeq).toSet
    // strip the scheme tag the way the pre-tagging release wrote
    // manifests (layout identical, tag absent)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
      .asScala.filter(_.getFileName.toString.startsWith("v"))
      .foreach { v =>
        val mf = v.resolve("_manifest")
        val kept = java.nio.file.Files.readAllLines(mf).asScala
          .filterNot(_.startsWith("scheme="))
        java.nio.file.Files.write(mf, kept.asJava)
      }
    val err = intercept[IllegalArgumentException] {
      BucketedStateStore.readAll(spark,
        java.nio.file.Paths.get(dir), "test")
    }
    assert(err.getMessage.contains("migrateScheme"),
      s"tag-less manifest must point at the migration, not a rebuild: " +
        err.getMessage)
    assert(BucketedStateStore.migrateScheme(dir) === 2,
      "both versions stamp")
    assert(BucketedStateStore.readAll(spark,
      java.nio.file.Paths.get(dir), "test").collect().map(_.toSeq).toSet
      === before, "migration must not change the state")
    assert(BucketedStateStore.migrateScheme(dir) === 0, "idempotent")
    // a genuinely pre-slot layout (no manifest at all) cannot migrate
    val legacy = java.nio.file.Files.createTempDirectory("graft-preslot")
    Seq((1L, 10L)).toDF("k", "v").write
      .parquet(legacy.resolve("v1").toString)
    val err2 = intercept[IllegalArgumentException] {
      BucketedStateStore.migrateScheme(legacy.toString)
    }
    assert(err2.getMessage.contains("Rebuild"),
      s"pre-slot layout must still demand a rebuild: ${err2.getMessage}")
    graft.etl.Commit.deleteRecursively(legacy)
  }

  test("bucketed-files state: the composed bucketed-table read equals " +
      "the generic read, in-state degrees exact, compaction keeps the " +
      "mode (r19)") {
    import spark.implicits._
    import graft.analytics.EdgeFold
    import graft.streaming.BucketedStateStore
    val dir = tmp("bktfiles")
    EdgeFold.fold(Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 0L))
      .toDF("src", "dst"), 1L, dir, buckets = 8)
    EdgeFold.fold(Seq((0L, 1L), (2L, 0L)).toDF("src", "dst"),
      2L, dir, buckets = 8)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val generic = canon(EdgeFold.edges(spark, dir))
    val bucketed = canon(EdgeFold.degreedEdgesBucketed(spark, dir))
    assert(bucketed === generic,
      "the bucketed-table composition must serve exactly the state")
    // degrees maintained in-state: d = Σw per src
    assert(generic === Set(
      Seq(0L, 1L, 3L, 4L), Seq(0L, 2L, 1L, 4L),
      Seq(1L, 0L, 1L, 1L), Seq(2L, 0L, 1L, 1L)),
      s"weights/degrees drifted: $generic")
    // compaction preserves the bucketed-files mode
    BucketedStateStore.compact(spark, dir, Seq("src"))
    assert(canon(EdgeFold.degreedEdgesBucketed(spark, dir)) === generic,
      "a compacted bucketed-files store must still read as a " +
        "bucketed table")
    // a plain (non-bucketed-files) store refuses the bucketed read
    val plain = tmp("bktfiles-plain")
    BucketedStateStore.foldBatch(Seq((1L, 1L)).toDF("k", "v"), 1L,
      plain, Seq("k"), 4, init = identity,
      fold = (s, b) => s.unionByName(b))
    val err = intercept[RuntimeException] {
      BucketedStateStore.readLatestBucketedTable(spark, plain, "test")
    }
    assert(err.getMessage.contains("bucketedFiles"),
      s"plain store must refuse with the re-publish hint: ${err.getMessage}")
  }

  test("readLatestBucketedTable drops the superseded version's catalog " +
      "table — a fold+serve loop keeps the session catalog bounded (r20)") {
    import spark.implicits._
    import graft.analytics.EdgeFold
    import graft.streaming.BucketedStateStore
    val dir = tmp("bktcatalog")
    def stateTables() = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_state_")).toSet
    val before = stateTables()
    // a serve-after-every-fold loop: without the drop, each iteration
    // leaves one more graft_state_<hash> table in the session catalog
    (1 to 4).foreach { i =>
      EdgeFold.fold(Seq((i.toLong, 0L), (0L, i.toLong))
        .toDF("src", "dst"), i.toLong, dir, buckets = 8)
      // force the serve inside the cycle — the drop contract requires
      // the previous frame to have been consumed before the next read
      assert(EdgeFold.degreedEdgesBucketed(spark, dir).count() === 2L * i)
    }
    val grown = stateTables() -- before
    assert(grown.size === 1,
      s"expected ONE live table for this store, got: $grown")
    // re-reading the same version re-registers the same table — no churn
    EdgeFold.degreedEdgesBucketed(spark, dir).count()
    assert((stateTables() -- before) === grown,
      "a same-version re-read must reuse the registration")
  }

  test("bucketed state store: pre-slot-scheme layouts are rejected " +
      "loudly, never silently double-folded (r18)") {
    import spark.implicits._
    import graft.streaming.BucketedStateStore
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy-store")
    // a store as PRE-slot code wrote it: raw v<id> full-state parquet,
    // no manifest — replaying batch 1 under the slot scheme would
    // resolve prevVersion = latestBefore(2) = v1, the batch's OWN old
    // output, and silently double-fold
    Seq((1L, 10L)).toDF("k", "v").write
      .parquet(dir.resolve("v1").toString)
    val err = intercept[IllegalArgumentException] {
      BucketedStateStore.foldBatch(
        Seq((1L, 5L)).toDF("k", "v"), 1L, dir.toString, Seq("k"), 4,
        init = identity, fold = (s, b) => s.unionByName(b))
    }
    assert(err.getMessage.contains("pre-bucketed") ||
      err.getMessage.contains("_manifest"),
      s"legacy layout must fail with a rebuild instruction: ${err.getMessage}")
    // a manifest from a hypothetical OTHER scheme is rejected too
    val v3 = dir.resolve("v3")
    java.nio.file.Files.createDirectories(v3)
    java.nio.file.Files.writeString(v3.resolve("_manifest"),
      "buckets=4\nb0=3\n")
    val err2 = intercept[IllegalArgumentException] {
      BucketedStateStore.readAll(spark, dir, "test")
    }
    assert(err2.getMessage.contains("scheme"),
      s"unmarked manifest must name the scheme gap: ${err2.getMessage}")
    graft.etl.Commit.deleteRecursively(dir)
  }

}
