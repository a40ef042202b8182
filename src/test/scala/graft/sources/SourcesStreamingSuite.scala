package graft.sources

import graft.SparkTestBase
import graft.media.Multimodal
import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

class SourcesStreamingSuite extends SparkTestBase {

  test("autoRead sniffs csv/json/parquet and applies per-format defaults") {
    val dir = tmpDir("src_sniff")
    Files.write(Paths.get(dir, "a.csv"), "x,y\n1,foo\n2,bar\n".getBytes)
    val csv = Readers.autoRead(spark, dir + "/a.csv")
    assert(csv.columns.toSeq == Seq("x", "y")) // header honored
    assert(csv.count() == 2)
    assert(csv.schema("x").dataType.typeName == "integer") // inferSchema

    val jdir = tmpDir("src_json")
    Files.write(Paths.get(jdir, "b.json"), "{\"k\": 1}\n{\"k\": 2}\n".getBytes)
    assert(Readers.sniffFormat(jdir) == "json")
    assert(Readers.autoRead(spark, jdir).count() == 2)

    val spark2 = spark
    import spark2.implicits._
    val pdir = tmpDir("src_parq")
    Seq((1, "a")).toDF("i", "s").write.mode("overwrite").parquet(pdir)
    assert(Readers.sniffFormat(pdir) == "parquet")
    assert(Readers.autoRead(spark, pdir).count() == 1)
  }

  test("tpchCsv reads dbgen format with schema, dates, and dummy drop") {
    val dir = tmpDir("src_tpch")
    Files.write(Paths.get(dir, "orders.tbl"),
      ("1|100|O|1234.56|1995-03-15|1-URGENT|Clerk#01|0|note|\n" +
        "2|200|F|99.99|1996-07-01|5-LOW|Clerk#02|0|other|\n").getBytes)
    val df = Readers.tpchCsv(spark, dir + "/orders.tbl", "orders")
    assert(df.columns.length == 9 && !df.columns.contains("_dummy"))
    val r = df.orderBy("o_orderkey").collect()
    assert(r(0).getAs[Int]("o_orderkey") == 1)
    assert(r(0).getAs[Double]("o_totalprice") == 1234.56)
    assert(r(0).getAs[java.sql.Date]("o_orderdate").toString == "1995-03-15")
    assert(r(1).getAs[String]("o_orderpriority") == "5-LOW")
  }

  test("streaming hourly counts equal the batch aggregation (AvailableNow)") {
    val spark2 = spark
    import spark2.implicits._
    val srcDir = tmpDir("stream_src")
    val events = (0 until 2000).map { i =>
      (new java.sql.Timestamp(3600_000L * (i % 5) + (i % 60) * 1000),
        (i % 50).toLong, s"type${i % 3}", i * 0.5)
    }.toDF("ts", "user_id", "event_type", "value")
    events.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream
      .schema(events.schema)
      .parquet(srcDir)
    val agg = EventStream.hourlyCounts(stream, watermark = "0 seconds")
    val q = agg.writeStream
      .format("memory")
      .queryName("hourly_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val got = spark.table("hourly_test")
      .orderBy("hour_ts", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    val want = events
      .groupBy(date_trunc("hour", $"ts").as("hour_ts"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("hour_ts", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq,
      s"stream/batch mismatch: ${got.take(3).toSeq} vs ${want.take(3).toSeq}")
  }

  test("stream-stream interval join matches the batch RangeJoin") {
    val spark2 = spark
    import spark2.implicits._
    val pDir = tmpDir("ij_purch"); val cDir = tmpDir("ij_click")
    val rnd = new scala.util.Random(5)
    val purchases = (0 until 80).map(i =>
      (i.toLong, new java.sql.Timestamp(rnd.nextInt(86400) * 1000L)))
      .toDF("p_id", "p_ts")
    val clicks = (0 until 400).map(i =>
      (i.toLong, new java.sql.Timestamp(rnd.nextInt(86400) * 1000L)))
      .toDF("c_id", "c_ts")
    purchases.write.mode("overwrite").parquet(pDir)
    clicks.write.mode("overwrite").parquet(cDir)

    val joined = EventStream.intervalJoin(
      spark.readStream.schema(purchases.schema).parquet(pDir), "p_ts",
      spark.readStream.schema(clicks.schema).parquet(cDir), "c_ts",
      windowSeconds = 3600, watermark = "0 seconds")
    val q = joined.select("p_id", "c_id")
      .writeStream.format("memory").queryName("ij_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("ij_test").as[(Long, Long)].collect().sorted

    val want = graft.operators.RangeJoin.pointInInterval(
      clicks.select($"c_id", unix_micros($"c_ts").as("cts")), "cts",
      purchases.select($"p_id", unix_micros($"p_ts").as("lo"))
        .withColumn("hi", $"lo" + 3600L * 1000000L), "lo", "hi",
      binWidth = 3600L * 1000000L)
      .select("p_id", "c_id").as[(Long, Long)].collect().sorted
    assert(want.nonEmpty && got.toSeq == want.toSeq,
      s"stream ${got.length} rows vs batch ${want.length}")
  }

  test("sessionization closes sessions on inactivity gaps") {
    val spark2 = spark
    import spark2.implicits._
    // batch-mode check of the session merge logic via groupByKey on a
    // bounded Dataset is not supported for flatMapGroupsWithState with
    // EventTimeTimeout; drive it as a real stream instead.
    val srcDir = tmpDir("sess_src")
    val rows = Seq(
      // user 1: two sessions separated by > 30 min — the second event at
      // 1:30 closes the first session in-batch (gap > 30 min)
      (ts(0, 0), 1L, "a", 1.0), (ts(0, 10), 1L, "a", 2.0),
      (ts(1, 30), 1L, "a", 3.0),
      // user 2: one session (stays open in state — never emitted)
      (ts(0, 5), 2L, "b", 5.0))
      .toDF("ts", "user_id", "event_type", "value")
    // single write => single micro-batch => deterministic event order per
    // group (multiple files can split into batches and the earliest file
    // may then arrive behind the watermark)
    rows.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(rows.schema).parquet(srcDir)
      .as[EventStream.Event]
    val q = EventStream.sessionize(stream, gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val sessions = spark.table("sess_test")
      .orderBy("user_id", "startTs").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("events"),
        r.getAs[Double]("sumValue")))
    // user 1 first session (2 events) must be closed; later sessions may
    // still be open in state depending on the final watermark.
    assert(sessions.contains((1L, 2, 3.0)), sessions.toSeq.toString)
  }

  // offset from epoch 0: the initial watermark is 0 and rows at exactly
  // ts <= watermark are filtered as late
  private def ts(h: Int, m: Int) =
    new java.sql.Timestamp(((h * 60 + m) * 60 + 86400) * 1000L)

  test("stream-static enrichment joins each micro-batch against the dim") {
    val spark2 = spark
    import spark2.implicits._
    val srcDir = tmpDir("stream_enrich")
    val events = (0 until 300).map { i =>
      (new java.sql.Timestamp(1000L * i), (i % 7).toLong, s"type${i % 3}", i * 1.0)
    }.toDF("ts", "user_id", "event_type", "value")
    events.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val dim = (0L until 7L).map(u => (u, s"segment${u % 2}")).toDF("user_id", "segment")

    val enriched = EventStream.enrich(
      spark.readStream.schema(events.schema).parquet(srcDir), dim, "user_id")
      .groupBy($"segment").agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.format("memory").queryName("enrich_test")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.table("enrich_test").orderBy("segment").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = events.join(dim, Seq("user_id")).groupBy($"segment")
      .agg(count(lit(1)).as("n")).orderBy("segment").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"$got vs $want")
  }

  test("streaming upsert sink converges the layout table to latest-wins state") {
    val spark2 = spark
    import spark2.implicits._
    val tableDir = tmpDir("stream_upsert_tbl")
    graft.layout.LayoutWriter.write(
      (1 to 50).map(k => (k.toLong, s"v$k", 0L)).toDF("k", "payload", "version"),
      tableDir,
      graft.layout.LayoutWriter.LayoutSpec("linear", Seq("k"), numFiles = Some(4),
        recordKey = Some("k"), precombineCol = Some("version")))

    // batch stream: updates for k=1..10 (version 2) and inserts k=51..55
    val srcDir = tmpDir("stream_upsert_src")
    ((1 to 10).map(k => (k.toLong, s"upd$k", 2L)) ++
      (51 to 55).map(k => (k.toLong, s"new$k", 1L)))
      .toDF("k", "payload", "version")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val q = EventStream.upsertSink(stream, tableDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.read.parquet(tableDir)
    assert(got.count() == 55)
    assert(got.filter($"k" === 3L).select("payload").as[String].head() == "upd3")
    assert(got.filter($"k" === 20L).select("payload").as[String].head() == "v20",
      "rows outside the batch key range survive")
    assert(got.filter($"k" === 53L).count() == 1)
    assert(graft.layout.ZoneMap.read(tableDir).totalRows == 55)
  }

  test("streaming dedup drops in-watermark duplicate ids") {
    val spark2 = spark
    import spark2.implicits._
    val srcDir = tmpDir("dedup_src")
    val rows = (0 until 1000).map { i =>
      // every third row duplicates the previous id at the same ts
      val id = if (i % 3 == 2) (i - 1).toLong else i.toLong
      (new java.sql.Timestamp(86400_000L + (id % 50) * 60000), id, "e", 1.0)
    }.toDF("ts", "event_id", "event_type", "value")
    rows.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(rows.schema).parquet(srcDir)
    val q = EventStream.dedupeStream(stream, "event_id")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.table("dedup_test").count()
    val want = rows.dropDuplicates("event_id", "ts").count()
    assert(got == want, s"stream dedup $got vs batch $want")
    assert(got < 1000, "duplicates must actually be dropped")
  }

  test("streaming near-dup gate equals the batch band join against the state") {
    val spark2 = spark
    import spark2.implicits._
    import graft.text.TextFunctions._
    // state = the real sf0.001 corpus signatures; arriving docs = the
    // same corpus with ids shifted (every doc is a near-dup and must be
    // dropped) plus clearly-novel word-salad docs that must survive
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stateSig = corpus.select(simhash60(words(col("text"))).as("sh"))
    val arrivals = corpus.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .unionAll((0 until 40).map(i =>
        (200000L + i, s"novel${i}a zz${i}b qq${i}c xx${i}d ww${i}e vv${i}f " * 4))
        .toDF("doc_id", "text"))
    val srcDir = tmpDir("neardup_src")
    arrivals.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(arrivals.schema).parquet(srcDir)
    val gated = EventStream.nearDupGate(stream, stateSig)
    val q = gated.writeStream.format("memory").queryName("neardup_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.table("neardup_test").select("doc_id")
      .as[Long].collect().toSet
    // batch reference: exact hamming<=3 check against the state
    val sh = arrivals.withColumn("sh2", simhash60(words(col("text"))))
    val want = sh.crossJoin(stateSig)
      .withColumn("ham", hamming(col("sh2"), col("sh")))
      .groupBy(col("doc_id")).agg(min(col("ham")).as("mh"))
      .filter(col("mh") > 3)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want,
      s"stream kept ${got.size}, batch kept ${want.size}; diff=${(got diff want).take(5)} ${(want diff got).take(5)}")
    assert(want.exists(_ >= 200000L)) // the novel docs actually survive
    assert(!got.exists(_ < 200000L))  // every shifted near-dup dropped
  }

  test("streaming arrival gate: quality + exact-dup + near-dup vs the Curate state") {
    val spark2 = spark
    import spark2.implicits._
    import graft.text.TextFunctions._
    // real state store from a full Curate build
    val stateDir = tmpDir("gate_state")
    graft.cli.Curate.run(spark, "/root/testdata/sf0.001", stateDir, 100L)
    val state = spark.read.parquet(s"$stateDir/state/docs")
    // arrivals: an exact copy of a curated doc (exact-dup — dropped), a
    // short doc (quality — dropped), near-dups of the corpus (dropped),
    // and novel docs (kept)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val one = corpus.orderBy(col("doc_id")).limit(1)
      .select(lit(500000L).as("doc_id"), col("text"), col("n_chars"))
    val arrivals = corpus
      .select((col("doc_id") + 600000).as("doc_id"), col("text"), col("n_chars"))
      .unionAll(one)
      .unionAll(Seq((700000L, "tiny", 4L)).toDF("doc_id", "text", "n_chars"))
      .unionAll((0 until 20).map(i =>
        (800000L + i, s"fresh${i}a yy${i}b rr${i}c uu${i}d oo${i}e hh${i}f " * 5, 200L))
        .toDF("doc_id", "text", "n_chars"))
    val srcDir = tmpDir("gate_src")
    arrivals.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(arrivals.schema).parquet(srcDir)
    val gated = EventStream.arrivalGate(stream, state)
    val q = gated.writeStream.format("memory").queryName("gate_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("gate_test").select("doc_id").as[Long].collect().toSet

    // batch reference with identical semantics
    val quality = arrivals.filter(col("n_chars") >= 100)
      .withColumn("fp2", md5(col("text")))
      .withColumn("sh2", simhash60(words(col("text"))))
    val exact = quality.join(state.select(col("__h").as("fp2")), Seq("fp2"), "left_anti")
    val want = exact.crossJoin(state.select(col("sh")))
      .withColumn("ham", hamming(col("sh2"), col("sh")))
      .groupBy(col("doc_id")).agg(min(col("ham")).as("mh"))
      .filter(col("mh") > 3).select("doc_id").as[Long].collect().toSet
    assert(got == want,
      s"gate kept ${got.size}, batch kept ${want.size}")
    assert(!got.contains(500000L)) // the exact copy was dropped
    assert(!got.contains(700000L)) // the short doc was dropped
    assert((800000L until 800020L).forall(got.contains)) // novel docs kept
    graft.runner.Materialize.releaseAll()
  }

  test("multimodal: stub decode is deterministic, frames/resize plumb through") {
    val media = Multimodal.synthetic(spark, 90)
    assert(media.count() == 90)
    val feats = Multimodal.decodeStub(media)
    val f1 = feats.filter(_.media_id == 5L).collect()(0)
    val f2 = Multimodal.decodeStub(media).filter(_.media_id == 5L).collect()(0)
    assert(f1.feature.toSeq == f2.feature.toSeq, "stub decode must be deterministic")
    assert(f1.feature.length == Multimodal.FeatureDim)
    assert(math.abs(f1.feature.map(x => x * x.toDouble).sum - 1.0) < 1e-5,
      "features are L2-normalized")

    val frames = Multimodal.sampleFrames(media, everyMs = 500)
    val vids = media.filter(_.kind == "video").collect()
    val expected = vids.map(v => v.durationMs / 500 + 1).sum
    assert(frames.count() == expected)

    val rs = Multimodal.resizePlan(media, maxSide = 64)
    assert(rs.filter(col("out_w") > 64 || col("out_h") > 64).count() == 0)
  }

  test("real PNG decode: JDK ImageIO round-trips the closed-form pattern") {
    val spark2 = spark
    import spark2.implicits._
    val feats = Multimodal.decodeImages(Multimodal.syntheticImages(spark, 20))
      .collect().sortBy(_.media_id)
    assert(feats.length == 20 && feats.forall(_.decodeOk))
    feats.foreach { f =>
      val i = f.media_id
      assert(f.width == 16 + (i % 8).toInt && f.height == 16)
      val expR = (0 until f.width).map(x => (i + x) % 256).sum.toDouble / f.width
      val expG = (0 until 16).map(y => (i + y) % 256).sum.toDouble / 16
      assert(math.abs(f.mean_r - expR) < 1e-9, s"img $i mean_r ${f.mean_r} != $expR")
      assert(math.abs(f.mean_g - expG) < 1e-9)
    }
    // malformed payloads degrade to decodeOk=false, not partition failure
    val bad = Multimodal.decodeImages(
      Seq(Multimodal.ImageRow(99L, Array[Byte](1, 2, 3))).toDS())
      .collect()(0)
    assert(!bad.decodeOk && bad.width == 0)
  }

  test("real WAV decode: javax.sound.sampled round-trips the PCM pattern") {
    val spark2 = spark
    import spark2.implicits._
    val feats = Multimodal.decodeWavs(Multimodal.syntheticWavs(spark, 10))
      .collect().sortBy(_.media_id)
    assert(feats.length == 10 && feats.forall(_.decodeOk))
    feats.foreach { f =>
      val i = f.media_id
      assert(f.sampleRate == 8000)
      assert(f.nSamples == 800 + (i % 5).toInt * 100)
      val samples = (0 until f.nSamples).map(k => ((i * 31 + k * 7) % 2003) - 1001)
      val expMean = samples.sum.toDouble / f.nSamples
      val expRms = math.sqrt(samples.map(s => s.toDouble * s).sum / f.nSamples)
      assert(math.abs(f.mean - expMean) < 1e-9, s"clip $i mean ${f.mean} != $expMean")
      assert(math.abs(f.rms - expRms) < 1e-9)
    }
    val bad = Multimodal.decodeWavs(
      Seq(Multimodal.AudioRow(77L, Array[Byte](9, 9))).toDS()).collect()(0)
    assert(!bad.decodeOk && bad.nSamples == 0)
  }

  test("real MJPEG-AVI video decode: RIFF walker + ImageIO frames match " +
      "the closed-form clip colors") {
    val spark2 = spark
    import spark2.implicits._
    val feats = Multimodal.decodeVideos(Multimodal.syntheticMjpegAvis(spark, 30))
      .collect().sortBy(_.media_id)
    assert(feats.length == 30 && feats.forall(_.decodeOk))
    feats.foreach { f =>
      val i = f.media_id
      val nf = 4 + (i % 3).toInt
      assert(f.nFrames == nf && f.width == 32 && f.height == 24,
        s"vid $i shape (${f.nFrames}, ${f.width}x${f.height})")
      assert(math.abs(f.fps - 10.0) < 1e-9, s"vid $i fps ${f.fps}")
      // solid-color JPEG frames round-trip within ~2 intensity units
      // (constant-block DCT is exact up to rounding/chroma subsampling)
      val expR = (0 until nf).map(k => (i * 7 + k * 13) % 256).sum.toDouble / nf
      val expG = (0 until nf).map(k => (i * 11 + k * 17) % 256).sum.toDouble / nf
      val expB = (0 until nf).map(k => (i * 3 + k * 29) % 256).sum.toDouble / nf
      assert(math.abs(f.mean_r - expR) < 3.0, s"vid $i mean_r ${f.mean_r} != $expR")
      assert(math.abs(f.mean_g - expG) < 3.0, s"vid $i mean_g ${f.mean_g} != $expG")
      assert(math.abs(f.mean_b - expB) < 3.0, s"vid $i mean_b ${f.mean_b} != $expB")
    }
    // the writer/reader round-trip is byte-faithful per frame
    val jpegs = (0 until 3).map { k =>
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, k * 1000)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val avi = graft.media.Mjpeg.readAvi(
      graft.media.Mjpeg.writeAvi(jpegs, 8, 8, fps = 25))
    assert(avi.frames.length == 3 && avi.fps == 25.0 &&
      avi.width == 8 && avi.height == 8)
    assert(avi.frames.zip(jpegs).forall { case (a, b) => a.sameElements(b) })
    // container-level garbage degrades to decodeOk=false
    val bad = Multimodal.decodeVideos(
      Seq(Multimodal.VideoRow(99L, Array[Byte](82, 73, 70, 70, 9, 9))).toDS())
      .collect()(0)
    assert(!bad.decodeOk && bad.nFrames == 0)
    // a NEGATIVE chunk size must fail fast, not walk backward forever
    // (r16 ADVICE: next = pos + sz + sz%2 moved backward, so the chunk
    // walker re-parsed the same bytes in an unkillable executor spin)
    val neg = {
      val b = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(24)
        .put("AVI ".getBytes("US-ASCII"))
        .put("00dc".getBytes("US-ASCII")).putInt(-16)
        .putInt(0).putInt(0).putInt(0)
      b.array()
    }
    intercept[IllegalArgumentException](graft.media.Mjpeg.readAvi(neg))
    val badNeg = Multimodal.decodeVideos(
      Seq(Multimodal.VideoRow(100L, neg)).toDS()).collect()(0)
    assert(!badNeg.decodeOk && badNeg.nFrames == 0)
    // ...and an OVERLONG size (past the enclosing end) fails the same way
    val over = {
      val b = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(24)
        .put("AVI ".getBytes("US-ASCII"))
        .put("00dc".getBytes("US-ASCII")).putInt(1 << 30)
        .putInt(0).putInt(0).putInt(0)
      b.array()
    }
    intercept[IllegalArgumentException](graft.media.Mjpeg.readAvi(over))
  }

  test("streaming BM25 scoring equals the indexed batch scores, join-free") {
    val spark2 = spark
    import spark2.implicits._
    val sf = "/root/testdata/sf0.001"
    val idx = tmpDir("stream_bm25_idx")
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    graft.operators.SearchIndex.build(corpus, "doc_id", "text", idx)
    val terms = Seq("hash", "join", "merge")
    val stats = graft.operators.SearchIndex.stats(spark, idx, terms)
    graft.runner.Materialize.releaseAll()

    val srcDir = tmpDir("stream_bm25_src")
    corpus.select("doc_id", "text").write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(corpus.select("doc_id", "text").schema).parquet(srcDir)
    val scored = EventStream.bm25Score(stream, stats, terms)
    val q = scored.writeStream.format("memory").queryName("bm25_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val got = spark.table("bm25_stream").select("doc_id", "score")
      .as[(Long, Double)].collect().toMap
    val want = graft.operators.SearchIndex.bm25(spark, idx, terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    graft.runner.Materialize.releaseAll()
    assert(got.size == corpus.count(), "every arrival must be scored")
    want.foreach { case (id, s) =>
      assert(math.abs(got(id) - s) < 1e-9, s"doc $id: ${got(id)} vs $s") }
    // docs without any query term score exactly zero and are retained
    (got.keySet -- want.keySet).foreach { id =>
      assert(got(id) == 0.0, s"doc $id without query terms must score 0") }
  }

  test("streaming curation sink converges to the rebuild corpus; full replay is a no-op") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val cut = docs.stat.approxQuantile("doc_id", Array(0.4, 0.7), 0.0)
    val (c1, c2) = (cut(0).toLong, cut(1).toLong)

    // ground truth: one-shot build over everything
    val outFull = tmpDir("stream_cur_full")
    graft.cli.Curate.run(spark, sf, outFull, 100L)
    // base state from the first 40%, then STREAM the rest in two
    // id-monotone arrival files (file-source order = mod time; the
    // sleep keeps the second file in a later micro-batch)
    val b1 = tmpDir("stream_cur_b1")
    docs.filter(col("doc_id") <= c1).write.parquet(s"$b1/documents.parquet")
    val out = tmpDir("stream_cur_out")
    graft.cli.Curate.run(spark, b1, out, 100L)
    val srcDir = tmpDir("stream_cur_src")
    docs.filter(col("doc_id") > c1 && col("doc_id") <= c2)
      .coalesce(1).write.mode("append").parquet(srcDir)
    Thread.sleep(1100)
    docs.filter(col("doc_id") > c2)
      .coalesce(1).write.mode("append").parquet(srcDir)

    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    val want = corpus(outFull)

    def runStream(ckpt: String): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = EventStream.curationSink(stream, out, 100L)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      graft.runner.Materialize.releaseAll()
    }
    runStream(tmpDir("stream_cur_ck1"))
    assert(corpus(out) == want, "streamed folds != one-shot rebuild")

    // fresh checkpoint = every batch redelivered: the exact-dedup makes
    // each replayed fold an empty no-op and the corpus must not change
    runStream(tmpDir("stream_cur_ck2"))
    assert(corpus(out) == want, "replayed stream mutated the corpus")
    // every fold finished and every micro-batch's stage was removed
    Seq("state/_fold_stage", "stream_stage").foreach { d =>
      assert(Option(new java.io.File(s"$out/$d").list()).forall(_.isEmpty), s"$d left behind")
    }
  }

  test("curation sink heals a crashed fold on redelivery") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val outFull = tmpDir("stream_crash_full")
    graft.cli.Curate.run(spark, sf, outFull, 100L)
    val b1 = tmpDir("stream_crash_b1")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    val out = tmpDir("stream_crash_out")
    graft.cli.Curate.run(spark, b1, out, 100L, forcePostings = true)

    val batch = docs.filter(col("doc_id") > m)
    // the fold dies right after its commit, before any store rolled
    // forward: exactly-once now depends on the redelivery finishing it
    graft.layout.StagedRewrite.testHookAtStep = s =>
      if (s == "published") throw new IllegalStateException("simulated crash")
    try intercept[IllegalStateException](EventStream.foldStreamBatch(batch, out))
    finally graft.layout.StagedRewrite.testHookAtStep = _ => ()
    graft.runner.Materialize.releaseAll()
    assert(new java.io.File(s"$out/state/_fold_stage").list().length == 1)
    assert(new java.io.File(s"$out/stream_stage").list().isEmpty,
      "the crashed micro-batch's stage must be removed")
    // redelivery of the same micro-batch heals the half-applied fold
    EventStream.foldStreamBatch(batch, out)
    graft.runner.Materialize.releaseAll()
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    assert(corpus(out) == corpus(outFull))
    assert(new java.io.File(s"$out/state/_fold_stage").list().isEmpty)
    // no duplicate band rows survived the crash-retry
    val dups = spark.read.parquet(s"$out/state/postings")
      .groupBy(col("fam"), col("doc_id"), col("band")).count()
      .filter(col("count") > 1).count()
    assert(dups == 0)
  }

  for (packed <- Seq(false, true))
    test(s"curation sink finishes a fold that crashed after state/docs rolled (packed=$packed)") {
      val sf = "/root/testdata/sf0.001"
      val docs = graft.Tables.load(spark, sf, "documents")
      val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
      // a packed corpus rewrites corpus and summary after every store rolled
      val budget = Option.when(packed)(512L)
      val outFull = tmpDir("stream_rolled_full")
      graft.cli.Curate.run(spark, sf, outFull, 100L, budget)
      val b1 = tmpDir("stream_rolled_b1")
      docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
      val out = tmpDir("stream_rolled_out")
      graft.cli.Curate.run(spark, b1, out, 100L, budget, forcePostings = true)

      val batch = docs.filter(col("doc_id") > m)
      // state/docs already holds the batch's ids, summary.csv (and a
      // packed corpus) still the old ones: the doc_id guard alone would
      // skip the redelivery
      graft.layout.StagedRewrite.testHookAtStep = s =>
        if (s == "rolled state/docs") throw new IllegalStateException("simulated crash")
      try intercept[IllegalStateException](EventStream.foldStreamBatch(batch, out))
      finally graft.layout.StagedRewrite.testHookAtStep = _ => ()
      graft.runner.Materialize.releaseAll()
      EventStream.foldStreamBatch(batch, out)
      graft.runner.Materialize.releaseAll()
      def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
        .select((Seq("doc_id", "lang", "split", "n_tok") ++ Option.when(packed)("seq_id"))
          .map(col): _*)
        .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
      def summary(dir: String) = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(dir, "summary.csv"))
      assert(corpus(out) == corpus(outFull))
      assert(summary(out) == summary(outFull))
      assert(new java.io.File(s"$out/state/_fold_stage").list().isEmpty)
    }
}
