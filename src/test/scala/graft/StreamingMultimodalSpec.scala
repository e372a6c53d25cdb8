package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal
import graft.sources.Tables
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

case class TypedEvent(ts: java.sql.Timestamp, event_type: String, value: Double)

case class JoinEv(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                  event_type: String)

class StreamingMultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming windowedCounts == batch tumbling agg on same data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Tables(spark, TestSpark.sf0001, "events")
      .select($"ts", $"event_type", $"value")
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val input = MemoryStream[TypedEvent]
    input.addData(events.as[TypedEvent].collect().toSeq)
    val q = EventStreams.windowedCounts(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("winout")
      .outputMode("append").start()
    q.processAllAvailable()
    // append mode: only watermark-closed windows emit; every emitted row
    // must match its batch counterpart, and most windows must have closed
    val got = spark.table("winout")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(got.nonEmpty && got.subsetOf(batch), s"streaming rows not in batch: ${got -- batch}")
    assert(got.size >= batch.size / 2, s"too few closed windows: ${got.size}/${batch.size}")
  }

  test("stateful sessionize matches batch sessionization on closed sessions") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val data = Seq(
      Event(1L, ts(0), 1.0), Event(1L, ts(10), 2.0),   // session A (u1)
      Event(1L, ts(500), 3.0),                          // session B (u1)
      Event(2L, ts(5), 4.0), Event(2L, ts(20), 1.5))    // session A (u2)
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapSeconds = 3600)
      .writeStream.format("memory").queryName("sessout")
      .outputMode("append").start()
    input.addData(data)
    q.processAllAvailable()
    // u1's first session closes when its second session opens
    val closed = spark.table("sessout").as[EventStreams.Session].collect()
    q.stop()
    assert(closed.length == 1)
    assert(closed.head.user_id == 1L && closed.head.n_events == 2 &&
      closed.head.duration_sec == 600 && closed.head.total_value == 3.0)
  }

  test("streaming dedup drops duplicate event ids across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    case class Ev(event_id: Long, ts: java.sql.Timestamp)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val df = input.toDF().toDF("event_id", "ts")
    val q = EventStreams.dedupeStream(df, "event_id", "1 hour")
      .writeStream.format("memory").queryName("dedupout")
      .outputMode("append").start()
    input.addData(Seq((1L, base), (2L, base), (1L, base)))   // dup within batch
    q.processAllAvailable()
    input.addData(Seq((2L, base), (3L, base)))               // dup across batches
    q.processAllAvailable()
    val got = spark.table("dedupout").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("streaming ingest dedup: micro-batches dedup against a growing store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Incremental, Lsh}
    // seed store: doc 1 ("alpha beta gamma")
    val seed = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    Incremental.writeStore(Lsh.MinHash(), seed, "doc_id", col("text"), "stream_store", 4)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(Incremental.dedupSink(Lsh.MinHash(), "doc_id", col("text"),
          "stream_store", 4, threshold = 0.9,
          emit = (df, _) => got.synchronized {
            got ++= df.select("doc_id").collect().map(_.getLong(0))
          }))
        .start()
      // batch 1: 10 dups the SEED store exactly; 11+12 are exact twins
      // (one survives); 13 is new
      input.addData((10L, "alpha beta gamma"), (11L, "delta epsilon zeta"),
        (12L, "delta epsilon zeta"), (13L, "eta theta iota"))
      q.processAllAvailable()
      // batch 2: 20 dups batch 1's SURVIVOR 11 (cross-batch, via the
      // append); 21 is new
      input.addData((20L, "delta epsilon zeta"), (21L, "kappa lambda mu"))
      q.processAllAvailable()
      q.stop()
      assert(got.sorted == Seq(11L, 13L, 21L), got.toString)
      // the store grew by both full batches
      assert(spark.table("stream_store").count() == 1 + 4 + 2)
    } finally {
      spark.sql("DROP TABLE stream_store")
      spark.sql("DROP TABLE stream_store_bands")
    }
  }

  test("dedupSink replay is retry-safe; duplicate store rows are decision-neutral") {
    import spark.implicits._
    import graft.operators.{Incremental, Lsh}
    val emitted = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    val kind = Lsh.MinHash()
    val sink = Incremental.dedupSink(kind, "doc_id", col("text"), "retry_store", 4,
      threshold = 0.9,
      emit = (df, bid) => emitted.synchronized {
        emitted(bid) = df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      })
    Incremental.writeStore(kind, Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", col("text"), "retry_store", 4)
    try {
      val b1 = Seq((10L, "alpha beta gamma"), (11L, "delta epsilon zeta"))
        .toDF("doc_id", "text")
      sink(b1, 0L)
      assert(emitted(0L) == Seq(11L), emitted.toString)
      // foreachBatch RETRY: the first attempt's append already put b1's
      // own signatures in the store — a replay must re-emit the SAME
      // survivors, not self-suppress to an empty set
      sink(b1, 0L)
      assert(emitted(0L) == Seq(11L), s"replay self-suppressed: ${emitted(0L)}")
      // the re-append duplicated b1's rows; later batches must decide
      // identically (same hashes/bands → same drops)
      assert(spark.table("retry_store").count() == 1 + 2 + 2)
      val b2 = Seq((20L, "delta epsilon zeta"), (21L, "nu xi omicron"))
        .toDF("doc_id", "text")
      sink(b2, 1L)
      assert(emitted(1L) == Seq(21L), emitted.toString)
      // compaction rewrites one row per id and changes no decision
      Incremental.compactStore(kind, spark, "retry_store", 4)
      assert(spark.table("retry_store").count() == 5) // 1, 10, 11, 20, 21
      assert(Incremental.validateStore(kind, spark, "retry_store"))
      val again = Incremental.dedupAgainst(kind,
          Seq((30L, "delta epsilon zeta"), (31L, "pi rho sigma"))
            .toDF("doc_id", "text"),
          spark.table("retry_store"), "doc_id", col("text"), 0.9,
          storeBands = Some(spark.table("retry_store_bands")))
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(again == Seq(31L), again.toString)
      // partial append simulated: a batch lands in the store but not in
      // _bands → validateStore flags it, rebuildBands recovers
      graft.sources.ParquetSink.bucketed(
        kind.signatures(Seq((40L, "tau upsilon phi")).toDF("doc_id", "text"),
          "doc_id", col("text")),
        "retry_store", Seq("content_hash"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      assert(!Incremental.validateStore(kind, spark, "retry_store"))
      Incremental.rebuildBands(kind, spark, "retry_store", 4)
      assert(Incremental.validateStore(kind, spark, "retry_store"))
    } finally {
      spark.sql("DROP TABLE retry_store")
      spark.sql("DROP TABLE retry_store_bands")
    }
  }

  test("embeddingDedupSink replay is retry-safe; compaction and band rebuild recover") {
    import spark.implicits._
    import graft.operators.{Incremental, Lsh}
    def v(x: Float, y: Float): Array[Float] = Array(x, y) ++ Array.fill(6)(0.0f)
    val emitted = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    val kind = Lsh.Hyperplane()
    val sink = Incremental.dedupSink(kind, "vec_id", col("embedding"),
      "eretry_store", 4, threshold = 0.95,
      emit = (df, bid) => emitted.synchronized {
        emitted(bid) = df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      })
    Incremental.writeStore(kind,
      Seq((1L, v(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", col("embedding"), "eretry_store", 4)
    try {
      // 10 is a scaled copy of the seed (cosine 1.0, dropped); 11 is new
      val b1 = Seq((10L, v(2.0f, 0.0f)), (11L, v(0.0f, 1.0f)))
        .toDF("vec_id", "embedding")
      sink(b1, 0L)
      assert(emitted(0L) == Seq(11L), emitted.toString)
      // foreachBatch RETRY: the first attempt's append already put b1's
      // own signatures in the store — a replay must re-emit the SAME
      // survivors, not self-suppress to an empty set
      sink(b1, 0L)
      assert(emitted(0L) == Seq(11L), s"replay self-suppressed: ${emitted(0L)}")
      assert(spark.table("eretry_store").count() == 1 + 2 + 2)
      // duplicate rows are decision-neutral for later batches
      val b2 = Seq((20L, v(0.0f, 3.0f)), (21L, v(-1.0f, 1.0f)))
        .toDF("vec_id", "embedding")
      sink(b2, 1L)
      assert(emitted(1L) == Seq(21L), emitted.toString)
      // compaction rewrites one row per id and changes no decision
      Incremental.compactStore(kind, spark, "eretry_store", 4)
      assert(spark.table("eretry_store").count() == 5) // 1, 10, 11, 20, 21
      assert(Incremental.validateStore(kind, spark, "eretry_store"))
      val again = Incremental.dedupAgainst(kind,
          Seq((30L, v(0.0f, 7.0f)), (31L, v(1.0f, -1.0f)))
            .toDF("vec_id", "embedding"),
          spark.table("eretry_store"), "vec_id", col("embedding"), 0.95,
          storeBands = Some(spark.table("eretry_store_bands")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(again == Seq(31L), again.toString)
      // partial append: a batch lands in the store but not in _bands →
      // validateStore flags it, the rebuild (hyperplane band
      // derivation) recovers
      graft.sources.ParquetSink.bucketed(
        kind.signatures(
          Seq((40L, v(3.0f, 3.0f))).toDF("vec_id", "embedding"),
          "vec_id", col("embedding")),
        "eretry_store", Seq("id"), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      assert(!Incremental.validateStore(kind, spark, "eretry_store"))
      Incremental.rebuildBands(kind, spark, "eretry_store", 4)
      assert(Incremental.validateStore(kind, spark, "eretry_store"))
    } finally {
      spark.sql("DROP TABLE eretry_store")
      spark.sql("DROP TABLE eretry_store_bands")
    }
  }

  test("streaming embedding dedup: micro-batches dedup vectors against a growing store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Incremental, Lsh}
    def v(x: Float, y: Float): Array[Float] = Array(x, y) ++ Array.fill(6)(0.0f)
    // seed store: one unit vector along e1
    Incremental.writeStore(Lsh.Hyperplane(),
      Seq((1L, v(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", col("embedding"), "estream_store", 4)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val input = MemoryStream[(Long, Array[Float])]
      val q = input.toDF().toDF("vec_id", "embedding")
        .writeStream
        .foreachBatch(Incremental.dedupSink(Lsh.Hyperplane(), "vec_id",
          col("embedding"), "estream_store", 4, threshold = 0.95,
          emit = (df, _) => got.synchronized {
            got ++= df.select("vec_id").collect().map(_.getLong(0))
          }))
        .start()
      // batch 1: 10 is a scaled copy of the seed (cosine 1.0, dropped);
      // 11+12 are twins along e2 (one survives); 13 is new (diagonal,
      // cos 45° ≈ 0.71 to both axes — below threshold)
      input.addData((10L, v(3.0f, 0.0f)), (11L, v(0.0f, 1.0f)),
        (12L, v(0.0f, 2.0f)), (13L, v(1.0f, 1.0f)))
      q.processAllAvailable()
      // batch 2: 20 dups batch 1's survivor 11 via the append; 21 is new
      input.addData((20L, v(0.0f, 5.0f)), (21L, v(-1.0f, 1.0f)))
      q.processAllAvailable()
      q.stop()
      assert(got.sorted == Seq(11L, 13L, 21L), got.toString)
      assert(spark.table("estream_store").count() == 1 + 4 + 2)
    } finally {
      spark.sql("DROP TABLE estream_store")
      spark.sql("DROP TABLE estream_store_bands")
    }
  }

  test("multimodal: real WAV decode round-trips wavSpec, junk falls back to stub") {
    implicit val s = spark
    // local round-trip: synthesize → AudioSystem decode == wavSpec
    for (id <- Seq(0L, 1L, 2L, 899L, 900L, 12345L)) {
      val (frames, sr) = Multimodal.wavSpec(id)
      val rec = Multimodal.MediaRecord(id, "audio/wav",
        Multimodal.synthesizeWav(frames, sr, id))
      val f = Multimodal.decode(rec)
      assert((f.n_frames, f.sample_rate, f.channels) == (frames, sr, 1),
        s"decode mismatch for id=$id: $f")
    }
    // audio mime with non-audio bytes: codec rejects, stub takes over
    val junk = Multimodal.MediaRecord(7L, "audio/wav", "not a wav".getBytes("UTF-8"))
    assert(Multimodal.decode(junk) == Multimodal.decodeStub(junk))
    // truncated payload with a valid RIFF header: NonFatal fallback
    val wav = Multimodal.synthesizeWav(100, 8000, 1L)
    val broken = Multimodal.MediaRecord(8L, "audio/wav", wav.take(16))
    assert(Multimodal.decode(broken) == Multimodal.decodeStub(broken))
    // distributed path: every decoded row matches the generator arithmetic
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val feats = Multimodal.extractFeatures(Multimodal.audioFromDocuments(docs)).collect()
    assert(feats.length == docs.count())
    assert(feats.forall { f =>
      val (frames, sr) = Multimodal.wavSpec(f.media_id)
      f.n_frames == frames && f.sample_rate == sr && f.channels == 1 &&
        f.mime == "audio/wav"
    })
  }

  test("multimodal: real PNG decode round-trips pngDims, junk falls back to stub") {
    implicit val s = spark
    // local round-trip: synthesize → ImageIO decode == pngDims, incl. the
    // negative-id floorMod path a sign-preserving % would break
    for (id <- Seq(0L, 1L, 15L, 16L, 255L, -1L, -17L)) {
      val (w, h) = Multimodal.pngDims(id)
      assert(w >= 8 && h >= 8, s"non-positive dims for id=$id")
      val rec = Multimodal.MediaRecord(id, "image/png", Multimodal.synthesizePng(w, h, id))
      val f = Multimodal.decode(rec)
      assert((f.width, f.height) == (w, h), s"decode mismatch for id=$id")
    }
    // image mime with non-image bytes: reader finds no codec, stub takes over
    val junk = Multimodal.MediaRecord(7L, "image/png", "not a png".getBytes("UTF-8"))
    assert(Multimodal.decode(junk) == Multimodal.decodeStub(junk))
    // truncated payload WITH a valid PNG magic: reader throws, NonFatal
    // fallback still lands on the stub instead of killing the task
    val png = Multimodal.synthesizePng(8, 8, 1L)
    val broken = Multimodal.MediaRecord(8L, "image/png", png.take(12))
    assert(Multimodal.decode(broken) == Multimodal.decodeStub(broken))
    // a non-PNG/JPEG/GIF format the JDK still decodes (BMP): the decode
    // must go through ImageIO for EVERY image/* mime, not a magic list
    val bmpImg = new java.awt.image.BufferedImage(5, 9,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bmpBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bmpImg, "bmp", bmpBos)
    val bmp = Multimodal.MediaRecord(9L, "image/bmp", bmpBos.toByteArray)
    val bf = Multimodal.decode(bmp)
    assert((bf.width, bf.height) == (5, 9), s"BMP decode fell back: $bf")
    // distributed path: every decoded row matches the generator arithmetic
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val feats = Multimodal.extractFeatures(Multimodal.imagesFromDocuments(docs)).collect()
    assert(feats.length == docs.count())
    assert(feats.forall { f =>
      val (w, h) = Multimodal.pngDims(f.media_id)
      f.width == w && f.height == h && f.mime == "image/png"
    })
  }

  test("multimodal: real AVI decode round-trips aviSpec and the RGB pixels") {
    implicit val s = spark
    // independent recomputation of the decoded-pixel fingerprint: FNV-1a
    // over top-down RGB — proves decodeAvi visits every pixel of every
    // frame (a header-only parser cannot produce this value)
    def expectedChecksum(w: Int, h: Int, frames: Int, seed: Long): Long = {
      var cs = 0xcbf29ce484222325L
      def fnv(b: Int): Unit = { cs ^= (b & 0xffL); cs *= 0x100000001b3L }
      for (f <- 0 until frames; y <- 0 until h; x <- 0 until w) {
        val rgb = Multimodal.aviPixel(seed, f, x, y, w, h)
        fnv((rgb >> 16) & 0xff); fnv((rgb >> 8) & 0xff); fnv(rgb & 0xff)
      }
      cs
    }
    // local round-trip at every stride-padding residue (width mod 4)
    for (id <- Seq(0L, 1L, 2L, 3L, 10L, 76L, 12345L)) {
      val (w, h, frames) = Multimodal.aviSpec(id)
      val rec = Multimodal.MediaRecord(id, "video/avi",
        Multimodal.synthesizeAvi(w, h, frames, id))
      val f = Multimodal.decode(rec)
      assert((f.width, f.height, f.n_frames, f.channels) == (w, h, frames, 3),
        s"decode mismatch for id=$id: $f")
      assert(f.checksum == expectedChecksum(w, h, frames, id),
        s"pixel checksum mismatch for id=$id")
    }
    // video mime with non-AVI bytes (mp4 or junk): parser rejects, the
    // clearly-marked stub takes over — the retained fallback contract
    val junk = Multimodal.MediaRecord(7L, "video/mp4", "not an avi".getBytes("UTF-8"))
    assert(Multimodal.decode(junk) == Multimodal.decodeStub(junk))
    // truncated payload WITH a valid RIFF/AVI magic: frame chunk overruns
    // the buffer, parser bails, stub fallback instead of a task kill
    val avi = Multimodal.synthesizeAvi(6, 4, 2, 1L)
    val broken = Multimodal.MediaRecord(8L, "video/avi", avi.take(avi.length / 2))
    assert(Multimodal.decode(broken) == Multimodal.decodeStub(broken))
    // a compressed-codec strf (biCompression != 0) must NOT decode:
    // biCompression sits 16 bytes into the strf chunk data
    val strfOff = {
      var i = 12; var found = -1
      while (found < 0 && i + 8 < avi.length) {
        if (new String(avi, i, 4, "US-ASCII") == "strf") found = i + 8
        else i += 1
      }
      found
    }
    assert(strfOff > 0)
    val comp2 = avi.clone(); comp2(strfOff + 16) = 1.toByte
    val compRec = Multimodal.MediaRecord(9L, "video/avi", comp2)
    assert(Multimodal.decode(compRec) == Multimodal.decodeStub(compRec))
    // adversarial 2^31-scale chunk size behind a valid RIFF/AVI magic:
    // must route to the stub, not crash the task (the int-overflow
    // guard — off + 8 + size wrapped negative before the subtracted
    // comparison form)
    val evil = java.nio.ByteBuffer.allocate(20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")); evil.putInt(0x7FFFFFF0)
    evil.put("AVI ".getBytes("US-ASCII"))
    evil.put("LIST".getBytes("US-ASCII")); evil.putInt(0x7FFFFFF0)
    val evilRec = Multimodal.MediaRecord(10L, "video/avi", evil.array())
    assert(Multimodal.decode(evilRec) == Multimodal.decodeStub(evilRec))
    // frames grouped in a 'rec ' LIST inside 'movi' (standard
    // interleaved layout): still a real decode, not a stub fallback
    val orig = Multimodal.synthesizeAvi(6, 4, 2, 3L)
    val ob = java.nio.ByteBuffer.wrap(orig).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var mov = -1; var i = 12
    while (mov < 0 && i + 12 < orig.length) {
      if (new String(orig, i, 4, "US-ASCII") == "LIST" &&
          new String(orig, i + 8, 4, "US-ASCII") == "movi") mov = i else i += 1
    }
    assert(mov > 0)
    val moviSize = ob.getInt(mov + 4)
    val frameChunks = java.util.Arrays.copyOfRange(orig, mov + 12, mov + 8 + moviSize)
    val rw = java.nio.ByteBuffer.allocate(orig.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    rw.put(orig, 0, mov)
    rw.put("LIST".getBytes("US-ASCII")); rw.putInt(moviSize + 12)
    rw.put("movi".getBytes("US-ASCII"))
    rw.put("LIST".getBytes("US-ASCII")); rw.putInt(4 + frameChunks.length)
    rw.put("rec ".getBytes("US-ASCII"))
    rw.put(frameChunks)
    val recBytes = rw.array()
    java.nio.ByteBuffer.wrap(recBytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, recBytes.length - 8)
    val recRec = Multimodal.MediaRecord(11L, "video/avi", recBytes)
    val rf = Multimodal.decode(recRec)
    assert((rf.width, rf.height, rf.n_frames) == (6, 4, 2),
      s"rec-wrapped frames not decoded: $rf")
    assert(rf.checksum == expectedChecksum(6, 4, 2, 3L),
      "rec-wrapped pixel checksum mismatch")
    // distributed path: geometry AND pixel fingerprint per row
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val feats = Multimodal.extractFeatures(Multimodal.videosFromDocuments(docs)).collect()
    assert(feats.length == docs.count())
    assert(feats.forall { f =>
      val (w, h, frames) = Multimodal.aviSpec(f.media_id)
      f.width == w && f.height == h && f.n_frames == frames &&
        f.channels == 3 && f.mime == "video/avi" &&
        f.checksum == expectedChecksum(w, h, frames, f.media_id)
    })
  }

  test("multimodal: schema, batched stub decode, frame sampling") {
    implicit val s = spark
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("media_id", "bigint"), ("mime", "string"), ("media", "binary")))
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    // n_bytes equals the document byte length (stub decode reads real bytes)
    val nc = docs.select(col("doc_id"), octet_length(col("text")).cast("long").as("nb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(f => f.n_bytes == nc(f.media_id)))
    // deterministic: second run identical
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.checksum).toSeq == again.map(_.checksum).toSeq)
    val frames = Multimodal.sampleFrames(feats, stride = 10)
    assert(frames.count() > 0)
    assert(frames.groupBy("media_id").count().filter(col("count") < 1).count() == 0)
  }

  test("resizeImages: exact nearest-neighbor pixels, lossless round-trip, drops non-images") {
    implicit val s = spark
    import s.implicits._
    val (dstW, dstH) = (8, 6)
    // one real PNG, one non-image mime, one corrupt payload under an
    // image mime — only the real PNG may survive
    val (w0, h0, seed) = (13, 9, 42L)
    val png = Multimodal.synthesizePng(w0, h0, seed)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/png", png),
      Multimodal.MediaRecord(2L, "audio/wav", png),
      Multimodal.MediaRecord(3L, "image/png", Array[Byte](1, 2, 3))
    ).toDS()
    val out = Multimodal.resizeImages(media, dstW, dstH).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val row = out.head
    assert((row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4)) ==
      (w0, h0, dstW, dstH))
    // independently computed nearest-neighbor reference over the
    // DECODED source image (same integer mapping)
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    val expected = for (y <- 0 until dstH; x <- 0 until dstW)
      yield src.getRGB(x * w0 / dstW, y * h0 / dstH) & 0xffffff
    // lossless round-trip: decode resized_png, pixels must equal the
    // reference exactly (PNG is lossless; NN resize is deterministic)
    val resized = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("resized_png")))
    assert((resized.getWidth, resized.getHeight) == (dstW, dstH))
    val got = for (y <- 0 until dstH; x <- 0 until dstW)
      yield resized.getRGB(x, y) & 0xffffff
    assert(got == expected, "resized pixels diverge from the NN reference")
    // checksum matches an FNV-64 over the expected RGB raster
    var h = 0xcbf29ce484222325L
    expected.foreach { rgb =>
      Seq((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff).foreach { b =>
        h ^= b; h *= 0x100000001b3L
      }
    }
    assert(row.getAs[Long]("checksum") == h, "raster checksum mismatch")
  }

  test("resampleAudio: sample-exact NN mapping, lossless round-trip, drops non-audio") {
    implicit val s = spark
    import s.implicits._
    val dstRate = 16000
    // downsample (24 kHz, the non-trivial 3/2 index mapping) and
    // upsample (8 kHz, sample doubling); plus a non-audio mime and a
    // corrupt payload under an audio mime — only real clips survive
    val (fr24, fr8) = (301, 150)
    val wav24 = Multimodal.synthesizeWav(fr24, 24000, 7L)
    val wav8 = Multimodal.synthesizeWav(fr8, 8000, 9L)
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio/wav", wav24),
      Multimodal.MediaRecord(2L, "audio/wav", wav8),
      Multimodal.MediaRecord(3L, "image/png", wav24),
      Multimodal.MediaRecord(4L, "audio/wav", Array[Byte](1, 2, 3))
    ).toDS()
    val out = Multimodal.resampleAudio(media, dstRate)
      .collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    for ((row, srcRate, srcFrames, src) <-
           Seq((out(0), 24000, fr24, wav24), (out(1), 8000, fr8, wav8))) {
      val dstFrames = (srcFrames.toLong * dstRate / srcRate).toInt
      assert((row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4)) ==
        (srcRate, srcFrames, dstRate, dstFrames))
      // independently recomputed NN reference over the DECODED source
      // PCM (same integer index mapping)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(src))
      val pcm = try ais.readAllBytes() finally ais.close()
      val expected = (0 until dstFrames).flatMap { i =>
        val sIdx = (i.toLong * srcRate / dstRate).toInt
        Seq(pcm(2 * sIdx), pcm(2 * sIdx + 1))
      }
      // lossless round-trip: decode resampled_wav, PCM must equal the
      // reference exactly (PCM WAV is lossless; NN is deterministic)
      val res = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("resampled_wav")))
      val got = try res.readAllBytes() finally res.close()
      assert(res.getFormat.getSampleRate.toInt == dstRate)
      assert(got.toSeq == expected, "resampled PCM diverges from the NN reference")
      // checksum matches an FNV-64 over the expected PCM bytes
      var h = 0xcbf29ce484222325L
      expected.foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      assert(row.getAs[Long]("checksum") == h, "PCM checksum mismatch")
    }
  }

  test("extractVideoFrames: sampled rasters match aviPixel, drops non-video and corrupt") {
    implicit val s = spark
    import s.implicits._
    // id 5: w=11 (DIB stride padding), h=4, 7 frames -> stride-2 sample
    // {0,2,4,6}; id 14: w=9, h=5, 2 frames -> {0}. Plus a non-video
    // mime and a corrupt payload under a video mime — both dropped.
    val specs = Seq(5L, 14L).map(id => id -> Multimodal.aviSpec(id)).toMap
    val media = Seq(
      Multimodal.MediaRecord(5L, "video/avi",
        { val (w, h, f) = specs(5L); Multimodal.synthesizeAvi(w, h, f, 5L) }),
      Multimodal.MediaRecord(14L, "video/avi",
        { val (w, h, f) = specs(14L); Multimodal.synthesizeAvi(w, h, f, 14L) }),
      Multimodal.MediaRecord(3L, "audio/wav",
        { val (w, h, f) = specs(5L); Multimodal.synthesizeAvi(w, h, f, 3L) }),
      Multimodal.MediaRecord(4L, "video/avi", Array[Byte](82, 73, 70, 70))
    ).toDS()
    val out = Multimodal.extractVideoFrames(media, 2)
      .collect().sortBy(r => (r.getLong(0), r.getInt(4)))
    assert(out.map(r => (r.getLong(0), r.getInt(4))).toSeq ==
      Seq((5L, 0), (5L, 2), (5L, 4), (5L, 6), (14L, 0)))
    // adversarial geometry: biWidth 0x55555556 makes the 32-bit DIB
    // stride wrap to 4, so a 12-byte frame chunk matches the wrapped
    // stride*height — the long-arithmetic size check must reject it
    // (not crash the task indexing past the buffer)
    val crafted = Multimodal.synthesizeAvi(1, 3, 1, 5L) // stride 4, h 3
    val bb = java.nio.ByteBuffer.wrap(crafted)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt(176) == 1 && bb.getInt(180) == 3) // strf biWidth/biHeight
    bb.putInt(176, 0x55555556)
    val evil = Seq(Multimodal.MediaRecord(99L, "video/avi", crafted)).toDS()
    assert(Multimodal.extractVideoFrames(evil, 1).count() == 0)
    assert(Multimodal.decodeAvi(crafted).isEmpty)
    for (row <- out) {
      val id = row.getLong(0)
      val (w, h, f) = specs(id)
      assert((row.getInt(1), row.getInt(2), row.getInt(3)) == (w, h, f))
      val idx = row.getInt(4)
      // independently recomputed top-down row-major RGB raster
      val expected = (0 until h).flatMap { y =>
        (0 until w).flatMap { x =>
          val rgb = Multimodal.aviPixel(id, idx, x, y, w, h)
          Seq(((rgb >> 16) & 0xff).toByte, ((rgb >> 8) & 0xff).toByte,
            (rgb & 0xff).toByte)
        }
      }
      assert(row.getAs[Array[Byte]]("frame_rgb").toSeq == expected,
        s"raster mismatch for clip $id frame $idx")
      var ck = 0xcbf29ce484222325L
      expected.foreach { b => ck ^= (b & 0xffL); ck *= 0x100000001b3L }
      assert(row.getAs[Long]("checksum") == ck, "frame checksum mismatch")
    }
  }

  test("multimodal: MJPEG AVI decodes for real — geometry, pixels, fallbacks") {
    implicit val s = spark
    import s.implicits._
    import javax.imageio.ImageIO
    // independent recompute of the decoded-pixel fingerprint WITHOUT the
    // RIFF walker: re-encode each frame through the same JPEG codec,
    // decode it standalone, hash top-down RGB — matching means decodeAvi
    // located every variable-size '00dc' chunk and decoded its payload
    def expectedChecksum(w: Int, h: Int, frames: Int, seed: Long): Long = {
      var cs = 0xcbf29ce484222325L
      def fnv(b: Int): Unit = { cs ^= (b & 0xffL); cs *= 0x100000001b3L }
      for (f <- 0 until frames) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w)
          img.setRGB(x, y, Multimodal.aviPixel(seed, f, x, y, w, h))
        val bos = new java.io.ByteArrayOutputStream()
        ImageIO.write(img, "jpeg", bos)
        val dec = ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
        for (y <- 0 until h; x <- 0 until w) {
          val rgb = dec.getRGB(x, y)
          fnv((rgb >> 16) & 0xff); fnv((rgb >> 8) & 0xff); fnv(rgb & 0xff)
        }
      }
      cs
    }
    for (id <- Seq(0L, 3L, 17L, 100L, 12345L)) {
      val (w, h, frames) = Multimodal.mjpegSpec(id)
      val rec = Multimodal.MediaRecord(id, "video/avi",
        Multimodal.synthesizeMjpegAvi(w, h, frames, id))
      val f = Multimodal.decode(rec)
      assert((f.width, f.height, f.n_frames, f.channels) == (w, h, frames, 3),
        s"MJPEG decode mismatch for id=$id: $f")
      assert(f.checksum == expectedChecksum(w, h, frames, id),
        s"MJPEG pixel checksum mismatch for id=$id")
    }
    // truncated mid-frame: the SOI-marker/bounds walk rejects, stub takes
    // over — same containment contract as the uncompressed path
    val avi = Multimodal.synthesizeMjpegAvi(8, 6, 3, 2L)
    val broken = Multimodal.MediaRecord(50L, "video/avi", avi.take(avi.length / 2))
    assert(Multimodal.decode(broken) == Multimodal.decodeStub(broken))
    // a frame chunk whose bytes are not JPEG (no SOI): rejected, stub
    val noSoi = avi.clone()
    var movOff = -1; var i = 12
    while (movOff < 0 && i + 12 < noSoi.length) {
      if (new String(noSoi, i, 4, "US-ASCII") == "LIST" &&
          new String(noSoi, i + 8, 4, "US-ASCII") == "movi") movOff = i else i += 1
    }
    assert(movOff > 0)
    noSoi(movOff + 12 + 8) = 0x00 // first frame's first byte: kill the SOI
    val noSoiRec = Multimodal.MediaRecord(51L, "video/avi", noSoi)
    assert(Multimodal.decode(noSoiRec) == Multimodal.decodeStub(noSoiRec))
    // extractVideoFrames materializes MJPEG rasters: sampled frames match
    // a standalone JPEG round-trip (stride 2 → frames 0 and 2)
    val clip = Seq(Multimodal.MediaRecord(2L, "video/avi", avi)).toDS()
    val rows = Multimodal.extractVideoFrames(clip, 2).collect()
    assert(rows.map(_.getInt(4)).sorted.toSeq == Seq(0, 2))
    for (row <- rows) {
      val idx = row.getInt(4)
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8)
        img.setRGB(x, y, Multimodal.aviPixel(2L, idx, x, y, 8, 6))
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "jpeg", bos)
      val dec = ImageIO.read(new java.io.ByteArrayInputStream(bos.toByteArray))
      val expected = (0 until 6).flatMap { y =>
        (0 until 8).flatMap { x =>
          val rgb = dec.getRGB(x, y)
          Seq(((rgb >> 16) & 0xff).toByte, ((rgb >> 8) & 0xff).toByte,
            (rgb & 0xff).toByte)
        }
      }
      assert(row.getAs[Array[Byte]]("frame_rgb").toSeq == expected,
        s"MJPEG raster mismatch frame $idx")
    }
  }

  test("multimodal: I420 planar-YUV AVI decodes for real — geometry, " +
       "pixels, odd-dimension chroma, fallbacks") {
    implicit val s = spark
    import s.implicits._
    // independent recompute of the decoded-pixel fingerprint WITHOUT the
    // RIFF walker or Multimodal's decoder: re-derive each frame's YUV
    // planes from aviPixel (per-pixel BT.601 luma; chroma = mean RGB of
    // each 2x2 block), then convert back with the documented fixed-point
    // full-range formulas and hash top-down RGB
    def clamp(v: Int) = math.max(0, math.min(255, v))
    def expectedChecksum(w: Int, h: Int, frames: Int, seed: Long): Long = {
      var cs = 0xcbf29ce484222325L
      def fnv(b: Int): Unit = { cs ^= (b & 0xffL); cs *= 0x100000001b3L }
      val cw = (w + 1) / 2; val ch = (h + 1) / 2
      for (f <- 0 until frames) {
        val lum = Array.tabulate(h, w) { (y, x) =>
          val rgb = Multimodal.aviPixel(seed, f, x, y, w, h)
          (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) +
            29 * (rgb & 0xff) + 128) >> 8
        }
        val uv = Array.tabulate(ch, cw) { (cy, cx) =>
          val px = for (dy <- 0 until 2; dx <- 0 until 2;
                        x = 2 * cx + dx; y = 2 * cy + dy
                        if x < w && y < h)
            yield Multimodal.aviPixel(seed, f, x, y, w, h)
          val n = px.size
          val r = (px.map(p => (p >> 16) & 0xff).sum + n / 2) / n
          val g = (px.map(p => (p >> 8) & 0xff).sum + n / 2) / n
          val b = (px.map(p => p & 0xff).sum + n / 2) / n
          (clamp(128 + ((-43 * r - 85 * g + 128 * b + 128) >> 8)),
           clamp(128 + ((128 * r - 107 * g - 21 * b + 128) >> 8)))
        }
        for (y <- 0 until h; x <- 0 until w) {
          val (uu, vv) = uv(y / 2)(x / 2)
          val u = uu - 128; val v = vv - 128
          fnv(clamp(lum(y)(x) + ((359 * v + 128) >> 8)))
          fnv(clamp(lum(y)(x) - ((88 * u + 183 * v + 128) >> 8)))
          fnv(clamp(lum(y)(x) + ((454 * u + 128) >> 8)))
        }
      }
      cs
    }
    // ids chosen so both width and height hit ODD values (the ⌈w/2⌉
    // chroma rounding) as well as even ones
    for (id <- Seq(0L, 1L, 7L, 24L, 100L, 12345L)) {
      val (w, h, frames) = Multimodal.i420Spec(id)
      val rec = Multimodal.MediaRecord(id, "video/avi",
        Multimodal.synthesizeI420Avi(w, h, frames, id))
      val f = Multimodal.decode(rec)
      assert((f.width, f.height, f.n_frames, f.channels) == (w, h, frames, 3),
        s"I420 decode mismatch for id=$id: $f")
      assert(f.checksum == expectedChecksum(w, h, frames, id),
        s"I420 pixel checksum mismatch for id=$id")
    }
    assert(Seq(0L, 1L, 7L, 24L).exists(id => Multimodal.i420Spec(id)._1 % 2 == 1))
    assert(Seq(0L, 1L, 7L, 24L).exists(id => Multimodal.i420Spec(id)._2 % 2 == 1))
    // truncated container: the fixed-size chunk validation rejects, the
    // clearly-marked stub takes over — same containment as DIB/MJPEG
    val avi = Multimodal.synthesizeI420Avi(7, 5, 3, 2L)
    val broken = Multimodal.MediaRecord(50L, "video/avi", avi.take(avi.length / 2))
    assert(Multimodal.decode(broken) == Multimodal.decodeStub(broken))
    // extractVideoFrames materializes I420 rasters: the sampled frame's
    // raster hash matches the whole-stream decode family (frame 0 of a
    // 1-frame clip == decodeAvi checksum domain)
    val one = Multimodal.synthesizeI420Avi(6, 5, 1, 9L)
    val rows = Multimodal.extractVideoFrames(
      Seq(Multimodal.MediaRecord(9L, "video/avi", one)).toDS(), 1).collect()
    assert(rows.length == 1 && rows(0).getInt(1) == 6 && rows(0).getInt(2) == 5)
    val raster = rows(0).getAs[Array[Byte]]("frame_rgb")
    var cs = 0xcbf29ce484222325L
    raster.foreach { b => cs ^= (b & 0xffL); cs *= 0x100000001b3L }
    assert(cs == Multimodal.decode(
      Multimodal.MediaRecord(9L, "video/avi", one)).checksum,
      "raster hash must equal the whole-stream decoded checksum")
  }

  test("intervalJoin: single-batch parity with the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables(spark, TestSpark.sf0001, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type")
    def sides(df: org.apache.spark.sql.DataFrame) = (
      df.filter($"event_type" === "click")
        .select($"user_id".as("l_user"), $"event_id".as("click_id"),
          $"ts".as("l_ts")),
      df.filter($"event_type" === "purchase")
        .select($"user_id".as("r_user"), $"event_id".as("purchase_id"),
          $"ts".as("r_ts")))
    val (bl, br) = sides(ev)
    val batch = EventStreams.intervalJoin(bl, br,
        "l_user", "r_user", "l_ts", "r_ts", 1800L)
      .select($"click_id", $"purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val input = MemoryStream[JoinEv]
    input.addData(ev.as[JoinEv].collect().toSeq)
    val (sl, sr) = sides(input.toDF().withWatermark("ts", "1 hour"))
    val q = EventStreams.intervalJoin(sl, sr,
        "l_user", "r_user", "l_ts", "r_ts", 1800L)
      .select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("ssj_par")
      .outputMode("append").start()
    q.processAllAvailable()
    val got = spark.table("ssj_par")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // nothing is late in a single batch (wm starts at 0), so the inner
    // join emits exactly the batch pairs
    assert(got == batch, s"stream=${got.size} batch=${batch.size}")
    assert(batch.nonEmpty)
  }

  test("intervalJoin: late inputs drop, state evicts, fresh pairs emit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    def mk(id: Long, min: Long, user: Long, tpe: String) =
      JoinEv(id, ts(min), user, tpe)
    val input = MemoryStream[JoinEv]
    val wmEv = input.toDF().withWatermark("ts", "1 hour")
    val clicks = wmEv.filter($"event_type" === "click")
      .select($"user_id".as("l_user"), $"event_id".as("click_id"),
        $"ts".as("l_ts"))
    val purchases = wmEv.filter($"event_type" === "purchase")
      .select($"user_id".as("r_user"), $"event_id".as("purchase_id"),
        $"ts".as("r_ts"))
    val q = EventStreams.intervalJoin(clicks, purchases,
        "l_user", "r_user", "l_ts", "r_ts", 1800L)
      .select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("ssj_evict")
      .outputMode("append").start()
    // batch 1: one completed pair, one dangling click, and a far-future
    // row pushing the watermark: the single withWatermark node feeds
    // both branches, so its watermark is the max across branch
    // instances − delay = 700 − 60 = 640 min; the two user-99 rows are
    // 100 min apart so they never pair
    input.addData(mk(1, 0, 1, "click"), mk(2, 10, 1, "purchase"),
      mk(3, 20, 1, "click"), mk(4, 600, 99, "click"),
      mk(8, 700, 99, "purchase"))
    q.processAllAvailable()
    // batch 2: a purchase for the dangling click — but at 25 min it is
    // far below the right-side input watermark (640) and must be
    // dropped as late; plus a fresh above-watermark pair
    input.addData(mk(5, 25, 1, "purchase"),
      mk(6, 650, 2, "click"), mk(7, 655, 2, "purchase"))
    q.processAllAvailable()
    val got = spark.table("ssj_evict")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val removed = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    q.stop()
    assert(got == Set((1L, 2L), (6L, 7L)),
      s"expected late purchase dropped and fresh pair emitted, got $got")
    // the 1-h watermark evicted batch-1 state (clicks below wm − 30 min,
    // purchases below wm) — the bound that keeps state finite
    assert(removed > 0, "expected state eviction to fire")
  }
}
