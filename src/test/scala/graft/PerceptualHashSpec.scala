package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Checkpoints, Dedup, Multimodal}
import graft.sources.Tables

/** Perceptual image hashing (aHash/dHash) + the generalized Hamming
  * near-dup machinery — the image-dedup screen of a multimodal
  * pipeline. */
class PerceptualHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent reference: hashes computed straight from the pixel
    * FORMULA (no codec, no BufferedImage) — what the q164 oracle does
    * in SQL, here in plain Scala. */
  private def refGray(seed: Long, w: Int, x: Int, y: Int, delta: Int): Int = {
    val h = seed * 1000003L + (y.toLong * w + x) * 0x9e3779b97f4a7c15L
    val rgb = (h >>> 24).toInt & 0xffffff
    def ch(v: Int) = math.min(255, v + delta)
    (77 * ch((rgb >> 16) & 0xff) + 150 * ch((rgb >> 8) & 0xff) +
      29 * ch(rgb & 0xff)) >> 8
  }
  private def refHashes(docId: Long, delta: Int): (Long, Long) = {
    val (w, h) = Multimodal.pngDims(docId)
    var dh = 0L
    for (gy <- 0 until 8; gx <- 0 until 8) {
      val sy = gy * h / 8
      if (refGray(docId, w, gx * w / 9, sy, delta) >
          refGray(docId, w, (gx + 1) * w / 9, sy, delta))
        dh |= (1L << (gy * 8 + gx))
    }
    val cells = (0 until 64).map(i =>
      refGray(docId, w, (i % 8) * w / 8, (i / 8) * h / 8, delta))
    val mean = cells.map(_.toLong).sum / 64
    var ah = 0L
    for (i <- 0 until 64 if cells(i) > mean) ah |= (1L << i)
    (ah, dh)
  }

  test("perceptualHashes: bit-exact vs the formula reference through " +
       "the full PNG encode/decode chain; non-images drop") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter($"doc_id" < 40)
    implicit val s = spark
    val got = Multimodal.perceptualHashes(
        Multimodal.imagesFromDocuments(docs))
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 40)
    for ((id, (ah, dh)) <- got) {
      val (ra, rd) = refHashes(id, 0)
      assert(ah == ra && dh == rd, s"doc $id: got ($ah,$dh) want ($ra,$rd)")
    }
    // a non-image payload (text bytes under an image mime fails decode;
    // audio mime is filtered before decode) produces no row
    val mixed = Multimodal.mediaFromDocuments(docs.filter($"doc_id" < 6))
    assert(Multimodal.perceptualHashes(mixed).count() == 0)
  }

  test("dHash is invariant under uniform brightness shift; aHash too " +
       "(mean shifts with the cells); exact copies hash identically") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter($"doc_id" < 60)
    implicit val s = spark
    def hashes(delta: Int, off: Long) = Multimodal.perceptualHashes(
        Multimodal.brightenedImagesFromDocuments(docs, off, delta))
      .collect().map(r => (r.getLong(0) - off) -> (r.getLong(3), r.getLong(4)))
      .toMap
    val orig = hashes(0, 0L)
    val bright = hashes(16, 1000000L)
    for (id <- orig.keys) {
      // dHash: horizontal gray differences survive a uniform shift
      // exactly (clamping would need a >239 gray next to a <240 one
      // within the shift band to flip a bit — not present here)
      assert(orig(id)._2 == bright(id)._2, s"dhash moved for $id")
    }
    // exact pixel copies (delta 0, new ids) — identical on both hashes
    val copies = hashes(0, 2000000L)
    assert(copies == orig)
  }

  /** Independent audio reference: fingerprint from the PCM formula. */
  private def refAudioFp(docId: Long, div: Int): Long = {
    val (frames, _) = Multimodal.wavSpec(docId)
    val energy = (0 until 65).map { w =>
      val lo = w * frames / 65; val hi = (w + 1) * frames / 65
      (lo until hi).map { i =>
        val s = ((docId * 1000003L +
          i.toLong * 0x9e3779b97f4a7c15L) >>> 24).toShort
        math.abs((s / div).toShort.toLong)
      }.sum
    }
    var fp = 0L
    for (i <- 0 until 64 if energy(i) > energy(i + 1)) fp |= (1L << i)
    fp
  }

  test("audioFingerprints: bit-exact vs the formula reference through " +
       "the WAV codec; gain-halving is fingerprint-invariant; short " +
       "clips and non-audio drop") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter($"doc_id" < 60)
    implicit val s = spark
    val orig = Multimodal.audioFingerprints(
        Multimodal.audioFromDocuments(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(orig.size == 60)
    for ((id, fp) <- orig)
      assert(fp == refAudioFp(id, 1), s"clip $id")
    // gain-halved re-masters: different bytes, SAME fingerprint (a
    // uniform gain rescales every window's energy together — ordering
    // survives; zero flipped bits measured across the fixture)
    val halved = Multimodal.audioFingerprints(
        Multimodal.gainScaledAudioFromDocuments(docs, 1000000L, 2))
      .collect().map(r => (r.getLong(0) - 1000000L) -> r.getLong(3)).toMap
    assert(halved == orig)
    // pairs ride the generalized machinery: every planted copy surfaces
    // at hamming 0 with its original
    import spark.implicits._
    val all = orig.toSeq.map { case (id, fp) => (id, fp) } ++
      halved.toSeq.map { case (id, fp) => (id + 1000000L, fp) }
    val pairs = Dedup.hammingDupPairs(all.toDF("id", "fp"), "id",
        col("fp"), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (id <- orig.keys)
      assert(pairs.contains((id, id + 1000000L)), s"planted pair $id missing")
    // image mime under audio decode path → dropped
    val imgs = Multimodal.imagesFromDocuments(docs.filter($"doc_id" < 5))
    assert(Multimodal.audioFingerprints(imgs).count() == 0)
  }

  test("videoFrameHashes: frame 0 hashes identically to a still image " +
       "of the same pixels; brightness re-grades are invariant per " +
       "frame; exact copies match") {
    implicit val s = spark
    import spark.implicits._
    // aviPixel at f=0 IS the PNG pixel formula — a video's first frame
    // and a still of the same (w, h, seed) must produce the SAME dHash
    // through their two different decode paths (RIFF/DIB vs PNG)
    val (w, h) = (11, 9)
    val avi = Seq(Multimodal.MediaRecord(7L, "video/avi",
      Multimodal.synthesizeAvi(w, h, 3, 7L))).toDS()
    val png = Seq(Multimodal.MediaRecord(7L, "image/png",
      Multimodal.synthesizePng(w, h, 7L))).toDS()
    val f0 = Multimodal.videoFrameHashes(
        Multimodal.extractVideoFrames(avi, stride = 1))
      .filter($"frame_idx" === 0).select("dhash").as[Long].head()
    val still = Multimodal.perceptualHashes(png)
      .select("dhash").as[Long].head()
    assert(f0 == still, s"video frame 0 $f0 vs still $still")
    // per-frame brightness invariance + exact-copy identity on the
    // real fixture
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter($"doc_id" < 40)
    def hashes(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRecord],
               off: Long) =
      Multimodal.videoFrameHashes(Multimodal.extractVideoFrames(ds, 1))
        .collect().map(r => (r.getLong(0) - off, r.getLong(4)) -> r.getLong(5))
        .toMap
    val orig = hashes(Multimodal.videosFromDocuments(docs), 0L)
    assert(orig.nonEmpty)
    val bright = hashes(
      Multimodal.brightenedVideosFromDocuments(docs, 1000000L, 16), 1000000L)
    assert(bright == orig)
    val copies = hashes(
      Multimodal.brightenedVideosFromDocuments(docs, 2000000L, 0), 2000000L)
    assert(copies == orig)
  }

  test("incremental hash store: multi-batch loop matches a sequential " +
       "reference (survivors-only across batches, non-cascading " +
       "in-batch); bucketed store keeps the candidate join " +
       "exchange-free on the store side") {
    import spark.implicits._
    import graft.operators.{Incremental, Lsh}
    val table = "phash_store_spec"
    for (t <- Seq(table, s"${table}_bands")) spark.sql(s"DROP TABLE IF EXISTS $t")
    // synthetic signatures: base patterns + planted near/far variants
    def bits(is: Int*): Long = is.foldLeft(0L)((a, i) => a | (1L << i))
    val store0 = Map(1L -> 0L, 2L -> bits(10, 20, 30, 40, 50))
    val batch1 = Map(
      10L -> bits(0),             // ham 1 vs id 1 → dropped vs store
      11L -> bits(10, 20, 30, 40, 50, 60, 61), // ham 2 vs id 2 → dropped
      12L -> bits(1, 2, 3, 4, 5), // survives
      13L -> bits(1, 2, 3, 4, 6), // ham 2 vs 12 (smaller id) → dropped
      14L -> -1L)                 // survives
    val batch2 = Map(
      20L -> bits(1, 2, 3, 4, 5), // ham 0 vs SURVIVOR 12 → dropped
      21L -> bits(1, 2, 3, 4, 6), // ham 2 vs 12 in store → dropped even
                                  // though 13 (its twin) never entered
      22L -> bits(32, 33, 34, 35, 36, 37)) // survives
    def ref(): Seq[Set[Long]] = {
      var store = store0
      Seq(batch1, batch2).map { b =>
        val ids = b.keys.toSeq.sorted
        val dropped = ids.filter { id =>
          store.values.exists(sh => java.lang.Long.bitCount(sh ^ b(id)) <= 3) ||
          ids.filter(_ < id).exists(o =>
            java.lang.Long.bitCount(b(o) ^ b(id)) <= 3)
        }.toSet
        store ++= (b -- dropped)
        b.keySet -- dropped
      }
    }
    try {
      val kind = Lsh.Pigeonhole(maxHamming = 3)
      Incremental.writeStore(kind, store0.toSeq.toDF("id", "h"), "id",
        col("h"), table, numBuckets = 4)
      val expected = ref()
      val got = Seq(batch1, batch2).map { b =>
        val surv = Incremental.dedupAgainst(kind, b.toSeq.toDF("id", "h"),
            spark.table(table), "id", col("h"),
            storeBands = Some(spark.table(s"${table}_bands")))
          .localCheckpoint(true)
        Incremental.appendToStore(kind, surv, "id", col("h"), table, 4)
        surv.select("id").as[Long].collect().toSet
      }
      assert(got == expected, s"got $got want $expected")
      // both store layouts persisted with their join-key bucketing
      // (the ParquetSink.bucketed exchange-free contract, plan-proven
      // for this store family in the q62/q91 incremental specs; at
      // spec scale AQE broadcasts either side, so the durable claim
      // is the LAYOUT): signatures on id, bands on (band, bucket) —
      // appends preserved both (Spark rejects mixed bucket specs)
      def bucketSpec(t: String) = spark.sql(s"DESCRIBE EXTENDED $t")
        .filter($"col_name".isin("Num Buckets", "Bucket Columns"))
        .select("data_type").as[String].collect().toSeq
      assert(bucketSpec(table) == Seq("4", "[`id`]"))
      assert(bucketSpec(s"${table}_bands") == Seq("4", "[`band`, `bucket`]"))
    } finally
      for (t <- Seq(table, s"${table}_bands"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("dedupHashesAgainst: release frees ONLY the operator's " +
       "internal checkpoint — a caller-owned checkpointed batch " +
       "survives and stays usable") {
    import spark.implicits._
    import graft.operators.{Incremental, Lsh}
    val table = "phash_release_spec"
    for (t <- Seq(table, s"${table}_bands")) spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      val kind = Lsh.Pigeonhole(maxHamming = 3)
      Incremental.writeStore(kind, Seq(1L -> 0L).toDF("id", "h"), "id",
        col("h"), table, numBuckets = 4)
      // the caller's OWN local checkpoint — the blanket-release hazard:
      // releasing the returned plan wholesale would free these blocks
      // too, and a truncated lineage cannot recompute
      val callerBatch = Seq(10L -> 1L, 11L -> -1L).toDF("id", "h")
        .localCheckpoint(true)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val survivors = Incremental.dedupAgainst(kind, callerBatch,
        spark.table(table), "id", col("h"),
        storeBands = Some(spark.table(s"${table}_bands")))
      val surv = survivors.select("id").as[Long].collect().toSet
      assert(surv == Set(11L), s"got $surv") // 10 is ham-1 vs the store
      Checkpoints.release(survivors)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
        "release must free the operator's batch-signature checkpoint")
      // the caller's checkpoint must still be materialized and readable
      assert(callerBatch.count() == 2,
        "caller-owned checkpoint blocks must survive the scoped release")
    } finally
      for (t <- Seq(table, s"${table}_bands"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("forget protocol: ids leave BOTH layouts of every store kind, " +
       "stores stay valid, and the hash-store decision flips — a " +
       "re-ingested forgotten signature is admitted") {
    import spark.implicits._
    import graft.operators.{Incremental, Lsh}
    val tables = Seq("fgt_text", "fgt_emb", "fgt_hash")
    for (t <- tables; v <- Seq(t, s"${t}_bands"))
      spark.sql(s"DROP TABLE IF EXISTS $v")
    try {
      val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .filter($"doc_id" < 60)
      val emb = Tables(spark, TestSpark.sf0001, "embeddings")
        .filter($"vec_id" < 60)
      // text store
      val text = Lsh.MinHash(threshold = 0.6)
      Incremental.writeStore(text, docs, "doc_id", $"text", "fgt_text", 4)
      Incremental.forgetFromStore(text, spark,
        docs.filter($"doc_id" % 7 === 0).select($"doc_id".as("id")),
        "fgt_text", 4)
      assert(Incremental.validateStore(text, spark, "fgt_text"))
      // embedding store
      val vec = Lsh.Hyperplane(threshold = 0.95)
      Incremental.writeStore(vec, emb, "vec_id", $"embedding", "fgt_emb", 4)
      Incremental.forgetFromStore(vec, spark,
        emb.filter($"vec_id" % 7 === 0).select($"vec_id".as("id")),
        "fgt_emb", 4)
      assert(Incremental.validateStore(vec, spark, "fgt_emb"))
      // hash store
      val hash = Lsh.Pigeonhole(3)
      val hs = Seq(1L -> 100L, 2L -> 200L, 3L -> 300L).toDF("id", "h")
      Incremental.writeStore(hash, hs, "id", col("h"), "fgt_hash", 4)
      Incremental.forgetFromStore(hash, spark, Seq(2L).toDF("id"),
        "fgt_hash", 4)
      for (t <- tables; v <- Seq(t, s"${t}_bands")) {
        val gone = spark.table(v)
          .filter(if (t == "fgt_hash") $"id" === 2L else $"id" % 7 === 0)
        assert(gone.isEmpty, s"$v still holds forgotten ids")
      }
      // decision flip: a copy of the FORGOTTEN signature (id 2, h=200)
      // is re-admitted; a copy of a REMEMBERED one (h=300) still drops
      val batch = Seq(10L -> 200L, 11L -> 300L).toDF("id", "h")
      val surv = Incremental.dedupAgainst(hash, batch,
          spark.table("fgt_hash"), "id", col("h"),
          Some(spark.table("fgt_hash_bands")))
        .select("id").as[Long].collect().toSet
      assert(surv == Set(10L), s"got $surv")
    } finally
      for (t <- tables; v <- Seq(t, s"${t}_bands"))
        spark.sql(s"DROP TABLE IF EXISTS $v")
  }

  test("hammingDupPairs on an arbitrary hash column equals the naive " +
       "all-pairs popcount; recall is exact at the pigeonhole bound") {
    // adversarial hashes: pairs at exactly maxHamming, maxHamming+1,
    // and a bit-63 (sign bit) difference
    val rows = Seq(
      (1L, 0L),
      (2L, 7L),                  // hamming 3 vs id 1 (= maxHamming)
      (3L, 15L),                 // hamming 4 vs id 1 (> maxHamming)
      (4L, Long.MinValue),       // sign bit only: hamming 1 vs id 1
      (5L, -1L),                 // 64 bits vs id 1
      (6L, -1L ^ 5L)             // hamming 2 vs id 5
    ).toDF("id", "h")
    val got = Dedup.hammingDupPairs(rows, "id", col("h"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hs = Seq(1L -> 0L, 2L -> 7L, 3L -> 15L, 4L -> Long.MinValue,
      5L -> -1L, 6L -> (-1L ^ 5L))
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == want, s"got $got want $want")
  }
}
