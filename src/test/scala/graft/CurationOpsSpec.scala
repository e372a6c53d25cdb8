package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Frequency, Maintenance, Quality, Similarity, Skew}

/** Round-15 curation operators: containment, fuzzy (edit-distance)
  * pairs, boilerplate removal, k-anonymity, decayed top-k, salt
  * planning, shard checksums. */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("containmentPairs: subset scores 1.0 toward its superset, not back") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon"), // prefix of 1
      (3L, "iota kappa lambda mu nu xi"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.9, shingleLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc2's three 3-gram shingles all appear in doc1 → 2→1 is 1.0;
    // doc1 has 6 shingles, only 3 in doc2 → 1→2 is 0.5 (below gate);
    // doc3 shares nothing
    assert(out == Set((2L, 1L, 1.0)), s"got $out")
  }

  test("containmentPairs: exact ratio matches a brute-force recompute") {
    import spark.implicits._
    val words = Vector("a", "b", "c", "d", "e", "f", "g")
    def text(seed: Int): String =
      (0 until 12).map(i => words((seed * 7 + i * 3) % words.size))
        .mkString(" ")
    val docs = (1 to 20).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.5, shingleLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force on the driver with the same shingle definition
    val rows = docs.select(col("doc_id"),
        graft.functions.Text.shingles(lower(col("text")), 2))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val want = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia != ib
      c = (sa & sb).size.toDouble / sa.size if c >= 0.5
    } yield (ia, ib, math.rint(c * 1e6) / 1e6)).toSet
    assert(got == want)
  }

  test("shingleIndex FromIndex variants reproduce jaccardPairs/" +
      "containmentPairs; either-direction containment == min-denominator") {
    import spark.implicits._
    val words = Vector("a", "b", "c", "d", "e", "f", "g")
    def text(seed: Int): String =
      (0 until 12).map(i => words((seed * 5 + i * 3) % words.size))
        .mkString(" ")
    val docs = (1 to 24).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val inv = Dedup.shingleIndex(docs, "doc_id", "text", 2)
      .localCheckpoint(true)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pset(Dedup.jaccardPairsFromIndex(inv, 0.3)) ==
      pset(Dedup.jaccardPairs(docs, "doc_id", "text", 0.3, shingleLen = 2)))
    assert(pset(Dedup.containmentPairsFromIndex(inv, 0.5)) ==
      pset(Dedup.containmentPairs(docs, "doc_id", "text", 0.5,
        shingleLen = 2)))
    // the q216 single-aggregate form: unordered pairs qualifying in
    // EITHER containment direction == inter/min(szA, szB) >= t
    val either = Dedup.containmentPairsFromIndex(inv, 0.5)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaMin = Dedup.jaccardPairsFromIndex(inv, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet // all co-pairs
    val invRows = docs.select(col("doc_id"),
        graft.functions.Text.shingles(lower(col("text")), 2))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val minForm = (for {
      (ia, sa) <- invRows; (ib, sb) <- invRows if ia < ib
      inter = (sa & sb).size if inter > 0
      if inter.toDouble / math.min(sa.size, sb.size) >= 0.5
    } yield (ia, ib)).toSet
    assert(either == minForm)
    assert(minForm.subsetOf(viaMin))
  }

  test("fuzzyDupPairs: recall-complete vs brute-force levenshtein") {
    import spark.implicits._
    val words = Vector("key", "row", "scan", "fast", "table", "agg", "a")
    def text(seed: Int): String =
      (0 until 8).map(i => words((seed * 5 + i * 3) % words.size))
        .mkString(" ")
    val docs = (1 to 30).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val got = Dedup.fuzzyDupPairs(docs, "doc_id", "text",
        prefixTokens = 4, maxDist = 3, qgramLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val keys = docs.select(col("doc_id"), concat_ws(" ",
        slice(graft.functions.Text.tokens(lower(col("text"))), 1, 4)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, ka) <- keys; (ib, kb) <- keys if ia < ib
      dist = lev(ka, kb) if dist <= 3
    } yield (ia, ib, dist.toLong)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("fuzzyDupPairs: gramless and short keys meet via the sentinel") {
    import spark.implicits._
    // keys shorter than q-1+k post the sentinel: 'x' vs 'xy zz' (lev 4
    // at maxDist 4) must be FOUND even though 'x' has no 2-gram
    val docs = Seq((1L, "x"), (2L, "xy zz"), (3L, "completely different text here"))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyDupPairs(docs, "doc_id", "text",
        prefixTokens = 6, maxDist = 4, qgramLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"got $got")
  }

  test("fuzzyDupPairs: short repetitive keys that share NO gram still pair") {
    import spark.implicits._
    // lev(abcdef, axcyez) = 3 <= maxDist 4 but the two keys share ZERO
    // bigrams — with <= maxDist*q gram instances each, k edits can
    // destroy every gram, so only the widened sentinel
    // (klen <= q-1+maxDist*q) catches the pair
    val docs = Seq((1L, "abcdef"), (2L, "axcyez"),
      (3L, "zzzzzzzzzzzzzzzzzzzzzz entirely unrelated content"))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyDupPairs(docs, "doc_id", "text",
        prefixTokens = 6, maxDist = 4, qgramLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L)), s"got $got")
  }

  test("fuzzyDupPairs: sentinel-regime key meets a LONGER non-sentinel partner") {
    import spark.implicits._
    // A has 7 gram instances (<= k*q = 8, posts sentinel + all types);
    // B has 11 instances (no sentinel) — the pair must meet through a
    // type B posts in its k*q+1 rarest prefix (lev = 4 = maxDist)
    val docs = Seq((1L, "aabbccdd"), (2L, "aabbccddxxyy"))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyDupPairs(docs, "doc_id", "text",
        prefixTokens = 6, maxDist = 4, qgramLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 4L)), s"got $got")
  }

  test("boilerplateBlocks: every copy of a hot block drops; unique stays") {
    import spark.implicits._
    val chrome = "subscribe to our newsletter"        // 4-token boilerplate
    val docs = Seq(
      (1L, s"$chrome unique alpha beta gamma"),
      (2L, s"$chrome other delta epsilon zeta"),
      (3L, "totally unrelated content lives here still"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateBlocks(docs, "doc_id", "text",
        blockTokens = 4, minDocFreq = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(out(1L) == ((4L, "unique alpha beta gamma", 1L)))
    assert(out(2L) == ((4L, "other delta epsilon zeta", 1L)))
    assert(out(3L)._3 == 0L && out(3L)._1 == 6L)
  }

  test("boilerplateBlocks: a doc that is all boilerplate empties, never drops") {
    import spark.implicits._
    val docs = Seq((1L, "one two three four"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateBlocks(docs, "doc_id", "text", 4, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSet == Set((1L, 0L, ""), (2L, 0L, "")))
  }

  test("kAnonymizedStats: mass conserved, no visible cell under k") {
    import spark.implicits._
    val df = (1 to 100).map(i =>
      (s"g${i % 7}", if (i % 7 < 2) "rare" else "common", i.toLong))
      .toDF("a", "b", "w")
    val out = Quality.kAnonymizedStats(df, Seq("a", "b"), k = 15L, col("w"))
      .collect()
    val visible = out.filter(_.getString(0) != "__suppressed__")
    assert(visible.nonEmpty && visible.forall(_.getLong(2) >= 15L))
    assert(out.map(_.getLong(2)).sum == 100L)        // rows conserved
    assert(out.map(_.getLong(4)).sum == (1 to 100).map(_.toLong).sum)
    val sup = out.filter(_.getString(0) == "__suppressed__")
    assert(sup.length == 1 && sup.head.getLong(3) ==
      out.map(_.getLong(3)).sum - visible.length)
  }

  test("kAnonymizedStats: a lone small cell co-suppresses the smallest visible cell") {
    import spark.implicits._
    // exactly ONE group under k: without complementary suppression the
    // rollup would carry that cell's exact mass with n_groups=1 and its
    // identity inferable as the complement of the visible groups
    val rows = (1 to 20).map(i => ("g_small_vis", i.toLong)) ++
      (1 to 30).map(i => ("g_big", 100L + i)) ++
      (1 to 3).map(i => ("g_tiny", 1000L + i))
    val out = Quality.kAnonymizedStats(rows.toDF("a", "w"), Seq("a"),
      k = 15L, col("w")).collect()
    val visible = out.filter(_.getString(0) != "__suppressed__")
    val sup = out.filter(_.getString(0) == "__suppressed__")
    assert(visible.map(_.getString(0)).toSet == Set("g_big"))
    assert(sup.length == 1)
    assert(sup.head.getLong(1) == 23L)      // n_rows: 3 tiny + 20 smallest-visible
    assert(sup.head.getLong(2) == 2L)       // n_groups >= 2: never a lone cell
    assert(out.map(_.getLong(1)).sum == 53L)            // mass conserved
    assert(out.map(_.getLong(3)).sum == rows.map(_._2).sum)
  }

  test("kAnonymizedStats: two small cells need no complementary suppression") {
    import spark.implicits._
    val rows = (1 to 20).map(i => ("vis", i.toLong)) ++
      Seq(("t1", 500L), ("t1", 501L), ("t2", 600L))
    val out = Quality.kAnonymizedStats(rows.toDF("a", "w"), Seq("a"),
      k = 15L, col("w")).collect()
    assert(out.filter(_.getString(0) == "vis").length == 1)
    val sup = out.filter(_.getString(0) == "__suppressed__").head
    assert(sup.getLong(2) == 2L && sup.getLong(1) == 3L)
  }

  test("kAnonymizedStats: no suppressed row when every cell clears k") {
    import spark.implicits._
    val df = (1 to 40).map(i => (s"g${i % 2}", i.toLong)).toDF("a", "w")
    val out = Quality.kAnonymizedStats(df, Seq("a"), k = 5L, col("w")).collect()
    assert(out.length == 2 && out.forall(_.getString(0) != "__suppressed__"))
  }

  test("decayedTopK: exact dyadic weights, bucket clamp, deterministic ties") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    // halflife 100 s: u1 has events at age 0 and 100 (w 1 + 0.5), u2 at
    // age 0 and 250 (w 1 + 0.25), u3 one PREHISTORIC event (clamp: 2^-40)
    val ev = Seq((1L, at(250)), (1L, at(150)), (2L, at(250)), (2L, at(0)),
        (3L, at(-100000000L)))
      .toDF("user_id", "ts")
    val out = Frequency.decayedTopK(ev, "user_id", "ts",
        halflifeSec = 100L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1.5, 1L), (2L, 1.25, 2L),
      (3L, math.pow(2.0, -40), 3L)), s"got ${out.mkString(",")}")
  }

  test("saltPlan: exact pair accounting and near-equal part sizes") {
    import spark.implicits._
    val index = (1 to 250).map(i => s"hot${i % 2}").toDF("tok")
      .union(Seq("cold").toDF("tok"))
    val out = Skew.saltPlan(index, col("tok"), cap = 40L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length == 2 && out.forall(_._2 > 40L))  // cold excluded
    for ((_, df, salt, before, after, lost) <- out) {
      assert(salt == (df + 39) / 40)
      assert(before == df * (df - 1) / 2)
      // recompute after from explicit near-equal part sizes
      val q = df / salt; val r = df % salt
      val parts = Seq.fill(r.toInt)(q + 1) ++ Seq.fill((salt - r).toInt)(q)
      assert(parts.sum == df && parts.max - parts.min <= 1)
      assert(after == parts.map(p => p * (p - 1) / 2).sum)
      assert(lost == before - after)
    }
  }

  test("shardManifest: order/layout-invariant, row-change-sensitive") {
    import spark.implicits._
    val rows = (1 to 60).map(i => (s"s${i % 3}", i.toLong, s"payload $i"))
    val a = rows.toDF("src", "id", "text")
    val b = scala.util.Random.shuffle(rows).toDF("src", "id", "text")
      .repartition(7)
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Maintenance.shardManifest(df, Seq("src"), "id", col("text"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(manifest(a) == manifest(b))
    // altering ONE row moves that shard's checksums only
    val c = rows.map { case (s, i, t) =>
      (s, i, if (i == 5) t + "!" else t) }.toDF("src", "id", "text")
    val (ma, mc) = (manifest(a), manifest(c))
    assert(ma("s0") == mc("s0") && ma("s1") == mc("s1")) // untouched shards
    assert(ma("s2")._3 != mc("s2")._3 && ma("s2")._4 != mc("s2")._4)
  }

  test("mergeManifests: merge of parts equals the direct full manifest") {
    import spark.implicits._
    val rows = (1 to 90).map(i => (s"s${i % 4}", i.toLong, s"text $i"))
    val full = rows.toDF("src", "id", "text")
    // uneven split: shard s3 lives ONLY in part b's slice for ids > 60
    val a = rows.filter(_._2 <= 60).toDF("src", "id", "text")
    val b = rows.filter(_._2 > 60).toDF("src", "id", "text")
    def mf(df: org.apache.spark.sql.DataFrame) =
      Maintenance.shardManifest(df, Seq("src"), "id", col("text"))
    val merged = Maintenance.mergeManifests(Seq(mf(a), mf(b)), Seq("src"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val direct = mf(full)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(merged == direct)
  }

  test("knnOutliers: a planted far point ranks first") {
    import spark.implicits._
    // a tight cluster around the origin plus one far outlier; every
    // point is also a query so the outlier must rank itself first
    val vecs = (1L to 30L).map(i =>
        (i, Array.tabulate(4)(j => ((i * 7 + j) % 5).toFloat / 10f))) :+
      (99L, Array(50f, 50f, 50f, 50f))
    val emb = vecs.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.knnOutliers(emb, emb,
        "vec_id", "embedding", k = 3, topN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.head == ((99L, 1L)), s"got ${out.mkString(",")}")
  }

  test("labelAgreement: a mislabeled point inside a tight cluster flags") {
    import spark.implicits._
    // cluster A (label 0) at ~origin, cluster B (label 1) far away;
    // vec 5 sits in cluster A but carries label 1 → 0/3 agreement
    val vecs =
      (1L to 4L).map(i => (i, Array(0f, i.toFloat / 100f), 0)) ++
      Seq((5L, Array(0f, 0.025f), 1)) ++
      (11L to 14L).map(i => (i, Array(90f, i.toFloat), 1))
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.labelAgreement(emb, emb,
        "vec_id", "embedding", "label", k = 3, minAgree = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(out(5L) == ((0L, 0.0, 1L)), s"got ${out(5L)}")   // flagged
    assert(out(12L)._3 == 0L && out(12L)._1 == 3L)          // clean B
    assert(out(1L)._3 == 0L)                                // clean A
  }

  test("robustZ: hand-checked median/MAD, constant group guarded") {
    import spark.implicits._
    // group a: values 1..9 → med 5, |dev| = {4,3,2,1,0,1,2,3,4} → MAD 2
    // group b: constant → MAD 0 → z = 0, never outlier
    // group c: tight cluster + one wild point → outlier flag fires
    val df = ((1 to 9).map(v => ("a", v.toLong)) ++
      Seq(("b", 7L), ("b", 7L), ("b", 7L)) ++
      (Seq(8L, 9L, 10L, 10L, 10L, 11L, 12L, 100L).map("c" -> _)))
      .toDF("g", "v")
    val out = graft.operators.Quality.robustZ(df, "g", col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(4), r.getLong(5))).toSeq
    val aRows = out.filter(_._1 == "a")
    assert(aRows.find(_._2 == 9L).get._3 == 2.0)   // (9-5)/2
    assert(aRows.find(_._2 == 1L).get._3 == -2.0)
    assert(aRows.forall(_._4 == 0L))
    assert(out.filter(_._1 == "b").forall(r => r._3 == 0.0 && r._4 == 0L))
    val wild = out.filter(r => r._1 == "c" && r._2 == 100L)
    assert(wild.nonEmpty && wild.head._4 == 1L, s"got $wild")
  }

  test("curation coupling: boilerplate removal exposes prefix families") {
    import spark.implicits._
    // A carries chrome + body, B is the bare body, C shares the chrome:
    // raw anchors of A and B differ, but after the chrome block (df 2
    // via A and C) drops, A's cleaned text == B's → they family up.
    val chrome = "subscribe to our newsletter"
    val body = "alpha beta gamma delta epsilon zeta eta theta iota"
    val docs = Seq((1L, s"$chrome $body"), (2L, body),
        (3L, s"$chrome totally different tail content here"))
      .toDF("doc_id", "text")
    val cleaned = Dedup.boilerplateBlocks(docs, "doc_id", "text", 4, 2L)
    val fams = Dedup.prefixFamilies(
        cleaned.select(col("id"), col("text_clean")), "id", "text_clean",
        anchorTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(fams == Set((1L, 1L, 2L), (2L, 1L, 2L)), s"got $fams")
    // the RAW prefixes would NOT have familied A with B
    val rawFams = Dedup.prefixFamilies(docs, "doc_id", "text", 8)
      .collect()
    assert(rawFams.isEmpty)
  }

  test("consensusVote: per-signal flags, vote gate, directed dedupe") {
    import spark.implicits._
    val s1 = Seq((1L, 2L), (1L, 3L), (1L, 2L)).toDF("id_a", "id_b") // dup row
    val s2 = Seq((1L, 2L), (4L, 5L)).toDF("id_a", "id_b")
    val s3 = Seq((1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.consensusVote(
        Seq("a" -> s1, "b" -> s2, "c" -> s3), minVotes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(out == Set((1L, 2L, 1L, 1L, 0L, 2L), (1L, 3L, 1L, 0L, 1L, 2L),
      (4L, 5L, 0L, 1L, 1L, 2L)))
  }

  test("thresholdSweep: complete grid, monotone counts, exact at gate") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.6), (2L, 3L, 0.6),
      (4L, 5L, 0.31)).toDF("id_a", "id_b", "score")
    val out = Dedup.thresholdSweep(pairs, "score",
        Seq(0.3, 0.6, 0.8, 0.95))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(out == Seq((0.3, 4L, 5L), (0.6, 3L, 3L), (0.8, 1L, 2L),
      (0.95, 0L, 0L)), s"got $out")  // 0.95 present with zeros
    // monotone non-increasing in both counts
    assert(out.sliding(2).forall(w =>
      w(1)._2 <= w(0)._2 && w(1)._3 <= w(0)._3))
  }

  test("prefixFamilies: same head groups, family keyed by min id") {
    import spark.implicits._
    val docs = Seq(
      (10L, "Alpha Beta gamma one two"),
      (11L, "alpha beta GAMMA three four"),   // same 3-token head (lower)
      (12L, "different head entirely five six"),
      (13L, "alpha beta delta seven"))        // differs at token 3
      .toDF("doc_id", "text")
    val out = Dedup.prefixFamilies(docs, "doc_id", "text", anchorTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set((10L, "alpha beta gamma", 10L, 2L),
      (11L, "alpha beta gamma", 10L, 2L)))
  }

  test("maxCoverageSelect: greedy trajectory matches brute force, stops when covered") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),         // 4 distinct 3-shingles
      (2L, "a b c"),               // subset of 1
      (3L, "x y z w"),             // disjoint, 2 shingles
      (4L, "x y z"))               // subset of 3
      .toDF("doc_id", "text")
    val out = graft.operators.Selection
      .maxCoverageSelect(docs, "doc_id", "text", k = 4, shingleLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    // round 1: doc 1 (4 shingles); round 2: doc 3 (2 new); rounds 3+:
    // everything remaining is covered → greedy stops at 2 rows
    assert(out == Seq((1L, 1L, 4L, 4L), (2L, 3L, 2L, 6L)), s"got $out")
    // marginal gains are non-increasing (submodularity of coverage)
    assert(out.map(_._3).sliding(2).forall(w => w.last <= w.head))
  }

  /** Driver-side naive greedy max-coverage over the 3-shingle sets of
    * `docs` (doc_id, text): (round, id, marginal_gain, covered_total). */
  private def naiveMaxCoverage(docs: org.apache.spark.sql.DataFrame,
                               k: Int): Seq[(Long, Long, Long, Long)] = {
    val sets = docs.select(col("doc_id"),
        graft.functions.Text.shingles(lower(col("text")), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .sortBy(_._1)
    var covered = Set.empty[String]
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var stop = false
    for (r <- 1 to k if !stop) {
      val (wid, wgain) = sets.map { case (id, s) => (id, (s -- covered).size) }
        .maxBy { case (id, g) => (g, -id) }
      if (wgain == 0) stop = true
      else {
        covered ++= sets.find(_._1 == wid).get._2
        want += ((r.toLong, wid, wgain.toLong, covered.size.toLong))
      }
    }
    want.toSeq
  }

  test("maxCoverageSelect: CELF trajectory equals naive greedy, re-evals << n*k") {
    import spark.implicits._
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll")
    def text(seed: Int): String =
      (0 until 10).map(i => words((seed * 5 + i * i) % words.size))
        .mkString(" ")
    val n = 40
    val k = 6
    val docs = (1 to n).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val (outDf, reevals, _, _) = graft.operators.Selection
      .maxCoverageSelectCounted(docs, "doc_id", "text", k, shingleLen = 3,
        batchCap = 64, fetchCapBatches = 16)
    val got = outDf.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSeq
    val want = naiveMaxCoverage(docs, k)
    assert(got == want, s"got $got want $want")
    // CELF contract: round 1 sweeps all n docs once; later rounds only
    // re-evaluate bound-order heads — far fewer than naive's n per round
    assert(reevals >= n, s"round-1 sweep missing: $reevals")
    assert(reevals < n.toLong * k, s"re-evals $reevals not < n*k=${n * k}")
    assert(reevals <= n + 3L * 64 * (k - 1),
      s"re-evals $reevals above the lazy-greedy envelope")
  }

  test("maxCoverageSelect: fetch-boundary re-fetch — 67-doc subset flood " +
       "past the 64-entry head hides the true round-2 winner") {
    import spark.implicits._
    // doc 0: 103 distinct tokens → 101 distinct 3-shingles (round-1
    // winner). docs 1..65: identical 101-token prefixes of doc 0 (99
    // shingles each, all ⊂ doc 0's) — round-1 bound 99, true round-2
    // gain 0, and MORE of them than the 64-entry head fetch. doc 999:
    // 100 disjoint tokens → 98 fresh shingles, the true round-2 winner
    // sitting BEYOND the fetch boundary. Before the boundary re-fetch,
    // CELF settled round 2 on gain 0 (early stop) without ever looking
    // at doc 999.
    val w = (1 to 103).map(i => s"w$i")
    val d = (1 to 100).map(i => s"d$i")
    val docs = (Seq((0L, w.mkString(" "))) ++
      (1 to 65).map(i => (i.toLong, w.take(101).mkString(" "))) ++
      Seq((999L, d.mkString(" ")))).toDF("doc_id", "text")
    val out = graft.operators.Selection
      .maxCoverageSelect(docs, "doc_id", "text", k = 2, shingleLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq((1L, 0L, 101L, 101L), (2L, 999L, 98L, 199L)),
      s"got $out")
  }

  test("columnAssociation: independent columns score 0, identical score 1, " +
       "hand-checked MI in between") {
    import spark.implicits._
    // independent: a uniform over 2, b uniform over 3, all 6 cells equal
    val ind = (for (i <- 0 until 60) yield (s"a${i % 2}", s"b${i % 3}"))
      .toDF("x", "y")
    val r1 = Quality.columnAssociation(ind, "x", "y").collect()(0)
    assert(r1.getLong(0) == 60L)
    assert(r1.getDouble(1) == 1.0 && math.abs(r1.getDouble(2) - 1.584963) < 1e-6)
    assert(r1.getDouble(3) == 0.0 && r1.getDouble(4) == 0.0)
    // identical partitions: NMI exactly 1
    val same = (for (i <- 0 until 30) yield (s"v${i % 3}", s"w${i % 3}"))
      .toDF("x", "y")
    val r2 = Quality.columnAssociation(same, "x", "y").collect()(0)
    assert(r2.getDouble(4) == 1.0 && math.abs(r2.getDouble(3) - r2.getDouble(1)) < 1e-6)
    // hand-checked 2x2: cells (a0,b0)=3 (a0,b1)=1 (a1,b0)=1 (a1,b1)=3
    val rows = Seq.fill(3)(("a0", "b0")) ++ Seq(("a0", "b1")) ++
      Seq(("a1", "b0")) ++ Seq.fill(3)(("a1", "b1"))
    val r3 = Quality.columnAssociation(rows.toDF("x", "y"), "x", "y")
      .collect()(0)
    def h(ps: Seq[Double]) = -ps.map(p => p * math.log(p) / math.log(2)).sum
    val want = math.rint((2 * h(Seq(0.5, 0.5)) -
      h(Seq(0.375, 0.125, 0.125, 0.375))) * 1e6) / 1e6
    assert(math.abs(r3.getDouble(3) - want) < 1e-6, s"mi=${r3.getDouble(3)} want $want")
    // constant column: entropy 0, nmi pinned to exact 0.0
    val const = (for (i <- 0 until 10) yield ("k", s"b${i % 2}")).toDF("x", "y")
    val r4 = Quality.columnAssociation(const, "x", "y").collect()(0)
    assert(r4.getDouble(1) == 0.0 && r4.getDouble(3) == 0.0)
  }

  test("lDiverseStats: homogeneous group suppressed even when large; lone " +
       "failure co-suppresses; rollup n_sv is the union distinct") {
    import spark.implicits._
    // g_homog clears any k on size but carries ONE sensitive value —
    // the attribute-disclosure case k-anonymity passes
    val rows = (1 to 40).map(i => ("g_homog", "only", i.toLong)) ++
      (1 to 30).map(i => ("g_div", s"v${i % 5}", 100L + i)) ++
      (1 to 20).map(i => ("g_div2", s"w${i % 4}", 200L + i))
    val out = Quality.lDiverseStats(rows.toDF("a", "sv", "w"), Seq("a"),
      "sv", l = 3L, col("w")).collect()
    val sup = out.filter(_.getString(0) == "__suppressed__")
    val visible = out.filter(_.getString(0) != "__suppressed__")
    // exactly ONE group fails l => complementary suppression kicks in:
    // g_homog (1 value) fails; smallest visible (g_div2, 20 rows)
    // co-suppresses; only g_div publishes
    assert(visible.map(_.getString(0)).toSet == Set("g_div"))
    assert(sup.length == 1)
    assert(sup.head.getLong(1) == 60L)             // 40 + 20 rows
    assert(sup.head.getLong(2) == 5L)              // {only, w0..w3}
    assert(sup.head.getLong(3) == 2L)              // >= 2 cells always
    assert(out.map(_.getLong(1)).sum == 90L)
    assert(out.map(_.getLong(4)).sum == rows.map(_._3).sum)
  }

  test("decayedBucketCounts: merge identity — state(a)+state(b) == state(all); " +
       "eval equals driver recompute") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000L)
    val ev = (1 to 60).map(i =>
      (i.toLong, (i % 7).toLong, at(i.toLong * 97 % 1000)))
      .toDF("event_id", "user_id", "ts")
    val h = 100L
    val all = Frequency.decayedBucketCounts(ev, "user_id", "ts", h)
    val merged = Frequency.mergeDecayedCounts(
      Frequency.decayedBucketCounts(ev.filter(col("event_id") % 2 === 0),
        "user_id", "ts", h),
      Frequency.decayedBucketCounts(ev.filter(col("event_id") % 2 =!= 0),
        "user_id", "ts", h))
    def st(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(st(all) == st(merged), "merge identity broken")
    // shard-grouping invariance: a 3-way split merges to the same state
    val m3 = Frequency.mergeDecayedCounts(
      Frequency.mergeDecayedCounts(
        Frequency.decayedBucketCounts(ev.filter(col("event_id") % 3 === 0),
          "user_id", "ts", h),
        Frequency.decayedBucketCounts(ev.filter(col("event_id") % 3 === 1),
          "user_id", "ts", h)),
      Frequency.decayedBucketCounts(ev.filter(col("event_id") % 3 === 2),
        "user_id", "ts", h))
    assert(st(all) == st(m3), "3-way grouping changed the state")
    // eval: exact dyadic recompute on the driver
    val got = Frequency.decayedTopKFromCounts(merged, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3)))
    val buckets = (1 to 60).map(i =>
      ((i % 7).toLong, (i.toLong * 97 % 1000) * 1000000L / (h * 1000000L)))
    val bmax = buckets.map(_._2).max
    val wu = buckets.groupBy(_._1).map { case (u, bs) =>
      u -> bs.map { case (_, b) =>
        BigInt(1) << (40 - math.min(bmax - b, 40L).toInt) }.sum }
    val want = wu.toSeq.map { case (u, w) =>
        (u, w, buckets.count(_._1 == u).toLong) }
      .sortBy { case (u, w, _) => (-w, u) }.take(3).zipWithIndex
      .map { case ((u, w, n), i) =>
        (u, (BigDecimal(w) / BigDecimal(BigInt(1) << 40)).toDouble,
          n, i + 1L) }
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
  }

  test("jlProject: ±1 matrix deterministic, projection equals driver matmul") {
    import spark.implicits._
    val m = graft.operators.Embeddings.jlSignMatrix(4, 8, "jl")
    assert(m.flatten.forall(x => x == 1.0 || x == -1.0))
    assert(m.map(_.toSeq).toSeq ==
      graft.operators.Embeddings.jlSignMatrix(4, 8, "jl").map(_.toSeq).toSeq)
    val vecs = Seq((1L, (1 to 8).map(_.toFloat).toArray),
        (2L, (1 to 8).map(i => (9 - i).toFloat).toArray))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Embeddings
      .jlProject(vecs, "embedding", outDim = 4, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2).toSeq).toMap
    val want = Map(
      1L -> m.map(row => row.zipWithIndex.map { case (s, i) =>
        s * (i + 1).toDouble }.sum).toSeq,
      2L -> m.map(row => row.zipWithIndex.map { case (s, i) =>
        s * (8 - i).toDouble }.sum).toSeq)
    assert(got == want)
  }

  test("tfidfTopK: rare terms beat common, rank ties break on token") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare1 common common"),
      (2L, "common unique2 rare1"),
      (3L, "common common common")).toDF("doc_id", "text")
    val out = Frequency.tfidfTopK(docs, "doc_id", "text", k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(4)),
        (r.getString(1), r.getLong(2)))).toMap
    // doc 1: 'rare1' (df 2) has idf (3-2+.5)/(2+.5)=0.6 → 0.6;
    //        'common' tf 3 × idf (3-3+.5)/(3.5)=1/7 → ~0.4286 — rare wins
    assert(out((1L, 1L)) == (("rare1", 1L)))
    assert(out((1L, 2L)) == (("common", 3L)))
    // doc 2: unique2 idf (3-1+.5)/1.5 = 5/3 → top
    assert(out((2L, 1L)) == (("unique2", 1L)))
    assert(out((2L, 2L)) == (("rare1", 1L)))
    // doc 3: only one distinct token → only one row
    assert(!out.contains((3L, 2L)) && out((3L, 1L))._1 == "common")
  }

  test("tCloseStats: distribution-skewed group suppressed; lone failure " +
       "co-suppresses smallest visible; rollup emd is the union recompute") {
    import spark.implicits._
    // domain {0,1,2}; global d=(17,17,26), N=60, m=3. Hand EMDs:
    //  g_uniform (10,10,10): (3/60 + 6/60)/2  = 0.075
    //  g_mid     (7,7,6):    (4/60 + 8/60)/2  = 0.100
    //  g_skew    (0,0,10):   (17/60 + 34/60)/2 = 0.425
    val rows =
      (1 to 10).flatMap(i => Seq(("g_uniform", 0L), ("g_uniform", 1L),
        ("g_uniform", 2L))) ++
      (1 to 7).flatMap(i => Seq(("g_mid", 0L), ("g_mid", 1L))) ++
      (1 to 6).map(_ => ("g_mid", 2L)) ++
      (1 to 10).map(_ => ("g_skew", 2L))
    val df = rows.zipWithIndex
      .map { case ((g, v), i) => (g, v, i.toLong + 1) }.toDF("a", "v", "w")
    // t = 0.2: only g_skew fails → lone failure → co-suppress the
    // smallest visible group (g_mid, 20 rows < 30)
    val out = Quality.tCloseStats(df, Seq("a"), col("v"),
      tNum = 1L, tDen = 5L, weight = col("w")).collect()
    val visible = out.filter(_.getString(0) != "__suppressed__")
    val sup = out.filter(_.getString(0) == "__suppressed__")
    assert(visible.map(_.getString(0)).toSet == Set("g_uniform"))
    assert(math.abs(visible.head.getDouble(2) - 0.075) < 1e-9)
    assert(sup.length == 1)
    assert(sup.head.getLong(1) == 30L)            // 10 skew + 20 mid rows
    assert(sup.head.getLong(3) == 2L)             // never a lone cell
    // union distribution (7,7,16)/30 vs global: (3/60 + 6/60)/2 = 0.075
    assert(math.abs(sup.head.getDouble(2) - 0.075) < 1e-9)
    assert(out.map(_.getLong(1)).sum == 60L)                // rows conserved
    assert(out.map(_.getLong(4)).sum == (1 to 60).map(_.toLong).sum)
  }

  test("tCloseStats: constant sensitive column (m=1) publishes everything " +
       "at emd 0; all-fail corpus hits the zero-visible exemption") {
    import spark.implicits._
    val const = (1 to 30).map(i => (s"g${i % 3}", 7L, 1L)).toDF("a", "v", "w")
    val o1 = Quality.tCloseStats(const, Seq("a"), col("v"), 0L, 1L,
      col("w")).collect()
    assert(o1.length == 3 && o1.forall(r =>
      r.getString(0) != "__suppressed__" && r.getDouble(2) == 0.0))
    // t = 0 with disjoint per-group values: every group's distribution
    // differs from the global one → all fail → the rollup publishes
    // alone (no complement to infer against), union == global → emd 0
    val split = ((1 to 10).map(_ => ("gA", 0L, 1L)) ++
      (1 to 10).map(_ => ("gB", 1L, 1L))).toDF("a", "v", "w")
    val o2 = Quality.tCloseStats(split, Seq("a"), col("v"), 0L, 1L,
      col("w")).collect()
    assert(o2.length == 1 && o2.head.getString(0) == "__suppressed__")
    assert(o2.head.getLong(1) == 20L && o2.head.getLong(3) == 2L)
    assert(o2.head.getDouble(2) == 0.0)
  }

  test("conformalThreshold: exact k-th-largest order statistic; ties " +
       "keep the guarantee; k > n yields the vacuous gate") {
    import spark.implicits._
    // n = 9, α = 1/3: k = ceil(10·2/3) = 7 → τ = 7th largest = 0.3
    val scores = Seq(0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1)
    val cal = scores.toDF("s")
    val r = graft.operators.Classifier.conformalThreshold(cal, col("s"),
      alphaNum = 1L, alphaDen = 3L).collect()
    assert(r.length == 1 && r.head.getLong(0) == 9L &&
      r.head.getLong(1) == 7L && r.head.getDouble(2) == 0.3)
    // ties: τ = max s with #{scores ≥ s} ≥ k (never under-covers)
    val tied = Seq(0.5, 0.5, 0.5, 0.2, 0.2, 0.1).toDF("s")
    val r2 = graft.operators.Classifier.conformalThreshold(tied, col("s"),
      alphaNum = 1L, alphaDen = 2L).collect()
    // k = ceil(7/2) = 4 → cum(0.5)=3 < 4, cum(0.2)=5 ≥ 4 → τ = 0.2
    assert(r2.head.getLong(1) == 4L && r2.head.getDouble(2) == 0.2)
    // k > n: α = 1/100 on n = 5 → k = ceil(6·99/100) = 6 > 5 → null τ
    val small = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("s")
    val r3 = graft.operators.Classifier.conformalThreshold(small, col("s"),
      alphaNum = 1L, alphaDen = 100L).collect()
    assert(r3.length == 1 && r3.head.getLong(0) == 5L &&
      r3.head.getLong(1) == 6L && r3.head.isNullAt(2))
    val gated = graft.operators.Classifier.conformalGate(small,
      Seq(0.01, 99.0).toDF("s"), col("s"), 1L, 100L).collect()
    assert(gated.forall(_.getAs[Long]("accept") == 1L))
  }

  test("conformalThresholdByGroup: per-group result equals the marginal " +
       "gate run on each group alone; absent group accepts") {
    import spark.implicits._
    val cal = (Seq.tabulate(9)(i => ("en", (i + 1) / 10.0)) ++
      Seq.tabulate(5)(i => ("fr", (i + 1) / 10.0))).toDF("lang", "s")
    val byG = graft.operators.Classifier.conformalThresholdByGroup(
      cal, Seq("lang"), col("s"), 1L, 3L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    for (g <- Seq("en", "fr")) {
      val solo = graft.operators.Classifier.conformalThreshold(
        cal.filter(col("lang") === g), col("s"), 1L, 3L).collect().head
      assert(byG(g) == ((solo.getLong(0), solo.getLong(1),
        if (solo.isNullAt(2)) None else Some(solo.getDouble(2)))),
        s"group $g diverges from the marginal gate on its slice")
    }
    // en: n=9, k=ceil(10*2/3)=7 → τ = 7th largest = 0.3
    assert(byG("en") == ((9L, 7L, Some(0.3))))
    // fr: n=5, k=ceil(6*2/3)=4 → τ = 4th largest of .1..odd → 0.2
    assert(byG("fr") == ((5L, 4L, Some(0.2))))
    // a group with no calibration rows accepts everything
    val gated = graft.operators.Classifier.conformalGateByGroup(cal,
      Seq(("de", 0.01), ("en", 0.25), ("en", 0.35)).toDF("lang", "s"),
      Seq("lang"), col("s"), 1L, 3L)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getAs[Long]("accept")))
    assert(gated.toSet == Set(("de", 0.01, 1L), ("en", 0.25, 0L),
      ("en", 0.35, 1L)))
  }

  test("weightedConformalThreshold: uniform weights reduce to the " +
       "unweighted gate exactly, for every test group") {
    import spark.implicits._
    val cal = Seq(("gX", 0.9), ("gY", 0.8), ("gX", 0.7), ("gY", 0.6),
      ("gX", 0.5), ("gY", 0.4), ("gX", 0.3), ("gY", 0.2), ("gX", 0.1))
      .toDF("g", "s")
    val uni = Seq(("gX", 1000000L), ("gY", 1000000L)).toDF("g", "w6")
    val w = graft.operators.Classifier.weightedConformalThreshold(
      cal, "g", col("s"), uni, 1L, 3L).collect()
    val u = graft.operators.Classifier.conformalThreshold(
      cal, col("s"), 1L, 3L).collect().head
    // n = 9, k = ⌈10·2/3⌉ = 7 → τ = 0.3; with w6 ≡ 10^6 the weighted
    // inequality is the unweighted one times 10^6 — identical τ per group
    assert(u.getLong(1) == 7L && u.getDouble(2) == 0.3)
    assert(w.length == 2)
    for (r <- w) {
      assert(r.getLong(1) == u.getLong(0), "n_calib mismatch")
      assert(r.getDecimal(3).longValueExact == 9000000L,
        "w_total on the grid")
      assert(r.getDouble(4) == u.getDouble(2),
        s"uniform-weight τ for ${r.getString(0)} diverges from unweighted")
    }
  }

  test("sourceShiftWeights: exact empirical likelihood ratios on the " +
       "1e-6 grid; apply-absent calibration group weighs 0") {
    import spark.implicits._
    val cal = Seq("gA", "gA", "gB", "gB", "gZ").toDF("g")
    val app = Seq("gA", "gA", "gA", "gB", "gC").toDF("g")
    val w = graft.operators.Classifier.sourceShiftWeights(cal, app, "g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // C = 5, A = 5: gA = (3·5)/(2·5) = 1.5; gB = (1·5)/(2·5) = 0.5;
    // gZ absent from apply → 0; gC absent from calibration → no row
    assert(w == Map("gA" -> 1500000L, "gB" -> 500000L, "gZ" -> 0L))
  }

  test("weightedConformalGate: the shifted source mix moves each test " +
       "group's τ; calibration-absent test group accepts vacuously") {
    import spark.implicits._
    val cal = Seq(("gA", 0.9), ("gA", 0.8), ("gA", 0.7),
      ("gB", 0.3), ("gB", 0.2), ("gB", 0.1)).toDF("g", "s")
    val app = Seq(("gA", 0.5), ("gB", 0.25), ("gB", 0.15), ("gB", 0.05),
      ("gC", 0.0)).toDF("g", "s")
    // weights: C = 6, A = 5 → gA = (1·6)/(3·5) = 0.4, gB = (3·6)/(3·5)
    // = 1.2; W = 3·400000 + 3·1200000 = 4.8e6. α = 1/3: 3·cum ≥
    // 2·(W + w_t) → τ_gA = 0.2 (cum 3.6e6), τ_gB = 0.1 (cum 4.8e6) —
    // the heavy low-score gB mass lowers gB's bar below the unweighted
    // τ = 0.2 (k = ⌈7·2/3⌉ = 5 → 5th largest)
    val thr = graft.operators.Classifier.weightedConformalThreshold(
      cal, "g", col("s"),
      graft.operators.Classifier.sourceShiftWeights(cal, app, "g"),
      1L, 3L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDecimal(3).longValueExact, r.getDouble(4)))).toMap
    assert(thr == Map(
      "gA" -> ((6L, 400000L, 4800000L, 0.2)),
      "gB" -> ((6L, 1200000L, 4800000L, 0.1))), s"got $thr")
    val gated = graft.operators.Classifier.weightedConformalGate(
      cal, app, "g", col("s"), 1L, 3L)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getAs[Long]("accept"))).toSet
    assert(gated == Set(("gA", 0.5, 1L), ("gB", 0.25, 1L),
      ("gB", 0.15, 1L), ("gB", 0.05, 0L), ("gC", 0.0, 1L)), s"got $gated")
  }

  test("riskControlThreshold: most-permissive feasible τ; admit-all " +
       "and admit-nothing vacuities are the honest duals") {
    import spark.implicits._
    val cal = Seq((0.9, 1L), (0.8, 0L), (0.7, 1L), (0.6, 0L), (0.5, 0L),
      (0.4, 1L), (0.3, 0L), (0.2, 0L), (0.1, 0L)).toDF("s", "l")
    // α = 1/5: feasible ⟺ (cumLoss+1)·5 ≤ 10 ⟺ cumLoss ≤ 1 → τ = 0.8
    // (cum loss above 0.8 is 1); admit_all needs (3+1)·5 ≤ 10 → no
    val r = graft.operators.Classifier.riskControlThreshold(
      cal, col("s"), col("l"), 1L, 5L).collect().head
    assert(r.getLong(0) == 9L && r.getLong(1) == 3L &&
      r.getDouble(2) == 0.8 && r.getLong(3) == 0L)
    // α = 1/2: cumLoss ≤ 4 always → τ = min score AND admit_all fires
    val r2 = graft.operators.Classifier.riskControlThreshold(
      cal, col("s"), col("l"), 1L, 2L).collect().head
    assert(r2.getDouble(2) == 0.1 && r2.getLong(3) == 1L)
    // every calibration row bad, α tight: nothing is admissible
    val allBad = Seq((0.9, 1L), (0.5, 1L), (0.1, 1L)).toDF("s", "l")
    val r3 = graft.operators.Classifier.riskControlThreshold(
      allBad, col("s"), col("l"), 1L, 4L).collect().head
    assert(r3.isNullAt(2) && r3.getLong(3) == 0L)
    val gated = graft.operators.Classifier.riskControlGate(allBad,
      Seq(0.95, 0.05).toDF("s"), col("s"), col("l"), 1L, 4L).collect()
    assert(gated.forall(_.getAs[Long]("accept") == 0L),
      "admit-nothing vacuity must reject every apply row")
  }

  test("riskControlThreshold == naive driver search on random " +
       "score/loss multisets") {
    import spark.implicits._
    val rnd = new scala.util.Random(181)
    for (trial <- 1 to 8) {
      val n = 3 + rnd.nextInt(20)
      val cal = Seq.fill(n)((rnd.nextInt(9) / 10.0 + 0.1,
        if (rnd.nextBoolean()) 1L else 0L))
      val (aNum, aDen) = (1L + rnd.nextInt(3), 4L + rnd.nextInt(6))
      val r = graft.operators.Classifier.riskControlThreshold(
        cal.toDF("s", "l"), col("s"), col("l"), aNum, aDen)
        .collect().head
      // naive: candidate τ = each distinct score; feasible when
      // (Σ loss at scores ≥ τ) + 1 ≤ α(n+1)
      val feas = cal.map(_._1).distinct.filter(t =>
        (cal.filter(_._1 >= t).map(_._2).sum + 1) * aDen <=
          aNum * (n + 1))
      val expTau = if (feas.isEmpty) None else Some(feas.min)
      val gotTau = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(gotTau == expTau, s"trial $trial: τ $gotTau vs $expTau")
      val expAll = if ((cal.map(_._2).sum + 1) * aDen <= aNum * (n + 1))
        1L else 0L
      assert(r.getLong(3) == expAll, s"trial $trial: admit_all")
    }
  }

  test("riskControlThresholdByGroup: per-group equals the marginal " +
       "gate on each slice; calibration-absent group admits nothing") {
    import spark.implicits._
    val cal = (Seq((0.9, 1L), (0.8, 0L), (0.7, 1L), (0.6, 0L),
      (0.5, 0L), (0.4, 1L), (0.3, 0L), (0.2, 0L), (0.1, 0L))
        .map { case (s, l) => ("en", s, l) } ++
      Seq(("fr", 0.9, 0L), ("fr", 0.5, 1L), ("fr", 0.1, 0L)))
      .toDF("lang", "s", "l")
    val byG = graft.operators.Classifier.riskControlThresholdByGroup(
      cal, Seq("lang"), col("s"), col("l"), 1L, 3L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getLong(4)))).toMap
    for (g <- Seq("en", "fr")) {
      val solo = graft.operators.Classifier.riskControlThreshold(
        cal.filter(col("lang") === g), col("s"), col("l"), 1L, 3L)
        .collect().head
      assert(byG(g) == ((solo.getLong(0), solo.getLong(1),
        if (solo.isNullAt(2)) None else Some(solo.getDouble(2)),
        solo.getLong(3))),
        s"group $g diverges from the marginal gate on its slice")
    }
    // en: cumLoss ≤ 2 down to s = 0.5 → τ = 0.5; fr: cumLoss must be 0
    // → τ = 0.9; neither slice admits everything
    assert(byG("en") == ((9L, 3L, Some(0.5), 0L)))
    assert(byG("fr") == ((3L, 1L, Some(0.9), 0L)))
    val gated = graft.operators.Classifier.riskControlGateByGroup(cal,
      Seq(("de", 0.99), ("en", 0.6), ("en", 0.4), ("fr", 0.9),
        ("fr", 0.8)).toDF("lang", "s"),
      Seq("lang"), col("s"), col("l"), 1L, 3L)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getAs[Long]("accept"))).toSet
    // the "de" row has NO per-slice evidence → admits nothing (the
    // deliberate asymmetry with conformalGateByGroup, where it accepts)
    assert(gated == Set(("de", 0.99, 0L), ("en", 0.6, 1L),
      ("en", 0.4, 0L), ("fr", 0.9, 1L), ("fr", 0.8, 0L)), s"got $gated")
  }

  test("lossState merge identity: riskControlFromState of folded " +
       "shards equals the monolithic calibration exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(185)
    val rows = Seq.fill(40)((rnd.nextInt(9) / 10.0 + 0.1,
      if (rnd.nextInt(3) == 0) 1L else 0L, rnd.nextInt(3)))
    val whole = rows.map(r => (r._1, r._2)).toDF("s", "l")
    val folded = (0 until 3)
      .map(i => rows.filter(_._3 == i).map(r => (r._1, r._2))
        .toDF("s", "l"))
      .map(df => graft.operators.Classifier.lossState(
        df, col("s"), col("l")))
      .reduce(graft.operators.Classifier.mergeLossStates)
    val a = graft.operators.Classifier.riskControlFromState(
      folded, 1L, 6L).collect().head
    val b = graft.operators.Classifier.riskControlThreshold(
      whole, col("s"), col("l"), 1L, 6L).collect().head
    assert(a.toSeq == b.toSeq, s"merged $a vs monolithic $b")
  }

  test("groupScoreState merge identity: the weighted gate from folded " +
       "shards equals the monolithic calibration exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(186)
    val rows = Seq.fill(36)((if (rnd.nextBoolean()) "gA" else "gB",
      rnd.nextInt(9) / 10.0 + 0.1, rnd.nextInt(3)))
    val whole = rows.map(r => (r._1, r._2)).toDF("g", "s")
    val app = Seq(("gA", 0.35), ("gA", 0.85), ("gB", 0.15),
      ("gB", 0.55), ("gB", 0.95)).toDF("g", "s")
    val folded = (0 until 3)
      .map(i => rows.filter(_._3 == i).map(r => (r._1, r._2))
        .toDF("g", "s"))
      .map(df => graft.operators.Classifier.groupScoreState(
        df, "g", col("s")))
      .reduce(graft.operators.Classifier.mergeGroupScoreStates)
    val a = graft.operators.Classifier.weightedConformalGateFromState(
      folded, app, "g", col("s"), 1L, 4L)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getAs[Long]("accept"))).toSet
    val b = graft.operators.Classifier.weightedConformalGate(
      whole, app, "g", col("s"), 1L, 4L)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getAs[Long]("accept"))).toSet
    assert(a == b, s"merged $a vs monolithic $b")
  }

  test("conformalFdrSelect: BH over conformal p-values at tie-block " +
       "granularity; empty and full selections at the extremes") {
    import spark.implicits._
    val nulls = Seq(1.0, 2.0, 3.0, 4.0).toDF("s")
    val tests = Seq(0.0, 2.0, 3.0, 5.0, 5.0, 6.0).toDF("s")
    // p = (1+c)/5 per test score: 6→.2, 5→.2, 3→.6, 2→.8, 0→1; BH at
    // q=1/2, m=6: k*=3 (p_(3)=.2 ≤ 3/12) → p*=.2 → s*=5; the s=6
    // singleton is infeasible ALONE (k=1) but enters via the tie block
    val out = graft.operators.Classifier.conformalFdrSelect(
      nulls, tests, col("s"), 1L, 2L).collect()
    assert(out.forall(r => r.getLong(1) == 4L && r.getLong(2) == 6L &&
      r.getDouble(3) == 5.0))
    val sel = out.map(r => (r.getDouble(0), r.getAs[Long]("selected")))
      .sortBy(_._1).toSeq
    assert(sel == Seq((0.0, 0L), (2.0, 0L), (3.0, 0L), (5.0, 1L),
      (5.0, 1L), (6.0, 1L)), s"got $sel")
    // every null above every test → nothing selectable
    val none = graft.operators.Classifier.conformalFdrSelect(
      Seq(9.0, 8.0).toDF("s"), Seq(1.0, 2.0).toDF("s"), col("s"), 1L, 2L)
      .collect()
    assert(none.forall(r => r.isNullAt(3) &&
      r.getAs[Long]("selected") == 0L))
    // every null below every test → everything selected
    val all = graft.operators.Classifier.conformalFdrSelect(
      Seq(1.0, 2.0).toDF("s"), Seq(3.0, 4.0).toDF("s"), col("s"), 1L, 2L)
      .collect()
    assert(all.forall(_.getAs[Long]("selected") == 1L))
  }

  test("conformalFdrSelect == naive driver BH on random multisets") {
    import spark.implicits._
    val rnd = new scala.util.Random(182)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(12)
      val m = 2 + rnd.nextInt(15)
      val nulls = Seq.fill(n)(rnd.nextInt(12).toDouble)
      val tests = Seq.fill(m)(rnd.nextInt(12).toDouble)
      val (qNum, qDen) = (1L + rnd.nextInt(2), 2L + rnd.nextInt(4))
      val out = graft.operators.Classifier.conformalFdrSelect(
        nulls.toDF("s"), tests.toDF("s"), col("s"), qNum, qDen)
        .collect().map(r => (r.getDouble(0), r.getAs[Long]("selected")))
      // naive BH: p_j = (1+#{null ≥ s_j})/(n+1) sorted ascending;
      // k* = max{k : p_(k)·qDen·m ≤ k·qNum} (cross-multiplied with
      // p's denominator n+1); select p ≤ p_(k*)
      val ps = tests.map(t => (1L + nulls.count(_ >= t), t))
      val sorted = ps.sortBy(_._1)
      val ks = (1 to m).filter(k =>
        sorted(k - 1)._1 * qDen * m <= k.toLong * qNum * (n + 1))
      val pStar = if (ks.isEmpty) -1L else sorted(ks.max - 1)._1
      val exp = ps.map { case (p, t) => (t, if (pStar >= 0 && p <= pStar)
        1L else 0L) }.sorted
      assert(out.toSeq.sorted == exp,
        s"trial $trial: ${out.toSeq.sorted} vs $exp")
    }
  }

  test("riskCoverageCurve: exact operating points at distinct-score " +
       "grain; full-coverage tail row closes the curve") {
    import spark.implicits._
    val df = Seq((0.9, 0L), (0.9, 1L), (0.5, 0L), (0.1, 1L))
      .toDF("s", "l")
    val out = graft.operators.Classifier.riskCoverageCurve(
      df, col("s"), col("l"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(-_._1).toSeq
    assert(out == Seq(
      (0.9, 2L, 1L, 0.5, 0.5),
      (0.5, 3L, 1L, 0.75, 1.0 / 3.0),
      (0.1, 4L, 2L, 1.0, 0.5)), s"got $out")
  }

  test("aucExact: perfect separation, pure ties, and random multisets " +
       "vs the brute-force pair count") {
    import spark.implicits._
    val perfect = Seq((3.0, 1L), (4.0, 1L), (1.0, 0L), (2.0, 0L))
      .toDF("s", "y")
    val p = graft.operators.Classifier.aucExact(perfect, col("s"),
      col("y")).collect().head
    assert(p.getLong(0) == 2L && p.getLong(1) == 2L &&
      p.getLong(2) == 8L && p.getDouble(3) == 1.0)
    val tied = Seq((1.0, 1L), (1.0, 0L)).toDF("s", "y")
    val t = graft.operators.Classifier.aucExact(tied, col("s"),
      col("y")).collect().head
    assert(t.getLong(2) == 1L && t.getDouble(3) == 0.5)
    val rnd = new scala.util.Random(183)
    for (trial <- 1 to 6) {
      val rows = Seq.fill(5 + rnd.nextInt(25))(
        (rnd.nextInt(8).toDouble, if (rnd.nextBoolean()) 1L else 0L))
      val pos = rows.filter(_._2 == 1L).map(_._1)
      val neg = rows.filter(_._2 == 0L).map(_._1)
      if (pos.nonEmpty && neg.nonEmpty) {
        val u2 = (for (a <- pos; b <- neg) yield
          if (a > b) 2L else if (a == b) 1L else 0L).sum
        val r = graft.operators.Classifier.aucExact(rows.toDF("s", "y"),
          col("s"), col("y")).collect().head
        assert(r.getLong(2) == u2 && r.getLong(0) == pos.size &&
          r.getLong(1) == neg.size,
          s"trial $trial: u2 ${r.getLong(2)} vs brute $u2")
      }
    }
  }

  test("facilityLocationSelect: orthogonal-cluster hand case and " +
       "driver-greedy replay on the quantized similarity table") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(0f, 1f, 0f)),
      (5L, Array(0f, 0f, 1f)), (6L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Selection.facilityLocationSelect(
      vecs, vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // every cluster pair serves itself + its copy (2·10⁴); ties break
    // on the lowest id: round 1 → id 1, round 2 → id 3 (id 2's gain
    // collapses to 0 once cluster 1 is served)
    assert(out == Seq((1L, 1L, 20000L, 20000L),
      (2L, 3L, 20000L, 40000L)), s"got $out")
    // random fixture: the operator must equal a driver greedy replay
    // run on the SAME quantized similarity table
    val rnd = new scala.util.Random(184)
    val rv = Seq.tabulate(10)(i =>
      ((i + 1).toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cand = rv.filter(col("vec_id") <= 5)
    val got = graft.operators.Selection.facilityLocationSelect(
      rv, cand, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val sims = rv.crossJoin(cand.select(col("vec_id").as("c"),
        col("embedding").as("ce")))
      .select(col("c"), col("vec_id").as("j"),
        round(graft.functions.Vectors.cosine(col("ce"),
          col("embedding")) * lit(1e4), 0).cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val best = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    val chosen = scala.collection.mutable.Set.empty[Long]
    var obj = 0L
    val exp = (1 to 3).map { r =>
      val gains = sims.filterNot(p => chosen(p._1)).groupBy(_._1)
        .map { case (c, ps) =>
          c -> ps.map(p => math.max(p._3 - best(p._2), 0L)).sum }
      val (wid, wg) = gains.toSeq.sortBy { case (c, g) => (-g, c) }.head
      chosen += wid; obj += wg
      sims.filter(_._1 == wid).foreach(p =>
        best(p._2) = math.max(best(p._2), p._3))
      (r.toLong, wid, wg, obj)
    }
    assert(got == exp, s"got $got vs driver greedy $exp")
  }

  test("facilityLocationSelect: k past the candidate pool returns the " +
       "partial trajectory, not an exception; empty pool returns empty") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)),
      (3L, Array(0f, 0f, 1f)), (4L, Array(1f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cand = vecs.filter(col("vec_id") <= 2)
    val out = graft.operators.Selection.facilityLocationSelect(
      vecs, cand, "vec_id", "embedding", k = 5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L),
      s"2-candidate pool at k=5 must stop after 2 rounds, got $out")
    val empty = graft.operators.Selection.facilityLocationSelect(
      vecs, vecs.filter(col("vec_id") < 0), "vec_id", "embedding", k = 2)
    assert(empty.count() == 0L, "empty candidate pool returns no rounds")
  }

  test("facilityLocationSelectLazy: bit-identical trajectory to naive " +
       "greedy; evaluations well under the naive candidates x rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(6618)
    val rv = Seq.tabulate(30)(i =>
      ((i + 1).toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cand = rv.filter(col("vec_id") % 3 =!= 1) // 20 candidates
    def traj(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val naive = traj(graft.operators.Selection.facilityLocationSelect(
      rv, cand, "vec_id", "embedding", k = 4))
    val (lazyDf, evals, _, _) =
      graft.operators.Selection.facilityLocationSelectLazyCounted(
        rv, cand, "vec_id", "embedding", k = 4, simScale = 1e4,
        batchCap = 64, fetchCapBatches = 16)
    assert(traj(lazyDf) == naive,
      s"lazy trajectory ${traj(lazyDf)} diverges from naive $naive")
    val nCand = cand.count()
    assert(evals < nCand * 4,
      s"CELF must beat naive: $evals evaluations vs naive ${nCand * 4}")
    // k past the pool: partial trajectory, same as the naive guard
    val tiny = graft.operators.Selection.facilityLocationSelectLazy(
      rv, rv.filter(col("vec_id") <= 2), "vec_id", "embedding", k = 5)
    assert(tiny.count() == 2L, "lazy loop stops when the pool runs out")
  }

  test("facilityLocationSelectLazy: driver fetch of the bound table is " +
       "CAPPED — an adversarial near-tied pool falls back to the exact " +
       "argmax round and the trajectory still equals naive greedy") {
    import spark.implicits._
    // adversarial shape: every candidate is a tiny perturbation of one
    // direction, so round-1 bounds are high and NEAR-TIED, while after
    // the first pick every true gain collapses toward 0 — stale bounds
    // then beat every fresh gain and pure settle-widening would pull
    // the ENTIRE bound table to the driver
    val rnd = new scala.util.Random(7741)
    val rv = Seq.tabulate(36) { i =>
      val base = Array(1.0f, 0.0f, 0.0f, 0.0f)
      base(1) = (rnd.nextFloat() - 0.5f) * 0.01f
      base(2) = (rnd.nextFloat() - 0.5f) * 0.01f
      ((i + 1).toLong, base)
    }.toDF("vec_id", "embedding")
    val cand = rv.filter(col("vec_id") % 2 === 0) // 18 candidates
    def traj(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val naive = traj(graft.operators.Selection.facilityLocationSelect(
      rv, cand, "vec_id", "embedding", k = 5))
    // tiny caps force the fallback on this fixture: per-round fetch
    // may never exceed fetchCapBatches*batchCap + |selected| = 8 + 4
    val (capped, _, maxFetch, nFallbacks) =
      graft.operators.Selection.facilityLocationSelectLazyCounted(
        rv, cand, "vec_id", "embedding", k = 5, simScale = 1e4,
        batchCap = 4, fetchCapBatches = 2)
    assert(traj(capped) == naive,
      s"capped-fallback trajectory ${traj(capped)} diverges from $naive")
    assert(maxFetch <= 2L * 4 + 4,
      s"driver fetch $maxFetch exceeded the documented cap; the bound " +
        "table must never be pulled wholesale")
    assert(nFallbacks >= 1,
      "fixture must be adversarial enough that the exact-argmax " +
        "fallback actually fires (otherwise this test proves nothing)")

    // the same settle rule caps maxCoverageSelect: 30 near-duplicate
    // docs share six shingles and differ in a 1-3 word tail, so round-1
    // bounds are 7-9 and near-tied while every later true gain is <= 3,
    // and the pool is larger than the 8 + |selected| cap
    val docs = (1 to 30).map { i =>
      val tail = (0 to i % 3).map(j => s"u${i}x$j")
      (i.toLong, ((0 until 8).map(j => s"c$j") ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    val (cov, _, covFetch, covFallbacks) = graft.operators.Selection
      .maxCoverageSelectCounted(docs, "doc_id", "text", k = 5, shingleLen = 3,
        batchCap = 4, fetchCapBatches = 2)
    val covTraj = traj(cov)
    assert(covTraj == naiveMaxCoverage(docs, 5),
      s"capped max-coverage trajectory $covTraj diverges from naive greedy")
    assert(covFetch <= 2L * 4 + 4,
      s"max-coverage driver fetch $covFetch exceeded the documented cap")
    assert(covFallbacks >= 1, "max-coverage fixture must reach the fallback")
  }

  test("conformalIntervalGate: exact k-th-smallest-residual width, " +
       "vacuous infinite interval, calibration-side coverage, and " +
       "merge identity through residualState") {
    import spark.implicits._
    // residuals 0..9 (pred = 0): α = 1/5 ⇒ k = ⌈11·4/5⌉ = 9 ⇒ q̂ = 8
    val cal = (0 to 9).map(r => (0L, r.toLong)).toDF("pred", "y")
    val app = Seq((0L, 8L), (0L, 9L), (10L, 3L)).toDF("pred", "y")
    val out = graft.operators.Classifier.conformalIntervalGate(
      cal, app, col("pred"), col("y"), 1L, 5L)
      .select(col("pred"), col("y"), col("q_hat"), col("lo"), col("hi"),
        col("covered"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
    assert(out == Set((0L, 8L, 8.0, -8.0, 8.0, 1L),
      (0L, 9L, 8.0, -8.0, 8.0, 0L), (10L, 3L, 8.0, 2.0, 18.0, 1L)),
      s"got $out")
    // α too tight for the sample ⇒ null q̂ = the infinite interval,
    // which covers everything (the accept-all vacuity, interval form)
    val vac = graft.operators.Classifier.conformalIntervalGate(
      cal, app, col("pred"), col("y"), 1L, 100L)
      .select(col("q_hat"), col("lo"), col("covered")).collect()
    assert(vac.forall(r => r.isNullAt(0) && r.isNullAt(1) &&
      r.getLong(2) == 1L), "k > n must yield the covering null interval")
    // calibration-side coverage >= 1−α deterministically (cum(q̂) >= k)
    for ((aNum, aDen) <- Seq((1L, 10L), (1L, 3L), (1L, 2L))) {
      val g = graft.operators.Classifier.conformalIntervalGate(
        cal, cal, col("pred"), col("y"), aNum, aDen)
      val cov = g.agg(sum(col("covered")), count(lit(1))).collect().head
      assert(cov.getLong(0) * aDen >= (aDen - aNum) * cov.getLong(1),
        s"alpha $aNum/$aDen: calibration-side interval coverage dips " +
          "below the floor")
    }
    // merge identity: sharded residual states fold to the direct q̂
    val calW = cal.withColumn("id", col("y"))
    val direct = graft.operators.Classifier.conformalIntervalFromState(
      graft.operators.Classifier.residualState(
        calW, col("pred"), col("y")), 1L, 5L).collect().head
    val state = Seq(0L, 1L, 2L)
      .map(r => graft.operators.Classifier.residualState(
        calW.filter(col("id") % 3 === r), col("pred"), col("y")))
      .reduce(graft.operators.Classifier.mergeScoreStates)
    val inc = graft.operators.Classifier.conformalIntervalFromState(
      state, 1L, 5L).collect().head
    assert(inc.toSeq == direct.toSeq,
      s"sharded interval calibration diverges: $inc vs $direct")
  }

  test("weightedConformalIntervalGate: uniform weights reduce to the " +
       "POOLED unweighted interval for every test group (the q241 " +
       "reduction, interval form); calibration-absent group gets the " +
       "covering null interval") {
    import spark.implicits._
    // residuals 0..9 on group gA, 100..109 on gB (pred = 0): the
    // weighted quantile POOLS all calibration residuals (Tibshirani et
    // al.'s construction — per-group is the Mondrian axis, not this
    // one), so uniform weights give every group the pooled q̂
    val cal = ((0 to 9).map(r => ("gA", 0L, r.toLong)) ++
      (0 to 9).map(r => ("gB", 0L, 100L + r))).toDF("g", "pred", "y")
    val uni = Seq(("gA", 1000000L), ("gB", 1000000L)).toDF("g", "w6")
    val w = graft.operators.Classifier.weightedConformalIntervalFromState(
      graft.operators.Classifier.groupResidualState(
        cal, "g", col("pred"), col("y")), "g", uni, 1L, 5L)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val pooled = graft.operators.Classifier.conformalIntervalFromState(
      graft.operators.Classifier.residualState(
        cal, col("pred"), col("y")), 1L, 5L).collect().head.getDouble(2)
    // pooled n = 20, α = 1/5 ⇒ k = ⌈21·4/5⌉ = 17 ⇒ q̂ = 106
    assert(pooled == 106.0, s"pooled q_hat: $pooled")
    assert(w == Map("gA" -> pooled, "gB" -> pooled), s"got $w")
    // end-to-end: an apply mix concentrated on gB raises gB's weight;
    // a group absent from calibration covers vacuously
    val app = Seq(("gA", 0L, 5L), ("gB", 0L, 109L), ("gC", 0L, 7L))
      .toDF("g", "pred", "y")
    val gated = graft.operators.Classifier.weightedConformalIntervalGate(
      cal, app, "g", col("pred"), col("y"), 1L, 5L)
      .select(col("g"), col("covered"), col("q_hat")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(gated.exists { case (g, c, q) => g == "gC" && c == 1L && q.isEmpty },
      s"calibration-absent group must cover vacuously: $gated")
    assert(gated.collect { case ("gA", c, Some(_)) => c } == Set(1L),
      s"gA residual 5 must be covered: $gated")
  }

  test("conformalIntervalByGroup: each group's width equals the solo " +
       "interval on its slice; calibration-absent group covers " +
       "vacuously") {
    import spark.implicits._
    val cal = ((0 to 9).map(r => ("gA", 0L, r.toLong)) ++
      (0 to 9).map(r => ("gB", 0L, 100L + r))).toDF("g", "pred", "y")
    val byG = graft.operators.Classifier.conformalIntervalByGroup(
      cal, Seq("g"), col("pred"), col("y"), 1L, 5L)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    for (g <- Seq("gA", "gB")) {
      val solo = graft.operators.Classifier.conformalIntervalFromState(
        graft.operators.Classifier.residualState(
          cal.filter(col("g") === g), col("pred"), col("y")), 1L, 5L)
        .collect().head.getDouble(2)
      assert(byG(g) == solo, s"group $g q_hat diverges from its slice")
    }
    // per-slice n = 10, α = 1/5 ⇒ k = 9 ⇒ q̂_gA = 8, q̂_gB = 108 —
    // exactly what the pooled weighted form CANNOT give (q257's test)
    assert(byG == Map("gA" -> 8.0, "gB" -> 108.0), s"got $byG")
    val gated = graft.operators.Classifier.conformalIntervalGateByGroup(
      cal, Seq(("gA", 0L, 9L), ("gC", 0L, 999L)).toDF("g", "pred", "y"),
      Seq("g"), col("pred"), col("y"), 1L, 5L)
      .select(col("g"), col("covered")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gated == Set(("gA", 0L), ("gC", 1L)),
      s"gA residual 9 > 8 must miss; absent gC must cover: $gated")
  }

  test("conformalPValues: exact rationals at distinct-score grain, " +
       "monotone in the score") {
    import spark.implicits._
    val calNull = (1 to 10).map(_.toDouble).toDF("s")
    val app = Seq(5.0, 10.0, 12.0, 12.0).toDF("s")
    val p = graft.operators.Classifier.conformalPValues(
      calNull, app, col("s"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1).toSeq
    // n = 10: p(5) = (1+6)/11, p(10) = (1+1)/11, p(12) = (1+0)/11;
    // 12 appears twice on the apply side → n_apply = 2, one grain row
    assert(p == Seq((5.0, 1L, 7L, 11L, 7.0 / 11),
      (10.0, 1L, 2L, 11L, 2.0 / 11), (12.0, 2L, 1L, 11L, 1.0 / 11)),
      s"got $p")
    assert(p.sliding(2).forall(w => w.head._5 >= w.last._5),
      "p-values must be non-increasing in the score")
  }

  test("riskAudit: exact admitted-loss accounting; the vacuous " +
       "admit-nothing gate yields a null-risk row with the bound met") {
    import spark.implicits._
    val cal = Seq((0.9, 1L), (0.8, 0L), (0.7, 1L), (0.6, 0L), (0.5, 0L),
      (0.4, 1L), (0.3, 0L), (0.2, 0L), (0.1, 0L)).toDF("s", "l")
    // α = 1/5 ⇒ τ = 0.8 (cum loss ≤ 1): auditing the gate back on the
    // calibration sample admits {0.9 (loss), 0.8} — realized risk 0.5
    // EXCEEDS α on this fixed sample (CRC bounds the next exchangeable
    // row in expectation, with the +1 correction; the audit reports)
    val g = graft.operators.Classifier.riskControlGate(
      cal, cal, col("s"), col("l"), 1L, 5L)
    val a = graft.operators.Classifier.riskAudit(
      g, "crc", None, col("l"), 1L, 5L).collect().head
    assert(a.getString(0) == "crc" && a.getString(1) == "ALL")
    assert(a.getLong(2) == 9L && a.getLong(3) == 2L &&
      a.getLong(4) == 1L && a.getDouble(5) == 0.5 &&
      a.getDouble(6) == 0.2 && a.getLong(7) == 0L, s"audit row: $a")
    // α = 1/20: nothing feasible ⇒ the gate admits NOTHING; the audit
    // row is vacuous — null realized risk, bound trivially met
    val g2 = graft.operators.Classifier.riskControlGate(
      cal, cal, col("s"), col("l"), 1L, 20L)
    val a2 = graft.operators.Classifier.riskAudit(
      g2, "crc", None, col("l"), 1L, 20L).collect().head
    assert(a2.getLong(3) == 0L && a2.isNullAt(5) && a2.getLong(7) == 1L,
      s"vacuous audit row: $a2")
  }

  test("facilityLocationSelectBucketed: one cell covers all pairs and " +
       "equals the dense trajectory exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(9127)
    val rv = Seq.tabulate(14)(i =>
      ((i + 1).toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cand = rv.filter(col("vec_id") % 3 === 0)
    val dense = graft.operators.Selection.facilityLocationSelect(
      rv, cand, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val oneCell = graft.operators.Selection.facilityLocationSelectBucketed(
      rv, cand, rv.filter(col("vec_id") === 1), "vec_id", "embedding",
      k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(oneCell == dense,
      s"one-cell bucketed $oneCell diverges from dense $dense")
  }

  test("facilityLocationSelectBucketed: multi-cell routing equals a " +
       "driver greedy replay over the cell-restricted pair table") {
    import spark.implicits._
    val rnd = new scala.util.Random(4451)
    val rv = Seq.tabulate(16)(i =>
      ((i + 1).toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cand = rv.filter(col("vec_id") % 3 === 0)
    val cents = rv.filter(col("vec_id") % 5 === 2) // ids 2, 7, 12
    val got = graft.operators.Selection.facilityLocationSelectBucketed(
      rv, cand, cents, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    // driver replay: quantized nearest-centroid cells (ties → smaller
    // centroid id) from the SAME engine cosine kernel, then the greedy
    // over only cell-matched pairs
    def cellsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.crossJoin(cents.select(col("vec_id").as("cid"),
          col("embedding").as("cv")))
        .select(col("vec_id"), col("cid"),
          round(graft.functions.Vectors.cosine(col("cv"),
            col("embedding")) * lit(1e4), 0).cast("long").as("s4"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (id, rs) =>
          id -> rs.sortBy(t => (-t._3, t._2)).head._2 }
    val cellJ = cellsOf(rv)
    val cellC = cellsOf(cand)
    val sims = rv.crossJoin(cand.select(col("vec_id").as("c"),
        col("embedding").as("ce")))
      .select(col("c"), col("vec_id").as("j"),
        round(graft.functions.Vectors.cosine(col("ce"),
          col("embedding")) * lit(1e4), 0).cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(p => cellC(p._1) == cellJ(p._2))
    assert(sims.nonEmpty && sims.size <
      rv.count().toInt * cand.count().toInt,
      "cells must genuinely restrict the pair table in this fixture")
    val best = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    val chosen = scala.collection.mutable.Set.empty[Long]
    var obj = 0L
    val exp = (1 to 3).map { r =>
      val gains = sims.filterNot(p => chosen(p._1)).groupBy(_._1)
        .map { case (c, ps) =>
          c -> ps.map(p => math.max(p._3 - best(p._2), 0L)).sum }
      val (wid, wg) = gains.toSeq.sortBy { case (c, g) => (-g, c) }.head
      chosen += wid; obj += wg
      sims.filter(_._1 == wid).foreach(p =>
        best(p._2) = math.max(best(p._2), p._3))
      (r.toLong, wid, wg, obj)
    }
    assert(got == exp, s"got $got vs driver bucketed greedy $exp")
  }

  test("facilityLocationSelectBucketed: the reported objective is a " +
       "LOWER BOUND on the dense objective of the same selection " +
       "(clamp-at-0 cross-cell reading), and equals it at one cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(3307)
    val rv = Seq.tabulate(24)(i =>
      ((i + 1).toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cand = rv.filter(col("vec_id") % 3 === 0)
    // dense F(S) = Σ_j max(0, max_{c∈S} s4(c,j)) — the unclamped value
    // of ANY selection
    def denseF(sel: Seq[Long]): Long =
      rv.select(col("vec_id").as("j"), col("embedding").as("vj"))
        .crossJoin(cand.filter(col("vec_id").isin(sel: _*))
          .select(col("vec_id").as("c"), col("embedding").as("vc")))
        .select(col("j"),
          round(graft.functions.Vectors.cosine(col("vc"), col("vj")) *
            lit(1e4), 0).cast("long").as("s"))
        .groupBy(col("j")).agg(max(col("s")).as("m"))
        .agg(sum(greatest(col("m"), lit(0L)))).collect()(0).getLong(0)
    for (nCells <- Seq(1, 3, 6)) {
      val cents = rv.orderBy(col("vec_id")).limit(nCells)
      val traj = graft.operators.Selection.facilityLocationSelectBucketed(
        rv, cand, cents, "vec_id", "embedding", k = 3).collect()
      val reported = traj.map(_.getLong(2)).sum
      val dense = denseF(traj.map(_.getLong(1)).toSeq)
      assert(reported <= dense,
        s"cells=$nCells: reported bucketed objective $reported must " +
          s"lower-bound the dense value $dense of the same selection")
      if (nCells == 1)
        assert(reported == dense,
          s"one cell clamps nothing: $reported != $dense")
    }
  }

  test("aucFromState: u2 SATURATES at Long.MaxValue past 9.2e18 (the " +
       "scaladoc's claim — a bare decimal->long cast would THROW under " +
       "ANSI); auc still reads the exact decimal") {
    import spark.implicits._
    // perfect separation at 3e9 rows per class: 2U = 2*np*nn = 1.8e19,
    // past Long.MaxValue — the state-grain entry makes the extreme
    // regime testable without 6e9 rows
    val np = 3000000000L
    val st = Seq((0.0, 0L, np), (1.0, np, 0L)).toDF("score", "n_pos", "n_neg")
    val r = graft.operators.Classifier.aucFromState(st).collect().head
    assert(r.getLong(0) == np && r.getLong(1) == np)
    assert(r.getLong(2) == Long.MaxValue,
      s"u2 must saturate at Long.MaxValue, got ${r.getLong(2)}")
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12,
      s"auc reads the decimal, not the saturated long: ${r.getDouble(3)}")
    // EMPTY input: the clamp must pass the vacuous null through —
    // least() skips nulls, so an unguarded least(null, MAX) would
    // report a spurious saturated statistic (r20 review)
    val empty = graft.operators.Classifier.aucFromState(
      st.filter(col("score") > 99)).collect().head
    assert(empty.isNullAt(2) && empty.isNullAt(3),
      s"empty input must stay vacuous, got $empty")
  }

  test("aucFromState: shard states merge to the monolithic statistic " +
       "exactly, under two different shardings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7312)
    val rows = Seq.tabulate(400) { i =>
      // coarse score grid forces heavy ties; label correlates weakly
      val s = math.rint(rnd.nextDouble() * 20) / 20.0
      (i.toLong, s, if (rnd.nextDouble() < s * 0.8 + 0.1) 1L else 0L)
    }
    val df = rows.toDF("id", "s", "y")
    val direct = graft.operators.Classifier.aucExact(
      df, col("s"), col("y")).collect().head
    for (m <- Seq(3, 5)) {
      val state = (0 until m)
        .map(r => graft.operators.Classifier.labelScoreState(
          df.filter(col("id") % m === r), col("s"), col("y")))
        .reduce(graft.operators.Classifier.mergeLabelScoreStates)
      val inc = graft.operators.Classifier.aucFromState(state)
        .collect().head
      assert(inc.getLong(0) == direct.getLong(0) &&
        inc.getLong(1) == direct.getLong(1) &&
        inc.getLong(2) == direct.getLong(2) &&
        inc.getDouble(3) == direct.getDouble(3),
        s"%$m-sharded AUC state diverges: $inc vs $direct")
    }
  }

  test("aucExact: single-class input yields an explicit null auc, " +
       "never NaN/Infinity") {
    import spark.implicits._
    for (y <- Seq(0L, 1L)) {
      val df = Seq((0.9, y), (0.5, y), (0.1, y)).toDF("s", "y")
      val r = graft.operators.Classifier.aucExact(
        df, col("s"), col("y")).collect().head
      assert(r.isNullAt(3), s"single-class (y=$y) auc must be null")
      assert(r.getLong(2) == 0L, "no discordant mass in a single class")
    }
  }

  test("riskCoverageFromState: shard states merge to the monolithic " +
       "curve exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(5521)
    val rows = Seq.tabulate(300) { i =>
      val s = math.rint(rnd.nextDouble() * 15) / 15.0
      (i.toLong, s, if (rnd.nextDouble() < 0.3) 1L else 0L)
    }
    val df = rows.toDF("id", "s", "l")
    def key(r: org.apache.spark.sql.Row) =
      (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))
    val direct = graft.operators.Classifier.riskCoverageCurve(
      df, col("s"), col("l")).collect().map(key).sortBy(_._1).toSeq
    val state = Seq(0, 1, 2, 3)
      .map(r => graft.operators.Classifier.lossState(
        df.filter(col("id") % 4 === r), col("s"), col("l")))
      .reduce(graft.operators.Classifier.mergeLossStates)
    val inc = graft.operators.Classifier.riskCoverageFromState(state)
      .collect().map(key).sortBy(_._1).toSeq
    assert(inc == direct, "4-sharded risk-coverage state diverges")
  }

  test("weightedConformalFromState: weighted counts that wrap a LONG " +
       "still gate correctly (decimal from the first multiply)") {
    import spark.implicits._
    // two calibration rows, each carrying w6 = 5e18: the cumulative at
    // the lower score is 1e19 — past Long.MaxValue. α = 1/2 ⇒ the
    // feasibility at score s is 2·cum(s) ≥ (W + w_t) = 1.5e19, so only
    // the bottom score (cum = 1e19) qualifies: τ = 0.1 for both groups.
    val cal = Seq(("gA", 0.9), ("gB", 0.1)).toDF("g", "s")
    val w = Seq(("gA", 5000000000000000000L),
      ("gB", 5000000000000000000L)).toDF("g", "w6")
    val thr = graft.operators.Classifier.weightedConformalThreshold(
      cal, "g", col("s"), w, 1L, 2L)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(thr == Map("gA" -> Some(0.1), "gB" -> Some(0.1)),
      s"long-wrapping weighted cumulative mis-gated: $thr")
  }

  test("coverageAudit over `covered` evidence: calibration-side " +
       "INTERVAL coverage meets the floor deterministically, at every " +
       "alpha, across all three interval gates") {
    import spark.implicits._
    val rnd = new scala.util.Random(6619)
    val cal = Seq.tabulate(171) { i =>
      (i.toLong, s"g${i % 3}", rnd.nextDouble() * 50,
        math.rint(rnd.nextDouble() * 60))
    }.toDF("id", "g", "pred", "y")
    for ((aNum, aDen) <- Seq((1L, 10L), (1L, 3L), (1L, 2L), (9L, 10L))) {
      // |{r_i <= q_hat}| >= k = ceil((n+1)(1-α)) >= n(1-α) on the
      // calibration sample itself — the order-statistic construction,
      // interval form; vacuous (null q_hat) groups cover everything
      val gates = Seq(
        "marginal" -> graft.operators.Classifier.conformalIntervalGate(
          cal, cal, col("pred"), col("y"), aNum, aDen),
        "mondrian" -> graft.operators.Classifier
          .conformalIntervalGateByGroup(
            cal, cal, Seq("g"), col("pred"), col("y"), aNum, aDen),
        "weighted" -> graft.operators.Classifier
          .weightedConformalIntervalGate(
            cal, cal, "g", col("pred"), col("y"), aNum, aDen))
      for ((name, gated) <- gates) {
        // mondrian's PER-GROUP order statistic makes the per-group
        // floor deterministic; weighted's quantile is a GLOBALLY
        // weighted order statistic (per-group only in expectation under
        // the shift), so like marginal it is audited marginally — on
        // cal==apply all likelihood ratios are exactly 1, reducing it
        // to the marginal bound
        val grp = if (name == "mondrian") Some("g") else None
        val bad = graft.operators.Classifier.coverageAudit(
            gated, name, grp, col("covered"), aNum, aDen)
          .filter(col("meets_floor") =!= 1L).collect()
        assert(bad.isEmpty,
          s"alpha $aNum/$aDen $name: calibration-side interval " +
            s"coverage dips under the floor: ${bad.mkString}")
      }
    }
  }

  test("coverageAudit: calibration-side coverage meets the promised " +
       "floor deterministically (the order-statistic bound), at every " +
       "alpha; holdout audit REPORTS exact integer counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(2209)
    val cal = Seq.tabulate(157)(i =>
        (i.toLong, math.rint(rnd.nextDouble() * 40) / 40.0))
      .toDF("id", "s")
    for ((aNum, aDen) <- Seq((1L, 10L), (1L, 3L), (1L, 2L), (9L, 10L))) {
      val gated = graft.operators.Classifier.conformalGate(
        cal, cal, col("s"), aNum, aDen)
      val audit = graft.operators.Classifier.coverageAudit(
        gated, "self", None, aNum, aDen).collect()
      assert(audit.length == 1)
      val r = audit.head
      assert(r.getString(0) == "self" && r.getString(1) == "ALL")
      assert(r.getLong(6) == 1L,
        s"alpha $aNum/$aDen: calibration-side coverage " +
          s"${r.getDouble(4)} must meet the ${r.getDouble(5)} floor " +
          "(k-th order statistic construction)")
      assert(r.getDouble(5) == (aDen - aNum).toDouble / aDen)
    }
    // integer audit on a hand case: α = 1/2 over {0.9, 0.5, 0.1} gives
    // k = ⌈4/2⌉ = 2 → τ = 0.5 → accepts 2 of 3 on itself; the floor
    // inequality 2·2 ≥ 1·3 holds
    val tiny = Seq(0.9, 0.5, 0.1).toDF("s")
    val g = graft.operators.Classifier.conformalGate(
      tiny, tiny, col("s"), 1L, 2L)
    val a = graft.operators.Classifier.coverageAudit(
      g, "tiny", None, 1L, 2L).collect().head
    assert(a.getLong(2) == 3L && a.getLong(3) == 2L &&
      a.getLong(6) == 1L, s"hand audit: $a")
  }

  test("plan shape: the r18 gates (weighted conformal, risk control, " +
       "FDR select) reach the corpus as broadcasts — zero apply-side " +
       "exchanges, no shuffle joins anywhere") {
    import graft.sources.Tables
    def fmt(df: org.apache.spark.sql.DataFrame): String = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      spark.catalog.clearCache()
      txt
    }
    def shuffles(plan: String): Int =
      "(?<!Broadcast)Exchange \\(\\d+\\)".r.findAllIn(plan)
        .matchData.map(_.matched).toSet.size
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val cal = docs.filter(col("doc_id") % 7 === 3)
    val app = docs.filter(col("doc_id") % 7 =!= 3)
    val score = graft.functions.Text.distinctTokenRatio(col("text"))
    val loss = graft.functions.Clean.flag(col("n_chars") < 200)
    // weighted conformal: the gate adds no exchange beyond its own
    // threshold computation (per-source τ_t rides a |G|-row broadcast)
    val wThr = fmt(graft.operators.Classifier.weightedConformalThreshold(
      cal, "source", score,
      graft.operators.Classifier.sourceShiftWeights(cal, app, "source"),
      1L, 10L))
    val wGate = fmt(graft.operators.Classifier.weightedConformalGate(
      cal, app, "source", score, 1L, 10L))
    assert(shuffles(wGate) == shuffles(wThr),
      s"weighted gate must add no exchange: ${shuffles(wGate)} vs " +
        s"${shuffles(wThr)}")
    // risk control: same contract as the conformal gate it generalizes
    val rThr = fmt(graft.operators.Classifier.riskControlThreshold(
      cal, score, loss, 1L, 10L))
    val rGate = fmt(graft.operators.Classifier.riskControlGate(
      cal, app, score, loss, 1L, 10L))
    assert(shuffles(rGate) == shuffles(rThr),
      s"risk gate must add no exchange: ${shuffles(rGate)} vs " +
        s"${shuffles(rThr)}")
    // all three gates (incl. FDR select, whose s* is inlined): the
    // corpus must never meet the calibration through a shuffle join —
    // only broadcasts
    val fdr = fmt(graft.operators.Classifier.conformalFdrSelect(
      cal, app, score, 1L, 5L))
    for ((name, plan) <- Seq("weighted" -> wGate, "risk" -> rGate,
        "fdr" -> fdr)) {
      assert(plan.contains("BroadcastExchange"),
        s"$name gate must broadcast:\n${plan.take(800)}")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"$name gate must not shuffle-join the corpus")
    }
  }

  test("plan shape: tCloseStats domain margin broadcasts (grid never " +
       "shuffles the corpus twice); conformalGate adds zero exchanges " +
       "to the apply side") {
    import graft.sources.Tables
    def fmt(df: org.apache.spark.sql.DataFrame): String = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      spark.catalog.clearCache()
      txt
    }
    def shuffles(plan: String): Int =
      "(?<!Broadcast)Exchange \\(\\d+\\)".r.findAllIn(plan)
        .matchData.map(_.matched).toSet.size
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    // t-closeness: the domain margin and 1-row totals ride broadcasts;
    // a wider sensitive domain (bucket width 40 → 10) must not add a
    // single exchange — m sizes broadcast tables, never the plan shape
    def tPlan(w: Long): String = fmt(graft.operators.Quality.tCloseStats(
      docs, Seq("source"), col("n_chars") / lit(w), 13L, 200L,
      col("n_chars")))
    val t40 = tPlan(40L)
    assert(t40.contains("BroadcastExchange"),
      s"domain margin must broadcast:\n${t40.take(1500)}")
    assert(shuffles(t40) == shuffles(tPlan(10L)),
      "domain size must never change the exchange count")
    // conformal: the calibration threshold reaches the corpus as a
    // 1-row broadcast — gating adds ZERO shuffles beyond computing
    // the threshold itself (the apply side is a pure narrow map)
    val score = graft.functions.Text.distinctTokenRatio(col("text"))
    val thrPlan = fmt(graft.operators.Classifier.conformalThreshold(
      docs.filter(col("doc_id") % 4 === 3), score, 1L, 10L))
    val gatePlan = fmt(graft.operators.Classifier.conformalGate(
      docs.filter(col("doc_id") % 4 === 3),
      docs.filter(col("doc_id") % 4 =!= 3), score, 1L, 10L))
    assert(shuffles(gatePlan) == shuffles(thrPlan),
      s"gate must add no exchange: gate ${shuffles(gatePlan)} vs " +
        s"threshold ${shuffles(thrPlan)}")
  }

  test("conformalThreshold: leave-one-out exchangeability — exactly k of " +
       "n+1 distinct scores are covered by the other n's threshold") {
    import spark.implicits._
    // the finite-sample coverage theorem, checked combinatorially: for
    // distinct scores the covered count is EXACTLY k = ceil((n+1)(1-α))
    val pool = Seq(0.91, 0.84, 0.77, 0.65, 0.58, 0.44, 0.39, 0.27,
      0.18, 0.12, 0.07, 0.03)                     // n+1 = 12
    val (aNum, aDen) = (1L, 4L)                   // k = ceil(12·3/4) = 9
    val covered = pool.indices.count { i =>
      val cal = pool.zipWithIndex.filter(_._2 != i).map(_._1).toDF("s")
      val t = graft.operators.Classifier.conformalThreshold(cal, col("s"),
        aNum, aDen).collect().head
      !t.isNullAt(2) && pool(i) >= t.getDouble(2)
    }
    assert(covered == 9, s"covered $covered of ${pool.size}, want 9")
  }
}
