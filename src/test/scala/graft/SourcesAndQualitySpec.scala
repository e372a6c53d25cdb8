package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.quality.Expectations
import graft.sources.{ParquetSink, Tables, TsvSource}

class SourcesAndQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("TsvSource reads \\N as NULL, header, tabs") {
    val dir = Files.createTempDirectory("graft_tsv").toFile
    val f = new java.io.File(dir, "t.tsv")
    val w = new java.io.PrintWriter(f)
    w.println("id\tname\tyear"); w.println("1\talpha\t1990")
    w.println("2\t\\N\t\\N"); w.close()
    val df = TsvSource(spark, f.getAbsolutePath)
    val rows = df.orderBy("id").collect()
    assert(df.columns.toSeq == Seq("id", "name", "year"))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }

  test("ParquetSink: append + dynamic partition overwrite slice reload") {
    val out = Files.createTempDirectory("graft_sink").toFile.getAbsolutePath + "/t"
    val d1 = Seq(("r1", "a", 1), ("r1", "b", 2)).toDF("run", "g", "v")
    val d2 = Seq(("r2", "a", 3)).toDF("run", "g", "v")
    ParquetSink.append(d1, out, Seq("run"))
    ParquetSink.append(d2, out, Seq("run"))
    assert(spark.read.parquet(out).count() == 3)
    // idempotent reload of r1 with corrected data: only r1 replaced
    val d1fix = Seq(("r1", "a", 10)).toDF("run", "g", "v")
    ParquetSink.overwriteSlices(d1fix, out, Seq("run"))
    val after = spark.read.parquet(out)
    assert(after.count() == 2)
    assert(after.filter($"run" === "r1").head().getAs[Int]("v") == 10)
    assert(after.filter($"run" === "r2").count() == 1)
  }

  test("partition pruning: reading one slice scans one partition") {
    val out = Files.createTempDirectory("graft_prune").toFile.getAbsolutePath + "/t"
    ParquetSink.append(Seq(("r1", 1), ("r2", 2), ("r3", 3)).toDF("run", "v"), out, Seq("run"))
    val plan = spark.read.parquet(out).filter($"run" === "r2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("r2"), plan.take(500))
  }

  test("Expectations DSL: single-pass validate with mostly semantics") {
    import Expectations.dsl._
    val df = Seq((1, 5.0), (2, 9.5), (3, 11.0), (4, 7.0), (5, 8.0))
      .toDF("id", "rating")
    val results = Expectations.validate(df, Seq(
      notNull("id"), unique("id"),
      between("rating", 0, 10, mostly = 0.75),
      rowCountAtLeast(3)))
    assert(results.forall(_.passed), results.mkString("; "))
    val strict = Expectations.validate(df, Seq(between("rating", 0, 10, mostly = 0.95)))
    assert(!strict.head.passed)
    intercept[IllegalArgumentException] {
      Expectations.assertAll(df, Seq(between("rating", 0, 10)))
    }
  }

  test("unique expectation catches duplicates") {
    import Expectations.dsl._
    val df = Seq(1, 2, 2, 3).toDF("k")
    assert(!Expectations.validate(df, Seq(unique("k"))).head.passed)
  }

  test("sampled validation: deterministic subset, same verdicts across runs") {
    import Expectations.dsl._
    val df = spark.range(2000).selectExpr("id", "CAST(id % 10 AS DOUBLE) AS rating")
    // rate 1.0 == full validate
    val full = Expectations.validate(df, Seq(notNull("id")))
    val all = Expectations.validateSampled(df, Seq(notNull("id"), rowCountAtLeast(2000)),
      col("id"), rate = 1.0)
    assert(full.head.passed && all.forall(_.passed))
    // a 25% sample gates a strict subset, and the SAME subset every run
    // (content-hash keyed — partition-order independent, unlike LIMIT)
    val s1 = Expectations.validateSampled(df, Seq(rowCountAtLeast(1)), col("id"), 0.25)
    val s2 = Expectations.validateSampled(df.repartition(7), Seq(rowCountAtLeast(1)),
      col("id"), 0.25)
    assert(s1.head.detail == s2.head.detail, s"${s1.head.detail} vs ${s2.head.detail}")
    val n = s1.head.detail.split("=| ")(1).toLong // "count=N min=1"
    assert(n > 300 && n < 700, s"25% of 2000 sampled $n rows")
    // a violation planted INSIDE the sample is caught by the sampled gate
    val bad = df.withColumn("rating",
      org.apache.spark.sql.functions.when($"id" < 1000, -5.0).otherwise($"rating"))
    assert(!Expectations.validateSampled(bad, Seq(between("rating", 0, 10, mostly = 0.8)),
      col("id"), 0.25).head.passed)
  }

  test("empty sample of a non-empty table falls back to full validation") {
    import Expectations.dsl._
    // 3 rows at rate 1e-9: the hash sample is (deterministically) empty —
    // a vacuous 0/0 pass would validate nothing; instead the gate falls
    // back to the full table and CATCHES the planted violation
    val bad3 = Seq((1, 5.0), (2, -99.0), (3, 7.0)).toDF("id", "rating")
    intercept[IllegalArgumentException] {
      Expectations.assertAllSampled(bad3, Seq(between("rating", 0, 10)), $"id", 1e-9)
    }
    // clean data still passes through the fallback path
    val ok3 = Seq((1, 5.0), (2, 6.0), (3, 7.0)).toDF("id", "rating")
    Expectations.assertAllSampled(ok3, Seq(between("rating", 0, 10)), $"id", 1e-9)
    // an empty TABLE still passes vacuously (nothing to validate)
    Expectations.assertAllSampled(ok3.filter($"id" < 0),
      Seq(between("rating", 0, 10)), $"id", 1e-9)
  }

  test("JsonlSource: schema-pinned read, corrupt lines quarantined, values round-trip") {
    import graft.sources.JsonlSource
    val dir = Files.createTempDirectory("graft_jsonl_").toString
    Files.writeString(java.nio.file.Paths.get(dir, "a.json"),
      """{"doc_id": 1, "lang": "en", "text": "alpha beta"}
        |{"doc_id": 2, "lang": "de", "text": "gamma"}
        |{"doc_id": 3, "lang": "en", "text": not json
        |{"doc_id": 4, "lang": "fr", "text": "delta epsilon zeta"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, text STRING")
    val q = JsonlSource.quarantine(JsonlSource.read(spark, dir, schema))
    try {
      // quarantine: the malformed line is captured raw, not fatal, and
      // does not leak into the good rows
      val bad = q.corrupt.collect().map(_.getString(0))
      assert(bad.length == 1 && bad.head.contains("not json"))
      val rows = q.good.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "en", "alpha beta"), (2L, "de", "gamma"),
        (4L, "fr", "delta epsilon zeta")))
      // good rows carry no quarantine column
      assert(!q.good.columns.contains(JsonlSource.CorruptCol))
    } finally graft.operators.Checkpoints.release(q.good)
  }

  test("latest pointer: written, monotone, readable") {
    val out = Files.createTempDirectory("graft_latest").toFile.getAbsolutePath + "/t"
    ParquetSink.append(Seq(("20240101", 1)).toDF("run_date", "v"), out, Seq("run_date"))
    ParquetSink.writeLatestPointer(out, "20240101")
    assert(ParquetSink.readLatestPointer(out).contains("20240101"))
    ParquetSink.writeLatestPointer(out, "20240105")
    assert(ParquetSink.readLatestPointer(out).contains("20240105"))
    // a rerun of an older slice never moves latest backward
    ParquetSink.writeLatestPointer(out, "20240103")
    assert(ParquetSink.readLatestPointer(out).contains("20240105"))
    // atomic-rename discipline leaves no temp droppings behind
    assert(!new java.io.File(out).listFiles().exists(_.getName.endsWith(".tmp")))
  }

  test("gopherGate: each rule fails independently, conjunction gates") {
    // one doc per rule, constructed to violate exactly that rule,
    // plus one clean doc. Interactions matter: short docs inflate
    // top2_frac (2/n), adjacent duplicates inflate it further — so
    // the dup-heavy doc spreads its duplicates de-Bruijn-style (all
    // 16 ordered pairs of its 4 symbols once: every 2-gram unique).
    val sw = Seq("the", "a")
    val docs = Seq(
      ("ok", "the word count here lands inside every bound because " +
        "a normal sentence mixes common and rare words"),
      ("short", "the a quick brown foxes jumped high"),   // 7 words < 8
      ("thin", "the a ab cd ef gh ij kl mn op qr st"),    // mean len 2.0
      ("nostop", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("loop", "the a " + ("spammy hammer " * 6) + "x y z w"), // r_rep
      ("dupes", "the the blue the lime the gold blue blue lime " +
        "blue gold lime lime gold gold the")              // 4/17 distinct
    ).toDF("id", "text")
    // bounds tightened to the fixture's scale; structure is what's tested
    val gated = operators.Quality.gopherGate(docs, "id", "text", sw,
      minWords = 8, maxWords = 60, minMeanLen = 3.0, maxMeanLen = 10.0,
      minStopwords = 2, maxTop2Frac = 0.3, maxDupFrac = 0.7)
    // the scale claim IS the plan shape: one narrow projection, no
    // exchange anywhere
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    val out = gated.collect().map(r => r.getString(0) -> r).toMap
    val flags = Seq("r_words", "r_word_len", "r_stop", "r_rep", "r_dup")
    assert(flags.forall(f => out("ok").getAs[Long](f) == 1L))
    assert(out("ok").getAs[Long]("passes") == 1L)
    for ((id, failing) <- Seq("short" -> "r_words", "thin" -> "r_word_len",
           "nostop" -> "r_stop", "loop" -> "r_rep", "dupes" -> "r_dup")) {
      assert(out(id).getAs[Long](failing) == 0L, s"$id should fail $failing")
      assert(out(id).getAs[Long]("passes") == 0L, s"$id should not pass")
      assert(flags.filter(_ != failing)
        .forall(f => out(id).getAs[Long](f) == 1L),
        s"$id should fail ONLY $failing")
    }
  }

  test("perplexityBuckets: unigram ppl matches hand recompute, terciles split") {
    implicit val s = spark
    // 6 docs over a 3-word vocab with known counts: rare-word-heavy docs
    // must land in 'tail', common-word docs in 'head'
    val docs = Seq(
      ("d1", "x x x x"), ("d2", "x x x y"), ("d3", "x x y y"),
      ("d4", "x y y z"), ("d5", "y z z z"), ("d6", "z z z z")
    ).toDF("id", "text")
    val bucketed = operators.Quality.perplexityBuckets(docs, "id", "text")
    // tercile bounds must come back through the broadcast-1-row gate,
    // not a corpus reshuffle
    assert(bucketed.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val out = bucketed.collect().map(r => r.getString(0) -> r).toMap
    // vocab over all 24 tokens: x=10, y=6, z=8
    val p = Map("x" -> 10.0 / 24, "y" -> 6.0 / 24, "z" -> 8.0 / 24)
    def ppl(toks: String*): Double = {
      val m = toks.map(t => math.log(p(t))).sum / toks.size
      BigDecimal(math.exp(-m)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val expected = Map(
      "d1" -> ppl("x", "x", "x", "x"), "d2" -> ppl("x", "x", "x", "y"),
      "d3" -> ppl("x", "x", "y", "y"), "d4" -> ppl("x", "y", "y", "z"),
      "d5" -> ppl("y", "z", "z", "z"), "d6" -> ppl("z", "z", "z", "z"))
    for ((id, e) <- expected)
      assert(out(id).getAs[Double]("ppl") == e, s"ppl mismatch for $id")
    // terciles: the two lowest-ppl docs are head, the two highest tail
    val byPpl = expected.toSeq.sortBy(_._2).map(_._1)
    for (id <- byPpl.take(2))
      assert(out(id).getAs[String]("bucket") == "head", s"$id should be head")
    for (id <- byPpl.takeRight(2))
      assert(out(id).getAs[String]("bucket") == "tail", s"$id should be tail")
    docs.sparkSession.catalog.clearCache() // reclaim the operator's persist
  }

  test("bigramPerplexityBuckets: JM bigram ppl matches hand recompute") {
    implicit val s = spark
    val raw = Seq(
      ("d1", "x x x x"), ("d2", "x x x y"), ("d3", "x x y y"),
      ("d4", "x y y z"), ("d5", "y z z z"), ("d6", "z z z z"))
    val docs = raw.toDF("id", "text")
    val bucketed =
      operators.Quality.bigramPerplexityBuckets(docs, "id", "text")
    // tercile bounds ride the broadcast-1-row gate, never a reshuffle
    assert(bucketed.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val out = bucketed.collect().map(r => r.getString(0) -> r).toMap
    // independent recompute: train the same unigram + bigram counts
    // from the raw strings, score with the same λ=0.75 interpolation
    val toks = raw.map { case (id, t) => id -> t.split(" ").toSeq }
    val uni = toks.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size }
    val total = toks.map(_._2.size).sum.toDouble
    val pairsAll = toks.flatMap(_._2.sliding(2).collect { case Seq(a, b) => (a, b) })
    val big = pairsAll.groupBy(identity).map { case (k, v) => k -> v.size }
    val ctx = pairsAll.groupBy(_._1).map { case (k, v) => k -> v.size }
    def ppl(ws: Seq[String]): Double = {
      val s1 = -math.log(uni(ws.head) / total)
      val s2 = ws.sliding(2).collect { case Seq(a, b) =>
        -math.log(0.75 * (big((a, b)).toDouble / ctx(a)) +
          0.25 * (uni(b) / total))
      }.sum
      BigDecimal(math.exp((s1 + s2) / ws.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = toks.map { case (id, ws) => id -> ppl(ws) }.toMap
    for ((id, e) <- expected)
      assert(out(id).getAs[Double]("ppl") == e, s"ppl mismatch for $id")
    // d6 "z z z z" repeats the corpus's strongest bigram (z,z occurs
    // 5× in a 5-wide z context) — the bigram model must rank it head
    // even though unigram-wise z is not the most common token
    val byPpl = expected.toSeq.sortBy(_._2).map(_._1)
    for (id <- byPpl.take(2))
      assert(out(id).getAs[String]("bucket") == "head", s"$id should be head")
    for (id <- byPpl.takeRight(2))
      assert(out(id).getAs[String]("bucket") == "tail", s"$id should be tail")
    docs.sparkSession.catalog.clearCache()
  }

  test("knTrigramPerplexityBuckets: interpolated KN matches hand recompute") {
    implicit val s = spark
    // the unigram/bigram corpora plus two docs that exercise the
    // unseen-event guards: d7's context 'w' is never a trigram middle
    // (full backoff to Pcont) and 'q' is never trigram-final anywhere
    // (the half-a-type guard, positions 1 AND 2)
    val raw = Seq(
      ("d1", "x x x x"), ("d2", "x x x y"), ("d3", "x x y y"),
      ("d4", "x y y z"), ("d5", "y z z z"), ("d6", "z z z z"),
      ("d7", "w q"), ("d8", "q"))
    val docs = raw.toDF("id", "text")
    val bucketed =
      operators.Quality.knTrigramPerplexityBuckets(docs, "id", "text")
    // tercile bounds ride the broadcast-1-row gate, never a reshuffle
    assert(bucketed.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val out = bucketed.collect().map(r => r.getString(0) -> r).toMap
    // independent recompute: the full interpolated-KN model from raw
    // strings — trigram types, both continuation margins, D = 0.75 —
    // with the identical double operand order as the operator
    val toks = raw.map { case (id, t) => id -> t.split(" ").toSeq }
    val tris = toks.flatMap(_._2.sliding(3).collect {
      case Seq(a, b, c) => (a, b, c) })
    val t3 = tris.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cx3 = t3.groupBy { case ((u, v, _), _) => (u, v) }
      .map { case (k, m) => k -> (m.values.sum, m.size.toLong) }
    val cb = t3.keys.groupBy { case (_, v, w) => (v, w) }
      .map { case (k, ts) => k -> ts.size.toLong }
    val cx2 = cb.groupBy(_._1._1)
      .map { case (k, m) => k -> (m.values.sum, m.size.toLong) }
    val cu = cb.keys.groupBy(_._2).map { case (k, vs) => k -> vs.size.toLong }
    val tT = cb.size.toLong
    def pcont(w: String): Double =
      cu.get(w).map(_.toDouble).getOrElse(0.5) / tT
    def p2(v: String, w: String): Double = cx2.get(v) match {
      case None => pcont(w)
      case Some((scv, n2)) =>
        math.max(cb.getOrElse((v, w), 0L) - 0.75, 0.0) / scv +
          ((0.75 * n2) / scv) * pcont(w)
    }
    def p3(u: String, v: String, w: String): Double = {
      val (cuv, n3) = cx3((u, v))
      math.max(t3((u, v, w)) - 0.75, 0.0) / cuv +
        ((0.75 * n3) / cuv) * p2(v, w)
    }
    def ppl(ws: Seq[String]): Double = {
      val s1 = -math.log(pcont(ws.head))
      val s2 = if (ws.size >= 2) -math.log(p2(ws(0), ws(1))) else 0.0
      val s3 = ws.sliding(3).collect { case Seq(a, b, c) =>
        -math.log(p3(a, b, c)) }.sum
      BigDecimal(math.exp((s1 + s2 + s3) / ws.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = toks.map { case (id, ws) => id -> ppl(ws) }.toMap
    for ((id, e) <- expected)
      assert(out(id).getAs[Double]("ppl") == e, s"ppl mismatch for $id")
    // buckets are monotone in ppl and all three occur (8 docs)
    val byBucket = out.values.groupBy(_.getAs[String]("bucket"))
      .map { case (b, rs) => b -> rs.map(_.getAs[Double]("ppl")) }
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    docs.sparkSession.catalog.clearCache()
  }

  // -- scale-claim plan pins ------------------------------------------
  // The perplexity operators' scaladocs make exchange-budget claims
  // ("one bigram-keyed shuffle", "the corpus is touched wide exactly
  // once"). These specs pin the PLANNED exchange structure so a
  // regression that sneaks in an extra corpus reshuffle (a lost
  // persist, a join that stopped broadcasting, a derivation that
  // re-reads the corpus instead of a vocab margin) fails loudly.

  private def shuffleKeys(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val lines = txt.linesIterator.toSeq
    val ids = "(?<!Broadcast)Exchange \\((\\d+)\\)".r
      .findAllMatchIn(txt).map(_.group(1)).toSet
    for {
      i <- lines.indices.toSeq
      id <- ids if lines(i).startsWith(s"($id) Exchange")
      arg <- lines.drop(i).find(_.trim.startsWith("Arguments:"))
    } yield arg.trim
  }

  test("bigramPerplexityBuckets: exactly one bigram-keyed corpus shuffle") {
    implicit val s = spark
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val keys = shuffleKeys(
      operators.Quality.bigramPerplexityBuckets(docs, "doc_id", "text"))
    // 8 planned exchanges: token vocab (tok), bigram vocab (prev, cur),
    // ctx totals (prev — |V₂|-row derivation, not a corpus pass), the
    // per-doc scoring aggregate + its s1⋈s2 join (id × 2), and three
    // 1-row gates (vocab total, context total, tercile bounds)
    assert(keys.size == 8, s"exchange budget changed:\n${keys.mkString("\n")}")
    assert(keys.count(k => k.contains("hashpartitioning(prev#") &&
      k.contains("cur#")) == 1,
      s"exactly ONE bigram-keyed shuffle:\n${keys.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("knTrigramPerplexityBuckets: the corpus goes wide exactly once") {
    implicit val s = spark
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val keys = shuffleKeys(
      operators.Quality.knTrigramPerplexityBuckets(docs, "doc_id", "text"))
    // 15 planned exchanges; the scale claim is that only ONE is keyed
    // on the full trigram (the t3 type table) — every other hash
    // exchange derives from t3 or its margins ((v,wd), (u,v), v, wd —
    // type-table-sized) or is per-doc (id) / a 1-row gate
    assert(keys.size == 15, s"exchange budget changed:\n${keys.mkString("\n")}")
    assert(keys.count(k => k.contains("hashpartitioning(u#") &&
      k.contains("v#") && k.contains("wd#")) == 1,
      s"exactly ONE trigram-keyed corpus shuffle:\n${keys.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("unigramJsDrift: identical slices give JS 0, disjoint vocabularies " +
       "give ln 2, hand case matches the formula") {
    import spark.implicits._
    import graft.operators.Quality
    // identical distributions → every contribution 0, JS 0
    val same = Seq((true, "x x y"), (false, "x x y"), (false, "x x y"))
      .toDF("sl", "text")
    val r0 = Quality.unigramJsDrift(same, "sl", "text", topK = 5).collect()
    assert(r0.forall(_.getAs[Double]("js_total") == 0.0))
    assert(r0.forall(_.getAs[Double]("contrib") == 0.0))
    // disjoint vocabularies → maximal JS = ln 2
    val disj = Seq((true, "x x"), (false, "y z")).toDF("sl", "text")
    val r1 = Quality.unigramJsDrift(disj, "sl", "text", topK = 5).collect()
    assert(math.abs(r1.head.getAs[Double]("js_total") - math.log(2.0)) < 1e-12)
    // hand case: A = "x x y", B = "x y y" — symmetric, so contrib(x) ==
    // contrib(y) and both equal (p ln(p/m) + q ln(q/m))/2 at p=2/3, q=1/3
    val ab = Seq((true, "x x y"), (false, "x y y")).toDF("sl", "text")
    val r2 = Quality.unigramJsDrift(ab, "sl", "text", topK = 5)
      .collect().map(r => r.getAs[String]("tok") -> r).toMap
    val p = 2.0 / 3; val q = 1.0 / 3; val m = (p + q) / 2
    val c = (p * math.log(p / m) + q * math.log(q / m)) / 2
    assert(math.abs(r2("x").getAs[Double]("contrib") - c) < 1e-12)
    assert(math.abs(r2("y").getAs[Double]("contrib") - c) < 1e-12)
    assert(math.abs(r2("x").getAs[Double]("js_total") - 2 * c) < 1e-12)
    // ranking: both moved by the same |Δp| → token tiebreak, x before y
    assert(r2("x").getAs[Long]("rnk") == 1L && r2("y").getAs[Long]("rnk") == 2L)
  }

  test("categoricalJsDrift: reference-matching group scores 0, " +
       "concentrated group matches the hand formula, ties break by " +
       "category") {
    import spark.implicits._
    import graft.operators.Quality
    val ref = Seq(("x", 5L), ("y", 5L)).toDF("cat", "cr")
    val obs = Seq(
      ("g1", "x", 2L), ("g1", "y", 2L),   // same 50/50 as the reference
      ("g2", "x", 4L)                      // all mass on x
    ).toDF("grp", "cat", "cnt")
    val out = Quality.categoricalJsDrift(obs, "grp", "cat", "cnt", ref, "cr")
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    assert(out("g1").getAs[Double]("js") == 0.0)
    assert(out("g1").getAs[Long]("n") == 4L)
    // g2: p=(.5,.5), q=(1,0) → per-cat contribs by the JS formula
    val cx = (0.5 * math.log(0.5 / 0.75) + 1.0 * math.log(1.0 / 0.75)) / 2
    val cy = 0.5 * math.log(0.5 / 0.25) / 2
    assert(math.abs(out("g2").getAs[Double]("js") - (cx + cy)) < 1e-12)
    // both cats shifted by exactly 0.5 → tie broken by category asc
    assert(out("g2").getAs[String]("drift_cat") == "x")
    assert(out("g2").getAs[Double]("drift_abs") == 0.5)
  }

  test("unigramJsDrift: top-k is sort+limit, the corpus is never " +
       "globally sorted") {
    import graft.operators.Quality
    val docs = sources.Tables(spark, TestSpark.sf0001, "documents")
      .withColumn("sl", col("doc_id") % 2 === 0)
    val plan = Quality.unigramJsDrift(docs, "sl", "text", topK = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    // the vocab reaches the top-k through the take, not a full sort:
    // the only Sort allowed is the rank window's, which runs AFTER the
    // take on the topK surviving rows
    val sorts = plan.linesIterator.filter(_.trim.startsWith("Sort ")).toSeq
    assert(sorts.size <= 1, sorts.mkString("\n"))
  }

  test("JSONL round-trip: adversarial strings survive export + import " +
       "byte-exact; nulls round-trip as nulls") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "plain text"),
      (2L, "quotes \" and \\ backslash \\\" mix"),
      (3L, "newline\nand\ttab and\rcarriage"),
      (4L, "unicode 中文 émojis  control"),
      (5L, "{\"json\": \"looking\", \"text\": [1,2]}"),
      (6L, null)
    ).toDF("id", "text")
    val dir = Files.createTempDirectory("graft_jsonl_spec_")
      .resolve("out").toString
    nasty.select(to_json(struct(col("id"), col("text"))).as("value"))
      .write.mode("overwrite").text(dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val back = spark.read.schema(schema).json(dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    val expect = nasty.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(back == expect)
    // every record stayed one line (escaping keeps the framing)
    val lines = spark.read.text(dir).count()
    assert(lines == nasty.count())
  }

  test("ksLengthDrift: identical distributions give D 0, separated " +
       "ones give D 1 and fire the gate, hand ECDF case matches") {
    import graft.operators.Quality
    // identical length distributions → D = 0, no drift
    val same = Seq((true, "a b"), (true, "a b c"), (false, "x y"),
      (false, "x y z")).toDF("sl", "text")
    val r0 = Quality.ksLengthDrift(same, col("sl"), "text").collect().head
    assert(r0.getAs[Double]("ks_d") == 0.0)
    assert(r0.getAs[Long]("drift") == 0L)
    assert(r0.getAs[Long]("n_a") == 2L && r0.getAs[Long]("n_b") == 2L)
    // fully separated supports → D = 1; crit at n=4,4 is
    // 1.3581*sqrt(8/16) ≈ 0.960 < 1 → drift fires
    val sep = Seq.tabulate(4)(i => (true, "a b")) ++
      Seq.tabulate(4)(i => (false, "x y z w v"))
    val r1 = Quality.ksLengthDrift(sep.toDF("sl", "text"), col("sl"),
      "text").collect().head
    assert(r1.getAs[Double]("ks_d") == 1.0)
    assert(r1.getAs[Double]("crit_05") ==
      BigDecimal(1.3581 * math.sqrt(8.0 / 16.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r1.getAs[Long]("drift") == 1L)
    // hand case: A lengths {1,2}, B lengths {2,2} → ECDFs at support
    // {1,2}: |0.5-0| then |1-1| → D = 0.5
    val ab = Seq((true, "a"), (true, "a b"), (false, "x y"),
      (false, "x y")).toDF("sl", "text")
    val r2 = Quality.ksLengthDrift(ab, col("sl"), "text").collect().head
    assert(r2.getAs[Double]("ks_d") == 0.5)
  }

  test("ksLengthDrift: the corpus collapses to length-histogram grain " +
       "before any window (no corpus-wide single-partition sort)") {
    import graft.operators.Quality
    val docs = sources.Tables(spark, TestSpark.sf0001, "documents")
    val plan = Quality.ksLengthDrift(docs, col("lang") === "en", "text")
      .queryExecution.executedPlan.toString
    // the aggregate keyed on token length runs BELOW the window's
    // single-partition exchange: find the window sort, assert a
    // HashAggregate appears under it in the plan text
    val i = plan.indexOf("Window")
    assert(i >= 0, plan.take(2000))
    assert(plan.indexOf("HashAggregate", i) >= 0,
      "histogram aggregate must feed the window:\n" + plan.take(2000))
  }

  test("unigramEntropy: uniform group hits log2 V, constant group " +
       "hits 0, hand mixed case matches the formula") {
    import graft.operators.Quality
    val docs = Seq(
      ("u", "a b c d"),     // uniform over 4 → H = 2 bits, norm = 1
      ("k", "x x x x"),     // single token → H = 0, norm = 0
      ("m", "a a b")        // H = log2 3 − 2/3
    ).toDF("source", "text")
    val out = Quality.unigramEntropy(docs, "source", "text")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("u").getAs[Long]("n_tokens") == 4L)
    assert(out("u").getAs[Long]("vocab") == 4L)
    assert(out("u").getAs[Double]("entropy_bits") == 2.0)
    assert(out("u").getAs[Double]("norm_entropy") == 1.0)
    assert(out("k").getAs[Double]("entropy_bits") == 0.0)
    assert(out("k").getAs[Double]("norm_entropy") == 0.0)
    val hm = math.log(3.0) / math.log(2.0) - 2.0 / 3.0
    assert(out("m").getAs[Double]("entropy_bits") ==
      BigDecimal(hm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // vocab of "a a b" is 2 → norm = H / log2(2) = H
    assert(out("m").getAs[Long]("vocab") == 2L)
    assert(out("m").getAs[Double]("norm_entropy") ==
      out("m").getAs[Double]("entropy_bits"))
  }

  test("rankBlend: strict-below ranks share ties, blend is the mean, " +
       "top-N cuts by blend then id") {
    import graft.operators.Quality
    // s1: 10,20,20,40 → pr 0, 1/3, 1/3, 1; s2: 4,3,2,1 → pr 1, 2/3, 1/3, 0
    val docs = Seq((1L, 10L, 4L), (2L, 20L, 3L), (3L, 20L, 2L),
      (4L, 40L, 1L)).toDF("id", "s1", "s2")
    val all = Quality.rankBlend(docs, "id",
        Seq("a" -> col("s1"), "b" -> col("s2")), topN = 4)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("pr_a"), r.getAs[Double]("pr_b"),
          r.getAs[Double]("blend")))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(all(1L) == ((0.0, 1.0, 0.5)))
    assert(all(2L) == ((r6(1.0 / 3), r6(2.0 / 3), 0.5)))
    assert(all(3L) == ((r6(1.0 / 3), r6(1.0 / 3), r6(1.0 / 3))))
    assert(all(4L) == ((1.0, 0.0, 0.5)))
    // top-2 on the UNROUNDED blend: 1/3 + 2/3 rounds to exactly 1.0
    // (round-to-even on the halfway tie), so docs 1, 2, 4 all sit at
    // blend 0.5 — the id tiebreak keeps 1 then 2
    val top = Quality.rankBlend(docs, "id",
        Seq("a" -> col("s1"), "b" -> col("s2")), topN = 2)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(top == Seq(1L, 2L))
  }
}
