package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.CacheProbe
import graft.operators.{Checkpoints, Dedup, Incremental, Lsh, Similarity}
import graft.sources.Tables

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exactGroups collapses identical texts to min id") {
    val df = Seq((10L, "aaa"), (3L, "aaa"), (7L, "bbb")).toDF("doc_id", "text")
    val got = Dedup.exactGroups(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(got.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_dups"))).toSeq ==
      Seq((3L, 2L), (7L, 1L)))
  }

  test("minhashLshPairs == exact jaccardPairs on real docs (verified LSH)") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6, shingleLen = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.6, shingleLen = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"lsh-only=${lsh -- exact} exact-only=${exact -- lsh}")
  }

  test("jaccardPairs finds constructed near-dups, skips distinct docs") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"),   // 7/9ish 3-gram overlap
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 0.5, shingleLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("jaccardPairsFromIndex size-ratio prefilter: recall-exact on " +
      "length-skewed docs (min/max >= t is necessary for jaccard >= t)") {
    // |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|), so
    // jaccard <= min/max; IEEE division is correctly rounded hence
    // monotone, so fl(inter/union) >= t implies fl(min/max) >= t —
    // the prefiltered output must equal the unfiltered reference
    // EXACTLY, across thresholds, on docs with widely varying lengths
    // (the shape the filter exists to prune).
    val rnd = new scala.util.Random(7)
    val docs = (1L to 120L).map { i =>
      val len = 1 + rnd.nextInt(30)
      (i, (0 until len).map(j => s"w${(i + j) % 37}").mkString(" "))
    }.toDF("doc_id", "text")
    val inv = Dedup.shingleIndex(docs, "doc_id", "text", 1)
    val a = inv.select(col("id").as("id_a"), col("sz").as("sz_a"), col("tok"))
    val b = inv.select(col("id").as("id_b"), col("sz").as("sz_b"), col("tok"))
    for (t <- Seq(0.1, 0.3, 0.5, 0.8)) {
      val got = Dedup.jaccardPairsFromIndex(inv, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val ref = a.join(b, Seq("tok"))                // the pre-filter body
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jaccard") >= t)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == ref, s"t=$t got-only=${got -- ref} ref-only=${ref -- got}")
      assert(ref.nonEmpty || t > 0.5, s"t=$t: degenerate fixture (no pairs)")
    }
  }

  test("jaccardPairs maxDocFreq prefix-filter: drops hot tokens, output ⊆ exact") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    // unigram shingles on a ~40-word vocabulary: every token is hot at
    // docFreq 0.5, so the filtered index must prune everything
    val filtered = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9,
      shingleLen = 1, maxDocFreq = 0.5)
    assert(filtered.count() == 0)
    // 3-gram shingles are rare: a mild cap keeps the exact result
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6, shingleLen = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6, shingleLen = 3,
        maxDocFreq = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact))
  }

  test("connectedComponents == union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = (1 to 70).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(v => v -> find(v.toInt).toLong).toMap
      // min-rep per component: union-find roots ARE the min since we
      // always attach the larger root under the smaller
      val df = edges.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(df)
      val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got.unpersist()
      assert(gotMap == expected, s"trial $trial")
    }
  }

  test("connectedComponents: path graph exercises multi-round convergence") {
    // a 12-node path: the worst per-node shape (diameter = n - 1)
    val edges = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges)
    val m = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.unpersist()
    assert(m == (0L to 11L).map(_ -> 0L).toMap)
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents((0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b"),
        maxRounds = 0)
    }
  }

  test("connectedComponents: O(log n) rounds on a 1k-node path (scale property)") {
    // a 1000-node PATH has diameter 999: min-label propagation would need
    // ~999 rounds (~999 full-edge shuffles at 100 TB). Large-star/small-
    // star roughly halves component depth per round — the round count
    // must stay logarithmic, and the labels must still be exact.
    val n = 1000L
    // shuffled ids so the path is not id-monotone (adversarial ordering:
    // min-label gains nothing from id order and neither should we)
    val perm = new scala.util.Random(11).shuffle((0L until n).toVector)
    val edges = (0 until (n - 1).toInt).map(i => (perm(i), perm(i + 1)))
      .toDF("id_a", "id_b")
    val (got, rounds) = Dedup.connectedComponentsWithRounds(edges)
    val labels = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.unpersist()
    assert(labels.size == n && labels.values.forall(_ == 0L),
      s"wrong labels: ${labels.filterNot(_._2 == 0L).take(5)}")
    val logBound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt // 2·log2(n)
    assert(rounds <= logBound, s"$rounds rounds > O(log n) bound $logBound")
  }

  test("contamination is containment, not jaccard; decontaminate drops hits") {
    // train doc 10 EMBEDS eval doc 100 verbatim inside extra text:
    // containment must be 1.0 even though jaccard is diluted well below
    val evalText = "alpha bravo charlie delta echo foxtrot"        // 4 shingles
    val trainHit = s"intro words here $evalText trailing content tail" // superset
    val trainClean = "one two three four five six seven eight nine ten"
    val train = Seq((10L, trainHit), (11L, trainClean)).toDF("doc_id", "text")
    val ev = Seq((100L, evalText)).toDF("doc_id", "text")
    val pairs = Dedup.contaminationPairs(train, ev, "doc_id", "text",
      threshold = 0.9).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((10L, 100L, 1.0)))
    // jaccard at the same threshold would NOT flag it (diluted)
    assert(Dedup.jaccardPairs(train.unionByName(ev), "doc_id", "text",
      threshold = 0.9, shingleLen = 3).count() == 0)
    val kept = Dedup.decontaminate(train, ev, "doc_id", "text", 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("Corpus transitiveDedup: one survivor per dup CLUSTER, not per pair") {
    // the shape where greedy and cluster-consistent dedup DIVERGE:
    // a~c and b~c but a!~b (ids 1, 2, 3). Greedy drops only docs with a
    // SMALLER near-dup (id 3) and keeps both 1 and 2; transitive closure
    // keeps exactly one doc of the {1,2,3} cluster.
    val c = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val a = c.replace("lima", "zulu")   // 3-gram jaccard(a,c)=9/11, (a,b)=8/12
    val b = c.replace("alpha", "xray")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    def prep(transitive: Boolean): Set[Long] =
      graft.operators.Corpus.prepare(docs, "doc_id", "text",
        stopwords = Seq("the"), langMarkers = Seq("en" -> Seq("the")),
        keepLangs = Set("und"), minQuality = 0.0, nearDupThreshold = 0.7,
        maxDocFreq = 1.0, transitiveDedup = transitive)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(prep(transitive = false) == Set(1L, 2L))
    assert(prep(transitive = true) == Set(1L))
  }

  test("Corpus.prepare: cache lifecycle — persisted until released") {
    spark.catalog.clearCache()
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val prepared = graft.operators.Corpus.prepare(docs, "doc_id", "text",
      stopwords = Seq("the", "and", "of"),
      langMarkers = Seq("en" -> Seq("the", "and")), keepLangs = Set("en", "und"),
      minQuality = 0.0, nearDupThreshold = 0.6)
    prepared.count() // materialize (populates the two persisted stages)
    assert(CacheProbe.entries(spark) == 2,
      "both intermediates should be cached pre-release")
    Checkpoints.release(prepared)
    assert(CacheProbe.entries(spark) == 0,
      "release must unpersist both intermediates")
  }

  test("Corpus decontamination stage: composed == standalone, lifecycle covers it") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val train = docs.filter($"doc_id" % 7 =!= 0)
    val ev = docs.filter($"doc_id" % 7 === 0)
    // standalone reference: prepare without eval, then decontaminate the
    // surviving docs (text re-attached by id — prepare's output drops it)
    val base = graft.operators.Corpus.prepare(train, "doc_id", "text",
      Queries.Stopwords, Queries.LangMarkers, Set("en"), 0.5, 0.6,
      maxDocFreq = 1.0)
    val survivors = docs.join(base.select("doc_id"), Seq("doc_id"), "left_semi")
    val refIds = Dedup.decontaminate(survivors, ev, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    val composed = graft.operators.Corpus.prepare(train, "doc_id", "text",
      Queries.Stopwords, Queries.LangMarkers, Set("en"), 0.5, 0.6,
      maxDocFreq = 1.0, evalDocs = Some(ev), contaminationThreshold = 0.6)
    val got = composed.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == refIds, s"composed-only=${got -- refIds} ref-only=${refIds -- got}")
    // the extra persisted branches (shared index, deduped set) are
    // released with the result
    assert(CacheProbe.entries(spark) == 4)
    Checkpoints.release(composed)
    assert(CacheProbe.entries(spark) == 0,
      "release must also unpersist the decontam branch")
  }

  test("embeddingDupPairs: finds an injected duplicate vector") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(100)
    // duplicate vec 0 with a new id → cosine 1.0 pair must surface
    val dup = emb.filter($"vec_id" === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    val got = Dedup.embeddingDupPairs(emb.unionByName(dup), "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.contains((0L, 100000L)), s"got ${got.toSeq}")
  }

  test("embeddingDecontaminate: planted eval leaks flagged, eval side broadcast") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(100)
    // eval set = scaled copies of vecs 3 and 7 (cosine exactly 1.0)
    val evalSet = emb.filter($"vec_id".isin(3L, 7L))
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val out = Dedup.embeddingDecontaminate(emb, evalSet,
      "vec_id", "embedding", threshold = 0.95)
    // both sides of the band join and the verify must broadcast the
    // eval set — the corpus is never shuffled for candidates
    assert(out.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val flags = out.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("contaminated"))
      .toMap
    assert(flags.size == 100, "every corpus row must come back, flagged")
    assert(flags(3L) == 1L && flags(7L) == 1L, s"leaks missed: $flags")
    assert(flags.values.sum == 2L,
      "only the planted leaks may be flagged at this fixture's gaps")
  }

  test("bruteForceTopK: k rows per query, self excluded, descending") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(200)
    val got = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 4).collect()
    assert(got.length == 12)
    assert(got.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    val byQ = got.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("rnk"))
      val sims = sorted.map(_.getAs[Double]("cos"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("k-means centroids: deterministic, improve (or match) IVF recall") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val ivf = Similarity.ivfTopK(emb, queries, cents, "vec_id", "embedding",
        k = 10, nProbe = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (ivf & bf).size.toDouble / bf.size
    }
    val km1 = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding", 64, 8, 3)
    val km2 = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding", 64, 8, 3)
    // deterministic across runs
    assert(km1.orderBy("cell_id").collect().map(_.getSeq[Double](1)).toSeq ==
      km2.orderBy("cell_id").collect().map(_.getSeq[Double](1)).toSeq)
    val init = Similarity.trainCentroidsById(emb, "vec_id", "embedding", 64, 8)
    assert(recall(km1) >= recall(init) - 0.11,
      s"kmeans recall ${recall(km1)} much worse than init ${recall(init)}")
  }

  test("assignCells == crossJoin+window argmax reference (and zero-shuffle plan)") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(300)
    val cents = Similarity.trainCentroidsById(emb, "vec_id", "embedding", 64, cells = 8)
    val cs = Similarity.collectCentroids(cents)
    // reference: the shuffling formulation this operator replaced
    import org.apache.spark.sql.expressions.Window
    val ref = emb.crossJoin(org.apache.spark.sql.functions.broadcast(cents))
      .withColumn("d", graft.functions.Vectors.cosine($"embedding", $"centroid"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"d".desc, $"cell_id")))
      .filter($"rnk" === 1).select($"vec_id", $"cell_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Similarity.assignCells(emb, "embedding", cs)
      .select($"vec_id", $"cell_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    // the scale property: assignment is a PROJECTION — no exchange at all
    val plan = Similarity.assignCells(emb, "embedding", cs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("top-k ranking is map-side limited (partial WindowGroupLimit in plan)") {
    // multi-partition corpus (the cluster shape) — on a single partition
    // Spark correctly skips the Partial phase, which is not the case
    // being asserted here
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").repartition(5)
    val bf = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 4)
    val plan = bf.queryExecution.executedPlan.toString
    // Spark 4 plans rnk<=k as WindowGroupLimit Partial (map side) +
    // Final — each partition forwards at most k rows per query into the
    // ranking shuffle instead of |corpus| rows
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
    assert(plan.contains("Partial"), plan.take(1200))
  }

  test("splitOversizedCells bounds fat cells on a skewed corpus") {
    // 900 vectors jammed in one tight region + 100 spread out: k-means
    // with few cells collapses the dense region into one fat cell
    val dim = 8
    val rows = (0 until 1000).map { i =>
      val v: Array[Float] =
        if (i < 900) Array.tabulate(dim)(d => 10f + d + (i % 7) * 0.01f)
        else Array.tabulate(dim)(d => ((i * 31 + d * 17) % 19 - 9).toFloat)
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val cents0 = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding", dim, 4, 2)
    def maxCell(c: org.apache.spark.sql.DataFrame): Long =
      Similarity.assignCells(emb, "embedding", Similarity.collectCentroids(c))
        .groupBy("cell_id").count().agg(max("count")).head().getLong(0)
    assert(maxCell(cents0) > 400, s"setup failed to produce a fat cell: ${maxCell(cents0)}")
    val balanced = Similarity.splitOversizedCells(emb, "vec_id", "embedding", dim,
      cents0, maxCellRows = 400, subCells = 2, refineIters = 1, maxRounds = 6)
    assert(maxCell(balanced) <= 400, s"still fat after split: ${maxCell(balanced)}")
    // determinism: same inputs, same centroid set
    val balanced2 = Similarity.splitOversizedCells(emb, "vec_id", "embedding", dim,
      cents0, maxCellRows = 400, subCells = 2, refineIters = 1, maxRounds = 6)
    assert(balanced.orderBy("cell_id").collect().map(_.toSeq).toSeq ==
      balanced2.orderBy("cell_id").collect().map(_.toSeq).toSeq)
  }

  test("simhashDupPairs == brute-force hamming filter (pigeonhole exactness)") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    for (k <- Seq(0, 3, 7)) {
      val banded = Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val sig = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      val bf = sig.as("a").join(sig.as("b"), $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id",
          expr("cast(bit_count(a.sh ^ b.sh) as int)").as("h"))
        .filter($"h" <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == bf,
        s"k=$k banded-only=${banded -- bf} bf-only=${bf -- banded}")
    }
  }

  test("incremental edges: empty batch and empty store") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val none = docs.filter($"doc_id" < 0)
    val kind = Lsh.MinHash()
    val store = kind.signatures(docs, "doc_id", $"text")
    // first-ever batch (empty store): survivors = within-batch dedup only
    val emptyStore = kind.signatures(none, "doc_id", $"text")
    val selfOnly = Incremental.dedupAgainst(kind, docs, emptyStore, "doc_id", $"text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exactKeep = docs.groupBy(md5($"text")).agg(min($"doc_id").as("doc_id"))
      .select("doc_id")
    val exact = docs.join(exactKeep, Seq("doc_id"), "left_semi")
    val dropped = Dedup.jaccardPairs(exact, "doc_id", "text", 0.6, shingleLen = 3)
      .select($"id_b".as("doc_id")).distinct()
    val ref = exact.join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selfOnly == ref)
    // empty batch: no rows, no crash
    assert(Incremental.dedupAgainst(kind, none, store, "doc_id", $"text", 0.6).isEmpty)
  }

  test("incremental multi-batch loop with appendToStore == one full recompute") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val mx = docs.agg(max($"doc_id")).head.getLong(0)
    val (s1, s2) = (mx / 3, 2 * mx / 3)   // three id-ordered batches
    val b1 = docs.filter($"doc_id" < s1)
    val b2 = docs.filter($"doc_id" >= s1 && $"doc_id" < s2)
    val b3 = docs.filter($"doc_id" >= s2)
    // full-recompute greedy reference restricted to batch-2/3 ids
    val exactKeep = docs.groupBy(md5($"text")).agg(min($"doc_id").as("doc_id"))
      .select("doc_id")
    val exact = docs.join(exactKeep, Seq("doc_id"), "left_semi")
    val dropped = Dedup.jaccardPairs(exact, "doc_id", "text", 0.6, shingleLen = 3)
      .select($"id_b".as("doc_id")).distinct()
    val full = exact.join(dropped, Seq("doc_id"), "left_anti")
      .filter($"doc_id" >= s1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // production loop: seed store with b1, process b2, append b2, process b3
    val kind = Lsh.MinHash()
    Incremental.writeStore(kind, b1, "doc_id", $"text", "loop_store", 8)
    try {
      def run(b: org.apache.spark.sql.DataFrame) =
        Incremental.dedupAgainst(kind, b, spark.table("loop_store"), "doc_id",
            $"text", 0.6, storeBands = Some(spark.table("loop_store_bands")))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      val r2 = run(b2)
      Incremental.appendToStore(kind, b2, "doc_id", $"text", "loop_store", 8)
      val r3 = run(b3)
      assert((r2 ++ r3) == full,
        s"loop-only=${(r2 ++ r3) -- full} full-only=${full -- (r2 ++ r3)}")
    } finally {
      spark.sql("DROP TABLE loop_store")
      spark.sql("DROP TABLE loop_store_bands")
    }
  }

  test("embedding dup clusters: transitive closure where greedy pairs diverge") {
    // a~c and b~c at cosine ≥ 0.95, but a!~b (cos 36° ≈ 0.81): greedy
    // per-pair dedup keeps {a, b}; the cluster rule keeps exactly one
    // survivor of {a, b, c}. 18°-rotations of e1 in the (e1, e2) plane,
    // padded to 8 dims.
    val th = math.toRadians(18)
    def vec(angle: Double): Array[Float] =
      Array(math.cos(angle).toFloat, math.sin(angle).toFloat) ++ Array.fill(6)(0.0f)
    val emb = Seq(
      (1L, vec(th)), (2L, vec(-th)), (3L, vec(0.0))).toDF("vec_id", "embedding")
    val labels = Dedup.connectedComponents(
      Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.95))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), m.toString)
  }

  test("incremental dedupAgainst == full greedy recompute (plain and bucketed store)") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    // store ids strictly precede batch ids, so full-recompute greedy
    // restricted to batch ids is the incremental contract
    val split = docs.agg(max($"doc_id")).head.getLong(0) / 2
    val store = docs.filter($"doc_id" < split)
    val batch = docs.filter($"doc_id" >= split)
    // full-recompute reference: exact dedup then greedy near-dup drop
    // over the WHOLE corpus, restricted to batch ids
    val exactKeep = docs.groupBy(md5($"text")).agg(min($"doc_id").as("doc_id"))
      .select("doc_id")
    val exact = docs.join(exactKeep, Seq("doc_id"), "left_semi")
    val dropped = Dedup.jaccardPairs(exact, "doc_id", "text", 0.6, shingleLen = 3)
      .select($"id_b".as("doc_id")).distinct()
    val full = exact.join(dropped, Seq("doc_id"), "left_anti")
      .filter($"doc_id" >= split)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kind = Lsh.MinHash()
    val inc = Incremental.dedupAgainst(kind, batch,
        kind.signatures(store, "doc_id", $"text"), "doc_id", $"text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc == full, s"inc-only=${inc -- full} full-only=${full -- inc}")
    // same result through a materialized bucketed store, and the exact
    // anti-join's store side must come from the bucketed scan. Broadcast
    // is disabled for this part: at test scale AQE broadcasts the tiny
    // store (bucketing is then moot); at corpus scale the store is the
    // BIG side and the shuffled join is what the bucket layout serves.
    Incremental.writeStore(kind, store, "doc_id", $"text", "sig_store", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val viaTable = Incremental.dedupAgainst(kind, batch, spark.table("sig_store"),
          "doc_id", $"text", 0.6,
          storeBands = Some(spark.table("sig_store_bands")))
        .select("doc_id")
      assert(viaTable.collect().map(_.getLong(0)).toSet == full)
      // the LSH candidate join is in viaTable's lazy plan: its store side
      // must read the pre-banded table through its (band, bucket) bucket
      // layout instead of re-exploding and re-shuffling the store
      val lshPlan = viaTable.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(lshPlan.contains("sig_store_bands") &&
        lshPlan.contains("Bucketed: true"), lshPlan.take(1500))
      // the exact-stage anti-join itself runs inside dedupAgainst's eager
      // checkpoint, so assert bucketing on that join shape directly: the
      // store side must read its bucket layout (no store-side exchange)
      val anti = kind.signatures(batch, "doc_id", $"text")
        .join(spark.table("sig_store").select("content_hash"),
          Seq("content_hash"), "left_anti")
      anti.collect()
      val plan = anti.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("Bucketed: true"), plan.take(1200))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE sig_store")
      spark.sql("DROP TABLE sig_store_bands")
    }
  }

  test("incremental embedding dedup == full greedy recompute (plain and bucketed store)") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    val split = emb.agg(max($"vec_id")).head.getLong(0) / 2
    val store = emb.filter($"vec_id" < split)
    // batch: the upper half plus planted scaled copies of store vectors
    // (cosine exactly 1.0) so cross-store drops exist at any SF
    val batch = emb.filter($"vec_id" >= split)
      .unionByName(store.filter($"vec_id" < 3)
        .select(($"vec_id" + 1000000).as("vec_id"),
          transform($"embedding", x => x * lit(2.0f)).as("embedding")))
    // full-recompute greedy reference: dup pairs over store ∪ batch,
    // drop every id_b (store ids all precede batch ids), restricted to
    // batch ids
    val all = store.unionByName(batch)
    val dropped = Dedup.embeddingDupPairs(all, "vec_id", "embedding", 0.95)
      .select($"id_b".as("vec_id")).distinct()
    val full = all.join(dropped, Seq("vec_id"), "left_anti")
      .join(batch.select("vec_id"), Seq("vec_id"), "left_semi")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val kind = Lsh.Hyperplane()
    val inc = Incremental.dedupAgainst(kind, batch,
        kind.signatures(store, "vec_id", $"embedding"),
        "vec_id", $"embedding", 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(inc == full, s"inc-only=${inc -- full} full-only=${full -- inc}")
    assert((full -- inc).isEmpty && full.nonEmpty)
    // the planted copies must all be dropped (cosine 1.0 vs the store)
    assert(inc.forall(_ < 1000000), s"planted survived: ${inc.filter(_ >= 1000000)}")
    // same result through a materialized bucketed store; the LSH
    // candidate join must read the pre-banded table through its
    // (band, bucket) bucket layout (broadcast disabled — at corpus scale
    // the store is the BIG side, same rationale as the minhash spec)
    Incremental.writeStore(kind, store, "vec_id", $"embedding", "emb_store", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val viaTable = Incremental.dedupAgainst(kind, batch,
        spark.table("emb_store"), "vec_id", $"embedding", 0.95,
        storeBands = Some(spark.table("emb_store_bands")))
      assert(viaTable.select("vec_id").collect().map(_.getLong(0)).toSet == full)
      val plan = viaTable.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("emb_store_bands") && plan.contains("Bucketed: true"),
        plan.take(1500))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE emb_store")
      spark.sql("DROP TABLE emb_store_bands")
    }
  }

  test("ivfTopK returns plausible neighbors (recall vs brute force)") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val cents = Similarity.trainCentroidsById(emb, "vec_id", "embedding", 64, cells = 8)
    val ivf = Similarity.ivfTopK(emb, queries, cents, "vec_id", "embedding",
      k = 10, nProbe = 4).collect()
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10).collect()
    assert(ivf.nonEmpty)
    val ivfSet = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfSet = bf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivfSet & bfSet).size.toDouble / bfSet.size
    assert(recall > 0.3, s"IVF recall $recall too low even for nProbe=4/8 cells")
  }

  test("quantized ANN: int8-dequantized brute-force keeps high recall vs float") {
    import graft.functions.Vectors
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
    val dequant = emb.select($"vec_id",
      transform(Vectors.quantizeInt8($"embedding"),
        q => (q * Vectors.quantScale($"embedding") / lit(127d)).cast("float"))
        .as("embedding"))
    val queries = emb.filter($"vec_id" < 5)
    def top(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top(emb)
    val viaQuant = top(dequant)
    val recall = (exact & viaQuant).size.toDouble / exact.size
    // ~0.4%-of-max per-dim rounding error must not reorder neighbors much
    assert(recall >= 0.9, s"quantized recall $recall")
  }

  test("removeDuplicatedSpans: min-id keeps, overlaps union, full coverage → empty") {
    val L = 4
    val docs = Seq(
      (1L, "a B c d x1 x2"),       // keeper of span "a b c d" (mixed case)
      (2L, "z a b c d w"),         // loses positions 1..4 → "z w"
      (3L, "p q r s t u"),         // untouched
      (4L, "a b c d"),             // fully covered → empty
      (5L, "m b c d e n"),         // keeper of "b c d e"
      (6L, "b c d e"),             // fully covered by 5's span → empty
      (9L, "A B C D"))             // case-insensitive match, fully covered
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", L)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("cleaned_text"), r.getAs[Long]("n_removed"))).toMap
    // min-id occurrence untouched AND original casing preserved (the
    // trim must not case-fold the surviving text; matching is
    // case-insensitive, the rebuild is not)
    assert(got(1L) == ("a B c d x1 x2", 0L))
    assert(got(2L) == ("z w", 4L))
    assert(got(3L) == ("p q r s t u", 0L))
    assert(got(4L) == ("", 4L))
    assert(got(5L) == ("m b c d e n", 0L))
    assert(got(6L) == ("", 4L))
    assert(got(9L) == ("", 4L)) // matched through lower(), trimmed anyway
    // overlap union: doc 8 shares BOTH "a b c d" (keeper 1) and
    // "b c d e" (keeper 5) via overlapping windows — 5 distinct tokens
    // removed, not 8
    val got2 = Dedup.removeDuplicatedSpans(
        docs.unionByName(Seq((8L, "a b c d e tail1 tail2 tail3"))
          .toDF("doc_id", "text")),
        "doc_id", "text", L)
      .filter($"id" === 8L).collect()
      .map(r => (r.getAs[String]("cleaned_text"), r.getAs[Long]("n_removed")))
      .head
    assert(got2 == ("tail1 tail2 tail3", 5L), got2.toString)
  }

  test("semanticDedup: prunes by lowest-id within cluster, threshold-gated") {
    import spark.implicits._
    // two well-separated clusters around e1 and e2; ids 1,2 identical
    // (cos 1.0 → 2 pruned, 1 kept), id 3 same cluster but only ~0.89
    // to either (under τ=0.95 → kept); ids 10,11 in the other cluster,
    // near-identical (11 pruned). Cross-cluster pairs never compared.
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)),          // cos(1,2)=1.0
      (3L, Array(0.9f, 0.45f, 0f, 0f)),     // cos to e1 ≈ 0.894
      (10L, Array(0f, 0f, 1f, 0f)),
      (11L, Array(0f, 0.01f, 1f, 0f)))      // cos(10,11) ≈ 0.99995
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.0, 0.0, 1.0, 0.0)))
      .toDF("cell_id", "centroid")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
        threshold = 0.95)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell_id"), r.getAs[Long]("semdup"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L))
    assert(out(1L) == (0L, 0L) && out(2L) == (0L, 1L), out.toString)
    assert(out(3L) == (0L, 0L), "sub-threshold cluster-mate must survive")
    assert(out(10L) == (1L, 0L) && out(11L) == (1L, 1L), out.toString)
    // tighter τ=0.9999999: only the exact duplicate still prunes
    val strict = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
        threshold = 0.9999999)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Long]("semdup")).toMap
    assert(strict.values.sum == 1L && strict(2L) == 1L, strict.toString)
  }

  test("ANN store: map-only append encode, probes equal monolithic IVF-PQ, " +
       "one-shuffle probe plan, per-cell bucket pruning") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    val initial = emb.filter($"vec_id" % 3 =!= 0)
    val (model, _) = Similarity.pqTrain(initial, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 1)
    val cents = Similarity.trainCentroidsKMeans(initial, "vec_id",
      "embedding", dim = 64, cells = 4, iters = 1)
    val cs = Similarity.collectCentroids(cents)
    // an append's whole computation (route + encode) is zero-exchange —
    // per-batch cost is the batch's own scan plus the bucketed write
    val encPlan = Incremental.annEncode(emb, "vec_id", "embedding", cs, model)
      .queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"), encPlan.take(800))
    Incremental.writeAnnStore(initial, "vec_id", "embedding", cs, model,
      "ann_store", numBuckets = 4)
    Incremental.appendToAnnStore(emb.filter($"vec_id" % 3 === 0), "vec_id",
      "embedding", cs, model, "ann_store", numBuckets = 4)
    try {
      val q = emb.filter($"vec_id" < 5)
      val viaStore = Incremental.annStoreTopK(spark, "ann_store", q,
        "vec_id", "embedding", cs, model, k = 3, nProbe = 4)
      val mono = Similarity.ivfPqTopK(emb, q, cents, "vec_id", "embedding",
        model, k = 3, nProbe = 4)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3)))
        .toMap
      assert(keyed(viaStore) == keyed(mono)) // append-built == monolithic
      // probe plan: queries broadcast; the ONE shuffle exchange is the
      // ranking window, so the store's code rows never shuffle (AQE's
      // toString repeats nodes under "Initial Plan" — count the final
      // section only)
      val plan = viaStore.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Broadcast"), plan.take(1200))
      val shuffles = plan.linesIterator
        .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
      assert(shuffles == 1, plan.take(1500))
      // per-cell maintenance reads prune to the cell's bucket files.
      // autoBucketedScan turns bucketed reading off for a bare filter
      // (no join needs the distribution), which also forfeits pruning —
      // a maintenance job pins it on, as here
      val prevAuto = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      try {
        val pruned = spark.table("ann_store").filter($"cell_id" === 0)
        pruned.collect()
        val scan = pruned.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        assert(scan.contains("SelectedBucketsCount: 1 out of 4"),
          scan.take(1200))
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    } finally {
      spark.sql("DROP TABLE ann_store")
    }
  }

  test("hardNegatives: same-label and near-dup neighbors excluded, " +
       "boundary negatives ranked first, map-side limited") {
    import spark.implicits._
    // anchor (id 0, label 0) at e1; planted neighbors:
    //   id 1 label 0 at e1        -> same label, excluded
    //   id 2 label 1 at ~e1       -> other label but cos≈1 ≥ 0.95, excluded
    //   id 3 label 1 cos≈0.9      -> hardest admissible negative
    //   id 4 label 2 cos≈0.7      -> second
    //   id 5 label 1 cos≈0.0      -> easy negative, ranked last
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (0L, 0, v(1, 0, 0, 0)),
      (1L, 0, v(1, 0.01, 0, 0)),
      (2L, 1, v(1, 0.001, 0, 0)),
      (3L, 1, v(0.9, math.sqrt(1 - 0.81), 0, 0)),
      (4L, 2, v(0.7, math.sqrt(1 - 0.49), 0, 0)),
      (5L, 1, v(0, 1, 0, 0))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.hardNegatives(emb, emb.filter($"vec_id" === 0),
        "vec_id", "embedding", "label", k = 3, dupThreshold = 0.95)
      .orderBy("rnk").collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 4L, 5L))
    assert(got.map(_.getAs[Long]("rnk")).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(_.getAs[Int]("n_label") != 0))
    assert(got.forall(_.getAs[Double]("cos") < 0.95))
    // ranking stays map-side limited like bruteForceTopK
    val plan = Similarity.hardNegatives(emb, emb.filter($"vec_id" === 0),
        "vec_id", "embedding", "label", k = 3, dupThreshold = 0.95)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
  }

  test("dropLedger: total accounting, kept == prepare survivors, " +
       "first-stage attribution, contaminated stage") {
    import graft.operators.Corpus
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val ledger = Corpus.dropLedger(docs, "doc_id", "text",
      Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en"),
      minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0)
    assert(ledger.count() == docs.count(), "one ledger row per input doc")
    val kept = ledger.filter(col("stage") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val surv = Corpus.prepare(docs, "doc_id", "text",
        Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en"),
        minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == surv, "ledger 'kept' must equal prepare's survivors")
    // every stage attributes at least once on the fixture, and stage
    // order holds: a quality-failing doc never reports a later stage
    val stages = ledger.groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages.keySet.subsetOf(
      Set("quality", "lang", "exact_dup", "near_dup", "kept")))
    assert(ledger.filter(col("quality") < 0.5 &&
      col("stage") =!= "quality").count() == 0,
      "first failing stage wins the attribution")
    // contaminated stage: plant an eval doc equal to a kept doc's text
    val keptOne = docs.filter(col("doc_id").isin(kept.toSeq.map(Long.box): _*))
      .limit(1).select(col("doc_id"), col("text")).collect().head
    val ev = Seq((999999L, keptOne.getString(1))).toDF("doc_id", "text")
    val withEv = Corpus.dropLedger(docs, "doc_id", "text",
      Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en"),
      minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0,
      evalDocs = Some(ev))
    assert(withEv.filter(col("doc_id") === keptOne.getLong(0))
      .select("stage").collect().head.getString(0) == "contaminated",
      "an exact eval copy must flip from kept to contaminated")
    assert(withEv.count() == docs.count())
  }

  test("dropLedger / softDedupWeights: release returns the session cache " +
       "to baseline") {
    import graft.operators.Corpus
    spark.catalog.clearCache()
    val docs = Tables(spark, TestSpark.sf0001, "documents")

    val ledger = Corpus.dropLedger(docs, "doc_id", "text",
      Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en"),
      minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0,
      evalDocs = Some(docs.limit(2).select(col("doc_id"), col("text"))))
    val ledgerRows = ledger.collect()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "the staged intermediates stay persisted until released")
    Checkpoints.release(ledger)
    assert(spark.sharedState.cacheManager.isEmpty,
      "release must return the CacheManager to its pre-call state")
    assert(ledgerRows.length == docs.count())

    val w = Dedup.softDedupWeights(docs, "doc_id", "text")
    assert(w.collect().nonEmpty && !spark.sharedState.cacheManager.isEmpty)
    Checkpoints.release(w)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("kCenterSelect: hand farthest-first trajectory, tie on id, " +
       "non-increasing cover radius") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val emb = Seq(
      (1L, v(0, 0)), (2L, v(10, 0)), (3L, v(0, 10)),
      (4L, v(5, 5)), (5L, v(0.1, 0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(emb, "vec_id", "embedding", k = 5)
      .orderBy("sel_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // seed = min id; ranks 2/3 tie at d=100 → id breaks (2 before 3)
    assert(got.toSeq == Seq(
      (1L, 1L, None), (2L, 2L, Some(100.0)), (3L, 3L, Some(100.0)),
      (4L, 4L, Some(50.0)), (5L, 5L, Some(0.01))))
    // fixture: greedy invariant — cover_d never increases past rank 2
    val fx = Similarity.kCenterSelect(
        Tables(spark, TestSpark.sf0001, "embeddings"),
        "vec_id", "embedding", k = 6)
      .orderBy("sel_rank").collect().drop(1).map(_.getDouble(2))
    assert(fx.sliding(2).forall(p => p(0) >= p(1)),
      s"cover radius must be non-increasing: ${fx.toSeq}")
    assert(fx.last > 0.0, "distinct embeddings keep a positive radius")
  }

  test("kCenterSelect: running-min contract — each round's plan carries " +
       "exactly ONE distance kernel, and state blocks are released") {
    def sqL2Count(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.expressions.map(_.collect {
        case e: graft.plans.SqL2Distance => e
      }.size).sum
    // the per-round projection: one new-center kernel folded into the
    // running d_min — NOT one kernel per already-selected center
    val state = Seq((1L, Seq(0.0, 0.0), 0.5)).toDF("id", "v", "d_min")
    for (r <- Seq(1, 5, 50)) {
      // simulate round r: the state already reflects r centers; the
      // next round's plan must still contain exactly one kernel
      val roundPlan = Similarity.kCenterRound(state,
        Seq.fill(2)(r.toDouble), first = false)
      assert(sqL2Count(roundPlan) == 1,
        s"round after $r centers must fold ONE kernel, " +
          s"got ${sqL2Count(roundPlan)}")
    }
    // end-to-end: a k=6 run leaves no superseded checkpoint blocks
    // (Checkpoints.release discipline) beyond what existed before
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.kCenterSelect(
      Tables(spark, TestSpark.sf0001, "embeddings"),
      "vec_id", "embedding", k = 6).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"kCenterSelect must release its state checkpoints, leaked: $leaked")
  }

  test("ivfProbeSweep: per-depth recall equals independent ivfTopK runs; " +
       "full probe is exact; ivfAutoTune picks the minimal depth") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val cents = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding",
      dim = 64, cells = 8, iters = 2)
    val grid = Seq(1, 2, 4, 8)
    val sweep = Similarity.ivfProbeSweep(emb, queries, cents, "vec_id",
        "embedding", k = 5, grid).collect()
      .map(r => r.getLong(0).toInt ->
        (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 5).select("query_id", "neighbor_id")
    for (p <- grid) {
      // the one-pass re-windowing must equal a from-scratch IVF run at
      // this depth — same candidates, same ranking, same hits
      val hits = Similarity.ivfTopK(emb, queries, cents, "vec_id",
          "embedding", k = 5, nProbe = p)
        .select("query_id", "neighbor_id")
        .join(bf, Seq("query_id", "neighbor_id"), "left_semi").count()
      assert(sweep(p)._1 == hits,
        s"depth $p: sweep ${sweep(p)._1} vs independent $hits")
    }
    // full probe scans every cell: recall and scan_frac exactly 1
    assert(sweep(8) == ((bf.count(), 1.0, 1.0)))
    // monotone in depth (candidate sets nest)
    for (Seq(a, b) <- grid.sliding(2)) {
      assert(sweep(a)._2 <= sweep(b)._2 && sweep(a)._3 <= sweep(b)._3)
    }
    // auto-tune: sqrt-cell rule and minimal-depth choice vs the
    // sweep's own recall column
    val (_, sw, chosen) = Similarity.ivfAutoTune(emb, queries, "vec_id",
      "embedding", k = 5, targetRecall = 0.9, dim = 64, iters = 2)
    val rows = sw.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val n = emb.count()
    assert(rows.keySet.max == math.ceil(math.sqrt(n.toDouble)).toLong)
    val expect = rows.keys.toSeq.sorted
      .find(p => rows(p) >= 0.9).getOrElse(rows.keySet.max)
    assert(chosen.toLong == expect, s"chosen $chosen vs minimal $expect")
    assert(rows(rows.keySet.max) == 1.0, "full probe must be exact")
  }

  test("lshBandPlan: S-curve areas match an independent reference; " +
       "exactly one chosen plan at min err; fnWeight steers to recall") {
    val rows = Dedup.lshBandPlan(spark, threshold = 0.8, numHashes = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(rows.length == 64)
    // independent midpoint-rule reference for the classical 2x32 plan
    val (fpRef, fnRef) = {
      var fp = 0.0; var fn = 0.0
      for (i <- 0 until 200) {
        val s = (i + 0.5) / 200
        val q = math.pow(1.0 - math.pow(s, 2.0), 32.0)
        if (s < 0.8) fp += 1.0 - q else fn += q
      }
      (math.rint(fp / 200 * 1e6) / 1e6, math.rint(fn / 200 * 1e6) / 1e6)
    }
    val deflt = rows.find(r => r._1 == 2 && r._2 == 32).get
    assert(math.abs(deflt._3 - fpRef) < 1e-9 &&
      math.abs(deflt._4 - fnRef) < 1e-9,
      s"2x32 areas ${(deflt._3, deflt._4)} vs reference ${(fpRef, fnRef)}")
    // the 2x32 default is recall-maximal at t=0.8 (misses ~nothing)
    assert(deflt._4 < 1e-5)
    // exactly one chosen, and it carries the global min err
    val chosen = rows.filter(_._6 == 1L)
    assert(chosen.length == 1)
    assert(chosen.head._5 == rows.map(_._5).min)
    // recall-weighted: a large fnWeight must trade toward recall —
    // strictly smaller miss area via fewer rows per band (wider
    // S-curve) than the balanced choice
    val recallPick = Dedup.lshBandPlan(spark, threshold = 0.8,
        numHashes = 64, fnWeight = 50.0)
      .filter(col("is_chosen") === 1L).collect().head
    assert(recallPick.getDouble(4) < chosen.head._4,
      s"fnWeight=50 must cut the miss area below the balanced pick's " +
        s"${chosen.head._4}, got ${recallPick.getDouble(4)}")
    assert(recallPick.getLong(0) < chosen.head._1,
      "recall weighting moves to fewer rows per band (wider S-curve)")
  }

  test("dupProvenance: hand matrix — diagonal redundancy, cross contamination") {
    // s1: A1~A2 internal pair (j=0.75); s2's B1 duplicates BOTH s1 docs
    // (j=1.0 with A1, 0.75 with A2); C is unrelated noise
    val docs = Seq(
      (1L, "a b c d e", "s1"),
      (2L, "a b c d e f", "s1"),
      (3L, "a b c d e", "s2"),
      (4L, "x y z w q", "s2")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.dupProvenance(docs, "doc_id", "text", "source",
        threshold = 0.6).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      ("s1", "s1") -> ((1L, 0.75)),
      ("s1", "s2") -> ((2L, 0.875))),
      s"unexpected matrix: $got")
  }

  test("softDedupWeights: hand df arithmetic, unique doc anchors weight 1") {
    // A is corpus-unique (every shingle df=1); B and C are identical
    // (every shingle df=2): commonness 2, weight sqrt(1/2)
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four"),
      (3L, "one two three four")
    ).toDF("doc_id", "text")
    val got = Dedup.softDedupWeights(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) == ((2L, 1.0, 1.0)))
    assert(got(2L) == ((2L, 2.0, math.rint(math.sqrt(0.5) * 1e6) / 1e6)))
    assert(got(3L) == got(2L), "identical docs weigh identically")
  }

  test("softDedupWeights: fixture properties — distribution shape, " +
       "beta composes as a power") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val half = Dedup.softDedupWeights(docs, "doc_id", "text", beta = 0.5)
    assert(half.count() == docs.count(), "soft dedup DROPS nothing")
    val agg = half.agg(min("weight"), max("weight"), min("commonness"))
      .collect().head
    assert(agg.getDouble(0) > 0.0 && agg.getDouble(1) <= 1.0)
    assert(agg.getDouble(1) == 1.0,
      "the least-common doc anchors the weight scale at 1")
    assert(agg.getDouble(2) >= 1.0, "df is at least 1 for every shingle")
    // commonness-monotone: the most common doc carries the least weight
    val byC = half.orderBy(col("commonness").desc, col("id")).limit(1)
      .collect().head
    val minW = half.agg(min("weight")).collect().head.getDouble(0)
    assert(byC.getAs[Double]("weight") == minW)
    // beta = 1 is the square of beta = 0.5 (pre-rounding identity)
    val one = Dedup.softDedupWeights(docs, "doc_id", "text", beta = 1.0)
      .withColumnRenamed("weight", "w1").select("id", "w1")
    val joined = half.join(one, Seq("id"))
      .select(abs(col("w1") - col("weight") * col("weight")).as("d"))
      .agg(max("d")).collect().head.getDouble(0)
    assert(joined < 2e-6, s"w(1) == w(0.5)^2 up to rounding, got $joined")
  }

  test("multiSuiteContamination: per-suite overlap fractions in one pass") {
    val suites = Seq(
      ("A", "a b c d"),       // grams: "a b c", "b c d"
      ("B", "x y z w"))       // grams: "x y z", "y z w"
      .toDF("suite", "text")
    val train = Seq(
      (1L, "a b c d e"),      // 3 grams, 2 in A, 0 in B
      (2L, "p q r s"),        // clean — must not surface at all
      (3L, "a b c x y z"))    // 4 grams, 1 in A ("a b c"), 1 in B ("x y z")
      .toDF("doc_id", "text")
    val out = Dedup.multiSuiteContamination(train, suites,
        "doc_id", "suite", "text", threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[String]("suite"),
        r.getAs[Long]("hits"), r.getAs[Double]("overlap_frac"),
        r.getAs[Long]("contaminated"))).toSet
    assert(out == Set(
      (1L, "A", 2L, 0.666667, 1L),
      (3L, "A", 1L, 0.25, 0L),
      (3L, "B", 1L, 0.25, 0L)), out.toString)
  }

  test("redactContaminatedSpans: excises covered tokens, keeps the rest") {
    val ev = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "say the quick brown fox jumps now"), // spans at pos 1,2 merge
      (2L, "the quick brown fox"),               // fully covered → ""
      (3L, "hello world foo bar"),               // untouched
      (4L, "the quick"),                         // < n tokens: untouched
      (5L, "The QUICK brown fox"))               // case-folded → covered
      .toDF("doc_id", "text")
    val out = Dedup.redactContaminatedSpans(train, ev, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_tok"),
          r.getAs[Long]("n_removed")))).toMap
    assert(out.size == 5, "rewrite keeps every doc (no drops)")
    assert(out(1L) == (("say jumps now", 7L, 4L)), out(1L).toString)
    assert(out(2L) == (("", 4L, 4L)))
    assert(out(3L) == (("hello world foo bar", 4L, 0L)))
    assert(out(4L) == (("the quick", 2L, 0L)))
    assert(out(5L) == (("", 4L, 4L)), "span identity is case-folded")
  }

  test("lshRecallAudit: strong plan ≈ perfect recall; weak plan lands " +
       "in its own binomial band; subset invariant holds") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    def audit(bands: Int, rows: Int) =
      Dedup.lshRecallAudit(docs, "doc_id", "text", threshold = 0.6,
        bands = bands, rowsPerBand = rows).collect().head
    // 32x2 (the q24 production plan): miss probability ≤ 6e-7 at
    // j ≥ 0.6 — expected recall ≈ 1 and the machinery must realize it
    val strong = audit(32, 2)
    assert(strong.getAs[Long]("n_exact") > 0)
    assert(strong.getAs[Double]("expected_recall") > 0.999)
    assert(strong.getAs[Long]("subset_ok") == 1L)
    assert(strong.getAs[Long]("recall_in_band") == 1L)
    // deliberately weak 4x4 plan: flags still well-formed and green on
    // the fixture (near-identical dups sit at p_detect ≈ 1 here; the
    // planted mid-curve power case is q195's in-plan corpus)
    val weak = audit(4, 4)
    assert(weak.getAs[Long]("subset_ok") == 1L)
    assert(weak.getAs[Long]("recall_in_band") == 1L)
  }

  test("contaminationBlastRadius: near-dup of a contaminated doc is " +
       "caught via the cluster even when its own containment dips under") {
    val evalText = "alpha bravo charlie delta echo foxtrot" // 4 shingles
    val filler = (1 to 30).map(i => s"fill$i").mkString(" ")
    val t1 = s"$filler $evalText"                    // direct: containment 1.0
    // corrupt ONE token inside the quoted span: kills 3 of 4 eval
    // shingles (containment 0.25 < 0.6) but leaves jaccard(t1, t2)
    // high (the 30-token filler dominates) — the paraphrase/truncation
    // shape per-doc screening misses
    val t2 = s"$filler ${evalText.replace("charlie", "zulu")}"
    val t3 = "one two three four five six seven eight nine ten"
    val train = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
    val ev = Seq((100L, evalText)).toDF("doc_id", "text")

    val radius = Dedup.contaminationBlastRadius(train, ev, "doc_id", "text",
        threshold = 0.6, dupThreshold = 0.6).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(radius == Map(1L -> "direct", 2L -> "via_dup"), radius.toString)

    // per-doc decontaminate leaves the near-dup in; transitive does not
    val perDoc = Dedup.decontaminate(train, ev, "doc_id", "text", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(perDoc == Set(2L, 3L), "t2 must slip a per-doc screen")
    val trans = Dedup.decontaminateTransitive(train, ev, "doc_id", "text",
        threshold = 0.6, dupThreshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trans == Set(3L))
  }

  test("snapshotDiff: four statuses from a hand-built pair of snapshots") {
    import graft.operators.Corpus
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val out = Corpus.snapshotDiff(prev, cur, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"), out.toString)
  }

  test("leakageSafeSplit: no near-dup pair straddles splits; per-doc " +
       "hash split does (the guarantee is non-vacuous)") {
    import graft.operators.{Sampling, Selection}
    // fixture + a planted near-copy of every doc (one appended token,
    // id offset 10000): per-doc hash coins of id and id+10000 are
    // independent, so the naive split straddles some pairs; the
    // rep-keyed split must straddle none
    val base = Tables(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val copies = base.select(($"doc_id" + 10000L).as("doc_id"),
      concat($"text", lit(" zzleak")).as("text"))
    val docs = base.unionByName(copies)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val safe = Selection.leakageSafeSplit(docs, "doc_id", "text",
      splits, threshold = 0.6)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.6, shingleLen = 3)
    def straddles(assigned: org.apache.spark.sql.DataFrame): Long =
      pairs.join(assigned.select($"doc_id".as("id_a"), $"split".as("sp_a")),
          Seq("id_a"))
        .join(assigned.select($"doc_id".as("id_b"), $"split".as("sp_b")),
          Seq("id_b"))
        .filter($"sp_a" =!= $"sp_b").count()
    assert(pairs.count() > 0, "planted copies must form pairs")
    assert(straddles(safe) == 0, "a dup cluster crossed a split boundary")
    val naive = Sampling.assignSplit(docs, $"doc_id", splits)
    assert(straddles(naive) > 0,
      "fixture must demonstrate the per-doc-coin leak the op prevents")
    // rep-keyed coin still realizes sane proportions (over clusters)
    val n = safe.count().toDouble
    val frac = safe.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    assert(frac("train") > 0.6 && frac("train") < 0.95, frac.toString)
  }

  test("redactContaminatedSpans == independent driver replay on the fixture") {
    // brute-force reimplementation of the excision semantics in plain
    // Scala, compared doc-for-doc — the operator's distributed plan
    // (positional-gram join, span expansion, flagged-only rewrite) must
    // reproduce the obvious sequential algorithm exactly. (Note the
    // contract deliberately NOT asserted: the rewritten corpus can mint
    // NEW eval grams at excision seams — token j-1 rejoined with token
    // j+n can form a gram that was never in the original — so
    // re-screening the output is a second pass, not a no-op; measured
    // on this fixture the seams do mint grams.)
    val n = 3
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val evSet = docs.filter($"doc_id" % 7 === 0)
      .select(explode(graft.functions.Text.shingles(lower($"text"), n)).as("g"))
      .distinct().collect().map(_.getString(0)).toSet
    val expected = docs.filter($"doc_id" % 7 =!= 0)
      .select($"doc_id", lower($"text").as("t")).collect().map { r =>
        val toks = r.getString(1).split(" ", -1)
        val covered = (0 to toks.length - n)
          .filter(i => evSet(toks.slice(i, i + n).mkString(" ")))
          .flatMap(i => i until i + n).toSet
        val keptToks = toks.indices.filterNot(covered).map(toks)
        r.getLong(0) -> ((keptToks.mkString(" "), toks.length.toLong,
          covered.size.toLong))
      }.toMap
    val got = Dedup.redactContaminatedSpans(
        docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0),
        "doc_id", "text", n)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_tok"),
          r.getAs[Long]("n_removed")))).toMap
    assert(got.keySet == expected.keySet, "row-for-row, no drops")
    val redacted = expected.count(_._2._3 > 0)
    assert(redacted > 0, "fixture must actually exercise the rewrite path")
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)}, expected $e")
    }
  }

  test("sampledDupRate: rate 1.0 recovers the exact rate with a " +
       "degenerate-consistent CI; hand fixture pins the counts") {
    import spark.implicits._
    // 6 docs: two dup pairs (4 docs duplicated) + 2 unique → true 4/6
    val docs = Seq((1L, "a a"), (2L, "a a"), (3L, "b b"), (4L, "b b"),
      (5L, "c c"), (6L, "d d")).toDF("doc_id", "text")
    val full = Dedup.sampledDupRate(docs, "doc_id", "text", rate = 1.0)
      .collect().head
    assert(full.getAs[Long]("n_total") == 6L)
    assert(full.getAs[Long]("n_sampled") == 6L)
    assert(full.getAs[Double]("dup_rate_true") == 0.666667)
    assert(full.getAs[Double]("dup_rate_est") == 0.666667)
    assert(full.getAs[Long]("covered") == 1L)
    // CI brackets the estimate and stays in [0,1]
    assert(full.getAs[Double]("ci_lo") >= 0.0 &&
      full.getAs[Double]("ci_lo") <= 0.666667)
    assert(full.getAs[Double]("ci_hi") >= 0.666667 &&
      full.getAs[Double]("ci_hi") <= 1.0)
  }

  test("sampledDupRate: the sampled estimate is the exact dup status " +
       "of the md5-bucket sample, and only ONE corpus-grain shuffle " +
       "runs (hash grain — no sample-to-index join)") {
    import spark.implicits._
    val docs = sources.Tables(spark, TestSpark.sf0001, "documents")
    val r = Dedup.sampledDupRate(docs, "doc_id", "text", rate = 0.25)
    // replay the estimator row-by-row on the driver
    val byHash = docs.select(md5($"text").as("h"), $"doc_id").collect()
      .groupBy(_.getString(0))
    val sampledPfx = (0 until 64).map(i => f"$i%02x").toSet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val flat = byHash.toSeq.flatMap { case (_, rows) =>
      rows.map(rr => (rr.getLong(1), rows.length >= 2))
    }
    val sampled = flat.filter { case (id, _) =>
      sampledPfx(md5hex(id.toString).take(2)) }
    val expEst = sampled.count(_._2).toDouble / sampled.size
    val got = r.collect().head
    assert(got.getAs[Long]("n_sampled") == sampled.size.toLong)
    assert(got.getAs[Double]("dup_rate_est") == BigDecimal(expEst)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.getAs[Long]("n_total") == flat.size.toLong)
    // plan shape: exactly one hash-partitioned exchange (the content-
    // hash aggregate); the readout is a single-partition 1-row agg
    val txt = Dedup.sampledDupRate(docs, "doc_id", "text", rate = 0.25)
      .queryExecution.executedPlan.toString
    val hashPart = txt.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    val allEx = txt.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange"))
    assert(hashPart == 1, s"expected 1 hash exchange:\n$txt")
    assert(allEx <= 2, s"expected ≤2 shuffles total:\n$txt")
  }

  test("bitextMarginMine: hand case — margins normalize hubness, " +
       "best-by-margin beats best-by-cos, tau gates") {
    import spark.implicits._
    // x1=(1,0): cos to y1=1, y2=.6, y3=0; x2=(0,1): y1=0, y2=.8, y3=1
    val x = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val y = Seq((11L, Array(1f, 0f)), (12L, Array(0.6f, 0.8f)),
      (13L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.bitextMarginMine(x, y, "vec_id", "embedding",
        k = 2, tau = 1.0)
      .collect().map(r => r.getAs[Long]("src_id") ->
        ((r.getAs[Long]("tgt_id"), r.getAs[Double]("margin")))).toMap
    // ax(x1)=avg(1,.6)=.8, ax(x2)=avg(1,.8)=.9
    // ay(y1)=avg(1,0)=.5, ay(y2)=avg(.8,.6)=.7, ay(y3)=avg(1,0)=.5
    // x1→y1: 1/((.8+.5)/2)=1.5385; x2→y3: 1/((.9+.5)/2)=1.4286
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 11L)
    assert(math.abs(out(1L)._2 - 1.0 / 0.65) < 1e-3)
    assert(out(2L)._1 == 13L)
    assert(math.abs(out(2L)._2 - 1.0 / 0.7) < 1e-3)
    // tau above both margins → nothing mined
    val none = Similarity.bitextMarginMine(x, y, "vec_id", "embedding",
      k = 2, tau = 1.6)
    assert(none.count() == 0L)
  }
}
