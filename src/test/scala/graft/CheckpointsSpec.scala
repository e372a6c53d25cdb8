package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Checkpoints, Corpus, Dedup, Graph, Incremental, Lsh, Quality,
  Selection, Tokenizer}
import graft.sources.{JsonlSource, Tables}

/** The materialization policy: what a [[Checkpoints]] scope frees on
  * exit, what [[Checkpoints.release]] frees of what it hands to the
  * caller, and a leak table over operators that materialize. */
class CheckpointsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cachedEntries: Int = org.apache.spark.sql.CacheProbe.entries(spark)

  /** Runs `body` and asserts it leaves no persistent RDD and no cache
    * entry behind. `body` materializes its result and releases it. */
  private def assertNoLeak(body: => Unit): Unit = {
    val rdds = persistentRdds
    val cached = cachedEntries
    body
    val leaked = persistentRdds -- rdds
    assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
    assert(cachedEntries == cached, "CacheManager entries left behind")
  }

  private def docs: DataFrame = Tables(spark, TestSpark.sf0001, "documents")

  private def materializeAndRelease(df: DataFrame): Unit = {
    df.count()
    Checkpoints.release(df)
  }

  // (operator, run): run materializes the operator's result and releases
  // it the way its contract asks; an operator that throws by design is
  // run to its exception
  private val leakRows: Seq[(String, () => Unit)] = Seq(
    "Dedup.fuzzyDupPairs" -> (() => {
      val pairs = Dedup.fuzzyDupPairs(docs, "doc_id", "text")
      pairs.count()
      Checkpoints.release(pairs)
    }),
    "Graph.pageRank on an empty edge set" -> (() => {
      import spark.implicits._
      val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
      intercept[IllegalArgumentException](Graph.pageRank(edges, 5, 0.85))
      ()
    }),
    "Graph.personalizedPageRank with zero-sum seed weights" -> (() => {
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      val seeds = Seq((1L, 0.0)).toDF("node", "weight")
      intercept[IllegalArgumentException](
        Graph.personalizedPageRank(edges, seeds, 5, 0.85))
      ()
    }),
    "Dedup.connectedComponents on converging input" -> (() => {
      import spark.implicits._
      val chain = (1L to 40L).sliding(2).map(w => (w(0), w(1))).toSeq
        .toDF("id_a", "id_b")
      materializeAndRelease(Dedup.connectedComponents(chain))
    }),
    "Dedup.connectedComponents past maxRounds" -> (() => {
      import spark.implicits._
      val chain = (1L to 40L).sliding(2).map(w => (w(0), w(1))).toSeq
        .toDF("id_a", "id_b")
      intercept[IllegalArgumentException](
        Dedup.connectedComponents(chain, maxRounds = 1))
      ()
    }),
    "Selection.maxCoverageSelect" -> (() => {
      val sel = Selection.maxCoverageSelect(docs, "doc_id", "text", k = 3)
      sel.count()
      Checkpoints.release(sel)
    }),
    "Selection.facilityLocationSelect" -> (() => {
      val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(40)
      val sel = Selection.facilityLocationSelect(emb, emb.limit(10),
        "vec_id", "embedding", k = 3)
      sel.count()
      Checkpoints.release(sel)
    }),
    "Selection.facilityLocationSelectLazy" -> (() => {
      val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(40)
      val sel = Selection.facilityLocationSelectLazy(emb, emb.limit(10),
        "vec_id", "embedding", k = 3)
      sel.count()
      Checkpoints.release(sel)
    }),
    "Tokenizer.trainMerges" -> (() => {
      Tokenizer.trainMerges(docs.limit(50), "text", nMerges = 3)
      ()
    }),
    "Tokenizer.trainMergesBatched" -> (() => {
      Tokenizer.trainMergesBatched(docs.limit(50), "text", nMerges = 6,
        maxBatch = 3)
      ()
    }),
    "Corpus.prepare" -> (() => {
      materializeAndRelease(Corpus.prepare(docs, "doc_id", "text",
        Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en", "und"),
        minQuality = 0.0, nearDupThreshold = 0.6))
    }),
    "Corpus.prepare with transitive dedup" -> (() => {
      materializeAndRelease(Corpus.prepare(docs, "doc_id", "text",
        Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en", "und"),
        minQuality = 0.0, nearDupThreshold = 0.6, transitiveDedup = true))
    }),
    "Corpus.dropLedger with eval docs" -> (() => {
      materializeAndRelease(Corpus.dropLedger(docs, "doc_id", "text",
        Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en"),
        minQuality = 0.5, nearDupThreshold = 0.6,
        evalDocs = Some(docs.limit(2).select("doc_id", "text"))))
    }),
    "Dedup.softDedupWeights" -> (() => {
      materializeAndRelease(Dedup.softDedupWeights(docs, "doc_id", "text"))
    }),
    "Incremental.dedupAgainst(Pigeonhole)" -> (() => {
      import spark.implicits._
      val table = "ckpt_leak_hash_store"
      val kind = Lsh.Pigeonhole()
      try {
        Incremental.writeStore(kind, Seq(1L -> 0L).toDF("id", "h"), "id",
          col("h"), table, numBuckets = 4)
        materializeAndRelease(Incremental.dedupAgainst(kind,
          Seq(10L -> 1L, 11L -> -1L).toDF("id", "h"), spark.table(table),
          "id", col("h"),
          storeBands = Some(spark.table(s"${table}_bands"))))
      } finally
        for (t <- Seq(table, s"${table}_bands")) spark.sql(s"DROP TABLE IF EXISTS $t")
    }),
    "Quality.kAnonymizedStats" -> (() => {
      materializeAndRelease(Quality.kAnonymizedStats(docs, Seq("lang"), 5L,
        col("n_chars")))
    }),
    "Quality.lDiverseStats" -> (() => {
      materializeAndRelease(Quality.lDiverseStats(docs, Seq("lang"), "source",
        2L, col("n_chars")))
    }),
    "Quality.columnAssociation" -> (() => {
      materializeAndRelease(Quality.columnAssociation(docs, "lang", "source"))
    }),
    "Quality.tCloseStats" -> (() => {
      materializeAndRelease(Quality.tCloseStats(docs, Seq("source"),
        col("n_chars") / lit(40), 13L, 200L, col("n_chars")))
    }),
    "Quality.uniAndBigramPerplexityBuckets" -> (() => {
      val (uni, bi) = Quality.uniAndBigramPerplexityBuckets(docs, "doc_id",
        "text")(spark)
      uni.count()
      materializeAndRelease(bi)
      Checkpoints.release(uni)
    }),
    "JsonlSource.quarantine" -> (() => {
      val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_jsonl_")
      java.nio.file.Files.writeString(dir.resolve("a.json"),
        "{\"doc_id\": 1, \"text\": \"alpha\"}\n{\"doc_id\": 2, \"text\": broken\n")
      val q = JsonlSource.quarantine(JsonlSource.read(spark, dir.toString,
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")))
      assert(q.good.count() == 1 && q.corrupt.count() == 1)
      Checkpoints.release(q.corrupt)
    }))

  for ((name, run) <- leakRows)
    test(s"leak table: $name leaves no persistent RDD or cache entry") {
      assertNoLeak(run())
    }

  private def checkpointRdd(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get

  /** Frees a checkpoint the test made itself, which [[Checkpoints.release]]
    * leaves alone. */
  private def dropCallerCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist()
      case _ => ()
    }

  test("scoped: frees owned tables the result does not read, hands the " +
       "rest to the caller") {
    import spark.implicits._
    assertNoLeak {
      var dropped, kept: DataFrame = null
      val out = Checkpoints.scoped { ck =>
        dropped = ck.proxy((1L to 20L).toDF("id").select((col("id") * 2).as("id")))
        kept = ck.dataGrain(dropped.filter(col("id") > 10))
        ck.shared(kept.select((col("id") + 1).as("id"))).filter(col("id") > 20)
      }
      assert(!persistentRdds.contains(checkpointRdd(dropped)),
        "a checkpoint the result does not read is freed on exit")
      assert(persistentRdds.contains(checkpointRdd(kept)),
        "a checkpoint the result reads passes to the caller")
      assert(out.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r
      }.isDefined, "the result still reads the shared table's cache")
      assert(out.count() == 11)
      Checkpoints.release(out)
    }
  }

  test("scoped: an exception frees every owned table") {
    import spark.implicits._
    assertNoLeak {
      intercept[IllegalStateException] {
        Checkpoints.scoped { ck =>
          val t = ck.proxy((1L to 5L).toDF("id"))
          ck.shared(t.select((col("id") + 1).as("id"))).count()
          throw new IllegalStateException("boom")
        }
      }
    }
  }

  test("scope.iterate frees superseded and round-own state once the next is kept") {
    import spark.implicits._
    def alive(df: DataFrame): Boolean = persistentRdds.contains(checkpointRdd(df))
    val callerOwned = (1L to 5L).toDF("id").localCheckpoint(true)
    assertNoLeak {
      val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val own = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      Checkpoints.scoped { ck =>
        val keep = (df: DataFrame) => {
          assert(alive(own.last),
            "a round's own table survives until the next state is kept")
          val k = ck.proxy(df)
          kept += k
          k
        }
        val (last, rounds) = ck.iterate(callerOwned, keep) { (state, round) =>
          assert(state.count() == 5, "a step reads the previous state")
          assert(kept.dropRight(1).forall(!alive(_)),
            "every superseded owned state is freed")
          assert(own.forall(!alive(_)), "earlier rounds' own tables are freed")
          own += ck.proxy(state.select((col("id") + 1).as("id")))
          if (round == 3) None
          else Some(own.last.select((col("id") - 1).as("id")))
        }
        assert(rounds == 3 && (last eq kept.last))
        assert(alive(last), "the last state stays the scope's until exit")
        assert(!alive(own.last), "a stopping round frees its own table at once")
      }
      assert(alive(callerOwned), "an init the scope does not own is left alone")
      assert(callerOwned.count() == 5)
    }
    dropCallerCheckpoint(callerOwned)

    // an exception in round r frees every owned table: init, state and
    // the round's own
    assertNoLeak {
      intercept[IllegalStateException] {
        Checkpoints.scoped { ck =>
          ck.iterate(ck.proxy((1L to 5L).toDF("id")), ck.proxy) { (state, round) =>
            val own = ck.proxy(state.select((col("id") + 1).as("id")))
            if (round == 2) throw new IllegalStateException("boom")
            Some(own.select((col("id") - 1).as("id")))
          }
        }
      }
    }
  }

  test("release frees a scope's shared persist that the result reads") {
    import spark.implicits._
    assertNoLeak {
      val out = Checkpoints.scoped { ck =>
        ck.shared((1L to 8L).toDF("id").select((col("id") * 3).as("id")))
          .filter(col("id") > 3)
      }
      assert(out.count() == 7)
      assert(cachedEntries > 0, "the shared persist passes to the caller")
      Checkpoints.release(out)
    }
  }

  test("release leaves a caller-made localCheckpoint and cache usable") {
    import spark.implicits._
    val callerCk = (1L to 6L).toDF("id").localCheckpoint(true)
    val callerCached = (1L to 6L).toDF("id").select((col("id") + 100).as("id"))
      .cache()
    try {
      assert(callerCached.count() == 6)
      // frees the scope's own checkpoint and nothing else
      assertNoLeak {
        val out = Checkpoints.scoped { ck =>
          ck.proxy(callerCk.join(callerCached.select((col("id") - 100).as("id")),
            "id"))
            .union(callerCk).union(callerCached)
        }
        assert(out.count() == 18)
        Checkpoints.release(out)
      }
      assert(persistentRdds.contains(checkpointRdd(callerCk)),
        "the caller's checkpoint keeps its blocks")
      assert(callerCached.storageLevel.useMemory,
        "the caller's cache keeps its entry")
      assert(callerCk.count() == 6 && callerCached.count() == 6)
    } finally {
      dropCallerCheckpoint(callerCk)
      callerCached.unpersist()
    }
  }
}
