package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Checkpoints, Corpus, Dedup, Graph, Selection, Tokenizer}
import graft.sources.Tables

/** The materialization policy: what a [[Checkpoints]] scope frees on
  * exit, what it hands to the caller, and a leak table over the
  * operators whose release used to be written by hand. */
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
    "Tokenizer.trainMerges" -> (() => {
      Tokenizer.trainMerges(docs.limit(50), "text", nMerges = 3)
      ()
    }),
    "Corpus.prepareManaged" -> (() => {
      val prepared = Corpus.prepareManaged(docs, "doc_id", "text",
        Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en", "und"),
        minQuality = 0.0, nearDupThreshold = 0.6)
      prepared.df.count()
      prepared.release()
    }),
    "Corpus.prepareManaged with transitive dedup" -> (() => {
      val prepared = Corpus.prepareManaged(docs, "doc_id", "text",
        Queries.Stopwords, Queries.LangMarkers, keepLangs = Set("en", "und"),
        minQuality = 0.0, nearDupThreshold = 0.6, transitiveDedup = true)
      prepared.df.count()
      prepared.release()
    }))

  for ((name, run) <- leakRows)
    test(s"leak table: $name leaves no persistent RDD or cache entry") {
      assertNoLeak(run())
    }

  private def checkpointRdd(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get

  test("scoped: frees owned tables the result does not read, hands the " +
       "rest to the caller") {
    import spark.implicits._
    assertNoLeak {
      var dropped, kept, shared: DataFrame = null
      val out = Checkpoints.scoped { ck =>
        dropped = ck.proxy((1L to 20L).toDF("id").select((col("id") * 2).as("id")))
        kept = ck.dataGrain(dropped.filter(col("id") > 10))
        shared = ck.shared(kept.select((col("id") + 1).as("id")))
        shared.filter(col("id") > 20)
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
      shared.unpersist()
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

  test("scope.release frees owned loop state now and ignores tables it " +
       "does not own") {
    import spark.implicits._
    val callerOwned = (1L to 5L).toDF("id").localCheckpoint(true)
    val callerRdd = checkpointRdd(callerOwned)
    Checkpoints.scoped { ck =>
      val a = ck.proxy(callerOwned.select((col("id") + 1).as("id")))
      ck.release(callerOwned)
      ck.release(a)
      assert(!persistentRdds.contains(checkpointRdd(a)),
        "owned state is freed at once")
      assert(persistentRdds.contains(callerRdd),
        "a table the scope does not own is left alone")
    }
    assert(callerOwned.count() == 5)
    Checkpoints.release(callerOwned)
  }

  test("managed: the handle holds exactly the owned tables the result " +
       "reads") {
    import spark.implicits._
    assertNoLeak {
      val m = Checkpoints.managed { ck =>
        val unused = ck.proxy((1L to 8L).toDF("id"))
        unused.count()
        ck.shared((1L to 8L).toDF("id").select((col("id") * 3).as("id")))
      }
      assert(!m.isReleased)
      assert(m.df.count() == 8)
      m.release()
      assert(m.isReleased)
    }
  }
}
