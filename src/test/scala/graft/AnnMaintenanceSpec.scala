package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Incremental, Similarity}
import graft.sources.Tables

/** The ANN store's maintenance lifecycle (forget / upsert / compaction)
  * on the shared store verbs — the plan- and layout-level assertions
  * q162's oracle can't see. */
class AnnMaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture() = {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings")
      .select($"vec_id", $"embedding")
    val initial = emb.filter($"vec_id" % 3 =!= 0)
    val (model, _) = Similarity.pqTrain(initial, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 1)
    val cents = Similarity.trainCentroidsKMeans(initial, "vec_id",
      "embedding", dim = 64, cells = 4, iters = 1)
    (emb, initial, model, cents,
      Incremental.IvfPq(Similarity.collectCentroids(cents), model))
  }

  private def drop(table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")

  test("compaction folds replay duplicates, forgotten ids leave every " +
       "probe with a one-shuffle plan, the cell_id bucket layout " +
       "survives, and re-forgetting is a no-op for probes") {
    val (emb, initial, _, _, kind) = fixture()
    val table = "annm_store2"
    drop(table)
    try {
      Incremental.writeStore(kind, initial, "vec_id", $"embedding", table,
        numBuckets = 4)
      val batch = emb.filter($"vec_id" % 3 === 0)
      Incremental.appendToStore(kind, batch, "vec_id", $"embedding", table,
        numBuckets = 4)
      // replayed append (halt-retry): duplicate rows land in the store
      Incremental.appendToStore(kind, batch, "vec_id", $"embedding", table,
        numBuckets = 4)
      val delIds = initial.filter($"vec_id" % 5 === 0).select($"vec_id".as("id"))
      Incremental.forgetFromStore(kind, spark, delIds, table, numBuckets = 4)
      val nInitial = initial.count(); val nBatch = batch.count()
      val nDel = delIds.count()
      assert(spark.table(table).count() == nInitial - nDel + 2 * nBatch)
      val q = emb.filter($"vec_id" < 5)
      def probe(k: Int) = Incremental.annStoreTopK(kind, spark, table, q,
        "vec_id", $"embedding", k = k, nProbe = 4)
      def keyed(k: Int) = probe(k).collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3)))
        .toMap
      // forgotten ids are gone from a deep probe, and the plan's only
      // shuffle is still the ranking window
      val dels = delIds.as[Long].collect().toSet
      val neigh = probe(50).select("neighbor_id").as[Long].collect().toSet
      assert(neigh.nonEmpty && neigh.intersect(dels).isEmpty,
        s"forgotten ids surfaced: ${neigh.intersect(dels)}")
      val plan = probe(3).queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val shuffles = plan.linesIterator
        .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
      assert(shuffles == 1, plan.take(1500))
      Incremental.compactStore(kind, spark, table, numBuckets = 4)
      // one row per live id; invariants hold
      assert(spark.table(table).count() == nInitial + nBatch - nDel)
      assert(Incremental.validateStore(kind, spark, table))
      assert(keyed(3).nonEmpty)
      // the layout survives the rewrites: probing relies on the cell_id
      // bucket spec (Spark refuses mixed bucket specs on append —
      // exercise it)
      Incremental.appendToStore(kind, emb.filter($"vec_id" % 101 === 0)
          .select(($"vec_id" + 500000L).as("vec_id"), $"embedding"),
        "vec_id", $"embedding", table, numBuckets = 4)
      def bucketSpec(t: String) = spark.sql(s"DESCRIBE EXTENDED $t")
        .filter($"col_name".isin("Num Buckets", "Bucket Columns"))
        .select("data_type").as[String].collect().toSeq
      assert(bucketSpec(table) == Seq("4", "[`cell_id`]"), bucketSpec(table))
      // a retried forget finds none of its ids: probes must not change
      val before = keyed(3)
      Incremental.forgetFromStore(kind, spark, delIds, table, numBuckets = 4)
      assert(keyed(3) == before, "a no-op forget changed probe decisions")
    } finally drop(table)
  }

  test("upsert replaces changed vectors copy-on-write: re-encoded rows " +
       "win, count is id-stable, store equals a monolithic index over " +
       "the upserted corpus") {
    val (emb, initial, model, cents, kind) = fixture()
    val table = "annm_store3"
    drop(table)
    try {
      Incremental.writeStore(kind, initial, "vec_id", $"embedding", table,
        numBuckets = 4)
      val n0 = spark.table(table).count()
      val ups = initial.filter($"vec_id" % 7 === 0)
        .select($"vec_id", transform($"embedding", x => x * lit(2.0f))
          .as("embedding"))
      Incremental.upsertStore(kind, spark, ups, "vec_id", $"embedding",
        table, numBuckets = 4)
      assert(spark.table(table).count() == n0) // update, not insert
      assert(Incremental.validateStore(kind, spark, table))
      val logical = initial.join(ups.select("vec_id"), Seq("vec_id"),
        "left_anti").unionByName(ups)
      val q = emb.filter($"vec_id" < 5)
      val viaStore = Incremental.annStoreTopK(kind, spark, table, q,
        "vec_id", $"embedding", k = 3, nProbe = 4)
      val mono = Similarity.ivfPqTopK(logical, q, cents, "vec_id",
        "embedding", model, k = 3, nProbe = 4)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3)))
        .toMap
      assert(keyed(viaStore) == keyed(mono))
      // insert path: an id absent from the store lands as a new row
      val ins = emb.filter($"vec_id" % 101 === 0)
        .select(($"vec_id" + 900000L).as("vec_id"), $"embedding")
      Incremental.upsertStore(kind, spark, ins, "vec_id", $"embedding",
        table, numBuckets = 4)
      assert(spark.table(table).count() == n0 + ins.count())
    } finally drop(table)
  }
}
