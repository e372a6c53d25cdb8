package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sources.ParquetSink

/** Incremental indexes — the production shape of corpus dedup and ANN
  * search: each ingested batch is checked against (or probed through) a
  * PERSISTED store of everything accepted before, instead of
  * re-indexing the whole corpus per snapshot (ref: the reference's
  * append-only raw history + latest-pointer discipline,
  * `airflow/dags/imdb_raw_ingest.py:70-90`, re-expressed for index
  * state).
  *
  * One store contract for every index ([[StoreKind]]): the three LSH
  * signature families ([[Lsh.Kind]]: MinHash over text, hyperplane over
  * vectors, pigeonhole over 64-bit perceptual hashes) and the IVF-PQ
  * ANN index ([[IvfPq]]). A store named `table` is one or two catalog
  * tables, each bucketed on the key its per-batch join probes, so
  * neither store side ever shuffles again (ParquetSink.bucketed
  * contract):
  *  - `table`: the kind's encoded rows, bucketed on the kind's
  *    [[StoreKind.storeKey]] (`content_hash` for MinHash — the exact
  *    anti-join; `cell_id` for IVF-PQ — the probe's cell join; `id`
  *    otherwise — the verify re-join);
  *  - `table_bands` (LSH kinds only): (band, bucket, id) rows, bucketed
  *    on (band, bucket) — the LSH candidate join. Without it every
  *    batch would re-explode and re-shuffle the WHOLE store's bands.
  *
  * The lifecycle verbs are the same for every kind: [[writeStore]],
  * [[appendToStore]], [[validateStore]], [[compactStore]],
  * [[forgetFromStore]] and [[upsertStore]]. Deletes and upserts are
  * copy-on-write — one rewrite of the store's layouts — so every read
  * sees exactly the live rows. The reads are per family:
  * [[dedupAgainst]]/[[dedupSink]] for LSH, [[annStoreTopK]] for IVF-PQ.
  *
  * Per-batch cost is proportional to the BATCH: an LSH store is touched
  * by the candidate join against `_bands`, the id-keyed payload
  * re-join for verification and, for MinHash, the content-hash
  * anti-join — each a column-pruned scan, never the text, vector or
  * media bytes; an IVF-PQ append does not read the store at all.
  *
  * `_bands` is derived state. The two writes of [[writeStore]] /
  * [[appendToStore]] are NOT atomic: a failure between them leaves
  * `_bands` missing the batch's rows, and later batches then silently
  * lose near-dup candidates against those rows (MinHash exact-hash dups
  * are still caught — that stage reads only `table`). [[validateStore]]
  * detects the divergence and [[rebuildBands]] re-derives `_bands` from
  * `table` in one pass. Replayed appends leave duplicate rows, which
  * are decision-neutral for LSH (same payloads and bands → same drops;
  * candidate pairs are distinct-ed by id — spec-asserted) but not for
  * IVF-PQ (see [[compactStore]]); [[compactStore]] reclaims them. */
object Incremental {

  /** What a store kind declares: its row encoding, its bucket key,
    * whether it has a derived `_bands` layout, and its validity check. */
  trait StoreKind {
    /** Bucket key of the store's row table. */
    def storeKey: String
    /** One store row per input row, keyed `id`; `src` is the text,
      * vector or 64-bit fingerprint the kind encodes. */
    def encode(df: DataFrame, idCol: String, src: Column): DataFrame
    /** The `table_bands` rows derived from encoded rows, for a kind whose
      * store has that layout. */
    private[operators] def bandRows: Option[DataFrame => DataFrame]
    /** True iff the store `table` holds the kind's invariants. */
    private[operators] def valid(spark: SparkSession, table: String): Boolean
  }

  /** The IVF-PQ ANN index as a store kind — [[Similarity.ivfPqTopK]]'s
    * corpus side made persistent. A row is (cell_id, id, codes): routing
    * and PQ encoding fused in ONE zero-exchange projection (the q123
    * IVFADC shape; both models are driver-held codegen reference
    * objects) — m small ints instead of the vector, keyed by the cell
    * the probe join filters on. The models are FROZEN at write time:
    * batches appended later encode against the same centroids and
    * codebooks, which is what makes append map-only; retrain + full
    * rewrite is a separate, deliberate operation.
    *
    * The probe join broadcasts the QUERIES, so the store side never
    * shuffles regardless; the cell_id bucket layout buys the rest of the
    * lifecycle: appended rows of a cell land in that cell's bucket files
    * batch after batch (probe scans stay cell-clustered as the index
    * grows), per-cell maintenance (re-encoding a drifted cell, splitting
    * a fat one) bucket-prunes to the cell's files (spec-asserted), and a
    * probe set too large to broadcast can swap the hint for a shuffled
    * cell_id join that is exchange-free on the store side.
    * Valid: one row per id, every code row the model's m bytes wide. */
  final case class IvfPq(cs: Similarity.CentroidSet,
                         model: Similarity.PqModel) extends StoreKind {
    def storeKey: String = "cell_id"
    def encode(df: DataFrame, idCol: String, src: Column): DataFrame =
      Similarity.pqEncode(
          Similarity.assignCells(
            df.select(col(idCol).as("id"), src.as("__v")), "__v", cs),
          "__v", model)
        .select(col("cell_id"), col("id"), col("codes"))
    private[operators] def bandRows: Option[DataFrame => DataFrame] = None
    private[operators] def valid(spark: SparkSession, table: String): Boolean =
      spark.table(table).groupBy("id").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).isEmpty &&
      spark.table(table).filter(size(col("codes")) =!= model.m).isEmpty
  }

  /** Write encoded rows to every layout of the store. With a `_bands`
    * layout both writes consume the rows; the shared persist keeps the
    * second write from re-running the encoding kernels over the input. */
  private def writeEncoded(kind: StoreKind, rows: DataFrame, table: String,
                           numBuckets: Int, mode: SaveMode): Unit =
    Checkpoints.scoped { ck =>
      writePrepared(kind, if (kind.bandRows.isEmpty) rows else ck.shared(rows),
        table, numBuckets, mode)
    }

  /** [[writeEncoded]] for rows the caller has ALREADY materialized: each
    * write re-reads them, and no second persist is stacked on top. */
  private def writePrepared(kind: StoreKind, rows: DataFrame, table: String,
                            numBuckets: Int, mode: SaveMode): Unit = {
    ParquetSink.bucketed(rows, table, Seq(kind.storeKey), numBuckets, mode = mode)
    kind.bandRows.foreach(bands => ParquetSink.bucketed(bands(rows),
      s"${table}_bands", Seq("band", "bucket"), numBuckets, mode = mode))
  }

  /** Create (or overwrite) the store `table` from `df`'s (`idCol`,
    * `src`) rows. */
  def writeStore(kind: StoreKind, df: DataFrame, idCol: String, src: Column,
                 table: String, numBuckets: Int): Unit =
    writeEncoded(kind, kind.encode(df, idCol, src), table, numBuckets,
      SaveMode.Overwrite)

  /** Append a batch's rows to a [[writeStore]] store — the production
    * loop: after a batch is processed its rows join the store so later
    * batches dedup against (or probe) them too. Appends preserve the
    * bucket spec (Spark validates it against the existing tables), so
    * the per-batch joins stay exchange-free as the store grows.
    *
    * Two valid dedup policies, chosen by what you append:
    *  - append the WHOLE batch → the multi-batch pipeline equals one full
    *    greedy recompute (non-cascading: a dropped row still suppresses
    *    later near-dups) — spec-asserted;
    *  - append only the batch's SURVIVORS → cascading greedy (a maximal
    *    independent set in batch order): smaller store, and a row dropped
    *    as a near-dup of a dropped row gets a second chance. */
  def appendToStore(kind: StoreKind, df: DataFrame, idCol: String,
                    src: Column, table: String, numBuckets: Int): Unit =
    writeEncoded(kind, kind.encode(df, idCol, src), table, numBuckets,
      SaveMode.Append)

  /** True iff the store holds its kind's invariants. LSH: every store id
    * appears in `table_bands` exactly `nBands` times per store row — a
    * `false` means a partial append died between the two writes (run
    * [[rebuildBands]]). IVF-PQ: one row per id and m-wide codes — a
    * `false` means a replayed append awaits [[compactStore]]. Cost: two
    * column-pruned scans. */
  def validateStore(kind: StoreKind, spark: SparkSession,
                    table: String): Boolean =
    kind.valid(spark, table)

  /** Rebuild `table_bands` from `table` — the recovery path after a
    * partial append ([[validateStore]] == false). Safe to run any time:
    * it reads only the store's id and signature columns. */
  def rebuildBands(kind: Lsh.Kind, spark: SparkSession, table: String,
                   numBuckets: Int): Unit =
    ParquetSink.bucketed(Lsh.bands(kind, spark.table(table).dropDuplicates("id")),
      s"${table}_bands", Seq("band", "bucket"), numBuckets,
      mode = SaveMode.Overwrite)

  /** Rewrite every layout of the store from `rows` of `table`, in the
    * store's column order. The eager checkpoint breaks lineage to the
    * tables being overwritten (Spark refuses to overwrite a table it is
    * still reading from), and every write re-reads it. */
  private def rewriteStore(kind: StoreKind, spark: SparkSession, table: String,
                           numBuckets: Int,
                           rows: DataFrame => DataFrame): Unit =
    Checkpoints.scoped { ck =>
      val store = spark.table(table)
      writePrepared(kind,
        ck.dataGrain(rows(store).select(store.columns.map(col): _*)),
        table, numBuckets, SaveMode.Overwrite)
    }

  /** Rewrite the store with one row per id — compaction for rows
    * accumulated by replayed appends (a [[dedupSink]] retry re-appends
    * its batch). For the LSH kinds duplicate rows are decision-neutral,
    * so compaction is a storage/scan optimization to run periodically.
    * [[annStoreTopK]]'s ranking window deliberately has NO per-id dedup
    * (it would cost a second, id-keyed exchange on the single-shuffle
    * probe plan), so in an IVF-PQ store a duplicated id occupies several
    * ranks and can evict the true k-th neighbor: a caller that REPLAYS
    * an append must compact before the next probe (q162 pins this). */
  def compactStore(kind: StoreKind, spark: SparkSession, table: String,
                   numBuckets: Int): Unit =
    rewriteStore(kind, spark, table, numBuckets, _.dropDuplicates("id"))

  /** Right-to-be-forgotten: rewrite the store minus `ids` (an (id)
    * DataFrame). A takedown must remove a row's SIGNATURES too, or the
    * store keeps suppressing re-ingested or similar content on the
    * strength of data the pipeline no longer holds — deletion has to
    * change future DECISIONS, not just free bytes (q170 pins this: a
    * copy of a forgotten doc is re-admitted, a copy of a remembered one
    * still drops; q162 pins it for IVF-PQ probes). Every layout derives
    * from the same write, so [[validateStore]] holds after. One store
    * rewrite per call; at scale, batch forget requests and fold them
    * into compaction. */
  def forgetFromStore(kind: StoreKind, spark: SparkSession, ids: DataFrame,
                      table: String, numBuckets: Int): Unit =
    rewriteStore(kind, spark, table, numBuckets,
      _.join(ids.select(col("id")), Seq("id"), "left_anti"))

  /** Copy-on-write upsert: rewrite the store minus the batch's ids, plus
    * the batch encoded with the kind's frozen parameters (present or not
    * — insert and update are the same operation). One store scan + one
    * rewrite; at scale, accumulate upserts and apply them in one pass
    * (or at compaction time), the Delta/Iceberg copy-on-write
    * discipline. */
  def upsertStore(kind: StoreKind, spark: SparkSession, df: DataFrame,
                  idCol: String, src: Column, table: String,
                  numBuckets: Int): Unit = {
    val enc = kind.encode(df, idCol, src)
    rewriteStore(kind, spark, table, numBuckets,
      _.join(enc.select("id"), Seq("id"), "left_anti").unionByName(enc))
  }

  /** Rows of `newDf` that survive greedy dedup against the historical
    * `store` (a signature table of `kind` — typically `spark.table` over
    * a [[writeStore]] table) AND within the batch:
    *
    *  1. exact stage (MinHash only) — drop a batch row whose content
    *     hash exists in the store, or that is not the min-id holder of
    *     its hash within the batch;
    *  2. near-dup stage — drop a row that verifies against ANY store
    *     row, or against a smaller-id row of the batch (the
    *     non-cascading greedy rule of [[Corpus.prepare]]), under the
    *     kind's own bound (Jaccard or cosine `threshold`, `maxHamming`).
    *
    * Equivalent to a full greedy re-dedup of store ∪ batch restricted to
    * batch ids whenever store ids precede batch ids — spec-asserted
    * against the full-recompute reference. Candidates come from LSH band
    * buckets (never a batch×store cross join), so the verified output
    * matches the exact oracle w.h.p. (exactly for Pigeonhole).
    *
    * The batch's signatures are eagerly checkpointed (several downstream
    * consumers would otherwise re-run the signature kernels); the STORE
    * is deliberately NOT — each of its references is a column-pruned scan
    * of the materialized table, which at corpus scale beats copying the
    * store into checkpoint storage. The checkpoints backing the result
    * pass to the caller; [[Checkpoints.release]] on the materialized
    * result frees them.
    *
    * @param storeBands the store's band table (typically
    *   `spark.table(s"${store}_bands")`). When absent the bands are
    *   derived from the store's signature columns in-plan — correct, but
    *   the candidate join then shuffles the exploded store every batch;
    *   the bucketed band table makes it exchange-free. */
  def dedupAgainst(kind: Lsh.Kind, newDf: DataFrame, store: DataFrame,
                   idCol: String, src: Column,
                   storeBands: Option[DataFrame] = None): DataFrame =
    Checkpoints.scoped { ck =>
      dedupPrepared(ck, kind, newDf, ck.proxy(kind.encode(newDf, idCol, src)),
        store, idCol, storeBands)
    }

  /** [[dedupAgainst]] over a signature set the caller has already
    * materialized (the [[dedupSink]] share: dedup and append consume
    * ONE checkpoint of the batch's signatures); materializes into the
    * caller's scope. */
  private def dedupPrepared(ck: Checkpoints.Scope, kind: Lsh.Kind,
                            newDf: DataFrame, nsig: DataFrame,
                            store: DataFrame, idCol: String,
                            storeBands: Option[DataFrame]): DataFrame = {
    // exact stage: batch-internal min-id per hash, then store anti-join
    val batch = kind match {
      case _: Lsh.MinHash =>
        val exactKeep = nsig.groupBy("content_hash")
          .agg(min(col("id")).as("id")).select("id")
        ck.proxy(nsig.join(exactKeep, Seq("id"), "left_semi")
          .join(store.select("content_hash"), Seq("content_hash"), "left_anti"))
      case _ => nsig
    }
    // near-dup stage: the dropped row of a verified pair is always id_b —
    // the batch row against the store, the larger id within the batch
    val nBand = Lsh.bands(kind, batch)
    val sBand = storeBands.getOrElse(Lsh.bands(kind, store))
    val dropped =
      Lsh.verified(kind, Lsh.crossCandidates(sBand, nBand), store, batch)
        .select(col("id_b").as(idCol))
        .unionAll(Lsh.verified(kind, Lsh.selfCandidates(nBand), batch, batch)
          .select(col("id_b").as(idCol)))
        .distinct()
    newDf.join(
      batch.select(col("id").as(idCol)).join(dropped, Seq(idCol), "left_anti"),
      Seq(idCol), "left_semi")
  }

  /** Streaming ingest dedup: a `foreachBatch` body that dedups every
    * micro-batch against the store, emits the survivors, then appends
    * the batch so later micro-batches dedup against it — the continuous
    * form of the [[dedupAgainst]]/[[appendToStore]] loop.
    * Usage: `stream.writeStream.foreachBatch(Incremental.dedupSink(...)).start()`.
    *
    * `emit` MUST materialize the survivors (write/collect) before it
    * returns — the append below it changes the store tables the
    * survivors' lazy plan reads.
    *
    * RETRY safety: a foreachBatch replay re-sees a batch whose own
    * signatures may already be in the store (the first attempt's append
    * succeeded, then the emit's downstream ack failed). Comparing the
    * batch against its own stored rows would drop EVERY row and emit an
    * empty survivor set — so the store view anti-joins the batch's own
    * ids out before dedup (ids must be globally unique across the
    * stream, the natural contract for row ids). With that, a replay
    * emits exactly the first attempt's survivors, and the duplicate rows
    * the re-append leaves behind are decision-neutral for later batches.
    * [[compactStore]] reclaims the space. */
  def dedupSink(kind: Lsh.Kind, idCol: String, src: Column,
                storeTable: String, numBuckets: Int,
                emit: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => Checkpoints.scoped { ck =>
      val spark = batch.sparkSession
      // broadcast anti-join: one micro-batch of ids is small by
      // construction, and broadcasting preserves the store tables'
      // bucket layout (a shuffled anti-join would forfeit the
      // exchange-free bucket joins the store is written for)
      val batchIds = broadcast(batch.select(col(idCol).as("id")))
      val store = spark.table(storeTable).join(batchIds, Seq("id"), "left_anti")
      val storeBands = spark.table(s"${storeTable}_bands")
        .join(batchIds, Seq("id"), "left_anti")
      // ONE materialized signature set per batch: the dedup stage and
      // the append below share it — the append otherwise re-runs the
      // signature kernels over the batch it just deduped
      val nsig = ck.proxy(kind.encode(batch, idCol, src))
      val survivors = dedupPrepared(ck, kind, batch, nsig, store, idCol,
        storeBands = Some(storeBands))
      emit(survivors, batchId)
      writePrepared(kind, nsig, storeTable, numBuckets, SaveMode.Append)
    }

  /** Top-k ANN probes against an [[IvfPq]] store — byte-for-byte the
    * [[Similarity.ivfPqTopK]] probe side, with the corpus replaced by
    * the persisted store: queries broadcast with their nProbe target
    * cells and ADC LUT, the candidate join filters the store to the
    * probed cells' code rows, and the ONE shuffle exchange in the plan
    * is the final per-query ranking window (map-side-limited by partial
    * WindowGroupLimit) — spec-asserted. Exactness contract (q130's and
    * q162's oracle): on a compacted store, the result at any nProbe
    * equals [[Similarity.ivfPqTopK]] over the store's live rows (every
    * ingested or upserted vector not forgotten) with the same frozen
    * models, row for row. */
  def annStoreTopK(kind: IvfPq, spark: SparkSession, table: String,
                   queries: DataFrame, idCol: String, src: Column,
                   k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import kind.{cs, model}
    val store = spark.table(table).select(col("cell_id"),
      col("id").as("neighbor_id"), col("codes"))
    val probed = broadcast(
      queries.select(col(idCol).as("query_id"), src.as("__qv"))
        .withColumn("lut", graft.plans.exprs.pqLut(
          graft.functions.Vectors.toDouble(col("__qv")),
          model.codebooks, model.m, model.ksub))
        .withColumn("cell_id", explode(graft.plans.exprs.nearestCells(
          col("__qv"), cs.ids, cs.matrix, math.min(nProbe, cs.k))))
        .select(col("cell_id"), col("query_id"), col("lut")))
    store.join(probed, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", graft.plans.exprs.pqAdc(col("codes"), col("lut"),
        model.ksub))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").asc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast("long").as("rnk"), col("adc"))
  }

  /** Merge two mergeable-moment stat tables (running store + batch
    * partial) at `keyCols` grain: sums add, mins/maxes fold — the
    * exact-merge identity of distributive aggregates, so an
    * incrementally maintained datasheet equals the monolithic one
    * EXACTLY (counts, sums, extrema; averages recompute at read as
    * sum/count). Inputs must share the schema. Cost ∝ |store| +
    * |batch| at stratum grain — both are |strata|-row tables, never
    * the corpus; history is never rescanned. Non-mergeable statistics
    * (distinct counts) do NOT belong here — route them through a hash
    * store anti-join ([[dedupAgainst]]'s discipline) and carry
    * the increment as one of the sum columns. */
  def mergeMomentStats(store: DataFrame, batch: DataFrame,
                       keyCols: Seq[String], sumCols: Seq[String],
                       minCols: Seq[String],
                       maxCols: Seq[String]): DataFrame = {
    require(sumCols.nonEmpty || minCols.nonEmpty || maxCols.nonEmpty,
      "at least one stat column")
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
      minCols.map(c => min(col(c)).as(c)) ++
      maxCols.map(c => max(col(c)).as(c))
    store.unionByName(batch)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
