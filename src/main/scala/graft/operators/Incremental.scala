package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sources.ParquetSink

/** Incremental cross-snapshot deduplication — the production shape of
  * corpus dedup: each ingested batch is checked against a PERSISTED
  * signature store of everything accepted before, instead of
  * re-clustering the whole corpus per snapshot (ref: the reference's
  * append-only raw history + latest-pointer discipline,
  * `airflow/dags/imdb_raw_ingest.py:70-90`, re-expressed for dedup
  * state).
  *
  * One store contract for every signature family ([[Lsh.Kind]]:
  * MinHash over text, hyperplane over vectors, pigeonhole over 64-bit
  * perceptual hashes). A store named `table` is two bucketed catalog
  * tables, each bucketed on the key its per-batch join probes, so
  * neither store side ever shuffles again (ParquetSink.bucketed
  * contract):
  *  - `table`: the kind's signature rows, bucketed on the kind's
  *    [[Lsh.Kind.storeKey]] (`content_hash` for MinHash — the exact
  *    anti-join; `id` otherwise — the verify re-join);
  *  - `table_bands`: (band, bucket, id) rows, bucketed on (band,
  *    bucket) — the LSH candidate join. Without it every batch would
  *    re-explode and re-shuffle the WHOLE store's bands.
  *
  * Per-batch cost is proportional to the BATCH: the store is touched
  * by the candidate join against `_bands`, the id-keyed payload
  * re-join for verification and, for MinHash, the content-hash
  * anti-join — each a column-pruned scan, never the text, vector or
  * media bytes.
  *
  * `_bands` is derived state. The two writes of [[writeStore]] /
  * [[appendToStore]] are NOT atomic: a failure between them leaves
  * `_bands` missing the batch's rows, and later batches then silently
  * lose near-dup candidates against those rows (MinHash exact-hash dups
  * are still caught — that stage reads only `table`). [[validateStore]]
  * detects the divergence and [[rebuildBands]] re-derives `_bands` from
  * `table` in one pass. Replayed appends leave duplicate rows, which
  * are decision-neutral (same payloads and bands → same drops;
  * candidate pairs are distinct-ed by id — spec-asserted);
  * [[compactStore]] reclaims them, and [[forgetFromStore]] removes ids
  * with the same rewrite. */
object Incremental {

  /** Write the signature and band tables from one signature set. Both
    * writes consume the signatures; the shared persist keeps the second
    * write from re-running the signature kernels over the input. */
  private def writeBoth(kind: Lsh.Kind, sig0: DataFrame, table: String,
                        numBuckets: Int, mode: SaveMode): Unit =
    Checkpoints.scoped { ck =>
      writePrepared(kind, ck.shared(sig0), table, numBuckets, mode)
    }

  /** [[writeBoth]] for a signature set the caller has ALREADY
    * materialized: both writes re-read it, and no second persist is
    * stacked on top of it. */
  private def writePrepared(kind: Lsh.Kind, sig: DataFrame, table: String,
                            numBuckets: Int, mode: SaveMode): Unit = {
    ParquetSink.bucketed(sig, table, Seq(kind.storeKey), numBuckets, mode = mode)
    ParquetSink.bucketed(Lsh.bands(kind, sig), s"${table}_bands",
      Seq("band", "bucket"), numBuckets, mode = mode)
  }

  /** Create (or overwrite) the store `table` from `df`'s (`idCol`,
    * `src`) rows. */
  def writeStore(kind: Lsh.Kind, df: DataFrame, idCol: String, src: Column,
                 table: String, numBuckets: Int): Unit =
    writeBoth(kind, kind.signatures(df, idCol, src), table, numBuckets,
      SaveMode.Overwrite)

  /** Append a batch's signatures to a [[writeStore]] store — the
    * production loop: after a batch is processed its rows join the store
    * so later batches dedup against them too. Appends preserve the
    * bucket spec (Spark validates it against the existing tables), so
    * both per-batch joins stay exchange-free as the store grows.
    *
    * Two valid policies, chosen by what you append:
    *  - append the WHOLE batch → the multi-batch pipeline equals one full
    *    greedy recompute (non-cascading: a dropped row still suppresses
    *    later near-dups) — spec-asserted;
    *  - append only the batch's SURVIVORS → cascading greedy (a maximal
    *    independent set in batch order): smaller store, and a row dropped
    *    as a near-dup of a dropped row gets a second chance. */
  def appendToStore(kind: Lsh.Kind, df: DataFrame, idCol: String,
                    src: Column, table: String, numBuckets: Int): Unit =
    writeBoth(kind, kind.signatures(df, idCol, src), table, numBuckets,
      SaveMode.Append)

  /** True iff `table` and `table_bands` agree: every store id appears in
    * the band table exactly `nBands` times per store row. A `false`
    * means a partial append died between the two writes — run
    * [[rebuildBands]]. Cost: two column-pruned id scans. */
  def validateStore(kind: Lsh.Kind, spark: SparkSession,
                    table: String): Boolean = {
    val storeIds = spark.table(table).groupBy("id")
      .agg(count(lit(1)).as("n_sig"))
    val bandIds = spark.table(s"${table}_bands").groupBy("id")
      .agg(count(lit(1)).as("n_band"))
    storeIds.join(bandIds, Seq("id"), "full_outer")
      .filter(col("n_sig").isNull || col("n_band").isNull ||
        col("n_band") =!= col("n_sig") * kind.nBands)
      .isEmpty
  }

  /** Rebuild `table_bands` from `table` — the recovery path after a
    * partial append ([[validateStore]] == false). Safe to run any time:
    * it reads only the store's id and signature columns. */
  def rebuildBands(kind: Lsh.Kind, spark: SparkSession, table: String,
                   numBuckets: Int): Unit =
    ParquetSink.bucketed(Lsh.bands(kind, spark.table(table).dropDuplicates("id")),
      s"${table}_bands", Seq("band", "bucket"), numBuckets,
      mode = SaveMode.Overwrite)

  /** Rewrite both layouts of the store from `rows` of `table`. The
    * eager checkpoint breaks lineage to the tables being overwritten
    * (Spark refuses to overwrite a table it is still reading from). */
  private def rewriteStore(kind: Lsh.Kind, spark: SparkSession, table: String,
                           numBuckets: Int,
                           rows: DataFrame => DataFrame): Unit =
    Checkpoints.scoped { ck =>
      writeBoth(kind, ck.dataGrain(rows(spark.table(table))), table,
        numBuckets, SaveMode.Overwrite)
    }

  /** Rewrite the store with one row per id — compaction for rows
    * accumulated by replayed appends (a [[dedupSink]] retry re-appends
    * its batch). Duplicate rows are decision-neutral, so compaction is a
    * storage/scan optimization to run periodically, not a correctness
    * requirement. */
  def compactStore(kind: Lsh.Kind, spark: SparkSession, table: String,
                   numBuckets: Int): Unit =
    rewriteStore(kind, spark, table, numBuckets, _.dropDuplicates("id"))

  /** Right-to-be-forgotten: rewrite the store minus `ids` (an (id)
    * DataFrame). A takedown must remove a row's SIGNATURES too, or the
    * store keeps suppressing re-ingested or similar content on the
    * strength of data the pipeline no longer holds — deletion has to
    * change future DECISIONS, not just free bytes (q170 pins this: a
    * copy of a forgotten doc is re-admitted, a copy of a remembered one
    * still drops). Both layouts derive from the same write, so
    * [[validateStore]] holds after. One store rewrite per call; at
    * scale, batch forget requests and fold them into compaction. */
  def forgetFromStore(kind: Lsh.Kind, spark: SparkSession, ids: DataFrame,
                      table: String, numBuckets: Int): Unit =
    rewriteStore(kind, spark, table, numBuckets,
      _.join(ids.select(col("id")), Seq("id"), "left_anti"))

  /** Rows of `newDf` that survive greedy dedup against the historical
    * `store` (a signature table of `kind` — typically `spark.table` over
    * a [[writeStore]] table) AND within the batch:
    *
    *  1. exact stage (MinHash only) — drop a batch row whose content
    *     hash exists in the store, or that is not the min-id holder of
    *     its hash within the batch;
    *  2. near-dup stage — drop a row that verifies against ANY store
    *     row, or against a smaller-id row of the batch (the
    *     non-cascading greedy rule of [[Corpus.prepare]]).
    *
    * `threshold` is the Jaccard (MinHash) or cosine (Hyperplane) floor
    * of the verify step; Pigeonhole verifies within its `maxHamming`.
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
                   idCol: String, src: Column, threshold: Double,
                   storeBands: Option[DataFrame] = None): DataFrame =
    Checkpoints.scoped { ck =>
      dedupPrepared(ck, kind, newDf,
        ck.proxy(kind.signatures(newDf, idCol, src)), store, idCol,
        threshold, storeBands)
    }

  /** [[dedupAgainst]] over a signature set the caller has already
    * materialized (the [[dedupSink]] share: dedup and append consume
    * ONE checkpoint of the batch's signatures); materializes into the
    * caller's scope. */
  private def dedupPrepared(ck: Checkpoints.Scope, kind: Lsh.Kind,
                            newDf: DataFrame, nsig: DataFrame,
                            store: DataFrame, idCol: String,
                            threshold: Double,
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
      Lsh.verified(kind, Lsh.crossCandidates(sBand, nBand), store, batch, threshold)
        .select(col("id_b").as(idCol))
        .unionAll(Lsh.verified(kind, Lsh.selfCandidates(nBand), batch, batch,
          threshold).select(col("id_b").as(idCol)))
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
                storeTable: String, numBuckets: Int, threshold: Double,
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
      val nsig = ck.proxy(kind.signatures(batch, idCol, src))
      val survivors = dedupPrepared(ck, kind, batch, nsig, store, idCol,
        threshold, storeBands = Some(storeBands))
      emit(survivors, batchId)
      writePrepared(kind, nsig, storeTable, numBuckets, SaveMode.Append)
    }

  // ── incremental ANN ingestion: the IVF-PQ index as a bucketed ────────
  //    store (Similarity.ivfPqTopK's corpus side made persistent — new
  //    batches encode map-only and append; probes read the store)

  /** One encoded index row per vector: (cell_id, id, codes) — routing
    * and PQ encoding fused in ONE zero-exchange projection (the q123
    * IVFADC shape; both models are driver-held codegen reference
    * objects). This is everything a probe needs: m small ints instead
    * of the vector, keyed by the cell the probe join filters on. */
  def annEncode(emb: DataFrame, idCol: String, vecCol: String,
                cs: Similarity.CentroidSet,
                model: Similarity.PqModel): DataFrame =
    Similarity.pqEncode(
        Similarity.assignCells(
          emb.select(col(idCol).as("id"), col(vecCol).as("__v")), "__v", cs),
        "__v", model)
      .select(col("cell_id"), col("id"), col("codes"))

  /** Materialize the IVF-PQ index as a catalog table bucketed on
    * `cell_id` (the [[writeStore]] discipline applied to the ANN
    * index). The probe join itself broadcasts the QUERIES, so the
    * store side never shuffles regardless; the cell_id bucket layout
    * buys the rest of the index lifecycle: appended rows of a cell
    * land in that cell's bucket files batch after batch (probe scans
    * stay cell-clustered as the index grows), per-cell maintenance
    * (re-encoding a drifted cell, splitting a fat one) bucket-prunes
    * to the cell's files (spec-asserted), and a probe set too large to
    * broadcast can swap the hint for a shuffled cell_id join that is
    * exchange-free on the store side. The models are FROZEN at write
    * time:
    * batches appended later encode against the same centroids/codebooks,
    * which is what makes append map-only — retrain + full rewrite is a
    * separate, deliberate operation (the IVF-PQ analogue of
    * [[compactStore]]'s rebuild, done when drift accumulates). */
  def writeAnnStore(emb: DataFrame, idCol: String, vecCol: String,
                    cs: Similarity.CentroidSet, model: Similarity.PqModel,
                    table: String, numBuckets: Int): Unit =
    ParquetSink.bucketed(annEncode(emb, idCol, vecCol, cs, model), table,
      Seq("cell_id"), numBuckets, mode = SaveMode.Overwrite)

  /** Append a batch to an existing [[writeAnnStore]] index: the batch is
    * routed + encoded in one zero-exchange projection, and the only
    * exchange anywhere is the bucketed write's shuffle of the BATCH's
    * own m-byte code rows into the cell buckets — per-batch cost is
    * proportional to the batch, never the store (the store is not read
    * at all). Appends preserve the bucket spec (Spark validates it), so
    * probes stay exchange-free as the index grows. */
  def appendToAnnStore(emb: DataFrame, idCol: String, vecCol: String,
                       cs: Similarity.CentroidSet, model: Similarity.PqModel,
                       table: String, numBuckets: Int): Unit =
    ParquetSink.bucketed(annEncode(emb, idCol, vecCol, cs, model), table,
      Seq("cell_id"), numBuckets, mode = SaveMode.Append)

  /** Top-k ANN probes against a [[writeAnnStore]] index — byte-for-byte
    * the [[Similarity.ivfPqTopK]] probe side, with the corpus replaced
    * by the persisted store: queries broadcast with their nProbe target
    * cells and ADC LUT, the candidate join filters the store to the
    * probed cells' code rows, and the ONE shuffle exchange in the plan
    * is the final per-query ranking window (map-side-limited by partial
    * WindowGroupLimit) — spec-asserted. Exactness contract (q130's
    * oracle): after any append sequence, the result at any nProbe
    * equals [[Similarity.ivfPqTopK]] over the union of all ingested
    * batches with the same frozen models, row for row. */
  def annStoreTopK(spark: SparkSession, table: String, queries: DataFrame,
                   idCol: String, vecCol: String,
                   cs: Similarity.CentroidSet, model: Similarity.PqModel,
                   k: Int, nProbe: Int,
                   honorDeletes: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = spark.table(table).select(col("cell_id"),
      col("id").as("neighbor_id"), col("codes"))
    // merge-on-read deletes: pending tombstones filter the store scan
    // through a BROADCAST anti-join (tombstones are id-grain and
    // bounded by the delete rate, never corpus-sized) — the plan keeps
    // its single ranking-window exchange. A store that has never seen
    // a delete has no tombstone table yet — treat that as the empty
    // set (the compactAnnStore guard), so an always-honor-deletes
    // policy works on a fresh store instead of crashing its first probe
    val store =
      if (!honorDeletes || !spark.catalog.tableExists(s"${table}_deletes")) raw
      else raw.join(
        broadcast(spark.table(s"${table}_deletes")
          .select(col("id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti")
    val probed = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
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

  // ── ANN store maintenance: delete / upsert / compaction, the ────────
  //    q91/q98 lifecycle applied to the IVF-PQ index. Deletes are
  //    MERGE-ON-READ (tombstones in `table_deletes`, O(delete batch),
  //    no store rewrite — probes anti-join the broadcast tombstone
  //    set); upserts are COPY-ON-WRITE (one bucketed rewrite touching
  //    the whole store — batch them, or fold them into a scheduled
  //    compaction, which is the rewrite you pay anyway). Compaction
  //    dedups replayed appends by id, folds pending tombstones in, and
  //    clears them. All paths preserve BOTH bucket layouts (store on
  //    cell_id, tombstones on id), so probes stay exchange-free on the
  //    store side across the full lifecycle. Maintenance is
  //    decision-INVISIBLE: a probe sees the same live set whether a
  //    tombstone is pending or compacted away, and a halt between
  //    compaction's two writes leaves tombstones that re-filter
  //    already-removed ids — a no-op (q162 pins all of this).

  /** Tombstone a set of ids: append to the `table_deletes` side table
    * (bucketed on id — the second store layout). Cost ∝ the delete
    * batch; the store itself is untouched. Contract: a tombstoned id
    * stays dead until [[compactAnnStore]] clears the tombstone —
    * re-ingesting a tombstoned id before compaction is a caller error
    * ([[validateAnnStore]] has no way to order the two events). */
  def deleteFromAnnStore(spark: SparkSession, ids: DataFrame,
                         table: String, numBuckets: Int): Unit =
    ParquetSink.bucketed(ids.select(col("id")).distinct(),
      s"${table}_deletes", Seq("id"), numBuckets,
      mode = SaveMode.Append)

  /** Copy-on-write upsert: re-route + re-encode `emb` against the
    * FROZEN models and rewrite the store with the batch's ids replaced
    * (present or not — insert and update are the same operation). One
    * store scan + one bucketed write; the anti-join keying is id-grain.
    * At scale this is the expensive maintenance verb — accumulate
    * upserts and apply them in one pass (or at compaction time), the
    * Delta/Iceberg copy-on-write discipline. */
  def upsertAnnStore(spark: SparkSession, emb: DataFrame, idCol: String,
                     vecCol: String, cs: Similarity.CentroidSet,
                     model: Similarity.PqModel, table: String,
                     numBuckets: Int): Unit =
    Checkpoints.scoped { ck =>
    val enc = annEncode(emb, idCol, vecCol, cs, model)
    // the checkpoint breaks lineage to the table being overwritten
    // (the compactStore discipline)
    val merged = ck.dataGrain(
      spark.table(table).select("cell_id", "id", "codes")
        .join(enc.select("id"), Seq("id"), "left_anti")
        .select("cell_id", "id", "codes")
        .unionByName(enc.select("cell_id", "id", "codes")))
    ParquetSink.bucketed(merged, table, Seq("cell_id"), numBuckets,
      mode = SaveMode.Overwrite)
  }

  /** Compaction: one row per id (replayed appends dedup), pending
    * tombstones folded in, tombstone table cleared. Unlike the
    * text/embedding dedup stores — whose candidate sets are
    * distinct-ed by id, making duplicate store rows decision-neutral —
    * [[annStoreTopK]]'s ranking window deliberately has NO per-id
    * dedup (it would cost a second, id-keyed exchange on the spec-
    * asserted single-shuffle probe plan), so a duplicated id occupies
    * multiple ranks and can evict the true k-th neighbor. The
    * protocol is therefore: a caller that REPLAYS an append (the
    * halt-retry path) must compact before the next probe; q162 probes
    * only at compacted states. Store
    * rewrite FIRST, then the clear: a halt between the writes leaves
    * tombstones whose ids are already gone from the store — probes
    * anti-join them to no effect, so decisions never change
    * (q162-pinned). Both writes keep their bucket layouts. */
  def compactAnnStore(spark: SparkSession, table: String,
                      numBuckets: Int): Unit =
    Checkpoints.scoped { ck =>
    val del = s"${table}_deletes"
    val hasDel = spark.catalog.tableExists(del)
    val tomb =
      if (hasDel) spark.table(del).select("id").distinct()
      else spark.emptyDataFrame.withColumn("id", lit(0L)).limit(0)
    val live = ck.dataGrain(
      spark.table(table).select("cell_id", "id", "codes")
        .dropDuplicates("id")
        .join(tomb, Seq("id"), "left_anti")
        .select("cell_id", "id", "codes"))
    ParquetSink.bucketed(live, table, Seq("cell_id"), numBuckets,
      mode = SaveMode.Overwrite)
    ck.release(live)
    if (hasDel)
      ParquetSink.bucketed(ck.proxy(spark.table(del).limit(0)), del, Seq("id"),
        numBuckets, mode = SaveMode.Overwrite)
  }

  /** Store invariants after maintenance: no duplicate ids, every code
    * row the model's m bytes wide. Two column-pruned scans. */
  def validateAnnStore(spark: SparkSession, table: String, m: Int): Boolean =
    spark.table(table).groupBy("id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).isEmpty &&
    spark.table(table).filter(size(col("codes")) =!= m).isEmpty

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
