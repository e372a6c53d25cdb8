package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.sources.ParquetSink

/** Incremental cross-snapshot deduplication — the production shape of
  * corpus dedup: each ingested batch is checked against a PERSISTED
  * signature store of everything accepted before, instead of
  * re-clustering the whole corpus per snapshot (ref: the reference's
  * append-only raw history + latest-pointer discipline,
  * `airflow/dags/imdb_raw_ingest.py:70-90`, re-expressed for dedup
  * state).
  *
  * The store holds one row per historical doc: content hash (exact
  * stage), 8-byte hashed shingle ids (verify stage) and a MinHash
  * signature (LSH candidate stage). At 100 TB the incremental cost is
  * proportional to the BATCH, not the corpus: the store is only touched
  * by (a) a content-hash anti-join, (b) a banded LSH join shipping
  * (band, bucket, id), and (c) an id-keyed signature re-join for
  * verification — and each branch reads just its own column from the
  * parquet store (column pruning), never the text. Writing the store
  * bucketed by `content_hash` ([[writeStore]]) makes the exact
  * anti-join exchange-free on the store side, batch after batch.
  */
object Incremental {

  /** One signature row per doc: (id, content_hash, shh, sig).
    *  - `content_hash`: md5 of the raw text — exact-dup key.
    *  - `shh`: sorted 8-byte hashed 3-gram shingle ids — exact-Jaccard
    *    verification WITHOUT storing text (same hashing discipline as
    *    [[Dedup.minhashLshPairs]]: distinct shingles stay distinct
    *    w.h.p., so intersection counts are unchanged).
    *  - `sig`: MinHash signature, `bands × rowsPerBand` hash families —
    *    LSH candidate generation. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleLen: Int = 3, bands: Int = 32,
                 rowsPerBand: Int = 2): DataFrame =
    docs.select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"),
        array_distinct(Text.shingles(lower(col(textCol)), shingleLen)).as("sh"))
      .select(col("id"), col("content_hash"),
        graft.plans.exprs.hashTokens64(col("sh")).as("shh"),
        graft.plans.exprs.minhashSig(col("sh"), bands * rowsPerBand).as("sig"))

  /** Exploded LSH band table of a [[signatures]] store: one (band,
    * bucket, id) row per band per doc — the store-side input of the
    * candidate join, in its join-key layout. */
  def bandTable(store: DataFrame, bands: Int = 32, rowsPerBand: Int = 2): DataFrame =
    store.select(col("id"),
        posexplode(array(bandCols(col("sig"), bands, rowsPerBand): _*))
          .as(Seq("band", "bucket")))
      .select("band", "bucket", "id")

  /** Materialize a signature store as TWO catalog tables, each bucketed
    * on the key its per-batch join probes it with, so neither store
    * reference ever shuffles again (the shuffles are paid once at write
    * time — ParquetSink.bucketed contract):
    *  - `table`, bucketed on `content_hash` → the exact anti-join;
    *  - `table_bands` (exploded (band, bucket, id)), bucketed on
    *    (band, bucket) → the LSH candidate join. Without it every batch
    *    re-explodes and re-shuffles the WHOLE store's bands (~bands ×
    *    20 B per store doc per batch — the incremental scale-killer). */
  def writeStore(docs: DataFrame, idCol: String, textCol: String,
                 table: String, numBuckets: Int, shingleLen: Int = 3,
                 bands: Int = 32, rowsPerBand: Int = 2): Unit =
    writeBoth(signatures(docs, idCol, textCol, shingleLen, bands, rowsPerBand),
      table, numBuckets, bands, rowsPerBand, org.apache.spark.sql.SaveMode.Overwrite)

  /** Write the signature + band tables from one persisted signature set —
    * both writes consume `sig`, and without the barrier the second write
    * re-runs the shingle/minhash kernels over the whole input.
    *
    * The two `saveAsTable` calls are NOT atomic: a failure between them
    * (notably on the Append path) leaves `_bands` missing the batch's
    * rows, and later batches then silently lose LSH near-dup candidates
    * against those docs (exact-hash dups are still caught — the exact
    * stage reads only `table`). Recovery is cheap because `_bands` is
    * pure derived state: [[rebuildBands]] re-derives it from `table` in
    * one pass; [[validateStore]] detects the divergence. */
  private def writeBoth(sig0: DataFrame, table: String, numBuckets: Int,
                        bands: Int, rowsPerBand: Int,
                        mode: org.apache.spark.sql.SaveMode): Unit =
    Checkpoints.scoped { ck =>
      writeBothPrepared(ck.shared(sig0), table, numBuckets, bands,
        rowsPerBand, mode)
    }

  /** [[writeBoth]] for a signature set the caller has ALREADY
    * materialized (persisted or checkpointed): both writes re-read the
    * barrier instead of re-running the shingle/minhash kernels, and no
    * second persist is stacked on top of it. */
  private def writeBothPrepared(sig: DataFrame, table: String,
                                numBuckets: Int, bands: Int, rowsPerBand: Int,
                                mode: org.apache.spark.sql.SaveMode): Unit = {
    ParquetSink.bucketed(sig, table, Seq("content_hash"), numBuckets,
      mode = mode)
    ParquetSink.bucketed(bandTable(sig, bands, rowsPerBand),
      s"${table}_bands", Seq("band", "bucket"), numBuckets, mode = mode)
  }

  /** True iff `table` and `table_bands` agree: every store id appears in
    * the band table exactly `bands` times. A `false` means a partial
    * [[writeBoth]] append died between the two writes — run
    * [[rebuildBands]]. Cost: two column-pruned id scans, no text.
    * Works for BOTH store kinds (minhash and embedding — pass the
    * embedding store's band count); the embedding rebuild path is
    * [[embeddingBandTable]] through the same bucketed overwrite. */
  def validateStore(spark: SparkSession, table: String,
                    bands: Int = 32): Boolean = {
    val storeIds = spark.table(table).groupBy("id")
      .agg(count(lit(1)).as("n_sig"))
    val bandIds = spark.table(s"${table}_bands").groupBy("id")
      .agg(count(lit(1)).as("n_band"))
    storeIds.join(bandIds, Seq("id"), "full_outer")
      .filter(col("n_sig").isNull || col("n_band").isNull ||
        col("n_band") =!= col("n_sig") * bands)
      .isEmpty
  }

  /** Rebuild `table_bands` from `table` — the recovery path after a
    * partial [[writeBoth]] append ([[validateStore]] == false). Safe to
    * run any time: `_bands` is derived state, and the rebuild reads only
    * the store's (id, sig) columns. */
  def rebuildBands(spark: SparkSession, table: String, numBuckets: Int,
                   bands: Int = 32, rowsPerBand: Int = 2): Unit =
    ParquetSink.bucketed(
      bandTable(spark.table(table).dropDuplicates("id"), bands, rowsPerBand),
      s"${table}_bands", Seq("band", "bucket"), numBuckets,
      mode = org.apache.spark.sql.SaveMode.Overwrite)

  /** Rewrite the store with one row per id — compaction for rows
    * accumulated by replayed appends (a [[dedupSink]] retry re-appends
    * its batch). Duplicate rows are DECISION-neutral (identical hashes
    * and bands → identical drops; candidate pairs are distinct-ed by
    * id — spec-asserted), so compaction is a storage/scan optimization
    * to run periodically, not a correctness requirement. The eager
    * checkpoint breaks lineage to the tables being overwritten
    * (Spark refuses to overwrite a table it is still reading from). */
  def compactStore(spark: SparkSession, table: String, numBuckets: Int,
                   bands: Int = 32, rowsPerBand: Int = 2): Unit =
    Checkpoints.scoped { ck =>
      writeBoth(ck.dataGrain(spark.table(table).dropDuplicates("id")),
        table, numBuckets, bands, rowsPerBand,
        org.apache.spark.sql.SaveMode.Overwrite)
    }

  /** Append a batch's signatures to an existing [[writeStore]] store —
    * the production loop: after a batch is processed its docs join the
    * store so later batches dedup against them too. Appends preserve the
    * bucket spec (Spark validates it against the existing tables), so
    * both per-batch joins stay exchange-free as the store grows.
    *
    * Two valid policies, chosen by what you append:
    *  - append the WHOLE batch → the multi-batch pipeline equals one full
    *    greedy recompute (non-cascading: a dropped doc still suppresses
    *    later near-dups) — spec-asserted;
    *  - append only the batch's SURVIVORS → cascading greedy (a maximal
    *    independent set in batch order): smaller store, and a doc dropped
    *    as a near-dup of a dropped doc gets a second chance. */
  def appendToStore(docs: DataFrame, idCol: String, textCol: String,
                    table: String, numBuckets: Int, shingleLen: Int = 3,
                    bands: Int = 32, rowsPerBand: Int = 2): Unit =
    writeBoth(signatures(docs, idCol, textCol, shingleLen, bands, rowsPerBand),
      table, numBuckets, bands, rowsPerBand, org.apache.spark.sql.SaveMode.Append)

  /** Streaming ingest dedup: a `foreachBatch` body that dedups every
    * micro-batch against the signature store, emits the survivors, then
    * appends the batch so later micro-batches dedup against it — the
    * continuous form of the [[dedupAgainst]]/[[appendToStore]] loop.
    * Usage: `docsStream.writeStream.foreachBatch(Incremental.dedupSink(...)).start()`.
    *
    * `emit` MUST materialize the survivors (write/collect) before it
    * returns — the append below it changes the store tables the
    * survivors' lazy plan reads.
    *
    * RETRY safety: a foreachBatch replay re-sees a batch whose own
    * signatures may already be in the store (the first attempt's append
    * succeeded, then the emit's downstream ack failed). Comparing the
    * batch against its own stored rows would drop EVERY doc at the exact
    * stage and emit an empty survivor set — so the store view anti-joins
    * the batch's own ids out before dedup (ids must be globally unique
    * across the stream, the natural contract for document ids). With
    * that, a replay emits exactly the first attempt's survivors, and the
    * duplicate signature rows the re-append leaves behind are
    * decision-neutral for later batches (same hashes and bands → same
    * drops; candidate pairs are distinct-ed by id — spec-asserted).
    * [[compactStore]] reclaims the space. */
  def dedupSink(idCol: String, textCol: String, storeTable: String,
                numBuckets: Int, threshold: Double,
                emit: (DataFrame, Long) => Unit, shingleLen: Int = 3,
                bands: Int = 32, rowsPerBand: Int = 2): (DataFrame, Long) => Unit =
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
      // shingle/minhash kernels over the batch it just deduped
      val nsig = ck.proxy(signatures(batch, idCol, textCol, shingleLen,
        bands, rowsPerBand))
      val survivors = dedupAgainstSig(ck, batch, nsig, store, idCol,
        threshold, bands, rowsPerBand, storeBands = Some(storeBands))
      emit(survivors, batchId)
      writeBothPrepared(nsig, storeTable, numBuckets, bands, rowsPerBand,
        org.apache.spark.sql.SaveMode.Append)
    }

  /** LSH band-bucket values for a signature column — band b's value is a
    * hash of its signature slice, salted by b (shared with
    * [[Dedup.minhashLshPairs]]' banding). */
  private def bandCols(sig: org.apache.spark.sql.Column, bands: Int,
                       rowsPerBand: Int): Seq[org.apache.spark.sql.Column] =
    (0 until bands).map(b =>
      xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)), lit(b)))

  /** Rows of `newDocs` that survive greedy dedup against the historical
    * `store` (a [[signatures]]-schema DataFrame — typically
    * `spark.table` over a [[writeStore]] table) AND within the batch:
    *
    *  1. exact stage — drop a batch doc whose content hash exists in the
    *     store, or that is not the min-id holder of its hash within the
    *     batch;
    *  2. near-dup stage — drop an exact survivor with Jaccard ≥
    *     `threshold` against ANY store doc, or against a smaller-id
    *     exact survivor in the batch (the non-cascading greedy rule of
    *     [[Corpus.prepareManaged]]).
    *
    * Equivalent to a full greedy re-dedup of store ∪ batch restricted to
    * batch ids whenever store ids precede batch ids (exact dups share
    * shingle sets, so comparing against all store rows equals comparing
    * against store exact-survivors) — spec-asserted against the
    * full-recompute reference. Candidates come from LSH band buckets
    * (never a batch×store cross join); with the 32×2 default a true pair
    * at j = 0.6 is missed with prob 0.64³² ≈ 6e-7, so the verified
    * output matches the exact-Jaccard oracle w.h.p.
    *
    * The batch's signatures are eagerly checkpointed (4 downstream
    * consumers would otherwise re-run the signature kernels per
    * reference); the STORE is deliberately NOT — each of its three
    * references is a column-pruned scan of the materialized table, which
    * at corpus scale beats copying the store into checkpoint storage.
    *
    * @param storeBands pre-materialized [[bandTable]] of the store
    *   (typically `spark.table(s"${store}_bands")`). When absent the
    *   bands are derived from the store's `sig` column in-plan — correct,
    *   but the candidate join then shuffles the exploded store every
    *   batch; the bucketed band table makes it exchange-free. */
  def dedupAgainst(newDocs: DataFrame, store: DataFrame, idCol: String,
                   textCol: String, threshold: Double, shingleLen: Int = 3,
                   bands: Int = 32, rowsPerBand: Int = 2,
                   storeBands: Option[DataFrame] = None): DataFrame =
    Checkpoints.scoped { ck =>
      dedupAgainstSig(ck, newDocs,
        ck.proxy(signatures(newDocs, idCol, textCol, shingleLen, bands,
          rowsPerBand)),
        store, idCol, threshold, bands, rowsPerBand, storeBands)
    }

  /** [[dedupAgainst]] over a signature set the caller has already
    * materialized (the [[dedupSink]] share: dedup and append consume
    * ONE checkpoint of the batch's signatures); materializes into the
    * caller's scope. */
  private def dedupAgainstSig(ck: Checkpoints.Scope, newDocs: DataFrame,
                              nsig: DataFrame,
                              store: DataFrame, idCol: String,
                              threshold: Double, bands: Int, rowsPerBand: Int,
                              storeBands: Option[DataFrame]): DataFrame = {
    // exact stage: batch-internal min-id per hash, then store anti-join
    val exactKeep = nsig.groupBy("content_hash").agg(min(col("id")).as("id"))
      .select("id")
    val exact = ck.proxy(nsig.join(exactKeep, Seq("id"), "left_semi")
      .join(store.select("content_hash"), Seq("content_hash"), "left_anti"))

    // near-dup candidates: batch bands vs store bands + batch self-join,
    // id-only through the banded shuffles
    def banded(sigDf: DataFrame) = sigDf.select(col("id"),
      posexplode(array(bandCols(col("sig"), bands, rowsPerBand): _*))
        .as(Seq("band", "bucket")))
    val nBand = banded(exact)
    val sBand = storeBands.getOrElse(bandTable(store, bands, rowsPerBand))
    val candVsStore = nBand.select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(sBand.select(col("band"), col("bucket"), col("id").as("id_s")),
        Seq("band", "bucket"))
      .select("id_n", "id_s").distinct()
    val candInBatch = nBand.select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(nBand.select(col("band"), col("bucket"), col("id").as("id_s")),
        Seq("band", "bucket"))
      .filter(col("id_s") < col("id_n"))   // greedy: smaller id survives
      .select("id_n", "id_s").distinct()

    // exact-Jaccard verify on the hashed shingle sets, re-joined by id
    def verified(cand: DataFrame, side: DataFrame) = cand
      .join(exact.select(col("id").as("id_n"), col("shh").as("sh_n")), Seq("id_n"))
      .join(side.select(col("id").as("id_s"), col("shh").as("sh_s")), Seq("id_s"))
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_s"))).cast("double"))
      .filter(col("inter") / (size(col("sh_n")) + size(col("sh_s")) - col("inter"))
        >= threshold)
      .select(col("id_n").as("id"))
    val dropped = verified(candVsStore, store)
      .unionAll(verified(candInBatch, exact))
      .distinct()

    newDocs.join(
      exact.select(col("id").as(idCol)).join(dropped.select(col("id").as(idCol)),
        Seq(idCol), "left_anti"),
      Seq(idCol), "left_semi")
  }

  // ── incremental EMBEDDING dedup: the same store pattern over ─────────
  //    hyperplane-LSH signatures (Dedup.embeddingDupPairs supplies the
  //    signature kernel and its recall math)

  /** One embedding-signature row per vector: (id, v, sig_0..sig_w).
    * The vector itself is stored — it IS the verify stage's input
    * (exact cosine has no shingle-set analogue), and at `bands ×
    * bitsPerBand` = 64×16 the signature words add only 128 B/row on top
    * of it. Column pruning keeps the candidate join reading just
    * (band, bucket, id) from the band table; `v` is read only by the
    * id-keyed verify join. */
  def embeddingSignatures(emb: DataFrame, idCol: String, vecCol: String,
                          bands: Int = 64, bitsPerBand: Int = 16): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id") +: col("v") +:
        Dedup.hyperplaneSigCols(col("v"), bands, bitsPerBand): _*)

  /** Exploded (band, bucket, id) table of an [[embeddingSignatures]]
    * store — the store-side input of the candidate join in its join-key
    * layout (the embedding analogue of [[bandTable]]). */
  def embeddingBandTable(store: DataFrame, bands: Int = 64,
                         bitsPerBand: Int = 16): DataFrame =
    store.select(col("id"),
        posexplode(array(Dedup.hyperplaneBandCols(bands, bitsPerBand): _*))
          .as(Seq("band", "bucket")))
      .select("band", "bucket", "id")

  /** Materialize an embedding-signature store as two bucketed catalog
    * tables, mirroring [[writeStore]]:
    *  - `table` (id, v, sig words), bucketed on `id` → the exchange-free
    *    store side of the verify re-join;
    *  - `table_bands` (band, bucket, id), bucketed on (band, bucket) →
    *    the exchange-free LSH candidate join. */
  def writeEmbeddingStore(emb: DataFrame, idCol: String, vecCol: String,
                          table: String, numBuckets: Int, bands: Int = 64,
                          bitsPerBand: Int = 16): Unit =
    writeEmbeddingBoth(embeddingSignatures(emb, idCol, vecCol, bands, bitsPerBand),
      table, numBuckets, bands, bitsPerBand, org.apache.spark.sql.SaveMode.Overwrite)

  /** Non-atomicity and recovery mirror [[writeBoth]]: `_bands` is derived
    * state — rebuild it from `table` via [[embeddingBandTable]] after a
    * partial append. */
  private def writeEmbeddingBoth(sig0: DataFrame, table: String,
                                 numBuckets: Int, bands: Int, bitsPerBand: Int,
                                 mode: org.apache.spark.sql.SaveMode): Unit =
    Checkpoints.scoped { ck =>
      writeEmbeddingBothPrepared(ck.shared(sig0), table, numBuckets, bands,
        bitsPerBand, mode)
    }

  /** [[writeEmbeddingBoth]] for an already-materialized signature set
    * (the [[writeBothPrepared]] discipline). */
  private def writeEmbeddingBothPrepared(sig: DataFrame, table: String,
                                         numBuckets: Int, bands: Int,
                                         bitsPerBand: Int,
                                         mode: org.apache.spark.sql.SaveMode): Unit = {
    ParquetSink.bucketed(sig, table, Seq("id"), numBuckets, mode = mode)
    ParquetSink.bucketed(embeddingBandTable(sig, bands, bitsPerBand),
      s"${table}_bands", Seq("band", "bucket"), numBuckets, mode = mode)
  }

  /** Rebuild `table_bands` from an EMBEDDING store — the embedding
    * analogue of [[rebuildBands]] (same recovery contract: `_bands` is
    * derived state; [[validateStore]] works unchanged for this store
    * kind — pass the embedding band count). The generic [[rebuildBands]]
    * must NOT be pointed at an embedding store: it derives bands from a
    * minhash `sig` column this schema doesn't have. */
  def rebuildEmbeddingBands(spark: SparkSession, table: String,
                            numBuckets: Int, bands: Int = 64,
                            bitsPerBand: Int = 16): Unit =
    ParquetSink.bucketed(
      embeddingBandTable(spark.table(table).dropDuplicates("id"),
        bands, bitsPerBand),
      s"${table}_bands", Seq("band", "bucket"), numBuckets,
      mode = org.apache.spark.sql.SaveMode.Overwrite)

  /** Rewrite an embedding store with one row per id — the embedding
    * analogue of [[compactStore]]: replayed [[embeddingDedupSink]]
    * appends leave duplicate rows that are decision-neutral (identical
    * vectors and signature words → identical drops; candidates are
    * distinct-ed by id), so compaction is a periodic storage/scan
    * optimization, not a correctness requirement. */
  def compactEmbeddingStore(spark: SparkSession, table: String,
                            numBuckets: Int, bands: Int = 64,
                            bitsPerBand: Int = 16): Unit =
    Checkpoints.scoped { ck =>
      writeEmbeddingBoth(ck.dataGrain(spark.table(table).dropDuplicates("id")),
        table, numBuckets, bands, bitsPerBand,
        org.apache.spark.sql.SaveMode.Overwrite)
    }

  /** Streaming ingest dedup for EMBEDDINGS: the [[dedupSink]] loop over
    * the hyperplane store — dedup each micro-batch of vectors against
    * the store, emit survivors, append the batch. Same contracts:
    * `emit` must materialize before returning, ids globally unique, and
    * the self-id anti-join makes foreachBatch replays emit-identical
    * (duplicate store rows are decision-neutral — spec-asserted;
    * [[compactEmbeddingStore]] reclaims the space, [[validateStore]] /
    * [[rebuildEmbeddingBands]] recover a partial append). */
  def embeddingDedupSink(idCol: String, vecCol: String, storeTable: String,
                         numBuckets: Int, threshold: Double,
                         emit: (DataFrame, Long) => Unit, bands: Int = 64,
                         bitsPerBand: Int = 16): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => Checkpoints.scoped { ck =>
      val spark = batch.sparkSession
      val batchIds = broadcast(batch.select(col(idCol).as("id")))
      val store = spark.table(storeTable).join(batchIds, Seq("id"), "left_anti")
      val storeBands = spark.table(s"${storeTable}_bands")
        .join(batchIds, Seq("id"), "left_anti")
      // one materialized signature set per batch, shared by dedup and
      // append (the dedupSink discipline)
      val nsig = ck.proxy(
        embeddingSignatures(batch, idCol, vecCol, bands, bitsPerBand))
      val survivors = dedupEmbeddingsAgainstSig(batch, nsig, store, idCol,
        threshold, bands, bitsPerBand, storeBands = Some(storeBands))
      emit(survivors, batchId)
      writeEmbeddingBothPrepared(nsig, storeTable, numBuckets, bands,
        bitsPerBand, org.apache.spark.sql.SaveMode.Append)
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
      Seq("cell_id"), numBuckets, mode = org.apache.spark.sql.SaveMode.Overwrite)

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
      Seq("cell_id"), numBuckets, mode = org.apache.spark.sql.SaveMode.Append)

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
      mode = org.apache.spark.sql.SaveMode.Append)

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
      mode = org.apache.spark.sql.SaveMode.Overwrite)
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
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    ck.release(live)
    if (hasDel)
      ParquetSink.bucketed(ck.proxy(spark.table(del).limit(0)), del, Seq("id"),
        numBuckets, mode = org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** Store invariants after maintenance: no duplicate ids, every code
    * row the model's m bytes wide. Two column-pruned scans. */
  def validateAnnStore(spark: SparkSession, table: String, m: Int): Boolean =
    spark.table(table).groupBy("id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).isEmpty &&
    spark.table(table).filter(size(col("codes")) =!= m).isEmpty

  /** Rows of `newEmb` that survive greedy cosine dedup against the
    * historical `store` (an [[embeddingSignatures]]-schema DataFrame)
    * AND within the batch: drop a batch vector with cosine ≥ `threshold`
    * against ANY store vector, or against a smaller-id batch vector
    * (non-cascading greedy — the [[dedupAgainst]] rule without the exact
    * stage, which has no meaning for float vectors: an exact copy is a
    * cosine-1.0 near-dup and the LSH finds it in every band).
    *
    * Candidates come from hyperplane band buckets, id-only through the
    * shuffle; vectors re-join by id for the exact-cosine verify. With
    * `storeBands` (the bucketed `_bands` table) the candidate join is
    * exchange-free on the store side; per-batch cost is proportional to
    * the BATCH, and the store never ships vectors except for verified
    * candidates' rows. Recall: a true pair at cosine c is missed with
    * prob (1 − (1−acos(c)/π)^bitsPerBand)^bands ≈ 3e-6 at c = 0.95 with
    * the 64×16 defaults (math in [[Dedup.embeddingDupPairs]]). */
  def dedupEmbeddingsAgainst(newEmb: DataFrame, store: DataFrame,
                             idCol: String, vecCol: String, threshold: Double,
                             bands: Int = 64, bitsPerBand: Int = 16,
                             storeBands: Option[DataFrame] = None): DataFrame =
    Checkpoints.scoped { ck =>
      dedupEmbeddingsAgainstSig(newEmb,
        ck.proxy(embeddingSignatures(newEmb, idCol, vecCol, bands, bitsPerBand)),
        store, idCol, threshold, bands, bitsPerBand, storeBands)
    }

  /** [[dedupEmbeddingsAgainst]] over an already-materialized signature
    * set (the [[embeddingDedupSink]] share). */
  private def dedupEmbeddingsAgainstSig(newEmb: DataFrame, nsig: DataFrame,
                                        store: DataFrame, idCol: String,
                                        threshold: Double, bands: Int,
                                        bitsPerBand: Int,
                                        storeBands: Option[DataFrame]): DataFrame = {
    val bandCols = Dedup.hyperplaneBandCols(bands, bitsPerBand)
    val nBand = nsig.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    val sBand = storeBands.getOrElse(embeddingBandTable(store, bands, bitsPerBand))
    val candVsStore = nBand.select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(sBand.select(col("band"), col("bucket"), col("id").as("id_s")),
        Seq("band", "bucket"))
      .select("id_n", "id_s").distinct()
    val candInBatch = nBand.select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(nBand.select(col("band"), col("bucket"), col("id").as("id_s")),
        Seq("band", "bucket"))
      .filter(col("id_s") < col("id_n"))   // greedy: smaller id survives
      .select("id_n", "id_s").distinct()

    def verified(cand: DataFrame, side: DataFrame) = cand
      .join(nsig.select(col("id").as("id_n"), col("v").as("v_n")), Seq("id_n"))
      .join(side.select(col("id").as("id_s"), col("v").as("v_s")), Seq("id_s"))
      .filter(graft.functions.Vectors.cosine(col("v_n"), col("v_s")) >= threshold)
      .select(col("id_n").as("id"))
    val dropped = verified(candVsStore, store)
      .unionAll(verified(candInBatch, nsig))
      .distinct()

    newEmb.join(
      nsig.select(col("id").as(idCol)).join(dropped.select(col("id").as(idCol)),
        Seq(idCol), "left_anti"),
      Seq(idCol), "left_semi")
  }

  // ── incremental PERCEPTUAL-HASH store: cross-snapshot near-dup ──────
  //    dedup for 64-bit perceptual signatures (image dHash, audio
  //    energy fingerprints, video frame hashes — Multimodal.*), the
  //    [[writeStore]] discipline applied to the Manku banded layout.
  //    Per-batch cost ∝ batch: the candidate join probes a `_bands`
  //    table bucketed on (band, bval) — zero store-side exchange — and
  //    the popcount verify re-joins the id-bucketed store, reading two
  //    8-byte columns, never media bytes.

  /** Exploded pigeonhole band table of a (id, sh) hash store — the
    * store-side input of the candidate join in its join-key layout.
    * Bands derive from [[Dedup.hammingBandCols]], byte-identical to
    * [[Dedup.hammingDupPairs]]' — a divergent split silently loses the
    * exact-recall guarantee. */
  def hashBandTable(store: DataFrame, maxHamming: Int): DataFrame =
    store.select(col("id"),
        posexplode(array(Dedup.hammingBandCols(maxHamming): _*))
          .as(Seq("band", "bval")))
      .select("band", "bval", "id")

  /** Materialize a perceptual-hash store as two bucketed catalog
    * tables, mirroring [[writeEmbeddingStore]]: `table` (id, sh)
    * bucketed on id (the verify re-join side), `table_bands`
    * (band, bval, id) bucketed on (band, bval) (the candidate join
    * side). */
  def writeHashStore(df: DataFrame, idCol: String, hashCol: Column,
                     table: String, numBuckets: Int,
                     maxHamming: Int = 3): Unit =
    writeHashBoth(df.select(col(idCol).as("id"), hashCol.as("sh")),
      table, numBuckets, maxHamming, org.apache.spark.sql.SaveMode.Overwrite)

  /** Append a batch's signatures — same whole-batch-vs-survivors and
    * partial-append recovery trade-offs as [[appendToStore]] (rebuild
    * `_bands` from `table` via [[hashBandTable]] after a halt). */
  def appendToHashStore(df: DataFrame, idCol: String, hashCol: Column,
                        table: String, numBuckets: Int,
                        maxHamming: Int = 3): Unit =
    writeHashBoth(df.select(col(idCol).as("id"), hashCol.as("sh")),
      table, numBuckets, maxHamming, org.apache.spark.sql.SaveMode.Append)

  private def writeHashBoth(sig0: DataFrame, table: String, numBuckets: Int,
                            maxHamming: Int,
                            mode: org.apache.spark.sql.SaveMode): Unit =
    Checkpoints.scoped { ck =>
      val sig = ck.shared(sig0)
      ParquetSink.bucketed(sig, table, Seq("id"), numBuckets, mode = mode)
      ParquetSink.bucketed(hashBandTable(sig, maxHamming),
        s"${table}_bands", Seq("band", "bval"), numBuckets, mode = mode)
    }

  // ── right-to-be-forgotten: id-level deletion across the signature ──
  //    stores. A takedown/consent-revocation must remove a document's
  //    SIGNATURES too, or the store keeps suppressing re-ingested or
  //    similar content on the strength of data the pipeline no longer
  //    holds — deletion has to change future DECISIONS, not just free
  //    bytes (q170 pins exactly that: a copy of a forgotten doc is
  //    re-admitted, a copy of a remembered one still drops). Each
  //    forget rewrites the store minus the ids and re-derives the
  //    `_bands` table from the SAME write (both layouts preserved,
  //    never divergent — validateStore holds after). One bounded
  //    rewrite per store; at scale, batch forget requests and fold
  //    them into scheduled compaction, like ANN upserts.

  // one shared forget path: scan minus ids, checkpoint-truncated,
  // handed to the store kind's both-layouts rewriter — a future fix to
  // the forget semantics (e.g. extra filtering) lands once instead of
  // drifting across three copies
  private def forgetImpl(spark: SparkSession, ids: DataFrame,
                         table: String,
                         rewrite: DataFrame => Unit): Unit =
    Checkpoints.scoped { ck =>
      rewrite(ck.proxy(spark.table(table)
        .join(ids.select(col("id")), Seq("id"), "left_anti")))
    }

  /** Forget `ids` (an (id) DataFrame) from a [[writeStore]] TEXT
    * signature store. */
  def forgetFromStore(spark: SparkSession, ids: DataFrame, table: String,
                      numBuckets: Int, bands: Int = 32,
                      rowsPerBand: Int = 2): Unit =
    forgetImpl(spark, ids, table, remaining =>
      writeBoth(remaining, table, numBuckets, bands, rowsPerBand,
        org.apache.spark.sql.SaveMode.Overwrite))

  /** Forget `ids` from a [[writeEmbeddingStore]] store. */
  def forgetFromEmbeddingStore(spark: SparkSession, ids: DataFrame,
                               table: String, numBuckets: Int,
                               bands: Int = 64, bitsPerBand: Int = 16): Unit =
    forgetImpl(spark, ids, table, remaining =>
      writeEmbeddingBoth(remaining, table, numBuckets, bands, bitsPerBand,
        org.apache.spark.sql.SaveMode.Overwrite))

  /** Forget `ids` from a [[writeHashStore]] perceptual store. */
  def forgetFromHashStore(spark: SparkSession, ids: DataFrame, table: String,
                          numBuckets: Int, maxHamming: Int = 3): Unit =
    forgetImpl(spark, ids, table, remaining =>
      writeHashBoth(remaining, table, numBuckets, maxHamming,
        org.apache.spark.sql.SaveMode.Overwrite))

  /** Rows of `newDf` that survive greedy Hamming dedup against the
    * historical `store` ((id, sh) schema) AND within the batch: drop a
    * batch row within `maxHamming` bits of ANY store signature, or of
    * a smaller-id batch row (the [[dedupEmbeddingsAgainst]] greedy
    * rule on the pigeonhole candidate machinery — recall is EXACT, not
    * probabilistic). With `storeBands` (the bucketed `_bands` table)
    * the candidate join is exchange-free on the store side; per-batch
    * cost ∝ batch. */
  def dedupHashesAgainst(newDf: DataFrame, store: DataFrame, idCol: String,
                         hashCol: Column, maxHamming: Int = 3,
                         storeBands: Option[DataFrame] = None): DataFrame =
    dedupHashesAgainstManaged(newDf, store, idCol, hashCol, maxHamming,
      storeBands).df

  /** [[dedupHashesAgainst]] with the checkpoint-lifecycle handle. The
    * operator's ONE owned block set is the internal batch-signature
    * checkpoint backing the returned plan; `release()` frees exactly
    * it. Do NOT instead direct [[Checkpoints.release]] at the returned
    * plan wholesale — release walks every LogicalRDD leaf, so if the
    * caller's `store` or `newDf` is itself locally checkpointed their
    * blocks would be freed too, and a local checkpoint's truncated
    * lineage can never recompute (any later use of those caller-owned
    * datasets fails). The unmanaged variant leaves the batch-grain
    * id+hash blocks to ride until the ContextCleaner sweep — fine for
    * one-shot jobs; streaming/looping ingesters should use this. */
  def dedupHashesAgainstManaged(newDf: DataFrame, store: DataFrame,
                                idCol: String, hashCol: Column,
                                maxHamming: Int = 3,
                                storeBands: Option[DataFrame] = None)
      : ManagedFrame = Checkpoints.managed { ck =>
    val nsig = ck.proxy(newDf.select(col(idCol).as("id"), hashCol.as("sh")))
    val nBand = nsig.select(col("id"),
      posexplode(array(Dedup.hammingBandCols(maxHamming): _*))
        .as(Seq("band", "bval")))
    val sBand = storeBands.getOrElse(hashBandTable(store, maxHamming))
    val candVsStore = nBand
      .select(col("band"), col("bval"), col("id").as("id_n"))
      .join(sBand.select(col("band"), col("bval"), col("id").as("id_s")),
        Seq("band", "bval"))
      .select("id_n", "id_s").distinct()
    val candInBatch = nBand
      .select(col("band"), col("bval"), col("id").as("id_n"))
      .join(nBand.select(col("band"), col("bval"), col("id").as("id_s")),
        Seq("band", "bval"))
      .filter(col("id_s") < col("id_n")) // greedy: smaller id survives
      .select("id_n", "id_s").distinct()
    def dropped(cand: DataFrame, side: DataFrame) = cand
      .join(nsig.select(col("id").as("id_n"), col("sh").as("sh_n")),
        Seq("id_n"))
      .join(side.select(col("id").as("id_s"), col("sh").as("sh_s")),
        Seq("id_s"))
      .filter(bit_count(col("sh_n").bitwiseXOR(col("sh_s"))) <= maxHamming)
      .select(col("id_n").as("id"))
    val drop = dropped(candVsStore, store)
      .unionAll(dropped(candInBatch, nsig))
      .distinct()
    val keep = nsig.select(col("id").as(idCol))
      .join(drop.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    newDf.join(keep, Seq(idCol), "left_semi")
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
    * store anti-join ([[dedupHashesAgainst]]'s discipline) and carry
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
