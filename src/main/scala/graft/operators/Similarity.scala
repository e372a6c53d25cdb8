package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query set is assumed small relative to the corpus
  * (the usual ANN shape), so queries are BROADCAST and the corpus is
  * scanned once, partition-parallel — never a corpus×corpus shuffle.
  * IVF centroids are MODEL PARAMETERS (k×dim doubles), held on the
  * driver and shipped into a native projection expression (the MLlib
  * KMeansModel pattern) — so cell assignment never shuffles the corpus.
  */
object Similarity {

  /** Exact brute-force top-k: broadcast queries × one corpus scan →
    * per-query ranking window. Spark plans the `rnk <= k` filter as a
    * WindowGroupLimit with a map-side PARTIAL phase (asserted in
    * DedupSimilaritySpec), so each input partition forwards at most k
    * rows per query into the ranking shuffle — the shuffle moves
    * O(k×|queries|×partitions), not |corpus|×|queries|. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Vectors.cosine(col("q_vec"), col("c_vec")))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 4).as("cos"))
  }

  /** [[bruteForceTopK]]'s squared-L2 twin — the ground truth IVFADC
    * re-ranking is judged against (ADC approximates squared L2, so the
    * refine contracts are stated in the same metric). Same plan shape:
    * broadcast queries, one corpus scan, partial WindowGroupLimit. */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("dist", graft.plans.exprs.sqL2(col("q_vec"), col("c_vec")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast("long").as("rnk"), col("dist"))
  }

  /** IVFADC-R exact re-rank (Jégou, Tavenard, Douze, Amsaleg,
    * "Searching in one billion vectors: re-rank with source coding",
    * ICASSP 2011 — there the refinement is coded residuals; here, with
    * the corpus on disk rather than in RAM, the full vectors): take an
    * ADC shortlist of R = k·rFactor candidates per query, fetch ONLY
    * those candidates' true vectors, and re-rank by exact squared L2.
    * The 100 TB shape: the shortlist (|Q|·R id pairs + their query
    * vectors) broadcasts to the corpus scan, so the vector fetch is a
    * broadcast hash join — the corpus never shuffles and only |Q|·R
    * exact distances are ever computed; the final per-query window
    * ranks R rows per query, map-side-limited like [[bruteForceTopK]].
    * Contracts (q133's oracle): re-ranking only REORDERS — at R = k the
    * neighbor set per query is exactly the ADC top-k's; with the full
    * corpus as shortlist the output equals [[bruteForceTopKL2]]
    * row-for-row (quantization error is fully undone); and recall@k
    * against exact ground truth is ≥ the raw ADC ranking's at the same
    * nProbe — every true neighbor the shortlist catches, exact re-rank
    * keeps (a theorem, since true top-k members beat all other
    * candidates in the exact metric). */
  def refineTopK(corpus: DataFrame, queries: DataFrame, shortlist: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val sl = broadcast(
      shortlist.select(col("query_id"), col("neighbor_id"))
        .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
          Seq("query_id")))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .join(sl, Seq("neighbor_id"))
      .withColumn("dist", graft.plans.exprs.sqL2(col("__qv"), col("__cv")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dist").asc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast("long").as("rnk"), col("dist"))
  }

  /** k-NN-DISTANCE outliers — the density-based cleaning pass embedding
    * pipelines run before dedup/clustering (Ramaswamy et al. SIGMOD
    * 2000's "distance to the k-th neighbor" score): points whose k-th
    * nearest neighbor is farthest sit in sparse regions — encoding
    * failures, off-distribution junk, adversarial inserts. Returns the
    * `topN` highest-scoring query points with deterministic ranks.
    *
    * Scale shape: [[bruteForceTopKL2]]'s broadcast-queries/one-corpus-
    * scan shape (queries are a SAMPLE — the standard audit regime; the
    * full-corpus variant routes through the IVF/PQ machinery instead);
    * the k-th-distance extraction and the final rank window run at
    * query grain. Distances round at 6 before ranking (ties → id), so
    * the outlier table hash-replays. */
  def knnOutliers(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, topN: Int): DataFrame = {
    require(k >= 1 && topN >= 1, "k and topN must be positive")
    val kth = bruteForceTopKL2(corpus, queries, idCol, vecCol, k)
      .filter(col("rnk") === k)
      .select(col("query_id").as("id"), round(col("dist"), 6).as("knn_dist"))
    kth.orderBy(col("knn_dist").desc, col("id")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.partitionBy(lit(1))
          .orderBy(col("knn_dist").desc, col("id"))).cast("long"))
  }

  /** k-NN LABEL-AGREEMENT noise detection — the deep-kNN mislabel
    * screen (Papernot & McDaniel 2018's neighborhood-conformity idea at
    * curation grain): a labeled point whose nearest neighbors
    * overwhelmingly carry a DIFFERENT label is a suspected annotation
    * error. Emits per sampled point its label, the agreeing-neighbor
    * count, the exact-ratio agreement, and a 0/1 `suspected` flag
    * (agreement < minAgree, gated as an INTEGER compare so the flag
    * cannot flip cross-engine).
    *
    * Scale shape: one broadcast-queries corpus scan for the k-NN, one
    * query-grain aggregate; the label join on the neighbor side rides
    * the same scan. */
  def labelAgreement(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, labelCol: String, k: Int,
                     minAgree: Int): DataFrame = {
    require(k >= 1 && minAgree >= 0, "k must be positive")
    val nn = bruteForceTopKL2(corpus, queries, idCol, vecCol, k)
    val nl = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("__nl"))
    val ql = broadcast(queries.select(col(idCol).as("query_id"),
      col(labelCol).cast("long").as("label")))
    nn.join(nl, Seq("neighbor_id")).join(ql, Seq("query_id"))
      .groupBy(col("query_id").as("id"), col("label"))
      .agg(sum(when(col("__nl") === col("label"), 1L).otherwise(0L))
        .as("n_agree"))
      .select(col("id"), col("label"), col("n_agree"),
        (col("n_agree").cast("double") / lit(k.toDouble)).as("agreement"),
        graft.functions.Clean.flag(col("n_agree") < minAgree).as("suspected"))
  }

  /** HARD-NEGATIVE mining for embedding/retrieval training: for each
    * query vector, the top-k most-similar vectors of a DIFFERENT class
    * that are not near-duplicates (`cos < dupThreshold` screens out
    * mislabeled copies of the query — the classic false-negative trap).
    * These boundary-hugging negatives are what contrastive training
    * pairs with each anchor (the hard-negative recipe of the public
    * DPR/SBERT literature); random negatives are too easy to carry
    * gradient.
    *
    * Same plan shape as [[bruteForceTopK]] — broadcast queries, one
    * corpus scan, per-query ranking with a map-side WindowGroupLimit —
    * with the class filter applied BEFORE ranking so excluded rows
    * never enter the window. At corpus scale the candidate step swaps
    * to [[ivfPqTopK]] + [[refineTopK]] with k·overfetch, then this same
    * filter+rank runs on the |Q|·R shortlist (the filters commute with
    * shortlist refinement as long as the shortlist overfetches the
    * filtered-out mass). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    dupThreshold: Double): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("n_label"))
      .join(q, col("neighbor_id") =!= col("query_id") &&
        col("n_label") =!= col("q_label"))
      .withColumn("cos", Vectors.cosine(col("q_vec"), col("c_vec")))
      .filter(col("cos") < dupThreshold)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("q_label"), col("neighbor_id"),
        col("n_label"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 4).as("cos"))
  }

  /** The composed IVFADC-R pipeline: [[ivfPqTopK]] shortlist of
    * k·rFactor, then [[refineTopK]] to the final k. */
  def ivfPqTopKRefined(corpus: DataFrame, queries: DataFrame,
                       centroids: DataFrame, idCol: String, vecCol: String,
                       model: PqModel, k: Int, nProbe: Int,
                       rFactor: Int): DataFrame =
    refineTopK(corpus, queries,
      ivfPqTopK(corpus, queries, centroids, idCol, vecCol, model,
        k * rFactor, nProbe),
      idCol, vecCol, k)

  /** Driver-side centroid matrix: ids + row-major k×dim doubles, sorted
    * by cell id for deterministic tie-breaks. Collecting it is the ONE
    * deliberate driver materialization in the ANN stack — k rows of
    * model parameters, the same thing a broadcast would ship — and it
    * cuts both the re-execution hazard (a referenced-twice Lloyd chain
    * re-runs per reference; a collected matrix runs once) and the
    * assignment shuffle (see [[assignCells]]). */
  final case class CentroidSet(ids: Array[Long], matrix: Array[Double], dim: Int) {
    def k: Int = ids.length
  }

  def collectCentroids(centroids: DataFrame): CentroidSet = {
    val rows = centroids.select(col("cell_id").cast("long").as("cell_id"),
      Vectors.toDouble(col("centroid")).as("centroid")).collect()
    require(rows.nonEmpty, "empty centroid set")
    // a null cell_id would silently unbox to 0L and collide with a real
    // cell 0 — fail loudly instead (same for a null centroid vector)
    rows.foreach { r =>
      require(!r.isNullAt(0), "null cell_id in centroid set")
      require(!r.isNullAt(1), s"null centroid vector for cell ${r.getLong(0)}")
    }
    val sorted = rows.sortBy(_.getLong(0))
    val dim = sorted.head.getSeq[Double](1).length
    val matrix = new Array[Double](sorted.length * dim)
    var i = 0
    sorted.foreach { r =>
      val v = r.getSeq[Double](1)
      require(v.length == dim, s"ragged centroid dims: ${v.length} vs $dim")
      v.foreach { x => matrix(i) = x; i += 1 }
    }
    CentroidSet(sorted.map(_.getLong(0)), matrix, dim)
  }

  /** Map-only nearest-cell assignment: adds `cell_id` (nearest of `cs`
    * by cosine, ties → smaller id) as a native projection — zero
    * shuffle, stays inside whole-stage codegen. */
  def assignCells(df: DataFrame, vecCol: String, cs: CentroidSet): DataFrame =
    df.withColumn("cell_id",
      element_at(graft.plans.exprs.nearestCells(col(vecCol), cs.ids, cs.matrix, 1), 1))

  /** IVF (inverted-file) ANN: assign every corpus vector to its nearest
    * centroid, search only the `nProbe` closest cells per query. Trades
    * recall for a 1/(cells/nProbe) scan reduction — the 100 TB path.
    * `centroids` is collected once up front (k×dim — see [[CentroidSet]]),
    * then: corpus assignment is a zero-shuffle projection, probing is a
    * broadcast join on cell_id, and the only exchange in the whole plan
    * is the final per-query ranking window (map-side-limited to k rows
    * per query per partition by partial WindowGroupLimit). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cs = collectCentroids(centroids)
    val assigned = assignCells(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec")),
      "neighbor_vec", cs)
    val probed = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
        .withColumn("cell_id", explode(
          graft.plans.exprs.nearestCells(col("query_vec"), cs.ids, cs.matrix,
            math.min(nProbe, cs.k)))))
    assigned.join(probed, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Vectors.cosine(col("query_vec"), col("neighbor_vec")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 4).as("cos"))
  }

  /** Cheap deterministic centroid "training": bucket vectors by id hash
    * into `cells` groups and average — a k-means− initialization good
    * enough to exercise the IVF plumbing deterministically. */
  def trainCentroidsById(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int, cells: Int): DataFrame =
    corpus.groupBy(pmod(xxhash64(col(idCol)), lit(cells)).as("cell_id"))
      .agg(Vectors.centroid(col(vecCol), dim).as("centroid"))

  /** Lloyd-iteration k-means on cosine similarity, deterministic
    * (hash-bucket init, smaller-cell-id tiebreaks). Each iteration
    * collects the current k×dim centroid matrix to the driver (model
    * parameters — materializing the chain so nothing re-executes), then
    * runs ONE job: zero-shuffle native assignment + one keyed shuffle
    * for the new means. At 100 TB that is iters × (scan + one shuffle)
    * with no nested/re-executed plans and no per-row window — the
    * earlier crossJoin+window formulation also left a 60+-Exchange plan
    * when the unpersisted chain was referenced more than once. */
  def trainCentroidsKMeans(corpus: DataFrame, idCol: String, vecCol: String,
                           dim: Int, cells: Int, iters: Int): DataFrame = {
    var centroids = trainCentroidsById(corpus, idCol, vecCol, dim, cells)
    val vecs = corpus.select(col(vecCol).as("__v"))
    for (_ <- 0 until iters) {
      val cs = collectCentroids(centroids)
      centroids = assignCells(vecs, "__v", cs)
        .groupBy("cell_id")
        .agg(Vectors.centroid(col("__v"), dim).as("centroid"))
      // empty cells simply drop out; remaining cells re-balance
    }
    centroids
  }

  /** IVF cell-balance: k-means under a SKEWED embedding distribution can
    * collapse a dense region into one fat cell, concentrating every
    * probe scan there (the IVF analogue of a hot shuffle key). Splits
    * any cell holding more than `maxCellRows` corpus vectors by
    * re-initializing it as `subCells` hash sub-buckets, then refining
    * with `refineIters` full Lloyd passes; repeats until every cell is
    * bounded or `maxRounds` is exhausted. Cell ids stay deterministic
    * (old_id × subCells + bucket). Truly identical vectors cannot be
    * separated by ANY centroid method (they tie to one nearest cell) —
    * `maxRounds` bounds the attempt instead of looping forever.
    * Per round: one assignment scan (zero shuffle) + one count shuffle
    * + (1 + refineIters) centroid aggregations; only per-cell COUNTS
    * reach the driver. */
  def splitOversizedCells(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, centroids: DataFrame, maxCellRows: Long,
                          subCells: Int = 2, refineIters: Int = 1,
                          maxRounds: Int = 4): DataFrame = {
    require(subCells >= 2, "subCells must be >= 2")
    var cents = centroids
    var round = 0
    var bounded = false
    while (!bounded && round < maxRounds) {
      val cs = collectCentroids(cents)
      val assigned = assignCells(
        corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")), "__v", cs)
      val fat = assigned.groupBy("cell_id").count()
        .filter(col("count") > maxCellRows).select("cell_id")
      if (fat.isEmpty) bounded = true
      else {
        // fat cells explode into subCells hash buckets; others keep one
        val rebucketed = assigned
          .join(broadcast(fat.withColumn("__fat", lit(1))), Seq("cell_id"), "left")
          .withColumn("cell_id",
            when(col("__fat").isNotNull, col("cell_id") * subCells +
              pmod(xxhash64(col("__id"), lit(round)), lit(subCells.toLong)))
            .otherwise(col("cell_id") * subCells))
        var next = rebucketed.groupBy("cell_id")
          .agg(Vectors.centroid(col("__v"), dim).as("centroid"))
        for (_ <- 0 until refineIters) {
          val cs2 = collectCentroids(next)
          next = assignCells(corpus.select(col(vecCol).as("__v")), "__v", cs2)
            .groupBy("cell_id")
            .agg(Vectors.centroid(col("__v"), dim).as("centroid"))
        }
        cents = next
        round += 1
      }
    }
    cents
  }

  /** IVF nProbe SWEEP in one candidate pass: recall@k and scan-cost for
    * every candidate probe depth at once, against the in-plan
    * brute-force ground truth. The tuning measurement behind
    * [[ivfAutoTune]], exposed for custom grids.
    *
    * Scale shape: ONE corpus assignment scan joined once against the
    * broadcast query×cell list exploded at the DEEPEST candidate depth,
    * with each cell's probe RANK carried (nearestCells orders by
    * cosine desc) — candidates for probe depth p are just the rows with
    * rank ≤ p, so the sweep re-windows ONE materialized candidate set
    * |grid| times instead of re-scanning the corpus per depth. Scan
    * cost comes from the per-cell size aggregate joined to the probed
    * cells (model grain), not from re-reading data. The ground truth is
    * ONE [[bruteForceTopK]] run — the sweep costs one corpus scan + one
    * brute-force pass + |grid| windows at candidate grain, vs the naive
    * |grid| full IVF runs + |grid| brute-force joins.
    *
    * Determinism: recall is a ratio of exact integer counts; scan_frac
    * is a ratio of exact integer sums; both round at 6. Output: one row
    * per probe depth — (n_probe, n_hit, n_bf, recall_at_k, scan_frac),
    * recall monotone non-decreasing in n_probe (candidate sets nest),
    * recall = 1 and scan_frac = 1 at n_probe = k_cells (full probe ≡
    * brute force — every cell scanned). */
  def ivfProbeSweep(corpus: DataFrame, queries: DataFrame,
                    centroids: DataFrame, idCol: String, vecCol: String,
                    k: Int, probes: Seq[Int]): DataFrame =
    Checkpoints.scoped { ck =>
    val cs = collectCentroids(centroids)
    val ps = probes.distinct.sorted
    require(ps.nonEmpty && ps.head >= 1, "probe grid must be >= 1")
    val maxP = math.min(ps.last, cs.k)
    val assigned = assignCells(
      corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("neighbor_vec")), "neighbor_vec", cs)
    val probed = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
        .select(col("query_id"), col("query_vec"),
          posexplode(graft.plans.exprs.nearestCells(col("query_vec"),
            cs.ids, cs.matrix, maxP)).as(Seq("probe_pos", "cell_id"))))
    // candidate grain: |queries| x (probed-cell rows). Checkpointed so
    // the |grid| windows and the hit join re-read it instead of
    // re-running the corpus scan per depth. Released before return.
    val cand = ck.proxy(assigned.join(probed, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Vectors.cosine(col("query_vec"), col("neighbor_vec")))
      .select(col("query_id"), col("neighbor_id"), col("probe_pos"), col("cos")))
    val bf = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val perP = ps.map { p =>
      cand.filter(col("probe_pos") < p)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("neighbor_id"))))
        .filter(col("rnk") <= k)
        .select(lit(p).as("n_probe"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionByName(_))
    val hits = perP.join(bf, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("n_probe").agg(count(lit(1)).as("n_hit"))
    val nBf = bf.agg(count(lit(1)).as("n_bf"))
    // scan cost: per query, rows living in its first-p cells — cell
    // sizes are a model-grain aggregate joined to the probed list
    val cellSizes = assigned.groupBy("cell_id")
      .agg(count(lit(1)).as("c_rows"))
    val qCells = probed.join(cellSizes, Seq("cell_id"), "left")
      .select(col("probe_pos"), coalesce(col("c_rows"), lit(0L)).as("c_rows"))
    val denom = queries.agg(count(lit(1)).as("n_q"))
      .crossJoin(corpus.agg(count(lit(1)).as("n_corpus")))
    val scans = ps.map(p => qCells.filter(col("probe_pos") < p)
        .agg(coalesce(sum(col("c_rows")), lit(0L)).as("scanned"))
        .select(lit(p).as("n_probe"), col("scanned")))
      .reduce(_.unionByName(_))
    val session = corpus.sparkSession
    import session.implicits._
    val grid = ps.toDF("n_probe")
      .select(col("n_probe").cast("long").as("n_probe"))
    // the |grid|-row result is EAGERLY materialized so the candidate
    // checkpoint can be released on return (a lazy plan over a
    // released checkpoint could not recompute)
    ck.proxy(grid.join(hits.select(col("n_probe").cast("long").as("n_probe"),
        col("n_hit")), Seq("n_probe"), "left")
      .join(scans.select(col("n_probe").cast("long").as("n_probe"),
        col("scanned")), Seq("n_probe"), "left")
      .crossJoin(broadcast(nBf)).crossJoin(broadcast(denom))
      .select(col("n_probe"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_bf"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_bf"), 6).as("recall_at_k"),
        round(col("scanned").cast("double") /
          (col("n_q") * col("n_corpus")), 6).as("scan_frac")))
  }

  /** Auto-tuned IVF defaults — closes the "tune iters/cells per corpus"
    * open item with a measured rule instead of folklore:
    *  - cells = ceil(√n) (the classical IVF balance point: expected
    *    cell size √n makes probe cost nProbe·√n and centroid-compare
    *    cost √n — total minimized at the root, the FAISS guidance);
    *  - nProbe = the SMALLEST depth in a power-of-two grid (plus the
    *    full depth) whose measured recall@k on the supplied probe
    *    queries reaches `targetRecall` — measured by [[ivfProbeSweep]]
    *    under the in-plan brute-force ground truth, not assumed.
    * Returns (trained centroids, swept grid with recall/scan columns,
    * chosen nProbe). The choice is a driver decision over |grid| rows —
    * model grain, the [[CentroidSet]] discipline. A target no depth
    * reaches (possible: IVF recall at full probe is 1, so only
    * targetRecall > 1 is unreachable) falls back to the full depth. */
  def ivfAutoTune(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, targetRecall: Double,
                  dim: Int, iters: Int = 2)
      : (DataFrame, DataFrame, Int) = {
    val n = corpus.count()
    require(n > 0, "empty corpus")
    val cells = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = trainCentroidsKMeans(corpus, idCol, vecCol, dim, cells, iters)
    val grid = (Iterator.iterate(1)(_ * 2).takeWhile(_ < cells).toSeq :+ cells)
      .distinct
    // already eagerly checkpointed at |grid| grain by ivfProbeSweep
    val sweep = ivfProbeSweep(corpus, queries, cents, idCol, vecCol, k, grid)
    val rows = sweep.select(col("n_probe"), col("recall_at_k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val chosen = grid.sortBy(identity).find(p =>
      rows.getOrElse(p.toLong, 0.0) >= targetRecall).getOrElse(cells)
    (cents, sweep, chosen)
  }

  /** Product-quantization model: `m` subspaces × `ksub` codewords ×
    * `subDim` dims, flattened row-major — m×ksub×subDim doubles of model
    * parameters (the [[CentroidSet]] division of labor: the codebook
    * lives on the driver / in codegen reference objects; row data never
    * does). A codeword slot that never received members is NaN-marked;
    * [[graft.plans.VectorOps.pqEncode]] skips dead slots, so encoding
    * stays total and deterministic. */
  final case class PqModel(m: Int, ksub: Int, subDim: Int,
                           codebooks: Array[Double]) {
    require(codebooks.length == m * ksub * subDim, "codebook shape mismatch")
    def dim: Int = m * subDim
  }

  private def collectCodebooks(cells: DataFrame, m: Int, ksub: Int,
                               subDim: Int, prev: Option[Array[Double]]): Array[Double] = {
    val next = prev.map(_.clone()).getOrElse(
      Array.fill(m * ksub * subDim)(Double.NaN))
    cells.select(col("j").cast("int"), col("c").cast("int"), col("centroid"))
      .collect().foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1)
        require(j >= 0 && j < m && c >= 0 && c < ksub,
          s"codebook cell ($j,$c) out of range")
        val v = r.getSeq[Double](2)
        require(v.length == subDim, s"ragged codeword dims: ${v.length} vs $subDim")
        var i = 0
        v.foreach { x => next((j * ksub + c) * subDim + i) = x; i += 1 }
      }
    next
  }

  /** Per-row subspace explosion: (j, c, subvec) for each of the m
    * subspaces, with the code taken from `codeFor(j)`. The one exchange
    * of each Lloyd pass is the groupBy over these m×ksub keys. */
  private def subspaceCells(vecs: DataFrame, m: Int, subDim: Int,
                            codeFor: Int => Column): DataFrame = {
    val subs = (0 until m).map { j =>
      struct(lit(j).as("j"), codeFor(j).as("c"),
        slice(col("__v"), j * subDim + 1, subDim).as("sv"))
    }
    vecs.select(explode(array(subs: _*)).as("s"))
      .select(col("s.j").as("j"), col("s.c").as("c"), col("s.sv").as("sv"))
  }

  /** Train a PQ codebook with per-subspace L2 Lloyd iterations — all m
    * subspaces in lock-step, so each iteration is exactly one zero-
    * shuffle encode scan + one m×ksub-group mean shuffle + one error
    * aggregate (Jégou, Douze, Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011). Init is the deterministic hash-
    * bucket assignment of [[trainCentroidsById]]. Returns the model and
    * the mean quantization error after init and after every iteration —
    * Lloyd guarantees the sequence non-increasing, and q121 asserts it.
    * At 100 TB you train on a SAMPLE (codebooks are ≪ data, like the
    * IVF centroids); encoding the full corpus stays map-only. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int, ksub: Int, iters: Int): (PqModel, Seq[Double]) =
    Checkpoints.scoped { ck =>
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val vecs = ck.shared(corpus.select(col(idCol).as("__id"),
      Vectors.toDouble(col(vecCol)).as("__v")))
    val init = subspaceCells(vecs, m, subDim,
      j => pmod(xxhash64(col("__id"), lit(j)), lit(ksub.toLong)))
      .groupBy("j", "c")
      .agg(Vectors.centroid(col("sv"), subDim).as("centroid"))
    var cb = collectCodebooks(init, m, ksub, subDim, None)
    val errs = scala.collection.mutable.ArrayBuffer[Double]()
    def meanErr(): Double = vecs.select(
      graft.plans.exprs.pqAdc(
        graft.plans.exprs.pqEncode(col("__v"), cb, m, ksub),
        graft.plans.exprs.pqLut(col("__v"), cb, m, ksub), ksub).as("e"))
      .agg(avg(col("e"))).head().getDouble(0)
    errs += meanErr()
    for (_ <- 0 until iters) {
      val codes = vecs.withColumn("__codes",
        graft.plans.exprs.pqEncode(col("__v"), cb, m, ksub))
      val updated = subspaceCells(codes, m, subDim,
        j => element_at(col("__codes"), j + 1))
        .groupBy("j", "c")
        .agg(Vectors.centroid(col("sv"), subDim).as("centroid"))
      // empty cells keep their previous codeword (standard dead-unit
      // handling; keeps the model total and the error monotone)
      cb = collectCodebooks(updated, m, ksub, subDim, Some(cb))
      errs += meanErr()
    }
    (PqModel(m, ksub, subDim, cb), errs.toSeq)
  }

  /** IVF-PQ: the coarse IVF router composed with PQ codes — the
    * standard billion-scale ANN index shape (Jégou et al. 2011's
    * IVFADC). The corpus is routed to cells AND encoded in ONE
    * zero-exchange projection (both `NearestCells` and `PqEncode` are
    * driver-held-model native expressions); queries broadcast with
    * their nProbe target cells and their ADC LUT; candidate generation
    * is the broadcast cell_id join — each query scans only its probed
    * cells' m-byte codes, the nProbe/cells × dim/subDim double
    * reduction that makes 100 TB ANN memory-feasible. Exactness
    * contract (q123's oracle): at nProbe = cells the output equals
    * [[pqTopK]] row-for-row (same candidates, same ADC, same
    * tie-break), and an exact-duplicate query is recalled at ANY
    * nProbe ≥ 1 — it routes to its original's cell by determinism of
    * the cell argmax. Routing is cosine (the IVF convention here),
    * ranking is squared-L2 ADC — document-embedding corpora are
    * L2-normalized in practice, where the two agree monotonically. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String, model: PqModel, k: Int,
                nProbe: Int): DataFrame = {
    val cs = collectCentroids(centroids)
    val assigned = pqEncode(
      assignCells(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "__cv", cs),
      "__cv", model).select(col("cell_id"), col("neighbor_id"), col("codes"))
    val probed = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .withColumn("lut", graft.plans.exprs.pqLut(
          Vectors.toDouble(col("__qv")), model.codebooks, model.m, model.ksub))
        .withColumn("cell_id", explode(graft.plans.exprs.nearestCells(
          col("__qv"), cs.ids, cs.matrix, math.min(nProbe, cs.k))))
        .select(col("cell_id"), col("query_id"), col("lut")))
    assigned.join(probed, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", graft.plans.exprs.pqAdc(col("codes"), col("lut"), model.ksub))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").asc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast("long").as("rnk"), col("adc"))
  }

  /** Map-only PQ encoding: appends `codes` (array of m codeword ids).
    * This is the 100 TB compression step — m small ints replace the
    * full vector for every downstream distance computation. */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel): DataFrame =
    df.withColumn("codes", graft.plans.exprs.pqEncode(
      Vectors.toDouble(col(vecCol)), model.codebooks, model.m, model.ksub))

  /** Eigenvalue-balanced axis order — the OPQ-parametric allocation
    * (Ge, He, Ke, Sun, "Optimized Product Quantization", CVPR 2013,
    * §4.x eigenvalue allocation): deal the principal axes (sorted by
    * descending eigenvalue) to the `m` subspaces so their eigenvalue
    * log-products stay level. PQ distortion is the SUM of per-subspace
    * distortions and rotation preserves total variance, so the win
    * comes from balance: a subspace mixing high- and low-variance axes
    * has low EFFECTIVE dimensionality and its `ksub` codewords quantize
    * it far better than an isotropic one (measured on an 8-dim/16-code
    * cell: full-rank 0.59, rank-4 0.35, rank-2 0.12 residual at equal
    * total variance). Candidates are restricted to the minimum fill
    * level first — a plain min-log-product greedy is WRONG for
    * eigenvalues < 1 (each assignment makes a bucket's log-product more
    * negative, so the emptiest bucket never wins and the allocation
    * degenerates to sorted blocks; measured: the degenerate order gave
    * gain 0.99, the level-restricted one 1.75 on a correlated corpus).
    * Deterministic: fill level, then log-product, then bucket index. */
  private[graft] def balancedAxisOrder(eigenvalues: Array[Double],
                                       m: Int): Array[Int] = {
    require(eigenvalues.length % m == 0, "dim not divisible by m")
    val subDim = eigenvalues.length / m
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer[Int]())
    val logs = Array.fill(m)(0.0)
    for (a <- eigenvalues.indices) {
      val open = (0 until m).filter(buckets(_).size < subDim)
      val lvl = open.map(buckets(_).size).min
      val j = open.filter(buckets(_).size == lvl).minBy(j => (logs(j), j))
      buckets(j) += a
      logs(j) += math.log(math.max(eigenvalues(a), 1e-300))
    }
    buckets.flatten.toArray
  }

  /** OPQ-style rotated PQ model: an orthonormal rotation (full-rank PCA
    * with balanced axis allocation) composed with a PQ codebook trained
    * in the rotated space. The rotation is model parameters like the
    * codebook (dim² doubles, driver-held, shipped into the projection
    * as literals); rotating a row is a NARROW codegen'd projection, so
    * encode stays map-only end-to-end. */
  final case class RotatedPqModel(rotation: Embeddings.PcaModel, pq: PqModel)

  /** Rotate an embedding column into the model's space: appends `pc`
    * (array of dim doubles) — zero shuffle, zero state. Corpus and
    * queries MUST both pass through this before encode/search. */
  def rotate(df: DataFrame, vecCol: String, model: RotatedPqModel): DataFrame =
    Embeddings.pcaProject(df, vecCol, model.rotation)

  /** Train an OPQ-style rotated product quantizer: full-rank [[
    * Embeddings.pcaFit]] (one distributed Gram+mean pass), the balanced
    * axis permutation above, then [[pqTrain]] on the rotated vectors.
    * Returned errors are measured in the rotated space, but the
    * rotation is orthonormal and centering cancels in the residual, so
    * they ARE the reconstruction errors in the original space —
    * directly comparable against an unrotated [[pqTrain]] on the same
    * corpus (q128 asserts rotated ≤ unrotated on correlated data; on an
    * isotropic corpus rotation is distribution-invariant and the two
    * match to training noise — measured 0.996-1.002 on the raw harness
    * embeddings, which is why q128 plants correlation first).
    * At 100 TB: fit and train on a sample (rotation and codebooks are
    * model parameters ≪ data); rotating + encoding the full corpus is
    * one zero-exchange projection. */
  def rotatedPqTrain(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, m: Int, ksub: Int, iters: Int)
      : (RotatedPqModel, Seq[Double]) = {
    val pca = Embeddings.pcaFit(corpus, vecCol, p = dim)
    val ord = balancedAxisOrder(pca.eigenvalues, m)
    val bal = Embeddings.PcaModel(ord.map(pca.components),
      ord.map(pca.eigenvalues), pca.mean)
    val rot = Embeddings.pcaProject(
        corpus.select(col(idCol), col(vecCol)), vecCol, bal)
      .select(col(idCol), col("pc"))
    val (pq, errs) = pqTrain(rot, idCol, "pc", dim, m, ksub, iters)
    (RotatedPqModel(bal, pq), errs)
  }

  /** PQ top-k by asymmetric distance: encode the corpus (map-only),
    * broadcast the queries with their per-query LUT (m×ksub partial
    * distances, computed ONCE per query), rank candidates by the
    * m-add ADC sum. The only exchange is the final per-query ranking
    * window, map-side-limited by partial WindowGroupLimit like
    * [[bruteForceTopK]] — and each candidate carries m codes instead of
    * the full vector, so the scan side reads/ships dim/subDim× less. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, model: PqModel, k: Int): DataFrame = {
    val enc = pqEncode(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      "__cv", model).drop("__cv")
    val q = broadcast(
      queries.select(col(idCol).as("query_id"),
        graft.plans.exprs.pqLut(Vectors.toDouble(col(vecCol)),
          model.codebooks, model.m, model.ksub).as("lut")))
    enc.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", graft.plans.exprs.pqAdc(col("codes"), col("lut"), model.ksub))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").asc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast("long").as("rnk"), col("adc"))
  }

  /** Greedy k-center CORESET selection (Sener & Savarese ICLR 2018,
    * "Active Learning for Convolutional Neural Networks: A Core-Set
    * Approach" — the Gonzalez 1985 farthest-first traversal): pick the
    * `k` embeddings that 2-approximate the optimal cover radius —
    * seed at the smallest id, then repeatedly take the point FARTHEST
    * from every center chosen so far. The diverse-subset-selection
    * step of corpus curation: where [[Dedup.semanticDedup]] removes
    * redundancy, this EXTRACTS the maximally-spread representatives
    * (eval-set construction, prototype picking, annotation budgets).
    *
    * Scale shape — RUNNING MIN (the standard Gonzalez bookkeeping):
    * the state is (id, v, d_min) where d_min is the rounded min sq-L2
    * to the centers selected SO FAR, checkpointed (eagerly) each
    * round. Round r is then ONE narrow projection
    * with exactly ONE codegen'd sq-L2 kernel (against the single new
    * plan-literal center) folded into `least(d_min, ·)`, feeding ONE
    * TakeOrderedAndProject (map-side limit 1 per partition → a 1-row
    * driver argmax) — O(k) kernel evals per row over the whole run and
    * a constant-depth expression tree, where the naive form (rebuild
    * the min over ALL r centers every round) is Σr = k²/2 evals with a
    * k-deep `least` tree: the exact pathology [[Tokenizer.encode]]'s
    * scaladoc diagnoses for per-merge HOF replay. Rounds run on
    * [[Checkpoints.Scope.iterate]], whose release rule keeps the
    * block-manager footprint one state generation regardless of k.
    * For k ≥ ~10³ at corpus scale,
    * the remaining cost is k sequential driver rounds; the published
    * fix is a partition-local pre-coreset (two-level Gonzalez: run
    * farthest-first per partition for k' > k local centers, then the
    * driver-side pass over the |partitions|·k' survivors — see
    * docs/SCALE.md "k-center at large k").
    *
    * The driver accumulates exactly the k selected vectors — model
    * parameters, the [[CentroidSet]] discipline — and the input is
    * persisted once so the k scans never recompute upstream lineage.
    * Determinism: per-center distances are ROUNDED (6) before the
    * min/argmax (round commutes with min — monotone, so the running
    * least over rounded per-center distances equals the naive
    * min-over-all-centers form term for term and the selection
    * trajectory is hash-identical to the pre-running-min
    * implementation), ties break on id, so the trajectory replays
    * exactly cross-engine; the kernel's index-order double
    * accumulation keeps raw distances off rounding boundaries except
    * on a measure-zero set. If `k` exceeds the number of DISTINCT
    * embeddings, the tail re-selects zero-radius duplicates
    * (cover_d = 0) rather than failing — harmless for the cover, but
    * callers wanting k distinct ids should pass k ≤ that count.
    * Output: (sel_rank, idCol, cover_d) — cover_d is the selected
    * point's min distance to the earlier centers (non-increasing for
    * rank ≥ 2 — the greedy invariant; NULL for the seed). */
  def kCenterSelect(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame =
    Checkpoints.scoped { ck =>
    require(k >= 1, "k must be >= 1")
    val spark = emb.sparkSession
    val base = ck.shared(emb.select(col(idCol).cast("long").as("id"),
      Vectors.toDouble(col(vecCol)).as("v")))
    val seedRows = base.orderBy(col("id")).limit(1).collect()
    require(seedRows.nonEmpty, "kCenterSelect: empty input embedding set")
    val seed = seedRows.head
    var centers =
      Vector((seed.getLong(0), seed.getSeq[Double](1), Option.empty[Double]))
    // (id, v, d_min) vs the centers so far; rebuilt (not re-derived)
    // each round from ONE new-center kernel — see the scaladoc. Round 0
    // supersedes the persisted input itself: no later round reads it.
    ck.iterate(base, ck.dataGrain) { (state, round) =>
      if (round > 0) {
        val cand = state
          .orderBy(col("d_min").desc, col("id")).limit(1).collect().head
        centers = centers :+
          ((cand.getLong(0), cand.getSeq[Double](1), Some(cand.getDouble(2))))
      }
      if (centers.size == k) None
      else Some(kCenterRound(state, centers.last._2, first = round == 0))
    }
    import spark.implicits._
    centers.zipWithIndex.map { case ((id, _, dOpt), i) =>
      ((i + 1).toLong, id, dOpt)
    }.toDF("sel_rank", idCol, "cover_d")
  }

  /** One k-center round's projection: fold the new center's (rounded)
    * sq-L2 distance into the running `d_min`. Package-private so the
    * spec can assert the per-round plan carries exactly ONE distance
    * kernel — the running-min contract. */
  private[graft] def kCenterRound(state: DataFrame, center: Seq[Double],
                                  first: Boolean): DataFrame = {
    val dNew = round(graft.plans.exprs.sqL2(col("v"), typedlit(center)), 6)
    state.select(col("id"), col("v"),
      (if (first) dNew else least(col("d_min"), dNew)).as("d_min"))
  }

  /** TWO-LEVEL Gonzalez — the k ≥ ~10³ / 100 TB path for
    * [[kCenterSelect]], whose k sequential driver-argmax rounds are the
    * scale bottleneck once per-round cost is flat (the running-min
    * refactor). Level 1 runs farthest-first LOCALLY inside each of
    * `parts` partitions, keeping `k·localFactor` survivors per
    * partition in ONE mapPartitions pass (no driver round-trips);
    * level 2 runs the exact running-min [[kCenterSelect]] over the
    * ≤ parts·k·localFactor survivors — a bounded set, so its k driver
    * rounds each scan model-grain data. The distributed composition of
    * Gonzalez-over-Gonzalez is a constant-factor approximation
    * (4·OPT with k local centers — Malkomes et al., NeurIPS 2015,
    * "Fast Distributed k-Center Clustering with Outliers on Massive
    * Data"; single-level Gonzalez is 2·OPT, Gonzalez 1985), and the
    * cover-radius ratio vs single-level is therefore ≤ 2 — the q181
    * oracle pins ≤ 4·r_single as the safe engine-checkable bound.
    *
    * Determinism and LAYOUT INVARIANCE: the input is repartitioned on
    * pmod(xxhash64(id), parts) — a PURE FUNCTION of the data, so each
    * local coreset's membership is identical under any incoming
    * partitioning (range partitioning would NOT give this: its bounds
    * come from reservoir samples seeded by the underlying RDD id, so
    * two plans over the same data can draw different bounds); within a
    * partition, rows sort by id, the seed is the min id, per-pick
    * distances round at 6 (matching the [[kCenterRound]] kernel's
    * index-order accumulation) and ties break on id — the whole
    * selection replays bit-identically under any repartition of the
    * input (spec-asserted).
    *
    * Output: [[kCenterSelect]]'s (sel_rank, idCol, cover_d), with
    * cover_d measured WITHIN the survivor set (an upper bound on the
    * true cover increment at each rank, since survivors are a subset
    * of the corpus). */
  def kCenterSelectTwoLevel(emb: DataFrame, idCol: String, vecCol: String,
                            k: Int, parts: Int = 8,
                            localFactor: Int = 2): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(parts >= 1 && localFactor >= 1, "parts/localFactor must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val localK = k * localFactor
    val local = emb.select(col(idCol).cast("long").as("id"),
        Vectors.toDouble(col(vecCol)).as("v"))
      .repartition(parts, pmod(xxhash64(col("id")), lit(parts.toLong)))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          def sqL2(a: Seq[Double], b: Seq[Double]): Double = {
            var s = 0.0; var i = 0
            val n = math.min(a.length, b.length)
            while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
            s
          }
          def r6(x: Double): Double =
            BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble
          val n = rows.length
          val m = math.min(localK, n)
          val dmin = Array.fill(n)(Double.PositiveInfinity)
          val picked = scala.collection.mutable.ArrayBuffer(0)
          while (picked.length < m) {
            val c = rows(picked.last)._2
            var best = -1
            var i = 0
            while (i < n) {
              val d = r6(sqL2(rows(i)._2, c))
              if (d < dmin(i)) dmin(i) = d
              // argmax on (d desc, id asc): ids are sorted, so strict >
              if (best < 0 || dmin(i) > dmin(best)) best = i
              i += 1
            }
            picked += best
          }
          picked.iterator.map(i => rows(i))
        }
      }
    kCenterSelect(local.toDF("id", "v"), "id", "v", k)
      .withColumnRenamed("id", idCol)
  }

  /** Margin-based bitext mining (the CCMatrix/LASER criterion, Artetxe
    * & Schwenk 2019): score each candidate pair not by raw cosine —
    * which hubness makes incomparable across queries — but by the
    * RATIO of the pair's cosine to the mean of both endpoints' top-k
    * neighborhoods: margin(x,y) = cos(x,y) / ((avgk_x + avgk_y)/2).
    * Emits each source row's best target by margin when it clears
    * `tau` — the mined parallel-pair table.
    *
    * Scale shape: the candidate table here is the dense src×tgt grid
    * with the SMALLER side broadcast (the fixture/eval regime — one
    * corpus scan, no shuffle to form pairs); at 100 TB candidates come
    * from the ANN shortlist machinery instead ([[bruteForceTopK]] →
    * IVF/PQ, the q143 hard-negatives path) and everything downstream
    * of `scored` is unchanged: two rank windows keyed by src/tgt (pair
    * grain, map-side WindowGroupLimit bounds each), two k-row
    * averages, one argmax window. Cosines ride the codegen'd
    * [[Vectors.cosine]] kernel.
    *
    * Determinism: cosines replay exactly (exact float arithmetic,
    * round-4 output); the top-k averages are k-term double sums under
    * the established sum-ordering + rounding convention; argmax ties
    * break by target id. Output: (src_id, tgt_id, cos, margin). */
  def bitextMarginMine(src: DataFrame, tgt: DataFrame, idCol: String,
                       vecCol: String, k: Int, tau: Double): DataFrame = {
    require(k >= 1, "k must be positive")
    val x = src.select(col(idCol).as("src_id"), col(vecCol).as("__xv"))
    val y = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("__yv"))
    val scored = x.join(broadcast(y))
      .select(col("src_id"), col("tgt_id"),
        Vectors.cosine(col("__xv"), col("__yv")).as("cos"))
    val wx = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("tgt_id"))
    val wy = Window.partitionBy(col("tgt_id"))
      .orderBy(col("cos").desc, col("src_id"))
    val ranked = scored
      .withColumn("__rx", row_number().over(wx))
      .withColumn("__ry", row_number().over(wy))
    val ax = ranked.filter(col("__rx") <= k)
      .groupBy(col("src_id")).agg(avg(col("cos")).as("__ax"))
    val ay = ranked.filter(col("__ry") <= k)
      .groupBy(col("tgt_id")).agg(avg(col("cos")).as("__ay"))
    val m = scored.join(ax, Seq("src_id")).join(ay, Seq("tgt_id"))
      .withColumn("margin",
        col("cos") / ((col("__ax") + col("__ay")) / 2))
    m.withColumn("__rm", row_number().over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("margin").desc, col("tgt_id"))))
      .filter(col("__rm") === 1 && col("margin") > tau)
      .select(col("src_id"), col("tgt_id"),
        round(col("cos"), 4).as("cos"),
        round(col("margin"), 4).as("margin"))
  }
}
