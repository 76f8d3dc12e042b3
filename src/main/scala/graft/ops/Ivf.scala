package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor: a coarse quantizer (a small set
  * of centroid vectors) partitions the corpus into cells; queries probe
  * only their `nProbe` closest cells.
  *
  * The centroid set here is seeded deterministically (the first `nCells`
  * corpus vectors) — in production the quantizer comes from an offline
  * k-means, but the *engine* shape is identical: centroids are a tiny
  * broadcast table, cell assignment is an argmax over `nCells` fused dot
  * products (codegen), and the search is an equi-join on cell id — the
  * only data-sized shuffle. Complements the hyperplane-LSH path: IVF gives
  * controllable probe cost, LSH gives hash-only assignment.
  */
object Ivf {

  /** Assign each vector its `nProbe` best cells among the centroid list
    * (by 6-decimal-rounded cosine, ties → lower centroid id) — ONE fused
    * codegen call carrying the whole centroid matrix as a plan constant.
    *
    * This is the r9 scale fix for the quantizer's cell-count limit: the
    * previous literal-composed argmax (cellRanksRelational, kept in the
    * test tree as the parity/oracle reference) generated k × dims scalar
    * literals and stopped compiling usefully past a few hundred cells;
    * the fused form is O(1) plan size at any k, so SemDeDup's k ∝ √n and
    * multi-thousand-cell ANN configs work (see ScaleProbe ivf legs). */
  private def cellRanks(v: Column, centroids: Seq[(Int, Array[Double])], nProbe: Int): Column =
    graft.expressions.VectorExpressions.ivfCellRanks(
      v, centroids.map(_._1).toArray, centroids.map(_._2).toArray, nProbe)

  /** Cell assignment as a standalone operator: each row gets the id of
    * its best cell (or its `nProbe` best cells when nProbe > 1, as an
    * array) — the building block for cell-partitioned corpus layouts
    * and SemDeDup blocking. One narrow codegen projection; no join, no
    * shuffle. */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[(Int, Array[Double])], nProbe: Int = 1): DataFrame = {
    val ranks = cellRanks(Similarity.asDouble(col(vecCol)), centroids, nProbe)
    if (nProbe == 1) df.select(col(idCol), element_at(ranks, 1).as("cell"))
    else df.select(col(idCol), ranks.as("cells"))
  }

  // ------------------------------------------------- two-level quantizer

  /** Fine-centroid seeds for the two-level quantizer: the first `nFine`
    * corpus vectors become fine centroids, each routed to its coarse
    * cell by the SAME coarse assignment rows use. Returns a DataFrame
    * (coarse_cell, cell, centroid) — the fine table is DATA, never a
    * plan constant, which is the whole point at large k. */
  def seedFineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        coarse: Seq[(Int, Array[Double])], nFine: Int): DataFrame =
    corpus.filter(col(idCol) < nFine)
      .select(col(idCol).cast("int").as("cell"),
        Similarity.asDouble(col(vecCol)).as("centroid"))
      .withColumn("coarse_cell",
        element_at(cellRanks(col("centroid"), coarse, 1), 1))
      .select("coarse_cell", "cell", "centroid")

  /** Two-level cell assignment for cell counts past what even the fused
    * single-constant quantizer should carry (the r9 SCALE.md note: at
    * k ≈ 10⁵ × 1k dims the matrix itself is GBs of task payload).
    * Level 1: ~√k coarse centroids ride the fused plan-constant argmax.
    * Level 2: the row joins its coarse cell's fine centroids from the
    * `fine` TABLE (coarse_cell, cell, centroid) and keeps its best by
    * (rounded cosine desc, cell asc) — the same order every quantizer
    * here uses — via one partial-aggregatable max_by, not a window, so
    * the shuffle carries ~n rows, not n × fanout.
    *
    * Cost: n·(|coarse| + k/|coarse|)·dims vs the flat n·k·dims — 32×
    * less arithmetic at k=4096/64 coarse — at the price of the fine
    * join's row fan-out (k/|coarse| per row, aggregated map-side).
    * Approximation contract (standard hierarchical IVF): the nearest
    * coarse cell need not contain the globally nearest fine centroid,
    * so assignment is approximate; a fine centroid's OWN vector always
    * maps to itself (TwoLevelIvf spec pins both properties). */
  /** Every coarse cell must own at least one fine centroid: rows route
    * to exactly one coarse cell, and the fine join is INNER — an
    * uncovered cell would silently DROP every row assigned to it
    * (r9 review finding). One |coarse|-sized distinct scan of the fine
    * table, driver-tiny, before any data-sized work. */
  private def requireFineCoverage(coarse: Seq[(Int, Array[Double])],
                                  fine: DataFrame): Unit = {
    val covered = fine.select("coarse_cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val missing = coarse.map(_._1).filterNot(covered)
    require(missing.isEmpty,
      s"coarse cells ${missing.mkString(", ")} own no fine centroids — " +
        "rows routed there would silently vanish; re-seed or re-train the " +
        "fine table so every coarse cell is covered")
  }

  def assignCellsTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                          coarse: Seq[(Int, Array[Double])],
                          fine: DataFrame): DataFrame = {
    requireFineCoverage(coarse, fine)
    val v = df.select(col(idCol), Similarity.asDouble(col(vecCol)).as("__v"))
      .withColumn("coarse_cell", element_at(cellRanks(col("__v"), coarse, 1), 1))
    v.join(fine, Seq("coarse_cell"))
      .select(col(idCol),
        struct(
          Similarity.cosine(col("__v"), col("centroid")).as("score"),
          (-col("cell")).as("neg_cell"),
          col("cell").as("cell")).as("__cand"))
      .groupBy(col(idCol))
      // max of (score, -cell, cell) is lexicographic: highest score,
      // ties to the LOWEST cell id — cellRanks' exact order
      .agg(max(col("__cand")).getField("cell").as("cell"))
  }

  /** IVF search through the two-level quantizer — the full ANN path at
    * cell counts where the fine matrix must stay tabular: the corpus is
    * bucketed by its two-level fine cell; a query probes its
    * `nProbeCoarse` best coarse cells, ranks the fine centroids routed
    * to them, keeps `nProbeFine`, and scans only those buckets through
    * the cell equi-join (the only data-sized shuffle, same as [[topK]]).
    * The per-query fine ranking runs over nProbeCoarse × (k/|coarse|)
    * candidates — query-side tiny — and corpus bucketing is ONE
    * partial-aggregatable pass ([[assignCellsTwoLevel]]'s shape with the
    * vector carried through). Recall is the standard two-stage IVF
    * trade: probes bound it, IvfParitySpec measures the floor. */
  def topKTwoLevel(queries: DataFrame, corpus: DataFrame,
                   idCol: String, vecCol: String, k: Int,
                   coarse: Seq[(Int, Array[Double])], fine: DataFrame,
                   nProbeCoarse: Int = 2, nProbeFine: Int = 8): DataFrame = {
    requireFineCoverage(coarse, fine) // else corpus rows silently vanish
    val cv = corpus.select(col(idCol).as("neighbor_id"),
        Similarity.asDouble(col(vecCol)).as("cv"))
      .withColumn("coarse_cell", element_at(cellRanks(col("cv"), coarse, 1), 1))
    val corpusCells = cv.join(fine, Seq("coarse_cell"))
      .select(col("neighbor_id"), col("cv"),
        struct(
          Similarity.cosine(col("cv"), col("centroid")).as("score"),
          (-col("cell")).as("neg_cell"),
          col("cell").as("cell")).as("__cand"))
      .groupBy(col("neighbor_id"))
      .agg(max(col("__cand")).getField("cell").as("cell"),
        any_value(col("cv")).as("cv")) // cv is key-determined: any == the value

    val q = queries.select(col(idCol).as("query_id"),
        Similarity.asDouble(col(vecCol)).as("qv"))
      .withColumn("coarse_cell",
        explode(cellRanks(col("qv"), coarse, nProbeCoarse)))
    val probedFine = q.join(fine, Seq("coarse_cell"))
      .withColumn("fscore", Similarity.cosine(col("qv"), col("centroid")))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("fscore").desc, col("cell"))
    val queryCells = probedFine
      .withColumn("frank", row_number().over(wf))
      .filter(col("frank") <= nProbeFine)
      .select("query_id", "qv", "cell")

    val scored = queryCells.join(corpusCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("cv")))
    Similarity.rankTopK(scored, "cosine", k, ascending = false)
  }

  /** Deterministic quantizer seeds: the first `nCells` corpus vectors.
    * Id read via cast-to-long so any integral id width works. */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int): Seq[(Int, Array[Double])] =
    corpus.filter(col(idCol) < nCells)
      .select(col(idCol).cast("long"), Similarity.asDouble(col(vecCol)).as("v"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq

  /** Spherical k-means (Lloyd) training for the coarse quantizer:
    * assign every vector to its max-cosine centroid, recompute each
    * centroid as its cell's mean, repeat. Cosine is scale-invariant, so
    * the raw mean IS the spherical update (no explicit normalization
    * needed) and the average best-cosine objective is non-decreasing
    * per iteration (Dhillon & Modha 2001, public).
    *
    * Scale shape: each iteration is ONE distributed pass — cell argmax
    * as a fused codegen projection, then a (cell, dim) partial-agg mean
    * whose result is nCells × dims rows (driver-tiny by construction;
    * the collect here is the quantizer, not the data path). Empty cells
    * keep their previous centroid.
    *
    * Determinism: each mean is rounded to 6 decimals (the engine-wide
    * cosine precision) before it becomes the next centroid, so the
    * quantizer is stable under shuffle-fetch/merge order — the
    * distributed avg() is not bit-deterministic, but its last-ulp jitter
    * is orders of magnitude below the 1e-6 grid. (A mean sitting within
    * float-noise of a .5e-6 boundary could still flip; same-corpus runs
    * are reproducible in practice, bit-reproducibility is only
    * guaranteed for the seeded quantizer.) */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            nCells: Int, iters: Int): Seq[(Int, Array[Double])] = {
    val vecs = corpus.select(Similarity.asDouble(col(vecCol)).as("v")).persist()
    try {
      var cents = seedCentroids(corpus, idCol, vecCol, nCells)
      for (_ <- 0 until iters) {
        val means = vecs
          .withColumn("cell", element_at(cellRanks(col("v"), cents, 1), 1))
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cell", "pos").agg(round(avg("x"), 6).as("m"))
          .collect()
          .groupBy(_.getAs[Int]("cell"))
          .map { case (cell, rows) =>
            cell -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("m")).toArray
          }
        cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      }
      cents
    } finally vecs.unpersist()
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, public): cluster
    * the embedding space with the coarse quantizer, then compare pairs
    * ONLY within a cell — the cluster blocking that makes semantic dedup
    * sub-quadratic. Pass [[train]]'s output for a real quantizer; the
    * seeded default keeps the operator DuckDB-oracle-checkable (the
    * oracle reproduces the argmax assignment; k-means iterations are not
    * SQL-expressible). Cell population bounds the per-cell self-join —
    * at scale, nCells is sized so cells fit the skew budget, exactly the
    * SemDeDup paper's k≈√n regime. Returns (id_a, id_b, cosine ≥
    * threshold) on the 6-decimal-rounded cosine (the cross-engine
    * contract used by every similarity oracle here). */
  def semanticDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nCells: Int = 8,
                         trainedCentroids: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    val centroids = trainedCentroids.getOrElse(seedCentroids(corpus, idCol, vecCol, nCells))
    val v = corpus.select(col(idCol).as("id"), Similarity.asDouble(col(vecCol)).as("v"))
      .withColumn("cell", element_at(cellRanks(col("v"), centroids, 1), 1))
    v.as("a").join(v.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      // Similarity.cosine already rounds to 6 — the single site enforcing
      // the cross-engine contract; don't re-round and obscure it
      .withColumn("cosine", Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  def topK(queries: DataFrame, corpus: DataFrame,
           idCol: String, vecCol: String, k: Int,
           nCells: Int = 8, nProbe: Int = 2,
           trainedCentroids: Option[Seq[(Int, Array[Double])]] = None): DataFrame = {
    // coarse quantizer: tiny, driver-side by design (offline k-means via
    // [[train]], or the deterministic seeds the oracle reproduces)
    val centroids: Seq[(Int, Array[Double])] =
      trainedCentroids.getOrElse(seedCentroids(corpus, idCol, vecCol, nCells))

    val c = corpus.select(col(idCol).as("neighbor_id"), Similarity.asDouble(col(vecCol)).as("cv"))
      .withColumn("cell", element_at(cellRanks(col("cv"), centroids, 1), 1))
    val q = queries.select(col(idCol).as("query_id"), Similarity.asDouble(col(vecCol)).as("qv"))
      .withColumn("cell", explode(cellRanks(col("qv"), centroids, nProbe)))

    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("cv")))
    Similarity.rankTopK(scored, "cosine", k, ascending = false)
  }
}
