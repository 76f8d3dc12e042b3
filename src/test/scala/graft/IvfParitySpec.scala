package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Ivf, Similarity}

/** The fused IvfCellRanks expression (centroid matrix as ONE plan
  * constant) must be BIT-IDENTICAL to the relational assignment it
  * replaced — an array_sort over per-cell cosine structs, which the
  * DuckDB oracles also mirror in SQL. Parity is checked on the fixture
  * embeddings and on the edges where the two code paths could diverge:
  * exact score ties (duplicate vectors), NaN scores (zero vectors),
  * dimension mismatches (common-prefix accumulation), and nProbe > k.
  * The fused path must additionally work at cell counts where the
  * relational form's k×dims expression tree was the documented limit. */
class IvfParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ranksOf(df: DataFrame, vecCol: String,
                      centroids: Seq[(Int, Array[Double])], nProbe: Int,
                      fused: Boolean): Map[Long, Seq[Int]] = {
    val v = Similarity.asDouble(col(vecCol))
    val ranks =
      if (fused) graft.expressions.VectorExpressions.ivfCellRanks(
        v, centroids.map(_._1).toArray, centroids.map(_._2).toArray, nProbe)
      else ParityReferences.cellRanksRelational(v, centroids, nProbe)
    df.select(col("vec_id"), ranks.as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
  }

  private def assertParity(df: DataFrame, centroids: Seq[(Int, Array[Double])],
                           nProbe: Int): Unit = {
    val f = ranksOf(df, "embedding", centroids, nProbe, fused = true)
    val r = ranksOf(df, "embedding", centroids, nProbe, fused = false)
    assert(f.keySet == r.keySet)
    f.foreach { case (id, cells) =>
      assert(cells == r(id), s"cell ranks mismatch for vec $id at nProbe=$nProbe")
    }
  }

  test("fused == relational on the fixture embeddings (gate + larger configs)") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    for (nCells <- Seq(8, 64); nProbe <- Seq(1, 2, 4)) {
      assertParity(e, Ivf.seedCentroids(e, "vec_id", "embedding", nCells), nProbe)
    }
  }

  test("fused == relational on edge vectors: ties, zero vectors, dim mismatch, nProbe > k") {
    import spark.implicits._
    val edge = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f)), // zero vector → NaN cosine vs every cell
      (2L, Array(1.0f, 0.0f, 0.0f)), // duplicate of 0 → exact score ties
      (3L, Array(0.70711f, 0.70711f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 1.0f)), // shorter than the centroids: common-prefix law
      (6L, Array(0.0f, 0.0f, 1.0f, 9.0f))) // longer than the centroids
      .toDF("vec_id", "embedding")
    val cents = Ivf.seedCentroids(edge, "vec_id", "embedding", 4)
    for (nProbe <- Seq(1, 2, 4, 9)) assertParity(edge, cents, nProbe)
  }

  test("two-level assignment: self-routing, coarse consistency, flat agreement") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Ivf.seedCentroids(e, "vec_id", "embedding", 8)
    val fine = Ivf.seedFineCentroids(e, "vec_id", "embedding", coarse, 64)
    val fineRouting = fine.collect()
      .map(r => r.getInt(1) -> r.getInt(0)).toMap // cell -> coarse_cell
    assert(fineRouting.size == 64)
    val assigned = Ivf.assignCellsTwoLevel(e, "vec_id", "embedding", coarse, fine)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.size == 500)
    // a fine centroid's own vector maps to itself: its coarse routing is
    // BY CONSTRUCTION the same as the centroid's, and cosine(v,v)=1 wins
    (0L until 64L).foreach(id =>
      assert(assigned(id) == id.toInt, s"fine centroid $id must self-assign"))
    // every assignment respects the coarse routing (the approximation
    // contract: only the row's own coarse cell's fine centroids compete)
    val coarseOf = ranksOf(e, "embedding", coarse, 1, fused = true)
    assigned.foreach { case (id, cell) =>
      assert(fineRouting(cell) == coarseOf(id).head,
        s"vec $id assigned to a fine cell outside its coarse cell")
    }
    // agreement with the flat 64-cell quantizer wherever flat's winner
    // lives in the row's coarse cell (two-level == flat restricted)
    val flat = ranksOf(e, "embedding", Ivf.seedCentroids(e, "vec_id", "embedding", 64),
      1, fused = true)
    val comparable = assigned.keys.filter(id => fineRouting(flat(id).head) == coarseOf(id).head)
    assert(comparable.nonEmpty)
    comparable.foreach(id =>
      assert(assigned(id) == flat(id).head,
        s"vec $id: two-level must equal flat when flat's winner is coarse-local"))
  }

  test("two-level assignment fails fast when a coarse cell owns no fine centroids") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Ivf.seedCentroids(e, "vec_id", "embedding", 8)
    val fine = Ivf.seedFineCentroids(e, "vec_id", "embedding", coarse, 64)
    val someCell = fine.select("coarse_cell").head().getInt(0)
    val holey = fine.filter(col("coarse_cell") =!= someCell)
    val ex = intercept[IllegalArgumentException] {
      Ivf.assignCellsTwoLevel(e, "vec_id", "embedding", coarse, holey)
    }
    assert(ex.getMessage.contains("no fine centroids"))
    val ex2 = intercept[IllegalArgumentException] {
      Ivf.topKTwoLevel(e.limit(2), e, "vec_id", "embedding", 3, coarse, holey)
    }
    assert(ex2.getMessage.contains("no fine centroids"))
  }

  test("two-level topK: valid ranking, probed-cells-only candidates, recall floor vs brute force") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val coarse = Ivf.seedCentroids(e, "vec_id", "embedding", 8)
    val fine = Ivf.seedFineCentroids(e, "vec_id", "embedding", coarse, 64)
    val queries = e.filter(col("vec_id") < 20)
    val got = Ivf.topKTwoLevel(queries, e, "vec_id", "embedding", k = 5,
      coarse, fine, nProbeCoarse = 4, nProbeFine = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQuery = got.groupBy(_._1)
    assert(byQuery.size == 20)
    byQuery.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"ranks must be contiguous for $q")
      assert(sorted.length <= 5)
      val cosines = sorted.map(_._4)
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        s"cosine must be non-increasing for $q")
      assert(rows.forall(_._3 != q), "self-matches excluded")
    }
    // recall floor vs the exact answer: the probed-cell scan must find
    // the true top-1 neighbor for most queries at these probe settings
    // (empirically 100% on this fixture; assert a safe floor)
    val brute = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hit = brute.count { case (q, n) =>
      byQuery.get(q).exists(_.exists(_._3 == n))
    }
    assert(hit >= 14, s"two-level recall@top1 too low: $hit/20")
  }

  test("fused path works past the relational form's cell-count limit") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // every corpus vector as a centroid — k=500 cells, which the literal-
    // composed form could not codegen usefully; each vector must pick
    // itself (cosine 1.0 beats any distinct hash-random 64-dim vector,
    // and ties — exact duplicates — break to the LOWEST centroid id, so
    // allow ranks where the cell id is a duplicate's lower id)
    val k = 500
    val cents = Ivf.seedCentroids(e, "vec_id", "embedding", k)
    val f = ranksOf(e, "embedding", cents, nProbe = 1, fused = true)
    assert(f.size == 500)
    f.foreach { case (id, cells) =>
      assert(cells.length == 1)
      assert(cells.head <= id, s"vec $id must land in its own (or a duplicate's) cell")
    }
    assert(f.count { case (id, cells) => cells.head == id } >= 490)
  }
}
