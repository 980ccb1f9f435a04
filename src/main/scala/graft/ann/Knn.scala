package graft.ann

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus, so the corpus scans once with no shuffle; the only
  * shuffle is the per-query top-k window on Q·N candidate rows.
  *
  * Scale path: sign-bit LSH bucketing (`VectorFns.signBucket`) routes each
  * query to one bucket, cutting candidates by ~2^nBits; same top-k logic
  * after an equi-join on the bucket id. An IVF variant would swap the
  * bucket fn for nearest-centroid assignment — the plumbing is identical.
  */
object Knn {

  /** The N·Q pair-stage cosine with the norms FACTORED per side: each
    * side's norm (`__qn`/`__cn`) is computed once per ROW before the
    * join, so every candidate pair pays ONE dot instead of the fused
    * dot+both-norms — a 3× FLOP cut on the stage that dominates serving
    * at corpus scale. Bit-equal to `cosine(__qvec, __cvec)` by the
    * [[graft.functions.DotProduct]] contract (VectorFnsSpec pins it),
    * so every oracle hash is unchanged. */
  private def pairCosine: Column =
    round(VectorFns.cosineFactored(
      VectorFns.dotN(col("__qvec"), col("__cvec")),
      col("__qn"), col("__cn")), 6)

  private def withQn(df: DataFrame): DataFrame =
    df.withColumn("__qn", VectorFns.normN(col("__qvec")))

  private def withCn(df: DataFrame): DataFrame =
    df.withColumn("__cn", VectorFns.normN(col("__cvec")))

  /** Top-k cosine neighbors for each query row. Both frames must have
    * (idCol, vecCol); query ids are excluded from their own results.
    * Cross-join caveat: this baseline plans as a BroadcastNestedLoopJoin
    * (no codegen), where the FUSED cosine wins: the factored form's
    * extra per-pair interpreted expressions measured SLOWER at 512-dim
    * (SCALING.md's pair-stage BNLJ arm), so the baseline keeps the single fused
    * kernel and the factored pairCosine stays on the codegen'd equi-join
    * family below — the serving path at scale. Bit-equal either way
    * (the DotProduct contract). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qvec"))
    val cand = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        round(VectorFns.cosine(col("__qvec"), col("__cvec")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  /** Trained-centroid IVF search: corpus rows carry their (row-local)
    * nearest-centroid cell, queries probe their `probes` nearest cells,
    * and candidates come from the equi-join on the cell id — the query
    * side (queries × probes rows) broadcasts, so the corpus never
    * shuffles; the per-query top-k window is the single exchange.
    * Recall rises with `probes` (probes = k ⇒ exact). */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], k: Int, probes: Int): DataFrame = {
    val q = withQn(queries
        .select(col(idCol).as("query_id"), col(vecCol).as("__qvec")))
      .withColumn("__cell", explode(KMeans.probeCells(col("__qvec"), cents, probes)))
    val c = withCn(corpus
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec")))
      .withColumn("__cell", KMeans.nearestCentroid(col("__cvec"), cents))
    val cand = c.join(broadcast(q), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", pairCosine)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  /** Tree-quantizer IVF search — [[ivfTopK]] with [[KMeans.fitTree]]'s
    * two-level cells, for the k ∝ N regime where a flat centroid table
    * would make ASSIGNMENT the bottleneck: corpus rows pay k1 +
    * k2 cosines (branch, then that branch's leaves), queries pay k1 +
    * branchProbes·k2 to route to their `probes` cells. Candidates come
    * from the equi-join on the global cell id; the query side broadcasts,
    * the corpus never shuffles, the per-query top-k window is the single
    * exchange — identical plumbing to the flat index. */
  def ivfTopKTree(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      tq: KMeans.TreeQuantizer, k: Int, probes: Int,
      branchProbes: Int = 2): DataFrame = {
    val q = withQn(queries
        .select(col(idCol).as("query_id"), col(vecCol).as("__qvec")))
      .withColumn("__cell",
        explode(KMeans.probeCellsTree(col("__qvec"), tq, probes, branchProbes)))
    val c = withCn(corpus
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec")))
      .withColumn("__b", KMeans.nearestCentroid(col("__cvec"), tq.branches))
      .withColumn("__cell",
        col("__b") * tq.k2 + KMeans.leafInBranch(col("__cvec"), col("__b"), tq))
      .drop("__b")
    val cand = c.join(broadcast(q), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", pairCosine)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  /** recall@k of an approximate result against the exact baseline: the
    * fraction of true (query, neighbor) pairs the approximate search
    * found. Both frames carry (query_id, neighbor_id) — the shapes
    * [[bruteForceTopK]]/[[ivfTopK]]/[[lshTopK]] emit. The measured-eval
    * discipline of the reference's ML half
    * (`classifier_code/train_flow_classifier_weighted.py:171-185` reports
    * accuracy/F1 on a held-out split at train time) applied to similarity
    * search: an index whose recall nobody measured is not a search
    * structure, it's a rumor. KMeansSpec gates trained IVF at its shipped
    * nprobe on this; SCALING.md records the recall-vs-nprobe tradeoff. */
  def recall(exact: DataFrame, approx: DataFrame): Double = {
    val truth = exact.select("query_id", "neighbor_id")
    val n = truth.count()
    require(n > 0, "empty ground truth")
    val hits = truth.join(approx.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "leftsemi").count()
    hits.toDouble / n
  }

  /** LSH-bucketed variant: candidates restricted to the query's sign
    * bucket. Recall < 1 by construction; nBits trades recall for fanout. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nBits: Int): DataFrame = {
    val q = withQn(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qvec")))
      .withColumn("__bkt", VectorFns.signBucket(col("__qvec"), nBits))
    val c = withCn(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cvec")))
      .withColumn("__bkt", VectorFns.signBucket(col("__cvec"), nBits))
    val cand = c.join(broadcast(q), Seq("__bkt"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", pairCosine)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "neighbor_id", "cosine")
  }

  /** Maximal marginal relevance re-rank — the parameterized operator a
    * RAG pipeline calls between "top-n by similarity" and "what fits a
    * context window": greedily pick argmax λ·rel − (1−λ)·max_sim_to_
    * selected, k times, over a relevance-ranked `shortlist` of
    * (vec_id, embedding, rel) rows.
    *
    * Execution shape (the q179 contract, generalized): the greedy loop
    * is inherently sequential, but its DEPTH is k and its WIDTH the
    * shortlist, so it runs as a DRIVER LOOP of k bounded steps — each
    * step broadcasts the ≤(step−1) already-selected rows against the
    * pinned shortlist (1-row BroadcastNestedLoopJoins, never a shuffle)
    * and takes one bounded top-1. Corpus-sized work belongs in the
    * shortlist builder (a bounded top-n, e.g. AnnQueries.mmrShortlist),
    * never here. Scores compare at 6dp (per-pair cosines rounded before
    * the max, the combined score rounded after) with vec_id ties, so
    * selection is engine-deterministic; (1−λ) is computed ONCE here and
    * must be interpolated verbatim into any replaying oracle (1.0−0.7
    * is not the double literal 0.3).
    *
    * @return one row per selection: (step, vec_id, rel, score). */
  def mmr(shortlist: DataFrame, k: Int, lambda: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      relCol: String = "rel"): DataFrame = {
    require(k >= 1, s"mmr needs k >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val short = shortlist
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        col(relCol).as("rel"))
      .localCheckpoint(false) // bounded rows, read by every unrolled step
    var picks = Vector.empty[DataFrame]
    for (_ <- 1 to k) {
      val pick = mmrStep(short, picks, lambda)
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .localCheckpoint(false) // the selected row re-enters later steps
      picks :+= pick
    }
    picks.zipWithIndex.map { case (p, i) =>
      p.select(lit(i + 1).as("step"), col("vec_id"), col("rel"), col("score"))
    }.reduce(_.unionByName(_))
  }

  /** One MMR selection step's scored candidate frame: `short` minus the
    * already-`selected` rows, scored λ·rel − (1−λ)·max over selected of
    * the (6dp-rounded) cosine. Each selected row joins as its own 1-row
    * broadcast (a BroadcastNestedLoopJoin over the bounded shortlist —
    * the plan PlanBudgetSpec asserts on, pre-checkpoint). */
  private[graft] def mmrStep(short: DataFrame, selected: Seq[DataFrame],
      lambda: Double): DataFrame = {
    if (selected.isEmpty)
      return short.withColumn("score", round(lit(lambda) * col("rel"), 6))
    val mu = 1.0 - lambda // ONE value, interpolated verbatim into oracles
    var cand = short
    // toVector: the map mutates `cand` per element, which is only sound
    // when the traversal is STRICT — a lazy Seq would defer the joins
    // past their use below
    val sims = selected.toVector.zipWithIndex.map { case (p, i) =>
      cand = cand.crossJoin(broadcast(
        p.select(col("vec_id").as(s"__sid$i"), col("embedding").as(s"__svec$i"))))
      round(VectorFns.cosine(col("embedding"), col(s"__svec$i")), 6)
    }
    val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
    cand
      .filter(selected.indices.map(i => col("vec_id") =!= col(s"__sid$i"))
        .reduce(_ && _))
      .withColumn("score",
        round(lit(lambda) * col("rel") - lit(mu) * maxSim, 6))
      .select("vec_id", "embedding", "rel", "score")
  }
}
