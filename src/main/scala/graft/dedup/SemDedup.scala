package graft.dedup

import graft.ann.KMeans
import graft.functions.VectorFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) deduplication, SemDeDup-style: cluster the
  * corpus with the trained k-means coarse quantizer, then remove every
  * document whose cosine to ANY lower-id document in the SAME cluster
  * reaches the threshold. Note this is the one-pass pairwise rule, not
  * sequential greedy dedup: in a chain a<b<c with cos(a,b)>=tau,
  * cos(b,c)>=tau, cos(a,c)<tau it drops BOTH b and c (b still counts as
  * c's neighbor even though b itself is dropped), where a sequential
  * scan would keep c. The over-removal is deliberate — it is what makes
  * the rule order-free (each doc's fate depends only on its own
  * neighborhood, so the pair join parallelizes with no iteration) and
  * exactly SQL-replayable. Complements the reference's lexical dedup surface
  * (`unique`/`distinct` in cva_fts_curated.R:70-83) with the
  * embedding-space analogue a training-data pipeline needs.
  *
  * Scale shape: the trained centroids enter the plan as literals, so the
  * CELL ASSIGNMENT IS ROW-LOCAL (no shuffle, no crossJoin — same property
  * as IVF search). All-pairs comparison happens only INSIDE a cell via an
  * equi-join on the cell id, so the quadratic term is bounded by the
  * largest cell, not the corpus: at 100 TB you grow k with the corpus
  * (k ≈ N/targetCellSize) and the per-cell work stays constant while the
  * cell count parallelizes across executors. The duplicate-id set is a
  * distinct projection of the pair join (small by construction — it is
  * the data you are about to delete) and comes back as a broadcast
  * anti-join, so the corpus itself never reshuffles.
  */
object SemDedup {

  /** The k ∝ N cell-count rule (q140, and the decade gate that
    * certifies it): tree-quantizer side = round(√(N / targetOccupancy)),
    * so side² cells hold ~targetOccupancy vectors each and the
    * within-cell pairwise term stays constant per row as the corpus
    * grows. ONE definition — the shipped query and the probe gate must
    * measure the same quantizer. */
  def cellSide(n: Long, targetOccupancy: Int = 8): Int =
    math.max(2, math.round(math.sqrt(n.toDouble / targetOccupancy)).toInt)

  /** The corpus with its trained cell: rows (vec_id, cid, __v). This IS
    * the IVF index — at corpus scale you materialize it once (persist or
    * write bucketed by cid) rather than re-deriving the O(k)-per-row
    * assignment in every plan leg that references it. */
  def assignCells(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame =
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .withColumn("cid", KMeans.nearestCentroid(col("__v"), cents).cast("long"))

  /** [[assignCells]] under a two-level tree quantizer
    * ([[graft.ann.KMeans.fitTree]]): k1 + k2 cosines per row instead of
    * the flat quantizer's k — with k grown ∝ N (the cell-size rule) the
    * flat assignment term is N·k and eventually dominates; the tree swaps
    * it for N·2√k with the dedup logic downstream unchanged. */
  def assignCellsTree(
      corpus: DataFrame, idCol: String, vecCol: String,
      tq: KMeans.TreeQuantizer,
      /** extra columns to carry through unchanged (e.g. q146's ingest
        * timestamp) — assignment is row-local either way */
      keep: Seq[String] = Nil): DataFrame =
    corpus
      .select(Seq(col(idCol).as("vec_id"), col(vecCol).as("__v")) ++ keep.map(col): _*)
      .withColumn("__b", KMeans.nearestCentroid(col("__v"), tq.branches))
      .withColumn("cid",
        (col("__b") * tq.k2 + KMeans.leafInBranch(col("__v"), col("__b"), tq)).cast("long"))
      .drop("__b")

  /** Survivors of one-pass within-cell near-dup removal: rows (vec_id, cid)
    * where vec_id has NO lower-id neighbor with round(cosine,6) >= tau in
    * its cell. `cells` comes from [[assignCells]] (pass it materialized
    * when the corpus is large).
    *
    * The dup-id set is broadcast by default — CORRECT ONLY WHILE THE
    * DUPLICATE SET FITS AN EXECUTOR: its size is bounded by the corpus
    * dup rate, not by any batch, and a SemDeDup-style web-corpus run
    * removes 30-50% — corpus-scale, not broadcastable. At that rate pass
    * `broadcastDups = false`: the anti-join then shuffles both sides on
    * vec_id (one extra exchange of the id column, never the vectors —
    * `cells` projects to (vec_id, cid) before the join), and AQE still
    * broadcast-converts at runtime if the dup set turns out small. The
    * default stays hinted because near-threshold tau (this engine's
    * q106 shape) yields sub-percent dup rates where the hint saves the
    * corpus-side exchange deterministically. */
  def semanticDedupOnCells(cells: DataFrame, tau: Double,
      broadcastDups: Boolean = true): DataFrame = {
    val dups = dupIdsOnCells(cells, tau)
    cells.select("vec_id", "cid")
      .join(if (broadcastDups) broadcast(dups) else dups, Seq("vec_id"), "left_anti")
  }

  /** Just the drop set: higher-id rows with a lower-id within-cell
    * neighbor at cosine ≥ tau — one (vec_id) row per dup. Callers that
    * dedup a corpus WIDER than the embedded subset (q153: not every
    * surviving document has an embedding row) anti-join THIS against the
    * full corpus, NOT-IN style, so unembedded rows survive rather than
    * being silently inner-joined away. */
  def dupIdsOnCells(cells: DataFrame, tau: Double): DataFrame = {
    // norms factored per SIDE before the within-cell pair join: the
    // quadratic stage pays one dot per pair instead of dot+both-norms —
    // bit-equal to the fused cosine (DotProduct Scaladoc; VectorFnsSpec
    // pins it), so tau cuts and oracles are unchanged
    val a = cells.select(col("cid"), col("vec_id").as("id_a"), col("__v").as("__va"))
      .withColumn("__na", VectorFns.normN(col("__va")))
    val b = cells.select(col("cid"), col("vec_id").as("id_b"), col("__v").as("__vb"))
      .withColumn("__nb", VectorFns.normN(col("__vb")))
    a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorFns.cosineFactored(
        VectorFns.dotN(col("__va"), col("__vb")),
        col("__na"), col("__nb")), 6) >= tau)
      .select(col("id_b").as("vec_id"))
      .distinct()
  }

  /** One-shot convenience: assign + dedup. The assignment feeds THREE
    * plan legs downstream (both pair-join sides and the anti-join
    * spine), so it is cut once here — left lazy, Catalyst re-derives
    * the k·dim-literal assignment tree per leg, the blowup the
    * incremental path measured at 22× once k ∝ N (this is the
    * "materialize the index" rule from [[assignCells]]' doc applied to
    * the convenience form; at corpus scale prefer persisting or writing
    * the index bucketed by cid and calling [[semanticDedupOnCells]]). */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], tau: Double): DataFrame =
    semanticDedupOnCells(
      assignCells(corpus, idCol, vecCol, cents).localCheckpoint(false), tau)

  /** Batch-vs-history flags, the embedding-space twin of
    * [[TextDedup.incrementalDupFlags]]: for every batch vector, whether a
    * same-cell history vector (dup_in_history) or a same-cell lower-id
    * batch vector (dup_in_batch) reaches round(cosine,6) >= tau. The
    * quantizer (`cents`) should be trained on history alone — arriving
    * batches assign against the standing index and never retrain it.
    * Scale shape: both pair joins put the BATCH-derived side behind
    * `broadcast`, so the corpus-sized history streams map-side and never
    * reshuffles; only batch-bounded frames cross exchanges. */
  def incrementalSemanticDedup(
      history: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], tau: Double): DataFrame =
    incrementalFlagsOnCells(
      assignCells(history, idCol, vecCol, cents),
      // The batch assignment feeds FOUR plan legs (both pair-join
      // probes, the within-batch self-join's second side, and the
      // output spine). Left lazy, Catalyst re-derives and re-optimizes
      // the k·dim-literal assignment tree per leg — at the documented
      // k ∝ N rule that turned 2.5× data into 22× wall (`SpineProbe
      // scale`, k=156). The batch side is increment-sized by contract,
      // so cut it once (q77/q89 pattern); history stays a single lazy leg and
      // still never materializes.
      assignCells(batch, idCol, vecCol, cents).localCheckpoint(false), tau)

  /** [[incrementalSemanticDedup]] under the TREE quantizer — the
    * production pairing once cell count ∝ N: the tree (trained on
    * history alone) assigns both sides at 2√k cosines per row, and the
    * flag logic downstream is identical. */
  def incrementalSemanticDedupTree(
      history: DataFrame, batch: DataFrame, idCol: String, vecCol: String,
      tq: graft.ann.KMeans.TreeQuantizer, tau: Double): DataFrame =
    incrementalFlagsOnCells(
      assignCellsTree(history, idCol, vecCol, tq),
      assignCellsTree(batch, idCol, vecCol, tq).localCheckpoint(false), tau)

  /** The shared flag logic: `h0` = assigned history (lazy — it streams
    * map-side into broadcast joins and never reshuffles), `b0` = the
    * assigned batch, already cut once (it feeds four plan legs). */
  private def incrementalFlagsOnCells(
      h0: DataFrame, b0: DataFrame, tau: Double): DataFrame = {
    // per-side factored norms (see dupIdsOnCells): the history side's
    // norm is computed once per streaming row, the batch side's rides
    // its already-checkpointed frame through every leg
    val h = h0.select(col("cid"), col("__v").as("__vh"))
      .withColumn("__nh", VectorFns.normN(col("__vh")))
    val b = b0
    val bCand = b.select(col("cid"), col("vec_id").as("__bid"), col("__v").as("__vb"))
      .withColumn("__nb", VectorFns.normN(col("__vb")))
    val dupsH = h.join(broadcast(bCand), Seq("cid"))
      .filter(round(VectorFns.cosineFactored(
        VectorFns.dotN(col("__vh"), col("__vb")),
        col("__nh"), col("__nb")), 6) >= tau)
      .select(col("__bid").as("vec_id")).distinct()
    val dupsB = bCand
      .select(col("cid"), col("__bid").as("__aid"),
        col("__vb").as("__va"), col("__nb").as("__na"))
      .join(broadcast(bCand), Seq("cid"))
      .filter(col("__aid") < col("__bid"))
      .filter(round(VectorFns.cosineFactored(
        VectorFns.dotN(col("__va"), col("__vb")),
        col("__na"), col("__nb")), 6) >= tau)
      .select(col("__bid").as("vec_id")).distinct()
    b.select("vec_id", "cid")
      .join(broadcast(dupsH.withColumn("__dh", lit(true))), Seq("vec_id"), "left")
      .join(broadcast(dupsB.withColumn("__db", lit(true))), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("__dh"), lit(false)).as("dup_in_history"),
        coalesce(col("__db"), lit(false)).as("dup_in_batch"))
  }
}
