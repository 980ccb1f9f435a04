package graft.queries

import graft.QueryDef
import graft.ann.Knn
import graft.functions.VectorFns
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

/** Similarity search over the `embeddings` table: brute-force cosine
  * top-k (exact baseline) and the sign-bit LSH-bucketed scale path.
  * Cosine accumulates left-to-right in double precision in both engines,
  * so values agree bit-for-bit; rounded to 6 anyway.
  */
object AnnQueries {

  // DOUBLE[] cast: DuckDB otherwise computes in float32, Spark in double.
  private val cosineSql =
    """list_cosine_similarity(cast(a.embedding AS DOUBLE[]), cast(b.embedding AS DOUBLE[]))"""

  // Deterministic two-round Lloyd replay shared by q96 (IVF search),
  // q106 (semantic dedup) and q109 (incremental semantic dedup). Ends at
  // `cells` = EVERY vector's trained cell; training reads only `vt`
  // (rows passing trainPred — q109 trains on history alone, the others
  // on everything). Mirrors graft.ann.KMeans.fit step for step (init =
  // 16 lowest-id vectors, argmax of round(cosine,6) with cid tiebreak,
  // means rounded to 6, empty cells keep their previous centroid).
  // The trained-IVF probe+search oracle, shared VERBATIM by q96 (train
  // in-query) and q134 (load the persisted index) — one text, so an
  // oracle fix cannot reach one and miss the other.
  private def trainedIvfSearchSql =
    s"""WITH ${trainedCellsCte()},
       probes AS (
         SELECT vec_id AS query_id, v AS qv, cid FROM (
           SELECT t.vec_id, t.v, c.cid,
             row_number() OVER (PARTITION BY t.vec_id ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
           FROM v t CROSS JOIN c2 c WHERE t.vec_id < 10) WHERE rn <= 12)
       SELECT query_id, rnk, neighbor_id, cosine FROM (
         SELECT p.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(p.qv, e.v), 6) AS cosine,
           row_number() OVER (PARTITION BY p.query_id ORDER BY round(list_cosine_similarity(p.qv, e.v), 6) DESC, e.vec_id) AS rnk
         FROM probes p JOIN cells e USING (cid)
         WHERE e.vec_id <> p.query_id)
       WHERE rnk <= 3"""

  private def trainedCellsCte(trainPred: String = "true", k: Int = 16): String =
    trainedCellsCteExpr(trainPred, k.toString, withSideCte = false)

  /** The k ∝ N rule (SemDedup.cellSide) replayed in SQL: side =
    * max(2, round(√(|training set| / 8))) — derived from vt's own
    * count(*), so the tree-family oracle follows the engine's rule at
    * ANY sf instead of pinning sf0.01's resolved value (the boundary
    * SCALING.md used to document). round() is half-away-from-zero in
    * both engines and √(n/8) is exact at the only boundary that can
    * occur (n/8 = (m+.5)² forces n/8 exactly representable), so the two
    * sides can never disagree by a rounding seam. */
  private val sideCteSql =
    "side AS (SELECT greatest(2, CAST(round(sqrt(count(*) / 8.0)) AS BIGINT)) AS s FROM vt)"

  /** Sub-expression consumers use to decompose a tree cell id
    * (cell = branch · side + leaf) when the side is dynamic. */
  private[queries] val treeSideRef = "(SELECT s FROM side)"

  private def trainedCellsCteExpr(trainPred: String, kSql: String,
      withSideCte: Boolean): String =
    s"""v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
       vt AS (SELECT vec_id, v FROM v WHERE $trainPred),${
         if (withSideCte) s"\n       $sideCteSql," else ""}
       init AS (
         SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cent
         FROM vt ORDER BY vec_id LIMIT $kSql),
       a1 AS (
         SELECT vec_id, v, cid FROM (
           SELECT t.vec_id, t.v, c.cid,
             row_number() OVER (PARTITION BY t.vec_id ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
           FROM vt t CROSS JOIN init c) WHERE rn = 1),
       m1 AS (
         SELECT cid, d.d AS dim, round(avg(v[d.d]), 6) AS mu
         FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) d
         GROUP BY cid, d.d),
       c1 AS (
         SELECT i.cid, coalesce(m.cent, i.cent) AS cent
         FROM init i LEFT JOIN (SELECT cid, list(mu ORDER BY dim) AS cent FROM m1 GROUP BY cid) m USING (cid)),
       a2 AS (
         SELECT vec_id, v, cid FROM (
           SELECT t.vec_id, t.v, c.cid,
             row_number() OVER (PARTITION BY t.vec_id ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
           FROM vt t CROSS JOIN c1 c) WHERE rn = 1),
       m2 AS (
         SELECT cid, d.d AS dim, round(avg(v[d.d]), 6) AS mu
         FROM a2 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) d
         GROUP BY cid, d.d),
       c2 AS (
         SELECT p.cid, coalesce(m.cent, p.cent) AS cent
         FROM c1 p LEFT JOIN (SELECT cid, list(mu ORDER BY dim) AS cent FROM m2 GROUP BY cid) m USING (cid)),
       cells AS (
         SELECT vec_id, v, cid FROM (
           SELECT t.vec_id, t.v, c.cid,
             row_number() OVER (PARTITION BY t.vec_id ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
           FROM v t CROSS JOIN c2 c) WHERE rn = 1)"""

  // Deterministic fused per-subspace PQ training replay (8 codebooks ×
  // 16 codewords, 2 Lloyd rounds) shared by q126/q127/q129 — mirrors
  // graft.ann.Pq.fit/fitPrepared step for step: init = the 16 lowest-id
  // vectors' slices, assignment = argmax of round(cosine, 6) with
  // lowest-code tiebreak, codeword = per-dimension mean rounded to 6, an
  // emptied code keeps its previous codeword. ONE definition so a recipe
  // fix cannot silently diverge between the three oracles. `srcRel` must
  // expose (vec_id, `vecCol` DOUBLE[64]) — q129 points it at the
  // residual relation. `trainPred` restricts which rows TRAIN the
  // codebooks (psubt — q148 trains on history alone); `pcodes`/`precon`
  // always encode every srcRel row against the final books. Ends at
  // `pcodes` (every vector's code per subspace) and `precon` (`prv` =
  // the codeword concat in m order).
  private def pqTrainingCte(srcRel: String, vecCol: String, k: Int = 16,
      trainPred: String = "true") =
    s"""psub AS (
           SELECT vec_id, m.m AS m, $vecCol[(m.m*8+1):(m.m*8+8)] AS sv
           FROM $srcRel CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS m) m),
         psubt AS (SELECT * FROM psub WHERE $trainPred),
         pinit AS (
           SELECT m, rn - 1 AS cid, sv AS cent FROM (
             SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
             FROM psubt) WHERE rn <= $k),
         pa1 AS (
           SELECT vec_id, m, sv, cid FROM (
             SELECT s.vec_id, s.m, s.sv, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY round(list_cosine_similarity(s.sv, c.cent), 6) DESC, c.cid) AS rn
             FROM psubt s JOIN pinit c ON s.m = c.m) WHERE rn = 1),
         pm1 AS (
           SELECT m, cid, d.d AS dim, round(avg(sv[d.d]), 6) AS mu
           FROM pa1 CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS d) d
           GROUP BY m, cid, d.d),
         pc1 AS (
           SELECT i.m, i.cid, coalesce(mm.cent, i.cent) AS cent
           FROM pinit i LEFT JOIN (
             SELECT m, cid, list(mu ORDER BY dim) AS cent FROM pm1 GROUP BY m, cid) mm
             USING (m, cid)),
         pa2 AS (
           SELECT vec_id, m, sv, cid FROM (
             SELECT s.vec_id, s.m, s.sv, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY round(list_cosine_similarity(s.sv, c.cent), 6) DESC, c.cid) AS rn
             FROM psubt s JOIN pc1 c ON s.m = c.m) WHERE rn = 1),
         pm2 AS (
           SELECT m, cid, d.d AS dim, round(avg(sv[d.d]), 6) AS mu
           FROM pa2 CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS d) d
           GROUP BY m, cid, d.d),
         pc2 AS (
           SELECT p.m, p.cid, coalesce(mm.cent, p.cent) AS cent
           FROM pc1 p LEFT JOIN (
             SELECT m, cid, list(mu ORDER BY dim) AS cent FROM pm2 GROUP BY m, cid) mm
             USING (m, cid)),
         pcodes AS (
           SELECT vec_id, m, cid FROM (
             SELECT s.vec_id, s.m, c.cid,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY round(list_cosine_similarity(s.sv, c.cent), 6) DESC, c.cid) AS rn
             FROM psub s JOIN pc2 c ON s.m = c.m) WHERE rn = 1),
         precon AS (
           SELECT k.vec_id, flatten(list(c.cent ORDER BY k.m)) AS prv
           FROM pcodes k JOIN pc2 c ON k.m = c.m AND k.cid = c.cid
           GROUP BY k.vec_id)"""

  // Deterministic two-level (side×side) tree-quantizer replay — mirrors
  // graft.ann.KMeans.fitTree step for step on top of trainedCellsCte's
  // level-1 training at k1=side (whose `cells` IS the branch assignment:
  // fitTree assigns branches off the final level-1 centroids, exactly
  // what `cells` holds). Level 2 runs the same pinned Lloyd recipe
  // per branch: init = each branch's `side` lowest-id TRAINING vectors
  // (an empty branch keeps its branch centroid as a single leaf),
  // assignment = argmax of round(cosine, 6) with lowest-leaf tiebreak,
  // means rounded to 6, an emptied leaf keeps its previous centroid.
  // `trainPred` restricts BOTH training levels (q142 trains on history
  // alone); assignment (`cells`, `tcells`) always covers every vector.
  // Ends at `tcells` = every vector's global cell id (branch·side +
  // leaf). The side is DYNAMIC by default — the `side` CTE replays the
  // engine's k ∝ N rule from the training set's count, so the family's
  // oracles hold at any sf; `staticSide` pins it for the fixed-shape
  // queries (q138/q141 train an 8×8 tree by contract, not by rule).
  private[queries] def treeCellsCte(trainPred: String = "true",
      staticSide: Option[Int] = None): String = {
    val sideRef = staticSide.map(_.toString).getOrElse(treeSideRef)
    s"""${staticSide match {
           case Some(k) => trainedCellsCte(trainPred, k)
           case None => trainedCellsCteExpr(trainPred, sideRef, withSideCte = true)
         }},
       ct AS (SELECT c.* FROM cells c JOIN vt USING (vec_id)),
       linit AS (
         SELECT cid AS b, rn - 1 AS l, v AS cent FROM (
           SELECT cid, v, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
           FROM ct) WHERE rn <= $sideRef),
       l0 AS (
         SELECT b, l, cent FROM linit
         UNION ALL
         SELECT c.cid AS b, 0 AS l, c.cent FROM c2 c
         WHERE c.cid NOT IN (SELECT b FROM linit)),
       la1 AS (
         SELECT vec_id, b, v, l FROM (
           SELECT t.vec_id, t.cid AS b, t.v, c.l,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.l) AS rn
           FROM ct t JOIN l0 c ON t.cid = c.b) WHERE rn = 1),
       lm1 AS (
         SELECT b, l, d.d AS dim, round(avg(v[d.d]), 6) AS mu
         FROM la1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) d
         GROUP BY b, l, d.d),
       lc1 AS (
         SELECT p.b, p.l, coalesce(m.cent, p.cent) AS cent
         FROM l0 p LEFT JOIN (
           SELECT b, l, list(mu ORDER BY dim) AS cent FROM lm1 GROUP BY b, l) m
           USING (b, l)),
       la2 AS (
         SELECT vec_id, b, v, l FROM (
           SELECT t.vec_id, t.cid AS b, t.v, c.l,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.l) AS rn
           FROM ct t JOIN lc1 c ON t.cid = c.b) WHERE rn = 1),
       lm2 AS (
         SELECT b, l, d.d AS dim, round(avg(v[d.d]), 6) AS mu
         FROM la2 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) d
         GROUP BY b, l, d.d),
       lc2 AS (
         SELECT p.b, p.l, coalesce(m.cent, p.cent) AS cent
         FROM lc1 p LEFT JOIN (
           SELECT b, l, list(mu ORDER BY dim) AS cent FROM lm2 GROUP BY b, l) m
           USING (b, l)),
       tcells AS (
         SELECT vec_id, v, cell FROM (
           SELECT t.vec_id, t.v, t.cid * $sideRef + c.l AS cell,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.l) AS rn
           FROM cells t JOIN lc2 c ON t.cid = c.b) WHERE rn = 1)"""
  }

  val defs: Seq[QueryDef] = Seq(

    // Brute-force top-5 cosine neighbors for the first 10 vectors.
    QueryDef("q37_ann_bruteforce", Seq("J12"),
      s"""SELECT query_id, rnk, neighbor_id, cosine FROM (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round($cosineSql, 6) AS cosine,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY round($cosineSql, 6) DESC, b.vec_id) AS rnk
           FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           WHERE a.vec_id < 10) WHERE rnk <= 5""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Knn.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    },

    // LSH-bucketed variant: same top-k inside the query's 6-bit sign
    // bucket (recall<1 by design; bucket fn is deterministic index math).
    QueryDef("q38_ann_lsh", Seq("J12"),
      s"""WITH bkt AS (
           SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
            + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
           FROM embeddings)
         SELECT query_id, rnk, neighbor_id, cosine FROM (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round($cosineSql, 6) AS cosine,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY round($cosineSql, 6) DESC, b.vec_id) AS rnk
           FROM bkt a JOIN bkt b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
           WHERE a.vec_id < 10) WHERE rnk <= 3""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Knn.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 3, 6)
    },

    // Centroid distance per label (the IVF building block): mean vector
    // per label, then each vector's cosine to its own label centroid.
    QueryDef("q39_label_centroid", Seq("A5"),
      """WITH dims AS (
           SELECT label, g.g AS dim, avg(embedding[g.g]) AS mu
           FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS g) g
           GROUP BY label, g.g),
         centroids AS (
           SELECT label, list(mu ORDER BY dim) AS centroid FROM dims GROUP BY label)
         SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding, c.centroid), 4) AS to_centroid
         FROM embeddings e JOIN centroids c USING (label)""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // mean per dimension: explode dims → avg → regroup in dim order.
      val dims = emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim").agg(avg(col("v").cast("double")).as("mu"))
      val centroids = dims
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
          x => x.getField("mu")).as("centroid"))
      emb.join(broadcast(centroids), Seq("label"))
        .withColumn("to_centroid", round(VectorFns.cosine(col("embedding"), col("centroid")), 4))
        .select("vec_id", "label", "to_centroid")
    },

    // Embedding-cosine near-duplicate pairs: same sign bucket, cosine
    // above threshold — the vector-space analogue of MinHash candidates.
    QueryDef("q52_dedup_embedding", Seq("J12", "A10"),
      s"""WITH bkt AS (
           SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
            + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
           FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cosineSql, 6) AS cosine
         FROM bkt a JOIN bkt b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
         WHERE round($cosineSql, 6) >= 0.3""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .withColumn("bkt", VectorFns.signBucket(col("embedding"), 6))
      val a = emb.select(col("bkt"), col("vec_id").as("id_a"), col("embedding").as("__va"))
      val b = emb.select(col("bkt"), col("vec_id").as("id_b"), col("embedding").as("__vb"))
      a.join(b, Seq("bkt"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine", round(VectorFns.cosine(col("__va"), col("__vb")), 6))
        .filter(col("cosine") >= 0.3)
        .select("id_a", "id_b", "cosine")
    },

    // IVF probe-1 search: label centroids as the coarse quantizer —
    // route each query to its nearest centroid, then exact top-3 inside
    // that inverted list. Centroids rounded to 6 before use so both
    // engines quantize identically.
    QueryDef("q53_ann_ivf", Seq("J12", "A5"),
      """WITH dims AS (
           SELECT label, g.g AS dim, round(avg(embedding[g.g]), 6) AS mu
           FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS g) g
           GROUP BY label, g.g),
         centroids AS (
           SELECT label, list(mu ORDER BY dim) AS centroid FROM dims GROUP BY label),
         queries AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
         routed AS (
           SELECT vec_id AS query_id, label AS probe_label
           FROM (
             SELECT q.vec_id, c.label,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(list_cosine_similarity(cast(q.embedding AS DOUBLE[]), c.centroid), 6) DESC,
                 c.label) AS rn
             FROM queries q CROSS JOIN centroids c)
           WHERE rn = 1)
         SELECT query_id, rnk, neighbor_id, cosine FROM (
           SELECT r.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(cast(q.embedding AS DOUBLE[]), cast(e.embedding AS DOUBLE[])), 6) AS cosine,
             row_number() OVER (PARTITION BY r.query_id ORDER BY
               round(list_cosine_similarity(cast(q.embedding AS DOUBLE[]), cast(e.embedding AS DOUBLE[])), 6) DESC,
               e.vec_id) AS rnk
           FROM routed r
           JOIN queries q ON q.vec_id = r.query_id
           JOIN embeddings e ON e.label = r.probe_label AND e.vec_id <> r.query_id)
         WHERE rnk <= 3""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val dims = emb.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim").agg(round(avg(col("v").cast("double")), 6).as("mu"))
      val centroids = dims.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
          x => x.getField("mu")).as("centroid"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qvec"))
      val wRoute = Window.partitionBy("query_id")
        .orderBy(col("c_sim").desc, col("label"))
      val routed = queries.crossJoin(broadcast(centroids))
        .withColumn("c_sim", round(VectorFns.cosine(col("__qvec"), col("centroid")), 6))
        .withColumn("rn", row_number().over(wRoute))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("__qvec"), col("label").as("probe_label"))
      val wTop = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
      routed
        .join(emb.select(col("label").as("probe_label"), col("vec_id").as("neighbor_id"),
          col("embedding").as("__cvec")), Seq("probe_label"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", round(VectorFns.cosine(col("__qvec"), col("__cvec")), 6))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 3)
        .select("query_id", "rnk", "neighbor_id", "cosine")
    },

    // int8 scalar quantization (SQ8) ANN: vectors quantized to
    // round(x·127/max|x|) — a 4× memory cut, the compression knob that
    // lets a 100 TB embedding store live in cluster RAM. Cosine is
    // per-vector-scale invariant, so similarity runs on the integer
    // codes directly; integer dots are exact and sqrt is IEEE
    // correctly-rounded, making the quantized scores bit-identical
    // across engines (no rounding fragility in the ranking).
    QueryDef("q79_ann_sq8", Seq("J12", "A5"),
      """WITH q8 AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(round(cast(x AS DOUBLE) * 127.0 / mx) AS BIGINT)) AS qv
           FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(cast(x AS DOUBLE)))) AS mx
                 FROM embeddings)
           WHERE mx > 0),
         pairs AS (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(cast(a.qv AS DOUBLE[]), cast(b.qv AS DOUBLE[])), 6) AS approx_cosine
           FROM q8 a JOIN q8 b ON a.vec_id < 10 AND b.vec_id >= 10),
         ranked AS (
           SELECT query_id, neighbor_id, approx_cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY approx_cosine DESC, neighbor_id) AS rnk
           FROM pairs)
         SELECT query_id, rnk, neighbor_id, approx_cosine FROM ranked WHERE rnk <= 3""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      // let-bind the scale: a free reference inside the quantize lambda
      // would recompute the array_max per element
      val qv = element_at(
        transform(array(mx), m =>
          transform(col("embedding"),
            x => round(x.cast("double") * 127.0 / m).cast("double"))),
        1)
      val q8 = emb.filter(mx > 0).select(col("vec_id"), qv.as("qv"))
      val a = q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qv").as("__qa"))
      val b = q8.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"), col("qv").as("__qb"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("approx_cosine").desc, col("neighbor_id"))
      b.crossJoin(broadcast(a))
        .withColumn("approx_cosine", round(VectorFns.cosine(col("__qa"), col("__qb")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("query_id", "rnk", "neighbor_id", "approx_cosine")
    },

    // Trained-centroid IVF: two deterministic Lloyd rounds (init = 16
    // lowest-id vectors, argmax of round(cosine,6) with cid tiebreak,
    // means rounded to 6, empty cells keep their previous centroid)
    // build the coarse quantizer, then multi-probe (12 of 16 cells)
    // search. The oracle replays the identical training loop as chained
    // CTEs. nprobe is MEASURED, not assumed: the SCALING.md sweep against
    // the q37 brute-force ground truth puts recall@10 at 0.77 for 6
    // probes and 0.94-0.96 at 12 on this near-uniform synthetic corpus
    // (recall tracks the scan fraction when cosine neighborhoods barely
    // follow the cells — real embedding corpora cluster harder and earn
    // lower nprobe); KMeansSpec gates recall@10 >= 0.9 at this setting.
    QueryDef("q96_ann_ivf_trained", Seq("J12", "A5"),
      trainedIvfSearchSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = graft.ann.KMeans.fit(emb, "vec_id", "embedding", k = 16, iters = 2)
      graft.ann.Knn.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cents, k = 3, probes = 12)
    },

    // Train-once / search-many: q96's IVF index PERSISTED to a staging
    // dir keyed on the corpus content fingerprint (q123's revalidating
    // cache idiom — a regenerated corpus retrains, a rerun loads). The
    // deterministic Lloyd recipe makes the staged index equal the
    // freshly-trained one, so this shares q96's oracle verbatim while
    // demonstrating the production shape: at 100 TB the index is a
    // maintained artifact beside the corpus (training amortized over
    // every search), and the search path pays only a 16×64-double load
    // + the same cell-join + bounded top-k as q96.
    QueryDef("q134_ann_ivf_persisted", Seq("J12", "A5"),
      trainedIvfSearchSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // cache key carries the TRAINING RECIPE alongside the corpus
      // fingerprint — a future k/iters change must miss, not silently
      // serve the old geometry, and KMeans.recipeVersion covers changes
      // to the pinned arithmetic itself (init rule, rounding, tiebreaks)
      // that k/iters alone cannot see
      val (k16, it2) = (16, 2)
      val dir = graft.sources.ZOrder.ensureStagedDir(
        s"graft_ivf_idx_v${graft.ann.KMeans.recipeVersion}_k${k16}i$it2",
        d, s"$d/embeddings.parquet") { target =>
        import s.implicits._
        graft.ann.KMeans.fit(emb, "vec_id", "embedding", k = k16, iters = it2)
          .toDF("cid", "cent").coalesce(1).write.mode("overwrite").parquet(target)
      }
      val loaded = StateFs.readParquet(s, dir).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)
      graft.ann.Knn.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", loaded, k = 3, probes = 12)
    },

    // SemDeDup-style semantic dedup: all-pairs cosine ONLY within each
    // trained k-means cell (the quadratic term is bounded by the largest
    // cell, not the corpus); a vector is dropped iff a lower-id vector in
    // its cell reaches cosine 0.3. Output = survivors with their cell.
    QueryDef("q106_semdedup", Seq("J12", "A10"),
      s"""WITH ${trainedCellsCte()},
         dups AS (
           SELECT DISTINCT b.vec_id
           FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3)
         SELECT vec_id, cid FROM cells
         WHERE vec_id NOT IN (SELECT vec_id FROM dups)""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = graft.ann.KMeans.fit(emb, "vec_id", "embedding", k = 16, iters = 2)
      graft.dedup.SemDedup.semanticDedup(emb, "vec_id", "embedding", cents, tau = 0.3)
    },

    // Incremental semantic dedup (the embedding-space twin of q103's
    // lexical batch-vs-history flags): the quantizer trains on HISTORY
    // only (new batches don't retrain the index), both sides assign
    // row-locally, and every pair check is within-cell. History joins a
    // BROADCAST of the batch-derived side, so the corpus-sized history
    // never reshuffles — only the 10% batch moves.
    QueryDef("q109_semdedup_incremental", Seq("J12", "A10", "J11"),
      s"""WITH ${trainedCellsCte("vec_id % 10 <> 0")},
         dupsH AS (
           SELECT DISTINCT b.vec_id
           FROM cells h JOIN cells b ON h.cid = b.cid
           WHERE h.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
             AND round(list_cosine_similarity(h.v, b.v), 6) >= 0.3),
         dupsB AS (
           SELECT DISTINCT b.vec_id
           FROM cells a JOIN cells b ON a.cid = b.cid
           WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0 AND a.vec_id < b.vec_id
             AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.3)
         SELECT c.vec_id, c.cid,
           c.vec_id IN (SELECT vec_id FROM dupsH) AS dup_in_history,
           c.vec_id IN (SELECT vec_id FROM dupsB) AS dup_in_batch
         FROM cells c WHERE c.vec_id % 10 = 0""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val history = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val cents = graft.ann.KMeans.fit(history, "vec_id", "embedding", k = 16, iters = 2)
      graft.dedup.SemDedup.incrementalSemanticDedup(
        history, batch, "vec_id", "embedding", cents, tau = 0.3)
    },

    // Product quantization with exact re-ranking (the FAISS IndexPQ +
    // refine shape): each 64-dim vector compressed to 8 subspace codes
    // (8×16 codebooks, 2 deterministic Lloyd rounds per subspace — all 8
    // trained in ONE pass per round), a 30-candidate shortlist ranked by
    // cosine(query, codeword reconstruction) = the ADC score, then the
    // shortlist re-ranked at full precision. 128× smaller corpus
    // representation than raw doubles — the compression layer past SQ8
    // (q79), orthogonal to IVF routing (q96). The oracle replays the
    // fused per-subspace training as chained CTEs (init = the 16
    // lowest-id vectors' slices, argmax round(cosine,6) with code
    // tiebreak, means rounded to 6, empty codes keep their codeword),
    // the same shortlist, and the same rerank. PqSpec gates recall on
    // the planted clustered corpus (raw ADC 0.668 there — tight
    // clusters collapse to identical codes — rerank restores ≥0.9).
    QueryDef("q126_ann_pq", Seq("J12", "A5"),
      s"""WITH v AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${pqTrainingCte("v", "v")},
         short AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, r.prv), 6) DESC, r.vec_id) AS rn
             FROM v q JOIN precon r ON r.vec_id <> q.vec_id
             WHERE q.vec_id < 10)
           WHERE rn <= 30)
         SELECT query_id, rnk, neighbor_id, cosine FROM (
           SELECT s.query_id, s.neighbor_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, s.neighbor_id) AS rnk
           FROM short s
           JOIN v q ON q.vec_id = s.query_id
           JOIN v c ON c.vec_id = s.neighbor_id)
         WHERE rnk <= 3""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cb = graft.ann.Pq.fit(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
      graft.ann.Pq.pqTopKRerank(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cb, k = 3, r = 30)
    },

    // The composed production index — IVF routing (q96's trained 16-cell
    // quantizer, 12 probes) × PQ scoring (q126's 8×16 codebooks) × exact
    // rerank of the 30-candidate shortlist: FAISS IVFADC + refine, minus
    // residual encoding. Corpus at rest carries (cell, codes) = 8 bytes
    // per vector; candidates come from the cell equi-join against the
    // broadcast query×probe side, ADC ranks them from codes alone, and
    // only the Q·30 shortlist is ever read at full width. The oracle
    // replays BOTH trainings (the shared Lloyd CTE for cells, the
    // per-subspace fused CTEs for codes), the probe routing, the ADC
    // shortlist, and the rerank.
    QueryDef("q127_ann_ivfpq", Seq("J12", "A5"),
      s"""WITH ${trainedCellsCte()},
         probes AS (
           SELECT vec_id AS query_id, v AS qv, cid FROM (
             SELECT t.vec_id, t.v, c.cid,
               row_number() OVER (PARTITION BY t.vec_id
                 ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
             FROM v t CROSS JOIN c2 c WHERE t.vec_id < 10) WHERE rn <= 12),
         ${pqTrainingCte("v", "v")},
         short AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(p.qv, r.prv), 6) DESC, e.vec_id) AS rn
             FROM probes p JOIN cells e USING (cid)
             JOIN precon r ON r.vec_id = e.vec_id
             WHERE e.vec_id <> p.query_id) WHERE rn <= 30)
         SELECT query_id, rnk, neighbor_id, cosine FROM (
           SELECT s.query_id, s.neighbor_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, s.neighbor_id) AS rnk
           FROM short s
           JOIN v q ON q.vec_id = s.query_id
           JOIN v c ON c.vec_id = s.neighbor_id)
         WHERE rnk <= 3""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = graft.ann.KMeans.fit(emb, "vec_id", "embedding", k = 16, iters = 2)
      val cb = graft.ann.Pq.fit(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
      graft.ann.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cents, cb, k = 3, probes = 12, r = 30)
    },

    // q127 with RESIDUAL encoding — FAISS's by_residual=true, the
    // production IVFADC: the PQ codebooks train on x − centroid(cell)
    // (element-exact double subtraction, so both engines derive the same
    // residuals) and the ADC reconstruction is centroid + codeword
    // concat. Residuals are what keep PQ codes discriminative inside
    // tight clusters (the 10× decade ladder in SCALING.md measures the
    // raw-code collapse this fixes); this query pins the residual
    // training + encode + search arithmetic against the oracle end to
    // end, at the same probe/shortlist settings as q127.
    QueryDef("q129_ann_ivfpq_residual", Seq("J12", "A5"),
      s"""WITH ${trainedCellsCte()},
         probes AS (
           SELECT vec_id AS query_id, v AS qv, cid FROM (
             SELECT t.vec_id, t.v, c.cid,
               row_number() OVER (PARTITION BY t.vec_id
                 ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
             FROM v t CROSS JOIN c2 c WHERE t.vec_id < 10) WHERE rn <= 12),
         res AS (
           SELECT e.vec_id, e.cid,
             list_transform(list_zip(e.v, cc.cent), s -> s[1] - s[2]) AS rv
           FROM cells e JOIN c2 cc USING (cid)),
         ${pqTrainingCte("res", "rv")},
         recon AS (
           SELECT r.vec_id, e.cid,
             list_transform(list_zip(cc.cent, r.prv), s -> s[1] + s[2]) AS rv
           FROM precon r
           JOIN cells e ON e.vec_id = r.vec_id
           JOIN c2 cc ON cc.cid = e.cid),
         short AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(p.qv, e.rv), 6) DESC, e.vec_id) AS rn
             FROM probes p JOIN recon e USING (cid)
             WHERE e.vec_id <> p.query_id) WHERE rn <= 30)
         SELECT query_id, rnk, neighbor_id, cosine FROM (
           SELECT s.query_id, s.neighbor_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, s.neighbor_id) AS rnk
           FROM short s
           JOIN v q ON q.vec_id = s.query_id
           JOIN v c ON c.vec_id = s.neighbor_id)
         WHERE rnk <= 3""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = graft.ann.KMeans.fit(emb, "vec_id", "embedding", k = 16, iters = 2)
      val cb = graft.ann.Pq.fitResidual(emb, "vec_id", "embedding", cents,
        m = 8, k = 16, iters = 2)
      graft.ann.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cents, cb, k = 3, probes = 12, r = 30, residual = true)
    },

    // The tree-quantizer IVF search — the k ∝ N production path the 10×
    // recall ladder endorses (nlist = 64 via 8 branches × 8 leaves),
    // promoted from probe-only to the oracle-checked inventory: routing
    // costs k1 + branchProbes·k2 = 32 cosines per query instead of the
    // flat quantizer's 64, and corpus assignment pays k1 + k2 = 16
    // instead of 64 — the arithmetic that keeps assignment off the
    // critical path once cell count grows with the corpus. The oracle
    // replays BOTH training levels (the shared Lloyd CTE at k1=8, then
    // the per-branch leaf training), the branch-then-leaf probe routing
    // (best 3 branches, then the 12 best cells among their leaves —
    // scan fraction 12/64 ≈ 0.19), and the cell-join search.
    // KMeansSpec gates recall@10 ≥ 0.9 at scan fraction ≤ 0.25 on the
    // planted clustered corpus for this exact routing.
    QueryDef("q138_ann_ivf_tree", Seq("J12", "A5"),
      treeIvfSearchSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val tq = graft.ann.KMeans.fitTree(emb, "vec_id", "embedding",
        k1 = 8, k2 = 8, iters = 2)
      graft.ann.Knn.ivfTopKTree(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", tq, k = 3, probes = 12, branchProbes = 3)
    },

    // Train-once / search-many on the PRODUCTION quantizer: q138's
    // two-level tree index PERSISTED beside the corpus (the q134
    // revalidating-cache idiom — key = corpus fingerprint + tree shape
    // + KMeans.recipeVersion, so a regenerated corpus or a recipe
    // change retrains while a rerun loads). The deterministic recipe
    // makes the staged tree equal the freshly-trained one, so this
    // shares q138's oracle VERBATIM. At 100 TB this is the composed
    // production shape SCALING.md names: cell count ∝ N via the tree,
    // training amortized over every search, and the search path paying
    // only a ≤(k1·k2+k1)×64-double load + the same cell join + bounded
    // top-k as the train-in-query twin.
    QueryDef("q141_ann_tree_persisted", Seq("J12", "A5"),
      treeIvfSearchSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (k1, k2, it) = (8, 8, 2)
      val dir = graft.sources.ZOrder.ensureStagedDir(
        s"graft_ivf_tree_v${graft.ann.KMeans.recipeVersion}_s${k1}x${k2}i$it",
        d, s"$d/embeddings.parquet") { target =>
        import s.implicits._
        val tq = graft.ann.KMeans.fitTree(emb, "vec_id", "embedding", k1, k2, it)
        // one row per (branch, leaf) + one per branch centroid (l = -1):
        // enough to reconstruct the TreeQuantizer exactly
        val rows =
          tq.branches.map { case (b, c) => (b, -1, c) } ++
          tq.leaves.zipWithIndex.flatMap { case (ls, b) =>
            ls.zipWithIndex.map { case (c, l) => (b, l, c) } }
        rows.toDF("b", "l", "cent").coalesce(1)
          .write.mode("overwrite").parquet(target)
      }
      val loaded = StateFs.readParquet(s, dir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      val branches = loaded.filter(_._2 == -1).sortBy(_._1)
        .map { case (b, _, c) => (b, c) }.toSeq
      val leaves = branches.map { case (b, _) =>
        loaded.filter(x => x._1 == b && x._2 >= 0).sortBy(_._2).map(_._3).toSeq
      }
      val tq = graft.ann.KMeans.TreeQuantizer(branches, leaves, k2)
      graft.ann.Knn.ivfTopKTree(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", tq, k = 3, probes = 12, branchProbes = 3)
    },

    // q129 at the FAISS-shaped settings the 10× recall ladder endorses —
    // nlist = 64 (cell count ∝ corpus) and 8-BIT codebooks (256 codewords
    // per subspace, the FAISS default): the config that scores 0.958 on
    // the planted decade corpus where q129's nlist=16/4-bit rung
    // collapses to 0.118. Same residual arithmetic (codes quantize
    // x − centroid(cell), ADC reconstructs centroid + codeword concat),
    // same two-stage search; probes=16 keeps the scan fraction at 0.25
    // and r = 10·k bounds the exact-rerank refetch. The oracle replays
    // the 64-cell coarse training, the 8×256 residual codebook training,
    // the probe routing, the ADC shortlist, and the rerank end to end.
    QueryDef("q139_ann_ivfpq_faiss", Seq("J12", "A5"),
      faissIvfPqSearchSql()) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val cents = graft.ann.KMeans.fit(emb, "vec_id", "embedding", k = 64, iters = 2)
      val cb = graft.ann.Pq.fitResidual(emb, "vec_id", "embedding", cents,
        m = 8, k = 256, iters = 2)
      graft.ann.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },

    // The persisted twin of q139 — the LAST index family to get the
    // train-once/search-many idiom (flat IVF has q134, the tree q141):
    // the complete FAISS-shaped index state (64 coarse centroids + the
    // 8x256 residual codebooks) staged beside the corpus, keyed on
    // corpus fingerprint + index shape + KMeans.recipeVersion. The
    // deterministic recipes make the loaded index equal the freshly
    // trained one, so this shares q139's oracle VERBATIM while the
    // bench measures what persistence buys: the search path pays only
    // the row-local encode + cell join + bounded top-k, with BOTH
    // trainings amortized away.
    QueryDef("q144_ann_ivfpq_persisted", Seq("J12", "A5"),
      faissIvfPqSearchSql()) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d)
      graft.ann.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },

    // WITHIN-STREAM semantic near-dup — the composition q143 leaves
    // open (q143 gates arrivals against the STANDING corpus; this finds
    // near-dups BETWEEN arrivals): a stream-stream SELF interval join
    // on the tree cell. Both sides are the same arriving vector stream,
    // cells assigned row-locally off the literal quantizer; a pair
    // (a, b) emits iff same cell, b within 2 hours AFTER a, and
    // cosine ≥ τ. Event time is REAL: vector k ingests at the events
    // table's event-k timestamp, attached once at the batch staging
    // step — the stream carries an honest timestamp column, not
    // id-derived time. Event ts is strictly increasing over the corpus
    // id range (asserted in the fixtures: min consecutive delta > 0 at
    // every SF), so id order IS arrival order — the a-before-b
    // direction loses no pairs — and the oracle replays the interval
    // through the same deterministic id→ts mapping (the `ing` CTE). At
    // sf0.01 the corpus timeline spans ~34 h, so the 2 h interval
    // BINDS there (14 pairs emitted, 138 same-cell over-threshold
    // pairs excluded): a wrong bound/unit/direction is oracle-caught,
    // not vacuously passed. Append-mode inner join emits each pair
    // exactly once; state = both sides' vectors inside watermark +
    // interval PER CELL — bounded by the horizon, not the stream,
    // exactly q130's contract with the quantizer as the join key. At
    // 100 TB/day this is the dedup-at-ingest shape for the stream
    // itself, beside q143's gate against history.
    QueryDef("q146_stream_semdedup_pairs", Seq("J12", "A10"),
      s"""WITH ${treeCellsCte()},
         ing AS (SELECT event_id AS vec_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
         tc AS (SELECT t.vec_id, t.v, t.cell, i.sec
                FROM tcells t JOIN ing i USING (vec_id))
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
         FROM tc a JOIN tc b ON a.cell = b.cell
           AND b.vec_id > a.vec_id AND b.sec >= a.sec AND b.sec <= a.sec + 7200
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3""") { (s0, d) =>
      val emb = Tables.embeddings(s0, d)
      val side = graft.dedup.SemDedup.cellSide(emb.count())
      val tq = graft.ann.KMeans.fitTree(emb, "vec_id", "embedding",
        k1 = side, k2 = side, iters = 2)
      // the id→ts map: one batch-side join at staging, so the staged
      // stream carries the real ingest second per vector
      val ingest = Tables.events(s0, d)
        .select(col("event_id").as("vec_id"),
          EventQueries.nsToSec("ts").as("ingest_sec"))
      val src = emb.select("vec_id", "embedding").join(ingest, "vec_id")
      val s = EventQueries.streamSession(s0)
      val sinkName = "graft_stream_semdedup_pairs"
      // ranged on INGEST TIME, not vec_id: at 1× the two orders
      // coincide (ts monotone in id over the corpus range), but the
      // scale probe's copies reuse the base timeline under offset ids —
      // ranging on vec_id there would drain whole copies sequentially,
      // park the watermark at the window's end after the first batch,
      // and silently drop every later copy as late (a ~3/4-of-input
      // discard the state gate then measures as a vacuously small
      // peak). Time-ranged staging replays arrival order at ANY scale.
      val in = EventQueries.stageRangedDrain(src, 2, "ingest_sec", "graft_ssp_")
      def sideStream(p: String) =
        graft.dedup.SemDedup.assignCellsTree(
            s.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", 1).parquet(in),
            "vec_id", "embedding", tq, keep = Seq("ingest_sec"))
          .select(col("cid").as(s"${p}_cid"), col("vec_id").as(s"${p}_id"),
            col("__v").as(s"__v$p"),
            timestamp_seconds(col("ingest_sec")).as(s"${p}_ts"))
          .withWatermark(s"${p}_ts", "1 hour")
      val joined = sideStream("a").join(sideStream("b"),
          expr("a_cid = b_cid AND b_id > a_id" +
            " AND b_ts >= a_ts AND b_ts <= a_ts + interval 2 hours"))
        .withColumn("cosine", // once — Filter and Project don't share CSE
          round(graft.functions.VectorFns.cosine(col("__va"), col("__vb")), 6))
        .filter(col("cosine") >= 0.3)
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"), col("cosine"))
      val sink = EventQueries.drainStaged(in, sinkName)(joined)
      sink.select("id_a", "id_b", "cosine")
    },

    // The COMPLETE at-rest serving shape: q144 persists the codebooks
    // but still re-encodes the corpus per query; q145 also persists the
    // per-vector (cell, codes) table — the literal 4 + m bytes per
    // vector FAISS keeps — and searches from it via ivfPqTopKFromIndex:
    // no assignment, no encoding, just reconstruction off the literal
    // codebooks, the cell join, and the bounded top-k stages (the exact
    // rerank still refetches only the broadcast Q·r shortlist at full
    // width). Shares q139's oracle verbatim — the deterministic recipes
    // make staged state equal freshly-derived state at every layer.
    QueryDef("q145_ann_ivfpq_coded", Seq("J12", "A5"),
      faissIvfPqSearchSql()) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d)
      val codesDir = graft.sources.ZOrder.ensureStagedDir(
        s"graft_ivfpq_codes_$faissKeySuffix",
        d, s"$d/embeddings.parquet") { target =>
        graft.ann.Pq.encode(emb, "vec_id", "embedding", cents, cb,
          residual = true).write.mode("overwrite").parquet(target)
      }
      graft.ann.Pq.ivfPqTopKFromIndex(StateFs.readParquet(s, codesDir),
        emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },


    // q106's semantic dedup at the k ∝ N cell-count rule — the config
    // that removes the admitted quadratic bend from the checked surface:
    // cells come from the TREE quantizer with side = round(sqrt(N/8))
    // (target cell occupancy ~8, so the within-cell pairwise term is
    // constant per cell while the cell count absorbs corpus growth, and
    // assignment pays 2·side cosines per row instead of side²). The
    // oracle's `side` CTE replays the SAME rule from the corpus count,
    // so engine and oracle agree at EVERY sf (sf0.01 → 8×8, sf0.1 →
    // 25×25) — the rule itself is under the hash check, not one
    // resolved value of it.
    QueryDef("q140_semdedup_tree", Seq("J12", "A10"),
      s"""WITH ${treeCellsCte()},
         dups AS (
           SELECT DISTINCT b.vec_id
           FROM tcells a JOIN tcells b ON a.cell = b.cell AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3)
         SELECT vec_id, cell AS cid FROM tcells
         WHERE vec_id NOT IN (SELECT vec_id FROM dups)""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val side = graft.dedup.SemDedup.cellSide(emb.count())
      val tq = graft.ann.KMeans.fitTree(emb, "vec_id", "embedding",
        k1 = side, k2 = side, iters = 2)
      val cells = graft.dedup.SemDedup.assignCellsTree(emb, "vec_id", "embedding", tq)
        .localCheckpoint(false)
      graft.dedup.SemDedup.semanticDedupOnCells(cells, tau = 0.3)
    },

    // q109's incremental semantic dedup on the PRODUCTION quantizer:
    // the tree trains on HISTORY alone (arriving batches assign against
    // the standing index, never retrain it) at the k ∝ N cell rule —
    // side = cellSide(|history|), which resolves to the oracle's 8×8
    // tree at sf0.01 (|history| = 450 ⇒ round(√56.25) = 8) and grows
    // with the corpus at bench/probe scales. Both sides assign
    // row-locally at 2·side cosines per row; every pair check is
    // within-cell; history joins a BROADCAST of the batch side, so the
    // corpus-sized history never reshuffles. The oracle replays the
    // history-restricted two-level training (treeCellsCte's trainPred)
    // and both flag joins on the tree cells.
    QueryDef("q142_semdedup_incremental_tree", Seq("J12", "A10", "J11"),
      treeIncrementalFlagsSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val history = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val side = graft.dedup.SemDedup.cellSide(history.count())
      val tq = graft.ann.KMeans.fitTree(history, "vec_id", "embedding",
        k1 = side, k2 = side, iters = 2)
      graft.dedup.SemDedup.incrementalSemanticDedupTree(
        history, batch, "vec_id", "embedding", tq, tau = 0.3)
    },

    // STREAMING semantic dedup — the q118 stream-vs-standing-index shape
    // composed with the vector family: arriving vectors assign their
    // tree cell ROW-LOCALLY (the quantizer is plan literals, trained on
    // history alone), then LEFT-OUTER join the static history index on
    // (cell, cosine ≥ τ) — a stream-static join, STATELESS by
    // construction (no watermark, no state store: the standing index is
    // the state, localCheckpointed once so micro-batches don't re-derive
    // the assignment). Append mode emits each (vector, match) pair
    // exactly once — unmatched vectors once with a null match — so the
    // sink read is a plain bool_or per vector. At 100 TB/day this is the
    // ingest-gate shape: the history index is a maintained artifact
    // (q141), each arriving micro-batch pays its own assignment plus a
    // broadcast-sized probe, and nothing about the stream's length
    // accumulates anywhere.
    QueryDef("q143_stream_semdedup", Seq("J12", "A10"),
      s"""WITH ${treeCellsCte("vec_id % 10 <> 0")}
         SELECT c.vec_id, c.cell AS cid,
           EXISTS(SELECT 1 FROM tcells h
                  WHERE h.vec_id % 10 <> 0 AND h.cell = c.cell
                    AND round(list_cosine_similarity(h.v, c.v), 6) >= 0.3)
             AS dup_in_history
         FROM tcells c WHERE c.vec_id % 10 = 0""") { (s0, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val emb = Tables.embeddings(s0, d)
      val history = emb.filter(col("vec_id") % 10 =!= 0)
      val batchSrc = emb.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      val side = graft.dedup.SemDedup.cellSide(history.count())
      val tq = graft.ann.KMeans.fitTree(history, "vec_id", "embedding",
        k1 = side, k2 = side, iters = 2)
      val s = EventQueries.streamSession(s0)
      val sinkName = "graft_stream_semdedup"
      val hIdx = graft.dedup.SemDedup
        .assignCellsTree(Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", tq)
        .select(col("cid").as("hcid"), col("__v").as("__vh"))
        .localCheckpoint(false) // static side re-evaluates per micro-batch otherwise
      val in = EventQueries.stageRangedDrain(batchSrc, 2, "vec_id", "graft_ssem_")
      val stream = graft.dedup.SemDedup.assignCellsTree(
          s.readStream.schema(batchSrc.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          "vec_id", "embedding", tq)
        .join(hIdx,
          col("cid") === col("hcid") &&
            round(graft.functions.VectorFns.cosine(col("__v"), col("__vh")), 6) >= 0.3,
          "left_outer")
        .select(col("vec_id"), col("cid"), col("hcid").isNotNull.as("matched"))
      val sink = EventQueries.drainStaged(in, sinkName)(stream)
      sink.groupBy("vec_id", "cid")
        .agg(max(col("matched")).as("dup_in_history"))
    },

    // UNIFIED streaming semantic dedup — the complete dedup-at-ingest
    // operator, composing in ONE streaming query the two halves the
    // inventory previously split: each arriving vector (a) gates
    // against the STANDING history index (q143's stateless
    // stream-static join) AND (b) pairs against every PRIOR arrival in
    // its cell via per-cell `transformWithState` ListState with TTL
    // (graft.streaming.SemPairs — the q133 machinery carrying vectors).
    // This closes the composition gap q143+q146 left: a near-dup pair
    // whose members BOTH arrive post-history and further apart than
    // q146's join interval is caught here, because "prior" is the
    // cell's whole retained state, not an event-time interval. State =
    // one row per arrival within the TTL horizon PER CELL — the
    // production bound is arrival rate × TTL, the lever only the
    // arbitrary-state API exposes (the drain's TTL is far beyond its
    // wall time, so nothing expires mid-drain and the flags replay the
    // batch rule exactly — which is why this shares q142's oracle
    // VERBATIM: the streaming composition provably computes the batch
    // semantics). Processing order is pinned to vec_id (batch rows
    // sorted, staged ranges ascending), so dup_in_batch = "exists
    // lower-id same-cell arrival with round(cosine,6) ≥ τ" — q142's
    // order-free one-pass rule. The history side joins AFTER the
    // stateful operator (stateless stream-static, index
    // localCheckpointed once), so the corpus never enters the state
    // store; the sink aggregate collapses the gate join's per-match
    // rows idempotently.
    QueryDef("q147_stream_semdedup_unified", Seq("J12", "A10", "J11"),
      treeIncrementalFlagsSql) { (s0, d) =>
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import graft.streaming.SemPairs
      val emb = Tables.embeddings(s0, d)
      val history = emb.filter(col("vec_id") % 10 =!= 0)
      val batchSrc = emb.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      val side = graft.dedup.SemDedup.cellSide(history.count())
      val tq = graft.ann.KMeans.fitTree(history, "vec_id", "embedding",
        k1 = side, k2 = side, iters = 2)
      val s = EventQueries.streamSession(s0)
      // transformWithState requires the RocksDB provider — set for every
      // drain by streamSession (with changelog checkpointing)
      val sinkName = "graft_stream_semdedup_unified"
      val hIdx = graft.dedup.SemDedup
        .assignCellsTree(Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", tq)
        .select(col("cid").as("hcid"), col("__v").as("__vh"))
        .localCheckpoint(false) // static side re-evaluates per micro-batch otherwise
      val in = EventQueries.stageRangedDrain(batchSrc, 2, "vec_id", "graft_ssu_")
      implicit val arrEnc: org.apache.spark.sql.Encoder[SemPairs.Arrival] =
        org.apache.spark.sql.Encoders.product[SemPairs.Arrival]
      implicit val verEnc: org.apache.spark.sql.Encoder[SemPairs.Verdict] =
        org.apache.spark.sql.Encoders.product[SemPairs.Verdict]
      implicit val keyEnc: org.apache.spark.sql.Encoder[Long] =
        org.apache.spark.sql.Encoders.scalaLong
      val paired = graft.dedup.SemDedup.assignCellsTree(
          s.readStream.schema(batchSrc.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          "vec_id", "embedding", tq)
        .select(col("cid"), col("vec_id"),
          transform(col("__v"), x => x.cast("double")).as("v"))
        .as[SemPairs.Arrival]
        .groupByKey(_.cid)
        // TimeMode.None + no TTL for the drain: nothing may expire
        // mid-drain anyway (the oracle replays the full pair set), and
        // a TTL's ProcessingTime mode never terminates under
        // AvailableNow (see CellPairs' Scaladoc) — the live-stream
        // configuration (ProcessingTime + TTL) is spec-driven instead
        .transformWithState(
          new SemPairs.CellPairs(0.3, ttl = None),
          TimeMode.None(), OutputMode.Update())
      val flagged = paired.toDF()
        .join(hIdx,
          col("cid") === col("hcid") &&
            round(graft.functions.VectorFns.cosine(col("v"), col("__vh")), 6) >= 0.3,
          "left_outer")
        .select(col("vec_id"), col("cid"), col("dup_in_batch"),
          col("hcid").isNotNull.as("matched"))
      val sink = EventQueries.drainStaged(in, sinkName, update = true)(flagged)
      sink.groupBy("vec_id", "cid", "dup_in_batch")
        .agg(max(col("matched")).as("dup_in_history"))
        .select("vec_id", "cid", "dup_in_history", "dup_in_batch")
    },

    // INCREMENTAL INDEX APPEND — the FAISS add() analogue, the serving
    // operation a daily-refresh pipeline (the reference's own cadence,
    // GUIDE.md:458) runs between retrains: the q144/q145 index state is
    // trained and frozen on HISTORY (vec_id % 10 <> 0); an arriving
    // delta is encoded against the FROZEN codebooks — row-local, delta-
    // sized work, no retraining, no re-encoding of the standing corpus —
    // and appended as its own coded segment beside the history segment;
    // search runs over the segment union. Without this, q141/q144/q145's
    // whole-corpus cache keys make ANY append a full retrain+re-encode —
    // the one remaining scale-killer in the serving story. A RECALL
    // DRIFT GATE guards the freeze: the searched result is scored
    // against the exact brute-force truth for the query set each run,
    // and if recall falls below 0.7 the query falls back to a full
    // retrain (PqAppendSpec plants a drifted delta to prove the gate
    // trips and the retrain restores recall; on this corpus the append
    // path measures ≥0.9 and is the path the oracle checks). The oracle
    // is the shared FAISS text with BOTH trainings restricted to
    // history — encoding/search still cover every vector, so it replays
    // exactly the frozen-codebooks-over-union semantics.
    QueryDef("q148_ann_ivfpq_append", Seq("J12", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d, histOnly = true)
      val (histCodesDir, deltaCodesDir) = appendedFaissSegments(s, d, cents, cb)
      val index = StateFs.readParquet(s, histCodesDir)
        .unionByName(StateFs.readParquet(s, deltaCodesDir))
      val queries = emb.filter(col("vec_id") < 10)
      val approx = graft.ann.Pq.ivfPqTopKFromIndex(index, emb, queries,
        "vec_id", "embedding", cents, cb, k = 3, probes = 16, r = 30,
        residual = true)
      // drift gate: exact truth is Q·N cosines over the broadcast query
      // side — trivial beside the search, and the measurement that makes
      // "the frozen index still serves this corpus" a checked claim
      val exact = graft.ann.Knn.bruteForceTopK(emb, queries,
        "vec_id", "embedding", 3)
      val rec = graft.ann.Knn.recall(exact, approx)
      if (rec < 0.7) {
        // Loud, greppable marker: the oracle is pinned to the FROZEN
        // history-trained index, so a gate trip during an oracle run
        // would otherwise surface as an opaque hash mismatch. Announce
        // the trip so the mismatch is attributable to drift, not a
        // search regression (PqAppendSpec drives the trip deliberately).
        System.err.println(
          f"[graft] q148 DRIFT GATE TRIPPED: recall $rec%.3f < 0.7 — " +
            "falling back to full retrain; oracle comparison WILL diverge")
        val (cFull, cbFull) = persistedFaissIndex(s, d)
        graft.ann.Pq.ivfPqTopK(emb, queries, "vec_id", "embedding",
          cFull, cbFull, k = 3, probes = 16, r = 30, residual = true)
      } else approx
    },

    // SEGMENT COMPACTION — the maintenance step q148's append implies:
    // repeated daily appends leave the index as a pile of small coded
    // segments; compaction rewrites their union into ONE cell-clustered
    // segment (repartitioned on cell, sorted by (cell, vec_id) within
    // partitions — Pq.compactIndex), the LSM-style rewrite that keeps
    // the at-rest layout scannable. Pure layout, identical row set, so
    // this shares q148's oracle VERBATIM — the q96/q134 contract
    // applied to index maintenance. The search additionally pushes the
    // query set's probed cells into the index scan (prefilterCells):
    // over the clustered layout the cell predicate reaches the parquet
    // reader and row groups outside the probed 16-of-64 cells are
    // skipped from footer stats — the read profile a 100 TB serving
    // index actually has (PlanBudgetSpec asserts the pushed filter;
    // PqAppendSpec pins compacted == segmented results).
    QueryDef("q149_ann_segment_compact", Seq("J12", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d, histOnly = true)
      val (histCodesDir, deltaCodesDir) = appendedFaissSegments(s, d, cents, cb)
      val compactDir = graft.sources.ZOrder.ensureStagedDir(
        s"graft_ivfpq_codes_compact_$faissKeySuffix",
        d, s"$d/embeddings.parquet") { target =>
        graft.ann.Pq.compactIndex(
            Seq(StateFs.readParquet(s, histCodesDir), StateFs.readParquet(s, deltaCodesDir)))
          .write.mode("overwrite").parquet(target)
      }
      graft.ann.Pq.ivfPqTopKFromIndex(StateFs.readParquet(s, compactDir), emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", cents, cb,
        k = 3, probes = 16, r = 30, residual = true, prefilterCells = true)
    },

    // STREAMING INDEX-DRIFT MONITOR — the observability side of the
    // q148 drift gate, run where drift actually shows up first: at
    // ingest. Each arriving vector's ROUTING FIT (its cosine to the
    // tree cell it was assigned — the quantity whose decay means the
    // frozen quantizer no longer describes the stream) feeds a
    // watermarked hourly windowed aggregation on the arrival's REAL
    // ingest time (q146's events map), emitting per-hour arrival count
    // and mean fit — the time series a production pipeline alerts on
    // to schedule the q148 retrain. Update mode: a window re-emits
    // when its cumulative (n, avg) changes, and n is strictly
    // increasing, so max(struct(n, avg)) over the sink reconstructs
    // each window's final row (the q74 recipe). State = live windows
    // inside the watermark — FLAT in arrival rate (the decade probe
    // gates it): rate moves n per window, never the window count.
    // The cell-centroid lookup is a plan literal (≤ k1·k2 × dim
    // doubles), so the fit is row-local — the monitor adds one
    // windowed agg to the ingest path and nothing else.
    QueryDef("q150_stream_drift_monitor", Seq("A5", "A11"),
      s"""WITH ${treeCellsCte("vec_id % 10 <> 0")},
         ing AS (SELECT event_id AS vec_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
         fit AS (
           SELECT t.vec_id, i.sec,
             round(list_cosine_similarity(t.v, c.cent), 6) AS fit
           FROM tcells t
           JOIN lc2 c ON (t.cell // $treeSideRef) = c.b AND (t.cell % $treeSideRef) = c.l
           JOIN ing i USING (vec_id)
           WHERE t.vec_id % 10 = 0)
         SELECT CAST(sec // 3600 AS BIGINT) * 3600 AS hour_epoch,
           count(*) AS n, round(avg(fit), 4) AS avg_fit
         FROM fit GROUP BY hour_epoch""") { (s0, d) =>
      val emb = Tables.embeddings(s0, d)
      val history = emb.filter(col("vec_id") % 10 =!= 0)
      val side = graft.dedup.SemDedup.cellSide(history.count())
      val tq = graft.ann.KMeans.fitTree(history, "vec_id", "embedding",
        k1 = side, k2 = side, iters = 2)
      // flat cell-id → centroid literal (missing leaf slots of an
      // under-populated branch keep the branch centroid; no row is ever
      // assigned to them, the filler only keeps ids positional)
      val cellCents: Seq[Seq[Double]] = tq.branches.zip(tq.leaves).flatMap {
        case ((_, bc), ls) => ls.padTo(tq.k2, bc)
      }
      val ingest = Tables.events(s0, d)
        .select(col("event_id").as("vec_id"),
          EventQueries.nsToSec("ts").as("ingest_sec"))
      val src = emb.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding").join(ingest, "vec_id")
      val s = EventQueries.streamSession(s0)
      val sinkName = "graft_stream_drift_monitor"
      val in = EventQueries.stageRangedDrain(src, 2, "ingest_sec", "graft_sdm_")
      val fit = round(graft.functions.VectorFns.cosine(col("__v"),
        element_at(typedlit(cellCents), (col("cid") + 1).cast("int"))), 6)
      val stream = graft.dedup.SemDedup.assignCellsTree(
          s.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1).parquet(in),
          "vec_id", "embedding", tq, keep = Seq("ingest_sec"))
        .select(fit.as("fit"),
          timestamp_seconds(col("ingest_sec")).as("tsec"))
        .withWatermark("tsec", "1 hour")
        .groupBy(window(col("tsec"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), round(avg("fit"), 4).as("avg_fit"))
        .select(unix_timestamp(col("w.start")).as("hour_epoch"),
          col("n"), col("avg_fit"))
      val sink = EventQueries.drainStaged(in, sinkName, update = true)(stream)
      sink.groupBy("hour_epoch")
        .agg(max(struct(col("n"), col("avg_fit"))).as("m"))
        .select(col("hour_epoch"), col("m.n").as("n"), col("m.avg_fit").as("avg_fit"))
    },

    // INDEX DELETES VIA TOMBSTONES — the missing LSM half of the
    // q148/q149 append+compact lifecycle: the coded index is
    // append-only, so when dedup produces a drop-list (q106/q140/q147)
    // or a takedown/retention delete lands, the deleted vec_ids are
    // recorded as a TOMBSTONE SEGMENT and serving anti-joins it out —
    // without this, a deleted vector stays searchable until the next
    // full retrain (the reference's own daily refresh cadence,
    // GUIDE.md:458, hits this on day two). The tombstone side is by
    // definition small (it IS the data being deleted, bounded by delete
    // rate × compaction cadence), so it BROADCASTS and the coded corpus
    // never shuffles; the next q149-style compaction passes the same
    // set to Pq.compactIndex, which physically drops the rows
    // (PqTombstoneSpec pins post-compact == pre-compact-minus-
    // tombstones, zero tombstoned rows at rest, and anti-join serving
    // == compacted serving). The fixture's drop-list is
    // predicate-defined (vec_id % 7 = 3) so the oracle can replay it,
    // but it reaches the engine as DATA — a one-column DataFrame of
    // ids, exactly what the dedup family emits. The oracle is the
    // shared FAISS text with the serve-side predicate excluding the
    // dropped set: codes for deleted rows still exist at rest (the
    // oracle's CTEs replay them) but can never be returned.
    QueryDef("q151_ann_tombstone_delete", Seq("J12", "F4", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0", servePred = "e.vec_id % 7 <> 3")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d, histOnly = true)
      val (histCodesDir, deltaCodesDir) = appendedFaissSegments(s, d, cents, cb)
      val index = StateFs.readParquet(s, histCodesDir)
        .unionByName(StateFs.readParquet(s, deltaCodesDir))
      // the drop-list as data: one column of vec_ids, the dedup-family
      // output shape (q140's drop-list is exactly this frame)
      val tombstones = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
      graft.ann.Pq.ivfPqTopKFromIndex(
        graft.ann.Pq.withoutTombstones(index, tombstones),
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },

    // STREAMING INGEST → INDEX APPEND — the composition q148 and q150
    // each did half of: q150 WATCHES the arrival stream for drift, q148
    // appends a BATCH delta; this query makes an arriving vector
    // SEARCHABLE AT INGEST. A `foreachBatch` segment writer encodes
    // each micro-batch against the FROZEN history-trained codebooks
    // (Pq.encode — row-local, plan-literal codebooks, so each batch
    // costs exactly its own rows and the standing corpus is never
    // touched) and lands it as its own coded micro-segment; search
    // serves history ∪ all landed micro-segments through the one
    // ivfPqTopKFromIndex definition. This is the streaming half of the
    // LSM lifecycle: micro-segments accumulate at trigger cadence
    // (NOT data volume — rate moves rows per segment, never segment
    // count), q149's compaction periodically folds them into one
    // clustered segment, q151's tombstones delete from them. Each
    // landed segment's (batchId, rows) is recorded in StreamMetrics'
    // segment ledger — the scaling evidence for a query whose
    // foreachBatch sink has no state operators to meter. Encoding is
    // deterministic and row-local, so the served row SET is identical
    // however the files split into batches — which is why this shares
    // q148's oracle VERBATIM: frozen-codebooks-over-union semantics,
    // independent of arrival batching.
    QueryDef("q152_stream_index_append", Seq("J12", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0")) { (s0, d) =>
      val emb = Tables.embeddings(s0, d)
      val (cents, cb) = persistedFaissIndex(s0, d, histOnly = true)
      val histCodesDir = historyFaissSegment(s0, d, cents, cb)
      val s = EventQueries.streamSession(s0)
      val batchSrc = emb.filter(col("vec_id") % 10 === 0)
        .select("vec_id", "embedding")
      val segRoot = EventQueries.foldDrain(s,
          EventQueries.stageRangedDrain(batchSrc, 4, "vec_id", "graft_sia_"),
          batchSrc.schema, "graft_stream_index_append") { (root, b, id) =>
        val seg = s"$root/rows/seg-$id"
        graft.ann.Pq.encode(b, "vec_id", "embedding", cents, cb,
          residual = true).write.mode("overwrite").parquet(seg)
        // ledger count from the LANDED files' footers (no job), so the
        // ledger describes what committed, not what was attempted
        StateFs.parquetFooterRows(seg)
      }
      // rows/ appears only when a batch actually commits (the
      // drainToParquet empty-drain contract applied to segments)
      val streamed = if (!StateFs.exists(s"$segRoot/rows"))
        StateFs.readParquet(s, histCodesDir).limit(0)
      else segments(s, s"$segRoot/rows")
      graft.ann.Pq.ivfPqTopKFromIndex(
        StateFs.readParquet(s, histCodesDir).unionByName(streamed),
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },

    // LIFECYCLE DAY-N: DELETES PHYSICALLY APPLIED AT COMPACTION — the
    // composition the q148-q152 pieces build toward, as one serving
    // state: history segment ∪ appended delta, MINUS the tombstone set,
    // folded by Pq.compactIndex into one cell-clustered segment, served
    // with the probed-cell predicate pushed into the scan. q151 is the
    // LOGICAL delete (serving anti-joins the tombstones out of the
    // at-rest union — the state between compactions); this is the
    // PHYSICAL delete (the maintenance rewrite drops the rows, after
    // which serving pays no anti-join at all). Same served row set by
    // construction, so both share ONE oracle text (the q96/q134
    // contract applied to the delete path — an oracle fix cannot reach
    // one and miss the other), and PqTombstoneSpec pins the equality at
    // the API level. At 100 TB this is the steady-state read profile:
    // deletes cost nothing at query time once compaction has run, and
    // the clustered layout keeps row groups outside the probed 16-of-64
    // cells pruned from footer stats.
    QueryDef("q154_ann_lifecycle_compacted_delete", Seq("J12", "F4", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0", servePred = "e.vec_id % 7 <> 3")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d, histOnly = true)
      val (histCodesDir, deltaCodesDir) = appendedFaissSegments(s, d, cents, cb)
      // the same drop-list shape q151 serves around — here it is
      // APPLIED, not worked around: compaction's output holds zero
      // tombstoned rows at rest
      val tombstones = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
      val compactDir = graft.sources.ZOrder.ensureStagedDir(
        s"graft_ivfpq_codes_compactdel_$faissKeySuffix",
        d, s"$d/embeddings.parquet") { target =>
        graft.ann.Pq.compactIndex(
            Seq(StateFs.readParquet(s, histCodesDir), StateFs.readParquet(s, deltaCodesDir)),
            tombstones = Some(tombstones))
          .write.mode("overwrite").parquet(target)
      }
      graft.ann.Pq.ivfPqTopKFromIndex(StateFs.readParquet(s, compactDir), emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", cents, cb,
        k = 3, probes = 16, r = 30, residual = true, prefilterCells = true)
    },

    // AS-OF SNAPSHOT SERVING — time travel over the appended index,
    // the read-side twin of q152's ingest: delta codes land PARTITIONED
    // BY GENERATION (ingest day — here the deterministic gen =
    // (vec_id / 10) % 4, cycling the delta through all four days, so
    // the oracle can replay it), and "search the index as
    // of generation g" is a PARTITION FILTER: `gen <= 1` prunes the
    // later generations' directories at FILE level — the scan never
    // opens them (PlanBudgetSpec asserts the PartitionFilters and the
    // 2-of-4 partition count). No rewind rewrite, no segment copy: a
    // snapshot is a predicate over at-rest layout, which is what makes
    // reproducing yesterday's search results — the audit ask behind
    // every training-data lineage question — O(served data) instead of
    // O(restore). History rides unpartitioned beside it (generation
    // "day 0"). Oracle: the shared FAISS text with the serve predicate
    // restricted to history ∪ generations ≤ 1 — codes for later
    // generations exist at rest but can never be returned, q151's
    // tombstone contract with the sign flipped.
    QueryDef("q157_index_asof_snapshot", Seq("J12", "F1", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0",
        servePred = "(e.vec_id % 10 <> 0) OR ((e.vec_id // 10) % 4 <= 1)")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d, histOnly = true)
      val histCodesDir = historyFaissSegment(s, d, cents, cb)
      val genDir = graft.sources.ZOrder.ensureStagedDir(
        s"graft_ivfpq_codes_asof_g4d10_$faissKeySuffix",
        d, s"$d/embeddings.parquet") { target =>
        graft.ann.Pq.encode(emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", cents, cb, residual = true)
          .withColumn("gen", expr("CAST((vec_id DIV 10) % 4 AS INT)"))
          .write.mode("overwrite").partitionBy("gen").parquet(target)
      }
      val asOf = StateFs.readParquet(s, genDir, StructField("gen", IntegerType))
        .filter(col("gen") <= 1).drop("gen")
      graft.ann.Pq.ivfPqTopKFromIndex(
        StateFs.readParquet(s, histCodesDir).unionByName(asOf),
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },

    // AS-OF BY TIMESTAMP, UNIFIED ON THE GENERATION STORE (round 19) —
    // q157 asked "the index as of generation 1" with a hand-rolled gen
    // partition column; here the SAME four ingest days commit through
    // BucketedGens — the machinery the dedup labels and the survivor
    // manifest already ride — one owners marker per day, stamped with
    // the day's commit time (bucket = ingest day, each day owning
    // exactly its own appended partition). The payoff is ONE policy for
    // every maintained artifact: "the index as the trainer saw it on
    // day 1, 23:00" resolves through the same BucketedGens.genAsOf that
    // answers q192's manifest question, retention is the same
    // keepSince/pins/keepLast knobs (an index generation inside the
    // audit window survives vacuum exactly like a manifest generation —
    // StateLayerSpec pins that machinery), and the read is the same
    // owners-closure bucket-pruned union. Same served row set as q157
    // by construction (day ≤ 1), so the oracle text is q157's verbatim
    // — asking by time through the unified store must return exactly
    // what the hand-rolled partition filter did.
    QueryDef("q193_index_asof_time", Seq("J12", "F1", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0",
        servePred = "(e.vec_id % 10 <> 0) OR ((e.vec_id // 10) % 4 <= 1)")) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val (cents, cb) = persistedFaissIndex(s, d, histOnly = true)
      val histCodesDir = historyFaissSegment(s, d, cents, cb)
      def tsOf(day: Long): Long = java.time.LocalDate.of(2026, 6, 1)
        .plusDays(day).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli
      val genRoot = graft.sources.ZOrder.ensureStagedDir(
        s"graft_ivfpq_codes_asofbg_g4d10_$faissKeySuffix",
        d, s"$d/embeddings.parquet") { target =>
        EventQueries.multiWriteStage(target) { stage =>
          val coded = graft.ann.Pq.encode(emb.filter(col("vec_id") % 10 === 0),
            "vec_id", "embedding", cents, cb, residual = true)
            .withColumn("bucket", expr("CAST((vec_id DIV 10) % 4 AS INT)"))
            .localCheckpoint() // four per-day writes + one count pass
          // per-day row counts in ONE bounded job (4 rows) — the owners
          // markers carry cumulative standing counts
          val perDay = coded.groupBy("bucket").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          (0 to 3).foreach { day =>
            BucketedGens.writeBucketed(coded.filter(col("bucket") === day),
              s"$stage/gen-$day")
            // day g's owners: every day ≤ g owns its own appended
            // bucket — append-only LSM expressed in owners-map terms
            BucketedGens.commit(stage, day,
              (0 to day).map(b => b -> b.toLong).toMap,
              rows = (0 to day).map(b => perDay.getOrElse(b, 0L)).sum,
              ts = Some(tsOf(day)))
          }
          // payloads live in gen-* subdirs — the staging cache's
          // completeness marker is written manually (stagedCcState's rule)
          StateFs.touch(s"$stage/_SUCCESS")
        }
      }
      // "as of day 1, 23:00" — after day 1's commit, before day 2's —
      // must resolve generation 1 through the SAME genAsOf as q192
      val gen1 = BucketedGens.genAsOf(genRoot, tsOf(1) + 23L * 3600 * 1000)
        .getOrElse(sys.error("q193: no generation committed at or before the ask"))
      require(gen1.genId == 1L,
        s"q193: as-of day-1 must resolve generation 1, got ${gen1.genId}")
      val asOf = BucketedGens.read(s, genRoot, Some(gen1),
          StateFs.readParquet(s, histCodesDir).limit(0)
            .withColumn("bucket", lit(0))) // AtRest never referenced here
        .drop("bucket")
      graft.ann.Pq.ivfPqTopKFromIndex(
        StateFs.readParquet(s, histCodesDir).unionByName(asOf),
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },

    // STREAMED TOMBSTONES → INDEX — the last unbuilt LSM step: q152
    // streams APPENDS into the index and q151/q154 apply deletes as a
    // BATCH frame, but the production shape (a GDPR takedown, a dedup
    // drop-list emitted by the live pipeline) is a delete arriving IN
    // THE MICRO-BATCH, and it must make the vector unsearchable at
    // ingest — not at the next batch job. The stream is a unified
    // changelog (op ∈ {I, D}): q152's foreachBatch writer routes I rows
    // through the frozen-codebook encode into coded micro-segments and
    // D rows into per-segment TOMBSTONE dirs; serving is history ∪
    // landed segments anti-joined through the one Pq.withoutTombstones
    // definition. Deletes may target HISTORY rows (ids the stream never
    // appended) and may arrive BEFORE their vector's append — both are
    // safe because tombstones apply at serve over the whole union, so
    // the served row SET is independent of arrival batching, which is
    // why this shares q151's oracle VERBATIM (trained on history,
    // vec_id % 7 = 3 served out — the third query on that one text:
    // logical batch delete, physical compacted delete, and now the
    // streamed delete can never drift apart). The segment ledger
    // records appended rows AND tombstone rows per batch; compaction
    // (q149/q154) later folds segments minus tombstones physically.
    // CheckpointRestartSpec covers the kill+restart between a delete's
    // arrival and its compaction: landed tombstone dirs are the durable
    // state, the checkpoint prevents re-encoding committed batches.
    QueryDef("q164_stream_tombstone_delete", Seq("J12", "F4", "A5"),
      faissIvfPqSearchSql("vec_id % 10 <> 0", servePred = "e.vec_id % 7 <> 3")) { (s0, d) =>
      val emb = Tables.embeddings(s0, d)
      val (cents, cb) = persistedFaissIndex(s0, d, histOnly = true)
      val histCodesDir = historyFaissSegment(s0, d, cents, cb)
      val s = EventQueries.streamSession(s0)
      // the unified changelog: appends carry vectors, deletes carry ids
      // (embedding NULL) — interleaved by vec_id range across the drain
      // files, so most micro-batches carry BOTH ops
      val appends = emb.filter(col("vec_id") % 10 === 0)
        .select(lit("I").as("op"), col("vec_id"), col("embedding"))
      val deletes = emb.filter(col("vec_id") % 7 === 3)
        .select(lit("D").as("op"), col("vec_id"),
          lit(null).cast(emb.schema("embedding").dataType).as("embedding"))
      val changelog = appends.unionByName(deletes)
      val segRoot = EventQueries.foldDrain(s,
          EventQueries.stageRangedDrain(changelog, 2, "vec_id", "graft_std_"),
          changelog.schema, "graft_stream_tombstone_delete") { (root, b, id) =>
        val seg = s"$root/rows/seg-$id"
        val tomb = s"$root/tombs/seg-$id"
        graft.ann.Pq.encode(b.filter(col("op") === "I")
            .select("vec_id", "embedding"),
          "vec_id", "embedding", cents, cb, residual = true)
          .write.mode("overwrite").parquet(seg)
        b.filter(col("op") === "D").select("vec_id")
          .write.mode("overwrite").parquet(tomb)
        // ledger row = appends landed + deletes landed, both from the
        // committed files' footers — the scaling evidence that segment
        // COUNT tracks trigger cadence while rows track volume
        StateFs.parquetFooterRows(seg) + StateFs.parquetFooterRows(tomb)
      }
      val hist = StateFs.readParquet(s, histCodesDir)
      val streamed = if (!StateFs.exists(s"$segRoot/rows"))
        hist.limit(0)
      else segments(s, s"$segRoot/rows")
      val index = hist.unionByName(streamed)
      val served = if (!StateFs.exists(s"$segRoot/tombs")) index
      else graft.ann.Pq.withoutTombstones(index,
        segments(s, s"$segRoot/tombs"))
      graft.ann.Pq.ivfPqTopKFromIndex(served,
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cents, cb, k = 3, probes = 16, r = 30, residual = true)
    },

    // MMR RE-RANK — retrieval diversity, the stage between "top-k by
    // similarity" and "what a RAG context window actually wants": pure
    // cosine top-k returns near-duplicates of each other (by q106's own
    // evidence the corpus HAS semantic duplicates), so maximal marginal
    // relevance greedily picks argmax λ·rel − (1−λ)·max_sim_to_selected
    // (λ = 0.7), trading relevance against redundancy. The greedy loop
    // is Knn.mmr — a driver loop whose DEPTH is the answer size (3) and
    // whose WIDTH the shortlist (top-8 by rel) — so each step is a
    // broadcast of the already-selected rows against 8 candidate rows;
    // the corpus-sized work is only the shortlist top-k (bounded
    // rank-filter, the RewriteRankFilterToTopK shape). Scores compare
    // at 6dp with vec_id ties, so selection is engine-deterministic;
    // the oracle unrolls the same three steps (mmrOracleSql(3, 8)).
    QueryDef("q179_mmr_rerank", Seq("J12", "W8", "W6"),
      mmrOracleSql(k = 3, shortlist = 8, lambda = 0.7)) { (s, d) =>
      Knn.mmr(mmrShortlist(s, d, 8), k = 3, lambda = 0.7)
    },

    // MMR AT PARAMETERIZED DEPTH — the same operator at k = 5 over a
    // top-16 shortlist with λ = 0.6: what proves Knn.mmr is an operator
    // and not a transcript of q179 (whose k = 3 body is now a call into
    // it). Five greedy steps, each still a ≤4-row broadcast against the
    // 16 pinned shortlist rows; the oracle generator unrolls the same
    // five steps with the SAME (1−λ) double the engine computes (0.4 at
    // λ = 0.6 — interpolated, never re-derived, so the two sides can
    // never disagree on the redundancy weight's last bit).
    QueryDef("q184_mmr_rerank_k5", Seq("J12", "W8", "W6"),
      mmrOracleSql(k = 5, shortlist = 16, lambda = 0.6)) { (s, d) =>
      Knn.mmr(mmrShortlist(s, d, 16), k = 5, lambda = 0.6)
    },
  )

  /** The MMR queries' one corpus-sized stage: relevance scan + bounded
    * top-`n` shortlist (plans as TakeOrderedAndProject — per-partition
    * partial top-k, no global sort). Exposed so PlanBudgetSpec can
    * assert the bound on THIS frame; Knn.mmr checkpoints it, which
    * hides the stage behind an ExistingRDD in the final plan. */
  private[graft] def mmrShortlist(s: org.apache.spark.sql.SparkSession,
      d: String, n: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(s, d)
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qvec"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("embedding"),
        round(VectorFns.cosine(col("embedding"), col("__qvec")), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(n)
  }

  /** Oracle generator replaying Knn.mmr step for step: top-`shortlist`
    * relevance CTE, then k unrolled (candidates → top-1) selections.
    * λ and 1−λ are interpolated from the SAME doubles the operator
    * multiplies by (1.0−λ is not always a pretty literal), so engine
    * and oracle agree to the last bit before the 6dp round. */
  private def mmrOracleSql(k: Int, shortlist: Int, lambda: Double): String = {
    val l = lambda.toString
    val mu = (1.0 - lambda).toString
    def cos(a: String, b: String) =
      s"round(list_cosine_similarity(cast($a.embedding AS DOUBLE[]), cast($b.embedding AS DOUBLE[])), 6)"
    val steps = (2 to k).map { i =>
      val sel = (1 until i).map(j => s"s$j")
      val sims = sel.map(sj => cos("c", sj))
      val maxSim = if (sims.size == 1) sims.head
        else sims.mkString("greatest(", ", ", ")")
      s"""c$i AS (
            SELECT c.vec_id, c.embedding, c.rel,
              round($l * c.rel - $mu * $maxSim, 6) AS score
            FROM short c, ${sel.mkString(", ")}
            WHERE ${sel.map(sj => s"c.vec_id <> $sj.vec_id").mkString(" AND ")}),
          s$i AS (SELECT vec_id, embedding, rel, score FROM c$i
                  ORDER BY score DESC, vec_id LIMIT 1)"""
    }.mkString(",\n          ")
    val tail = if (k >= 2) s",\n          $steps" else ""
    val out = (1 to k)
      .map(i => s"SELECT $i AS step, vec_id, rel, score FROM s$i")
      .mkString("\n          UNION ALL ")
    s"""WITH cand AS (
          SELECT a.vec_id, a.embedding,
            round($cosineSql, 6) AS rel
          FROM embeddings a
          CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) b
          WHERE a.vec_id <> 0),
        short AS (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT $shortlist),
        s1 AS (
          SELECT vec_id, embedding, rel, round($l * rel, 6) AS score
          FROM short ORDER BY score DESC, vec_id LIMIT 1)$tail
        $out"""
  }

  // The history-trained tree incremental dup-flags oracle (history gate
  // + lower-id pair flags on the tree cells), shared VERBATIM by q142
  // (batch increment) and q147 (the arrivals as a STREAM through
  // per-cell transformWithState state) — one text, so an oracle fix
  // cannot reach one and miss the other, and so the streaming
  // composition provably computes the batch rule.
  private def treeIncrementalFlagsSql =
    s"""WITH ${treeCellsCte("vec_id % 10 <> 0")},
       dupsH AS (
         SELECT DISTINCT b.vec_id
         FROM tcells h JOIN tcells b ON h.cell = b.cell
         WHERE h.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
           AND round(list_cosine_similarity(h.v, b.v), 6) >= 0.3),
       dupsB AS (
         SELECT DISTINCT b.vec_id
         FROM tcells a JOIN tcells b ON a.cell = b.cell
         WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0 AND a.vec_id < b.vec_id
           AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.3)
       SELECT c.vec_id, c.cell AS cid,
         c.vec_id IN (SELECT vec_id FROM dupsH) AS dup_in_history,
         c.vec_id IN (SELECT vec_id FROM dupsB) AS dup_in_batch
       FROM tcells c WHERE c.vec_id % 10 = 0"""

  // The tree-quantizer probe+search oracle, shared VERBATIM by q138
  // (train in-query) and q141 (load the persisted tree) — one text, so
  // an oracle fix cannot reach one and miss the other (the q96/q134
  // contract applied to the production quantizer).
  /** Load-or-train the persisted FAISS-shaped index state (q144/q145):
    * 64 coarse centroids + the 8×256 residual codebooks, keyed on the
    * corpus fingerprint, the index shape, and BOTH trainers' recipe
    * versions (the coarse centroids come from KMeans, the residual
    * codebooks from Pq — a change to either arithmetic must miss the
    * cache). subDim is derived FROM the persisted codewords so it can
    * never disagree with whatever dimension the training actually saw. */
  // ONE shape + versioned-key definition for every staged artifact of
  // the FAISS index (codebooks AND the coded corpus): a shape or recipe
  // change must invalidate every layer, not just the one whose key a
  // developer remembered to touch.
  private val faissShape @ (faissNlist, faissM, faissK, faissIters) = (64, 8, 256, 2)
  private def faissKeySuffix =
    s"v${graft.ann.KMeans.recipeVersion}p${graft.ann.Pq.recipeVersion}" +
      s"_n${faissNlist}m${faissM}k${faissK}i$faissIters"

  /** A drain's `seg-<id>` tree read as one relation, its schema declared
    * from the first segment's footer. */
  private def segments(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.schema(StateFs.parquetFooterSchema(s, dir))
      .option("recursiveFileLookup", "true").parquet(dir)

  private def persistedFaissIndex(s: org.apache.spark.sql.SparkSession, d: String,
      /** true → train BOTH quantizers on history alone (vec_id % 10 <> 0)
        * under a distinct cache tag — q148's frozen-index contract */
      histOnly: Boolean = false)
      : (Seq[(Int, Seq[Double])], graft.ann.Pq.Codebooks) = {
    val emb = Tables.embeddings(s, d)
    val trainSrc = if (histOnly) emb.filter(col("vec_id") % 10 =!= 0) else emb
    val (nlist, m8, k256, it) = faissShape
    val dir = graft.sources.ZOrder.ensureStagedDir(
      s"graft_ivfpq_${if (histOnly) "hist_" else ""}$faissKeySuffix",
      d, s"$d/embeddings.parquet") { target =>
      import s.implicits._
      val cents = graft.ann.KMeans.fit(trainSrc, "vec_id", "embedding", nlist, it)
      val cb = graft.ann.Pq.fitResidual(trainSrc, "vec_id", "embedding", cents,
        m8, k256, it)
      // kind 0 = coarse centroid (cid), kind 1 = codeword (m, cid)
      val rows = cents.map { case (cid, c) => (0, 0, cid, c) } ++
        cb.books.zipWithIndex.flatMap { case (book, mi) =>
          book.zipWithIndex.map { case (cw, cid) => (1, mi, cid, cw) } }
      rows.toDF("kind", "m", "cid", "cent").coalesce(1)
        .write.mode("overwrite").parquet(target)
    }
    val loaded = StateFs.readParquet(s, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getSeq[Double](3).toSeq))
    val cents = loaded.filter(_._1 == 0).sortBy(_._3)
      .map { case (_, _, cid, c) => (cid, c) }.toSeq
    val books = (0 until m8).map { mi =>
      loaded.filter(x => x._1 == 1 && x._2 == mi).sortBy(_._3).map(_._4).toSeq
    }
    (cents, graft.ann.Pq.Codebooks(subDim = books.head.head.size, books))
  }

  /** The appended-index segment pair (q148/q149): the standing coded
    * HISTORY segment — encoded once when the frozen index was built —
    * and the delta segment, encoded row-locally against the same frozen
    * codebooks (the add()). Both staged under the shared versioned key
    * so a recipe/shape change invalidates every layer together. */
  private def appendedFaissSegments(s: org.apache.spark.sql.SparkSession,
      d: String, cents: Seq[(Int, Seq[Double])], cb: graft.ann.Pq.Codebooks)
      : (String, String) =
    (historyFaissSegment(s, d, cents, cb),
     stagedFaissSegment(s, d, cents, cb, "delta", col("vec_id") % 10 === 0))

  /** Just the frozen-history segment — q152 encodes its OWN delta
    * through the stream, so staging the batch delta here too would pay
    * a full Pq.encode + parquet write the query never reads whenever
    * the cache is cold (fresh tmpdir, changed key, q152-only probe). */
  private def historyFaissSegment(s: org.apache.spark.sql.SparkSession,
      d: String, cents: Seq[(Int, Seq[Double])], cb: graft.ann.Pq.Codebooks): String =
    stagedFaissSegment(s, d, cents, cb, "hist", col("vec_id") % 10 =!= 0)

  private def stagedFaissSegment(s: org.apache.spark.sql.SparkSession,
      d: String, cents: Seq[(Int, Seq[Double])], cb: graft.ann.Pq.Codebooks,
      name: String, pred: org.apache.spark.sql.Column): String =
    graft.sources.ZOrder.ensureStagedDir(
      s"graft_ivfpq_codes_${name}_$faissKeySuffix",
      d, s"$d/embeddings.parquet") { target =>
      graft.ann.Pq.encode(Tables.embeddings(s, d).filter(pred),
        "vec_id", "embedding", cents, cb, residual = true)
        .write.mode("overwrite").parquet(target)
    }

  // The FAISS-shaped residual IVFPQ oracle (64-cell coarse training,
  // 8×256 residual codebooks, probe-16 routing, ADC shortlist-30, exact
  // rerank), shared VERBATIM by q139 (train in-query) and q144 (load
  // the persisted index) — one text, the q96/q134 contract. `trainPred`
  // restricts BOTH trainings (q148 trains on history alone — the
  // frozen-index append semantics); assignment, encoding, and search
  // always cover every vector. `servePred` (over the candidate side's
  // `e.vec_id`) excludes rows from the SERVED index — q151's tombstone
  // semantics: a deleted vector keeps its codes in the oracle's CTEs
  // (the oracle replays the at-rest state) but can never be returned.
  private def faissIvfPqSearchSql(trainPred: String = "true",
      servePred: String = "true") =
    s"""WITH ${trainedCellsCte(trainPred, k = 64)},
       probes AS (
         SELECT vec_id AS query_id, v AS qv, cid FROM (
           SELECT t.vec_id, t.v, c.cid,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
           FROM v t CROSS JOIN c2 c WHERE t.vec_id < 10) WHERE rn <= 16),
       res AS (
         SELECT e.vec_id, e.cid,
           list_transform(list_zip(e.v, cc.cent), s -> s[1] - s[2]) AS rv
         FROM cells e JOIN c2 cc USING (cid)),
       ${pqTrainingCte("res", "rv", k = 256, trainPred = trainPred)},
       recon AS (
         SELECT r.vec_id, e.cid,
           list_transform(list_zip(cc.cent, r.prv), s -> s[1] + s[2]) AS rv
         FROM precon r
         JOIN cells e ON e.vec_id = r.vec_id
         JOIN c2 cc ON cc.cid = e.cid),
       short AS (
         SELECT query_id, neighbor_id FROM (
           SELECT p.query_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(p.qv, e.rv), 6) DESC, e.vec_id) AS rn
           FROM probes p JOIN recon e USING (cid)
           WHERE e.vec_id <> p.query_id AND ($servePred)) WHERE rn <= 30)
       SELECT query_id, rnk, neighbor_id, cosine FROM (
         SELECT s.query_id, s.neighbor_id,
           round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
           row_number() OVER (PARTITION BY s.query_id
             ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, s.neighbor_id) AS rnk
         FROM short s
         JOIN v q ON q.vec_id = s.query_id
         JOIN v c ON c.vec_id = s.neighbor_id)
       WHERE rnk <= 3"""

  private def treeIvfSearchSql =
    s"""WITH ${treeCellsCte(staticSide = Some(8))},
       qb AS (
         SELECT query_id, qv, b FROM (
           SELECT t.vec_id AS query_id, t.v AS qv, c.cid AS b,
             row_number() OVER (PARTITION BY t.vec_id
               ORDER BY round(list_cosine_similarity(t.v, c.cent), 6) DESC, c.cid) AS rn
           FROM v t CROSS JOIN c2 c WHERE t.vec_id < 10) WHERE rn <= 3),
       qcells AS (
         SELECT query_id, qv, cell FROM (
           SELECT q.query_id, q.qv, q.b * 8 + c.l AS cell,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(q.qv, c.cent), 6) DESC, q.b * 8 + c.l) AS rn
           FROM qb q JOIN lc2 c ON q.b = c.b) WHERE rn <= 12)
       SELECT query_id, rnk, neighbor_id, cosine FROM (
         SELECT p.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(p.qv, e.v), 6) AS cosine,
           row_number() OVER (PARTITION BY p.query_id
             ORDER BY round(list_cosine_similarity(p.qv, e.v), 6) DESC, e.vec_id) AS rnk
         FROM qcells p JOIN tcells e USING (cell)
         WHERE e.vec_id <> p.query_id)
       WHERE rnk <= 3"""
}
