package graft

import graft.ann.{KMeans, Knn, Planted, Pq}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: the recall-vs-nprobe tradeoff of trained IVF against the
  * brute-force ground truth (q37's baseline, q96's index) — the quality
  * axis plan-shape assertions cannot see. Prints recall@k and the scan
  * fraction per probe count so the cost of each recall point is visible
  * next to it. Results are recorded in SCALING.md per round.
  *
  * Two corpora, because they bound the regime: the raw synthetic
  * embeddings are near-uniform on the sphere (IVF's worst case — recall
  * tracks scan fraction), while [[Planted]] blends the same rows into
  * tight clusters (the regime real embedding corpora live in, where IVF
  * earns low nprobe). Two quantizers, because the flat k=16 table is the
  * demo index and [[KMeans.fitTree]] is the production path once cell
  * count ∝ N — its [[Knn.ivfTopKTree]] routing is swept here too.
  *
  * Usage: runMain graft.RecallProbe [sfDir] [nQueries] [k] [mode]
  *   mode: uniform | clustered | both (default both)
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nQ = args.lift(1).map(_.toInt).getOrElse(50)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("both")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def sweep(tag: String, emb: DataFrame): Unit = {
      val corpus = emb.localCheckpoint()
      val queries = corpus.filter(col("vec_id") < nQ)
      val corpusN = corpus.count()
      val exact = Knn.bruteForceTopK(corpus, queries, "vec_id", "embedding", k)
        .localCheckpoint()

      val cents = KMeans.fit(corpus, "vec_id", "embedding", k = 16, iters = 2)
      println(s"[recall] corpus=$tag n=$corpusN queries=$nQ k=$k flat cells=16")
      Seq(1, 2, 3, 4, 6, 8, 12, 16).foreach { p =>
        val approx = Knn.ivfTopK(corpus, queries, "vec_id", "embedding", cents,
          k = k, probes = p).localCheckpoint()
        val r = Knn.recall(exact, approx)
        println(f"[recall] $tag%-9s flat probes=$p%2d scan_frac=${p / 16.0}%.4f recall@$k=$r%.4f")
      }

      // the tree quantizer (8×8 = 64 cells): the k ∝ N production path,
      // searched through ivfTopKTree's branch-then-leaf routing
      val tq = KMeans.fitTree(corpus, "vec_id", "embedding", k1 = 8, k2 = 8, iters = 2)
      val nCells = tq.leaves.map(_.size).sum
      println(s"[recall] corpus=$tag tree k1=8 k2=8 cells=$nCells branchProbes=3")
      Seq(1, 2, 4, 8, 16, 24).foreach { p =>
        val approx = Knn.ivfTopKTree(corpus, queries, "vec_id", "embedding", tq,
          k = k, probes = p, branchProbes = 3).localCheckpoint()
        val r = Knn.recall(exact, approx)
        println(f"[recall] $tag%-9s tree probes=$p%2d scan_frac=${p.toDouble / nCells}%.4f recall@$k=$r%.4f")
      }

      // PQ (8×16, the q126 index): raw ADC ranking vs the two-stage
      // rerank across shortlist sizes — the curve that shows where the
      // 128×-compressed scan needs its exact refine stage
      val cb = Pq.fit(corpus, "vec_id", "embedding", m = 8, k = 16, iters = 2)
      val raw = Knn.recall(exact,
        Pq.pqTopK(corpus, queries, "vec_id", "embedding", cb, k = k).localCheckpoint())
      println(f"[recall] $tag%-9s pq8x16 raw ADC recall@$k=$raw%.4f")
      Seq(k, 2 * k, 3 * k, 5 * k).foreach { r0 =>
        val r = Knn.recall(exact, Pq.pqTopKRerank(corpus, queries,
          "vec_id", "embedding", cb, k = k, r = r0).localCheckpoint())
        println(f"[recall] $tag%-9s pq8x16 rerank r=$r0%3d recall@$k=$r%.4f")
      }
    }

    val emb = Tables.embeddings(spark, d)
    if (mode == "uniform" || mode == "both")
      sweep("uniform", emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding")))
    if (mode == "clustered" || mode == "both")
      sweep("clustered", Planted.corpus(emb, "vec_id", "embedding",
        nClusters = 32, eps = 0.15))
    spark.stop()
  }
}
