package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup groups normalization-equal texts, keeps min id") {
    val df = Seq(
      (1L, "Hello,   World!"), (2L, "hello world"), (3L, "different text"))
      .toDF("doc_id", "text")
    val out = TextDedup.exactDedup(df, "text", "doc_id")
      .select("doc_id", "dup_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash signature equal for identical texts, banding finds planted near-dup") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok20", "tokXX")
    val distinct = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, nearDup), (4L, distinct)).toDF("doc_id", "text")
    val withBands = TextDedup.minHashBands(df, "text", 8, 16)
    val pairs = TextDedup.lshCandidatePairs(withBands, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))      // identical: collide in every band
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near-dup: some band
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))         // unrelated: none
  }

  test("ngramJaccard: 1.0 for identical, 0 for disjoint, monotone in overlap") {
    val df = Seq(
      ("a b c d e", "a b c d e"),
      ("a b c d e", "v w x y z"),
      ("a b c d e f g h", "a b c d e f x y")).toDF("x", "y")
    val out = df.select(TextDedup.ngramJaccard(col("x"), col("y"), 3)).collect().map(_.getDouble(0))
    assert(out(0) == 1.0)
    assert(out(1) == 0.0)
    assert(out(2) > 0.2 && out(2) < 1.0)
  }

  test("simhash: identical texts agree; similar texts are hamming-close") {
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val b = a.replace("w25", "wXX") // one token changed
    val c = (1 to 50).map(i => s"q$i").mkString(" ")
    val df = Seq((a, a), (a, b), (a, c)).toDF("x", "y")
    val out = df.select(TextDedup.hamming32(
      TextDedup.simHash32(col("x")), TextDedup.simHash32(col("y"))))
      .collect().map(_.getAs[Number](0).longValue)
    assert(out(0) == 0L)
    assert(out(1) < out(2)) // near-dup closer than unrelated
  }

  test("simHashNearDup: finds exact dup via banding, excludes far pairs, dedups bands") {
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val c = (1 to 50).map(i => s"q$i").mkString(" ")
    val sig = Seq((1L, a), (2L, a), (3L, c)).toDF("doc_id", "text")
      .select(col("doc_id"), TextDedup.simHashN(col("text"), 60).as("simhash"))
    val rows = TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    val pairs = rows.toMap
    // identical docs: hamming 0, and exactly ONE row despite matching all 4 bands
    assert(pairs.get((1L, 2L)).contains(0))
    assert(rows.length == rows.map(_._1).distinct.length)
    // unrelated doc appears only if genuinely hamming<=3 (vanishingly unlikely)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("property: banding NEVER misses a pair within hamming 3 (pigeonhole recall)") {
    // synthetic signatures: random 60-bit base, partner = base with <=3 flipped bits
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).flatMap { i =>
      val base = rnd.nextLong() & ((1L << 60) - 1)
      val flips = rnd.nextInt(4) // 0..3 bit flips
      val partner = (0 until flips).foldLeft(base)((h, _) => h ^ (1L << rnd.nextInt(60)))
      Seq((i * 2L, base), (i * 2L + 1, partner))
    }
    val sig = rows.toDF("doc_id", "simhash")
    val found = TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair has hamming <= 3 (flips may collide, only reducing it)
    rows.grouped(2).foreach { case Seq((ia, ha), (ib, hb)) =>
      val hamming = java.lang.Long.bitCount(ha ^ hb)
      assert(hamming <= 3)
      assert(found.contains((ia, ib)), s"missed pair ($ia,$ib) at hamming $hamming")
    }
  }

  test("wordGrams: docs shorter than n tokens yield NO grams (ANSI-safe)") {
    // the unguarded form indexed past the token array: an ANSI
    // element_at error, or (ANSI off) a partial gram the oracle lacks
    import org.apache.spark.sql.functions.col
    val df = Seq("", "one", "one two", "one two three").toDF("t")
      .select(TextDedup.wordGrams(col("t"), 3).as("g"))
    val sizes = df.collect().map(_.getSeq[String](0).length).toSeq
    assert(sizes == Seq(0, 0, 0, 1))
  }

  test("connectedComponents: chains merge to min-id clusters on BOTH execution paths") {
    // 1-2, 2-3, 3-4 chain (diameter 3, needs >1 propagation step); 7-8 separate
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L)
    val local = Components.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected)
    // maxLocalEdges = 0 forces the distributed min-label + pointer-jump loop
    val dist = Components.connectedComponents(edges, "id_a", "id_b", maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
  }

  test("leakage-safe split: near-dup twins always land on the same side") {
    // the q111 composition on planted data: 30 singleton docs plus three
    // exact-twin pairs and one hamming-close pair — every cluster must
    // resolve to one side, so twins can never straddle train/val
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (
      (0 until 30).map(i => (i.toLong, (1 to 40).map(j => s"w${i}_$j").mkString(" "))) ++
      Seq((100L, base), (101L, base),
        (102L, base + " extra"), (103L, base + " extra"),
        (104L, base.replace("tok20", "tokXX")))
    ).toDF("doc_id", "text")
    val sig = docs.select(col("doc_id"), TextDedup.simHashN(col("text"), 60).as("simhash"))
    val pairs = TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3)
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"))
    val cluster = coalesce(col("component"), col("doc_id"))
    val side = docs.select("doc_id")
      .join(broadcast(comp), Seq("doc_id"), "left")
      .select(col("doc_id"), cluster.as("cluster"),
        when(conv(substring(md5(cluster.cast("string")), 1, 6), 16, 10)
          .cast("double") / 16777216.0 < 0.9, lit("train"))
          .otherwise(lit("val")).as("side"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(side.size == 35)
    assert(side(100L) == side(101L))
    assert(side(102L) == side(103L))
    // 104 is hamming-close to the base twins: same cluster, same side
    assert(side(104L)._2 == side(100L)._2)
    // both sides are actually populated across the 30 singletons
    assert(side.values.map(_._2).toSet == Set("train", "val"))
  }

  test("incremental components (q171): label contraction == full recompute, clusters merge") {
    import spark.implicits._
    // history: two clusters {1,2,3} (comp 1) and {10,11} (comp 10),
    // plus pair {20,21}
    val histEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val labels = Components.connectedComponents(histEdges, "id_a", "id_b")
    // delta: new doc 100 BRIDGES clusters 1 and 10 (the merge case the
    // contraction must get right); new pair {200, 201} is batch-internal
    val delta = Seq((3L, 100L), (100L, 11L), (200L, 201L)).toDF("id_a", "id_b")
    val contracted = labels.select(col("id").as("id_a"), col("component").as("id_b"))
      .unionByName(delta)
    val inc = Components.connectedComponents(contracted, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Components.connectedComponents(histEdges.unionByName(delta), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"contracted labeling diverged: inc=$inc full=$full")
    // the bridge actually merged: everyone in {1,2,3,10,11,100} → comp 1
    assert(Seq(1L, 2L, 3L, 10L, 11L, 100L).forall(inc(_) == 1L))
    assert(inc(20L) == 20L && inc(21L) == 20L && inc(201L) == 200L)
  }

  test("componentsMergeStep property: random edge streams under random batching == closure") {
    // batching-independence for the r17 localized merge fold: however a
    // random edge stream is cut into micro-batches, the maintained
    // labels must equal the union-find closure over ALL edges — the
    // contract that makes incident-component contraction safe across
    // arbitrary interleavings of bridges, repeats, and fresh cliques
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 4) {
      val n = 20 + rnd.nextInt(15)
      val allEdges = Seq.fill(n)(
          (rnd.nextInt(30).toLong + 1, rnd.nextInt(30).toLong + 1))
        .filter(p => p._1 != p._2)
      val nB = 1 + rnd.nextInt(4)
      val cuts = Seq.fill(nB - 1)(rnd.nextInt(allEdges.size + 1)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(allEdges.size)).sliding(2)
        .map { case Seq(a, b) => allEdges.slice(a, b) }.toSeq
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_merge_prop_$trial").toString
      var last = -1L
      batches.zipWithIndex.foreach { case (rows, i) =>
        if (rows.nonEmpty) {
          graft.queries.DedupQueries.componentsMergeStep(
            root, rows.toDF("id_a", "id_b"), i.toLong)
          last = i.toLong
        }
      }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
      }
      allEdges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val want = parent.keys.map(v => v -> find(v)).toMap
      val g = graft.queries.BucketedGens.latest(s"$root/labels").get
      val got = graft.queries.BucketedGens.read(spark, s"$root/labels", Some(g),
          allEdges.toDF("id_a", "id_b").select(col("id_a").as("id"),
            col("id_b").as("component"), lit(0).cast("int").as("bucket")).limit(0))
        .select("id", "component")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want,
        s"trial $trial (${batches.map(_.size).mkString("/")}): merge fold diverged\n" +
          s"  got  ${got.toSeq.sorted}\n  want ${want.toSeq.sorted}\n  edges $allEdges")
      assert(last >= 0)
    }
  }

  test("q172 merge step: replayed batch ids converge, folds write only touched buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("graft_cc_stream_spec_").toString
    def edges(rows: (Long, Long)*) = rows.toSeq.toDF("id_a", "id_b")
    graft.queries.DedupQueries.componentsMergeStep(root, edges((1L, 2L), (10L, 11L)), 0L)
    graft.queries.DedupQueries.componentsMergeStep(root, edges((2L, 10L)), 1L) // bridge
    def served: Map[Long, Long] = {
      val g = graft.queries.BucketedGens.latest(s"$root/labels").get
      graft.queries.BucketedGens.read(spark, s"$root/labels", Some(g),
          edges().select(col("id_a").as("id"), col("id_b").as("component"),
            lit(0).cast("int").as("bucket")).limit(0))
        .select("id", "component")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val after = served
    assert(after == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L), s"got $after")
    // the bridge merged comp 10 into comp 1: bucket 10 dissolved and
    // must carry the EMPTY sentinel, never a full-snapshot rewrite
    val owners1 = graft.queries.BucketedGens.latest(s"$root/labels").get.owners
    assert(owners1(10) == graft.queries.BucketedGens.Empty, s"got $owners1")
    // foreachBatch restart contract: batch 1 replays, labels converge
    graft.queries.DedupQueries.componentsMergeStep(root, edges((2L, 10L)), 1L)
    assert(served == after, "replayed batch diverged the labels")
    // a third batch touches ONLY bucket 4 (comp 20) — untouched buckets
    // keep their predecessors in the owners map, and gen-0 is vacuumed
    // once nothing references it
    graft.queries.DedupQueries.componentsMergeStep(root, edges((20L, 21L)), 2L)
    val owners2 = graft.queries.BucketedGens.latest(s"$root/labels").get.owners
    assert(owners2(4) == 2L && owners2(1) == 1L, s"got $owners2")
    val gens = new java.io.File(s"$root/labels").listFiles().map(_.getName)
      .filter(_.startsWith("gen-")).sorted
    assert(gens.toSeq == Seq("gen-1", "gen-2"), s"vacuum kept: ${gens.mkString(",")}")
    assert(served == after + (20L -> 20L) + (21L -> 20L))
  }
}
