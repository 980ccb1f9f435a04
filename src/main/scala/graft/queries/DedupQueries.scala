package graft.queries

import graft.QueryDef
import graft.dedup.{Components, TextDedup}
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Training-data deduplication + similarity coverage: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard — each over the `documents` table, each with a
  * DuckDB oracle built on md5 (engine-portable hashing).
  */
object DedupQueries {

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup via canonical fingerprint; min-id row survives.
    QueryDef("q33_dedup_exact", Seq("A10", "U3"),
      """WITH f AS (
           SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
           FROM documents)
         SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dup_count
         FROM f QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1""") { (s, d) =>
      TextDedup.exactDedup(Tables.documents(s, d).select("doc_id", "text"), "text", "doc_id")
        .select("doc_id", "fp", "dup_count")
    },

    // MinHash: min over char-8-gram shingles of md5(shingle) — the
    // signature that LSH banding buckets on.
    QueryDef("q34_minhash_signature", Seq("A10"),
      """SELECT doc_id,
           list_min([md5(substring(text, g, 8))
                     FOR g IN generate_series(1, greatest(length(text) - 7, 1))]) AS minhash
         FROM documents""") { (s, d) =>
      TextDedup.minHashSignature(Tables.documents(s, d).select("doc_id", "text"), "text", 8)
        .select("doc_id", "minhash")
    },

    // n-gram Jaccard similarity: word-3-gram overlap between short docs
    // in the same (lang, source) block — the blocked pairwise verify step
    // that follows LSH candidate generation.
    QueryDef("q35_ngram_jaccard", Seq("J8"),
      """WITH short AS (
           SELECT doc_id, lang, source, list_distinct([
             array_to_string(toks[g:g+2], ' ')
             FOR g IN generate_series(1, greatest(len(toks) - 2, 0))
           ]) AS grams
           FROM (SELECT doc_id, lang, source, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
                 FROM documents WHERE n_chars < 200))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(cast(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(a.grams || b.grams)), 6) AS jaccard
         FROM short a JOIN short b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
           AND len(a.grams) > 0 AND len(b.grams) > 0""") { (s, d) =>
      // gram sets are computed ONCE per doc and pinned behind a lazy
      // checkpoint — inlined into the join they'd recompute per pair
      val short = Tables.documents(s, d)
        .filter(col("n_chars") < 200)
        .select(col("doc_id"), col("lang"), col("source"),
          TextDedup.wordGrams(col("text"), 3).as("grams"))
        // sub-3-token docs have no grams — exclude them (both sides of
        // the oracle do the same) so jaccard never sees an empty union
        .filter(size(col("grams")) > 0)
        .localCheckpoint(false)
      val a = short.select(col("doc_id").as("id_a"), col("lang"), col("source"), col("grams").as("__ga"))
      val b = short.select(col("doc_id").as("id_b"), col("lang"), col("source"), col("grams").as("__gb"))
      a.join(b, Seq("lang", "source"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jaccard", round(TextDedup.gramJaccard(col("__ga"), col("__gb")), 6))
        .select("id_a", "id_b", "jaccard")
    },

    // 32-bit SimHash from md5 token hashes — reproducible across engines.
    QueryDef("q36_simhash", Seq("A10"),
      """WITH tok AS (
           SELECT doc_id, ('0x' || substring(md5(unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))), 1, 8))::BIGINT AS h
           FROM documents),
         bits AS (
           SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
           GROUP BY doc_id, b.b)
         SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextDedup.simHash32(col("text")).as("simhash"))
    },

    // SimHash near-dup pairs: 60-bit signature, 4×15-bit band candidate
    // generation (equi-join on (band, chunk) — the linear-scaling path),
    // exact hamming verify. threshold 3 < 4 bands ⇒ pigeonhole gives
    // FULL recall; 15-bit chunks keep candidates ~25× below byte-chunks
    // on this vocabulary-correlated corpus.
    QueryDef("q57_simhash_neardup", Seq("A10"),
      """WITH tok AS (
           SELECT doc_id, ('0x' || substring(md5(unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))), 1, 15))::BIGINT AS h
           FROM documents),
         bits AS (
           SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
           GROUP BY doc_id, b.b),
         sig AS (
           SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id),
         banded AS (
           SELECT doc_id, simhash, band.band,
             (simhash >> (15 * band.band)) & 32767 AS chunk
           FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) band)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
           AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""") { (s, d) =>
      val sig = Tables.documents(s, d).select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
      TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3)
    },

    // Dedup clusters: connected components over the near-dup pairs —
    // pairwise candidates become clusters with a canonical (min-id)
    // representative. Spark: min-label propagation to fixpoint (each step
    // a distributed join+agg); oracle: recursive-CTE transitive closure.
    QueryDef("q65_dedup_components", Seq("A10"),
      ccComponentsSql()) { (s, d) =>
      val sig = Tables.documents(s, d).select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
      val pairs = TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3)
      Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
    },

    // INCREMENTAL DEDUP CLUSTERS — q65's components absorbing a new
    // batch without recomputing history: the standing cluster labels
    // are an at-rest artifact, and a day's arrivals must merge into
    // them paying only the ARRIVALS' collisions. Two pieces make it
    // incremental: (1) pair generation is ASYMMETRIC — the new batch's
    // bands probe the full corpus's bands (simHashNearDupAgainst), so
    // the history×history banded self-join, the quadratic-in-corpus
    // piece, is never re-run; (2) the merge CONTRACTS history — each
    // stored label row (id, component) re-enters the graph as one edge,
    // which preserves within-cluster connectivity (a component label IS
    // a member id) while replacing history's whole edge set, so the
    // components run covers |labels| + |delta| edges, not the corpus's
    // pair graph. A delta edge can only merge clusters; min-ids are
    // preserved under contraction, so the maintained labeling equals
    // the from-scratch one — q65's recursive-CTE oracle VERBATIM. At
    // 100 TB this is cluster maintenance at ingest: the nightly job
    // pays O(batch × bucket occupancy + clusters), not O(corpus²/buckets).
    QueryDef("q171_components_incremental", Seq("A10"),
      ccComponentsSql()) { (s, d) =>
      val docs = Tables.documents(s, d)
      def sigOf(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
      // the standing labels: components over HISTORY's pairs (doc_id
      // % 11 <> 0 — the q66 daily-increment split), staged once
      val baseDir = graft.sources.ZOrder.ensureStagedDir(
        "graft_cc_base_labels", d, s"$d/documents.parquet") { target =>
        Components.connectedComponents(
            TextDedup.simHashNearDup(
              sigOf(docs.filter(col("doc_id") % 11 =!= 0)),
              "doc_id", "simhash", 3),
            "id_a", "id_b")
          .write.mode("overwrite").parquet(target)
      }
      val labels = s.read.schema("id BIGINT, component BIGINT").parquet(baseDir)
      // delta pairs: arrivals probed against the full corpus (arrivals
      // included — batch-internal duplicates matter)
      val deltaPairs = TextDedup.simHashNearDupAgainst(
        sigOf(docs.filter(col("doc_id") % 11 === 0)), sigOf(docs),
        "doc_id", "simhash", 3)
      val contracted = labels
        .select(col("id").as("id_a"), col("component").as("id_b"))
        .unionByName(deltaPairs.select("id_a", "id_b"))
      Components.connectedComponents(contracted, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
    },

    // STREAMED CLUSTER MAINTENANCE — q171's incremental merge as a
    // continuously maintained labeling: candidate pairs ARRIVE AS A
    // STREAM (each micro-batch = one day's near-dup edges) and each
    // batch folds into the standing labels inside foreachBatch —
    // contract the committed predecessor generation to label edges,
    // union the batch's edges, re-run components over that SMALL graph,
    // land generation batchId (q158's recovery + vacuum discipline:
    // replays re-base on the committed predecessor and converge). The
    // fold is batching-independent because contraction preserves
    // connectivity and min-ids — CC(contract(CC(A)) ∪ B) = CC(A ∪ B) —
    // so however the edge stream splits, the final labels equal the
    // from-scratch closure: q65's oracle VERBATIM, the third query on
    // that text. The ledger records the label count per batch — at-rest
    // state is O(clustered docs), never O(edges seen).
    QueryDef("q172_stream_components", Seq("A10"),
      ccComponentsSql()) { (s0, d) =>
      val sig = Tables.documents(s0, d).select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
      val batch = TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3)
        .select("id_a", "id_b")
      val s = EventQueries.streamSession(s0)
      val root = EventQueries.foldDrain(s,
          EventQueries.stageRangedDrain(batch, 2, "id_a", "graft_scc_"),
          batch.schema, "graft_stream_components") { (root, b, id) =>
        componentsMergeStep(root, b, id)
      }
      // the standing state starts EMPTY — at rest is no rows
      BucketedGens.read(s, s"$root/labels", BucketedGens.latest(s"$root/labels"),
          batch.limit(0).select(col("id_a").as("id"),
            col("id_b").as("component"), lit(0).cast("int").as("bucket")))
        .select(col("id").as("doc_id"), col("component"))
    },

    // Incremental dedup: flag a new batch (doc_id % 11 = 0, the "daily
    // increment") against the already-ingested history — any shared
    // md5-band signature is a candidate duplicate. Scale shape: history
    // (the 100 TB side) streams through ONE broadcast semi-join against
    // the batch's band keys and never shuffles; every exchange carries
    // batch-sized data only.
    QueryDef("q103_incremental_dedup", Seq("A10", "J11"),
      """WITH bands AS (SELECT unnest(generate_series(0, 3)) AS b),
          sigs AS (
            SELECT d.doc_id, bands.b,
              list_min([md5(CAST(bands.b AS VARCHAR) || ':' || substring(d.text, g, 8))
                        FOR g IN generate_series(1, greatest(length(d.text) - 7, 1))]) AS sig
            FROM documents d CROSS JOIN bands),
          hsig AS (SELECT DISTINCT b, sig FROM sigs WHERE doc_id % 11 <> 0),
          hits AS (
            SELECT s.doc_id, count(DISTINCT s.b) AS hit_bands
            FROM sigs s JOIN hsig h ON s.b = h.b AND s.sig = h.sig
            WHERE s.doc_id % 11 = 0
            GROUP BY s.doc_id)
          SELECT d.doc_id, coalesce(h.hit_bands, 0) AS hit_bands,
            h.doc_id IS NOT NULL AS dup_in_history
          FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
          WHERE d.doc_id % 11 = 0""") { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "text")
      TextDedup.incrementalDupFlags(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0),
        "text", "doc_id", 8, 4)
    },

    // Leakage-safe train/val split: near-duplicate documents must land
    // on the SAME side, or the validation set scores memorization (the
    // standard eval-contamination guard a per-doc hash split cannot
    // give). Composition: q65's near-dup relation (60-bit simhash,
    // banded pairs, hamming <= 3) -> connected components -> the split
    // key is the CLUSTER id (singletons are their own cluster), side =
    // 90/10 by md5-fraction of that key. Scale shape: pairs are
    // band-blocked (no cross product), components are dup-cluster-sized
    // and broadcast back onto the corpus, the corpus itself never
    // reshuffles, and the side decision is row-local.
    QueryDef("q111_leakage_split", Seq("A10", "F5"),
      """WITH RECURSIVE tok AS (
           SELECT doc_id, ('0x' || substring(md5(unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))), 1, 15))::BIGINT AS h
           FROM documents),
         bits AS (
           SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
           GROUP BY doc_id, b.b),
         sig AS (
           SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id),
         banded AS (
           SELECT doc_id, simhash, band.band,
             (simhash >> (15 * band.band)) & 32767 AS chunk
           FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) band),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b, id_a FROM pairs
           UNION SELECT id_a, id_a FROM pairs
           UNION SELECT id_b, id_b FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
         SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS cluster,
           CASE WHEN CAST(('0x' || substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 6)) AS INT) / 16777216.0 < 0.9
                THEN 'train' ELSE 'val' END AS side
         FROM documents d LEFT JOIN comp c USING (doc_id)""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val sig = docs.select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
      val pairs = TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3)
      val comp = Components.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
      val cluster = coalesce(col("component"), col("doc_id"))
      docs.select("doc_id")
        .join(broadcast(comp), Seq("doc_id"), "left")
        .select(col("doc_id"), cluster.as("cluster"),
          when(conv(substring(md5(cluster.cast("string")), 1, 6), 16, 10)
            .cast("double") / 16777216.0 < 0.9, lit("train"))
            .otherwise(lit("val")).as("side"))
    },

    // STREAMING incremental near-dup: q103's batch-vs-history verdicts
    // with the increment ARRIVING as a stream, in the BOUNDED-STATE
    // production shape (graft.streaming.NearDupStream): band expansion
    // stateless on the stream; the history LSH index the STATIC side of
    // a stream-static left-semi join (precomputed distinct (band, sig) —
    // the index is ≪ corpus, broadcast under the threshold, hash-joined
    // per micro-batch above it; history itself is never reshuffled). The
    // one stateful operator — the per-doc hit count — is keyed by
    // (arrival window, doc_id) UNDER A WATERMARK and drained in UPDATE
    // mode, so verdict state expires once the watermark passes a doc's
    // arrival window and settled groups are never re-emitted: neither
    // store nor sink scales with stream history (StreamingStateSpec
    // drives the multi-batch case and asserts numRowsTotal stays
    // bounded). Arrival time is synthesized from doc_id for determinism
    // under replay. Zero-hit docs are patched in by a batch join against
    // the tiny sink table after the drain; the max() over the sink is
    // idempotent against any update-mode re-emission. The verdict set is
    // order-independent, so the batch oracle (= q103's) replays it.
    QueryDef("q118_stream_incremental_neardup", Seq("A10", "J11"),
      """WITH bands AS (SELECT unnest(generate_series(0, 3)) AS b),
          sigs AS (
            SELECT d.doc_id, bands.b,
              list_min([md5(CAST(bands.b AS VARCHAR) || ':' || substring(d.text, g, 8))
                        FOR g IN generate_series(1, greatest(length(d.text) - 7, 1))]) AS sig
            FROM documents d CROSS JOIN bands),
          hsig AS (SELECT DISTINCT b, sig FROM sigs WHERE doc_id % 11 <> 0),
          hits AS (
            SELECT s.doc_id, count(DISTINCT s.b) AS hit_bands
            FROM sigs s JOIN hsig h ON s.b = h.b AND s.sig = h.sig
            WHERE s.doc_id % 11 = 0
            GROUP BY s.doc_id)
          SELECT d.doc_id, coalesce(h.hit_bands, 0) AS hit_bands,
            h.doc_id IS NOT NULL AS dup_in_history
          FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
          WHERE d.doc_id % 11 = 0""") { (s0, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val schema = Tables.documents(s0, d).schema
      // state = one counter per batch doc (~N/11 keys) across TWO
      // micro-batches (data + the watermark-advance batch update mode
      // adds), so each state partition pays its load+commit twice:
      // size partitions to the few-hundred-key state per the
      // streamSession sizing rule, not to q74/q81's thousands
      val s = EventQueries.streamSession(s0, statePartitions = 2)
      val history = Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") % 11 =!= 0)
      val index = TextDedup.md5BandSigs(history, "text", "doc_id", 8, 4)
        .select("b", "sig").distinct()
      val sinkName = "graft_stream_neardup"
      val stream = s.readStream.schema(schema).parquet(s"$d/documents.parque[t]")
        .filter(col("doc_id") % 11 === 0)
        .withColumn("arrival", timestamp_seconds(col("doc_id")))
      val verdicts = graft.streaming.NearDupStream.verdicts(
        stream, index, shingle = 8, bands = 4)
      val hits = EventQueries.drainToParquet(verdicts, sinkName, update = true)
        .groupBy("doc_id").agg(max("hit_bands").as("hit_bands"))
      Tables.documents(s, d).filter(col("doc_id") % 11 === 0).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("hit_bands"), lit(0L)).as("hit_bands"),
          col("hit_bands").isNotNull.as("dup_in_history"))
    },

    // QUALITY-PREFERRED SURVIVOR SELECTION — canonical selection the way
    // a corpus build actually does it: per near-dup cluster keep the
    // HIGHEST-QUALITY member (q40's score), not the smallest id. q65
    // answers "which docs are the same"; this answers "which copy do we
    // train on" — the min-id convention silently keeps whichever copy
    // was crawled first, which for boilerplate-wrapped mirrors is often
    // the worst one. Every document gets a verdict (singletons are their
    // own cluster), so the output IS the kept-corpus manifest. Scale
    // shape: labels come from the banded component run (linear in
    // candidates); the survivor pick is a sort-free max-struct hash agg
    // on the cluster key (argmax quality, min-id tiebreak via negated
    // id — the same one-agg idiom as q33's exactDedup min-struct, with
    // the order flipped), and the quality ordering key is the
    // ALREADY-6dp-ROUNDED score, so the argmax is deterministic across
    // engines; ties break to the smaller doc_id via the struct's second
    // field. The oracle extends q65's transitive-closure CTE verbatim.
    QueryDef("q174_dedup_quality_survivor", Seq("A10", "A2", "W6"),
      survivorManifestSql()) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sig = docs.select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
      val labels = Components.connectedComponents(
          TextDedup.simHashNearDup(sig, "doc_id", "simhash", 3),
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
      docs
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          TextFns.qualityScore(col("text"), TextQueries.qualityStops).as("quality"))
        // argmax(quality, tiebreak min id) as ONE hash agg — the shared
        // electSurvivors definition every manifest consumer uses
        .transform(electSurvivors)
    },

    // RETRACTION-CAPABLE DEDUP CLUSTERS — the symmetric twin of the
    // append path (q171): a CDC delete (GDPR forget, takedown) must
    // SHRINK or SPLIT its near-dup cluster, which the label-contraction
    // merge can never do (contraction only grows connectivity). The
    // piece that makes deletes O(affected) is keeping the EDGE SET at
    // rest keyed by component: edges partitioned by pmod(component, 16)
    // buckets. A delete batch then (1) looks up the deleted ids'
    // components in the standing labels (O(deletes)), (2) reads ONLY
    // the touched components' edge partitions (bucket-level partition
    // prune + row-level component semi-join — untouched components'
    // edges are never opened, the q169/q157 pruning contract), (3)
    // anti-joins the deleted ids off both endpoints, and (4) re-runs
    // connectedComponents over that small subgraph. Untouched labels
    // pass through untouched. Deleting a node only removes ITS edges —
    // a surviving pair is a pair regardless of the rest of the corpus —
    // so recompute-over-touched equals the from-scratch closure on the
    // post-delete corpus: the q65 oracle text with the delete predicate
    // applied. Fixture CDC: doc_id % 13 == 3 is deleted (~8% of docs —
    // at sf0.01 it takes one member from four of the thirteen pair
    // clusters, dissolving them, and leaves nine untouched).
    QueryDef("q181_components_retraction", Seq("A10", "F4"),
      ccComponentsSql(ccKeepPredSql)) { (s, d) =>
      val touched = ccTouchedComps(s, d)
      val (prunedEdges, _) = componentsTouchedRead(s, d, touched)
      val recomputed = retractedTouchedLabels(prunedEdges,
        ccDeletedIds(Tables.documents(s, d)))
      ccAtRestLabels(s, d)
        .join(broadcast(touched), Seq("component"), "left_anti")
        .select(col("id").as("doc_id"), col("component"))
        .unionByName(recomputed
          .select(col("id").as("doc_id"), col("component")))
    },

    // STREAMED RETRACTIONS INTO THE CLUSTERS — q181's fold with the
    // deletes ARRIVING AS A STREAM (the forget-request queue), each
    // micro-batch folded into standing labels inside foreachBatch. Per
    // batch: the deleted ids' ORIGINAL components (from the immutable
    // at-rest labels — deletes only ever split, so every current
    // cluster sits inside one original component, making the at-rest
    // edge partitions a stable covering) are re-run over the pruned
    // at-rest edges minus the CUMULATIVE delete set (carried as an
    // O(deletes) ledger generation beside the labels), and the result
    // replaces exactly those original components' label rows —
    // generation dirs with q158's committed-predecessor recovery and
    // vacuum, so replays re-base and converge. The fold is
    // batching-independent (each touched original component is rebuilt
    // from at-rest edges minus all deletes so far), so the final labels
    // equal q181's — the SAME oracle text, the retraction twin of the
    // q171/q172 pairing.
    QueryDef("q185_stream_components_retraction", Seq("A10", "F4"),
      ccComponentsSql(ccKeepPredSql)) { (s0, d) =>
      val stateDir = ccStateDir(s0, d)
      val s = EventQueries.streamSession(s0)
      val deleted = ccDeletedIds(Tables.documents(s, d))
      val root = EventQueries.foldDrain(s,
          EventQueries.stageRangedDrain(deleted, 2, "doc_id", "graft_ccr_"),
          deleted.schema, "graft_stream_cc_retraction") { (root, b, id) =>
        componentsRetractStep(stateDir, root, b, id)
      }
      BucketedGens.read(s, s"$root/labels", BucketedGens.latest(s"$root/labels"),
          atRestLabelGenRows(s, stateDir))
        .select(col("id").as("doc_id"), col("component"))
    },

    // SURVIVOR RE-ELECTION UNDER RETRACTION — q174's manifest is a
    // maintained artifact too: when a delete removes a cluster's
    // survivor (or any member), the manifest row must re-elect
    // argmax(quality) from the REMAINDER — under the remainder's new
    // cluster labels, because the delete may have split the cluster.
    // Composition of q181 + q174: touched components (now including
    // deleted SINGLETONS — their manifest rows simply disappear) are
    // re-derived from the scored-membership artifact at rest
    // (doc_id, component, quality — partitioned by pmod(component, 64),
    // so only touched buckets are opened), relabeled through q181's
    // recomputed labels, and re-elected with the same sort-free
    // max-struct agg; every other manifest row passes through from the
    // manifest at rest, byte-identical. Oracle: q174's text over the
    // post-delete corpus.
    QueryDef("q182_survivor_reelection", Seq("A10", "A2", "W6", "F4"),
      survivorManifestSql(ccKeepPredSql)) { (s, d) =>
      val manifestState = survivorStateDir(s, d)
      val manifest = stateRel(s, manifestState, "manifest")
      val deleted = ccDeletedIds(Tables.documents(s, d))
      // touched components INCLUDING singletons: coalesce through the
      // at-rest labels exactly as the manifest's component key did
      val touched = survivorTouchedComps(s, d)
      // members of touched components, deleted rows dropped — from the
      // bucket-pruned membership read, never the corpus
      val (members, _) = survivorTouchedRead(s, d, touched)
      val remaining = members
        .join(broadcast(deleted), Seq("doc_id"), "left_anti")
      // relabel through the post-delete closure of the touched CLUSTER
      // components (q181's recompute); edge-less members fall back to
      // their own id — the singleton rule
      val (prunedEdges, _) = componentsTouchedRead(s, d, ccTouchedComps(s, d))
      val relabeled = retractedTouchedLabels(prunedEdges, deleted)
        .select(col("id").as("doc_id"), col("component").as("__newc"))
      val reElected = remaining.drop("component")
        .join(broadcast(relabeled), Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality"),
          coalesce(col("__newc"), col("doc_id")).as("component"))
        .transform(electSurvivors)
      manifest.join(broadcast(touched), Seq("component"), "left_anti")
        .select("component", "survivor_id", "n_members", "quality")
        .unionByName(reElected)
    },

    // STREAMED SURVIVOR RE-ELECTION — q182's manifest maintenance as a
    // continuously updated artifact: each delete micro-batch first
    // folds into the labels (componentsRetractStep — q185's fold,
    // shared verbatim), then repairs exactly the manifest rows whose
    // component maps into the batch's touched ORIGINAL components
    // (clustered comps map through the at-rest labels — a split comp's
    // key is some member id whose at-rest row names the original —
    // and deleted singletons are their own components). Re-election
    // reads only the touched originals' membership buckets, relabels
    // through the labels generation just written, and re-runs the same
    // max-struct argmax; the repair is idempotent per original, so
    // replays and any batching converge. Manifest generations ride
    // beside the label generations with the same recovery + vacuum.
    // Second query on q182's oracle text: however the manifest was
    // maintained, it must equal the from-scratch derivation over the
    // post-delete corpus.
    QueryDef("q188_stream_survivor_reelection", Seq("A10", "A2", "W6", "F4"),
      survivorManifestSql(ccKeepPredSql)) { (s0, d) =>
      val ccState = ccStateDir(s0, d)
      val survState = survivorStateDir(s0, d)
      val s = EventQueries.streamSession(s0)
      val deleted = ccDeletedIds(Tables.documents(s, d))
      val root = EventQueries.foldDrain(s,
          EventQueries.stageRangedDrain(deleted, 2, "doc_id", "graft_ssr_"),
          deleted.schema, "graft_stream_survivor") { (root, b, id) =>
        survivorRetractStep(ccState, survState, root, b, id)
      }
      BucketedGens.read(s, s"$root/manifest", BucketedGens.latest(s"$root/manifest"),
          atRestManifestGenRows(s, survState))
        .select("component", "survivor_id", "n_members", "quality")
    },

    // THE FULL CLUSTER LIFECYCLE UNDER ONE CHANGELOG — appends (q171/
    // q172's contraction merge) and deletes (q181/q185's touched
    // rebuild) arriving INTERLEAVED as one CDC stream (op ∈ {I, D}),
    // folded per micro-batch: the shape a live ingest-plus-forget
    // pipeline actually emits (q164's unified changelog applied to the
    // clusters instead of the index). Fixture: history = doc_id % 7
    // <> 0 (the standing state at rest; % 7 — unlike q171's % 11 — so
    // several streamed merges SURVIVE the deletes into the final
    // labels); arrivals (I) = % 7 == 0 carrying their row-local
    // simhash; deletes (D) = % 13 == 3 restricted to history. Per
    // batch, DELETES FIRST: the touched
    // components are rebuilt from at-rest edges of their ORIG-CLOSURE
    // (an appended bridge can merge two original components — the
    // rebuild must cover every current component sharing an orig with
    // a touched one) plus the APPENDED-PAIR LEDGER (arrival edges
    // exist nowhere at rest), minus the cumulative delete set; then
    // APPENDS: the batch's sigs probe the PRESENT corpus (history ∪
    // appends-so-far, minus deletes-so-far) asymmetrically and the
    // delta pairs contract into the standing labels. Every piece of
    // carried state is O(delta) on BOTH I/O sides (r17): the op/pair
    // ledgers land as per-batch delta SEGMENTS beside bucket-pruned
    // label generations + their doc-keyed byid mirror, and every
    // id-keyed probe is a bucket point read — never a label-relation
    // scan. The fold is batching-independent —
    // rebuilds re-derive from immutable evidence, contraction
    // preserves connectivity and min-ids — so the final labels equal
    // the from-scratch closure over exactly the post-CDC corpus:
    // all documents minus the deleted history rows.
    QueryDef("q187_stream_components_cdc", Seq("A10", "F4", "R4"),
      ccComponentsSql(ccCdcKeepPredSql)) { (s0, d) =>
      val stateDir = ccHistStateDir(s0, d)
      val s = EventQueries.streamSession(s0)
      val docs = Tables.documents(s, d)
      val sigs = docs.select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
        .localCheckpoint(false) // the static probe side, pinned once
      val changelog = sigs.filter(col("doc_id") % 7 === 0)
        .select(lit("I").as("op"), col("doc_id"), col("simhash"))
        .unionByName(ccDeletedIds(docs).filter(col("doc_id") % 7 =!= 0)
          .select(lit("D").as("op"), col("doc_id"),
            lit(null).cast("long").as("simhash")))
      val root = EventQueries.foldDrain(s,
          EventQueries.stageRangedDrain(changelog, 3, "doc_id", "graft_cccdc_"),
          changelog.schema, "graft_stream_cc_cdc") { (root, b, id) =>
        componentsCdcStep(stateDir, root, b, id, sigs)
      }
      BucketedGens.read(s, s"$root/labels", BucketedGens.latest(s"$root/labels"),
          stateRel(s, stateDir, "labels"))
        .select(col("id").as("doc_id"), col("component"))
    },

    // THE MANIFEST UNDER THE FULL CHANGELOG — the round's capstone
    // composition: q187's label lifecycle AND q182/q188's survivor
    // manifest, maintained together under one mixed I/D stream. This
    // is the artifact a trainer actually consumes (which copy of every
    // surviving document to train on), kept live while documents
    // arrive and are forgotten. Per batch, after the label fold: the
    // repair universe is every doc whose standing can change — members
    // of components touched by the batch's delta pairs or the delete
    // side's orig-closure rebuild, new arrivals (their quality rides
    // the changelog into the fold's op ledger — history quality lives
    // in the bucketed membership artifact, read pruned), and remnant
    // singletons. Everything outside the universe passes through
    // byte-identical. Third query on the survivor oracle family: the
    // maintained manifest must equal the from-scratch derivation over
    // the post-CDC corpus, however the changelog was batched.
    QueryDef("q189_stream_manifest_cdc", Seq("A10", "A2", "W6", "F4", "R4"),
      survivorManifestSql(ccCdcKeepPredSql)) { (s0, d) =>
      val s = EventQueries.streamSession(s0)
      // the pre-drain jobs carry q189's own labels (not cfold:/mfold:,
      // which count fold work): the docs read and the static sig pin,
      // then the staged states and the changelog staging
      val (docs, sigs) = labeled(s, "q189:sigs") {
        val docs = Tables.documents(s, d)
        (docs, docs.select(col("doc_id"),
          TextDedup.simHashN(col("text"), 60).as("simhash"))
          .localCheckpoint(false)) // the static probe side, pinned once
      }
      val changelog = manifestCdcChangelog(docs)
      val (ccState, survState, staged) = labeled(s, "q189:stage")((
        ccHistStateDir(s0, d), survivorHistStateDir(s0, d),
        EventQueries.stageRangedDrain(changelog, 3, "doc_id", "graft_mcdc_")))
      val root = EventQueries.foldDrain(s, staged,
          changelog.schema, "graft_stream_manifest_cdc") { (root, b, id) =>
        survivorCdcStep(ccState, survState, root, b, id, sigs)
      }
      BucketedGens.read(s, s"$root/manifest", BucketedGens.latest(s"$root/manifest"),
          stateRel(s, survState, "manifest"))
        .select("component", "survivor_id", "n_members", "quality")
    },

    // LEDGER COMPACTION UNDER THE FULL CHANGELOG — q189's maintained
    // manifest with a COMPACTION folded into the middle of the stream:
    // the ops/pairs ledger SEGMENTS are the CDC family's only
    // unbounded carried state, so when they outgrow the standing
    // manifest (shouldCompact's size policy — the r17 replacement for
    // a hardcoded batch cadence) the step re-stages the at-rest state
    // over the present corpus and truncates them (survivorCompactStep —
    // the q149/q154 "cheapest serve" discipline applied to the cluster
    // family). The changelog is split into four ranged batches; on
    // this fixture the policy fires before batch 2: pre-compaction
    // folds pay the segment reconstruction, post-compaction folds see
    // no segments above the read floor and a fresh bucketed state —
    // and the final manifest must STILL equal the from-scratch
    // derivation over the post-CDC corpus: the SAME oracle text as
    // q189, so compaction is provably invisible to consumers wherever
    // the policy splices it. Generation ids double up (batch b → gen
    // 2b+1, its preceding compaction → gen 2b) so both land in one
    // monotone committed-predecessor chain and a replayed batch
    // re-runs its compaction decision idempotently before re-folding.
    QueryDef("q190_stream_manifest_compaction", Seq("A10", "A2", "W6", "F4", "R4"),
      survivorManifestSql(ccCdcKeepPredSql)) { (s0, d) =>
      val ccState = ccHistStateDir(s0, d)
      val survState = survivorHistStateDir(s0, d)
      val s = EventQueries.streamSession(s0)
      val sinkName = "graft_stream_manifest_compaction"
      graft.streaming.StreamMetrics.resetSegments(s"${sinkName}_compactions")
      val docs = Tables.documents(s, d)
      val sigs = docs.select(col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"))
        .localCheckpoint(false) // the static probe side, pinned once
      val changelog = manifestCdcChangelog(docs)
      val root = EventQueries.foldDrain(s,
          EventQueries.stageRangedDrain(changelog, 4, "doc_id", "graft_mcmp_"),
          changelog.schema, sinkName) { (root, b, bid) =>
        // SIZE-DRIVEN cadence (r17 — was a hardcoded `bid == 2`):
        // compact when the ledger segments outweigh 10% of the
        // standing manifest. The policy decides the splice point; the
        // oracle (same text as q189) proves whichever point it picks
        // invisible. On this fixture one batch accrues 6-8% of the
        // manifest in segments (the ops segment ≈ a changelog quarter,
        // plus its few probe pairs — measured 0.068-0.076 before batch
        // 1, 0.125-0.144 before batch 2 and 0.060-0.069 before batch 3
        // at sf0.001, sf0.01 AND sf0.1), so 0.1 fires exactly once,
        // before batch 2, and stays quiet after the truncation. Gen
        // ids still double up (compaction 2b, batch 2b+1) and the
        // decision replays idempotently (skip by marker; truncation is
        // the ledger read FLOOR, so a replay that re-counts pre-vacuum
        // segments only re-enters the skip path).
        if (shouldCompact(root, 2 * bid, frac = 0.1)) {
          survivorCompactStep(ccState, survState, root, 2 * bid, sigs)
          // observable beside the fold ledger (separate key — the
          // fold-cadence gates read the plain sink name)
          graft.streaming.StreamMetrics.recordSegment(
            s"${sinkName}_compactions", bid, 1L)
        }
        survivorCdcStep(ccState, survState, root, b, 2 * bid + 1, sigs)
      }
      // the manifest resolves AtRest buckets against the COMPACTED
      // state when one landed — the same resolution the folds use
      val servedState = effectiveState(s, root, None, survState)
      BucketedGens.read(s, s"$root/manifest", BucketedGens.latest(s"$root/manifest"),
          stateRel(s, servedState, "manifest"))
        .select("component", "survivor_id", "n_members", "quality")
    },

    // AS-OF SERVING FOR THE MAINTAINED MANIFEST — time travel the
    // generation store gives for FREE: every committed generation's
    // owners map is a complete, immutable snapshot description (each
    // bucket → the gen dir holding its content as of that fold), so
    // "the manifest as it stood after batch k" is just a resolution
    // against gen k's owners — no rebuild, no log replay, the q157
    // as-of discipline applied to the maintained artifact (the audit
    // question a forget-request pipeline actually gets asked: what was
    // the trainer served BEFORE yesterday's deletes landed?). The
    // changelog is two EXPLICITLY-split delete batches (even doc_ids,
    // then odd — stageOrderedDrain, a deterministic boundary the oracle
    // replays, unlike the range sampler's); the query folds BOTH but
    // returns the gen-0 resolution, so the oracle is the from-scratch
    // derivation over the corpus with ONLY the even deletes applied.
    // Vacuum keeps gen 0 alive by construction: it is the committed
    // predecessor in batch 1's replay window.
    QueryDef("q191_manifest_asof", Seq("A10", "A2", "W6", "F4"),
      survivorManifestSql("(doc_id % 13 <> 3 OR doc_id % 2 <> 0)")) { (s0, d) =>
      val ccState = ccStateDir(s0, d)
      val survState = survivorStateDir(s0, d)
      val s = EventQueries.streamSession(s0)
      val deleted = ccDeletedIds(Tables.documents(s, d))
      val root = EventQueries.foldDrain(s, stageEvenOddDeletes("graft_asof_", deleted),
          deleted.schema, "graft_manifest_asof") { (root, b, id) =>
        survivorRetractStep(ccState, survState, root, b, id)
      }
      // the AS-OF read: resolve generation 0's owners — the manifest
      // after the EVEN deletes only, served while gen 1 is current
      val gen0 = BucketedGens.latest(s"$root/manifest", below = Some(1L))
        .getOrElse(sys.error("q191: generation 0 missing — the first batch never committed"))
      BucketedGens.read(s, s"$root/manifest", Some(gen0),
          atRestManifestGenRows(s, survState))
        .select("component", "survivor_id", "n_members", "quality")
    },

    // AS-OF-TIME SERVING (round 18) — q191 asked by TIMESTAMP instead of
    // generation id: every fold commits its batch's event time (here a
    // synthetic per-batch watermark — day 0 and day 1) into the
    // generation's owners marker, and the audit question "what was the
    // trainer served on the evening of day 0?" resolves through
    // BucketedGens.genAsOf(ts) — no generation-id bookkeeping, no log
    // replay. Same two explicitly-split delete batches and the SAME
    // oracle as q191 (the from-scratch derivation with only the even
    // deletes applied): asking by time must return exactly what asking
    // by generation did. Retention interplay: genAsOf(ts).genId is the
    // one-liner an operator pins ("hold the June snapshot" =
    // graft.gens.pins += that id).
    QueryDef("q192_manifest_asof_time", Seq("A10", "A2", "W6", "F4"),
      survivorManifestSql("(doc_id % 13 <> 3 OR doc_id % 2 <> 0)")) { (s0, d) =>
      val ccState = ccStateDir(s0, d)
      val survState = survivorStateDir(s0, d)
      val s = EventQueries.streamSession(s0)
      // the synthetic batch watermark: batch id → start of day id
      def tsOf(id: Long): Long = java.time.LocalDate.of(2026, 6, 1)
        .plusDays(id).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli
      val deleted = ccDeletedIds(Tables.documents(s, d))
      val root = EventQueries.foldDrain(s, stageEvenOddDeletes("graft_asoft_", deleted),
          deleted.schema, "graft_manifest_asof_time") { (root, b, id) =>
        survivorRetractStep(ccState, survState, root, b, id, ts = Some(tsOf(id)))
      }
      // the AS-OF-TIME read: "as of day 0, 23:00" — after batch 0's
      // watermark, before batch 1's — must resolve generation 0
      val gen0 = BucketedGens.genAsOf(s"$root/manifest",
          tsOf(0) + 23L * 3600 * 1000)
        .getOrElse(sys.error("q192: no generation committed at or before the ask"))
      require(gen0.genId == 0L,
        s"q192: as-of day-0 must resolve generation 0, got ${gen0.genId}")
      BucketedGens.read(s, s"$root/manifest", Some(gen0),
          atRestManifestGenRows(s, survState))
        .select("component", "survivor_id", "n_members", "quality")
    },
  )

  /** q189/q190's mixed I/D changelog over `docs`: arrivals (I) are
    * doc_id % 7 == 0 carrying their row-local simhash and quality,
    * deletes (D) are the retraction set restricted to history. The I
    * side needs quality, which needs the TEXT — so this is one slice
    * scan computing both row-local expressions, deliberately NOT a join
    * against the pinned sigs frame (joining corpus-sized sigs to the
    * 1/7 slice costs more than re-hashing the slice once at staging
    * time). */
  private def manifestCdcChangelog(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") % 7 === 0)
      .select(lit("I").as("op"), col("doc_id"),
        TextDedup.simHashN(col("text"), 60).as("simhash"),
        TextFns.qualityScore(col("text"), TextQueries.qualityStops).as("quality"))
      .unionByName(ccDeletedIds(docs).filter(col("doc_id") % 7 =!= 0)
        .select(lit("D").as("op"), col("doc_id"),
          lit(null).cast("long").as("simhash"),
          lit(null).cast("double").as("quality")))

  /** q191/q192's delete stream: two EXPLICITLY-split batches, even
    * doc_ids then odd — a deterministic boundary their oracle replays. */
  private def stageEvenOddDeletes(prefix: String,
      deleted: org.apache.spark.sql.DataFrame): String =
    EventQueries.stageOrderedDrain(prefix, Seq(
      deleted.filter(col("doc_id") % 2 === 0),
      deleted.filter(col("doc_id") % 2 =!= 0)))


  /** One q172 maintenance step (r17 shape): fold edge micro-batch `b`
    * into the standing labels with O(delta) I/O on BOTH sides — the CDC
    * fold's append side specialized to a merge-only stream that starts
    * from an EMPTY standing state. The batch's incident components
    * resolve through the doc-keyed byid mirror (bucket point reads),
    * their members re-enter as contraction edges (CC(contract(L) ∪ Δ) =
    * CC(edges(L) ∪ Δ); merge-only, so the incident components ARE the
    * whole affected universe — no orig-closure), ONE components run
    * covers batch-sized evidence, and only the touched buckets are
    * rewritten (observed writes, owners-map count arithmetic). The r16
    * shape re-contracted and rewrote the FULL standing relation every
    * batch — O(standing) compute and write per fold. Replays re-base
    * both keyings on their committed predecessors strictly below `id`
    * and converge. Returns the standing label count. */
  private[graft] def componentsMergeStep(root: String,
      b: org.apache.spark.sql.DataFrame, id: Long,
      ts: Option[Long] = None): Long = {
    val s = b.sparkSession
    val nb = 16
    val labelsRoot = s"$root/labels"
    val byidRoot = s"$root/labels_byid"
    val base = BucketedGens.latest(labelsRoot, below = Some(id))
    val baseBy = BucketedGens.latest(byidRoot, below = Some(id))
    // every frame below is batch-sized and held on the driver (see
    // [[Held]]): its key and bucket sets are Scala, its semi/anti
    // consumers InSet filters — the merge fold pays one collect per
    // frame and no broadcast or bucket-collect job
    val bE = Held(b.select("id_a", "id_b"))
    // the standing state starts EMPTY — AtRest buckets resolve to no rows
    def atRestEmpty = emptyState(s, "labels")
    val incident = (bE.keys("id_a") ++ bE.keys("id_b")).distinct
    val touched = Held(
      semiIn(BucketedGens.read(s, byidRoot, baseBy, atRestEmpty,
          Some(bucketsOf(incident, nb))), "id", incident)
        .select("component")).keys("component")
    val mTouched = Held(
      semiIn(BucketedGens.read(s, labelsRoot, base, atRestEmpty,
          Some(bucketsOf(touched, nb))), "component", touched)
        .select("id", "component"))
    val newLocal = componentsHeld( // written under BOTH keyings
      mTouched.df.select(col("id").as("id_a"), col("component").as("id_b"))
        .unionByName(bE.df))
    val oldAffected = mTouched.keys("id")
    val buckets = bucketsOf(touched ++ newLocal.keys("component"), nb)
    val byBuckets = bucketsOf(oldAffected ++ newLocal.keys("id"), nb)
    // the two mirror writes in ONE parallel wave (r19, guide §2.6 —
    // independent dirs, independent payload derivations); the commits
    // below stay sequential in the original order, so the replay
    // discipline is unchanged
    val ((written, nextRows, predRows), (writtenBy, _, _)) = inParallel(
      BucketedGens.observedWrite(
          BucketedGens.read(s, labelsRoot, base, atRestEmpty, Some(buckets)),
          buckets, s"$labelsRoot/gen-$id") { p =>
        antiIn(p.select("id", "component"), "id", oldAffected)
          .unionByName(newLocal.df)
          .transform(bucketed("component", nb))
      },
      BucketedGens.observedWrite(
          BucketedGens.read(s, byidRoot, baseBy, atRestEmpty, Some(byBuckets)),
          byBuckets, s"$byidRoot/gen-$id") { p =>
        antiIn(p.select("id", "component"), "id", oldAffected)
          .unionByName(newLocal.df)
          .transform(bucketed("id", nb))
      })
    val rows = base.map(_.rows).getOrElse(0L) - predRows + nextRows
    BucketedGens.commitFold(s, labelsRoot, base, id, nb, buckets, written, rows, ts)
    BucketedGens.commitFold(s, byidRoot, baseBy, id, nb, byBuckets, writtenBy, rows, ts)
    rows
  }

  // ---- retraction state (q181/q182/q185) --------------------------------

  /** The retraction fixture's CDC delete set: doc_id % 13 == 3 (~8% of
    * docs). ONE definition feeding the engine's delete frames and — via
    * [[ccKeepPredSql]] — every retraction oracle, so the two sides can
    * never disagree on what was forgotten. */
  private[graft] def ccDeletedIds(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(col("doc_id") % 13 === 3).select("doc_id")

  /** The keep-side document predicate (oracle form of [[ccDeletedIds]]).
    * A def — `defs` above initializes first and a val here would still
    * be null when the oracle strings interpolate it. */
  private def ccKeepPredSql = "doc_id % 13 <> 3"

  /** q187's post-CDC corpus: history (doc_id % 7 <> 0) minus its
    * deletes, plus every arrival — i.e. all documents except deleted
    * HISTORY rows (the fixture's deletes target history only). */
  private def ccCdcKeepPredSql = "(doc_id % 13 <> 3 OR doc_id % 7 = 0)"

  /** The cluster state AT REST — what makes deletes O(affected): ONE
    * staged dir holding `labels` (id, component — the standing q65
    * labeling) and `edges` (the near-dup pair graph KEYED BY COMPONENT),
    * BOTH partitioned by pmod(component, 16) buckets, so a delete opens
    * only its clusters' partitions — and a maintained-label generation
    * ([[BucketedGens]]) can point untouched buckets straight back here.
    * Round 17 adds `labels_byid`: the SAME label rows partitioned by
    * pmod(id, 16) — the doc-keyed companion index that turns every
    * id-keyed probe ("which component holds doc X", "what was doc X's
    * original at-rest cluster") into a ~|batch|-bucket point read
    * where r16 paid a full label-relation scan per micro-batch (the
    * read floor). Built in one pass: pairs → components → edges
    * re-keyed through the labels, labels mirrored under both keyings.
    * The `_SUCCESS` marker is written manually because the payloads
    * live in subdirs. */
  private def stagedCcState(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String,
      /** by name: a staged-cache hit builds no frame */
      docs: => org.apache.spark.sql.DataFrame,
      /** explicit bucket count (the decade gates' handle); ≤ 0 derives
        * it from the standing label rows via [[stagedBuckets]] — the
        * byte-floor density rule, applied at initial staging (r19) */
      nb0: Int = -1): String =
    graft.sources.ZOrder.ensureStagedDir(tag, d, s"$d/documents.parquet") { target =>
      EventQueries.multiWriteStage(target) { stage =>
        val (cc, _) = buildCcState(
          docs.select(col("doc_id"), TextDedup.simHashN(col("text"), 60).as("simhash")),
          stage, n => if (nb0 > 0) nb0 else stagedBuckets(s, n))
        cc.writes.foreach(awaitFold(_, "staged cluster-state write"))
        writeStateMeta(stage, "labels", cc.nb, cc.rows)
        StateFs.touch(s"$stage/_SUCCESS")
      }
    }

  /** A built state's bucket count, its standing row count (read off its
    * pin — the bucket count derives from it and the meta reuses it), and
    * its bucketed writes, still running on [[foldPool]]: the caller
    * joins them before it commits anything (metas, generations, the
    * `_SUCCESS` marker), so several builds' writes form one wave. */
  private final case class StateBuild(nb: Int, rows: Long,
      writes: Seq[scala.concurrent.Future[Unit]])

  /** `df` with its `bucket` column: pmod(`key`, nb). */
  private def bucketed(key: String, nb: Int)(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("bucket", pmod(col(key), lit(nb)).cast("int"))

  /** Start the bucketed writes of `rels` under `dir` on [[foldPool]] —
    * independent payloads of pinned frames, one parallel wave (r19,
    * guide §2.6). */
  private def writeWave(dir: String,
      rels: Seq[(String, org.apache.spark.sql.DataFrame)])
      : Seq[scala.concurrent.Future[Unit]] =
    rels.map { case (rel, df) =>
      onPool(BucketedGens.writeBucketed(df, s"$dir/$rel")) }

  /** THE cluster-state build, shared by initial staging and compaction:
    * the banded near-dup pairs over `sigs` (doc_id, simhash), pinned —
    * read by the components run AND the edge write — then the labels
    * pinned with their count, the bucket count `nbOf(count)` (staging's
    * density rule or compaction's rescale), and the bucketed writes
    * under `dir`: `labels` and `edges` by component, `labels_byid` by
    * id. Returns the build and the pinned labels (id, component). */
  private def buildCcState(sigs: org.apache.spark.sql.DataFrame, dir: String,
      nbOf: Long => Int): (StateBuild, org.apache.spark.sql.DataFrame) = {
    val pairs = TextDedup.simHashNearDup(sigs, "doc_id", "simhash", 3)
      .select("id_a", "id_b")
      .localCheckpoint()
    val labelsP = pinMetered(Components.connectedComponents(pairs, "id_a", "id_b"))
    val labels = labelsP.df
    val nb = nbOf(labelsP.n)
    // NO broadcast hint on the edge join: labels is CORPUS-derived (one
    // row per doc in any near-dup pair) — at 100 TB it's billions of
    // rows, and a hint OOMs where a keyed shuffle join just costs an
    // exchange. AQE still picks broadcast on its own at small scale.
    (StateBuild(nb, labelsP.n, writeWave(dir, Seq(
      "labels" -> labels.transform(bucketed("component", nb)),
      "labels_byid" -> labels.transform(bucketed("id", nb)),
      "edges" -> pairs.join(labels.select(col("id").as("id_a"), col("component")),
          Seq("id_a")).transform(bucketed("component", nb))))),
      labels)
  }

  /** THE survivor-state build, shared by initial staging and compaction:
    * every present doc of `scored` (doc_id, quality) under its component
    * in `labels` (id, component — an unclustered doc is its own
    * singleton), pinned — read by the membership write AND the election
    * — then the manifest ([[electSurvivors]]) pinned with its count, the
    * bucket count `nbOf(count)` (one row per present component: the keyed
    * relation whose density the count must hold), and the bucketed
    * `membership` and `manifest` writes under `dir`, both by component —
    * so a maintained-manifest generation can reference untouched buckets
    * here instead of re-materializing them. */
  private def buildSurvivorState(scored: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame, dir: String,
      nbOf: Long => Int): StateBuild = {
    // labels is corpus-derived — no broadcast hint (see buildCcState)
    val membership = scored
      .join(labels.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"), col("quality"))
      .localCheckpoint()
    val manifestP = pinMetered(electSurvivors(membership))
    val nb = nbOf(manifestP.n)
    StateBuild(nb, manifestP.n, writeWave(dir, Seq(
      "membership" -> membership.transform(bucketed("component", nb)),
      "manifest" -> manifestP.df.transform(bucketed("component", nb)))))
  }

  /** Staged bucket count (r19): the byte-floor density rule applied at
    * INITIAL staging, not only at compaction rescale — nb ≈ rows ·
    * bytesPerRowEst / minBucketBytes, so a freshly staged state starts
    * at the same constant-bytes-per-bucket target [[rescaleBuckets]]
    * holds later (8 MB default), instead of a constant 16/64 tuned for
    * neither local mode nor a cluster: at bench scale the constants
    * over-split MB-sized relations into ~70-row files whose per-file
    * open cost dominated every fold read/write (measured ~1 s per
    * 64-bucket manifest generation write at sf0.1), and at corpus
    * scale they under-split. The per-row estimate is deliberately
    * conservative (64 B ≫ parquet's encoded size for these narrow
    * relations); the first compaction replaces it with measured bytes
    * via [[scaledBytesEst]]. */
  private[graft] def stagedBuckets(s: org.apache.spark.sql.SparkSession,
      rows: Long, bytesPerRowEst: Long = 64L): Int = {
    val floor = math.max(1L, confMinBucketBytes(s))
    math.max(1L, math.min(1L << 20,
      math.ceil(rows.toDouble * bytesPerRowEst / floor).toLong)).toInt
  }

  /** Per-relation staged-state META ({"buckets":B,"rows":N}), written
    * beside every staged and compacted state so the folds (a) agree
    * with the state's bucket layout without a hardcoded count — the
    * production rule is nb ∝ corpus (constant target bucket SIZE), and
    * the fold must follow whatever the state was staged with — and (b)
    * never re-scan the full relation for a first-fold base row count.
    * Absent (synthetic pre-r17 fixtures) → the historical defaults
    * (16 label / 64 manifest buckets, count() fallback). */
  private[queries] def writeStateMeta(dir: String, rel: String, buckets: Int,
      rows: Long): Unit =
    StateFs.writeUtf8Atomic(s"$dir/_graft_meta_$rel.json",
      s"""{"buckets":$buckets,"rows":$rows}""")

  private[graft] def stateMeta(dir: String, rel: String): Option[(Int, Long)] = {
    val f = s"$dir/_graft_meta_$rel.json"
    if (!StateFs.exists(f)) None
    else {
      val t = StateFs.readUtf8(f)
      for {
        b <- """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(t).map(_.group(1).toInt)
        r <- """"rows"\s*:\s*(\d+)""".r.findFirstMatchIn(t).map(_.group(1).toLong)
      } yield (b, r)
    }
  }

  /** The declared schema of every relation a staged or compacted state
    * holds (`labels` bucketed by component, `labels_byid` by id, `edges`,
    * the compaction's `sigs` snapshot, `membership`, `manifest`) and of
    * every fold ledger's segments (`ops`, `pairs`, `dels`).
    * Every read of them declares it, for two reasons: over a corpus with
    * no near-duplicate pair the state holds no label rows, the
    * partitioned write leaves no data files, and an inferring read would
    * throw UNABLE_TO_INFER_SCHEMA instead of returning the empty
    * relation; and an inferring read runs one Spark job per call (the
    * footer-merge job), which the folds paid ~10 times per micro-batch.
    * A declared column the files lack reads as null with no error, so
    * DeclaredSchemaSpec pins each entry to what the writers produce. */
  private[graft] val stateSchemas: Map[String, String] = {
    val labels = "id BIGINT, component BIGINT, bucket INT"
    Map("labels" -> labels, "labels_byid" -> labels,
      "edges" -> "id_a BIGINT, id_b BIGINT, component BIGINT, bucket INT",
      "sigs" -> "doc_id BIGINT, simhash BIGINT",
      "membership" -> "doc_id BIGINT, component BIGINT, quality DOUBLE, bucket INT",
      "manifest" ->
        "component BIGINT, survivor_id BIGINT, n_members BIGINT, quality DOUBLE, bucket INT",
      "ops" -> "op STRING, doc_id BIGINT, simhash BIGINT, quality DOUBLE",
      "pairs" -> "id_a BIGINT, id_b BIGINT",
      "dels" -> "doc_id BIGINT")
  }

  /** Relation `rel` of the state under `dir`, read with its declared
    * schema ([[stateSchemas]]). */
  private[graft] def stateRel(s: org.apache.spark.sql.SparkSession,
      dir: String, rel: String): org.apache.spark.sql.DataFrame =
    s.read.schema(stateSchemas(rel)).parquet(s"$dir/$rel")

  /** An empty frame in `rel`'s declared schema — for a ledger family,
    * the schema [[SegLedger.read]] reads its segments with. */
  private def emptyState(s: org.apache.spark.sql.SparkSession,
      rel: String): org.apache.spark.sql.DataFrame =
    s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(stateSchemas(rel)))

  private def labelBuckets(dir: String): Int =
    stateMeta(dir, "labels").map(_._1).getOrElse(16)
  private def manifestBuckets(dir: String): Int =
    stateMeta(dir, "manifest").map(_._1).getOrElse(64)
  private def labelRows(s: org.apache.spark.sql.SparkSession, dir: String): Long =
    stateMeta(dir, "labels").map(_._2)
      .getOrElse(stateRel(s, dir, "labels").count())
  private def manifestRows(s: org.apache.spark.sql.SparkSession, dir: String): Long =
    stateMeta(dir, "manifest").map(_._2)
      .getOrElse(stateRel(s, dir, "manifest").count())

  /** A cc state staged at an explicit bucket count — the decade probe's
    * handle for the nb ∝ corpus rule (the gate stages 1× and N× states
    * at proportional counts and asserts a FIXED batch's fold reads stay
    * ~flat). */
  private[graft] def ccGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String, nb: Int): String =
    stagedCcState(s, d, s"graft_cc_gate_b${nb}v2", Tables.documents(s, d), nb)

  /** The manifest-side twin of [[ccGateStateDir]]: a survivor state
    * staged at an explicit manifest bucket count over the given cluster
    * state — the decade gate's handle for the q189 fold. */
  private[graft] def survivorGateStateDir(s: org.apache.spark.sql.SparkSession,
      d: String, ccState: String, nbM: Int): String =
    stagedSurvivorState(s, d, s"graft_survivor_gate_b${nbM}v1",
      Tables.documents(s, d), ccState, nbM)

  /** At-rest labels for a batch-sized set of driver-held doc ids — a
    * doc-keyed pruned read of the staged `labels_byid` mirror: only the
    * ids' pmod(id, nb) buckets open, never the full label relation, and
    * the row filter is an InSet. Rows absent from the result are
    * unclustered at rest (callers coalesce where the singleton rule
    * applies). */
  private def atRestLabelsForIds(s: org.apache.spark.sql.SparkSession,
      stateDir: String, ids: Seq[Any]): org.apache.spark.sql.DataFrame = {
    val bks = bucketsOf(ids, labelBuckets(stateDir))
    val byid = stateRel(s, stateDir, "labels_byid")
    semiIn(if (bks.isEmpty) byid.limit(0)
      else byid.filter(col("bucket").isin(bks.map(Int.box): _*)), "id", ids)
      .select("id", "component")
  }

  /** [[atRestLabelsForIds]] against the staged full-corpus state, with
    * the bucket list exposed — PlanBudgetSpec's file-level seam for
    * asserting the doc-keyed point read opens ONLY pmod(id, nb)
    * partitions of the byid mirror. */
  private[graft] def ccLabelsForIdsRead(s: org.apache.spark.sql.SparkSession,
      d: String, ids: org.apache.spark.sql.DataFrame,
      stateDirOpt: Option[String] = None)
      : (org.apache.spark.sql.DataFrame, Seq[Int]) = {
    val stateDir = stateDirOpt.getOrElse(ccStateDir(s, d))
    val keys = Held(ids.select("id")).keys("id")
    (atRestLabelsForIds(s, stateDir, keys), bucketsOf(keys, labelBuckets(stateDir)))
  }

  /** Full-corpus cluster state (q181/q182/q185). */
  private[graft] def ccStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    stagedCcState(s, d, "graft_cc_state_bd1", Tables.documents(s, d))

  /** HISTORY-ONLY cluster state (q187 — arrivals stream in later, so
    * the standing state must not have seen them). The tag ENCODES the
    * history rule (% 7): ensureStagedDir fingerprints source content,
    * not builder logic, so a fixture change must rename the tag or the
    * cache serves the old split forever. */
  private[graft] def ccHistStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    stagedCcState(s, d, "graft_cc_hist7_state_bd1",
      Tables.documents(s, d).filter(col("doc_id") % 7 =!= 0))

  /** The standing labels (id, component) from [[ccStateDir]]. */
  private[graft] def ccAtRestLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    stateRel(s, ccStateDir(s, d), "labels")

  /** Components with a deleted CLUSTERED member — the recompute set.
    * O(deletes) rows; lazily pinned because the callers both prune with
    * it and anti-join against it. */
  private[graft] def ccTouchedComps(s: org.apache.spark.sql.SparkSession,
      d: String,
      /** explicit state dir (PlanBudgetSpec probes a gate-staged state
        * at a pinned bucket count — the derived default can collapse to
        * 1 bucket at tiny SFs, making pruning asserts vacuous) */
      stateDirOpt: Option[String] = None): org.apache.spark.sql.DataFrame =
    stateRel(s, stateDirOpt.getOrElse(ccStateDir(s, d)), "labels")
      .join(ccDeletedIds(Tables.documents(s, d)).select(col("doc_id").as("id")),
        Seq("id"), "leftsemi")
      .select("component").distinct()
      .localCheckpoint(false)

  /** The PRUNED edge read: only `touched` components' bucket partitions
    * are opened (bucket-level partition prune from a bounded ≤16-entry
    * driver list), then a row-level semi-join keeps exactly the touched
    * components' edges. Exposed with the bucket list so PlanBudgetSpec
    * can assert the pruning at file level. */
  private[graft] def componentsTouchedRead(s: org.apache.spark.sql.SparkSession,
      d: String, touched: org.apache.spark.sql.DataFrame,
      stateDirOpt: Option[String] = None)
      : (org.apache.spark.sql.DataFrame, Seq[Int]) = {
    val stateDir = stateDirOpt.getOrElse(ccStateDir(s, d))
    val nbT = labelBuckets(stateDir)
    // bounded driver list (nb buckets total); nb == 1 ⇒ {0}, no collect
    val buckets =
      if (nbT == 1) Seq(0)
      else touched
        .select(pmod(col("component"), lit(nbT)).cast("int").as("bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val pruned = stateRel(s, stateDir, "edges")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(touched), Seq("component"), "leftsemi")
      .select("id_a", "id_b")
    (pruned, buckets)
  }

  /** Post-delete closure of the touched subgraph: drop every edge with
    * a deleted endpoint, re-run components. Deleting a node removes
    * only ITS edges (pair existence is pairwise), so this equals the
    * from-scratch closure restricted to the touched components. */
  private[graft] def retractedTouchedLabels(
      prunedEdges: org.apache.spark.sql.DataFrame,
      deleted: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val remaining = prunedEdges
      .join(deleted.select(col("doc_id").as("id_a")), Seq("id_a"), "left_anti")
      .join(deleted.select(col("doc_id").as("id_b")), Seq("id_b"), "left_anti")
    Components.connectedComponents(remaining, "id_a", "id_b")
  }

  /** The at-rest labels presented in maintained-generation shape
    * (orig == component before any fold) — the [[BucketedGens.AtRest]]
    * resolution target for label generations. */
  private def atRestLabelGenRows(s: org.apache.spark.sql.SparkSession,
      stateDir: String): org.apache.spark.sql.DataFrame =
    stateRel(s, stateDir, "labels")
      .select(col("id"), col("component"), col("component").as("orig"),
        col("bucket"))

  /** One q185 maintenance step: fold delete micro-batch `b` into the
    * standing labels under `$root/labels` — the batch's deletes name
    * their ORIGINAL components (at-rest labels; stable under splits
    * because deletes never merge), those components are rebuilt from
    * the pruned at-rest edges minus the CUMULATIVE delete ledger
    * (`$root/dels`, O(deletes) rows carried per generation), and the
    * rebuilt rows replace exactly those original components' label
    * rows. State I/O is O(touched), not O(corpus): generations are
    * BUCKET-PARTITIONED by pmod(orig, 16) ([[BucketedGens]]) — the fold
    * writes only the buckets holding touched originals and re-points
    * every other bucket at its predecessor (at-rest for never-touched
    * buckets), so untouched labels are never rewritten OR re-read.
    * Commit + vacuum follow the committed-predecessor discipline, so a
    * replayed batch re-bases and converges. Returns the standing label
    * count (maintained arithmetically in the owners map — serving it
    * never re-reads the state). */
  private[graft] def componentsRetractStep(stateDir: String, root: String,
      b: org.apache.spark.sql.DataFrame, id: Long,
      ts: Option[Long] = None): Long =
    componentsRetractImpl(stateDir, root, b, Held(b.select("doc_id")).keys("doc_id"),
      id, ts)._1

  /** [[componentsRetractStep]] over the batch's driver-held doc ids
    * `bIds`, returning also the batch's REBUILT label rows (pinned) — the
    * manifest repair relabels through exactly these, sparing a re-read
    * of the generation just written. */
  private def componentsRetractImpl(stateDir: String, root: String,
      b: org.apache.spark.sql.DataFrame, bIds: Seq[Any], id: Long,
      ts: Option[Long])
      : (Long, org.apache.spark.sql.DataFrame) = {
    val s = b.sparkSession
    val labelsRoot = s"$root/labels"
    val nb = labelBuckets(stateDir)
    val atRest = stateRel(s, stateDir, "labels")
    val base = BucketedGens.latest(labelsRoot, below = Some(id))
    // BOUND the dels family's reconstruction width (r18 — this family
    // has no state-level compaction, so a long forget-request stream
    // would otherwise accrue one segment dir per batch forever and
    // every fold would union an ever-growing read list): past
    // maxSegments standing segments, checkpoint the idempotent delete
    // set BELOW the current batch id — a replay of `id` still reads
    // everything strictly below itself through the checkpoint.
    val maxSegs = s.conf.get("graft.segledger.maxSegments", "64").toInt
    // standingCountSweeping also sweeps dirs stranded by a crash between
    // a checkpoint's commit and its vacuum (riding this check's listing)
    if (SegLedger.standingCountSweeping(s"$root/dels", id) > maxSegs)
      SegLedger.checkpoint(s, s"$root/dels", id, emptyState(s, "dels"))
    // the cumulative delete set reconstructed from O(batch) SEGMENTS
    // (r17): each fold appends only its own doc ids; deletes never
    // retract in this family, so the union IS the cumulative state
    // one parallel wave (r19, guide §2.6): the cumulative-delete
    // checkpoint and the batch's orig point read share only the batch
    // frame — after the dels-family checkpoint trigger above, nothing
    // below mutates the family, so the two actions overlap
    val bIdFrame = Held.ids(s, "doc_id", bIds).df
    val (cumDels, touchedOrig) = inParallel(
      SegLedger.read(s, s"$root/dels", id, emptyState(s, "dels"))
        .select("doc_id")
        .unionByName(bIdFrame).distinct()
        .localCheckpoint(), // read by both anti-joins
      // the batch's ORIGINAL components — a doc-keyed pruned point read
      // (r17: the r16 shape semi-joined the full at-rest label relation,
      // an O(corpus) scan per micro-batch); ≤ batch rows, held
      Held(atRestLabelsForIds(s, stateDir, bIds).select("component"))
        .keys("component"))
    val buckets = bucketsOf(touchedOrig, nb)
    val atRestRows = atRestLabelGenRows(s, stateDir)
    // predecessor content of ONLY the touched buckets — resolved
    // through the owners map, partition-pruned per owning generation,
    // consumed exactly once inside the observed generation write (no pin)
    val predTouched = BucketedGens.read(s, labelsRoot, base, atRestRows, Some(buckets))
    val pruned =
      if (buckets.isEmpty) atRest.select(col("id").as("id_a"), col("id").as("id_b")).limit(0)
      else semiIn(stateRel(s, stateDir, "edges")
          .filter(col("bucket").isin(buckets.map(Int.box): _*)), "component", touchedOrig)
        .select("id_a", "id_b")
    // every recomputed id is an at-rest member of a touched original, so
    // its orig comes from the SAME pruned bucket set the edges use —
    // never a join against the full at-rest relation
    val touchedAtRestOrig =
      if (buckets.isEmpty) atRest.select(col("id"), col("component").as("orig")).limit(0)
      else semiIn(atRest.filter(col("bucket").isin(buckets.map(Int.box): _*)),
          "component", touchedOrig)
        .select(col("id"), col("component").as("orig"))
    val recomputed = retractedTouchedLabels(pruned, cumDels)
      .join(touchedAtRestOrig, Seq("id"))
      .localCheckpoint() // read by the bucket rewrite AND the manifest repair
    // ONE action: the generation write carries the per-bucket counts (a
    // touched bucket the rewrite left EMPTY — every cluster in it
    // dissolved — has no parquet dir, so emptiness must be recorded in
    // the owners map, not inferred from the filesystem) AND both sides
    // of the standing-count arithmetic as observe() metrics
    // generation write ∥ the batch's dels segment (independent roots;
    // commits below stay sequential — crash-window story unchanged)
    val ((written, nextRows, predRows), _) = inParallel(
      BucketedGens.observedWrite(
          predTouched, buckets, s"$labelsRoot/gen-$id") { pred =>
        antiIn(pred, "orig", touchedOrig)
          .select("id", "component", "orig")
          .unionByName(recomputed.select("id", "component", "orig"))
          .transform(bucketed("orig", nb))
      },
      SegLedger.append(bIdFrame, s"$root/dels", id))
    val baseRows = base.map(_.rows).getOrElse(labelRows(s, stateDir))
    val rows = baseRows - predRows + nextRows
    BucketedGens.commitFold(s, labelsRoot, base, id, nb, buckets, written, rows, ts)
    (rows, recomputed)
  }

  /** The at-rest manifest presented in maintained-generation shape
    * (orig == component before any fold) — the [[BucketedGens.AtRest]]
    * resolution target for manifest generations. */
  private def atRestManifestGenRows(s: org.apache.spark.sql.SparkSession,
      survState: String): org.apache.spark.sql.DataFrame =
    stateRel(s, survState, "manifest")
      .select(col("component"), col("survivor_id"), col("n_members"),
        col("quality"), col("component").as("orig"), col("bucket"))

  /** One q188 maintenance step: q185's label fold (shared verbatim),
    * then the manifest repair. The repair set is keyed by ORIGINAL
    * component — every manifest row whose original (carried on the row
    * since the row was last derived; identity at rest) is touched by
    * THIS batch's deletes is re-derived from the pruned membership
    * buckets, relabeled through the batch's rebuilt labels. Manifest
    * generations are BUCKET-PARTITIONED by pmod(orig, 64)
    * ([[BucketedGens]]): the repair writes only the touched originals'
    * buckets and re-points every other bucket at its predecessor, so
    * pass-through rows are never rewritten or re-read — per-batch
    * manifest I/O is O(touched), not O(standing manifest). Idempotent
    * per original ⇒ replays and any batching converge. Returns the
    * standing manifest row count (owners-map arithmetic, no re-read). */
  private[graft] def survivorRetractStep(ccState: String, survState: String,
      root: String, b: org.apache.spark.sql.DataFrame, id: Long,
      ts: Option[Long] = None): Long = {
    val s = b.sparkSession
    val manRoot = s"$root/manifest"
    val nbM = manifestBuckets(survState)
    // THIS batch's touched originals — singleton deletes are their own
    // component (exactly the manifest's key rule). Doc-keyed pruned
    // point read (r17): the r16 shape left-joined the full at-rest
    // label relation, an O(corpus) scan per micro-batch. Runs on
    // [[foldPool]] OVERLAPPING the label fold (r19, guide §2.6): it
    // reads only the immutable at-rest state + the batch frame, never
    // the generations the fold is writing. The batch ids and the
    // originals are held on the driver: the coalesce is Scala.
    val bIds = Held(b.select("doc_id")).keys("doc_id")
    val fTouchedOrig = onPool {
      val comp = Held(atRestLabelsForIds(s, ccState, bIds)).rows
        .map(r => r.get(0) -> r.get(1)).toMap
      bIds.map(d => comp.getOrElse(d, d)).distinct
    }
    val (_, rebuilt) = componentsRetractImpl(ccState, root, b, bIds, id, ts)
    val baseM = BucketedGens.latest(manRoot, below = Some(id))
    val atRestRows = atRestManifestGenRows(s, survState)
    val touchedOrig = awaitFold(fTouchedOrig, "touched-orig read")
    val buckets = bucketsOf(touchedOrig, nbM)
    // predecessor manifest rows of ONLY the touched buckets — consumed
    // once, inside the observed generation write below
    val predTouched = BucketedGens.read(s, manRoot, baseM, atRestRows, Some(buckets))
    // re-elect over the touched originals' full remaining membership,
    // relabeled through the batch's REBUILT labels (exactly the touched
    // originals' post-delete closure — edge-less members coalesce to
    // their own id, the singleton rule)
    val cumDels = SegLedger.read(s, s"$root/dels", id + 1, emptyState(s, "dels"))
      .select("doc_id").distinct()
    val newLabels = rebuilt
      .select(col("id").as("doc_id"), col("component").as("__newc"))
    // held: one row per touched original's re-elected component, and
    // the orig lookup below keys on its component ids
    val reElected = Held(semiIn(stateRel(s, survState, "membership")
        .filter(col("bucket").isin(buckets.map(Int.box): _*)), "component", touchedOrig)
      .join(cumDels, Seq("doc_id"), "left_anti")
      .drop("component")
      .join(newLabels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        coalesce(col("__newc"), col("doc_id")).as("component"))
      .transform(electSurvivors))
    // a re-elected component is a member id of a touched original, so
    // its orig resolves through the at-rest labels (self for remnant
    // singletons) and lands INSIDE the touched bucket set — a doc-keyed
    // pruned point read of the byid mirror (r17: was a per-batch join
    // against the full O(corpus) at-rest relation)
    val reElectedO = reElected.df
      .join(atRestLabelsForIds(s, ccState, reElected.keys("component"))
          .select(col("id").as("component"), col("component").as("__ro")),
        Seq("component"), "left")
      .select(col("component"), col("survivor_id"), col("n_members"),
        col("quality"), coalesce(col("__ro"), col("component")).as("orig"))
    // ONE action: write + per-bucket counts + both count-arithmetic
    // sides as observe() metrics (see componentsRetractImpl)
    val (written, nextRows, predRows) = BucketedGens.observedWrite(
        predTouched, buckets, s"$manRoot/gen-$id") { pred =>
      antiIn(pred, "orig", touchedOrig)
        .select("component", "survivor_id", "n_members", "quality", "orig")
        .unionByName(reElectedO)
        .transform(bucketed("orig", nbM))
    }
    val baseRows = baseM.map(_.rows)
      .getOrElse(manifestRows(s, survState))
    val rows = baseRows - predRows + nextRows
    BucketedGens.commitFold(s, manRoot, baseM, id, nbM, buckets, written, rows, ts)
    rows
  }

  /** One q187 maintenance step: fold a mixed I/D micro-batch into the
    * standing labels. State carried per batch, all O(delta) ON BOTH
    * SIDES of the I/O: `labels` + its doc-keyed `labels_byid` mirror
    * (BUCKET-PARTITIONED via [[BucketedGens]] — each fold writes ONLY
    * the buckets whose rows changed and re-points every other bucket at
    * its predecessor), `ops` (delta SEGMENTS of per-batch net I/D ops —
    * the I rows carry the appended simhash so a re-appended doc's
    * signature is the ledger's, never the static frame's; cumulative
    * delete/append state resolves last-writer-wins at read time), and
    * `pairs` (delta segments of APPENDED pairs — arrival edges exist
    * nowhere at rest; a pair dies when any LATER segment touches an
    * endpoint, so dead evidence never resurrects under a re-append).
    *
    * D-THEN-I upsert order: one batch may delete AND (re-)append the
    * same doc_id — a content update. The delete side forgets the doc
    * (its at-rest edges die via the superseded set, its ledger pairs
    * via the purge); the append side re-admits it through fresh probe
    * pairs carrying the batch's row-local simhash. A bare I for an
    * already-present doc is ALSO a full upsert: any touched doc's old
    * evidence is retracted and its fresh probe re-defines it, so a
    * signature-changing edit may arrive as D+I or as a bare I alike.
    *
    * The recompute is LOCAL to the affected components: the delete
    * side's ORIG-CLOSURE universe (pruned at-rest edge buckets + the
    * pair ledger) and the append side's delta-incident components
    * (re-entering as contraction edges — CC(contract(L) ∪ Δ) =
    * CC(edges(L) ∪ Δ)) feed ONE components run over batch-sized
    * evidence; untouched components are neither recomputed NOR
    * rewritten. Replays re-base on committed predecessors and
    * converge. Returns the standing label count (owners-map
    * arithmetic — never a full re-read). */
  private[graft] def componentsCdcStep(stateDir: String, root: String,
      b: org.apache.spark.sql.DataFrame, id: Long,
      staticSigs: org.apache.spark.sql.DataFrame,
      /** which doc_ids the at-rest state already covers (present before
        * any append) — q187 passes its % 7 split; the property test an
        * arbitrary membership */
      historyPred: org.apache.spark.sql.Column = col("doc_id") % 7 =!= 0,
      ts: Option[Long] = None): Long =
    componentsCdcImpl(stateDir, root, batchHead(b, "cfold:opsPin", Seq("simhash")),
      id, staticSigs, historyPred, ts).rows

  /** What [[componentsCdcImpl]] hands the manifest repair: the fold's
    * standing count, the affected docs' NEW labels (exactly the
    * components the batch rebuilt or merged), the affected docs' OLD
    * ids (label rows dropped this batch), the cumulative deletes and the
    * live appends' qualities (both resolved from the one op ledger) —
    * so [[survivorCdcStep]] never re-derives the rebuild universe. */
  private final case class CdcFold(rows: Long, newLocal: Held,
      oldAffected: Seq[Any], cumDels: org.apache.spark.sql.DataFrame,
      appsQ: org.apache.spark.sql.DataFrame)

  /** THE BATCH HEAD of a CDC fold — ONE action (r20 job diet): a single
    * per-doc aggregate over the batch's [[netOps]] computes the net op (I
    * beats D — max over {"D","I"}, the D-then-I upsert order), each
    * surviving I payload (first non-null: D rows carry null payloads)
    * and a per-doc payload-ambiguity flag, and its rows are held on the
    * driver, so op presence, the ambiguity check and the touched id
    * sets are Scala. q187's label fold asks for `simhash`, q189/q190's
    * composed fold for `simhash` and `quality` — one head per batch
    * either way, labeled `label`. A seq-less batch with >1 distinct I
    * payload for one doc_id fails loudly. */
  private def batchHead(b0: org.apache.spark.sql.DataFrame, label: String,
      payloads: Seq[String]): Held = {
    val ops = labeled(b0.sparkSession, label)(Held(netOps(b0).groupBy("doc_id").agg(
      max("op").as("op"),
      payloads.map(p => first(col(p), ignoreNulls = true).as(p)) ++
        payloads.map(p => ambiguous(p).as(s"__amb_$p")): _*)))
    if (!b0.columns.contains("seq")) payloads.foreach { p =>
      require(ops.where(s"__amb_$p", true).isEmpty,
        s"seq-less batch carries conflicting I payloads ($p) for one " +
          "doc_id — the op order is ambiguous; ordered producers must " +
          "ship a `seq` column")
    }
    ops
  }

  /** Normalize an ORDERED changelog batch — a `seq` column carrying
    * each row's changelog position — to per-doc NET ops: the max-seq
    * row per doc wins, intermediate incarnations inside one batch
    * cancel (I,D ⇒ net delete; D,I,D,I ⇒ net append with the LAST
    * sig/quality). Without `seq` the batch passes through and reads as
    * op SETS under the documented D-then-I order — sufficient when each
    * doc appears at most once per side, AMBIGUOUS beyond that (two I
    * rows for one doc with different sigs would both survive the
    * downstream distinct and land conflicting signatures in the apps
    * ledger). Seq-less producers that violate the contract fail LOUDLY:
    * each fold's batch-stats aggregate asserts one distinct I row per
    * (doc, payload) — the check rides an aggregate the fold pays
    * anyway, not an extra action. */
  private def netOps(b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (!b.columns.contains("seq")) b
    else b.withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("seq").desc)))
      .filter(col("__r") === 1).drop("__r", "seq")

  /** The per-doc payload-ambiguity flag of the batch head's groupBy: more
    * than one distinct non-null `struct(payload)` among the doc's I rows.
    * Written as min ≠ max over the same structs, not count_distinct > 1:
    * the predicate is the same (a doc with no I row reads null, counted
    * as no conflict), but a distinct aggregate beside the head's other
    * aggregates forces an Expand rewrite and a second shuffle — one
    * extra Spark job per micro-batch. */
  private def ambiguous(payload: String): org.apache.spark.sql.Column = {
    val p = when(col("op") === "I", struct(col(payload)))
    min(p) =!= max(p)
  }

  /** A pinned CORPUS-sized frame (the staging and compaction builds)
    * with its row count, read off the one localCheckpoint action as an
    * observe() metric. AQE may replace a statically-empty observed
    * subtree with an empty relation and drop the CollectMetrics node —
    * the metrics map comes back EMPTY, which means the true count is
    * zero (the round-17 observe lesson). Batch-sized fold frames are
    * [[Held]] instead. */
  private[queries] final case class Pin(df: org.apache.spark.sql.DataFrame, n: Long)

  /** A BATCH-SIZED fold frame held on the driver: its rows, collected by
    * the one action that used to be its localCheckpoint. The count, key
    * sets and bucket sets are then Scala over the rows (no observe()
    * metrics, no AQE missing-metric rule), `df` is a LocalRelation over
    * them for the consumers that still need a frame, and semi/anti
    * consumers filter with [[semiIn]]/[[antiIn]] on a key set — an
    * InSet, which runs no Spark job where a broadcast build side ran
    * one (a broadcast of a LocalRelation still does).
    *
    * Bound: every frame held here was a broadcast build side on
    * PlanBudgetSpec's O(batch) allowlist (or the batch head and V, built
    * only from such frames), and its broadcast already collected it
    * whole to the driver — holding it adds no driver-memory exposure,
    * so there is no size switch and no second path. */
  private[queries] final case class Held(s: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) {
    lazy val df: org.apache.spark.sql.DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def n: Long = rows.length.toLong
    /** The distinct non-null values of column `c`. */
    def keys(c: String): Seq[Any] = {
      val i = schema.fieldIndex(c)
      rows.iterator.map(_.get(i)).filter(_ != null).toSeq.distinct
    }
    /** The rows whose column `c` reads `v`. */
    def where(c: String, v: Any): Seq[org.apache.spark.sql.Row] = {
      val i = schema.fieldIndex(c)
      rows.toSeq.filter(_.get(i) == v)
    }
  }

  private[queries] object Held {
    /** Collect `df` — the one action the frame costs. */
    def apply(df: org.apache.spark.sql.DataFrame): Held =
      Held(df.sparkSession, df.collect(), df.schema)
    def empty(s: org.apache.spark.sql.SparkSession, ddl: String): Held =
      Held(s, Array.empty, org.apache.spark.sql.types.StructType.fromDDL(ddl))
    /** One BIGINT column `c` over driver-side keys. */
    def ids(s: org.apache.spark.sql.SparkSession, c: String, keys: Seq[Any]): Held =
      Held(s, keys.map(org.apache.spark.sql.Row(_)).toArray,
        org.apache.spark.sql.types.StructType.fromDDL(s"$c BIGINT"))
  }

  /** `df` semi-joined on `key` against a driver-held key set, as an
    * InSet filter: equal to a leftsemi join on `key` against the keys as
    * a broadcast frame (null keys never match), with no Spark job. */
  private[queries] def semiIn(df: org.apache.spark.sql.DataFrame, key: String,
      keys: Seq[Any]): org.apache.spark.sql.DataFrame =
    df.filter(col(key).isInCollection(keys.filter(_ != null)))

  /** `df` anti-joined on `key` against a driver-held key set, as an InSet
    * filter: equal to a left_anti join on `key` against the keys as a
    * broadcast frame, which keeps a row whose key is null. */
  private[queries] def antiIn(df: org.apache.spark.sql.DataFrame, key: String,
      keys: Seq[Any]): org.apache.spark.sql.DataFrame =
    df.filter(col(key).isNull || !col(key).isInCollection(keys.filter(_ != null)))

  /** The pmod(key, nb) bucket set of driver-held long keys. */
  private def bucketsOf(keys: Seq[Any], nb: Int): Seq[Int] =
    keys.map(k => java.lang.Math.floorMod(k.asInstanceOf[Long], nb.toLong).toInt)
      .distinct.sorted
  /** Dedicated daemon pool for OVERLAPPING independent driver actions
    * inside a fold (spark_optimization_guide §2.6): Spark's scheduler
    * happily runs several jobs at once; fold actions are sequential only
    * because the driver code calls them sequentially. At micro-batch
    * sizes each action's wall is dominated by fixed driver latency
    * (planning + job round-trips, ~70 ms/slot measured at sf0.1), so
    * running the independent ones concurrently removes whole slots from
    * the fold's critical path — on a cluster the same overlap back-fills
    * executors freed by one action's tail with the next action's tasks.
    * Cached pool: folds need at most a handful of threads, briefly. */
  private lazy val foldPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-fold-parallel")
        t.setDaemon(true)
        t
      }))

  /** Run `f` on [[foldPool]] under the SUBMITTING thread's job
    * description. Local properties are inherited when a thread is
    * created, so a reused pool thread would otherwise label its jobs
    * with whatever step or micro-batch first created it. */
  private[queries] def onPool[A](f: => A): scala.concurrent.Future[A] = {
    val s = org.apache.spark.sql.SparkSession.active
    val d = s.sparkContext.getLocalProperty("spark.job.description")
    scala.concurrent.Future(labeled(s, d)(f))(foldPool)
  }

  /** Label the jobs of one fold step (guide §1.5) so graft.Probe's
    * by-site table / the UI can attribute the family's ~70 ms
    * driver-action slots to steps.
    * Thread-local, so pool-side steps label their own jobs. */
  private[queries] def labeled[A](s: org.apache.spark.sql.SparkSession, d: String)(
      f: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(d)
    try f finally sc.setJobDescription(prev)
  }

  /** Await a [[foldPool]] step with a LOUD finite timeout (r20; was
    * Duration.Inf — a hung FS write wedged the fold forever with no
    * diagnostic). 30 min is ~3 orders of magnitude over any measured
    * fold step, so a trip can only mean a wedged write/executor. */
  private def awaitFold[A](f: scala.concurrent.Future[A], what: String): A =
    try scala.concurrent.Await.result(f,
      scala.concurrent.duration.Duration(30, "min"))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"fold step '$what' did not finish within 30 min — a parallel " +
            "fold write/probe is wedged (hung filesystem or executor); " +
            "state was NOT committed, the fold is safe to replay")
    }

  /** Run `b` on [[foldPool]] while `a` runs on the calling thread; both
    * results returned, failures propagated. ONLY for pairs with no data
    * or commit-order dependency (commits stay sequential on the caller). */
  private def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val fb = onPool(b)
    val ra = a
    (ra, awaitFold(fb, "inParallel"))
  }

  private[queries] def pinMetered(df: org.apache.spark.sql.DataFrame): Pin = {
    val obs = org.apache.spark.sql.Observation()
    val p = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    Pin(p, obs.get.get("n").fold(0L)(_.asInstanceOf[Long]))
  }

  /** Connected components of batch-sized evidence, held: the local
    * union-find's result is already on the driver; the distributed
    * path's frame is collected (its ids feed V, a held frame). */
  private def componentsHeld(edges: org.apache.spark.sql.DataFrame): Held =
    Components.connectedComponentsEither(edges, "id_a", "id_b") match {
      case Left(pairs) =>
        Held(edges.sparkSession,
          pairs.map { case (i, c) => org.apache.spark.sql.Row(i, c) },
          org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, component BIGINT"))
      case Right(df) => Held(df.select(col("id"), col("component")))
    }
  /** Ledger-size compaction TRIGGER (q190 — the policy in place of
    * r16's hardcoded cadence): compact when the accumulated ledger
    * segment rows exceed `frac` of the standing manifest rows, OR when
    * any family's SEGMENT COUNT exceeds `maxSegments` — the rows bound
    * caps read volume, the count bound caps the reconstruction plan's
    * width (a long run of tiny batches accrues many near-empty
    * segments whose union would otherwise grow the per-fold plan
    * unboundedly). Both sides are already on hand — segment `_meta`
    * row counts and the manifest owners map's `rows` — so the decision
    * costs ZERO Spark jobs. The standing side is the MANIFEST (one row
    * per present component, singletons included): the cluster labels
    * cover only clustered docs and can be arbitrarily small next to
    * the corpus, which would make a labels-relative trigger fire every
    * batch. */
  private[graft] def shouldCompact(root: String, below: Long, frac: Double,
      maxSegments: Int = 64): Boolean =
    BucketedGens.latest(s"$root/manifest", below = Some(below)).exists { m =>
      val floor = segFloor(root, Some(below))
      val fams = Seq("ops", "pairs").map(k => s"$root/$k")
      // the SEGMENT-COUNT width bound holds regardless of standing size
      // — a stream whose manifest empties (every doc deleted) must
      // still compact away its reconstruction plan's width; only the
      // ROWS bound is manifest-relative (an empty manifest makes any
      // nonzero ledger "infinitely" oversized, so it needs the guard)
      fams.map(SegLedger.dirs(_, below, floor).size).max > maxSegments ||
        (m.rows > 0 &&
          fams.map(SegLedger.rows(_, below, floor)).sum > frac * m.rows)
    }

  /** RE-BUCKETING RULE (r18): the bucket count a compaction commits for
    * a rebuilt relation — the staged density (rows per bucket at the
    * predecessor state) held constant, so "nb ∝ corpus" stays true when
    * the corpus grows IN PLACE under CDC appends, not only across fresh
    * stages. A ±2× hysteresis band keeps steady corpora from jiggling
    * the count every compaction (the jiggle would be harmless — a
    * compaction rewrites everything anyway — but stable counts keep
    * generations comparable across rounds). No previous density
    * (synthetic fixtures without a meta, or an empty relation) ⇒ the
    * count carries forward unchanged. */
  /* MIN-BYTES FLOOR (r19): growth is additionally capped so each
   * resulting bucket still holds >= `minBucketBytes` of the relation's
   * ESTIMATED new size (`newBytesEst`, derived from the predecessor
   * state's on-disk bytes scaled by the row ratio). Row-only rescaling
   * is right at production density but wrong at the small end: a corpus
   * that grows 10x in ROWS while its label relation is still MBs would
   * split into 10x more KB-sized files, and per-file overhead — not row
   * bytes — then dominates every pruned point read (the r18 decade
   * measurement: q190's wall moved 1.36x→1.69x for exactly this).
   * Shrinks and the no-change band are unaffected; unknown bytes
   * (`newBytesEst < 0`) keep the pure row rule. */
  private[graft] def rescaleBuckets(prevNb: Int, prevRows: Long,
      newRows: Long, newBytesEst: Long = -1L,
      minBucketBytes: Long = DefaultMinBucketBytes): Int =
    if (prevRows <= 0 || newRows <= 0 || prevNb <= 0) prevNb
    else {
      val target = math.max(1.0, prevRows.toDouble / prevNb)
      val ideal0 = math.max(1L, math.ceil(newRows / target).toLong)
      // cap GROWTH at the byte budget (never below the standing count —
      // the floor guards against tiny buckets, it never forces a shrink)
      val ideal =
        if (newBytesEst < 0 || minBucketBytes <= 0) ideal0
        else math.min(ideal0,
          math.max(prevNb.toLong, newBytesEst / minBucketBytes))
      if (ideal > 2L * prevNb || 2L * ideal < prevNb)
        math.min(ideal, 1L << 20).toInt
      else prevNb
    }

  /** Default [[rescaleBuckets]] byte floor: 8 MB per bucket. Overridden
    * per session via `graft.gens.minBucketBytes` (probes simulating
    * production density set it low; a deployment targeting bigger
    * point-read units sets it high). */
  private[graft] val DefaultMinBucketBytes: Long = 8L << 20

  private[graft] def confMinBucketBytes(
      s: org.apache.spark.sql.SparkSession): Long =
    s.conf.get("graft.gens.minBucketBytes", DefaultMinBucketBytes.toString).toLong

  /** Estimated on-disk bytes of a relation after growing to `newRows`,
    * from the predecessor relation's actual bytes and rows — the
    * [[rescaleBuckets]] `newBytesEst` input. -1 when no usable density
    * exists (missing dir or zero rows). */
  private def scaledBytesEst(prevDir: String, prevRows: Long,
      newRows: Long): Long =
    if (prevRows <= 0) -1L
    else {
      val b = StateFs.dirBytes(prevDir)
      if (b <= 0) -1L else math.ceil(b.toDouble * newRows / prevRows).toLong
    }

  /** The at-rest state a CDC fold reads: the latest COMPACTED state
    * generation under `$root/state` (strictly below `id` — the fold's
    * committed-predecessor rule), falling back to the initial staged
    * dir. [[survivorCompactStep]] lands these; a compacted generation
    * carries both the cluster state (labels/edges) and the survivor
    * state (membership/manifest), so one resolution serves both. */
  private def effectiveState(s: org.apache.spark.sql.SparkSession,
      root: String, below: Option[Long], initial: String): String =
    EventQueries.latestViewGen(s"$root/state", below).getOrElse(initial)

  /** The ledger-segment READ FLOOR paired with [[effectiveState]]: the
    * compacted state's generation id (segments at or below it are
    * absorbed into that state and must never be re-read), or no floor
    * when the fold still reads the initial staged dir. */
  private def segFloor(root: String, below: Option[Long]): Long =
    EventQueries.latestViewGen(s"$root/state", below)
      .map(p => p.substring(p.lastIndexOf("gen-") + 4).toLong)
      .getOrElse(Long.MinValue)

  /** [[componentsCdcStep]] over the batch's held [[batchHead]] `ops`. */
  private def componentsCdcImpl(stateDir0: String, root: String,
      ops: Held, id: Long,
      staticSigs: org.apache.spark.sql.DataFrame,
      historyPred: org.apache.spark.sql.Column,
      ts: Option[Long]): CdcFold = {
    val s = ops.s
    val labelsRoot = s"$root/labels"
    val stateDir = effectiveState(s, root, Some(id), stateDir0)
    val nb = labelBuckets(stateDir)
    val ledgerFloor = segFloor(root, Some(id))
    val atRest = stateRel(s, stateDir, "labels")
    def atRestRows = atRest.select(col("id"), col("component"), col("bucket"))
    val base = BucketedGens.latest(labelsRoot, below = Some(id))
    val emptyPairs = emptyState(s, "pairs")
    val hasI = ops.where("op", "I").nonEmpty
    // THE BATCH'S NET OPS — this (and only this) lands as the batch's
    // `ops` ledger SEGMENT: per-batch ledger write I/O is O(batch), not
    // O(churn-since-compaction) (r17 — r16 rewrote the full cumulative
    // frames every fold). I beats D within a batch (the D-then-I upsert
    // order), so a doc carries exactly one row per segment. The I rows
    // carry the head's quality when it has one (the composed manifest
    // fold's) — ONE change ledger serves the label fold and the
    // manifest repair; q187's label-only head writes null.
    val batchOps = ops.df.select(col("op"), col("doc_id"), col("simhash"),
      (if (ops.schema.fieldNames.contains("quality")) col("quality")
       else lit(null).cast("double")).as("quality"))
    val bI = batchOps.filter(col("op") === "I").select("doc_id", "simhash")
    // cumulative state RECONSTRUCTED from the segments: last-writer-wins
    // per doc over segment ordinals ([[SegLedger.lastWriterWins]]). One
    // window over O(churn-since-compaction) rows — the same read volume
    // the r16 cumulative frames paid, with none of the per-batch full
    // rewrites. A fold with NO standing segments (first batch, or right
    // after a compaction — a DRIVER-side listing, no job) skips the
    // window: its own net ops ARE the winners.
    val hasOpsSegs = SegLedger.dirs(s"$root/ops", id, ledgerFloor).nonEmpty
    val allOps = SegLedger.read(s, s"$root/ops", id, emptyState(s, "ops"), ledgerFloor)
      .unionByName(batchOps.withColumn("__seg", lit(id)))
    val winners =
      if (!hasOpsSegs) batchOps // already one net row per doc, and held
      else labeled(s, "cfold:winners")(SegLedger.lastWriterWins(allOps).localCheckpoint())
    val cumDels = winners.filter(col("op") === "D").select("doc_id")
    val cumApps = winners.filter(col("op") === "I").select("doc_id", "simhash")
    // EVERY touched doc's standing evidence dies: a delete forgets the
    // doc, and any (re-)append supersedes its previous incarnation —
    // its old pairs are purged and its component rebuilt, with fresh
    // probe pairs (below) re-defining it. This makes a bare I on a
    // present doc a full upsert, not a probe-only patch.
    // the touched docs are exactly the net-op docs (D ∪ I as a set)
    val touchedIds = ops.keys("doc_id")
    // the standing APPENDED-pair ledger: a pair from segment k is alive
    // iff no LATER segment carries any op for either endpoint (the
    // purge, resolved at read time — same-batch probe pairs survive
    // their own batch's ops because the comparison is strict). No
    // standing pair segment (driver-side listing) ⇒ empty ledger, no
    // anti-join jobs.
    val pairSegs = SegLedger.dirs(s"$root/pairs", id, ledgerFloor)
    val segPairs = SegLedger.read(s, s"$root/pairs", id, emptyPairs, ledgerFloor)
    val opsTouchA = allOps.select(col("doc_id").as("__ta"), col("__seg").as("__tsa"))
    val opsTouchB = allOps.select(col("doc_id").as("__tb"), col("__seg").as("__tsb"))
    // pinned on [[foldPool]] so its reconstruction window overlaps the
    // closure walk below — the two share no inputs beyond the already-
    // held batch/winners frames (r19 job diet, guide §2.6); awaited
    // at ledgerEdges, its first consumer
    val fLedger = onPool(labeled(s, "cfold:pairLedger")(
      if (pairSegs.isEmpty) emptyPairs
      else segPairs
        .join(opsTouchA, col("id_a") === col("__ta") && col("__tsa") > col("__seg"),
          "left_anti")
        .join(opsTouchB, col("id_b") === col("__tb") && col("__tsb") > col("__seg"),
          "left_anti")
        .select("id_a", "id_b")
        .localCheckpoint()))
    // THE DOC-KEYED LABEL MIRROR (r17): every id-keyed probe below
    // resolves through pmod(id, nb) point reads of the `labels_byid`
    // generations — r16 pinned the FULL standing label relation here, an
    // O(corpus) scan per micro-batch (the read floor). Component-keyed
    // member reads resolve through the component-keyed generations under
    // the same pruning discipline. Every probe takes a driver-held key
    // set: its bucket set is Scala and its row filter an InSet, so a
    // probe costs only the collect of the frame it feeds.
    val byidRoot = s"$root/labels_byid"
    val baseBy = BucketedGens.latest(byidRoot, below = Some(id))
    def atRestById = stateRel(s, stateDir, "labels_byid")
    // CURRENT label rows (id, component) of a batch-sized id set
    def labelsForIds(ids: Seq[Any]): org.apache.spark.sql.DataFrame =
      semiIn(BucketedGens.read(s, byidRoot, baseBy, atRestById, Some(bucketsOf(ids, nb))),
        "id", ids).select("id", "component")
    // CURRENT member rows (id, component) of a batch-affected component set
    def membersOf(comps: Seq[Any]): org.apache.spark.sql.DataFrame =
      semiIn(BucketedGens.read(s, labelsRoot, base, atRestRows, Some(bucketsOf(comps, nb))),
        "component", comps).select("id", "component")
    // at-rest ORIGINALS of a batch-affected id set — the staged byid mirror
    def origsForIds(ids: Seq[Any]): org.apache.spark.sql.DataFrame =
      atRestLabelsForIds(s, stateDir, ids).select(col("component").as("orig"))
    // at-rest MEMBER ids of an orig set — staged labels, pruned
    def atRestMembersOf(origs: Seq[Any]): org.apache.spark.sql.DataFrame = {
      val bks = bucketsOf(origs, nb)
      semiIn(if (bks.isEmpty) atRest.limit(0)
        else atRest.filter(col("bucket").isin(bks.map(Int.box): _*)), "component", origs)
        .select("id")
    }

    // ---- retract side: the orig-closure rebuild universe, seeded by
    // every component holding a doc this batch deletes OR re-defines ----
    val touched = labeled(s, "cfold:touched")(
      Held(labelsForIds(touchedIds).select("component"))).keys("component")
    val hasTouched = touched.nonEmpty
    // The closure WALK (replaces the per-batch connectedComponents over
    // a corpus-derived comp↔orig relation): appended bridges can MERGE
    // original components and successive merges/splits chain comp↔orig
    // connectivity arbitrarily far — one hop is NOT enough (the r15
    // review finding, still pinned by ClusterRetractionSpec's far-
    // fragment test). Adjacency: current component c touches at-rest
    // original o iff some CURRENT member of c lies in o's at-rest
    // cluster. The frontier BFS walks exactly the connected region
    // containing the touched components; each hop is two pruned point
    // reads (current members → their origs; the new origs' at-rest
    // members → their current comps) — O(affected) rows and buckets per
    // hop, never a corpus scan, and it accumulates the member ids so
    // the rebuild below re-reads nothing. Terminates: the component set
    // grows monotonically inside a finite corpus. Star-forest batches
    // (no appended pair in play) converge in one round + one empty
    // check — the r16 fast path, without a separate code path. Every
    // set the walk carries (components, origs, member ids) is a
    // driver-side key set, accumulated in Scala.
    // ---- append side, STARTED before the walk (r19, guide §2.6): the
    // probe of the present corpus depends only on the winners + the
    // static sig frame — it overlaps the closure walk's serial hops on
    // [[foldPool]] and is awaited at its first consumer ----
    // at-rest evidence superseded by a delete OR a (re-)append — those
    // docs' standing edges come from the pair ledger + fresh probes
    // derived from the winners, consumed only by anti-joins —
    // duplicates are harmless, so no distinct shuffle, no pin
    val supersededAtRest = cumDels.unionByName(cumApps.select("doc_id"))
    // held: the append-side contraction probe (aApp below) resolves the
    // pair endpoints' current labels from its key sets
    val fDeltaPairs = onPool(labeled(s, "cfold:deltaPairs")(
      if (!hasI) Held.empty(s, stateSchemas("pairs")) else {
        // the probe's base corpus is whatever the at-rest state COVERS:
        // the historyPred slice of the static frame initially, the
        // compacted state's own sig snapshot after a compaction (it
        // absorbed every earlier arrival — historyPred no longer
        // describes coverage)
        val baseCorpus =
          if (stateDir == stateDir0) staticSigs.filter(historyPred)
          else stateRel(s, stateDir, "sigs")
        val present = baseCorpus
          .join(supersededAtRest, Seq("doc_id"), "left_anti")
          .unionByName(cumApps.select("doc_id", "simhash"))
        // read by the merge AND the ledger write
        Held(TextDedup.simHashNearDupAgainst(bI, present, "doc_id", "simhash", 3)
          .select("id_a", "id_b"))
      }))
    val (rebuildComps, closureOrigs, mRebuild) =
      if (!hasTouched) (Seq.empty[Any], Seq.empty[Any], Seq.empty[Any])
      else {
        var comps = touched
        var mAll = labeled(s, "cfold:members0")(Held(membersOf(touched))).keys("id")
        var origs = labeled(s, "cfold:origs0")(Held(origsForIds(mAll))).keys("orig")
        var frontier = origs
        var grow = origs.nonEmpty
        while (grow) {
          // the frontier's at-rest members (held: their bucket set
          // prunes the label probe), then their current components the
          // walk has not seen
          val fresh = labeled(s, "cfold:walkFresh") {
            val members = Held(atRestMembersOf(frontier)).keys("id")
            Held(antiIn(labelsForIds(members).select("component"), "component", comps))
              .keys("component")
          }
          if (fresh.isEmpty) grow = false
          else {
            comps = comps ++ fresh
            val mNew = labeled(s, "cfold:walkMembers")(Held(membersOf(fresh))).keys("id")
            mAll = (mAll ++ mNew).distinct
            val oNew = labeled(s, "cfold:walkOrigs")(
              Held(antiIn(origsForIds(mNew), "orig", origs))).keys("orig")
            if (oNew.isEmpty) grow = false
            else {
              origs = origs ++ oNew
              frontier = oNew
            }
          }
        }
        (comps, origs, mAll)
      }

    // ---- append side: join the probe started before the walk ----
    val deltaPairs = awaitFold(fDeltaPairs, "delta-pair probe")
    // components incident to the delta (under pred labels) that the
    // delete side is NOT already rebuilding re-enter as contractions —
    // the incident ids are batch-derived, so this is a doc-keyed point
    // read like every other id probe; delete-only batches skip it
    val aAppOnly = if (!hasI) Seq.empty[Any] else labeled(s, "cfold:aApp")(
      Held(antiIn(labelsForIds((deltaPairs.keys("id_a") ++ deltaPairs.keys("id_b")).distinct)
        .select("component"), "component", rebuildComps))).keys("component")
    // mRebuild accumulated during the closure walk (zero extra reads);
    // the contract side is one pruned member read of its own components
    val mContract = if (aAppOnly.isEmpty) Held.empty(s, "id BIGINT, component BIGINT")
      else labeled(s, "cfold:mContract")(Held(membersOf(aAppOnly)))

    // ---- ONE local components run over batch-sized evidence ----
    val atRestEdges = if (closureOrigs.isEmpty) emptyPairs else
      semiIn(stateRel(s, stateDir, "edges")
          .filter(col("bucket").isin(bucketsOf(closureOrigs, nb).map(Int.box): _*)),
        "component", closureOrigs)
        .select("id_a", "id_b")
        .join(supersededAtRest.select(col("doc_id").as("id_a")),
          Seq("id_a"), "left_anti")
        .join(supersededAtRest.select(col("doc_id").as("id_b")),
          Seq("id_b"), "left_anti")
    // a ledger pair's live endpoints share one current component, so
    // the id_a witness suffices (the purge above already dropped pairs
    // with a deleted endpoint). Awaited unconditionally so a failed
    // reconstruction surfaces here even on folds that don't consume it.
    val ledger = awaitFold(fLedger, "pair-ledger reconstruction")
    val ledgerEdges = if (!hasTouched) emptyPairs
      else semiIn(ledger, "id_a", mRebuild).select("id_a", "id_b")
    val contractEdges = mContract.df
      .select(col("id").as("id_a"), col("component").as("id_b"))
    val localE = atRestEdges.unionByName(ledgerEdges)
      .unionByName(contractEdges).unionByName(deltaPairs.df)
    // held (written, counted, read by the manifest repair): its
    // component set feeds the label generation's bucket list, its id
    // set the byid mirror's
    val newLocal =
      if (!hasTouched && !hasI) Held.empty(s, "id BIGINT, component BIGINT")
      else labeled(s, "cfold:cc")(componentsHeld(localE))
    val oldAffected = (mRebuild ++ mContract.keys("id")).distinct

    // ---- bucket-local rewrite: old homes of affected rows ∪ new ----
    val buckets = bucketsOf(rebuildComps ++ aAppOnly ++ newLocal.keys("component"), nb)
    // predecessor content of the touched buckets — consumed once,
    // inside the observed generation write (no pin)
    val predTouched = BucketedGens.read(s, labelsRoot, base, atRestRows, Some(buckets))
    // the byid mirror's generation payload: the SAME affected rows under
    // the doc keying — touched buckets are pmod(affected ids, nb), write
    // I/O O(affected) like the component-keyed write it mirrors
    val byBuckets = bucketsOf(oldAffected ++ newLocal.keys("id"), nb)
    val predBy = BucketedGens.read(s, byidRoot, baseBy, atRestById, Some(byBuckets))
    // ONE PARALLEL WAVE of the fold's four independent terminal writes
    // (r19, guide §2.6): the labels generation, the byid-mirror
    // generation, and the two O(batch) ledger segments share no paths
    // and no data dependency — each write still carries its counts as
    // observe() metrics (one action each), only the WAITS overlap. The
    // COMMITS stay sequential below in the original order (labels gen
    // before byid gen), so the crash-window story is unchanged: a crash
    // anywhere before the byid commit replays the whole batch, which
    // re-bases BOTH roots strictly below `id` and overwrites every
    // partial dir whole (ledger segments included — a replayed batch
    // overwrites its own segment).
    val fByid = onPool(labeled(s, "cfold:byidWrite")(
      BucketedGens.observedWrite(
        predBy, byBuckets, s"$byidRoot/gen-$id") { pred =>
      antiIn(pred.select("id", "component"), "id", oldAffected)
        .unionByName(newLocal.df)
        .transform(bucketed("id", nb))
    }))
    // O(batch) ledger segments — the batch's own contribution, nothing
    // cumulative is ever rewritten (the purge happens at read time)
    val fOps = onPool(labeled(s, "cfold:opsSeg")(
      SegLedger.append(batchOps, s"$root/ops", id)))
    val fPairs = onPool(labeled(s, "cfold:pairsSeg")(
      if (hasI) SegLedger.append(deltaPairs.df, s"$root/pairs", id)))
    val (written, nextRows, predRows) = labeled(s, "cfold:labelsWrite")(
      BucketedGens.observedWrite(
        predTouched, buckets, s"$labelsRoot/gen-$id") { pred =>
      antiIn(pred.select("id", "component"), "id", oldAffected)
        .unionByName(newLocal.df)
        .transform(bucketed("component", nb))
    })
    val (writtenBy, _, _) = awaitFold(fByid, "byid mirror write")
    awaitFold(fOps, "ops segment append")
    awaitFold(fPairs, "pairs segment append")
    val baseRows = base.map(_.rows).getOrElse(labelRows(s, stateDir))
    val rows = baseRows - predRows + nextRows
    BucketedGens.commitFold(s, labelsRoot, base, id, nb, buckets, written, rows, ts)
    // committed after the labels generation; a crash between the two
    // commits replays the whole batch (predecessors always pair up)
    BucketedGens.commitFold(s, byidRoot, baseBy, id, nb, byBuckets, writtenBy, rows, ts)
    // no per-batch ledger vacuum: segments ACCUMULATE until a
    // compaction truncates the family (that is the trade — O(batch)
    // writes now, one bulk fold when the size policy fires)
    CdcFold(rows, newLocal, oldAffected, cumDels,
      winners.filter(col("op") === "I").select("doc_id", "quality"))
  }

  /** The survivor-manifest state AT REST (q182): `membership`
    * (doc_id, component, quality — every doc, singletons under their
    * own id; partitioned by pmod(component, 64) so a delete's
    * re-election reads only touched buckets) and `manifest` (q174's
    * per-component output — the artifact being maintained; read fully
    * because it IS the output's pass-through side). */
  private[graft] def survivorStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    stagedSurvivorState(s, d, "graft_survivor_state_bd1",
      Tables.documents(s, d), ccStateDir(s, d))

  /** HISTORY-ONLY survivor state (q189 — manifest maintained under the
    * full changelog; the standing state must not have seen arrivals).
    * Tag encodes the % 7 split rule, same reason as [[ccHistStateDir]]. */
  private[graft] def survivorHistStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    stagedSurvivorState(s, d, "graft_survivor_hist7_state_bd1",
      Tables.documents(s, d).filter(col("doc_id") % 7 =!= 0),
      ccHistStateDir(s, d))

  private def stagedSurvivorState(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String,
      /** by name: a staged-cache hit builds no frame */
      docs: => org.apache.spark.sql.DataFrame,
      ccState: String,
      /** explicit manifest/membership bucket count (the decade gates'
        * handle); ≤ 0 derives it from the standing MANIFEST rows via
        * [[stagedBuckets]] — the byte-floor density rule at initial
        * staging (r19). The manifest is the keyed relation whose
        * density the count must hold (one row per present component —
        * the same rule the compaction rescale applies). */
      nbM0: Int = -1): String =
    graft.sources.ZOrder.ensureStagedDir(tag, d, s"$d/documents.parquet") { target =>
      EventQueries.multiWriteStage(target) { stage =>
        val surv = buildSurvivorState(
          docs.select(col("doc_id"),
            TextFns.qualityScore(col("text"), TextQueries.qualityStops).as("quality")),
          stateRel(s, ccState, "labels"), stage,
          n => if (nbM0 > 0) nbM0 else stagedBuckets(s, n))
        surv.writes.foreach(awaitFold(_, "staged survivor-state write"))
        writeStateMeta(stage, "manifest", surv.nb, surv.rows)
        StateFs.touch(s"$stage/_SUCCESS")
      }
    }

  /** Components (singletons included) holding a deleted doc — the
    * manifest rows that must be re-derived. O(deletes) rows. */
  private[graft] def survivorTouchedComps(s: org.apache.spark.sql.SparkSession,
      d: String, ccStateOpt: Option[String] = None): org.apache.spark.sql.DataFrame =
    // the at-rest labels are O(corpus): no broadcast hint — the
    // O(deletes) probe side shuffles against them (AQE may still elect
    // a broadcast at bench scale)
    ccDeletedIds(Tables.documents(s, d))
      .join(stateRel(s, ccStateOpt.getOrElse(ccStateDir(s, d)), "labels")
          .select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(coalesce(col("component"), col("doc_id")).as("component"))
      .distinct()
      .localCheckpoint(false)

  /** The PRUNED membership read for re-election: only `touched`
    * components' bucket partitions open (≤64-entry driver list), then
    * the row-level component semi-join. Exposed with the bucket list
    * for PlanBudgetSpec's file-level pruning assert. */
  private[graft] def survivorTouchedRead(s: org.apache.spark.sql.SparkSession,
      d: String, touched: org.apache.spark.sql.DataFrame,
      stateDirOpt: Option[String] = None)
      : (org.apache.spark.sql.DataFrame, Seq[Int]) = {
    val stateDir = stateDirOpt.getOrElse(survivorStateDir(s, d))
    val nbT = manifestBuckets(stateDir)
    // nb == 1 ⇒ {0}, no collect (r20)
    val buckets =
      if (nbT == 1) Seq(0)
      else touched
        .select(pmod(col("component"), lit(nbT)).cast("int").as("bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val members = stateRel(s, stateDir, "membership")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(touched), Seq("component"), "leftsemi")
      .select("doc_id", "component", "quality")
    (members, buckets)
  }

  /** One q189 maintenance step: q187's label fold (shared verbatim —
    * the fold hands back exactly its affected universe), then the
    * manifest repair under the FULL changelog. The repaired universe V
    * is every doc whose manifest standing can change this batch: the
    * fold's NEW labels (members of every rebuilt or delta-merged
    * component), its dropped OLD members (remnant singletons), and the
    * batch's arrivals — minus the deletes. Old rows keyed by a V doc or
    * a batch-deleted id drop; V re-elects per coalesced new component
    * with quality from the pruned history membership buckets ∪ the
    * live appends' qualities off the fold's op ledger (the ledger WINS
    * for re-appended docs — their membership rows are superseded
    * evidence; it applies the same D-then-I upsert order). Manifest
    * generations are BUCKET-PARTITIONED by pmod(component, 64)
    * ([[BucketedGens]]): only buckets holding retired or re-elected
    * keys are written, so pass-through rows are never rewritten or
    * re-read — per-batch manifest I/O is O(affected). Idempotent over
    * the affected universe ⇒ replays and any batching converge.
    * Returns the standing manifest row count. */
  private[graft] def survivorCdcStep(ccState: String, survState0: String,
      root: String, b0: org.apache.spark.sql.DataFrame, id: Long,
      staticSigs: org.apache.spark.sql.DataFrame,
      historyPred: org.apache.spark.sql.Column = col("doc_id") % 7 =!= 0,
      ts: Option[Long] = None): Long = {
    val s = b0.sparkSession
    val manRoot = s"$root/manifest"
    val survState = effectiveState(s, root, Some(id), survState0)
    val nbM = manifestBuckets(survState)
    val baseM = BucketedGens.latest(manRoot, below = Some(id))
    // ONE batch head for the WHOLE composed fold: the label fold reads
    // its simhash payload, the repair its quality payload
    val ops = batchHead(b0, "mfold:opsPin", Seq("simhash", "quality"))
    // NET delete and arrival docs: a doc whose D was superseded by a
    // same-batch I is an arrival — it reaches manBuckets and dropKeys
    // through V
    val bD = ops.where("op", "D").map(_.getAs[Any]("doc_id"))
    val bIids = ops.where("op", "I").map(_.getAs[Any]("doc_id"))
    val fold = componentsCdcImpl(ccState, root, ops, id, staticSigs, historyPred, ts)
    // the live appends' qualities, resolved from the same op ledger as
    // the label fold's cumulative state
    val appsQ = fold.appsQ
    // re-election universe V: the fold's affected docs (new labels ∪
    // dropped old members) + arrivals, minus the deletes. Its inputs are
    // all held, so V is a driver-side key set: the only action is the
    // probe of the cumulative deletes for the candidates (none when the
    // deletes are this batch's own held rows)
    val vCand = (fold.newLocal.keys("id") ++ fold.oldAffected ++ bIids).distinct
    val vDeleted = labeled(s, "mfold:vPin")(
      Held(semiIn(fold.cumDels, "doc_id", vCand)).keys("doc_id").toSet)
    val v = vCand.filterNot(vDeleted)
    val vIds = Held.ids(s, "doc_id", v).df
    val appsQv = semiIn(appsQ, "doc_id", v).select("doc_id", "quality")
    // history quality from pruned membership buckets (bucket key = the
    // at-rest COALESCED component — singletons under their own id);
    // docs with a live append quality are anti-joined off — for a
    // re-appended doc the ledger row is current, the membership stale.
    // The bucket list covers exactly the v ids the ledger does NOT
    // carry — correct in both regimes (before a compaction those are
    // the history docs; after one, everything the compacted membership
    // absorbed, arrivals included). The orig lookup is a doc-keyed
    // pruned point read of the byid mirror (r17: was a per-batch join
    // against the full at-rest relation).
    // nbM == 1 ⇒ pmod(_, 1) = 0 identically: the only possible bucket
    // list is {0}, so the orig-lookup collect buys nothing (r20 — at
    // bench scale the byte-floor staging collapses to one bucket;
    // multi-bucket states still pay the collect because it prunes real
    // I/O). The byid read keys on all of v, a superset of the ids it
    // must resolve.
    val vBuckets = if (nbM == 1) Seq(0)
      else labeled(s, "mfold:vBuckets")(vIds.withColumnRenamed("doc_id", "id")
        .join(appsQ.select(col("doc_id").as("id")), Seq("id"), "left_anti")
        .join(atRestLabelsForIds(s, effectiveState(s, root, Some(id), ccState), v)
            .select(col("id"), col("component").as("orig")), Seq("id"), "left")
        .select(pmod(coalesce(col("orig"), col("id")), lit(nbM)).cast("int").as("bucket"))
        .distinct().collect()).map(_.getInt(0)).toSeq
    val memberQ = (
      if (vBuckets.isEmpty || v.isEmpty) appsQ.limit(0).select("doc_id", "quality")
      else semiIn(stateRel(s, survState, "membership")
          .filter(col("bucket").isin(vBuckets.map(Int.box): _*)), "doc_id", v)
        .select("doc_id", "quality"))
      .join(appsQ.select("doc_id"), Seq("doc_id"), "left_anti")
    val reElected = memberQ.unionByName(appsQv)
      .join(fold.newLocal.df.select(col("id").as("doc_id"),
          col("component").as("__newc")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        coalesce(col("__newc"), col("doc_id")).as("component"))
      .transform(electSurvivors)
    // old manifest keys to retire: V ids (an affected comp's old key is
    // a member id, a singleton's key its own id) ∪ this batch's deletes
    val dropKeys = (v ++ bD).distinct
    val manBuckets = bucketsOf(dropKeys, nbM)
    // the at-rest manifest is component-keyed and already carries the
    // same bucket column — it resolves AtRest buckets directly
    def atRestMan = stateRel(s, survState, "manifest")
    val predTouched = BucketedGens.read(s, manRoot, baseM, atRestMan, Some(manBuckets))
    // ONE action: write + per-bucket counts + count arithmetic as
    // observe() metrics (see componentsRetractImpl)
    val (written, nextRows, predRows) = labeled(s, "mfold:manifestWrite")(
      BucketedGens.observedWrite(
        predTouched, manBuckets, s"$manRoot/gen-$id") { pred =>
      antiIn(pred, "component", dropKeys)
        .select("component", "survivor_id", "n_members", "quality")
        .unionByName(reElected)
        .transform(bucketed("component", nbM))
    })
    val baseRows = baseM.map(_.rows)
      .getOrElse(manifestRows(s, survState))
    val rows = baseRows - predRows + nextRows
    BucketedGens.commitFold(s, manRoot, baseM, id, nbM, manBuckets, written, rows, ts)
    rows
  }

  /** COMPACTION for the CDC fold family (q190): fold the accumulated
    * ledger SEGMENTS into a RE-STAGED at-rest state and truncate them.
    * The segment families (`ops`/`pairs`) are the fold's only
    * unbounded carried state — correct forever, but each batch re-pays
    * their read-side reconstruction, a scale-killer after enough churn.
    * Compaction derives the PRESENT corpus (history minus superseded,
    * plus the live appends with their current sigs), re-runs the full
    * banded pair → components → bucketed edges/labels(+byid mirror)
    * build plus the survivor membership/manifest, lands it all under
    * `$root/state/gen-<id>`, and commits full-snapshot label/byid/
    * manifest generations whose owners point every bucket at the NEW
    * at-rest state. Truncation is a READ RULE, not a filesystem fact:
    * every ledger read floors at the latest compacted state's gen id
    * ([[segFloor]]), so post-compaction folds see empty ledgers even
    * before the segment vacuum lands — a crash between the marker and
    * the vacuum can never resurrect absorbed ledger state. The cadence
    * is [[shouldCompact]]'s size policy, not a hardcoded batch id.
    * Replay-safe by SKIP, not by re-run: the state dir's `_SUCCESS` is
    * the compaction's overall commit marker, written after every other
    * artifact — a re-delivered batch that finds it set returns
    * immediately. Before the marker lands, no vacuum has run, so a
    * partial compaction replays from intact predecessors and
    * overwrites. */
  private[graft] def survivorCompactStep(ccInit: String, survInit: String,
      root: String, id: Long, staticSigs: org.apache.spark.sql.DataFrame,
      historyPred: org.apache.spark.sql.Column = col("doc_id") % 7 =!= 0): Unit = {
    val s = staticSigs.sparkSession
    if (StateFs.exists(s"$root/state/gen-$id/_SUCCESS"))
      return // committed by a previous delivery of this batch — skip
    val survPrev = effectiveState(s, root, Some(id), survInit)
    val ccPrev = effectiveState(s, root, Some(id), ccInit)
    val baseState = EventQueries.latestViewGen(s"$root/state", below = Some(id))
    val (baseL, baseM) = (BucketedGens.latest(s"$root/labels", below = Some(id)),
      BucketedGens.latest(s"$root/manifest", below = Some(id)))
    val baseBy = BucketedGens.latest(s"$root/labels_byid", below = Some(id))
    val ledgerFloor = segFloor(root, Some(id))
    // RE-BUCKETING (r18): bucket counts are recomputed from the
    // REBUILT relations' standing rows at the density the state was
    // staged with (constant target bucket SIZE — the "nb ∝ corpus"
    // production rule, now true for IN-PLACE growth, not only for
    // freshly staged states). Pre-compaction generations were written
    // under the old counts and keep resolving through their own owners
    // maps against the old state dir (retention keeps both); the
    // compaction commits FULL snapshots, so old and new counts never
    // mix inside one resolution. States without a meta (synthetic
    // fixtures) keep their prior counts — rescale needs a density.
    val nbLPrev = labelBuckets(ccPrev)
    val rowsLPrev = stateMeta(ccPrev, "labels").map(_._2).getOrElse(-1L)
    val nbMPrev = manifestBuckets(survPrev)
    val rowsMPrev = stateMeta(survPrev, "manifest").map(_._2).getOrElse(-1L)
    // the cumulative op ledger reconstructed ONCE from its segments —
    // the bulk fold this compaction exists to amortize
    val winners = SegLedger.lastWriterWins(
        SegLedger.read(s, s"$root/ops", id, emptyState(s, "ops"), ledgerFloor))
      .localCheckpoint()
    val cumDels = winners.filter(col("op") === "D").select("doc_id")
    val cumApps = winners.filter(col("op") === "I")
    val superseded = cumDels.unionByName(cumApps.select("doc_id")).distinct()
    // the base corpus chains: first compaction from the historyPred
    // slice, later ones from the previous compaction's own snapshot
    val baseCorpus = baseState match {
      case None    => staticSigs.filter(historyPred)
      case Some(p) => stateRel(s, p, "sigs")
    }
    val present = baseCorpus
      .join(superseded, Seq("doc_id"), "left_anti")
      .unionByName(cumApps.select("doc_id", "simhash"))
      .localCheckpoint()
    val stateDir = s"$root/state/gen-$id"
    // the state's COVERAGE snapshot: post-compaction probes use this as
    // their base corpus (historyPred no longer describes what the
    // at-rest state absorbed). Written on the pool — the pair probe
    // below reads `present` from its checkpoint blocks, not this dir.
    val fSigs = onPool(
      present.write.mode("overwrite").parquet(s"$stateDir/sigs"))
    // rebuild the cluster state over the present corpus — the build
    // stagedCcState stages from scratch, at the rescaled bucket count
    val minBB = confMinBucketBytes(s)
    val (cc, labels) = buildCcState(present, stateDir, n =>
      rescaleBuckets(nbLPrev, rowsLPrev, n, scaledBytesEst(s"$ccPrev/labels", rowsLPrev, n),
        minBB))
    // ... and the survivor state: present docs' quality from the
    // predecessor membership (still valid for untouched history) ∪ the
    // live appends' qualities (appended docs, re-scored upserts)
    val surv = buildSurvivorState(
      stateRel(s, survPrev, "membership")
        .join(superseded, Seq("doc_id"), "left_anti")
        .select("doc_id", "quality")
        .unionByName(cumApps.select("doc_id", "quality")),
      labels, stateDir, n =>
        rescaleBuckets(nbMPrev, rowsMPrev, n,
          scaledBytesEst(s"$survPrev/manifest", rowsMPrev, n), minBB))
    // join every outstanding write of the wave before any commit marker
    // below — the marker must still be LAST
    (fSigs +: (cc.writes ++ surv.writes)).foreach(f =>
      awaitFold(f, "compaction write wave"))
    // ledger truncation is the SEGMENT VACUUM below (after the marker):
    // post-compaction folds list no segment below their id and read
    // empty frames — nothing is written here
    // full-snapshot generation pointers: every bucket at the NEW rest
    // (the byid mirror carries the same standing count by construction)
    writeStateMeta(stateDir, "labels", cc.nb, cc.rows)
    writeStateMeta(stateDir, "manifest", surv.nb, surv.rows)
    BucketedGens.commit(s"$root/labels", id, BucketedGens.initialOwners(cc.nb), cc.rows)
    BucketedGens.commit(s"$root/labels_byid", id, BucketedGens.initialOwners(cc.nb), cc.rows)
    BucketedGens.commit(s"$root/manifest", id, BucketedGens.initialOwners(surv.nb),
      surv.rows)
    // the OVERALL commit marker, after every artifact above: a replay
    // that finds it skips; one that does not re-runs from predecessors
    // that are still intact (no vacuum has run yet)
    StateFs.touch(s"$stateDir/_SUCCESS")
    // vacuums LAST — a replayed compaction must find its predecessors
    BucketedGens.vacuum(s, s"$root/labels", baseL, id)
    BucketedGens.vacuum(s, s"$root/labels_byid", baseBy, id)
    BucketedGens.vacuum(s, s"$root/manifest", baseM, id)
    SegLedger.vacuum(s"$root/ops", id)
    SegLedger.vacuum(s"$root/pairs", id)
    // the state vacuum is RETENTION-AWARE: a pinned (or keepLast-held)
    // generation's AtRest buckets resolve against the compacted state
    // that was current when it committed — deleting that snapshot would
    // leave a retained generation that parses but cannot resolve. Keep
    // every state some retained generation re-bases on (both the
    // fold-side below-g and the serve-side below-g+1 reads), drop the
    // rest strictly below the compaction base as before.
    def genNum(p: String): Long = p.substring(p.lastIndexOf("gen-") + 4).toLong
    def retained(r: String): Seq[Long] =
      StateFs.list(r)
        .filter(p => p.getName.startsWith("gen-") &&
          StateFs.exists(s"${p.toString}/_owners.json"))
        .map(p => genNum(p.getName))
    val referencedStates: Set[Long] =
      (retained(s"$root/labels") ++ retained(s"$root/labels_byid") ++
        retained(s"$root/manifest"))
        .flatMap(g => Seq(g, g + 1)
          .flatMap(b => EventQueries.latestViewGen(s"$root/state", Some(b))))
        .map(genNum).toSet
    val baseNum = baseState.map(genNum)
    StateFs.list(s"$root/state")
      .filter { p =>
        val n = p.getName
        n.startsWith("gen-") && baseNum.exists(genNum(n) < _) &&
          !referencedStates(genNum(n))
      }.foreach(p => StateFs.delete(p.toString))
  }

  /** THE survivor election — argmax(quality) per component, min-id
    * tiebreak via the negated id, as ONE sort-free max-struct hash agg
    * (partial-aggregatable; the quality key is already 6dp-rounded so
    * the argmax is engine-deterministic). Input: (component, doc_id,
    * quality). Five consumers — q174's from-scratch manifest, q182's
    * batch re-election, the two streamed repairs, and the staged
    * baseline — share this single definition so a tie-break or
    * rounding tweak can never desynchronize a maintained manifest
    * from the from-scratch election. */
  private[graft] def electSurvivors(
      members: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    members.groupBy("component")
      .agg(
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("pick"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("pick.nid")).as("survivor_id"),
        col("n_members"), col("pick.quality").as("quality"))

  /** The survivor-manifest oracle (q174's transitive-closure CTE chain
    * + per-cluster argmax), shared by q174 (from-scratch manifest,
    * docPred = true) and q182 (manifest maintained under retraction,
    * docPred = the post-delete corpus): however the manifest was
    * (re)built, it must equal the full derivation. The predicate is
    * applied in a derived table so `doc_id` never becomes ambiguous
    * against the labels CTE. */
  private def survivorManifestSql(docPred: String = "true") =
    s"""WITH RECURSIVE ${ccLabelCtes(docPred)},
        scored AS (
          SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component,
            ${TextQueries.qualitySql} AS quality
          FROM (SELECT * FROM documents WHERE $docPred) d
          LEFT JOIN labels l ON d.doc_id = l.doc_id),
        ranked AS (
          SELECT component, doc_id, quality,
            row_number() OVER (PARTITION BY component
              ORDER BY quality DESC, doc_id) AS rnk,
            count(*) OVER (PARTITION BY component) AS n_members
          FROM scored)
        SELECT component, doc_id AS survivor_id, n_members, quality
        FROM ranked WHERE rnk = 1"""

  /** The dedup-cluster oracle (recursive-CTE transitive closure over
    * the banded simhash pair graph), shared VERBATIM by q65 (from-
    * scratch components) and q171 (incrementally maintained labels):
    * however the clusters were (re)built, the labeling must equal the
    * full transitive closure. `docPred` restricts the DOCUMENT set the
    * closure runs over — the retraction queries (q181 batch, q185
    * streamed) pass the post-delete corpus and must equal the closure
    * over it, exactly as if the deleted docs had never been ingested. */
  private def ccComponentsSql(docPred: String = "true") =
    s"""WITH RECURSIVE ${ccLabelCtes(docPred)}
       SELECT doc_id, component FROM labels"""

  /** The transitive-closure CTE chain ending in `labels(doc_id,
    * component)` — the shared body of ccComponentsSql, also extended by
    * q174/q182's survivor selection (which needs the labels AS a
    * relation, not the final projection). Must follow `WITH RECURSIVE`. */
  private def ccLabelCtes(docPred: String = "true") =
    s"""tok AS (
         SELECT doc_id, ('0x' || substring(md5(unnest(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))), 1, 15))::BIGINT AS h
         FROM documents WHERE $docPred),
       bits AS (
         SELECT doc_id, b.b,
           sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
         GROUP BY doc_id, b.b),
       sig AS (
         SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id),
       banded AS (
         SELECT doc_id, simhash, band.band,
           (simhash >> (15 * band.band)) & 32767 AS chunk
         FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) band),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.chunk = b.chunk
           AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM pairs
         UNION SELECT id_b, id_a FROM pairs
         UNION SELECT id_a, id_a FROM pairs
         UNION SELECT id_b, id_b FROM pairs),
       reach(src, dst) AS (
         SELECT src, dst FROM edges
         UNION
         SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       labels AS (
         SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)"""
}
