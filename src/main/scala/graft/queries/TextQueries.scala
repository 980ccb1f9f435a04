package graft.queries

import graft.QueryDef
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Text-analysis battery over `documents`: quality scoring, language-ID
  * heuristic, token counting (whitespace + BPE-ish regex). All pure
  * column expressions — at 100 TB these are a single codegen'd map over
  * the scan.
  */
object TextQueries {

  // DuckDB-side expression fragments mirroring TextFns exactly.
  private val wsToks = """string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')"""

  // Count-min sketch geometry + hash, shared by the batch (q124) and
  // streaming (q132) builds — the bucket expression MUST stay
  // bit-identical between them (and with the oracle SQL's md5 replay),
  // so it lives in exactly one place.
  private val CmsDepth = 4
  private val CmsWidth = 1024
  // the native one-pass bucket kernel (TextHash.cms_buckets) computes
  // the same conv(substring(md5("r:" || t), 1, 8), 16, 10) % width
  // values the oracle replays — TextHashParitySpec pins the equivalence
  private def cmsCells(tokens: org.apache.spark.sql.DataFrame) = tokens
    .select(col("token"),
      posexplode(graft.functions.TextHash.cms_buckets(col("token"), CmsDepth, CmsWidth))
        .as(Seq("r", "b")))
  /** q124's estimate stage over a built cell table — the sketch-only
    * DECISION path: the ≤ depth×width cells collect to the driver (32 KB)
    * and enter the second scan as plan literals, so each occurrence's
    * estimate (min over its depth cells) and the heavy test are ROW-LOCAL
    * — no join, no vocabulary-sized aggregate anywhere. The only distinct
    * runs over occurrences that already passed the sketch's own est ≥
    * total/200 test, so its state is the SURVIVOR set (≈ the output — at
    * most ~200 true hitters plus the d-way collision stragglers), not the
    * vocabulary: the candidate channel is bounded by the decision itself,
    * replacing the earlier leading-token heuristic whose DISTINCT grew
    * with the corpus (and could miss a hitter never seen in a doc head).
    * Total insertions are read off row 0 (every CMS row sums all
    * insertions), so no second pass over the counts is needed. */
  private def cmsEstimate(s: org.apache.spark.sql.SparkSession, d: String,
      cms: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cells = Array.fill(CmsDepth * CmsWidth)(0L)
    // select by NAME with explicit casts before collecting — a caller
    // passing a cms frame with reordered columns or an int-typed bucket
    // would otherwise fail positionally with an opaque cast error (or
    // worse, read the wrong column)
    cms.select(col("r").cast("int"), col("b").cast("long"), col("c").cast("long"))
      .collect().foreach { r =>
        cells(r.getInt(0) * CmsWidth + r.getLong(1).toInt) = r.getLong(2)
      }
    val total = cells.take(CmsWidth).sum
    val est = graft.functions.TextHash.cms_estimate(
      col("token"), cells, CmsDepth, CmsWidth)
    Tables.documents(s, d)
      .select(explode(split(trim(col("text")), """\s+""")).as("token"))
      .withColumn("n_est", est)
      .filter(col("n_est") >= lit(total) / 200.0)
      .select("token", "n_est")
      .distinct()
  }
  // The sketch-only heavy-hitter oracle, shared VERBATIM by q124 (batch
  // build) and q132 (streaming build) — the sketch arithmetic and the
  // decision threshold must stay bit-identical between them. The replay
  // affords a vocabulary-wide candidate set (DuckDB is the measuring
  // stick, not the production shape); Spark's occurrence-filtered
  // distinct emits the same survivor set because n_est is a function of
  // the token alone.
  private def cmsSketchOnlySql =
    s"""WITH tok AS (SELECT unnest($wsToks) AS token FROM documents),
        rows_ AS (SELECT unnest(generate_series(0, 3)) AS r),
        cms AS (
          SELECT r.r,
            ('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':' || t.token), 1, 8))::BIGINT % 1024 AS b,
            count(*) AS c
          FROM tok t CROSS JOIN rows_ r GROUP BY r.r, b),
        tot AS (SELECT sum(c) AS total FROM cms WHERE r = 0),
        cand AS (SELECT DISTINCT token FROM tok),
        est AS (
          SELECT k.token, min(m.c) AS n_est
          FROM cand k CROSS JOIN rows_ r
          JOIN cms m ON m.r = r.r
            AND m.b = ('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':' || k.token), 1, 8))::BIGINT % 1024
          GROUP BY k.token)
        SELECT token, CAST(n_est AS BIGINT) AS n_est
        FROM est, tot WHERE n_est >= total / 200.0"""

  private def stopHits(stops: Seq[String]) =
    s"""len(list_filter($wsToks, t -> list_contains([${stops.map(w => s"'$w'").mkString(",")}], lower(t))))"""

  /** The q40 stopword list, shared with the quality-ranked consumers
    * (q174 survivor selection, q176 token-budget mix). */
  private[queries] val qualityStops = Seq("the", "a", "and", "of", "to", "is")

  /** q115's Okapi BM25 CTE chain, ending in `bm25(doc_id, bm25)` — the
    * oracle twin of `bm25Scores`, extended by q175's hybrid fusion.
    * Must follow `WITH`. */
  private def bm25CtesSql =
    s"""tok AS (
          SELECT doc_id, $wsToks AS toks FROM documents WHERE trim(text) <> ''),
        stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok),
        tf AS (
          SELECT doc_id, len(toks) AS dl, t, count(*) AS tf
          FROM tok, LATERAL (SELECT unnest(toks) AS t)
          WHERE t IN ('dup', 'spark', 'merge') GROUP BY 1, 2, 3),
        df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        bm25 AS (
          SELECT doc_id,
            round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                  * tf * (1.2 + 1.0)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
          FROM tf JOIN df USING (t) CROSS JOIN stats GROUP BY doc_id)"""

  /** BM25 retrieval scoring (Okapi, the Lucene always-positive idf
    * variant) for the fixed query terms — the ranking twin of q78's
    * TF-IDF keyword extraction, and the lexical arm of q175's hybrid
    * fusion. Scale shape: the explode is filtered to the QUERY terms
    * before the (doc, term) aggregate, so only hit rows ever shuffle
    * (query-sized, not vocabulary-sized); df comes off that tiny frame
    * and broadcasts back; n_docs/avgdl are one scalar row off the
    * checkpointed token frame (pinned once — the stats agg and the tf
    * path would otherwise each re-tokenize the corpus). 'dup' is the
    * corpus's planted rare token (high idf), 'spark' and 'merge' are
    * common (~900 hits) — the score separates them. */
  private[queries] def bm25Scores(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val terms = Seq("dup", "spark", "merge")
    val k1 = 1.2; val b = 0.75
    val tok = Tables.documents(s, d)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), split(trim(col("text")), """\s+""").as("toks"))
      .localCheckpoint(false)
    val stats = tok.agg(count(lit(1)).as("n_docs"),
      avg(size(col("toks"))).as("avgdl"))
    val tf = tok
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "dl", "t").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // df and the scored side both read it (q78 pattern)
    val dfc = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfc), "t")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * col("tf") * (k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("w"), 6).as("bm25"))
  }

  /** q40's quality expression VERBATIM (already rounded at 6dp, so
    * ordering by it is deterministic across engines) — the DuckDB mirror
    * of `TextFns.qualityScore`. Shared by q40 and the quality-ranked
    * consumers; `text` must resolve unambiguously in the calling scope. */
  private[queries] def qualitySql: String =
    s"""CASE WHEN length(text) = 0 THEN 0.0 ELSE
        round((least(cast(length(text) AS DOUBLE) / 500.0, 1.0)
          + (1.0 - least(cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_\\s]', '', 'g')) AS DOUBLE) * 5.0 / length(text), 1.0))
          + least(cast(${stopHits(qualityStops)} AS DOUBLE) * 4.0 / len($wsToks), 1.0)) / 3.0, 6) END"""

  val defs: Seq[QueryDef] = Seq(

    // Quality score: length score + punct cleanliness + stopword mass.
    QueryDef("q40_text_quality", Seq("F5", "A11"),
      s"""SELECT doc_id, $qualitySql AS quality FROM documents""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFns.qualityScore(col("text"), qualityStops).as("quality"))
    },

    // Language-ID: marker-word scores + argmax cascade.
    QueryDef("q41_lang_id", Seq("F5", "A11"),
      { // same max-score / earliest-precedence-tie semantics over
        // precomputed score columns
        val scoreCols = TextFns.langMarkers.map { case (l, ms) =>
          l -> s"""len(list_filter($wsToks, t -> list_contains([${ms.map(w => s"'$w'").mkString(",")}], lower(t)))) AS s_$l"""
        }
        val langs = TextFns.langMarkers.map(_._1)
        val branches = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1)
          s"WHEN ${rest.map(r => s"s_$l >= s_$r").mkString(" AND ")} THEN '$l'"
        }
        s"""SELECT lang, predicted, count(*) AS n FROM (
              SELECT lang, CASE ${branches.mkString(" ")} ELSE '${langs.last}' END AS predicted
              FROM (SELECT lang, ${scoreCols.map(_._2).mkString(", ")} FROM documents))
            GROUP BY lang, predicted"""
      }) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TextFns.langId(col("text")).as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    },

    // Winnowed rolling-hash fingerprints: per-doc count of selected
    // k-gram hashes + the smallest (the classic plagiarism/near-dup
    // signature; selection = min per sliding window of w hashes).
    QueryDef("q55_winnow_fingerprint", Seq("A10", "U3"),
      """WITH h AS (
           SELECT doc_id,
             [('0x' || substring(md5(substring(text, g, 8)), 1, 8))::BIGINT
              FOR g IN generate_series(1, greatest(length(text) - 7, 1))] AS hashes
           FROM documents),
         wnd AS (
           SELECT doc_id,
             list_sort(list_distinct([list_min(hashes[i:i+3])
               FOR i IN generate_series(1, greatest(len(hashes) - 3, 1))])) AS fps
           FROM h)
         SELECT doc_id, len(fps) AS n_fingerprints, fps[1] AS min_fingerprint
         FROM wnd""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFns.winnowFingerprints(col("text"), 8, 4).as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
          element_at(col("fps"), 1).as("min_fingerprint"))
    },

    // Token counting: whitespace tokens + BPE-ish regex tokens.
    QueryDef("q42_token_counts", Seq("A11"),
      s"""SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0 ELSE len($wsToks) END AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpeish_tokens,
           n_chars
         FROM documents""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextFns.wsTokenCount(col("text")).as("ws_tokens"),
        TextFns.bpeishTokenCount(col("text")).as("bpeish_tokens"),
        col("n_chars"))
    },

    // Column-profile statistics (the schema-audit pass a pipeline runs
    // before training): per column — rows, exact distincts, min/max.
    // ONE scan computes every column's stats (distinct aggs expand to
    // grouping sets, not extra passes); a row-per-column reshape follows.
    QueryDef("q66_table_profile", Seq("A10", "A11"),
      """SELECT 'o_custkey' AS column_name, count(*) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS DOUBLE) AS vmin, CAST(max(o_custkey) AS DOUBLE) AS vmax
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           min(o_totalprice), max(o_totalprice)
         FROM orders""") { (s, d) =>
      val one = Tables.orders(s, d).agg(
        count(lit(1)).as("n"),
        count_distinct(col("o_custkey")).as("d_key"),
        min(col("o_custkey")).cast("double").as("min_key"),
        max(col("o_custkey")).cast("double").as("max_key"),
        count_distinct(col("o_totalprice")).as("d_price"),
        min(col("o_totalprice")).cast("double").as("min_price"),
        max(col("o_totalprice")).cast("double").as("max_price"))
      one.select(explode(array(
        struct(lit("o_custkey").as("column_name"), col("n"),
          col("d_key").as("n_distinct"), col("min_key").as("vmin"), col("max_key").as("vmax")),
        struct(lit("o_totalprice").as("column_name"), col("n"),
          col("d_price").as("n_distinct"), col("min_price").as("vmin"), col("max_price").as("vmax"))))
        .as("p")).select("p.*")
    },

    // Vocabulary build: token frequency table, deterministic top-50
    // (the corpus-statistics step before tokenizer training).
    QueryDef("q67_token_freq", Seq("A11", "U6"),
      s"""SELECT token, count(*) AS n FROM (
            SELECT unnest($wsToks) AS token FROM documents)
          GROUP BY token ORDER BY n DESC, token LIMIT 50""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(trim(col("text")), """\s+""")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    },

    // Benchmark decontamination: flag training docs sharing any word
    // 3-gram with a held-out "benchmark" probe set (docs ≡ 0 mod 97 stand
    // in for eval data). The probe side is tiny by construction, so the
    // corpus never shuffles: probe grams broadcast, the fact side streams
    // explode → BroadcastHashJoin → per-doc count. At 100 TB the probe
    // (real benchmarks are MBs) still broadcasts; cost is one corpus scan.
    QueryDef("q70_decontaminate", Seq("F3", "A10", "J11"),
      """WITH tok AS (
           SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
           FROM documents),
         probe AS (
           SELECT DISTINCT array_to_string(toks[g:g+2], ' ') AS gram
           FROM tok, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g)
           WHERE doc_id % 97 = 0),
         hits AS (
           SELECT t.doc_id, count(DISTINCT array_to_string(t.toks[g.g:g.g+2], ' ')) AS n_hits
           FROM tok t, LATERAL (SELECT unnest(generate_series(1, greatest(len(t.toks)-2, 0))) AS g) g
           JOIN probe p ON array_to_string(t.toks[g.g:g.g+2], ' ') = p.gram
           WHERE t.doc_id % 97 <> 0
           GROUP BY t.doc_id)
         SELECT doc_id, n_hits FROM hits""") { (s, d) =>
      import graft.dedup.TextDedup.wordGrams
      val docs = Tables.documents(s, d)
      val probe = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(wordGrams(col("text"), 3)).as("gram")).distinct()
      docs.filter(col("doc_id") % 97 =!= 0)
        // wordGrams is already distinct-per-doc, so plain count ≡ the
        // oracle's count(DISTINCT gram)
        .select(col("doc_id"), explode(wordGrams(col("text"), 3)).as("gram"))
        .join(broadcast(probe), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    },

    // CONTAMINATION FRACTION — q70 counts eval-set n-gram hits; real
    // decontamination policies (the Gopher / Llama "dirty document"
    // rule) flag on the FRACTION of a document's n-grams that appear in
    // the eval set, so a long document brushing one eval phrase is kept
    // while a short near-copy is dropped. Per kept-side doc: n_grams
    // (distinct 3-grams), n_hits, frac = hits/grams at 6dp, flagged at
    // τ = 0.1 (the fixture's contaminated tail — real policies run 0.1–0.8). Docs too short to have any gram get frac 0 and are kept
    // (nothing to match on — the ANSI-mode 0/0 is guarded on both
    // sides). Scale shape: the probe set broadcasts at any corpus size
    // (eval suites are MBs); the per-doc denominator rides the same
    // explode as the hit count, so the corpus is tokenized ONCE and the
    // verdict join is gram-bucketed, never all-pairs.
    QueryDef("q177_contamination_fraction", Seq("F3", "A10", "A11", "J11"),
      s"""WITH tok AS (
            SELECT doc_id, $wsToks AS toks FROM documents),
          grams AS (
            SELECT DISTINCT doc_id, array_to_string(toks[g:g+2], ' ') AS gram
            FROM tok, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-2, 0))) AS g)),
          probe AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
          counts AS (
            SELECT g.doc_id, count(*) AS n_grams, count(p.gram) AS n_hits
            FROM grams g LEFT JOIN probe p ON g.gram = p.gram
            WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id),
          scored AS (
            SELECT t.doc_id, coalesce(c.n_grams, 0) AS n_grams,
              coalesce(c.n_hits, 0) AS n_hits,
              CASE WHEN coalesce(c.n_grams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE round(CAST(c.n_hits AS DOUBLE) / c.n_grams, 6) END AS frac
            FROM tok t LEFT JOIN counts c ON t.doc_id = c.doc_id
            WHERE t.doc_id % 97 <> 0)
          SELECT doc_id, n_grams, n_hits, frac, frac >= 0.1 AS flagged
          FROM scored""") { (s, d) =>
      import graft.dedup.TextDedup.wordGrams
      val docs = Tables.documents(s, d)
      val probe = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(wordGrams(col("text"), 3)).as("gram")).distinct()
      // Two passes by design: the r14 review flagged checkpointing the
      // full gram-array frame (~3× text volume of executor storage at
      // corpus scale) to save one tokenize. The denominator only needs
      // size(grams) — a narrow (doc_id, n_grams) projection computed in
      // its own scan — and the hit side re-tokenizes into its explode;
      // re-running a row-local generator is cheaper than materializing
      // its output corpus-wide.
      val kept = docs.filter(col("doc_id") % 97 =!= 0)
      val hits = kept
        .select(col("doc_id"), explode(wordGrams(col("text"), 3)).as("gram"))
        .join(broadcast(probe), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      kept
        .select(col("doc_id"),
          size(wordGrams(col("text"), 3)).cast("long").as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("frac", when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_hits").cast("double") / col("n_grams"), 6)))
        .select(col("doc_id"), col("n_grams"), col("n_hits"), col("frac"),
          (col("frac") >= 0.1).as("flagged"))
    },

    // Intra-document repetition ratio (Gopher-style quality filter):
    // share of word-2-grams that are repeats. Row-local — fuses into the
    // scan's codegen stage, zero shuffles.
    QueryDef("q71_repetition", Seq("A11", "A10"),
      """WITH tok AS (
           SELECT doc_id, string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
           FROM documents),
         grams AS (
           SELECT doc_id, [array_to_string(toks[g:g+1], ' ')
             FOR g IN generate_series(1, greatest(len(toks)-1, 0))] AS gs
           FROM tok)
         SELECT doc_id, len(gs) AS total_grams, len(list_distinct(gs)) AS distinct_grams,
           round(1.0 - cast(len(list_distinct(gs)) AS DOUBLE)/len(gs), 6) AS rep_ratio
         FROM grams WHERE len(gs) > 0""") { (s, d) =>
      val toks = split(trim(col("text")), """\s+""")
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 2) // sequence(1,0) would DESCEND in Spark
        .select(col("doc_id"), transform(
          sequence(lit(1), size(col("toks")) - 1),
          g => concat_ws(" ", element_at(col("toks"), g), element_at(col("toks"), g + 1))).as("gs"))
        .select(col("doc_id"), size(col("gs")).as("total_grams"),
          size(array_distinct(col("gs"))).as("distinct_grams"),
          round(lit(1.0) - size(array_distinct(col("gs"))).cast("double") / size(col("gs")), 6)
            .as("rep_ratio"))
    },

    // Domain mixture table: per-source doc and token counts plus each
    // source's share of corpus tokens — the sampling-weight input for
    // training-mixture construction. Two tiny aggregations; the global
    // total rides a single-partition window over the 20-row aggregate,
    // never over the corpus.
    QueryDef("q72_domain_mixture", Seq("A5", "A11"),
      """WITH per AS (
           SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN trim(text)='' THEN 0
               ELSE len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) END) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source)
         SELECT source, n_docs, n_tokens,
           round(cast(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS token_share
         FROM per""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFns.wsTokenCount(col("text"))).cast("long").as("n_tokens"))
        .withColumn("token_share",
          round(col("n_tokens").cast("double") /
            sum("n_tokens").over(Window.partitionBy()), 6))
    },

    // Quality-filter funnel: every doc gets its FIRST failing rule (the
    // C1-style priority waterfall applied to corpus filtering) and the
    // report counts docs per verdict — the kept/dropped accounting a
    // pipeline publishes with each training-data release. Row-local
    // when-chain + one tiny aggregate.
    QueryDef("q75_filter_funnel", Seq("C1", "A11"),
      """WITH scored AS (
           SELECT doc_id, length(text) AS len,
             CASE WHEN trim(text)='' THEN 0
               ELSE len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) END AS toks
           FROM documents),
         ruled AS (
           SELECT CASE WHEN len < 100 THEN 'too_short'
                       WHEN len > 450 THEN 'too_long'
                       WHEN toks < 20 THEN 'too_few_tokens'
                       WHEN cast(len AS DOUBLE)/toks > 6.0 THEN 'long_words'
                       ELSE 'kept' END AS verdict
           FROM scored)
         SELECT verdict, count(*) AS n FROM ruled GROUP BY verdict""") { (s, d) =>
      val len = length(col("text"))
      val toks = TextFns.wsTokenCount(col("text"))
      Tables.documents(s, d)
        .select(len.as("len"), toks.as("toks"))
        .select(when(col("len") < 100, "too_short")
          .when(col("len") > 450, "too_long")
          .when(col("toks") < 20, "too_few_tokens")
          .when(col("len").cast("double") / col("toks") > 6.0, "long_words")
          .otherwise("kept").as("verdict"))
        .groupBy("verdict").agg(count(lit(1)).as("n"))
    },

    // Deterministic stratified sampling: an md5-derived uniform hash of
    // the doc id keeps ~10% per stratum, reproducible across engines and
    // re-runs (no rand()). Row-local predicate + one aggregate — the
    // sampling itself never shuffles.
    QueryDef("q76_stratified_sample", Seq("F5", "A5"),
      """SELECT lang, source, count(*) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS min_id
         FROM documents
         WHERE ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
         GROUP BY lang, source""") { (s, d) =>
      Tables.documents(s, d)
        .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100 < 10)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("min_id"))
    },

    // Unigram language-model scoring (the perplexity-style quality
    // filter): train token frequencies over the corpus, then score each
    // doc by its mean negative log2 probability. Two corpus passes by
    // nature (train, score); the model side is vocabulary-sized and
    // broadcasts. avg of doubles is order-sensitive → rounded on both
    // engines (memory: oracle-parity rule).
    QueryDef("q77_unigram_logprob", Seq("A5", "A11"),
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS token
           FROM documents),
         vocab AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
         tot AS (SELECT sum(n) AS total FROM vocab)
         SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(-log2(cast(v.n AS DOUBLE) / tot.total)), 4) AS avg_nll
         FROM tok t JOIN vocab v USING (token) CROSS JOIN tot
         GROUP BY t.doc_id""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(col("text")), """\s+""")).as("token"))
      // pin the model: total and the scoring join both read vocab, and an
      // inlined plan would tokenize + aggregate the corpus once per
      // reference (the pinByKey trap). No broadcast hint on vocab — it is
      // vocabulary-sized (AQE broadcasts it here; at corpus scale it
      // stays a hash join); total is one row and always broadcasts.
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("n")).localCheckpoint(false)
      val total = vocab.agg(sum("n").as("total"))
      tok.join(vocab, "token")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(-log2(col("n").cast("double") / col("total"))), 4).as("avg_nll"))
    },

    // Per-doc top-3 TF-IDF terms (keyword extraction). tfidf is rounded
    // BEFORE ranking (to 4 places — coarse enough that a 1-ulp libm ln
    // divergence cannot straddle a rounding boundary in practice, the
    // q58 pow lesson) so ties resolve identically in both engines; the
    // doc-frequency side joins on token (AQE broadcasts it at this
    // scale; at corpus scale it stays a hash join on the bounded
    // vocabulary). tf is checkpointed once — df and the scored side both
    // read it, and an inlined plan would aggregate the corpus twice.
    QueryDef("q78_tfidf_top_terms", Seq("A5", "W6"),
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(cast(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
           FROM tf JOIN df USING (token) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
           FROM scored)
         SELECT doc_id, rnk, token, tfidf FROM ranked WHERE rnk <= 3""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(split(trim(col("text")), """\s+""")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val dfc = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
      tf.join(dfc, "token")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("doc_id", "rnk", "token", "tfidf")
    },

    // BM25 retrieval scoring (Okapi, the Lucene always-positive idf
    // variant) for a fixed query — body and scale notes in bm25Scores
    // (shared with q175's hybrid fusion).
    QueryDef("q115_bm25", Seq("A5", "A11"),
      s"""WITH $bm25CtesSql
          SELECT doc_id, bm25 FROM bm25""") { (s, d) =>
      bm25Scores(s, d)
    },

    // HYBRID RETRIEVAL — the serving composition every RAG/corpus-search
    // stack runs: a lexical ranker (q115's BM25 over the query terms) and
    // a semantic ranker (cosine against a probe embedding, doc 0's) fused
    // by reciprocal-rank fusion: rrf = Σ 1/(60 + rank), a doc absent from
    // one list contributing 0 from it. RRF needs only RANKS, so the two
    // arms never have to calibrate scores against each other — which is
    // why it's the standard fusion. Scale shape: each arm is a bounded
    // top-50 (rank-filter windows over the query-sized hit list and the
    // cosine scan — the engine's RewriteRankFilterToTopK turns the global
    // row_number into a bounded per-partition top-k + single merge, never
    // a full sort); the fusion join then touches ≤100 rows regardless of
    // corpus size. The probe doc itself is excluded from both arms. At
    // sf0.1 the embedding table covers only a prefix of the doc ids, so
    // the full-outer fusion's one-armed paths are exercised for real.
    QueryDef("q175_hybrid_rrf", Seq("A5", "J12", "W8"),
      s"""WITH $bm25CtesSql,
          lex AS (
            SELECT doc_id,
              row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
            FROM bm25 WHERE doc_id <> 0 QUALIFY lex_rank <= 50),
          sem AS (
            SELECT a.vec_id AS doc_id,
              row_number() OVER (ORDER BY
                round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
                                             cast(q.embedding AS DOUBLE[])), 6) DESC,
                a.vec_id) AS sem_rank
            FROM embeddings a
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE a.vec_id <> 0 QUALIFY sem_rank <= 50),
          fused AS (
            SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
              l.lex_rank, s.sem_rank,
              coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), 0)
                + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.sem_rank), 0) AS rrf
            FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
          SELECT doc_id, lex_rank, sem_rank, round(rrf, 6) AS rrf,
            row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
          FROM fused QUALIFY rnk <= 10""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFns
      val lex = bm25Scores(s, d)
        .filter(col("doc_id") =!= 0)
        .withColumn("lex_rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("lex_rank") <= 50)
        .select("doc_id", "lex_rank")
      val probe = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("__qvec"))
      val sem = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("cosine", round(VectorFns.cosine(col("embedding"), col("__qvec")), 6))
        .withColumn("sem_rank",
          row_number().over(Window.orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("sem_rank") <= 50)
        .select(col("vec_id").as("doc_id"), col("sem_rank"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)))
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rnk") <= 10)
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          round(col("rrf"), 6).as("rrf"), col("rnk"))
    },

    // PII redaction (the privacy-scrub pass of a corpus build): phones
    // and emails replaced with placeholder tags, per-doc redaction
    // counts reported. Contact strings are synthesized deterministically
    // from the customer table (printf phone from the key, email from the
    // name) so both engines scrub identical inputs. Row-local regex
    // work — fuses into the scan at any scale.
    QueryDef("q80_pii_redaction", Seq("F5", "U3"),
      """WITH txt AS (
           SELECT c_custkey,
             c_name || ' can be reached at ' ||
             printf('%02d-%03d-%04d', c_custkey % 90 + 10, (c_custkey * 7) % 900 + 100, (c_custkey * 13) % 9000 + 1000)
             || ' or ' || lower(replace(c_name, ' ', '')) || '@example.com' AS contact
           FROM customer)
         SELECT c_custkey,
           regexp_replace(regexp_replace(contact, '\d{2}-\d{3}-\d{4}', '[PHONE]', 'g'),
             '[a-z0-9#]+@[a-z.]+', '[EMAIL]', 'g') AS redacted,
           len(regexp_extract_all(contact, '\d{2}-\d{3}-\d{4}')) AS n_phones,
           len(regexp_extract_all(contact, '[a-z0-9#]+@[a-z.]+')) AS n_emails
         FROM txt""") { (s, d) =>
      val contact = concat(
        col("c_name"), lit(" can be reached at "),
        format_string("%02d-%03d-%04d",
          col("c_custkey") % 90 + 10,
          (col("c_custkey") * 7) % 900 + 100,
          (col("c_custkey") * 13) % 9000 + 1000),
        lit(" or "), lower(regexp_replace(col("c_name"), " ", "")), lit("@example.com"))
      Tables.customer(s, d)
        .select(col("c_custkey"), contact.as("contact"))
        .select(col("c_custkey"),
          regexp_replace(
            regexp_replace(col("contact"), """\d{2}-\d{3}-\d{4}""", "[PHONE]"),
            """[a-z0-9#]+@[a-z.]+""", "[EMAIL]").as("redacted"),
          size(regexp_extract_all(col("contact"), lit("""\d{2}-\d{3}-\d{4}"""), lit(0))).as("n_phones"),
          size(regexp_extract_all(col("contact"), lit("""[a-z0-9#]+@[a-z.]+"""), lit(0))).as("n_emails"))
    },

    // Count-min sketch + heavy hitters — the mergeable COUNTING sketch
    // next to q119's KMV cardinality sketch, made oracle-exact by
    // deriving the d=4 row hashes from md5 (identical buckets in both
    // engines). Scale shape: the sketch build is one partial-agg shuffle
    // whose keyspace is FIXED at d×w = 4×1024 cells regardless of corpus
    // size (the per-executor partial maps cap at 4,096 entries — this is
    // the aggregation whose state cannot blow up on a hot vocabulary);
    // estimates ride a broadcast of the 4,096-cell table. The exact
    // per-token counts emitted alongside are the oracle's measuring
    // stick — at 100 TB that exact groupBy (state ∝ vocabulary) is
    // precisely what the CMS replaces, and the emitted rows demonstrate
    // the CMS guarantee est ≥ exact with bounded overestimate. Heavy
    // hitters = tokens whose ESTIMATE clears total/200 — the decision a
    // streaming pass would make from the sketch alone.
    QueryDef("q121_cms_heavy_hitters", Seq("A11", "U6"),
      s"""WITH tok AS (SELECT unnest($wsToks) AS token FROM documents),
          rows_ AS (SELECT unnest(generate_series(0, 3)) AS r),
          cms AS (
            SELECT r.r,
              ('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':' || t.token), 1, 8))::BIGINT % 1024 AS b,
              count(*) AS c
            FROM tok t CROSS JOIN rows_ r GROUP BY r.r, b),
          counts AS (SELECT token, count(*) AS n_exact FROM tok GROUP BY token),
          est AS (
            SELECT k.token, k.n_exact, min(m.c) AS n_est
            FROM counts k CROSS JOIN rows_ r
            JOIN cms m ON m.r = r.r
              AND m.b = ('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':' || k.token), 1, 8))::BIGINT % 1024
            GROUP BY k.token, k.n_exact),
          tot AS (SELECT sum(n_exact) AS total FROM counts)
          SELECT token, n_exact, CAST(n_est AS BIGINT) AS n_est
          FROM est, tot WHERE n_est >= total / 200.0""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), """\s+""")).as("token"))
      val cms = cmsCells(toks).groupBy("r", "b").agg(count(lit(1)).as("c"))
      val counts = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      val tot = counts.agg(sum("n_exact").as("total"))
      counts
        .select(col("token"), col("n_exact"),
          posexplode(graft.functions.TextHash.cms_buckets(
            col("token"), CmsDepth, CmsWidth)).as(Seq("r", "b")))
        .join(broadcast(cms), Seq("r", "b"))
        .groupBy("token", "n_exact").agg(min("c").as("n_est"))
        .crossJoin(broadcast(tot))
        .filter(col("n_est") >= col("total") / 200.0)
        .select("token", "n_exact", "n_est")
    },

    // Sketch-ONLY heavy hitters — the decision path q121 demonstrates
    // the guarantee for. q121 carries the exact vocabulary-sized
    // groupBy(token) in-plan as the oracle's measuring stick; this
    // sibling is the shape a 100 TB pass actually runs: the corpus feeds
    // ONLY (a) the CMS build, whose agg keyspace is FIXED at d×w =
    // 4×1024 cells regardless of vocabulary, and (b) a second scan that
    // tests every occurrence against the sketch ROW-LOCALLY (the cells
    // are plan literals) and dedups just the survivors — candidate state
    // = the output set itself, bounded by the decision threshold, with
    // no vocabulary-sized aggregate anywhere (see cmsEstimate).
    QueryDef("q124_cms_sketch_only", Seq("A11", "U6"),
      cmsSketchOnlySql) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), """\s+""")).as("token"))
      val cms = cmsCells(toks).groupBy("r", "b").agg(count(lit(1)).as("c"))
      cmsEstimate(s, d, cms)
    },

    // STREAMING count-min sketch — the same 4×1024 CMS as q124, built
    // from an unbounded token stream. The point q118/q131 cannot make:
    // the sketch bounds state BY CONSTRUCTION (4,096 cells, however
    // many distinct tokens arrive), so the aggregation needs NO
    // watermark and never evicts — mergeable-sketch state is the shape
    // that makes an infinite stream aggregable at all. Cell counts are
    // additive and strictly increasing across batches, so the
    // update-mode drain reconstructs the final sketch with max() per
    // cell (the q118 recipe), and the estimate stage is q124's
    // verbatim: the reconstructed cells enter the second scan as plan
    // literals, the only distinct runs over the decision's survivors —
    // no vocabulary-sized aggregate anywhere.
    QueryDef("q132_stream_cms", Seq("A11", "U6"),
      cmsSketchOnlySql) { (s0, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val batchDocs = Tables.documents(s0, d)
      val schema = batchDocs.schema
      val s = EventQueries.streamSession(s0)
      val sinkName = "graft_stream_cms"
      // arrival order is irrelevant here (cell counts commute), but the
      // stamped drain keeps the multi-batch replay deterministic anyway
      val in = EventQueries.stageRangedDrain(batchDocs, 2, "doc_id", "graft_scms_")
      val cmsStream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .select(explode(split(trim(col("text")), """\s+""")).as("token"))
      val sink = EventQueries.drainStaged(in, sinkName, update = true)(
        cmsCells(cmsStream).groupBy("r", "b").agg(count(lit(1)).as("c")))
      val cms = sink.groupBy("r", "b").agg(max("c").as("c"))
      cmsEstimate(s, d, cms)
    },
  )
}
