package graft.queries

import graft.QueryDef
import graft.functions.TextFns
import graft.operators.{PrefixSum, RangeJoin}
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

/** Round-4 pipeline battery: the shard/packing, span-dedup, CDC and
  * interval-join operations a training-data pipeline runs AROUND the
  * per-document transforms — each with a DuckDB oracle.
  *
  * Scale discipline: the only global-order computation (q83) goes
  * through PrefixSum's two-phase scan instead of a single-partition
  * window; the span dedup (q84) shuffles once on the span text; the
  * decontamination (q85) filters the corpus with a broadcast Bloom
  * filter BEFORE any join; the range join (q88) replaces a nested-loop
  * plan with a bucketed equi-join.
  */
object PipelineQueries {

  /** floor-to-second from a nanos-since-epoch long column (same contract
    * as EventQueries.nsToSec — integer DIV, never through double). */
  private def nsToSec(colName: String): Column =
    expr(s"CAST($colName DIV 1000000000 AS BIGINT)")

  private val wsToks =
    """string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')"""

  /** Whitespace-normalized exact fingerprint (the decontamination key). */
  private def fpOf(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), """\s+""", " "))

  /** The planted-leak decontamination fixture shared by q85 (batch) and
    * q159 (streaming): probe = docs ≡ 0 mod 97; the corpus re-plants the
    * probe set half verbatim / half perturbed under source 'leak'.
    * Returns (arrivals with doc_id/source/text, probe with doc_id/text). */
  private def decontamFixture(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val base = Tables.documents(s, d)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("source"), col("text"))
    val probe = base.filter(col("doc_id") % 97 === 0).select("doc_id", "text")
    val planted = probe.select(
      (col("doc_id") + 100000L).as("doc_id"),
      lit("leak").as("source"),
      when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" extra"))).as("text"))
    (base.filter(col("doc_id") % 97 =!= 0).unionByName(planted), probe)
  }

  /** Kept-per-source oracle shared VERBATIM by q85 (batch sweep) and
    * q159 (the same rule applied to each arriving micro-batch): the
    * keep/drop verdict is row-local given the probe set, so the kept
    * corpus is batching-independent — one text for both paths. */
  private def bloomDecontamSql =
    """WITH base AS (
         SELECT doc_id, source, text FROM documents WHERE trim(text) <> ''),
       probe AS (SELECT doc_id, text FROM base WHERE doc_id % 97 = 0),
       corpus AS (
         SELECT doc_id, source, text FROM base WHERE doc_id % 97 <> 0
         UNION ALL
         SELECT doc_id + 100000, 'leak',
           CASE WHEN doc_id % 2 = 0 THEN text ELSE text || ' extra' END
         FROM probe),
       fp AS (
         SELECT source, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM corpus),
       pfp AS (
         SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM probe)
       SELECT f.source, count(*) - count(p.fp) AS n_kept
       FROM fp f LEFT JOIN pfp p ON f.fp = p.fp
       GROUP BY f.source"""

  val defs: Seq[QueryDef] = Seq(

    // Sequence packing (concat-and-chunk): lay the corpus token stream
    // end-to-end in doc_id order and cut fixed 256-token context
    // windows; report each doc's window (bin), offset, and how many
    // windows it spans. The global running sum uses PrefixSum's
    // two-phase scan — per-bucket subtotals + in-bucket windows — so no
    // task ever sees more than one bucket of rows.
    QueryDef("q83_sequence_pack", Seq("A5", "U6"),
      s"""WITH tok AS (
            SELECT doc_id,
              CASE WHEN trim(text)='' THEN 0 ELSE len($wsToks) END AS n_tokens
            FROM documents),
          cum AS (
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
            FROM tok)
          SELECT doc_id, n_tokens,
            CAST(start_tok // 256 AS BIGINT) AS bin,
            CAST(start_tok % 256 AS BIGINT) AS off,
            CAST((start_tok + n_tokens - 1) // 256 - start_tok // 256 + 1 AS BIGINT) AS spans
          FROM cum WHERE n_tokens > 0""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          TextFns.wsTokenCount(col("text")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      PrefixSum.exclusive(tok, col("doc_id"), col("n_tokens"),
          expr("CAST(doc_id DIV 50 AS BIGINT)"), "start_tok")
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(start_tok DIV 256 AS BIGINT)").as("bin"),
          (col("start_tok") % 256).as("off"),
          expr("CAST((start_tok + n_tokens - 1) DIV 256 - start_tok DIV 256 + 1 AS BIGINT)")
            .as("spans"))
    },

    // Packed-sequence MATERIALIZATION — the step after q83's assignment:
    // cut every document's token array across the 256-token bin
    // boundaries it spans and reassemble each bin's training sequence in
    // offset order. The cut is a pure row-local generator (a task never
    // holds more than one document's tokens); the reassembly is one
    // grouped aggregation on the bin id with a sort-free ordered concat
    // (array_sort over (offset, piece) structs — per-bin data only).
    // Sequences are emitted as md5 + token count so row width stays
    // constant at any bin size.
    QueryDef("q104_pack_materialize", Seq("A1", "A5", "U6"),
      s"""WITH tok AS (
            SELECT doc_id, $wsToks AS toks FROM documents WHERE trim(text) <> ''),
          cum AS (
            SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(sum(len(toks)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - len(toks) AS BIGINT) AS start_tok
            FROM tok WHERE len(toks) > 0),
          pieces AS (
            SELECT CAST(w AS BIGINT) AS bin,
              greatest(start_tok, w*256) AS off,
              array_to_string(toks[(greatest(w*256 - start_tok, 0) + 1):(least(start_tok + n_tokens, (w+1)*256) - start_tok)], ' ') AS piece,
              least(start_tok + n_tokens, (w+1)*256) - greatest(start_tok, w*256) AS n_tok
            FROM cum, LATERAL (SELECT unnest(generate_series(start_tok//256, (start_tok + n_tokens - 1)//256)) AS w))
          SELECT bin, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
            count(*) AS n_pieces,
            md5(string_agg(piece, ' ' ORDER BY off)) AS seq_hash
          FROM pieces GROUP BY bin""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .filter(trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(regexp_replace(trim(col("text")), "\\s+", " "), " ").as("toks"))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .filter(col("n_tokens") > 0)
      val pieces = PrefixSum.exclusive(tok, col("doc_id"), col("n_tokens"),
          expr("CAST(doc_id DIV 50 AS BIGINT)"), "start_tok")
        .select(explode(expr(
          "transform(sequence(start_tok DIV 256, (start_tok + n_tokens - 1) DIV 256)," +
            " w -> named_struct(" +
            "'bin', w," +
            "'off', greatest(start_tok, w*256)," +
            "'piece', concat_ws(' ', slice(toks, CAST(greatest(w*256 - start_tok, 0) + 1 AS INT)," +
            "  CAST(least(start_tok + n_tokens, (w+1)*256) - greatest(start_tok, w*256) AS INT)))," +
            "'n_tok', least(start_tok + n_tokens, (w+1)*256) - greatest(start_tok, w*256)))")).as("p"))
        .select(col("p.bin").as("bin"), col("p.off").as("off"),
          col("p.piece").as("piece"), col("p.n_tok").as("n_tok"))
      pieces.groupBy("bin")
        .agg(sum("n_tok").as("n_tokens"), count(lit(1)).as("n_pieces"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(off, piece))), x -> x.piece)")))
            .as("seq_hash"))
    },

    // Paragraph-level (span) dedup, C4-style: cut each doc into 20-word
    // spans, dedup spans EXACTLY across the corpus (keeper = smallest
    // (doc_id, span_idx)), report per-doc span and survivor counts. One
    // shuffle on the span text — the canonical dedup shuffle; the span
    // frame is pinned so the keeper self-join doesn't re-tokenize.
    QueryDef("q84_paragraph_dedup", Seq("A10", "U6"),
      s"""WITH tok AS (
            SELECT doc_id, $wsToks AS toks FROM documents WHERE trim(text) <> ''),
          chunks AS (
            SELECT doc_id, c AS chunk_idx,
              array_to_string(toks[(c*20+1):(c*20+20)], ' ') AS chunk_text
            FROM tok, LATERAL (SELECT unnest(generate_series(0, (len(toks)-1)//20)) AS c)),
          keeper AS (
            SELECT chunk_text, min(doc_id*100000 + chunk_idx) AS keep_key
            FROM chunks GROUP BY chunk_text)
          SELECT c.doc_id, count(*) AS n_chunks,
            CAST(sum(CASE WHEN c.doc_id*100000 + c.chunk_idx = k.keep_key THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM chunks c JOIN keeper k USING (chunk_text)
          GROUP BY c.doc_id""") { (s, d) =>
      val chunks = Tables.documents(s, d)
        .filter(trim(col("text")) =!= "")
        .select(col("doc_id"), split(trim(col("text")), """\s+""").as("toks"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, CAST((size(toks)-1) DIV 20 AS INT)),
             c -> struct(CAST(c AS BIGINT) AS chunk_idx,
                         array_join(slice(toks, c*20+1, 20), ' ') AS chunk_text))"""))
          .as("ch"))
        .select(col("doc_id"),
          (col("doc_id") * 100000L + col("ch.chunk_idx")).as("key"),
          col("ch.chunk_text").as("chunk_text"))
        .localCheckpoint(false) // keeper + scoring both read this
      val keeper = chunks.groupBy("chunk_text").agg(min("key").as("keep_key"))
      chunks.join(keeper, "chunk_text")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("key") === col("keep_key"), 1L).otherwise(0L)).as("n_kept"))
    },

    // Exact substring dedup (the sliding-window complement of q84's
    // fixed chunks): every 20-token span appearing verbatim in ANOTHER
    // doc, overlapping hits merged into maximal per-doc spans — see
    // SpanDedup's scaladoc for the two-shuffle scale shape. Oracle is
    // the classic gaps-and-islands (lag + running sum); the Spark side
    // does the same merge as a row-local fold over each doc's sorted
    // duplicated positions, no window function, no per-doc sort at the
    // exchange.
    QueryDef("q114_dup_spans", Seq("A10", "U6"),
      s"""WITH tok AS (
            SELECT doc_id, $wsToks AS toks FROM documents WHERE trim(text) <> ''),
          sh AS (
            SELECT doc_id, p, md5(array_to_string(toks[p:p+19], ' ')) AS h
            FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 19)) AS p)
            WHERE len(toks) >= 20),
          dup AS (SELECT h FROM sh GROUP BY h HAVING min(doc_id) <> max(doc_id)),
          pos AS (SELECT doc_id, p FROM sh JOIN dup USING (h)),
          flags AS (
            SELECT doc_id, p,
              CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 20
                   THEN 0 ELSE 1 END AS brk
            FROM pos),
          isl AS (
            SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
            FROM flags)
          SELECT doc_id, min(p) AS span_start, max(p) + 19 AS span_end,
                 max(p) + 19 - min(p) + 1 AS span_tokens
          FROM isl GROUP BY doc_id, island""") { (s, d) =>
      graft.dedup.SpanDedup.duplicatedSpans(
        Tables.documents(s, d), "doc_id", "text", k = 20)
    },

    // Benchmark decontamination at corpus scale: plant the probe set
    // (docs ≡ 0 mod 97; half verbatim, half perturbed) back into the
    // corpus as a "leak" source, then remove exact fingerprint matches.
    // The corpus is pre-filtered by a BROADCAST Bloom filter built over
    // the probe fingerprints — a codegen'd might_contain per row, no
    // shuffle — and only the tiny candidate set pays the exact
    // confirmation join, so false positives cost a little work, never
    // correctness. At 100 TB the probe (real benchmarks are MBs) still
    // builds a KB-scale filter; the corpus never shuffles.
    QueryDef("q85_bloom_decontam", Seq("F3", "A10", "J11"),
      bloomDecontamSql) { (s, d) =>
      val (arrivals, probe) = decontamFixture(s, d)
      val corpus = arrivals.select(col("source"), fpOf(col("text")).as("fp"))
      // pinned: read three times (bloom build, confirm join, broadcast)
      val probeFp = probe.select(fpOf(col("text")).as("fp")).distinct()
        .localCheckpoint(false)
      val might = graft.functions.BloomFns.mightContain(probeFp, "fp", col("fp"))
      val contaminated = corpus.filter(might)
        .join(broadcast(probeFp), Seq("fp"), "leftsemi")
        .groupBy("source").agg(count(lit(1)).as("n_bad"))
      corpus.groupBy("source").agg(count(lit(1)).as("n_total"))
        .join(contaminated, Seq("source"), "left")
        .select(col("source"),
          (col("n_total") - coalesce(col("n_bad"), lit(0L))).as("n_kept"))
    },

    // FUZZY DECONTAMINATION — the third pole of the decontamination
    // family: q70/q85 catch EXACT eval overlap (n-gram / fingerprint),
    // but a paraphrased or lightly-edited eval leak shares no exact
    // 3-gram. Here the corpus is screened against the eval set with
    // MinHash band signatures (q118's shingle-8 × 4-band machinery):
    // a doc colliding with any eval doc in ≥ 2 of 4 bands is flagged
    // contaminated — band votes grade the match from "coincidental
    // shingle" (1 band) to "near-copy" (4). Scale shape: the EVAL side
    // is always the small one, so its distinct (band, sig) keys
    // broadcast and the corpus streams through one semi-shaped hash
    // join — per-doc verdicts come off a doc-keyed aggregate of the
    // collisions, never a corpus×eval pair stage.
    QueryDef("q178_fuzzy_decontam", Seq("F3", "A10", "J11"),
      """WITH bands AS (SELECT unnest(generate_series(0, 3)) AS b),
          sigs AS (
            SELECT d.doc_id, bands.b,
              list_min([md5(CAST(bands.b AS VARCHAR) || ':' || substring(d.text, g, 8))
                        FOR g IN generate_series(1, greatest(length(d.text) - 7, 1))]) AS sig
            FROM documents d CROSS JOIN bands),
          esig AS (SELECT DISTINCT b, sig FROM sigs WHERE doc_id % 97 = 0),
          hits AS (
            SELECT s.doc_id, count(*) AS hit_bands
            FROM sigs s JOIN esig e ON s.b = e.b AND s.sig = e.sig
            WHERE s.doc_id % 97 <> 0
            GROUP BY s.doc_id)
          SELECT d.doc_id, coalesce(h.hit_bands, 0) AS hit_bands,
            coalesce(h.hit_bands, 0) >= 2 AS contaminated
          FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
          WHERE d.doc_id % 97 <> 0""") { (s, d) =>
      import graft.dedup.TextDedup
      val docs = Tables.documents(s, d)
      val evalSigs = TextDedup.md5BandSigs(
          docs.filter(col("doc_id") % 97 === 0), "text", "doc_id", 8, 4)
        .select("b", "sig").distinct()
      val kept = docs.filter(col("doc_id") % 97 =!= 0)
      val hits = TextDedup.md5BandSigs(kept, "text", "doc_id", 8, 4)
        // esig is distinct on (b, sig) and a doc carries ONE sig per
        // band, so each (doc, band) row matches at most once — plain
        // count ≡ the oracle's per-band hit count
        .join(broadcast(evalSigs), Seq("b", "sig"))
        .groupBy("doc_id").agg(count(lit(1)).as("hit_bands"))
      kept.select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hit_bands"), lit(0L)).as("hit_bands"),
          (coalesce(col("hit_bands"), lit(0L)) >= 2).as("contaminated"))
    },

    // SCD2 interval build (the CDC pattern): profile-change events
    // become versioned rows with [valid_from, valid_to) and a current
    // flag — one shuffle on the entity key, lead() within it.
    QueryDef("q86_scd2_intervals", Seq("W3", "A5"),
      scd2IntervalsSql) { (s, d) =>
      scd2Intervals(scd2Changes(Tables.events(s, d)))
    },

    // CDC changelog apply: last operation per entity wins, deletes
    // tombstone the row. One partial-aggregating max(struct) per entity
    // — no window sort, no shuffle beyond the group-by (the
    // argmax-per-group discipline from Dedup.firstRowPerGroupAgg).
    QueryDef("q87_cdc_apply", Seq("A2", "W6"),
      """WITH ops AS (
           SELECT event_id % 300 AS entity,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
           FROM events),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY entity ORDER BY sec DESC, event_id DESC) AS rn
           FROM ops)
         SELECT CAST(entity AS BIGINT) AS entity, sec AS last_sec,
           round(value, 4) AS last_value
         FROM ranked WHERE rn = 1 AND op <> 'D'""") { (s, d) =>
      Tables.events(s, d)
        .select((col("event_id") % 300).as("entity"), nsToSec("ts").as("sec"),
          col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("value"))
        .groupBy("entity")
        .agg(max(struct(col("sec"), col("event_id"), col("op"), col("value"))).as("m"))
        .filter(col("m.op") =!= "D")
        .select(col("entity"), col("m.sec").as("last_sec"),
          round(col("m.value"), 4).as("last_value"))
    },

    // SCD2 DIM UNDER JOIN-IVM — the composition q160 documents as its
    // open assumption: q160's refresh is sound only while its dims are
    // STATIC between refreshes; here the dimension itself changes (q86's
    // profile-change log), and the maintained view must join each fact
    // delta to the dim VERSION VALID AT ITS EVENT TIME — an as-of
    // (equi + half-open interval) join against the SCD2 table — so a
    // dim update can never silently rewrite the history already folded
    // into the partials. Three at-rest artifacts: the SCD2 dim (built
    // once from the change log — q86's lead()-interval shape, versions
    // half-open [from, to), last version open-ended), the materialized
    // view partials over base facts, and the delta landing file. The
    // refresh pays the as-of join ONLY for the delta (dim broadcasts —
    // a dimension at any corpus size; the fact side never shuffles
    // pre-agg) and folds through the shared IncrementalView reduce;
    // events.parquet is never rescanned (PlanBudgetSpec). Facts that
    // precede their user's first version have no valid dim row and drop
    // (inner as-of join) — deterministic, so the oracle replays it.
    // Oracle = the full as-of recompute over ALL facts, the maintenance
    // contract with a time-varying dimension.
    QueryDef("q165_scd2_join_ivm", Seq("A5", "W3", "J12"),
      """WITH v AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id, value
           FROM events WHERE event_type IN ('signup', 'purchase')),
         dim AS (
           SELECT user_id, sec AS valid_from,
             lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS valid_to,
             value AS attr_raw
           FROM v),
         f AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
           FROM events WHERE event_type IN ('click', 'view')),
         j AS (
           SELECT CAST(floor(d.attr_raw) AS BIGINT) % 5 AS bucket, f.value
           FROM f JOIN dim d ON f.user_id = d.user_id
             AND f.sec >= d.valid_from
             AND (d.valid_to IS NULL OR f.sec < d.valid_to))
         SELECT bucket, count(*) AS n, round(sum(value), 4) AS total_value
         FROM j GROUP BY bucket""") { (s, d) =>
      val w = Window.partitionBy("d_user_id").orderBy("sec", "event_id")
      // artifact 1: the SCD2 dim at rest — versioned rows, maintained by
      // the change log's own cadence, shared by base staging and refresh
      val dimDir = graft.sources.ZOrder.ensureStagedDir(
        "graft_scd2_dim", d, s"$d/events.parquet") { target =>
        Tables.events(s, d)
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("user_id").as("d_user_id"), nsToSec("ts").as("sec"),
            col("event_id"), col("value").as("attr_raw"))
          .select(col("d_user_id"), col("sec").as("valid_from"),
            lead("sec", 1).over(w).as("valid_to"), col("attr_raw"))
          .write.mode("overwrite").parquet(target)
      }
      def facts(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), nsToSec("ts").as("sec"), col("value"),
          col("event_id"))
      // the as-of enrichment + partial agg, paid only for the rows passed in
      def asOfPartial(f: org.apache.spark.sql.DataFrame,
          dim: org.apache.spark.sql.DataFrame) = f
        .join(broadcast(dim),
          col("user_id") === col("d_user_id") &&
            col("sec") >= col("valid_from") &&
            (col("valid_to").isNull || col("sec") < col("valid_to")))
        .select((floor(col("attr_raw")).cast("long") % 5).as("bucket"), col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      // artifact 2: the materialized partials over base facts
      val baseDir = graft.sources.ZOrder.ensureStagedDir(
        "graft_scd2_ivm_base", d, s"$d/events.parquet") { target =>
        asOfPartial(facts(Tables.events(s, d)).filter(col("event_id") % 10 =!= 0),
            StateFs.readParquet(s, dimDir))
          .write.mode("overwrite").parquet(target)
      }
      // artifact 3: the delta landing file (raw fact rows)
      val deltaDir = graft.sources.ZOrder.ensureStagedDir(
        "graft_scd2_ivm_delta", d, s"$d/events.parquet") { target =>
        facts(Tables.events(s, d)).filter(col("event_id") % 10 === 0)
          .write.mode("overwrite").parquet(target)
      }
      graft.operators.IncrementalView.mergePartials(Seq("bucket"),
          StateFs.readParquet(s, baseDir),
          asOfPartial(StateFs.readParquet(s, deltaDir), StateFs.readParquet(s, dimDir)))
        .select(col("bucket"), col("n"), round(col("sum_value"), 4).as("total_value"))
    },

    // Range join with no equi key: deterministic "campaign" intervals
    // (derived from the customer key and the event-time bounds) joined
    // to the events whose timestamp they contain. Spark's built-in plan
    // here is a nested loop; RangeJoin.bucketed restores a shuffle hash
    // join by quantizing time into 12h buckets (≈ the median interval
    // width), so BOTH sides may be large.
    QueryDef("q88_range_join", Seq("J12", "F1"),
      """WITH bounds AS (
           SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS tmin,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS tmax FROM events),
         iv AS (
           SELECT c_custkey AS iv_id,
             tmin + ((c_custkey * 37) % 720) * ((tmax - tmin) // 1000) AS lo,
             tmin + ((c_custkey * 37) % 720) * ((tmax - tmin) // 1000)
                  + ((c_custkey % 7) + 1) * ((tmax - tmin) // 200) AS hi
           FROM customer CROSS JOIN bounds WHERE c_custkey <= 200)
         SELECT iv.iv_id, count(*) AS n_events, round(sum(e.value), 4) AS total_value
         FROM iv JOIN (SELECT value, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events) e
           ON e.sec BETWEEN iv.lo AND iv.hi
         GROUP BY iv.iv_id""") { (s, d) =>
      val ev = Tables.events(s, d).select(col("value"), nsToSec("ts").as("sec"))
      val bounds = ev.agg(min("sec").as("tmin"), max("sec").as("tmax"))
      val iv = Tables.customer(s, d)
        .filter(col("c_custkey") <= 200)
        .crossJoin(broadcast(bounds))
        .select(col("c_custkey").as("iv_id"),
          (col("tmin") + (col("c_custkey") * 37 % 720)
            * expr("CAST((tmax - tmin) DIV 1000 AS BIGINT)")).as("lo"),
          ((col("c_custkey") % 7 + 1)
            * expr("CAST((tmax - tmin) DIV 200 AS BIGINT)")).as("len"))
        .select(col("iv_id"), col("lo"), (col("lo") + col("len")).as("hi"))
      RangeJoin.bucketed(ev, iv, col("sec"), col("lo"), col("hi"), 43200L)
        .groupBy("iv_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
    },

    // Bigram language-model scoring (the 2-gram extension of q77's
    // unigram filter): train joint bigram frequencies over the corpus,
    // score each doc by mean negative log2 probability. The model is
    // vocabulary²-bounded and pinned once; avg + round(4) absorbs
    // cross-libm log noise (the q77/q78 lesson).
    QueryDef("q89_bigram_logprob", Seq("A5", "A11"),
      s"""WITH tok AS (
            SELECT doc_id, $wsToks AS toks FROM documents WHERE trim(text) <> ''),
          grams AS (
            SELECT doc_id, array_to_string(toks[g:g+1], ' ') AS gram
            FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks)-1)) AS g)
            WHERE len(toks) >= 2),
          model AS (SELECT gram, count(*) AS n FROM grams GROUP BY gram),
          tot AS (SELECT sum(n) AS total FROM model)
          SELECT g.doc_id, count(*) AS n_bigrams,
            round(avg(-log2(CAST(m.n AS DOUBLE) / tot.total)), 4) AS avg_nll
          FROM grams g JOIN model m USING (gram) CROSS JOIN tot
          GROUP BY g.doc_id""") { (s, d) =>
      val grams = Tables.documents(s, d)
        .filter(trim(col("text")) =!= "")
        .select(col("doc_id"), split(trim(col("text")), """\s+""").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          g => concat_ws(" ", element_at(col("toks"), g), element_at(col("toks"), g + 1))))
          .as("gram"))
      // pin the model: total and the scoring join both read it (q77's
      // inlined-plan trap); no broadcast hint — AQE broadcasts it here,
      // at corpus scale it stays a hash join on the bounded vocabulary²
      val model = grams.groupBy("gram").agg(count(lit(1)).as("n")).localCheckpoint(false)
      val total = model.agg(sum("n").as("total"))
      grams.join(model, "gram")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log2(col("n").cast("double") / col("total"))), 4).as("avg_nll"))
    },

    // Snapshot diff (the table-versioning audit): FULL OUTER join two
    // snapshot versions on the key, classify added / removed / changed /
    // unchanged. One co-partitioned shuffle on the key; at 100 TB both
    // snapshots bucket by the key and the join is shuffle-free.
    QueryDef("q90_table_diff", Seq("A8", "SE1"),
      """WITH old AS (
           SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
           FROM orders WHERE o_orderkey % 1000 <> 7),
         new_ AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0
               THEN round(CAST(o_totalprice AS DOUBLE) * 1.05, 2)
               ELSE CAST(o_totalprice AS DOUBLE) END AS price
           FROM orders WHERE o_orderkey % 1000 <> 13),
         d AS (
           SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN o.price <> n.price THEN 'changed'
                       ELSE 'unchanged' END AS verdict
           FROM old o FULL OUTER JOIN new_ n ON o.o_orderkey = n.o_orderkey)
         SELECT verdict, count(*) AS n FROM d GROUP BY verdict""") { (s, d) =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("price"))
      val old = base.filter(col("o_orderkey") % 1000 =!= 7)
        .select(col("o_orderkey").as("k_old"), col("price").as("p_old"))
      val neu = base.filter(col("o_orderkey") % 1000 =!= 13)
        .select(col("o_orderkey").as("k_new"),
          when(col("o_orderkey") % 11 === 0, round(col("price") * 1.05, 2))
            .otherwise(col("price")).as("p_new"))
      old.join(neu, col("k_old") === col("k_new"), "full_outer")
        .select(when(col("k_old").isNull, "added")
          .when(col("k_new").isNull, "removed")
          .when(col("p_old") =!= col("p_new"), "changed")
          .otherwise("unchanged").as("verdict"))
        .groupBy("verdict").agg(count(lit(1)).as("n"))
    },

    // Conversion-funnel with ordering + deadline constraints: first
    // signup → first view within 24h → first purchase within 24h of
    // that. Three entity-keyed aggregates chained by joins on the
    // entity — each stage's survivor set shrinks, so the joins get
    // cheaper down the funnel.
    QueryDef("q91_funnel_stages", Seq("A5", "J5", "W5"),
      """WITH e AS (
           SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
         s AS (SELECT user_id, min(sec) AS t_signup FROM e WHERE event_type = 'signup' GROUP BY user_id),
         v AS (SELECT e.user_id, min(e.sec) AS t_view FROM e JOIN s ON e.user_id = s.user_id
               WHERE e.event_type = 'view' AND e.sec >= s.t_signup AND e.sec <= s.t_signup + 86400
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.sec) AS t_purchase FROM e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'purchase' AND e.sec >= v.t_view AND e.sec <= v.t_view + 86400
               GROUP BY e.user_id)
         SELECT CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_signup,
           CAST(count(DISTINCT v.user_id) AS BIGINT) AS n_viewed,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_purchased
         FROM s LEFT JOIN v ON s.user_id = v.user_id LEFT JOIN p ON v.user_id = p.user_id""") { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), nsToSec("ts").as("sec"))
      val signup = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("sec").as("t_signup"))
      val viewed = e.filter(col("event_type") === "view")
        .join(signup, "user_id")
        .filter(col("sec") >= col("t_signup") && col("sec") <= col("t_signup") + 86400)
        .groupBy("user_id").agg(min("sec").as("t_view"))
      val purchased = e.filter(col("event_type") === "purchase")
        .join(viewed, "user_id")
        .filter(col("sec") >= col("t_view") && col("sec") <= col("t_view") + 86400)
        .groupBy("user_id").agg(min("sec").as("t_purchase"))
      signup.join(viewed, Seq("user_id"), "left")
        .join(purchased, Seq("user_id"), "left")
        .agg(count_distinct(col("user_id")).as("n_signup"),
          count_distinct(when(col("t_view").isNotNull, col("user_id"))).as("n_viewed"),
          count_distinct(when(col("t_purchase").isNotNull, col("user_id"))).as("n_purchased"))
    },

    // Deterministic fixed-k sampling per stratum: rank by an md5-derived
    // uniform hash inside each (lang, source) stratum, keep the top 3 —
    // reproducible across engines and re-runs (q76's hash discipline,
    // but exact-k instead of Bernoulli).
    QueryDef("q92_fixed_k_sample", Seq("F5", "W8"),
      """WITH h AS (
           SELECT doc_id, lang, source,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hsh
           FROM documents),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY hsh, doc_id) AS rn FROM h)
         SELECT lang, source, doc_id FROM r WHERE rn <= 3""") { (s, d) =>
      val w = Window.partitionBy("lang", "source").orderBy("hsh", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long").as("hsh"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("lang", "source", "doc_id")
    },

    // Time-RANGE moving aggregate: per-entity trailing-24h average — a
    // value-range window frame (RANGE BETWEEN n PRECEDING), not a row
    // frame, so duplicate timestamps resolve deterministically in both
    // engines. Partitioned by the entity key: parallel across users at
    // any scale.
    QueryDef("q93_moving_avg", Seq("W4", "A5"),
      """WITH e AS (
           SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(round(value * 10000, 0) AS BIGINT) AS cents
           FROM events),
         wnd AS (
           SELECT event_id, user_id,
             sum(cents) OVER (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS s,
             CAST(count(*) OVER (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_24h
           FROM e)
         SELECT event_id, user_id,
           CAST((2 * s + n_24h) // (2 * n_24h) AS DOUBLE) / 10000.0 AS avg_24h,
           n_24h
         FROM wnd""") { (s, d) =>
      // the trailing average is quantized to integer ten-thousandths,
      // summed EXACTLY, and half-up rounded in INTEGER arithmetic:
      // (2s+n) div (2n). round(double, 4) is engine-divergent — Spark
      // rounds the shortest decimal repr, DuckDB the binary value, and
      // boundary rows (…X5 exactly) split between them at sf0.01.
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-86400L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), nsToSec("ts").as("sec"),
          round(col("value") * 10000, 0).cast("long").as("cents"))
        .select(col("event_id"), col("user_id"),
          sum("cents").over(w).as("s"),
          count(lit(1)).over(w).as("n_24h"))
        .select(col("event_id"), col("user_id"),
          expr("(2 * s + n_24h) div (2 * n_24h)")
            .cast("double").divide(lit(10000.0)).as("avg_24h"),
          col("n_24h"))
    },

    // DECONTAMINATION AT INGEST — q85's benchmark gate applied to each
    // arriving micro-batch, the training-pipeline front door: the probe
    // fingerprint set is a PLAN-LITERAL Bloom filter plus a broadcast
    // exact-confirm side (both built once — the static side is
    // localCheckpointed, the q118/q143 rule), and every arriving
    // document is gated row-locally: fail the Bloom → kept without any
    // join; pass it → confirmed against the broadcast set (stream-static
    // left-anti). ZERO state store — unlike the semdedup gate (q143)
    // the verdict needs no cross-arrival memory, so state is flat at
    // zero at ANY rate (the decade probe gates maxRowsTotal == 0). The
    // drained sink is the per-arrival VERDICT log — every arrival
    // lands exactly once with its kept flag, so a source whose every
    // document is contaminated still reports n_kept = 0 (the oracle
    // emits that row; draining survivors only would erase it), and the
    // cleaned corpus is the kept=1 subset. Shares q85's oracle
    // VERBATIM: the verdict
    // is row-local given the probe set, so the kept corpus cannot
    // depend on how arrivals were batched.
    QueryDef("q159_stream_decontam", Seq("F3", "A10", "J11"),
      bloomDecontamSql) { (s0, d) =>
      val (arrivals, probe) = decontamFixture(s0, d)
      val probeFp = probe.select(fpOf(col("text")).as("fp")).distinct()
        .localCheckpoint(false)
      val might = graft.functions.BloomFns.mightContain(probeFp, "fp", col("fp"))
      val s = EventQueries.streamSession(s0)
      val sinkName = "graft_stream_decontam"
      val in = EventQueries.stageRangedDrain(arrivals, 2, "doc_id", "graft_sdc_")
      val gated = s.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .select(col("source"), fpOf(col("text")).as("fp"))
        .withColumn("__maybe", might)
      // every arrival drains exactly once, VERDICT attached — draining
      // only survivors would erase a source whose every document is
      // contaminated, while the oracle emits it with n_kept = 0. The
      // Bloom still does its job: rows failing it skip the confirm join
      // entirely (kept by construction); only the maybe-side pays the
      // broadcast left-outer probe.
      val marked = probeFp.withColumn("__hit", lit(1))
      val verdicts = gated.filter(!col("__maybe"))
        .select(col("source"), lit(1).as("kept"))
        .unionByName(gated.filter(col("__maybe"))
          .join(broadcast(marked), Seq("fp"), "left_outer")
          .select(col("source"),
            when(col("__hit").isNull, 1).otherwise(0).as("kept")))
      val sink = EventQueries.drainStaged(in, sinkName)(verdicts)
      sink.groupBy("source").agg(sum("kept").cast("long").as("n_kept"))
    },

    // INCREMENTAL SCD2 MAINTENANCE — q86 builds the versioned dim from
    // scratch; here the dim is an AT-REST TABLE kept current as new
    // change events arrive, without recomputing every user's interval
    // chain. The insight: a new change for user u can rewrite ONLY u's
    // chain (it closes u's open interval and may resequence u's
    // versions), so the refresh rebuilds exactly the users that
    // changed. Physically the dim AND its change log are PARTITIONED BY
    // USER BUCKET (user_id % 64): the refresh lists the delta's touched
    // buckets (≤ 64 — a bounded driver list), rebuilds intervals from a
    // PARTITION-PRUNED read of the log (only touched bucket dirs open —
    // the q157 pruning contract on the write-side problem), and lands
    // them as a DYNAMIC PARTITION OVERWRITE of exactly those buckets
    // (q161's repair shape applied to a dimension). Untouched buckets
    // are never read or rewritten — at 100 TB of dim history a day's
    // corrections cost O(touched users' history), not O(dim). The delta
    // is sparse by construction (event_id % 500 == 0, ~0.2% of
    // changes), so pruning is real: a handful of the 64 bucket dirs.
    // Oracle: q86's interval text VERBATIM — the maintained dim must
    // equal the from-scratch build, whatever was rebuilt when.
    QueryDef("q169_scd2_incremental_build", Seq("W3", "A5", "F1"),
      scd2IntervalsSql) { (s, d) =>
      val dimDir = graft.sources.ZOrder.ensureStagedDir(
        "graft_scd2_dim_maintained", d, s"$d/events.parquet") { target =>
        EventQueries.multiWriteStage(target) { stage =>
          // yesterday's dim: intervals over the history change log
          StateFs.readParquet(s, scd2BaseDimDir(s, d), bucketPart)
            .write.partitionBy("bucket").mode("append").parquet(stage)
          val (pruned, touched) = scd2TouchedRebuild(s, d)
          if (touched.nonEmpty) {
            val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
            s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try scd2Intervals(pruned).withColumn("bucket", bucketOf)
              .write.partitionBy("bucket").mode("overwrite").parquet(stage)
            finally prev match {
              case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
              case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
            }
          }
        }
      }
      StateFs.readParquet(s, dimDir, bucketPart)
        .select("user_id", "valid_from", "event_id", "valid_to", "is_current", "attr_value")
    },
  )

  /** The SCD2 interval oracle shared VERBATIM by q86 (from-scratch
    * build) and q169 (incrementally maintained dim): however the
    * versions were (re)built, the at-rest dim must equal the full
    * interval derivation. */
  private def scd2IntervalsSql =
    """WITH v AS (
         SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id, value
         FROM events WHERE event_type IN ('signup', 'purchase'))
       SELECT user_id, sec AS valid_from, event_id,
         lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS valid_to,
         (lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL) AS is_current,
         round(value, 4) AS attr_value
       FROM v"""

  /** The profile-change log: (user_id, sec, event_id, value). */
  private def scd2Changes(events: org.apache.spark.sql.DataFrame) = events
    .filter(col("event_type").isin("signup", "purchase"))
    .select(col("user_id"), nsToSec("ts").as("sec"), col("event_id"), col("value"))

  /** Changes → SCD2 versions: one shuffle on the entity key, lead()
    * within it — q86's build, shared by the incremental rebuild. */
  private def scd2Intervals(changes: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    changes.select(col("user_id"), col("sec").as("valid_from"), col("event_id"),
      lead("sec", 1).over(w).as("valid_to"),
      lead("sec", 1).over(w).isNull.as("is_current"),
      round(col("value"), 4).as("attr_value"))
  }

  private def bucketOf: Column = (col("user_id") % 64).cast("int")
  /** The `bucket` partition column as discovery types it on read. */
  private val bucketPart = StructField("bucket", IntegerType)

  /** The change log at rest, partitioned by user bucket — what makes
    * the q169 rebuild's read prunable. */
  private[graft] def scd2LogDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.sources.ZOrder.ensureStagedDir(
      "graft_scd2_log_b64", d, s"$d/events.parquet") { target =>
      scd2Changes(Tables.events(s, d)).withColumn("bucket", bucketOf)
        .write.partitionBy("bucket").mode("overwrite").parquet(target)
    }

  /** Yesterday's dim: intervals over HISTORY changes (event_id % 500
    * <> 0), partitioned by bucket. */
  private def scd2BaseDimDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.sources.ZOrder.ensureStagedDir(
      "graft_scd2_base_dim_b64", d, s"$d/events.parquet") { target =>
      scd2Intervals(scd2Changes(
          Tables.events(s, d).filter(col("event_id") % 500 =!= 0)))
        .withColumn("bucket", bucketOf)
        .write.partitionBy("bucket").mode("overwrite").parquet(target)
    }

  /** The q169 rebuild's inputs: the PARTITION-PRUNED log read (only
    * the delta's touched buckets) and the touched-bucket list —
    * exposed so PlanBudgetSpec can assert the pruning at file level. */
  private[graft] def scd2TouchedRebuild(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, Seq[Int]) = {
    val delta = scd2Changes(Tables.events(s, d))
      .filter(col("event_id") % 500 === 0)
    // bounded driver list: 64 buckets exist in total
    val touched = delta.select(bucketOf.as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val pruned = StateFs.readParquet(s, scd2LogDir(s, d), bucketPart)
      .filter(col("bucket").isin(touched: _*)).drop("bucket")
    (pruned, touched)
  }
}
