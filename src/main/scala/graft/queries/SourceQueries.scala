package graft.queries

import graft.QueryDef
import graft.operators.{Joins, SkewJoin, Unnest}
import graft.sources.{Bucketing, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}

/** Remaining §2 coverage: left-join enrichment, overlap-patch unions,
  * rollup/compare aggregations, CSV and partitioned-parquet round trips,
  * and the parity-mode ML prediction join. */
object SourceQueries {

  val defs: Seq[QueryDef] = Seq(

    // J5/J6 + F2: left enrichment joins (null-tolerant) with the
    // string-compare year filter idiom.
    QueryDef("q46_left_enrich", Seq("J5", "J6", "F2"),
      """SELECT o_orderkey, c_mktsegment, big_spender FROM (
           SELECT o.o_orderkey, c.c_mktsegment,
             CASE WHEN hs.o_custkey IS NOT NULL THEN true ELSE false END AS big_spender
           FROM orders o
           LEFT JOIN customer c ON o.o_custkey = c.c_custkey
           LEFT JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000) hs
             ON o.o_custkey = hs.o_custkey
           WHERE cast(year(o.o_orderdate) AS VARCHAR) >= '1997')""") { (s, d) =>
      val orders = Tables.orders(s, d)
        .filter(year(col("o_orderdate")).cast("string") >= "1997")
      val highSpenders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 200000)
        .select("o_custkey").distinct()
        .withColumn("big_spender", lit(true))
      // the RAW dim is a stats-driven catalog table (hint-free — q186's
      // discipline; shares q186's ANALYZE'd customer_seg table); the
      // high-spender side is a DERIVED frame with no catalog stats, so
      // its broadcast stays an explicit hint
      orders.select("o_orderkey", "o_custkey")
        .join(RelationalQueries.statsDim(s, d, "customer_seg", "customer",
            Tables.customer(s, d).select("c_custkey", "c_mktsegment"))
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
          Seq("o_custkey"), "left")
        .join(broadcast(highSpenders), Seq("o_custkey"), "left")
        .withColumn("big_spender", coalesce(col("big_spender"), lit(false)))
        .select("o_orderkey", "c_mktsegment", "big_spender")
    },

    // R5 + J11 + A4: overlap patching — augment a base set with
    // anti-joined derivations, then bool-or per group.
    QueryDef("q47_overlap_patch", Seq("R5", "J11", "A4", "SE2"),
      """WITH flagged AS (
           SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
         patched AS (
           SELECT c_custkey, true AS flag FROM flagged
           UNION ALL
           SELECT c_custkey, false AS flag FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.c_custkey = c.c_custkey)),
         joined AS (
           SELECT c_nationkey, flag FROM patched JOIN customer USING (c_custkey))
         SELECT c_nationkey, max(flag) AS any_flagged, count(*) AS n
         FROM joined GROUP BY c_nationkey""") { (s, d) =>
      val cust = Tables.customer(s, d)
      val flagged = cust.filter(col("c_acctbal") > 9000)
        .select("c_custkey").withColumn("flag", lit(true))
      val rest = Joins.antiJoinOn(cust.select("c_custkey"), flagged, Seq("c_custkey"))
        .withColumn("flag", lit(false))
      flagged.unionByName(rest)
        .join(cust.select("c_custkey", "c_nationkey"), Seq("c_custkey"))
        .groupBy("c_nationkey")
        // bool_or via max on booleans (A4: max(boolean_answer) == 1)
        .agg(max(col("flag")).as("any_flagged"), count(lit(1)).as("n"))
    },

    // A6-A9: two aggregations (all-source vs USA-style slice), full-outer
    // compare with per-location ratio — the fts_cva_USA_analysis shape
    // (code/11:44-89), plus the composite Σ/Σ ratio.
    QueryDef("q48_rollup_compare", Seq("A6", "A7", "A8", "A9", "J7"),
      """WITH allagg AS (
           SELECT n_name, round(sum(o_totalprice), 4) AS amount
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name),
         slice AS (
           SELECT n_name, round(sum(o_totalprice), 4) AS amount_f
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE o_orderstatus = 'F'
           GROUP BY n_name),
         ratio AS (
           SELECT sum(o_totalprice) / sum(o_totalprice * 0.5) AS composite FROM orders)
         SELECT a.n_name, a.amount, coalesce(s.amount_f, 0.0) AS amount_f,
           round(coalesce(s.amount_f, 0.0) / a.amount, 6) AS f_share,
           round((SELECT composite FROM ratio), 6) AS composite
         FROM allagg a FULL OUTER JOIN slice s ON a.n_name = s.n_name""") { (s, d) =>
      // stats-driven dims (hint-free): the SAME ANALYZE'd catalog tables
      // q160/q170's join view enriches through
      def base = Tables.orders(s, d)
        .join(RelationalQueries.statsDim(s, d, "customer", "customer",
            Tables.customer(s, d).select("c_custkey", "c_nationkey"))
            .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          Seq("o_custkey"))
        .join(RelationalQueries.statsDim(s, d, "nation", "nation",
            Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
      val allAgg = base.groupBy("n_name").agg(round(sum("o_totalprice"), 4).as("amount"))
      val slice = base.filter(col("o_orderstatus") === "F")
        .groupBy("n_name").agg(round(sum("o_totalprice"), 4).as("amount_f"))
      // composite rides along as a broadcast 1-row frame — no collect()
      val composite = Tables.orders(s, d)
        .agg(round(sum(col("o_totalprice")) / sum(col("o_totalprice") * 0.5), 6).as("composite"))
      allAgg.join(slice, Seq("n_name"), "outer")
        .withColumn("amount_f", coalesce(col("amount_f"), lit(0.0)))
        .withColumn("f_share", round(col("amount_f") / col("amount"), 6))
        .crossJoin(broadcast(composite))
    },

    // S5/S6: CSV sink + scan round trip with R-compatible options — the
    // curated-flows staging pattern; aggregation over the re-read copy.
    QueryDef("q49_csv_roundtrip", Seq("S5", "S6", "S7"),
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS qty
         FROM lineitem WHERE l_discount > 0.05 GROUP BY l_returnflag""") { (s, d) =>
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_csv_${d.replaceAll("[^a-z0-9.]", "_")}"
      val slice = Tables.lineitem(s, d)
        .filter(col("l_discount") > 0.05)
        .select("l_returnflag", "l_quantity")
      graft.sources.CsvSources.writeCsv(slice, tmp)
      graft.sources.CsvSources.readCsv(s, tmp,
        Some(org.apache.spark.sql.types.StructType.fromDDL(
          "l_returnflag STRING, l_quantity DOUBLE")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("qty"))
    },

    // S7: partitioned parquet staging + partition-pruned read-back (the
    // partitionBy("year") Spark shape of SURVEY §3.1).
    QueryDef("q50_partitioned_stage", Seq("S7", "F2"),
      """SELECT year(o_orderdate) AS o_year, count(*) AS n,
           round(sum(o_totalprice), 4) AS total
         FROM orders WHERE year(o_orderdate) >= 1999 GROUP BY o_year""") { (s, d) =>
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_stage_${d.replaceAll("[^a-z0-9.]", "_")}"
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
      StateFs.readParquet(s, tmp, StructField("o_year", IntegerType))
        .filter(col("o_year") >= 1999) // prunes partitions, not rows
        .groupBy("o_year")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
    },

    // S7: Z-ORDERED staging + 2-D box-filtered read-back. Partitioning
    // (q50) prunes ONE column and a single-column sort gives row-group
    // stats pruning on ONE column; the Morton-interleave sort makes
    // every file and row group cover a compact RECTANGLE in
    // (l_partkey, l_suppkey) space, so the same footer-stats pruning
    // skips on BOTH predicates — the multi-dim layout a 100 TB scan
    // wants for point-in-box workloads. The staged read must return
    // byte-identical rows to the raw table (the oracle filters
    // lineitem directly); the layout EFFECT — row groups intersecting
    // the box, z-ordered vs arrival order — is measured from real
    // parquet footers in ZOrderSpec.
    QueryDef("q123_zorder_scan", Seq("S7", "F6"),
      """SELECT count(*) AS n, round(sum(l_extendedprice), 4) AS amount,
           count(DISTINCT l_partkey) AS n_parts
         FROM lineitem
         WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 8""") { (s, d) =>
      // staging dir keyed on a source-content fingerprint (size+mtime),
      // so a regenerated lineitem.parquet re-stages instead of silently
      // serving the stale z-ordered copy
      val dir = graft.sources.ZOrder.ensureStaged(
        "graft_zorder", d, s"$d/lineitem.parquet", "l_partkey", "l_suppkey")(
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey", "l_extendedprice"))
      StateFs.readParquet(s, dir)
        .filter(col("l_partkey").between(50, 150) && col("l_suppkey").between(2, 8))
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 4).as("amount"),
          countDistinct("l_partkey").as("n_parts"))
    },

    // U4/S14: parity-mode ML-prediction join — a deterministic scored
    // table (md5-derived class + confidence) joined onto documents, then
    // the C2-style upgrade. Mirrors joining the committed
    // fts_to_inference_output.csv instead of invoking a model.
    QueryDef("q51_prediction_join", Seq("U4", "S14", "J6", "C2"),
      """WITH preds AS (
           SELECT doc_id,
             CASE WHEN ('0x' || substring(md5(text), 1, 2))::BIGINT % 3 = 0 THEN 'Full'
                  WHEN ('0x' || substring(md5(text), 1, 2))::BIGINT % 3 = 1 THEN 'Partial'
                  ELSE 'None' END AS predicted_class,
             round((('0x' || substring(md5(text), 3, 4))::BIGINT % 1000) / 1000.0, 3) AS predicted_confidence
           FROM documents)
         SELECT predicted_class, count(*) AS n,
           round(sum(CASE WHEN predicted_confidence >= 0.8 THEN 1.0 ELSE 0.0 END), 1) AS high_conf
         FROM documents JOIN preds USING (doc_id)
         GROUP BY predicted_class""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val classNum = conv(substring(md5(col("text")), 1, 2), 16, 10).cast("long") % 3
      val preds = docs.select(col("doc_id"),
        when(classNum === 0, "Full").when(classNum === 1, "Partial").otherwise("None")
          .as("predicted_class"),
        round((conv(substring(md5(col("text")), 3, 4), 16, 10).cast("long") % 1000) / 1000.0, 3)
          .as("predicted_confidence"))
      docs.select("doc_id")
        .join(preds, Seq("doc_id"))
        .groupBy("predicted_class")
        .agg(count(lit(1)).as("n"),
          round(sum(when(col("predicted_confidence") >= 0.8, 1.0).otherwise(0.0)), 1).as("high_conf"))
    },

    // The spark.sql(...) surface: identical SQL text runs on both engines
    // over registered temp views — proves the engine's SQL entry point,
    // not just the DataFrame API.
    QueryDef("q54_sql_surface", Seq("S6", "A5", "J7"),
      """SELECT n_name, o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name, o_orderstatus""") { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.nation(s, d).createOrReplaceTempView("nation")
      s.sql(
        """SELECT n_name, o_orderstatus, count(*) AS n_orders,
             round(sum(o_totalprice), 4) AS total
           FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name, o_orderstatus""")
    },

    // Bucketed co-located join (SCALING.md knob made executable): both
    // sides staged bucketBy(8, key) + sortBy, then joined — Spark plans a
    // SortMergeJoin with NO exchange on either side (BucketingSpec
    // asserts it). At 100 TB this removes the dominant shuffle from every
    // run that reuses the staging.
    QueryDef("q59_bucketed_join", Seq("S7", "J7"),
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 4) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""") { (s, d) =>
      val sfx = d.replaceAll("[^a-z0-9]", "_")
      val ot = s"orders_bkt$sfx"; val ct = s"customer_bkt$sfx"
      Bucketing.ensureStaged(
        Tables.orders(s, d).select("o_custkey", "o_totalprice"), ot, "o_custkey", 8)
      Bucketing.ensureStaged(
        Tables.customer(s, d).select("c_custkey", "c_mktsegment"), ct, "c_custkey", 8)
      Bucketing.readTable(s, ot)
        .join(Bucketing.readTable(s, ct), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
    },

    // Salted skew join parity: the manual skew guard (SkewJoin) must be
    // result-identical to the plain equi-join — the oracle IS the plain
    // join. Salt is hash-derived (not rand()) so retries and oracle
    // comparisons are deterministic.
    QueryDef("q60_salted_join", Seq("J3"),
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 4) AS qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""") { (s, d) =>
      val li = Tables.lineitem(s, d).select("l_partkey", "l_quantity")
      val pt = Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      SkewJoin.saltedJoin(li, pt, Seq("l_partkey"), 4)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("qty"))
    },

    // SQL surface for the CUSTOM expressions: the functions every graft
    // session injects through spark.sql.extensions=graft.GraftExtensions
    // drive the same native kernels the DataFrame API uses — here
    // simhash bucketing + the one-permutation minhash, entirely from SQL
    // text.
    QueryDef("q73_sql_functions", Seq("A10", "S6"),
      """WITH tok AS (
           SELECT doc_id, ('0x' || substring(md5(unnest(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))), 1, 8))::BIGINT AS h
           FROM documents),
         bits AS (
           SELECT doc_id, b.b, sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
           GROUP BY doc_id, b.b),
         sig AS (
           SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id),
         mh AS (
           SELECT doc_id, list_min([md5(substring(text, g, 8))
             FOR g IN generate_series(1, greatest(length(text) - 7, 1))]) AS minhash
           FROM documents)
         SELECT simhash % 64 AS bucket, count(*) AS n, min(minhash) AS min_minhash
         FROM sig JOIN mh USING (doc_id) GROUP BY bucket""") { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("documents_graft")
      s.sql(
        """SELECT bucket, count(*) AS n, min(mh) AS min_minhash
           FROM (SELECT simhash_md5(text, 32) % 64 AS bucket,
                        min_gram_md5(text, 8) AS mh
                 FROM documents_graft)
           GROUP BY bucket""")
    },

    // S2+S3+A1: the reference's hairiest source operator end-to-end over
    // a REAL array<struct> column — lineitems rolled up into per-order
    // nested object arrays (the sourceObjects/destinationObjects shape,
    // code/01_fts_get_flows.R:50-72), then unnest-group-same'd back out
    // to `{arrayCol}_{Type}.{field}` wide columns with ordered "; "
    // concat, then the all-NA column drop ('X' never occurs, so its two
    // grid columns must vanish — the oracle simply doesn't emit them).
    QueryDef("q95_unnest_nested", Seq("S2", "S3", "A1"),
      """WITH fx AS (
           SELECT l_orderkey AS id, l_returnflag AS type, l_linestatus AS name,
                  CAST(l_partkey AS VARCHAR) AS ref,
                  l_linenumber, l_partkey, l_suppkey
           FROM lineitem)
         SELECT id,
           string_agg(name, '; ' ORDER BY l_linenumber, l_partkey, l_suppkey) FILTER (type = 'A') AS "objs_A.name",
           string_agg(ref,  '; ' ORDER BY l_linenumber, l_partkey, l_suppkey) FILTER (type = 'A') AS "objs_A.ref",
           string_agg(name, '; ' ORDER BY l_linenumber, l_partkey, l_suppkey) FILTER (type = 'N') AS "objs_N.name",
           string_agg(ref,  '; ' ORDER BY l_linenumber, l_partkey, l_suppkey) FILTER (type = 'N') AS "objs_N.ref",
           string_agg(name, '; ' ORDER BY l_linenumber, l_partkey, l_suppkey) FILTER (type = 'R') AS "objs_R.name",
           string_agg(ref,  '; ' ORDER BY l_linenumber, l_partkey, l_suppkey) FILTER (type = 'R') AS "objs_R.ref"
         FROM fx GROUP BY id""") { (s, d) =>
      // Array order = (l_linenumber, l_partkey, l_suppkey): l_linenumber
      // alone is NOT unique per order in the bench data (verify-skill
      // gotcha), so the full tiebreak keeps the concat deterministic.
      // Leading (k1,k2,k3) fields make array_sort order = the oracle's
      // ORDER BY; they simply ride along un-read afterwards — cheaper
      // than a second transform() pass re-packing 600k structs just to
      // drop them.
      val nested = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("id"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").as("k1"), col("l_partkey").as("k2"),
          col("l_suppkey").as("k3"), col("l_returnflag").as("type"),
          col("l_linestatus").as("name"), col("l_partkey").cast("string").as("ref"))))
          .as("objs"))
      // Array-native group-same: the nested objects are already one
      // array<struct> per row, so the unnest is a pure projection — no
      // explode/pivot/self-join (which needed a localCheckpoint pin and
      // re-shuffled row-local data; 79→~2 s at sf0.1).
      // The all-NA drop ('X' never occurs → its grid columns vanish) is
      // the type-presence probe, NOT the generic count-over-built-grid
      // pass: the generic form re-executed the whole collect_list
      // aggregate eagerly at plan-build time, doubling every timed run.
      val keepTypes = Unnest.presentTypes(
        Tables.lineitem(s, d).select(col("l_returnflag").as("type")),
        "type", Seq("A", "N", "R", "X"))
      Unnest.unnestGroupSameArray(nested, "objs", "type",
        Seq("name", "ref"), keepTypes)
    },
  )
}
