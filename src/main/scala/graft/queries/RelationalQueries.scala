package graft.queries

import graft.QueryDef
import graft.operators.{Dedup, Joins, Reshape, SplitRows}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Core relational operator coverage (SURVEY.md §2.1-2.4, §2.8): scans with
  * pushdown, filters, joins (broadcast chain, fallback-coalesce, anti,
  * scaffold), dedup windows, row expansion, unions.
  *
  * Each entry is a Spark query over the driver's parquet tables plus a
  * DuckDB oracle. Doubles that pass through order-sensitive accumulation
  * (sums/avgs of floats) are rounded on BOTH sides so partial-aggregation
  * order cannot flip the hash compare.
  */
object RelationalQueries {
  val defs: Seq[QueryDef] = Seq(

    // S6/F6 + A5: pricing summary — filter + group agg; predicate and the
    // 5-column projection both reach the parquet scan.
    QueryDef("q01_pricing_summary", Seq("S6", "F6", "A5"),
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus""") { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    // F1/F8: != filter (three-valued semantics match data.table's NA drop).
    QueryDef("q02_filter_pushdown", Seq("F1", "F8"),
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderstatus <> 'O' AND o_totalprice > 100000""") { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderstatus") =!= "O" && col("o_totalprice") > 100000)
        .select("o_orderkey", "o_totalprice")
    },

    // F3: membership predicate.
    QueryDef("q03_isin_membership", Seq("F3"),
      """SELECT c_mktsegment, count(*) AS n_cust,
         round(sum(c_acctbal), 4) AS total_bal FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
         GROUP BY c_mktsegment""") { (s, d) =>
      Tables.customer(s, d)
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 4).as("total_bal"))
    },

    // F4/SE1: anti join — customers with no large order.
    QueryDef("q04_anti_join", Seq("F4", "SE1"),
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)""") { (s, d) =>
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter(col("o_totalprice") > 250000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    // F5: regex predicate (unanchored contains, same in Java regex & RE2).
    QueryDef("q05_regex_filter", Seq("F5"),
      """SELECT lang, count(*) AS n_docs FROM documents
         WHERE regexp_matches(text, 'stream [a-z]+ vector') GROUP BY lang""") { (s, d) =>
      Tables.documents(s, d)
        .filter(col("text").rlike("stream [a-z]+ vector"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    },

    // A1/S2: ordered group-concat — the unnest "group-same" core: elements
    // joined "; " in a deterministic (line-number) order.
    QueryDef("q06_group_concat", Seq("A1", "S2"),
      """SELECT l_orderkey,
         string_agg(l_returnflag, '; ' ORDER BY l_linenumber, l_partkey, l_suppkey) AS flags,
         count(*) AS n_lines FROM lineitem GROUP BY l_orderkey""") { (s, d) =>
      // (orderkey, linenumber, partkey, suppkey) is the unique key of this
      // table — the sort struct carries the full tiebreak so the concat
      // order is total (SURVEY §4.3.1: R relies on file order; we don't).
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(
          concat_ws("; ",
            transform(
              array_sort(collect_list(struct(
                col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_returnflag")))),
              x => x.getField("l_returnflag"))).as("flags"),
          count(lit(1)).as("n_lines"))
    },

    // A2/W7: first row per group with explicit deterministic order —
    // via the partial-aggregatable min(struct) form (one candidate row
    // per group per map task crosses the exchange; no sort).
    QueryDef("q07_first_per_group", Seq("A2", "W7"),
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
         QUALIFY row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey) = 1""") { (s, d) =>
      Dedup.firstRowPerGroupAgg(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        Seq("l_orderkey"), Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .drop("l_suppkey")
    },

    // J13: prioritized dedup — prefer 'R' rows per order (the
    // incoming-over-internal shared-boundary idiom); descending
    // preference encoded ascending for the agg-min form.
    QueryDef("q08_prioritized_dedup", Seq("J13"),
      """SELECT l_orderkey, l_returnflag, l_linenumber FROM lineitem
         QUALIFY row_number() OVER (PARTITION BY l_orderkey
           ORDER BY (CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) DESC,
             l_linenumber, l_partkey, l_suppkey) = 1""") { (s, d) =>
      Dedup.firstRowPerGroupAgg(
        Tables.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_linenumber", "l_partkey", "l_suppkey"),
        Seq("l_orderkey"),
        Seq(lit(1) - (col("l_returnflag") === "R").cast("int"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .drop("l_partkey", "l_suppkey")
    },

    // R1: split rows with even value division (Σ p_retailprice preserved).
    QueryDef("q09_split_rows", Seq("R1", "U6"),
      """SELECT p_partkey, trim(unnest(string_split(p_type, ' '))) AS p_type,
         round(p_retailprice / len(string_split(p_type, ' ')), 6) AS p_retailprice
         FROM part""") { (s, d) =>
      SplitRows.splitRows(
        Tables.part(s, d).select("p_partkey", "p_type", "p_retailprice"),
        "p_type", Seq("p_retailprice"), " ")
        .withColumn("p_retailprice", round(col("p_retailprice"), 6))
    },

    // R4/SE2: union by name with missing-column fill.
    QueryDef("q10_union_by_name", Seq("R4", "SE2"),
      """SELECT 'customer' AS entity, c_custkey AS key, c_name AS name,
                c_acctbal AS acctbal, c_mktsegment AS mktsegment FROM customer
         UNION ALL
         SELECT 'supplier', s_suppkey, s_name, s_acctbal, NULL FROM supplier""") { (s, d) =>
      val c = Tables.customer(s, d).select(
        lit("customer").as("entity"), col("c_custkey").as("key"),
        col("c_name").as("name"), col("c_acctbal").as("acctbal"),
        col("c_mktsegment").as("mktsegment"))
      val p = Tables.supplier(s, d).select(
        lit("supplier").as("entity"), col("s_suppkey").as("key"),
        col("s_name").as("name"), col("s_acctbal").as("acctbal"))
      Reshape.unionByNameFill(Seq(c, p))
    },

    // J1/J2/J7: broadcast lookup chain — fact table never shuffles; the
    // three dims are broadcast. Revenue by region. HINT-FREE since
    // round 16: the dims are ANALYZE'd [[statsDim]] catalog tables and
    // the planner elects each broadcast from CatalogStatistics — the
    // same code flips to a shuffle join the day a dim outgrows the
    // threshold, which a hint would override forever (q186's rationale
    // applied to the highest-traffic enrichment chain).
    QueryDef("q11_broadcast_chain", Seq("J1", "J2", "J7"),
      """SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
         count(*) AS n_lines
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""") { (s, d) =>
      Tables.lineitem(s, d).select("l_suppkey", "l_extendedprice", "l_discount")
        .join(statsDim(s, d, "supplier_nk", "supplier",
            Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(statsDim(s, d, "nation_rk", "nation",
            Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(statsDim(s, d, "region", "region", Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // J3/J4: composite-key join with fallback patch (the deflator DAC
    // idiom): per-nation benchmark from high-balance customers, patched
    // with the global benchmark where a nation has none.
    QueryDef("q12_fallback_join", Seq("J3", "J4"),
      """WITH bench AS (
           SELECT c_nationkey AS s_nationkey, round(avg(c_acctbal), 6) AS benchmark
           FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
         global AS (SELECT round(avg(c_acctbal), 6) AS g FROM customer WHERE c_acctbal > 9000)
         SELECT s_suppkey, s_nationkey,
           coalesce(b.benchmark, (SELECT g FROM global)) AS benchmark
         FROM supplier s LEFT JOIN bench b USING (s_nationkey)""") { (s, d) =>
      val cust = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
      val bench = cust.groupBy(col("c_nationkey").as("s_nationkey"))
        .agg(round(avg("c_acctbal"), 6).as("benchmark"))
      val global = cust.agg(round(avg("c_acctbal"), 6).as("benchmark"))
        .withColumn("__one", lit(1))
      Joins.joinWithFallback(
        Tables.supplier(s, d).select("s_suppkey", "s_nationkey").withColumn("__one", lit(1)),
        bench, Seq("s_nationkey"),
        global, Seq("__one"), "benchmark")
        .drop("__one")
    },

    // J12: scaffold cross product + zero-fill (expand.grid idiom).
    QueryDef("q13_scaffold_grid", Seq("J12"),
      """WITH counts AS (
           SELECT c_nationkey, o_orderstatus, count(*) AS n_orders
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_nationkey, o_orderstatus)
         SELECT n_name, st.o_orderstatus, coalesce(n_orders, 0) AS n_orders
         FROM nation CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
         LEFT JOIN counts ON c_nationkey = n_nationkey AND counts.o_orderstatus = st.o_orderstatus""") { (s, d) =>
      // hint-free since round 17: the raw customer dim goes through the
      // ANALYZE'd statsDim catalog table (q11/q46/q48's discipline) and
      // the planner elects the broadcast from CatalogStatistics
      val counts = Tables.orders(s, d).select("o_custkey", "o_orderstatus")
        .join(statsDim(s, d, "customer", "customer",
            Tables.customer(s, d).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"))
        .withColumnRenamed("c_nationkey", "n_nationkey")
      val grid = Tables.nation(s, d).select("n_nationkey", "n_name")
        .crossJoin(Tables.orders(s, d).select("o_orderstatus").distinct())
      grid.join(counts, Seq("n_nationkey", "o_orderstatus"), "left")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .select("n_name", "o_orderstatus", "n_orders")
    },

    // A7 extension: hierarchical ROLLUP — subtotal + grand-total rows in
    // one aggregation pass (Spark expands grouping sets in a single
    // shuffle; no self-union). Null grouping keys are sentinel-labelled
    // identically on both engines.
    QueryDef("q64_rollup_totals", Seq("A7"),
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           count(*) AS n, round(sum(o_totalprice), 4) AS total
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""") { (s, d) =>
      Tables.orders(s, d).select("o_orderstatus", "o_orderpriority", "o_totalprice")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"))
    },

    // SE3: intersect — the one set operation the reference never reaches
    // for (SURVEY §2.8), included so the §2 table is covered wall to
    // wall: nations present in BOTH the building-segment slice and the
    // high-balance slice. Spark plans INTERSECT as an aggregate +
    // left-semi join — distinct-then-join, never a cross product.
    QueryDef("q105_intersect", Seq("SE3"),
      """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT c_nationkey FROM customer WHERE c_acctbal > 8000""") { (s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_nationkey")
        .intersect(
          Tables.customer(s, d).filter(col("c_acctbal") > 8000).select("c_nationkey"))
    },

    // INCREMENTAL MAINTENANCE OF A JOIN-BEARING VIEW — q156's refresh
    // where the fact delta must be ENRICHED before it folds: the
    // (nation, year) revenue rollup joins orders through customer to
    // nation, and the refresh pays those joins ONLY for the delta —
    // both dims broadcast (they are dimensions; the fact side never
    // shuffles pre-agg), history stays folded in the materialized
    // partials and is never re-joined. This is sound exactly because
    // the dims are STATIC between refreshes; a dim that itself changes
    // is the SCD2 problem (q86's interval build is the at-rest shape
    // that keeps old facts joinable to the dim version they saw).
    // Partials via the shared IncrementalView reduce (n + raw sum,
    // derived/rounded at serve time); oracle = the full three-table
    // recompute, the view-maintenance contract.
    QueryDef("q160_join_incremental_refresh", Seq("A5", "J1", "R4"),
      """SELECT n_name, year(o_orderdate) AS o_year, count(*) AS n,
           round(sum(o_totalprice), 4) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name, o_year""") { (s, d) =>
      val deltaDir = graft.sources.ZOrder.ensureStagedDir(
        "graft_incr_join_delta", d, s"$d/orders.parquet") { target =>
        Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0)
          .write.mode("overwrite").parquet(target)
      }
      graft.operators.IncrementalView.mergePartials(Seq("n_name", "o_year"),
          StateFs.readParquet(s, incrJoinBaseDir(s, d)),
          joinViewPartial(s, d, StateFs.readParquet(s, deltaDir)))
        .select(col("n_name"), col("o_year"), col("n"),
          round(col("sum_value"), 4).as("total_price"))
    },

    // RETRACTIONS ON THE JOIN-BEARING VIEW — q160 composed with q163:
    // the fact delta is a CDC changelog (orders inserted, revised,
    // cancelled), and each op must be ENRICHED through the dims before
    // it folds, because the view's keys (n_name, o_year) live on the
    // dim side. The refresh broadcast-joins ONLY the delta (dims are
    // dimensions; history stays folded in the materialized partials),
    // then turns the enriched ops into signed partials — an order
    // cancellation is a negative merge under the nation-year it was
    // counted under, a price revision folds as new−old with zero count
    // change — and the one mergePartials reduce absorbs them.
    // Deterministic CDC script the oracle replays: I = o_orderkey%10==0
    // (absent from the base state), U = %10==7 (o_totalprice doubles —
    // exact in FP), D = %10==3. Oracle = the full three-table recompute
    // over the post-CDC state. The base partials are q160's staged dir
    // VERBATIM: one standing join view, append (q160) and CDC (here)
    // delta shapes.
    QueryDef("q170_cdc_join_refresh", Seq("A5", "J1", "R4", "F4"),
      """SELECT n_name, year(o_orderdate) AS o_year, count(*) AS n,
           round(sum(CASE WHEN o_orderkey % 10 = 7
                     THEN o_totalprice * 2 ELSE o_totalprice END), 4) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderkey % 10 <> 3
         GROUP BY n_name, o_year""") { (s, d) =>
      // the CDC landing file: op + the fact keys the enrichment needs
      val deltaDir = graft.sources.ZOrder.ensureStagedDir(
        "graft_cdc_orders_delta", d, s"$d/orders.parquet") { target =>
        val o = Tables.orders(s, d)
        val ins = o.filter(col("o_orderkey") % 10 === 0)
          .select(lit("I").as("op"), col("o_custkey"), col("o_orderdate"),
            lit(null).cast("double").as("value_old"),
            col("o_totalprice").as("value_new"))
        val upd = o.filter(col("o_orderkey") % 10 === 7)
          .select(lit("U").as("op"), col("o_custkey"), col("o_orderdate"),
            col("o_totalprice").as("value_old"),
            (col("o_totalprice") * 2).as("value_new"))
        val del = o.filter(col("o_orderkey") % 10 === 3)
          .select(lit("D").as("op"), col("o_custkey"), col("o_orderdate"),
            col("o_totalprice").as("value_old"),
            lit(null).cast("double").as("value_new"))
        ins.unionByName(upd).unionByName(del)
          .write.mode("overwrite").parquet(target)
      }
      // enrichment first (dims joined to delta rows only), THEN the
      // signed fold on the enriched keys. Hint-free since round 17: the
      // dims are the SAME statsDim catalog tables joinViewPartial
      // (q160) registers, so the planner's broadcast decision comes
      // from their ANALYZE'd statistics and the two refresh paths can
      // never plan against different dim snapshots.
      val enriched = StateFs.readParquet(s, deltaDir)
        .join(statsDim(s, d, "customer", "customer",
            Tables.customer(s, d).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(statsDim(s, d, "nation", "nation",
            Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), year(col("o_orderdate")).as("o_year"),
          col("op"), col("value_old"), col("value_new"))
      val signed = graft.operators.IncrementalView.signedPartials(
        Seq("n_name", "o_year"), enriched)
      graft.operators.IncrementalView.dropEmptied(
          graft.operators.IncrementalView.mergePartials(Seq("n_name", "o_year"),
            StateFs.readParquet(s, incrJoinBaseDir(s, d)), signed))
        .select(col("n_name"), col("o_year"), col("n"),
          round(col("sum_value"), 4).as("total_price"))
    },

    // STATS-DRIVEN BROADCAST — the join-sizing decision made by the
    // PLANNER from written statistics, with no broadcast() hint in
    // sight: the dimension is a catalog table carrying ANALYZE'd
    // CatalogStatistics (sizeInBytes + rowCount + per-column min/max),
    // the fact side joins a FILTERED projection of it, and the
    // BroadcastHashJoin in the plan is the optimizer's own choice
    // (PlanBudgetSpec asserts it hint-free, and that the row-count
    // estimate really flows from the catalog, not the file listing).
    // Why it matters at 100 TB: a hint is an unconditional override
    // that melts the cluster the day the dim outgrows memory; statistics
    // flip the same plan to a shuffle join when the numbers say so, and
    // under CBO a selective filter on an ANALYZE'd column re-sizes the
    // build side from column min/max instead of carrying the whole
    // relation's bytes through the estimate.
    QueryDef("q186_stats_broadcast_join", Seq("J5", "A5"),
      """SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_custkey < 150
         GROUP BY c_mktsegment""") { (s, d) =>
      val dim = statsDim(s, d, "customer_seg", "customer",
          Tables.customer(s, d).select("c_custkey", "c_mktsegment"))
        .filter(col("c_custkey") < 150)
      Tables.orders(s, d).select("o_custkey", "o_totalprice")
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 4).as("revenue"))
    },
  )

  /** The (nation, year) revenue partial over a frame of order rows —
    * ONE definition for the join-bearing view's enrichment + reduce, so
    * q160 (append delta) and q170 (CDC delta, via the same dims) can
    * never disagree on the view they maintain.
    *
    * HINT-FREE since round 15: the dims are [[statsDim]] catalog tables
    * with computed statistics, and the planner picks the broadcast side
    * from CatalogStatistics itself (PlanBudgetSpec asserts the
    * BroadcastHashJoins survive with the hints gone). A `broadcast()`
    * hint is an unconditional override; stats are what let the SAME
    * code flip to a shuffle join when a dimension outgrows the
    * threshold on a real cluster. */
  private def joinViewPartial(s: org.apache.spark.sql.SparkSession,
      d: String, orders: org.apache.spark.sql.DataFrame) = orders
    .join(statsDim(s, d, "customer", "customer",
        Tables.customer(s, d).select("c_custkey", "c_nationkey")),
      col("o_custkey") === col("c_custkey"))
    .join(statsDim(s, d, "nation", "nation",
        Tables.nation(s, d).select("n_nationkey", "n_name")),
      col("c_nationkey") === col("n_nationkey"))
    .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
    .agg(count(lit(1)).as("n"), sum("o_totalprice").as("sum_value"))

  /** The catalog name [[statsDim]] registers for (`d`, `name`,
    * backing parquet `src`). The suffix carries BOTH the sanitized dir
    * (readable) and the source CONTENT fingerprint (correct):
    * sanitization alone can collide (it drops uppercase), and a
    * regenerated fixture at the same path must miss the cache — the
    * staged-dir lesson applied to catalog tables. */
  private[graft] def statsDimName(d: String, name: String, src: String): String =
    s"graft_dim_${name}_${d.toLowerCase.replaceAll("[^a-z0-9]", "_")}" +
      s"_${graft.sources.ZOrder.fingerprint(s"$d/$src.parquet")}"

  /** Stage a dimension as a CATALOG TABLE with computed statistics and
    * return it — the stats-driven alternative to a broadcast() hint.
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS` writes
    * CatalogStatistics (sizeInBytes + rowCount + column stats); the
    * planner reads them for the auto-broadcast decision, and with CBO
    * enabled FilterEstimation can size a FILTERED dim from column
    * min/max instead of carrying the whole relation's bytes through.
    * Idempotent per session (the in-memory catalog is per-JVM; the
    * parquet payload under the warehouse dir is rewritten at first
    * touch). */
  private[graft] def statsDim(s: org.apache.spark.sql.SparkSession, d: String,
      name: String, src: String,
      df: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tbl = statsDimName(d, name, src)
    if (!s.catalog.tableExists(tbl)) {
      // a previous JVM's managed-table dir is an ORPHAN to this
      // session's in-memory catalog — Spark refuses to adopt the
      // location (LOCATION_ALREADY_EXISTS), so clear it first. The
      // delete is GUARDED: it only fires when every file in the tree is
      // a recognizable parquet-table artifact, so a shared warehouse
      // path that happens to hold FOREIGN (non-parquet) content fails
      // loudly instead of being silently clobbered. A concurrent Spark
      // writer's half-staged tree still matches the pattern — the
      // guard is not a lock; concurrent JVMs sharing one warehouse
      // remain each other's hazard (single-JVM sessions here).
      val wh = s.conf.get("spark.sql.warehouse.dir")
      val whDir =
        if (wh.startsWith("file:")) new java.io.File(java.net.URI.create(wh))
        else new java.io.File(wh)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      def parquetArtifactsOnly(f: java.io.File): Boolean =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.forall(parquetArtifactsOnly)
        else {
          val n = f.getName
          n == "_SUCCESS" || n.endsWith(".parquet") || n.endsWith(".crc") ||
            n.startsWith("_started_") || n.startsWith("_committed_") ||
            n.startsWith(".")
        }
      val orphan = new java.io.File(whDir, tbl)
      require(!orphan.exists() || parquetArtifactsOnly(orphan),
        s"statsDim: refusing to clear $orphan — it holds non-parquet " +
          "artifacts, so it is not a graft-created managed table")
      rm(orphan)
      df.write.mode("overwrite").saveAsTable(tbl)
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    s.table(tbl)
  }

  /** The join view's materialized base state (history partials over
    * o_orderkey % 10 <> 0), shared by q160 and q170 — one staged dir,
    * one builder, so an edit cannot reach one consumer and miss the
    * other (they cache under the same fingerprint key). */
  private def incrJoinBaseDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.sources.ZOrder.ensureStagedDir(
      "graft_incr_join_base", d, s"$d/orders.parquet") { target =>
      joinViewPartial(s, d,
          Tables.orders(s, d).filter(col("o_orderkey") % 10 =!= 0))
        .write.mode("overwrite").parquet(target)
    }
}
