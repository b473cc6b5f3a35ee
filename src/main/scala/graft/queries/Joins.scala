package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.Tables

/** Part B joins (SURVEY.md §2 B1-B4) over the driver's star schema.
  *
  * The reference itself has no joins (SURVEY.md §2 coverage note); these are
  * the north-star general-analytics surface. Scale design:
  *  - dimension sides (`region`, `nation`, filtered `lineitem` keys) are
  *    explicitly `broadcast()` — at 100 TB the fact side never shuffles for a
  *    dim lookup;
  *  - the fact⋈fact join (`orders ⋈ customer`) is a plain equi-join left to
  *    Catalyst/AQE: sort-merge or shuffled-hash on the join key, which is the
  *    right plan when both sides are large;
  *  - semi/anti joins ship only the key column of the filtered side.
  */
object Joins extends QueryModule {

  def queries: Map[String, Q] = Map(
    // DYNAMIC PARTITION PRUNING: the fact table is laid out partitioned by
    // day; the join's dim side carries the selective filter (week = 2), so
    // the days to scan are only known at RUN time — Catalyst injects a
    // dynamic-pruning subquery into the fact scan (reusing the dim's
    // broadcast), and the scan opens ONLY the 7 matching day partitions.
    // At 100 TB this is the difference between scanning the whole fact
    // table and scanning one week; PlanSpec pins the pruning expression.
    // The partitioned layout is a FIXTURE, staged once per fixture key
    // (graft.sources.Fixtures) like every other staged base (r16 — the
    // q_join_bucketed rule): the declared operator is the pruned read,
    // not the layout write, and re-writing 31 day directories per
    // invocation charged the query a table build no production DPP scan
    // pays. Staging clusters by day (one shuffle, one file per day
    // directory) so the pruned scan opens exactly 7 files.
    "q_join_dpp" -> ((s, d) => {
      import org.apache.spark.sql.types.IntegerType
      val dayDir = graft.sources.Fixtures.scratch("dpp", d, "events") { tmp =>
        Tables(s, d, "events")
          .withColumn("day_no", dayofmonth(col("ts")))
          .repartition(col("day_no"))
          .write.mode("overwrite").partitionBy("day_no")
          .parquet(s"$tmp/events_day")
      } + "/events_day"
      val fact = s.read.parquet(dayDir)
      val dim = s.range(1, 32).select(
        col("id").cast(IntegerType).as("day_no"),
        expr("CAST((id - 1) div 7 AS INT) + 1").as("week_no"))
      fact.join(dim, Seq("day_no"))
        .filter(col("week_no") === 2)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // POINT-IN-TIME join with validity EXPIRY (feature-store semantics):
    // each user's signup/purchase events are "profile updates" valid for 7
    // days; every click is enriched with the profile value in force at
    // click time — or NULL if the last update has expired. Differs from the
    // as-of join (q_join_asof): carried state can LAPSE, so correctness
    // requires the validity check, not just carry-forward. Plan: tagged
    // union + one ignore-nulls window carry over a single user_id exchange
    // — never a fact×updates interval join (quadratic per hot user).
    "q_join_pit" -> ((s, d) => {
      val ValidUs = 7L * 86400L * 1000000L
      val e = Tables(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isUpd = col("event_type").isin("signup", "purchase")
      e.withColumn("upd_ts",
          last(when(isUpd, col("ts_us")), ignoreNulls = true).over(w))
        .withColumn("upd_val",
          last(when(isUpd, col("value")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          when(col("ts_us") - col("upd_ts") <= ValidUs, col("upd_val"))
            .as("profile_value"),
          (col("upd_ts").isNotNull && col("ts_us") - col("upd_ts") <= ValidUs)
            .as("profile_fresh"))
        .orderBy("event_id")
    }),

    // B1 — broadcast hash join chain: fact(customer) ⋈ B(nation) ⋈ B(region).
    // Both dims are tiny at any scale (25 / 5 rows) → BroadcastHashJoinExec,
    // zero shuffle on the fact side before the aggregation.
    "q_join_broadcast" -> ((s, d) => {
      val customer = Tables(s, d, "customer")
      val nation = Tables(s, d, "nation")
      val region = Tables(s, d, "region")
      customer
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), Det.dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy("r_name", "n_name")
    }),

    // Fuzzy entity resolution — the record-linkage join every ingest
    // pipeline needs when observed strings are dirty: deterministic typo'd
    // observations (single-char deletion at position ≥ 3, synthesized from
    // p_partkey so both engines see identical inputs) matched back to the
    // canonical name dictionary at levenshtein ≤ 2. Scale design: NEVER
    // all-pairs — candidates come from a 2-char-prefix BLOCK equi-join
    // (deletion position ≥ 3 keeps the block key stable; in production the
    // block key is whatever survives the noise model), and the canonical
    // dictionary (distinct names — always ≪ observations) is BROADCAST, so
    // the observation side stays map-side; the best-match window runs over
    // candidate pairs only. Residual edit distance is codegen'd built-in
    // `levenshtein` on both engines.
    "q_join_fuzzy" -> ((s, d) => {
      val parts = Tables(s, d, "part")
      val clean = parts.groupBy(col("p_name").as("canon_name"))
        .agg(min(col("p_partkey")).as("canon_key"))
      val len = length(col("p_name"))
      val pos = pmod(col("p_partkey"), (len - 3).cast("bigint")).cast("int") + 3
      val obs = parts.filter(pmod(col("p_partkey"), lit(7)) === 0)
        .select(col("p_partkey").as("obs_key"),
          concat(col("p_name").substr(lit(1), pos - 1),
            col("p_name").substr(pos + 1, len)).as("obs_name"))
      val cand = obs
        .join(broadcast(clean),
          substring(col("obs_name"), 1, 2) === substring(col("canon_name"), 1, 2))
        .withColumn("dist", levenshtein(col("obs_name"), col("canon_name")))
        .filter(col("dist") <= 2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("obs_key").orderBy(col("dist"), col("canon_name"))
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("obs_key"), col("obs_name"),
          col("canon_name").as("match_name"), col("canon_key").as("match_key"),
          col("dist").cast("bigint").as("dist"))
        .orderBy("obs_key")
    }),

    // B2 — shuffle equi-join of two fact-sized tables on o_custkey=c_custkey;
    // Catalyst picks SortMergeJoin/ShuffledHashJoin (AQE may switch at
    // runtime). Aggregation after the join is partial+final hash agg.
    "q_join_shuffle" -> ((s, d) => {
      val orders = Tables(s, d, "orders")
      val customer = Tables(s, d, "customer")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("c_mktsegment", "o_year")
    }),

    // B3 — left-semi + left-anti on the same predicate, tagged and unioned:
    // orders that do / don't have a returned ('R') lineitem. Each order lands
    // in exactly one branch → o_orderkey is unique in the result.
    "q_join_semi_anti" -> ((s, d) => {
      val orders = Tables(s, d, "orders")
      val returned = Tables(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      val semi = orders.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), lit("has_return").as("tag"))
      val anti = orders.join(returned, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), lit("no_return").as("tag"))
      semi.union(anti).orderBy("o_orderkey")
    }),

    // B4 — left outer join with visible null-extension: customers against
    // their 2001 orders; customers without one keep a NULL order side. The
    // sort key coalesces the nullable column so Spark (NULLS FIRST) and
    // DuckDB (NULLS LAST) order identically.
    "q_join_outer" -> ((s, d) => {
      val customer = Tables(s, d, "customer")
      val orders2001 = Tables(s, d, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01 00:00:00").cast(TimestampType))
      customer
        .join(orders2001, col("c_custkey") === col("o_custkey"), "left_outer")
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .orderBy(col("c_custkey"), coalesce(col("o_orderkey"), lit(-1L)))
    }),

    // B4b — FULL outer join with unmatched rows on BOTH sides: high-balance
    // customers against per-customer urgent-order spend. High-balance
    // customers with no urgent orders null-extend right; urgent buyers at or
    // below the balance bar null-extend left. The join key is unique on each
    // side, so the coalesced key is a total order. At scale this is one
    // shuffle per side on the key (the aggregate reuses the join
    // partitioning) — same cost as the inner form, no special-casing.
    "q_join_full" -> ((s, d) => {
      val rich = Tables(s, d, "customer")
        .filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val urgent = Tables(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_custkey")
        .agg(Det.dsum(col("o_totalprice")).as("urgent_spend"),
          count(lit(1)).as("n_urgent"))
      rich.join(urgent, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_name"), col("c_acctbal"), col("urgent_spend"), col("n_urgent"),
          (col("c_custkey").isNotNull && col("o_custkey").isNotNull).as("matched"))
        .orderBy("custkey")
    }),

    // Composite star-schema analytics (the TPC-H Q5 shape): fact ⋈ fact ⋈
    // dim chain with mixed join strategies — lineitem⋈orders⋈customer
    // shuffle on their keys, nation/region broadcast — then a two-level
    // rollup. The query Catalyst's join planning exists for; one statement
    // exercises reorder, broadcast thresholds and partial aggregation
    // together.
    "q_star_revenue" -> ((s, d) => {
      val lineitem = Tables(s, d, "lineitem")
      val orders = Tables(s, d, "orders")
      val customer = Tables(s, d, "customer")
      val nation = Tables(s, d, "nation")
      val region = Tables(s, d, "region")
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
        .agg(
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy("r_name", "o_year")
    }),

    // Salted skew join — the manual remedy when one join key dominates and
    // a single reducer would absorb the whole hot key: the fact side gets a
    // uniform salt from a NON-join column, the (small or moderate) build
    // side is replicated once per salt value, and the join key becomes
    // (key, salt) — the hot key's rows spread across R reducers. Lossless:
    // every fact row still meets exactly one copy of its dim row, certified
    // by the plain-join oracle. (AQE's skewedJoin handles this adaptively
    // at runtime; the salted form is the portable, deterministic variant
    // that also works pre-shuffle and inside bucketed layouts.)
    "q_join_salted" -> ((s, d) => {
      val R = 8
      val fact = Tables(s, d, "orders")
        .withColumn("salt", pmod(col("o_orderkey"), lit(R)).cast("int"))
      val dim = Tables(s, d, "customer")
        .withColumn("salt", explode(sequence(lit(0), lit(R - 1))))
      fact.join(dim,
          col("o_custkey") === col("c_custkey") && fact("salt") === dim("salt"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("c_nationkey")
    }),

    // Bloom-filter semi-join reduction (graft.functions.BloomFilterJoin):
    // the dim keys (customers in one segment) compress into a bloom filter
    // that pre-filters the fact scan BEFORE the semi-join shuffle — no
    // false negatives, and the exact semi-join on the ~5× smaller survivor
    // set scrubs the false positives. Oracle is the PLAIN semi-join SQL:
    // the reduction must be invisible in the result.
    "q_join_bloom" -> ((s, d) => {
      val dimKeys = Tables(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val orders = Tables(s, d, "orders")
      graft.functions.BloomFilterJoin
        .semiJoinReduced(orders, "o_custkey", dimKeys, "c_custkey")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("o_year")
    }),

    // As-of join — an operator Spark has no native form of (DuckDB: ASOF
    // JOIN): for each purchase, the latest view by the same user at or
    // before it. Composed from built-ins per the preference order: tag both
    // sides, union, ONE shuffle by user key, and a running max over
    // (ts, tag) — views sort before purchases at equal ts, giving the
    // inclusive bound. Scale-safe for any fact size (no point-in-time
    // subquery per row, no range join blowup).
    "q_join_asof" -> ((s, d) => {
      val e = Tables(s, d, "events")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), lit(0).as("tag"), lit(null).cast("long").as("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "tag")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      views.union(purchases)
        .withColumn("prev_view_ts", max(when(col("tag") === 0, col("ts"))).over(w))
        .filter(col("tag") === 1)
        .select("event_id", "user_id", "ts", "prev_view_ts")
        .orderBy("event_id")
    }),

    // Range join against an interval dimension (calendar buckets), in the
    // form that survives scale: raw interval predicates force a nested-loop
    // join (O(facts × intervals) — measured 4 s even here), so the range
    // join is BUCKETIZED — each fact row derives the bucket its point falls
    // in, the join becomes an equi-join on the bucket key (hash, broadcast
    // here) and the range predicates remain as residual filters. For
    // intervals spanning multiple buckets, explode the interval side over
    // its covered buckets; the residual check keeps semantics exact.
    "q_join_range" -> ((s, d) => {
      val orders = Tables(s, d, "orders")
      val months = orders
        .select(date_trunc("month", col("o_orderdate")).as("m_start"))
        .distinct()
        .withColumn("m_end", add_months(col("m_start"), 1).cast(TimestampType))
      val lineitem = Tables(s, d, "lineitem")
        .withColumn("l_bucket", date_trunc("month", col("l_shipdate")))
      lineitem.join(broadcast(months),
          col("l_bucket") === col("m_start") &&
            col("l_shipdate") >= col("m_start") && col("l_shipdate") < col("m_end"))
        .groupBy("m_start")
        .agg(count(lit(1)).as("n_items"), Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("m_start")
    })
  )

  def oracles: Map[String, String] = Map(
    "q_join_pit" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |  FROM events),
        |c AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type IN ('signup', 'purchase')
        |                    THEN ts_us END IGNORE NULLS) OVER w AS upd_ts,
        |    last_value(CASE WHEN event_type IN ('signup', 'purchase')
        |                    THEN value END IGNORE NULLS) OVER w AS upd_val
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CASE WHEN ts_us - upd_ts <= 604800000000 THEN upd_val END AS profile_value,
        |  (upd_ts IS NOT NULL AND ts_us - upd_ts <= 604800000000) AS profile_fresh
        |FROM c WHERE event_type = 'click'
        |ORDER BY event_id""".stripMargin,
    "q_join_dpp" ->
      s"""SELECT event_type, COUNT(*) AS n_events, ${Det.sqlSum("value")} AS sum_value
         |FROM events
         |WHERE ((day(ts) - 1) // 7) + 1 = 2
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_join_fuzzy" ->
      """WITH clean AS (
        |  SELECT p_name AS canon_name, min(p_partkey) AS canon_key FROM part GROUP BY 1),
        |obs AS (
        |  SELECT p_partkey AS obs_key,
        |    substr(p_name, 1, pos - 1) || substr(p_name, pos + 1, length(p_name)) AS obs_name
        |  FROM (SELECT p_partkey, p_name,
        |          CAST(p_partkey % (length(p_name) - 3) AS INT) + 3 AS pos
        |        FROM part WHERE p_partkey % 7 = 0) t),
        |cand AS (
        |  SELECT obs_key, obs_name, canon_name, canon_key,
        |    levenshtein(obs_name, canon_name) AS dist
        |  FROM obs JOIN clean ON substr(obs_name, 1, 2) = substr(canon_name, 1, 2)
        |  WHERE levenshtein(obs_name, canon_name) <= 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY obs_key ORDER BY dist, canon_name) AS rn
        |  FROM cand)
        |SELECT obs_key, obs_name, canon_name AS match_name, canon_key AS match_key,
        |  CAST(dist AS BIGINT) AS dist
        |FROM ranked WHERE rn = 1 ORDER BY obs_key""".stripMargin,
    "q_join_broadcast" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_cust, ${Det.sqlSum("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_shuffle" ->
      s"""SELECT c_mktsegment, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |       COUNT(*) AS n_orders, ${Det.sqlSum("o_totalprice")} AS sum_total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment, o_year ORDER BY c_mktsegment, o_year""".stripMargin,
    "q_join_semi_anti" ->
      """SELECT o_orderkey, 'has_return' AS tag FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |UNION ALL
        |SELECT o_orderkey, 'no_return' AS tag FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer
        |LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00') o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey, COALESCE(o_orderkey, -1)""".stripMargin,
    "q_join_full" ->
      s"""SELECT COALESCE(c.c_custkey, u.o_custkey) AS custkey,
         |  c.c_name, c.c_acctbal, u.urgent_spend, u.n_urgent,
         |  (c.c_custkey IS NOT NULL AND u.o_custkey IS NOT NULL) AS matched
         |FROM (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 9000) c
         |FULL OUTER JOIN (
         |  SELECT o_custkey, ${Det.sqlSum("o_totalprice")} AS urgent_spend, COUNT(*) AS n_urgent
         |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) u
         |  ON c.c_custkey = u.o_custkey
         |ORDER BY custkey""".stripMargin,
    "q_star_revenue" ->
      s"""SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, o_year ORDER BY r_name, o_year""".stripMargin,
    "q_join_bloom" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |       COUNT(*) AS n_orders, ${Det.sqlSum("o_totalprice")} AS sum_total
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM customer c
         |              WHERE c.c_custkey = orders.o_custkey
         |                AND c.c_mktsegment = 'BUILDING')
         |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q_join_salted" ->
      s"""SELECT c_nationkey, COUNT(*) AS n_orders, ${Det.sqlSum("o_totalprice")} AS sum_total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_join_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, v.ts AS prev_view_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,
    "q_join_range" ->
      s"""WITH months AS (
         |  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m_start,
         |    CAST(CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 1 MONTH AS TIMESTAMP) AS m_end
         |  FROM orders)
         |SELECT m.m_start, COUNT(*) AS n_items, ${Det.sqlSum("l.l_quantity")} AS sum_qty
         |FROM lineitem l JOIN months m
         |  ON l.l_shipdate >= m.m_start AND l.l_shipdate < m.m_end
         |GROUP BY m.m_start ORDER BY m.m_start""".stripMargin
  )
}
