package graft.queries

import graft.operators.Salting
import graft.queries.Q._
import graft.sources.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface over the driver testdata (SURVEY.md §2.b):
  * scans, filters, joins of every flavor, aggregations, windows, set and
  * multiset ops, top-k, rollup/cube/pivot, salted skew-safe aggregation
  * and joins, as-of and range joins, string/math/date/map/array/json
  * functions, xxhash64 bucketing, the SQL-text surface, and csv /
  * json-lines sources exercised as round-trips (a driver table is written
  * to the format, read back with a DECLARED schema and aggregated; the
  * result equals the direct aggregation, which is the oracle). Every
  * query but the q39 HLL sketch has a DuckDB oracle; results are
  * explicitly ordered so hashes are stable.
  *
  * Oracle-parity notes: collected lists are serialized with array_join so
  * the compare is over strings (list hashing differs between engines);
  * collect_list order is made deterministic with sort_array — DuckDB's
  * `list(x ORDER BY x)` mirrors it.
  */
object RelationalQueries extends graft.QueryModule {

  /** Round-trip staging dir: keyed by a SHA-256 of the FULL data root
    * (the earlier 32-bit String.hashCode key could still collide across
    * two distinct roots and race one session's overwrite against
    * another's read), swept at JVM exit (these accumulated forever
    * before). */
  private def rootKey(dataRoot: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dataRoot.getBytes("UTF-8"))
    d.take(16).map(b => f"$b%02x").mkString
  }
  private val cleanupInstalled = new java.util.concurrent.atomic.AtomicBoolean
  private def tmpDir(name: String): String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft-sources"
    if (cleanupInstalled.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.core.Fs.deleteRecursively(new java.io.File(root))))
    }
    s"$root/$name"
  }

  val queries: Map[String, QFn] = Map(
    "q01_scan_filter_project" -> ((s, d) =>
      lineitem(s, d)
        .where(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q02_agg_pricing_summary" -> ((s, d) =>
      lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q03_count_distinct" -> ((s, d) =>
      lineitem(s, d).groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")),

    "q04_join_broadcast" -> ((s, d) =>
      orders(s, d)
        .join(broadcast(customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")),

    "q05_join_sortmerge" -> ((s, d) =>
      lineitem(s, d).hint("merge")
        .join(orders(s, d).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    "q06_join_left_outer" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    "q07_join_semi" -> ((s, d) =>
      orders(s, d)
        .join(lineitem(s, d).where(col("l_quantity") > 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    "q08_join_anti" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q09_window_topn" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders(s, d).withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    }),

    "q10_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("event_type"),
          coalesce(col("prev_type"), lit("none")).as("prev_type"))
        .orderBy("event_id")
    }),

    "q11_window_rolling" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-3, 0)
      events(s, d)
        .withColumn("rolling_value",
          sum(col("value").cast("decimal(38,6)")).over(w).cast("double"))
        .select("event_id", "user_id", "rolling_value")
        .orderBy("event_id")
    }),

    "q12_global_topk" -> ((s, d) =>
      part(s, d)
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .limit(10)),

    "q13_group_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders(s, d).withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    }),

    "q14_union_all" -> ((s, d) =>
      lineitem(s, d).select(col("l_orderkey").as("k"),
          lit("lineitem").as("side"))
        .unionByName(orders(s, d).select(col("o_orderkey").as("k"),
          lit("orders").as("side")))
        .groupBy("side").agg(count(lit(1)).as("n"),
          countDistinct(col("k")).as("nk"))
        .orderBy("side")),

    "q15_except" -> ((s, d) =>
      part(s, d).select(col("p_partkey").as("k"))
        .except(lineitem(s, d).select(col("l_partkey").as("k")))
        .orderBy("k")),

    "q16_intersect" -> ((s, d) =>
      customer(s, d).select(col("c_custkey").as("k"))
        .intersect(orders(s, d).select(col("o_custkey").as("k")))
        .orderBy("k")),

    "q17_rollup" -> ((s, d) =>
      lineitem(s, d).rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q18_cube" -> ((s, d) =>
      orders(s, d).cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "q19_string_funcs" -> ((s, d) =>
      customer(s, d).select(
        col("c_custkey"),
        lower(col("c_name")).as("lname"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 1, 8).as("prefix"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"))
        .orderBy("c_custkey")),

    "q20_levenshtein" -> ((s, d) =>
      part(s, d).select(col("p_partkey"),
        levenshtein(col("p_brand"), lit("Brand#33")).as("dist"))
        .orderBy("p_partkey")),

    "q21_datetime" -> ((s, d) =>
      orders(s, d).groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("yr", "mo")),

    "q22_math" -> ((s, d) =>
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - lit(0.05)).as("adisc"),
        sqrt(col("l_quantity")).as("sq"),
        floor(col("l_extendedprice")).as("fl"),
        ceil(col("l_extendedprice")).as("ce"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q23_case_pivot" -> ((s, d) =>
      orders(s, d).groupBy("o_orderpriority").agg(
        dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(lit(0.0))).as("total_f"),
        dsum(when(col("o_orderstatus") === "O", col("o_totalprice"))
          .otherwise(lit(0.0))).as("total_o"),
        dsum(when(col("o_orderstatus") === "P", col("o_totalprice"))
          .otherwise(lit(0.0))).as("total_p"))
        .orderBy("o_orderpriority")),

    "q24_asof_latest" -> ((s, d) => {
      // as-of join: latest order per customer at/before 1996-01-01
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      orders(s, d)
        .where(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("asof_date"),
          col("o_totalprice"))
        .orderBy("o_custkey")
    }),

    "q25_range_join" -> ((s, d) => {
      // range join bounded by a coarse time-bucket blocking key: a 60 s
      // window can only span two adjacent minute buckets, so the left side
      // explodes into (bucket, bucket+1) and the join becomes an equi-join
      // on (user_id, bucket) with the range predicate as a residual filter.
      // Candidates per (user, minute) are bounded by event density — no
      // quadratic blowup on a skewed user's whole history. Each qualifying
      // pair matches exactly one bucket value (the right side's own), so no
      // dedup is needed and the result equals the plain range join (oracle).
      def minuteBucket(ts: org.apache.spark.sql.Column) =
        floor(ts.cast("timestamp_ltz").cast("double") / 60.0).cast("long")
      val e1 = events(s, d).select(col("event_id").as("a_id"),
          col("user_id"), col("ts").as("a_ts"))
        .withColumn("jb", explode(array(minuteBucket(col("a_ts")),
          minuteBucket(col("a_ts")) + 1L)))
      val e2 = events(s, d).select(col("event_id").as("b_id"),
          col("user_id"), col("ts").as("b_ts"))
        .withColumn("jb", minuteBucket(col("b_ts")))
      e1.join(e2, Seq("user_id", "jb"))
        .where(col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 60 SECONDS"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("pairs"))
        .orderBy("user_id")
    }),

    "q26_salted_agg" -> ((s, d) =>
      // two-phase skew-safe aggregation: salt → partial → final; result is
      // identical to a plain GROUP BY (which is the oracle)
      lineitem(s, d)
        .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(sum(col("l_quantity").cast("decimal(38,6)")).as("pq"),
          count(lit(1)).as("pn"))
        .groupBy("l_returnflag")
        .agg(sum(col("pq")).cast("double").as("qty"), sum(col("pn")).as("n"))
        .orderBy("l_returnflag")),

    "q27_grouping_sets" -> ((s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q28_array_hof" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_words"),
        size(filter(split(col("text"), " "),
          w => length(w) > 4)).as("n_long_words"),
        aggregate(split(col("text"), " "), lit(0L),
          (acc, w) => acc + length(w).cast("long")).as("total_chars"))
        .orderBy("doc_id")),

    "q29_null_safe" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .withColumn("no_order", col("o_orderkey") <=> lit(null))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n"),
          sum(when(col("no_order"), 1L).otherwise(0L)).as("n_null"))
        .orderBy("c_custkey")),

    "q37_percent_rank" -> ((s, d) =>
      // distributed two-pass percent_rank (no single-partition window over
      // the data — see DistributedRank); oracle is the plain PERCENT_RANK()
      graft.operators.DistributedRank.percentRank(orders(s, d),
          bucket = floor(col("o_totalprice") / 10000.0),
          order = Seq(col("o_totalprice").asc, col("o_orderkey").asc),
          prCol = "pr")
        .select("o_orderkey", "pr")
        .orderBy("o_orderkey")),

    "q38_sliding_window" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("win_start"), col("n"))
        .orderBy("win_start")),

    "q39_approx_distinct" -> ((s, d) =>
      // HLL++ sketch: deterministic for fixed input (rows-only check);
      // FunctionsSpec asserts ≤5% relative error vs exact, and q03 is the
      // exact-distinct twin over the SAME inputs (same grouping, same
      // columns) with a full DuckDB oracle — so the sketch's input is
      // oracled even though the sketch itself can't hash-match
      lineitem(s, d).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_suppkey"), 0.01).as("approx_supps"))
        .orderBy("l_returnflag")),

    "q56_map_funcs" -> ((s, d) =>
      events(s, d)
        .withColumn("m", map_from_entries(array(
          struct(lit("k").as("key"),
            get_json_object(col("props"), "$.k").cast("long").as("value")),
          struct(lit("uid").as("key"), col("user_id").as("value")))))
        .select(col("event_id"),
          element_at(col("m"), "k").as("k"),
          size(map_keys(col("m"))).as("n_keys"),
          array_join(map_keys(col("m")), ",").as("keys"))
        .orderBy("event_id")),

    "q57_string_extra" -> ((s, d) =>
      part(s, d).select(
        col("p_partkey"),
        trim(col("p_name")).as("trimmed"),
        upper(col("p_brand")).as("ubrand"),
        translate(col("p_type"), "aeiou", "AEIOU").as("xlated"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
        split(col("p_type"), " ").getItem(0).as("first_word"))
        .orderBy("p_partkey")),

    "q58_xxhash_bucket" -> ((s, d) =>
      // url-hash bucketing (north_rule partitioning transform); oracled
      // since round 3 by replaying XXH64 in SQL (XxHash64Sql)
      customer(s, d)
        .withColumn("bucket", pmod(xxhash64(col("c_name")), lit(16)))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    "q59_salted_join" -> ((s, d) =>
      // salted equi-join == plain join (oracle is the plain join)
      Salting.saltedJoin(lineitem(s, d), orders(s, d),
          "l_orderkey", "o_orderkey", spreadCol = "l_partkey", factor = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), Q.dsum(col("l_quantity")).as("qty"))
        .orderBy("o_orderpriority")),

    "q69_csv_roundtrip" -> ((s, d) => {
      val out = tmpDir(s"csv-${rootKey(d)}")
      customer(s, d).write.mode("overwrite").option("header", "true")
        .csv(out)
      s.read.schema("c_custkey LONG, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")
        .option("header", "true").csv(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), Q.dsum(col("c_acctbal")).as("total"))
        .orderBy("c_mktsegment")
    }),

    "q70_jsonl_roundtrip" -> ((s, d) => {
      val out = tmpDir(s"json-${rootKey(d)}")
      supplier(s, d).write.mode("overwrite").json(out)
      s.read.schema("s_suppkey LONG, s_name STRING, s_nationkey INT, " +
          "s_acctbal DOUBLE")
        .json(out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), Q.dsum(col("s_acctbal")).as("total"))
        .orderBy("s_nationkey")
    }),

    "q71_math_transcendental" -> ((s, d) =>
      // log/exp/pow score-combination surface. libm implementations
      // differ at the last ulp across engines (measured: ≤ 2.9e-14 abs
      // on ln/pow here), so outputs are rounded to 6 digits for the
      // cross-engine compare — flips only if a value sits within an ulp
      // of a rounding boundary, which the fixed corpus does not.
      //
      // Projection AFTER the sort, deliberately: Spark's round(double)
      // allocates a BigDecimal per value, and a projection below a global
      // orderBy is executed TWICE (the range partitioner's sampling job
      // re-runs the sort's child). Sorting the raw columns first and
      // rounding above the sort computes the expensive projection once —
      // measured 2.7 → 0.9 s at sf0.1, identical output (BASELINE.md
      // records the full-session 2.04 → 0.81 s).
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(log(col("l_extendedprice") + lit(1.0)), 6).as("log_price"),
          round(exp(col("l_discount")), 6).as("exp_disc"),
          round(pow(col("l_quantity"), lit(1.5)), 6).as("qty_pow"))),

    "q72_collect_list" -> ((s, d) =>
      // sentence-assembly shape: group → ordered list; collect_set for the
      // distinct variant; sort_array for the deterministic order
      orders(s, d).groupBy("o_custkey").agg(
        array_join(sort_array(collect_list(col("o_orderpriority"))), ",")
          .as("prios"),
        array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
        count(lit(1)).as("n"))
        .orderBy("o_custkey")),

    "q73_rank_dense_rank" -> ((s, d) => {
      // ties by design: l_quantity is integral, so rank skips and
      // dense_rank doesn't — the semantics row_number can't exhibit
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_quantity").desc)
      lineitem(s, d)
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .select("l_orderkey", "l_linenumber", "l_quantity", "rnk", "drnk")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q74_window_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("event_type"),
          coalesce(col("next_type"), lit("none")).as("next_type"))
        .orderBy("event_id")
    }),

    "q75_except_all" -> ((s, d) =>
      // multiset difference: an order key with n lineitems and one orders
      // row survives n-1 times (set-semantics except would drop it)
      lineitem(s, d).select(col("l_orderkey").as("k"))
        .exceptAll(orders(s, d).select(col("o_orderkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")),

    "q76_array_contains_flatten" -> ((s, d) => {
      val w = split(col("text"), " ")
      documents(s, d).select(
        col("doc_id"),
        array_contains(w, "the").as("has_the"),
        array_join(flatten(array(slice(w, 1, 3), slice(w, 4, 3))), " ")
          .as("first6"))
        .orderBy("doc_id")
    }),

    "q77_intersect_all" -> ((s, d) =>
      // multiset intersect: per order key, min(total lines, lines with
      // qty > 25) occurrences survive — set-semantics intersect would
      // collapse them to one
      lineitem(s, d).select(col("l_orderkey").as("k"))
        .intersectAll(lineitem(s, d).where(col("l_quantity") > 25)
          .select(col("l_orderkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")),

    "q78_pivot" -> ((s, d) =>
      // native relational pivot (q23 builds the same shape by hand with
      // CASE); absent (priority, status) combos are null on both engines
      orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(Q.dsum(col("o_totalprice")))
        .orderBy("o_orderpriority")),

    "q79_to_json" -> ((s, d) =>
      // to_json closes the §2.b json-function row (get_json_object and
      // from_json are q30/q31); long/string fields only — both engines
      // serialize those identically (doubles would format differently)
      events(s, d).select(col("event_id"),
        to_json(struct(col("event_id"), col("event_type"))).as("j"))
        .orderBy("event_id")),

    "q82_sql_text" -> ((s, d) => {
      // the SQL-text surface: the same Catalyst engine behind the
      // DataFrame DSL, driven by spark.sql over registered views — a user
      // of the engine can run plain SQL strings
      orders(s, d).createOrReplaceTempView("orders_v")
      customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""SELECT c_mktsegment, COUNT(*) AS n,
              |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
              |  AS total
              |FROM orders_v JOIN customer_v ON o_custkey = c_custkey
              |WHERE o_orderstatus = 'O'
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    "q83_percentile" -> ((s, d) =>
      // exact (sort-based) continuous percentile; quantity is integral so
      // the interpolated values are exactly representable in both engines
      lineitem(s, d).groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"))
        .orderBy("l_returnflag")),

    "q84_first_last_nth" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, d).select(
        col("event_id"), col("user_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"),
        coalesce(nth_value(col("event_type"), 2).over(w), lit("none"))
          .as("second_type"))
        .orderBy("event_id")
    }),

    "q85_datetrunc_parse" -> ((s, d) =>
      // string-log ingest shape: timestamps arrive as strings, get parsed
      // with to_timestamp, and roll up by date_trunc'd day
      events(s, d)
        .withColumn("ts_str",
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("parsed",
          to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss"))
        .groupBy(date_format(date_trunc("day", col("parsed")), "yyyy-MM-dd")
          .as("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          unix_timestamp(max(col("parsed"))).as("last_epoch"))
        .orderBy("day")),

    "q86_tpch_q5_shape" -> ((s, d) =>
      // the classic 6-table analytical join (TPC-H Q5 shape): two fact
      // joins sort-merge/shuffle, three dimension joins broadcast, filters
      // pushed into the scans, AQE free to re-plan at runtime — also the
      // only query that exercises the nation/region driver tables
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("n_name")
        .agg(Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("revenue").desc, col("n_name").asc))
  )

  val oracles: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_agg_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${dsumSql("l_quantity")} AS sum_qty,
         |${dsumSql("l_extendedprice")} AS sum_base_price,
         |${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |${davgSql("l_quantity")} AS avg_qty,
         |COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q04_join_broadcast" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |${dsumSql("o_totalprice")} AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q05_join_sortmerge" ->
      s"""SELECT o_orderpriority,
         |${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |COUNT(*) AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q06_join_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q07_join_semi" ->
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q08_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q09_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q10_window_lag" ->
      """SELECT event_id, user_id, event_type,
        |COALESCE(LAG(event_type, 1) OVER (PARTITION BY user_id
        |  ORDER BY ts ASC, event_id ASC), 'none') AS prev_type
        |FROM events ORDER BY event_id""".stripMargin,

    "q11_window_rolling" ->
      """SELECT event_id, user_id,
        |CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY user_id
        |  ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS rolling_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q12_global_topk" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10""".stripMargin,

    "q13_group_topk" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk FROM orders)
        |WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin,

    "q14_union_all" ->
      """SELECT side, COUNT(*) AS n, COUNT(DISTINCT k) AS nk FROM (
        |  SELECT l_orderkey AS k, 'lineitem' AS side FROM lineitem
        |  UNION ALL
        |  SELECT o_orderkey AS k, 'orders' AS side FROM orders)
        |GROUP BY side ORDER BY side""".stripMargin,

    "q15_except" ->
      """SELECT p_partkey AS k FROM part
        |EXCEPT SELECT l_partkey AS k FROM lineitem ORDER BY k""".stripMargin,

    "q16_intersect" ->
      """SELECT c_custkey AS k FROM customer
        |INTERSECT SELECT o_custkey AS k FROM orders ORDER BY k""".stripMargin,

    "q17_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |${dsumSql("l_quantity")} AS qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST,
         |  l_linestatus ASC NULLS FIRST""".stripMargin,

    "q18_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q19_string_funcs" ->
      """SELECT c_custkey, lower(c_name) AS lname, CAST(length(c_name) AS INT) AS name_len,
        |substring(c_name, 1, 8) AS prefix,
        |regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |concat_ws('|', c_mktsegment, c_name) AS joined
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q20_levenshtein" ->
      """SELECT p_partkey, CAST(levenshtein(p_brand, 'Brand#33') AS INT) AS dist
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q21_datetime" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
         |CAST(month(o_orderdate) AS INT) AS mo, COUNT(*) AS n,
         |${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,

    "q22_math" ->
      """SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS adisc,
        |sqrt(l_quantity) AS sq, CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |CAST(ceil(l_extendedprice) AS BIGINT) AS ce
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q23_case_pivot" ->
      s"""SELECT o_orderpriority,
         |${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")} AS total_f,
         |${dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END")} AS total_o,
         |${dsumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0.0 END")} AS total_p
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    "q24_asof_latest" ->
      """SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS asof_date,
        |o_totalprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01')
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q25_range_join" ->
      """SELECT e1.user_id AS user_id, COUNT(*) AS pairs
        |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
        |  AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 60 SECOND
        |GROUP BY e1.user_id ORDER BY user_id""".stripMargin,

    "q26_salted_agg" ->
      s"""SELECT l_returnflag, ${dsumSql("l_quantity")} AS qty, COUNT(*) AS n
         |FROM lineitem GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    "q27_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,

    "q28_array_hof" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |CAST(len(list_filter(string_split(text, ' '),
        |  w -> length(w) > 4)) AS INT) AS n_long_words,
        |CAST(list_aggregate(list_transform(string_split(text, ' '),
        |  w -> CAST(length(w) AS BIGINT)), 'sum') AS BIGINT) AS total_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q29_null_safe" ->
      """SELECT c_custkey, COUNT(*) AS n,
        |CAST(SUM(CASE WHEN o_orderkey IS NOT DISTINCT FROM NULL
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_null
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q37_percent_rank" ->
      """SELECT o_orderkey, PERCENT_RANK() OVER (
        |  ORDER BY o_totalprice ASC, o_orderkey ASC) AS pr
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q38_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
        |  COUNT(*) AS n FROM (
        |  SELECT TIMESTAMP '1970-01-01 00:00:00' + (CAST(floor(
        |    epoch(ts) / 1800) AS BIGINT) - k.k) * 1800 * INTERVAL 1 SECOND
        |    AS ws
        |  FROM events, (VALUES (0), (1), (2), (3)) k(k))
        |GROUP BY ws ORDER BY win_start""".stripMargin,

    "q56_map_funcs" ->
      """SELECT event_id, CAST(props::JSON->>'$.k' AS BIGINT) AS k,
        |2 AS n_keys, 'k,uid' AS keys
        |FROM events ORDER BY event_id""".stripMargin,

    "q57_string_extra" ->
      """SELECT p_partkey, trim(p_name) AS trimmed, upper(p_brand) AS ubrand,
        |translate(p_type, 'aeiou', 'AEIOU') AS xlated,
        |lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        |string_split(p_type, ' ')[1] AS first_word
        |FROM part ORDER BY p_partkey""".stripMargin,

    // Spark's xxhash64 (XXH64, seed 42) replayed bit-exactly in SQL —
    // see XxHash64Sql for the staged-CTE technique
    "q58_xxhash_bucket" ->
      XxHash64Sql.bucketCountSql("customer", "c_name", 16),

    "q59_salted_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |${Q.dsumSql("l_quantity")} AS qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q69_csv_roundtrip" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |${Q.dsumSql("c_acctbal")} AS total
         |FROM customer GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,

    "q70_jsonl_roundtrip" ->
      s"""SELECT s_nationkey, COUNT(*) AS n,
         |${Q.dsumSql("s_acctbal")} AS total
         |FROM supplier GROUP BY s_nationkey
         |ORDER BY s_nationkey""".stripMargin,

    "q71_math_transcendental" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(ln(l_extendedprice + 1.0), 6) AS log_price,
        |  round(exp(l_discount), 6) AS exp_disc,
        |  round(pow(l_quantity, 1.5), 6) AS qty_pow
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q72_collect_list" ->
      """SELECT o_custkey,
        |array_to_string(list(o_orderpriority ORDER BY o_orderpriority),
        |  ',') AS prios,
        |array_to_string(list(DISTINCT o_orderstatus ORDER BY o_orderstatus),
        |  ',') AS statuses,
        |COUNT(*) AS n
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q73_rank_dense_rank" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |CAST(RANK() OVER w AS INT) AS rnk,
        |CAST(DENSE_RANK() OVER w AS INT) AS drnk
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_quantity DESC)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q74_window_lead" ->
      """SELECT event_id, user_id, event_type,
        |COALESCE(LEAD(event_type, 1) OVER (PARTITION BY user_id
        |  ORDER BY ts ASC, event_id ASC), 'none') AS next_type
        |FROM events ORDER BY event_id""".stripMargin,

    "q75_except_all" ->
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT l_orderkey AS k FROM lineitem
        |  EXCEPT ALL
        |  SELECT o_orderkey AS k FROM orders)
        |GROUP BY k ORDER BY k""".stripMargin,

    "q76_array_contains_flatten" ->
      """SELECT doc_id,
        |list_contains(string_split(text, ' '), 'the') AS has_the,
        |array_to_string(flatten([string_split(text, ' ')[1:3],
        |  string_split(text, ' ')[4:6]]), ' ') AS first6
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q77_intersect_all" ->
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT l_orderkey AS k FROM lineitem
        |  INTERSECT ALL
        |  SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 25)
        |GROUP BY k ORDER BY k""".stripMargin,

    "q78_pivot" ->
      s"""SELECT o_orderpriority,
         |${Q.dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS "F",
         |${Q.dsumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS "O",
         |${Q.dsumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS "P"
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    "q79_to_json" ->
      """SELECT event_id,
        |to_json(struct_pack(event_id := event_id,
        |  event_type := event_type)) AS j
        |FROM events ORDER BY event_id""".stripMargin,

    "q82_sql_text" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'O'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q83_percentile" ->
      """SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.25) AS p25,
        |quantile_cont(l_quantity, 0.5) AS p50,
        |quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q84_first_last_nth" ->
      """SELECT event_id, user_id,
        |FIRST_VALUE(event_type) OVER w AS first_type,
        |LAST_VALUE(event_type) OVER w AS last_type,
        |COALESCE(NTH_VALUE(event_type, 2) OVER w, 'none') AS second_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    "q85_datetrunc_parse" ->
      """SELECT strftime(date_trunc('day', parsed), '%Y-%m-%d') AS day,
        |COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
        |CAST(floor(epoch(MAX(parsed))) AS BIGINT) AS last_epoch
        |FROM (SELECT strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
        |  '%Y-%m-%d %H:%M:%S') AS parsed, user_id FROM events)
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q86_tpch_q5_shape" ->
      s"""SELECT n_name,
         |${Q.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |COUNT(*) AS n
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name ASC""".stripMargin
  )
}
