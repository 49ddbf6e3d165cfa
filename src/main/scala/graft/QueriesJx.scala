package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import graft.etl.{Lineage, LogParse, MozLog}
import graft.jx.{Formats, QueryParser, Runner}
import graft.llm.{Contamination, Dedup, Multimodal, Pipelines, Similarity, TextAnalysis}
import graft.meta.MetaColumns
import graft.operators.{CountMin, Joins, Kmv, Sessionize, SetOps}
import graft.streaming.EventStream
import graft.tables.Catalog

/** Query + oracle definitions — JX relational core: filter/select/window/domains/joins/set ops, meta, formats.
  * Concatenated into SparkEntry.queries / SparkEntry.oracleSql (the
  * driver contract); see SparkEntry's scaladoc for the output and
  * floating-point conventions every entry follows. */
private[graft] object QueriesJx {
  import QueryShared._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- M1/M2: filter + groupby + aggregates (SURVEY.md §2b, §2d) ---
    "q01_groupby_aggs" -> rounded(
      "sum_qty" -> 4, "sum_base_price" -> 2, "sum_disc_price" -> 2,
      "avg_qty" -> 6, "avg_price" -> 6, "avg_disc" -> 6)(jx("""
      {"from": "lineitem",
       "where": {"lte": ["l_shipdate", {"date": "1998-09-02"}]},
       "groupby": ["l_returnflag", "l_linestatus"],
       "select": [
         {"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"},
         {"name": "sum_base_price", "value": "l_extendedprice", "aggregate": "sum"},
         {"name": "sum_disc_price",
          "value": {"mult": ["l_extendedprice", {"sub": [1, "l_discount"]}]},
          "aggregate": "sum"},
         {"name": "avg_qty", "value": "l_quantity", "aggregate": "average"},
         {"name": "avg_price", "value": "l_extendedprice", "aggregate": "average"},
         {"name": "avg_disc", "value": "l_discount", "aggregate": "average"},
         {"name": "count_order", "aggregate": "count"}],
       "sort": ["l_returnflag", "l_linestatus"]}""")),


    // --- M1: filter + computed select + sort + limit (SURVEY.md §2b,2g,2i) ---
    "q02_filter_select_sort" -> rounded("revenue" -> 4)(jx("""
      {"from": "lineitem",
       "where": {"and": [
         {"gte": ["l_shipdate", {"date": "1996-01-01"}]},
         {"lt":  ["l_shipdate", {"date": "1996-07-01"}]},
         {"gt":  ["l_discount", 0.05]}]},
       "select": [
         "l_orderkey", "l_linenumber",
         {"name": "revenue",
          "value": {"mult": ["l_extendedprice", {"sub": [1, "l_discount"]}]}}],
       "sort": [{"value": {"mult": ["l_extendedprice", {"sub": [1, "l_discount"]}]}, "sort": -1},
                "l_orderkey", "l_linenumber"],
       "limit": 100}""")),


    // --- M3: edges with SetDomain — dense cube incl. empty partition ---
    "q03_edges_set_dense" -> rounded("sum_price" -> 2)(jx("""
      {"from": "orders",
       "edges": [{"name": "status", "value": "o_orderstatus",
                  "domain": {"type": "set",
                             "partitions": ["O", "F", "P", "X"]}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "sum_price", "value": "o_totalprice",
                   "aggregate": "sum"}]}""")),


    // --- M3: edges with TimeDomain — dense weekly buckets ---
    "q04_edges_time" -> rounded("sum_price" -> 2)(dated("week")(jx("""
      {"from": "orders",
       "edges": [{"name": "week", "value": "o_orderdate",
                  "domain": {"type": "time", "min": "1996-01-01",
                             "max": "1996-04-01", "interval": "week"}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "sum_price", "value": "o_totalprice",
                   "aggregate": "sum"}]}"""))),


    // --- M3: edges with RangeDomain — dense numeric buckets ---
    "q05_edges_range" -> rounded("avg_price" -> 6)(jx("""
      {"from": "lineitem",
       "edges": [{"name": "qty_bucket", "value": "l_quantity",
                  "domain": {"type": "range", "min": 0, "max": 60,
                             "interval": 10}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "avg_price", "value": "l_extendedprice",
                   "aggregate": "average"}]}""")),


    // --- WIDE dense cube (round 12): 37,500 range cells, under the
    //     domain-product guard's cap (100,000), so this query drives a
    //     wide driver-side densification under the correctness gate at
    //     both SFs — empty cells densify (count 0, sum null) ---
    "q358_wide_cube" -> jx("""
      {"from": "lineitem",
       "edges": [{"name": "ok_bucket", "value": "l_orderkey",
                  "domain": {"type": "range", "min": 0, "max": 600000,
                             "interval": 16}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "sum_qty", "value": "l_quantity",
                   "aggregate": "sum"}]}"""),


    // --- M3: edges with DefaultDomain — data-driven top-k partitions ---
    "q06_edges_topk" -> rounded("sum_retail" -> 2)(jx("""
      {"from": "part",
       "edges": [{"name": "brand", "value": "p_brand",
                  "domain": {"type": "default", "limit": 5}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "sum_retail", "value": "p_retailprice",
                   "aggregate": "sum"}]}""")),


    // --- M3: predicate-partition edge (bucket by arbitrary where) ---
    "q07_edges_predicate" -> rounded("avg_bal" -> 6)(jx("""
      {"from": "customer",
       "edges": [{"name": "tier",
                  "domain": {"type": "set", "partitions": [
                    {"name": "negative", "where": {"lt": ["c_acctbal", 0]}},
                    {"name": "low",  "where": {"and": [{"gte": ["c_acctbal", 0]},
                                                       {"lt": ["c_acctbal", 5000]}]}},
                    {"name": "high", "where": {"gte": ["c_acctbal", 5000]}}]}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "avg_bal", "value": "c_acctbal",
                   "aggregate": "average"}]}""")),


    // --- M4: window clause — running sum, lag, rownum (SURVEY.md §2f) ---
    "q08_window" -> rounded("running_qty" -> 4)(jx("""
      {"from": "lineitem",
       "where": {"and": [{"gte": ["l_shipdate", {"date": "1996-01-01"}]},
                         {"lt":  ["l_shipdate", {"date": "1996-02-01"}]}]},
       "select": ["l_suppkey", "l_orderkey", "l_linenumber",
                  "running_qty", "prev_qty", "rn"],
       "window": [
         {"name": "running_qty", "value": "l_quantity", "aggregate": "sum",
          "edges": ["l_suppkey"],
          "sort": ["l_shipdate", "l_orderkey", "l_linenumber"],
          "range": {"max": 0}},
         {"name": "prev_qty", "value": {"rows": ["l_quantity", -1]},
          "edges": ["l_suppkey"],
          "sort": ["l_shipdate", "l_orderkey", "l_linenumber"]},
         {"name": "rn", "value": {"rownum": []},
          "edges": ["l_suppkey"],
          "sort": ["l_shipdate", "l_orderkey", "l_linenumber"]}],
       "sort": ["l_suppkey", "rn"]}""")),


    // --- M2: global aggregates incl. exact median/percentile/cardinality ---
    "q09_global_aggs" -> rounded(
      "sum_qty" -> 4, "med_qty" -> 6, "p90_qty" -> 6, "std_qty" -> 6)(jx("""
      {"from": "lineitem",
       "select": [
         {"name": "n", "aggregate": "count"},
         {"name": "sum_qty", "value": "l_quantity", "aggregate": "sum"},
         {"name": "min_ship", "value": "l_shipdate", "aggregate": "minimum"},
         {"name": "max_ship", "value": "l_shipdate", "aggregate": "maximum"},
         {"name": "med_qty", "value": "l_quantity", "aggregate": "median"},
         {"name": "p90_qty", "value": "l_quantity", "aggregate": "percentile",
          "percentile": 0.9},
         {"name": "n_parts", "value": "l_partkey", "aggregate": "cardinality"},
         {"name": "std_qty", "value": "l_quantity", "aggregate": "std"}]}""")),


    // --- M1: string expression ops (SURVEY.md §2i strings) ---
    "q10_string_exprs" -> jx("""
      {"from": "part",
       "select": [
         "p_partkey",
         {"name": "name_l5", "value": {"left": ["p_name", 5]}},
         {"name": "name_r4", "value": {"right": ["p_name", 4]}},
         {"name": "name_tail", "value": {"not_left": ["p_name", 6]}},
         {"name": "pos_ol", "value": {"find": ["p_name", {"literal": "ol"}]}},
         {"name": "brand_type",
          "value": {"concat": ["p_brand", "p_type"], "separator": " / "}},
         {"name": "is_economy", "value": {"prefix": {"p_type": "ECONOMY"}}},
         {"name": "has_red", "value": {"regex": ["p_name", ".*red.*"]}},
         {"name": "n_words",
          "value": {"length": {"concat": ["p_name"], "separator": ""}}}],
       "sort": ["p_partkey"]}"""),


    // --- M1: JX null/missing semantics (SURVEY.md §7 hard parts) ---
    "q11_null_semantics" -> jx("""
      {"from": "customer",
       "select": [
         "c_custkey",
         {"name": "maybe_name",
          "value": {"when": {"lt": ["c_acctbal", 0]},
                    "then": {"literal": ""}, "else": "c_name"}},
         {"name": "is_missing",
          "value": {"missing": {"when": {"lt": ["c_acctbal", 0]},
                                "then": {"literal": ""}, "else": "c_name"}}},
         {"name": "fallback",
          "value": {"coalesce": [
            {"when": {"lt": ["c_acctbal", 0]},
             "then": {"literal": ""}, "else": "c_name"},
            {"literal": "NONE"}]}},
         {"name": "add_ignores_missing",
          "value": {"add": ["c_acctbal", "no.such.column"]}},
         {"name": "all_missing_default",
          "value": {"add": ["no.such.a", "no.such.b"], "default": 0}},
         {"name": "eq_null_safe",
          "value": {"eq": ["no.such.a", "no.such.b"]}}],
       "sort": ["c_custkey"]}"""),


    // --- M1: time expressions — unix/from_unix/floor-to-day + groupby ---
    "q12_time_exprs" -> dated("day")(jx("""
      {"from": "events",
       "where": {"and": [{"gte": ["ts", {"date": "2024-01-05"}]},
                         {"lt":  ["ts", {"date": "2024-01-20"}]}]},
       "groupby": [{"name": "day",
                    "value": {"from_unix": {"mult": [
                      {"floor": {"div": [{"unix": "ts"}, 86400]}}, 86400]}}}],
       "select": [{"name": "n", "aggregate": "count"}],
       "sort": ["day"]}""")),


    // --- M2: collection aggregates — union (set) over groups ---
    // The union agg result (sorted array) is serialized to a CSV string for
    // the driver compare, which hashes scalar cells only; ArraySpec covers
    // the raw array form.
    "q13_collect_aggs" -> { (spark, dir) =>
      val df = jx("""
        {"from": "lineitem",
         "groupby": ["l_returnflag"],
         "select": [
           {"name": "statuses", "value": "l_linestatus", "aggregate": "union"},
           {"name": "n_status", "value": "l_linestatus",
            "aggregate": "cardinality"},
           {"name": "one_flag", "value": "l_returnflag", "aggregate": "one"}],
         "sort": ["l_returnflag"]}""")(spark, dir)
      df.withColumn("statuses", array_join(col("statuses"), ","))
    },


    // --- M5 J1: enrichment broadcast joins, customer->nation->region ---
    "q14_join_enrich" -> rounded("sum_bal" -> 2)({ (spark, dir) =>
      val customer = tbl(spark, dir, "customer")
      val nation = tbl(spark, dir, "nation")
      val region = tbl(spark, dir, "region")
      Joins.enrich(
          Joins.enrich(customer, nation,
            customer("c_nationkey") === nation("n_nationkey")),
          region, col("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), sum("c_acctbal").as("sum_bal"))
        .orderBy(col("r_name"))
    }),


    // --- M5: left-semi join (EXISTS) ---
    "q15_semi_join" -> { (spark, dir) =>
      val orders = tbl(spark, dir, "orders")
      val li = tbl(spark, dir, "lineitem")
      Joins.semi(orders, li.filter(col("l_discount") > 0.08),
          orders("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },


    // --- M5: left-anti join (NOT EXISTS) ---
    "q16_anti_join" -> { (spark, dir) =>
      val customer = tbl(spark, dir, "customer")
      val orders = tbl(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(
          "2001-01-01 00:00:00")))
      val nation = tbl(spark, dir, "nation")
      val inactive = Joins.anti(customer, orders,
        customer("c_custkey") === orders("o_custkey"))
      Joins.enrich(inactive, nation,
          inactive("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_inactive"))
        .orderBy(col("n_name"))
    },


    // --- M5 J3: concat heterogeneous sources (unionByName) ---
    "q17_union_concat" -> rounded("sum_bal" -> 2)({ (spark, dir) =>
      val customer = tbl(spark, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("acctbal"),
                col("c_mktsegment").as("segment"),
                lit("customer").as("kind"))
      val supplier = tbl(spark, dir, "supplier")
        .select(col("s_suppkey").as("key"), col("s_acctbal").as("acctbal"),
                lit("supplier").as("kind"))
      SetOps.concat(Seq(customer, supplier))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum("acctbal").as("sum_bal"),
             count(col("segment")).as("n_with_segment"))
        .orderBy(col("kind"))
    }),


    // --- M5 J4: nested reassembly (un-explode): order + lineitem array ---
    "q18_nested_reassembly" -> { (spark, dir) =>
      val orders = tbl(spark, dir, "orders")
      val li = tbl(spark, dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
      // quantities rendered as a CSV of ints (integer-valued in the data):
      // the driver compare hashes scalar cells, not arrays
      Joins.reassemble(orders, li, "o_orderkey",
          "lines", Seq(col("l_linenumber"), col("l_quantity")))
        .select(col("o_orderkey"),
                when(col("lines").isNull, lit(0))
                  .otherwise(size(col("lines"))).as("n_lines"),
                when(col("lines").isNull, lit(null))
                  .otherwise(array_join(transform(col("lines"),
                    x => x.getField("l_quantity").cast("int").cast("string")),
                    ",")).as("quantities"))
        .orderBy(col("o_orderkey"))
    },


    // --- M7/2l: tumbling-window 2-D dense cube over the event stream ---
    "q19_events_cube" -> rounded("sum_value" -> 4)(dated("day")(jx("""
      {"from": "events",
       "edges": [
         {"name": "day", "value": "ts",
          "domain": {"type": "time", "min": "2024-01-01",
                     "max": "2024-01-08", "interval": "day"}},
         {"name": "etype", "value": "event_type",
          "domain": {"type": "set",
                     "partitions": ["click", "view", "purchase", "signup",
                                    "error"]}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "sum_value", "value": "value",
                   "aggregate": "sum"}]}"""))),


    // --- meta.columns: schema-as-a-table introspection ---
    "q34_meta_columns" -> { (spark, dir) =>
      MetaColumns.table(spark, new Catalog(spark, dir))
        .orderBy(col("table_name"), col("column_name"))
    },


    // --- M1: remaining scalar op families — in/case/mod/exp/floor-digits/
    //     abs/split+get/tuple (SURVEY.md §2i) ---
    "q36_exprs_misc" -> rounded("power_kprice" -> 6)(jx("""
      {"from": "orders",
       "select": [
         "o_orderkey",
         {"name": "is_active", "value": {"in": {"o_orderstatus": ["O", "P"]}}},
         {"name": "prio_class",
          "value": {"case": [
            {"when": {"prefix": {"o_orderpriority": "1"}}, "then": {"literal": "urgent"}},
            {"when": {"prefix": {"o_orderpriority": "2"}}, "then": {"literal": "high"}},
            {"literal": "normal"}]}},
         {"name": "key_mod7", "value": {"mod": ["o_orderkey", 7]}},
         {"name": "power_kprice",
          "value": {"exp": [{"div": ["o_totalprice", 1000]}, 2]}},
         {"name": "price_floor2", "value": {"floor": ["o_totalprice", 2]}},
         {"name": "abs_centered",
          "value": {"abs": {"sub": ["o_totalprice", 150000]}}},
         {"name": "prio_word",
          "value": {"get": [{"split": ["o_orderpriority", "-"]}, 2]}},
         {"name": "between_num",
          "value": {"between": ["o_totalprice", 50000, 150000]}}],
       "sort": ["o_orderkey"]}""")),


    // --- M3: calendar-month TimeDomain (Duration is calendar-aware) ---
    "q38_edges_month" -> rounded("sum_price" -> 2)(jx("""
      {"from": "orders",
       "edges": [{"name": "month", "value": "o_orderdate",
                  "domain": {"type": "time", "min": "1996-01-01",
                             "max": "1997-01-01", "interval": "month"}}],
       "select": [{"name": "n", "aggregate": "count"},
                  {"name": "sum_price", "value": "o_totalprice",
                   "aggregate": "sum"}]}""")),


    // --- M1: subquery from — `from: {query}` composes pipelines ---
    "q39_subquery_from" -> rounded("avg_rev" -> 4)(jx("""
      {"from": {"from": "lineitem",
                "where": {"gte": ["l_shipdate", {"date": "1997-01-01"}]},
                "groupby": ["l_orderkey"],
                "select": [{"name": "order_rev",
                            "value": {"mult": ["l_extendedprice",
                                               {"sub": [1, "l_discount"]}]},
                            "aggregate": "sum"},
                           {"name": "n_lines", "aggregate": "count"}]},
       "groupby": ["n_lines"],
       "select": [{"name": "n_orders", "aggregate": "count"},
                  {"name": "avg_rev", "value": "order_rev",
                   "aggregate": "average"}],
       "sort": ["n_lines"]}""")),


    // --- M4+M2: first/last window aggregates + exists aggregate,
    //     composed through a subquery (SURVEY.md §2d, §2f) ---
    "q40_first_last_exists" -> jx("""
      {"from": {"from": "lineitem",
                "where": {"and": [{"gte": ["l_shipdate", {"date": "1997-01-01"}]},
                                  {"lt":  ["l_shipdate", {"date": "1997-02-01"}]}]},
                "select": ["l_suppkey", "first_qty", "last_qty",
                           {"name": "hd",
                            "value": {"when": {"gt": ["l_discount", 0.08]},
                                      "then": 1}}],
                "window": [
                  {"name": "first_qty", "value": "l_quantity",
                   "aggregate": "first", "edges": ["l_suppkey"],
                   "sort": ["l_shipdate", "l_orderkey", "l_linenumber"]},
                  {"name": "last_qty", "value": "l_quantity",
                   "aggregate": "last", "edges": ["l_suppkey"],
                   "sort": ["l_shipdate", "l_orderkey", "l_linenumber"]}]},
       "groupby": ["l_suppkey"],
       "select": [
         {"name": "first_qty", "value": "first_qty", "aggregate": "one"},
         {"name": "last_qty", "value": "last_qty", "aggregate": "one"},
         {"name": "any_high_disc", "value": "hd", "aggregate": "exists"}],
       "sort": ["l_suppkey"]}"""),


    // --- M5: as-of (point-in-time) join — last signup before each
    //     purchase, per user; oracle is DuckDB's native ASOF JOIN ---
    "q41_asof_join" -> { (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val signups = events.filter(col("event_type") === "signup")
        .select("user_id", "ts", "event_id")
      Joins.asOf(purchases, signups, "user_id",
          col("ts"), col("ts"), Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("asof_event_id"))
        .orderBy(col("event_id"))
    },


    // --- M5: range join — event values against arbitrary bands ---
    "q42_range_join" -> rounded("sum_value" -> 4)({ (spark, dir) =>
      import spark.implicits._
      val events = tbl(spark, dir, "events")
      val bands = Seq(
        ("tiny", 0.0, 50.0), ("small", 50.0, 100.0),
        ("mid", 100.0, 200.0), ("large", 200.0, 500.0),
        ("huge", 500.0, 2000.0))
        .toDF("band", "lo", "hi")
      Joins.rangeJoin(events, col("value"), bands,
          col("lo"), col("hi"), bucketWidth = 100.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .orderBy(col("band"))
    }),


    // --- §2d breadth: grouping-set subtotals (rollup) — not a JX clause
    //     (JX's cube is the edges model); Spark-native for oracle parity ---
    "q47_rollup" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      // subtotal rows are tagged via grouping(), not NULL-coalescing,
      // so genuine NULL group values can never masquerade as subtotals
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_quantity")), 4).as("sum_qty"),
             grouping(col("l_returnflag")).as("__g1"),
             grouping(col("l_linestatus")).as("__g2"))
        .select(when(col("__g1") === 1, lit("ALL"))
                  .otherwise(col("l_returnflag")).as("rflag"),
                when(col("__g2") === 1, lit("ALL"))
                  .otherwise(col("l_linestatus")).as("lstatus"),
                col("n"), col("sum_qty"))
        .orderBy(col("rflag"), col("lstatus"))
    },


    // --- cube/table result shaping: pivot (2-D dense table, the format
    //     half of the edges model as a first-class relational op) ---
    "q48_pivot" -> { (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = events.withColumn("day", to_date(col("ts")))
        .groupBy(col("day")).pivot("event_type", types).agg(count(lit(1)))
      p.select(col("day") +: types.map(t =>
          coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy(col("day"))
    },


    // --- P2/2i: tuple -> nested struct, then leaves projection
    //     flattens it back with dotted->underscore names ---
    "q56_select_leaves" -> jx("""
      {"from": {"from": "events",
                "select": ["event_id",
                           {"name": "kv",
                            "value": {"tuple": ["event_type", "value"]}}]},
       "select": {"leaves": "."},
       "sort": ["event_id"],
       "limit": 100}"""),


    // --- 2d stats bundle: one aggregate producing the full stats
    //     struct, flattened for the oracle ---
    "q58_stats_bundle" -> { (spark, dir) =>
      jx("""{"from": "lineitem", "groupby": ["l_returnflag"],
            "select": [{"name": "s", "value": "l_quantity",
                        "aggregate": "stats"}],
            "sort": ["l_returnflag"]}""")(spark, dir)
        .select(col("l_returnflag"),
          col("s.count").as("n"),
          round(col("s.sum"), 4).as("sum_qty"),
          round(col("s.min"), 4).as("min_qty"),
          round(col("s.max"), 4).as("max_qty"),
          round(col("s.avg"), 6).as("avg_qty"),
          round(col("s.std"), 6).as("std_qty"),
          round(col("s.var"), 6).as("var_qty"))
    },


    // --- 2h: intersect / except over customer key sets ---
    "q59_intersect_except" -> { (spark, dir) =>
      val orders = tbl(spark, dir, "orders")
      val o = orders.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val f = orders.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      SetOps.intersect(o, f).agg(count(lit(1)).as("n_both"))
        .crossJoin(SetOps.except(o, f).agg(count(lit(1)).as("n_only_open")))
    },


    // --- 2k T1/T2: normalization reshape roundtrip — children nested
    //     into the parent doc (J4 reassemble), then T1-style
    //     re-normalized by explode with parent fields carried; the
    //     roundtrip must equal the plain relational join ---
    "q63_nest_unnest" -> rounded("sum_qty" -> 4)({ (spark, dir) =>
      val orders = tbl(spark, dir, "orders")
      val li = tbl(spark, dir, "lineitem")
        .withColumnRenamed("l_orderkey", "o_orderkey")
      val nested = Joins.reassemble(orders, li, "o_orderkey", "lines",
        Seq(col("l_linenumber"), col("l_quantity")))
      nested
        .select(col("o_orderstatus"), explode(col("lines")).as("ln"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
             sum(col("ln.l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),


    // --- 2d union/list aggregates as deterministic CSV columns (both
    //     are array_sort'ed, so the CSV is stable under parallelism) ---
    "q64_union_list_aggs" -> { (spark, dir) =>
      jx("""{"from": "orders",
            "where": {"lt": ["o_custkey", 50]},
            "groupby": ["o_orderstatus"],
            "select": [
              {"name": "prios", "value": "o_orderpriority",
               "aggregate": "union"},
              {"name": "keys", "value": "o_orderkey", "aggregate": "list"}],
            "sort": ["o_orderstatus"]}""")(spark, dir)
        .select(col("o_orderstatus"),
          array_join(col("prios"), ",").as("prios_csv"),
          array_join(transform(col("keys"), _.cast(StringType)), ",")
            .as("keys_csv"))
    },


    // --- 2d approx aggregates (the exact=false scale path): HLL
    //     cardinality and approx percentile, checked against their
    //     exact twins with relative-error bounds (HLL default rsd is
    //     5%; bound 10% => deterministic-true unless the sketch path
    //     breaks; the exact values themselves are SQL-oracled) ---
    "q67_approx_aggs" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      li.agg(
          countDistinct(col("l_orderkey")).as("n_exact"),
          approx_count_distinct(col("l_orderkey")).as("__n_approx"),
          expr("percentile(l_extendedprice, 0.5)").as("__med_exact"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("__med_approx"))
        .select(col("n_exact"),
          (abs(col("__n_approx") - col("n_exact")) <=
            col("n_exact") * 0.1).as("card_within_10pct"),
          (abs(col("__med_approx") - col("__med_exact")) <=
            abs(col("__med_exact")) * 0.05).as("median_within_5pct"))
    },


    // --- meta.tables: the table inventory as a queryable frame ---
    "q74_meta_tables" -> { (spark, dir) =>
      MetaColumns.tables(spark, new Catalog(spark, dir))
        .orderBy(col("table_name"))
    },


    // --- 2i items: object -> [{name, value}] pairs (stringified
    //     values), through a tuple-built struct ---
    "q65_items" -> { (spark, dir) =>
      jx("""{"from": {"from": "events",
                      "select": ["event_id",
                                 {"name": "kv",
                                  "value": {"tuple": ["event_type",
                                                      "user_id"]}}]},
            "select": ["event_id",
                       {"name": "kv_items", "value": {"items": "kv"}}],
            "sort": ["event_id"],
            "limit": 50}""")(spark, dir)
        .select(col("event_id"),
          array_join(transform(col("kv_items"),
            s => concat_ws("=", s.getField("name"), s.getField("value"))),
            ";").as("items_csv"))
    },


    // --- J2 block co-group proper: typed cogroup of orders and
    //     lineitem per order key, the per-key imperative-merge form
    //     (l_quantity is integral, so the in-function double sum is
    //     order-independent) ---
    "q88_cogroup" -> rounded("sum_qty" -> 4)({ (spark, dir) =>
      import spark.implicits._
      val o = tbl(spark, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey").cast("long")).as[Long]
      val li = tbl(spark, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey").cast("long"),
          col("l_quantity").cast("double")).as[(Long, Double)]
      Joins.coGroup(o, li)(identity, _._1) { (k, os, ls) =>
        val items = ls.toVector
        Iterator((k, os.size.toLong, items.size.toLong,
          items.map(_._2).sum))
      }.toDF("o_orderkey", "n_orders", "n_items", "sum_qty")
        .orderBy(col("o_orderkey"))
    }),


    // --- cube result format end-to-end: a 2-edge JX query with
    //     format:"cube" runs through Formats.toCube (the DRIVER-SIDE
    //     dense N-dim matrix the reference's query service returns),
    //     then the cube is re-exploded to (edge_a, edge_b, value) rows
    //     INSIDE the query — coordinate arithmetic, domain order,
    //     densified empty cells ("X" status never occurs -> n=0 row)
    //     and the allowNulls overflow partition (2 of 5 priorities are
    //     outside the domain -> the null prio row) all land in the
    //     hash-compare. The cube is bounded by the domain product
    //     (4×4 cells), never by the fact table — driver-safe ---
    "q92_cube_format" -> rounded("sum_price" -> 2)({ (spark, dir) =>
      val q = QueryParser.parse("""
        {"from": "orders",
         "format": "cube",
         "edges": [
           {"name": "status", "value": "o_orderstatus",
            "domain": {"type": "set",
                       "partitions": ["O", "F", "P", "X"]}},
           {"name": "prio", "value": "o_orderpriority", "allowNulls": true,
            "domain": {"type": "set",
                       "partitions": ["1-URGENT", "2-HIGH", "3-MEDIUM"]}}],
         "select": [{"name": "n", "aggregate": "count"},
                    {"name": "sum_price", "value": "o_totalprice",
                     "aggregate": "sum"}]}""")
      val cube = Formats
        .shaped(new Runner(spark, new Catalog(spark, dir)), q)
        .asInstanceOf[Formats.JxCube]
      val nCube = cube.data("n")
      val pCube = cube.data("sum_price")
      val rows = for {
        (a, i) <- cube.domains(0).zipWithIndex
        (b, j) <- cube.domains(1).zipWithIndex
      } yield org.apache.spark.sql.Row(a, b,
          nCube(i).asInstanceOf[IndexedSeq[Any]](j),
          pCube(i).asInstanceOf[IndexedSeq[Any]](j))
      val schema = StructType(Seq(
        org.apache.spark.sql.types.StructField("status", StringType),
        org.apache.spark.sql.types.StructField("prio", StringType),
        org.apache.spark.sql.types.StructField("n", LongType),
        org.apache.spark.sql.types.StructField("sum_price", DoubleType)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    }),


    // --- JX over LLM output (Runner.runOn composes the two halves of
    //     the library): a dense 2-edge cube — SetDomain on lang ×
    //     RangeDomain on the quality-model score decile — computed
    //     over the classifier frame. The decile edge multiplies the
    //     score by 10 INSIDE JX so bucket arithmetic stays on
    //     engine-identical doubles (a 0.1-interval domain would join
    //     on inexact binary fractions) ---
    "q106_jx_over_llm" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val scored = graft.llm.QualityModel.classify(docs, col("text"))
        .select(col("doc_id"), col("lang"), col("score"))
      val q = QueryParser.parse("""
        {"from": "scored",
         "edges": [
           {"name": "lang", "value": "lang",
            "domain": {"type": "set",
                       "partitions": ["de", "en", "es", "fr"]}},
           {"name": "score_decile", "value": {"mult": ["score", 10]},
            "domain": {"type": "range", "min": 0, "max": 10,
                       "interval": 1}}],
         "select": [{"name": "n", "aggregate": "count"}]}""")
      Runner.runOn(scored, q)
        .orderBy(col("lang"), col("score_decile"))
    },


    // --- wide→long reshaping with the NATIVE unpivot operator (the
    //     inverse of q48's pivot): per-flag count metrics melt to
    //     (flag, metric, value) rows — row-local, no shuffle beyond
    //     the feeding aggregate. ---
    "q237_unpivot" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("n_rows"), col("n_parts"), col("n_supps")),
          "metric", "value")
        .orderBy(col("l_returnflag"), col("metric"))
    },


    // --- GROUPING SETS (the general form behind q47's rollup and
    //     q92's cube): explicit set list (type, dow) / (type) /
    //     (dow) / () with grouping_id disambiguating which NULLs are
    //     subtotal markers vs data — one pass, Spark expands sets
    //     map-side. ---
    "q265_grouping_sets" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("event_type"),
          (dayofweek(col("ts")) - 1).cast("long").as("dow"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      ev.createOrReplaceTempView("graft_q265_ev")
      spark.sql("""
        SELECT event_type, dow, grouping_id() AS gid,
               CAST(count(*) AS BIGINT) AS n,
               sum(cents) AS sum_cents
        FROM graft_q265_ev
        GROUP BY GROUPING SETS ((event_type, dow), (event_type),
          (dow), ())
        ORDER BY gid, event_type, dow""")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q01_groupby_aggs" -> """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 4) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 6) AS avg_qty,
             round(avg(l_extendedprice), 6) AS avg_price,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",


    "q02_filter_select_sort" -> """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice * (1 - l_discount), 4) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-07-01'
        AND l_discount > 0.05
      ORDER BY l_extendedprice * (1 - l_discount) DESC,
               l_orderkey, l_linenumber
      LIMIT 100""",


    "q03_edges_set_dense" -> """
      WITH d(status, ord) AS (VALUES ('O',0),('F',1),('P',2),('X',3)),
      s AS (SELECT o_orderstatus AS status, count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY 1)
      SELECT d.status, coalesce(s.n, 0) AS n, s.sum_price
      FROM d LEFT JOIN s USING (status)
      ORDER BY d.ord""",


    "q04_edges_time" -> """
      WITH d AS (SELECT unnest(generate_series(TIMESTAMP '1996-01-01',
                   TIMESTAMP '1996-03-25', INTERVAL 7 DAY)) AS week),
      s AS (SELECT TIMESTAMP '1996-01-01'
                   + CAST(floor(date_diff('day', TIMESTAMP '1996-01-01',
                       o_orderdate) / 7) AS INT) * INTERVAL 7 DAY AS week,
                   count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY 1)
      SELECT CAST(d.week AS DATE) AS week, coalesce(s.n, 0) AS n, s.sum_price
      FROM d LEFT JOIN s ON d.week = s.week
      ORDER BY d.week""",


    "q05_edges_range" -> """
      WITH d AS (SELECT CAST(unnest(generate_series(0, 50, 10)) AS DOUBLE)
                   AS qty_bucket),
      s AS (SELECT floor(l_quantity / 10) * 10 AS qty_bucket,
                   count(*) AS n, round(avg(l_extendedprice), 6) AS avg_price
            FROM lineitem GROUP BY 1)
      SELECT d.qty_bucket, coalesce(s.n, 0) AS n, s.avg_price
      FROM d LEFT JOIN s USING (qty_bucket)
      ORDER BY d.qty_bucket""",


    "q358_wide_cube" -> """
      WITH d AS (SELECT CAST(unnest(generate_series(0, 599984, 16))
                   AS DOUBLE) AS ok_bucket),
      s AS (SELECT floor(l_orderkey / 16) * 16 AS ok_bucket,
                   count(*) AS n, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY 1)
      SELECT d.ok_bucket, coalesce(s.n, 0) AS n, s.sum_qty
      FROM d LEFT JOIN s USING (ok_bucket)
      ORDER BY d.ok_bucket""",


    "q06_edges_topk" -> """
      SELECT p_brand AS brand, count(*) AS n,
             round(sum(p_retailprice), 2) AS sum_retail
      FROM part GROUP BY 1
      ORDER BY count(*) DESC, p_brand
      LIMIT 5""",


    "q07_edges_predicate" -> """
      WITH d(tier, ord) AS (VALUES ('negative',0),('low',1),('high',2)),
      s AS (SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                        WHEN c_acctbal >= 0 AND c_acctbal < 5000 THEN 'low'
                        WHEN c_acctbal >= 5000 THEN 'high' END AS tier,
                   count(*) AS n, round(avg(c_acctbal), 6) AS avg_bal
            FROM customer GROUP BY 1)
      SELECT d.tier, coalesce(s.n, 0) AS n, s.avg_bal
      FROM d LEFT JOIN s USING (tier)
      ORDER BY d.ord""",


    "q08_window" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber,
             round(sum(l_quantity) OVER w, 4) AS running_qty,
             lag(l_quantity) OVER w2 AS prev_qty,
             CAST(row_number() OVER w2 - 1 AS INT) AS rn
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-02-01'
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY l_suppkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber)
      ORDER BY l_suppkey, rn""",


    "q09_global_aggs" -> """
      SELECT count(*) AS n, round(sum(l_quantity), 4) AS sum_qty,
             min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
             round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
             round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
             count(DISTINCT l_partkey) AS n_parts,
             round(stddev_samp(l_quantity), 6) AS std_qty
      FROM lineitem""",


    "q10_string_exprs" -> """
      SELECT p_partkey,
             substr(p_name, 1, 5) AS name_l5,
             substr(p_name, greatest(length(p_name) - 3, 1), 4) AS name_r4,
             substr(p_name, 7, greatest(length(p_name) - 6, 0)) AS name_tail,
             NULLIF(strpos(p_name, 'ol'), 0) - 1 AS pos_ol,
             concat_ws(' / ', p_brand, p_type) AS brand_type,
             (p_type LIKE 'ECONOMY%') AS is_economy,
             regexp_full_match(p_name, '.*red.*') AS has_red,
             length(p_name) AS n_words
      FROM part ORDER BY p_partkey""",


    "q11_null_semantics" -> """
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN '' ELSE c_name END AS maybe_name,
             (CASE WHEN c_acctbal < 0 THEN '' ELSE c_name END IS NULL OR
              CASE WHEN c_acctbal < 0 THEN '' ELSE c_name END = '')
               AS is_missing,
             COALESCE(NULLIF(CASE WHEN c_acctbal < 0 THEN ''
                                  ELSE c_name END, ''), 'NONE') AS fallback,
             c_acctbal AS add_ignores_missing,
             CAST(0 AS DOUBLE) AS all_missing_default,
             TRUE AS eq_null_safe
      FROM customer ORDER BY c_custkey""",


    "q12_time_exprs" -> """
      SELECT CAST(to_timestamp(floor(epoch(ts) / 86400) * 86400) AS DATE)
               AS day,
             count(*) AS n
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      GROUP BY 1 ORDER BY 1""",


    "q13_collect_aggs" -> """
      SELECT l_returnflag,
             array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
               AS statuses,
             count(DISTINCT l_linestatus) AS n_status,
             min(l_returnflag) AS one_flag
      FROM lineitem GROUP BY 1 ORDER BY 1""",


    "q14_join_enrich" -> """
      SELECT r_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1 ORDER BY 1""",


    "q15_semi_join" -> """
      SELECT o_orderstatus, count(*) AS n
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
      GROUP BY 1 ORDER BY 1""",


    "q16_anti_join" -> """
      SELECT n_name, count(*) AS n_inactive
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2001-01-01')
      GROUP BY 1 ORDER BY 1""",


    "q17_union_concat" -> """
      WITH u AS (
        SELECT c_custkey AS key, c_acctbal AS acctbal,
               c_mktsegment AS segment, 'customer' AS kind FROM customer
        UNION ALL
        SELECT s_suppkey, s_acctbal, NULL, 'supplier' FROM supplier)
      SELECT kind, count(*) AS n, round(sum(acctbal), 2) AS sum_bal,
             count(segment) AS n_with_segment
      FROM u GROUP BY 1 ORDER BY 1""",


    "q18_nested_reassembly" -> """
      WITH lines AS (
        SELECT l_orderkey AS o_orderkey,
               CAST(count(*) AS INT) AS n_lines,
               array_to_string(list(CAST(l_quantity AS INT)
                 ORDER BY l_linenumber, l_quantity), ',') AS quantities
        FROM lineitem GROUP BY 1)
      SELECT o.o_orderkey, coalesce(l.n_lines, 0) AS n_lines, l.quantities
      FROM orders o LEFT JOIN lines l USING (o_orderkey)
      ORDER BY o.o_orderkey""",


    "q19_events_cube" -> """
      WITH d AS (SELECT unnest(generate_series(DATE '2024-01-01',
                   DATE '2024-01-07', INTERVAL 1 DAY)) AS day),
      e AS (SELECT unnest(['click','view','purchase','signup','error'])
              AS etype, unnest([0,1,2,3,4]) AS eord),
      s AS (SELECT CAST(ts AS DATE) AS day, event_type AS etype,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
            GROUP BY 1, 2)
      SELECT CAST(d.day AS DATE) AS day, e.etype,
             coalesce(s.n, 0) AS n, s.sum_value
      FROM d CROSS JOIN e
      LEFT JOIN s ON s.day = d.day AND s.etype = e.etype
      ORDER BY d.day, e.eord""",


    // The three timestamp-typed cells are DERIVED from the parquet
    // files via typeof() (DuckDB reads UTC-adjusted parquet timestamps
    // as TIMESTAMP WITH TIME ZONE, NTZ as TIMESTAMP) — a testdata
    // regeneration that flips the writer's UTC flag (as 2026-08-13 did
    // for events.ts) can no longer stale a hard-coded literal.
    "q34_meta_columns" -> """
      SELECT *, false AS virtual FROM (
      SELECT * FROM (VALUES
        ('customer','c_acctbal','double','number','.'),
        ('customer','c_custkey','bigint','number','.'),
        ('customer','c_mktsegment','string','string','.'),
        ('customer','c_name','string','string','.'),
        ('customer','c_nationkey','int','number','.'),
        ('documents','doc_id','bigint','number','.'),
        ('documents','lang','string','string','.'),
        ('documents','n_chars','bigint','number','.'),
        ('documents','source','string','string','.'),
        ('documents','text','string','string','.'),
        ('embeddings','embedding','array<float>','number','.'),
        ('embeddings','label','int','number','.'),
        ('embeddings','vec_id','bigint','number','.'),
        ('events','event_id','bigint','number','.'),
        ('events','event_type','string','string','.'),
        ('events','props','string','string','.'),
        ('events','user_id','bigint','number','.'),
        ('events','value','double','number','.'),
        ('lineitem','l_discount','double','number','.'),
        ('lineitem','l_extendedprice','double','number','.'),
        ('lineitem','l_linenumber','int','number','.'),
        ('lineitem','l_linestatus','string','string','.'),
        ('lineitem','l_orderkey','bigint','number','.'),
        ('lineitem','l_partkey','bigint','number','.'),
        ('lineitem','l_quantity','double','number','.'),
        ('lineitem','l_returnflag','string','string','.'),
        ('lineitem','l_suppkey','bigint','number','.'),
        ('lineitem','l_tax','double','number','.'),
        ('nation','n_name','string','string','.'),
        ('nation','n_nationkey','int','number','.'),
        ('nation','n_regionkey','int','number','.'),
        ('orders','o_custkey','bigint','number','.'),
        ('orders','o_orderkey','bigint','number','.'),
        ('orders','o_orderpriority','string','string','.'),
        ('orders','o_orderstatus','string','string','.'),
        ('orders','o_totalprice','double','number','.'),
        ('part','p_brand','string','string','.'),
        ('part','p_name','string','string','.'),
        ('part','p_partkey','bigint','number','.'),
        ('part','p_retailprice','double','number','.'),
        ('part','p_size','int','number','.'),
        ('part','p_type','string','string','.'),
        ('region','r_name','string','string','.'),
        ('region','r_regionkey','int','number','.'),
        ('supplier','s_acctbal','double','number','.'),
        ('supplier','s_name','string','string','.'),
        ('supplier','s_nationkey','int','number','.'),
        ('supplier','s_suppkey','bigint','number','.'))
        AS t(table_name, column_name, spark_type, jx_type, nested_path)
      UNION ALL
      SELECT 'events', 'ts',
             CASE WHEN ty = 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
                  ELSE 'timestamp_ntz' END, 'time', '.'
      FROM (SELECT typeof(ts) AS ty FROM events LIMIT 1)
      UNION ALL
      SELECT 'lineitem', 'l_shipdate',
             CASE WHEN ty = 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
                  ELSE 'timestamp_ntz' END, 'time', '.'
      FROM (SELECT typeof(l_shipdate) AS ty FROM lineitem LIMIT 1)
      UNION ALL
      SELECT 'orders', 'o_orderdate',
             CASE WHEN ty = 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
                  ELSE 'timestamp_ntz' END, 'time', '.'
      FROM (SELECT typeof(o_orderdate) AS ty FROM orders LIMIT 1)
      )
      ORDER BY table_name, column_name""",


    "q36_exprs_misc" -> """
      SELECT o_orderkey,
             o_orderstatus IN ('O', 'P') AS is_active,
             CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent'
                  WHEN o_orderpriority LIKE '2%' THEN 'high'
                  ELSE 'normal' END AS prio_class,
             o_orderkey % 7 AS key_mod7,
             round(pow(o_totalprice / 1000, 2), 6) AS power_kprice,
             floor(o_totalprice * 100) / 100 AS price_floor2,
             abs(o_totalprice - 150000) AS abs_centered,
             string_split(o_orderpriority, '-')[2] AS prio_word,
             o_totalprice BETWEEN 50000 AND 150000 AS between_num
      FROM orders ORDER BY o_orderkey""",


    "q38_edges_month" -> """
      WITH d AS (SELECT CAST(unnest(generate_series(DATE '1996-01-01',
                   DATE '1996-12-01', INTERVAL 1 MONTH)) AS DATE) AS month),
      s AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1)
      SELECT d.month, coalesce(s.n, 0) AS n, s.sum_price
      FROM d LEFT JOIN s USING (month)
      ORDER BY d.month""",


    "q39_subquery_from" -> """
      WITH per_order AS (
        SELECT l_orderkey,
               sum(l_extendedprice * (1 - l_discount)) AS order_rev,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        GROUP BY 1)
      SELECT n_lines, count(*) AS n_orders,
             round(avg(order_rev), 4) AS avg_rev
      FROM per_order GROUP BY 1 ORDER BY 1""",


    "q40_first_last_exists" -> """
      WITH w AS (
        SELECT l_suppkey,
               first_value(l_quantity) OVER win AS first_qty,
               last_value(l_quantity) OVER
                 (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS last_qty,
               CASE WHEN l_discount > 0.08 THEN 1 END AS hd
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-02-01'
        WINDOW win AS (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber))
      SELECT l_suppkey, min(first_qty) AS first_qty,
             min(last_qty) AS last_qty,
             bool_or(hd IS NOT NULL) AS any_high_disc
      FROM w GROUP BY 1 ORDER BY 1""",


    "q41_asof_join" -> """
      WITH p AS (SELECT user_id, event_id, ts FROM events
                 WHERE event_type = 'purchase'),
      s AS (SELECT user_id, event_id AS signup_id, ts AS sts FROM events
            WHERE event_type = 'signup')
      SELECT p.user_id, p.event_id, s.signup_id AS asof_event_id
      FROM p ASOF LEFT JOIN s
        ON p.user_id = s.user_id AND p.ts >= s.sts
      ORDER BY p.event_id""",


    "q42_range_join" -> """
      WITH bands(band, lo, hi) AS (VALUES
        ('tiny', 0.0, 50.0), ('small', 50.0, 100.0),
        ('mid', 100.0, 200.0), ('large', 200.0, 500.0),
        ('huge', 500.0, 2000.0))
      SELECT band, count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events JOIN bands ON value >= lo AND value < hi
      GROUP BY 1 ORDER BY 1""",


    "q47_rollup" -> """
      SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
                  ELSE l_returnflag END AS rflag,
             CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
                  ELSE l_linestatus END AS lstatus,
             count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY 1, 2""",


    "q48_pivot" -> """
      SELECT CAST(ts AS DATE) AS day,
             count(*) FILTER (WHERE event_type = 'click')    AS click,
             count(*) FILTER (WHERE event_type = 'error')    AS error,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup')   AS signup,
             count(*) FILTER (WHERE event_type = 'view')     AS view
      FROM events GROUP BY 1 ORDER BY 1""",


    "q56_select_leaves" -> """
      SELECT event_id, event_type AS kv_event_type, value AS kv_value
      FROM events ORDER BY event_id LIMIT 100""",


    "q58_stats_bundle" -> """
      SELECT l_returnflag, count(l_quantity) AS n,
             round(sum(l_quantity), 4) AS sum_qty,
             round(min(l_quantity), 4) AS min_qty,
             round(max(l_quantity), 4) AS max_qty,
             round(avg(l_quantity), 6) AS avg_qty,
             round(stddev_samp(l_quantity), 6) AS std_qty,
             round(var_samp(l_quantity), 6) AS var_qty
      FROM lineitem GROUP BY 1 ORDER BY 1""",


    "q59_intersect_except" -> """
      SELECT (SELECT count(*) FROM
                (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                 INTERSECT
                 SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
               AS n_both,
             (SELECT count(*) FROM
                (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                 EXCEPT
                 SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
               AS n_only_open""",


    "q63_nest_unnest" -> """
      SELECT o_orderstatus, count(*) AS n_lines,
             round(sum(l_quantity), 4) AS sum_qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY 1""",


    "q64_union_list_aggs" -> """
      SELECT o_orderstatus,
             array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
               AS prios_csv,
             array_to_string(list_sort(list(o_orderkey)), ',') AS keys_csv
      FROM orders WHERE o_custkey < 50
      GROUP BY 1 ORDER BY 1""",


    "q67_approx_aggs" -> """
      SELECT count(DISTINCT l_orderkey) AS n_exact,
             TRUE AS card_within_10pct,
             TRUE AS median_within_5pct
      FROM lineitem""",


    "q74_meta_tables" -> """
      SELECT *, false AS virtual FROM (
        SELECT 'customer' AS table_name,
               CAST((SELECT count(*) FROM (DESCRIBE customer)) AS INT)
                 AS n_columns
        UNION ALL SELECT 'documents',
          CAST((SELECT count(*) FROM (DESCRIBE documents)) AS INT)
        UNION ALL SELECT 'embeddings',
          CAST((SELECT count(*) FROM (DESCRIBE embeddings)) AS INT)
        UNION ALL SELECT 'events',
          CAST((SELECT count(*) FROM (DESCRIBE events)) AS INT)
        UNION ALL SELECT 'lineitem',
          CAST((SELECT count(*) FROM (DESCRIBE lineitem)) AS INT)
        UNION ALL SELECT 'nation',
          CAST((SELECT count(*) FROM (DESCRIBE nation)) AS INT)
        UNION ALL SELECT 'orders',
          CAST((SELECT count(*) FROM (DESCRIBE orders)) AS INT)
        UNION ALL SELECT 'part',
          CAST((SELECT count(*) FROM (DESCRIBE part)) AS INT)
        UNION ALL SELECT 'region',
          CAST((SELECT count(*) FROM (DESCRIBE region)) AS INT)
        UNION ALL SELECT 'supplier',
          CAST((SELECT count(*) FROM (DESCRIBE supplier)) AS INT))
      ORDER BY table_name""",


    "q65_items" -> """
      SELECT event_id,
             'event_type=' || event_type || ';user_id=' || user_id
               AS items_csv
      FROM events ORDER BY event_id LIMIT 50""",


    // full-outer grouped join == cogroup over the union of keys;
    // missing sides land as zero counts / 0.0 sums like the empty
    // iterator does
    "q88_cogroup" -> """
      WITH o AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0),
      l AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
                   sum(l_quantity) AS s
            FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY 1)
      SELECT coalesce(o.o_orderkey, l.l_orderkey) AS o_orderkey,
             CAST(CASE WHEN o.o_orderkey IS NULL THEN 0 ELSE 1 END
               AS BIGINT) AS n_orders,
             coalesce(l.n, 0) AS n_items,
             round(coalesce(l.s, 0.0), 4) AS sum_qty
      FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
      ORDER BY 1""",


    // dense 2-edge cube re-exploded to rows: every (status, prio) cell
    // of the domain product, count coalesced to 0 in empty cells, the
    // out-of-domain priorities lumped into the null overflow partition
    "q92_cube_format" -> """
      WITH da(status) AS (VALUES ('O'), ('F'), ('P'), ('X')),
      db(prio) AS (VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'), (NULL)),
      s AS (SELECT o_orderstatus AS status,
                   CASE WHEN o_orderpriority IN
                          ('1-URGENT', '2-HIGH', '3-MEDIUM')
                        THEN o_orderpriority END AS prio,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY 1, 2)
      SELECT da.status, db.prio, coalesce(s.n, 0) AS n, s.sum_price
      FROM da CROSS JOIN db
      LEFT JOIN s ON s.status = da.status
                 AND s.prio IS NOT DISTINCT FROM db.prio""",


    // q97's scoring replayed, bucketed into a dense lang x decile cube
    // (4 x 10 cells, zero-filled); floor(score*10) on the bit-exact
    // score matches the JX RangeDomain bucket
    "q106_jx_over_llm" -> """
      WITH t AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> length(x) > 0) AS toks
        FROM documents),
      f AS (SELECT doc_id, lang,
              least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS lenf,
              CASE WHEN length(text) > 0 THEN
                CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
                     AS DOUBLE) / CAST(length(text) AS DOUBLE)
                ELSE 0.0 END AS punct,
              CASE WHEN length(text) > 0 THEN
                CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                     AS DOUBLE) / CAST(length(text) AS DOUBLE)
                ELSE 0.0 END AS upper_r,
              CASE WHEN len(toks) > 0 THEN
                CAST(len(list_filter(toks, x -> list_contains(
                  ['the','a','an','and','or','of','to','in','is','it','that',
                   'for','on','with','as','was','at','by','be','this'], x)))
                  AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS swr,
              CASE WHEN len(toks) > 0 THEN
                CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS mwl
            FROM t),
      l AS (SELECT doc_id, lang,
              ((((-1.0 + 1.2 * lenf) + -3.0 * punct) + -1.5 * upper_r)
                + 2.5 * swr) + -0.05 * mwl AS logit
            FROM f),
      s AS (SELECT doc_id, lang,
              0.5 + 0.5 * (logit / (1.0 + abs(logit))) AS score
            FROM l),
      agg AS (SELECT lang, floor(score * 10) AS score_decile,
                     count(*) AS n
              FROM s WHERE lang IN ('de', 'en', 'es', 'fr')
                AND floor(score * 10) >= 0 AND floor(score * 10) <= 9
              GROUP BY 1, 2),
      dl(lang) AS (VALUES ('de'), ('en'), ('es'), ('fr')),
      db AS (SELECT CAST(unnest(generate_series(0, 9)) AS DOUBLE)
               AS score_decile)
      SELECT dl.lang, db.score_decile, coalesce(agg.n, 0) AS n
      FROM dl CROSS JOIN db
      LEFT JOIN agg ON agg.lang = dl.lang
                   AND agg.score_decile = db.score_decile
      ORDER BY dl.lang, db.score_decile""",


    "q237_unpivot" -> """
      WITH w AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
                        CAST(count(DISTINCT l_partkey) AS BIGINT)
                          AS n_parts,
                        CAST(count(DISTINCT l_suppkey) AS BIGINT)
                          AS n_supps
                 FROM lineitem GROUP BY 1)
      SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM w
        UNION ALL
        SELECT l_returnflag, 'n_parts', n_parts FROM w
        UNION ALL
        SELECT l_returnflag, 'n_supps', n_supps FROM w)
      ORDER BY l_returnflag, metric""",


    // gid derived from subtotal NULLs (the grouped columns are never
    // null in the data, so NULL == subtotal marker): matches Spark's
    // grouping_id() bit order (first GROUP BY column = MSB)
    "q265_grouping_sets" -> """
      WITH e AS (SELECT event_type, dayofweek(ts) AS dow,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT event_type, dow,
             CAST(CASE WHEN event_type IS NULL THEN 2 ELSE 0 END +
                  CASE WHEN dow IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS gid,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM e
      GROUP BY GROUPING SETS ((event_type, dow), (event_type),
        (dow), ())
      ORDER BY gid, event_type, dow"""
  )
}
