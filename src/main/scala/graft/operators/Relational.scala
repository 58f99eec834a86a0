package graft.operators

import graft.{Fns, GQuery, Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core — the reference's operator inventory (SURVEY.md §2)
  * re-expressed as declarative DataFrame plans so Catalyst gets predicate
  * pushdown, column pruning and join selection for free.
  *
  * Scale notes are attached per query; the recurring ones:
  *  - dimension joins are `broadcast()`-hinted (reference dims are <50 values
  *    by construction, `R/schema_analyzer.R:34`);
  *  - every aggregate uses partial (map-side) aggregation via `groupBy.agg`;
  *  - global `row_number` windows appear ONLY on post-distinct dimension
  *    values (tiny by contract), never on fact rows (SURVEY.md §7.4 item 2).
  */
object Relational {
  import Fns._

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // ------------------------------------------------------------------
  // Derived-partsupp twin (VERDICT r10 ask #4): the synthetic schema has
  // no partsupp table, which blocked TPC-H Q2/Q11/Q20 and spec-form Q16.
  // Derive one both engines compute IDENTICALLY: the pair set is
  // DISTINCT (l_partkey, l_suppkey) from the fact, and the two spec
  // columns are md5-derived deterministic uniforms (two 8-hex-digit
  // slices = exact 32-bit uniforms in both engines — the pass@k recipe):
  //   ps_availqty   = slice(1,8) % 9999 + 1             (1..9999, spec range)
  //   ps_supplycost = (slice(9,8) % 100000 + 100)/100.0 (1.00..1001.99, 2dp)
  // The division is ONE IEEE op on identical integers, so the doubles
  // are bit-identical across engines; queries needing exact sums derive
  // integer cents via round(cost*100) exactly like the other 2-dp money
  // columns. Memoized per (session, lineitem stamp) with
  // localCheckpoint so the pair distinct — the one corpus-scale shuffle
  // — is paid once per corpus, not once per query (the Graph.tradeEdges
  // pattern).
  private def psTwin(s: SparkSession, d: String): DataFrame =
    Memo(s, "Relational.psTwin", Tables.roots(d, "lineitem")) {
      import s.implicits._
      val hx = md5(concat($"ps_partkey".cast("string"), lit("|"),
        $"ps_suppkey".cast("string")))
      t(s, d, "lineitem")
        .select($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty",
          conv(substring(hx, 1, 8), 16, 10).cast("long") % 9999 + 1)
        .withColumn("ps_supplycost",
          (conv(substring(hx, 9, 8), 16, 10).cast("long") % 100000 + 100)
            .cast("double") / 100.0)
        .localCheckpoint()
    }

  /** DuckDB CTE body mirroring [[psTwin]] column-for-column. */
  private val psSql =
    """ps AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    ('0x' || substring(md5(CAST(ps_partkey AS VARCHAR) || '|' ||
      |      CAST(ps_suppkey AS VARCHAR)), 1, 8))::BIGINT % 9999 + 1
      |      AS ps_availqty,
      |    CAST(('0x' || substring(md5(CAST(ps_partkey AS VARCHAR) || '|' ||
      |      CAST(ps_suppkey AS VARCHAR)), 9, 8))::BIGINT % 100000 + 100
      |      AS DOUBLE) / 100.0 AS ps_supplycost
      |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
      |    l_suppkey AS ps_suppkey FROM lineitem))""".stripMargin

  // DuckDB fragments for q_array_funcs (token list + probe vocabulary)
  private val sqlToks =
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')"
  private val sqlProbe = "['spark', 'join', 'window', 'zzz']"

  val queries: Seq[(String, GQuery)] = Seq(

    // ------------------------------------------------------------------
    // A3/A9 read-back grouped summary (R/star_transformer.R:148-165,
    // README.md:256-262) as a TPC-H-Q1-shaped aggregate: the flagship.
    // Scale: partial agg on 6 groups -> shuffle of 6 rows per partition.
    "q_agg_basic" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            dsum2($"l_quantity").as("sum_qty"),
            dsum2($"l_extendedprice").as("sum_base_price"),
            sum($"l_extendedprice".cast(D18_2) *
              (lit(1.0) - $"l_discount").cast(D18_8))
              .cast("double").as("sum_disc_price"),
            sum($"l_extendedprice".cast(D18_2) *
              ((lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).cast(D18_8))
              .cast("double").as("sum_charge"),
            davg2($"l_quantity").as("avg_qty"),
            davg2($"l_extendedprice").as("avg_price"),
            (sum($"l_discount".cast(D18_8)).cast("double") / count($"l_discount"))
              .as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,8))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,8))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,8))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "grouped multi-agg sum/avg/min/max/count (R/star_transformer.R:148-165)"),

    // P1 column-subset projection (R/star_transformer.R:85-89): filter +
    // project both reach the parquet scan (PushedFilters / ReadSchema).
    "q_scan_project" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_quantity",
            $"l_extendedprice")
          .filter($"l_quantity" < 5.0)
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity < 5.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      "projection pushdown (R/star_transformer.R:85-89)"),

    // P3 equality filter (README.md:252-253; R/main.R:153-154)
    "q_filter_eq" -> GQuery.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin,
      "equality predicate filter (README.md:252-253)"),

    // P2 not-null filter (R/star_transformer.R:53)
    "q_filter_notnull" -> GQuery.sql(
      """SELECT event_id, user_id, value FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |ORDER BY event_id""".stripMargin,
      "not-null filter before dimension build (R/star_transformer.R:53)"),

    // P4/F1 numeric promotion with silent null (R/star_transformer.R:93-97):
    // ANSI-safe try_cast == R as.numeric's NA-on-failure.
    "q_cast" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "part")
          .select(
            $"p_partkey",
            $"p_size".cast("double").as("size_d"),
            expr("try_cast(p_brand AS DOUBLE)").as("brand_num"),
            expr("try_cast(cast(p_retailprice AS STRING) AS DOUBLE)")
              .as("price_roundtrip"),
            expr("try_cast(p_type AS DOUBLE)").as("type_num"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_d,
        |  TRY_CAST(p_brand AS DOUBLE) AS brand_num,
        |  TRY_CAST(CAST(p_retailprice AS VARCHAR) AS DOUBLE) AS price_roundtrip,
        |  TRY_CAST(p_type AS DOUBLE) AS type_num
        |FROM part ORDER BY p_partkey""".stripMargin),
      "as.numeric silent-NA promotion (R/star_transformer.R:93-97)"),

    // F6 concat with separator (R/xml_parser.R:189; R/schema_analyzer.R:18)
    "q_concat" -> GQuery.sql(
      """SELECT c_custkey, concat_ws('|', c_name, c_mktsegment) AS name_seg,
        |  upper(c_name) AS name_upper, lower(c_mktsegment) AS seg_lower
        |FROM customer ORDER BY c_custkey""".stripMargin,
      "paste(collapse=...) concat (R/xml_parser.R:189)"),

    // S6/F4 comment business-key regex: pattern ^([A-Za-z]+):([^:]+)$
    // (R/xml_parser.R:240-250) applied to a constructed key:value string,
    // plus capture-group extraction from a JSON-ish payload.
    "q_regex_extract" -> GQuery(
      (s, d) => {
        import s.implicits._
        val kv = concat($"event_type", lit(":"), $"user_id".cast("string"))
        t(s, d, "events")
          .select(
            $"event_id",
            regexp_extract($"props", "\"k\": (\\d+)", 1).cast("int").as("k"),
            regexp_extract(kv, "^([A-Za-z]+):([^:]+)$", 1).as("bk_name"),
            regexp_extract(kv, "^([A-Za-z]+):([^:]+)$", 2).as("bk_value"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k,
        |  regexp_extract(event_type || ':' || CAST(user_id AS VARCHAR), '^([A-Za-z]+):([^:]+)$', 1) AS bk_name,
        |  regexp_extract(event_type || ':' || CAST(user_id AS VARCHAR), '^([A-Za-z]+):([^:]+)$', 2) AS bk_value
        |FROM events ORDER BY event_id""".stripMargin),
      "business-key regex capture (R/xml_parser.R:240-250)"),

    // F9 gsub regex replace (R/star_transformer.R:119,129; R/logger.R:194)
    "q_regex_replace" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select(
            $"doc_id",
            regexp_replace($"text", "\\s+", " ").as("text_norm"),
            regexp_replace($"source", "^src", "source_").as("source_renamed"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        |  regexp_replace(text, '\s+', ' ', 'g') AS text_norm,
        |  regexp_replace(source, '^src', 'source_') AS source_renamed
        |FROM documents ORDER BY doc_id""".stripMargin),
      "gsub replace-all (R/star_transformer.R:119)"),

    // F9+ global regex capture: ALL matches as an array (extraction tier
    // above the reference's single-capture gregexpr uses, R/xml_parser.R
    // :240). Joined to one string for a type-stable cross-engine compare.
    "q_regex_extract_all" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id",
            array_join(
              expr("regexp_extract_all(text, '\\\\b[a-z]*a[a-z]*\\\\b', 0)"),
              "|").as("a_words"),
            size(expr("regexp_extract_all(text, '\\\\b[a-z]*a[a-z]*\\\\b', 0)"))
              .as("n_matches"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        |  array_to_string(regexp_extract_all(text, '\b[a-z]*a[a-z]*\b', 0), '|')
        |    AS a_words,
        |  CAST(len(regexp_extract_all(text, '\b[a-z]*a[a-z]*\b', 0)) AS INT)
        |    AS n_matches
        |FROM documents ORDER BY doc_id""".stripMargin),
      "regexp_extract_all global capture"),

    // F-tier JSON extraction: the events table's props column is a JSON
    // object; path extraction + typed cast. get_json_object is Spark's
    // codegen'd JSON path primitive (a full from_json with a declared
    // schema is the typed variant — same plan shape).
    "q_json_extract" -> GQuery(
      (s, d) => {
        import s.implicits._
        // ONE from_json parse instead of per-path get_json_object calls:
        // with get_json_object the string is re-parsed per extracted path
        // AND once more for the pushed-down not-null filter (3x per row);
        // identical from_json subtrees dedup via codegen subexpression
        // elimination. At 100 TB the props parse dominates this scan.
        t(s, d, "events")
          .select($"event_id",
            from_json($"props", org.apache.spark.sql.types.StructType
              .fromDDL("k INT, missing STRING")).as("j"))
          .select($"event_id", $"j.k".as("k_int"), $"j.missing".as("absent"))
          .filter($"k_int".isNotNull)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.missing') AS absent
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY event_id""".stripMargin),
      "JSON path extraction over the props column"),

    // F-tier array set algebra over token arrays: intersect/union/except
    // against a probe vocabulary. Outputs are sorted + joined (the two
    // engines agree on SET CONTENT, not on element order or duplicate
    // handling — array_sort + distinct on both sides pins it down).
    "q_array_funcs" -> GQuery(
      (s, d) => {
        import s.implicits._
        val probe = array(Seq("spark", "join", "window", "zzz").map(lit): _*)
        t(s, d, "documents")
          .withColumn("toks", graft.Fns.tokens($"text"))
          .select($"doc_id",
            array_join(array_sort(array_intersect($"toks", probe)), ",")
              .as("common"),
            array_join(array_sort(array_except($"toks", probe)), ",")
              .as("rest"),
            size(array_distinct(array_union($"toks", probe))).as("n_union"))
          .orderBy($"doc_id")
      },
      // DuckDB list_sort([]) is NULL (Spark's array_join of [] is '') —
      // coalesce pins the empty-set representation
      Some(s"""SELECT doc_id,
        |  coalesce(array_to_string(
        |    list_sort(list_intersect(${sqlToks}, ${sqlProbe})), ','), '')
        |    AS common,
        |  coalesce(array_to_string(list_sort(list_filter(list_distinct(${sqlToks}),
        |    x -> NOT list_contains(${sqlProbe}, x))), ','), '') AS rest,
        |  CAST(len(list_distinct(list_concat(${sqlToks}, ${sqlProbe}))) AS INT)
        |    AS n_union
        |FROM documents ORDER BY doc_id""".stripMargin),
      "array set algebra (intersect/except/union) vs a probe vocabulary"),

    // F-tier math scalars: engine-identical IEEE double + integer math.
    // round() is decimal-exact half-away-from-zero on both engines.
    "q_math_funcs" -> GQuery.sql(
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_d,
        |  CAST(ceil(l_quantity / 7) AS BIGINT) AS ceil_q,
        |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS floor_p,
        |  round(l_tax * 100, 1) AS round_t,
        |  pow(l_quantity, 2) AS q_sq,
        |  l_orderkey % 97 AS mod_k
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "math scalar functions (abs/ceil/floor/round/pow/mod)"),

    // F-tier string scalars beyond the reference's trim/concat tier.
    "q_string_funcs" -> GQuery.sql(
      """SELECT p_partkey,
        |  lpad(p_name, 30, '.') AS padded,
        |  reverse(p_name) AS rev,
        |  substring(p_name, 2, 5) AS mid,
        |  CAST(instr(p_name, 'a') AS INT) AS first_a,
        |  repeat(left(p_name, 2), 3) AS rep2,
        |  translate(p_name, 'aeiou', 'AEIOU') AS caps_vowels
        |FROM part ORDER BY p_partkey""".stripMargin,
      "string scalar functions (pad/reverse/substr/instr/repeat/translate)"),

    // F8+ date ARITHMETIC (the reading tier is q_date_funcs): day offsets,
    // day diffs, truncated month arithmetic — all integer-exact.
    "q_date_arith" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .select($"o_orderkey",
            date_add($"o_orderdate", 30).cast("date").as("due_date"),
            datediff(lit("1998-12-31").cast("date"), $"o_orderdate")
              .as("days_to_eoy"),
            add_months($"o_orderdate", 3).cast("date").as("plus_q"),
            last_day($"o_orderdate").cast("date").as("month_end"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
        |    AS INT) AS days_to_eoy,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_q,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin),
      "date arithmetic (offsets, diffs, month math)"),

    // F-tier bitwise ops — exact integer semantics on both engines.
    "q_bitwise" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "customer")
          .select($"c_custkey",
            ($"c_custkey".bitwiseAND(255)).as("low8"),
            ($"c_custkey".bitwiseXOR($"c_nationkey")).as("xored"),
            shiftleft($"c_custkey", 2).as("shl2"),
            bit_count($"c_custkey").as("popcnt"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
        |  c_custkey & 255 AS low8,
        |  xor(c_custkey, CAST(c_nationkey AS BIGINT)) AS xored,
        |  c_custkey << 2 AS shl2,
        |  CAST(bit_count(c_custkey) AS INT) AS popcnt
        |FROM customer ORDER BY c_custkey""".stripMargin),
      "bitwise operators (and/xor/shift/popcount)"),

    // U1+ union DISTINCT (q_union_by_name covers union-all-with-fill;
    // q_set_ops covers intersect/except): distinct nation keys present on
    // either side — dedup happens via one partial-aggregable distinct.
    "q_union_distinct" -> GQuery.sql(
      """SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        |UNION
        |SELECT CAST(s_nationkey AS BIGINT) AS nk FROM supplier
        |ORDER BY nk""".stripMargin,
      "union distinct (set union across tables)"),

    // F8 date/time functions (R/star_transformer.R:112-114; R/logger.R:11,31)
    "q_date_funcs" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .select(
            $"o_orderkey",
            year($"o_orderdate").as("yr"),
            month($"o_orderdate").as("mo"),
            dayofmonth($"o_orderdate").as("dy"),
            quarter($"o_orderdate").as("qtr"),
            date_format($"o_orderdate", "yyyy-MM-dd").as("date_str"),
            date_trunc("month", $"o_orderdate").as("month_start"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dy,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  strftime(o_orderdate, '%Y-%m-%d') AS date_str,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin),
      "Sys.time/Sys.Date/format equivalents (R/star_transformer.R:112-114)"),

    // S15/F7 audit lineage: source file name from the scan itself
    // (R/xml_parser.R:332-335).
    "q_lineage" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .select(element_at(split(input_file_name(), "/"), -1)
            .as("file_name"))
          .groupBy($"file_name")
          .agg(count(lit(1)).as("n_rows"))
          .orderBy($"file_name")
      },
      Some("SELECT 'lineitem.parquet' AS file_name, COUNT(*) AS n_rows FROM lineitem"),
      "source_file_name lineage stamping (R/xml_parser.R:332-335)"),

    // A1+W1 dimension build: distinct -> sort -> row_number surrogate key —
    // the reference's signature move (R/star_transformer.R:51-61). The
    // global window is safe ONLY because dims are tiny post-distinct
    // (classifier caps them at <50 values, R/schema_analyzer.R:34).
    "q_dim_build" -> GQuery.sql(
      """SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) AS INT) AS segment_key,
        |  c_mktsegment, TRUE AS is_active
        |FROM (SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL)
        |ORDER BY segment_key""".stripMargin,
      "surrogate-key dimension build (R/star_transformer.R:51-61)"),

    // J1 fact-to-dimension key attach, collapsed to one broadcast equi-join
    // on the dimension VALUE (fixes the reference's two-hop id join and its
    // fan-out bug, SURVEY.md §8 Q5) (R/star_transformer.R:127-145).
    "q_fact_join" -> GQuery(
      (s, d) => {
        import s.implicits._
        val cust = t(s, d, "customer")
        val dim = cust.select($"c_mktsegment").filter($"c_mktsegment".isNotNull)
          .distinct()
          .withColumn("segment_key",
            row_number().over(Window.orderBy($"c_mktsegment")))
        cust.join(broadcast(dim), Seq("c_mktsegment"), "left")
          .select($"c_custkey", $"c_mktsegment", $"segment_key")
          .orderBy($"c_custkey")
      },
      Some("""WITH dim AS (
        |  SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) AS INT) AS segment_key, c_mktsegment
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL))
        |SELECT c.c_custkey, c.c_mktsegment, d.segment_key
        |FROM customer c LEFT JOIN dim d USING (c_mktsegment)
        |ORDER BY c.c_custkey""".stripMargin),
      "dimension-key broadcast left join (R/star_transformer.R:127-145)"),

    // Extension X7: multi-way join + agg (TPC-H Q5 shape). region/nation are
    // broadcast; lineitem<->orders is the only large shuffle join and AQE
    // re-plans it at runtime.
    // X7 full TPC-H Q5 shape — the six-table local-supplier-volume join.
    // The load-bearing constraint is c_nationkey = s_nationkey (customer
    // and supplier in the SAME nation), which can't be planned as a pure
    // star: Catalyst must thread the nationkey equivalence through two
    // fact-side joins. supplier/nation/region broadcast; lineitem never
    // shuffles for them (only the orders/customer keys shuffle).
    "q_tpch_q5" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, d, "supplier")),
            $"l_suppkey" === $"s_suppkey" &&
              $"c_nationkey" === $"s_nationkey")
          .join(broadcast(t(s, d, "nation")),
            $"s_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, d, "region")),
            $"n_regionkey" === $"r_regionkey")
          .filter($"r_name" === "ASIA" &&
            $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
          .groupBy($"n_name")
          .agg(
            sum($"l_extendedprice".cast(D18_2) *
              (lit(1.0) - $"l_discount").cast(D18_8))
              .cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"n_name")
      },
      Some("""SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
      "TPC-H Q5 local-supplier volume (six-table join)"),

    // TPC-H Q3 shipping-priority: the OTHER canonical multi-join shape
    // (selective dim filter -> two fact joins -> high-cardinality
    // groupBy -> top-10), complementing Q5's star. o_orderpriority
    // stands in for o_shippriority (the synthetic orders table carries
    // no shippriority column — stated substitution, same query shape).
    // Revenue uses the q_tpch_q5 decimal recipe (exact decimal products
    // summed, one double cast at the end); the top-10 cut orders by the
    // exact DECIMAL revenue before the cast, so the boundary cannot
    // move with float rounding. Scale shape: customer filter prunes
    // ~4/5 of customers BEFORE the o_custkey shuffle join; the l/o join
    // shuffles on orderkey; TakeOrderedAndProject replaces a global
    // sort for the top-10.
    "q_tpch_q3" -> GQuery.sql(
      """SELECT l_orderkey,
        |  CAST(rev AS DOUBLE) AS revenue, o_orderdate, o_orderpriority
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        CAST(1.0 - l_discount AS DECIMAL(18,8))) AS rev
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority)
        |ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin,
      "TPC-H Q3 shipping-priority (selective dim filter, two fact " +
        "joins, exact-decimal top-10)"),

    // TPC-H Q18 large-volume customers: the HAVING-on-a-fact-aggregate
    // shape the suite didn't cover yet — qualify orderkeys by an
    // aggregate predicate (sum(l_quantity) > 300), then join the
    // qualifying set back through orders to customers. The qualifying
    // set is tiny BY CONSTRUCTION (the HAVING cut is highly selective:
    // 46 keys at sf0.1's row counts), so it is explicitly broadcast —
    // the second lineitem pass never reshuffles on orderkey; at 100 TB
    // the only corpus-scale shuffle is the one quantity aggregation.
    // Quantities sum through DECIMAL(18,2) (the q_tpch_q5 recipe), so
    // the HAVING boundary and the output sums are exact in both
    // engines; the top-100 orders by (o_totalprice, o_orderdate,
    // o_orderkey) — a total order, so the cut is deterministic — via
    // TakeOrderedAndProject, no global sort.
    "q_tpch_q18" -> GQuery(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
        val big = li.groupBy($"l_orderkey")
          .agg(sum($"l_quantity".cast(D18_2)).as("qs"))
          .filter($"qs" > lit(300).cast(D18_2))
          .select($"l_orderkey".as("bigkey"))
        li.join(broadcast(big), $"l_orderkey" === $"bigkey")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_name", $"c_custkey", $"o_orderkey",
            $"o_orderdate", $"o_totalprice")
          .agg(sum($"l_quantity".cast(D18_2)).cast("double").as("sum_qty"))
          .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin),
      "TPC-H Q18 large-volume customers (aggregate-qualified semi join, " +
        "broadcast qualifying set)"),

    // TPC-H Q10 returned-item reporting: the selective-fact-filter ->
    // customer-grain rollup -> top-k shape (complements Q5's star and
    // Q18's HAVING-qualified semi join). Both fact filters PUSH to the
    // scans (l_returnflag = 'R' keeps ~1/4 of lineitem, the quarter
    // date window prunes orders before any join); nation broadcasts;
    // the only corpus-scale shuffles are the two fact joins and the
    // customer-grain aggregation. Revenue sums through exact decimals
    // (the q_tpch_q5 recipe), the top-20 cut orders by the EXACT
    // decimal revenue with c_custkey as the total-order tie-break, and
    // TakeOrderedAndProject replaces a global sort.
    "q_tpch_q10" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem").filter($"l_returnflag" === "R")
          .join(t(s, d, "orders")
              .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp")
                && $"o_orderdate" < lit("1996-07-01").cast("timestamp")),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, d, "nation")),
            $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
          .agg(sum($"l_extendedprice".cast(D18_2) *
            (lit(1.0) - $"l_discount").cast(D18_8)).as("rev_exact"))
          .orderBy($"rev_exact".desc, $"c_custkey")
          .limit(20)
          .select($"c_custkey", $"c_name",
            $"rev_exact".cast("double").as("revenue"),
            $"c_acctbal", $"n_name")
      },
      Some("""SELECT c_custkey, c_name,
        |  CAST(rev_exact AS DOUBLE) AS revenue, c_acctbal, n_name
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal, n_name,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        CAST(1.0 - l_discount AS DECIMAL(18,8))) AS rev_exact
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  GROUP BY c_custkey, c_name, c_acctbal, n_name
        |  ORDER BY rev_exact DESC, c_custkey LIMIT 20)
        |ORDER BY rev_exact DESC, c_custkey""".stripMargin),
      "TPC-H Q10 returned-item reporting (pushed fact filters, " +
        "customer-grain rollup, exact-decimal top-20)"),

    // TPC-H Q6 forecasting-revenue change: the pure scan-and-filter
    // aggregate — no join at all, so the whole query is "how much of
    // the fact table did the scan avoid reading". All three predicates
    // (date window, discount band, quantity cap) PUSH to the parquet
    // scan as min/max row-group filters (pinned in PlanSpec), the
    // revenue product rides exact decimals, and the output is a single
    // map-side-combined row. At 100 TB this is the query shape that
    // proves predicate pushdown works: a wrong plan reads every byte.
    "q_tpch_q6" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
            $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
            $"l_quantity" < 24)
          .agg(sum($"l_extendedprice".cast(D18_2) *
            $"l_discount".cast(D18_8)).cast("double").as("revenue"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),
      "TPC-H Q6 forecasting revenue (pure pushed-filter scan, " +
        "single-row exact-decimal aggregate)"),

    // TPC-H Q14 promotion effect: the conditional-share-of-revenue
    // shape — a month of lineitem joined to the part dim, with the
    // promo share computed as a ratio of two exact decimal sums (one
    // CASE-gated). The part side broadcasts (it is a dim by
    // construction); the date window prunes the fact before the join;
    // the ratio's double division happens once, on bit-identical
    // decimal-sourced doubles. (The synthetic p_type carries exact
    // category values, so the PROMO% prefix match of spec Q14 becomes
    // an equality — stated substitution, same shape.)
    "q_tpch_q14" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
          .join(broadcast(t(s, d, "part")),
            $"l_partkey" === $"p_partkey")
          .agg(
            sum(when($"p_type" === "PROMO",
              $"l_extendedprice".cast(D18_2) *
                (lit(1.0) - $"l_discount").cast(D18_8))).as("promo"),
            sum($"l_extendedprice".cast(D18_2) *
              (lit(1.0) - $"l_discount").cast(D18_8)).as("total"))
          .select(
            expr("CAST(round(CAST(promo AS DOUBLE) / " +
              "CAST(total AS DOUBLE) * 100.0 * 1000000.0, 0) AS BIGINT)")
              .as("promo_pct_micro"),
            $"promo".cast("double").as("promo_revenue"),
            $"total".cast("double").as("total_revenue"))
      },
      Some("""WITH a AS (
        |  SELECT
        |    SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        CAST(1.0 - l_discount AS DECIMAL(18,8))
        |      END) AS promo,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(1.0 - l_discount AS DECIMAL(18,8))) AS total
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00')
        |SELECT
        |  CAST(round(CAST(promo AS DOUBLE) / CAST(total AS DOUBLE)
        |    * 100.0 * 1000000.0, 0) AS BIGINT) AS promo_pct_micro,
        |  CAST(promo AS DOUBLE) AS promo_revenue,
        |  CAST(total AS DOUBLE) AS total_revenue
        |FROM a""".stripMargin),
      "TPC-H Q14 promotion effect (broadcast part dim, CASE-gated " +
        "exact-decimal revenue share)"),

    // TPC-H Q4 order-priority checking, adapted to the synthetic schema:
    // lineitem carries no l_commitdate/l_receiptdate, so the spec's
    // "receipt after commit" EXISTS becomes "shipped >30 days after the
    // order date" — same correlated-EXISTS-with-inequality shape, stated
    // substitution. The plan computes EXISTS as broadcast-inner + distinct
    // instead of a semi join: Spark can only broadcast the RIGHT side of
    // a left-semi, which here would be the fact table — so instead the
    // quarter's orders (window-bounded: 1/27 of the orders table)
    // broadcast INTO one lineitem scan, and the distinct runs on
    // qualifying (orderkey, priority) pairs, bounded by the quarter, not
    // the fact. lineitem itself never shuffles. Past the scale where a
    // quarter of orders fits in broadcast memory, drop the hint and let
    // AQE pick a shuffle semi join — the plan is otherwise unchanged.
    "q_tpch_q4" -> GQuery(
      (s, d) => {
        import s.implicits._
        val oq = t(s, d, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1996-04-01").cast("timestamp"))
          .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
        t(s, d, "lineitem").select($"l_orderkey", $"l_shipdate")
          .join(broadcast(oq), $"l_orderkey" === $"o_orderkey" &&
            $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"))
          .select($"o_orderkey", $"o_orderpriority").distinct()
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
      "TPC-H Q4 order-priority checking (correlated EXISTS as " +
        "broadcast-inner + bounded distinct; late-ship substitution)"),

    // TPC-H Q7 volume shipping between two nations: the symmetric
    // nation-pair filter. The win at scale is pushing the pair predicate
    // INTO the dimension sides before any fact join: supplier and
    // customer are each pre-filtered to the two nations (2/25 of rows),
    // so the lineitem⋈supplier broadcast join prunes the fact to ~8%
    // before the orders shuffle, and the customer join moves the
    // already-pruned stream. Only the cross-pair filter (FR→DE or DE→FR,
    // rejecting same-nation pairs) remains post-join. Revenue rides
    // exact decimals; year() is integer in both engines.
    "q_tpch_q7" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pair = Seq("NATION_1", "NATION_2")
        val n1 = t(s, d, "nation").filter($"n_name".isin(pair: _*))
          .select($"n_nationkey".as("snk"), $"n_name".as("supp_nation"))
        val n2 = t(s, d, "nation").filter($"n_name".isin(pair: _*))
          .select($"n_nationkey".as("cnk"), $"n_name".as("cust_nation"))
        val sup = t(s, d, "supplier").join(broadcast(n1),
          $"s_nationkey" === $"snk").select($"s_suppkey", $"supp_nation")
        val cus = t(s, d, "customer").join(broadcast(n2),
          $"c_nationkey" === $"cnk").select($"c_custkey", $"cust_nation")
        t(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
          .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(cus, $"o_custkey" === $"c_custkey")
          .filter(($"supp_nation" === "NATION_1" &&
            $"cust_nation" === "NATION_2") ||
            ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
          .groupBy($"supp_nation", $"cust_nation",
            year($"l_shipdate").as("l_year"))
          .agg(sum($"l_extendedprice".cast(D18_2) *
            (lit(1.0) - $"l_discount").cast(D18_8))
            .cast("double").as("revenue"))
          .orderBy($"supp_nation", $"cust_nation", $"l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(1.0 - l_discount AS DECIMAL(18,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),
      "TPC-H Q7 volume shipping (nation-pair predicate pushed into both " +
        "dim sides before the fact joins)"),

    // TPC-H Q8 national market share: share of one supplier nation in a
    // customer region's order volume for one part type, by year. Part is
    // filtered (1/6 of the dim) and broadcast, so the fact prunes on
    // partkey before any shuffle; the customer side pre-joins
    // nation⋈region (both broadcast) and filters to the region before
    // the fact join. The share is a ratio of two same-group sums, so it
    // divides once per year on exact-decimal-sourced doubles; the ratio
    // is emitted in integer micro-units (the cross-engine recipe) with
    // the raw numerator/denominator alongside as doubles.
    "q_tpch_q8" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pf = broadcast(t(s, d, "part")
          .filter($"p_type" === "ECONOMY").select($"p_partkey"))
        val sup = broadcast(t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")),
            $"s_nationkey" === $"n_nationkey")
          .select($"s_suppkey", $"n_name".as("supp_nation")))
        val cus = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")
            .join(broadcast(t(s, d, "region")),
              $"n_regionkey" === $"r_regionkey")
            .filter($"r_name" === "ASIA").select($"n_nationkey")),
            $"c_nationkey" === $"n_nationkey")
          .select($"c_custkey")
        val vol = ($"l_extendedprice".cast(D18_2) *
          (lit(1.0) - $"l_discount").cast(D18_8))
        t(s, d, "lineitem")
          .join(pf, $"l_partkey" === $"p_partkey")
          .join(sup, $"l_suppkey" === $"s_suppkey")
          .join(t(s, d, "orders")
            .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" < lit("1998-01-01").cast("timestamp")),
            $"l_orderkey" === $"o_orderkey")
          .join(cus, $"o_custkey" === $"c_custkey")
          .groupBy(year($"o_orderdate").as("o_year"))
          .agg(
            sum(when($"supp_nation" === "NATION_3", vol)).as("nat"),
            sum(vol).as("tot"))
          .select($"o_year",
            expr("CAST(round(CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE) " +
              "* 1000000.0, 0) AS BIGINT)").as("mkt_share_micro"),
            $"nat".cast("double").as("nation_volume"),
            $"tot".cast("double").as("total_volume"))
          .orderBy($"o_year")
      },
      Some("""WITH v AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |    SUM(CASE WHEN n1.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        CAST(1.0 - l_discount AS DECIMAL(18,8)) END) AS nat,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(1.0 - l_discount AS DECIMAL(18,8))) AS tot
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT o_year,
        |  CAST(round(CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * 1000000.0, 0) AS BIGINT) AS mkt_share_micro,
        |  CAST(nat AS DOUBLE) AS nation_volume,
        |  CAST(tot AS DOUBLE) AS total_volume
        |FROM v ORDER BY o_year""".stripMargin),
      "TPC-H Q8 national market share (filtered-dim broadcasts, " +
        "CASE-gated share in micro-units)"),

    // TPC-H Q13 customer order-count distribution: the two-level
    // aggregation — a corpus-scale count per customer (left join keeps
    // zero-order customers), then a tiny histogram over the counts. The
    // spec's o_comment NOT LIKE filter has no column here; the stated
    // substitution is o_orderpriority <> '1-URGENT' (same selectivity
    // class, same join-condition placement: the filter must ride the
    // JOIN CONDITION, not a WHERE, or zero-order customers vanish).
    // Sort (custdist DESC, c_count DESC) is a total order because
    // c_count is unique per histogram row.
    "q_tpch_q13" -> GQuery(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
          .filter($"o_orderpriority" =!= "1-URGENT")
          .select($"o_custkey", $"o_orderkey")
        t(s, d, "customer").select($"c_custkey")
          .join(o, $"c_custkey" === $"o_custkey", "left")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("c_count"))
          .groupBy($"c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy($"custdist".desc, $"c_count".desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
      "TPC-H Q13 order-count distribution (filter on the join condition, " +
        "two-level aggregation)"),

    // TPC-H Q17 small-quantity-order revenue: the correlated
    // avg-per-group threshold. Both lineitem passes are pre-pruned by
    // the broadcast brand+type part slice (~1/150 of parts), so the
    // per-part average aggregates the pruned subset only — never the
    // whole fact. The threshold compare (l_quantity < 0.2 * avg) is
    // deterministic cross-engine because the average is exact-decimal
    // sum / count surfaced as double and 0.2*x is one IEEE multiply;
    // the oracle mirrors that formula rather than DuckDB's avg().
    "q_tpch_q17" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pf = broadcast(t(s, d, "part")
          .filter($"p_brand" === "Brand#12" && $"p_type" === "SMALL")
          .select($"p_partkey"))
        val li = t(s, d, "lineitem")
          .join(pf, $"l_partkey" === $"p_partkey")
          .select($"l_partkey", $"l_quantity", $"l_extendedprice")
        val avgq = li.groupBy($"l_partkey".as("pk"))
          .agg((dsum2($"l_quantity") / count(lit(1))).as("avg_qty"))
        li.join(broadcast(avgq), $"l_partkey" === $"pk")
          .filter($"l_quantity" < lit(0.2) * $"avg_qty")
          .agg((dsum2($"l_extendedprice") / lit(7.0)).as("avg_yearly"),
            count(lit(1)).as("n_small"))
      },
      Some("""WITH pf AS (
        |  SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#12' AND p_type = 'SMALL'),
        |li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN pf ON l_partkey = p_partkey),
        |a AS (
        |  SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      / COUNT(*) AS avg_qty
        |  FROM li GROUP BY 1)
        |SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_small
        |FROM li JOIN a ON l_partkey = pk
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin),
      "TPC-H Q17 small-quantity revenue (correlated per-part average " +
        "over the broadcast-pruned subset)"),

    // TPC-H Q19 discounted revenue: the disjunctive multi-attribute
    // predicate — three (brand, size band, quantity band) conjuncts
    // OR-ed together, with attributes split across the fact and the
    // dim. The OR blocks per-conjunct scan pushdown (no single range
    // survives the union), so the plan's job is to keep the predicate
    // INSIDE the whole-stage-codegen span after the broadcast part
    // join — no shuffle happens at all: scan → broadcast hash join →
    // filter → partial agg → 1-row exchange.
    "q_tpch_q19" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")),
            $"l_partkey" === $"p_partkey")
          .filter(
            ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
              $"l_quantity".between(1, 11)) ||
            ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
              $"l_quantity".between(10, 20)) ||
            ($"p_brand" === "Brand#4" && $"p_size".between(1, 15) &&
              $"l_quantity".between(20, 30)))
          .agg(sum($"l_extendedprice".cast(D18_2) *
            (lit(1.0) - $"l_discount").cast(D18_8))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(1.0 - l_discount AS DECIMAL(18,8))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
      "TPC-H Q19 discounted revenue (disjunctive predicate inside the " +
        "codegen span after a broadcast join; zero shuffles)"),

    // TPC-H Q22 global-sales opportunity: a scalar-subquery threshold
    // (global positive-balance average) + an anti join against recent
    // orders. The 1-row average rides a broadcast nested-loop join
    // (the q_textrank 1-row crossJoin pattern — constant-bounded, not
    // a real cartesian); the anti join's right side is date-pruned
    // before the shuffle. The spec's phone-prefix country code has no
    // column here; stated substitution: c_nationkey IN (0..6). Account
    // balances aggregate through exact decimals.
    "q_tpch_q22" -> GQuery(
      (s, d) => {
        import s.implicits._
        val avgbal = t(s, d, "customer").filter($"c_acctbal" > 0)
          .agg((dsum2($"c_acctbal") / count(lit(1))).as("ab"))
        t(s, d, "customer")
          .filter($"c_nationkey".isin(0, 1, 2, 3, 4, 5, 6))
          .crossJoin(broadcast(avgbal))
          .filter($"c_acctbal" > $"ab")
          .join(t(s, d, "orders")
            .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
            .select($"o_custkey"),
            $"c_custkey" === $"o_custkey", "left_anti")
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("numcust"),
            dsum2($"c_acctbal").as("totacctbal"))
          .orderBy($"c_nationkey")
      },
      Some("""WITH ab AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*) AS ab
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer, ab
        |WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
        |  AND c_acctbal > ab
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin),
      "TPC-H Q22 sales opportunity (scalar-subquery threshold + " +
        "date-pruned anti join)"),

    // TPC-H Q9 product-type profit, adapted: the synthetic schema has no
    // partsupp, so ps_supplycost becomes p_retailprice (stated cost
    // proxy; same shape — a second price column entering the profit
    // expression from the broadcast dim side). The '%red%' name filter
    // keeps ~13% of parts and prunes the fact through the broadcast
    // join; supplier⋈nation broadcasts whole (supplier is dim-sized by
    // construction). Profit = extprice*(1-disc) - retailprice*qty, both
    // terms exact decimals summed exactly, surfaced as double per
    // (nation, year) group.
    "q_tpch_q9" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pf = broadcast(t(s, d, "part")
          .filter($"p_name".like("%red%"))
          .select($"p_partkey", $"p_retailprice"))
        val sup = broadcast(t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")),
            $"s_nationkey" === $"n_nationkey")
          .select($"s_suppkey", $"n_name".as("nation")))
        t(s, d, "lineitem")
          .join(pf, $"l_partkey" === $"p_partkey")
          .join(sup, $"l_suppkey" === $"s_suppkey")
          .join(t(s, d, "orders").select($"o_orderkey", $"o_orderdate"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"nation", year($"o_orderdate").as("o_year"))
          .agg((sum($"l_extendedprice".cast(D18_2) *
            (lit(1.0) - $"l_discount").cast(D18_8)) -
            sum($"p_retailprice".cast(D18_2) * $"l_quantity".cast(D18_2)))
            .cast("double").as("sum_profit"))
          .orderBy($"nation", $"o_year".desc)
      },
      Some("""SELECT n_name AS nation,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(1.0 - l_discount AS DECIMAL(18,8))) -
        |    SUM(CAST(p_retailprice AS DECIMAL(18,2)) *
        |      CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin),
      "TPC-H Q9 product profit (cost proxy from the broadcast part dim; " +
        "exact-decimal profit per nation-year)"),

    // TPC-H Q15 top supplier: the aggregate-then-threshold-on-its-own-
    // max shape (the spec's revenue view + scalar subquery). One
    // corpus-scale supplier aggregation; the max rides a 1-row
    // broadcast nested loop back onto the 100-row aggregate (never the
    // fact), and the equality threshold compares EXACT decimals — ties
    // (the spec orders by suppkey for exactly that case) are
    // deterministic, not float-lucky.
    "q_tpch_q15" -> GQuery(
      (s, d) => {
        import s.implicits._
        val rev = t(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
          .groupBy($"l_suppkey")
          .agg(sum($"l_extendedprice".cast(D18_2) *
            (lit(1.0) - $"l_discount").cast(D18_8)).as("total_rev"))
        val top = rev.agg(max($"total_rev").as("max_rev"))
        rev.crossJoin(broadcast(top))
          .filter($"total_rev" === $"max_rev")
          .join(broadcast(t(s, d, "supplier")),
            $"l_suppkey" === $"s_suppkey")
          .select($"s_suppkey", $"s_name",
            $"total_rev".cast("double").as("total_revenue"))
          .orderBy($"s_suppkey")
      },
      Some("""WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      CAST(1.0 - l_discount AS DECIMAL(18,8))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
      "TPC-H Q15 top supplier (scalar-max threshold on exact decimals " +
        "over the supplier-grain aggregate)"),

    // TPC-H Q21 suppliers who kept orders waiting, adapted (no
    // commit/receipt dates: "late" = shipped >60 days after the order
    // date) — and REFORMULATED: the spec's EXISTS + NOT EXISTS pair of
    // correlated self-joins collapses into order-grain aggregates. Per
    // (order, supplier) compute a late flag; per order count suppliers
    // and late suppliers; a supplier "kept the order waiting" iff it is
    // late (late=1), the order is multi-supplier (n_supp >= 2), and it
    // is the ONLY late one (n_late = 1) — exactly the spec's two
    // correlated predicates, with zero self-joins: the order-keyed
    // window shares the partitioning of the (order, supplier) agg, so
    // the whole query is one fact shuffle plus a supplier-grain count.
    "q_tpch_q21" -> GQuery(
      (s, d) => {
        import s.implicits._
        val byOrder = Window.partitionBy($"l_orderkey")
        t(s, d, "lineitem").select($"l_orderkey", $"l_suppkey", $"l_shipdate")
          .join(t(s, d, "orders").select($"o_orderkey", $"o_orderdate"),
            $"l_orderkey" === $"o_orderkey")
          // r16 (guide §2.4): orders broadcasts, so the join output is
          // unpartitioned and the (l_orderkey, l_suppkey) aggregate and
          // the l_orderkey window each paid their own Exchange. One
          // explicit l_orderkey repartition satisfies BOTH downstream
          // distributions (partitioning on a subset of the group keys
          // co-locates every group), so the agg and the window share
          // this single shuffle: 2 chained Exchanges -> 1
          .repartition($"l_orderkey")
          .groupBy($"l_orderkey", $"l_suppkey")
          .agg(max(($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
            .cast("long")).as("late"))
          .withColumn("n_supp", count(lit(1)).over(byOrder))
          .withColumn("n_late", sum($"late").over(byOrder))
          .filter($"late" === 1L && $"n_supp" >= 2L && $"n_late" === 1L)
          .groupBy($"l_suppkey")
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(t(s, d, "supplier")),
            $"l_suppkey" === $"s_suppkey")
          .select($"s_name", $"numwait")
          .orderBy($"numwait".desc, $"s_name")
          .limit(20)
      },
      Some("""WITH ls AS (
        |  SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |      THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT l_suppkey, late,
        |    COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
        |    SUM(late) OVER (PARTITION BY l_orderkey) AS n_late
        |  FROM ls)
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM w JOIN supplier ON s_suppkey = l_suppkey
        |WHERE late = 1 AND n_supp >= 2 AND n_late = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin),
      "TPC-H Q21 waiting suppliers (double correlated EXISTS collapsed " +
        "into order-grain aggregates; zero self-joins)"),

    // TPC-H Q12 shipping-mode priority counts, adapted: no l_shipmode /
    // commit / receipt columns, so the group key becomes l_linestatus
    // and "arrived late" becomes shipped >30 days after the order date
    // (stated substitutions; the aggregate structure — CASE-gated
    // priority-class counts per category after a fact⋈orders join — is
    // the spec's). The ship-year window pushes to the lineitem scan;
    // the late predicate compares two columns so it rides the join
    // output inside codegen.
    "q_tpch_q12" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
          .join(t(s, d, "orders").select($"o_orderkey", $"o_orderdate",
            $"o_orderpriority"), $"l_orderkey" === $"o_orderkey")
          .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"))
          .groupBy($"l_linestatus")
          .agg(
            sum(when($"o_orderpriority" === "1-URGENT" ||
              $"o_orderpriority" === "2-HIGH", 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when($"o_orderpriority" =!= "1-URGENT" &&
              $"o_orderpriority" =!= "2-HIGH", 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy($"l_linestatus")
      },
      Some("""SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
        |    OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
        |    AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin),
      "TPC-H Q12 late-line priority counts (CASE-gated class counts per " +
        "category; linestatus/late-ship substitutions)"),

    // TPC-H Q16 supplier-count by part attributes, adapted: the
    // part-supplier relation is DISTINCT (l_partkey, l_suppkey) from
    // the fact table (no partsupp in the synthetic schema) and the
    // "complaints" exclusion becomes s_acctbal < 0 (stated
    // substitutions). The spec's NOT IN subquery is an anti join —
    // exactly equivalent here because supplier keys are non-null — and
    // the excluded-supplier set broadcasts. The one corpus-scale
    // shuffle is the pair distinct; everything after is
    // part-dimension-bounded. Sort is total: count ties break on the
    // full attribute triple.
    "q_tpch_q16" -> GQuery(
      (s, d) => {
        import s.implicits._
        val bad = t(s, d, "supplier").filter($"s_acctbal" < 0)
          .select($"s_suppkey")
        val pf = broadcast(t(s, d, "part")
          .filter($"p_brand" =!= "Brand#1" &&
            $"p_size".isin(1, 5, 9, 13, 17, 21, 25, 29))
          .select($"p_partkey", $"p_brand", $"p_type", $"p_size"))
        t(s, d, "lineitem").select($"l_partkey", $"l_suppkey").distinct()
          .join(broadcast(bad), $"l_suppkey" === $"s_suppkey", "left_anti")
          .join(pf, $"l_partkey" === $"p_partkey")
          .groupBy($"p_brand", $"p_type", $"p_size")
          .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
          .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
      },
      Some("""SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
      "TPC-H Q16 supplier count by part attributes (fact-derived " +
        "part-supplier pairs, NOT IN as broadcast anti join)"),

    // TPC-H Q2 minimum-cost supplier over the derived-partsupp twin.
    // Stated substitutions: p_type = 'STANDARD' for the spec's '%BRASS'
    // suffix match, a size BAND (<= 25) for the spec's exact size so the
    // part filter binds at sf0.001's 200-part dimension, and p_brand in
    // the output for the absent p_mfgr. Shape is the spec's: region-
    // filtered suppliers, part-filtered partsupp, then the correlated
    // min-cost-per-part subquery — here a partial agg on the pruned ps
    // rows joined back as a BROADCAST (the min table is filtered-part-
    // sized, never corpus-sized). Cost equality compares bit-identical
    // doubles (psTwin's construction), so ties are deterministic and the
    // spec's ORDER BY ... LIMIT 100 is total ((s_name, p_partkey) is
    // unique per row).
    "q_tpch_q2" -> GQuery(
      (s, d) => {
        import s.implicits._
        val sup = broadcast(t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")),
            $"s_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, d, "region").filter($"r_name" === "EUROPE")),
            $"n_regionkey" === $"r_regionkey")
          .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name"))
        val pf = broadcast(t(s, d, "part")
          .filter($"p_size" <= 25 && $"p_type" === "STANDARD")
          .select($"p_partkey", $"p_brand"))
        val j = psTwin(s, d)
          .join(pf, $"ps_partkey" === $"p_partkey")
          .join(sup, $"ps_suppkey" === $"s_suppkey")
        val minCost = j.groupBy($"p_partkey".as("mk"))
          .agg(min($"ps_supplycost").as("min_cost"))
        j.join(broadcast(minCost),
            $"p_partkey" === $"mk" && $"ps_supplycost" === $"min_cost")
          .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey",
            $"p_brand")
          .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
          .limit(100)
      },
      Some(s"""WITH $psSql,
        |sup AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |pf AS (
        |  SELECT p_partkey, p_brand FROM part
        |  WHERE p_size <= 25 AND p_type = 'STANDARD'),
        |j AS (
        |  SELECT * FROM ps
        |  JOIN pf ON ps_partkey = p_partkey
        |  JOIN sup ON ps_suppkey = s_suppkey),
        |m AS (
        |  SELECT p_partkey AS mk, MIN(ps_supplycost) AS min_cost
        |  FROM j GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM j JOIN m ON p_partkey = mk AND ps_supplycost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),
      "TPC-H Q2 min-cost supplier (derived-partsupp twin; broadcast " +
        "min-per-part join-back, bit-identical cost equality)"),

    // TPC-H Q11 important stock over the derived-partsupp twin. Stated
    // adaptations: one nation = nationkey 3 (keyed, not named — the
    // sf-extrapolated sweep corpora zero-pad nation NAMES), and the
    // spec's 0.0001/SF
    // fraction becomes the SCALE-FREE rule value > 1.2 x mean part
    // value — the spec divides by SF for exactly this reason (a fixed
    // fraction stops binding as the part dimension grows); the mean
    // form binds identically at every SF. All value arithmetic is
    // integer CENTS (round(cost*100) on bit-identical doubles), and the
    // threshold comparison value*n*10 > total*12 runs in DECIMAL(38,0)
    // so no BIGINT product can overflow at any corpus size. One
    // corpus-scale shuffle (the part-grain agg); the nation supplier
    // set and the 1-row total both broadcast.
    "q_tpch_q11" -> GQuery(
      (s, d) => {
        import s.implicits._
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val sup7 = broadcast(t(s, d, "supplier")
          .filter($"s_nationkey" === 3)
          .select($"s_suppkey"))
        val pv = psTwin(s, d)
          .join(sup7, $"ps_suppkey" === $"s_suppkey")
          .withColumn("cents",
            expr("CAST(round(ps_supplycost * 100, 0) AS BIGINT)"))
          .groupBy($"ps_partkey")
          .agg(sum($"ps_availqty" * $"cents").as("value_cents"))
        val tot = pv.agg(sum($"value_cents").as("total_cents"),
          count(lit(1)).as("n_parts"))
        pv.crossJoin(broadcast(tot))
          .filter($"value_cents".cast(d38) * $"n_parts" * lit(10) >
            $"total_cents".cast(d38) * lit(12))
          .select($"ps_partkey", $"value_cents")
          .orderBy($"value_cents".desc, $"ps_partkey")
      },
      Some(s"""WITH $psSql,
        |pv AS (
        |  SELECT ps_partkey,
        |    CAST(SUM(ps_availqty *
        |      CAST(round(ps_supplycost * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS value_cents
        |  FROM ps
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  WHERE s_nationkey = 3
        |  GROUP BY ps_partkey),
        |tot AS (
        |  SELECT SUM(value_cents) AS total_cents,
        |    COUNT(*) AS n_parts FROM pv)
        |SELECT ps_partkey, value_cents
        |FROM pv, tot
        |WHERE CAST(value_cents AS DECIMAL(38,0)) * n_parts * 10 >
        |  CAST(total_cents AS DECIMAL(38,0)) * 12
        |ORDER BY value_cents DESC, ps_partkey""".stripMargin),
      "TPC-H Q11 important stock (derived-partsupp twin; integer-cents " +
        "value, scale-free 1.2x-mean threshold in exact decimal)"),

    // TPC-H Q20 potential part promotion over the derived-partsupp
    // twin. Stated substitutions: p_name LIKE 'hot%' for the spec's
    // 'forest%' (the synthetic adjective vocabulary), region ASIA for
    // the spec's single nation (so the supplier filter binds at
    // sf0.001's 10-supplier dimension). Shape is the spec's nested
    // semi-join chain: per-(part, supplier) 1995 shipped quantity from
    // one fact partial agg, availqty > half of it as the exact integer
    // rule 2*availqty > qty (l_quantity is 0-dp by construction, so the
    // BIGINT cast is exact), then the qualifying supplier id set
    // distinct-ed and joined to the region-filtered supplier dim. The
    // ps-side join prunes through the broadcast 'hot%' part filter; the
    // only corpus-scale shuffles are the fact agg and the pair
    // distinct inside psTwin (paid once, memoized).
    "q_tpch_q20" -> GQuery(
      (s, d) => {
        import s.implicits._
        val pf = broadcast(t(s, d, "part")
          .filter($"p_name".like("hot%")).select($"p_partkey"))
        val shipped = t(s, d, "lineitem")
          .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-01-01").cast("timestamp"))
          .groupBy($"l_partkey", $"l_suppkey")
          .agg(sum($"l_quantity".cast("bigint")).as("qty"))
        val okSupp = psTwin(s, d)
          .join(pf, $"ps_partkey" === $"p_partkey")
          .join(shipped,
            $"ps_partkey" === $"l_partkey" && $"ps_suppkey" === $"l_suppkey")
          .filter($"ps_availqty" * 2 > $"qty")
          .select($"ps_suppkey").distinct()
        t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")),
            $"s_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, d, "region").filter($"r_name" === "ASIA")),
            $"n_regionkey" === $"r_regionkey")
          .join(okSupp, $"s_suppkey" === $"ps_suppkey", "left_semi")
          .select($"s_suppkey", $"s_name")
          .orderBy($"s_name")
      },
      Some(s"""WITH $psSql,
        |shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY l_partkey, l_suppkey),
        |ok AS (
        |  SELECT DISTINCT ps_suppkey FROM ps
        |  JOIN part ON ps_partkey = p_partkey
        |  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |  WHERE p_name LIKE 'hot%' AND ps_availqty * 2 > qty)
        |SELECT s_suppkey, s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND s_suppkey IN (SELECT ps_suppkey FROM ok)
        |ORDER BY s_name""".stripMargin),
      "TPC-H Q20 part promotion (derived-partsupp twin; exact integer " +
        "availqty-vs-half-demand rule, nested semi-join chain)"),

    // TPC-H Q16 in SPEC form over the derived-partsupp twin (the
    // adapted q_tpch_q16 above keeps the original fact-derived shape;
    // this one adds the spec's second part predicate — a NOT LIKE type
    // exclusion — and counts from ps). Same anti-join treatment of the
    // "complaints" supplier exclusion (s_acctbal < 0, stated). Constants
    // differ from the adapted row so the two queries cannot shadow each
    // other's results.
    "q_tpch_q16_ps" -> GQuery(
      (s, d) => {
        import s.implicits._
        val bad = t(s, d, "supplier").filter($"s_acctbal" < 0)
          .select($"s_suppkey")
        val pf = broadcast(t(s, d, "part")
          .filter($"p_brand" =!= "Brand#5" &&
            !$"p_type".like("PROMO%") &&
            $"p_size".isin(2, 6, 10, 14, 18, 22, 26, 30))
          .select($"p_partkey", $"p_brand", $"p_type", $"p_size"))
        psTwin(s, d)
          .join(broadcast(bad), $"ps_suppkey" === $"s_suppkey", "left_anti")
          .join(pf, $"ps_partkey" === $"p_partkey")
          .groupBy($"p_brand", $"p_type", $"p_size")
          .agg(countDistinct($"ps_suppkey").as("supplier_cnt"))
          .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
      },
      Some(s"""WITH $psSql
        |SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps
        |JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (2, 6, 10, 14, 18, 22, 26, 30)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
      "TPC-H Q16 spec form (derived-partsupp twin; NOT-LIKE type " +
        "exclusion + broadcast anti join supplier screen)"),

    "q_join_multi" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(t(s, d, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, d, "nation")), $"c_nationkey" === $"n_nationkey")
          .join(broadcast(t(s, d, "region")), $"n_regionkey" === $"r_regionkey")
          .filter($"r_name" === "ASIA" &&
            $"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
          .groupBy($"n_name")
          .agg(
            sum($"l_extendedprice".cast(D18_2) *
              (lit(1.0) - $"l_discount").cast(D18_8))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,8))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
      "multi-way join + grouped revenue (extension X7)"),

    // Extension X7: TPC-H-Q3-shaped top-k revenue — join + agg + top-k in
    // one plan; AQE broadcasts the filtered customer side, and the final
    // top-10 is TakeOrderedAndProject over the aggregate (no global sort).
    "q_topk_agg" -> GQuery.sql(
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "TPC-H-Q3-shaped top-k revenue (extension X7)"),

    // Semi join (EXISTS) — free in Catalyst, absent in reference (§2.3).
    "q_semi_join" -> GQuery.sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
      "left-semi join / EXISTS (extension)"),

    // Anti join (NOT EXISTS) — used for FK-integrity checks in the star
    // builder (SURVEY.md §5 item 4).
    "q_anti_join" -> GQuery.sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
      "left-anti join / NOT EXISTS (extension)"),

    // A4 distinct counts (R/schema_analyzer.R:15). Exact here; the 100 TB
    // path swaps in approx_count_distinct (HLL) — see SchemaProfiler.
    "q_count_distinct" -> GQuery.sql(
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(*) AS n_rows FROM lineitem""".stripMargin,
      "n_distinct profiling (R/schema_analyzer.R:15)"),

    // A7 verdict counts + percentage (R/schema_validator.R:201-204)
    "q_group_count" -> GQuery.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS pct
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "group count + percentage (R/schema_validator.R:201-204)"),

    // W1 ranked-first-N per key: row_number over a real partition.
    "q_window_rownum" -> GQuery.sql(
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
        |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
      "row_number per partition (R/star_transformer.R:56-61 generalized)"),

    // Extension X7: rank analytics (top-3 priced lines per supplier).
    "q_window_rank" -> GQuery(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"l_suppkey").orderBy($"l_extendedprice".desc)
        t(s, d, "lineitem")
          .withColumn("rnk", rank().over(w))
          .filter($"rnk" <= 3)
          .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
            $"l_extendedprice", $"rnk")
          .orderBy($"l_suppkey", $"rnk", $"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rnk FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    CAST(rank() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC) AS INT) AS rnk
        |  FROM lineitem) WHERE rnk <= 3
        |ORDER BY l_suppkey, rnk, l_orderkey, l_linenumber""".stripMargin),
      "rank window (extension X7)"),

    // Running (cumulative) sum with an explicit row frame. Decimal inside
    // the frame so the incremental vs tree-aggregated evaluation of the two
    // engines cannot diverge.
    "q_window_running" -> GQuery.sql(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
      "running sum frame (extension)"),

    // O1 sort (R/star_transformer.R:56; README.md:268)
    "q_sort" -> GQuery.sql(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey""".stripMargin,
      "arrange/sort (README.md:268)"),

    // O2 top-k: Catalyst plans TakeOrderedAndProject (no full sort at scale).
    "q_sort_limit" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      "top-k TakeOrderedAndProject (SURVEY.md §2.6)"),

    // U1 union-with-fill == unionByName(allowMissingColumns) (R/main.R:156)
    "q_union_by_name" -> GQuery(
      (s, d) => {
        import s.implicits._
        val c = t(s, d, "customer").select(
          $"c_custkey".as("id"), $"c_name".as("name"),
          $"c_acctbal".as("acctbal"), $"c_mktsegment".as("segment"),
          lit("customer").as("src"))
        val su = t(s, d, "supplier").select(
          $"s_suppkey".as("id"), $"s_name".as("name"),
          $"s_acctbal".as("acctbal"), lit("supplier").as("src"))
        c.unionByName(su, allowMissingColumns = true)
          .orderBy($"src", $"id")
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
        |  c_mktsegment AS segment, 'customer' AS src FROM customer
        |UNION ALL BY NAME
        |SELECT s_suppkey AS id, s_name AS name, s_acctbal AS acctbal,
        |  'supplier' AS src FROM supplier
        |ORDER BY src, id""".stripMargin),
      "rbindlist(fill=TRUE) union (R/main.R:156)"),

    // A2 row dedup (R/parquet_writer.R:115-116) — distinct as set semantics.
    "q_dedup" -> GQuery.sql(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "unique() dedup (R/parquet_writer.R:115-116)"),

    // R1 wide->long reshape (R/schema_analyzer.R:6-24) as unpivot.
    "q_unpivot" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .unpivot(
            Array($"l_orderkey", $"l_linenumber"),
            Array($"l_quantity", $"l_discount", $"l_tax"),
            "measure", "value")
          .orderBy($"l_orderkey", $"l_linenumber", $"measure")
      },
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),
      "pivot_longer reshape (R/schema_analyzer.R:6-24)"),

    // Hierarchical subtotals — absent in the reference, free in Catalyst
    // (SURVEY.md §2.4): one Expand-based aggregation, no multi-pass.
    // Null sort order made explicit on both engines (Spark defaults nulls
    // first, DuckDB nulls last).
    "q_rollup" -> GQuery.sql(
      s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |  ${sqlDsum2("o_totalprice")} AS total
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
      "rollup subtotals (SURVEY.md §2.4 extension)"),

    // SQL entry point (spark.sql) + GROUPING SETS — only SQL-expressible in
    // Spark; demonstrates the engine's SQL surface alongside the DataFrame
    // API. Same one-pass Expand aggregation as rollup/cube.
    "q_grouping_sets" -> GQuery.sql(
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
      "spark.sql GROUPING SETS (SURVEY.md §2.4 extension)"),

    "q_cube" -> GQuery.sql(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  ${sqlDsum2("l_quantity")} AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "cube aggregation (SURVEY.md §2.4 extension)"),

    // R1 long->wide: groupBy().pivot() with an explicit value list (required
    // at scale — implicit pivot runs a distinct job first).
    "q_pivot" -> GQuery(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .count()
          .na.fill(0, Seq("F", "O", "P"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "pivot_wider reshape (R/schema_analyzer.R:6-24)"),

    // Z-order (Morton-curve) layout audit: interleave the bits of two
    // normalized dimensions (custkey, order day) into one sort key, then
    // report each top-6-bit z-range's row count and per-dimension span.
    // The invariant this proves — every z-range covers ~1/8 of BOTH
    // dimensions simultaneously (an 8×8 grid cell), where a linear sort
    // gives 1/64 of one and 100% of the other — is exactly what makes
    // `repartitionByRange(zval).sortWithinPartitions(zval).write` at
    // 100 TB prune file min/max stats on EITHER predicate dimension.
    // Min/max normalizers are one-row broadcasts; the bit interleave is
    // the closed-form magic-number spread (4 shift-mask rounds per dim —
    // pure codegen integer ops, NO per-row higher-order fold: the
    // aggregate(sequence(0,15),...) form this replaced allocated a
    // 16-element array per row and ran an interpreted lambda, 3.5 s vs
    // ~1 s at sf0.1); one z-bucket partial-agg shuffle of 64 groups.
    // ZOrderSpec pins the span invariant, the oracle pins the exact
    // values against DuckDB's independent per-bit fold.
    "q_zorder" -> GQuery(
      (s, d) => {
        import s.implicits._
        // 16-bit value -> even bit positions of a 32-bit word
        def spread(c: String): String = {
          val s1 = s"(($c | shiftleft($c, 8)) & 16711935)" // 0x00FF00FF
          val s2 = s"(($s1 | shiftleft($s1, 4)) & 252645135)" // 0x0F0F0F0F
          val s3 = s"(($s2 | shiftleft($s2, 2)) & 858993459)" // 0x33333333
          s"(($s3 | shiftleft($s3, 1)) & 1431655765)" // 0x55555555
        }
        val o = t(s, d, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_orderdate")
        val m = o.agg(min($"o_custkey").as("minc"), max($"o_custkey").as("maxc"),
          min($"o_orderdate").as("mind"), max($"o_orderdate").as("maxd"))
        o.crossJoin(broadcast(m))
          .withColumn("x", expr(
            "((o_custkey - minc) * 65535) div greatest(maxc - minc, 1L)"))
          .withColumn("y", expr(
            """(cast(datediff(o_orderdate, mind) as bigint) * 65535)
              | div greatest(cast(datediff(maxd, mind) as bigint), 1L)"""
              .stripMargin))
          .withColumn("zval",
            expr(s"${spread("x")} | shiftleft(${spread("y")}, 1)"))
          .groupBy(expr("zval >> 26").as("zbucket"))
          .agg(count(lit(1)).as("n"),
            (max($"o_custkey") - min($"o_custkey")).as("custkey_span"),
            datediff(max($"o_orderdate"), min($"o_orderdate"))
              .cast("bigint").as("date_span_days"))
          .orderBy($"zbucket")
      },
      Some("""WITH m AS (
        |  SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
        |    min(o_orderdate) AS mind, max(o_orderdate) AS maxd
        |  FROM orders),
        |n AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |    (o_custkey - minc) * 65535 // greatest(maxc - minc, 1) AS x,
        |    CAST(date_diff('day', mind, o_orderdate) AS BIGINT) * 65535
        |      // greatest(CAST(date_diff('day', mind, maxd) AS BIGINT), 1)
        |      AS y
        |  FROM orders, m),
        |z AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(list_sum(list_transform(generate_series(0, 15),
        |      i -> ((x >> i) & 1) * power(2, 2*i)
        |         + ((y >> i) & 1) * power(2, 2*i+1))) AS BIGINT) AS zval
        |  FROM n)
        |SELECT zval >> 26 AS zbucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(max(o_custkey) - min(o_custkey) AS BIGINT) AS custkey_span,
        |  CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
        |    AS BIGINT) AS date_span_days
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),
      "Morton z-order layout audit: every z-range tight in BOTH dims"),

    // Zone-map (min/max statistics) pruning audit — the companion to
    // q_zorder that measures WHY layout matters: simulate range-clustered
    // files (512 orderkeys per file, the write pattern of
    // repartitionByRange(orderkey).write), record each file's shipdate
    // min/max zone map, and report how many files a shipdate predicate
    // skips without opening them (file pruned iff its max < cutoff) and
    // the scan fraction that remain. This is exactly the parquet
    // row-group / Delta file-skipping calculus at 100 TB: the audit is
    // one file-keyed partial-agg shuffle (#files rows), the cutoff a
    // one-row broadcast (min shipdate + 1200 days — data-derived, no
    // calendar literal). Pruning is lossless by construction: every
    // matching row lives in a scanned file (rows_match ≤ rows_scanned).
    "q_zone_map" -> GQuery(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
          .select(expr("l_orderkey div 512").as("file_id"),
            to_date($"l_shipdate").as("ship"))
        val cut = li.agg(date_add(min($"ship"), 1200).as("cutoff"))
        val f = li.crossJoin(broadcast(cut))
          .groupBy($"file_id")
          .agg(count(lit(1)).as("n_rows"), max($"ship").as("mx"),
            sum(when($"ship" >= $"cutoff", 1L).otherwise(0L)).as("n_match"),
            max($"cutoff").as("cutoff"))
        f.agg(count(lit(1)).as("n_files"),
            sum(when($"mx" < $"cutoff", 1L).otherwise(0L)).as("files_pruned"),
            sum($"n_rows").as("rows_total"),
            sum(when($"mx" < $"cutoff", lit(0L)).otherwise($"n_rows"))
              .as("rows_scanned"),
            sum($"n_match").as("rows_match"))
          .select($"n_files", $"files_pruned",
            round($"files_pruned".cast("double") / $"n_files", 6)
              .as("prune_frac"),
            $"rows_total", $"rows_scanned",
            round($"rows_scanned".cast("double") / $"rows_total", 6)
              .as("scan_frac"),
            $"rows_match")
      },
      Some("""WITH li AS (
        |  SELECT l_orderkey // 512 AS file_id,
        |    CAST(l_shipdate AS DATE) AS ship
        |  FROM lineitem),
        |c AS (SELECT min(ship) + 1200 AS cutoff FROM li),
        |f AS (
        |  SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    max(ship) AS mx,
        |    CAST(SUM(CASE WHEN ship >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match,
        |    max(cutoff) AS cutoff
        |  FROM li, c GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN mx < cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |    AS files_pruned,
        |  round(CAST(SUM(CASE WHEN mx < cutoff THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS prune_frac,
        |  CAST(SUM(n_rows) AS BIGINT) AS rows_total,
        |  CAST(SUM(CASE WHEN mx < cutoff THEN 0 ELSE n_rows END) AS BIGINT)
        |    AS rows_scanned,
        |  round(CAST(SUM(CASE WHEN mx < cutoff THEN 0 ELSE n_rows END)
        |    AS DOUBLE) / SUM(n_rows), 6) AS scan_frac,
        |  CAST(SUM(n_match) AS BIGINT) AS rows_match
        |FROM f""".stripMargin),
      "zone-map pruning audit: files skipped by min/max stats, lossless"),
  )
}
