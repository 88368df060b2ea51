package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/**
 * Scalar function coverage (SURVEY §7.2 step 3): string, datetime, math,
 * conditional, JSON, and array functions — all codegen'd built-ins
 * (`org.apache.spark.sql.functions`), no UDFs in any of these paths.
 *
 * Oracle notes: only functions with bit-identical cross-engine semantics
 * are used (no libm-dependent exp/ln, no HALF_UP-vs-HALF_EVEN rounding,
 * no locale-sensitive collation). sqrt IS safe (IEEE correctly-rounded).
 */
object ScalarQueries extends QueryFamily {

  /** String functions over part. */
  def scalarString(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      upper(col("p_name")).as("uname"),
      lower(col("p_brand")).as("lbrand"),
      length(col("p_name")).as("name_len"),
      substring(col("p_name"), 1, 5).as("name5"),
      concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_name"), " ", "_").as("snake_name"),
      lpad(col("p_brand"), 12, "*").as("padded"),
      col("p_name").like("%widget%").as("is_widget"))
      .orderBy(col("p_partkey"))

  /** Datetime functions over orders (NTZ-safe, UTC-pinned). */
  def scalarDatetime(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      quarter(col("o_orderdate")).as("q"),
      // date_trunc yields LTZ even for NTZ input — cast back for parity
      date_trunc("month", col("o_orderdate")).cast(TimestampNTZType).as("month_start"),
      expr("o_orderdate + INTERVAL 5 DAYS").as("plus5d"),
      unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy(col("o_orderkey"))

  /** Math functions over lineitem (exact / correctly-rounded ops only). */
  def scalarMath(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_discount") - lit(0.05)).as("abs_disc_gap"),
      floor(col("l_extendedprice")).cast(LongType).as("price_floor"),
      ceil(col("l_extendedprice")).cast(LongType).as("price_ceil"),
      (col("l_orderkey") % 7).as("key_mod7"),
      sqrt(col("l_quantity")).as("qty_sqrt"),
      (col("l_quantity") * col("l_quantity")).as("qty_sq"),
      greatest(col("l_tax"), col("l_discount")).as("max_rate"),
      least(col("l_tax"), col("l_discount")).as("min_rate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** CASE / COALESCE / NULLIF conditional logic. */
  def scalarCase(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      when(col("o_totalprice") > 300000.0, "high")
        .when(col("o_totalprice") > 100000.0, "mid")
        .otherwise("low").as("price_band"),
      coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING")).as("status_display"),
      (col("o_orderstatus") === "F").cast(IntegerType).as("is_final"))
      .orderBy(col("o_orderkey"))

  /** JSON extraction over events.props — exercises BOTH Spark JSON paths:
    * get_json_object (string scan) and from_json (typed parse into a
    * struct), cross-checked against one DuckDB oracle expression. */
  def scalarJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(IntegerType).as("k_scan"),
      from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
        .getField("k").as("k_typed"))
      .orderBy(col("event_id"))

  /** Spark 4 VARIANT path: `parse_json` into the binary semi-structured
    * type, then typed `variant_get` extraction — the shredded-JSON
    * engine surface that replaces string re-scanning for
    * document-corpus metadata at scale (parse once, extract many). The
    * typed extraction makes it oracle-comparable: the VARIANT never
    * leaves the plan, only the INT/STRING projections do. */
  def scalarVariant(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      expr("variant_get(parse_json(props), '$.k', 'int')").as("k_variant"),
      expr("try_variant_get(parse_json(props), '$.missing', 'string')")
        .as("missing_field"))
      .orderBy(col("event_id"))

  /** Map + struct construction and field extraction. The oracle verifies
    * the round-trip values (construction → extraction is identity), so
    * the map/struct machinery itself is what's exercised on the Spark
    * side; DuckDB's MAP extraction returns lists, so its SQL states the
    * expected identities directly. */
  def scalarMapStruct(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        map(lit("brand"), col("p_brand"), lit("type"), col("p_type")).as("m"),
        struct(col("p_brand").as("b"), col("p_size").as("s")).as("st"))
      .select(col("p_partkey"),
        element_at(col("m"), "brand").as("brand_v"),
        concat_ws(",", map_keys(col("m"))).as("keys_csv"),
        size(col("m")).as("m_size"),
        col("st").getField("b").as("st_brand"),
        col("st").getField("s").as("st_size"))
      .orderBy(col("p_partkey"))

  /** Higher-order array functions (transform/filter/aggregate lambdas)
    * over exact integer sequences — the declarative-lambda surface,
    * cross-checked against DuckDB's list comprehension functions. */
  def scalarArrayHof(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      // explicit invariant, enforced on BOTH engine sides: TPC-H p_size
      // is >= 1, and Spark's sequence(1, 0) silently generates a
      // DESCENDING [1, 0] (Spark sequence semantics) where
      // DuckDB's RANGE(1, 1) is empty — a p_size = 0 regen would desync
      // the oracle with no error anywhere
      .filter(col("p_size") >= 1)
      .select(col("p_partkey"),
        sequence(lit(1), col("p_size")).as("xs"))
      .select(col("p_partkey"),
        aggregate(transform(col("xs"), x => x * x), lit(0L), (acc, x) => acc + x)
          .as("sum_sq"),
        size(filter(col("xs"), x => x % 2 === 0)).as("n_even"),
        element_at(reverse(col("xs")), 1).cast(LongType).as("last_x"))
      .orderBy(col("p_partkey"))

  /** Array functions over embeddings (no float arithmetic — exact values). */
  def scalarArray(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      element_at(col("embedding"), 1).as("first_v"),
      element_at(col("embedding"), -1).as("last_v"))
      .orderBy(col("vec_id"))

  val declarations: Seq[Q] = Seq(
    Q("scalar_string", scalarString _,
      """SELECT p_partkey,
        |  UPPER(p_name) AS uname,
        |  LOWER(p_brand) AS lbrand,
        |  CAST(LENGTH(p_name) AS INT) AS name_len,
        |  SUBSTRING(p_name, 1, 5) AS name5,
        |  CONCAT(p_brand, ':', p_type) AS brand_type,
        |  REGEXP_REPLACE(p_name, ' ', '_', 'g') AS snake_name,
        |  LPAD(p_brand, 12, '*') AS padded,
        |  (p_name LIKE '%widget%') AS is_widget
        |FROM part ORDER BY p_partkey""".stripMargin),
    Q("scalar_map_struct", scalarMapStruct _,
      """SELECT p_partkey,
        |  p_brand AS brand_v,
        |  'brand,type' AS keys_csv,
        |  CAST(2 AS INT) AS m_size,
        |  p_brand AS st_brand,
        |  p_size AS st_size
        |FROM part ORDER BY p_partkey""".stripMargin),
    Q("scalar_array_hof", scalarArrayHof _,
      """SELECT p_partkey,
        |  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, p_size + 1), x -> x * x)) AS BIGINT) AS sum_sq,
        |  CAST(LEN(LIST_FILTER(RANGE(1, p_size + 1), x -> x % 2 = 0)) AS INT) AS n_even,
        |  CAST(p_size AS BIGINT) AS last_x
        |FROM part WHERE p_size >= 1 ORDER BY p_partkey""".stripMargin),
    Q("scalar_datetime", scalarDatetime _,
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS d,
        |  CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS q,
        |  DATE_TRUNC('month', o_orderdate) AS month_start,
        |  o_orderdate + INTERVAL 5 DAY AS plus5d,
        |  CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Q("scalar_math", scalarMath _,
      """SELECT l_orderkey, l_linenumber,
        |  ABS(l_discount - 0.05) AS abs_disc_gap,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        |  l_orderkey % 7 AS key_mod7,
        |  SQRT(l_quantity) AS qty_sqrt,
        |  l_quantity * l_quantity AS qty_sq,
        |  GREATEST(l_tax, l_discount) AS max_rate,
        |  LEAST(l_tax, l_discount) AS min_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Q("scalar_case", scalarCase _,
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000.0 THEN 'high'
        |       WHEN o_totalprice > 100000.0 THEN 'mid'
        |       ELSE 'low' END AS price_band,
        |  COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_display,
        |  CAST(o_orderstatus = 'F' AS INT) AS is_final
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Q("scalar_json", scalarJson _,
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_scan,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_typed
        |FROM events ORDER BY event_id""".stripMargin),
    // the VARIANT stays inside the Spark plan; only typed extractions
    // surface, so plain JSON extraction oracles them
    Q("scalar_variant", scalarVariant _,
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_variant,
        |  json_extract_string(props, '$.missing') AS missing_field
        |FROM events ORDER BY event_id""".stripMargin),
    Q("scalar_array", scalarArray _,
      """SELECT vec_id,
        |  CAST(LEN(embedding) AS INT) AS dim,
        |  embedding[1] AS first_v,
        |  embedding[-1] AS last_v
        |FROM embeddings ORDER BY vec_id""".stripMargin))
}
