package graft.operators

import graft.{Det, Paths, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

/** SURVEY.md §2.8: scalar function families — all Spark built-ins (codegen'd,
  * whole-stage-compiled; no UDFs in these paths).
  *
  * Oracle-parity notes:
  *  - round() is applied to DECIMAL, not DOUBLE (Spark HALF_UP == DuckDB
  *    half-away-from-zero for positive values; doubles would hit binary
  *    representation edges);
  *  - floor() returns LONG in Spark, DOUBLE in DuckDB → oracle casts;
  *  - regex patterns stay in the common Java/RE2 subset.
  */
object Funcs extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "func_str" -> ((s, d) =>
      Tables.part(s, d).select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 4).as("pfx"),
          split(col("p_name"), " ").getItem(0).as("first_word"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
          trim(concat(lit("  "), col("p_type"), lit("  "))).as("trimmed"),
          length(col("p_name")).as("n_chars"))
        .orderBy("p_partkey")),

    "func_regex" -> ((s, d) =>
      Tables.part(s, d).select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("adj"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("consonants"),
          col("p_name").rlike("(bolt|gear)").as("is_hardware"))
        .orderBy("p_partkey")),

    "func_date" -> ((s, d) =>
      Tables.orders(s, d).select(
          col("o_orderkey"),
          Det.dstr(col("o_orderdate")).as("odate"),
          year(col("o_orderdate")).as("oyear"),
          month(col("o_orderdate")).as("omonth"),
          dayofmonth(col("o_orderdate")).as("oday"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .as("days_since_epoch95"),
          Det.dstr(date_add(col("o_orderdate").cast("date"), 30).cast("timestamp"))
            .as("due_date"))
        .orderBy("o_orderkey")),

    "func_math" -> ((s, d) =>
      Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice")).as("floor_price"),
          ceil(col("l_extendedprice")).as("ceil_price"),
          abs(col("l_discount") - 0.05).as("disc_dev"),
          pmod(col("l_orderkey"), lit(7)).as("bucket"),
          expr("l_orderkey div 100").as("block"),
          round(col("l_extendedprice").cast("decimal(18,2)"), 1)
            .cast("double").as("price_r1"))
        .orderBy("l_orderkey", "l_linenumber")),

    "func_cond" -> ((s, d) =>
      Tables.orders(s, d).select(
          col("o_orderkey"),
          when(col("o_totalprice") > 150000, "high")
            .when(col("o_totalprice") > 50000, "mid")
            .otherwise("low").as("band"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_x"))
        .orderBy("o_orderkey")),

    "func_array" -> ((s, d) =>
      // higher-order array functions over deterministic int arrays
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          sequence(lit(1), col("l_linenumber")).as("arr"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          size(col("arr")).as("arr_len"),
          aggregate(col("arr"), lit(0), (a, x) => a + x).as("arr_sum"),
          concat_ws(",", transform(col("arr"), x => x * 2)).as("doubled"),
          array_contains(col("arr"), 3).as("has3"))
        .orderBy("l_orderkey", "l_linenumber")),

    "func_array_explode" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(sequence(lit(1), col("l_linenumber"))).as("i"))
        .orderBy("l_orderkey", "l_linenumber", "i")),

    "func_vector" -> ((s, d) =>
      // embeddings column basics (float elements surface exactly as doubles)
      Tables.embeddings(s, d).select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("e0"),
          element_at(col("embedding"), 64).cast("double").as("e63"),
          col("label"))
        .orderBy("vec_id")),

    "func_map_json" -> ((s, d) =>
      Tables.events(s, d).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_json"),
          element_at(
            from_json(col("props"), MapType(StringType, IntegerType)), "k")
            .as("k_map"))
        .orderBy("event_id")),

    // FUNC: Spark 4 VARIANT — the open-lakehouse semi-structured type
    // (binary-encoded, schema-on-read, typed path extraction) vs
    // func_map_json's string-level get_json_object. The query exercises
    // the full round-trip: build nested JSON in-row, parse_json → VARIANT,
    // variant_get typed paths (incl. a nested object and a JSON string
    // embedded as a leaf). The oracle never sees the intermediate
    // encoding — it checks the extracted values against the BASE columns,
    // so any drift anywhere in the round-trip hash-mismatches.
    "func_variant" -> ((s, d) =>
      Tables.events(s, d).select(
          col("event_id"),
          parse_json(to_json(struct(
            col("event_type").as("t"),
            struct(col("user_id").as("u"), col("value").as("v")).as("n"),
            col("props").as("p")))).as("var"),
          col("props"))
        .select(
          col("event_id"),
          expr("variant_get(var, '$.t', 'string')").as("t"),
          expr("variant_get(var, '$.n.u', 'long')").as("u"),
          expr("variant_get(var, '$.n.v', 'double')").as("v"),
          expr("variant_get(var, '$.p', 'string')").as("p_raw"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .orderBy("event_id")),

    "func_hash" -> ((s, d) =>
      Tables.customer(s, d).select(
          col("c_custkey"),
          md5(col("c_name").cast("binary")).as("name_md5"),
          sha2(col("c_name").cast("binary"), 256).as("name_sha256"))
        .orderBy("c_custkey")),

    // xxhash64 has no DuckDB builtin, so the oracle is a GOLDEN-DUAL
    // (scan3 pattern): FixtureGen.xxh64Ref — an independent scalar
    // XXH64 from the public spec — pre-hashes 'Customer#%09d' per
    // custkey into a committed CSV the oracle joins; Spark hashes the
    // live c_name. Agreement pins seed-42 UTF-8-byte XXH64 exactly
    // (GoldenValueSpec additionally pins ref == Spark on adversarial
    // lengths covering the 32-byte stripe path).
    "func_hash_xx64" -> ((s, d) =>
      Tables.customer(s, d).select(
          col("c_custkey"), xxhash64(col("c_name")).as("name_xx64"))
        .orderBy("c_custkey")),

    // FUNC-try: error-safe conversion family — TRY_CAST/try_divide return
    // NULL where strict forms throw (ANSI) or silently corrupt (legacy):
    // the dirty-input posture scan9's corrupt-CSV handling applies at the
    // expression level. Mixed parseable/garbage inputs come from part
    // names (words never parse, trailing digits sometimes do).
    "func_try" -> ((s, d) =>
      Tables.part(s, d).select(
          col("p_partkey"),
          expr("TRY_CAST(split(p_name, ' ')[0] AS INT)").as("word_as_int"),
          // integer source: overflow semantics are unambiguous (DuckDB's
          // TRY_CAST truncates fractions where Spark rounds — fractional
          // sources would diverge at the .5 boundary)
          expr("TRY_CAST(p_partkey * 1000 AS SMALLINT)").as("narrow_int"),
          expr("try_divide(p_retailprice, p_size - p_size)").as("div0"),
          expr("try_divide(p_retailprice, p_size)").as("per_size"))
        .orderBy("p_partkey")),

    // FUNC-bit: bitwise family — mask/extract/shift/popcount, the id- and
    // flag-packing primitives (llm33's JL signs and llm2c's simhash fold
    // use the same ops inside HOFs); all codegen'd comparisons, no UDF.
    "func_bit" -> ((s, d) =>
      Tables.orders(s, d).select(
          col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("lo8"),
          col("o_orderkey").bitwiseXOR(col("o_custkey")).as("xor_ck"),
          col("o_orderkey").bitwiseOR(lit(1L)).as("or1"),
          expr("shiftleft(o_orderkey, 3)").as("shl3"),
          expr("shiftright(o_orderkey, 2)").as("shr2"),
          bit_count(col("o_orderkey")).as("popcnt"))
        .orderBy("o_orderkey")),

    "func_format" -> ((s, d) =>
      // report-rendering paddings (util.py:96 rjust analogue)
      Tables.nation(s, d).select(
          col("n_nationkey"),
          lpad(col("n_name"), 20, " ").as("rjust"),
          rpad(col("n_name"), 20, ".").as("ljust"))
        .orderBy("n_nationkey"))
  )

  def oracle: Map[String, String] = Map(
    // inner join: a golden row exists for every custkey ≤ sf0.1's max,
    // so any dropped row (or a c_name off the generator pattern, hashed
    // differently by Spark) surfaces as a row-count / hash mismatch
    "func_hash_xx64" ->
      s"""SELECT c.c_custkey, CAST(g.name_xx64 AS BIGINT) AS name_xx64
         |FROM customer c
         |JOIN read_csv('${Paths.fixture("xxhash64_customer_golden.csv")}',
         |              header=true, all_varchar=true) g
         |  ON CAST(g.c_custkey AS BIGINT) = c.c_custkey
         |ORDER BY c.c_custkey""".stripMargin,

    "func_str" ->
      """SELECT p_partkey, upper(p_name) AS uname, substring(p_name, 1, 4) AS pfx,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        |  trim(concat('  ', p_type, '  ')) AS trimmed,
        |  length(p_name) AS n_chars
        |FROM part ORDER BY p_partkey""".stripMargin,

    "func_regex" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS adj,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants,
        |  regexp_matches(p_name, '(bolt|gear)') AS is_hardware
        |FROM part ORDER BY p_partkey""".stripMargin,

    "func_date" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST(year(o_orderdate) AS INT) AS oyear,
        |  CAST(month(o_orderdate) AS INT) AS omonth,
        |  CAST(day(o_orderdate) AS INT) AS oday,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
        |    AS days_since_epoch95,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "func_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  l_orderkey % 7 AS bucket,
        |  l_orderkey // 100 AS block,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r1
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "func_cond" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 150000 THEN 'high'
        |       WHEN o_totalprice > 50000 THEN 'mid'
        |       ELSE 'low' END AS band,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_x
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "func_array" ->
      """SELECT l_orderkey, l_linenumber,
        |  len(range(1, l_linenumber + 1)) AS arr_len,
        |  CAST(list_sum(range(1, l_linenumber + 1)) AS INT) AS arr_sum,
        |  array_to_string(list_transform(range(1, l_linenumber + 1), x -> x * 2), ',')
        |    AS doubled,
        |  list_contains(range(1, l_linenumber + 1), 3) AS has3
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "func_array_explode" ->
      """SELECT l_orderkey, l_linenumber, CAST(u.i AS INT) AS i
        |FROM lineitem, unnest(range(1, l_linenumber + 1)) AS u(i)
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, i""".stripMargin,

    "func_vector" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS e0,
        |  CAST(embedding[64] AS DOUBLE) AS e63,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "func_map_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_json,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_map
        |FROM events ORDER BY event_id""".stripMargin,

    // ground truth from the BASE columns — the variant round-trip must
    // reproduce them byte-for-byte
    "func_variant" ->
      """SELECT event_id, event_type AS t, user_id AS u, value AS v,
        |  props AS p_raw,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "func_hash" ->
      """SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "func_format" ->
      """SELECT n_nationkey, lpad(n_name, 20, ' ') AS rjust, rpad(n_name, 20, '.') AS ljust
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // DuckDB has no try_divide; its plain x/0 yields NULL, which IS
    // try_divide's contract. p_size-p_size spells the zero so neither
    // engine constant-folds a literal division.
    "func_try" ->
      """SELECT p_partkey,
        |  TRY_CAST(string_split(p_name, ' ')[1] AS INT) AS word_as_int,
        |  TRY_CAST(p_partkey * 1000 AS SMALLINT) AS narrow_int,
        |  p_retailprice / (p_size - p_size) AS div0,
        |  p_retailprice / p_size AS per_size
        |FROM part ORDER BY p_partkey""".stripMargin,

    // Spark shiftleft wraps in 64-bit two's complement; DuckDB << on
    // BIGINT matches. bit_count is INT on the Spark side — cast DuckDB's.
    "func_bit" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS lo8,
        |  xor(o_orderkey, o_custkey) AS xor_ck,
        |  o_orderkey | 1 AS or1,
        |  o_orderkey << 3 AS shl3,
        |  o_orderkey >> 2 AS shr2,
        |  CAST(bit_count(o_orderkey) AS INT) AS popcnt
        |FROM orders ORDER BY o_orderkey""".stripMargin
  )
}
