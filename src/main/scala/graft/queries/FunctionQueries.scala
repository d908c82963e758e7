package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine

/** Scalar-function coverage mirroring the reference's Trino-style
  * function library (`src/planner/logical_expr.rs:270-536`, evaluation
  * `src/physical/operators/filter.rs:652-5311`). One query per category,
  * like the reference's `tests/expected_results/func/` corpus (46 files).
  *
  * Oracle notes (cross-engine semantics):
  *  - float-valued functions rounded to 6dp (libm last-ULP differences);
  *  - DuckDB regexp_replace needs the 'g' flag to match Spark's
  *    replace-all;
  *  - Spark dayofweek is 1=Sunday..7 while DuckDB's is 0=Sunday..6 —
  *    oracle adds 1;
  *  - Spark array_position returns 0 for missing, DuckDB list_position
  *    NULL — oracle coalesces;
  *  - hex() output case differs — lowered on both sides.
  *
  * Array coverage *exceeds* the reference: its 29 array functions are
  * declared but all NotImplemented at execution (filter.rs:5306-5310).
  *
  * A row whose oracle Spark plans identically runs that oracle
  * (`Q.sql`); the rest exercise a Spark spelling the DuckDB oracle
  * cannot carry (`reshaped` names each and why).
  */
object FunctionQueries extends QueryCatalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.t(s, dir, name)

  // ------------------------------------------------------------- strings

  private val funcString1 = Q(
    "func_string1",
    Some("""
      SELECT c_custkey,
             upper(c_name) AS up, lower(c_mktsegment) AS lo,
             trim('  ' || c_mktsegment || ' ') AS trimmed,
             ltrim('xx' || c_name, 'x') AS lt, rtrim(c_name || 'yy', 'y') AS rt,
             length(c_name) AS len,
             substring(c_name, 1, 8) AS sub,
             c_name || '/' || c_mktsegment AS cat,
             concat_ws('-', c_mktsegment, c_name) AS catws,
             replace(c_name, 'Customer', 'Cust') AS repl,
             lpad(c_mktsegment, 12, '*') AS lp, rpad(c_mktsegment, 12, '*') AS rp,
             reverse(c_mktsegment) AS rev,
             starts_with(c_name, 'Customer') AS sw,
             ends_with(c_name, '1') AS ew
      FROM customer WHERE c_custkey < 10 ORDER BY c_custkey"""),
    (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") < 10)
        .select(col("c_custkey"),
          upper(col("c_name")).as("up"), lower(col("c_mktsegment")).as("lo"),
          trim(concat(lit("  "), col("c_mktsegment"), lit(" "))).as("trimmed"),
          ltrim(concat(lit("xx"), col("c_name")), "x").as("lt"),
          rtrim(concat(col("c_name"), lit("yy")), "y").as("rt"),
          length(col("c_name")).as("len"),
          substring(col("c_name"), 1, 8).as("sub"),
          concat(col("c_name"), lit("/"), col("c_mktsegment")).as("cat"),
          concat_ws("-", col("c_mktsegment"), col("c_name")).as("catws"),
          regexp_replace(col("c_name"), "Customer", "Cust").as("repl"),
          lpad(col("c_mktsegment"), 12, "*").as("lp"),
          rpad(col("c_mktsegment"), 12, "*").as("rp"),
          reverse(col("c_mktsegment")).as("rev"),
          col("c_name").startsWith("Customer").as("sw"),
          col("c_name").endsWith("1").as("ew"))
        .orderBy(col("c_custkey")))

  private val funcString2 = Q(
    "func_string2",
    Some("""
      SELECT p_partkey,
             split_part(p_name, ' ', 1) AS word1, split_part(p_name, ' ', 2) AS word2,
             strpos(p_name, ' ') AS sp,
             translate(p_name, 'aeiou', 'AEIOU') AS tr,
             repeat(p_brand, 2) AS rep,
             left(p_name, 3) AS l3, right(p_name, 3) AS r3,
             levenshtein(p_type, 'PROMO') AS lev,
             chr(65 + p_size % 26) AS ch,
             ascii(p_name) AS asc_first,
             CAST(p_size AS VARCHAR) AS size_str
      FROM part WHERE p_partkey < 15 ORDER BY p_partkey"""),
    (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") < 15)
        .select(col("p_partkey"),
          split_part(col("p_name"), lit(" "), lit(1)).as("word1"),
          split_part(col("p_name"), lit(" "), lit(2)).as("word2"),
          instr(col("p_name"), " ").as("sp"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
          repeat(col("p_brand"), 2).as("rep"),
          expr("left(p_name, 3)").as("l3"), expr("right(p_name, 3)").as("r3"),
          levenshtein(col("p_type"), lit("PROMO")).as("lev"),
          chr(lit(65) + col("p_size") % 26).as("ch"),
          ascii(col("p_name")).as("asc_first"),
          col("p_size").cast("string").as("size_str"))
        .orderBy(col("p_partkey")))

  // ---------------------------------------------------------------- math

  private val funcMath = Q(
    "func_math",
    Some("""
      SELECT l_orderkey, l_linenumber,
             abs(l_quantity - 25) AS a, ceil(l_discount * 100) AS c,
             floor(l_tax * 100) AS f,
             round(l_extendedprice / 1000, 2) AS r,
             round(sqrt(l_quantity), 6) AS sq, round(cbrt(l_quantity), 6) AS cb,
             round(power(l_quantity, 2), 2) AS pw,
             CAST(l_quantity AS INT) % 7 AS md,
             CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
             round(ln(l_quantity), 6) AS lnx, round(log10(l_extendedprice), 6) AS lg10,
             round(log2(l_quantity), 6) AS lg2, round(exp(l_discount), 6) AS ex,
             greatest(l_quantity, 25.0) AS gr, least(l_quantity, 25.0) AS le
      FROM lineitem WHERE l_orderkey < 20 ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 20)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25).as("a"),
          ceil(col("l_discount") * 100).cast("double").as("c"),
          floor(col("l_tax") * 100).cast("double").as("f"),
          round(col("l_extendedprice") / 1000, 2).as("r"),
          round(sqrt(col("l_quantity")), 6).as("sq"),
          round(cbrt(col("l_quantity")), 6).as("cb"),
          round(pow(col("l_quantity"), 2), 2).as("pw"),
          (col("l_quantity").cast("int") % 7).as("md"),
          signum(col("l_discount") - 0.05).as("sg"),
          round(log(col("l_quantity")), 6).as("lnx"),
          round(log10(col("l_extendedprice")), 6).as("lg10"),
          round(log2(col("l_quantity")), 6).as("lg2"),
          round(exp(col("l_discount")), 6).as("ex"),
          greatest(col("l_quantity"), lit(25.0)).as("gr"),
          least(col("l_quantity"), lit(25.0)).as("le"))
        .orderBy(col("l_orderkey"), col("l_linenumber")))

  private val funcTrig = Q(
    "func_trig",
    Some("""
      SELECT p_partkey,
             round(sin(p_size / 10.0), 6) AS sn, round(cos(p_size / 10.0), 6) AS cs,
             round(tan(p_size / 100.0), 6) AS tn,
             round(asin(p_size / 50.0), 6) AS asn, round(acos(p_size / 50.0), 6) AS acs,
             round(atan(p_size / 10.0), 6) AS atn,
             round(atan2(p_size, 10), 6) AS at2,
             round((exp(p_size / 25.0) - exp(-(p_size / 25.0))) / 2, 6) AS snh,
             round((exp(p_size / 25.0) + exp(-(p_size / 25.0))) / 2, 6) AS csh,
             round((exp(2 * p_size / 25.0) - 1) / (exp(2 * p_size / 25.0) + 1), 6) AS tnh,
             round(degrees(p_size / 10.0), 6) AS dg, round(radians(p_size), 6) AS rd,
             round(pi(), 6) AS p
      FROM part WHERE p_partkey < 15 ORDER BY p_partkey"""),
    (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") < 15)
        .select(col("p_partkey"),
          round(sin(col("p_size") / 10.0), 6).as("sn"),
          round(cos(col("p_size") / 10.0), 6).as("cs"),
          round(tan(col("p_size") / 100.0), 6).as("tn"),
          round(asin(col("p_size") / 50.0), 6).as("asn"),
          round(acos(col("p_size") / 50.0), 6).as("acs"),
          round(atan(col("p_size") / 10.0), 6).as("atn"),
          round(atan2(col("p_size").cast("double"), lit(10.0)), 6).as("at2"),
          round(sinh(col("p_size") / 25.0), 6).as("snh"),
          round(cosh(col("p_size") / 25.0), 6).as("csh"),
          round(tanh(col("p_size") / 25.0), 6).as("tnh"),
          round(degrees(col("p_size") / 10.0), 6).as("dg"),
          round(radians(col("p_size")), 6).as("rd"),
          round(lit(math.Pi), 6).as("p"))
        .orderBy(col("p_partkey")))

  // ------------------------------------------------------------ date/time

  private val funcDtExtract = Q(
    "func_dt_extract",
    Some("""
      SELECT event_id,
             year(ts) AS y, month(ts) AS mo, day(ts) AS d,
             hour(ts) AS h, minute(ts) AS mi, CAST(floor(second(ts)) AS BIGINT) AS se,
             quarter(ts) AS q, dayofyear(ts) AS doy,
             dayofweek(ts) + 1 AS dow, weekofyear(ts) AS woy,
             CAST(extract(year FROM ts) AS BIGINT) AS ey,
             CAST(date_part('millisecond', ts) - floor(second(ts)) * 1000 AS BIGINT) AS ms
      FROM events WHERE event_id < 15 ORDER BY event_id"""),
    (s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 15)
        .select(col("event_id"),
          year(col("ts")).cast("long").as("y"), month(col("ts")).cast("long").as("mo"),
          dayofmonth(col("ts")).cast("long").as("d"),
          hour(col("ts")).cast("long").as("h"), minute(col("ts")).cast("long").as("mi"),
          second(col("ts")).cast("long").as("se"),
          quarter(col("ts")).cast("long").as("q"),
          dayofyear(col("ts")).cast("long").as("doy"),
          dayofweek(col("ts")).cast("long").as("dow"),
          weekofyear(col("ts")).cast("long").as("woy"),
          year(col("ts")).cast("long").as("ey"),
          date_format(col("ts"), "SSS").cast("long").as("ms"))
        .orderBy(col("event_id")))

  private val funcDtArith = Q(
    "func_dt_arith",
    Some("""
      SELECT event_id,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS th,
             CAST(date_trunc('month', ts) AS TIMESTAMP) AS tm,
             ts + INTERVAL 3 DAY AS plus3d,
             ts - INTERVAL 2 HOUR AS minus2h,
             date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS dd,
             CAST(last_day(CAST(ts AS DATE)) AS TIMESTAMP) AS ld
      FROM events WHERE event_id < 15 ORDER BY event_id"""),
    (s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 15)
        .select(col("event_id"),
          date_trunc("hour", col("ts")).as("th"),
          date_trunc("month", col("ts")).as("tm"),
          (col("ts") + expr("INTERVAL 3 DAY")).as("plus3d"),
          (col("ts") - expr("INTERVAL 2 HOUR")).as("minus2h"),
          datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).cast("long").as("dd"),
          last_day(col("ts")).cast("timestamp_ntz").as("ld"))
        .orderBy(col("event_id")))

  private val funcDtFormat = Q(
    "func_dt_format",
    Some("""
      SELECT event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt,
             strftime(ts, '%d/%m/%Y') AS fmt2,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS unix_s,
             CAST(to_timestamp(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS TIMESTAMP) AS back,
             CAST(strptime('2024-03-15 12:30:45', '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS parsed
      FROM events WHERE event_id < 15 ORDER BY event_id"""),
    (s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 15)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("fmt"),
          date_format(col("ts"), "dd/MM/yyyy").as("fmt2"),
          unix_timestamp(col("ts").cast("timestamp")).as("unix_s"),
          from_unixtime(unix_timestamp(col("ts").cast("timestamp"))).cast("timestamp_ntz").as("back"),
          to_timestamp_ntz(lit("2024-03-15 12:30:45"), lit("yyyy-MM-dd HH:mm:ss")).as("parsed"))
        .orderBy(col("event_id")))

  // ---------------------------------------------------------- conditional

  private val funcConditional = Q.sql(
    "func_conditional",
    """
      SELECT o_orderkey,
             coalesce(nullif(o_orderstatus, 'O'), 'open') AS st,
             CASE WHEN o_totalprice > 300000 THEN 'big'
                  WHEN o_totalprice > 100000 THEN 'mid'
                  ELSE 'small' END AS bucket,
             CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 3 END AS code,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 'yes' ELSE 'no' END AS urgent,
             greatest(o_totalprice, 250000.0) AS g, least(o_totalprice, 250000.0) AS l,
             try_cast(o_orderpriority AS DOUBLE) AS bad_cast,
             try_cast(substring(o_orderpriority, 1, 1) AS INT) AS pri_num
      FROM orders WHERE o_orderkey < 120 ORDER BY o_orderkey""")

  // --------------------------------------------------------------- regex

  private val funcRegex = Q(
    "func_regex",
    Some("""
      SELECT p_partkey,
             regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
             regexp_replace(p_name, '[aeiou]', '_', 'g') AS vowels_gone,
             regexp_matches(p_name, '^[a-z]+ [a-z]+$') AS two_words,
             length(regexp_replace(p_name, '[^aeiou]', '', 'g')) AS n_vowels,
             regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
             CASE WHEN regexp_matches(p_brand, '[0-9]+')
                  THEN length(regexp_extract(p_brand, '^(.*?)[0-9]', 1)) + 1
                  ELSE 0 END AS digit_pos,
             CASE WHEN regexp_matches(p_name, '[nts]o')
                  THEN length(regexp_extract(p_name, '^(.*?)[nts]o', 1)) + 1
                  ELSE 0 END AS so_pos,
             p_type LIKE '%O%' AS has_o,
             p_name LIKE 'b%' AS starts_b,
             p_name NOT LIKE '%z%' AS no_z
      FROM part WHERE p_partkey < 25 ORDER BY p_partkey"""),
    (s, dir) =>
      t(s, dir, "part").filter(col("p_partkey") < 25)
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("vowels_gone"),
          col("p_name").rlike("^[a-z]+ [a-z]+$").as("two_words"),
          length(regexp_replace(col("p_name"), "[^aeiou]", "")).as("n_vowels"),
          regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
          // true-regex position (our regexp_position → RegExpInStr):
          // metacharacter patterns that StringInstr would get wrong
          expr("CAST(regexp_position(p_brand, '[0-9]+') AS BIGINT)").as("digit_pos"),
          expr("CAST(regexp_position(p_name, '[nts]o') AS BIGINT)").as("so_pos"),
          col("p_type").like("%O%").as("has_o"),
          col("p_name").like("b%").as("starts_b"),
          (!col("p_name").like("%z%")).as("no_z"))
        .orderBy(col("p_partkey")))

  // ----------------------------------------------------------------- json

  private val funcJson = Q(
    "func_json",
    Some("""
      SELECT event_id,
             json_extract_string(props, '$.k') AS k_str,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
             json_extract_string(props, '$.missing') AS missing,
             json_array_length('[1,2,3,' || CAST(event_id % 10 AS VARCHAR) || ']') AS arr_len,
             json_extract_string('{"a":{"b":' || CAST(event_id AS VARCHAR) || '}}', '$.a.b') AS nested,
             json_extract_string('[1,2,3,' || CAST(event_id % 10 AS VARCHAR) || ']', '$[1]') AS arr_get,
             (event_id % 7) IN (1, 2, 3) OR (event_id % 7) = (event_id % 10) AS arr_has,
             CAST(1 AS BIGINT) AS props_size,
             false AS props_scalar
      FROM events WHERE event_id < 15 ORDER BY event_id"""),
    (s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 15)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"),
          get_json_object(col("props"), "$.missing").as("missing"),
          json_array_length(concat(lit("[1,2,3,"), (col("event_id") % 10).cast("string"), lit("]")))
            .cast("long").as("arr_len"),
          get_json_object(
            concat(lit("{\"a\":{\"b\":"), col("event_id").cast("string"), lit("}}")),
            "$.a.b").as("nested"),
          call_function("json_array_get",
            concat(lit("[1,2,3,"), (col("event_id") % 10).cast("string"), lit("]")),
            lit(1)).as("arr_get"),
          call_function("json_array_contains",
            concat(lit("[1,2,3,"), (col("event_id") % 10).cast("string"), lit("]")),
            col("event_id") % 7).as("arr_has"),
          call_function("json_size", col("props")).as("props_size"),
          call_function("is_json_scalar", col("props")).as("props_scalar"))
        .orderBy(col("event_id")))

  // ------------------------------------------------------------------ url

  /** parse_url family. DuckDB has no URL parser — the oracle reconstructs
    * each component from the same columns the URL was built from, which
    * is a valid oracle (same output, computed differently). */
  private val funcUrl = Q(
    "func_url",
    Some("""
      SELECT event_id,
             'https' AS proto,
             'example.com' AS host,
             '/app/' || event_type AS path,
             'uid=' || CAST(user_id AS VARCHAR) || '&x=1' AS query,
             CAST(user_id AS VARCHAR) AS uid_param,
             'frag' AS fragment
      FROM events WHERE event_id < 15 ORDER BY event_id"""),
    (s, dir) => {
      val url = concat(lit("https://example.com/app/"), col("event_type"),
        lit("?uid="), col("user_id").cast("string"), lit("&x=1#frag"))
      t(s, dir, "events").filter(col("event_id") < 15)
        .select(col("event_id"),
          parse_url(url, lit("PROTOCOL")).as("proto"),
          parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("PATH")).as("path"),
          parse_url(url, lit("QUERY")).as("query"),
          parse_url(url, lit("QUERY"), lit("uid")).as("uid_param"),
          parse_url(url, lit("REF")).as("fragment"))
        .orderBy(col("event_id"))
    })

  // -------------------------------------------------------- binary / hash

  private val funcHash = Q(
    "func_hash",
    Some("""
      SELECT n_nationkey,
             md5(n_name) AS h_md5,
             sha256(n_name) AS h_sha256,
             lower(hex(CAST(n_name AS BLOB))) AS h_hex,
             to_base64(CAST(n_name AS BLOB)) AS h_b64,
             CAST(FROM_base64(to_base64(CAST(n_name AS BLOB))) AS VARCHAR) AS roundtrip,
             octet_length(CAST(n_name AS BLOB)) AS n_bytes
      FROM nation ORDER BY n_nationkey"""),
    (s, dir) =>
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          md5(col("n_name").cast("binary")).as("h_md5"),
          sha2(col("n_name").cast("binary"), 256).as("h_sha256"),
          lower(hex(col("n_name").cast("binary"))).as("h_hex"),
          base64(col("n_name").cast("binary")).as("h_b64"),
          unbase64(base64(col("n_name").cast("binary"))).cast("string").as("roundtrip"),
          octet_length(col("n_name").cast("binary")).cast("long").as("n_bytes"))
        .orderBy(col("n_nationkey")))

  // ------------------------------------------------------------- bitwise

  private val funcBitwise = Q(
    "func_bitwise",
    Some("""
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS INT) & 12 AS band,
             CAST(l_quantity AS INT) | 5 AS bor,
             xor(CAST(l_quantity AS INT), 9) AS bxor,
             ~CAST(l_quantity AS INT) AS bnot,
             CAST(l_quantity AS INT) << 2 AS shl,
             CAST(l_quantity AS INT) >> 1 AS shr,
             bit_count(CAST(l_quantity AS INT)) AS bc
      FROM lineitem WHERE l_orderkey < 15 ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val q = col("l_quantity").cast("int")
      t(s, dir, "lineitem").filter(col("l_orderkey") < 15)
        .select(col("l_orderkey"), col("l_linenumber"),
          q.bitwiseAND(12).as("band"),
          q.bitwiseOR(5).as("bor"),
          q.bitwiseXOR(9).as("bxor"),
          expr("~ CAST(l_quantity AS INT)").as("bnot"),
          shiftleft(q, 2).as("shl"),
          shiftright(q, 1).as("shr"),
          bit_count(q).as("bc"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })

  // -------------------------------------------------------------- arrays

  private val funcArray1 = Q(
    "func_array1",
    Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             string_split(text, ' ')[1] AS first_word,
             string_split(text, ' ')[len(string_split(text, ' '))] AS last_word,
             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',') AS vocab,
             list_contains(string_split(text, ' '), 'the') AS has_the,
             CAST(coalesce(list_position(string_split(text, ' '), 'spark'), 0) AS BIGINT) AS spark_pos,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents WHERE doc_id < 12 ORDER BY doc_id"""),
    (s, dir) => {
      val words = split(col("text"), " ")
      t(s, dir, "documents").filter(col("doc_id") < 12)
        .select(col("doc_id"),
          size(words).as("n_words"),
          element_at(words, 1).as("first_word"),
          element_at(words, -1).as("last_word"),
          array_join(array_sort(array_distinct(words)), ",").as("vocab"),
          array_contains(words, "the").as("has_the"),
          array_position(words, "spark").as("spark_pos"),
          size(array_distinct(words)).as("n_distinct"))
        .orderBy(col("doc_id"))
    })

  /** Array ops — outputs serialized to scalar strings in the final
    * projection (both sides), because the driver's pandas-based compare
    * can't hash raw array cells. The array semantics under test are
    * unchanged; only the last mile is a join-to-string. */
  private val funcArray2 = Q(
    "func_array2",
    Some("""
      SELECT l_orderkey, l_linenumber,
             array_to_string([CAST(x AS VARCHAR) FOR x IN generate_series(1, l_linenumber)], ',') AS seq,
             len(generate_series(1, l_linenumber)) AS seq_len,
             generate_series(1, l_linenumber)[1] AS seq_first,
             array_to_string(['a', 'b', chr(97 + l_linenumber % 3)], '-') AS joined,
             array_to_string([CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)], ',') AS pair,
             array_to_string([CAST(x AS VARCHAR) FOR x IN list_sort([l_linenumber % 3, l_linenumber % 5, l_linenumber % 7])], ',') AS sorted_mods
      FROM lineitem WHERE l_orderkey < 10 ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      def joined(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array_join(transform(c, _.cast("string")), ",")
      t(s, dir, "lineitem").filter(col("l_orderkey") < 10)
        .select(col("l_orderkey"), col("l_linenumber"),
          joined(sequence(lit(1), col("l_linenumber"))).as("seq"),
          size(sequence(lit(1), col("l_linenumber"))).cast("long").as("seq_len"),
          element_at(sequence(lit(1), col("l_linenumber")), 1).as("seq_first"),
          array_join(array(lit("a"), lit("b"), chr(lit(97) + col("l_linenumber") % 3)), "-").as("joined"),
          joined(array(col("l_orderkey"), col("l_linenumber").cast("long"))).as("pair"),
          joined(array_sort(array(col("l_linenumber") % 3, col("l_linenumber") % 5, col("l_linenumber") % 7))).as("sorted_mods"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })

  // ------------------------------------------------------ struct / map
  //
  // The reference has NO Map or Struct types anywhere (SURVEY §1.2 —
  // `List` is its only nested value and even array COLUMNS hit the
  // NotImplemented catch-all); Spark carries both natively, and the
  // multimodal surface already rides binary+metadata structs. These two
  // rows pin the nested-type surface under the DuckDB STRUCT/MAP
  // oracle (➕ parity-plus). Final projections are SCALARS — the
  // driver's pandas compare can't hash raw struct/map cells, same
  // last-mile rule as `func_array2`.

  private val funcStruct = Q(
    "func_struct",
    Some("""
      SELECT l_orderkey, l_linenumber,
             struct_pack(k := l_orderkey, q := CAST(l_quantity AS DOUBLE)).k AS sk,
             struct_pack(k := l_orderkey, q := CAST(l_quantity AS DOUBLE)).q AS sq,
             struct_pack(inr := struct_pack(k := l_orderkey, q := CAST(l_quantity AS DOUBLE)),
                         tag := l_returnflag).inr.q AS nested_q,
             struct_pack(inr := struct_pack(k := l_orderkey, q := CAST(l_quantity AS DOUBLE)),
                         tag := l_returnflag).tag AS tag,
             struct_pack(k := l_orderkey, q := CAST(l_quantity AS DOUBLE))
               = struct_pack(k := l_orderkey, q := CAST(l_quantity AS DOUBLE)) AS rt_eq
      FROM lineitem WHERE l_orderkey < 10 ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val st = struct(col("l_orderkey").as("k"), col("l_quantity").cast("double").as("q"))
      val nested = struct(st.as("inr"), col("l_returnflag").as("tag"))
      t(s, dir, "lineitem").filter(col("l_orderkey") < 10)
        .select(col("l_orderkey"), col("l_linenumber"),
          st.getField("k").as("sk"),
          st.getField("q").as("sq"),
          nested.getField("inr").getField("q").as("nested_q"),
          nested.getField("tag").as("tag"),
          // named_struct round-trip: build twice, compare whole-struct
          (st === struct(col("l_orderkey").as("k"),
            col("l_quantity").cast("double").as("q"))).as("rt_eq"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })

  private val funcMap = Q(
    "func_map",
    Some("""
      SELECT l_orderkey, l_linenumber,
             array_to_string(map_keys(MAP {'qty': CAST(l_quantity AS DOUBLE),
                                           'price': CAST(l_extendedprice AS DOUBLE)}), ',') AS ks,
             (MAP {'qty': CAST(l_quantity AS DOUBLE),
                   'price': CAST(l_extendedprice AS DOUBLE)})['qty'][1] AS vq,
             (MAP {'qty': CAST(l_quantity AS DOUBLE),
                   'price': CAST(l_extendedprice AS DOUBLE)})['price'][1] AS vp,
             element_at(MAP {'qty': CAST(l_quantity AS DOUBLE),
                             'price': CAST(l_extendedprice AS DOUBLE)}, 'missing')[1] AS vm,
             CAST(cardinality(MAP {'qty': CAST(l_quantity AS DOUBLE),
                                   'price': CAST(l_extendedprice AS DOUBLE)}) AS BIGINT) AS n,
             map_concat(MAP {'qty': CAST(l_quantity AS DOUBLE),
                             'price': CAST(l_extendedprice AS DOUBLE)},
                        MAP {'tax': CAST(l_tax AS DOUBLE)})['tax'][1] AS vt,
             array_to_string(map_keys(map_concat(
               MAP {'qty': CAST(l_quantity AS DOUBLE),
                    'price': CAST(l_extendedprice AS DOUBLE)},
               MAP {'tax': CAST(l_tax AS DOUBLE)})), ',') AS ks2
      FROM lineitem WHERE l_orderkey < 10 ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) => {
      val m = map(lit("qty"), col("l_quantity").cast("double"),
        lit("price"), col("l_extendedprice").cast("double"))
      val m2 = map_concat(m, map(lit("tax"), col("l_tax").cast("double")))
      t(s, dir, "lineitem").filter(col("l_orderkey") < 10)
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(map_keys(m), ",").as("ks"),
          element_at(m, "qty").as("vq"),
          element_at(m, "price").as("vp"),
          element_at(m, "missing").as("vm"),
          size(m).cast("long").as("n"),
          element_at(m2, "tax").as("vt"),
          array_join(map_keys(m2), ",").as("ks2"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })

  override val reshaped: Map[String, String] = Map(
    "func_string1" -> "Spark's two-argument ltrim/rtrim take the trim set first, DuckDB's second",
    "func_string2" -> "exercises instr, where the oracle's strpos plans as locate",
    "func_math" -> "Spark's ceil/floor return BIGINT where DuckDB's return DOUBLE",
    "func_trig" -> "exercises sinh/cosh/tanh, which the oracle rebuilds from exp",
    "func_dt_arith" -> "Spark's date_trunc yields TIMESTAMP; the oracle's cast yields TIMESTAMP_NTZ",
    "func_url" -> "exercises parse_url; the oracle rebuilds the parts from the columns")

  override def defs: Seq[Q] = Seq(
    funcString1, funcString2, funcMath, funcTrig,
    funcDtExtract, funcDtArith, funcDtFormat,
    funcConditional, funcRegex, funcJson, funcUrl, funcHash,
    funcBitwise, funcArray1, funcArray2, funcStruct, funcMap)
}
