package graft.functions

import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}

/** §2.8 scalar function surface (SURVEY.md) — one themed query per family.
  *
  * Reference provenance: a Hadoop mapper's "scalar functions" are arbitrary
  * Java over Writables (/root/reference/README.md:4 → public MR programming
  * model); here each family is Spark built-ins, so every expression lives in
  * whole-stage codegen (no UDF boundary, no per-record interpreter).
  */
object Scalar {
  /** String family: lower/upper/trim/substring/concat/length/replace/lpad/split. */
  val fnString: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        lower(col("c_name")).as("lo"),
        upper(col("c_mktsegment")).as("up"),
        trim(concat(lit("  "), col("c_mktsegment"), lit(" "))).as("trimmed"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("cat"),
        length(col("c_name")).as("len"),
        regexp_replace(col("c_name"), lit("Customer"), lit("Cust")).as("repl"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        // list output serialized to a scalar: the driver's pandas hash
        // compare cannot hash numpy arrays (round-1 harness crash)
        concat_ws("|", split(col("c_name"), "#")).as("parts"))

  val fnStringSql: String =
    """SELECT c_custkey,
      |  lower(c_name) AS lo,
      |  upper(c_mktsegment) AS up,
      |  trim(concat('  ', c_mktsegment, ' ')) AS trimmed,
      |  substring(c_name, 1, 8) AS sub,
      |  concat(c_name, '#', c_mktsegment) AS cat,
      |  length(c_name) AS len,
      |  replace(c_name, 'Customer', 'Cust') AS repl,
      |  lpad(cast(c_custkey as varchar), 8, '0') AS padded,
      |  array_to_string(string_split(c_name, '#'), '|') AS parts
      |FROM customer""".stripMargin

  /** Regex family: extract / replace-all / rlike. */
  val fnRegex: Q = (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        col("p_type").rlike("^ECO").as("is_eco"))

  val fnRegexSql: String =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |  regexp_matches(p_type, '^ECO') AS is_eco
      |FROM part""".stripMargin

  /** Date/time family (UTC both sides). */
  val fnDate: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2002"),
        add_months(col("o_orderdate"), 3).as("plus3m"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        col("o_orderdate").cast("date").as("as_date"))

  val fnDateSql: String =
    """SELECT o_orderkey,
      |  cast(year(o_orderdate) as int) AS y,
      |  cast(month(o_orderdate) as int) AS m,
      |  cast(dayofmonth(o_orderdate) as int) AS dom,
      |  cast(date_trunc('month', o_orderdate) as timestamp) AS month_start,
      |  datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002,
      |  cast(o_orderdate + INTERVAL 3 MONTH as date) AS plus3m,
      |  cast(epoch(o_orderdate) as bigint) AS epoch_s,
      |  cast(o_orderdate as date) AS as_date
      |FROM orders""".stripMargin

  /** Math family. ln/exp are libm-computed in both engines; operands are
    * identical doubles and results are rounded to 6dp to absorb any last-ulp
    * library difference. */
  val fnMathSql: String =
    s"""SELECT p_partkey,
      |  ${graft.Dsl.round6Sql("abs(p_retailprice - 1000)")} AS abs_delta,
      |  cast(ceil(p_retailprice / 7) as bigint) AS ceil7,
      |  cast(floor(p_retailprice / 7) as bigint) AS floor7,
      |  round(ln(p_retailprice), 6) AS ln6,
      |  round(exp(cast(p_size as double) / 10), 6) AS exp6,
      |  pow(2, p_size) AS pow2,
      |  ((p_partkey % 7) + 7) % 7 AS mod7,
      |  cast(sign(p_retailprice - 1000) as int) AS sgn,
      |  greatest(p_size, 25) AS gr,
      |  least(p_size, 25) AS le
      |FROM part""".stripMargin

  /** Conditional family: CASE / coalesce / nullif / nvl-style defaults. */
  val fnConditionalSql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 'debt'
      |       WHEN c_acctbal < 5000 THEN 'mid'
      |       ELSE 'rich' END AS band,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'NONE') AS seg_or_none,
      |  CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0.0 END AS pos_bal
      |FROM customer""".stripMargin

  /** Array family incl. higher-order functions over tokenized text. */
  val fnArray: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_toks"),
        array_contains(col("toks"), "data").as("has_data"),
        // list outputs serialized to scalars for the driver's pandas
        // hash-compare (numpy arrays are unhashable — round-1 crash)
        concat_ws("|", slice(sort_array(col("toks")), 1, 5)).as("first5_sorted"),
        concat_ws("|", transform(col("toks"), t => upper(t))).as("upper_toks"),
        concat_ws("|", filter(col("toks"), t => length(t) > 5)).as("long_toks"))

  val fnArraySql: String =
    """SELECT doc_id,
      |  cast(len(toks) as int) AS n_toks,
      |  list_contains(toks, 'data') AS has_data,
      |  array_to_string(list_slice(list_sort(toks), 1, 5), '|') AS first5_sorted,
      |  array_to_string(list_transform(toks, t -> upper(t)), '|') AS upper_toks,
      |  coalesce(array_to_string(list_filter(toks, t -> length(t) > 5), '|'), '') AS long_toks
      |FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents)""".stripMargin

  /** Struct family: nested-record construction and surgery — `struct`,
    * `withField` (add a computed member), `dropFields` (remove one),
    * dotted field access, and `to_json` serialization of the final shape.
    * The additive-member path is how wide 100 TB schemas evolve without
    * rewrites (cf. `scan_merge_schema`); all surgery is map-side
    * expression work, zero exchanges before the output sort. Output
    * flattens to scalars (driver's hash-compare; the oracle states the
    * equivalent flat computation + the JSON text built explicitly). */
  val fnStruct: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        struct(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
               col("o_orderpriority").as("prio")).as("st"))
      .select(col("o_orderkey"),
        col("st").withField("cents", round(col("st.price") * 100).cast("long"))
                 .dropFields("price").as("st2"))
      .select(col("o_orderkey"),
        col("st2.cents").as("cents"),
        col("st2.prio").as("prio"),
        to_json(col("st2")).as("js"))
      .where(col("cents") > 20000000L)

  val fnStructSql: String =
    """SELECT o_orderkey,
      |  cast(round(o_totalprice * 100) as bigint) AS cents,
      |  o_orderpriority AS prio,
  |  '{"k":' || o_orderkey ||
      |    ',"prio":"' || o_orderpriority ||
      |    '","cents":' || cast(round(o_totalprice * 100) as bigint) || '}' AS js
      |FROM orders
      |WHERE cast(round(o_totalprice * 100) as bigint) > 20000000""".stripMargin

  /** Map family over parsed JSON event properties. */
  val fnMap: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
              from_json(col("props"),
                org.apache.spark.sql.types.MapType(
                  org.apache.spark.sql.types.StringType,
                  org.apache.spark.sql.types.IntegerType)).as("m"))
      .select(col("event_id"),
        // list outputs serialized to scalars (pandas hash-compare can't
        // hash arrays); map_keys/map_values still exercised upstream
        concat_ws("|", map_keys(col("m"))).as("ks"),
        concat_ws("|", transform(map_values(col("m")), v => v.cast("string"))).as("vs"),
        element_at(col("m"), "k").as("k_val"))

  val fnMapSql: String =
    """SELECT event_id,
      |  array_to_string(json_keys(props), '|') AS ks,
      |  cast(cast(json_extract(props, '$.k') as int) as varchar) AS vs,
      |  cast(json_extract(props, '$.k') as int) AS k_val
      |FROM events""".stripMargin

  /** JSON family: path extraction both as string and typed struct. */
  val fnJson: Q = (s, d) =>
    // Two JSON parses per row fuse into the scan stage; on the fixture's
    // single split that serializes on one core. The conditional scatter
    // (Caching.scatterIfNarrow) hash-partitions on event_id so the parse
    // moves from one core to the session width (sort-free since round 15,
    // so the scatter is the plan's only exchange).
    graft.Caching.scatterIfNarrow(Tables.events(s, d), col("event_id"))
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType))))
          .getField("k").as("k_int"))

  val fnJsonSql: String =
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  cast(json_extract(props, '$.k') as int) AS k_int
      |FROM events""".stripMargin

  /** Content-hash family (dedup substrate; HDFS checksum analog). xxhash64 /
    * crc32 have no DuckDB twin → covered by a unit test instead. */
  val fnHash: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        sha2(col("text"), 256).as("sha"),
        md5(col("text")).as("md5h"))

  val fnHashSql: String =
    """SELECT doc_id, sha256(text) AS sha, md5(text) AS md5h
      |FROM documents""".stripMargin

  /** URL function family: synthesize a deterministic URL per document from
    * fixture columns, then parse it back — scheme/host/path/query and a
    * single query parameter. Spark's `parse_url` (the Hive UDF surface) vs
    * a regexp twin in DuckDB; values must agree exactly. */
  val fnUrl: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/d/"),
               col("doc_id").cast("string"), lit("?lang="), col("lang"),
               lit("&n="), col("n_chars").cast("string")).as("url"))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), "^([a-z]+)://", 1).as("scheme"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"))

  val fnUrlSql: String =
    """SELECT doc_id, url,
      |  regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
      |  regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
      |  regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
      |  regexp_extract(url, '\?(.*)$', 1) AS query,
      |  regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
      |FROM (
      |  SELECT doc_id,
      |    'https://' || source || '.example.com/d/' || cast(doc_id as varchar)
      |      || '?lang=' || lang || '&n=' || cast(n_chars as varchar) AS url
      |  FROM documents)""".stripMargin

  /** Bitwise scalar family: and/or/xor/not, shifts, popcount — the bit-mask
    * manipulation a Writable-packing Hadoop job does by hand. Spark spells
    * xor `^` and shifts as functions; DuckDB spells power `^`, xor `xor()`
    * and shifts as operators — the twin translates, the values must agree
    * exactly (pure int64 ops). */
  val fnBitwise: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("o_orderkey & 1023").as("band"),
        expr("o_orderkey | 7").as("bor"),
        expr("o_orderkey ^ 255").as("bxor"),
        expr("~o_orderkey").as("bnot"),
        expr("shiftleft(o_orderkey, 3)").as("shl"),
        expr("shiftright(o_orderkey, 2)").as("shr"),
        expr("cast(bit_count(o_orderkey) as int)").as("popcount"))

  val fnBitwiseSql: String =
    """SELECT o_orderkey,
      |  o_orderkey & 1023 AS band,
      |  o_orderkey | 7 AS bor,
      |  xor(o_orderkey, 255) AS bxor,
      |  ~o_orderkey AS bnot,
      |  o_orderkey << 3 AS shl,
      |  o_orderkey >> 2 AS shr,
      |  cast(bit_count(o_orderkey) as int) AS popcount
      |FROM orders""".stripMargin

  /** Spark 4 VARIANT type: parse the JSON props column once into the binary
    * semi-structured VARIANT encoding, then extract typed fields with
    * variant_get (path + target type) — the schema-on-read surface a Hadoop
    * job gets from per-record Writable decoding, minus the per-job code.
    * try_variant_get with a non-matching type yields NULL, not an error.
    * The oracle twin extracts the same values via JSON paths. parse_json
    * runs ONCE per row through the subquery alias — CollapseProject does
    * not inline a non-cheap expression referenced three times, so the
    * variant binary is built once and probed thrice (the whole point of
    * the encoding: parse once, extract many). */
  val fnVariant: Q = (s, d) => {
    Tables.registerViews(s, d)
    s.sql("""SELECT event_id,
            |  cast(variant_get(v, '$.k', 'int') as int) AS k_int,
            |  cast(variant_get(v, '$.k', 'string') as string) AS k_str,
            |  cast(try_variant_get(v, '$.missing', 'int') IS NULL as int) AS missing_is_null
            |FROM (SELECT event_id, parse_json(props) AS v FROM events)""".stripMargin)
  }

  val fnVariantSql: String =
    """SELECT event_id,
      |  cast(json_extract(props, '$.k') as int) AS k_int,
      |  cast(cast(json_extract(props, '$.k') as int) as varchar) AS k_str,
      |  cast(1 as int) AS missing_is_null
      |FROM events""".stripMargin

  /** XML parsing (Spark 4 built-in from_xml): render each row as an XML
    * fragment, parse it back with an explicit schema, and project the typed
    * fields — the round-trip proves parser + schema mapping. The oracle
    * recomputes the identity straight from the base table. */
  val fnXml: Q = (s, d) => {
    Tables.registerViews(s, d)
    s.sql("""SELECT n_nationkey,
            |  xml.k AS k, xml.name AS name
            |FROM (
            |  SELECT n_nationkey,
            |    from_xml(concat('<r><k>', n_nationkey, '</k><name>', n_name, '</name></r>'),
            |             'k INT, name STRING') AS xml
            |  FROM nation)""".stripMargin)
  }

  val fnXmlSql: String =
    """SELECT n_nationkey, cast(n_nationkey as int) AS k, n_name AS name
      |FROM nation""".stripMargin

  /** Registered SORT-FREE (round 15): map-only per-row function families
    * whose trailing ORDER BY existed only for the hash compare — on the
    * ~100-150k-row sf0.1 outputs each was a full range exchange over rows
    * the operator itself never needed ordered. The sort key is the source
    * table's PK — a total order; Verify sorts the dump by it and the
    * oracle's ORDER BY is derived from it. */
  val ops: Seq[Op] = Seq(
    Op("fn_variant", fnVariant, Sql(fnVariantSql), Seq("event_id")),
    Op("fn_xml", fnXml, Sql(fnXmlSql), Seq("n_nationkey")),
    Op("fn_bitwise", fnBitwise, Sql(fnBitwiseSql), Seq("o_orderkey")),
    Op("fn_string", fnString, Sql(fnStringSql), Seq("c_custkey")),
    Op("fn_regex", fnRegex, Sql(fnRegexSql), Seq("p_partkey")),
    Op("fn_date", fnDate, Sql(fnDateSql), Seq("o_orderkey")),
    Op.shared("fn_math", fnMathSql, Seq("p_partkey")),
    Op.shared("fn_conditional", fnConditionalSql, Seq("c_custkey")),
    Op("fn_array", fnArray, Sql(fnArraySql), Seq("doc_id")),
    Op("fn_struct", fnStruct, Sql(fnStructSql), Seq("o_orderkey")),
    Op("fn_map", fnMap, Sql(fnMapSql), Seq("event_id")),
    Op("fn_json", fnJson, Sql(fnJsonSql), Seq("event_id")),
    Op("fn_hash", fnHash, Sql(fnHashSql), Seq("doc_id")),
    Op("fn_url", fnUrl, Sql(fnUrlSql), Seq("doc_id")),
  )
}
