package graft.operators

import org.apache.spark.sql.functions._

import graft.engine.{QueryPack, Tables}
import graft.functions.GraftFunctions

/** Scalar-function surface: string / URL / date / JSON / array ops and
  * the locale-normalization layer (SURVEY.md §2A A18-A24 → §2B q_*_funcs,
  * q_locale_normalize, q_multimodal_cols).
  *
  * q_locale_normalize is the reference's core "confront" enabler
  * (crocus §1.3: '0,22%', 'USD 632,42', '28 feb 2025'): locale strings
  * are built deterministically from table columns, parsed by our custom
  * codegen'd Catalyst expressions, and the oracle computes the expected
  * typed value directly — so the parser itself is hash-checked.
  */
object Funcs extends QueryPack {

  override def queries: Map[String, Q] = Map(
    "q_string_funcs" -> ((s, d) => {
      Tables.t(s, d, "part")
        .select(col("p_partkey"),
          split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
          upper(col("p_brand")).as("brand_u"),
          concat_ws("|", col("p_brand"), col("p_type")).as("tag"),
          regexp_replace(col("p_name"), " ", "_").as("name_snake"),
          length(col("p_name")).cast("int").as("name_len"),
          lower(trim(col("p_type"))).as("type_lc"),
          substring(col("p_name"), 1, 4).as("name_pfx"),
          element_at(split(col("p_name"), " "), -1).as("last_word"))
        .orderBy(col("p_partkey"))
    }),

    // URL parse + query-param default (crocus ishares.py:181-182:
    // parse_qs(...).get('fileType', ['csv'])).
    "q_url_parse" -> ((s, d) => {
      val url = concat(lit("https://files.example.com/"),
        regexp_replace(col("p_type"), " ", "-"), lit("/holdings"),
        when(col("p_size") % 3 === 0, lit("?fileType=csv&v=1"))
          .when(col("p_size") % 3 === 1, lit("?fileType=xlsx&v=2"))
          .otherwise(lit("")))
      Tables.t(s, d, "part")
        .withColumn("url", url)
        .select(col("p_partkey"), col("url"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          coalesce(parse_url(col("url"), lit("QUERY"), lit("fileType")),
            lit("csv")).as("file_ext"))
        .orderBy(col("p_partkey"))
    }),

    "q_date_funcs" -> ((s, d) => {
      Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          year(col("o_orderdate")).cast("int").as("o_year"),
          month(col("o_orderdate")).cast("int").as("o_month"),
          dayofmonth(col("o_orderdate")).cast("int").as("o_day"),
          quarter(col("o_orderdate")).cast("int").as("o_quarter"),
          datediff(col("o_orderdate").cast("date"),
            lit(java.sql.Date.valueOf("1995-01-01"))).cast("int").as("days_since"),
          last_day(col("o_orderdate")).as("month_end"),
          add_months(col("o_orderdate").cast("date"), 3).as("plus3m"))
        .orderBy(col("o_orderkey"))
    }),

    // ONE from_json parse feeds all three projections (three
    // get_json_object calls each re-parsed the payload per row — 3×
    // CPU on the hot column at corpus scale; VERDICT r8 weak #1).
    // Null semantics match get_json_object FOR THIS CORPUS: an absent
    // path and an unparsable payload both yield NULL. The equivalence
    // is data-conditional — a non-integer k would null the whole
    // struct here while get_json_object (and the DuckDB oracle)
    // extracts paths independently — so the k-is-integer generator
    // invariant is spec-pinned corpus-wide (SchemaContractSpec).
    "q_json_funcs" -> ((s, d) => {
      Tables.t(s, d, "events")
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k int, missing string")))
        .select(col("event_id"),
          col("p.k").as("k_val"),
          (col("p.k") % 10).as("k_mod"),
          col("p.missing").as("absent"))
        .orderBy(col("event_id"))
    }),

    // Corrupt-record tolerance (crocus A25 continue-on-error): a fifth
    // of the payloads are mangled; parsing yields nulls + a validity
    // flag instead of failing the job.
    "q_json_corrupt" -> ((s, d) => {
      val raw = when(col("event_id") % 5 === 0,
        concat(lit("corrupt::"), col("props"))).otherwise(col("props"))
      // one from_json parse (round 9, the q_json_funcs lesson): a
      // mangled payload parses to a null struct — k_val null,
      // is_valid 0 — identical to get_json_object's null semantics
      Tables.t(s, d, "events")
        .withColumn("p", from_json(raw,
          org.apache.spark.sql.types.StructType.fromDDL("k int")))
        .select(col("event_id"),
          col("p.k").as("k_val"),
          col("p.k").isNotNull.cast("int").as("is_valid"))
        .orderBy(col("event_id"))
    }),

    "q_array_map_funcs" -> ((s, d) => {
      val e = col("embedding")
      Tables.t(s, d, "embeddings")
        .select(col("vec_id"),
          size(e).cast("int").as("dim"),
          element_at(e, 1).cast("double").as("first_e"),
          element_at(e, -1).cast("double").as("last_e"),
          array_max(e).cast("double").as("max_e"),
          array_min(e).cast("double").as("min_e"),
          size(filter(e, x => x > 0f)).cast("int").as("n_pos"),
          aggregate(e, lit(0.0),
            (acc, x) => acc + x.cast("double")).as("sum_e"))
        .orderBy(col("vec_id"))
    }),

    // String distance + conditional scalar functions over adjacent-part
    // pairs (near-dup name matching is a catalog-comparison primitive).
    "q_misc_funcs" -> ((s, d) => {
      val p = Tables.t(s, d, "part")
      val a = p.select(col("p_partkey").as("k"), col("p_name").as("name_a"),
        col("p_size").as("size_a"))
      val b = p.select((col("p_partkey") - 1).as("k"), col("p_name").as("name_b"),
        col("p_size").as("size_b"))
      a.join(b, Seq("k"))
        .select(col("k"),
          levenshtein(col("name_a"), col("name_b")).cast("int").as("lev"),
          greatest(col("size_a"), col("size_b")).as("size_hi"),
          least(col("size_a"), col("size_b")).as("size_lo"),
          nullif(col("size_a"), col("size_b")).as("size_nullif"),
          lpad(col("name_a"), 30, ".").as("name_pad"),
          reverse(col("name_b")).as("name_rev"))
        .orderBy(col("k"))
    }),

    // Array manipulation: sort / slice / flatten / contains / position.
    "q_array_funcs2" -> ((s, d) => {
      val e = col("embedding")
      Tables.t(s, d, "embeddings")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"),
          element_at(array_sort(e), 1).cast("double").as("sorted_min"),
          element_at(array_sort(e), 64).cast("double").as("sorted_max"),
          element_at(slice(e, 3, 4), 2).cast("double").as("slice_elem"),
          size(flatten(array(slice(e, 1, 2), slice(e, 5, 3)))).cast("int")
            .as("flat_len"),
          array_position(array_sort(e), array_max(e)).cast("int").as("max_pos"))
        .orderBy(col("vec_id"))
    }),

    // Full regex surface: extract-all + count + anchored match.
    "q_regex_funcs" -> ((s, d) => {
      val t = lower(col("text"))
      Tables.t(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(t, lit("[a-z]{6,}"), lit(0)))
            .cast("int").as("n_long_words"),
          try_element_at(regexp_extract_all(t, lit("[a-z]{6,}"), lit(0)), lit(1))
            .as("first_long"),
          regexp_extract(t, "([a-z]+)$", 1).as("last_token"),
          t.rlike("^the ").cast("int").as("starts_the"))
        .orderBy(col("doc_id"))
    }),

    // Edit-distance fuzzy match (A15 confront fallback, crocus
    // catalog name matching): all-pairs levenshtein on an audit slice
    // (quadratic by nature — capped like q_dedup_ngram; the scale path
    // for name matching is the token-Jaccard blocking in
    // Catalog.fuzzyMatch, which joins on shared tokens).
    "q_fuzzy_match" -> ((s, d) => {
      val p = Tables.t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), col("p_name"))
      p.as("a").join(p.as("b"),
          col("a.p_partkey") < col("b.p_partkey") &&
            levenshtein(col("a.p_name"), col("b.p_name")) <= 3)
        .select(col("a.p_partkey").as("ka"), col("b.p_partkey").as("kb"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
        .orderBy(col("ka"), col("kb"))
    }),

    // Generator surface: positional array explode.
    "q_explode_pos" -> ((s, d) => {
      Tables.t(s, d, "embeddings")
        .filter(col("vec_id") < 20)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          col("val").cast("double").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // Locale normalization round-trip: build the reference's raw
    // encodings from typed columns, parse with our custom expressions,
    // oracle recomputes expected values directly from the typed source.
    "q_locale_normalize" -> ((s, d) => {
      GraftFunctions.register(s)
      val itMonth = Seq("gen", "feb", "mar", "apr", "mag", "giu", "lug",
        "ago", "set", "ott", "nov", "dic")
        .zipWithIndex.foldLeft(lit(""): org.apache.spark.sql.Column) {
          case (acc, (nm, i)) =>
            when(month(col("o_orderdate")) === (i + 1), lit(nm)).otherwise(acc)
        }
      Tables.t(s, d, "part")
        .join(Tables.t(s, d, "orders"), col("p_partkey") === col("o_orderkey"))
        .withColumn("raw_price",
          concat(regexp_replace(col("p_retailprice").cast("decimal(18,2)")
            .cast("string"), "\\.", ","), lit(" €")))
        .withColumn("raw_ter",
          concat(regexp_replace(col("p_size").cast("decimal(6,2)")
            .cast("string"), "\\.", ","), lit("%")))
        .withColumn("raw_date", concat(dayofmonth(col("o_orderdate")),
          lit(" "), itMonth, lit(" "), year(col("o_orderdate"))))
        .select(col("p_partkey"),
          GraftFunctions.parse_locale_money(col("raw_price"))
            .getField("amount").as("price_amount"),
          GraftFunctions.parse_locale_money(col("raw_price"))
            .getField("ccy").as("price_ccy"),
          GraftFunctions.parse_locale_pct(col("raw_ter")).as("ter_frac"),
          GraftFunctions.parse_date_it(col("raw_date")).as("parsed_date"))
        .orderBy(col("p_partkey"))
    }),

    // Catalog silver enrichment (r7 verdict item 5 — the reference's
    // two open TODOs as oracled columns): Bloomberg ticker
    // exchange-suffix split (vanguard.py:76) and name-derived fund-type
    // classification (ishares.py:151). Raw ticker/name strings are
    // SYNTHESIZED deterministically from part columns (some rows get a
    // bare ticker, names carry a class marker word by p_partkey
    // residue), the Catalog column functions parse/classify them, and
    // the oracle computes the expected values DIRECTLY from the typed
    // derivation — never by re-running the parse — so the split and
    // the classifier are both hash-checked.
    "q_catalog_silver" -> ((s, d) => {
      import graft.catalog.Catalog
      val exch = array(lit("IM"), lit("LN"), lit("GY"), lit("UW"), lit("FP"))
      val marker = array(lit("Equity Index"), lit("Aggregate Bond"),
        lit("Multi-Asset Portfolio"))
      Tables.t(s, d, "part")
        .withColumn("sym",
          upper(substring(translate(col("p_name"), " ", ""), 1, 4)))
        .withColumn("raw_ticker",
          when(col("p_partkey") % 7 === 0, col("sym"))
            .otherwise(concat(col("sym"), lit(" "),
              element_at(exch, (col("p_partkey") % 5 + 1).cast("int")))))
        .withColumn("fund_name",
          concat(col("p_type"), lit(" "),
            element_at(marker, (col("p_partkey") % 3 + 1).cast("int"))))
        .select(col("p_partkey"),
          Catalog.tickerSymbol(col("raw_ticker")).as("ticker_symbol"),
          Catalog.tickerExchange(col("raw_ticker")).as("exchange"),
          Catalog.classifyFundType(col("fund_name")).as("fund_type"))
        .orderBy(col("p_partkey"))
    }),

    // Multimodal columns: opaque binary payload + typed metadata struct
    // (north star). Binary plumbing is real; the payload here is the
    // utf-8 text bytes standing in for image/audio blobs.
    "q_multimodal_cols" -> ((s, d) => {
      Tables.t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("meta",
          struct(col("lang"), col("source"), col("n_chars")))
        .select(col("doc_id"),
          octet_length(col("payload")).cast("int").as("payload_bytes"),
          md5(col("payload")).as("fingerprint"),
          col("meta").getField("lang").as("lang"),
          concat_ws(":", col("meta").getField("lang"),
            col("meta").getField("source")).as("src_tag"),
          col("meta").getField("n_chars").as("n_chars"))
        .orderBy(col("doc_id"))
    })
  )

  override def oracle: Map[String, String] = Map(
    "q_string_funcs" ->
      """SELECT p_partkey,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  upper(p_brand) AS brand_u,
        |  concat_ws('|', p_brand, p_type) AS tag,
        |  replace(p_name, ' ', '_') AS name_snake,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  lower(trim(p_type)) AS type_lc,
        |  substring(p_name, 1, 4) AS name_pfx,
        |  str_split(p_name, ' ')[-1] AS last_word
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_url_parse" ->
      """WITH u AS (
        |  SELECT p_partkey,
        |    'https://files.example.com/' || replace(p_type, ' ', '-') || '/holdings' ||
        |    CASE WHEN p_size % 3 = 0 THEN '?fileType=csv&v=1'
        |         WHEN p_size % 3 = 1 THEN '?fileType=xlsx&v=2'
        |         ELSE '' END AS url
        |  FROM part)
        |SELECT p_partkey, url,
        |  regexp_extract(url, '^https://([^/]+)', 1) AS host,
        |  regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path,
        |  COALESCE(NULLIF(regexp_extract(url, 'fileType=([^&]*)', 1), ''), 'csv') AS file_ext
        |FROM u ORDER BY p_partkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(month(o_orderdate) AS INT) AS o_month,
        |  CAST(day(o_orderdate) AS INT) AS o_day,
        |  CAST(quarter(o_orderdate) AS INT) AS o_quarter,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
        |  json_extract_string(props, '$.missing') AS absent
        |FROM events ORDER BY event_id""".stripMargin,

    "q_array_map_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_e,
        |  CAST(embedding[len(embedding)] AS DOUBLE) AS last_e,
        |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_e,
        |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_e,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |  list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') AS sum_e
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_json_corrupt" ->
      """WITH r AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 5 = 0 THEN 'corrupt::' || props ELSE props END AS raw
        |  FROM events)
        |SELECT event_id,
        |  CAST(CASE WHEN json_valid(raw) THEN json_extract_string(raw, '$.k') END AS INT) AS k_val,
        |  CAST(CASE WHEN json_valid(raw) THEN json_extract_string(raw, '$.k') END IS NOT NULL AS INT) AS is_valid
        |FROM r ORDER BY event_id""".stripMargin,

    "q_misc_funcs" ->
      """SELECT a.p_partkey AS k,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev,
        |  CAST(GREATEST(a.p_size, b.p_size) AS INT) AS size_hi,
        |  CAST(LEAST(a.p_size, b.p_size) AS INT) AS size_lo,
        |  NULLIF(a.p_size, b.p_size) AS size_nullif,
        |  LPAD(a.p_name, 30, '.') AS name_pad,
        |  REVERSE(b.p_name) AS name_rev
        |FROM part a JOIN part b ON a.p_partkey = b.p_partkey - 1
        |ORDER BY k""".stripMargin,

    "q_fuzzy_match" ->
      """SELECT a.p_partkey AS ka, b.p_partkey AS kb,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_partkey < b.p_partkey
        |  AND levenshtein(a.p_name, b.p_name) <= 3
        |WHERE a.p_partkey <= 200 AND b.p_partkey <= 200
        |ORDER BY ka, kb""".stripMargin,

    "q_array_funcs2" ->
      """SELECT vec_id,
        |  CAST(list_sort(embedding)[1] AS DOUBLE) AS sorted_min,
        |  CAST(list_sort(embedding)[64] AS DOUBLE) AS sorted_max,
        |  CAST(embedding[3:6][2] AS DOUBLE) AS slice_elem,
        |  CAST(len(flatten([embedding[1:2], embedding[5:7]])) AS INT) AS flat_len,
        |  CAST(list_position(list_sort(embedding), list_aggregate(embedding, 'max')) AS INT) AS max_pos
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin,

    "q_regex_funcs" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]{6,}', 0)) AS INT) AS n_long_words,
        |  regexp_extract_all(lower(text), '[a-z]{6,}', 0)[1] AS first_long,
        |  regexp_extract(lower(text), '([a-z]+)$', 1) AS last_token,
        |  CAST(regexp_matches(lower(text), '^the ') AS INT) AS starts_the
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_explode_pos" ->
      """SELECT vec_id,
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS val
        |FROM embeddings WHERE vec_id < 20
        |ORDER BY vec_id, pos""".stripMargin,

    "q_locale_normalize" ->
      """SELECT p_partkey,
        |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price_amount,
        |  'EUR' AS price_ccy,
        |  CAST(p_size AS DOUBLE) / 100 AS ter_frac,
        |  CAST(o_orderdate AS DATE) AS parsed_date
        |FROM part JOIN orders ON p_partkey = o_orderkey
        |ORDER BY p_partkey""".stripMargin,

    // expected values derived from the TYPED synthesis (key residues),
    // never by re-running the split/classify — the enrichment logic is
    // what's under test
    "q_catalog_silver" ->
      """SELECT p_partkey,
        |  upper(substring(replace(p_name, ' ', ''), 1, 4)) AS ticker_symbol,
        |  CASE WHEN p_partkey % 7 = 0 THEN NULL
        |       ELSE ['IM','LN','GY','UW','FP'][CAST(p_partkey % 5 + 1 AS INT)]
        |  END AS exchange,
        |  CASE CAST(p_partkey % 3 AS INT) WHEN 0 THEN 'equity'
        |       WHEN 1 THEN 'bond' ELSE 'multi_asset' END AS fund_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_multimodal_cols" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS payload_bytes,
        |  md5(text) AS fingerprint,
        |  lang,
        |  lang || ':' || source AS src_tag,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
