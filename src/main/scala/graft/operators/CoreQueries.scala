package graft.operators

import graft.{Fixtures, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity operators: scans/filters (SURVEY §2.1, §2.3), scalar
  * derivations (§2.2), dedup (§2.4), sorts/top-k (§2.5), aggregations
  * (§2.6) and the keyed upsert sink semantics (§2.1 S6), each re-expressed
  * as a declarative Spark plan so Catalyst gets pushdown/pruning for free.
  *
  * Reusable library surface first; the `defs` registry wires each operator
  * to fixture tables + a DuckDB oracle for the driver's hash-compare.
  */
object CoreQueries {

  private def now: Column = expr(s"TIMESTAMP_NTZ '${Fixtures.NowLit}'")

  /** The dashboard's county color map as a file, written once per JVM the
    * way `save_color_map` does (src/app/streamlit_app.py:271-277) so
    * `q_color_map` can exercise the load path (file → engine → dim). It
    * lives under the per-JVM artifact root, deleted at exit. */
  private[operators] def colorMapFile(): String = {
    val doc =
      """{"Stockholms län": "#1f77b4", "Uppsala län": "#ff7f0e", "Skåne län": "#2ca02c"}"""
    Artifacts.dirFor("county_colors", dir => java.nio.file.Files.write(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir)).resolve("colors.json"),
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))) + "/colors.json"
  }

  // ---------------------------------------------------------------- library

  /** Temporal status classifier (reference src/trv/transform.py:68-73):
    * start in the future → KOMMANDE ("upcoming"); started and not ended →
    * PÅGÅR ("ongoing"); ended → NULL (caller drops, reference's F8
    * expired-row drop). `nowLit` must be a pinned literal for determinism.
    */
  def statusOf(start: Column, end: Column, nowLit: Column): Column =
    when(start > nowLit, "KOMMANDE")
      .when(end.isNull || end > nowLit, "PÅGÅR")
      .otherwise(lit(null))

  /** Latest-wins dedup by key (reference src/trv/transform.py:116-118 /
    * upsert src/trv/load_sqlite.py:43-62): keep exactly one row per key,
    * the max by `order` columns. One shuffle on the key; at scale this is
    * the canonical window-dedup pattern (no driver-side state).
    */
  def latestWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Keyed upsert as a deterministic merge (reference
    * src/trv/load_sqlite.py:43-62 ON CONFLICT DO UPDATE): union target and
    * updates, then latest-wins by key preferring the update side.
    */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val merged = target.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    latestWins(merged, keys, Seq(col("__src").desc)).drop("__src")
  }

  /** Multi-column case-insensitive free-text OR-search with pandas
    * `na=False` semantics (reference src/app/streamlit_app.py:238-248):
    * NULL column → no match, not NULL result.
    */
  def textSearch(cols: Seq[Column], needle: String): Column =
    cols.map(c => coalesce(lower(c).contains(needle.toLowerCase), lit(false)))
      .reduce(_ || _)

  /** WKT POINT fast-path parse (reference substring variant
    * src/trv/endpoints.py:16-31): extract "POINT (x y)" coords as doubles;
    * malformed → NULL. Full-WKT centroid lives in
    * [[graft.functions.WktCentroid]].
    */
  private val PointRe = "POINT \\(([-0-9.]+) ([-0-9.]+)\\)"
  private def pointCoord(wkt: Column, group: Int): Column = {
    val m = regexp_extract(wkt, PointRe, group)
    // no-match yields "" — map to NULL before the cast (ANSI mode)
    when(m =!= "", m).cast("double")
  }
  def wktPointLon(wkt: Column): Column = pointCoord(wkt, 1)
  def wktPointLat(wkt: Column): Column = pointCoord(wkt, 2)

  /** Hex "#rrggbb" → struct(r,g,b,a) with the reference's
    * malformed-input fallback [230, 57, 70, a]
    * (src/app/streamlit_app.py:411-414: strip '#', length≠6 → fallback).
    * This total-function form also routes non-hex 6-char strings to the
    * fallback, where the reference's `int(h, 16)` would raise. */
  def hexToRgba(h: Column, alpha: Int): Column = {
    val s = lower(regexp_replace(h, "^#", ""))
    val ok = s.rlike("^[0-9a-f]{6}$")
    def ch(i: Int) = conv(substring(s, i, 2), 16, 10).cast("int")
    struct(
      when(ok, ch(1)).otherwise(230).as("r"),
      when(ok, ch(3)).otherwise(57).as("g"),
      when(ok, ch(5)).otherwise(70).as("b"),
      lit(alpha).as("a"))
  }

  /** Map zoom from a coordinate span — the reference's 6-step threshold
    * ladder (src/app/streamlit_app.py:430). */
  def zoomOf(span: Column): Column =
    when(span <= 0.08, 11).when(span <= 0.25, 9).when(span <= 0.6, 7)
      .when(span <= 1.2, 6).when(span <= 3.0, 5).otherwise(4)

  // ------------------------------------------------------------- registry

  val defs: Seq[QueryDef] = Seq(

    // A3 daily tumbling-window count (src/app/streamlit_app.py:483-486)
    QueryDef(
      "q_daily_trend",
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .orderBy("day"),
      Some("""SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, count(*) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // S7 predicate scan (src/app/streamlit_app.py:154-167, 30-day window)
    QueryDef(
      "q_recent_scan",
      (s, d) => Tables.events(s, d)
        .where(col("ts") >= expr(s"TIMESTAMP_NTZ '${Fixtures.RecentCutoff}'"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id"),
      Some(s"""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
              |FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '${Fixtures.RecentCutoff}'
              |ORDER BY event_id""".stripMargin)),

    // S2 filter+project+sort+limit pushdown (src/trv/endpoints.py:60-104)
    QueryDef(
      "q_pushdown_scan",
      (s, d) => Tables.events(s, d)
        .where(col("event_type") === "error" && col("value") > 100)
        .select("event_id", "ts", "value")
        .orderBy(col("value").desc, col("event_id"))
        .limit(50),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
             |WHERE event_type = 'error' AND value > 100
             |ORDER BY value DESC, event_id LIMIT 50""".stripMargin)),

    // F2/F3 IN-list filter (src/app/streamlit_app.py:231-232)
    QueryDef(
      "q_isin",
      (s, d) => Tables.events(s, d)
        .where(col("event_type").isin("error", "signup"))
        .select("event_id", "event_type")
        .orderBy("event_id"),
      Some("""SELECT event_id, event_type FROM events
             |WHERE event_type IN ('error', 'signup') ORDER BY event_id""".stripMargin)),

    // F4 half-open timestamp range (src/app/streamlit_app.py:234-236)
    QueryDef(
      "q_ts_range",
      (s, d) => Tables.events(s, d)
        .where(col("ts") >= expr(s"TIMESTAMP_NTZ '${Fixtures.RangeStart}'")
          && col("ts") < expr(s"TIMESTAMP_NTZ '${Fixtures.RangeEnd}'"))
        .select("event_id", "ts")
        .orderBy("event_id"),
      Some(s"""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
              |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '${Fixtures.RangeStart}'
              |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '${Fixtures.RangeEnd}'
              |ORDER BY event_id""".stripMargin)),

    // F5/F6 free-text OR contains with NULL→no-match
    QueryDef(
      "q_text_search",
      (s, d) => Tables.part(s, d)
        .where(textSearch(Seq(col("p_name"), col("p_type"), col("p_brand")), "ol"))
        .select("p_partkey", "p_name", "p_type", "p_brand")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_type, p_brand FROM part
             |WHERE coalesce(contains(lower(p_name), 'ol'), false)
             |   OR coalesce(contains(lower(p_type), 'ol'), false)
             |   OR coalesce(contains(lower(p_brand), 'ol'), false)
             |ORDER BY p_partkey""".stripMargin)),

    // F7 geo not-null conjunction (src/app/streamlit_app.py:250-251)
    QueryDef(
      "q_notnull",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")).as("lat"),
          when(col("event_type") === "view", lit(null)).otherwise(col("value")).as("lon"))
        .where(col("lat").isNotNull && col("lon").isNotNull)
        .orderBy("event_id"),
      Some("""SELECT * FROM (
             |  SELECT event_id,
             |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS lat,
             |    CASE WHEN event_type = 'view' THEN NULL ELSE value END AS lon
             |  FROM events)
             |WHERE lat IS NOT NULL AND lon IS NOT NULL ORDER BY event_id""".stripMargin)),

    // P3+F8 temporal status CASE + expired-row drop (src/trv/transform.py:68-73)
    QueryDef(
      "q_status_case",
      (s, d) => Tables.events(s, d)
        .withColumn("end_ts",
          when(col("event_id") % 3 === 0, lit(null).cast("timestamp_ntz"))
            .otherwise(col("ts") + expr("INTERVAL 5 DAY")))
        .withColumn("status", statusOf(col("ts"), col("end_ts"), now))
        .where(col("status").isNotNull)
        .select("event_id", "status")
        .orderBy("event_id"),
      Some(s"""SELECT event_id, status FROM (
              |  SELECT event_id,
              |    CASE WHEN ts2 > TIMESTAMP '${Fixtures.NowLit}' THEN 'KOMMANDE'
              |         WHEN end_ts IS NULL OR end_ts > TIMESTAMP '${Fixtures.NowLit}' THEN 'PÅGÅR'
              |    END AS status
              |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts2,
              |          CASE WHEN event_id % 3 = 0 THEN NULL
              |               ELSE CAST(ts AS TIMESTAMP) + INTERVAL 5 DAY END AS end_ts
              |        FROM events))
              |WHERE status IS NOT NULL ORDER BY event_id""".stripMargin)),

    // P3, all three reference forks side by side. The reference derives
    // status in three places with subtly different semantics:
    //  - canonical (src/trv/transform.py:68-73): future → KOMMANDE; open
    //    or unexpired → PÅGÅR; expired → row DROPPED (NULL here so the
    //    fork is visible);
    //  - etl_runner (src/app/etl_runner.py:67-79): requires a start time,
    //    end bound is INCLUSIVE (now == end is still PÅGÅR), and expired /
    //    start-less rows are KEPT with "" status;
    //  - endpoints (src/trv/endpoints.py:33-57): strict end bound, and a
    //    fallback label — start-less → PÅGÅR, expired → KOMMANDE (never
    //    empty, never dropped).
    // start is NULLed every 11th row and end pinned exactly to "now" every
    // 13th, so every fork's distinguishing branch is exercised.
    QueryDef(
      "q_status_variants",
      (s, d) => Tables.events(s, d)
        .withColumn("start_ts",
          when(col("event_id") % 11 === 0, lit(null).cast("timestamp_ntz"))
            .otherwise(col("ts")))
        .withColumn("end_ts",
          when(col("event_id") % 3 === 0, lit(null).cast("timestamp_ntz"))
            .when(col("event_id") % 13 === 0, now)
            .otherwise(col("ts") + expr("INTERVAL 5 DAY")))
        .select(
          col("event_id"),
          statusOf(col("start_ts"), col("end_ts"), now).as("status_canonical"),
          when(col("start_ts").isNotNull && now < col("start_ts"), "KOMMANDE")
            .when(col("start_ts").isNotNull &&
              (col("end_ts").isNull || now <= col("end_ts")), "PÅGÅR")
            .otherwise("").as("status_etl"),
          when(col("start_ts").isNull, "PÅGÅR")
            .when(col("start_ts") > now, "KOMMANDE")
            .when(col("end_ts").isNull || col("end_ts") > now, "PÅGÅR")
            .otherwise("KOMMANDE").as("status_endpoints"))
        .orderBy("event_id"),
      Some(s"""SELECT event_id,
              |  CASE WHEN start_ts > TIMESTAMP '${Fixtures.NowLit}' THEN 'KOMMANDE'
              |       WHEN end_ts IS NULL OR end_ts > TIMESTAMP '${Fixtures.NowLit}' THEN 'PÅGÅR'
              |  END AS status_canonical,
              |  CASE WHEN start_ts IS NOT NULL AND TIMESTAMP '${Fixtures.NowLit}' < start_ts THEN 'KOMMANDE'
              |       WHEN start_ts IS NOT NULL
              |            AND (end_ts IS NULL OR TIMESTAMP '${Fixtures.NowLit}' <= end_ts) THEN 'PÅGÅR'
              |       ELSE '' END AS status_etl,
              |  CASE WHEN start_ts IS NULL THEN 'PÅGÅR'
              |       WHEN start_ts > TIMESTAMP '${Fixtures.NowLit}' THEN 'KOMMANDE'
              |       WHEN end_ts IS NULL OR end_ts > TIMESTAMP '${Fixtures.NowLit}' THEN 'PÅGÅR'
              |       ELSE 'KOMMANDE' END AS status_endpoints
              |FROM (SELECT event_id,
              |    CASE WHEN event_id % 11 = 0 THEN NULL
              |         ELSE CAST(ts AS TIMESTAMP) END AS start_ts,
              |    CASE WHEN event_id % 3 = 0 THEN NULL
              |         WHEN event_id % 13 = 0 THEN TIMESTAMP '${Fixtures.NowLit}'
              |         ELSE CAST(ts AS TIMESTAMP) + INTERVAL 5 DAY END AS end_ts
              |  FROM events)
              |ORDER BY event_id""".stripMargin)),

    // P2/P8 timestamp normalize + numeric coercion, junk → NULL
    QueryDef(
      "q_ts_normalize",
      (s, d) => Tables.events(s, d)
        .withColumn("raw_ts",
          when(col("event_id") % 10 === 0, lit("not-a-ts"))
            .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
        .withColumn("raw_n",
          when(col("event_id") % 5 === 0, lit("junk"))
            .otherwise(col("user_id").cast("string")))
        .select(
          col("event_id"),
          expr("try_cast(raw_ts AS timestamp_ntz)").as("parsed_ts"),
          expr("try_cast(raw_n AS INT)").as("parsed_n"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  TRY_CAST(raw_ts AS TIMESTAMP) AS parsed_ts,
             |  TRY_CAST(raw_n AS INT) AS parsed_n
             |FROM (SELECT event_id,
             |    CASE WHEN event_id % 10 = 0 THEN 'not-a-ts'
             |         ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') END AS raw_ts,
             |    CASE WHEN event_id % 5 = 0 THEN 'junk'
             |         ELSE CAST(user_id AS VARCHAR) END AS raw_n
             |  FROM events)
             |ORDER BY event_id""".stripMargin)),

    // P7 synthetic key: coalesce(id, sit_id:start) (src/trv/transform.py:62)
    QueryDef(
      "q_synth_key",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          coalesce(
            when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_id").cast("string")),
            concat_ws(":", col("user_id").cast("string"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))).as("synth_key"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  coalesce(
             |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE CAST(event_id AS VARCHAR) END,
             |    CAST(user_id AS VARCHAR) || ':' ||
             |      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')) AS synth_key
             |FROM events ORDER BY event_id""".stripMargin)),

    // P11 JSON field extraction (src/app/streamlit_app.py:262-277)
    QueryDef(
      "q_json_extract",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("int").as("k_int"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  json_extract_string(props, '$.k') AS k_str,
             |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int
             |FROM events ORDER BY event_id""".stripMargin)),

    // Spark 4 VARIANT: the open semi-structured type (parse once, binary
    // encoding, typed path access) that replaces string-JSON re-parsing
    // per extraction — at 100 TB the props column parses ONCE into
    // variant at ingest instead of per get_json_object call. Typed get,
    // and a missing path through the try_ variant → NULL not error.
    QueryDef(
      "q_variant",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'int')").as("k_int"),
          expr("try_variant_get(parse_json(props), '$.missing', 'int')").as("absent"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
             |  CAST(NULL AS INT) AS absent
             |FROM events ORDER BY event_id""".stripMargin)),

    // correlated LATERAL subquery (the SQL-surface form of "agg per outer
    // row") — Catalyst decorrelates it into the same join+agg a
    // hand-written plan would use, so the lateral is syntax, not a
    // nested-loop execution. LEFT JOIN LATERAL ON true on BOTH engines:
    // the comma-join form diverges on outer rows with no matches (Spark
    // keeps the scalar-agg NULL row, DuckDB drops the row), and the
    // explicit outer form is the one with agreed semantics.
    QueryDef(
      "q_lateral",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_lat_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("graft_lat_lineitem")
        s.sql("""SELECT o_orderkey, o_totalprice, l.max_qty
                |FROM graft_lat_orders o
                |LEFT JOIN LATERAL (SELECT max(l_quantity) AS max_qty
                |  FROM graft_lat_lineitem WHERE l_orderkey = o.o_orderkey) l ON true
                |WHERE o_orderkey < 100
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice, l.max_qty
             |FROM orders o
             |LEFT JOIN LATERAL (SELECT max(l_quantity) AS max_qty
             |  FROM lineitem WHERE l_orderkey = o.o_orderkey) l ON true
             |WHERE o_orderkey < 100
             |ORDER BY o_orderkey""".stripMargin)),

    // scalar-function breadth: case/pad/replace/split/null-handling in
    // one projection (P9/P10 family)
    QueryDef(
      "q_scalar_suite",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          upper(col("event_type")).as("u"),
          lpad(col("event_type"), 10, "_").as("padded"),
          regexp_replace(col("event_type"), "e", "3").as("leeted"),
          expr("split_part(props, ':', 1)").as("json_head"),
          nullif(col("event_type"), lit("view")).as("no_view"),
          greatest(col("value"), lit(100.0)).as("floor100"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  upper(event_type) AS u,
             |  lpad(event_type, 10, '_') AS padded,
             |  replace(event_type, 'e', '3') AS leeted,
             |  split_part(props, ':', 1) AS json_head,
             |  nullif(event_type, 'view') AS no_view,
             |  greatest(value, 100.0) AS floor100
             |FROM events ORDER BY event_id""".stripMargin)),

    // P10 display formatting (src/app/streamlit_app.py:474-476,280-282)
    QueryDef(
      "q_format",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), lit(" UTC")).as("ts_str"),
          concat(substring(col("event_type"), 1, 3), lit("…")).as("label"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') || ' UTC' AS ts_str,
             |  substr(event_type, 1, 3) || '…' AS label
             |FROM events ORDER BY event_id""".stripMargin)),

    // P4 WKT POINT parse (src/trv/endpoints.py:16-31)
    QueryDef(
      "q_wkt_point",
      (s, d) => Tables.events(s, d)
        .withColumn("wkt",
          concat(lit("POINT ("), round(col("value"), 0).cast("int").cast("string"),
            lit(" "), col("user_id").cast("string"), lit(")")))
        .select(
          col("event_id"), col("wkt"),
          wktPointLon(col("wkt")).as("lon"),
          wktPointLat(col("wkt")).as("lat"))
        .orderBy("event_id"),
      Some("""SELECT event_id, wkt,
             |  CAST(regexp_extract(wkt, 'POINT \(([-0-9.]+) ([-0-9.]+)\)', 1) AS DOUBLE) AS lon,
             |  CAST(regexp_extract(wkt, 'POINT \(([-0-9.]+) ([-0-9.]+)\)', 2) AS DOUBLE) AS lat
             |FROM (SELECT event_id,
             |    'POINT (' || CAST(CAST(round(value, 0) AS INT) AS VARCHAR) || ' ' ||
             |      CAST(user_id AS VARCHAR) || ')' AS wkt
             |  FROM events)
             |ORDER BY event_id""".stripMargin)),

    // P6 list-first extraction (reference: list-valued CountyNo → first
    // element, src/trv/transform.py:79-80)
    QueryDef(
      "q_list_first",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          element_at(split(col("text"), " "), 1).as("first_tok"),
          size(split(col("text"), " ")).as("n_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, string_split(text, ' ')[1] AS first_tok,
             |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // F1+P9 string trim/normalize + non-empty guard
    // (src/trv/transform.py:58-60,134-136)
    QueryDef(
      "q_trim_guard",
      (s, d) => Tables.events(s, d)
        .withColumn("msg_raw",
          when(col("event_id") % 11 === 0, lit("   "))
            .otherwise(concat(lit("  "), col("event_type"), lit(" "))))
        .where(length(trim(col("msg_raw"))) > 0)
        .select(col("event_id"), trim(col("msg_raw")).as("msg"))
        .orderBy("event_id"),
      Some("""SELECT event_id, trim(msg_raw) AS msg FROM (
             |  SELECT event_id,
             |    CASE WHEN event_id % 11 = 0 THEN '   '
             |         ELSE '  ' || event_type || ' ' END AS msg_raw
             |  FROM events)
             |WHERE length(trim(msg_raw)) > 0 ORDER BY event_id""".stripMargin)),

    // D2 latest-wins dedup by key (src/trv/transform.py:116-118)
    QueryDef(
      "q_dedup_latest",
      (s, d) => latestWins(
        Tables.events(s, d).select("user_id", "event_id", "ts", "event_type"),
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
        .orderBy("user_id"),
      Some("""SELECT user_id, event_id, ts, event_type FROM (
             |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // D1 composite-key keep-first dedup (src/trv/transform.py:111-114),
    // pinned to a total arrival order (ts, event_id)
    QueryDef(
      "q_dedup_composite",
      (s, d) => latestWins(
        Tables.events(s, d).select("user_id", "event_type", "event_id", "ts"),
        Seq("user_id", "event_type"), Seq(col("ts").asc, col("event_id").asc))
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, ts FROM (
             |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |                       ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // O1 multi-key ranked sort (src/trv/transform.py:120-127)
    QueryDef(
      "q_ranked_sort",
      (s, d) => Tables.events(s, d)
        .withColumn("rank",
          when(col("event_type") === "error", 0)
            .when(col("event_type") === "purchase", 1)
            .otherwise(9))
        .select("event_id", "rank", "ts", "event_type")
        .orderBy(col("rank").asc, col("ts").desc, col("event_id").desc)
        .limit(100),
      Some("""SELECT event_id,
             |  CASE WHEN event_type = 'error' THEN 0
             |       WHEN event_type = 'purchase' THEN 1 ELSE 9 END AS rank,
             |  CAST(ts AS TIMESTAMP) AS ts, event_type
             |FROM events
             |ORDER BY rank ASC, CAST(ts AS TIMESTAMP) DESC, event_id DESC LIMIT 100""".stripMargin)),

    // O3 sort+limit table view (src/app/streamlit_app.py:223-226,469)
    QueryDef(
      "q_top_table",
      (s, d) => Tables.events(s, d)
        .select("event_id", "value", "event_type")
        .orderBy(col("value").desc, col("event_id"))
        .limit(100),
      Some("""SELECT event_id, value, event_type FROM events
             |ORDER BY value DESC, event_id LIMIT 100""".stripMargin)),

    // O4 top-k groups (src/app/streamlit_app.py:296-298)
    QueryDef(
      "q_topk_groups",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(10),
      Some("""SELECT user_id, count(*) AS n FROM events GROUP BY 1
             |ORDER BY n DESC, user_id LIMIT 10""".stripMargin)),

    // A1 via the typed Aggregator (U7): one-pass KPI fold over the derived
    // status stream; must agree with the conditional-count oracle
    QueryDef(
      "q_kpi_udaf",
      (s, d) => {
        import s.implicits._
        val status = graft.SparkEntry.queries("q_status_case")(s, d)
          .select("status").as[String]
        // typed select: the aggregator yields Dataset[Kpi], whose case
        // class fields become the output columns
        status.select(graft.functions.KpiAggregator.byStatus.toColumn).toDF()
      },
      Some(s"""SELECT count(CASE WHEN status = 'PÅGÅR' THEN 1 END) AS ongoing,
              |  count(CASE WHEN status = 'KOMMANDE' THEN 1 END) AS upcoming,
              |  count(*) AS total
              |FROM (
              |  SELECT CASE WHEN ts2 > TIMESTAMP '${Fixtures.NowLit}' THEN 'KOMMANDE'
              |              WHEN end_ts IS NULL OR end_ts > TIMESTAMP '${Fixtures.NowLit}' THEN 'PÅGÅR'
              |         END AS status
              |  FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts2,
              |          CASE WHEN event_id % 3 = 0 THEN NULL
              |               ELSE CAST(ts AS TIMESTAMP) + INTERVAL 5 DAY END AS end_ts
              |        FROM events))
              |WHERE status IS NOT NULL""".stripMargin)),

    // A1 conditional-count KPIs (src/app/streamlit_app.py:254-257)
    QueryDef(
      "q_kpi_counts",
      (s, d) => Tables.events(s, d)
        .agg(
          count(when(col("event_type") === "error", 1)).as("n_error"),
          count(when(col("event_type") === "signup", 1)).as("n_signup"),
          count(lit(1)).as("n_total")),
      Some("""SELECT count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
             |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
             |  count(*) AS n_total FROM events""".stripMargin)),

    // A2 group-by count (src/app/streamlit_app.py:284-291)
    QueryDef(
      "q_group_count",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY event_type")),

    // A4 value-counts histogram, desc (src/app/streamlit_app.py:497-499)
    QueryDef(
      "q_value_counts",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type")),
      Some("""SELECT event_type, count(*) AS n FROM events GROUP BY 1
             |ORDER BY n DESC, event_type""".stripMargin)),

    // A5 min/max bounds + span (src/app/streamlit_app.py:210-211,424-429)
    QueryDef(
      "q_minmax_span",
      (s, d) => Tables.events(s, d)
        .agg(
          min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"),
          min(col("value")).as("min_val"),
          max(col("value")).as("max_val"),
          round(max(col("value")) - min(col("value")), 2).as("span")),
      Some("""SELECT min(CAST(ts AS TIMESTAMP)) AS min_ts, max(CAST(ts AS TIMESTAMP)) AS max_ts,
             |  min(value) AS min_val, max(value) AS max_val,
             |  round(max(value) - min(value), 2) AS span FROM events""".stripMargin)),

    // P5 broadcast dim lookup + coalesce fallback (src/trv/transform.py:78-81,
    // src/app/streamlit_app.py:182-188)
    QueryDef(
      "q_dim_lookup",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
          .select(col("c_custkey"), col("c_name"),
            coalesce(col("n_name"), lit("Okänt län")).as("nation_display"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, coalesce(n_name, 'Okänt län') AS nation_display
             |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY c_custkey""".stripMargin)),

    // S4 nest → explode round-trip (reference XML Situation/Deviation
    // flatten, src/trv/endpoints.py:107-163). Scale note: collect_list
    // materializes one group's whole array in a single task — fine here
    // (the nested shape is the source format being demonstrated), but a
    // hot key with millions of children needs pre-bucketing or streaming
    // flatten at the source (which PagedXmlSource does).
    QueryDef(
      "q_explode",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("event_id"), col("event_type")))).as("devs"))
        .select(col("user_id"), explode(col("devs")).as("dev"))
        .select(col("user_id"), col("dev.event_id").as("event_id"),
          col("dev.event_type").as("event_type"))
        .orderBy("user_id", "event_id"),
      Some("""SELECT user_id, event_id, event_type FROM events
             |ORDER BY user_id, event_id""".stripMargin)),

    // S6/T2 keyed upsert, latest-wins (src/trv/load_sqlite.py:43-62)
    QueryDef(
      "q_upsert_latest",
      (s, d) => {
        val ev = Tables.events(s, d)
        val target = ev.select("event_id", "ts", "value")
        val updates = ev.where(col("event_id") % 5 === 0)
          .select(col("event_id"), (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"),
            (col("value") + 100).as("value"))
        upsert(target, updates, Seq("event_id")).orderBy("event_id")
      },
      Some("""SELECT event_id, ts, value FROM (
             |  SELECT event_id, ts, value,
             |    row_number() OVER (PARTITION BY event_id ORDER BY src DESC) AS rn
             |  FROM (
             |    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value, 0 AS src FROM events
             |    UNION ALL
             |    SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR, value + 100, 1
             |    FROM events WHERE event_id % 5 = 0))
             |WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // P5/F7 county-center imputation: back-fill missing coordinates from
    // a broadcast county-center dim before the geo filter (reference
    // src/app/streamlit_app.py:394-400 — COUNTY_CENTER.get then dropna).
    // Counties absent from the dim stay NULL and are dropped, exactly
    // like the reference's (None, None) default.
    QueryDef(
      "q_geo_impute",
      (s, d) => {
        import s.implicits._
        val centers = graft.Dashboard.CountyCenters.toDF("county", "c_lat", "c_lon")
        val names = array(lit("Stockholms län"), lit("Uppsala län"),
          lit("Skåne län"), lit("Västra Götalands län"), lit("Okänt län"))
        val src = Tables.events(s, d).select(
          col("event_id"),
          element_at(names, (col("user_id") % 5 + 1).cast("int")).as("county"),
          when(col("event_id") % 7 === 0, lit(null))
            .otherwise(round(col("value") / 10 + 55, 4)).as("lat"),
          when(col("event_id") % 3 === 0, lit(null))
            .otherwise(round(col("value") / 20 + 11, 4)).as("lon"))
        src.join(centers, Seq("county"), "left")
          .select(col("event_id"), col("county"),
            coalesce(col("lat"), col("c_lat")).as("latitude"),
            coalesce(col("lon"), col("c_lon")).as("longitude"))
          .where(col("latitude").isNotNull && col("longitude").isNotNull)
          .orderBy("event_id")
      },
      Some("""WITH src AS (SELECT event_id,
             |    ['Stockholms län','Uppsala län','Skåne län','Västra Götalands län','Okänt län']
             |      [CAST(user_id % 5 AS INT) + 1] AS county,
             |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE round(value / 10 + 55, 4) END AS lat,
             |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE round(value / 20 + 11, 4) END AS lon
             |  FROM events),
             |c(county, c_lat, c_lon) AS (VALUES
             |  ('Stockholms län', 59.334, 18.063), ('Uppsala län', 59.858, 17.638),
             |  ('Skåne län', 55.604, 13.003), ('Västra Götalands län', 57.708, 11.974))
             |SELECT event_id, county,
             |  coalesce(lat, c_lat) AS latitude, coalesce(lon, c_lon) AS longitude
             |FROM src LEFT JOIN c USING (county)
             |WHERE coalesce(lat, c_lat) IS NOT NULL AND coalesce(lon, c_lon) IS NOT NULL
             |ORDER BY event_id""".stripMargin)),

    // P10 hex→RGBA color conversion incl. the malformed-input fallback
    // (src/app/streamlit_app.py:411-414): '#'-prefixed and bare 6-digit
    // hex parse; junk falls back to [230, 57, 70, 210]
    QueryDef(
      "q_hex_rgba",
      (s, d) => {
        val hx = format_string("%06x", pmod(col("event_id") * 9973, lit(16777216)))
        Tables.events(s, d)
          .withColumn("hex_color",
            when(col("event_id") % 13 === 0, lit("zz"))
              .when(col("event_id") % 13 === 1, concat(lit("#"), hx))
              .otherwise(hx))
          .withColumn("rgba", hexToRgba(col("hex_color"), 210))
          .select(col("event_id"), col("hex_color"),
            col("rgba.r").as("r"), col("rgba.g").as("g"),
            col("rgba.b").as("b"), col("rgba.a").as("a"))
          .orderBy("event_id")
      },
      Some("""WITH src AS (SELECT event_id,
             |    CASE WHEN event_id % 13 = 0 THEN 'zz'
             |         WHEN event_id % 13 = 1 THEN '#' || printf('%06x', (event_id * 9973) % 16777216)
             |         ELSE printf('%06x', (event_id * 9973) % 16777216) END AS hex_color
             |  FROM events),
             |p AS (SELECT event_id, hex_color,
             |    lower(regexp_replace(hex_color, '^#', '')) AS h,
             |    regexp_full_match(lower(regexp_replace(hex_color, '^#', '')), '[0-9a-f]{6}') AS ok
             |  FROM src)
             |SELECT event_id, hex_color,
             |  CASE WHEN ok THEN (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             |                  + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 ELSE 230 END AS r,
             |  CASE WHEN ok THEN (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
             |                  + strpos('0123456789abcdef', substr(h, 4, 1)) - 1 ELSE 57 END AS g,
             |  CASE WHEN ok THEN (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
             |                  + strpos('0123456789abcdef', substr(h, 6, 1)) - 1 ELSE 70 END AS b,
             |  210 AS a
             |FROM p ORDER BY event_id""".stripMargin)),

    // P11+P5 file-driven color-map dimension (save_color_map /
    // load_color_map, src/app/streamlit_app.py:262-277): a {county →
    // "#RRGGBB"} JSON document persisted to a file, read back through the
    // engine, exploded to a dim, broadcast-joined to per-county groups,
    // and composed with the hex→RGBA formatter; counties absent from the
    // map fall back to a default color exactly like the dashboard does.
    QueryDef(
      "q_color_map",
      (s, d) => {
        val path = colorMapFile()
        val dim = s.read.option("wholetext", "true").text(path)
          .select(explode(from_json(col("value"),
              org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
            .as(Seq("county", "hex_color")))
        val names = array(
          lit("Stockholms län"), lit("Uppsala län"), lit("Skåne län"),
          lit("Västra Götalands län"), lit("Okänt län"))
        val groups = Tables.events(s, d)
          .select(element_at(names, (col("user_id") % 5 + 1).cast("int")).as("county"))
          .groupBy("county").agg(count(lit(1)).as("n"))
        groups.join(dim, Seq("county"), "left")
          .withColumn("hex_color", coalesce(col("hex_color"), lit("#cccccc")))
          .withColumn("rgba", hexToRgba(col("hex_color"), 210))
          .select(col("county"), col("n"), col("hex_color"),
            col("rgba.r").as("r"), col("rgba.g").as("g"),
            col("rgba.b").as("b"), col("rgba.a").as("a"))
          .orderBy("county")
      },
      Some("""WITH grp AS (SELECT
             |    ['Stockholms län','Uppsala län','Skåne län','Västra Götalands län','Okänt län']
             |      [CAST(user_id % 5 AS INT) + 1] AS county,
             |    count(*) AS n
             |  FROM events GROUP BY 1),
             |cm(county, hex_color, r, g, b) AS (VALUES
             |  ('Stockholms län', '#1f77b4', 31, 119, 180),
             |  ('Uppsala län', '#ff7f0e', 255, 127, 14),
             |  ('Skåne län', '#2ca02c', 44, 160, 44))
             |SELECT grp.county, n,
             |  coalesce(cm.hex_color, '#cccccc') AS hex_color,
             |  coalesce(cm.r, 204) AS r, coalesce(cm.g, 204) AS g,
             |  coalesce(cm.b, 204) AS b, 210 AS a
             |FROM grp LEFT JOIN cm ON cm.county = grp.county
             |ORDER BY grp.county""".stripMargin)),

    // A5 extension: span → map-zoom bucketing ladder
    // (src/app/streamlit_app.py:424-430); per-group spans scaled across
    // four decades so every ladder rung is exercised
    QueryDef(
      "q_zoom_ladder",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id")
        .agg(round((max("value") - min("value")) / pow(lit(4.0), col("user_id")), 4).as("span"))
        .select(col("user_id"), col("span"), zoomOf(col("span")).as("zoom"))
        .orderBy("user_id"),
      Some("""SELECT user_id, span,
             |  CASE WHEN span <= 0.08 THEN 11 WHEN span <= 0.25 THEN 9
             |       WHEN span <= 0.6 THEN 7 WHEN span <= 1.2 THEN 6
             |       WHEN span <= 3.0 THEN 5 ELSE 4 END AS zoom
             |FROM (SELECT user_id,
             |    round((max(value) - min(value)) / power(4, user_id), 4) AS span
             |  FROM events GROUP BY 1)
             |ORDER BY user_id""".stripMargin))
  )
}
