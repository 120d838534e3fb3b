package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Airline, Dates, Durations, Luggage, Normalize}
import graft.operators.{Cleaners, Conform, Dedupe}
import graft.schema.FlightVocab
import graft.sources.Tables

/** Reference-parity operator inventory (SURVEY.md §2), each expressed
  * over the driver's TPC-H-ish testdata with a DuckDB oracle.
  *
  * The flight-domain inputs the reference consumes (flight numbers,
  * luggage strings, durations…) are synthesized deterministically from
  * testdata columns inside each query, so the *operators* under test are
  * exactly the reference's (F1-F14, J1/J2, D1/D2, P3/P5, F-C/F-D, A1,
  * W1/W2, S1-S3) while inputs stay driver-controlled.
  *
  * Scale notes: every query is a single declarative plan — filters and
  * projections reach the parquet scan, scalar work is whole-stage
  * codegen'd, joins shuffle only on their keys (dims get broadcast),
  * and the dedup window shuffles once on its partition key.
  */
object ParityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Same table through the staged layout (see [[Tables.computeTable]]):
    * parallel scans when the local fixture is a single parquet split.
    * Pushdown is preserved — filters reach the staged files' scan (and
    * the events watermark even gains pushdown, since staging rewrites
    * the legacy nanos column as a real TIMESTAMP). */
  private def tc(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.computeTable(s, dir, name)

  // Deterministic watermark: events span Jan 2024 at every sf.
  private val WatermarkTs = "2024-01-24 00:00:00"

  /** Epoch seconds of a timestamp col, truncated — matches DuckDB
    * `epoch_us(ts)//1000000` (ns-precision parquet would otherwise
    * hash-mismatch between Spark's us timestamps and DuckDB's ns). */
  private def epochS(c: Column): Column = c.cast("long")

  // Exact-sum trick: per-element fixed-point rounding makes SUM order-
  // independent, so Spark's parallel aggregation matches DuckDB bit-for-bit.
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  val all: Map[String, QueryDef] = Map(

    // S1+D1+F-A+F-B: filtered DISTINCT scan (etl/extractor.py:42-58,67).
    "q01_scan_distinct" -> QueryDef(
      (s, dir) => tc(s, dir, "events")
        .filter(col("value").isNotNull && col("ts") > lit(WatermarkTs).cast("timestamp"))
        .select("user_id", "event_type").distinct()
        .orderBy("user_id", "event_type"),
      s"""SELECT DISTINCT user_id, event_type FROM events
         |WHERE value IS NOT NULL AND ts > TIMESTAMP '$WatermarkTs'
         |ORDER BY user_id, event_type""".stripMargin),

    // S2: deterministic 12h-lookback watermark scan (etl/extractor.py:8-17).
    "q02_watermark_scan" -> QueryDef(
      (s, dir) => {
        val nowEpoch = 1706659200L // 2024-01-31 00:00:00 UTC
        tc(s, dir, "events")
          .filter(Tables.watermarkPredicate("ts", nowEpoch, 12))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), epochS(col("ts")).as("ts_s"))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type, value,
        |       epoch_us(ts)//1000000 AS ts_s FROM events
        |WHERE ts > TIMESTAMP '2024-01-30 12:00:00'
        |ORDER BY event_id""".stripMargin),

    // S3: one table, two boolean-partition branches (etl/extractor.py:90-110).
    "q03_boolean_split" -> QueryDef(
      (s, dir) => {
        val ev = tc(s, dir, "events")
        val a = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), lit(true).as("is_error"))
        val b = ev.filter(col("event_type") =!= "error")
          .select(col("event_id"), col("user_id"), lit(false).as("is_error"))
        a.unionAll(b).orderBy("event_id")
      },
      """SELECT event_id, user_id, TRUE AS is_error FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, user_id, FALSE AS is_error FROM events WHERE event_type <> 'error'
        |ORDER BY event_id""".stripMargin),

    // J1: chained multi-table LEFT equi-joins attaching payloads to the
    // primary row (unified_transformer.py:260-270). Dims broadcast.
    "q04_multikey_left_join" -> QueryDef(
      (s, dir) => {
        val li = tc(s, dir, "lineitem")
        val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
        val n = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        val r = t(s, dir, "region").select("r_regionkey", "r_name")
        val su = t(s, dir, "supplier").select("s_suppkey", "s_name")
        li.join(o, li("l_orderkey") === o("o_orderkey"), "left")
          .join(c, o("o_custkey") === c("c_custkey"), "left")
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
          .join(su, li("l_suppkey") === su("s_suppkey"), "left")
          .select(li("l_orderkey"), li("l_linenumber"), li("l_quantity"),
            col("o_totalprice"), col("c_name"), col("n_name"), col("r_name"), col("s_name"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice,
        |       c_name, n_name, r_name, s_name
        |FROM lineitem
        |LEFT JOIN orders   ON l_orderkey = o_orderkey
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation   ON c_nationkey = n_nationkey
        |LEFT JOIN region   ON n_regionkey = r_regionkey
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // J2+J1: join on *normalized* string keys (unified_transformer.py:216-258).
    "q05_normalized_key_join" -> QueryDef(
      (s, dir) => {
        val o = tc(s, dir, "orders")
          .select(col("o_orderkey"),
            Normalize.normalizeKey(concat(lit("  "), col("o_orderpriority"), lit("  ")))
              .as("prio_key"),
            col("o_totalprice"))
        val dim = o.groupBy("prio_key").agg(dsum(col("o_totalprice")).as("prio_total"))
        o.join(broadcast(dim), Seq("prio_key"), "left")
          .select("o_orderkey", "prio_key", "prio_total")
          .orderBy("o_orderkey")
      },
      """WITH o2 AS (
        |  SELECT o_orderkey,
        |         upper(regexp_replace(trim(concat('  ', o_orderpriority, '  ')), '\s+', ' ', 'g')) AS prio_key,
        |         o_totalprice
        |  FROM orders),
        |dim AS (
        |  SELECT prio_key, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS prio_total
        |  FROM o2 GROUP BY prio_key)
        |SELECT o2.o_orderkey, o2.prio_key, dim.prio_total
        |FROM o2 LEFT JOIN dim USING (prio_key)
        |ORDER BY o_orderkey""".stripMargin),

    // D2+W1: keep-latest dedup via window (etl/pipeline.py:56) with a
    // deterministic tiebreaker (event_id desc).
    "q06_keep_latest_dedup" -> QueryDef(
      (s, dir) => Dedupe.keepLatest(tc(s, dir, "events"),
          Seq("user_id", "event_type"), "ts", Seq(col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), epochS(col("ts")).as("ts_s"))
        .orderBy("user_id", "event_type"),
      """SELECT user_id, event_type, event_id, value, epoch_us(ts)//1000000 AS ts_s
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin),

    // P3+P5+F12+F13+F14: conform-to-schema null pad + wide projection
    // (unified_transformer.py:190-207,290-503,475-487,539-544).
    "q07_conform_project" -> QueryDef(
      (s, dir) => Conform.ensureColumns(t(s, dir, "part"), Seq("p_pad_col"))
        .select(col("p_partkey").as("part_key"),
          upper(trim(col("p_brand"))).as("brand"),
          Airline.airportHeadToken(col("p_name")).as("name_head"),
          floor(col("p_retailprice")).cast("long").as("retail_floor"),
          Normalize.blankToNull(col("p_pad_col")).as("p_pad_col"))
        .orderBy("part_key"),
      """SELECT p_partkey AS part_key,
        |       upper(trim(p_brand)) AS brand,
        |       CASE WHEN trim(p_name) = '' THEN NULL
        |            ELSE regexp_split_to_array(trim(p_name), '\s+')[1] END AS name_head,
        |       CAST(FLOOR(p_retailprice) AS BIGINT) AS retail_floor,
        |       CAST(NULL AS VARCHAR) AS p_pad_col
        |FROM part ORDER BY part_key""".stripMargin),

    // F1+F10+F-C(predicate): airline extraction + flight normalization
    // (unified_transformer.py:13-31; set_transformer.py:85-92).
    "q08_airline_extract" -> QueryDef(
      (s, dir) => {
        val fn = concat(col("l_returnflag"), col("l_linestatus"),
          (col("l_orderkey") % 10000).cast("string"))
        tc(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), fn.as("flight_no"),
            Airline.extractAirlineCode(fn).as("airline"),
            Normalize.normalizeFlightNumber(fn).as("flight_norm"))
          .withColumn("is_valid", Normalize.isValidFlightNumber(col("flight_norm")))
          .orderBy("l_orderkey", "l_linenumber")
      },
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |         l_returnflag || l_linestatus || CAST(l_orderkey % 10000 AS VARCHAR) AS flight_no
        |  FROM lineitem),
        |norm AS (
        |  SELECT *, upper(regexp_replace(flight_no, '\s+', '', 'g')) AS n0 FROM base),
        |padded AS (
        |  SELECT l_orderkey, l_linenumber, flight_no,
        |         upper(regexp_extract(flight_no, '^([A-Za-z]+)', 1)) AS airline,
        |         CASE WHEN regexp_matches(n0, '^[A-Z0-9]{2}\d{2}$') THEN n0[1:2] || '0' || n0[3:4]
        |              WHEN regexp_matches(n0, '^[A-Z0-9]{2}\d{1}$') THEN n0[1:2] || '00' || n0[3:3]
        |              ELSE n0 END AS flight_norm
        |  FROM norm)
        |SELECT *, (flight_norm = '' OR regexp_matches(flight_norm, '^[A-Z0-9]{2}\d{3,4}$')) AS is_valid
        |FROM padded ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // F2: multi-format time normalization (unified_transformer.py:33-74).
    "q09_time_hhmm" -> QueryDef(
      (s, dir) => {
        val raw = when(col("event_id") % 3 === 0, date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .when(col("event_id") % 3 === 1, date_format(col("ts"), "H:mm"))
          .otherwise(concat(lit("dep at "), date_format(col("ts"), "HH:mm"), lit(" local")))
        tc(s, dir, "events")
          .select(col("event_id"), raw.as("raw_time"),
            Dates.toTimeHhmm(raw).as("hhmm"))
          .orderBy("event_id")
      },
      """SELECT event_id,
        |       CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
        |            WHEN event_id % 3 = 1 THEN strftime(ts, '%-H:%M')
        |            ELSE 'dep at ' || strftime(ts, '%H:%M') || ' local' END AS raw_time,
        |       strftime(ts, '%H:%M') AS hhmm
        |FROM events ORDER BY event_id""".stripMargin),

    // F3: duration -> minutes (unified_transformer.py:76-113).
    "q10_duration_minutes" -> QueryDef(
      (s, dir) => {
        val d = (col("user_id") % 3).cast("int")
        val h = (col("event_id") % 24).cast("int")
        val m = (col("user_id") % 60).cast("int")
        val sec = ((col("event_id") * 7) % 60).cast("int")
        val hms = concat(lpad(h.cast("string"), 2, "0"), lit(":"),
          lpad(m.cast("string"), 2, "0"), lit(":"), lpad(sec.cast("string"), 2, "0"))
        val raw = when(col("event_id") % 4 === 0, concat(d.cast("string"), lit(" days "), hms))
          .when(col("event_id") % 4 === 1, hms)
          .when(col("event_id") % 4 === 2, (col("event_id") % 500).cast("string"))
          .otherwise(lit("n/a"))
        tc(s, dir, "events")
          .select(col("event_id"), raw.as("dur_str"),
            Durations.durationToMinutes(raw).as("minutes"))
          .orderBy("event_id")
      },
      """WITH base AS (
        |  SELECT event_id,
        |         CAST(user_id % 3 AS INTEGER)  AS d,
        |         CAST(event_id % 24 AS INTEGER) AS h,
        |         CAST(user_id % 60 AS INTEGER)  AS m,
        |         CAST((event_id * 7) % 60 AS INTEGER) AS sec
        |  FROM events),
        |built AS (
        |  SELECT event_id, d, h, m, sec,
        |         lpad(CAST(h AS VARCHAR), 2, '0') || ':' || lpad(CAST(m AS VARCHAR), 2, '0')
        |           || ':' || lpad(CAST(sec AS VARCHAR), 2, '0') AS hms
        |  FROM base)
        |SELECT event_id,
        |       CASE WHEN event_id % 4 = 0 THEN CAST(d AS VARCHAR) || ' days ' || hms
        |            WHEN event_id % 4 = 1 THEN hms
        |            WHEN event_id % 4 = 2 THEN CAST(event_id % 500 AS VARCHAR)
        |            ELSE 'n/a' END AS dur_str,
        |       CASE WHEN event_id % 4 = 0 THEN CAST(d*1440 + h*60 + m + CASE WHEN sec >= 30 THEN 1 ELSE 0 END AS INTEGER)
        |            WHEN event_id % 4 = 1 THEN CAST(h*60 + m + CASE WHEN sec >= 30 THEN 1 ELSE 0 END AS INTEGER)
        |            WHEN event_id % 4 = 2 THEN CAST(event_id % 500 AS INTEGER)
        |            ELSE CAST(NULL AS INTEGER) END AS minutes
        |FROM built ORDER BY event_id""".stripMargin),

    // F4+F5: luggage split + recompose (unified_transformer.py:115-147).
    "q11_luggage" -> QueryDef(
      (s, dir) => {
        val raw = when(col("event_id") % 5 === 0, lit("25 公斤"))
          .when(col("event_id") % 5 === 1, lit("1件"))
          .when(col("event_id") % 5 === 2, lit("2 件"))
          .when(col("event_id") % 5 === 3, concat((col("user_id") % 40).cast("string"), lit(".5 kg")))
          .otherwise(lit("無"))
        tc(s, dir, "events")
          .select(col("event_id"), raw.as("lug"),
            Luggage.luggageValue(raw).as("lug_value"),
            Luggage.luggageUnit(raw).as("lug_unit"),
            Luggage.recomposeLuggage(raw).as("lug_norm"))
          .orderBy("event_id")
      },
      """SELECT event_id,
        |       CASE WHEN event_id % 5 = 0 THEN '25 公斤'
        |            WHEN event_id % 5 = 1 THEN '1件'
        |            WHEN event_id % 5 = 2 THEN '2 件'
        |            WHEN event_id % 5 = 3 THEN CAST(user_id % 40 AS VARCHAR) || '.5 kg'
        |            ELSE '無' END AS lug,
        |       CASE WHEN event_id % 5 = 0 THEN 25.0
        |            WHEN event_id % 5 = 1 THEN 1.0
        |            WHEN event_id % 5 = 2 THEN 2.0
        |            WHEN event_id % 5 = 3 THEN CAST(user_id % 40 AS DOUBLE) + 0.5
        |            ELSE CAST(NULL AS DOUBLE) END AS lug_value,
        |       CASE WHEN event_id % 5 = 3 THEN '公斤'
        |            WHEN event_id % 5 = 0 THEN '公斤'
        |            WHEN event_id % 5 IN (1, 2) THEN '件'
        |            ELSE '無' END AS lug_unit,
        |       CASE WHEN event_id % 5 = 0 THEN '25公斤'
        |            WHEN event_id % 5 = 1 THEN '1件'
        |            WHEN event_id % 5 = 2 THEN '2件'
        |            WHEN event_id % 5 = 3 THEN CAST(user_id % 40 AS VARCHAR) || '.5公斤'
        |            ELSE '' END AS lug_norm
        |FROM events ORDER BY event_id""".stripMargin),

    // F6+F7+F8+F9: date chains (cola_transformer.py:50-85,222-228;
    // set_transformer.py:60-66; unified_transformer.py:518-537).
    "q12_date_mmdd" -> QueryDef(
      (s, dir) => {
        val iso = col("o_orderdate").cast("date").cast("string")
        val mmdd = Dates.isoSliceToMmDd(iso)
        val yr = Dates.yearPrefix(iso)
        val dtStr = date_format(col("o_orderdate"), "yyyy/MM/dd HH:mm")
        tc(s, dir, "orders")
          .select(col("o_orderkey"), mmdd.as("mmdd"), yr.as("yr"),
            Dates.attachYear(yr, mmdd).as("full_date"),
            Dates.toDateYyyySlashMmSlashDd(dtStr).as("parsed"))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey,
        |       replace(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)[6:10], '-', '/') AS mmdd,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR)[1:4] AS yr,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR)[1:4] || '/' ||
        |         replace(CAST(CAST(o_orderdate AS DATE) AS VARCHAR)[6:10], '-', '/') AS full_date,
        |       strftime(o_orderdate, '%Y/%m/%d') AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // A1: row-wise transfer count (unified_transformer.py:427-436).
    "q13_transfer_count" -> QueryDef(
      (s, dir) => {
        val leg1 = concat(lit("CI"), (col("l_orderkey") % 1000).cast("string"))
        val leg2 = when(col("l_orderkey") % 3 === 0, lit(""))
          .otherwise(concat(lit("BR"), (col("l_partkey") % 1000).cast("string")))
        val leg3 = when(col("l_orderkey") % 7 === 0, lit(null).cast("string")).otherwise(lit("  "))
        tc(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), leg1.as("leg1"),
            leg2.as("leg2"), leg3.as("leg3"),
            Airline.transferCount(Seq(leg1, leg2, leg3)).as("transfer_count"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber,
        |       'CI' || CAST(l_orderkey % 1000 AS VARCHAR) AS leg1,
        |       CASE WHEN l_orderkey % 3 = 0 THEN ''
        |            ELSE 'BR' || CAST(l_partkey % 1000 AS VARCHAR) END AS leg2,
        |       CASE WHEN l_orderkey % 7 = 0 THEN CAST(NULL AS VARCHAR) ELSE '  ' END AS leg3,
        |       CAST(GREATEST(0, 1 + CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE 1 END - 1) AS INTEGER) AS transfer_count
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // F-C+F10: invalid-flight-number row drop (set_transformer.py:94-109).
    "q14_invalid_flight_filter" -> QueryDef(
      (s, dir) => {
        val fn1 = when(col("l_orderkey") % 4 === 0,
            concat(lit("ci "), (col("l_partkey") % 90 + 10).cast("string")))
          .when(col("l_orderkey") % 4 === 1,
            concat(lit("BR"), (col("l_partkey") % 9000 + 1000).cast("string")))
          .when(col("l_orderkey") % 4 === 2, lit("BAD*CODE"))
          .otherwise(lit(""))
        val fn2 = when(col("l_orderkey") % 5 === 0,
            concat(lit("JX"), (col("l_partkey") % 900 + 100).cast("string")))
          .when(col("l_orderkey") % 5 === 1, lit("1234567"))
          .otherwise(lit(""))
        val n1 = Normalize.normalizeFlightNumber(fn1)
        val n2 = Normalize.normalizeFlightNumber(fn2)
        tc(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), n1.as("fn1"), n2.as("fn2"))
          .filter(Normalize.allFlightNumbersValid(Seq(col("fn1"), col("fn2"))))
          .orderBy("l_orderkey", "l_linenumber")
      },
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_orderkey % 4 = 0 THEN 'ci ' || CAST(l_partkey % 90 + 10 AS VARCHAR)
        |              WHEN l_orderkey % 4 = 1 THEN 'BR' || CAST(l_partkey % 9000 + 1000 AS VARCHAR)
        |              WHEN l_orderkey % 4 = 2 THEN 'BAD*CODE'
        |              ELSE '' END AS r1,
        |         CASE WHEN l_orderkey % 5 = 0 THEN 'JX' || CAST(l_partkey % 900 + 100 AS VARCHAR)
        |              WHEN l_orderkey % 5 = 1 THEN '1234567'
        |              ELSE '' END AS r2
        |  FROM lineitem),
        |norm AS (
        |  SELECT l_orderkey, l_linenumber,
        |         upper(regexp_replace(r1, '\s+', '', 'g')) AS m1,
        |         upper(regexp_replace(r2, '\s+', '', 'g')) AS m2
        |  FROM base),
        |padded AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN regexp_matches(m1, '^[A-Z0-9]{2}\d{2}$') THEN m1[1:2] || '0' || m1[3:4]
        |              WHEN regexp_matches(m1, '^[A-Z0-9]{2}\d{1}$') THEN m1[1:2] || '00' || m1[3:3]
        |              ELSE m1 END AS fn1,
        |         CASE WHEN regexp_matches(m2, '^[A-Z0-9]{2}\d{2}$') THEN m2[1:2] || '0' || m2[3:4]
        |              WHEN regexp_matches(m2, '^[A-Z0-9]{2}\d{1}$') THEN m2[1:2] || '00' || m2[3:3]
        |              ELSE m2 END AS fn2
        |  FROM norm)
        |SELECT * FROM padded
        |WHERE (fn1 = '' OR regexp_matches(fn1, '^[A-Z0-9]{2}\d{3,4}$'))
        |  AND (fn2 = '' OR regexp_matches(fn2, '^[A-Z0-9]{2}\d{3,4}$'))
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // W2: order-by-desc LIMIT 1-style top-k (etl/loader.py:255-261).
    "q15_topk" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // Group-by aggregation demo (SURVEY §2.6 extension; partial
    // map-side combine + single shuffle on the group key).
    "q16_agg_groupby" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          (sum(col("l_quantity").cast("decimal(18,4)")).cast("double") /
            count(col("l_quantity")).cast("double")).as("avg_qty"),
          count(lit(1)).as("n"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
        |       COUNT(*) AS n,
        |       COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // S10/A2: count-verification read-back (etl/loader.py:69-89,290-298).
    "q17_counts" -> QueryDef(
      (s, dir) => {
        val tables = Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
        tables.map { name =>
          t(s, dir, name).select(lit(name).as("tbl"), lit(1).as("one"))
            .groupBy("tbl").agg(count(lit(1)).as("n"))
        }.reduce(_ unionAll _).orderBy("tbl")
      },
      """SELECT tbl, n FROM (
        |  SELECT 'lineitem' AS tbl, COUNT(*) AS n FROM lineitem UNION ALL
        |  SELECT 'orders', COUNT(*) FROM orders UNION ALL
        |  SELECT 'customer', COUNT(*) FROM customer UNION ALL
        |  SELECT 'part', COUNT(*) FROM part UNION ALL
        |  SELECT 'supplier', COUNT(*) FROM supplier UNION ALL
        |  SELECT 'nation', COUNT(*) FROM nation UNION ALL
        |  SELECT 'region', COUNT(*) FROM region)
        |ORDER BY tbl""".stripMargin),

    // Semi/anti join coverage (SURVEY §2.4 note).
    "q18_semi_anti_join" -> QueryDef(
      (s, dir) => {
        val c = t(s, dir, "customer").select("c_custkey")
        val o = t(s, dir, "orders").select("o_custkey")
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), lit(true).as("has_orders"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit(false).as("has_orders"))
        semi.unionAll(anti).orderBy("c_custkey")
      },
      """SELECT c_custkey, TRUE AS has_orders FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, FALSE AS has_orders FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // S5-S8: transactional full-refresh load exercised end-to-end — two
    // refresh cycles (the first becomes the second's backup) then the
    // read-back, so the oracle checks what actually landed on disk
    // (etl/loader.py:197-238).
    "q19_sink_roundtrip" -> QueryDef(
      (s, dir) => {
        val src = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .filter(col("o_orderkey") % 10 === 0)
        val base = new java.io.File(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-sink/${new java.io.File(dir).getName}").getAbsolutePath
        graft.operators.Sinks.truncateAndLoad(s,
          src.filter(col("o_orderkey") % 20 === 0),
          s"$base/orders_cmp", s"$base/backups", "orders_cmp", nowEpoch = 1700000001L)
        graft.operators.Sinks.truncateAndLoad(s, src,
          s"$base/orders_cmp", s"$base/backups", "orders_cmp", nowEpoch = 1700000002L)
        s.read.parquet(s"$base/orders_cmp").orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin),

    // Skew-mitigated join: salted left equi-join must be row-for-row the
    // plain left join (lineitem's l_suppkey is the realistic hot-key
    // shape; the oracle is the unsalted SQL join).
    "q34_salted_skew_join" -> QueryDef(
      (s, dir) => {
        val li = tc(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_suppkey")
        val su = t(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey"), col("s_name"))
        graft.operators.SkewJoin.saltedLeftJoin(li, su, Seq("l_suppkey"), buckets = 8)
          .orderBy("l_orderkey", "l_linenumber")
      },
      """SELECT l_orderkey, l_linenumber, l_suppkey, s_name
        |FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Set operations (absent in the reference, SURVEY §2.5 — engine
    // completeness demo): INTERSECT/EXCEPT with SQL set semantics.
    "q35_set_ops" -> QueryDef(
      (s, dir) => {
        val a = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val b = tc(s, dir, "orders")
          .filter(col("o_totalprice") > 150000).select(col("o_custkey").as("c_custkey"))
        val inter = a.intersect(b).withColumn("op", lit("intersect"))
        val exc = a.except(b).withColumn("op", lit("except"))
        inter.unionAll(exc).orderBy("op", "c_custkey")
      },
      """SELECT c_custkey, 'intersect' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |UNION ALL
        |SELECT c_custkey, 'except' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |ORDER BY op, c_custkey""".stripMargin),

    // Join-type completeness: FULL OUTER with both-side-only rows (the
    // customer filter manufactures order-only keys) and null-safe
    // feature columns. The aggregate side is pre-collapsed so the
    // shuffle carries one slim row per key.
    "q51_full_outer" -> QueryDef(
      (s, dir) => {
        val c = tc(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
          .select(col("c_custkey"), col("c_mktsegment"))
        val o = tc(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_mktsegment"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            col("sum_price"),
            (col("c_custkey").isNotNull && col("o_custkey").isNull).as("cust_only"),
            col("c_custkey").isNull.as("order_only"))
          .orderBy("custkey")
      },
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, c.c_mktsegment,
        |       CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
        |       o.sum_price,
        |       (c.c_custkey IS NOT NULL AND o.o_custkey IS NULL) AS cust_only,
        |       (c.c_custkey IS NULL) AS order_only
        |FROM (SELECT c_custkey, c_mktsegment FROM customer
        |      WHERE c_custkey % 3 <> 0) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS sum_price
        |  FROM orders GROUP BY 1) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin),

    // P7 (`cola_transformer.py:170-201`): split composite flight+class
    // columns on the first space; covers the normal, double-space,
    // empty, null, and no-space shapes.
    "q36_split_flight_class" -> QueryDef(
      (s, dir) => {
        val li = tc(s, dir, "lineitem")
        val raw = li.select(
          col("l_orderkey"), col("l_linenumber"),
          concat(lit("CI"), (col("l_partkey") % 900 + 100).cast("string"), lit(" "),
            when(col("l_partkey") % 2 === 0, "Y").otherwise("J1"))
            .as(FlightVocab.depFlightComposite(1)),
          when(col("l_orderkey") % 3 === 0,
            concat(lit("BR0"), (col("l_partkey") % 90 + 10).cast("string"), lit("  K")))
            .otherwise(lit("")).as(FlightVocab.depFlightComposite(2)),
          when(col("l_orderkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("BR"), (col("l_suppkey") % 900 + 100).cast("string"),
              lit(" Y"))).as(FlightVocab.retFlightComposite(1)),
          concat(lit("XX"), (col("l_partkey") % 90 + 10).cast("string"))
            .as(FlightVocab.retFlightComposite(2)))
        Cleaners.splitFlightAndClass(raw)
          .select(col("l_orderkey"), col("l_linenumber"),
            col(FlightVocab.depFlight(1)).as("dep_fn1"),
            col(FlightVocab.depCabin(1)).as("dep_cab1"),
            col(FlightVocab.depFlight(2)).as("dep_fn2"),
            col(FlightVocab.depCabin(2)).as("dep_cab2"),
            col(FlightVocab.retFlight(1)).as("ret_fn1"),
            col(FlightVocab.retCabin(1)).as("ret_cab1"),
            col(FlightVocab.retFlight(2)).as("ret_fn2"),
            col(FlightVocab.retCabin(2)).as("ret_cab2"))
          .orderBy("l_orderkey", "l_linenumber")
      }, {
        def splitSql(c: String, fn: String, cab: String): String =
          // DuckDB split_part maps NULL input to '' -- guard explicitly
          s"CASE WHEN $c IS NOT NULL THEN trim(split_part($c, ' ', 1)) END AS $fn,\n" +
            s"       CASE WHEN strpos($c, ' ') > 0 THEN substr($c, strpos($c, ' ') + 1) END AS $cab"
        s"""WITH raw AS (
           |  SELECT l_orderkey, l_linenumber,
           |         'CI' || CAST(l_partkey % 900 + 100 AS VARCHAR) || ' ' ||
           |           (CASE WHEN l_partkey % 2 = 0 THEN 'Y' ELSE 'J1' END) AS c1,
           |         CASE WHEN l_orderkey % 3 = 0
           |              THEN 'BR0' || CAST(l_partkey % 90 + 10 AS VARCHAR) || '  K'
           |              ELSE '' END AS c2,
           |         CASE WHEN l_orderkey % 5 = 0 THEN NULL
           |              ELSE 'BR' || CAST(l_suppkey % 900 + 100 AS VARCHAR) || ' Y' END AS c3,
           |         'XX' || CAST(l_partkey % 90 + 10 AS VARCHAR) AS c4
           |  FROM lineitem)
           |SELECT l_orderkey, l_linenumber,
           |       ${splitSql("c1", "dep_fn1", "dep_cab1")},
           |       ${splitSql("c2", "dep_fn2", "dep_cab2")},
           |       ${splitSql("c3", "ret_fn1", "ret_cab1")},
           |       ${splitSql("c4", "ret_fn2", "ret_cab2")}
           |FROM raw ORDER BY l_orderkey, l_linenumber""".stripMargin
      }),

    // F-E (`etl/loader.py:29-34`): the load gate drops gds_type-null
    // rows (reject count observed in-flight); the read-back proves the
    // dropped rows never reached the table.
    "q37_load_gate" -> QueryDef(
      (s, dir) => {
        val src = t(s, dir, "orders")
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
              .when(col("o_orderkey") % 2 === 0, "AMADEUS").otherwise("SABRE")
              .as("gds_type"))
        val base = new java.io.File(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-sink-gate/${new java.io.File(dir).getName}").getAbsolutePath
        graft.operators.Sinks.truncateAndLoad(s, src,
          s"$base/orders_gated", s"$base/backups", "orders_gated",
          nowEpoch = 1700000001L, gateCol = Some("gds_type"))
        s.read.parquet(s"$base/orders_gated").orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CASE WHEN o_orderkey % 2 = 0 THEN 'AMADEUS' ELSE 'SABRE' END AS gds_type
        |FROM orders
        |WHERE o_orderkey % 10 = 0 AND o_orderkey % 3 <> 0
        |ORDER BY o_orderkey""".stripMargin),

    // Multi-level aggregation (absent in the reference — engine
    // completeness): ROLLUP with grouping_id, subtotals and grand total.
    "q3E_rollup" -> QueryDef(
      (s, dir) => Tables.computeTable(s, dir, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"), grouping_id().as("gid"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first, col("gid")),
      """SELECT lang, source, COUNT(*) AS n_docs,
        |       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST, gid""".stripMargin),

    // Pivot (absent in the reference — engine completeness): per-source
    // doc counts pivoted to one column per language.
    "q3F_pivot" -> QueryDef(
      (s, dir) => Tables.computeTable(s, dir, "documents")
        .groupBy("source")
        .pivot("lang", Seq("en", "de", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source"),
      {
        val langs = Seq("en", "de", "es", "fr", "zh")
        val cols = langs.map(l =>
          s"CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS $l")
          .mkString(",\n       ")
        s"""SELECT source,
           |       $cols
           |FROM documents GROUP BY source ORDER BY source""".stripMargin
      }),

    // Exact per-group quantiles by nearest rank: idx = ceil(p*n) done in
    // pure integer arithmetic ((n*P + 99) DIV 100), so both engines
    // select the identical element — no interpolation, no float
    // divergence. Scale: per-group window sort parallelizes across
    // groups; a corpus-scale percentile would use a sketch instead
    // (the KMV UDAF is the catalogued sketch surface).
    "q3R_quantiles" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.computeTable(s, dir, "documents")
          .select("lang", "n_chars", "doc_id")
        val w = Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)
        val cw = Window.partitionBy("lang")
        d.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(cw))
          .groupBy("lang").agg(
            max("n").as("n_docs"),
            max(when(col("rn") === expr("(n * 50 + 99) DIV 100"), col("n_chars"))).as("p50"),
            max(when(col("rn") === expr("(n * 95 + 99) DIV 100"), col("n_chars"))).as("p95"),
            max(when(col("rn") === expr("(n * 99 + 99) DIV 100"), col("n_chars"))).as("p99"))
          .orderBy("lang")
      },
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, MAX(n) AS n_docs,
        |       MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS p50,
        |       MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN n_chars END) AS p95,
        |       MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END) AS p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin),

    // CUBE over (lang, source): all four grouping sets in one pass
    // (partial-aggregated expansion, one shuffle) — completes the
    // grouping-set surface next to ROLLUP (q3E) and PIVOT (q3F).
    "q3S_cube" -> QueryDef(
      (s, dir) => Tables.computeTable(s, dir, "documents")
        .cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          grouping_id().as("gid"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first, col("gid")),
      """SELECT lang, source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars,
        |       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST, gid""".stripMargin),

    // Z-order (Morton) key: the layout operator's curve arithmetic,
    // mirrored term-by-term in SQL. The layout benefit itself (narrow
    // per-partition min/max spans on BOTH columns) is asserted by
    // ZOrderSpec; this pins the key every layout decision derives from.
    "q3T_zorder" -> QueryDef(
      (s, dir) => Tables.computeTable(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.ZOrder.zkey(col("doc_id") % 256, col("n_chars") % 256, 8).as("zkey"))
        .orderBy("doc_id"),
      {
        val terms = (0 until 8).flatMap(i => Seq(
          s"((((doc_id % 256) >> $i) & 1) << ${2 * i})",
          s"((((n_chars % 256) >> $i) & 1) << ${2 * i + 1})"))
        s"""SELECT doc_id,
           |       CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // Bloom semi-join pre-filter: big side (lineitem) probed against a
    // bloom of the selective orders subset BEFORE the join shuffle;
    // the exact join then removes false positives, so the result is
    // identical to the plain join the oracle runs. BloomJoinSpec
    // asserts the pruning actually fires (probe output << big side).
    "q3U_bloom_join" -> QueryDef(
      (s, dir) => {
        val li = tc(s, dir, "lineitem")
        val ords = tc(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 === 0)
          .select("o_orderkey", "o_orderpriority")
        graft.operators.BloomJoin.bloomJoin(li, ords, "l_orderkey", "o_orderkey",
            fpp = 0.01)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Single-pass column profiler (pre-load data-quality gate): row,
    // null, and exact distinct counts for every orders column in ONE
    // aggregate over one scan.
    "q44_column_profile" -> QueryDef(
      (s, dir) => graft.operators.Profiler.profile(
          tc(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy("col_name"),
      {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        cols.map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |       COUNT(DISTINCT $c) AS n_distinct
             |FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }),

    // Join-key skew report: the 10 heaviest l_suppkey values and their
    // row share — the diagnosis behind the q34 salted join. Global
    // top-k is a TakeOrderedAndProject, never a full sort.
    "q4Q_skew_report" -> QueryDef(
      (s, dir) => graft.operators.Profiler.skewReport(
          tc(s, dir, "lineitem"), Seq("l_suppkey"), topK = 10),
      """WITH c AS (
        |  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total FROM lineitem)
        |SELECT l_suppkey, n, CAST(n AS DOUBLE) / total AS share
        |FROM c, t ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin),

    // Equi-width histogram of order totals: 10 bins over [0, 600000),
    // out-of-range clamped to edge bins. The bin width and per-row
    // floor are plain IEEE arithmetic, identical in both engines.
    "q46_histogram" -> QueryDef(
      (s, dir) => graft.operators.Profiler.histogram(
          tc(s, dir, "orders"), "o_totalprice", lo = 0.0, hi = 600000.0,
          bins = 10)
        .orderBy("bin"),
      """WITH b AS (
        |  SELECT CAST(least(greatest(floor((o_totalprice - 0.0) / 60000.0), 0.0),
        |              9.0) AS INTEGER) AS bin
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT bin, 0.0 + bin * 60000.0 AS bin_lo, COUNT(*) AS n
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin),

    // Transactional snapshot table, MERGE leg: build the table from an
    // orders slice, upsert a batch (updated rows + brand-new keys) with
    // whole-row-replace semantics, read the committed snapshot back.
    // The oracle is the textbook FULL OUTER merge. SnapshotSpec
    // additionally proves the copy-on-write only rewrites files whose
    // key range the batch touches.
    "q49_snapshot_merge" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t49")
        val tgt = t(s, dir, "orders")
          .filter(col("o_orderkey") % 7 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        graft.sources.SnapshotTable.write(s, tgt.repartitionByRange(8,
          col("o_orderkey")), base, "overwrite", Seq("o_orderkey"))
        val updates = t(s, dir, "orders")
          .filter(col("o_orderkey") % 14 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("0-RUSH").as("o_orderpriority"))
          .unionAll(t(s, dir, "orders")
            .filter(col("o_orderkey") % 7 === 3)
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
        graft.sources.SnapshotTable.merge(s, base, updates, "o_orderkey",
          Seq("o_orderkey"))
        graft.sources.SnapshotTable.scan(s, base).orderBy("o_orderkey")
      },
      """WITH tgt AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
        |         '0-RUSH' AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 14 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 3)
        |SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        |       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
        |       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |FROM tgt t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    // Snapshot table, time-travel leg: three committed versions
    // (overwrite, overwrite, append) then RESTORE of v1 — every
    // version stays readable by number, and restore is a metadata-only
    // commit reusing v1's files. The oracle recomputes each version's
    // contents straight from the source table.
    "q4A_snapshot_time_travel" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t4A")
        val nat = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
        val v1 = graft.sources.SnapshotTable.write(s, nat, base, "overwrite")
        graft.sources.SnapshotTable.write(s,
          nat.filter(col("n_regionkey") < 2), base, "overwrite")
        val v3 = graft.sources.SnapshotTable.write(s,
          nat.filter(col("n_regionkey") >= 3), base, "append")
        graft.sources.SnapshotTable.restore(s, base, v1)
        val read = (v: Option[Long], tag: String) =>
          graft.sources.SnapshotTable.scan(s, base, v).withColumn("as_of", lit(tag))
        read(Some(v1), "v1").unionAll(read(Some(v3), "v3"))
          .unionAll(read(None, "restored"))
          .orderBy("as_of", "n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey, 'restored' AS as_of FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, 'v1' AS as_of FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, 'v3' AS as_of FROM nation
        |WHERE n_regionkey < 2 OR n_regionkey >= 3
        |ORDER BY as_of, n_nationkey""".stripMargin),

    // Snapshot table, OPTIMIZE leg: four per-batch appends fragment the
    // table into small files; compact bin-packs them and must leave
    // content bit-identical (the oracle recomputes the union straight
    // from the source). SnapshotSpec asserts the layout effects (file
    // count drops, big files untouched).
    "q4B_snapshot_compact" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t4B")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        (0 to 3).foreach { i =>
          graft.sources.SnapshotTable.write(s,
            ords.filter(col("o_orderkey") % 10 === i), base,
            if (i == 0) "overwrite" else "append", Seq("o_orderkey"))
        }
        graft.sources.SnapshotTable.compact(s, base,
          smallRows = Long.MaxValue, targetRows = 1000000L,
          statsCols = Seq("o_orderkey"))
        graft.sources.SnapshotTable.scan(s, base).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 10 IN (0, 1, 2, 3)
        |ORDER BY o_orderkey""".stripMargin),

    // Snapshot table, DV-MERGE leg (merge-on-read upsert): the same
    // upsert as q49 — same updates, same whole-row-replace oracle —
    // but through mergeVectors: matched target rows join the deletion
    // vector, every update row appends, zero data files rewritten.
    // The COW merge (q49) and the dv merge (this) must be
    // semantically indistinguishable; only the layout differs
    // (SnapshotSpec asserts the layout side).
    "q6D_snapshot_dv_merge" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6D")
        val tgt = t(s, dir, "orders")
          .filter(col("o_orderkey") % 7 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        graft.sources.SnapshotTable.write(s, tgt.repartitionByRange(8,
          col("o_orderkey")), base, "overwrite", Seq("o_orderkey"))
        val updates = t(s, dir, "orders")
          .filter(col("o_orderkey") % 14 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("0-RUSH").as("o_orderpriority"))
          .unionAll(t(s, dir, "orders")
            .filter(col("o_orderkey") % 7 === 3)
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
        graft.sources.SnapshotTable.mergeVectors(s, base, updates, "o_orderkey",
          Seq("o_orderkey"))
        graft.sources.SnapshotTable.scan(s, base).orderBy("o_orderkey")
      },
      """WITH tgt AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
        |         '0-RUSH' AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 14 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 7 = 3)
        |SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        |       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
        |       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |       CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |FROM tgt t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    // Snapshot table, DELETION-VECTOR leg (merge-on-read DELETE):
    // two stacked dv-deletes commit per-file bitmaps instead
    // of rewriting any data file — the cost class a 100 TB table
    // needs for scattered small deletes (GDPR removals, retractions)
    // — then purgeDeletes folds the vectors into rewritten files.
    // The same rows must come back from BOTH read paths: the masked
    // merge-on-read scan ('mor') and the post-purge materialized scan
    // ('purged'). SnapshotSpec asserts the layout effects (data files
    // byte-untouched, per-file vectors, vacuum behavior);
    // this query hash-gates the semantics against SQL DELETE.
    "q5Y_snapshot_dv_delete" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t5Y")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        graft.sources.SnapshotTable.write(s,
          ords.repartitionByRange(8, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey"))
        graft.sources.SnapshotTable.deleteVectors(s, base,
          col("o_orderstatus") === "F" && col("o_orderkey") % 3 === 0)
        graft.sources.SnapshotTable.deleteVectors(s, base,
          col("o_custkey") % 11 === 4)
        val mor = graft.sources.SnapshotTable.scan(s, base)
          .withColumn("phase", lit("mor"))
        graft.sources.SnapshotTable.purgeDeletes(s, base, Seq("o_orderkey"))
        val purged = graft.sources.SnapshotTable.scan(s, base)
          .withColumn("phase", lit("purged"))
        mor.unionAll(purged).orderBy("phase", "o_orderkey")
      },
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
        |    AND NOT (o_custkey % 11 = 4))
        |SELECT *, 'mor' AS phase FROM live
        |UNION ALL
        |SELECT *, 'purged' AS phase FROM live
        |ORDER BY phase, o_orderkey""".stripMargin),

    // Snapshot table, DV-UPDATE leg (merge-on-read UPDATE): matched
    // rows' positions join the deletion vector and their transformed
    // images append as fresh files — one commit, zero data files
    // rewritten — then a dv-DELETE stacks on top (the two vector ops
    // OR into the touched files' bitmaps). The oracle is the plain SQL
    // UPDATE-then-DELETE read. SnapshotSpec asserts the layout
    // effects (original files byte-untouched, updates appended).
    "q5Z_snapshot_dv_update" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t5Z")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        graft.sources.SnapshotTable.write(s,
          ords.repartitionByRange(8, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey"))
        graft.sources.SnapshotTable.updateVectors(s, base,
          col("o_orderkey") % 9 === 2,
          Seq("o_totalprice" -> (col("o_totalprice") * 2),
            "o_orderpriority" -> lit("9-UPDATED")),
          Seq("o_orderkey"))
        graft.sources.SnapshotTable.deleteVectors(s, base,
          col("o_custkey") % 13 === 6)
        graft.sources.SnapshotTable.scan(s, base).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice * 2
        |            ELSE o_totalprice END AS o_totalprice,
        |       CASE WHEN o_orderkey % 9 = 2 THEN '9-UPDATED'
        |            ELSE o_orderpriority END AS o_orderpriority
        |FROM orders
        |WHERE NOT (o_custkey % 13 = 6)
        |ORDER BY o_orderkey""".stripMargin),

    // Snapshot table through the DataSource V2 CONNECTOR
    // (spark.read.format("graft_snapshot")): Catalyst pushes the range
    // filter into the scan, where manifest (min,max) stats skip whole
    // files at planning time, and the connector's own file reader
    // applies the deletion vector — this gate hash-checks that the
    // declarative path returns exactly what SQL says (ConnectorSpec
    // asserts the skipping/planning effects).
    "q6E_connector_scan" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6E")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        graft.sources.SnapshotTable.write(s,
          ords.repartitionByRange(8, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey"))
        graft.sources.SnapshotTable.deleteVectors(s, base,
          col("o_custkey") % 5 === 2)
        s.read.format("graft_snapshot").load(base)
          .filter(col("o_orderkey").between(128, 4096))
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey BETWEEN 128 AND 4096
        |  AND NOT (o_custkey % 5 = 2)
        |ORDER BY o_orderkey""".stripMargin),

    // Connector metadata-only aggregates + versionAsOf time travel:
    // un-filtered COUNT/MIN/MAX push down completely and answer from
    // the manifest (zero data files opened — ConnectorSpec asserts the
    // plan), per version. The append doubles every tenth order, so v1
    // and v2 differ in count but not extrema.
    "q6F_connector_meta_agg" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6F")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v1 = graft.sources.SnapshotTable.write(s,
          ords.repartitionByRange(4, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey"))
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 10 === 0), base, "append",
          Seq("o_orderkey"))
        def aggOf(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.agg(count(lit(1)).as("n"), min("o_orderkey").as("mn"),
            max("o_orderkey").as("mx")).withColumn("as_of", lit(tag))
        aggOf(s.read.format("graft_snapshot").option("versionAsOf", v1)
          .load(base), "v1")
          .unionAll(aggOf(s.read.format("graft_snapshot").load(base), "v2"))
          .orderBy("as_of")
      },
      """SELECT COUNT(*) AS n, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx,
        |       'v1' AS as_of
        |FROM orders
        |UNION ALL
        |SELECT (SELECT COUNT(*) FROM orders)
        |         + COUNT(*) FILTER (WHERE o_orderkey % 10 = 0) AS n,
        |       MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx, 'v2' AS as_of
        |FROM orders
        |ORDER BY as_of""".stripMargin),

    // Connector STREAMING tail of the commit log, exactly-once across
    // a restart: two AvailableNow runs over the same checkpoint — the
    // first drains versions 1-2, an append lands, the second resumes
    // from the checkpointed version offset and emits ONLY the new
    // files. If the restart re-emitted (or skipped) anything, the
    // grouped totals hash-mismatch the plain batch oracle.
    "q6G_connector_stream" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6G")
        val ckpt = snapDir(s, dir, "t6G_ckpt")
        val out = snapDir(s, dir, "t6G_out")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 0), base, "overwrite",
          Seq("o_orderkey"))
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 1), base, "append",
          Seq("o_orderkey"))
        def drain(): Unit = {
          val q = s.readStream.format("graft_snapshot").load(base)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          graft.streaming.StreamMeter.timed("q6G_connector_stream")(
            q.awaitTermination())
        }
        drain()
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 2), base, "append",
          Seq("o_orderkey"))
        drain()
        s.read.parquet(out)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Streaming tail of a table that TAKES deletes (round-13):
    // `.option("ignoreDeletes", "true")` lets the consumer ride past
    // dv-delete commits — nothing re-emits, deletions don't propagate
    // (the stream stays append-only), later appends arrive exactly
    // once across the restart. The loud append-only failure stays the
    // default (ConnectorSpec pins both). The oracle is every row ever
    // appended, which is exactly what a delete-ignoring tail must
    // deliver.
    "q6U_stream_ignore_deletes" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6U")
        val ckpt = snapDir(s, dir, "t6U_ckpt")
        val out = snapDir(s, dir, "t6U_out")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 0), base, "overwrite",
          Seq("o_orderkey"))
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 1), base, "append",
          Seq("o_orderkey"))
        def drain(): Unit = {
          val q = s.readStream.format("graft_snapshot")
            .option("ignoreDeletes", "true").load(base)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          graft.streaming.StreamMeter.timed("q6U_stream_ignore_deletes")(
            q.awaitTermination())
        }
        drain()
        // a GDPR-style dv delete between the two runs
        graft.sources.SnapshotTable.deleteVectors(s, base,
          col("o_orderkey") % 2 === 0)
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 2), base, "append",
          Seq("o_orderkey"))
        drain()
        s.read.parquet(out)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // Streaming UPSERT sink: table-to-table CDC inside the format —
    // the source tails the commit log, the sink merges each epoch by
    // key through a deletion vector (mergeStaged: the epoch's task
    // files ARE the post-image, no second write job). Epoch 2 carries
    // updated totals for existing keys plus brand-new keys; the final
    // table must equal the batch-computed upsert, hash-gated.
    "q6O_stream_upsert" -> QueryDef(
      (s, dir) => {
        val src = snapDir(s, dir, "t6O_src")
        val tgt = snapDir(s, dir, "t6O_tgt")
        val ckpt = snapDir(s, dir, "t6O_ckpt")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        graft.sources.SnapshotTable.write(s, ords, src, "overwrite",
          Seq("o_orderkey"))
        def drain(): Unit = {
          val q = s.readStream.format("graft_snapshot").load(src)
            .writeStream.format("graft_snapshot").option("path", tgt)
            .option("mergeKey", "o_orderkey")
            .option("statsCols", "o_orderkey")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          graft.streaming.StreamMeter.timed("q6O_stream_upsert")(
            q.awaitTermination())
        }
        drain()
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 7 === 0)
            .select(col("o_orderkey"), col("o_custkey"),
              (col("o_totalprice") * 2).as("o_totalprice"))
            .unionAll(ords.filter(col("o_orderkey") % 5 === 1)
              .select((col("o_orderkey") + 20000000).as("o_orderkey"),
                col("o_custkey"), col("o_totalprice"))),
          src, "append", Seq("o_orderkey"))
        drain()
        s.read.format("graft_snapshot").load(tgt).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |            ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 20000000 AS o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 5 = 1
        |ORDER BY o_orderkey""".stripMargin),

    // OPTIMIZE ZORDER through the connector: the table is rewritten
    // clustered on the Morton curve of (o_orderkey, o_custkey), then
    // read back via the V2 scan filtering on the TRAILING dimension —
    // the case a single-column sort cannot skip on. This gate
    // hash-checks that the re-layout is content-identical and the
    // skipped read is lossless; ConnectorSpec measures the actual
    // file-prune ratio on a grid fixture (4/16 vs 16/16 files).
    "q6H_connector_zorder" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6H")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        graft.sources.SnapshotTable.write(s,
          ords.repartitionByRange(8, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey", "o_custkey"))
        graft.sources.SnapshotTable.compact(s, base,
          smallRows = Long.MaxValue, targetRows = 20000L,
          statsCols = Seq("o_orderkey", "o_custkey"),
          zorderBy = Some(("o_orderkey", "o_custkey", 24)))
        s.read.format("graft_snapshot").load(base)
          .filter(col("o_custkey").between(100, 300))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300
        |ORDER BY o_orderkey""".stripMargin),

    // The V2 WRITE path: the table is created and appended through
    // Spark's own write API (df.write.format("graft_snapshot")) — the
    // executor-side writers stream rows into new data files and
    // compute the manifest stats/blooms IN-FLIGHT (no post-hoc stats
    // job), the driver commit is the same OCC publish. Read back via
    // the connector with a pushed range filter (skipping on the
    // written stats) plus a bloom point lookup.
    "q6I_connector_write" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6I")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        ords.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(8, col("o_orderkey"))
          .write.format("graft_snapshot")
          .option("statsCols", "o_orderkey")
          .option("bloomCols", "o_orderpriority")
          .mode("overwrite").save(base)
        ords.filter(col("o_orderkey") % 2 === 1)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("graft_snapshot")
          .option("statsCols", "o_orderkey")
          .mode("append").save(base)
        s.read.format("graft_snapshot").load(base)
          .filter(col("o_orderkey").between(64, 2048) &&
            col("o_orderpriority") === "1-URGENT")
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderkey BETWEEN 64 AND 2048
        |  AND o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin),

    // The SQL CATALOG over the table format: CTAS creates the table
    // from an orders slice, INSERT INTO appends, and the read unions
    // the time-traveled first version (VERSION AS OF) with the latest
    // — pure SQL against `graft_cat.*` identifiers, no paths in the
    // query text. The catalog is directories + the commit log; the
    // oracle recomputes both snapshots from the source table.
    "q6J_catalog_sql" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6J")
        s.conf.set("spark.sql.catalog.graft_cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6J_orders")
        // the catalog instance (and its root) is cached per session by
        // name — a prior run in the same session (bench warmup runs
        // every query against the warm SF first) may have left the
        // table behind at the cached root
        s.sql("DROP TABLE IF EXISTS graft_cat.sales")
        s.sql("""CREATE TABLE graft_cat.sales AS
                |SELECT o_orderkey, o_custkey, o_totalprice
                |FROM t6J_orders WHERE o_orderkey % 4 = 0""".stripMargin)
        s.sql("""INSERT INTO graft_cat.sales
                |SELECT o_orderkey, o_custkey, o_totalprice
                |FROM t6J_orders WHERE o_orderkey % 4 = 1""".stripMargin)
        // CTAS is atomic (one `ctas` version), so v1 IS the CTAS slice
        s.sql("""SELECT *, 'v1' AS as_of FROM graft_cat.sales VERSION AS OF 1
                |UNION ALL
                |SELECT *, 'latest' AS as_of FROM graft_cat.sales
                |ORDER BY as_of, o_orderkey""".stripMargin)
      },
      """SELECT o_orderkey, o_custkey, o_totalprice, 'latest' AS as_of
        |FROM orders WHERE o_orderkey % 4 IN (0, 1)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, 'v1' AS as_of
        |FROM orders WHERE o_orderkey % 4 = 0
        |ORDER BY as_of, o_orderkey""".stripMargin),

    // SQL DML over the catalog: DELETE FROM (landing as deletion
    // vectors — the condition carries arithmetic, exercising the V2
    // predicate translator; zero data files rewritten), ALTER TABLE
    // ADD COLUMNS (metadata-only commit; old rows read null), and a
    // positional INSERT carrying the new column. The oracle recomputes
    // the final state in plain SQL.
    "q6K_catalog_dml" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6K")
        s.conf.set("spark.sql.catalog.graft_dml",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_dml.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6K_orders")
        s.sql("DROP TABLE IF EXISTS graft_dml.t") // same-session rerun
        s.sql("""CREATE TABLE graft_dml.t AS
                |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                |FROM t6K_orders""".stripMargin)
        s.sql("DELETE FROM graft_dml.t " +
          "WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0")
        s.sql("DELETE FROM graft_dml.t WHERE o_custkey % 11 = 4")
        s.sql("ALTER TABLE graft_dml.t ADD COLUMNS (src STRING)")
        s.sql("""INSERT INTO graft_dml.t
                |SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
                |       o_orderstatus, 'ins'
                |FROM t6K_orders WHERE o_orderkey % 100 = 1""".stripMargin)
        s.sql("SELECT * FROM graft_dml.t ORDER BY o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        |       NULL AS src
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
        |  AND NOT (o_custkey % 11 = 4)
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
        |       o_orderstatus, 'ins'
        |FROM orders WHERE o_orderkey % 100 = 1
        |ORDER BY o_orderkey""".stripMargin),

    // SQL row-level DML over the catalog: UPDATE lands as a deletion
    // vector + fresh post-image files (updateVectors), MERGE INTO as
    // the clause merge (mergeClauses) — both one-commit, zero data
    // files rewritten, via the post-hoc translation rule in SnapshotDml
    // (Spark itself would reject both statements for a table without
    // SupportsRowLevelOperations). The oracle replays the image
    // algebra: update rewrites matched rows in place; merge replaces
    // matched rows with the source image and inserts the rest.
    "q6M_catalog_rowlevel" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6M")
        s.conf.set("spark.sql.catalog.graft_rl",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_rl.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6M_orders")
        s.sql("DROP TABLE IF EXISTS graft_rl.t") // same-session rerun
        s.sql("""CREATE TABLE graft_rl.t AS
                |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                |FROM t6M_orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""UPDATE graft_rl.t
                |SET o_totalprice = o_totalprice * 2, o_orderstatus = 'U'
                |WHERE o_custkey % 7 = 3""".stripMargin)
        s.sql("""MERGE INTO graft_rl.t AS tgt
                |USING (SELECT o_orderkey, o_custkey,
                |              o_totalprice * 2 AS o_totalprice,
                |              'M' AS o_orderstatus
                |       FROM t6M_orders WHERE o_orderkey % 3 = 0) AS src
                |ON tgt.o_orderkey = src.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql("SELECT * FROM graft_rl.t ORDER BY o_orderkey")
      },
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_custkey % 7 = 3 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS o_totalprice,
        |         CASE WHEN o_custkey % 7 = 3 THEN 'U'
        |              ELSE o_orderstatus END AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
        |       'M' AS o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM upd WHERE o_orderkey % 3 <> 0
        |ORDER BY o_orderkey""".stripMargin),

    // The FULL MERGE clause surface (round-13): conditional MATCHED
    // DELETE, partial-row MATCHED UPDATE (unassigned columns carry),
    // conditional NOT MATCHED INSERT with a column subset (unassigned
    // columns land NULL), and NOT MATCHED BY SOURCE UPDATE — all in
    // one statement, lowered onto mergeClauses' outer-join →
    // O(affected)-row effect frame → single dv commit (zero data
    // files rewritten; ConnectorSpec pins the manifest shape). The
    // oracle replays the clause algebra as a LEFT JOIN + CASE for
    // surviving target rows plus a NOT EXISTS leg for the inserts.
    "q6S_merge_clauses" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6S")
        s.conf.set("spark.sql.catalog.graft_mc",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_mc.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6S_orders")
        s.sql("DROP TABLE IF EXISTS graft_mc.t") // same-session rerun
        s.sql("""CREATE TABLE graft_mc.t AS
                |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                |FROM t6S_orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""MERGE INTO graft_mc.t AS tgt
                |USING (SELECT o_orderkey AS k, o_totalprice AS p
                |       FROM t6S_orders WHERE o_orderkey % 3 = 0) AS src
                |ON tgt.o_orderkey = src.k
                |WHEN MATCHED AND tgt.o_custkey % 2 = 1 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET o_totalprice = src.p * 2,
                |                             o_orderstatus = 'M'
                |WHEN NOT MATCHED AND src.k % 5 = 0 THEN
                |  INSERT (o_orderkey, o_totalprice, o_orderstatus)
                |  VALUES (src.k, src.p, 'I')
                |WHEN NOT MATCHED BY SOURCE AND tgt.o_custkey % 10 = 0 THEN
                |  UPDATE SET o_orderstatus = 'S'""".stripMargin)
        s.sql("SELECT * FROM graft_mc.t ORDER BY o_orderkey")
      },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT b.o_orderkey, b.o_custkey,
        |       CASE WHEN s.k IS NOT NULL THEN s.p * 2
        |            ELSE b.o_totalprice END AS o_totalprice,
        |       CASE WHEN s.k IS NOT NULL THEN 'M'
        |            WHEN b.o_custkey % 10 = 0 THEN 'S'
        |            ELSE b.o_orderstatus END AS o_orderstatus
        |FROM base b LEFT JOIN src s ON b.o_orderkey = s.k
        |WHERE NOT (s.k IS NOT NULL AND b.o_custkey % 2 = 1)
        |UNION ALL
        |SELECT s.k AS o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
        |       s.p AS o_totalprice, 'I' AS o_orderstatus
        |FROM src s
        |WHERE NOT EXISTS (SELECT 1 FROM orders b
        |                  WHERE b.o_orderkey % 2 = 0 AND b.o_orderkey = s.k)
        |  AND s.k % 5 = 0
        |ORDER BY o_orderkey""".stripMargin),

    // Schema-evolution DDL (round-13): RENAME COLUMN is a Delta-style
    // column-mapping metadata commit (files keep the frozen physical
    // name; readers alias, writers keep writing it), DROP COLUMN
    // shrinks the recorded schema without touching a file, and
    // re-ADDing a dropped name gets a FRESH physical name so the old
    // bytes can't resurrect — the post-DDL inserts prove the write
    // path maps correctly in both directions. Oracle replays the
    // surviving-column algebra.
    "q6T_schema_evolution_ddl" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6T")
        s.conf.set("spark.sql.catalog.graft_ddl",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_ddl.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6T_orders")
        s.sql("DROP TABLE IF EXISTS graft_ddl.t") // same-session rerun
        // starts NARROW (int key) — widened to BIGINT mid-history, so
        // the final read resolves int32 and int64 files in one schema
        s.sql("""CREATE TABLE graft_ddl.t AS
                |SELECT CAST(o_orderkey AS INT) AS o_orderkey, o_custkey,
                |       o_totalprice
                |FROM t6T_orders WHERE o_orderkey % 4 = 0""".stripMargin)
        s.sql("ALTER TABLE graft_ddl.t RENAME COLUMN o_totalprice TO price")
        s.sql("""INSERT INTO graft_ddl.t
                |SELECT CAST(o_orderkey AS INT), o_custkey,
                |       o_totalprice AS price
                |FROM t6T_orders WHERE o_orderkey % 4 = 1""".stripMargin)
        s.sql("ALTER TABLE graft_ddl.t ALTER COLUMN o_orderkey TYPE BIGINT")
        s.sql("ALTER TABLE graft_ddl.t DROP COLUMN o_custkey")
        s.sql("ALTER TABLE graft_ddl.t ADD COLUMNS (o_custkey BIGINT)")
        s.sql("""INSERT INTO graft_ddl.t
                |SELECT o_orderkey, o_totalprice, o_custkey
                |FROM t6T_orders WHERE o_orderkey % 4 = 2""".stripMargin)
        s.sql("SELECT * FROM graft_ddl.t ORDER BY o_orderkey")
      },
      """SELECT o_orderkey, o_totalprice AS price,
        |       CAST(NULL AS BIGINT) AS o_custkey
        |FROM orders WHERE o_orderkey % 4 IN (0, 1)
        |UNION ALL
        |SELECT o_orderkey, o_totalprice AS price, o_custkey
        |FROM orders WHERE o_orderkey % 4 = 2
        |ORDER BY o_orderkey""".stripMargin),

    // Storage-partitioned join (round-13): two tables bucketed alike
    // on the join key (PARTITIONED BY bucket(16, custkey) → real hash
    // buckets: per-bucket-pure files, ids in the manifest, the scan
    // reports KeyGroupedPartitioning through the catalog's bucket
    // function). Under spark.sql.sources.v2.bucketing.enabled the
    // join AND the bucket-key groupBy plan with ZERO Exchange — at
    // 100 TB this removes the fact-to-fact shuffle entirely, the
    // single most expensive operation a cluster can run. The query
    // asserts the shuffle-free plan on a probe run, then returns the
    // aggregation for the oracle.
    "q6V_bucketed_spj" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6V")
        s.conf.set("spark.sql.catalog.graft_spj",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_spj.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6V_orders")
        t(s, dir, "customer").createOrReplaceTempView("t6V_customer")
        s.sql("DROP TABLE IF EXISTS graft_spj.o") // same-session rerun
        s.sql("DROP TABLE IF EXISTS graft_spj.c")
        s.sql("CREATE TABLE graft_spj.o (o_custkey BIGINT, o_orderkey BIGINT) " +
          "PARTITIONED BY (bucket(16, o_custkey))")
        s.sql("INSERT INTO graft_spj.o " +
          "SELECT o_custkey, o_orderkey FROM t6V_orders")
        s.sql("CREATE TABLE graft_spj.c (c_custkey BIGINT, c_nationkey BIGINT) " +
          "PARTITIONED BY (bucket(16, c_custkey))")
        s.sql("INSERT INTO graft_spj.c " +
          "SELECT c_custkey, CAST(c_nationkey AS BIGINT) FROM t6V_customer")
        val q = """SELECT o.o_custkey AS k, count(*) AS cnt,
                  |       sum(o.o_orderkey) AS sk
                  |FROM graft_spj.o o JOIN graft_spj.c c
                  |  ON o.o_custkey = c.c_custkey
                  |GROUP BY o.o_custkey""".stripMargin
        val priorB = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val priorT = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          // the probe omits the final ORDER BY (a global sort is a
          // legitimate range exchange): join + groupBy must be
          // exchange-free
          val probe = s.sql(q)
          probe.collect()
          val plan = probe.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"SPJ join was expected to plan shuffle-free:\n$plan")
          s.sql(q + "\nORDER BY k")
        } finally {
          def restore(k: String, v: Option[String]): Unit =
            v.fold(s.conf.unset(k))(s.conf.set(k, _))
          restore("spark.sql.sources.v2.bucketing.enabled", priorB)
          restore("spark.sql.autoBroadcastJoinThreshold", priorT)
        }
      },
      """SELECT o_custkey AS k, count(*) AS cnt,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sk
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY o_custkey ORDER BY k""".stripMargin),

    // SPJ through DML (round-13): a MERGE's post-images and an
    // UPDATE's rewrites stage THROUGH the declared bucket layout
    // (stageFiles repartitions by the table's own hash and tags the
    // part files), so row-level DML does not cost the table its
    // shuffle-free joins — the probe asserts zero exchanges AFTER the
    // upsert+update. Oracle replays the upsert algebra over the raw
    // tables.
    "q6W_bucketed_dml_spj" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6W")
        s.conf.set("spark.sql.catalog.graft_spjw",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_spjw.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6W_orders")
        t(s, dir, "customer").createOrReplaceTempView("t6W_customer")
        s.sql("DROP TABLE IF EXISTS graft_spjw.o") // same-session rerun
        s.sql("DROP TABLE IF EXISTS graft_spjw.c")
        s.sql("CREATE TABLE graft_spjw.o (o_orderkey BIGINT, " +
          "o_custkey BIGINT, price DOUBLE) " +
          "PARTITIONED BY (bucket(8, o_custkey))")
        s.sql("""INSERT INTO graft_spjw.o
                |SELECT o_orderkey, o_custkey, o_totalprice
                |FROM t6W_orders WHERE o_orderkey % 2 = 0""".stripMargin)
        // upsert the odd half (insert) + re-price a slice of the even
        // half (update) — post-images land bucketed
        s.sql("""MERGE INTO graft_spjw.o AS tgt
                |USING (SELECT o_orderkey, o_custkey,
                |              o_totalprice * 2 AS price
                |       FROM t6W_orders
                |       WHERE o_orderkey % 2 = 1 OR o_orderkey % 10 = 0) AS src
                |ON tgt.o_orderkey = src.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql("CREATE TABLE graft_spjw.c (c_custkey BIGINT, c_name STRING) " +
          "PARTITIONED BY (bucket(8, c_custkey))")
        s.sql("INSERT INTO graft_spjw.c " +
          "SELECT c_custkey, c_name FROM t6W_customer")
        val q = """SELECT o.o_custkey AS k, count(*) AS cnt,
                  |       CAST(sum(CAST(o.price AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM graft_spjw.o o JOIN graft_spjw.c c
                  |  ON o.o_custkey = c.c_custkey
                  |GROUP BY o.o_custkey""".stripMargin
        val priorB = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val priorT = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val probe = s.sql(q)
          probe.collect()
          val plan = probe.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"post-DML SPJ join was expected to plan shuffle-free:\n$plan")
          s.sql(q + "\nORDER BY k")
        } finally {
          def restore(k: String, v: Option[String]): Unit =
            v.fold(s.conf.unset(k))(s.conf.set(k, _))
          restore("spark.sql.sources.v2.bucketing.enabled", priorB)
          restore("spark.sql.autoBroadcastJoinThreshold", priorT)
        }
      },
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 2 = 1 OR o_orderkey % 10 = 0
        |              THEN o_totalprice * 2 ELSE o_totalprice END AS price
        |  FROM orders
        |)
        |SELECT o_custkey AS k, count(*) AS cnt,
        |       CAST(sum(CAST(price AS DECIMAL(18,2)))
        |            AS DOUBLE) AS sp
        |FROM merged m JOIN customer c ON m.o_custkey = c.c_custkey
        |GROUP BY o_custkey ORDER BY k""".stripMargin),

    // Bucketed incremental dedup (round-13): the 100 TB shape of
    // "dedup a new batch against the corpus" — the corpus lives as a
    // snapshot table bucketed by content fingerprint, so the anti-join
    // shuffles ONLY the incoming batch into the corpus's layout
    // (v2.bucketing.shuffle evaluates the catalog's bucket function);
    // the corpus side never moves. At 100 TB that is an O(batch)
    // shuffle instead of an O(corpus) one, on every ingest. The probe
    // pins exactly one (batch-side, key-grouped) exchange.
    "q6X_bucketed_incr_dedup" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6X")
        s.conf.set("spark.sql.catalog.graft_spjx",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_spjx.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        Tables.computeTable(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TextFunctions.polyHash(col("text")).as("fp"))
          .createOrReplaceTempView("t6X_fp")
        s.sql("DROP TABLE IF EXISTS graft_spjx.corpus") // same-session rerun
        s.sql("CREATE TABLE graft_spjx.corpus (fp BIGINT, doc_id BIGINT) " +
          "PARTITIONED BY (bucket(16, fp))")
        s.sql("INSERT INTO graft_spjx.corpus " +
          "SELECT fp, doc_id FROM t6X_fp WHERE doc_id % 3 <> 0")
        val q = """SELECT b.doc_id, b.fp FROM t6X_fp b
                  |LEFT ANTI JOIN graft_spjx.corpus c ON b.fp = c.fp
                  |WHERE b.doc_id % 5 = 0""".stripMargin
        val priorB = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val priorS = s.conf.getOption(
          "spark.sql.sources.v2.bucketing.shuffle.enabled")
        val priorT = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val probe = s.sql(q)
          probe.collect()
          val plan = probe.queryExecution.executedPlan.toString
            .split("== Initial Plan ==").head
          val exchanges = "(?i)exchange".r.findAllIn(plan).size
          require(exchanges == 1 && plan.contains("keygroupedpartitioning"),
            s"expected ONE batch-side key-grouped exchange, got:\n$plan")
          s.sql(q + "\nORDER BY doc_id")
        } finally {
          def restore(k: String, v: Option[String]): Unit =
            v.fold(s.conf.unset(k))(s.conf.set(k, _))
          restore("spark.sql.sources.v2.bucketing.enabled", priorB)
          restore("spark.sql.sources.v2.bucketing.shuffle.enabled", priorS)
          restore("spark.sql.autoBroadcastJoinThreshold", priorT)
        }
      },
      s"""WITH fp AS (
        |  SELECT doc_id, ${QueryDef.duckPolyHash("text")} AS fp
        |  FROM documents)
        |SELECT b.doc_id, b.fp FROM fp b
        |WHERE b.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM fp c
        |                  WHERE c.doc_id % 3 <> 0 AND c.fp = b.fp)
        |ORDER BY doc_id""".stripMargin),

    // SQL change feed (round-14): `SELECT … FROM cat.ns.t.changes`
    // replays every version's ROW-LEVEL diff as a distributed V2 scan
    // — append → upserts, dv DELETE → deletes, MERGE → matched
    // pre-image deletes + post-image upserts, UPDATE → the same, and
    // a compaction (content-neutral by contract) contributes NOTHING.
    // Versions are surfaced as a dense rank so the oracle is layout-
    // independent; the raw commit_version column drives manifest-level
    // pushdown (WHERE commit_version > v plans only those diffs).
    "q6Y_sql_change_feed" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6Y")
        // catalog name is PER ROOT: Spark caches catalog instances by
        // name, so a fixed name would pin the first SF's root for the
        // whole session and later SFs' path-based calls would diverge
        val cat = "graft_cdf_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6Y_orders")
        s.sql(s"DROP TABLE IF EXISTS $cat.t") // same-session rerun
        s.sql(s"CREATE TABLE $cat.t (o_orderkey BIGINT, price DOUBLE)")
        s.sql(s"""INSERT INTO $cat.t
                  |SELECT o_orderkey, o_totalprice FROM t6Y_orders
                  |WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql(s"DELETE FROM $cat.t WHERE o_orderkey % 10 = 0")
        s.sql(s"""MERGE INTO $cat.t AS tgt
                  |USING (SELECT o_orderkey, o_totalprice * 2 AS price
                  |       FROM t6Y_orders WHERE o_orderkey % 2 = 1) AS src
                  |ON tgt.o_orderkey = src.o_orderkey
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(s"UPDATE $cat.t SET price = price + 1 " +
          "WHERE o_orderkey % 7 = 0")
        // layout churn is NOT data churn: the compaction version must
        // contribute zero feed rows
        graft.sources.SnapshotTable.compact(s, s"$root/t",
          smallRows = Long.MaxValue, targetRows = 10000000L)
        s.sql(s"""SELECT change_type,
                  |       CAST(dense_rank() OVER (ORDER BY commit_version)
                  |            AS INT) AS rev,
                  |       o_orderkey, price
                  |FROM $cat.t.changes
                  |ORDER BY rev, o_orderkey, change_type, price""".stripMargin)
      },
      """WITH ev AS (SELECT o_orderkey, o_totalprice AS price
        |            FROM orders WHERE o_orderkey % 2 = 0),
        |     od AS (SELECT o_orderkey, o_totalprice * 2 AS price
        |            FROM orders WHERE o_orderkey % 2 = 1),
        |     live3 AS (SELECT * FROM ev WHERE o_orderkey % 10 <> 0
        |               UNION ALL SELECT * FROM od),
        |     up AS (SELECT * FROM live3 WHERE o_orderkey % 7 = 0),
        |     feed AS (
        |       SELECT 'upsert' AS change_type, 1 AS rev, o_orderkey, price
        |       FROM ev
        |       UNION ALL SELECT 'delete', 2, o_orderkey, price
        |       FROM ev WHERE o_orderkey % 10 = 0
        |       UNION ALL SELECT 'upsert', 3, o_orderkey, price FROM od
        |       UNION ALL SELECT 'delete', 4, o_orderkey, price FROM up
        |       UNION ALL SELECT 'upsert', 4, o_orderkey, price + 1 FROM up)
        |SELECT change_type, CAST(rev AS INT) AS rev, o_orderkey, price
        |FROM feed
        |ORDER BY rev, o_orderkey, change_type, price""".stripMargin),

    // Bucket-aware streaming epochs (round-14): a CDC-maintained table
    // must keep its storage-partitioned joins — each upsert epoch's
    // files stage through the DECLARED bucket layout (the path-based
    // sink inherits the table's props), so after N epochs the join
    // against a co-bucketed dim still plans with ZERO exchange. The
    // in-query probe asserts both invariants: every file of every
    // epoch carries a valid (bucket, bucketN) tag, and the post-stream
    // join+groupBy plan is exchange-free.
    "q6Z_bucketed_stream_spj" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6Z")
        // per-root catalog name (see q6Y): a cached catalog pinned to
        // another SF's root would make the path-based stream target
        // diverge from the table the SQL declared
        val cat = "graft_spjz_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6Z_orders")
        t(s, dir, "customer").createOrReplaceTempView("t6Z_customer")
        s.sql(s"DROP TABLE IF EXISTS $cat.o") // same-session rerun
        s.sql(s"DROP TABLE IF EXISTS $cat.c")
        s.sql(s"CREATE TABLE $cat.o (o_orderkey BIGINT, " +
          "o_custkey BIGINT, price DOUBLE) " +
          "PARTITIONED BY (bucket(8, o_custkey))")
        s.sql(s"CREATE TABLE $cat.c (c_custkey BIGINT, c_name STRING) " +
          "PARTITIONED BY (bucket(8, c_custkey))")
        s.sql(s"INSERT INTO $cat.c " +
          "SELECT c_custkey, c_name FROM t6Z_customer")
        val tgt = s"$root/o"
        val src = snapDir(s, dir, "t6Z_src")
        val ckpt = snapDir(s, dir, "t6Z_ckpt")
        val ords = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice").as("price"))
        def drain(): Unit = {
          val q = s.readStream.format("graft_snapshot").load(src)
            .writeStream.format("graft_snapshot").option("path", tgt)
            .option("mergeKey", "o_orderkey")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          graft.streaming.StreamMeter.timed("q6Z_bucketed_stream_spj")(
            q.awaitTermination())
          val m = graft.sources.SnapshotTable.readManifest(s, tgt,
            graft.sources.SnapshotTable.latestVersion(s, tgt).get)
          require(m.files.forall(fe => fe.bucketedUnder(8)),
            "a streaming epoch broke the declared bucket layout: " +
              m.files.map(fe => (fe.path, fe.bucket)).mkString(", "))
        }
        // epoch 1: the even half inserts
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 0), src, "overwrite")
        drain()
        // epoch 2: the odd half inserts + a re-priced even slice upserts
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 1)
            .unionAll(ords.filter(col("o_orderkey") % 10 === 0)
              .select(col("o_orderkey"), col("o_custkey"),
                (col("price") * 2).as("price"))),
          src, "append")
        drain()
        val q = s"""SELECT o.o_custkey AS k, count(*) AS cnt,
                    |       CAST(sum(CAST(o.price AS DECIMAL(18,2)))
                    |            AS DOUBLE) AS sp
                    |FROM $cat.o o JOIN $cat.c c
                    |  ON o.o_custkey = c.c_custkey
                    |GROUP BY o.o_custkey""".stripMargin
        val priorB = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val priorT = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val probe = s.sql(q)
          probe.collect()
          val plan = probe.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"post-stream SPJ join was expected to plan shuffle-free:\n$plan")
          s.sql(q + "\nORDER BY k")
        } finally {
          def restore(k: String, v: Option[String]): Unit =
            v.fold(s.conf.unset(k))(s.conf.set(k, _))
          restore("spark.sql.sources.v2.bucketing.enabled", priorB)
          restore("spark.sql.autoBroadcastJoinThreshold", priorT)
        }
      },
      """WITH up AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS price
        |  FROM orders)
        |SELECT o_custkey AS k, count(*) AS cnt,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM up m JOIN customer c ON m.o_custkey = c.c_custkey
        |GROUP BY o_custkey ORDER BY k""".stripMargin),

    // Mixed layout (round-14): `PARTITIONED BY (mon, bucket(8, k))` —
    // the standard 100 TB fact layout: rows route to their hash bucket
    // (the SPJ coordinate) and sort within it by the identity column,
    // with files rolled so per-file (min,max) stats prune time slices
    // INSIDE each bucket. One table serves both access paths: the
    // month-range scan opens a slice of each bucket's files
    // (ConnectorSpec pins the prune ratio on a controlled fixture) and
    // the join against a co-bucketed dim plans with zero exchange —
    // asserted in-query here.
    "q7A_mixed_layout_fact" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7A")
        val cat = "graft_mixq_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7A_orders")
        t(s, dir, "customer").createOrReplaceTempView("t7A_customer")
        s.sql(s"DROP TABLE IF EXISTS $cat.f") // same-session rerun
        s.sql(s"DROP TABLE IF EXISTS $cat.c")
        s.sql(s"CREATE TABLE $cat.f (mon BIGINT, o_custkey BIGINT, " +
          "price DOUBLE) PARTITIONED BY (mon, bucket(8, o_custkey)) " +
          "TBLPROPERTIES ('targetFileRows'='2000')")
        s.sql(s"""INSERT INTO $cat.f
                  |SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
                  |            AS BIGINT) AS mon,
                  |       o_custkey, o_totalprice
                  |FROM t7A_orders""".stripMargin)
        s.sql(s"CREATE TABLE $cat.c (c_custkey BIGINT, " +
          "c_mktsegment STRING) PARTITIONED BY (bucket(8, c_custkey))")
        s.sql(s"INSERT INTO $cat.c " +
          "SELECT c_custkey, c_mktsegment FROM t7A_customer")
        val q = s"""SELECT f.o_custkey AS k, count(*) AS cnt,
                    |       CAST(sum(CAST(f.price AS DECIMAL(18,2)))
                    |            AS DOUBLE) AS sp
                    |FROM $cat.f f JOIN $cat.c c
                    |  ON f.o_custkey = c.c_custkey
                    |WHERE f.mon BETWEEN 23929 AND 23952
                    |GROUP BY f.o_custkey""".stripMargin
        val priorB = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val priorT = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val probe = s.sql(q)
          probe.collect()
          val plan = probe.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"mixed-layout SPJ join was expected to plan shuffle-free:\n$plan")
          s.sql(q + "\nORDER BY k")
        } finally {
          def restore(k: String, v: Option[String]): Unit =
            v.fold(s.conf.unset(k))(s.conf.set(k, _))
          restore("spark.sql.sources.v2.bucketing.enabled", priorB)
          restore("spark.sql.autoBroadcastJoinThreshold", priorT)
        }
      },
      """SELECT o_custkey AS k, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE year(o_orderdate) * 12 + month(o_orderdate)
        |      BETWEEN 23929 AND 23952
        |GROUP BY o_custkey ORDER BY k""".stripMargin),

    // Streaming change feed (round-14): `readStream.option(
    // "readChangeFeed", true)` — the Delta-CDF stream. Unlike the
    // append-only table stream (whose ignoreDeletes silently DROPS
    // deletes), every micro-batch here carries the row-level diffs of
    // its version range: the first drain replays the initial snapshot
    // as upserts, the second emits the dv-deleted rows as deletes plus
    // the appended rows as upserts — exactly-once across the two
    // AvailableNow runs (same checkpoint). The oracle recomputes the
    // full feed from the raw table.
    "q7C_stream_change_feed" -> QueryDef(
      (s, dir) => {
        val src = snapDir(s, dir, "t7C_src")
        val out = snapDir(s, dir, "t7C_out")
        val ckpt = snapDir(s, dir, "t7C_ckpt")
        val ords = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
        def drain(): Unit = {
          val q = s.readStream.format("graft_snapshot")
            .option("readChangeFeed", "true").load(src)
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          graft.streaming.StreamMeter.timed("q7C_stream_change_feed")(
            q.awaitTermination())
        }
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 0), src, "overwrite",
          Seq("o_orderkey"))
        drain() // initial snapshot -> upserts
        graft.sources.SnapshotTable.deleteVectors(s, src,
          col("o_orderkey") % 10 === 0)
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 1), src, "append",
          Seq("o_orderkey"))
        drain() // dv deletes -> 'delete' rows; append -> upserts
        s.read.parquet(out).createOrReplaceTempView("t7C_feed")
        s.sql("""SELECT change_type,
                |       CAST(dense_rank() OVER (ORDER BY commit_version)
                |            AS INT) AS rev,
                |       o_orderkey, price
                |FROM t7C_feed
                |ORDER BY rev, o_orderkey, change_type, price""".stripMargin)
      },
      """WITH ev AS (SELECT o_orderkey, o_totalprice AS price
        |            FROM orders WHERE o_orderkey % 2 = 0),
        |     od AS (SELECT o_orderkey, o_totalprice AS price
        |            FROM orders WHERE o_orderkey % 2 = 1),
        |     feed AS (
        |       SELECT 'upsert' AS change_type, 1 AS rev, o_orderkey, price
        |       FROM ev
        |       UNION ALL SELECT 'delete', 2, o_orderkey, price
        |       FROM ev WHERE o_orderkey % 10 = 0
        |       UNION ALL SELECT 'upsert', 3, o_orderkey, price FROM od)
        |SELECT change_type, CAST(rev AS INT) AS rev, o_orderkey, price
        |FROM feed
        |ORDER BY rev, o_orderkey, change_type, price""".stripMargin),

    // CDC APPLY (round-14): the consumer half of the change feed — a
    // downstream table replicated from the feed via
    // ApplyChanges.applyBatch in foreachBatch: latest action per key
    // wins across the batch's version range (an UPDATE's same-version
    // delete+upsert pair collapses to the post-image), then ONE
    // distributed merge applies everything (matched deletes -> the
    // deletion vector, upserts -> rewrite/insert) — O(affected) per
    // batch, no per-key driver loop. The oracle recomputes the
    // source's final state; the downstream table must equal it.
    "q7D_cdc_apply" -> QueryDef(
      (s, dir) => {
        val src = snapDir(s, dir, "t7D_src")
        val tgt = snapDir(s, dir, "t7D_tgt")
        val ckpt = snapDir(s, dir, "t7D_ckpt")
        val ords = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
        def sync(): Unit = {
          val q = s.readStream.format("graft_snapshot")
            .option("readChangeFeed", "true").load(src)
            .writeStream
            .foreachBatch(
              (b: org.apache.spark.sql.DataFrame, _: Long) =>
                graft.streaming.ApplyChanges.applyBatch(b, tgt,
                  "o_orderkey", Seq("o_orderkey")))
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          graft.streaming.StreamMeter.timed("q7D_cdc_apply")(
            q.awaitTermination())
        }
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 0), src, "overwrite",
          Seq("o_orderkey"))
        sync() // bootstrap: initial snapshot
        graft.sources.SnapshotTable.deleteVectors(s, src,
          col("o_orderkey") % 10 === 0)
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 1), src, "append",
          Seq("o_orderkey"))
        graft.sources.SnapshotTable.updateVectors(s, src,
          col("o_orderkey") % 7 === 0, Seq("price" -> (col("price") * 2)))
        sync() // delete + append + update, one drained range
        graft.sources.SnapshotTable.scan(s, tgt).orderBy("o_orderkey")
      },
      """WITH live AS (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1)
        |SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 7 = 0 THEN price * 2
        |            ELSE price END AS price
        |FROM live ORDER BY o_orderkey""".stripMargin),

    // Tags + zero-copy clone (round-14 wave 5): a named ref pins a
    // version through vacuum and addresses it by token, and a SHALLOW
    // clone registers a dev table over the source's files in
    // O(metadata) — asserted in-query: the clone's own data/ holds
    // ZERO files at birth. The clone then takes its own DML (a dv
    // delete the source never sees), the SOURCE is overwritten and
    // aggressively vacuumed to its tip — and the clone still reads,
    // because cloneTable recorded a `clone-<name>` tag on the source
    // and vacuum retains tagged versions with their files. At 100 TB
    // this is the difference between a dev/test copy costing seconds
    // of metadata vs hours of copying — and between "vacuum broke the
    // clone" (Delta's documented hazard) and a pin that takes an
    // explicit drop. The oracle recomputes the clone's final content
    // from the raw table.
    "q7E_tags_clone" -> QueryDef(
      (s, dir) => {
        val src = snapDir(s, dir, "t7E_src")
        val dev = snapDir(s, dir, "t7E_dev") + "/dev"
        val ords = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 0), src, "overwrite",
          Seq("o_orderkey"))                                     // v1
        graft.sources.SnapshotTable.deleteVectors(s, src,
          col("o_orderkey") % 10 === 0)                          // v2
        graft.sources.SnapshotTable.createTag(s, src, "audited", Some(2))
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 1), src, "append",
          Seq("o_orderkey"))                                     // v3
        // clone the audited version BY TAG TOKEN, not number
        val v = graft.sources.SnapshotTable
          .resolveVersionToken(s, src, "audited")
        graft.sources.SnapshotTable.cloneTable(s, src, dev, Some(v))
        val devData = new org.apache.hadoop.fs.Path(dev, "data")
        val fs = devData.getFileSystem(s.sparkContext.hadoopConfiguration)
        require(!fs.exists(devData) || fs.listStatus(devData).isEmpty,
          "shallow clone copied bytes: expected an empty data/ under it")
        // the clone diverges with its own DML…
        graft.sources.SnapshotTable.deleteVectors(s, dev,
          col("o_orderkey") % 4 === 2)
        // …while the source moves on and vacuums everything but its tip
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") === 2), src, "overwrite",
          Seq("o_orderkey"))
        graft.sources.SnapshotTable.vacuum(s, src,
          keepVersions = 1, minAgeMs = 0)
        graft.sources.SnapshotTable.scan(s, dev)
          .groupBy((col("o_orderkey") % 100).as("slot"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("price").cast("decimal(18,2)")).cast("double").as("sp"))
          .orderBy("slot")
      },
      """SELECT o_orderkey % 100 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 4 <> 2
        |GROUP BY 1 ORDER BY slot""".stripMargin),

    // Metadata-only retention DELETE (round-14 wave 5): a DELETE whose
    // per-file (min,max) stats prove every row of a file matches drops
    // the file from the manifest WHOLE — no scan, no sidecar, no bytes
    // — and only boundary files pay the deletion-vector path (per-file
    // noNulls evidence closes the null hole: a null row evaluates the
    // predicate to NULL and must be kept, so only files whose writer
    // saw zero nulls are droppable). At 100 TB this turns the nightly
    // `DELETE WHERE day < cutoff` from a table-wide dv scan into an
    // O(changed-metadata) commit. Asserted in-query: files dropped
    // whole, surviving dv rows bounded by ONE boundary file.
    "q7F_retention_delete" -> QueryDef(
      (s, dir) => {
        val t7 = snapDir(s, dir, "t7F")
        val ords = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice").as("price"))
          .repartitionByRange(16, col("o_orderkey"))
        graft.sources.SnapshotTable.write(s, ords, t7, "overwrite",
          Seq("o_orderkey"))
        val v1 = graft.sources.SnapshotTable.latestVersion(s, t7).get
        val m0 = graft.sources.SnapshotTable.readManifest(s, t7, v1)
        // retention cutoff from MANIFEST stats (metadata-only):
        // half the max key, integer-truncated (oracle recomputes it)
        val cutoff = m0.files
          .flatMap(_.stats.get("o_orderkey")).map(_._2).max / 2
        graft.sources.SnapshotTable.deleteVectors(s, t7,
          col("o_orderkey") < cutoff)
        val m = graft.sources.SnapshotTable.readManifest(s, t7,
          graft.sources.SnapshotTable.latestVersion(s, t7).get)
        require(m.files.size < m0.files.size,
          s"retention delete dropped no file whole " +
            s"(${m0.files.size} -> ${m.files.size})")
        val dvRows = m.files.flatMap(_.dv.map(_.rows)).sum
        require(dvRows <= m0.files.map(_.rows).max,
          s"dv rows $dvRows exceed one boundary file — " +
            "the delete scanned more than the boundary")
        graft.sources.SnapshotTable.scan(s, t7)
          .groupBy((col("o_custkey") % 50).as("slot"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("price").cast("decimal(18,2)")).cast("double").as("sp"))
          .orderBy("slot")
      },
      """SELECT o_custkey % 50 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM orders
        |WHERE o_orderkey >= (SELECT max(o_orderkey) // 2 FROM orders)
        |GROUP BY 1 ORDER BY slot""".stripMargin),

    // String zone maps (round-14 wave 6): truncated (lower, upper)
    // bounds per (file, string column) in UTF8 binary order — the
    // pruning lever for string-keyed corpora (doc ids, URLs, ULIDs),
    // where integral (min,max) stats don't apply. Asserted in-query:
    // a range predicate over the string key PRUNES files at planning
    // time, and the retention DELETE below the cutoff drops files
    // whole (metadata-only) with the surviving dv bounded by one
    // boundary file. Zero-padded keys make lexicographic order equal
    // numeric order, so DuckDB recomputes the content integrally.
    "q7G_string_zonemap_delete" -> QueryDef(
      (s, dir) => {
        val t7 = snapDir(s, dir, "t7G")
        val ords = t(s, dir, "orders").select(
          concat(lit("k"),
            lpad(col("o_orderkey").cast("string"), 9, "0")).as("key"),
          col("o_custkey"), col("o_totalprice").as("price"))
          .repartitionByRange(16, col("key"))
        graft.sources.SnapshotTable.write(s, ords, t7, "overwrite", Seq("key"))
        val v1 = graft.sources.SnapshotTable.latestVersion(s, t7).get
        val m0 = graft.sources.SnapshotTable.readManifest(s, t7, v1)
        require(m0.files.forall(_.strStats.contains("key")),
          "string zone maps missing from the written manifest")
        val cut = t(s, dir, "orders")
          .agg(max(col("o_orderkey"))).head.getLong(0) / 2
        val cutKey = f"k$cut%09d"
        // planning-time probe: the string range scan prunes files
        val probe = s.read.format("graft_snapshot").load(t7)
          .filter(col("key") >= cutKey)
        val planned = probe.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation =>
            r.scan.asInstanceOf[graft.sources.connector.SnapshotScan]
              .planInputPartitions().length
        }.head
        require(planned < m0.files.size,
          s"string range scan planned $planned of ${m0.files.size} files " +
            "— zone maps are not pruning")
        graft.sources.SnapshotTable.deleteVectors(s, t7, col("key") < cutKey)
        val m = graft.sources.SnapshotTable.readManifest(s, t7,
          graft.sources.SnapshotTable.latestVersion(s, t7).get)
        require(m.files.size < m0.files.size,
          "string retention delete dropped no file whole")
        require(m.files.flatMap(_.dv.map(_.rows)).sum <= m0.files.map(_.rows).max,
          "string retention delete scanned past the boundary file")
        graft.sources.SnapshotTable.scan(s, t7)
          .groupBy((col("o_custkey") % 40).as("slot"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("price").cast("decimal(18,2)")).cast("double").as("sp"),
            min(col("key")).as("min_key"))
          .orderBy("slot")
      },
      """SELECT o_custkey % 40 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
        |       min('k' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0')) AS min_key
        |FROM orders
        |WHERE o_orderkey >= (SELECT max(o_orderkey) // 2 FROM orders)
        |GROUP BY 1 ORDER BY slot""".stripMargin),

    // Atomic CREATE OR REPLACE / RTAS (round-15): the engine-grade
    // form of the reference's flagship backup → truncate → load →
    // rollback sink (etl/loader.py:197-238). The catalog's
    // StagingTableCatalog surface stages the new definition's files
    // invisibly and publishes ONE manifest commit — so the failure
    // injection in the middle of this query (an RTAS whose SELECT
    // throws at runtime) must leave the table byte-identical, version
    // count unchanged; and after the successful REPLACE (narrowed,
    // re-grouped schema) the PRE-replace content must still read via
    // VERSION AS OF. Both asserted in-query. The oracle recomputes the
    // replaced table's content from the raw orders table.
    "q7H_replace_table" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7H")
        val cat = "graft_rt_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7H_orders")
        s.sql(s"DROP TABLE IF EXISTS $cat.t") // same-session rerun
        // atomic CTAS through the staging surface
        s.sql(s"""CREATE TABLE $cat.t AS
                  |SELECT o_orderkey, o_totalprice AS price
                  |FROM t7H_orders""".stripMargin)
        val tdir = s"$root/t"
        val vPre = graft.sources.SnapshotTable.latestVersion(s, tdir).get
        val nPre = s.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
        // failure injection: the RTAS SELECT throws mid-write — the
        // staged files must never publish
        val failed = expectedFailure("q7H")(scala.util.Try(s.sql(
          s"""REPLACE TABLE $cat.t AS
             |SELECT o_orderkey,
             |       CASE WHEN price >= 0 THEN raise_error('boom')
             |            ELSE price END AS price
             |FROM $cat.t""".stripMargin).collect()))
        require(failed.isFailure, "injected RTAS failure did not throw")
        require(graft.sources.SnapshotTable.latestVersion(s, tdir).get == vPre,
          "failed RTAS must not publish a version")
        require(s.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == nPre,
          "failed RTAS changed the table's content")
        // the real swap: narrowed, re-grouped definition — REPLACE may
        // change the schema freely; the old versions stay readable
        s.sql(s"""REPLACE TABLE $cat.t AS
                  |SELECT o_orderkey % 50 AS slot, count(*) AS cnt,
                  |       CAST(sum(CAST(price AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM $cat.t GROUP BY o_orderkey % 50""".stripMargin)
        require(s.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $vPre")
          .head.getLong(0) == nPre,
          "pre-replace version no longer time-travels")
        // CREATE OR REPLACE is the same surface; round-trip once more
        // to prove the op composes (replace the 50 slots with 40)
        s.sql(s"""CREATE OR REPLACE TABLE $cat.t AS
                  |SELECT o_orderkey % 40 AS slot, count(*) AS cnt,
                  |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM t7H_orders GROUP BY o_orderkey % 40""".stripMargin)
        s.sql(s"SELECT slot, cnt, sp FROM $cat.t ORDER BY slot")
      },
      """SELECT o_orderkey % 40 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM orders GROUP BY 1 ORDER BY slot""".stripMargin),

    // Write-audit-publish via writable branches (round-15): the
    // production gate for the expectations machinery. A branch is an
    // O(metadata) shallow clone nested under the table root, writable
    // at `cat.t.branch_<name>` with main's layout and CHECK gates
    // inherited; `fast_forward` publishes the audited state as ONE
    // linear-history commit. Asserted in-query: the violating batch is
    // rejected BY CONSTRAINT NAME on the BRANCH, main stays untouched
    // until the publish, the publish adds exactly one version, and
    // pre-publish content still time-travels. The oracle recomputes
    // main's final content (evens + the audited odd batch) from the
    // raw orders table.
    "q7I_branch_wap" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7I")
        val cat = "graft_br_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7I_orders")
        s.sql(s"DROP TABLE IF EXISTS $cat.t") // same-session rerun
        s.sql(s"CREATE TABLE $cat.t (o_orderkey BIGINT, price DOUBLE)")
        s.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT sane_price " +
          "CHECK (price >= 0)")
        s.sql(s"""INSERT INTO $cat.t
                  |SELECT o_orderkey, o_totalprice FROM t7I_orders
                  |WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql(s"CALL $cat.system.create_branch('t', 'audit')")
        // the poisoned batch: negated prices — the branch's inherited
        // CHECK gate must reject it by name, burning no version
        val bad = expectedFailure("q7I")(scala.util.Try(s.sql(
          s"""INSERT INTO $cat.t.branch_audit
             |SELECT o_orderkey, -o_totalprice FROM t7I_orders
             |WHERE o_orderkey % 2 = 1""".stripMargin)))
        require(bad.isFailure &&
          bad.failed.get.getMessage.contains("sane_price"),
          s"branch write missed the constraint gate: $bad")
        // the audited batch lands on the branch; main remains evens-only
        s.sql(s"""INSERT INTO $cat.t.branch_audit
                  |SELECT o_orderkey, o_totalprice FROM t7I_orders
                  |WHERE o_orderkey % 2 = 1""".stripMargin)
        val tdir = s"$root/t"
        val mainPre = s.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
        val evens = t(s, dir, "orders")
          .filter(col("o_orderkey") % 2 === 0).count()
        require(mainPre == evens, "branch write leaked into main")
        val nVsPre = graft.sources.SnapshotTable.versions(s, tdir).size
        val vPre = graft.sources.SnapshotTable.latestVersion(s, tdir).get
        s.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
        require(graft.sources.SnapshotTable.versions(s, tdir).size ==
          nVsPre + 1, "fast-forward must publish exactly one version")
        require(s.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $vPre")
          .head.getLong(0) == mainPre,
          "pre-publish version no longer time-travels")
        s.sql(s"""SELECT o_orderkey % 30 AS slot, count(*) AS cnt,
                  |       CAST(sum(CAST(price AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM $cat.t GROUP BY o_orderkey % 30
                  |ORDER BY slot""".stripMargin)
      },
      """SELECT o_orderkey % 30 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM orders GROUP BY 1 ORDER BY slot""".stripMargin),

    // Manifest NDV sketches → the CBO (round-15): PARTITIONED BY keys
    // get a per-file KMV sketch in the manifest; at plan time the scan
    // merges them (the KMV monoid: union + keep-k) and reports
    // per-column distinct counts through V2 Statistics, so with
    // spark.sql.cbo.enabled a multi-join estimates intermediate sizes
    // from real cardinalities — zero data reads, O(files × k) driver
    // work. Asserted in-query: every scan leaf reports rowCount AND
    // non-empty attribute stats, and the fact key's plan-level NDV
    // lands within KMV error of the true count. The oracle recomputes
    // the join itself — the estimates must never change the answer.
    "q7J_ndv_cbo_join" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7J")
        val cat = "graft_ndv_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7J_orders")
        t(s, dir, "customer").createOrReplaceTempView("t7J_customer")
        Seq("fact", "dim").foreach(n => s.sql(s"DROP TABLE IF EXISTS $cat.$n"))
        s.sql(s"""CREATE TABLE $cat.fact
                  |  (o_custkey BIGINT, o_orderkey BIGINT, price DOUBLE)
                  |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
        s.sql(s"""INSERT INTO $cat.fact
                  |SELECT o_custkey, o_orderkey, o_totalprice
                  |FROM t7J_orders""".stripMargin)
        s.sql(s"""CREATE TABLE $cat.dim (c_custkey BIGINT, c_name STRING)
                  |PARTITIONED BY (bucket(8, c_custkey))""".stripMargin)
        s.sql(s"""INSERT INTO $cat.dim
                  |SELECT c_custkey, c_name FROM t7J_customer""".stripMargin)
        val trueNdv = t(s, dir, "orders")
          .select(col("o_custkey")).distinct().count()
        val prior = s.conf.getOption("spark.sql.cbo.enabled")
        s.conf.set("spark.sql.cbo.enabled", "true")
        try {
          val q = s.sql(
            s"""SELECT f.o_custkey % 25 AS slot, count(*) AS cnt,
               |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
               |FROM $cat.fact f JOIN $cat.dim d
               |  ON f.o_custkey = d.c_custkey
               |GROUP BY f.o_custkey % 25 ORDER BY slot""".stripMargin)
          val leafStats = q.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.computeStats()
          }
          require(leafStats.size == 2 &&
            leafStats.forall(st => st.rowCount.isDefined &&
              st.attributeStats.nonEmpty),
            s"scan leaves missing CBO statistics: $leafStats")
          val factNdv = leafStats.flatMap(_.attributeStats.find(
            _._1.name == "o_custkey").map(_._2))
            .headOption.flatMap(_.distinctCount)
            .getOrElse(throw new IllegalStateException(
              "no plan-level NDV for the fact join key"))
          require((factNdv - BigInt(trueNdv)).abs.toDouble <=
            0.25 * trueNdv.toDouble,
            s"plan NDV $factNdv vs true $trueNdv drifted past KMV error")
          q
        } finally prior match {
          case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
          case None => s.conf.unset("spark.sql.cbo.enabled")
        }
      },
      """SELECT o.o_custkey % 25 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY slot""".stripMargin),

    // Equality deletes (round-15): the Iceberg-v2 cost class for
    // high-churn CDC on keys the zone maps can't prune. The table is
    // written UNCLUSTERED on the delete key (round-robin files — every
    // per-file range overlaps, so the dv path would scan the whole
    // table per epoch); deleteByKey instead writes ONE tiny key
    // sidecar and attaches refs — asserted in-query: each epoch grows
    // the data dir by EXACTLY one file (the sidecar; zero data files
    // rewritten) and attaches to every live file (nothing refutable).
    // Sequencing is structural: rows appended AFTER epoch 1 keep their
    // epoch-1 keys (new files never carry the old ref) while epoch 2
    // masks both generations. The final read runs through the pending
    // masks; the oracle recomputes it from raw orders.
    // SQL ANALYZE TABLE (round-16): the standard statement is the
    // inspection/opt-in face of the manifest stats — COMPUTE
    // STATISTICS records rowCount/sizeBytes as stats.* TBLPROPERTIES
    // (DESCRIBE EXTENDED / SHOW TBLPROPERTIES), FOR COLUMNS opts an
    // identity-clustered key into NDV sketching AND backfills the
    // existing files' KMV sketches in one grouped job, so the CBO
    // sees real distinct counts immediately. All asserted in-query;
    // the returned aggregate is what the oracle replays from raw
    // orders (ANALYZE must never change results).
    "q7O_analyze_stats" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7O")
        val cat = "graft_an_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7O_orders")
        s.sql(s"DROP TABLE IF EXISTS $cat.fact")
        s.sql(s"""CREATE TABLE $cat.fact
                  |  (o_custkey BIGINT, o_orderkey BIGINT, price DOUBLE)
                  |PARTITIONED BY (o_custkey)""".stripMargin)
        s.sql(s"""INSERT INTO $cat.fact
                  |SELECT o_custkey, o_orderkey, o_totalprice
                  |FROM t7O_orders""".stripMargin)
        s.sql(s"ANALYZE TABLE $cat.fact COMPUTE STATISTICS FOR COLUMNS o_custkey")
        val props = s.sql(s"SHOW TBLPROPERTIES $cat.fact").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val trueRows = t(s, dir, "orders").count()
        require(props.get("stats.rowCount").contains(trueRows.toString),
          s"ANALYZE recorded wrong rowCount: $props")
        require(props.get("ndvCols").exists(_.contains("o_custkey")),
          s"FOR COLUMNS did not declare the sketch: $props")
        val trueNdv = t(s, dir, "orders")
          .select(col("o_custkey")).distinct().count()
        val prior = s.conf.getOption("spark.sql.cbo.enabled")
        s.conf.set("spark.sql.cbo.enabled", "true")
        try {
          val q = s.sql(
            s"""SELECT o_custkey % 25 AS slot, count(*) AS cnt,
               |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
               |FROM $cat.fact GROUP BY o_custkey % 25 ORDER BY slot""".stripMargin)
          val ndvEst = q.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.computeStats()
          }.head.attributeStats.find(_._1.name == "o_custkey")
            .flatMap(_._2.distinctCount)
            .getOrElse(throw new IllegalStateException(
              "backfilled NDV did not reach the plan statistics"))
          require((ndvEst - BigInt(trueNdv)).abs.toDouble <=
            0.25 * trueNdv.toDouble,
            s"backfilled NDV $ndvEst vs true $trueNdv drifted past KMV error")
          q
        } finally prior match {
          case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
          case None => s.conf.unset("spark.sql.cbo.enabled")
        }
      },
      """SELECT o_custkey % 25 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM orders GROUP BY 1 ORDER BY slot""".stripMargin),

    // Per-column stats metadata table (round-16): `cat.ns.t.stats` is
    // the LIVE per-column view of what skipping and the CBO see —
    // row count, full-coverage min/max (exact integral ranges, exact
    // 1-char string zone maps here), no-null proof, NDV coverage.
    // The oracle recomputes the deterministic columns from raw
    // orders; the KMV estimate (not SQL-expressible) is asserted
    // in-query against the true distinct count after an ANALYZE
    // backfill.
    "q7Q_stats_table" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7Q")
        val cat = "graft_st_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7Q_orders")
        s.sql(s"DROP TABLE IF EXISTS $cat.fact")
        s.sql(s"""CREATE TABLE $cat.fact
                  |  (o_custkey BIGINT, status STRING, price DOUBLE)
                  |PARTITIONED BY (o_custkey, status)""".stripMargin)
        s.sql(s"""INSERT INTO $cat.fact
                  |SELECT o_custkey, o_orderstatus, o_totalprice
                  |FROM t7Q_orders""".stripMargin)
        s.sql(s"ANALYZE TABLE $cat.fact COMPUTE STATISTICS FOR COLUMNS o_custkey")
        // the estimate itself is KMV — pin it in-query, not in SQL
        val est = s.sql(s"SELECT ndv_estimate FROM $cat.fact.stats " +
          "WHERE col_name = 'o_custkey'").head.getLong(0)
        val trueNdv = t(s, dir, "orders")
          .select(col("o_custkey")).distinct().count()
        require(math.abs(est - trueNdv).toDouble <= 0.25 * trueNdv,
          s"stats-table NDV $est vs true $trueNdv past KMV error")
        require(s.sql(s"SELECT stats_files = files FROM $cat.fact.stats " +
          "WHERE col_name = 'status'").head.getBoolean(0),
          "string zone maps must cover every file")
        // a column with NO stats coverage must not claim exact bounds
        // (round-17 advice: the no-coverage fallback said true)
        require(!s.sql(s"SELECT exact_bounds FROM $cat.fact.stats " +
          "WHERE col_name = 'price'").head.getBoolean(0),
          "no-coverage columns must not claim exact_bounds")
        s.sql(
          s"""SELECT col_name, data_type, row_count, min_value, max_value,
             |       proven_no_nulls
             |FROM $cat.fact.stats ORDER BY col_name""".stripMargin)
      },
      """WITH agg AS (
        |  SELECT count(*) AS rc,
        |         CAST(min(o_custkey) AS VARCHAR) AS kmin,
        |         CAST(max(o_custkey) AS VARCHAR) AS kmax,
        |         min(o_orderstatus) AS smin, max(o_orderstatus) AS smax
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_custkey' AS col_name, 'bigint' AS data_type,
        |         rc AS row_count, kmin AS min_value, kmax AS max_value,
        |         true AS proven_no_nulls FROM agg
        |  UNION ALL
        |  SELECT 'price', 'double', rc, CAST(NULL AS VARCHAR),
        |         CAST(NULL AS VARCHAR), false FROM agg
        |  UNION ALL
        |  SELECT 'status', 'string', rc, smin, smax, true FROM agg)
        |ORDER BY col_name""".stripMargin),

    "q7K_equality_delete" -> QueryDef(
      (s, dir) => {
        val src = snapDir(s, dir, "t7K")
        val ords = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 0).repartition(8),
          src, "overwrite", Seq("o_custkey"))
        def dataCount(): Int = {
          val p = new org.apache.hadoop.fs.Path(src, "data")
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .listStatus(p).length
        }
        val keys1 = ords.filter(col("o_custkey") % 13 === 3)
          .select(col("o_custkey")).distinct()
        val n0 = dataCount()
        graft.sources.SnapshotTable.deleteByKey(s, src, "o_custkey", keys1)
        require(dataCount() == n0 + 1,
          "equality delete must write exactly one sidecar, no data files")
        val m1 = graft.sources.SnapshotTable.readManifest(s, src,
          graft.sources.SnapshotTable.latestVersion(s, src).get)
        require(m1.files.forall(_.eqDv.nonEmpty),
          "unclustered key: every file should carry the ref")
        // appended rows are NEWER than epoch 1: their %13==3 keys live
        graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 2 === 1), src, "append",
          Seq("o_custkey"))
        val keys2 = ords.filter(col("o_custkey") % 13 === 7)
          .select(col("o_custkey")).distinct()
        val n1 = dataCount()
        graft.sources.SnapshotTable.deleteByKey(s, src, "o_custkey", keys2)
        require(dataCount() == n1 + 1,
          "second epoch must also be sidecar-only")
        graft.sources.SnapshotTable.scan(s, src)
          .groupBy((col("o_custkey") % 20).as("slot"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("price").cast("decimal(18,2)")).cast("double").as("sp"))
          .orderBy("slot")
      },
      """WITH live AS (
        |  SELECT o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0
        |    AND o_custkey % 13 <> 3 AND o_custkey % 13 <> 7
        |  UNION ALL
        |  SELECT o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1 AND o_custkey % 13 <> 7)
        |SELECT o_custkey % 20 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM live GROUP BY 1 ORDER BY slot""".stripMargin),

    // Incremental re-clustering (round-15): zone-map overlap decay is
    // detected from the manifest intervals alone and ONLY the decayed
    // overlap component is re-sorted — the hot tail of an ingest
    // pattern, never the cold bulk. Asserted in-query: before the
    // CALL, a tail range plans every straddling file while a cold
    // range still plans one slice; after, both plan one, the rewrite
    // touched a strict subset of the files, and the compaction-style
    // op contributes ZERO change-feed rows (content-neutral). The
    // oracle recomputes the final content from raw orders.
    "q7L_recluster" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7L")
        val cat = "graft_rc_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7L_orders")
        s.sql(s"DROP TABLE IF EXISTS $cat.t")
        s.sql(s"""CREATE TABLE $cat.t (o_orderkey BIGINT, price DOUBLE)
                  |TBLPROPERTIES ('clusterBy'='o_orderkey',
                  |  'statsCols'='o_orderkey', 'clusterPartitions'='8')"""
          .stripMargin)
        s.sql(s"""INSERT INTO $cat.t
                  |SELECT o_orderkey, o_totalprice FROM t7L_orders
                  |WHERE o_orderkey % 4 <> 1""".stripMargin)
        val tdir = s"$root/t"
        val maxK = t(s, dir, "orders")
          .agg(max(col("o_orderkey"))).head.getLong(0)
        // three hot-tail epochs straddle the top quarter of the domain
        (1 to 3).foreach(i => s.sql(
          s"""INSERT INTO $cat.t
             |SELECT o_orderkey, o_totalprice FROM t7L_orders
             |WHERE o_orderkey % 4 = 1 AND o_orderkey % 3 = ${i - 1}
             |  AND o_orderkey >= ${maxK * 3 / 4}""".stripMargin))
        def planned(lo: Long, hi: Long): Int = {
          val probe = s.read.format("graft_snapshot").load(tdir)
            .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
          probe.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation =>
              r.scan.asInstanceOf[graft.sources.connector.SnapshotScan]
                .planInputPartitions().length
          }.head
        }
        val tailLo = maxK * 7 / 8
        val tailBefore = planned(tailLo, tailLo + maxK / 100)
        require(tailBefore >= 3, "tail decay should plan the straddlers")
        require(planned(maxK / 8, maxK / 8 + maxK / 100) <= 2,
          "cold range should keep pruning before the recluster")
        val total = graft.sources.SnapshotTable.readManifest(s, tdir,
          graft.sources.SnapshotTable.latestVersion(s, tdir).get).files.size
        val rewritten = s.sql(
          s"CALL $cat.system.recluster('t', 2, 1000000)")
          .head.getInt(0)
        require(rewritten > 0 && rewritten < total,
          s"expected a partial rewrite, got $rewritten of $total")
        // restored to near-write-time counts: a narrow probe plans at
        // most 2 files (it may cross one rewritten-slice boundary),
        // strictly better than the decayed plan
        val tailAfter = planned(tailLo, tailLo + maxK / 100)
        require(tailAfter < tailBefore && tailAfter <= 2,
          s"recluster must restore tail pruning ($tailBefore -> $tailAfter)")
        // layout churn is NOT data churn: the recluster version adds
        // zero feed rows
        val reclusterV = graft.sources.SnapshotTable.latestVersion(s, tdir).get
        require(s.sql(s"SELECT count(*) FROM $cat.t.changes " +
          s"WHERE commit_version = $reclusterV").head.getLong(0) == 0,
          "recluster leaked into the change feed")
        s.sql(s"""SELECT o_orderkey % 35 AS slot, count(*) AS cnt,
                  |       CAST(sum(CAST(price AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM $cat.t GROUP BY o_orderkey % 35
                  |ORDER BY slot""".stripMargin)
      },
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |live AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 1
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders, mx
        |  WHERE o_orderkey % 4 = 1 AND o_orderkey >= m * 3 // 4)
        |SELECT o_orderkey % 35 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM live GROUP BY 1 ORDER BY slot""".stripMargin),

    // Equality-delete CDC apply (round-15): the Iceberg "equality
    // delete + data file" recipe — each change epoch is ONE fused
    // O(batch) commit (a key sidecar retiring every affected key plus
    // the post-image append, atomic since round-19) with ZERO target
    // reads, where the merge recipe pays a match scan per epoch on an
    // unclustered key.
    // Asserted in-query: no pre-existing data file is ever rewritten
    // (the pre-epoch file set survives by path), and the latest-action
    // collapse holds (a same-version delete+upsert pair resolves to
    // the upsert). The oracle recomputes the replicated table from raw
    // orders.
    "q7M_eq_cdc_apply" -> QueryDef(
      (s, dir) => {
        val tgt = snapDir(s, dir, "t7M")
        val ords = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice").as("price"))
        def feed(rows: org.apache.spark.sql.DataFrame, tpe: String,
                 cv: Int) =
          rows.select(col("o_orderkey"), col("price"),
            lit(tpe).as("change_type"),
            lit(cv.toLong).as("commit_version"))
        // epoch 1 bootstraps the replica with the evens (scrambled so
        // the key is UNCLUSTERED — the shape this recipe exists for)
        graft.streaming.ApplyChanges.applyBatchEq(
          feed(ords.filter(col("o_orderkey") % 2 === 0)
            .repartition(8), "upsert", 1),
          tgt, "o_orderkey")
        def files() = graft.sources.SnapshotTable.readManifest(s, tgt,
          graft.sources.SnapshotTable.latestVersion(s, tgt).get)
          .files.map(_.path).toSet
        val f1 = files()
        // epoch 2: delete evens %10==0; insert the %4==1 odds
        graft.streaming.ApplyChanges.applyBatchEq(
          feed(ords.filter(col("o_orderkey") % 10 === 0), "delete", 2)
            .unionByName(feed(ords.filter(col("o_orderkey") % 4 === 1),
              "upsert", 2)),
          tgt, "o_orderkey")
        val f2 = files()
        require(f1.subsetOf(f2),
          "eq-CDC epoch must never rewrite a pre-existing data file")
        // epoch 3: update evens %10==4 to price*3 — emitted as a
        // same-version delete+upsert PAIR (the upsert must win the
        // collapse); delete the odds %8==1
        val upd = ords.filter(col("o_orderkey") % 10 === 4)
        graft.streaming.ApplyChanges.applyBatchEq(
          feed(upd, "delete", 3)
            .unionByName(feed(upd.withColumn("price", col("price") * 3),
              "upsert", 3))
            .unionByName(feed(ords.filter(
              col("o_orderkey") % 2 === 1 && col("o_orderkey") % 4 === 1 &&
                col("o_orderkey") % 8 === 1), "delete", 3)),
          tgt, "o_orderkey")
        require(f2.subsetOf(files()),
          "eq-CDC epoch must never rewrite a pre-existing data file")
        require(graft.sources.SnapshotTable.readManifest(s, tgt,
          graft.sources.SnapshotTable.latestVersion(s, tgt).get)
          .files.exists(_.eqDv.nonEmpty),
          "epochs should leave pending equality refs until a fold")
        graft.sources.SnapshotTable.scan(s, tgt)
          .groupBy((col("o_orderkey") % 30).as("slot"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("price").cast("decimal(18,2)")).cast("double").as("sp"))
          .orderBy("slot")
      },
      """WITH live AS (
        |  SELECT o_orderkey AS k,
        |         CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 3
        |              ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 8 <> 1)
        |SELECT k % 30 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM live GROUP BY 1 ORDER BY slot""".stripMargin),

    // Composite-key equality-delete CDC (round-17): q7M's recipe with
    // lineitem's NATURAL 2-column business key (l_orderkey,
    // l_linenumber) — real CDC keys are tuples, and Iceberg's
    // equality deletes carry a key schema for exactly this. Each
    // epoch's delete is ONE 2-column key sidecar; readers mask whole
    // TUPLES (a per-column mask would also kill sibling line numbers
    // of a deleted order — asserted in-query). The oracle recomputes
    // the replica from raw lineitem.
    "q7T_composite_eq_cdc" -> QueryDef(
      (s, dir) => {
        val tgt = snapDir(s, dir, "t7T")
        // one row per business key: the synthetic lineitem carries
        // duplicate (orderkey, linenumber) pairs, and a CDC key must
        // be unique — aggregate them away deterministically. Cached:
        // three epochs' feeds (plus the in-query pins) each derive
        // from this frame, and recomputing the dedup aggregation per
        // job was most of the query's bench cost.
        val li = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("qty"), max(col("l_extendedprice")).as("price"))
          .cache()
        def feed(rows: org.apache.spark.sql.DataFrame, tpe: String,
                 cv: Int) =
          rows.select(col("l_orderkey"), col("l_linenumber"), col("qty"),
            col("price"), lit(tpe).as("change_type"),
            lit(cv.toLong).as("commit_version"))
        // epoch 1 bootstraps with the even orders (scrambled so the
        // key is unclustered)
        graft.streaming.ApplyChanges.applyBatchEqKeys(
          feed(li.filter(col("l_orderkey") % 2 === 0).repartition(8),
            "upsert", 1),
          tgt, Seq("l_orderkey", "l_linenumber"))
        // epoch 2: delete LINE 1 of every %10==0 order (their other
        // line numbers must survive — the tuple-vs-column semantics;
        // pinned in EqualityDeleteSpec "composite eq-CDC epochs",
        // along with the zero-file-rewrite manifest pin, since
        // round 18 — the r16 q7N precedent: the oracle hash below
        // stays the bench gate, the pins cost bench reps nothing)
        // — and insert the %4==1 odd orders
        graft.streaming.ApplyChanges.applyBatchEqKeys(
          feed(li.filter(col("l_orderkey") % 10 === 0 &&
              col("l_linenumber") === 1), "delete", 2)
            .unionByName(feed(li.filter(col("l_orderkey") % 4 === 1),
              "upsert", 2)),
          tgt, Seq("l_orderkey", "l_linenumber"))
        // epoch 3: update lines <=2 of %10==4 orders (same-version
        // delete+upsert pair, upsert wins the collapse); delete line 3
        // of the %8==1 odds
        val upd = li.filter(col("l_orderkey") % 10 === 4 &&
          col("l_linenumber") <= 2)
        graft.streaming.ApplyChanges.applyBatchEqKeys(
          feed(upd, "delete", 3)
            .unionByName(feed(upd.withColumn("price", col("price") * 2),
              "upsert", 3))
            .unionByName(feed(li.filter(col("l_orderkey") % 8 === 1 &&
              col("l_linenumber") === 3), "delete", 3)),
          tgt, Seq("l_orderkey", "l_linenumber"))
        require(graft.sources.SnapshotTable.readManifest(s, tgt,
          graft.sources.SnapshotTable.latestVersion(s, tgt).get)
          .files.exists(_.eqDv.nonEmpty),
          "epochs should leave pending composite refs until a fold")
        li.unpersist() // the result below derives from tgt, not li
        graft.sources.SnapshotTable.scan(s, tgt)
          .groupBy(((col("l_orderkey") * 7 + col("l_linenumber")) % 30)
            .as("slot"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("qty").cast("decimal(18,2)")).cast("double").as("sq"),
            sum(col("price").cast("decimal(18,2)")).cast("double").as("sp"))
          .orderBy("slot")
      },
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q0,
        |         max(l_extendedprice) AS p0
        |  FROM lineitem GROUP BY 1, 2),
        |live AS (
        |  SELECT l_orderkey AS k, l_linenumber AS ln,
        |         CASE WHEN l_orderkey % 10 = 4 AND l_linenumber <= 2
        |              THEN p0 * 2 ELSE p0 END AS p,
        |         q0 AS q
        |  FROM base
        |  WHERE l_orderkey % 2 = 0
        |    AND NOT (l_orderkey % 10 = 0 AND l_linenumber = 1)
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, p0, q0
        |  FROM base
        |  WHERE l_orderkey % 4 = 1
        |    AND NOT (l_orderkey % 8 = 1 AND l_linenumber = 3))
        |SELECT (k * 7 + ln) % 30 AS slot, count(*) AS cnt,
        |       CAST(sum(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sq,
        |       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM live GROUP BY 1 ORDER BY slot""".stripMargin),

    // SHOW CREATE TABLE as RUNNABLE DDL (round-17): the emitted text
    // must reproduce the whole definition — layout transforms
    // (identity clustering + hash buckets render as PARTITIONED BY,
    // from the table's reported partitioning), column DEFAULTs, and
    // CHECK constraints (as constraint.* TBLPROPERTIES, which the
    // write paths enforce) — proven by re-creating the table FROM the
    // emitted string alone and exercising each piece. The oracle
    // recomputes the copy's content from raw orders.
    "q7U_show_create_roundtrip" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7U")
        val cat = "graft_sc_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7U_orders")
        s.sql(s"""CREATE TABLE $cat.src (
                  |  k BIGINT, status STRING, price DOUBLE DEFAULT 0.0)
                  |PARTITIONED BY (status, bucket(8, k))""".stripMargin)
        s.sql(s"ALTER TABLE $cat.src ADD CONSTRAINT pos CHECK (k >= 0)")
        val ddl = s.sql(s"SHOW CREATE TABLE $cat.src").head.getString(0)
        require(ddl.contains("PARTITIONED BY") &&
          ddl.toLowerCase.contains("bucket(8, k)"),
          s"DDL must render the layout as transforms:\n$ddl")
        require(ddl.contains("DEFAULT"), s"DDL must render defaults:\n$ddl")
        require(ddl.contains("'constraint.pos'"),
          s"DDL must carry the CHECK constraint:\n$ddl")
        s.sql(ddl.replace(s"$cat.src", s"$cat.copy")) // runnable as-is
        s.sql(s"""INSERT INTO $cat.copy
                  |SELECT o_orderkey, o_orderstatus,
                  |       o_totalprice AS p0 FROM t7U_orders""".stripMargin)
        // the re-created constraint ENFORCES; the staged batch aborts.
        // expectedFailure: without it the abort stack floods the bench
        // tail (the round-11–14 parsed-null failure mode — q7U forgot
        // the helper in round 17 and its stack ate the tail window)
        // price cast explicitly: an uncast 1.0 is DECIMAL(2,1) and the
        // positional-INSERT type gate rejected the row BEFORE the
        // constraint ever ran — the pin passed for the wrong reason
        // (round-18 bench-tail audit)
        val rejected = expectedFailure("q7U") {
          try {
            s.sql(s"INSERT INTO $cat.copy VALUES " +
              "(CAST(-1 AS BIGINT), 'X', CAST(1.0 AS DOUBLE))")
            false
          } catch { case _: Exception => true }
        }
        require(rejected, "re-created CHECK constraint must enforce")
        // the re-created DEFAULT fills an omitted column
        s.sql(s"INSERT INTO $cat.copy (k, status) VALUES " +
          "(CAST(999999999 AS BIGINT), 'Z')")
        // the re-created BUCKET layout actually buckets the files
        val m = graft.sources.SnapshotTable.readManifest(s, s"$root/copy",
          graft.sources.SnapshotTable.latestVersion(s, s"$root/copy").get)
        require(m.files.nonEmpty && m.files.forall(_.bucketN.contains(8)),
          "the copy lost the bucket layout")
        s.sql(s"""SELECT status, count(*) AS cnt,
                  |       CAST(sum(CAST(price AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM $cat.copy GROUP BY status ORDER BY status""".stripMargin)
      },
      """WITH live AS (
        |  SELECT o_orderstatus AS status, o_totalprice AS price FROM orders
        |  UNION ALL SELECT 'Z', 0.0)
        |SELECT status, count(*) AS cnt,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM live GROUP BY status ORDER BY status""".stripMargin),

    // Dynamic partition overwrite (round-18, closing the r17 advice
    // finding): INSERT OVERWRITE under partitionOverwriteMode=dynamic
    // replaces exactly the identity-partition values present in the
    // incoming batch — ONE atomic eq-delete + append commit, zero
    // data files rewritten (the eq-CDC cost class, not a partition
    // rewrite; at 100 TB a daily restatement touches one day's
    // sidecar, never the table). The oracle recomputes the post-state
    // from raw orders.
    "q7W_dynamic_overwrite" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7W")
        val cat = "graft_dw_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7W_orders")
        s.sql(s"""CREATE TABLE $cat.t (k BIGINT, status STRING, price DOUBLE)
                  |PARTITIONED BY (status)""".stripMargin)
        s.sql(s"""INSERT INTO $cat.t
                  |SELECT o_orderkey, o_orderstatus, o_totalprice
                  |FROM t7W_orders""".stripMargin)
        val prior = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try
          // restate ONE partition: the 'O' status rows shrink to the
          // %3==0 keys at doubled price; 'F'/'P' partitions must ride
          // through untouched
          s.sql(s"""INSERT OVERWRITE $cat.t
                    |SELECT o_orderkey, o_orderstatus, o_totalprice * 2
                    |FROM t7W_orders
                    |WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0""".stripMargin)
        finally prior match {
          case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        // metadata-only sanity: the overwrite landed as pending eq
        // refs (sidecar + append), not a table rewrite
        require(graft.sources.SnapshotTable.readManifest(s, s"$root/t",
          graft.sources.SnapshotTable.latestVersion(s, s"$root/t").get)
          .files.exists(_.eqDv.nonEmpty),
          "dynamic overwrite should land as an eq-delete sidecar + append")
        s.sql(s"""SELECT status, count(*) AS cnt,
                  |       CAST(sum(CAST(price AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM $cat.t GROUP BY status ORDER BY status""".stripMargin)
      },
      """WITH live AS (
        |  SELECT o_orderstatus AS status, o_totalprice AS price
        |  FROM orders WHERE o_orderstatus <> 'O'
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0)
        |SELECT status, count(*) AS cnt,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM live GROUP BY status ORDER BY status""".stripMargin),

    // REPLACE WHERE (round-18): the static partition-spec'd INSERT
    // OVERWRITE — delete the predicate's rows and insert the batch as
    // ONE atomic commit. Files whose stats PROVE every row matches
    // drop from the manifest whole (metadata-only); refuting files
    // never open; only boundary files dv-scan. The restatement shape:
    // "re-state status O" touches the O files, never the table.
    "q7X_replace_where" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7X")
        val cat = "graft_rw_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7X_orders")
        s.sql(s"""CREATE TABLE $cat.t (k BIGINT, status STRING, price DOUBLE)
                  |PARTITIONED BY (status)""".stripMargin)
        s.sql(s"""INSERT INTO $cat.t
                  |SELECT o_orderkey, o_orderstatus, o_totalprice
                  |FROM t7X_orders""".stripMargin)
        // static partition-spec overwrite: replace the 'P' partition
        // with a recomputed slice (the %2==0 keys at doubled price)
        s.sql(s"""INSERT OVERWRITE $cat.t PARTITION (status = 'P')
                  |SELECT o_orderkey, o_totalprice * 2
                  |FROM t7X_orders
                  |WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0""".stripMargin)
        // and writeTo-style predicate overwrite via SQL is covered by
        // DynamicOverwriteSpec; here the oracle hash gates the result
        s.sql(s"""SELECT status, count(*) AS cnt,
                  |       CAST(sum(CAST(price AS DECIMAL(18,2)))
                  |            AS DOUBLE) AS sp
                  |FROM $cat.t GROUP BY status ORDER BY status""".stripMargin)
      },
      """WITH live AS (
        |  SELECT o_orderstatus AS status, o_totalprice AS price
        |  FROM orders WHERE o_orderstatus <> 'P'
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice * 2
        |  FROM orders WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0)
        |SELECT status, count(*) AS cnt,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM live GROUP BY status ORDER BY status""".stripMargin),

    // The ANN-index inspection surface in plain SQL (round-17):
    // `cat.ns.t.indexes` lists every index under the table with its
    // indexed version vs the corpus HEAD (staleness visible in SQL,
    // the q7Q stats-table discipline), layout kind/cells/dim, and the
    // metadata-only quantizer-drift ratio. The query builds an index,
    // lands a CDC epoch (stale), refreshes (fresh), and returns both
    // observations; the oracle is the literal expected rows.
    "q7V_indexes_table" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7V")
        val cat = "graft_ix_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        Tables.computeTable(s, dir, "embeddings")
          .createOrReplaceTempView("t7V_emb")
        s.sql(s"CREATE TABLE $cat.corpus (vec_id BIGINT, embedding ARRAY<FLOAT>)")
        s.sql(s"""INSERT INTO $cat.corpus
                  |SELECT vec_id, embedding FROM t7V_emb
                  |WHERE vec_id < 450""".stripMargin)
        s.sql(s"CALL $cat.system.ann_build('corpus', 'ix', 'vec_id', " +
          "'embedding', 64, 8)")
        s.sql(s"""INSERT INTO $cat.corpus
                  |SELECT vec_id, embedding FROM t7V_emb
                  |WHERE vec_id >= 450""".stripMargin)
        def snap(phase: String) = s.sql(
          s"""SELECT '$phase' AS phase, name, kind, indexed_version,
             |       corpus_head, stale, cells, dim
             |FROM $cat.corpus.indexes""".stripMargin)
        val pre = snap("pre")
        // drift is a live double — pin its presence in-query, not in
        // the hash (AnnIndexSpec owns the threshold behavior on a
        // CONTROLLED fixture; the synthetic embeddings' cell skew is
        // scale-factor-dependent and not the claim here)
        val drift = s.sql(
          s"SELECT drift_ratio FROM $cat.corpus.indexes").head.getDouble(0)
        require(drift > 0 && !drift.isNaN && !drift.isInfinite,
          s"drift signal must be a live positive ratio: $drift")
        val preRows = pre.collect().toSeq // the epoch below changes head
        s.sql(s"CALL $cat.system.ann_refresh('corpus', 'ix')")
        val post = snap("post")
        s.createDataFrame(
          s.sparkContext.parallelize(preRows ++ post.collect().toSeq),
          post.schema).orderBy("phase")
      },
      """SELECT * FROM (VALUES
        |  ('post', 'ix', 'ivf_flat', CAST(3 AS BIGINT), CAST(3 AS BIGINT),
        |   false, CAST(8 AS BIGINT), 64),
        |  ('pre', 'ix', 'ivf_flat', CAST(2 AS BIGINT), CAST(3 AS BIGINT),
        |   true, CAST(8 AS BIGINT), 64))
        |  AS t(phase, name, kind, indexed_version, corpus_head, stale,
        |       cells, dim)
        |ORDER BY phase""".stripMargin),

    // Warehouse DDL guard rails (round-14): CHECK constraints and
    // column DEFAULTs through pure SQL. The constraint gates every
    // write against the STAGED batch — the violating INSERT in the
    // middle of this query must fail WITH THE CONSTRAINT NAME and
    // leave no trace (asserted in-query: same row count after). The
    // DEFAULT fills both omitted INSERT columns (analyzer-side) and
    // rows in files that PREDATE an ADD COLUMNS … DEFAULT
    // (reader-side exists-default) — the oracle recomputes the final
    // grouped content from the raw table.
    "q7B_constraints_defaults" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t7B")
        val cat = "graft_ck_" + Integer.toHexString(root.hashCode)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.connector.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t7B_orders")
        s.sql(s"DROP TABLE IF EXISTS $cat.t") // same-session rerun
        s.sql(s"CREATE TABLE $cat.t (o_orderkey BIGINT, price DOUBLE, " +
          "status STRING DEFAULT 'open')")
        s.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT positive_price " +
          "CHECK (price >= 0)")
        s.sql(s"""INSERT INTO $cat.t (o_orderkey, price)
                  |SELECT o_orderkey, o_totalprice FROM t7B_orders
                  |WHERE o_orderkey % 3 = 0""".stripMargin)
        s.sql(s"""INSERT INTO $cat.t
                  |SELECT o_orderkey, o_totalprice, 'closed' FROM t7B_orders
                  |WHERE o_orderkey % 3 = 1""".stripMargin)
        val before = s.sql(s"SELECT count(*) FROM $cat.t")
          .collect().head.getLong(0)
        // the next INSERT is REQUIRED to fail (the CHECK gate under
        // test) — expectedFailure announces it and silences Spark's
        // abort-path ERROR stacks for just this statement
        val failed = expectedFailure("q7B") {
          try {
            s.sql(s"""INSERT INTO $cat.t
                      |SELECT o_orderkey, -o_totalprice, 'bad' FROM t7B_orders
                      |WHERE o_orderkey % 3 = 2""".stripMargin)
            false
          } catch {
            case e: Exception =>
              def all(x: Throwable): Seq[String] = if (x == null) Nil
                else Option(x.getMessage).toSeq ++ all(x.getCause)
              all(e).mkString("\n").contains("positive_price")
          }
        }
        require(failed, "the violating INSERT must fail with the " +
          "constraint name")
        require(s.sql(s"SELECT count(*) FROM $cat.t")
          .collect().head.getLong(0) == before,
          "the violating INSERT must leave the table untouched")
        s.sql(s"ALTER TABLE $cat.t ADD COLUMNS (tier BIGINT DEFAULT 3)")
        s.sql(s"""INSERT INTO $cat.t
                  |SELECT o_orderkey + 10000000, o_totalprice, 'new',
                  |       CAST(1 AS BIGINT)
                  |FROM t7B_orders WHERE o_orderkey % 5 = 0""".stripMargin)
        s.sql(s"""SELECT status, tier, count(*) AS cnt,
                  |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
                  |FROM $cat.t
                  |GROUP BY status, tier
                  |ORDER BY status, tier""".stripMargin)
      },
      """WITH base AS (
        |  SELECT 'open' AS status, CAST(3 AS BIGINT) AS tier,
        |         o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'closed', CAST(3 AS BIGINT), o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT 'new', CAST(1 AS BIGINT), o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT status, tier, count(*) AS cnt,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sp
        |FROM base GROUP BY status, tier
        |ORDER BY status, tier""".stripMargin),

    // Clustered V2 write + stats-pruned range read: the write asks the
    // planner for a range distribution on o_orderkey
    // (RequiresDistributionAndOrdering), so each file covers a narrow
    // disjoint key range and the BETWEEN read plans only the files
    // whose (min,max) intersect it — write-side layout turning file
    // stats into real skipping (ConnectorSpec pins the disjointness
    // and the 1-file point plan; here the content is hash-gated).
    "q6N_clustered_write" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6N")
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
          .write.format("graft_snapshot").option("path", base)
          .option("statsCols", "o_orderkey")
          .option("clusterBy", "o_orderkey")
          .option("clusterPartitions", "16")
          .mode("overwrite").save()
        s.read.format("graft_snapshot").load(base)
          .filter(col("o_orderkey").between(1000, 5000))
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |ORDER BY o_orderkey""".stripMargin),

    // Table services through SQL CALL (ProcedureCatalog): per-slice
    // INSERTs fragment the table, a DELETE stacks dv debt, and one
    // `CALL cat.system.maintain('t')` purges + compacts + vacuums —
    // and the content must hash-equal never having maintained at all
    // (the same neutrality gate as q6L, now reached through Spark's
    // stored-procedure surface instead of the programmatic API).
    "q6Q_call_procedures" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6Q")
        s.conf.set("spark.sql.catalog.graft_svc",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_svc.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6Q_orders")
        s.sql("DROP TABLE IF EXISTS graft_svc.t") // same-session rerun
        s.sql("""CREATE TABLE graft_svc.t AS
                |SELECT o_orderkey, o_custkey, o_totalprice
                |FROM t6Q_orders WHERE o_orderkey % 5 = 0""".stripMargin)
        (1 to 4).foreach(i => s.sql(
          s"""INSERT INTO graft_svc.t
             |SELECT o_orderkey, o_custkey, o_totalprice
             |FROM t6Q_orders WHERE o_orderkey % 5 = $i""".stripMargin))
        s.sql("DELETE FROM graft_svc.t WHERE o_custkey % 4 = 1")
        s.sql("CALL graft_svc.system.maintain('t')")
        s.sql("SELECT * FROM graft_svc.t ORDER BY o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE NOT (o_custkey % 4 = 1)
        |ORDER BY o_orderkey""".stripMargin),

    // Layout as TBLPROPERTIES: a pure-SQL pipeline where the CREATE
    // declares clusterBy/statsCols ONCE and the INSERT (which has no
    // writer options) inherits them — files land range-clustered with
    // stats, and the BETWEEN read is planned off those stats. The
    // SQL-surface twin of q6N (ConnectorSpec pins inheritance,
    // SHOW TBLPROPERTIES, ALTER SET/UNSET, and option-over-property
    // precedence).
    "q6R_tblproperties_layout" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6R")
        s.conf.set("spark.sql.catalog.graft_props",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_props.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6R_orders")
        s.sql("DROP TABLE IF EXISTS graft_props.t") // same-session rerun
        s.sql("""CREATE TABLE graft_props.t
                |  (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
                |TBLPROPERTIES('statsCols'='o_orderkey',
                |              'clusterBy'='o_orderkey',
                |              'clusterPartitions'='16')""".stripMargin)
        s.sql("""INSERT INTO graft_props.t
                |SELECT o_orderkey, o_custkey,
                |       CAST(o_totalprice AS DOUBLE)
                |FROM t6R_orders""".stripMargin)
        s.sql("""SELECT * FROM graft_props.t
                |WHERE o_orderkey BETWEEN 2000 AND 6000
                |ORDER BY o_orderkey""".stripMargin)
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey BETWEEN 2000 AND 6000
        |ORDER BY o_orderkey""".stripMargin),

    // Metadata tables through pure SQL: `t.history` (one row per
    // committed version, from the log) and `t.files` (current layout,
    // dv attribution included) — the audit/inspection surface table
    // formats expose as SELECT-able tables. The oracle recomputes the
    // deterministic columns (version numbers, ops, live/masked row
    // counts) from the orders table; timestamps and file counts are
    // layout-dependent and deliberately not selected.
    "q6P_metadata_tables" -> QueryDef(
      (s, dir) => {
        val root = snapDir(s, dir, "t6P")
        s.conf.set("spark.sql.catalog.graft_meta",
          "graft.sources.connector.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_meta.root", root)
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(root))
        t(s, dir, "orders").createOrReplaceTempView("t6P_orders")
        s.sql("DROP TABLE IF EXISTS graft_meta.t") // same-session rerun
        s.sql("""CREATE TABLE graft_meta.t AS
                |SELECT o_orderkey, o_custkey FROM t6P_orders""".stripMargin)
        s.sql("DELETE FROM graft_meta.t WHERE o_orderkey % 3 = 0")
        s.sql("""SELECT version, op, row_count, dv_rows
                |FROM graft_meta.t.history
                |UNION ALL
                |SELECT -1 AS version, 'files' AS op,
                |       SUM(live_rows) AS row_count, SUM(dv_rows) AS dv_rows
                |FROM graft_meta.t.files
                |ORDER BY version, op""".stripMargin)
      },
      """WITH n AS (SELECT COUNT(*) AS c FROM orders),
        |     d AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, 'ctas' AS op,
        |         (SELECT c FROM n) AS row_count, CAST(0 AS BIGINT) AS dv_rows
        |  UNION ALL
        |  SELECT 2, 'delete-dv', (SELECT c FROM n) - (SELECT c FROM d),
        |         (SELECT c FROM d)
        |  UNION ALL
        |  SELECT -1, 'files', (SELECT c FROM n) - (SELECT c FROM d),
        |         (SELECT c FROM d)
        |)
        |ORDER BY version, op""".stripMargin),

    // Policy-driven table maintenance ("table services"): per-batch
    // appends fragment the table and a dv-delete stacks read debt;
    // one maintain() pass purges the vectors, compacts the small
    // files (z-ordered), and vacuums history — and the content must
    // be bit-identical to never having maintained at all, which is
    // exactly what this gate hashes. ConnectorSpec asserts the layout
    // effects and the healthy-table no-op.
    "q6L_table_maintain" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t6L")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        (0 to 4).foreach { i =>
          graft.sources.SnapshotTable.write(s,
            ords.filter(col("o_orderkey") % 5 === i), base,
            if (i == 0) "overwrite" else "append", Seq("o_orderkey"))
        }
        graft.sources.SnapshotTable.deleteVectors(s, base,
          col("o_custkey") % 4 === 1)
        graft.sources.SnapshotTable.maintain(s, base,
          graft.sources.SnapshotTable.MaintenancePolicy(
            smallFileRows = Long.MaxValue, targetRows = 50000L,
            maxSmallFiles = 2, maxDeletedRatio = 0.05, keepVersions = 2,
            vacuumMinAgeMs = 0L, statsCols = Seq("o_orderkey"),
            zorderBy = Some(("o_orderkey", "o_custkey", 24))))
        graft.sources.SnapshotTable.scan(s, base).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE NOT (o_custkey % 4 = 1)
        |ORDER BY o_orderkey""".stripMargin),

    // Snapshot table, CDC leg: the row-level change feed between the
    // pre-merge and post-merge versions — updated rows contribute a
    // 'delete' pre-image and an 'upsert' post-image, inserts only the
    // latter, and rows in untouched files never surface (or get read).
    // The oracle is the global multiset diff (EXCEPT ALL both ways),
    // which the file-level diff provably equals.
    "q4C_snapshot_changes" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t4C")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v1 = graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 5 === 0)
            .repartitionByRange(8, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey"))
        val updates = ords.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"))
          .unionAll(ords.filter(col("o_orderkey") % 5 === 2))
        val v2 = graft.sources.SnapshotTable.merge(s, base, updates,
          "o_orderkey", Seq("o_orderkey"))
        graft.sources.SnapshotTable.changes(s, base, v1, v2)
          .orderBy("change_type", "o_orderkey")
      },
      """WITH v1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 2),
        |v2 AS (
        |  SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
        |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice
        |  FROM v1 t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey)
        |SELECT *, 'upsert' AS change_type FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
        |UNION ALL
        |SELECT *, 'delete' AS change_type FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
        |ORDER BY change_type, o_orderkey""".stripMargin),

    // Incremental materialized-view maintenance: a per-customer
    // sum/count view built at v1 refreshes through a MERGE (updates +
    // inserts) and a DELETE using ONLY the change feed — the base
    // table is never rescanned — and must hash-equal the oracle's full
    // recompute of the FINAL state. Decimal sums make incremental ==
    // rebuild bit-exact; the manifest-diff feed makes the refresh
    // O(changed files). This is the consumer the CDC leg (q4C) exists
    // for.
    "q56_incremental_view" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t56")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v1 = graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(8, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey"))
        val updates = ords.filter(col("o_orderkey") % 6 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"))
          .unionAll(ords.filter(col("o_orderkey") % 3 === 1))
        graft.sources.SnapshotTable.merge(s, base, updates, "o_orderkey",
          Seq("o_orderkey"))
        val v3 = graft.sources.SnapshotTable.delete(s, base,
          col("o_totalprice") > 350000.0, Seq("o_orderkey"))
        val view1 = graft.operators.IncrementalView.sumCountView(
          graft.sources.SnapshotTable.scan(s, base, Some(v1)),
          Seq("o_custkey"), "o_totalprice")
        val cdc = graft.sources.SnapshotTable.changes(s, base, v1, v3)
        graft.operators.IncrementalView.applyChanges(view1, cdc,
            Seq("o_custkey"), "o_totalprice")
          // exact decimals inside; DOUBLE at the comparison boundary
          // (the repo-wide oracle convention; the cast is exact at
          // these magnitudes)
          .select(col("o_custkey"),
            col("sum_o_totalprice").cast("double").as("sum_o_totalprice"),
            col("n_rows"))
          .orderBy("o_custkey")
      },
      """WITH v1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 6 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1),
        |v2 AS (
        |  SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
        |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice
        |  FROM v1 t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey),
        |v3 AS (
        |  SELECT * FROM v2 WHERE NOT COALESCE(o_totalprice > 350000.0, FALSE))
        |SELECT o_custkey,
        |       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0)
        |            AS DOUBLE) AS sum_o_totalprice,
        |       COUNT(*) AS n_rows
        |FROM v3 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // min/max across the invertibility boundary: unlike sum/count
    // (a group — q56 refreshes from the feed alone), deleting a key's
    // extremum can't be undone from the view, so applyChangesMinMax
    // rebuilds EXACTLY the keys whose extremum the feed deleted (the
    // 350k DELETE removes many customers' max) via a semi-join on the
    // current snapshot; every other key refreshes feed-only through
    // least/greatest. Must hash-equal the oracle's full recompute of
    // the final state.
    "q5C_incremental_minmax" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t5C")
        val ords = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v1 = graft.sources.SnapshotTable.write(s,
          ords.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(8, col("o_orderkey")),
          base, "overwrite", Seq("o_orderkey"))
        val updates = ords.filter(col("o_orderkey") % 6 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"))
          .unionAll(ords.filter(col("o_orderkey") % 3 === 1))
        graft.sources.SnapshotTable.merge(s, base, updates, "o_orderkey",
          Seq("o_orderkey"))
        val v3 = graft.sources.SnapshotTable.delete(s, base,
          col("o_totalprice") > 350000.0, Seq("o_orderkey"))
        val view1 = graft.operators.IncrementalView.minMaxView(
          graft.sources.SnapshotTable.scan(s, base, Some(v1)),
          Seq("o_custkey"), "o_totalprice")
        val cdc = graft.sources.SnapshotTable.changes(s, base, v1, v3)
        graft.operators.IncrementalView.applyChangesMinMax(view1, cdc,
            graft.sources.SnapshotTable.scan(s, base, Some(v3)),
            Seq("o_custkey"), "o_totalprice")
          .orderBy("o_custkey")
      },
      """WITH v1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 6 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1),
        |v2 AS (
        |  SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
        |         CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice
        |  FROM v1 t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey),
        |v3 AS (
        |  SELECT * FROM v2 WHERE NOT COALESCE(o_totalprice > 350000.0, FALSE))
        |SELECT o_custkey,
        |       CAST(MIN(o_totalprice) AS DOUBLE) AS min_o_totalprice,
        |       CAST(MAX(o_totalprice) AS DOUBLE) AS max_o_totalprice,
        |       COUNT(*) AS n_rows
        |FROM v3 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // Bloom-pruned point lookup on a STRING key: the snapshot table
    // writes a 1024-bit/4-probe bloom per (file, c_name) into the
    // manifest; readEquals opens only files whose bloom might contain
    // the probe value ((min,max) stats can't skip on strings). The
    // oracle is the plain equality scan — skipping must be invisible
    // in results, only in files opened (SnapshotSpec pins the pruning
    // itself).
    "q5K_bloom_point_read" -> QueryDef(
      (s, dir) => {
        val base = snapDir(s, dir, "t5K")
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        graft.sources.SnapshotTable.write(s,
          cust.repartitionByRange(8, col("c_custkey")),
          base, "overwrite", Seq("c_custkey"), bloomCols = Seq("c_name"))
        val probes = cust.filter(col("c_custkey").isin(7L, 42L))
          .select("c_name").collect().map(_.getString(0)).toSeq.distinct.sorted
        probes.map(n =>
            graft.sources.SnapshotTable.readEquals(s, base, "c_name", n))
          .reduce(_ unionAll _)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer
        |WHERE c_name IN (SELECT c_name FROM customer
        |                 WHERE c_custkey IN (7, 42))
        |ORDER BY c_custkey""".stripMargin)
  )

  /** Fresh per-SF scratch dir for snapshot-table queries — deleted on
    * entry so reruns are deterministic (versions start at 1). */
  /** Bench/CI-log hygiene for INTENTIONALLY-failing statements: a
    * handful of queries assert that a write is REJECTED (CHECK gates,
    * failure-injected RTAS). Spark logs every aborted write and
    * failed task at ERROR with full stacks, which makes a green bench
    * tail read like a crash. This announces the expected failure and
    * silences exactly the abort-path loggers for exactly the body —
    * levels restored in a finally, nothing else suppressed. */
  private[queries] def expectedFailure[T](tag: String)(body: => T): T = {
    println(s"$tag: expected failure next — the statement below is " +
      "REQUIRED to fail and is asserted by the query itself")
    val quieted = Seq(
      "org.apache.spark.util.Utils",
      "org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager",
      "org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask",
      "org.apache.spark.sql.execution.datasources.v2.AppendDataExec",
      "org.apache.spark.sql.execution.datasources.v2.OverwriteByExpressionExec",
      "org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec",
      "org.apache.spark.sql.execution.datasources.v2.ReplaceTableAsSelectExec",
      "org.apache.spark.sql.execution.datasources.v2.AtomicReplaceTableAsSelectExec",
      "org.apache.spark.sql.execution.datasources.v2.WriteToDataSourceV2Exec",
      "org.apache.spark.sql.execution.streaming.MicroBatchExecution",
      // a registered QueryExecutionListener re-triggers the failed
      // lazy plan on onFailure and the BUS logs the rethrow at ERROR
      // with the full stack — the one emitter the r17 list missed
      // (this was the actual source of q7U's bench-tail stacks)
      "org.apache.spark.sql.util.ExecutionListenerBus")
    val prior = quieted.map(n =>
      n -> org.apache.logging.log4j.LogManager.getLogger(n).getLevel)
    quieted.foreach(n => org.apache.logging.log4j.core.config.Configurator
      .setLevel(n, org.apache.logging.log4j.Level.OFF))
    try body
    finally prior.foreach { case (n, l) =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(n, l)
    }
  }

  private def snapDir(s: SparkSession, dir: String, name: String): String = {
    val base = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-snap/${new java.io.File(dir).getName}/$name").getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }
}
