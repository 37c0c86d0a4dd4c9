package graft.ops

import graft.OpCaches.scratch
import graft.Tables._
import graft.ingest.CsvIngest
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingest operators as driver-contract queries (SURVEY.md §2.1): each
  * synthesizes deterministic CSV files from the fixture tables, runs the
  * real ingest path over them, and returns the parsed frame — so the DuckDB
  * oracle can reconstruct the expected output straight from the fixtures
  * without ever seeing the CSVs.
  */
object Ingest {
  import Relational.{totalOrder, orderAll}

  /** Events slice used to generate pulse files: first 50 rows (by ts,
    * event_id) of users 1-3. */
  private def pulseSlice(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    load(spark, dir, "events")
      .filter(col("user_id").between(1, 3))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 50)
  }

  private[graft] def writeFile(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  /** Write the three residential-format pulse files (3 metadata lines +
    * Time,Pulses rows, loader.py:121-161) into `target` — shared by the
    * batch scan op and the streaming ingest loop so both carry the same
    * fixture-reconstruction oracle. */
  private[graft] def writePulseFiles(spark: SparkSession, dir: String, target: Path): Unit = {
    val rows = pulseSlice(spark, dir)
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
        floor(col("value")).cast("long").as("p"))
      .collect()
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val qc = if (u % 2 == 0) "QC" else ""
      val body = rs.sortBy(r => (r.getString(1), r.getLong(2)))
        .map(r => s"${r.getString(1)},${r.getLong(2)}").mkString("\n")
      writeFile(target, s"site$u.csv",
        s"Site: ${100 + u}\nDatalogger: ${200 + u}\nMeter #${300 + u}$qc\nTime,Pulses\n$body\n")
    }
  }

  /** scan_csv_pulses: write one residential-format file per user, ingest
    * through [[CsvIngest.readPulseCsv]], return the tagged points. */
  def scanCsvPulses(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Paths.get(scratch(spark, "pulses"))
    writePulseFiles(spark, dir, tmp)
    totalOrder(CsvIngest.readPulseCsv(spark, tmp.toString)
      .select(col("measurement"), col("siteID"), col("dataloggerID"),
        col("meterID"), col("qc"), col("time"), col("pulses")))
  }

  /** scan_csv_campus + quarantine: a 7-col file (building a), a 4-col file
    * (building b; temps land null via the superset schema), and two
    * malformed lines that must be quarantined, not parsed
    * (transfer_manager.py:87-121; loader.py:48-66). Returns the good rows. */
  def scanCsvCampus(spark: SparkSession, dir: String): DataFrame =
    totalOrder(campusParsed(spark, dir)._1
      .select(col("buildingID"), col("time"), col("coldInFlowRate"),
        col("hotInFlowRate"), col("hotOutFlowRate"), col("hotInTemp"),
        col("hotOutTemp"), col("coldInTemp")))

  /** sink_quarantine: the corrupt-row channel of the same parse. The two
    * malformed lines are fixed strings, so the oracle is a VALUES list. */
  def sinkQuarantine(spark: SparkSession, dir: String): DataFrame =
    totalOrder(campusParsed(spark, dir)._2.select(col("raw_line")))

  private def campusParsed(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = pulseSlice(spark, dir)
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
        round(col("value"), 2).as("v"))
      .collect().sortBy(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val tmp = Paths.get(scratch(spark, "campus"))
    def lines7(rs: Seq[Row]) = rs.map { r =>
      val v = r.getDouble(2)
      s"${r.getString(1)},$v,${v + 1.0},${v + 2.0},${v + 3.0},${v + 4.0},${v + 5.0}"
    }
    def lines4(rs: Seq[Row]) = rs.map { r =>
      val v = r.getDouble(2)
      s"${r.getString(1)},$v,${v + 1.0},${v + 2.0}"
    }
    val u1 = ev.filter(_.getLong(0) == 1).toSeq
    val u2 = ev.filter(_.getLong(0) == 2).toSeq
    writeFile(tmp, "llc-a_multi_meter.csv",
      "# campus meter export\n" +
        "Date,coldInFlowRate,hotInFlowRate,hotOutFlowRate,hotInTemp,hotOutTemp,coldInTemp\n" +
        lines7(u1).mkString("\n") +
        "\n2024-01-01 00:00:00,not_a_number,1.0,2.0,3.0,4.0,5.0\n" +
        "2024-01-01 00:00:01,1.0,also_bad,2.0,3.0,4.0,5.0\n")
    writeFile(tmp, "llc-b_multi_meter.csv",
      "# campus meter export\n" +
        "Date,coldInFlowRate,hotInFlowRate,hotOutFlowRate\n" +
        lines4(u2).mkString("\n") + "\n")
    CsvIngest.quarantineSplit(CsvIngest.readCampusCsv(spark, tmp.toString))
  }

  /** source_http_upload (web_service.py:35-70 + auth.py:15-47): the upload
    * gate re-expressed relationally. Per source "client", a batch token is
    * sha256(hourly_salt:secret:joined-filenames) (auth.py:71-80); clients
    * whose source starts with a vowel present a stale-salt token and fail
    * auth (auth.py:42-47); authorized files then pass the `.csv` extension
    * allowlist (web_service.py:55-59). Returns every file with its verdict. */
  def sourceHttpUpload(spark: SparkSession, dir: String): DataFrame = {
    val salt = unix_timestamp(lit("2024-01-01 12:00:00").cast("timestamp"))
    val files = load(spark, dir, "documents")
      .withColumn("fname", concat(col("source"), lit("_"), col("doc_id"),
        when(col("doc_id") % 3 === 0, ".csv")
          .when(col("doc_id") % 3 === 1, ".CSV")
          .otherwise(".txt")))
      .select(col("doc_id"), col("source"), col("fname"))
    val batches = files.groupBy(col("source"))
      .agg(concat_ws(":", sort_array(collect_list(col("fname")))).as("names"))
      .withColumn("payload", concat_ws(":", salt, lit("secret"), col("names")))
      .withColumn("token", sha2(col("payload"), 256))
      .withColumn("client_token",
        when(substring(col("source"), 1, 1).isin("a", "e", "i", "o", "u"),
          sha2(concat(lit("stale:"), col("payload")), 256))
          .otherwise(sha2(col("payload"), 256)))
      .select(col("source"), col("token"), col("client_token"))
    totalOrder(files.join(broadcast(batches), "source")
      .withColumn("status",
        when(col("client_token") =!= col("token"), "rejected_auth")
          .when(lower(substring_index(col("fname"), ".", -1)) =!= "csv",
            "rejected_ext")
          .otherwise("accepted"))
      .select(col("doc_id"), col("source"), col("fname"), col("status")))
  }

  /** source_sftp_pull (transfer_manager.py:195-230): incremental sync as a
    * relational diff. Remote listing = documents (size = n_chars); in-flight
    * files (doc_id % 17 = 0, the mtime>now analog of :197) are skipped;
    * local already holds doc_id % 3 = 0, but every 9th changed size upstream
    * (:199-208) → re-fetch; everything else new locally → fetch (:209-217). */
  def sourceSftpPull(spark: SparkSession, dir: String): DataFrame = {
    val remote = load(spark, dir, "documents")
      .withColumn("fname", concat(col("source"), lit("_"), col("doc_id"), lit(".csv")))
      .select(col("doc_id"), col("fname"), col("n_chars").as("r_size"))
    val inFlight = col("doc_id") % 17 === 0
    val local = remote.filter(col("doc_id") % 3 === 0)
      .withColumn("l_size",
        when(col("doc_id") % 9 === 0, col("r_size") - 1).otherwise(col("r_size")))
      .select(col("doc_id"), col("l_size"))
    totalOrder(remote.filter(!inFlight)
      .join(local, Seq("doc_id"), "left_outer")
      .filter(col("l_size").isNull || col("l_size") =!= col("r_size"))
      .withColumn("action",
        when(col("l_size").isNull, "fetch_new").otherwise("refetch_changed"))
      .select(col("doc_id"), col("fname"), col("r_size"), col("action")))
  }

  /** sink_archive_move (loader.py:79-84,186-193): post-ingest move of each
    * source file to the target dir with an existence check — run for real on
    * the synthesized pulse files; returns per-file row counts + archived
    * flag read back from the target directory listing. */
  def sinkArchiveMove(spark: SparkSession, dir: String): DataFrame = {
    val rows = pulseSlice(spark, dir)
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
        floor(col("value")).cast("long").as("p"))
      .collect()
    val source = Paths.get(scratch(spark, "archive_src"))
    val target = Paths.get(scratch(spark, "archive_tgt"))
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val body = rs.sortBy(r => (r.getString(1), r.getLong(2)))
        .map(r => s"${r.getString(1)},${r.getLong(2)}").mkString("\n")
      writeFile(source, s"site$u.csv",
        s"Site: ${100 + u}\nDatalogger: ${200 + u}\nMeter #${300 + u}\nTime,Pulses\n$body\n")
    }
    // materialize the parse BEFORE the move — the commit point of the
    // reference's drain protocol (parse, write, then relocate)
    val counts = CsvIngest.readPulseCsv(spark, source.toString)
      .groupBy(col("siteID")).agg(count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // the move protocol: relocate each drained file, then verify existence
    // in the target before trusting the commit (loader.py:79-84)
    Files.list(source).forEach { f =>
      java.nio.file.Files.move(f, target.resolve(f.getFileName))
    }
    val archivedSet = Files.list(target).map[String](_.getFileName.toString)
      .toArray.map(_.toString).toSet
    import spark.implicits._
    totalOrder(counts.toSeq
      .map { case (site, n) =>
        val fname = s"site${site.toLong - 100}.csv"
        (fname, n, archivedSet.contains(fname))
      }
      .toDF("fname", "n_rows", "archived"))
  }

  /** Write the line-protocol landing file the reference's write path emits
    * (`write_points(..., protocol='line')`, loader.py:171-181): one point
    * per pulse-slice row with a float and an integer field, plus fixed
    * lines covering measurement/tag escapes, string and boolean fields, a
    * timestamp-less point, a comment, and a malformed line for the
    * quarantine channel. */
  private[graft] def writeLineProtoFile(spark: SparkSession, dir: String,
    target: Path): Unit = {
    // epoch micros computed engine-side: Row.getTimestamp throws on an NTZ
    // column (returns LocalDateTime), so never let a timestamp object cross
    // the collect boundary — unix_micros after a cast is layout-proof.
    val rows = pulseSlice(spark, dir)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .collect()
      .sortBy(r => (r.getLong(0), r.getLong(1)))
    val pts = rows.map { r =>
      val u = r.getLong(0)
      val ns = r.getLong(1) * 1000L
      s"pulses,siteID=${100 + u},meterID=${300 + u} " +
        s"value=${r.getDouble(2)},count=${math.floor(r.getDouble(2)).toLong}i $ns"
    }
    val extras = Seq(
      "pul\\ ses,siteID=esc\\ aped,meterID=m\\=1 " +
        "note=\"qc\\\"d\",ok=true 1704067200000000000",
      "pulses,siteID=101,meterID=301 value=1.5",
      "# a comment",
      "pulses nofieldshere 123")
    writeFile(target, "points.lp", (pts ++ extras).mkString("\n") + "\n")
  }

  /** lineproto_ingest: drain the landing file through the declarative
    * [[graft.ingest.LineProtocol]] parse — good (point, field) rows come
    * back flat; the malformed line rides the is_bad quarantine channel
    * (spec-gated), mirroring the CSV dead-letter convention. */
  def lineprotoIngest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Paths.get(scratch(spark, "lineproto"))
    writeLineProtoFile(spark, dir, tmp)
    val lines = spark.read.text(tmp.toString).withColumnRenamed("value", "line")
    val parsed = graft.ingest.LineProtocol.tagCols(
      graft.ingest.LineProtocol.parseLines(lines), Seq("siteID", "meterID"))
    totalOrder(parsed.filter(!col("is_bad"))
      .select(col("measurement"), col("siteID"), col("meterID"), col("time"),
        col("field_key"), col("f_double"), col("f_long"), col("f_str"),
        col("f_bool")))
  }

  /** One landing per (session, fixture dir) — the nDocsMemo discipline:
    * scan_jsonl_corpus and sink_jsonl_quarantine are two views of the
    * SAME landed corpus, so re-landing per call (the round-10 shape) was
    * both wasted write volume and a temp-dir leak. The landing is built
    * [[graft.OpCaches.once]] (deleted at session release), and the parse
    * is memoized per (session, landing). */
  private val jsonlMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** Land the documents table as JSONL text shards plus deterministic
    * corrupt lines, and parse it back schema-first — shared by the scan op
    * and its quarantine twin so both sides of the fork carry fixture-
    * reconstruction oracles. The landing write is DISTRIBUTED (`to_json`
    * per row, `write.text` — never a driver collect) under the scratch
    * root (a shared FS on a cluster), because a 100 TB
    * corpus lands the same way. The corrupt lines are truncated JSON (the
    * classic mid-write crash artifact), one per doc_id % 97 — derived from
    * the fixtures, so the quarantine content itself is oracle-checkable. */
  private def jsonlParsed(spark: SparkSession, dir: String): DataFrame = {
    val landed = graft.OpCaches.once(spark, dir + "#jsonl", "graft-jsonl")(
      landJsonl(spark, dir, _))
    if (jsonlMemo.size > 64) jsonlMemo.clear()
    val df = jsonlMemo.computeIfAbsent((spark, landed), _ =>
      // schema-FIRST read (never inferred — inference is a second full
      // pass and silently widens types under dirty data) in PERMISSIVE
      // mode: a malformed line lands whole in the corrupt-record column
      // instead of killing the job (the loader.py:52-66 quarantine posture)
      spark.read.schema("doc_id BIGINT, text STRING, lang STRING, " +
          "source STRING, n_chars BIGINT, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(landed))
    // the memoized plan outlives the per-query OpCaches.releaseAll(); the
    // quarantine view selects ONLY the corrupt-record column, which Spark
    // permits solely on a cached parse — so re-register whenever released
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      graft.OpCaches.cached(df)
    else df
  }

  private def landJsonl(spark: SparkSession, dir: String, out: String): Unit = {
    val docs = load(spark, dir, "documents")
    val good = docs.select(to_json(struct(col("doc_id"), col("text"),
      col("lang"), col("source"), col("n_chars"))).as("value"))
    val bad = docs.filter(col("doc_id") % 97 === 0)
      .select(concat(lit("{\"doc_id\": "), col("doc_id"),
        lit(", \"text\": \"trunc")).as("value"))
    // mixed-schema artifact (round-10 verdict item 8): a producer that
    // writes ids as JSON strings — VALID JSON, wrong type. The
    // schema-first read must quarantine it (doc_id BIGINT refuses a
    // string token), not coerce or null it; one per doc_id % 131 == 5,
    // disjoint from the truncation family
    val mixed = docs.filter(col("doc_id") % 131 === 5)
      .select(concat(lit("{\"doc_id\": \""), col("doc_id"),
        lit("\", \"text\": \"mixed schema\", \"n_chars\": 1}")).as("value"))
    good.unionAll(bad).unionAll(mixed).write.mode("overwrite").text(out)
  }

  /** scan_jsonl_corpus: the JSONL document source — the interchange format
    * LLM corpora actually ship in (one JSON object per line). Good rows
    * parse back byte-exactly (text md5-pinned through the JSON escape
    * round-trip); malformed lines fork to [[sinkJsonlQuarantine]], never
    * silently dropped. */
  def scanJsonlCorpus(spark: SparkSession, dir: String): DataFrame =
    totalOrder(jsonlParsed(spark, dir)
      .filter(col("_bad").isNull)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5")))

  /** sink_jsonl_quarantine: the corrupt-line channel of the same parse —
    * the raw lines land intact, and because they are derived from the
    * fixtures the oracle reconstructs their exact bytes (the quarantine
    * channel itself is hash-proven, the sink_quarantine idiom). */
  def sinkJsonlQuarantine(spark: SparkSession, dir: String): DataFrame =
    totalOrder(jsonlParsed(spark, dir)
      .filter(col("_bad").isNotNull)
      .select(col("_bad").as("raw_line")))

  // ----------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_jsonl_corpus" -> scanJsonlCorpus,
    "sink_jsonl_quarantine" -> sinkJsonlQuarantine,
    "scan_csv_pulses" -> scanCsvPulses,
    "scan_csv_campus" -> scanCsvCampus,
    "sink_quarantine" -> sinkQuarantine,
    "source_http_upload" -> sourceHttpUpload,
    "source_sftp_pull" -> sourceSftpPull,
    "sink_archive_move" -> sinkArchiveMove,
    "lineproto_ingest" -> lineprotoIngest)

  private val slice =
    """SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS t,
      |    value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE user_id BETWEEN 1 AND 3""".stripMargin

  val oracle: Map[String, String] = Map(
    "scan_jsonl_corpus" ->
      s"""SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
         |FROM documents
         |${orderAll("doc_id", "lang", "source", "n_chars", "text_md5")}""".stripMargin,
    "sink_jsonl_quarantine" ->
      s"""SELECT '{"doc_id": ' || doc_id || ', "text": "trunc' AS raw_line
         |FROM documents WHERE doc_id % 97 = 0
         |UNION ALL
         |SELECT '{"doc_id": "' || doc_id
         |  || '", "text": "mixed schema", "n_chars": 1}' AS raw_line
         |FROM documents WHERE doc_id % 131 = 5
         |${orderAll("raw_line")}""".stripMargin,
    "lineproto_ingest" ->
      s"""WITH s AS (
         |  SELECT user_id, CAST(ts AS TIMESTAMP) AS time, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS rn
         |  FROM events WHERE user_id BETWEEN 1 AND 3),
         |p AS (SELECT * FROM s WHERE rn <= 50)
         |SELECT 'pulses' AS measurement,
         |  CAST(100 + user_id AS VARCHAR) AS siteID,
         |  CAST(300 + user_id AS VARCHAR) AS meterID, time,
         |  'value' AS field_key, value AS f_double,
         |  CAST(NULL AS BIGINT) AS f_long, CAST(NULL AS VARCHAR) AS f_str,
         |  CAST(NULL AS BOOLEAN) AS f_bool
         |FROM p
         |UNION ALL
         |SELECT 'pulses', CAST(100 + user_id AS VARCHAR),
         |  CAST(300 + user_id AS VARCHAR), time, 'count', NULL,
         |  CAST(floor(value) AS BIGINT), NULL, NULL
         |FROM p
         |UNION ALL
         |SELECT 'pul ses', 'esc aped', 'm=1',
         |  TIMESTAMP '2024-01-01 00:00:00', 'note', NULL, NULL, 'qc"d', NULL
         |UNION ALL
         |SELECT 'pul ses', 'esc aped', 'm=1',
         |  TIMESTAMP '2024-01-01 00:00:00', 'ok', NULL, NULL, NULL, true
         |UNION ALL
         |SELECT 'pulses', '101', '301', CAST(NULL AS TIMESTAMP), 'value',
         |  1.5, NULL, NULL, NULL
         |${orderAll("measurement", "siteID", "meterID", "time", "field_key",
           "f_double", "f_long", "f_str", "f_bool")}""".stripMargin,
    "scan_csv_pulses" ->
      s"""WITH s AS ($slice)
         |SELECT CASE WHEN user_id % 2 = 0 THEN 'QCData' ELSE 'RawData' END
         |    AS measurement,
         |  CAST(100 + user_id AS VARCHAR) AS siteID,
         |  CAST(200 + user_id AS VARCHAR) AS dataloggerID,
         |  CAST(300 + user_id AS VARCHAR) AS meterID,
         |  user_id % 2 = 0 AS qc,
         |  strptime(t, '%Y-%m-%d %H:%M:%S') AS time,
         |  CAST(floor(value) AS BIGINT) AS pulses
         |FROM s WHERE rn <= 50
         |${orderAll("measurement", "siteID", "time", "pulses")}""".stripMargin,
    "scan_csv_campus" ->
      s"""WITH s AS ($slice)
         |SELECT 'A' AS buildingID, strptime(t, '%Y-%m-%d %H:%M:%S') AS time,
         |  round(value, 2) AS coldInFlowRate,
         |  round(value, 2) + 1.0 AS hotInFlowRate,
         |  round(value, 2) + 2.0 AS hotOutFlowRate,
         |  round(value, 2) + 3.0 AS hotInTemp,
         |  round(value, 2) + 4.0 AS hotOutTemp,
         |  round(value, 2) + 5.0 AS coldInTemp
         |FROM s WHERE rn <= 50 AND user_id = 1
         |UNION ALL
         |SELECT 'B', strptime(t, '%Y-%m-%d %H:%M:%S'),
         |  round(value, 2), round(value, 2) + 1.0, round(value, 2) + 2.0,
         |  NULL, NULL, NULL
         |FROM s WHERE rn <= 50 AND user_id = 2
         |${orderAll("buildingID", "time", "coldInFlowRate")}""".stripMargin,
    "sink_quarantine" ->
      s"""SELECT * FROM (VALUES
         |  ('2024-01-01 00:00:00,not_a_number,1.0,2.0,3.0,4.0,5.0'),
         |  ('2024-01-01 00:00:01,1.0,also_bad,2.0,3.0,4.0,5.0'))
         |  AS t(raw_line)
         |${orderAll("raw_line")}""".stripMargin,
    "source_http_upload" ->
      s"""WITH files AS (
         |  SELECT doc_id, source,
         |    source || '_' || CAST(doc_id AS VARCHAR) ||
         |      (CASE WHEN doc_id % 3 = 0 THEN '.csv'
         |            WHEN doc_id % 3 = 1 THEN '.CSV' ELSE '.txt' END) AS fname
         |  FROM documents),
         |batches AS (
         |  SELECT source,
         |    CAST(epoch(TIMESTAMP '2024-01-01 12:00:00') AS BIGINT)
         |      || ':secret:' || string_agg(fname, ':' ORDER BY fname) AS payload
         |  FROM files GROUP BY source),
         |tokens AS (
         |  SELECT source, sha256(payload) AS token,
         |    CASE WHEN substring(source, 1, 1) IN ('a','e','i','o','u')
         |      THEN sha256('stale:' || payload) ELSE sha256(payload) END
         |      AS client_token
         |  FROM batches)
         |SELECT f.doc_id, f.source, f.fname,
         |  CASE WHEN t.client_token <> t.token THEN 'rejected_auth'
         |       WHEN lower(split_part(f.fname, '.', -1)) <> 'csv'
         |         THEN 'rejected_ext'
         |       ELSE 'accepted' END AS status
         |FROM files f JOIN tokens t ON f.source = t.source
         |ORDER BY f.doc_id NULLS FIRST, f.source NULLS FIRST,
         |  f.fname NULLS FIRST, status NULLS FIRST""".stripMargin,
    "source_sftp_pull" ->
      s"""WITH remote AS (
         |  SELECT doc_id,
         |    source || '_' || CAST(doc_id AS VARCHAR) || '.csv' AS fname,
         |    n_chars AS r_size
         |  FROM documents),
         |local AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 0 THEN r_size - 1 ELSE r_size END AS l_size
         |  FROM remote WHERE doc_id % 3 = 0)
         |SELECT r.doc_id, r.fname, r.r_size,
         |  CASE WHEN l.l_size IS NULL THEN 'fetch_new'
         |       ELSE 'refetch_changed' END AS action
         |FROM remote r LEFT JOIN local l ON r.doc_id = l.doc_id
         |WHERE r.doc_id % 17 <> 0
         |  AND (l.l_size IS NULL OR l.l_size <> r.r_size)
         |ORDER BY r.doc_id NULLS FIRST, r.fname NULLS FIRST,
         |  r.r_size NULLS FIRST, action NULLS FIRST""".stripMargin,
    "sink_archive_move" ->
      s"""WITH s AS ($slice)
         |SELECT 'site' || CAST(user_id AS VARCHAR) || '.csv' AS fname,
         |  COUNT(*) AS n_rows, TRUE AS archived
         |FROM s WHERE rn <= 50 GROUP BY user_id
         |${orderAll("fname", "n_rows", "archived")}""".stripMargin)
}
