package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PhoneMerge, TextFunctions}
import graft.sources.{Http, Jdbc}

/** In-JVM upstream for the contact feed: serves the feed's JSON lines
  * by keyset (`?after=<id>&limit=<n>`), but only the rows released so
  * far; each [[release]] makes one more page visible, as a live CRM
  * accrues new records between batches.
  */
final class FeedServer(lines: Array[String], pageSize: Int) {
  private val ids = lines.map { l =>
    "\"id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
  }
  private val released = new AtomicInteger(0)
  val requests = new AtomicLong()
  val bytes = new AtomicLong()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/contacts", (ex: HttpExchange) => {
    val q = ex.getRequestURI.getRawQuery.split('&').map { kv =>
      val Array(k, v) = kv.split('='); k -> v
    }.toMap
    val after = q("after").toLong
    val n = released.get
    val lo = {
      val i = java.util.Arrays.binarySearch(ids, 0, n, after + 1)
      if (i >= 0) i else -i - 1
    }
    val body = lines.slice(lo, math.min(n, lo + q("limit").toInt))
      .mkString("\n").getBytes(UTF_8)
    requests.incrementAndGet()
    bytes.addAndGet(body.length)
    ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  })
  server.start()

  def release(): Unit =
    released.updateAndGet(r => math.min(lines.length, r + pageSize))
  def url(after: Long, limit: Int): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/contacts?after=$after&limit=$limit"
  def stop(): Unit = server.stop(0)
}

/** Rows fetched, inserted and updated by one ETL batch. */
final case class Landed(fetched: Long, inserted: Long, updated: Long)

/** The reference's `run-etl` loop as a workload: every op is one
  * incremental batch over the contact feed, in the reference's six
  * timed steps, against an embedded Derby sink.
  */
final class Etl(o: Main.Opts) {
  val PageSize = 1000
  val Started = 0
  val Success = 1
  val Slots: Seq[String] =
    "tel_no" +: (2 to PhoneMerge.SlotCount).map(i => s"tel_no$i")
  val FeedSchema: StructType = new StructType()
    .add("id", LongType).add("code", LongType)
    .add("name", StringType).add("phones", StringType)
  val LogSchema: StructType = new StructType()
    .add("batch_no", IntegerType).add("last_id", LongType)
    .add("status", IntegerType).add("n_rows", IntegerType)
    .add("ts", TimestampType)
  /** Spark's JDBC writer binds strings (and their nulls) as Derby
    * CLOBs, which Derby cannot compare: the sink is keyed and filtered
    * on BIGINT columns only, and the log status is an integer code.
    */
  val ContactCols: String = ("code BIGINT NOT NULL, name CLOB, " +
    Slots.map(s => s"$s CLOB").mkString(", ") +
    ", note_other CLOB, last_src_id BIGINT")

  final class Sink(val server: FeedServer, val url: String) {
    val conn: java.sql.Connection = java.sql.DriverManager.getConnection(url)
    def exec(sqls: String*): Int = {
      val st = conn.createStatement()
      try sqls.map(st.executeUpdate).sum finally st.close()
    }
    exec(s"CREATE TABLE contacts ($ContactCols, PRIMARY KEY (code))",
      s"CREATE TABLE contacts_stage ($ContactCols)",
      "CREATE TABLE migrate_log (batch_no INT, last_id BIGINT, " +
        "status INT, n_rows INT, ts TIMESTAMP)")
    var batches = 0
    def close(): Unit = { try conn.close() catch { case _: Throwable => () }; server.stop() }
  }

  def run(): Seq[(String, Any)] = {
    val feed = Files.readAllLines(o.feed.get).asScala.toArray
    val (spark, sink, reps) = Main.setUp(o) { (spark, rep) =>
      val sink = new Sink(new FeedServer(feed, PageSize),
        Jdbc.tempDerbyUrl(s"perfbench$rep"))
      val warm = new Spans
      (0 until o.warmup).foreach(b => batch(spark, sink, warm, -1 - b))
      sink
    }(_.close())
    val trace = if (o.trace) Some(new SparkTrace(spark)) else None
    trace.foreach(_.attach())
    val spans = new Spans
    val req0 = sink.server.requests.get
    val bytes0 = sink.server.bytes.get
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val landed = (0 until o.ops).map { i =>
      trace.foreach(_.opStart())
      val (l, ms) = spans("op", i) {
        try Right(batch(spark, sink, spans, i))
        catch { case t: Throwable => Left(t.toString.take(500)) }
      }
      trace.foreach(_.opEnd())
      (l, ms)
    }
    val gc = Jvm.gcMs - gc0
    trace.foreach(_.settle())
    val ops = landed.map { case (l, ms) =>
      Main.Op("batch", ms, l.isRight, l.left.getOrElse(""), Map("rows" ->
        l.map(_.fetched.toDouble).getOrElse(0.0)))
    }
    val ok = landed.flatMap(_._1.toOption)
    val steps = Seq("getLastId", "fetchData", "saveLogStart",
      "deleteOldRecords", "saveToPostgres", "saveLogFinish")
    val fields = Main.setupFields(reps) ++
      Main.opFields(ops, trace, gc, o.work) ++
      steps.map(s => s"etl.${s}_ms" -> spans.total(s"etl.$s")) ++ Seq(
        "rows_fetched" -> ok.map(_.fetched).sum,
        "sources.http.requests" -> (sink.server.requests.get - req0),
        "sources.http.bytes" -> (sink.server.bytes.get - bytes0),
        "sources.jdbc.rows_inserted" -> ok.map(_.inserted).sum,
        "sources.jdbc.rows_updated" -> ok.map(_.updated).sum,
        "sources.jdbc.rows_written" -> ok.map(l => l.inserted + l.updated).sum,
        "batches" -> sink.batches,
        "caches.persistent_rdds_after" ->
          spark.sparkContext.getPersistentRDDs.size)
    spans.write(o.work.resolve("spans.jsonl"))

    // untimed: the sink and the log, for the exactly-once check
    val res = Files.createDirectories(o.work.resolve("results"))
    dump(sink, "SELECT * FROM contacts ORDER BY code", res.resolve("contacts.jsonl"))
    dump(sink, "SELECT batch_no, last_id, status, n_rows FROM migrate_log " +
      "ORDER BY batch_no, status", res.resolve("migrate_log.jsonl"))
    sink.close()
    graft.Caches.releaseAll(spark)
    spark.stop()
    fields
  }

  /** One incremental batch, each of the reference's steps in its own
    * span: watermark read, keyset fetch, log start, delete beyond the
    * watermark, fold-and-save, log finish.
    */
  def batch(spark: SparkSession, sink: Sink, spans: Spans, op: Int): Landed = {
    sink.server.release()
    sink.batches += 1
    val no = sink.batches
    val (wm, _) = spans("etl.getLastId", op) {
      val r = Jdbc.readTableWhole(spark, sink.url, "migrate_log")
        .filter(col("status") === Success)
        .agg(max(col("last_id"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val (fetched, _) = spans("etl.fetchData", op) {
      Http.fetchKeysetPaginated(spark, sink.server.url, FeedSchema, "id",
        startAfter = wm, pageSize = PageSize)
    }
    spans("etl.saveLogStart", op)(writeLog(spark, sink, no, wm, Started, 0))
    spans("etl.deleteOldRecords", op)(
      sink.exec(s"DELETE FROM contacts WHERE last_src_id > $wm"))
    val (landed, _) = spans("etl.saveToPostgres", op)(save(spark, sink, fetched))
    spans("etl.saveLogFinish", op)(writeLog(spark, sink, no,
      landed._2, Success, landed._1.fetched.toInt))
    landed._1
  }

  /** Fold the batch per contact (phones in feed order through
    * `TextFunctions.extractPhones` and `PhoneMerge`), merge with the
    * sink's current row, and route each contact to insert or update.
    * Returns what landed and the batch's max id.
    */
  def save(spark: SparkSession, sink: Sink, fetched: DataFrame): (Landed, Long) = {
    val perCode = fetched.groupBy(col("code")).agg(
      sort_array(collect_list(struct(col("id"),
        TextFunctions.extractPhones(col("phones")).as("p"),
        col("name")))).as("recs"))
      .select(col("code"), col("recs.name").as("names"),
        flatten(col("recs.p")).as("new_phones"),
        element_at(col("recs.id"), -1).as("last_src_id"),
        size(col("recs")).as("n"))
    val incoming = perCode.collect()
    if (incoming.isEmpty) return (Landed(0, 0, 0), 0L)
    val keys = incoming.map(_.getLong(0))
    val existing = Jdbc.readTableWhole(spark, sink.url, "contacts")
      .filter(col("code").isin(keys.toSeq: _*))
      .select(col("code").as("old_code"),
        array(Slots.map(col): _*).as("old_slots"),
        col("note_other").as("old_note"))
    val merged = PhoneMerge.mergedOrdered(
      coalesce(col("old_slots"), array().cast("array<string>")),
      col("old_note"), col("new_phones"))
    val out = spark.createDataFrame(incoming.toSeq.asJava, perCode.schema)
      .join(existing, col("code") === col("old_code"), "left")
      .withColumn("merged", merged)
      .select(Seq(col("code"), element_at(col("names"), -1).as("name")) ++
        Slots.zipWithIndex.map { case (s, i) =>
          try_element_at(PhoneMerge.slotsOf(col("merged")), lit(i + 1)).as(s)
        } ++ Seq(PhoneMerge.overflowOf(col("merged")).as("note_other"),
          col("last_src_id"), col("old_code").isNull.as("is_new")): _*)
    val rows = out.collect()
    val schema = StructType(out.schema.dropRight(1))
    def frame(rs: Seq[Row]) = spark.createDataFrame(
      rs.map(r => Row.fromSeq(r.toSeq.dropRight(1))).asJava, schema)
    val (ins, upd) = rows.toSeq.partition(_.getBoolean(schema.size))
    val cores = Runtime.getRuntime.availableProcessors()
    if (ins.nonEmpty) Jdbc.writeTable(frame(ins), sink.url, "contacts",
      maxConnections = cores)
    if (upd.nonEmpty) {
      Jdbc.writeTable(frame(upd), sink.url, "contacts_stage",
        maxConnections = cores)
      sink.conn.setAutoCommit(false)
      try {
        sink.exec(
          "DELETE FROM contacts WHERE code IN (SELECT code FROM contacts_stage)",
          "INSERT INTO contacts SELECT * FROM contacts_stage",
          "DELETE FROM contacts_stage")
        sink.conn.commit()
      } catch { case t: Throwable => sink.conn.rollback(); throw t }
      finally sink.conn.setAutoCommit(true)
    }
    (Landed(incoming.map(_.getInt(4).toLong).sum, ins.size, upd.size),
      incoming.map(_.getLong(3)).max)
  }

  def writeLog(spark: SparkSession, sink: Sink, no: Int, lastId: Long,
      status: Int, n: Int): Unit =
    Jdbc.writeTable(spark.createDataFrame(Seq(Row(no, lastId, status, n,
      new java.sql.Timestamp(System.currentTimeMillis()))).asJava, LogSchema),
      sink.url, "migrate_log", maxConnections = 1)

  /** Query result as JSON lines, column names lower-cased. */
  def dump(sink: Sink, sql: String, path: java.nio.file.Path): Unit = {
    val st = sink.conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnName(i).toLowerCase)
      val lines = Iterator.continually(rs).takeWhile(_.next()).map { r =>
        Json.obj(cols.zipWithIndex.map { case (c, i) =>
          c -> (if (md.getColumnType(i + 1) == java.sql.Types.CLOB)
            r.getString(i + 1) else r.getObject(i + 1))
        }: _*)
      }.toList
      Files.write(path, lines.asJava)
    } finally st.close()
  }
}
