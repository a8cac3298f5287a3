package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark driver for one run of one workload.
  *
  * {{{
  * perfbench.Main --workload <name> --work <dir> --setups <k> --trace <0|1>
  *   (--queries <file> | --ops <n> --feed <file> --warmup <n>)
  * }}}
  *
  * One client thread drives the engine in a closed loop: each op starts
  * when the previous one has returned. The run first sets up `k` times
  * (each on its own copy of the inputs, `<work>/data/rep<i>`, so no
  * set-up reuses another's artifacts), keeps the last session, then
  * times the ops: one per line of `--queries`, or `n` ETL batches.
  * `graft.streaming.Prebuild` is not run: its fixtures are built by the
  * first op that reads them, inside that op's time. The run writes
  * `<work>/out.json` (per-op timings, set-up timings, per-layer
  * counters), `<work>/spans.jsonl`, and the op outputs under
  * `<work>/results` for the checker.
  */
object Main {
  final case class Opts(workload: String, work: Path, ops: Int,
      setups: Int, trace: Boolean, queries: Seq[String],
      feed: Option[Path], warmup: Int, cores: Int) {
    def data(rep: Int): String = work.resolve(s"data/rep$rep").toString
  }

  /** One timed op: wall time, the layer split, and its outcome. */
  final case class Op(name: String, ms: Double, ok: Boolean,
      error: String, parts: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    val queries = kv.get("queries").map(f => scala.io.Source.fromFile(f)
      .getLines().map(_.trim).filter(_.nonEmpty).toList).getOrElse(Nil)
    val o = Opts(kv("workload"), work,
      kv.get("ops").map(_.toInt).getOrElse(queries.size),
      kv.getOrElse("setups", "1").toInt, kv.getOrElse("trace", "0") == "1",
      queries,
      kv.get("feed").map(Paths.get(_)), kv.getOrElse("warmup", "0").toInt,
      Runtime.getRuntime.availableProcessors())
    // the feed server and Spark keep non-daemon threads: exit explicitly
    val code = try { run(o, work); 0 }
    catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(o: Opts, work: Path): Unit = {
    val hostLoad = loadavg
    val spin = spinMs
    val result =
      if (o.workload == "etl_incremental") new Etl(o).run()
      else new QueryOps(o).run()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "cores" -> o.cores,
      "loadavg" -> hostLoad, "spin_ms" -> spin) ++ result
    out("peak_rss_mb") = Jvm.peakRssMb
    Files.writeString(work.resolve("out.json"), Json.value(out.toMap))
  }

  /** Session as every workload uses it: one JVM, `local[cores]`,
    * shuffle width = cores, the engine's SQL functions registered.
    */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    spark
  }

  /** Warm-up for the query workloads: table scans, a hash aggregate,
    * a window sort and a broadcast join.
    */
  def warmup(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    Seq("region", "nation", "customer", "orders", "events", "documents")
      .foreach(t => graft.sources.Tables.read(spark, dir, t).count())
    val ev = graft.sources.Tables.events(spark, dir).limit(10000)
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)), sum(col("value").cast("decimal(18,2)"))).collect()
    ev.withColumn("rn", row_number().over(
      Window.partitionBy(col("user_id")).orderBy(col("event_id"))))
      .filter(col("rn") === 1).count()
    ev.join(broadcast(graft.sources.Tables.customer(spark, dir)),
      col("user_id") === col("c_custkey"), "left")
      .select(to_date(col("ts")).cast("string")).collect()
  }

  /** Sets up `o.setups` times and keeps the last session. Each set-up
    * is timed in two parts: the session (build plus the engine's SQL
    * functions) and the warm-up, where `extra` runs the workload's own
    * set-up; `drop` tears down an earlier set-up's result before the
    * next one starts. Set-up `i` reads its own copy of the inputs, so
    * none reuses another's memos.
    */
  def setUp[A](o: Opts)(extra: (SparkSession, Int) => A)(
      drop: A => Unit = (_: A) => ()): (SparkSession, A, Seq[Map[String, Double]]) = {
    var last: Option[(SparkSession, A)] = None
    val reps = (1 to o.setups).map { rep =>
      last.foreach { case (s, a) =>
        drop(a); graft.Caches.releaseAll(s); s.stop()
      }
      val t0 = System.nanoTime()
      val spark = session(o)
      val t1 = System.nanoTime()
      val a = extra(spark, rep)
      val t2 = System.nanoTime()
      last = Some((spark, a))
      progress(f"set-up $rep: session ${(t1 - t0) / 1e6}%.0f ms, " +
        f"warm-up ${(t2 - t1) / 1e6}%.0f ms")
      Map("session_ms" -> (t1 - t0) / 1e6, "warmup_ms" -> (t2 - t1) / 1e6,
        "total_ms" -> (t2 - t0) / 1e6)
    }
    (last.get._1, last.get._2, reps)
  }

  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def setupFields(reps: Seq[Map[String, Double]]): Seq[(String, Any)] = Seq(
    "setup_reps" -> reps,
    "setup.session_ms" -> median(reps.map(_("session_ms"))),
    "setup.warmup_ms" -> median(reps.map(_("warmup_ms"))),
    "setup_s" -> median(reps.map(_("total_ms"))) / 1000.0)

  /** Per-op fields and the run-level readings shared by both kinds of
    * workload; `trace` adds the Spark listener counters.
    */
  def opFields(ops: Seq[Op], trace: Option[SparkTrace], gcMs: Long,
      work: Path): Seq[(String, Any)] = {
    val wall = ops.map(_.ms).sum
    Seq(
      "ops" -> ops.map(op => Map("name" -> op.name, "ms" -> op.ms,
        "ok" -> op.ok, "error" -> op.error) ++ op.parts),
      "total_ms" -> wall,
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "caches.tmp_mb_after" -> Jvm.dirMb(work.resolve("tmp"))) ++
      trace.toSeq.flatMap(_.metrics(wall))
  }

  /** Host-noise marker: 1-minute load average when the run starts. */
  def loadavg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0)
      .toDouble
    catch { case _: Throwable => -1.0 }

  /** Host-noise marker: wall time of a fixed single-thread spin. */
  def spinMs: Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 0L) println("")
    dt
  }
}
