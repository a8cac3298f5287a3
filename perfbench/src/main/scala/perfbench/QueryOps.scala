package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The query workloads: each op calls one registry query, collects its
  * full result the way a user receives it, then releases the session's
  * caches (`graft.Caches.releaseAll`, the registry's documented
  * contract). The results are dumped after the timed loop for the
  * DuckDB oracle check.
  */
final class QueryOps(o: Main.Opts) {

  /** Op name that always throws: proves failures are counted. */
  val SelfTest = "selftest_throw"

  def run(): Seq[(String, Any)] = {
    val (spark, _, reps) = Main.setUp(o)((spark, rep) => Main.warmup(spark, o.data(rep)))()
    val dir = o.data(o.setups)
    val trace = if (o.trace) Some(new SparkTrace(spark)) else None
    trace.foreach(_.attach())
    val spans = new Spans
    val registry = graft.Registry.queries
    val outputs = mutable.ArrayBuffer.empty[(Int, String, Array[Row], StructType)]
    var rddsAfter = 0
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val ops = o.queries.zipWithIndex.map { case (name, i) =>
      trace.foreach(_.opStart())
      var build, exec, release = 0.0
      var rows = 0L
      var error = ""
      val (_, ms) = spans("op", i) {
        try {
          val (df, b) = spans("op.build", i) {
            if (name == SelfTest) throw new IllegalStateException("self-test op")
            registry.getOrElse(name,
              throw new NoSuchElementException(s"no registry query $name"))(
              spark, dir)
          }
          build = b
          val ((out, schema), e) = spans("op.exec", i) {
            (df.collect(), df.schema)
          }
          exec = e
          rows = out.length
          outputs += ((i, name, out, schema))
        } catch { case t: Throwable => error = t.toString.take(500) }
        finally {
          release = spans("op.release", i)(graft.Caches.releaseAll(spark))._2
        }
      }
      trace.foreach(_.opEnd())
      Main.progress(f"op $i $name: $ms%.0f ms ($build%.0f/$exec%.0f/$release%.0f) " +
        (if (error.isEmpty) s"$rows rows" else error))
      rddsAfter = math.max(rddsAfter, spark.sparkContext.getPersistentRDDs.size)
      Main.Op(name, ms, error.isEmpty, error, Map("build_ms" -> build,
        "exec_ms" -> exec, "release_ms" -> release, "rows" -> rows.toDouble))
    }
    val gc = Jvm.gcMs - gc0
    trace.foreach(_.settle())
    val fields = Main.setupFields(reps) ++
      Main.opFields(ops, trace, gc, o.work) ++ Seq(
        "op.build_ms" -> spans.total("op.build"),
        "op.exec_ms" -> spans.total("op.exec"),
        "op.release_ms" -> spans.total("op.release"),
        "op.result_rows" -> ops.map(_.parts("rows")).sum,
        "caches.persistent_rdds_after" -> rddsAfter.toDouble)
    spans.write(o.work.resolve("spans.jsonl"))

    // untimed: op outputs and their oracle SQL for the checker
    val resDir = o.work.resolve("results")
    outputs.foreach { case (i, _, out, schema) =>
      spark.createDataFrame(out.toSeq.asJava, schema).coalesce(1)
        .write.parquet(resDir.resolve(i.toString).toString)
    }
    val oracle = graft.Registry.oracleSql
    Files.createDirectories(resDir)
    Files.writeString(resDir.resolve("oracle_sql.json"), Json.value(
      o.queries.distinct.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    graft.Caches.releaseAll(spark)
    spark.stop()
    fields
  }
}
