package graftbench

import graft.{QueryDef, SparkEntry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.collection.mutable

/** Output check shared by the query workloads: ONE action computes the
  * row count and an order-insensitive hash over every output column
  * (`count()` alone would let Catalyst prune the query's work away).
  * Doubles are compared at float precision (a large double sum changes
  * in its last digits with the summation order, e.g. q15's revenue on
  * the x10 corpus) and maps are sorted into entry arrays. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def apply(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** `name \t rows \t digest` lines → map. */
  def load(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, d) = l.split("\t")
        n -> (rows.toLong, d)
      }.toMap
  }
}

/** One timed query call. `wallS` covers building the DataFrame
  * (`QueryDef.fn`) and its single output-check action; `buildS` is the
  * part spent inside `fn` (eager driver actions, analysis). `spans`
  * holds the query, build and action span ids of a traced call. */
final case class QuerySample(name: String, pass: Int, startMs: Double, endMs: Double,
    wallS: Double, buildS: Double, ok: Boolean, error: Option[String],
    spans: Seq[Long] = Nil)

/** A frozen list of SparkEntry queries, run in a closed loop by one
  * client: each pass runs every query once in a seed-shuffled order,
  * then drops the session's cached blocks (as `graft.Bench` does). */
final class QueryWorkload(names: Seq[String], dataDir: String,
    expected: Map[String, (Long, String)]) {

  private val defs: Map[String, QueryDef] = SparkEntry.defs.map(d => d.name -> d).toMap
  val missing: Seq[String] = names.filterNot(defs.contains)

  /** Run every query once in `order`. */
  def pass(spark: SparkSession, pass: Int, order: Seq[String],
      tracer: Option[Tracer]): Seq[QuerySample] = order.map { name =>
    val traceId = s"$name#$pass"
    def close(span: Option[Long]): Unit = for (t <- tracer; id <- span) t.close(id)
    val qSpan = tracer.map(_.open(name, "query", 0L, traceId))
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    var buildS = 0.0
    val ids = mutable.ArrayBuffer.empty[Long] ++= qSpan
    val outcome: Either[String, (Long, String)] =
      try {
        val d = defs.getOrElse(name, sys.error(s"unknown query $name"))
        val b = tracer.map(t => t.open("build", "build", qSpan.get, traceId))
        ids ++= b
        val df = try d.fn(spark, dataDir) finally close(b)
        buildS = (System.nanoTime() - t0) / 1e9
        val a = tracer.map(t => t.open("action", "action", qSpan.get, traceId))
        ids ++= a
        try Right(Digest(df)) finally close(a)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis().toDouble
    close(qSpan)
    spark.catalog.clearCache()
    val checked = outcome.flatMap { got =>
      expected.get(name) match {
        case Some(want) if want == got => Right(got)
        case Some(want) => Left(s"digest mismatch: got ${got._1}\t${got._2}, want ${want._1}\t${want._2}")
        case None => Left(s"no expected digest (got ${got._1}\t${got._2})")
      }
    }
    QuerySample(name, pass, startMs, endMs, wallS, buildS, checked.isRight,
      checked.left.toOption, ids.toSeq)
  }

  /** Per-layer values of one traced pass, from the tracer's counters. */
  def layers(samples: Seq[QuerySample], tracer: Tracer, n: Int,
      codegen: (Double, Long)): Map[String, Double] = {
    tracer.drain()
    // every span id opened by a query of this pass: query, build, action
    val owners: Seq[Long] = samples.flatMap(_.spans)
    val buildOwners = samples.flatMap(_.spans.lift(1))
    val from = samples.map(_.startMs).min
    val to = samples.map(_.endMs).max
    val planned = tracer.plannedIn(from, to)
    val driverOnly = samples.map(s => tracer.uncoveredMs(s.spans, s.startMs, s.endMs)).sum / 1e3
    def sum(f: tracer.Counters => Double) = tracer.sum(owners)(f)
    val jobWall = sum(_.jobWallMs)
    QueryWorkload.zeroIngest ++ Map(
      "operators.build_s" -> samples.map(_.buildS).sum,
      "operators.eager_jobs" -> tracer.sum(buildOwners)(_.jobs.toDouble),
      "planner.analysis_s" -> planned.map(_.analysisMs).sum / 1e3,
      "planner.optimization_s" -> planned.map(_.optimizationMs).sum / 1e3,
      "planner.physical_s" -> planned.map(_.planningMs).sum / 1e3,
      "planner.executions" -> planned.size.toDouble,
      "planner.exchanges" -> planned.map(_.exchanges).sum.toDouble,
      "codegen.compile_s" -> codegen._1,
      "codegen.compiles" -> codegen._2.toDouble,
      "scheduler.jobs" -> sum(_.jobs.toDouble),
      "scheduler.stages" -> sum(_.stages.toDouble),
      "scheduler.tasks" -> sum(_.tasks.toDouble),
      "scheduler.driver_only_s" -> driverOnly,
      "scheduler.task_busy_share" -> (if (jobWall > 0) sum(_.runMs) / (jobWall * n) else 0.0),
      "exec.task_run_s" -> sum(_.runMs) / 1e3,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle.write_bytes" -> sum(_.shWrite),
      "shuffle.read_bytes" -> sum(_.shRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "shuffle.spill_bytes" -> sum(_.spill),
      "Tables.input_bytes" -> sum(_.inBytes),
      "Tables.input_rows" -> sum(_.inRows))
  }
}

object QueryWorkload {
  /** Ingest-path layers a query pass never touches. */
  val zeroIngest: Map[String, Double] = Seq(
    "Jobs.to_publish_s", "Jobs.after_publish_s", "Jobs.skip_s",
    "scheduler.jobs_per_cycle", "scheduler.tasks_per_cycle",
    "StateStore.watermark_s", "StateStore.log_files",
    "Publish.bytes_written", "Publish.files_written", "Publish.live_partitions",
    "DedupIndex.files", "storage.cached_rdds").map(_ -> 0.0).toMap

  /** Frozen list file: one query name per line, `#` comments. */
  def loadList(path: String): Seq[String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.split("#")(0).trim).filter(_.nonEmpty).toSeq
}
