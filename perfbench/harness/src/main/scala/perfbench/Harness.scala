package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

import graft.{SparkEntry, TpchGraph}
import graft.cypher.{Compiler, Parser}

/** What run.py asks for; `pool`, `sequence` and `trace` matter in `run`
 *  mode only. */
final case class Spec(mode: String, data: String, run_dir: String, out: String,
                      cores: Int, trace: Boolean, pool: Seq[String], sequence: Seq[String])

/**
 * The benchmark's JVM side. `run.py` writes a spec (data dir, query pool,
 * seeded op sequence, trace flag) and reads back one JSON file
 * with what happened. Two modes:
 *
 *  - `run`: set up the session, run one untimed warm-up pass over the pool
 *    (each result saved as parquet for the DuckDB oracle), then the timed
 *    closed loop: every op of the sequence, which holds whole passes over
 *    the pool, one at a time. With `trace`, the loop also records spans, Spark jobs,
 *    stages and streaming triggers.
 *  - `parity`: check that every copied Cypher text returns the same rows
 *    as `SparkEntry.queries(name)`.
 */
object Harness {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val spec = json.readValue(Files.readString(Paths.get(args(0))), classOf[Spec])
    spec.mode match {
      case "run" => run(spec)
      case "parity" => parity(spec)
    }
    System.exit(0) // Spark may leave non-daemon threads behind
  }

  /** `graft.Bench`'s session settings, at `cores` threads; shuffle and
   *  warehouse files go to the run's own directory. */
  private def session(cores: Int, runDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()

  /** Builds the op's DataFrame: a copied Cypher text goes through the
   *  parser and compiler, any other name through its SparkEntry builder. */
  private def build(spark: SparkSession, data: String, name: String, tr: Tracer): DataFrame =
    CypherTexts.all.get(name) match {
      case Some(t) =>
        val q = tr.span("cypher.parse")(Parser.parse(t.text, t.extended, t.params))
        tr.span("cypher.compile")(t.withConf(spark) {
          t.post(Compiler.compile(q, TpchGraph.session(spark, data).catalog))
        })
      case None =>
        tr.span("ops.build")(SparkEntry.queries(name)(spark, data))
    }

  /** One op: build, optimize, plan, and collect every row. */
  private def op(spark: SparkSession, data: String, name: String, tr: Tracer): (DataFrame, Array[Row]) = {
    val df = build(spark, data, name, tr)
    tr.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
    tr.span("catalyst.plan")(df.queryExecution.executedPlan)
    (df, tr.span("exec")(df.collect()))
  }

  private object PlanCounts extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Map[String, Int] = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      def n(f: PartialFunction[SparkPlan, Unit]) = nodes.count(f.isDefinedAt)
      Map("plan_nodes" -> nodes.size,
        "exchanges" -> n { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => },
        "smj" -> n { case _: SortMergeJoinExec => },
        "broadcasts" -> n { case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => })
    }
  }

  /** Heap left after a full collection: each heap pool's usage as the
   *  collector left it, so allocations by Spark's own threads since the
   *  collection do not count. The first collection lets Spark's context
   *  cleaner drop the blocks of unreachable broadcasts before the second. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Files under `dir` modified at or after `sinceMs`: (count, bytes). */
  private def written(dir: Path, sinceMs: Long): (Long, Long) =
    Using.resource(Files.walk(dir)) { s =>
      s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => (Files.getLastModifiedTime(p).toMillis, Files.size(p)))
        .filter(_._1 >= sinceMs)
        .foldLeft((0L, 0L)) { case ((n, b), (_, size)) => (n + 1, b + size) }
    }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def run(spec: Spec): Unit = {
    val Spec(_, data, runDir, out, cores, trace, pool, sequence) = spec
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val t0 = Clock.us()
    val spark = session(cores, runDir)
    spark.sparkContext.setLogLevel("ERROR")
    TpchGraph.session(spark, data) // registers the graft extensions
    val sessionUs = Clock.us() - t0
    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.streams.addListener(rec.streaming)
    }

    // warm-up: every pool query once, untimed; results go to the oracle
    val warm0 = Clock.us()
    val warmup = pool.map { name =>
      val s = Clock.us()
      try {
        val (df, rows) = op(spark, data, name, new Tracer(spark.sparkContext, false))
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.parquet(s"$runDir/results/$name")
        Map("name" -> name, "ok" -> true, "rows" -> rows.length, "s" -> (Clock.us() - s) / 1e6)
      } catch {
        case e: Throwable => Map("name" -> name, "ok" -> false, "error" -> error(e),
          "s" -> (Clock.us() - s) / 1e6)
      }
    }
    val warmupUs = Clock.us() - warm0

    // timed closed loop: the whole sequence, one op at a time
    val tr = new Tracer(spark.sparkContext, trace)
    val loop0 = Clock.us()
    val ops = sequence.indices.map { i =>
      val name = sequence(i)
      tr.op = i
      val conf0 = if (trace) spark.conf.getAll else Map.empty[String, String]
      val gc0 = if (trace) gcMs() else 0L
      val start = Clock.us()
      val res = try {
        val (df, rows) = tr.span("op")(op(spark, data, name, tr))
        Right((df, rows.length))
      } catch { case e: Throwable => Left(error(e)) }
      val end = Clock.us()
      val base = Map("id" -> i, "name" -> name, "start_us" -> start, "end_us" -> end,
        "ok" -> res.isRight) ++ res.left.toOption.map("error" -> _)
      if (!trace) base
      else {
        val (files, bytes) = written(tmp, start / 1000L)
        base ++ Map("gc_ms" -> (gcMs() - gc0),
          "conf_changed" -> (spark.conf.getAll != conf0),
          "storage_files" -> files, "storage_bytes" -> bytes) ++
          res.toOption.map { case (df, n) =>
            Map("result_rows" -> n) ++ PlanCounts(df.queryExecution.executedPlan)
          }.getOrElse(Map.empty)
      }
    }.toVector

    val heapMb = liveHeapMb()
    if (trace) PerfbenchBus.drain(spark.sparkContext)
    val result = Map(
      "session_s" -> sessionUs / 1e6, "warmup_s" -> warmupUs / 1e6,
      "first_op_us" -> ops.headOption.map(_("start_us")).getOrElse(loop0),
      "heap_live_mb" -> heapMb,
      "cores" -> spark.sparkContext.defaultParallelism,
      "warmup" -> warmup, "ops" -> ops,
      "oracle_sql" -> pool.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end)).toSeq) ++
      (if (trace) rec.dump else Map.empty)
    Files.writeString(Paths.get(out), json.writeValueAsString(result))
    spark.stop()
  }

  private def parity(spec: Spec): Unit = {
    val spark = session(spec.cores, spec.run_dir)
    spark.sparkContext.setLogLevel("ERROR")
    val off = new Tracer(spark.sparkContext, false)
    val names = CypherTexts.all.keys.toSeq.sorted
    val mismatched = names.filter { name =>
      val copied = op(spark, spec.data, name, off)._2.map(_.toString).sorted.toSeq
      val entry = SparkEntry.queries(name)(spark, spec.data).collect().map(_.toString).sorted.toSeq
      copied != entry
    }
    Files.writeString(Paths.get(spec.out), json.writeValueAsString(
      Map("checked" -> names.size, "mismatched" -> mismatched)))
    spark.stop()
  }
}
