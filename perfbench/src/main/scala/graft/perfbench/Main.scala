package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, row_number}

import graft.SparkEntry

/** Benchmark JVM. Runs one workload over generated inputs and writes a raw
  * run record (JSON) for `perfbench/run.py`, which derives the metrics.
  *
  * {{{
  * Main --mode queries|schema_build --inputs DIR --record FILE --warm-passes N
  *      --trace 0|1 --cores N --work DIR [--rows a,b,c] [--export DIR]
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val record = mutable.LinkedHashMap.empty[String, Any]
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (traced) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val env = Env(spark, cores, traced, counters, args, record,
      sessionS = (System.nanoTime() - t0) / 1e9)
    try {
      args("mode") match {
        case "queries" => QueryWorkload.run(env)
        case "schema_build" => SchemaBuild.run(env)
      }
    } finally {
      record("peak_heap_mb") = peakHeapMb
      Files.writeString(Paths.get(args("record")), Json(record))
      spark.stop()
    }
  }

  /** Timed passes: one cold pass, then `warm` warm passes. The count is
    * fixed rather than time-bounded: passes keep speeding up as the JIT
    * warms, so a time bound would give a slow host fewer, slower passes and
    * amplify run-to-run noise. */
  def passes(warm: Int)(pass: () => Unit): Unit =
    (0 to warm).foreach(_ => pass())

  /** Process CPU time (driver, executors and GC: local mode). */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Sum of the heap pools' peak usage since JVM start. */
  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Seconds since the JVM started. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Persisted storage right now: (rdd count, memory + disk MB). */
  def storage(spark: SparkSession): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}

/** What every workload needs. */
final case class Env(spark: SparkSession, cores: Int, traced: Boolean,
    counters: Option[Counters], args: Map[String, String],
    record: mutable.LinkedHashMap[String, Any], sessionS: Double) {
  val tracer = new Tracer(traced, if (traced) Some(spark.sparkContext) else None, counters)
  val warmPasses: Int = args("warm-passes").toInt
  val checkpoints = mutable.ArrayBuffer.empty[Map[String, Any]]

  def checkpoint(at: String): Unit = {
    val (n, mb) = Main.storage(spark)
    checkpoints += Map("at" -> at, "rdds" -> n, "mb" -> mb)
  }

  def counterSnapshot: Map[String, Double] = {
    Counters.settle(spark.sparkContext)
    counters.map(_.snapshot).getOrElse(Map.empty)
  }

  def spansJson: Seq[Map[String, Any]] = tracer.spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "counters" -> s.counters))
}

object QueryWorkload {

  /** One-off machinery warm-up, as graft.Bench does it: first parquet
    * touch, first shuffle, window and broadcast-join operators. (Bench also
    * warms structured streaming; no row of these workloads streams.) */
  def machinery(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(s"$dir/region.parquet").count()
    spark.range(10000).groupBy((col("id") % 10).as("k")).count().collect()
    spark.range(1000)
      .withColumn("r", row_number().over(Window.partitionBy(col("id") % 7).orderBy("id")))
      .join(broadcast(spark.range(10)), "id").count()
  }

  def run(env: Env): Unit = {
    import env._
    val dir = args("inputs")
    val rows = Queries.select(args("rows").split(',').toSeq.filter(_.nonEmpty))
    val setup = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
    val m0 = System.nanoTime()
    machinery(spark, dir)
    setup("machinery_s") = (System.nanoTime() - m0) / 1e9
    setup("total_s") = Main.sinceJvmStartS
    checkpoint("setup")

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val fallbacks = mutable.LinkedHashMap.empty[String, Int]
    var pass = 0
    Main.passes(warmPasses) { () =>
      val c0 = Main.cpuS
      val p0 = System.nanoTime()
      rows.foreach { case (name, fn) =>
        tracer.op = ops.size
        ops += Queries.runOp(spark, dir, pass, name, fn, tracer, fallbacks)
      }
      passes += Map("wall_s" -> (System.nanoTime() - p0) / 1e9, "cpu_s" -> (Main.cpuS - c0),
        "traced" -> traced)
      checkpoint(s"pass$pass")
      pass += 1
    }
    // traced runs add one untraced warm pass: the tracing overhead is the
    // traced warm pass time minus this one
    if (traced) {
      val quiet = new Tracer(false, None, None)
      val p0 = System.nanoTime()
      rows.foreach { case (name, fn) =>
        Queries.runOp(spark, dir, pass, name, fn, quiet, fallbacks)
      }
      passes += Map("wall_s" -> (System.nanoTime() - p0) / 1e9, "cpu_s" -> 0.0,
        "traced" -> false)
    }

    // untimed: results for the oracle check, then teardown
    args.get("export").foreach { out =>
      rows.foreach { case (name, fn) =>
        try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] export $name failed: $e") }
      }
    }
    val leaked = Queries.teardown(spark)
    checkpoint("teardown")

    record("setup") = setup
    record("ops") = ops.map(o => Map("pass" -> o.pass, "name" -> o.name,
      "family" -> o.family, "wall_s" -> o.wallS, "status" -> o.status,
      "detail" -> o.detail, "digest" -> o.digest))
    record("passes") = passes
    record("checkpoints") = checkpoints
    record("leaked") = leaked
    record("oracle_sql") = SparkEntry.oracleSql.filter { case (n, _) => rows.exists(_._1 == n) }
    if (traced) {
      record("spans") = spansJson
      record("interpreted_exprs") = fallbacks
    }
  }
}
