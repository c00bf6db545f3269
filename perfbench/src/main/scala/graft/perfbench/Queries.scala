package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

import graft.SparkEntry
import graft.queries._

/** One timed op: a row of `SparkEntry.queries` in one pass. */
final case class OpRecord(pass: Int, name: String, family: String, wallS: Double,
    status: String, detail: String, digest: String)

/** The query workloads: rows of `SparkEntry.queries` run in SparkEntry
  * order, each materializing its full result. */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  /** Family of each row, by the query object that defines it. */
  lazy val families: Map[String, String] = Seq(
    "Reference" -> ReferenceQueries.queries, "Analytics" -> AnalyticsQueries.queries,
    "Text" -> TextQueries.queries, "Dedup" -> DedupQueries.queries,
    "Similarity" -> SimilarityQueries.queries, "Multimodal" -> MultimodalQueries.queries,
    "SqlSurface" -> SqlSurfaceQueries.queries, "Pipeline" -> PipelineQueries.queries,
    "Cdc" -> CdcQueries.queries, "Rag" -> RagQueries.queries,
    "ServeAll" -> ServeAllQueries.queries,
  ).flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap

  /** Runs `fn` as one op: construct the DataFrame, force analysis,
    * optimization and physical planning on its QueryExecution, then execute
    * that same physical plan and fold every output row into a digest. An
    * exception is recorded as a failed op, never rethrown. */
  def runOp(spark: SparkSession, dir: String, pass: Int, name: String, fn: Q,
      trace: Tracer, fallbacks: mutable.Map[String, Int]): OpRecord = {
    val t0 = System.nanoTime()
    val (status, detail, digest) =
      try {
        val d = trace("op") {
          val df = trace("construct")(fn(spark, dir))
          val qe = df.queryExecution
          trace("plan.analyze")(qe.analyzed)
          trace("plan.optimize")(qe.optimizedPlan)
          trace("plan.physical")(qe.executedPlan)
          if (trace.enabled && pass == 0)
            trace("trace.inspect")(fallbacks(name) = interpretedExprs(qe))
          trace("exec")(materialize(qe))
        }
        ("ok", "", d.hex)
      } catch {
        case t: Throwable => ("error", s"${t.getClass.getName}: ${t.getMessage}".take(300), "")
      }
    OpRecord(pass, name, families.getOrElse(name, "Other"),
      (System.nanoTime() - t0) / 1e9, status, detail, digest)
  }

  /** Execute the already-planned physical plan and fold its rows. */
  def materialize(qe: QueryExecution): Digest.Value = {
    val plan = qe.executedPlan
    val schema = plan.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      plan.execute()
        .mapPartitions(it => Iterator.single(Digest.partition(it, schema)))
        .collect()
        .foldLeft(Digest.Empty)(_ + _)
    }
  }

  /** `CodegenFallback` expressions (interpreted per row even inside
    * whole-stage codegen) in the planned physical plan, subqueries
    * included. */
  def interpretedExprs(qe: QueryExecution): Int =
    qe.sparkPlan.collectWithSubqueries { case p => p }
      .map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum)
      .sum

  /** Release every family's session artifacts; returns descriptors of the
    * persisted RDDs that survived teardown (each is then unpersisted). */
  def teardown(spark: SparkSession): Seq[String] = {
    DedupQueries.clearCaches()
    SimilarityQueries.clearCaches()
    MultimodalQueries.clearCaches()
    PipelineQueries.clearCaches()
    TextQueries.clearCaches()
    AnalyticsQueries.clearCaches()
    RagQueries.clearCaches()
    ServeAllQueries.clearCaches()
    spark.sparkContext.getPersistentRDDs.toSeq.sortBy(_._1).map { case (id, rdd) =>
      val desc = Option(rdd.name).filter(_.nonEmpty).getOrElse(rdd.toString)
      try rdd.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
      s"id=$id $desc"
    }
  }

  /** The rows of `SparkEntry.queries` named by `names`, in SparkEntry
    * order; an unknown name is an error. */
  def select(names: Seq[String]): Seq[(String, Q)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query rows: ${unknown.mkString(", ")}")
    val wanted = names.toSet
    all.toSeq.filter { case (n, _) => wanted(n) }
  }
}
