package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent hash of a query result. Columns are
  * taken in name order and doubles are compared to nine significant digits,
  * so the fingerprint does not depend on row order or on the summation
  * order of floating-point aggregates. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = s"$rows\t$hash"
}

object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(f.name), f.dataType))
    val h = xxhash64((lit("row") +: cols.toIndexedSeq): _*)
    val r = df.select(shiftright(h, 20).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    Fingerprint(r.getLong(0), r.getLong(1))
  }

  /** `name<TAB>rows<TAB>hash` lines (`perfbench/expected.tsv`). A query
    * added to a workload needs a row here: the failure message of a run
    * prints the fingerprint it saw. */
  def load(path: Path): Map[String, Fingerprint] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split('\t')
        n -> Fingerprint(rows.toLong, hash.toLong)
      }.toMap
}

/** Shape of a built query's physical plan. */
final case class PlanShape(nodes: Int, exchanges: Int, unpartitionedWindows: Int)

object PlanShape {
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }
  def of(df: DataFrame): PlanShape = {
    val ns = walk(df.queryExecution.executedPlan)
    PlanShape(ns.size, ns.count(_.isInstanceOf[Exchange]),
      ns.count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false })
  }
}
