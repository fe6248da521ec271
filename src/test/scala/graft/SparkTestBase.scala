package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark specs (one JVM-wide session; tests are
  * forked by sbt so this is safe). */
object SparkTestBase extends AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = GraftSession.create("local[4]")
}

trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.spark
  def fixturePath(name: String): String =
    getClass.getResource(s"/warcio/$name").getPath
  def sfDir: String = "/root/testdata/sf0.001"

  /** The shuffle exchanges of `df`'s physical plan, top-down, as
    * (partitioning, key columns); under AQE, of its current plan. */
  def exchanges(df: Dataset[_]): Seq[(String, Seq[String])] =
    SparkTestBase.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.map {
      case HashPartitioning(keys, _)  => "hash" -> keys.flatMap(_.references.map(_.name))
      case RangePartitioning(keys, _) => "range" -> keys.flatMap(_.references.map(_.name))
      case RoundRobinPartitioning(_)  => "roundrobin" -> Nil
      case other                      => other.toString -> Nil
    }
}
