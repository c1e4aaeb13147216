package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Dev report (not an assertion): per-table scan-width distribution over
  * every query plan, to pin the ScanAudit invariants from data. */
class ScanAuditReport extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  ignore("report scan widths") {
    val widths = scala.collection.mutable.Map.empty[(String, Int), List[String]]
    SparkEntry.allDefs.filterNot(_.name == "q_pipeline_run").foreach { q =>
      val plan = q.run(spark, sf).queryExecution.sparkPlan
      plan.collect { case s: FileSourceScanExec =>
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("?")
        val w = s.requiredSchema.fields.length
        val key = (table, w)
        widths(key) = q.name :: widths.getOrElse(key, Nil)
      }
    }
    widths.toSeq.sortBy { case ((t, w), _) => (t, w) }.foreach {
      case ((t, w), qs) =>
        println(f"[scan] $t%-12s width=$w%2d  n=${qs.length}%3d  ${qs.take(4).mkString(",")}")
    }
  }
}
