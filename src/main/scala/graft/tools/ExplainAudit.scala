package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import graft.BenchKit
import graft.queries.Registry

/** Dumps the formatted physical plan of EVERY registered query to
  * PLANS.md (in the working directory) — the audit trail for pushdown /
  * pruning / join-strategy / shuffle-count review. With query names as
  * args it prints just those plans to stdout instead.
  * Run: `sbt "runMain graft.tools.ExplainAudit [query names...]"`.
  * Queries whose fn has eager side effects (IO round-trip writes, the
  * streaming replays) execute those side effects once here — the plan
  * recorded is the final returned DataFrame's, same as the gate sees. */
object ExplainAudit {
  private val sfDir = "/root/testdata/sf0.01"

  /** Run-specific IDs in a formatted plan, each replaced by a fixed token
    * so two runs of an unchanged plan print the same text and a PLANS.md
    * diff shows only real plan changes. */
  private val RunIds = Seq(
    "#\\d+" -> "#N",                                  // expression IDs
    "plan_id=\\d+" -> "plan_id=N",
    "RDD\\[\\d+\\]" -> "RDD[N]",                      // checkpointed RDDs
    "\\$Lambda(\\$\\d+)?/0x[0-9a-f]+" -> "\\$Lambda", // JVM lambda classes
    "(?<=[\\w$])@[0-9a-f]+\\b" -> "@H",              // identity hash codes
    "(lambda \\w+)_\\d+" -> "$1_N",                  // fresh lambda variables
    "\\.scala:\\d+" -> ".scala:N")                   // call-site line numbers

  def plan(df: DataFrame): String =
    RunIds.foldLeft(df.queryExecution.explainString(FormattedMode)) {
      case (text, (id, token)) => text.replaceAll(id, token)
    }

  def main(args: Array[String]): Unit = {
    // fixed 4 cores, so PLANS.md is the same on any machine
    val spark = BenchKit.session(4)
    if (args.nonEmpty) {
      args.foreach { name =>
        val q = Registry.all.find(_.name == name)
          .getOrElse(sys.error(s"no registered query $name"))
        println(s"## $name\n\n${plan(q.fn(spark, sfDir))}")
      }
    } else {
      val sb = new StringBuilder
      sb.append("# PLANS — physical plans of every registered query (sf0.01, AQE initial plans)\n\n")
      sb.append("Generated by `graft.tools.ExplainAudit`. Things to check per plan:\n")
      sb.append("`PushedFilters` reaches the scan; `ReadSchema` is pruned to used\n")
      sb.append("columns; aggregates are partial+final pairs around one exchange;\n")
      sb.append("dimension joins are `BroadcastHashJoin`; no exchange without a\n")
      sb.append("reason; WholeStageCodegen spans cover the hot path. Run-specific\n")
      sb.append("IDs (expression ids, RDD ids, lambda names, hash codes, source\n")
      sb.append("line numbers) are normalized, so a diff of this file is a real\n")
      sb.append("plan change.\n")
      Registry.all.foreach { q =>
        sb.append(s"\n## ${q.name}\n\n```\n${plan(q.fn(spark, sfDir))}```\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${Registry.all.size} plans)")
    }
    spark.stop()
  }
}
