package graft.tools

import graft.SparkEntry

/** Dump `explain(formatted)` for every registered query — the plan-audit
  * artifact (pushdown / broadcast / codegen inspection). Dev tool.
  * Property extraction lives in [[PlanProps]] (shared with the
  * `PlanAuditSpec` regression gate).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/tmp/plans.txt")
    val spark = graft.Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    val audit = new StringBuilder
    audit.append("# PLAN AUDIT\n\n")
    audit.append("Generated by `graft.tools.Plans` - per-query physical-plan properties.\n")
    audit.append("Shuffles = `Exchange` nodes; joins list the chosen strategies; ")
    audit.append("`pushdown` = non-trivial `PushedFilters` reached the parquet scan.\n\n")
    audit.append("| query | shuffles | joins | pushdown | codegen spans | scans |\n")
    audit.append("|---|---|---|---|---|---|\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n==================== $name ====================\n")
      try {
        val df = fn(spark, dir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        val p = PlanProps.of(df)
        audit.append(s"| $name | ${p.shuffles} | ${p.joinsLabel} | " +
          s"${if (p.pushdown) "yes" else "-"} | ${p.codegen} | ${p.scans} |\n")
      } catch { case e: Throwable =>
        sb.append(s"ERROR: ${e.getMessage}\n")
        audit.append(s"| $name | ERROR | | | | |\n")
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out), sb.toString.getBytes)
    val auditPath = out.replaceAll("\\.txt$", "") + "_audit.md"
    java.nio.file.Files.write(java.nio.file.Paths.get(auditPath), audit.toString.getBytes)
    println(s"wrote $out and $auditPath")
    spark.stop()
  }
}

/** Regenerate the plan-regression baseline consumed by `PlanAuditSpec`:
  * per-query [[PlanProps]] at sf0.001 (the gate's fixed reference dir —
  * plan SHAPE is sf-stable for everything the gate checks, and the tiny
  * dir keeps the 141 plan builds, some with plan-time eager actions like
  * index-sizing counts, test-suite fast) written to
  * `src/test/resources/plan_baseline.tsv`. Run after any INTENDED plan
  * change, commit the diff — the gate turns every UNintended change
  * (lost pushdown, new shuffle, new BNLJ) into a test failure.
  */
object PlanBaseline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("src/test/resources/plan_baseline.tsv")
    val spark = graft.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> PlanProps.of(fn(spark, dir))
    }
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, PlanProps.toTsv(rows).getBytes)
    println(s"wrote ${rows.size} baseline rows to $out")
    spark.stop()
  }
}
