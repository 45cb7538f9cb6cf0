package graft

import java.nio.file.{Files, Paths}

import graft.core.Sessions
import org.apache.spark.sql.execution.ExplainMode

/** Writes the formatted physical plan of every registered query to
  * PLANS.txt — the committed audit trail for scan pushdown, join
  * strategy, and shuffle placement per operator (PlanSpec asserts the
  * load-bearing properties; this is the full human-readable record).
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  *
  * Note: building a query materializes its driver-side work — the ML
  * queries pay their fit() cost and d07 its propagation loop, and their
  * recorded plans describe the final stage after that work. Run at
  * sf0.001 (default) where this costs seconds.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.txt")
    val spark = Sessions.local("local[4]", "4", "ERROR")

    val sb = new StringBuilder
    sb.append(s"# Physical plans of every registered query (sf dir: $sfDir)\n")
    sb.append("# Generated by graft.PlanDump — regenerate after plan-affecting changes.\n")
    SparkEntry.registry.foreach { q =>
      sb.append(s"\n${"=" * 72}\n== ${q.name}\n${"=" * 72}\n")
      try {
        val df = q.build(spark, sfDir)
        // Serialized-sketch literals (x18's bloom filter) render as
        // multi-KB hex blobs; truncate them so the committed record
        // stays reviewable and its diffs meaningful.
        sb.append(df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          .replaceAll("0x[0-9A-Fa-f]{120,}", "0x<binary literal truncated>"))
      } catch {
        case e: Throwable =>
          sb.append(s"(plan unavailable: ${e.getMessage})\n")
      }
    }
    try {
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[plandump] wrote ${SparkEntry.registry.size} plans to $out")
    } finally spark.stop()
  }
}
