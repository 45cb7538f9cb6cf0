package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkEntry
import graft.core.{SessionScoped, Sinks, Tables}
import graft.mlx.FlightPipeline
import graft.queries.QueryDef

/** Closed-loop driver: one client, one operation at a time, in-process
  * Spark at local[4]. Sets up once (session start plus `warmups` warm-up
  * passes, default 1), then times passes over the operation list until
  * `seconds` have elapsed, finishing the pass in progress, and writes
  * one JSON record per event to `out`. All arithmetic over the records
  * happens in perfbench/metrics.py.
  *
  * Usage: perfbench.Harness key=value ...
  *   workload=registry|flight  seed=N  seconds=S
  *   trace=0|1  warmups=N  out=FILE
  *   registry workloads: data=DIR queries=a,b,c  expected=FILE
  *   flight:             flights=CSV planes=CSV folds=F
  *   record=1 computes every row count (used to write expected files).
  */
object Harness {
  val cores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val rec = new Records
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val workload: Workload =
      if (a("workload") == "flight")
        new Flight(a("flights"), a("planes"), a("folds").toInt, rec)
      else new Registry(a("data"), a("queries"), a.get("expected"),
        a.get("record").contains("1"), rec)
    rec.add("run", "workload" -> a("workload"), "seed" -> seed,
      "trace" -> trace, "cores" -> cores, "ops" -> workload.names,
      "registry_s" -> workload.registrySeconds)

    val t0 = System.nanoTime()
    val spark = session()
    val t1 = System.nanoTime()
    for (w <- 1 to a.getOrElse("warmups", "1").toInt)
      workload.pass(spark, -w, workload.names, traced = false)
    val t2 = System.nanoTime()
    rec.add("setup", "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)

    val listener = new JobTrace(rec)
    val rng = new scala.util.Random(seed)
    val start = System.nanoTime()
    // Traced runs alternate listener-off and listener-on passes, so the
    // tracing overhead is measured inside the same run; off-on-off at
    // least, so a pass-to-pass drift cancels out of it.
    val minPasses = if (trace) 3 else 1
    var p = 0
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && p % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      val order = rng.shuffle(workload.names)
      System.gc() // untimed: no pass inherits the previous one's garbage
      val gc0 = gcSeconds()
      val w0 = System.currentTimeMillis()
      workload.pass(spark, p, order, traced)
      val w1 = System.currentTimeMillis()
      val gc1 = gcSeconds()
      if (traced) {
        org.apache.spark.perfbench.Drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      rec.add("pass", "pass" -> p, "traced" -> traced, "t0" -> w0, "t1" -> w1,
        "gc_s" -> (gc1 - gc0))
      p += 1
    }
    rec.add("jvm", "vmhwm_kb" -> vmHwmKb())
    spark.stop()
    rec.writeTo(a("out"))
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // deep enough that MLlib call sites still reach a graft frame
      .config("spark.callstack.depth", "200")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def vmHwmKb(): Long = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) -1L
    else java.nio.file.Files.readAllLines(f).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** Wall-clock span of one call, in epoch ms (the clock listener events
    * use) and in nanoseconds for the duration. */
  final case class Span(t0: Long, t1: Long, secs: Double)
  def span[T](f: => T): (T, Span) = {
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val r = f
    val n1 = System.nanoTime(); val w1 = System.currentTimeMillis()
    (r, Span(w0, w1, (n1 - n0) / 1e9))
  }

  def failure(e: Throwable): Seq[(String, Any)] =
    Seq("error" -> e.getClass.getName,
      "message" -> Option(e.getMessage).getOrElse("").take(500))

  trait Workload {
    def names: Seq[String]
    /** Time of the SparkEntry.registry call, 0 where there is none. */
    def registrySeconds: Double = 0.0
    /** One pass over `order`; `p` < 0 marks a warm-up pass. */
    def pass(spark: SparkSession, p: Int, order: Seq[String], traced: Boolean): Unit
  }

  /** Registry queries: build, plan, then the forced full result. A
    * traced pass first resolves every Tables.<table> once, timed. */
  final class Registry(data: String, queries: String,
      expectedFile: Option[String], record: Boolean, rec: Records) extends Workload {
    private val (registry, registryCall) = span(SparkEntry.registry)
    override def registrySeconds: Double = registryCall.secs
    private val selected: Seq[QueryDef] = queries.split(",").toSeq.map { n =>
      registry.find(_.name == n).getOrElse(sys.error(s"unknown query $n"))
    }
    private val byName = selected.map(q => q.name -> q).toMap
    def names: Seq[String] = selected.map(_.name)

    /** name -> (fingerprint, rows, rowsOnly) from the expected file. */
    private val expected: Map[String, (Long, Long, Boolean)] =
      expectedFile.toSeq.flatMap { f =>
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f)).asScala
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
          .map(_.split("\t")).map(c => c(0) -> (c(1).toLong, c(2).toLong, c(3) == "rows"))
      }.toMap

    private val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

    def pass(spark: SparkSession, p: Int, order: Seq[String], traced: Boolean): Unit = {
      if (traced) tables.foreach { case (t, f) =>
        val (_, s) = span(f(spark, data).schema)
        rec.add("resolve", "pass" -> p, "table" -> t, "t0" -> s.t0, "t1" -> s.t1,
          "s" -> s.secs)
      }
      order.foreach(n => one(spark, p, byName(n)))
    }

    private def one(spark: SparkSession, p: Int, q: QueryDef): Unit = {
      sweep(spark)
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      var marks = Vector.empty[(Long, Long)] // (epoch ms, nanos) at each phase end
      def mark(): Unit = marks :+= (System.currentTimeMillis() -> System.nanoTime())
      var df: DataFrame = null
      var fp = 0L
      var exchanges = -1
      val err: Seq[(String, Any)] =
        try {
          df = q.build(spark, data); mark()
          exchanges = countExchanges(df.queryExecution.executedPlan); mark()
          fp = Sinks.fingerprint(df); mark()
          Nil
        } catch { case e: Throwable => mark(); failure(e) }
      val ends = marks.map(_._2)
      val phases = (n0 +: ends).sliding(2).map(w => (w(1) - w(0)) / 1e9).toSeq
      val exp = expected.get(q.name)
      // untimed: the row count is only needed where the fingerprint
      // cannot decide (rows-only queries, mismatches, recording)
      val rows: Long =
        if (err.nonEmpty) -1L
        else if (record || exp.forall(e => e._3 || e._1 != fp))
          try df.count() catch { case _: Throwable => -1L }
        else exp.get._2
      rec.add("op", (Seq[(String, Any)]("pass" -> p, "name" -> q.name,
        "t0" -> w0, "marks" -> marks.map(_._1),
        "total_s" -> (ends.last - n0) / 1e9, "phases_s" -> phases,
        "exchanges" -> exchanges, "fp" -> fp.toString, "rows" -> rows) ++ err): _*)
    }

    /** Untimed release of what the previous query left persisted; the
      * session-scoped memo frames stay, as they do for every caller. */
    private def sweep(spark: SparkSession): Unit = {
      val keep = SessionScoped.livePersistedRddIds(spark)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep(id) }
        .values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
  }

  def countExchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case e: Exchange => 1 + e.children.map(countExchanges).sum
    case other =>
      (other.children ++ other.subqueries).map(countExchanges).sum
  }

  /** The paper's pipeline as FlightPipeline.run chains it, one timed
    * operation per stage function. FlightPipeline.run repeats select and
    * train for the FWE selector; this pass keeps the FDR branch only, so
    * a pass is short enough to repeat within a run. */
  final class Flight(flights: String, planes: String, folds: Int,
      rec: Records) extends Workload {
    val names: Seq[String] = Seq("ingest", "clean", "engineer", "correlate",
      "featurize", "select", "train")

    def pass(spark: SparkSession, p: Int, order: Seq[String], traced: Boolean): Unit = {
      def stage[T](name: String)(f: => T): T = {
        val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        def done(extra: Seq[(String, Any)]): Unit = {
          val secs = (System.nanoTime() - n0) / 1e9
          rec.add("op", (Seq[(String, Any)]("pass" -> p, "name" -> name,
            "module" -> "mlx.FlightPipeline", "t0" -> w0, "marks" -> Seq(System.currentTimeMillis()),
            "total_s" -> secs, "phases_s" -> Seq(secs)) ++ extra): _*)
        }
        try { val r = f; done(Nil); r }
        catch { case e: Throwable => done(failure(e)); throw e }
      }
      try {
        val (fl, pl) = stage("ingest") {
          (FlightPipeline.readStringly(spark, flights),
            FlightPipeline.readStringly(spark, planes))
        }
        val cleaned = stage("clean")(FlightPipeline.clean(fl, pl))
        val engineered = stage("engineer")(FlightPipeline.engineer(cleaned))
        val base = stage("correlate")(FlightPipeline.dropCorrelated(engineered))
        val feats = stage("featurize")(FlightPipeline.featurize(base).cache())
        val selected = stage("select")(FlightPipeline.selectWithInfo(feats, "fdr"))
        val results = stage("train")(FlightPipeline.train(selected.df, "fdr", folds))
        val rows = feats.count() // untimed, from the cache
        feats.unpersist(blocking = true)
        rec.add("flight_result", "pass" -> p, "rows" -> rows,
          "selected" -> selected.nSelectedFeatures,
          "models" -> results.map(r => s"${r.model}/${r.selector}"),
          "rmse" -> results.map(_.rmse), "r2" -> results.map(_.r2))
      } catch { case _: Throwable => () } // recorded by the failing stage
    }
  }
}
