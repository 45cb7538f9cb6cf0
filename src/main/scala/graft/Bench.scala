package graft

import org.apache.spark.sql.SparkSession
import graft.core.Sessions

/** Bench harness (BASELINE.md §2): wall-clock per query at
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Methodology: per query the first run is an untimed WARMUP (codegen
  * compile + first-touch file reads land there), then the median of
  * SPARK_GRAFT_BENCH_RUNS timed runs (default 3) is recorded. Queries
  * whose warmup exceeds 5 s (model training) record ONE warm run instead
  * of the full median to keep round time bounded — never the cold warmup
  * itself, whose transient stalls (JIT, page cache, competing processes)
  * are indistinguishable from regressions. The same harness records the
  * baseline, so comparisons are self-consistent.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the host's real parallelism: a fixed local[32] on a
    // smaller machine oversubscribes and skews recorded baselines
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional comma-separated query-name filter for focused runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Shuffle-partition override for scale probes: the default pins
    // partitions = cores, which at 20x data leaves ~750 MB per
    // partition sort — past the per-task execution memory and into
    // spill amplification (the d26 sf2.0 adjudication, SCALE.md r15
    // batch 2). A cluster sizes partitions to the data; this knob lets
    // a probe do the same without changing the canonical harness.
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .filter(_.nonEmpty).getOrElse(cpus)
    def newSession(): SparkSession = {
      // ERROR, not WARN: the per-query sweep's blocking unpersist of
      // localCheckpointed frames logs a (harmless, intended) WARN per
      // RDD — hundreds of lines per suite that would bury the one JSON
      // line the driver tails this main for
      Sessions.local(s"local[$cpus]", shufflePartitions, "ERROR")
    }
    var spark = newSession()
    // A/B diagnostic toggle for the sweep (default on)
    val sweepOn = sys.env.getOrElse("SPARK_GRAFT_SWEEP", "on") != "off"

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    def timeOne(q: graft.queries.QueryDef): Double = {
      // Clean slate before each query. r13 adjudication: the graph
      // family — last in registry order — ran +26% in-suite while
      // focused medians sat at baseline; the mechanism is accumulated
      // JVM state the ContextCleaner only releases asynchronously.
      // r14's System.gc() helped the builder's machine but the
      // driver's BENCH_r14 still spiked g10 4.29x, because a GC only
      // ENQUEUES the weak refs — the cleaner thread then drains them
      // (block-manager RPC per RDD/broadcast/shuffle) concurrently
      // with the next timed run. r15 makes the sweep DETERMINISTIC
      // instead of GC-timing-dependent:
      //   1. blocking-unpersist every persistent RDD still registered
      //      (localCheckpoint frames a query didn't — or couldn't —
      //      release; synchronous block removal, no cleaner involved),
      //   2. drop any cached plans,
      //   3. one GC to enqueue dead broadcasts/shuffles, then a short
      //      untimed drain window for the cleaner's async RPCs so they
      //      don't land inside the next measurement.
      // All untimed; ~0.2 s x |registry| of harness overhead. The
      // SessionScoped memo frames (d04/d07 shared stage, s03b's pinned
      // assignment) are exempt: they are localCheckpointed with
      // truncated lineage, so sweeping them would hard-fail every later
      // consumer — and re-materializing the shared stage per query is
      // precisely the cost the memo (and the baseline it was recorded
      // under) deliberately excludes.
      if (sweepOn) {
        val keep = graft.core.SessionScoped.livePersistedRddIds(spark)
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => keep(id) }
          .values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
      }
      val warmup = once(q.build)
      if (warmup < 0 || runs < 1) warmup
      else if (warmup > 5.0) {
        // expensive query (model fits): ONE warm run instead of the
        // full median — but never record the cold warmup itself; a
        // transient stall there (JIT, page-cache miss, competing
        // process) would be indistinguishable from a real regression
        once(q.build)
      } else {
        // a run that fails after a clean warmup marks the query failed
        // rather than polluting (or hiding inside) the median
        val timed = (1 to runs).map(_ => once(q.build))
        if (timed.exists(_ < 0)) -1.0
        else { val s = timed.sorted; s(s.length / 2) }
      }
    }

    // Deterministic order; registry order groups related queries so the
    // first touch of each table is paid inside its own family.
    val selected = SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
    val results = selected.map(q => q.name -> timeOne(q))

    // Self-adjudication: full-suite numbers run 30-60% hot (GC and page
    // -cache contention from 100+ queries sharing one JVM), which in
    // past rounds produced false >2x-of-baseline flags that needed hand
    // re-runs to dismiss. So after the suite, any query over 2x its
    // BASELINE.md entry is re-timed alone in a FRESH SparkContext
    // (warm JIT, zero inherited block-manager state — the same
    // conditions as a hand-run focused bench; see needRefocus below) and
    // BOTH numbers are recorded: `queries` keeps the suite time,
    // `focused` carries the re-time. A gate reader compares `focused`
    // when present, `queries` otherwise. Focused runs (BENCH_ONLY set)
    // are already contention-free and skip this.
    // the sf extracted from the data dir gates which baseline rows
    // apply: a future probe batch recorded at another scale (e.g.
    // `| name | 0.5 | sec |`) must not override the sf0.1 entries.
    // The number pattern is anchored (no trailing dots from paths like
    // "sf0.1.bak"), and an UNPARSEABLE dir disables adjudication loudly
    // rather than matching every row (cross-scale last-wins would
    // silently re-time against the wrong scale's baselines).
    val sfTag = """sf([0-9]+(?:\.[0-9]+)?)""".r
      .findFirstMatchIn(sfDir).map(_.group(1))
    if (sfTag.isEmpty && only.isEmpty)
      System.err.println(
        s"[bench] no sf tag in '$sfDir' — outlier adjudication disabled")
    val baselines = if (only.isDefined || sfTag.isEmpty) Map.empty[String, Double]
      else loadBaselines(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE.md"), sfTag)
    val needRefocus = results
      .filter { case (n, t) =>
        t >= 0 && baselines.get(n).exists(b => t > 2 * b) }
    // Refocus in a FRESH SparkContext (r15, VERDICT ask #1): the r14
    // same-JVM refocus of g10 still read 1.28x above the fresh-JVM
    // focused median — residual block-manager/broadcast state from 300+
    // prior queries survives a single GC. Stopping the context releases
    // ALL of it (blocks, broadcasts, shuffle files) synchronously, so
    // the refocus reproduces the hand-run focused-bench conditions
    // (fresh context, warm JIT) instead of inheriting the suite's heap.
    if (needRefocus.nonEmpty) { spark.stop(); spark = newSession() }
    val focused = needRefocus
      .map { case (n, _) =>
        n -> timeOne(selected.find(_.name == n).get) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fq = focused.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // full-precision per-query map goes to a git-tracked file — the
    // durable record rounds are compared on
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_out.json")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"focused":$fq,"sf":"$sfDir"}""" + "\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      fullJson)
    // sha16 sidecar: the same binding the stdout line carries, durable
    // next to the map so BenchMapFreshnessSpec can verify a committed
    // canonical map is byte-identical to what this run produced
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath + ".sha16"), sha16(fullJson) + "\n")
    println(renderLine(results, total, outPath, sfDir, focused.size,
      sha16(fullJson)))
    spark.stop()
  }

  /** Per-query baseline seconds from BASELINE.md's timing tables (rows
    * shaped `| name | sf | sec |`). Rows whose sf cell differs from
    * `sf` (when given) are skipped — baselines recorded at another
    * scale never apply. Later batches re-record queries, so the LAST
    * matching occurrence of a name wins. Missing file → empty map (the
    * suite still runs; nothing gets adjudicated). */
  def loadBaselines(path: String, sf: Option[String] = None): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val row = """^\|\s*([a-z][a-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|\s*([0-9.]+)\s*\|""".r
    // explicit UTF-8: the file contains multibyte punctuation and the
    // forked bench JVM's platform default charset may not be UTF-8
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p,
        java.nio.charset.StandardCharsets.UTF_8).asScala.iterator
      .flatMap {
        case row(name, rowSf, sec) if sf.forall(_ == rowSf) =>
          Some(name -> sec.toDouble)
        case _ => None
      }
      .toSeq
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
  }

  /** First 16 hex chars of SHA-256 — binds the budgeted stdout line to
    * the full-precision map file it points at, so the round artifact
    * (which captures only the stdout tail) is verifiably paired with
    * the committed full map: `sha256sum <full>` must start with it. */
  def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** The one structured stdout line the driver parses. The log tail
    * kept by callers is ~2000 chars and sbt's trailing "[success] Total
    * time ..." line sits inside that window, so a full named map (~3 kB
    * at 89 queries, ~7 kB at 259) gets FRONT-truncated past
    * parseability (BENCH_r01/r02 both lost their head this way).
    *
    * The line therefore carries the COMPLETE per-query record in its
    * densest form (VERDICT r10 ask #4 — the round artifact must parse
    * to n == registry size with omitted 0): `"qv"` is every timing at
    * 2 decimals IN INPUT (registry) ORDER — ~5.3 chars/query, so a
    * ~275-query registry fits the 2000-char tail with room to spare —
    * and `"omitted":0` records that nothing was dropped. Names resolve
    * positionally against `SparkEntry.registry` (the committed code)
    * or, with full precision, against the `"full"` file the
    * `"full_sha"` field binds to. The human-readable `"queries"` named
    * map keeps the slowest prefix that still fits after qv.
    *
    * If a future registry outgrows the window even at 2 decimals, qv
    * drops and the line falls back to the legacy named-prefix-only form
    * with an honest positive `omitted` (BenchLineSpec covers both
    * modes). Spec-guarded: valid JSON, under budget, at any size. */
  def renderLine(results: Seq[(String, Double)], total: Double,
      outPath: String, sfDir: String, refocused: Int = 0,
      fullSha: String = ""): String = {
    val budget = 1880
    // Locale.ROOT: the f-interpolator uses the JVM default locale, which
    // on comma-decimal locales would print "1,234" and corrupt the JSON
    def f3(v: Double) =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def f2(v: Double) =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val shaField =
      if (fullSha.isEmpty) "" else s""","full_sha":"$fullSha""""
    val base = s"""{"metric":"total","value":${f3(total)},"unit":"sec"""" +
      s""","n":${results.size},"refocused":$refocused""" +
      s""","full":"$outPath"$shaField,"sf":"$sfDir""""
    val qv = results.map(r => f2(r._2)).mkString("[", ",", "]")
    val qvField = s""","order":"registry","qv":$qv"""
    // 60 = room for the empty queries map + omitted/named_omitted tail
    val useQv = base.length + qvField.length + 60 <= budget
    val header = base + (if (useQv) qvField else "") + ""","queries":{"""
    val bySlowest = results.sortBy { case (_, v) => -v }
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
    val sb = new StringBuilder(header)
    var taken = 0
    // stop at the FIRST entry that doesn't fit: the kept set must be the
    // contiguous slowest prefix — scanning on would let a fast query
    // with a short name displace a slower one with a longer name
    var fits = true
    val it = bySlowest.iterator
    while (fits && it.hasNext) {
      val e = it.next()
      val sep = if (taken == 0) 0 else 1
      if (sb.length + sep + e.length + 40 <= budget) {
        if (taken > 0) sb.append(',')
        sb.append(e); taken += 1
      } else fits = false
    }
    // two independent truncation contracts (r11 ADVICE): `omitted`
    // counts timings missing from the LINE as a whole (0 in qv mode —
    // qv is complete); `named_omitted` counts entries the human-readable
    // slowest-prefix `queries` map dropped, so a consumer of the named
    // map alone can still check size(queries) + named_omitted == n.
    val omitted = if (useQv) 0 else results.size - taken
    val namedOmitted = results.size - taken
    sb.append(s"""},"omitted":$omitted,"named_omitted":$namedOmitted}""")
    sb.toString
  }
}
