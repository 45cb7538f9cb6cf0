package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.sf0001

  test("x01 hash sample is entity-closed and near the 13/256 rate") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val sampled = li.filter(
      expr("substring(md5(CAST(l_orderkey AS STRING)), 1, 2) < '0d'"))
    // entity-closed: for every sampled order, ALL its lineitems are in
    val keys = sampled.select("l_orderkey").distinct()
    val full = li.join(keys, "l_orderkey")
    assert(sampled.count() == full.count())
    // rate: binomial(n_orders, 13/256) — allow a wide band
    val nOrders = li.select("l_orderkey").distinct().count()
    val rate = keys.count().toDouble / nOrders
    assert(rate > 0.02 && rate < 0.09, s"sample rate $rate out of band")
    // determinism across runs (no sampler state)
    assert(Curation.sampleEntityHash.build(spark, sf).collect().toSeq ==
      Curation.sampleEntityHash.build(spark, sf).collect().toSeq)
  }

  test("x02 stratified sample: exactly min(20, |stratum|) rows per stratum") {
    val out = Curation.sampleStratifiedHash.build(spark, sf)
    val perStratum = out.groupBy("l_returnflag", "l_linestatus")
      .count().collect()
    val strata = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(perStratum.nonEmpty)
    perStratum.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == math.min(20L, strata(k)))
    }
  }

  test("x03 curation: survivors are text-unique and pass the gates") {
    val out = Curation.corpusCuration.build(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Int]("n_tokens") >= 5)
      assert(r.getAs[Double]("punct_ratio") < 0.2)
    }
    // survivors must be one-per-distinct-text among themselves
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    val survivors = docs.filter(col("doc_id").isin(ids.toSeq: _*))
    assert(survivors.select("text").distinct().count() == ids.size)
  }

  test("x05 salted agg equals the plain group-by for any salt factor") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plain = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (factor <- Seq(2, 8)) {
      val salted = graft.ops.Skew
        .saltedSum(li, "l_returnflag", "l_quantity", saltFactor = factor)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(salted == plain, s"salt factor $factor changed the result")
    }
  }

  test("x06 incremental dedup admits exactly the batch fps absent from the corpus") {
    val out = Curation.incrementalDedup.build(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "md5(text) AS fp").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val existingFps = docs.filter(_._1 >= 250).map(_._2).toSet
    val batch = docs.filter(_._1 < 250)
    val admitted = out.map(_.getAs[Long]("admitted_id")).toSet
    // no admitted doc's fingerprint may exist in the corpus
    val fpById = docs.toMap
    assert(admitted.forall(id => !existingFps.contains(fpById(id))))
    // completeness: every batch fp not in the corpus has exactly one survivor
    val newFps = batch.filter(d => !existingFps.contains(d._2))
    assert(admitted.size == newFps.map(_._2).distinct.length)
    // survivor is the min id of its batch duplicate group
    assert(out.forall { r =>
      val fp = fpById(r.getAs[Long]("admitted_id"))
      r.getAs[Long]("admitted_id") ==
        batch.filter(_._2 == fp).map(_._1).min
    })
  }

  test("x07 hash split partitions the corpus near 2/16 eval") {
    val out = Curation.hashSplit.build(spark, sf).collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.values.sum == total)
    val evalFrac = out.getOrElse("eval", 0L).toDouble / total
    assert(evalFrac > 0.04 && evalFrac < 0.25, s"eval fraction $evalFrac")
  }

  test("x10 decontamination equals the raw-gram recompute and stays in-split") {
    import org.apache.spark.sql.functions._
    val out = Curation.decontaminate.build(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contam_grams"))
      .toMap
    // recompute WITHOUT the xxhash64 shortcut: raw 13-gram strings
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val gramSql = "transform(sequence(0, greatest(size(split(text, ' ')) - 13, 0)), " +
      "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 13)))"
    val grams = docs.select(col("doc_id"),
      expr("substring(md5(CAST(doc_id AS STRING)), 1, 1)").as("hx"),
      explode(expr(gramSql)).as("g"))
    val ev = grams.filter(col("hx").isin("0", "1")).select("g").distinct()
    val raw = grams.filter(!col("hx").isin("0", "1"))
      .select("doc_id", "g").distinct()
      .join(ev, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n")).toMap
    assert(out == raw, s"hashed/raw divergence: $out vs $raw")
    // every flagged doc is on the train side of x07's split rule
    assert(out.keySet.forall { id =>
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 1)
      hx != "0" && hx != "1"
    })
  }

  test("x11 two-phase packing equals the naive global prefix sum") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val out = Curation.packSequences.build(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("bin_tokens"))).toSeq.sortBy(_._1)
    // naive single-window reference (fine at spec scale, the anti-pattern
    // at 100 TB — equality here proves bucketing does not change results)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr(raw"size(split(trim(text), '\\s+'))").cast("long").as("n_tokens"))
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = docs
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("bin", expr("cum_before DIV 2048"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("bin_tokens"))).toSeq.sortBy(_._1)
    assert(out == naive)
    // conservation: bins partition the corpus
    assert(out.map(_._2).sum == docs.count())
    val totalTokens = docs.agg(sum("n_tokens")).head.getLong(0)
    assert(out.map(_._3).sum == totalTokens)
    // bins are contiguous from 0
    assert(out.map(_._1) == (0L until out.length).toSeq)
  }

  test("x11 corpus-side window is bucket-partitioned, never single-partition") {
    import org.apache.spark.sql.execution.ExplainMode
    val p = Curation.packSequences.build(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the doc-level cumulative sum shuffles by bucket (parallel windows)
    assert(p.contains("hashpartitioning(bucket"), p)
    // exactly one SinglePartition exchange survives: the `buckets`-row
    // offsets relation — the corpus never funnels through one partition
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1, p)
  }

  test("x12 pipeline keeps exactly one survivor per near-dup cluster") {
    import org.apache.spark.sql.functions._
    val out = Curation.fuzzyDedupPipeline.build(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // corpus-wide conservation
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(out.forall(r =>
      r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed") ==
        r.getAs[Long]("n_docs")))
    // removal count == sum over components of (size - 1)
    val labels = graft.ext.Dedup.connectedComponents(
      graft.ext.Dedup.ngramJaccard.build(spark, sf).select("a_id", "b_id"))
    val expectRemoved = labels.groupBy("component").count()
      .agg(sum(col("count") - 1)).head.getLong(0)
    assert(out.map(_.getAs[Long]("n_removed")).sum == expectRemoved)
  }

  test("x13 upsert merge: updates override, inserts add, pass-through conserved") {
    import org.apache.spark.sql.functions._
    val out = Curation.upsertMerge.build(spark, sf).collect()
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val nSnap = orders.count()
    val nChanged = orders.filter(
      expr("substring(md5(CAST(o_orderkey AS STRING)), 1, 2) < '10'")).count()
    // every snapshot row survives; every insert adds exactly one row
    assert(out.map(_.getAs[Long]("n_rows")).sum == nSnap + nChanged)
    assert(out.map(_.getAs[Long]("n_updated")).sum == nChanged)
    assert(out.map(_.getAs[Long]("n_inserted")).sum == nChanged)
    // value effect: repriced rows carry (cents*11) DIV 10 exactly
    val baseCents = orders.select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"),
      expr("substring(md5(CAST(o_orderkey AS STRING)), 1, 2) < '10'").as("ch"))
    val expect = baseCents.agg(
      sum(when(col("ch"), expr("2 * ((c * 11) DIV 10)")).otherwise(col("c"))))
      .head.getLong(0)
    val got = Math.round(out.map(_.getAs[Double]("total_value")).sum * 100)
    assert(got == expect, s"cent totals: got $got expect $expect")
  }

  test("x14 mixture draw matches each source's declared weight") {
    val out = Curation.mixtureWeights.build(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val w = r.getAs[Double]("weight")
      val frac = r.getAs[Long]("n_kept").toDouble / r.getAs[Long]("n_docs")
      // binomial(25, w) at sf0.001 — wide band, but w=1.0 is exact
      if (w >= 1.0) assert(frac == 1.0, s"${r.getAs[String]("source")}: $frac")
      else assert(math.abs(frac - w) < 0.35,
        s"${r.getAs[String]("source")}: kept $frac vs weight $w")
    }
    // declared weights present: srcN -> {1.0,.75,.5,.25} by N mod 4
    assert(out.map(_.getAs[Double]("weight")).toSet ==
      Set(1.0, 0.75, 0.5, 0.25))
  }

  test("g01 pagerank is deterministic, floored by the damping term, supplier-topped") {
    val a = Graph.pagerank.build(spark, sf).collect()
    val b = Graph.pagerank.build(spark, sf).collect()
    assert(a.toSeq == b.toSeq) // bit-identical across runs
    assert(a.forall(_.getAs[Long]("score") >= 150000000L))
    // suppliers aggregate the scores of many parts (deg ~80 vs ~4), so
    // the centrality ranking must put a supplier first
    assert(a.head.getAs[String]("kind") == "supplier", a.head.toString)
  }

  test("g02 triangle counts: K4 plus pendant path, each triangle once") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + path 4-5-6 (none)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("u", "v")
    val out = Graph.triangleCounts(edges).collect()
      .map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("triangles")).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // total triangles = sum/3 = 4
    assert(out.values.sum == 12L)
  }

  test("g03 k-core peels pendants, keeps K4, and reaches a fixpoint") {
    import spark.implicits._
    // K4 on {1,2,3,4} (the 3-core) + pendant path 4-5-6 (peels away)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("u", "v")
    val core = Graph.kcoreDegrees(edges, 3, 4).collect()
      .map(r => r.getAs[Long]("n") -> r.getAs[Long]("deg")).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // registered rounds reach the fixpoint on the fixture: one more
    // round changes nothing
    val registered = Graph.kcore.build(spark, sf).collect().toSeq
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val parts = li.selectExpr("l_orderkey AS ok", "l_partkey AS pk").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ok").orderBy("pk")
    val fixtureEdges = parts
      .withColumn("u", org.apache.spark.sql.functions.lag("pk", 1).over(w))
      .filter("u IS NOT NULL").selectExpr("u", "pk AS v").distinct()
    val onePastRegistered = Graph.kcoreDegrees(fixtureEdges, 3, 4)
      .selectExpr("n AS node_id", "deg")
      .orderBy(org.apache.spark.sql.functions.col("deg").desc,
        org.apache.spark.sql.functions.col("node_id"))
      .limit(20).collect().toSeq
    assert(registered == onePastRegistered,
      "k-core did not converge within the unrolled rounds")
  }

  test("g02 on the fixture: deterministic and every count positive") {
    val a = Graph.triangles.build(spark, sf).collect()
    val b = Graph.triangles.build(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(_.getAs[Long]("triangles") > 0))
  }

  test("x15 thresholds are the exact discrete p1/p99 on the fixture") {
    import org.apache.spark.sql.functions._
    val out = Curation.quantileOutlierFilter.build(spark, sf).collect()
    assert(out.nonEmpty)
    val (lo, hi) = (out.head.getAs[Long]("lo"), out.head.getAs[Long]("hi"))
    // recompute the definition directly: smallest value whose cumulative
    // count reaches ceil(p * N)
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select("n_chars").collect().map(_.getLong(0)).sorted
    val n = lens.length
    def pct(p: Int) = lens((p * n + 99) / 100 - 1) // value at rank ceil(p*n/100)
    assert(lo == pct(1), s"lo=$lo expected ${pct(1)}")
    assert(hi == pct(99), s"hi=$hi expected ${pct(99)}")
    // every kept row is inside the band and the band is non-degenerate
    assert(out.forall(r => r.getAs[Long]("min_chars") >= lo &&
      r.getAs[Long]("max_chars") <= hi))
    assert(lo < hi)
  }

  test("x17 rebalance: under-cap sources pass whole, over-cap downsample") {
    val out = Curation.budgetRebalance.build(spark, sf).collect()
    assert(out.length > 1)
    val whole = out.filter(_.getAs[Double]("f") >= 1.0)
    val capped = out.filter(_.getAs[Double]("f") < 1.0)
    // f = 1 exactly => every doc kept (no hash draw can exceed 1)
    whole.foreach { r =>
      assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_docs"), r.toString)
    }
    // the draw is a subset and deterministic across runs
    capped.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
    }
    val again = Curation.budgetRebalance.build(spark, sf).collect()
    assert(out.toSeq == again.toSeq)
  }

  test("x18 bloom-prefiltered decontamination is bit-identical to x10") {
    val exact = Curation.decontaminate.build(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contam_grams"))
      .toMap
    val bloomed = Curation.decontaminateBloom.build(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contam_grams"))
      .toMap
    assert(exact.nonEmpty, "fixture has no contamination — spec is vacuous")
    assert(bloomed == exact)
  }

  test("x19 split never tears a near-dup pair and conserves the corpus") {
    def side(root: Long): String = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(root.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 1)
      if (hx == "0" || hx == "1") "eval" else "train"
    }
    // engine-side per-doc assignment, recomputed the same way x19 does
    val pairs = Dedup.ngramJaccard.build(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(pairs.nonEmpty, "fixture has no near-dup pairs — spec is vacuous")
    val labels = Dedup.connectedComponents(
        Dedup.ngramJaccard.build(spark, sf).select("a_id", "b_id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
      .toMap
    def docSide(id: Long): String = side(labels.getOrElse(id, id))
    // no pair straddles the split
    pairs.foreach { case (a, b) =>
      assert(docSide(a) == docSide(b), s"pair ($a, $b) straddles the split")
    }
    // the naive per-doc rule WOULD have torn at least one pair (i.e. the
    // operator actually changes assignments, not vacuously equal to x07)
    assert(pairs.exists { case (a, b) => side(a) != side(b) },
      "fixture never exercises the leakage case")
    // conservation: split totals cover every document exactly once
    val out = Curation.leakageSafeSplit.build(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count())
    val clustered = out.map(_.getAs[Long]("n_clustered")).sum
    assert(clustered == labels.size)
  }

  test("x20 incremental fuzzy == mixed pairs of the full uncapped LSH") {
    def isNew(id: Long): Boolean = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 1)
      hx == "0" || hx == "1"
    }
    val out = Curation.incrementalFuzzy.build(spark, sf).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"))).toSet
    assert(out.nonEmpty, "fixture has no cross-split near-dups — vacuous")
    // every reported pair is batch-vs-index, never batch-internal
    out.foreach { case (n, o) =>
      assert(isNew(n) && !isNew(o), s"pair ($n, $o) violates the split")
    }
    // equivalence: the full-corpus LSH (cap disabled) restricted to
    // mixed pairs finds exactly the same set
    val full = Dedup.minhashPairs(
        spark.read.parquet(s"$sf/documents.parquet"),
        Dedup.MinHashFamily.Md5, K = 8, bandRows = 4,
        maxBucketSize = Int.MaxValue, keep = col("jaccard") >= 0.5)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .flatMap { case (a, b) =>
        if (isNew(a) && !isNew(b)) Some((a, b))
        else if (isNew(b) && !isNew(a)) Some((b, a))
        else None
      }.toSet
    assert(out == full, s"x20=$out vs full-mixed=$full")
  }

  test("x22 z-order key is the Morton bijection on the 8x8 grid") {
    import spark.implicits._
    val grid = for { x <- 0 until 8; y <- 0 until 8 } yield (x, y)
    val z = grid.toDF("x", "y")
      .selectExpr("x", "y", s"${Curation.zorderExpr("x", "y", "DIV")} AS z")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // bijection onto [0, 63]
    assert(z.values.toSet == (0L until 64L).toSet)
    // the Morton bit pattern (x bits at even positions)
    assert(z((0, 0)) == 0L && z((1, 0)) == 1L && z((0, 1)) == 2L)
    assert(z((1, 1)) == 3L && z((2, 3)) == 14L && z((7, 7)) == 63L)
    // the layout property: any aligned 4x4 quadrant is one CONTIGUOUS
    // zkey range (16 consecutive values) — exactly why min/max row-group
    // stats prune 2-D ranges under a z-sorted layout
    for (qx <- Seq(0, 4); qy <- Seq(0, 4)) {
      val vals = (for { x <- qx until qx + 4; y <- qy until qy + 4 }
        yield z((x, y))).sorted
      assert(vals == (vals.head to vals.head + 15),
        s"quadrant ($qx,$qy) not contiguous: $vals")
    }
  }

  test("x23 k-anonymity: no published group under k, totals conserved") {
    val k = 10
    // sf0.01: the sf0.001 customer table has no group reaching k, so
    // the publish branch would be vacuous there
    val sf01 = "/root/testdata/sf0.01"
    val out = Curation.kAnonymity.build(spark, sf01).collect()
    val cust = spark.read.parquet(s"$sf01/customer.parquet")
    val published = out.filter(_.getAs[String]("nation") != "*")
    val star = out.filter(_.getAs[String]("nation") == "*")
    assert(published.nonEmpty && star.length == 1, "fixture must exercise both")
    published.foreach(r =>
      assert(r.getAs[Long]("n_rows") >= k, r.toString))
    // the star bucket is made ONLY of under-k groups
    val groups = cust.groupBy("c_nationkey", "c_mktsegment").count()
      .collect().map(_.getLong(2))
    val smallRows = groups.filter(_ < k).sum
    val smallGroups = groups.count(_ < k)
    assert(star.head.getAs[Long]("n_rows") == smallRows)
    assert(star.head.getAs[Long]("n_source_groups") == smallGroups)
    // conservation: suppression hides identity, not rows
    assert(out.map(_.getAs[Long]("n_rows")).sum == cust.count())
  }

  test("x04 shard assignment covers every doc exactly once") {
    val out = Curation.shardHash.build(spark, sf).collect()
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count())
    assert(out.map(_.getAs[String]("shard")).distinct.length == out.length)
    assert(out.forall(r => "0123456789abcdef".contains(r.getAs[String]("shard"))))
  }

  test("x26 snapshot diff: statuses partition both versions, planted edits surface as changed") {
    val out = Curation.snapshotDiff.build(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    val ids = (0L until n)
    def inV1(id: Long) = id % 7 != 3
    def inV2(id: Long) = id % 5 != 2
    // every doc in either version appears exactly once with the right label
    for (id <- ids if inV1(id) || inV2(id)) {
      val expected =
        if (!inV1(id)) "added"
        else if (!inV2(id)) "removed"
        else if (id % 11 == 0) "changed"
        else "unchanged"
      assert(out(id) == expected, s"doc $id")
    }
    assert(out.keySet == ids.filter(id => inV1(id) || inV2(id)).toSet)
  }

  test("x25 manifest: shard totals conserve the gated corpus exactly") {
    val out = Curation.trainingManifest.build(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang").isin("en", "de", "es", "fr"))
      .filter(size(split(col("text"), " ")) >= 20)
    val chunks = Curation.chunkByTokens(docs, 32, 24)
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(out.map(_.getAs[Long]("n_chunks")).sum == chunks.count())
    assert(out.map(_.getAs[Long]("n_tokens")).sum ==
      chunks.agg(sum(col("n_tok"))).collect()(0).getLong(0))
    // shard routing matches x04's: first md5 hex digit
    assert(out.forall(r => "0123456789abcdef".contains(r.getAs[String]("shard"))))
    // deterministic: a second run fingerprints identically
    val again = Curation.trainingManifest.build(spark, sf).collect()
    assert(out.map(r => (r.getString(0), r.getLong(4))).toSeq ==
      again.map(r => (r.getString(0), r.getLong(4))).toSeq)
  }

  test("x24 chunking: offsets, overlap, and exact reconstruction of the original") {
    val words = (1 to 80).map(i => s"w$i")
    val docs = Seq(
      (0L, words.mkString(" ")), // 80 tokens: chunks at 0/24/48, all full
      (1L, words.take(33).mkString(" ")), // 33: chunks at 0 (32) and 24 (9)
      (2L, "a b c")) // shorter than one window: a single short chunk
      .toDF("doc_id", "text")
    val out = Curation.chunkByTokens(docs, window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx").collect()
      .groupBy(_.getAs[Long]("doc_id")).view
      .mapValues(_.map(r => (r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok"),
        r.getAs[String]("chunk_text"))).toSeq).toMap

    assert(out(0L).map(c => (c._1, c._2, c._3)) ==
      Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 32L)))
    assert(out(1L).map(c => (c._1, c._2, c._3)) ==
      Seq((0L, 0L, 32L), (1L, 24L, 9L)))
    assert(out(2L) == Seq((0L, 0L, 3L, "a b c")))

    // consecutive chunks overlap by exactly window - stride = 8 tokens
    val c0 = out(0L).map(_._4.split(" ").toSeq)
    assert(c0(0).takeRight(8) == c0(1).take(8))
    assert(c0(1).takeRight(8) == c0(2).take(8))
    // dropping each chunk's overlap prefix (after the first) rebuilds
    // the document byte-exactly — nothing lost, nothing duplicated
    for ((id, text) <- Seq(0L -> words.mkString(" "),
        1L -> words.take(33).mkString(" "), 2L -> "a b c")) {
      val chunks = out(id).map(_._4.split(" ").toSeq)
      val rebuilt = chunks.head ++ chunks.tail.flatMap(_.drop(8))
      assert(rebuilt.mkString(" ") == text, s"doc $id")
    }
  }

  test("x30 domain cap keeps exactly the 10 longest docs per source, id-tiebroken") {
    // sources: big (15 docs, ties at the cap boundary), exact (10), small (3)
    val tmp = java.nio.file.Files.createTempDirectory("x30").toString
    val rows =
      (0 until 15).map(i => (100L + i, "big", if (i < 12) 50L else 40L)) ++
        (0 until 10).map(i => (200L + i, "exact", 30L + i)) ++
        (0 until 3).map(i => (300L + i, "small", 10L))
    rows.toDF("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val q = Curation.domainCap.build(spark, tmp)

    // the plan runs through the custom bounded-heap operator, not a window
    // (sparkPlan: the pre-AQE physical plan, where the concrete nodes live)
    assert(q.queryExecution.sparkPlan.collect {
      case e: graft.plans.TopKPerKeyExec => e }.nonEmpty,
      "x30 must plan through TopKPerKeyExec")
    assert(q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)

    val out = q.collect()
      .groupBy(_.getAs[String]("source")).view
      .mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    // big: 12 docs at 50 chars tie above the cap — the 10 LOWEST ids win
    assert(out("big") == (100L until 110L).toSet)
    // exact-cap and under-cap groups survive whole
    assert(out("exact") == (200L until 210L).toSet)
    assert(out("small") == (300L until 303L).toSet)
  }

  test("x36 permChecksum: exact past the planted >2⁶³ plain-sum boundary, " +
      "mergeable across shards") {
    // 64 folds of 2⁶⁰ sum to 2⁶⁶ — a plain BIGINT accumulator wraps
    // (the pre-widening fold was exact only to ~8 M docs · 2⁴⁰); the
    // decimal-accumulate-then-mod form must equal the BigInt truth.
    val folds = Seq.fill(64)(1L << 60)
    val got = folds.toDF("f")
      .agg(Curation.permChecksum(col("f")).as("c")).head.getLong(0)
    val want = (BigInt(1) << 66) % BigInt(Curation.ChecksumMod)
    assert(BigInt(got) == want, s"got $got want $want")
    assert(folds.reduce(_ + _) != want.toLong, "boundary not planted past 2^63")
    // shard mergeability: mod distributes over partial sums
    val parts = folds.grouped(16).map(g =>
      g.toDF("f").agg(Curation.permChecksum(col("f"))).head.getLong(0)).toSeq
    assert(parts.map(BigInt(_)).sum % BigInt(Curation.ChecksumMod) == want)
  }
}
