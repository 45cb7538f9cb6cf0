package graft.ext

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-14 additions: the x62 composed curation manifest is replayed
  * stage by stage against the STANDALONE operators (d01/d10/t22/x07/
  * x10/x30/x51 — VERDICT r13 ask #5's "accounting equals the
  * standalone operators" condition), and g23's vertex-priority
  * butterfly counts are asserted equal to g22's unoriented census
  * (ask #4). DuckDB hash parity is the Verify gate's job. */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  private case class Doc(id: Long, text: String, lang: String,
      source: String, nChars: Long)

  private lazy val docs: Seq[Doc] =
    spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** exact round-half-up, matching Spark SQL round() on doubles. */
  private def roundHalfUp(x: Double): Long =
    new java.math.BigDecimal(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  test("x62: per-stage accounting equals the standalone operators") {
    val byId = docs.map(d => d.id -> d).toMap
    def chars(ids: Set[Long]): Long = ids.toSeq.map(byId(_).nChars).sum

    // stage 1 — d01's canonical set IS the survivor set
    val s1: Set[Long] = Dedup.exact.build(spark, sf).collect()
      .map(_.getLong(0)).toSet
    // stage 2 — the d10 pair generator on the s1 frame; greater ids drop
    val s1df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id").isin(s1.toSeq: _*))
    val bIds = Dedup.minhashPairs(s1df, Dedup.MinHashFamily.Md5, 8, 4, 64,
        col("jaccard") >= 0.5)
      .collect()
      .map(_.getLong(1)).toSet
    val s2 = s1 -- bIds
    // stage 3 — t22's standalone flag table, five structural rules
    val structural = TextAnalysis.gopherRuleNames.filterNot(_ == "r_stopwords")
    val pass5 = TextAnalysis.gopherRules.build(spark, sf).collect()
      .filter(r => structural.forall(c => r.getAs[Boolean](c)))
      .map(_.getAs[Long]("doc_id")).toSet
    val s3 = s2 intersect pass5
    // stage 4 — x07's split rule, replayed with java MessageDigest
    def hx(id: Long): String = md5hex(id.toString).substring(0, 1)
    val s4 = s3.filterNot(id => hx(id) == "0" || hx(id) == "1")
    // stage 5 — x10's standalone contaminated set ∩ survivors (the
    // per-doc condition is fixed-benchmark, so membership composes)
    val x10ids = Curation.decontaminate.build(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val s5 = s4 -- x10ids
    // stage 6 — x30's cap rule (10 longest per source), pure-Scala sort
    val s6: Set[Long] = s5.groupBy(id => byId(id).source).values
      .flatMap(ids => ids.toSeq.sortBy(id => (-byId(id).nChars, id)).take(10))
      .toSet
    // stage 7 — x51's DSIR score replayed: +0.5 Laplace over the s6
    // union vocabulary, per-token 1e-6-nat integer weights, exact sums
    val census: Map[Long, Map[String, Long]] = s6.toSeq.map { id =>
      id -> byId(id).text.split(" ").filter(_.nonEmpty)
        .groupBy(identity).map { case (t, v) => t -> v.length.toLong }
    }.toMap
    val vocab: Map[String, (Long, Long)] =
      census.toSeq.flatMap { case (id, m) =>
        m.map { case (t, n) => (t, n, byId(id).lang == "en") }
      }.groupBy(_._1).map { case (t, v) =>
        t -> (v.filter(_._3).map(_._2).sum, v.map(_._2).sum)
      }
    val nt = vocab.values.map(_._1).sum.toDouble
    val ns = vocab.values.map(_._2).sum.toDouble
    val v = vocab.size.toDouble
    val w: Map[String, Long] = vocab.map { case (t, (ct, cs)) =>
      t -> roundHalfUp(math.log(((ct.toDouble + 0.5) / (nt + 0.5 * v)) /
        ((cs.toDouble + 0.5) / (ns + 0.5 * v))) * 1000000)
    }
    val s7 = s6.filter(id =>
      census(id).map { case (t, n) => n * w(t) }.sum > 0L)

    val n0 = docs.size.toLong
    val c0 = docs.map(_.nChars).sum
    val want = Seq(
      (1L, "exact_dedup", n0, s1.size.toLong, c0, chars(s1)),
      (2L, "fuzzy_dedup", s1.size.toLong, s2.size.toLong, chars(s1), chars(s2)),
      (3L, "quality_gate", s2.size.toLong, s3.size.toLong, chars(s2), chars(s3)),
      (4L, "eval_holdout", s3.size.toLong, s4.size.toLong, chars(s3), chars(s4)),
      (5L, "decontam", s4.size.toLong, s5.size.toLong, chars(s4), chars(s5)),
      (6L, "domain_cap", s5.size.toLong, s6.size.toLong, chars(s5), chars(s6)),
      (7L, "dsir_selection", s6.size.toLong, s7.size.toLong, chars(s6), chars(s7)))
      .map { case (no, nm, ri, ro, ci, co) =>
        (no, nm, ri, ro, ri - ro, ci, co, ci - co) }
    val got = Curation.curationManifest.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == want, s"manifest drift:\n got  $got\n want $want")
    // the chain genuinely trims at every gated stage on this fixture
    assert(s7.nonEmpty && s7.size < n0)
  }

  test("g23: vertex-priority butterfly counts equal g22's census") {
    val g22 = Graph.butterflyCount.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val g23 = Graph.butterflyOriented.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(g23.nonEmpty && g23 == g22,
      s"orientation is not lossless: got ${g23.take(5)} want ${g22.take(5)}")
  }

  test("g24: bipartite clustering coefficients match a pure-Scala replay") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySup = li.groupBy(_._2).map { case (s, v) => s -> v.map(_._1).toSet }
    val sups = bySup.keys.toSeq.sorted
    val want = sups.flatMap { s =>
      val partners = sups.filter(t => t != s && (bySup(s) & bySup(t)).nonEmpty)
      if (partners.isEmpty) None else {
        val ccs = partners.map { t =>
          val c = (bySup(s) & bySup(t)).size.toLong
          1000000L * c / (bySup(s).size + bySup(t).size - c)
        }
        Some((s, partners.size.toLong, ccs.sum / ccs.size, ccs.max))
      }
    }
    val got = Graph.bipartiteClustering.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"g24 drift: got ${got.take(3)} want ${want.take(3)}")
  }

  test("ml35: log-rank O/E/V/chi2 match a pure-Scala replay") {
    val rows = graft.core.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perUser = rows.groupBy(_._1).flatMap { case (u, v) =>
      val vUs = v.filter(_._2 == "view").map(_._3).minOption
      val pUs = v.filter(_._2 == "purchase").map(_._3).minOption
      val last = v.map(_._3).max
      vUs.map { vu =>
        val conv = pUs.exists(_ >= vu)
        val day = (if (conv) pUs.get - vu else last - vu) / 86400000000L
        val grp = if ("01234567".contains(md5hex(u.toString).charAt(0))) 0 else 1
        (grp, day, if (conv) 1 else 0)
      }
    }.toSeq
    val n0a = perUser.count(_._1 == 0).toLong
    val n0b = perUser.count(_._1 == 1).toLong
    val days = perUser.map(_._2).distinct.sorted
    var (remA, remB) = (n0a, n0b)
    var (oa, ob, ea, ve) = (0L, 0L, 0L, 0L)
    for (day <- days) {
      val cellA = perUser.filter(r => r._1 == 0 && r._2 == day)
      val cellB = perUser.filter(r => r._1 == 1 && r._2 == day)
      val (da, db) = (cellA.count(_._3 == 1).toLong, cellB.count(_._3 == 1).toLong)
      val (na, nb) = (remA, remB); val n = na + nb; val dd = da + db
      if (dd > 0 && n > 0) {
        oa += da; ob += db
        ea += roundHalfUp(dd.toDouble * na.toDouble / n.toDouble * 1000000)
        if (n > 1) ve += roundHalfUp(
          (dd.toDouble * na.toDouble * nb.toDouble * (n - dd).toDouble) /
            (n.toDouble * n.toDouble * (n - 1).toDouble) * 1000000)
      }
      remA -= cellA.size; remB -= cellB.size
    }
    val chi2 = if (ve > 0) roundHalfUp({
      val d6 = (1000000L * oa - ea).toDouble; d6 * d6 / ve.toDouble
    }) else 0L
    val got = graft.queries.MlQueries.logRank.build(spark, sf).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5), got.getLong(6)) ==
      (n0a, n0b, oa, ob, ea, ve, chi2),
      s"ml35 drift: got $got want ($n0a,$n0b,$oa,$ob,$ea,$ve,$chi2)")
    // censoring genuinely exercised: someone converted, someone didn't
    assert(oa + ob > 0 && oa + ob < n0a + n0b)
  }

  test("q68: QUALIFY rewrite equals a pure-Scala top-3 per customer") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_custkey", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = orders.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (c, v) =>
        v.sortBy(o => (-o._3, o._2)).take(3).zipWithIndex
          .map { case ((_, ok, tp), i) => (c, ok, tp, i + 1) }
    }
    val got = graft.queries.Relational.q68.build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(got == want, s"q68 drift: got ${got.take(3)} want ${want.take(3)}")
  }

  test("x60: always emits the full 3-split domain") {
    val rows = Curation.temporalSplit.build(spark, sf).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("test", "train", "val"))
    // non-degenerate on the fixture: every split populated, clean edges
    assert(rows.forall(r => r.getAs[Long]("degenerate") == 0L))
    assert(rows.forall(r => r.getAs[Long]("boundary_ok") == 1L))
  }
}
