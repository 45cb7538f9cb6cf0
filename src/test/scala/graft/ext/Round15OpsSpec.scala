package graft.ext

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-15 additions: x62b's transitive-closure stage-2 survivor rule
  * is asserted equal to d07-style component representatives — on the
  * real fixture via an independent pure-Scala union-find replay, and
  * on a constructed corpus where the blanket rule and the CC rule
  * genuinely disagree (the fixture's pair graph happens to contain no
  * splitting structure, so without the constructed case the two rules
  * would be indistinguishable here). DuckDB hash parity of the
  * recursive-CTE mirror is the Verify gate's job. */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  /** Union-find with min-root union: find() returns the component
    * MINIMUM — the label d07's mirror independently derives as the
    * minimum reachable id. */
  private def minRoots(pairs: Seq[(Long, Long)]): Long => Long = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    find
  }

  private def stage2(dir: String, cc: Boolean): (Set[Long], Set[Long]) = {
    val (_, frames) =
      Curation.manifestFrames(spark, dir, ccStage2 = cc, stages = Seq(0, 1))
    (frames(0).select("doc_id").collect().map(_.getLong(0)).toSet,
      frames(1).select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("x62b stage-2 survivors equal d07-style component representatives") {
    val (s1, s2cc) = stage2(sf, cc = true)
    val s1df = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id").isin(s1.toSeq: _*))
    val pairs = Dedup.minhashPairs(s1df, Dedup.MinHashFamily.Md5, 8, 4, 64,
        col("jaccard") >= 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val find = minRoots(pairs)
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expected = s1.filter(id => !members(id) || find(id) == id)
    assert(s2cc == expected,
      "CC stage-2 survivors != union-find component representatives")
    // subset law: a component minimum is never the greater member of
    // any pair, so the CC survivor set is contained in the blanket one
    val (_, s2blanket) = stage2(sf, cc = false)
    assert(s2cc.subsetOf(s2blanket))
    assert(s2blanket == s1 -- pairs.map(_._2).toSet,
      "blanket stage-2 survivors != s1 minus greater members")
  }

  test("blanket and CC stage-2 rules genuinely diverge on a constructed corpus") {
    // Deterministic 3-doc corpus (md5-keyed minhash, so band collisions
    // are a pure function of the text): C (id 3) is a verified near-dup
    // of BOTH A (id 1) and B (id 2) — shared 3-word-shingle Jaccard
    // 43/73 ≈ 0.589 each, bands colliding via the corpus's globally
    // minimal shared shingle hash — while J(A,B) = 28/88 ≈ 0.318 fails
    // the θ = 0.5 exact-Jaccard verify. Blanket rule: only 3 is ever
    // the greater member of a verified pair → survivors {1, 2}. CC
    // rule: one component {1, 2, 3}, minimum 1 → survivors {1}.
    val c = (0 until 60).map(i => f"word$i%02d")
    val textA = (c.take(45) ++ (0 until 15).map(j => s"alpha0x$j")).mkString(" ")
    val textB = (c.drop(15) ++ (0 until 15).map(j => s"beta0x$j")).mkString(" ")
    val textC = c.mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("x62b_div").toString
    import spark.implicits._
    Seq((1L, textA), (2L, textB), (3L, textC))
      .map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val pairs = Dedup.minhashPairs(
        spark.read.parquet(s"$tmp/documents.parquet"),
        Dedup.MinHashFamily.Md5, 8, 4, 64, col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (2L, 3L)),
      s"constructed corpus no longer yields the path pair graph: $pairs")
    val (_, s2blanket) = stage2(tmp, cc = false)
    val (_, s2cc) = stage2(tmp, cc = true)
    assert(s2blanket == Set(1L, 2L))
    assert(s2cc == Set(1L))
  }
}
