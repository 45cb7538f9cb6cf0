package graft.ext

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Regression for the mega-bucket/dup-cluster interaction: a duplicate
  * cluster LARGER than the bucket cap must still be fully recovered
  * through the identical-signature path (rep, member pairs). */
class DupClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dup cluster larger than maxBucketSize survives the cap") {
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val docs = ((0L until 20L).map(i => (i, boiler)) :+
      (99L, "completely different words nothing shared here at all ok"))
      .toDF("doc_id", "text")
    // d06's form: the xxhash64 core as Jaccard distance < 0.95
    val pairs = Dedup.minhashPairs(docs, Dedup.MinHashFamily.XxHash64,
        16, 4, maxBucketSize = 5, keep = lit(1.0) - col("jaccard") < 0.95)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        (1.0 - r.getAs[Double]("jaccard"))).toMap
    // every duplicate pairs with the min-id representative at distance 0
    (1L until 20L).foreach { i =>
      assert(pairs.get((0L, i)).contains(0.0), s"missing dup (0,$i)")
    }
    // the unrelated doc pairs with nothing
    assert(!pairs.keys.exists { case (a, b) => a == 99L || b == 99L })
  }

  test("d10 md5 minhash: dup cluster larger than the cap survives too") {
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"
    val docs = ((0L until 20L).map(i => (i, boiler)) :+
      (99L, "completely different words nothing shared here at all ok"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, Dedup.MinHashFamily.Md5, 8, 4,
        maxBucketSize = 5, keep = col("jaccard") >= 0.5)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Double]("jaccard")).toMap
    // with the cap at 5 every band bucket of the 20-dup cluster is a
    // mega bucket; the identical-signature recovery must still emit
    // (rep=0, member) pairs at jaccard exactly 1.0
    (1L until 20L).foreach { i =>
      assert(pairs.get((0L, i)).contains(1.0), s"missing dup (0,$i)")
    }
    assert(!pairs.keys.exists { case (a, b) => a == 99L || b == 99L })
  }
}
