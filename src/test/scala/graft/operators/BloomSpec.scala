package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.functions.GraftFunctions
import graft.streaming.StreamParity

class BloomSpec extends SparkSuite with StreamParity {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the cat sat on the mat today"),
    (2L, "a completely different sentence here now"),
    (3L, "the cat sat on the mat today"), // exact dup of 1
    (4L, "unrelated text with other words entirely"),
    (5L, "benchmark eval question about the cat"))
  private def docs = corpus.toDF("doc_id", "text")

  test("fitBloom: every fit key tests maybe=true (no false negatives); n_hit in 0..k") {
    val model = Sketches.fitBloom(docs.select(col("text").as("key")), "key",
      numBits = 1024, k = 5)
    val out = Sketches.bloomScored(docs, model)
      .as[(Long, Long, Boolean)].collect()
    assert(out.forall(_._3), "a fit key tested negative — Bloom false negative")
    assert(out.forall(r => r._2 == 5L))
    // A key far outside the fit set: n_hit < k with overwhelming
    // probability at this load factor (25 positions / 1024 bits).
    val alien = Sketches.bloomScored(
      Seq((99L, "zzz qqq www never fit")).toDF("doc_id", "text"), model)
      .as[(Long, Long, Boolean)].head()
    assert(!alien._3 && alien._2 < 5L)
  }

  test("bloom positions are deterministic, in range, and k-many") {
    val pos = docs.select(GraftFunctions.bloom_positions(col("text"), 7, 640).as("p"))
      .as[Seq[Long]].collect()
    assert(pos.forall(_.length == 7))
    assert(pos.flatten.forall(p => p >= 0 && p < 640))
    val pos2 = docs.select(GraftFunctions.bloom_positions(col("text"), 7, 640).as("p"))
      .as[Seq[Long]].collect()
    assert(pos.toSeq == pos2.toSeq)
  }

  test("streaming Bloom scoring ≡ batch on a document stream; zero streaming state") {
    val model = Sketches.fitBloom(
      docs.filter(col("doc_id") % 2 === 1).select(col("text").as("key")), "key",
      numBits = 1024, k = 5)
    assertStreamMatchesBatch(docs, Sketches.bloomScored(_, model),
      Sketches.bloomScored(docs, model))
  }
}
