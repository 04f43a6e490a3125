package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Scale-mechanics proofs: bucketed tables join without a shuffle,
  * partitioned writes prune at the scan, and the key-skew report cuts
  * its top-k deterministically. */
class ScaleSpec extends SparkSuite {
  import spark.implicits._

  test("bucketed tables co-locate: sort-merge join with zero exchanges") {
    val n = 1000
    // DROP on the in-memory catalog does not remove a previous JVM's
    // orphaned warehouse directory — clear both.
    for (t <- Seq("bt1", "bt2")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    (1 to n).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt1")
    (1 to n).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt2")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bt1").join(spark.table("bt2"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1000))
      // the whole point of bucketing: both sides arrive pre-hashed,
      // so the join plans with NO shuffle exchange at all
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
      assert(joined.count() == n)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned write prunes partitions at the scan") {
    // Hive-style partitioned layout + an equality predicate on the
    // partition column: the scan must list ONLY the matching
    // partition directory — at 100 TB this is the difference between
    // reading one day and reading the corpus.
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "partprune").toString
    (1 to 300).map(i => (i.toLong, s"d${i % 3}", i * 2.0))
      .toDF("id", "day", "v")
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("day") === "d1")
    val plan = pruned.queryExecution.executedPlan.toString
    // The predicate must be INSIDE the PartitionFilters list — the
    // scan prints `PartitionFilters: []` even when nothing is
    // pushed, so a bare contains("PartitionFilters") check is
    // vacuous.
    assert("PartitionFilters: \\[[^\\]]*day[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"day predicate not pushed into partition filters:\n${plan.take(1500)}")
    // The data filter must NOT survive as a post-scan Filter over
    // all partitions; row counts pin the pruned read.
    assert(pruned.count() === 100L)
    assert(pruned.select(sum(col("v"))).as[Double].head() ===
      (1 to 300).filter(_ % 3 == 1).map(_ * 2.0).sum)
    // Partition-column pruning composes with column pruning: a
    // projection that drops `v` must not read it.
    val proj = spark.read.parquet(dir).filter(col("day") === "d1").select("id")
    val scan = proj.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<id:bigint>"),
      s"projection did not prune the scan:\n${scan.take(1500)}")
  }

  test("key-skew report ranks heavy keys with exact ppm shares and deterministic tie cut") {
    // 100 rows total: one 50-row hot key, one 30-row warm key, and
    // four 5-row keys tied at the cut — (n desc, key asc) must keep
    // the lexicographically smallest tied keys.
    val rows = Seq.fill(50)("hot") ++ Seq.fill(30)("warm") ++
      Seq("t1", "t2", "t3", "t4").flatMap(k => Seq.fill(5)(k))
    val report = Skew.keySkewReport(rows.toDF("k"), "k", topK = 4)
      .as[(String, Long, Long)].collect().toSeq
    assert(report === Seq(
      ("hot", 50L, 500000L), ("warm", 30L, 300000L),
      ("t1", 5L, 50000L), ("t2", 5L, 50000L)))
  }

  test("co-occurrence census counts windowed pairs with unigram stats") {
    import graft.operators.TextRank
    // "a b a" with window 2: pairs (a,b)@1-2, (a,a)@1-3, (a,b)@2-3
    val docs = Seq("a b a", "a b a").toDF("text")
    val out = TextRank.cooccurrence(docs, window = 2, minCount = 2)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(out === Set(("a", "b", 4L, 4L, 2L), ("a", "a", 2L, 4L, 4L)))
    // window 1 drops the distance-2 (a,a) pair
    val w1 = TextRank.cooccurrence(docs, window = 1, minCount = 2)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(w1 === Set(("a", "b", 4L, 4L, 2L)))
  }
}
