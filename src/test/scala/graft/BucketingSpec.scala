package graft

/** Pins the storage-level contract of graft.sources.Bucketed: two tables
  * written bucketBy(n, key) with the same bucket count join
  * bucket-to-bucket — the final plan has NO Exchange anywhere (the
  * shuffle was paid at write time), which is the whole point of the
  * layout at 100 TB.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join with no Exchange; results match the plain join") {
    import spark.implicits._
    val conf = spark.conf
    val prevBc = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // pin the SMJ path
    try {
      val base = SparkSpec.tempDir("graft-bucketed-spec")
      val a = (1L to 400L).map(i => (i, i * 10)).toDF("k", "va")
      val b = (0L until 1200L).map(i => (i % 400 + 1, i)).toDF("k", "vb")
      graft.sources.Bucketed.writeBucketed(spark, a, "gb_spec_a", s"$base/a", "k", 4)
      graft.sources.Bucketed.writeBucketed(spark, b, "gb_spec_b", s"$base/b", "k", 4)
      val j = spark.table("gb_spec_a").join(spark.table("gb_spec_b"), Seq("k"))
      assert(j.count() === 1200L)
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should plan with no Exchange:\n$plan")
      // same rows as the unbucketed join
      val plainCount = a.join(b, Seq("k")).count()
      assert(plainCount === 1200L)
    } finally {
      prevBc match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.sql("DROP TABLE IF EXISTS gb_spec_a")
      spark.sql("DROP TABLE IF EXISTS gb_spec_b")
    }
  }
}
