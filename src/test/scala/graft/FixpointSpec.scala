package graft

import graft.ops.{Dedup, Graph, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The iterative loops run on graft.Fixpoint: once a loop's result is
  * collected, executor storage holds nothing the call cut except what
  * the result itself reads, and a convergent loop that runs out of
  * rounds throws instead of returning a partial answer.
  */
class FixpointSpec extends SparkSpec {

  private def planRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  private def storedIds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** Status-store updates ride listener events; poll briefly. */
  private def eventually(cond: => Boolean, ms: Long = 15000): Boolean = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < ms) Thread.sleep(200)
    cond
  }

  private def chain(n: Long): DataFrame = {
    import spark.implicits._
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b").localCheckpoint()
    pairs.count()
    pairs
  }

  /** Runs `call`, collects its result, and asserts that storage then
    * holds only what existed before plus the result's own checkpoints. */
  private def assertNoLeak(name: String)(call: => DataFrame): Unit = {
    val before = storedIds()
    val out = call
    assert(out.collect().nonEmpty, s"$name returned no rows")
    val allowed = before ++ planRddIds(out)
    assert(eventually((storedIds() -- allowed).isEmpty),
      s"$name left cuts in storage: ${storedIds() -- allowed}")
  }

  test("every loop releases the cuts its result does not read") {
    import spark.implicits._
    val graphDir = tempSfDir()
    // order 1 is a K4 over suppliers 1-4; orders 2-11 hang a chain
    // 4-5-...-14 off it, which the peel removes one hop per round
    writeTable(graphDir, "lineitem", (Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L)) ++
      (0L until 10L).flatMap(i => Seq((i + 2, i + 4), (i + 2, i + 5))))
      .toDF("l_orderkey", "l_suppkey"))
    val embDir = tempSfDir()
    writeTable(embDir, "embeddings", (0 until 120).map { i =>
      (i.toLong, (0 until 16).map(d => if (d == i % 4) 1.0f else (i * d % 7) / 10.0f))
    }.toDF("vec_id", "embedding"))
    // warm the run-lifetime stores the graph and ANN paths read, so
    // their entries count as existing before the checked call
    Graph.kCore(spark, graphDir, rounds = 1).collect()
    Similarity.ivfAnnKMeans(spark, embDir, centroidMod = 10, rounds = 1).collect()

    // inputs are checkpointed before each storage snapshot is taken
    val (chain12, chain64, chain40) = (chain(12), chain(64), chain(40))
    assertNoLeak("connectedComponents")(Dedup.connectedComponents(chain12))
    assertNoLeak("twoStarWithRounds")(Dedup.twoStarWithRounds(chain64)._1)
    assertNoLeak("incrementalClustersFromPairs")(
      Dedup.incrementalClustersFromPairs(chain40, _ % 10 === 0))
    assertNoLeak("kCore")(Graph.kCore(spark, graphDir, rounds = 9))
    assertNoLeak("ivfAnnKMeans")(
      Similarity.ivfAnnKMeans(spark, embDir, centroidMod = 10, rounds = 5))
  }

  test("a cut init goes at the first state cut, and a cut state is held as it is") {
    val before = storedIds()
    val out = Fixpoint("toy") { loop =>
      val init = loop.cut(spark.range(100).toDF("n"))
      val initIds = planRddIds(init)
      // a projection over a cut still plans flat; the filter makes each
      // round a step of real lineage, as the operators' rounds are
      val s = loop.iterate(init, 4) { (df, _) =>
        df.select((col("n") + 1).as("n")).filter(col("n") > 0) }
      assert(eventually(!storedIds().exists(initIds)),
        "the init cut outlived the round-4 state cut")
      assert(loop.cut(s) eq s, "the round-4 state was cut twice")
      s
    }
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === (4L until 104L))
    assert(eventually((storedIds() -- before -- planRddIds(out)).isEmpty))
  }

  test("a convergent loop that runs out of rounds throws, naming the loop") {
    val cc = intercept[IllegalStateException](
      Dedup.connectedComponents(chain(10), maxIters = 2))
    assert(cc.getMessage.contains("connectedComponents did not converge in 2 rounds"))
    val twoStar = intercept[IllegalStateException](
      Dedup.connectedComponentsTwoStar(chain(64), maxIters = 1))
    assert(twoStar.getMessage.contains("connectedComponentsTwoStar did not converge in 1 rounds"))
  }
}
