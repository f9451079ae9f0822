package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** Pins the round-18 size-gated lineage-cut policy
  * ([[Tables.beyondCutCrossover]]) and the value-neutrality of the five
  * cut knobs it gates (scaffold / exposure panel / semi / anti / board —
  * the shapes round 17 reverted at gate scale and round 18 re-measured at
  * blowup scale with CutCrossoverProbe).
  *
  * Two families:
  *  - policy: the threshold reads the fact table's on-disk size and the
  *    session conf, so the small test SFs stay below it (the registered
  *    queries keep their r17 uncut gate-scale shapes — bench
  *    comparability), a lowered conf flips it on, and a fact table
  *    rewritten at the same path is sized again;
  *  - value-neutrality: cut and uncut arms are row-identical on real
  *    testdata — the cut is a materialization boundary, not a semantic
  *    change, which is what licenses gating it on something as
  *    value-irrelevant as corpus size.
  */
class CutCrossoverSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("small SFs sit below the default crossover threshold") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").foreach { d =>
      assert(!Tables.beyondCutCrossover(spark, d),
        s"$d unexpectedly beyond the cut crossover — the registered " +
          "gate-scale shapes would silently change")
    }
  }

  test("a lowered conf threshold flips the policy on") {
    spark.conf.set(Tables.CutCrossoverBytesKey, "1")
    try assert(Tables.beyondCutCrossover(spark, sf))
    finally spark.conf.unset(Tables.CutCrossoverBytesKey)
  }

  test("a fact table rewritten in place re-reads its size") {
    // the size memo must not serve the first write's size after the
    // corpus at the same path is replaced by a larger one
    val dir = java.nio.file.Files.createTempDirectory("graft_fact_bytes")
    val d = dir.toString
    def writeFacts(rows: Long): Unit =
      spark.range(rows).selectExpr("id AS l_orderkey", "hash(id) AS h")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    try {
      writeFacts(10)
      val small = Tables.factBytes(spark, d)
      spark.conf.set(Tables.CutCrossoverBytesKey, (small + 1).toString)
      assert(!Tables.beyondCutCrossover(spark, d))
      // some filesystems keep modification times at one-second grain
      Thread.sleep(1100)
      writeFacts(100000)
      assert(Tables.factBytes(spark, d) > small)
      assert(Tables.beyondCutCrossover(spark, d),
        "beyondCutCrossover kept the pre-rewrite size of lineitem.parquet")
    } finally {
      spark.conf.unset(Tables.CutCrossoverBytesKey)
      org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
    }
  }

  private def assertCutNeutral(name: String,
      mk: (SparkSession, String, Boolean) => org.apache.spark.sql.DataFrame)
      : Unit = test(s"$name: cut and uncut arms are row-identical") {
    val uncut = mk(spark, sf, false).collect().map(_.toString).sorted
    // release the cut arm's checkpoint even on failure, or its blocks leak
    // into the suite's shared session
    val cut =
      try mk(spark, sf, true).collect().map(_.toString).sorted
      finally PlanProbe.releaseCuts()
    assert(uncut.sameElements(cut), s"$name cut arm diverged from uncut")
  }

  assertCutNeutral("q_scaffold_month_entity",
    graft.analytics.TimeSeriesOps.scaffoldFrame)
  assertCutNeutral("q_exposure_panel",
    graft.analytics.Baskets.exposurePanelFrame)
  assertCutNeutral("q_semi_membership",
    graft.analytics.Baskets.semiMembershipFrame)
  assertCutNeutral("q_anti_membership",
    graft.analytics.Baskets.antiMembershipFrame)
  assertCutNeutral("q_board_pipeline",
    graft.analytics.BoardPipeline.pipelineFrame)
}
