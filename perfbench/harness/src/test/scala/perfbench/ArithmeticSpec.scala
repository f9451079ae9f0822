package perfbench

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDateTime}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ArithmeticSpec extends AnyFunSuite {

  test("tail percentile leaves at least ten samples beyond it, with its sample count") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val t11 = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t11 == Stats.Tail(9, 1.0, 11))
    val t100 = Stats.tail((1 to 100).reverse.map(_.toDouble)).get
    assert(t100 == Stats.Tail(90, 90.0, 100))
    val t40 = Stats.tail((1 to 40).map(_.toDouble)).get
    assert(t40.percentile == 75 && t40.value == 30.0 && t40.samples == 40)
    for (n <- 11 to 300) {
      val t = Stats.tail((1 to n).map(_.toDouble)).get
      val rank = t.value.toInt
      assert(n - rank >= 10, s"n=$n leaves ${n - rank} beyond p${t.percentile}")
      val next = math.ceil((t.percentile + 1) * n / 100.0).toInt
      assert(n - next < 10, s"n=$n: p${t.percentile + 1} would also qualify")
    }
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L))) == 60L)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 20L), (10L, 20L), (15L, 18L))) == 90L)
    assert(Stats.selfTime((0L, 100L), Seq((-50L, 10L), (90L, 150L))) == 80L)
    assert(Stats.selfTime((0L, 100L), Seq((30L, 40L), (0L, 100L))) == 0L)
    assert(Stats.covered(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("a job is charged to the first graft module frame of its call site") {
    val ccRound =
      """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
        |graft.PlanProbe$.cutIter(PlanProbe.scala:118)
        |graft.text.CorpusOps$.connectedComponentsWithRounds(CorpusOps.scala:166)
        |graft.text.CorpusOps$.$anonfun$qCcChain$1(CorpusOps.scala:303)
        |perfbench.Main$.call$1(Main.scala:100)""".stripMargin
    assert(Stats.module(ccRound) == "text")
    assert(Stats.viaCut(ccRound))
    val scan =
      """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)
        |graft.model.Tables$.load(Tables.scala:23)
        |graft.text.CorpusOps$.chainClustersWithRounds(CorpusOps.scala:286)""".stripMargin
    assert(Stats.module(scan) == "model")
    assert(!Stats.viaCut(scan))
    assert(Stats.module("graft.Registry$.$anonfun$all$1(Registry.scala:20)") == "Registry")
    assert(Stats.module("\tat graft.graph.NetworkPipeline$$anonfun$1.apply(NetworkPipeline.scala:9)") == "graph")
    assert(Stats.module(
      """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)
        |perfbench.Main$.call$1(Main.scala:106)""".stripMargin) == "action")
    assert(Stats.module("") == "action")
  }

  private def fp(schema: StructType, rows: Seq[Row]) = Canon.fingerprint(schema, rows.toArray)

  test("fingerprint ignores row and column order") {
    val ab = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val ba = StructType(Seq(StructField("b", StringType), StructField("a", LongType)))
    val x = fp(ab, Seq(Row(1L, "x"), Row(2L, "y")))
    assert(x == fp(ba, Seq(Row("y", 2L), Row("x", 1L))))
    assert(x != fp(ab, Seq(Row(1L, "y"), Row(2L, "x"))))
    assert(x != fp(ab, Seq(Row(1L, "x"), Row(1L, "x"))), "multiset, not set")
  }

  test("fingerprint keeps the integer width that the oracle compare checks") {
    val i32 = StructType(Seq(StructField("n", IntegerType)))
    val i64 = StructType(Seq(StructField("n", LongType)))
    val m = Canon.mismatch(fp(i64, Seq(Row(1L))), fp(i32, Seq(Row(1))))
    assert(m.exists(_.startsWith("columns differ")))
  }

  test("floats round to 10 significant digits from their exact value") {
    assert(Canon.cell(0.1 + 0.2) == Canon.cell(0.3))
    assert(Canon.cell(1.0) == "1" && Canon.cell(100.0) == "100")
    assert(Canon.cell(-0.0) == "0" && Canon.cell(0.0) == "0")
    assert(Canon.cell(123456789012.0) == "123456789000")
    assert(Canon.cell(0.12345678914) == "0.1234567891")
    assert(Canon.cell(0.12345678916) == "0.1234567892")
    assert(Canon.cell(0.5f) == Canon.cell(0.5))
    assert(Canon.cell(new java.math.BigDecimal("2.50")) == "2.5")
    assert(Canon.cell(Double.NaN) == "NaN" && Canon.cell(Double.NegativeInfinity) == "-Infinity")
    assert(Canon.cell(1.0) != Canon.cell(1.0 + 1e-6))
  }

  test("timestamps print as UTC wall clock whatever their Spark type") {
    val instant = Instant.parse("1996-02-29T13:04:05.123456Z")
    val want = "1996-02-29 13:04:05.123456"
    assert(Canon.cell(Timestamp.from(instant)) == want)
    assert(Canon.cell(instant) == want)
    assert(Canon.cell(LocalDateTime.parse("1996-02-29T13:04:05.123456")) == want)
    assert(Canon.cell(Date.valueOf("1996-02-29")) == "1996-02-29")
  }

  test("nulls and strings cannot collide") {
    assert(Canon.cell(null) != Canon.cell("\\N"))
    assert(Canon.cell(null) != Canon.cell(""))
    val s = StructType(Seq(StructField("a", StringType), StructField("b", StringType)))
    assert(fp(s, Seq(Row("x\u001f", "y"))) != fp(s, Seq(Row("x", "\u001fy"))))
    assert(Canon.cell(Seq(1L, null)) == "[1,\\N]")
  }
}
