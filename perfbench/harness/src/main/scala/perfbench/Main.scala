package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One pipeline invocation: build (`Q.run`, including its eager work), then
  * action (materialising the result on the driver), then the output check. */
final case class Call(iteration: Int, query: String, buildS: Double,
    actionS: Double, fingerprint: Option[Canon.Fingerprint], error: Option[String])

/** The benchmark's JVM side. Modes:
  *
  *   - `oracle-sql --queries a,b --out f`: write the registry's DuckDB oracle
  *     SQL for the named queries as a JSON object;
  *   - `run ...`: one closed-loop run over the inputs; writes its record as
  *     JSON to `--out`. See perfbench/README.md.
  */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("oracle-sql") =>
        val sql = graft.SparkEntry.oracleSql
        val names = opts("queries").split(',').toSeq
        names.filterNot(sql.contains).foreach(n => sys.error(s"no oracle SQL for $n"))
        json.writeValue(Paths.get(opts("out")).toFile, ListMap(names.map(n => n -> sql(n)): _*))
      case Some("run") =>
        val code = try run(opts) catch {
          case e: Throwable => e.printStackTrace(); 2
        }
        System.exit(code)
      case _ => sys.error("usage: Main oracle-sql|run --key value ...")
    }
  }

  private val MB = 1024.0 * 1024.0
  /** At most this many GC rounds when reading the live heap at the end. */
  private val LiveRounds = 10
  private def nowMs: Long = System.currentTimeMillis()
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(o: Map[String, String]): Int = {
    val inputs = o("inputs")
    val queries = o("queries").split(',').toSeq
    // every pipeline of every workload: the traced run reports each of them,
    // 0 where this workload does not run it, so all records share metric names
    val allQueries = o("all-queries").split(',').toSeq
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val factRows = o("fact-rows").toLong
    val registry = graft.SparkEntry.queries
    queries.filterNot(registry.contains).foreach(n => sys.error(s"unknown query $n"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", o("scratch") + "/spark-local")
      .config("spark.sql.warehouse.dir", o("scratch") + "/warehouse")
      // Spark keeps a status store of finished jobs, stages and SQL
      // executions even with the UI off, and trims it asynchronously; small
      // limits keep that history from swinging heap_live_mb between runs.
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)
      .config("spark.ui.retainedTasks", 500L)
      .config("spark.sql.ui.retainedExecutions", 20L)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tracer = if (trace) Some(new TraceListener) else None
    tracer.foreach { l => sc.addSparkListener(l); spark.listenerManager.register(l) }

    val rng = new scala.util.Random(o("seed").toLong)
    val spans = mutable.ArrayBuffer.empty[Span]
    val calls = mutable.ArrayBuffer.empty[Call]
    var nextId = 0L
    def newId(): Long = { nextId += 1; nextId }
    def call(iteration: Int, q: String, parent: Long): Call = {
      val (qid, bid, aid) = (newId(), newId(), newId())
      val qStart = nowMs
      var (buildS, actionS) = (0.0, 0.0)
      var (bEnd, aStart, aEnd) = (qStart, qStart, qStart)
      try {
        if (trace) sc.setJobGroup(s"pb-$bid", s"$q build")
        val tb = System.nanoTime()
        val df = registry(q)(spark, inputs)
        buildS = secondsSince(tb)
        bEnd = nowMs
        if (trace) sc.setJobGroup(s"pb-$aid", s"$q action")
        aStart = nowMs
        val ta = System.nanoTime()
        val rows = df.collect()
        actionS = secondsSince(ta)
        aEnd = nowMs
        Call(iteration, q, buildS, actionS, Some(Canon.fingerprint(df.schema, rows)), None)
      } catch {
        case e: Exception =>
          Call(iteration, q, buildS, actionS, None, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      } finally {
        graft.PlanProbe.releaseCuts()
        if (trace) sc.clearJobGroup()
        spans += Span(bid, "build", qid, iteration, q, qStart, bEnd)
        if (aEnd > aStart) spans += Span(aid, "action", qid, iteration, q, aStart, aEnd)
        spans += Span(qid, q, parent, iteration, q, qStart, nowMs)
      }
    }

    /** One iteration: every pipeline once, in a seeded order; returns the
      * program's time (build + action summed over the pipelines). */
    def iteration(i: Int): Double = {
      val id = newId()
      val start = nowMs
      val done = rng.shuffle(queries).map { q =>
        val c = call(i, q, id)
        System.err.println(f"[perfbench] iteration $i ${c.query} build ${c.buildS}%.2f s action ${c.actionS}%.2f s")
        c
      }
      calls ++= done
      spans += Span(id, "iteration", 0L, i, "", start, nowMs)
      done.map(c => c.buildS + c.actionS).sum
    }

    val warmupS = iteration(0)
    val setupS = secondsSince(t0)

    val tOracle = System.nanoTime()
    val expected = queries.map { q =>
      val df = spark.read.parquet(s"${o("oracle")}/$q.parquet")
      q -> Canon.fingerprint(df.schema, df.collect())
    }.toMap
    val oracleCheckS = secondsSince(tOracle)

    val tCal = System.nanoTime()
    spark.range(0, 16L * 1000 * 1000, 1, cores * 2).selectExpr("sum(id * 3 % 7) as s").head()
    val calibrationS = secondsSince(tCal)

    val times = mutable.ArrayBuffer.empty[Double]
    val tMeasure = System.nanoTime()
    while (times.isEmpty || secondsSince(tMeasure) + Stats.median(times.toSeq) <= seconds)
      times += iteration(times.size + 1)
    val measureS = secondsSince(tMeasure)

    // Live state at the end of the run: heap in use after a full GC, and the
    // RDD blocks (cuts, the CC final cut) that a live frame still holds. A
    // GC makes the last pipeline's frames and broadcasts collectable, the
    // pause lets Spark's ContextCleaner drop what they held, and the next GC
    // frees that. On both workloads this settles by the third round, after
    // which the reading no longer depends on which pipeline ran last; the
    // rounds go on until two readings agree within 1%.
    val tLive = System.nanoTime()
    val heapRounds = mutable.ArrayBuffer.empty[Double]
    while (heapRounds.size < 3 || (heapRounds.size < LiveRounds &&
        math.abs(heapRounds.last - heapRounds.init.last) > 0.01 * heapRounds.last)) {
      System.gc(); Thread.sleep(300)
      heapRounds += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    }
    val blocksMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / MB
    val liveS = secondsSince(tLive)

    val failures = calls.toSeq.flatMap { c =>
      val why = c.error.orElse(c.fingerprint.flatMap(Canon.mismatch(expected(c.query), _)))
      why.map(w => s"iteration ${c.iteration} ${c.query}: $w")
    }
    failures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))

    val p50 = Stats.median(times.toSeq)
    // Outside every iteration, so none of its jobs count in the layers.
    val lshPrecision =
      if (trace && queries.contains("q_dup_clusters")) graft.text.perfbench.LshPrecision(spark, inputs)
      else 0.0
    val perLayer = tracer.map { l =>
      org.apache.spark.perfbench.Bus.drain(sc)
      l.synchronized {
        Layers.metrics(spans.toSeq, calls.toSeq, l, (1 to times.size), allQueries,
          cores, factRows, lshPrecision) :+
          (("trace.iter_s.p50", p50, "s"))
      }
    }
    o.get("spans").foreach { path =>
      Files.write(Paths.get(path), spans.sortBy(_.id).map(json.writeValueAsString(_))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    def conf(k: String) = spark.conf.getOption(k).getOrElse("unset")
    val record = ListMap(
      "iterations" -> times.size,
      "iter_s_samples" -> times.toSeq,
      "warmup_s" -> warmupS,
      "setup_s" -> setupS,
      "iter_s.p50" -> p50,
      "iter_s.tail" -> Stats.tail(times.toSeq).orNull,
      "rows_per_s" -> factRows / p50,
      "heap_live_mb" -> heapRounds.last,
      "heap_gc_rounds_mb" -> heapRounds.toSeq,
      "blocks_mb" -> blocksMb,
      "attempted" -> calls.size,
      "failed" -> failures.size,
      "fail_ratio" -> failures.size.toDouble / calls.size,
      "failures" -> failures,
      "measure_s" -> measureS,
      "live_sample_s" -> liveS,
      "oracle_check_s" -> oracleCheckS,
      "calibration_s" -> calibrationS,
      "per_layer" -> perLayer.map(_.map { case (n, v, u) => ListMap("name" -> n, "value" -> v, "unit" -> u) }).orNull,
      "env" -> ListMap(
        "master" -> sc.master,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / MB,
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version"),
        "spark.sql.shuffle.partitions" -> conf("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled" -> conf("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold" -> conf("spark.sql.autoBroadcastJoinThreshold"),
        "spark.graft.cutCrossoverBytes" -> conf("spark.graft.cutCrossoverBytes"),
        "spark.graft.cutPolicy" -> conf("spark.graft.cutPolicy")))
    json.writeValue(Paths.get(o("out")).toFile, record)
    spark.stop()
    0
  }
}
