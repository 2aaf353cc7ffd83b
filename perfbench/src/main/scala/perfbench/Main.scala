package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a single closed-loop client that builds
  * each query of a workload through `graft.SparkEntry.queries` and
  * materializes it, pass after pass, for a fixed time.
  *
  * Arguments (all `--key value`): `data` (sf directory), `queries`
  * (comma-separated), `seed`, `seconds`, `trace` (0|1), `cores` and `out`
  * (raw JSON result file). With `--selftest 1` it only checks [[Digest]]
  * and exits.
  *
  * The run writes raw observations; run.py turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (opts.contains("selftest")) sys.exit(SelfTest.run())

    val dataDir = opts("data")
    val queries = opts("queries").split(",").toSeq
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val loadStart = loadAverage
    // the operators' oracle side tables are correctness-gate bookkeeping,
    // not part of a query's work (graft.Bench sets the same property)
    System.setProperty("graft.bench.skipOracleSide", "true")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    val sessionReadyMs = System.currentTimeMillis()

    // untimed digest pass that pins the outputs: the digest reads every
    // column of every row, so Catalyst cannot prune any of the work
    val digests = queries.sorted.map { q =>
      cold(spark)
      q -> (try Right(Digest.of(graft.SparkEntry.queries(q)(spark, dataDir)))
            catch { case NonFatal(e) => Left(describe(e)) })
    }
    val rng = new scala.util.Random(seed)

    // untimed warm-up pass: the first pass after the digest pass still runs
    // while the JIT compiles the hot code (on 4 cores 6-12 s for matrix_ops,
    // against 4-6 s once warm), and the timed passes should not include it
    val warmups = (1 to WarmupPasses).map { _ =>
      val w0 = System.nanoTime()
      rng.shuffle(queries).foreach { q =>
        cold(spark)
        try materialize(graft.SparkEntry.queries(q)(spark, dataDir))
        catch { case NonFatal(_) => () } // counted by the digest pass and the timed passes
      }
      (System.nanoTime() - w0) / 1e9
    }
    cold(spark)
    val setupEndMs = System.currentTimeMillis()

    val trace = if (traced) Some(new LayerTrace(spark)) else None
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    // Three passes at least, so that the median sets one odd pass aside. A
    // traced run measures the tracing overhead inside one JVM: after a first
    // untraced pass, its passes go traced, untraced, untraced, traced, ...
    // so that any drift over the run weighs on both sides alike.
    val minPasses = if (traced) 5 else 3
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val passTrace = trace.filter(_ => passes.size > 0 && passes.size % 4 < 2)
      passTrace.foreach(_.attach())
      val executions = rng.shuffle(queries).map { q =>
        cold(spark)
        passTrace.foreach(_.begin())
        val cpu0 = processCpuNanos
        val q0 = System.nanoTime()
        var q1 = q0
        val error = try {
          val df = graft.SparkEntry.queries(q)(spark, dataDir)
          q1 = System.nanoTime()
          passTrace.foreach(_.markBuildEnd())
          materialize(df)
          None
        } catch { case NonFatal(e) => Some(describe(e)) }
        val q2 = System.nanoTime()
        val cpu = (processCpuNanos - cpu0) / 1e9
        if (q1 == q0) q1 = q2 // failed while building: all of it was build
        val layers = passTrace.map(_.end()).getOrElse(Map.empty)
        Map("name" -> q, "build_s" -> (q1 - q0) / 1e9, "final_s" -> (q2 - q1) / 1e9,
          "cpu_s" -> cpu, "heap_mb" -> liveHeapMb(), "error" -> error.orNull,
          "layers" -> layers)
      }
      passes += Map("traced" -> passTrace.isDefined, "queries" -> executions)
      passTrace.foreach(_.detach())
    }
    cold(spark)

    val result = Map(
      "env" -> Map(
        "cpus" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "seed" -> seed,
        "warmup_pass_s" -> warmups,
        "load_start" -> loadStart,
        "load_end" -> loadAverage),
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "digests" -> digests.map {
        case (q, Right((rows, hash))) => q -> Map("rows" -> rows, "hash" -> hash)
        case (q, Left(err)) => q -> Map("error" -> err)
      }.toMap,
      "passes" -> passes.toSeq)
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), toJson(result))
  }

  private val WarmupPasses = 1

  /** Full materialization: the `noop` sink consumes every column of every
    * row, where `.count()` would let Catalyst prune work away. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** Drop every cache a previous query left behind, so that each timed
    * execution starts from the same state: CacheScope's FIFO would
    * otherwise let a later pass read what an earlier one computed. */
  private def cold(spark: SparkSession): Unit = {
    graft.core.CacheScope.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def loadAverage: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use right after a full collection, before the query's own
    * caches are released: what the query leaves live, repeatable where a
    * plain peak depends on when the collector happened to run. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def processCpuNanos: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
