package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark client: one closed loop in one JVM that drives the program's
  * declared queries from outside, through `graft.SparkEntry.queries`.
  *
  * A run is: create the session; a check pass (each query once, its output
  * fingerprinted through an `Observation` on the noop write, untimed);
  * then timed passes until `seconds` is spent, each pass in a seeded
  * order. Every execution is split into the benchmark's own calls: build
  * (`SparkEntry.queries(name)(spark, sfDir)`), plan
  * (`df.queryExecution.executedPlan`) and exec (the noop-sink write);
  * `clearCache()` runs after each query, outside the timed region.
  *
  * Usage: Harness <sfDir> <cpus> <seed> <seconds> <trace 0|1> <report.json>
  *        <trace.jsonl> <query> [query ...]
  * Writes a JSON report (and, when tracing, the span file); perfbench/run.py
  * turns both into metrics.
  */
object Harness {

  final case class Exec(pass: Int, query: String, build: Double, plan: Double,
      exec: Double, error: Option[String]) {
    def total: Double = build + plan + exec
  }

  def main(args: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val Array(sfDir, cpus, seed, seconds, trace, reportPath, tracePath) =
      args.take(7)
    val names = args.drop(7).toIndexedSeq
    val spark = session(cpus)
    val fns = graft.SparkEntry.queries

    // Check pass: also the warm-up (JIT, parquet footers), so it is set-up.
    val checks = names.zipWithIndex.map { case (q, i) =>
      val c = check(spark, fns.get(q), q, sfDir, i)
      spark.catalog.clearCache()
      c
    }
    val tracer = if (trace == "1") Some(new Tracer(spark)) else None
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val measureStart = System.nanoTime()
    val setupS = (measureStart - mainEntry) / 1e9

    val rnd = new scala.util.Random(seed.toLong)
    val budget = seconds.toDouble * 1e9
    val execs = mutable.ArrayBuffer[Exec]()
    val passWalls = mutable.ArrayBuffer[Double]()
    // Whole passes only: start another while it is expected to fit.
    while (passWalls.isEmpty || System.nanoTime() - measureStart +
        passWalls.sum / passWalls.size * 1e9 <= budget) {
      val pass = passWalls.size
      val p0 = System.nanoTime()
      for (q <- rnd.shuffle(names)) {
        tracer.foreach(_.begin(q, pass))
        val e = timed(spark, fns.get(q), q, sfDir, pass, tracer)
        tracer.foreach(_.phase("teardown"))
        spark.catalog.clearCache()
        tracer.foreach(_.end(e.error))
        execs += e
      }
      passWalls += (System.nanoTime() - p0) / 1e9
    }
    val measureS = (System.nanoTime() - measureStart) / 1e9
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3
    tracer.foreach(_.write(tracePath))

    val json = new StringBuilder
    json ++= s"""{"cpus":$cpus,"setup_s":$setupS,"measure_s":$measureS,"""
    json ++= s""""jvm":{"heap_peak_mb":$heapPeakMb,"gc_s":$gcS},"""
    json ++= s""""pass_walls":${passWalls.mkString("[", ",", "]")},"""
    json ++= checks.mkString(""""checks":[""", ",", "],")
    json ++= execs.map { e =>
      s"""{"pass":${e.pass},"query":${Json.str(e.query)},""" +
        s""""build_s":${e.build},"plan_s":${e.plan},"exec_s":${e.exec},""" +
        s""""total_s":${e.total},"error":${Json.opt(e.error)}}"""
    }.mkString(""""executions":[""", ",", "]}")
    Files.write(Paths.get(reportPath),
      json.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** graft.Bench's session: local[cpus], as many shuffle partitions, AQE
    * on, UTC, no UI. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  type QueryFn = (SparkSession, String) => DataFrame

  private def describe(t: Throwable): String =
    (t.getClass.getName + ": " + t.getMessage).take(400)

  /** One timed execution; a throw is recorded, never dropped. */
  def timed(spark: SparkSession, fn: Option[QueryFn], q: String,
      sfDir: String, pass: Int, tracer: Option[Tracer]): Exec = {
    var build, plan, exec = 0.0
    def lap(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val error = try {
      tracer.foreach(_.phase("build"))
      val t0 = System.nanoTime()
      val df = fn.getOrElse(throw new NoSuchElementException(
        s"no declared query named $q"))(spark, sfDir)
      build = lap(t0)
      tracer.foreach(_.phase("plan"))
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      plan = lap(t1)
      tracer.foreach(_.phase("exec"))
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      exec = lap(t2)
      None
    } catch { case t: Throwable => Some(describe(t)) }
    Exec(pass, q, build, plan, exec, error)
  }

  /** Row count plus an order-insensitive fingerprint of the result,
    * observed on the same noop write the timed passes run: the count, and
    * the sum and the xor of each row's xxhash64 over its columns in name
    * order. Floating-point values are hashed as `%.8e` strings (nine
    * significant digits, -0.0 as 0), so that summation order cannot change
    * the fingerprint; map entries are hashed in sorted order. */
  def check(spark: SparkSession, fn: Option[QueryFn], q: String,
      sfDir: String, i: Int): String = {
    val t0 = System.nanoTime()
    try {
      val df = fn.getOrElse(throw new NoSuchElementException(
        s"no declared query named $q"))(spark, sfDir)
      val fields = df.schema.fields.zipWithIndex.sortBy(f => (f._1.name, f._2))
      val renamed = df.toDF(df.columns.indices.map("c" + _): _*)
      val h = xxhash64(
        fields.map { case (f, j) => canon(col("c" + j), f.dataType) }: _*)
      val obs = Observation(s"perfbench_check_$i")
      renamed.observe(obs, count(lit(1)).as("rows"),
          sum(h.cast(DecimalType(38, 0))).as("sum"), bit_xor(h).as("xor"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      val floats = fields.collect {
        case (f, _) if hasFloat(f.dataType) => Json.str(f.name)
      }
      s"""{"query":${Json.str(q)},"rows":${m("rows")},""" +
        s""""fingerprint":"${Option(m("sum")).getOrElse(0)}/${m("xor")}",""" +
        s""""float_columns":${floats.mkString("[", ",", "]")},""" +
        s""""seconds":${(System.nanoTime() - t0) / 1e9},"error":null}"""
    } catch {
      case t: Throwable =>
        s"""{"query":${Json.str(q)},"rows":null,"fingerprint":null,""" +
          s""""float_columns":[],"seconds":${(System.nanoTime() - t0) / 1e9},""" +
          s""""error":${Json.str(describe(t))}}"""
    }
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  /** `c` in a form xxhash64 accepts and that repeats exactly across runs. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit("0")).otherwise(format_string("%.8e", d))
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => canon(x, e))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType)): _*)
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), k), canon(e.getField("value"), v))))
    case _ => c
  }
}

/** Minimal JSON string encoding for the report and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def opt(s: Option[String]): String = s.fold("null")(str)
}
