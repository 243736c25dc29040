package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Calibration, SparkEntry}

/** One benchmark run of one workload, in a fresh JVM started by
  * perfbench/run.py, which turns the JSON file written here into metrics.
  *
  * `--mode bench`: one set-up, timed from JVM start to the first timed
  * query, one cold pass, [[WarmupPasses]] passes that let the JIT settle
  * and are not reported, warm passes until `--seconds` have passed and at
  * least [[MinPasses]] ran, one untimed fingerprint pass, the host
  * calibration kernel, and a full GC before the retained heap is read.
  * One driver thread runs every query after the previous one has returned
  * (a closed loop with one client), in an order drawn from `--seed` for
  * each pass. With `--trace 1`
  * the benchmark's listener records every other warm pass, and the passes
  * between give the untraced time that the tracing overhead is measured
  * against.
  *
  * `--mode record`: runs each query once, writes its result as parquet
  * beside `oracle_sql.json` for tools/compare.py, and writes the
  * fingerprint of what it wrote.
  */
object Main {
  /** Local property naming the span ("pass|query|phase") a job runs in. */
  val SpanProp = "perfbench.span"

  private val MB = 1024.0 * 1024.0

  /** The master is `local[Cpus]`, with as many shuffle partitions. */
  val Cpus: Int = Runtime.getRuntime.availableProcessors
  /** Passes after the cold one that let the JIT settle; not reported. */
  val WarmupPasses = 2
  /** Warm passes per run, even past `--seconds`. A fixed count keeps the
    * order statistics on the same execution ranks from run to run. */
  val MinPasses = 7
  val CalibArrivals = 100000L
  /** The calibration kernel's reading at [[CalibArrivals]] on an idle
    * 4-core host; a run reading more than twice this is flagged. */
  val HealthyCalibS = 0.75
  private val TailGrid = Seq(99, 95, 90, 80, 75, 70, 60, 50)

  /** The highest grid percentile that leaves at least 10 warm executions
    * beyond it in every run, whatever the run's pass count. */
  def tailPercentile(queries: Int): Int = {
    val n = queries * MinPasses
    TailGrid.find(p => n * (100 - p) / 100.0 >= 10).getOrElse(TailGrid.last)
  }

  final case class Exec(query: String, buildMs: Double, executeMs: Double,
                        cpuMs: Double, gcMs: Double, rddsLeft: Int,
                        memMbLeft: Double, error: String) {
    def ms: Double = buildMs + executeMs
  }

  final case class Pass(span: Span, traced: Boolean, execs: Seq[Exec],
                        compiles: Long, compileMs: Double) {
    def seconds: Double = execs.map(_.ms).sum / 1000
    def cpuSeconds: Double = execs.map(_.cpuMs).sum / 1000
  }

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      "arguments are --key value pairs")
    val a = args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    val registry = SparkEntry.queries
    val names = a("queries").split(",").toSeq
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    a("mode") match {
      case "bench" => bench(a, registry, names)
      case "record" => record(a, registry, names)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Bench.scala's session settings key for key, except that the master
    * is `local[Cpus]`, plus the run's own local and warehouse dirs. */
  def session(a: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.local.dir", a("local-dir"))
      .config("spark.sql.warehouse.dir", a("warehouse-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def cpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e6

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def oneLine(e: Throwable): String =
    (e.getClass.getName + ": " + e.getMessage).linesIterator.nextOption()
      .getOrElse(e.getClass.getName)

  /** Per-query isolation as in Bench.scala, outside every timed section:
    * read what the query left persisted, then drop it and collect garbage,
    * so one query's leftovers do not bill the next. */
  private def isolate(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs
    val memMb = sc.getRDDStorageInfo.map(_.memSize).sum / MB
    spark.catalog.clearCache()
    persisted.valuesIterator.foreach(_.unpersist(blocking = false))
    System.gc()
    (persisted.size, memMb)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(path: String, v: Any): Unit =
    json.writeValue(new java.io.File(path), v)

  private def bench(a: Map[String, String],
                    registry: Map[String, (SparkSession, String) => DataFrame],
                    names: Seq[String]): Unit = {
    val data = a("data")
    val trace = a("trace") == "1"
    val spans = new Spans
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val run = spans.add(-1, "run", a("workload"), jvmStart)

    // Set-up runs from JVM start, through class loading, the registry
    // build in main and the session start, to the first timed query.
    val setup = spans.add(run.id, "setup", "setup", jvmStart)
    val session0 = System.nanoTime()
    val spark = session(a)
    val sessionStartS = (System.nanoTime() - session0) / 1e9
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(sc)) else None
    val rnd = new Random(a("seed").toLong)

    def phase(q: Span, key: String, name: String)(body: => Unit): Double = {
      sc.setLocalProperty(SpanProp, key + "|" + name)
      val s = spans.begin(q.id, "phase", name)
      s.attrs("key") = key + "|" + name
      val t0 = System.nanoTime()
      try body finally spans.end(s)
      (System.nanoTime() - t0) / 1e6
    }

    def runQuery(passNo: Int, pass: Span, name: String): Exec = {
      val qs = spans.begin(pass.id, "query", name)
      val cpu0 = cpuMs()
      val gc0 = gcMs()
      var buildMs, executeMs = 0.0
      val error = try {
        var df: DataFrame = null
        buildMs = phase(qs, s"$passNo|$name", "build") {
          df = registry(name)(spark, data)
        }
        executeMs = phase(qs, s"$passNo|$name", "execute") {
          df.write.format("noop").mode("overwrite").save()
        }
        null
      } catch { case NonFatal(e) => oneLine(e) }
      finally sc.setLocalProperty(SpanProp, null)
      val cpu = cpuMs() - cpu0
      val gc = gcMs() - gc0
      spans.end(qs)
      val (rdds, memMb) = isolate(spark)
      Exec(name, buildMs, executeMs, cpu, gc, rdds, memMb, error)
    }

    def runPass(passNo: Int, label: String, traced: Boolean): Pass = {
      val ps = spans.begin(run.id, "pass", label)
      ps.attrs("traced") = traced
      if (traced) tracer.foreach(_.attach())
      val c0 = compiles()
      val execs = rnd.shuffle(names).map(q => runQuery(passNo, ps, q))
      val c = compiles() - c0
      val mean = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      spans.end(ps)
      if (traced) tracer.foreach(_.detach())
      Pass(ps, traced, execs, c, c * mean)
    }

    spans.end(setup)
    val cold = runPass(0, "cold", trace)
    val warmup = (1 to WarmupPasses)
      .map(n => runPass(-n, s"warmup $n", false))
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val warm = ArrayBuffer[Pass]()
    val w0 = System.nanoTime()
    while (warm.size < MinPasses ||
      System.nanoTime() - w0 < a("seconds").toDouble * 1e9) {
      val n = warm.size + 1
      warm += runPass(n, s"warm $n", trace && n % 2 == 1)
    }
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / MB

    val fpSpan = spans.begin(run.id, "pass", "fingerprint")
    val fingerprints = names.sorted.map { q =>
      val fp = try {
        val (rows, hash) = Fingerprint.of(registry(q)(spark, data))
        Map("rows" -> rows, "hash" -> hash)
      } catch { case NonFatal(e) => Map("error" -> oneLine(e)) }
      isolate(spark)
      q -> fp
    }.toMap
    spans.end(fpSpan)

    val calib = spans.begin(run.id, "calibration", "frozen-centroid")
    val calibS = Calibration.frozenCentroid(spark, CalibArrivals)._1
    spans.end(calib)

    spark.catalog.clearCache()
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    System.gc()
    System.gc()
    val heapRetainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    val conf = spark.conf.getAll
    spans.end(run)

    def passJson(p: Pass) = Map(
      "label" -> p.span.name, "traced" -> p.traced, "pass_s" -> p.seconds,
      "cpu_s" -> p.cpuSeconds, "compiles" -> p.compiles,
      "compile_ms" -> p.compileMs,
      "execs" -> p.execs.map(e => Map(
        "query" -> e.query, "ms" -> e.ms, "build_ms" -> e.buildMs,
        "execute_ms" -> e.executeMs, "gc_ms" -> e.gcMs,
        "rdds_left" -> e.rddsLeft, "mem_mb_left" -> e.memMbLeft,
        "error" -> e.error)))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> a("seed"), "conf" -> conf,
      "cpus" -> Cpus, "setup_s" -> setup.ms / 1000,
      "session_start_s" -> sessionStartS, "min_passes" -> MinPasses,
      "tail_percentile" -> tailPercentile(names.size),
      "healthy_calib_s" -> HealthyCalibS, "cold" -> passJson(cold),
      "warmup" -> warmup.map(passJson), "warm" -> warm.map(passJson),
      "fingerprints" -> fingerprints, "calib_s" -> calibS,
      "heap_retained_mb" -> heapRetainedMb, "heap_peak_mb" -> heapPeakMb)

    tracer.foreach { t =>
      val perPass = t.resolve(spans)
      // planner.* is read from the execution each SQL execution end
      // carries, by reflection; a pass that ran jobs but yielded no
      // planning phases means that read broke, and zeros would pass for
      // a perfect score
      val blind = (cold +: warm.toSeq).filter(_.traced).filter { p =>
        val m = perPass.getOrElse(p.span.id, mutable.Map.empty[String, Double])
        m.getOrElse("scheduler.jobs", 0.0) > 0 &&
          m.getOrElse("planner.executions", 0.0) == 0
      }
      if (blind.nonEmpty) throw new IllegalStateException(
        s"no planning phases in traced passes that ran jobs " +
          s"(${blind.map(_.span.name).mkString(", ")}): ${t.sqlEnds} SQL " +
          s"execution ends seen, ${t.unreadable} without a readable execution")
      spans.computeSelf()
      writeJson(a("spans"), spans.toJson)
      val traced = warm.filter(_.traced)
      val untraced = warm.filterNot(_.traced)
      def med(f: Pass => Double, ps: Seq[Pass] = warm.toSeq) =
        Stats.median(ps.map(f))
      val layers = mutable.LinkedHashMap[String, Double]()
      val keys = perPass.values.flatMap(_.keys).toSeq.distinct.sorted
      keys.foreach { k =>
        layers(k) = med(p => perPass.get(p.span.id).flatMap(_.get(k))
          .getOrElse(0.0), traced.toSeq)
      }
      layers("executor.busy_frac") = med(p => perPass.get(p.span.id)
        .flatMap(_.get("executor.run_ms")).getOrElse(0.0) /
        (p.seconds * 1000 * Cpus), traced.toSeq)
      layers("queries.build_ms") = med(_.execs.map(_.buildMs).sum)
      // shared artifacts are built by their first consumer, inside its
      // registry call in the cold pass: count what that pass's registry
      // calls took beyond the same queries' warm median
      val warmBuild = warm.toSeq.flatMap(_.execs).groupBy(_.query)
        .map { case (q, es) => q -> Stats.median(es.map(_.buildMs)) }
      layers("artifacts.build_s") = cold.execs.map(e =>
        (e.buildMs - warmBuild.getOrElse(e.query, 0.0)) max 0.0).sum / 1000
      layers("codegen.compiles") = cold.compiles.toDouble
      layers("codegen.compile_ms") = cold.compileMs
      layers("codegen.compiles_warm") = med(_.compiles.toDouble)
      layers("cache.rdds_left") = med(_.execs.map(_.rddsLeft.toDouble).sum)
      layers("cache.mem_mb_left") = med(_.execs.map(_.memMbLeft).sum)
      layers("jvm.gc_ms") = med(_.execs.map(_.gcMs).sum)
      result("layers") = layers
      result("trace_overhead_s") =
        med(_.seconds, traced.toSeq) - med(_.seconds, untraced.toSeq)

      // per query, median over traced warm passes of its span self times
      val kids = spans.all.groupBy(_.parent)
      def under(s: Span, kind: String): Seq[Span] =
        kids.getOrElse(s.id, ArrayBuffer.empty).toSeq.flatMap(c =>
          (if (c.kind == kind) Seq(c) else Nil) ++ under(c, kind))
      val rows = traced.toSeq.flatMap { p =>
        kids.getOrElse(p.span.id, ArrayBuffer.empty).map { q =>
          def self(n: String) = under(q, "phase").filter(_.name == n)
            .map(_.selfMs).sum
          q.name -> Map("ms" -> q.ms, "self_ms" -> q.selfMs,
            "build_self_ms" -> self("build"),
            "execute_self_ms" -> self("execute"),
            "jobs_self_ms" -> under(q, "job").map(_.selfMs).sum,
            "stages_ms" -> under(q, "stage").map(_.selfMs).sum)
        }
      }
      result("span_self") = rows.groupBy(_._1).map { case (q, rs) =>
        q -> rs.head._2.keys.map(k => k -> Stats.median(rs.map(_._2(k))))
          .toMap
      }
    }
    writeJson(a("out"), result)
    sc.setLogLevel("OFF")
    spark.stop()
  }

  private def record(a: Map[String, String],
                     registry: Map[String, (SparkSession, String) => DataFrame],
                     names: Seq[String]): Unit = {
    val data = a("data")
    val dir = a("record-dir")
    val spark = session(a)
    val fps = names.sorted.map { q =>
      val out = s"$dir/$q"
      registry(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(out)
      isolate(spark)
      val (rows, hash) = Fingerprint.of(spark.read.parquet(out))
      // the benchmark fingerprints the query's own result, not the parquet
      // copy, so both must agree before the copy's check can stand for it
      val (_, direct) = Fingerprint.of(registry(q)(spark, data))
      isolate(spark)
      q -> Map("rows" -> rows, "hash" -> hash, "direct_hash" -> direct)
    }.toMap
    writeJson(s"$dir/oracle_sql.json",
      names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    writeJson(s"$dir/fingerprints.json", fps)
    spark.stop()
  }
}
