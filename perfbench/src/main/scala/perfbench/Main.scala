package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.insights.{InsightsEngine, PlayStore}

/** Measurement JVM of the benchmark; `run.py` launches it and reads the
  * JSON it writes to `--out`.
  *
  *   probe  --launch-ms T --cores N --work DIR --out F
  *       JVM start → SparkSession ready, then exit (one set-up sample).
  *   insights --launch-ms T --cores N --work DIR --out F --seconds S
  *            --trace 0|1 --seed N --rows R --developers D --k K
  *       `PlayStore.extractScale` on a seeded corpus, repeated for S s.
  *   list
  *       the declared queries of each of the 17 modules.
  *   prints --results DIR --queries q1,q2,...
  *       fingerprints of result parquet directories written by `graft.Verify`.
  *   tables --tables DIR --sf SF --seed N
  *       writes the fixture tables (`FixtureTables`).
  *   ops --launch-ms T --cores N --work DIR --out F --seconds S
  *       --trace 0|1 --tables DIR --queries q1,q2,...
  *       build + execute every query per pass, each result written as one
  *       parquet file the way `graft.Verify` writes it, repeated for S s.
  *
  * Both workloads warm up untimed before the timed loop, and check their
  * output outside it. With `--trace 1`, timed iterations alternate
  * untraced/traced; traced ones run under `Tracer` and feed the per-layer
  * figures, and the median traced minus untraced wall is the tracing
  * overhead.
  */
object Main {
  private val mainEntryMs = System.currentTimeMillis()

  final case class Sample(wallS: Double, cpuS: Double, stealS: Double, traced: Boolean,
      layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse(usage())
    val o = args.tail.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = o.getOrElse("out", usage())
    val work = o.getOrElse("work", usage())
    val cores = o.getOrElse("cores", "4").toInt
    val jvmS = (mainEntryMs - o.getOrElse("launch-ms", mainEntryMs.toString).toLong) / 1000.0
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val res = mutable.LinkedHashMap[String, String](
      "setup" -> Json.obj("jvm_s" -> Json.num(jvmS), "session_s" -> Json.num(sessionS)),
      "host" -> host(spark, cores))
    try {
      mode match {
        case "probe"    =>
        case "list"     => res("modules") = Json.obj(modules.map { case (m, qs) =>
          m -> Json.arr(qs.toSeq.sorted.map(Json.str)) }: _*)
        case "prints"   => res("fingerprints") = Json.obj(o("queries").split(",").toSeq.map(q =>
          q -> Json.str(fingerprint(spark.read.parquet(s"${o("results")}/$q")))): _*)
        case "tables"   => FixtureTables.generate(spark, o("tables"), o("sf").toDouble,
          o("seed").toLong)
        case "insights" => res ++= insights(spark, o, work)
        case "ops"      => res ++= ops(spark, o, work)
        case other      => sys.error(s"unknown mode $other")
      }
      // the workloads report the program's peak (before their checks) as
      // peak_rss_mb; this one includes the checks
      res("peak_rss_mb_with_checks") = Json.num(peakRssMb())
      Files.writeString(Paths.get(out), Json.obj(res.toSeq: _*) + "\n")
    } catch { case e: Throwable =>
      e.printStackTrace()
      Files.writeString(Paths.get(out), Json.obj("error" -> Json.str(e.toString)) + "\n")
    }
    // spark.stop() can wedge on a cancelled task; results are on disk
    val stopper = new Thread(() => spark.stop())
    stopper.setDaemon(true)
    stopper.start()
    stopper.join(30000)
    Runtime.getRuntime.halt(0)
  }

  private def usage(): Nothing = {
    System.err.println("usage: Main probe|list|prints|tables|insights|ops --out F --work DIR [options]")
    sys.exit(2)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- host context ------------------------------------------------------

  /** Steal ticks from the aggregate `cpu` line of /proc/stat (0 elsewhere). */
  def stealTicks(): Long = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).getOrElse(Array.empty[String])
    if (f.length > 8) f(8).toLong else 0L
  } catch { case _: Exception => 0L }
  val ticksPerSec = 100.0

  def peakRssMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def host(spark: SparkSession, cores: Int): String = Json.obj(
    "nproc" -> Json.num(java.lang.Runtime.getRuntime.availableProcessors()),
    "spark_cores" -> Json.num(cores),
    "heap_max_mb" -> Json.num(java.lang.Runtime.getRuntime.maxMemory / 1048576.0),
    "jdk" -> Json.str(System.getProperty("java.runtime.version")),
    "spark" -> Json.str(spark.version))

  // ---- timed loop --------------------------------------------------------

  /** Repeats `iteration` until `seconds` of measurement have passed: at
    * least once, and with tracing at least three times, since iterations
    * alternate untraced (even) and traced (odd) and a traced one should sit
    * between two untraced ones. */
  def loop(seconds: Double, trace: Boolean, tracer: Tracer)(
      iteration: (Int, Boolean) => Map[String, Double]): (Seq[Sample], Double) = {
    val samples = ArrayBuffer.empty[Sample]
    val steal0 = stealTicks()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (i < (if (trace) 3 else 1) || elapsed < seconds) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.attach() else tracer.detach()
      val c0 = processCpuS()
      val st0 = stealTicks()
      val t0 = System.nanoTime()
      val layers = iteration(i, traced)
      val wall = (System.nanoTime() - t0) / 1e9
      samples += Sample(wall, processCpuS() - c0, (stealTicks() - st0) / ticksPerSec,
        traced, layers)
      i += 1
    }
    tracer.detach()
    (samples.toSeq, (stealTicks() - steal0) / ticksPerSec)
  }

  /** Untimed warm-up: calls `body` until a call is no more than 5 % faster
    * than the one before (JIT and codegen caches have settled), at least
    * twice and at most `maxCalls` times or `budgetS` seconds. Returns the
    * warm-up walls. */
  def warmUntilSteady(body: Int => Unit, maxCalls: Int = 6,
      budgetS: Double = 20): Seq[Double] = {
    val walls = ArrayBuffer.empty[Double]
    while (walls.size < 2 || (walls.size < maxCalls && walls.sum < budgetS &&
        walls.last < 0.95 * walls(walls.size - 2))) {
      walls += timed(body(walls.size))._1
    }
    walls.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runtime counters of one traced window under the `spark.` names. */
  def runtimeLayers(rt: SparkWindow, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> rt.jobs.toDouble, "spark.stages" -> rt.stages.toDouble,
    "spark.tasks" -> rt.tasks.toDouble, "spark.tasks_failed" -> rt.tasksFailed.toDouble,
    "spark.executor_run_s" -> rt.runS, "spark.executor_cpu_s" -> rt.cpuS,
    "spark.busy_frac" -> (if (wallS > 0) rt.runS / (wallS * cores) else 0.0),
    "spark.no_task_s" -> rt.noTaskS, "spark.plan_s" -> rt.planS,
    "spark.shuffle_write_bytes" -> rt.shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes" -> rt.shuffleReadBytes.toDouble,
    "spark.spill_bytes" -> rt.spillBytes.toDouble,
    "spark.input_bytes" -> rt.inputBytes.toDouble,
    "spark.peak_exec_mem_bytes" -> rt.peakExecMem.toDouble)

  /** Runs the measured call `body` as a span and returns its wall, its
    * result, the Spark-runtime window over exactly that call, and the
    * runtime, GC, heap and steal figures of the window under their
    * per-layer names. Work done before or after the call in the same
    * iteration stays out of these figures. */
  def tracedCall[T](tracer: Tracer, cores: Int, name: String, kind: String)(
      body: => T): (Double, T, SparkWindow, Map[String, Double]) = {
    resetHeapPeak()
    val gc0 = gcS()
    val steal0 = stealTicks()
    val t0 = Tracer.nowMs()
    val r = tracer.span(name, kind)(body)
    val t1 = Tracer.nowMs()
    tracer.drain()
    val wall = (t1 - t0) / 1000.0
    val rt = tracer.window(t0, t1)
    (wall, r, rt, runtimeLayers(rt, wall, cores) ++ Map(
      "spark.gc_s" -> (gcS() - gc0), "jvm.heap_peak_mb" -> heapPeakMb(),
      "host.steal_s" -> (stealTicks() - steal0) / ticksPerSec))
  }

  /** Timed-loop summary: samples, per-layer medians over traced samples,
    * tracing overhead (median traced minus median untraced wall of the
    * measured call) and self time per span name. */
  def summary(samples: Seq[Sample], stealS: Double, trace: Boolean, tracer: Tracer,
      spansPath: String, callWall: Sample => Double): Seq[(String, String)] = {
    val base = Seq(
      "iterations" -> Json.arr(samples.map(s => Json.obj("wall_s" -> Json.num(s.wallS),
        "cpu_s" -> Json.num(s.cpuS), "steal_s" -> Json.num(s.stealS),
        "traced" -> s.traced.toString))),
      "steal_s" -> Json.num(stealS))
    if (!trace) return base
    val traced = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    val keys = traced.flatMap(_.layers.keys).distinct
    val layers = keys.map(k => k -> median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap
    val overhead = median(traced.map(callWall)) - median(untraced.map(callWall))
    val all = tracer.spans.toSeq ++ tracer.jobSpans()
    // self time: the span's duration minus the union of its children's
    // intervals (parallel jobs overlap, so their durations do not add up)
    val children = all.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      val cs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var end = Double.NegativeInfinity
      cs.foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
      s.durMs - covered
    }
    val self = all.filter(_.kind != "job").groupBy(s => s.name.split('.').head).map {
      case (n, ss) => n -> Json.num(ss.map(selfMs).sum / 1000.0 / traced.size)
    }
    Files.write(Paths.get(spansPath), all.map(s => Json.obj("id" -> Json.num(s.id),
      "name" -> Json.str(s.name), "kind" -> Json.str(s.kind), "parent" -> Json.num(s.parent),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "run" -> Json.str(s.run))).asJava)
    base ++ Seq(
      "layers" -> Json.obj((layers + ("trace.overhead_s" -> overhead)).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "self_s_per_iteration" -> Json.obj(self.toSeq.sortBy(_._1): _*))
  }

  // ---- output fingerprints -----------------------------------------------

  /** Order-insensitive fingerprint of a result: row count plus the sum of
    * per-row xxhash64 over every column, with floating-point values rounded
    * to 6 decimals so partial-aggregation order cannot flip the last bits. */
  def fingerprint(df: DataFrame): String = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _: MapType => to_json(c)
      case _: StructType | _: ArrayType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))).collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  // ---- insights ----------------------------------------------------------

  def insights(spark: SparkSession, o: Map[String, String], work: String): Seq[(String, String)] = {
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val seed = o("seed").toLong
    val rows = o("rows").toInt
    val k = o("k").toInt
    val cores = spark.sparkContext.defaultParallelism
    val csv = Paths.get(s"$work/playstore.csv")
    Corpus.write(csv, rows, o("developers").toInt, seed)
    val csvBytes = Files.size(csv)
    val sha = Corpus.sha256(csv)
    val cfg = PlayStore.cfg.copy(groupingCols = PlayStore.cfg.groupingCols.take(k))
    val tracer = new Tracer(spark, s"insights-$seed")
    val outputs = ArrayBuffer.empty[String]
    def outDir(i: Int) = s"$work/insights-out-$i"

    def runExtract(out: String): Unit = {
      outputs += out
      PlayStore.extractScale(spark, csv.toString, out, cfg)
    }
    val warm = warmUntilSteady(i => runExtract(outDir(-1 - i)))
    val (samples, stealS) = loop(seconds, trace, tracer) { (i, traced) =>
      def extract(): Unit = runExtract(outDir(i))
      if (!traced) { extract(); Map.empty }
      else tracer.span("insights", "iteration") {
        // ingest and stats are separate public calls timed before the
        // measured one; the runtime window covers `extractScale` alone
        val (ingestS, (rowsIn, rowsClean)) = timed(tracer.span("ingest", "call") {
          val in = Observation("rows_in")
          val kept = Observation("rows_clean")
          val raw = PlayStore.readCsv(spark, csv.toString, schema = Some(PlayStore.schema))
          PlayStore.prepare(raw.observe(in, count(lit(1)).as("n")))
            .observe(kept, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          (in.get("n").asInstanceOf[Long], kept.get("n").asInstanceOf[Long])
        })
        val (statsS, _) = timed(tracer.span("stats", "call") {
          InsightsEngine.cardinalityStats(
            PlayStore.prepare(PlayStore.readCsv(spark, csv.toString,
              schema = Some(PlayStore.schema))), cfg)
        })
        val (extractS, _, rt, runtime) = tracedCall(tracer, cores, "extract", "call")(extract())
        val outRows = spark.read.text(outDir(i)).count().toDouble
        runtime ++ Map("call_s" -> extractS, "ingest.s" -> ingestS,
          "ingest.rows_in" -> rowsIn.toDouble,
          "ingest.clean_ratio" -> rowsClean.toDouble / math.max(1L, rowsIn),
          "stats.s" -> statsS, "extract.s" -> extractS,
          "extract.scan_amplification" -> rt.inputBytes.toDouble / csvBytes,
          "extract.shuffle_records" -> rt.shuffleWriteRecords.toDouble,
          "extract.output_rows" -> outRows,
          "extract.survival_ratio" -> outRows / math.max(1L, rt.shuffleWriteRecords))
      }
    }
    // the program's peak memory, read before the checks below add theirs
    val rssMb = peakRssMb()

    // output check, outside the timed loop: every call's output against
    // an independent driver-side enumeration, as (row count, Σ xxhash64)
    val check0 = System.nanoTime()
    val prepared = PlayStore.prepare(
      PlayStore.readCsv(spark, csv.toString, schema = Some(PlayStore.schema)))
    import spark.implicits._
    val want = fingerprint(InsightsReference(prepared, cfg).toDF("insight"))
    val got = outputs.toSeq.map { out =>
      val fp = fingerprint(spark.read.schema("insight string").csv(out))
      deleteTree(new File(out))
      fp
    }
    val failed = got.count(_ != want)
    if (failed > 0) System.err.println(s"insights check failed: ${got.mkString(",")} vs $want")
    Files.deleteIfExists(csv)
    summary(samples, stealS, trace, tracer, s"$work/spans.jsonl",
      s => if (s.traced) s.layers("call_s") else s.wallS) ++ Seq(
      "peak_rss_mb" -> Json.num(rssMb),
      "warmup_s" -> Json.arr(warm.map(Json.num)),
      "corpus" -> Json.obj("rows" -> Json.num(rows), "bytes" -> Json.num(csvBytes),
        "sha256" -> Json.str(sha)),
      "checks" -> Json.obj("attempted" -> Json.num(got.size), "failed" -> Json.num(failed),
        "check_s" -> Json.num((System.nanoTime() - check0) / 1e9),
        "got" -> Json.arr(got.map(Json.str)), "want" -> Json.str(want)))
  }

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---- ops ---------------------------------------------------------------

  /** The 17 query modules behind `SparkEntry.queries`, by declared name. */
  lazy val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.ops.Relational.queries.keySet,
    "InsightsQueries" -> graft.insights.InsightsQueries.queries.keySet,
    "Dedup" -> graft.ops.Dedup.queries.keySet,
    "Similarity" -> graft.ops.Similarity.queries.keySet,
    "TextAnalysis" -> graft.ops.TextAnalysis.queries.keySet,
    "Events" -> graft.ops.Events.queries.keySet,
    "Temporal" -> graft.ops.Temporal.queries.keySet,
    "Multimodal" -> graft.ops.Multimodal.queries.keySet,
    "Skew" -> graft.ops.Skew.queries.keySet,
    "Pipeline" -> graft.ops.Pipeline.queries.keySet,
    "Curation" -> graft.ops.Curation.queries.keySet,
    "RelationalExt" -> graft.ops.RelationalExt.queries.keySet,
    "Tpch" -> graft.ops.Tpch.queries.keySet,
    "Layout" -> graft.ops.Layout.queries.keySet,
    "Mining" -> graft.ops.Mining.queries.keySet,
    "Calibrate" -> graft.ops.Calibrate.queries.keySet,
    "SourceQueries" -> graft.sources.SourceQueries.queries.keySet)

  def moduleOf(q: String): String = modules.find(_._2.contains(q)).map(_._1).getOrElse("unknown")

  def ops(spark: SparkSession, o: Map[String, String], work: String): Seq[(String, String)] = {
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val dir = o("tables")
    val names = o("queries").split(",").toSeq
    val cores = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(spark, s"ops-${o.getOrElse("seed", "0")}")
    val failures = mutable.LinkedHashMap.empty[String, String]
    var failedRuns = 0
    val written = ArrayBuffer.empty[(String, String)]       // (query, output dir)
    val queryS = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

    // one query the way `graft.Verify` runs it: build, then write the
    // result as a single parquet file
    def runQuery(q: String, pass: String, traced: Boolean): Map[String, Double] = {
      val t0 = Tracer.nowMs()
      val m = moduleOf(q)
      val out = s"$work/ops-out/$pass/$q"
      try {
        val (buildS, df) = timed(tracer.span(s"$m.$q.build", "call") {
          SparkEntry.queries(q)(spark, dir)
        })
        val (execS, _) = timed(tracer.span(s"$m.$q.exec", "call") {
          df.coalesce(1).write.mode("overwrite").parquet(out)
        })
        written += q -> out
        queryS.getOrElseUpdate(q, ArrayBuffer.empty) += buildS + execS
        if (!traced) Map.empty
        else {
          tracer.drain()
          val rt = tracer.window(t0, Tracer.nowMs())
          Map("ops.build_s" -> buildS, "ops.exec_s" -> execS, s"ops.$m.s" -> (buildS + execS),
            s"ops.$m.no_task_s" -> rt.noTaskS)
        }
      } catch { case e: Throwable =>
        failedRuns += 1
        failures.getOrElseUpdate(q, e.toString.linesIterator.take(1).mkString)
        Map.empty
      } finally spark.catalog.clearCache()
    }
    def pass(id: String, traced: Boolean): Map[String, Double] =
      names.map(q => runQuery(q, id, traced)).foldLeft(Map.empty[String, Double]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }

    // two untimed passes: after one, JIT compilation still takes most of
    // the process CPU of the next
    val warm = Seq("warm0", "warm1").map(id => timed(pass(id, traced = false))._1)
    queryS.clear()
    val (samples, stealS) = loop(seconds, trace, tracer) { (i, traced) =>
      if (!traced) { pass(i.toString, traced = false); Map.empty }
      else {
        val (s, m, _, runtime) = tracedCall(tracer, cores, "ops-pass", "iteration") {
          pass(i.toString, traced = true)
        }
        val perModule = modules.flatMap { case (mod, _) =>
          Seq(s"ops.$mod.s" -> m.getOrElse(s"ops.$mod.s", 0.0),
            s"ops.$mod.no_task_s" -> m.getOrElse(s"ops.$mod.no_task_s", 0.0))
        }
        runtime ++ m ++ perModule ++ Map("call_s" -> s,
          "ops.jobs_per_query" -> runtime("spark.jobs") / names.size)
      }
    }
    // the program's peak memory, read before the checks below add theirs
    val rssMb = peakRssMb()

    // output check, outside the timed loop: the fingerprint of every
    // written result, warm-up pass included; run.py compares them with
    // the frozen ones
    val check0 = System.nanoTime()
    val prints = written.toSeq.groupBy(_._1).map { case (q, outs) =>
      q -> Json.arr(outs.map(o => Json.str(fingerprint(spark.read.parquet(o._2)))))
    }
    deleteTree(new File(s"$work/ops-out"))
    summary(samples, stealS, trace, tracer, s"$work/spans.jsonl",
      s => if (s.traced) s.layers("call_s") else s.wallS) ++ Seq(
      "peak_rss_mb" -> Json.num(rssMb),
      "warmup_s" -> Json.arr(warm.map(Json.num)),
      "check_s" -> Json.num((System.nanoTime() - check0) / 1e9),
      "query_s" -> Json.obj(queryS.toSeq.map { case (q, ts) =>
        q -> Json.arr(ts.toSeq.map(Json.num)) }: _*),
      "failed_runs" -> Json.num(failedRuns),
      "query_failures" -> Json.obj(failures.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "fingerprints" -> Json.obj(names.filter(prints.contains).map(q => q -> prints(q)): _*))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
