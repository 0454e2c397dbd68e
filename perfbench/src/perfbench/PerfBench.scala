package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** JVM side of the benchmark: sets up, runs one workload closed-loop for
  * the given seconds, checks the program's outputs, and prints one JSON
  * line prefixed `PERFBENCH ` for `run.py`.
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir>
  *                  <corpusDir> <gate,gate,...> <drainUrls>
  *
  * With trace 1, units alternate traced (listeners attached, spans
  * recorded) and untraced; per-layer figures come from the traced units,
  * and run.py derives the tracing overhead from the unit times. */
object PerfBench {
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())
  /** Read rounds after each unit: 10 rounds of 5 reads give 50 samples.
    * The tail is p67: with five read kinds of distinct cost it falls
    * inside the fourth kind's cluster, and 16 samples lie beyond it. */
  val readRounds = 10

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.GraftLogging.silenceKnownNoise()
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** (system busy ticks, this process's ticks) from /proc, USER_HZ units. */
  def cpuTicks(): (Long, Long) = scala.util.Try {
    val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    val self = Files.readString(Paths.get("/proc/self/stat"))
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (f.take(8).sum - f(3) - f(4), rest(11).toLong + rest(12).toLong)
  }.getOrElse((-1L, -1L))

  def peakRssMb(): Double = scala.util.Try {
    Files.readString(Paths.get("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
  }.getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, data, gatesS, drainS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS)
    val tr = new Tracer
    val rec = new SparkRecorder
    val gates = gatesS.split(",").toSeq
    val outDir = work.resolve("gate-out")
    val w: Workload = workload match {
      case "pipeline_trickle" => new PipelineTrickle(seed, drainS.toLong, 50, work, tr)
      case "curation_gates" =>
        new CurationGates(seed, gates, data, outDir,
          Paths.get(System.getProperty("java.io.tmpdir")), tr)
    }

    // ---- set-up: session start plus warm-up ----
    val (spark, setupMs) = Util.timed {
      val s = session(work)
      w.warmUp(s)
      s
    }

    // ---- timed loop: one unit at least, two when traced ----
    val minUnits = if (trace) 2 else 1
    val units = ArrayBuffer.empty[(Int, Boolean, Double, Map[String, Double])]
    val reads = ArrayBuffer.empty[(Boolean, ReadDone)]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var u = 0
    var broken = false
    while (!broken && (u < minUnits || elapsed < seconds)) {
      // traced runs trace unit 0, the unit an untraced run times
      val traced = trace && u % 2 == 0
      if (traced != tr.on) {
        if (traced) rec.attach(spark) else rec.detach(spark)
        tr.on = traced
      }
      attempted += w.unitOps
      try {
        val (c, ms) = Util.timed(tr.span("batch", s"u$u")(w.unit(u)))
        units += ((u, traced, ms, c))
        failed += c.getOrElse("failed_ops", 0.0).toInt
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"unit $u: $e"
          broken = true // a failed write leaves no state worth measuring
      }
      // a traced run reports no end-to-end figures: reads only where traced
      if (!broken && (traced || !trace)) (0 until readRounds).foreach { r =>
        attempted += 5
        try reads ++= w.readRound(u, r).map(traced -> _)
        catch {
          case e: Throwable => failed += 5; errors += s"reads u$u.r$r: $e"
        }
      }
      u += 1
    }
    val window = elapsed
    val ticks1 = cpuTicks()
    if (tr.on) { rec.detach(spark); tr.on = false }
    val ambient =
      if (ticks0._1 < 0 || ticks1._1 < 0) -1.0
      else math.max(0.0, ((ticks1._1 - ticks0._1) - (ticks1._2 - ticks0._2)) / 100.0 / window)

    // ---- checks, outside the timed region ----
    var orderDefects = 0
    reads.foreach { case (_, r) =>
      val bad = try r.check() catch { case e: Throwable => Some(s"${r.kind} check threw: $e") }
      bad.foreach { m => failed += 1; errors += s"read ${r.kind}: $m" }
      if (bad.isEmpty && r.orderCheck().isDefined) orderDefects += 1
    }
    val stateFailures = try w.check() catch { case e: Throwable => Seq(s"check threw: $e") }
    failed += stateFailures.size
    errors ++= stateFailures
    val fingerprint = try w.fingerprint catch {
      case e: Throwable => failed += 1; errors += s"fingerprint: $e"; Map.empty[String, Long]
    }
    if (workload == "curation_gates") writeOracles(outDir, gates)

    // ---- figures ----
    val plain = units.filterNot(_._2).map(_._3)
    val readMs = reads.filterNot(_._1).map(_._2.ms).sorted
    val tailIdx = readMs.size - 1 - math.max(10, readMs.size / 3)
    val tailP = if (readMs.isEmpty) 0.0 else 100.0 * (tailIdx + 1) / readMs.size
    val e2e = Map(
      "setup_s" -> setupMs / 1000,
      "batch_p50_s" -> median(plain.toSeq) / 1000,
      "read_p50_ms" -> median(readMs.toSeq),
      "read_tail_ms" -> (if (tailIdx >= 0) readMs(tailIdx) else Double.NaN),
      "catalog_mb" -> w.catalogBytes / 1048576.0,
      "peak_rss_mb" -> peakRssMb())
    val layers = if (trace) perLayer(tr, rec, units.toSeq, gates) else Map.empty[String, Double]
    if (trace) writeTrace(work.resolve("trace.json"), tr, rec)

    val j = Json
    val out = j.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "end_to_end" -> e2e, "per_layer" -> layers,
      "unit_ms" -> units.map(x => j.obj("unit" -> x._1, "traced" -> x._2, "ms" -> x._3)).toSeq,
      "unit_counters" -> units.map(_._4).toSeq,
      "reads" -> readMs.size,
      "read_tail_percentile" -> tailP,
      "read_tail_beyond" -> (readMs.size - 1 - tailIdx),
      "read_p50_by_kind_ms" -> reads.filterNot(_._1).groupBy(_._2.kind)
        .map { case (k, rs) => k -> median(rs.map(_._2.ms).toSeq) },
      "include_order_defects" -> orderDefects,
      "measured_s" -> window,
      "ambient_cores" -> ambient,
      "fingerprint" -> fingerprint)
    println("PERFBENCH " + out.s)
    spark.streams.active.foreach(q => scala.util.Try { q.stop(); q.awaitTermination(30000) })
    graft.GraftLogging.silenceShutdownRaces()
    scala.util.Try(spark.stop())
  }

  /** The per-layer figures, each a median over traced units (reads: over
    * traced calls). Layers a workload never calls report 0. */
  def perLayer(tr: Tracer, rec: SparkRecorder,
               units: Seq[(Int, Boolean, Double, Map[String, Double])],
               gates: Seq[String]): Map[String, Double] = {
    val traced = units.filter(_._2)
    val unitSpans = tr.spans.filter(_.name == "batch")
    val byOp = unitSpans.map(s => s.op -> s).toMap
    def perUnit(f: (Span, Map[String, Double]) => Double): Double =
      median(traced.flatMap(t => byOp.get(s"u${t._1}").map(f(_, t._4))))
    def inside(u: Span)(s: Span) = s.start >= u.start && s.end <= u.end
    def jobsIn(ss: Seq[Span]) = rec.jobs.count(j =>
      ss.exists(s => j.start >= s.start - 1 && j.start <= s.end + 1)).toDouble
    def spanMs(name: String) = median(tr.spans.filter(_.name == name).map(_.ms).toSeq)

    val stages = Seq("seed", "locator", "enricher", "crm_sync")
    val pipeline = stages.flatMap { st =>
      def mine(u: Span) = tr.spans.filter(s => s.name == s"pipeline.$st" && inside(u)(s)).toSeq
      Seq(
        s"pipeline.${st}_s" -> perUnit((u, _) => mine(u).map(_.ms).sum / 1000),
        s"pipeline.$st.jobs" -> perUnit((u, _) => jobsIn(mine(u))),
        s"pipeline.$st.rows" -> perUnit((_, c) => c.getOrElse(s"pipeline.$st.rows", 0.0)))
    } :+ ("pipeline.yield" -> perUnit((_, c) =>
      if (c.getOrElse("pipeline.seed.rows", 0.0) == 0) 0.0
      else c.getOrElse("crm_events", 0.0) / c("pipeline.seed.rows")))

    val sparkNames = Seq("jobs", "sql_executions", "stages", "tasks", "analysis_ms",
      "optimization_ms", "planning_ms", "driver_gap_ms", "executor_run_ms",
      "executor_cpu_ms", "gc_ms", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
      .map("spark." + _)
    val sparkFigs = sparkNames.map(n => n -> perUnit((u, _) => Derive.sparkStats(u, rec)(n)))

    val store = Seq("store.commits", "store.slice_versions", "store.bytes_written_mb")
      .map(n => n -> perUnit((_, c) => c.getOrElse(n, 0.0))) ++ Seq(
      "store.snapshot_ms" -> spanMs("store.snapshot"),
      "store.manifest_ms" -> spanMs("store.manifest"))

    val query = Seq("find_unique", "find_many", "include", "count", "group_by")
      .map(k => s"query.${k}_ms" -> spanMs(s"query.$k"))

    val gateFigs = gates.flatMap { g =>
      def mine(u: Span) = tr.spans.filter(s => s.name == s"gate.$g" && inside(u)(s)).toSeq
      Seq(s"gate.${g}_s" -> perUnit((u, _) => mine(u).map(_.ms).sum / 1000),
        s"gate.$g.jobs" -> perUnit((u, _) => jobsIn(mine(u))))
    }

    (pipeline ++ sparkFigs ++ store ++ query ++ gateFigs).toMap
  }

  /** Trace artifact: every span with its self time, Spark jobs as child
    * spans of the call that caused them. */
  def writeTrace(path: Path, tr: Tracer, rec: SparkRecorder): Unit = {
    val all = tr.spans.toSeq ++ Derive.jobSpans(tr.spans.toSeq, rec)
    val self = Derive.selfMs(all)
    val rows = all.sortBy(_.start).map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)))
    Files.writeString(path, Json.obj("spans" -> rows).s)
  }

  /** The gates' oracle SQL, next to their outputs, for the DuckDB check. */
  def writeOracles(dir: Path, gates: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.obj(gates.filter(oracles.contains).map(g => g -> oracles(g)): _*).s)
  }
}

/** Minimal JSON writer for the result line and the trace artifact. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: RawJson => raw.s
    case other => str(other.toString)
  }

  final case class RawJson(s: String)

  def obj(kv: (String, Any)*): RawJson =
    RawJson(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
