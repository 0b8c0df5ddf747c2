package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{BoatPipeline, Parse, Validate}
import graft.queries.BoatQueries

/** The benchmark's JVM side. `perfbench/run.py` launches it once per
  * run with `key=value` arguments, then checks the outputs it names.
  *
  * A run is: build the session, warm up (one cold pass, then `warmup`
  * more passes; all of it is set-up time), then measured passes until
  * `seconds` have elapsed and the last cycle is complete (a cycle is
  * [[Workload.cycle]] consecutive passes, one per query order). One
  * closed-loop client: each pass starts after the previous one ends.
  * With `trace=1` the measured cycles alternate traced and untraced, so
  * the tracing overhead is measured inside one JVM.
  *
  * Arguments: mode=etl|queries, seconds, warmup, trace=0|1, seed, work
  * (directory for inputs, outputs and Spark files), result (JSON path);
  * etl: input, year; queries: data, queries (comma list); digests:
  * data-less mode that hashes saved query outputs (`outputs`
  * directory), used to record expected digests. */
object Harness {
  val Cores = 4

  final case class Pass(i: Int, traced: Boolean, wall: Double, cpu: Double,
                        calls: Map[String, Double], error: Option[String],
                        digests: Map[String, String], out: String,
                        layers: Map[String, Double], checked: Boolean = false,
                        measured: Boolean = false,
                        frames: Map[String, DataFrame] = Map.empty)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = Paths.get(kv("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    try kv("mode") match {
      case "digests" => writeDigests(spark, kv)
      case mode =>
        val tracer = new Tracer(spark.sparkContext)
        val w: Workload =
          if (mode == "etl") new EtlWorkload(spark, tracer, work, Paths.get(kv("input")), kv("year").toInt)
          else new QueryWorkload(spark, tracer, kv("data"), kv("queries").split(",").toSeq, kv("seed").toLong)
        run(tracer, w, kv, sessionReadyMs, work)
    } finally spark.stop()
  }

  private def run(tracer: Tracer, w: Workload,
                  kv: Map[String, String], sessionReadyMs: Long, work: Path): Unit = {
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    def timed(from: Long) = (System.nanoTime() - from) / 1e9
    // set-up: the cold pass, then `warmup` untimed passes, so every run
    // starts measuring after the same JIT warm-up work, however fast
    // the machine is at the time
    val cold = w.pass(0)
    val warm = mutable.ArrayBuffer.empty[Pass]
    var i = 1
    while (i <= kv("warmup").toInt) {
      System.gc()
      warm += w.pass(i)
      i += 1
    }
    val warmDoneMs = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer(w.check(cold)) ++ warm
    // whole cycles only, so every query order is timed equally often;
    // a traced run needs a traced and an untraced cycle for the overhead
    val block = if (trace) 2 * w.cycle else w.cycle
    val t0 = System.nanoTime()
    var n = 0
    var more = true
    while (more) {
      tracer.setEnabled(trace && (n / w.cycle) % 2 == 0)
      System.gc() // each pass starts from a collected heap, as graft.Bench does
      val p = w.pass(i).copy(measured = true)
      tracer.setEnabled(false)
      n += 1
      more = timed(t0) < seconds || n % block != 0
      passes += (if (more) p else w.check(p))
      i += 1
    }
    val spansFile = work.resolve("spans.json")
    if (trace) Files.writeString(spansFile, spansJson(tracer))
    val out = Json.obj(Seq(
      "session_ready_ms" -> Json.num(sessionReadyMs.toDouble),
      "warm_done_ms" -> Json.num(warmDoneMs.toDouble),
      "cycle" -> w.cycle.toString,
      "peak_rss_kb" -> Json.num(peakRssKb().toDouble),
      "spans_file" -> (if (trace) Json.str(spansFile.toString) else "null"),
      "passes" -> Json.arr(passes.toSeq.map(passJson))) ++ w.finish())
    Files.writeString(Paths.get(kv("result")), out)
  }

  /** A workload runs one timed pass at a time. `check` runs outside
    * the timed region, after set-up, on the cold pass and the last
    * measured pass, and records what the output checks need; `finish`
    * returns extra result fields. `cycle` consecutive passes run every
    * pass variant (query order) once. */
  trait Workload {
    def cycle: Int = 1
    def pass(i: Int): Pass
    def check(p: Pass): Pass = p.copy(checked = true)
    def finish(): Seq[(String, String)] = Nil
  }

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(500)

  /** Times `body` as pass `i`'s root span; returns wall and CPU
    * seconds, the error if `body` threw, and, on a traced pass, the root
    * span once the listener bus has drained. */
  private def timedPass(tracer: Tracer, i: Int)(body: => Unit)
      : (Double, Double, Option[String], Option[Span]) = {
    val c0 = cpuSeconds()
    var err: Option[String] = None
    val (_, wall) = tracer.span(i, "pass") {
      try body catch { case e: Throwable => err = Some(message(e)) }
    }
    val cpu = cpuSeconds() - c0
    val root = if (tracer.isEnabled) {
      tracer.drain()
      tracer.spans.reverseIterator.find(s => s.pass == i && s.parent == -1)
    } else None
    (wall, cpu, err, root)
  }

  /** Scheduler, executor and I/O metrics of one traced pass. */
  private def layerMetrics(tracer: Tracer, root: Span): Map[String, Double] = {
    val c = tracer.inclusive(root)
    val wall = root.end - root.start
    val lo = tracer.epochMs(root.start)
    val hi = tracer.epochMs(root.end)
    // union of job intervals clipped to the pass: AQE runs some jobs
    // concurrently, so summing their durations would overcount
    val merged = c.jobIntervals.map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var jobMs, curA, curB = 0.0
    var open = false
    merged.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) jobMs += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) jobMs += curB - curA
    val mb = 1024.0 * 1024.0
    Map(
      "scheduler.jobs" -> c.jobs.toDouble, "scheduler.stages" -> c.stages.toDouble,
      "scheduler.tasks" -> c.tasks.toDouble, "scheduler.job_s" -> jobMs / 1e3,
      "scheduler.driver_gap_s" -> (wall - jobMs / 1e3),
      "executor.run_s" -> c.runMs / 1e3, "executor.cpu_s" -> c.cpuNs / 1e9,
      "executor.gc_s" -> c.gcMs / 1e3, "executor.core_busy" -> c.runMs / 1e3 / (Cores * wall),
      "shuffle.write_mb" -> c.shuffleWrite / mb, "shuffle.read_mb" -> c.shuffleRead / mb,
      "io.input_mb" -> c.input / mb, "io.spill_mb" -> c.spill / mb)
  }

  /** The boat ETL: `BoatPipeline.run` on a fresh copy of the generated
    * CSV per pass (Parse caches per path, size and mtime, so reusing a
    * path would skip work every CLI run pays) into a fresh output
    * directory. A traced pass calls the stage functions `run` composes,
    * in `run`'s order, so each gets its own span. */
  final class EtlWorkload(spark: SparkSession, tracer: Tracer, work: Path,
                          input: Path, year: Int) extends Workload {
    private val inputBytes = Files.size(input)

    def pass(i: Int): Pass = {
      val dir = work.resolve(s"pass$i")
      Files.createDirectories(dir.resolve("in"))
      val in = dir.resolve("in").resolve("boats.csv")
      Files.copy(input, in)
      val in_ = in.toString
      val out = dir.resolve("out").toString
      val calls = mutable.LinkedHashMap.empty[String, Double]
      def call[T](name: String)(f: => T): T = {
        val (r, t) = tracer.span(i, name)(f)
        calls(name) = t
        r
      }
      val traced = tracer.isEnabled
      val (wall, cpu, err, root) = timedPass(tracer, i) {
        if (!traced) call("etl.run")(BoatPipeline.run(spark, in_, out, year))
        else {
          val raw = call("etl.load") {
            val r = Parse.load(spark, in_)
            Validate.requireColumns(r, Parse.rawSchema.fieldNames.toSeq)
            r
          }
          val cleaned = call("etl.clean")(BoatPipeline.clean(raw, year))
          call("etl.validate")(Validate.validateOrThrow(cleaned, Validate.boatChecks(year)))
          call("etl.sink_parquet")(cleaned.write.mode("overwrite").parquet(s"$out/data.parquet"))
          call("etl.sink_summary") {
            val s = BoatPipeline.summary(cleaned).cache()
            s.coalesce(1).write.mode("overwrite").option("header", "true")
              .csv(s"$out/data_summary.csv")
          }
        }
      }
      spark.catalog.clearCache() // `run` returns a cached summary
      val layers = root.map { r =>
        val c = tracer.inclusive(r)
        layerMetrics(tracer, r) ++ calls.map { case (k, v) => s"${k}_s" -> v } ++ Map(
          "etl.input_passes" -> c.input.toDouble / inputBytes,
          "etl.output_bytes_per_input_byte" -> dirBytes(Paths.get(out)).toDouble / inputBytes)
      }.getOrElse(Map.empty)
      Pass(i, traced, wall, cpu, calls.toMap, err, Map.empty, out, layers, checked = true)
    }

    /** The summary oracle (DuckDB SQL over the raw CSV) with the
      * fixture path swapped for the generated file. */
    override def finish(): Seq[(String, String)] = Seq(
      "oracle_sql" -> Json.str(SparkEntry.oracleSql("q34_boat_summary")
        .replace(BoatQueries.fixturePath, input.toAbsolutePath.toString)))
  }

  /** A query mix: every query once per pass, in an order set by the
    * seed and the pass number; `names.size` consecutive passes run each
    * rotation of the mix once (the order matters: `q209_hits` runs
    * about 30% slower right after `q225_fuzzy_parts` than first in a
    * pass). Each query is built, planned and executed into the noop
    * sink (as graft.Bench does). A checked pass gets each output's
    * [[Digest]], computed by a second execution after the timed pass. */
  final class QueryWorkload(spark: SparkSession, tracer: Tracer, data: String,
                            names: Seq[String], seed: Long) extends Workload {
    override def cycle: Int = names.size

    def pass(i: Int): Pass = {
      // the cold pass runs the mix as listed, so every run warms the
      // JVM alike; pass i rotates it by seed + i, so each order
      // appears equally often whatever the seed
      val order = if (i == 0) names else {
        val k = Math.floorMod(seed + i, names.size.toLong).toInt
        names.drop(k) ++ names.take(k)
      }
      val calls = mutable.LinkedHashMap.empty[String, Double]
      val errs = mutable.ArrayBuffer.empty[String]
      val frames = mutable.LinkedHashMap.empty[String, DataFrame]
      val (wall, cpu, _, root) = timedPass(tracer, i) {
        order.foreach { q =>
          try {
            val (_, t) = tracer.span(i, q) {
              val df = tracer.span(i, "entry.build")(SparkEntry.queries(q)(spark, data))._1
              tracer.span(i, "catalyst.plan")(df.queryExecution.executedPlan)
              tracer.span(i, "exec.execute")(df.write.mode("overwrite").format("noop").save())
              frames(q) = df
            }
            calls(q) = t
          } catch { case e: Throwable => errs += s"$q: ${message(e)}" }
          spark.catalog.clearCache() // every query starts cache-cold, as in graft.Bench
        }
      }
      val layers = root.map { r =>
        val spans = tracer.descendants(r)
        def total(n: String) = spans.filter(_.name == n).map(s => s.end - s.start).sum
        layerMetrics(tracer, r) ++ Map(
          "entry.build_s" -> total("entry.build"),
          "catalyst.plan_s" -> total("catalyst.plan"),
          "exec.execute_s" -> total("exec.execute")) ++
          spans.filter(s => s.parent == r.id).flatMap { s =>
            Seq(s"${s.name}.wall_s" -> (s.end - s.start),
                s"${s.name}.jobs" -> tracer.inclusive(s).jobs.toDouble)
          }
      }.getOrElse(Map.empty)
      Pass(i, tracer.isEnabled, wall, cpu, calls.toMap,
           if (errs.isEmpty) None else Some(errs.mkString("; ")), Map.empty, "", layers,
           frames = frames.toMap)
    }

    override def check(p: Pass): Pass = {
      val digests = p.frames.map { case (q, df) =>
        val d = try Digest.of(df) catch { case e: Throwable => s"error: ${message(e)}" }
        spark.catalog.clearCache()
        q -> d
      }.toMap
      p.copy(digests = digests, checked = true, frames = Map.empty)
    }
  }

  /** Hashes each saved query output under `outputs` (one parquet
    * directory per query, as graft.Verify writes them) with [[Digest]]. */
  private def writeDigests(spark: SparkSession, kv: Map[String, String]): Unit = {
    val dir = Paths.get(kv("outputs"))
    val names = kv("queries").split(",").toSeq.sorted
    val entries = names.map(q => q -> Json.str(Digest.of(spark.read.parquet(dir.resolve(q).toString))))
    Files.writeString(Paths.get(kv("result")), Json.obj(entries))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  private def passJson(p: Pass): String = Json.obj(Seq(
    "i" -> p.i.toString, "traced" -> p.traced.toString,
    "wall_s" -> Json.num(p.wall), "cpu_s" -> Json.num(p.cpu),
    "error" -> p.error.map(Json.str).getOrElse("null"),
    "out" -> Json.str(p.out), "checked" -> p.checked.toString,
    "measured" -> p.measured.toString,
    "calls" -> Json.obj(p.calls.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
    "digests" -> Json.obj(p.digests.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
    "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))

  private def spansJson(t: Tracer): String = Json.arr(t.spans.toSeq.map { s =>
    val c = t.recorder.bySpan.getOrElse(s.id, new Counts)
    Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "pass" -> s.pass.toString, "name" -> Json.str(s.name),
      "start" -> Json.num(s.start), "end" -> Json.num(s.end),
      "self" -> Json.num(t.selfTime(s)),
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "tasks" -> c.tasks.toString, "executor_run_s" -> Json.num(c.runMs / 1e3),
      "shuffle_write_bytes" -> c.shuffleWrite.toString, "input_bytes" -> c.input.toString))
  })
}

/** Order-insensitive digest of a query output: row count and the exact
  * sum of each row's xxhash64 over its columns in name order. */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}

/** Minimal JSON writer: callers pass already-encoded values. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
