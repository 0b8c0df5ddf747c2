package graft.etl

import org.apache.spark.sql.SparkSession

/** CLI entry point mirroring the reference's argparse surface
  * (/root/reference/src/pipeline_pyspark.py:370-384):
  * `-i/--input <csv> -o/--output <dir> -s/--summary <dir>
  * [--show]` — so a user of the reference's command line can switch
  * binaries. The reference's separate -o/-s targets are honored
  * (parquet under -o, summary CSV under -s); its `--no-spark` flag
  * has no meaning here (there is no pandas half) and is accepted but
  * ignored with a notice. */
object BoatCli {

  def main(args: Array[String]): Unit = {
    var input, output, summaryDir: Option[String] = None
    var show = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-i" | "--input"   => input = Some(args(i + 1)); i += 2
        case "-o" | "--output"  => output = Some(args(i + 1)); i += 2
        case "-s" | "--summary" => summaryDir = Some(args(i + 1)); i += 2
        case "--show"           => show = true; i += 1
        case "--no-spark" =>
          System.err.println("[boat-cli] --no-spark has no effect: the engine is Spark end to end")
          i += 1
        case other => sys.error(s"unknown argument: $other (usage: -i <csv> -o <dir> -s <dir> [--show])")
      }
    }
    val in = input.getOrElse(sys.error("missing -i/--input"))
    val out = output.getOrElse(sys.error("missing -o/--output"))
    val sum = summaryDir.getOrElse(out)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .appName("BoatDataETL").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[boat-cli] spark session up in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // One-shot CLI economics: the first parquet write and the first
    // CSV parse each pay 1-2 s of class-loading + codegen that a
    // long-lived session amortizes away. Warm both OFF the critical
    // path — a tiny write+read against a temp dir on a daemon thread,
    // racing the (driver-side) input load. It is never joined: at
    // worst its tail overlaps the run's first jobs.
    // Small-input fast path: whole-stage codegen compiles a janino
    // class per distinct plan (~0.5-1 s each) — pure overhead when
    // the whole input is a few MB and execution itself is
    // milliseconds. Below the same 64 MB threshold Parse uses for
    // driver-side scrubbing, run interpreted; a big input keeps
    // codegen, where it pays for itself within one partition.
    val smallInput = try {
      val p = java.nio.file.Paths.get(in)
      java.nio.file.Files.isRegularFile(p) &&
        java.nio.file.Files.size(p) <= (64L << 20)
    } catch { case _: Exception => false }
    if (smallInput) {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    val warmup = new Thread(() => {
      try {
        val wt = java.nio.file.Files.createTempDirectory("boat_warm")
        import spark.implicits._
        Seq(("w", 1L)).toDF("a", "b")
          .write.mode("overwrite").parquet(s"$wt/p")
        java.nio.file.Files.writeString(wt.resolve("w.csv"), "x,1\n")
        spark.read.schema("a STRING, b LONG")
          .option("multiLine", "true").csv(s"$wt/w.csv").count()
        Seq(("w", 1L)).toDF("a", "b").coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(s"$wt/c")
        scala.reflect.io.Directory(wt.toFile).deleteRecursively()
      } catch { case _: Throwable => () }
    }, "boat-cli-warmup")
    warmup.setDaemon(true)
    warmup.start()
    try {
      val r0 = System.nanoTime()
      BoatPipeline.run(spark, in, out, show = show, summaryDir = Some(sum))
      System.err.println(f"[boat-cli] run: ${(System.nanoTime() - r0) / 1e9}%.2f s")
      println(s"[boat-cli] wrote $out/data.parquet and $sum/data_summary.csv")
      println(f"[boat-cli] pipeline wall: ${(System.nanoTime() - t0) / 1e9}%.2f s (incl. session start)")
    } finally spark.stop()
  }
}
