package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.spark.graftspec.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

/** End-to-end golden test of the boat ETL on the checked-in mini
  * fixture (FIXTURES.md §2): every dirt class the reference handles,
  * with hand-computed expected values. currentYear pinned to 2026 so
  * the clamp goldens are stable. */
class BoatPipelineSpec extends SparkSpec {

  private val fixture = "/root/repo/src/test/resources/boat_mini.csv"
  private lazy val raw = Parse.load(spark, fixture)
  private lazy val cleaned = BoatPipeline.clean(raw, currentYear = 2026)

  test("ingest drops blanks and header, parses quoted commas") {
    assert(raw.count() == 20)
    // quoted field with comma survives as ONE location value
    val burton = raw.filter(raw("Price") === "EUR 15000")
      .select("Location").collect().head.getString(0)
    assert(burton == "United Kingdom | Burton Waters, Burton Waters")
  }

  test("currency/price partition and EUR conversion") {
    val rows = cleaned.select("Currency", "Price", "price_eur", "country")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    // mojibake pound becomes GBP via the scrub, then converts at 1.17
    assert(rows.contains(("GBP", 5170L, 5170 * 1.17)))
    // USD has no rate: null, exactly the reference's NaN
    assert(rows.contains(("USD", 10000L, null)))
    assert(rows.contains(("DKK", 24800L, 24800 * 0.13)))
  }

  test("year clamp: 0 and out-of-range map to min-10") {
    val years = cleaned.select("Year Built").collect().map(_.getLong(0))
    assert(years.min == 1965) // min plausible 1975, sentinel rows -> 1965
    assert(years.count(_ == 1965) == 2) // the 0 row and the 2150 row
    assert(!years.exists(y => y != 1965 && y < 1975))
  }

  test("location split keeps City leading space and interior pipes") {
    val city = cleaned.filter(cleaned("Currency") === "CHF")
      .filter(cleaned("Price") === 3337)
      .select("City").collect().head.getString(0)
    assert(city == " Lake Geneva | V senaz")
  }

  test("country normalization: mapped, city-mapped, pass-through, null") {
    val countries = cleaned.select("country").collect().map(_.getString(0)).toSet
    assert(countries.contains("Switzerland"))
    assert(countries.contains("Spain"))    // "mallorca" city->country
    assert(countries.contains("Germany"))  // incl. "lake constance"
    assert(countries.contains("croatia (hrvatska)")) // unmapped stays lowercase
    assert(countries.contains("belgium"))            // unmapped stays lowercase
    assert(countries.contains("None"))               // null location
    assert(!countries.contains("Belgium"))
  }

  test("type/power partition and null fills") {
    val tp = cleaned.select("Type", "Power", "Manufacturer", "Material",
        "Length", "Width").collect()
    assert(tp.exists(r => r.getString(0) == "Used boat" && r.getString(1) == "Unleaded"))
    assert(tp.exists(r => r.getString(0) == "new boat from stock" && r.getString(1) == "None"))
    assert(tp.exists(r => r.getString(0) == "None" && r.getString(1) == "None")) // null Type row
    assert(tp.count(_.getString(2) == "None") == 3)  // null manufacturers filled
    assert(tp.exists(r => r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0)) // null Length/Width -> 0
  }

  test("validation passes on the cleaned frame and fails on dirty") {
    Validate.validateOrThrow(cleaned, Validate.boatChecks(2026))
    val bad = cleaned.withColumn("Material",
      org.apache.spark.sql.functions.lit("Papier-mache"))
    intercept[Validate.ValidationException] {
      Validate.validateOrThrow(bad, Validate.boatChecks(2026))
    }
    intercept[Validate.ValidationException] {
      Validate.requireColumns(raw.drop("Price"), Parse.rawSchema.fieldNames.toSeq)
    }
  }

  test("summary: null-skipping avg, desc order with nulls last") {
    val s = BoatPipeline.summary(cleaned).collect()
    val byCountry = s.map(r => r.getString(0) ->
      (if (r.isNullAt(1)) null else r.getDouble(1), r.getLong(2))).toMap
    assert(byCountry("Switzerland") == ((3337 * 1.06 + 45000 * 1.06) / 2, 2L))
    assert(byCountry("Germany") == ((3490 + 2500 + 22000 * 1.06) / 3, 3L))
    assert(byCountry("United States") == (null, 1L)) // USD-only: avg of no non-nulls
    // ordered desc by avg_price, null group last
    assert(s.head.getString(0) == "Switzerland")
    assert(s.last.getString(0) == "United States")
  }

  test("typed boundary: Dataset[BoatRecord] round-trips the cleaned frame") {
    val ds = BoatPipeline.cleanTyped(raw, currentYear = 2026)
    val recs = ds.collect()
    assert(recs.length == 20)
    assert(recs.count(_.price_eur.isEmpty) == 1) // the USD row has no rate
    assert(recs.filter(_.currency == "GBP").map(_.price) sameElements Array(5170L))
    // typed transformations compile against fields, not strings
    val expensive = ds.filter(_.price_eur.exists(_ > 20000)).count()
    assert(expensive == 2) // the two CHF rows: 22000*1.06, 45000*1.06
  }

  test("Databricks-variant semantics: no dictionary, lowercase countries") {
    val variant = BoatPipeline.clean(raw, currentYear = 2026, normalizeCountries = false)
    val countries = variant.select("country").collect().map(_.getString(0)).toSet
    assert(countries.contains("switzerland"))
    assert(countries.contains("mallorca"))  // city NOT mapped to Spain here
    assert(countries.contains("None"))      // null location still stringifies
    assert(!countries.exists(c => c != "None" && c.exists(_.isUpper)))
  }

  test("run(): parquet + single-file csv sinks") {
    val out = java.nio.file.Files.createTempDirectory("boat_out").toString
    BoatPipeline.run(spark, fixture, out, currentYear = 2026)
    assert(spark.read.parquet(s"$out/data.parquet").count() == 20)
    val csv = spark.read.option("header", "true").csv(s"$out/data_summary.csv")
    assert(csv.count() == 13)
    assert(csv.columns.toSeq == Seq("country", "avg_price", "count"))
  }

  /** A copy of the mini fixture with `edit` applied, under a fresh
    * temp directory. */
  private def fixtureWith(edit: String => String): String = {
    val text = new String(Files.readAllBytes(Paths.get(fixture)), UTF_8)
    val edited = edit(text)
    assert(edited != text)
    val p = Files.createTempDirectory("boat_in").resolve("boats.csv")
    Files.write(p, edited.getBytes(UTF_8))
    p.toString
  }

  /** Every file under `dir` (relative path → size); empty when `dir`
    * does not exist. */
  private def listing(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val files = Files.walk(root)
      try files.filter(Files.isRegularFile(_)).toArray.toSeq.map { f =>
        val p = f.asInstanceOf[Path]
        root.relativize(p).toString -> Files.size(p)
      }.toMap
      finally files.close()
    }
  }

  /** `f`'s result and the number of Spark jobs it submitted. */
  private def countingJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.job.tag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val r = f
      ListenerBusDrain.drain(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("run() matches clean + summary, in at most 4 Spark jobs, on both parse paths") {
    val multiLine = fixtureWith(_.replace("Burton Waters, Burton Waters", "Burton Waters,\nBurton Waters"))
    for ((path, in) <- Seq("single-line" -> fixture, "multi-line" -> multiLine)) {
      val out = Files.createTempDirectory("boat_out").toString
      val (returned, jobs) = countingJobs(BoatPipeline.run(spark, in, out, currentYear = 2026))
      info(s"$path input: $jobs Spark jobs")
      assert(jobs > 0 && jobs <= 4, s"run() on the $path input submitted $jobs Spark jobs")
      val cleanedIn = BoatPipeline.clean(Parse.load(spark, in), currentYear = 2026)
      val parquet = spark.read.parquet(s"$out/data.parquet")
      assert(parquet.columns.toSeq == cleanedIn.columns.toSeq)
      assert(parquet.exceptAll(cleanedIn).isEmpty && cleanedIn.exceptAll(parquet).isEmpty)
      val expected = BoatPipeline.summary(cleanedIn).collect().toSeq
      val csv = spark.read.option("header", "true")
        .schema("country STRING, avg_price DOUBLE, count LONG")
        .csv(s"$out/data_summary.csv").collect().toSeq
      assert(csv == expected)
      assert(returned.collect().toSeq == expected)
      assert(listing(out).keys.forall(k => k.startsWith("data.parquet") || k.startsWith("data_summary.csv")))
    }
    // the multi-line copy did take the multi-line path: one record
    // spans two physical lines, and the city keeps the newline
    val cities = BoatPipeline.clean(Parse.load(spark, multiLine), currentYear = 2026)
      .select("City").collect().map(_.getString(0))
    assert(cities.exists(c => c != null && c.contains("\n")))
  }

  test("run() fails fast on a validation error and leaves outDir as it was") {
    val dirty = fixtureWith(_.replaceFirst(",GRP,", ",Papier-mache,"))
    val fresh = Files.createTempDirectory("boat_out").toString
    val e = intercept[Validate.ValidationException] {
      BoatPipeline.run(spark, dirty, fresh, currentYear = 2026)
    }
    assert(e.getMessage.contains("material_domain=1"), e.getMessage)
    assert(listing(fresh).isEmpty, listing(fresh))
    // the same error text as the aggregate gate
    val viaGate = intercept[Validate.ValidationException] {
      Validate.validateOrThrow(BoatPipeline.clean(Parse.load(spark, dirty), currentYear = 2026),
        Validate.boatChecks(2026))
    }
    assert(viaGate.getMessage == e.getMessage)

    // a failing run over a good run's outputs leaves them untouched
    val kept = Files.createTempDirectory("boat_out").toString
    BoatPipeline.run(spark, fixture, kept, currentYear = 2026)
    BoatPipeline.run(spark, fixture, kept, currentYear = 2026) // overwrites cleanly
    val before = listing(kept)
    assert(before.keys.exists(_.startsWith("data.parquet/")))
    assert(before.keys.exists(_.startsWith("data_summary.csv/")))
    intercept[Validate.ValidationException] {
      BoatPipeline.run(spark, dirty, kept, currentYear = 2026)
    }
    assert(listing(kept) == before)
  }

  test("no plausible Year Built: clean and run fail with a ValidationException") {
    val in = Files.createTempDirectory("boat_in").resolve("years.csv")
    Files.write(in, (Parse.header + "\n" +
      "EUR 3490,Sport Boat,Terhi,new boat from stock,0,4.0,1.5,GRP,Germany | Bremen,75\n" +
      "EUR 2500,Rowboat,Hanse,Used boat,,4.0,1.5,Wood,Germany | Bremen,20\n").getBytes(UTF_8))
    val viaClean = intercept[Validate.ValidationException] {
      BoatPipeline.clean(Parse.load(spark, in.toString), currentYear = 2026)
    }
    assert(viaClean.getMessage.contains("year floor"), viaClean.getMessage)
    val out = Files.createTempDirectory("boat_out").toString
    val viaRun = intercept[Validate.ValidationException] {
      BoatPipeline.run(spark, in.toString, out, currentYear = 2026)
    }
    assert(viaRun.getMessage == viaClean.getMessage)
    assert(listing(out).isEmpty, listing(out))
  }

  test("run() writes the summary under summaryDir when given") {
    val out = Files.createTempDirectory("boat_out").toString
    val sum = Files.createTempDirectory("boat_sum").toString
    BoatPipeline.run(spark, fixture, out, currentYear = 2026, summaryDir = Some(sum))
    assert(listing(out).keys.forall(_.startsWith("data.parquet/")))
    assert(spark.read.option("header", "true").csv(s"$sum/data_summary.csv").count() == 13)
  }
}
