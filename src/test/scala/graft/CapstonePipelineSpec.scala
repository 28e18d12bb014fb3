package graft

import java.time.LocalDate

import graft.pipeline._
import org.apache.spark.sql.functions._

class CapstonePipelineSpec extends SparkSpec {

  private lazy val imm = CapstoneFixtures.immigration(spark)
  private lazy val temp = CapstoneFixtures.temperature(spark)
  private lazy val demo = CapstoneFixtures.demographics(spark)
  private lazy val codes = CapstoneFixtures.countryCodes(spark)

  test("cleanImmigration drops sparse columns and all-null rows") {
    val cleaned = Clean.cleanImmigration(imm)
    assert(!cleaned.columns.contains("occup"))
    assert(!cleaned.columns.contains("entdepu"))
    assert(!cleaned.columns.contains("insnum"))
    assert(cleaned.columns.length === 25)
    assert(cleaned.count() === 5) // all-null row dropped
  }

  test("cleanTemperature drops null AverageTemperature and key-duplicates deterministically") {
    val cleaned = Clean.cleanTemperature(temp)
    assert(cleaned.count() === 4) // 6 - 1 null - 1 dup
    // deterministic keep: the duplicate pair keeps the lower uncertainty row
    val kabul = cleaned.filter(col("City") === "Kabul").collect()
    assert(kabul.length === 1)
    assert(kabul.head.getAs[Double]("AverageTemperatureUncertainty") === 0.2)
  }

  test("cleanDemographics drops required-null rows and dedups on the 4-col key") {
    val cleaned = Clean.cleanDemographics(demo)
    assert(cleaned.count() === 2) // 4 - 1 null-required - 1 dup
    assert(cleaned.filter(col("City") === "Gotham").count() === 0)
  }

  test("missingValueProfile counts NULLs (and NaNs on doubles) in one pass") {
    val profile = Clean.missingValueProfile(imm).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(profile("cicid") === 1)   // only the all-null row
    assert(profile("arrdate") === 2) // null fixture row + all-null row
    assert(profile("depdate") === 6) // always null
    assert(profile.size === 28)
  }

  test("visaTypeDim: distinct visatypes, dense deterministic keys") {
    val visa = StarSchema.visaTypeDim(Clean.cleanImmigration(imm)).collect()
      .map(r => r.getAs[String]("visatype") -> r.getAs[Long]("visa_type_key")).toMap
    assert(visa.keySet === Set("B1", "B2", "F1", "WT"))
    assert(visa.values.toSeq.sorted === Seq(1L, 2L, 3L, 4L))
    assert(visa("B1") === 1L) // ordered by visatype
  }

  test("calendarDim: epoch-zero maps to 1960-01-01, derivations match java.time") {
    val cal = StarSchema.calendarDim(Clean.cleanImmigration(imm))
    val rows = cal.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows.keySet === Set(0L, 20574L, 20575L)) // null arrdate excluded
    val d = rows(20574L)
    val expected = LocalDate.of(1960, 1, 1).plusDays(20574)
    assert(d.getAs[java.sql.Date]("arrdate").toLocalDate === expected)
    assert(d.getAs[Int]("arrival_day") === expected.getDayOfMonth)
    assert(d.getAs[Int]("arrival_month") === expected.getMonthValue)
    assert(d.getAs[Int]("arrival_year") === expected.getYear)
    // epoch-zero bug fixed: 0.0 -> 1960-01-01, not NULL (SURVEY §0.1.4)
    assert(rows(0L).getAs[java.sql.Date]("arrdate").toLocalDate === LocalDate.of(1960, 1, 1))
  }

  test("countryDim: mapped codes get names, case-normalized temperature join, unmapped stay null") {
    val dim = StarSchema.countryDim(Clean.cleanImmigration(imm), codes,
      Clean.cleanTemperature(temp)).collect()
      .map(r => r.getAs[Long]("country_code") ->
        (r.getAs[String]("country_name"), Option(r.getAs[java.lang.Double]("average_temperature")))).toMap
    assert(dim.keySet === Set(582L, 236L, 999L))
    assert(dim(582L)._1 === "Mexico")
    assert(dim(582L)._2.map(_.doubleValue) === Some(15.0)) // avg(10, 20)
    assert(dim(236L)._1 === "Afghanistan")
    assert(dim(236L)._2.map(_.doubleValue) === Some(5.0)) // dedup kept one 5.0 row
    assert(dim(999L)._1 === null) // unmapped code survives with null name
  }

  test("immigrationFact: renames, visa FK, SAS date conversion, visatype dropped") {
    val cleaned = Clean.cleanImmigration(imm)
    val visa = StarSchema.visaTypeDim(cleaned)
    val fact = StarSchema.immigrationFact(cleaned, visa)
    assert(fact.columns.contains("record_id"))
    assert(fact.columns.contains("country_residence_code"))
    assert(fact.columns.contains("state_code"))
    assert(fact.columns.contains("visa_type_key"))
    assert(!fact.columns.contains("visatype"))
    assert(fact.count() === 5)
    val r1 = fact.filter(col("record_id") === 1.0).head()
    assert(r1.getAs[java.sql.Date]("arrdate").toLocalDate ===
      LocalDate.of(1960, 1, 1).plusDays(20574))
    // FK round-trips to the dim
    val b2Key = visa.filter(col("visatype") === "B2").head().getAs[Long]("visa_type_key")
    assert(r1.getAs[Long]("visa_type_key") === b2Key)
    // null arrdate stays null (null-in -> null-out)
    assert(fact.filter(col("record_id") === 5.0).head().getAs[java.sql.Date]("arrdate") === null)
  }

  test("compat mode reproduces the reference's literal outputs") {
    // Compat.reference replays the two documented quirks:
    // etl_functions.py:24 (truthiness nulls epoch-zero dates) and
    // etl_functions.py:102-109 (case-sensitive country⋈temperature join)
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes, Compat.reference)

    // epoch-zero arrdate (cicid 4, arrdate=0.0) -> NULL, not 1960-01-01
    val fact4 = t.fact.filter(col("record_id") === 4.0).collect()
    assert(fact4.length === 1)
    assert(fact4.head.getAs[java.sql.Date]("arrdate") === null)
    assert(t.fact.filter(col("arrdate") === "1960-01-01").count() === 0)
    // and the calendar has no 1960-01-01 / id=0 row either
    assert(t.calendar.filter(col("id") === 0L).count() === 0)

    // UPPERCASE mapping names never match Title Case temperature
    // countries -> every average_temperature is NULL
    assert(t.country.filter(col("average_temperature").isNotNull).count() === 0)
    // while names themselves stay raw UPPERCASE
    val names = t.country.filter(col("country_name").isNotNull)
      .select("country_name").collect().map(_.getString(0)).toSet
    assert(names === Set("MEXICO", "AFGHANISTAN"))

    // default mode on the same inputs keeps the intended semantics
    val d = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    assert(d.fact.filter(col("arrdate") === "1960-01-01").count() === 1)
    assert(d.country.filter(col("average_temperature").isNotNull).count() > 0)
  }

  test("withObjectStore seam carries the s3a client + committer configuration") {
    val c = GraftSession.objectStoreConf
    assert(c("spark.hadoop.fs.s3a.impl") === "org.apache.hadoop.fs.s3a.S3AFileSystem")
    assert(c("spark.hadoop.fs.s3a.committer.name") === "magic")
    assert(c.contains("spark.sql.parquet.output.committer.class"))
    // applying the seam to a builder must not throw (jars absent here;
    // the classes only load when an s3a:// path is actually opened)
    import org.apache.spark.sql.SparkSession
    GraftSession.withObjectStore(SparkSession.builder())
  }

  test("quality checks: star schema passes; duplicate keys fail") {
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    val results = QualityChecks.checkAll(t.fact, t.visa, t.calendar, t.country, t.demographics)
    assert(results.forall(_.passed), results.filterNot(_.passed).mkString(", "))
    // the battery's shape: per table, non_empty then key_unique, in
    // star-schema order, both carrying the table's row count
    val keys = Seq("immigration_fact" -> "record_id", "visa_type_dim" -> "visa_type_key",
      "immigration_calendar_dim" -> "id", "country_dim" -> "country_code",
      "usa_demographics_dim" -> "id")
    assert(results.map(r => (r.table, r.check)) === keys.flatMap { case (t, k) =>
      Seq((t, "non_empty"), (t, s"key_unique($k)")) })
    assert(results.grouped(2).forall(p => p.head.count == p.last.count))
    assert(results.head.count === t.fact.count())
    // negative case: a frame with a duplicated key must fail
    val dup = t.visa.union(t.visa)
    assert(!QualityChecks.keyUnique(dup, "dup", Seq("visa_type_key")).passed)
    assert(!QualityChecks.nonEmpty(t.visa.limit(0), "empty").passed)
  }

  test("mergeMonthlyFact overwrites only the touched month partitions") {
    import TestSpark.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge_fact").toString
    def batch(rows: Seq[(Long, String)]) = rows
      .toDF("record_id", "d").select(col("record_id"), col("d").cast("date").as("arrdate"))
    // initial load: Jan + Feb
    CapstoneEtl.mergeMonthlyFact(spark,
      batch(Seq((1L, "2016-01-10"), (2L, "2016-02-05"), (3L, "2016-02-20"))), dir)
    // monthly refresh: corrected Feb (one row) — Jan must survive
    CapstoneEtl.mergeMonthlyFact(spark, batch(Seq((9L, "2016-02-15"))), dir)
    val out = spark.read.parquet(dir)
      .select(col("record_id"), col("arrival_month"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 1, 9L -> 2)) // Feb replaced, Jan intact
  }

  test("partitioned writes are file-bounded: files per leaf <= filesPerLeaf (r14)") {
    // the classic 100 TB ETL failure: an UNclustered partitionBy write
    // puts up to one file per (task x leaf) in every partition dir.
    // clusterForWrite repartitions on the partition columns first, so
    // a many-partition input must still land exactly filesPerLeaf
    // file(s) in each leaf — asserted here with a 16-partition input
    // spread across every leaf, the shape that explodes unclustered.
    import TestSpark.spark.implicits._
    def leafFiles(root: String): Seq[Int] = {
      def walk(d: java.io.File): Seq[java.io.File] = {
        val kids = Option(d.listFiles()).getOrElse(Array.empty).toSeq
        val dirs = kids.filter(_.isDirectory)
        if (dirs.isEmpty) Seq(d) else dirs.flatMap(walk)
      }
      walk(new java.io.File(root))
        .map(_.listFiles().count(_.getName.endsWith(".parquet")))
        .filter(_ > 0)
    }
    val rows = (1L to 400L)
      .map(i => (i, java.sql.Date.valueOf(f"2016-${(i % 6 + 1)}%02d-${(i % 27 + 1)}%02d")))
    val batch = rows.toDF("record_id", "arrdate").repartition(16)
    val dir = java.nio.file.Files.createTempDirectory("bounded_write").toString
    CapstoneEtl.mergeMonthlyFact(spark, batch, s"$dir/fact1")
    val f1 = leafFiles(s"$dir/fact1")
    assert(f1.size === 6 && f1.forall(_ === 1),
      s"filesPerLeaf=1 must write exactly one file per month dir: $f1")
    // the salt only SHOWS with AQE coalescing off: at fixture volume
    // AQE folds the clustered shuffle to one task (correct small-file
    // behavior — the ≤ filesPerLeaf bound holds either way); a real
    // tier's partitions are too big to coalesce, so disable it here to
    // observe the spread the salt buys at scale
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      CapstoneEtl.mergeMonthlyFact(spark, batch, s"$dir/fact3", filesPerLeaf = 3)
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    val f3 = leafFiles(s"$dir/fact3")
    assert(f3.forall(_ <= 3) && f3.exists(_ > 1),
      s"filesPerLeaf=3 must salt leaves into at most 3 files: $f3")
    // result content is unchanged by the clustering
    assert(spark.read.parquet(s"$dir/fact1").select("record_id")
      .collect().map(_.getLong(0)).sorted.toSeq === (1L to 400L))
  }

  test("end-to-end: CSV in, partitioned star-schema parquet out") {
    val dir = java.nio.file.Files.createTempDirectory("capstone_e2e").toString
    // write raw fixtures as the CSVs etl.py expects (S2-S4 readers)
    imm.coalesce(1).write.option("header", "true").csv(s"$dir/in/immigration.csv")
    temp.coalesce(1).write.option("header", "true").csv(s"$dir/in/temperatures.csv")
    demo.coalesce(1).write.option("header", "true").option("sep", ";").csv(s"$dir/in/demographics.csv")
    codes.coalesce(1).write.option("header", "true").csv(s"$dir/in/i94res.csv")

    val t = CapstoneEtl.buildStarSchema(
      CapstoneEtl.readImmigration(spark, s"$dir/in/immigration.csv"),
      CapstoneEtl.readTemperature(spark, s"$dir/in/temperatures.csv"),
      CapstoneEtl.readDemographics(spark, s"$dir/in/demographics.csv"),
      CapstoneEtl.readCountryCodes(spark, s"$dir/in/i94res.csv"))
    CapstoneEtl.writeStarSchema(t, s"$dir/out")

    val fact = spark.read.parquet(s"$dir/out/immigration_fact")
    assert(fact.count() === 5)
    val cal = spark.read.parquet(s"$dir/out/immigration_calendar_dim")
    assert(cal.count() === 3)
    // hive-partitioned layout exists (partition pruning for downstream readers)
    val yearDirs = new java.io.File(s"$dir/out/immigration_calendar_dim")
      .listFiles().filter(_.getName.startsWith("arrival_year="))
    assert(yearDirs.nonEmpty)
  }
}
