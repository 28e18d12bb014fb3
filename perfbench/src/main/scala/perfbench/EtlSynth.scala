package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded synthesizer of the capstone ETL's raw inputs, shaped like the
  * reference files: the 28-column I94 immigration CSV, the global land
  * temperature CSV, the `;`-separated US demographics CSV and the
  * `i94res` country-code mapping.
  *
  * `scale` is the share of the reference cardinalities in BASELINE.md
  * (3,096,313 immigration rows, 8,599,212 temperature rows). Null and
  * duplicate rates are the reference's: 364,130 null temperatures and
  * 44,299 duplicate `(dt, City, Country)` keys per 8,599,212 rows, and
  * 16 bad rows among the 2,891 demographics rows, which are kept at
  * full size at every scale.
  *
  * The output is a pure function of `(seed, scale)`: the same
  * arguments write the same bytes. The synthesizer knows what the ETL
  * must produce from its own draws, and returns that as a [[Manifest]]:
  * the rows each cleaning rule drops and the row count of each
  * star-schema table.
  */
object EtlSynth {
  val RefImmigration = 3096313L
  val RefTemperature = 8599212L
  val RefTempNull = 364130L
  val RefTempDup = 44299L
  val DemographicsRows = 2891
  val DemographicsBad = 16

  final case class Manifest(
      seed: Long, scale: Double,
      immigrationRows: Long, temperatureRows: Long,
      tempNullDropped: Long, tempDupDropped: Long,
      demographicsRows: Long, demoDropped: Long,
      tables: Map[String, Long], inputBytes: Map[String, Long]) {
    def toJson: String = Json.obj(
      "seed" -> seed, "scale" -> scale,
      "immigration_rows" -> immigrationRows, "temperature_rows" -> temperatureRows,
      "clean.temp_null_dropped" -> tempNullDropped, "clean.temp_dup_dropped" -> tempDupDropped,
      "demographics_rows" -> demographicsRows, "clean.demo_dropped" -> demoDropped,
      "tables" -> tables, "input_bytes" -> inputBytes)
  }

  val starTables: Seq[String] = Seq("immigration_fact", "visa_type_dim",
    "immigration_calendar_dim", "country_dim", "usa_demographics_dim")

  val files: Seq[String] =
    Seq("immigration.csv", "temperatures.csv", "demographics.csv", "i94res.csv")

  private val syllables = Seq("ka", "lo", "mi", "ran", "te", "vo", "su", "bel",
    "dor", "na", "ri", "zan", "pe", "gu", "shi", "tor")
  private val endings = Seq("ia", "a", "land", "istan", "o")

  /** Title Case country names, fixed for every seed; one in seven has
    * two words, so the pipeline's case-normalized join sees word
    * boundaries. */
  private val countries: IndexedSeq[String] = (0 until 180).map { i =>
    val w = syllables(i % 16) + syllables(i / 16 % 16) + endings(i % 5)
    val name = w.head.toUpper + w.tail
    if (i % 7 == 0) s"North $name" else name
  }
  /** i94res codes 100.. map to the countries, then to 40 names the
    * temperature file never mentions (no average temperature); codes
    * past the mapping exist only in immigration rows (no country name). */
  private val mappedCodes = countries.size + 40
  private val drawnCodes = mappedCodes + 10
  private val visaTypes = Seq("B2", "WT", "B1", "WB", "F1", "E2", "F2", "M1",
    "I", "E1", "CP", "SBP", "M2", "GMT", "I1", "CPL", "GMB")
  private val ports = (0 until 300).map(i =>
    s"${('A' + i % 26).toChar}${('A' + i / 26 % 26).toChar}${('A' + i * 7 % 26).toChar}")
  private val states = Seq("NY", "CA", "FL", "TX", "NJ", "IL", "MA", "WA", "GA", "NV",
    "HI", "PA", "VA", "MI", "AZ", "CO", "NC", "OH", "MD", "OR")
  private val races = Seq("White", "Hispanic or Latino", "Asian",
    "Black or African-American", "American Indian and Alaska Native")

  def write(dir: String, seed: Long, scale: Double): Manifest = {
    new File(dir).mkdirs()
    val rnd = new SplittableRandom(seed * 1000003L + java.lang.Double.hashCode(scale))
    val nImm = math.max(1L, math.round(RefImmigration * scale))
    val nTemp = math.max(1L, math.round(RefTemperature * scale))
    val nNull = math.round(nTemp * RefTempNull.toDouble / RefTemperature)
    val nDup = math.round(nTemp * RefTempDup.toDouble / RefTemperature)

    writeFile(s"$dir/i94res.csv") { w =>
      w.write("code,Name\n")
      for (i <- 0 until mappedCodes) {
        val name = if (i < countries.size) countries(i) else s"Invalid: ${syllables(i % 16)}${i}"
        w.write(s"${100 + i},${name.toUpperCase}\n")
      }
    }

    // immigration: one row per admission, April 2016 arrivals
    val visaSeen = mutable.Set.empty[String]
    val dateSeen = mutable.Set.empty[Long]
    val resSeen = mutable.Set.empty[Long]
    writeFile(s"$dir/immigration.csv") { w =>
      w.write("cicid,i94yr,i94mon,i94cit,i94res,i94port,arrdate,i94mode,i94addr," +
        "depdate,i94bir,i94visa,count,dtadfile,visapost,occup,entdepa,entdepd," +
        "entdepu,matflag,biryear,dtaddto,gender,insnum,airline,admnum,fltno,visatype\n")
      val sb = new java.lang.StringBuilder(256)
      var r = 0L
      while (r < nImm) {
        sb.setLength(0)
        // skewed residence: a few countries send most visitors
        val res = 100L + (drawnCodes * math.pow(rnd.nextDouble(), 2.0)).toLong
        val cit = if (rnd.nextInt(10) == 0) 100L + rnd.nextInt(drawnCodes) else res
        val arr = 20545L + rnd.nextInt(30)
        val age = 1 + rnd.nextInt(90)
        val visa = visaTypes((visaTypes.size * math.pow(rnd.nextDouble(), 3.0)).toInt)
        resSeen += res; dateSeen += arr; visaSeen += visa
        def f(s: String): Unit = { sb.append(s); sb.append(',') }
        def maybe(p: Int, s: => String): Unit = f(if (rnd.nextInt(100) < p) "" else s)
        f(s"${r + 1}.0"); f("2016.0"); f("4.0"); f(s"$cit.0"); f(s"$res.0")
        f(ports(rnd.nextInt(ports.size))); f(s"$arr.0")
        f(Seq("1.0", "1.0", "1.0", "2.0", "3.0", "9.0")(rnd.nextInt(6)))
        maybe(5, states(rnd.nextInt(states.size)))
        maybe(5, s"${arr + rnd.nextInt(60)}.0")
        f(s"$age.0"); f(s"${1 + rnd.nextInt(3)}.0"); f("1.0"); f("20160430")
        maybe(60, ports(rnd.nextInt(ports.size)))
        maybe(99, "STU")
        f(Seq("G", "T", "O", "A")(rnd.nextInt(4)))
        maybe(5, Seq("O", "D", "K", "R")(rnd.nextInt(4)))
        maybe(99, "U")
        maybe(5, "M")
        f(s"${2016 - age}.0")
        f(f"${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(28)}%02d2016")
        maybe(13, if (rnd.nextBoolean()) "M" else "F")
        maybe(96, s"${rnd.nextInt(10000)}")
        maybe(3, s"${('A' + rnd.nextInt(26)).toChar}${('A' + rnd.nextInt(26)).toChar}")
        f(s"${55000000000L + rnd.nextLong(1000000000L)}.0")
        maybe(1, f"${rnd.nextInt(10000)}%05d")
        sb.append(visa).append('\n')
        w.write(sb.toString)
        r += 1
      }
    }

    // temperature: monthly readings per city; the keys with a null
    // reading and the keys that appear twice are drawn without repeats
    val nKeys = nTemp - nDup
    val cities = math.max(1L, math.min(1000L, nKeys / 12))
    val nullKeys = sampleDistinct(rnd, nKeys, nNull, Set.empty)
    val dupKeys = sampleDistinct(rnd, nKeys, nDup, nullKeys)
    writeFile(s"$dir/temperatures.csv") { w =>
      w.write("dt,AverageTemperature,AverageTemperatureUncertainty,City,Country,Latitude,Longitude\n")
      val sb = new java.lang.StringBuilder(128)
      def row(k: Long, isNull: Boolean): Unit = {
        val city = k % cities
        val month = k / cities
        val country = countries((city % countries.size).toInt)
        sb.setLength(0)
        sb.append(1743 + (10 + month) / 12).append('-')
        sb.append(f"${(10 + month) % 12 + 1}%02d").append("-01,")
        if (!isNull) sb.append(milli(rnd.nextInt(60000) - 20000))
        sb.append(',').append(milli(50 + rnd.nextInt(5000))).append(',')
        sb.append(s"City ${syllables((city % 16).toInt)}${city},").append(country).append(',')
        sb.append(milli(city * 7919 % 70000 + 1000)).append("N,")
        sb.append(milli(city * 104729 % 170000 + 1000)).append("E\n")
        w.write(sb.toString)
      }
      var k = 0L
      while (k < nKeys) {
        row(k, nullKeys.contains(k))
        // a duplicate follows its key closely, as in the reference file
        if (dupKeys.contains(k)) row(k, isNull = false)
        k += 1
      }
    }

    // demographics: (city, race) combinations, unique on the dedup key
    val badRows = sampleDistinct(rnd, DemographicsRows, DemographicsBad, Set.empty)
    writeFile(s"$dir/demographics.csv") { w =>
      w.write("City;State;Median Age;Male Population;Female Population;Total Population;" +
        "Number of Veterans;Foreign-born;Average Household Size;State Code;Race;Count\n")
      for (i <- 0 until DemographicsRows) {
        val city = i / races.size
        val male = 20000 + rnd.nextInt(400000)
        val female = 20000 + rnd.nextInt(400000)
        val cols = Array(s"Town $city", s"State ${city % 50}", milli(20000 + rnd.nextInt(25000)),
          s"$male", s"$female", s"${male + female}", s"${rnd.nextInt(20000)}",
          s"${rnd.nextInt(100000)}", milli(1500 + rnd.nextInt(2500)), states(city % states.size),
          races(i % races.size), s"${rnd.nextInt(100000)}")
        if (badRows.contains(i.toLong)) cols(3 + rnd.nextInt(6) match {
          case 5 => 8 // Total Population is not a required column
          case c => c
        }) = ""
        w.write(cols.mkString(";") + "\n")
      }
    }

    val manifest = Manifest(seed, scale, nImm, nTemp, nNull, nDup, DemographicsRows, DemographicsBad,
      tables = Map(
        "immigration_fact" -> nImm,
        "visa_type_dim" -> visaSeen.size.toLong,
        "immigration_calendar_dim" -> dateSeen.size.toLong,
        "country_dim" -> resSeen.size.toLong,
        "usa_demographics_dim" -> (DemographicsRows - DemographicsBad).toLong),
      inputBytes = files.map(f => f -> new File(s"$dir/$f").length()).toMap)
    writeFile(s"$dir/manifest.json")(_.write(manifest.toJson + "\n"))
    manifest
  }

  /** Decimal text of `v / 1000`, e.g. 12.345, -0.5 → "-0.500". */
  private def milli(v: Long): String =
    java.math.BigDecimal.valueOf(v, 3).toPlainString

  /** `k` distinct values in [0, n) that avoid `exclude`, in draw order. */
  private def sampleDistinct(rnd: SplittableRandom, n: Long, k: Long,
      exclude: collection.Set[Long]): collection.Set[Long] = {
    require(k <= n - exclude.size, s"cannot draw $k of $n values")
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < k) {
      val v = rnd.nextLong(n)
      if (!exclude.contains(v)) out += v
    }
    out
  }

  private def writeFile(path: String)(body: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try body(w) finally w.close()
  }
}
