package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, Paths}

import scala.util.Random

import graft.{QueryDef, SparkEntry, Tables}
import graft.pipeline.{CapstoneEtl, QualityChecks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation. `run` is what a pass times; `warmUp` runs it
  * once, untimed, and returns the mismatches it finds in its output. */
trait Op {
  def name: String
  def run(spark: SparkSession, span: (String, => Unit) => Unit): Unit
  def warmUp(spark: SparkSession, report: (String, Double) => Unit): Seq[String]
}

/** A workload: inputs synthesized at set-up, and the operations one pass
  * runs, in an order drawn from the seed. */
trait Workload {
  def name: String
  /** Make this run's inputs, under `work` if they are generated, and
    * load them; returns their sizes by name. `home` is the benchmark's
    * directory. */
  def setUp(spark: SparkSession, home: String, work: String, seed: Long): Map[String, Long]
  def ops(home: String, work: String, seed: Long): Seq[Op]
  /** Bytes of CSV the pass reads from disk once (0 if it reads none). */
  def csvOnDisk(inputs: Map[String, Long]): Long = 0L
}

object Workloads {
  /** The pair-kernel queries of `pair_similarity`, in their unshuffled order. */
  val pairQueries: Seq[String] = Seq("q204_item_neighbors", "q322_dimsum_similarity",
    "q326_hybrid_neighbors", "q302_recsys_backtest", "q217_hard_negatives")

  val all: Seq[Workload] = Seq(
    EtlWorkload(scale = 1.0 / 120),
    QueryWorkload("pair_similarity", pairQueries, sf = 0.01, buyers = 3))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  /** Order-insensitive fingerprint of a result: its row count and the
    * sum of a 64-bit hash over all columns of every row. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** Read-only queries from `SparkEntry.allDefs` over a corpus derived
  * from the engine's reference corpus at scale factor `sf`, whose part,
  * orders and lineitem tables are committed under `corpus/sf<sf>`
  * (byte-identical copies).
  *
  * The derivation is the fixed-catalog replication of `graft.ScaleProbe`'s
  * `dimsum` tier: every order, with its line items, is copied `buyers`
  * times under new order and customer keys, and part keys are kept. Every item's buyer count is then exactly `buyers` times the
  * reference's, and basket sizes are unchanged. At the reference degrees
  * (at most 49) DIMSUM's p = min(1, 50/sqrt(ni*nj)) is 1 for every pair,
  * so q322 and q326 would return q204's rows; deeper degrees make them
  * sample. The seed shuffles the query order; the inputs are the same for
  * every seed. */
final case class QueryWorkload(name: String, queries: Seq[String], sf: Double,
    buyers: Int) extends Workload {
  private lazy val defs: Map[String, QueryDef] =
    SparkEntry.allDefs.filter(d => queries.contains(d.name)).map(d => d.name -> d).toMap

  /** Key of the derived corpus in the committed fingerprints. */
  def corpusKey: String = s"sf${sf}_buyers$buyers"
  def corpusDir(work: String): String = s"$work/corpus"

  def setUp(spark: SparkSession, home: String, work: String, seed: Long): Map[String, Long] = {
    val ref = s"$home/corpus/sf$sf"
    val out = corpusDir(work)
    def replicate(df: DataFrame, keys: String*): DataFrame =
      keys.foldLeft(df.withColumn("r", explode(sequence(lit(0), lit(buyers - 1))))) { (d, k) =>
        d.withColumn(k, col(k) * buyers + col("r"))
      }.drop("r")
    Tables.part(spark, ref).write.parquet(s"$out/part.parquet")
    replicate(Tables.orders(spark, ref), "o_orderkey", "o_custkey").write.parquet(s"$out/orders.parquet")
    replicate(Tables.lineitem(spark, ref), "l_orderkey").write.parquet(s"$out/lineitem.parquet")
    // load: open every table once, as a session that serves queries would
    val tables = Seq("part", "orders", "lineitem")
    tables.foreach(t => Tables.load(spark, out, t).schema)
    tables.map(t => t -> Files.size(new File(s"$out/$t.parquet"))).toMap
  }

  def ops(home: String, work: String, seed: Long): Seq[Op] = {
    val missing = queries.filterNot(defs.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.allDefs: ${missing.mkString(", ")}")
    new Random(seed).shuffle(queries)
      .map(q => QueryOp(defs(q), corpusDir(work), Expected.of(home, corpusKey, q)))
  }
}

/** The result fingerprints committed with the benchmark in
  * `expected/fingerprints.json`, keyed by corpus and query. */
object Expected {
  val RelPath = "expected/fingerprints.json"

  def of(home: String, corpus: String, query: String): Option[(Long, String)] = {
    val root = Json.parse(new String(NioFiles.readAllBytes(Paths.get(home, RelPath)),
      StandardCharsets.UTF_8))
    Option(root.get(corpus)).flatMap(t => Option(t.get(query)))
      .map(n => (n.get("rows").asLong(), n.get("hash").asText()))
  }
}

final case class QueryOp(d: QueryDef, corpus: String, expected: Option[(Long, String)])
    extends Op {
  def name: String = d.name

  def run(spark: SparkSession, span: (String, => Unit) => Unit): Unit =
    d.build(spark, corpus).write.format("noop").mode("overwrite").save()

  /** Evaluates the query once, through an order-insensitive fingerprint
    * of its result, and compares that with the committed one. */
  def warmUp(spark: SparkSession, report: (String, Double) => Unit): Seq[String] = {
    val got = Workloads.fingerprint(d.build(spark, corpus))
    if (expected.contains(got)) Nil
    else Seq(s"$name: fingerprint rows=${got._1} hash=${got._2}, expected " +
      expected.fold(s"none in ${Expected.RelPath}") { case (r, h) => s"rows=$r hash=$h" })
  }
}

/** The paper's own workload: raw CSVs → cleaned star schema → parquet,
  * then the QC battery, through the engine's public pipeline calls. */
final case class EtlWorkload(scale: Double) extends Workload {
  val name = "etl_capstone"
  private var manifest: EtlSynth.Manifest = _

  def setUp(spark: SparkSession, home: String, work: String, seed: Long): Map[String, Long] = {
    manifest = EtlSynth.write(s"$work/input", seed, scale)
    manifest.inputBytes
  }

  override def csvOnDisk(inputs: Map[String, Long]): Long = inputs.values.sum

  def ops(home: String, work: String, seed: Long): Seq[Op] = Seq(EtlOp(work, manifest))
}

final case class EtlOp(dir: String, manifest: EtlSynth.Manifest) extends Op {
  val name = "etl_capstone"
  private def in(f: String) = s"$dir/input/$f"
  private val out = s"$dir/star"

  def run(spark: SparkSession, span: (String, => Unit) => Unit): Unit = {
    var tables: CapstoneEtl.StarSchemaTables = null
    span("build", {
      tables = CapstoneEtl.buildStarSchema(
        CapstoneEtl.readImmigration(spark, in("immigration.csv")),
        CapstoneEtl.readTemperature(spark, in("temperatures.csv")),
        CapstoneEtl.readDemographics(spark, in("demographics.csv")),
        CapstoneEtl.readCountryCodes(spark, in("i94res.csv")))
    })
    span("write", CapstoneEtl.writeStarSchema(tables, out))
    span("qc", {
      val qc = QualityChecks.checkAll(tables.fact, tables.visa, tables.calendar,
        tables.country, tables.demographics)
      val failed = qc.filterNot(_.passed)
      if (failed.nonEmpty) throw new IllegalStateException(
        "QC failed: " + failed.map(r => s"${r.table} ${r.check}").mkString(", "))
    })
  }

  /** Runs the ETL, then reads the written parquet back and compares it,
    * and the cleaning rules' drops, with what the synthesizer put in. */
  def warmUp(spark: SparkSession, report: (String, Double) => Unit): Seq[String] = {
    run(spark, (_, body) => body)
    val written = manifest.tables.map { case (t, expected) =>
      val n = spark.read.parquet(s"$out/$t").count()
      report(s"star.$t.rows", n.toDouble)
      if (n != expected) Some(s"$t: $n rows written, expected $expected") else None
    }
    val temp = CapstoneEtl.readTemperature(spark, in("temperatures.csv"))
    val tempRows = temp.count()
    val tempNonNull = temp.na.drop(Seq("AverageTemperature")).count()
    val tempClean = graft.pipeline.Clean.cleanTemperature(temp).count()
    val demo = CapstoneEtl.readDemographics(spark, in("demographics.csv"))
    val demoDropped = demo.count() - graft.pipeline.Clean.cleanDemographics(demo).count()
    val drops = Seq(
      ("clean.temp_null_dropped", tempRows - tempNonNull, manifest.tempNullDropped),
      ("clean.temp_dup_dropped", tempNonNull - tempClean, manifest.tempDupDropped),
      ("clean.demo_dropped", demoDropped, manifest.demoDropped))
    drops.foreach { case (k, got, _) => report(k, got.toDouble) }
    written.flatten.toSeq ++ drops.collect {
      case (k, got, want) if got != want => s"$k: $got, expected $want"
    }
  }
}

object Files {
  /** Bytes under a file or directory. */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
