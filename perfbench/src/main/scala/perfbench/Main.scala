package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.GraftSession
import graft.operators.ScaledWindows
import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark and prints its result as the last
  * line of standard output.
  *
  * A run sets up several times (session start, input synthesis, table
  * load) and reports the median; runs one untimed warm-up pass that
  * also checks every operation's output; then runs timed passes, one
  * driver thread issuing one operation at a time, until `--seconds`
  * have passed. With `--trace 1` it alternates untraced and traced
  * passes and reports the per-layer metrics of the median traced pass.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --home <the benchmark's directory>
  * Scratch data goes to `<home>/.work/<workload>`.
  */
object Main {
  val SetupReps = 5

  final case class PassResult(wallS: Double, opWalls: Seq[(String, Double)],
      phases: Map[String, Double], cpuS: Double, peakMib: Double, gcS: Double,
      failed: Int, layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.byName(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val home = new File(need("home")).getAbsolutePath
    val work = s"$home/.work/${workload.name}"
    val cpus = Runtime.getRuntime.availableProcessors()

    // set-up: session start + input synthesis + table load, several times
    var spark: SparkSession = null
    var inputs = Map.empty[String, Long]
    val setupS = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      Files.delete(new File(work))
      new File(work).mkdirs()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus)
      inputs = workload.setUp(spark, home, work, seed)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val host = hostRecord(spark, workload, seed, seconds, trace, inputs)
    NioFiles.write(Paths.get(work, "host.json"), host.getBytes(StandardCharsets.UTF_8))
    println(s"host $host")
    System.err.println(f"[perfbench] set-up done: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")

    val meter = new StageMeter
    sc.addSparkListener(meter)
    val tracer = new Tracer
    val csvOnDisk = workload.csvOnDisk(inputs)
    val ops = workload.ops(home, work, seed)

    /** Every operation starts from an empty cache, tagged with its name. */
    def startOp(op: Op): Unit = {
      ScaledWindows.release()
      spark.catalog.clearCache()
      sc.setLocalProperty(Props.Op, op.name)
    }

    def pass(traced: Boolean): PassResult = {
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      Tracer.drain(spark); meter.take(); tracer.reset()
      val gc0 = gcSeconds()
      val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def span(phase: String, body: => Unit): Unit = {
        sc.setLocalProperty(Props.Phase, phase)
        val s = System.nanoTime()
        try body finally {
          phases(phase) += (System.nanoTime() - s) / 1e9
          sc.setLocalProperty(Props.Phase, null)
        }
      }
      var failed = 0
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val walls = ops.map { op =>
        startOp(op)
        val s = System.nanoTime()
        try op.run(spark, span)
        catch { case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] ${op.name} failed: $e")
        }
        sc.setLocalProperty(Props.Op, null)
        op.name -> (System.nanoTime() - s) / 1e9
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      Tracer.drain(spark)
      val (cpu, peak) = meter.take()
      val layers = if (traced) tracer.summarize(startMs, endMs, csvOnDisk) else Map.empty[String, Double]
      if (traced) { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
      PassResult(wall, walls, phases.toMap, cpu, peak, gcSeconds() - gc0, failed, layers)
    }

    // untimed warm-up pass, which also checks every operation's output
    val checked = mutable.Map.empty[String, Double]
    val wrong = ops.map { op =>
      startOp(op)
      try op.warmUp(spark, (k, v) => checked(k) = v)
      catch { case NonFatal(e) => Seq(s"${op.name}: warm-up threw $e") }
      finally sc.setLocalProperty(Props.Op, null)
    }
    wrong.flatten.foreach(m => System.err.println(s"[perfbench] WRONG $m"))
    val wrongOps = wrong.count(_.nonEmpty)
    System.err.println("[perfbench] warm-up done")

    // timed passes until the deadline; a pass in flight runs to its end
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    var i = 0
    while (untraced.isEmpty || (trace && traced.isEmpty) || elapsed < seconds) {
      val p = pass(traced = trace && i % 2 == 1)
      if (trace && i % 2 == 1) traced += p else untraced += p
      System.err.println(f"[perfbench] pass $i${if (trace && i % 2 == 1) " traced" else ""}: ${p.wallS}%.3f s cpu ${p.cpuS}%.3f s " +
        p.opWalls.map { case (o, w) => f"$o=$w%.3f" }.mkString(" "))
      i += 1
    }
    spark.stop()

    val passes = untraced ++ traced
    val attempted = ops.size + passes.map(_.opWalls.size).sum
    val failed = wrongOps + passes.map(_.failed).sum
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("cpu_s", median(untraced.map(_.cpuS)), "s"),
        ("peak_exec_mib", median(untraced.map(_.peakMib)), "MiB"),
        ("setup_s", median(setupS), "s"))
      else {
        val p = traced.sortBy(_.wallS).apply((traced.size - 1) / 2)
        val values = mutable.LinkedHashMap.empty[String, Double]
        PerLayer.names.foreach(n => values(n) = 0.0)
        values ++= p.layers
        values ++= checked
        p.opWalls.foreach { case (op, w) => values(s"op.$op.wall_s") = w }
        p.phases.foreach { case (ph, s) => values(s"etl.${ph}_s") = s }
        values("jvm.gc_s") = p.gcS
        values("wall.total_s") = median(untraced.map(_.wallS))
        values("wall.geomean_op_s") = median(untraced.map(p => geomean(p.opWalls.map(_._2))))
        values("trace.overhead") = median(traced.map(_.wallS)) / values("wall.total_s")
        values.toSeq.filter(kv => PerLayer.names.contains(kv._1))
          .map { case (k, v) => (k, v, PerLayer.unit(k)) }
      }
    val metricJson = metrics.map { case (k, v, u) => k -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }
    println(Json.obj("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metricJson: _*))))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def hostRecord(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
      trace: Boolean, inputs: Map[String, Long]): String = {
    val load = try new String(NioFiles.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(" ") catch { case NonFatal(_) => "unknown" }
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.memory") ||
        k == "spark.local.dir" }
    Json.obj(
      "workload" -> w.name, "seed" -> seed, "run_seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "loadavg" -> load,
      "heap_max_mib" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "workload_params" -> (w match {
        case q: QueryWorkload => Map("sf" -> q.sf, "buyers" -> q.buyers.toDouble)
        case e: EtlWorkload => Map("scale" -> e.scale)
        case _ => Map.empty[String, Double]
      }),
      "input_bytes" -> inputs, "session_conf" -> confs)
  }
}

/** The per-layer metrics a traced run reports, every one on every
  * workload (0 where a workload has no such work), with their units. */
object PerLayer {
  val layerNames: Seq[String] = Seq(
    "driver.gap_s", "driver.plan_s", "driver.jobs", "driver.stages", "driver.tasks",
    "scan.parquet_mib", "scan.csv_mib", "scan.csv_amplification", "scan.rows", "scan.time_s",
    "exchange.write_mib", "exchange.records", "exchange.fetch_wait_s", "exchange.spill_mib",
    "kernel.generate_rows",
    "join.rows_out", "join.broadcast_build_s", "agg.time_s", "agg.rows_out", "window.rows",
    "sort.time_s", "sort.spill_mib",
    "etl.build_s", "etl.write_s", "etl.qc_s", "write.files", "write.mib", "qc.csv_mib",
    "clean.temp_null_dropped", "clean.temp_dup_dropped", "clean.demo_dropped") ++
    EtlSynth.starTables.map(t => s"star.$t.rows") ++
    (Tracer.Precedence :+ "other").map(l => s"$l.task_s") ++
    Seq("tasks.total_s", "layers.coverage", "trace.overhead", "jvm.gc_s",
      "wall.total_s", "wall.geomean_op_s")

  val opNames: Seq[String] = "etl_capstone" +: Workloads.pairQueries

  val names: Seq[String] = layerNames ++ opNames.flatMap(o => Seq(s"op.$o.wall_s", s"op.$o.jobs"))

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("mib")) "MiB"
    else if (Set("scan.csv_amplification", "layers.coverage", "trace.overhead")(name)) "ratio"
    else "count"
}
