package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.pipeline.DailyPipeline.StageResult
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir>
  *
  * Prints one info line (inputs, engine config, per-unit times, failures)
  * and, last, the result line `{"correct","attempted","failed","metrics"}`.
  * With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
  * the per-layer ones.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path)

  /** One timed unit: its wall time, the listener window and the layer
    * numbers its checks produced. `failures` empty = the unit passed. */
  final case class UnitRec(seconds: Double, failures: Seq[String],
                           window: Recorder.Window, stages: Seq[StageResult],
                           layer: Map[String, Double])

  /** A workload: set-up, untimed restore, timed unit, output check and
    * the per-layer probes of the traced run. */
  trait Workload {
    /** Input generation, repeated; its wall time per repetition. */
    def generate(): Seq[Double]
    /** Everything else before the first timed unit (preload, warm-up);
      * returns the failed checks of what it ran. */
    def setup(): Seq[String]
    def restore(i: Int): Unit
    def unit(i: Int): Seq[StageResult]
    def check(i: Int, stages: Seq[StageResult], w: Recorder.Window): (Seq[String], Map[String, Double])
    /** Per-layer probes, run after the timed units of a traced run. */
    def probes(): (Map[String, Double], Seq[String])
    /** Output digests that must match across runs of the same seed. */
    def digests: Map[String, String]
    def inputsJson: String
  }

  /** `daily_merge` is not in BENCHMARK.json: it fails its merge check at
    * this commit (see perfbench/README.md, "Found at this commit"). */
  val Workloads: Seq[String] = Seq("daily_fresh", "corpus_curate", "daily_merge")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def now(): Long = System.currentTimeMillis()

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator()
      while (it.hasNext) Files.delete(it.next())
    }

  /** Process high-water RSS in MB (VmHWM). */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else scala.io.Source.fromFile(f.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Untimed hygiene between units, as in `graft.Bench`. */
  def cleanBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def jsonNum(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Graft.session("perfbench", master = s"local[$cores]",
      shufflePartitions = cores)
    try run(spark, args, jvmStart, cores)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Args, jvmStart: Long, cores: Int): Unit = {
    val rec = Recorder.install(spark)
    val wl: Workload = args.workload match {
      case "daily_fresh" => new Daily(spark, rec, args.work, args.seed, fresh = true)
      case "daily_merge" => new Daily(spark, rec, args.work, args.seed, fresh = false)
      case "corpus_curate" => new CorpusCurate(spark, rec, args.work, args.seed)
    }
    val genS = wl.generate()
    val setupFailures = wl.setup()

    val units = Seq.newBuilder[UnitRec]
    var i = 0
    var firstStart = 0L
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    while (i == 0 || System.nanoTime() < deadline) {
      wl.restore(i)
      cleanBlocks(spark)
      val t0 = now()
      if (i == 0) firstStart = t0
      val (res, sec) = timed(scala.util.Try(wl.unit(i)))
      val t1 = now()
      val w = rec.window(spark, t0, t1)
      val unitRec = res match {
        case scala.util.Success(stages) =>
          val (f, layer) = scala.util.Try(wl.check(i, stages, w))
            .fold(e => (Seq(s"check threw: $e"), Map.empty[String, Double]), identity)
          UnitRec(sec, f, w, stages, layer)
        case scala.util.Failure(e) =>
          UnitRec(sec, Seq(s"unit threw: $e"), w, Nil, Map.empty)
      }
      units += unitRec
      i += 1
    }
    val rss = peakRssMb()
    val us = units.result()
    val setupS = (firstStart - jvmStart) / 1000.0 - genS.sum + median(genS)
    val runS = median(us.map(_.seconds))
    val failed = us.count(_.failures.nonEmpty)

    val (layerMetrics, probeFailures, probeS) =
      if (!args.trace) (Map.empty[String, Double], Seq.empty[String], 0.0)
      else {
        val ((m, f), s) = timed(wl.probes())
        (m, f, s)
      }

    // the same seed must land the same outputs in every run (timed and
    // traced): the first run of a seed records its digests, later ones compare
    val digestFile = args.work.resolve(s"digests-seed${args.seed}.txt")
    val digestLines = wl.digests.toSeq.sorted.map { case (k, v) => s"$k=$v" }
    val digestFailures =
      if (Files.exists(digestFile)) {
        val prev = Files.readString(digestFile).split("\n").filter(_.nonEmpty).toSeq
        if (prev == digestLines) Nil
        else Seq(s"output digests differ from an earlier run of seed ${args.seed}: " +
          s"${prev.diff(digestLines).mkString(", ")} vs ${digestLines.diff(prev).mkString(", ")}")
      } else { Files.writeString(digestFile, digestLines.mkString("", "\n", "\n")); Nil }

    val failures = setupFailures.map("setup: " + _) ++ us.zipWithIndex.flatMap { case (u, k) => u.failures.map(f => s"unit $k: $f") } ++
      probeFailures.map("probe: " + _) ++ digestFailures
    val correct = failures.isEmpty

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("run_s", runS, "s"),
      ("write_amp", median(us.map(u =>
        (u.window.outputBytes + u.window.shuffleWrite).toDouble /
          math.max(1L, u.window.inputBytes))), "ratio"),
      ("peak_rss_mb", rss, "MB"))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) endToEnd
      else Layers.all(us, layerMetrics) ++ Seq(
        ("trace.run_s", runS, "s"), ("trace.probe_s", probeS, "s"))

    val conf = spark.conf
    val info = Seq(
      "workload" -> jsonStr(args.workload), "seed" -> args.seed.toString,
      "trace" -> (if (args.trace) "1" else "0"),
      "samples" -> us.size.toString,
      "unit_s" -> us.map(u => jsonNum(u.seconds)).mkString("[", ",", "]"),
      "failed_ratio" -> jsonNum(failed.toDouble / us.size),
      "failures" -> failures.map(jsonStr).mkString("[", ",", "]"),
      "jobs_by_layer" -> us.flatMap(_.window.jobsByLayer.keys).distinct.sorted.map { l =>
        s"${jsonStr(l)}:${jsonNum(median(us.map(_.window.jobsByLayer.getOrElse(l, 0).toDouble)))}"
      }.mkString("{", ",", "}"),
      "config" -> Seq(
        "spark_version" -> jsonStr(spark.version),
        "ansi" -> jsonStr(conf.get("spark.sql.ansi.enabled")),
        "auto_broadcast_join_threshold" -> jsonStr(conf.get("spark.sql.autoBroadcastJoinThreshold")),
        "cores" -> cores.toString,
        "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "master" -> jsonStr(spark.sparkContext.master)
      ).map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}"),
      "digests" -> wl.digests.toSeq.sorted.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
        .mkString("{", ",", "}"),
      "inputs" -> wl.inputsJson,
      "all_metrics" -> (endToEnd ++ (if (args.trace) metrics else Nil))
        .map { case (k, v, _) => s"${jsonStr(k)}:${jsonNum(v)}" }.mkString("{", ",", "}")
    ).map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    val infoLine = s"""{"perfbench":$info}"""
    Files.writeString(args.work.resolve(
      s"result-${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"),
      infoLine + "\n")

    val metricJson = metrics.map { case (k, v, u) =>
      s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)}}"
    }.mkString("{", ",", "}")
    println(infoLine)
    println(s"""{"correct":$correct,"attempted":${us.size},"failed":$failed,"metrics":$metricJson}""")
  }
}
