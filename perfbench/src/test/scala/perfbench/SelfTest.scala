package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: generator determinism, the output checks
  * catching planted faults, and the layer attribution summing to the
  * totals. Run with `python3 perfbench/run.py --self-test`; exits non-zero
  * on the first failed assertion.
  */
object SelfTest {

  private var passed = 0
  private def ok(name: String)(cond: => Boolean, detail: => String = ""): Unit = {
    if (!cond) throw new AssertionError(s"FAILED: $name ${detail}")
    passed += 1
    println(s"ok - $name")
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(work)
    generators(work)
    benchmarkJson()
    val spark = graft.Graft.session("perfbench-selftest", master = "local[2]",
      shufflePartitions = 2)
    try {
      dailyChecks(spark, work.resolve("daily"))
      freshChecks(spark, work.resolve("fresh"))
    } finally spark.stop()
    println(s"$passed checks passed")
  }

  private def generators(work: Path): Unit = {
    val p = LakeGen.Params(seed = 7, tickers = 6, historyRows = 300, holdingsRows = 4)
    val a = LakeGen.generate(work.resolve("a"), p)
    val b = LakeGen.generate(work.resolve("b"), p)
    val c = LakeGen.generate(work.resolve("c"), p.copy(seed = 8))
    ok("lake generator: same seed, same files and manifest")(
      Digest.ofTree(work.resolve("a")) == Digest.ofTree(work.resolve("b")) && a.digest == b.digest)
    ok("lake generator: another seed, other files")(
      Digest.ofTree(work.resolve("a")) != Digest.ofTree(work.resolve("c")) && a.digest != c.digest)
    def dates(day: Int) = Files.walk(work.resolve(s"a/day$day")).iterator().asScala
      .filter(_.getFileName.toString.endsWith("_history.csv"))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1).map(_.takeWhile(_ != ',')))
      .toSeq
    ok("lake generator: every history date is a real weekday")(
      dates(1).size == 6 * 300 && (dates(1) ++ dates(2)).forall { d =>
        val ld = java.time.LocalDate.parse(d)
        ld.getDayOfWeek.getValue <= 5
      })
    val m = a
    ok("lake manifest: day 2 plants updates and inserts in history")(
      m.outcome("stg_price_history").updated > 0 && m.outcome("stg_price_history").inserted > 0)

    val cp = CorpusGen.Params(seed = 7, docs = 400)
    val (d1, pl) = CorpusGen.generate(cp)
    val (d2, _) = CorpusGen.generate(cp)
    val (d3, _) = CorpusGen.generate(cp.copy(seed = 8))
    ok("corpus generator: same seed, same docs")(d1 == d2)
    ok("corpus generator: another seed, other docs")(d1 != d3)
    ok("corpus generator: plants exact, near and short docs")(
      pl.exact > 0 && pl.near > 0 && pl.short > 0 &&
        d1.map(_.text).distinct.size < d1.size)
  }

  /** BENCHMARK.json names exactly the metrics this code prints. */
  private def benchmarkJson(): Unit = {
    val f = Paths.get("BENCHMARK.json")
    if (Files.exists(f)) {
      val txt = Files.readString(f)
      val perLayer = txt.substring(txt.indexOf("\"per_layer\""))
      val names = "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(perLayer).map(_.group(1)).toSeq
      ok("BENCHMARK.json per_layer matches the traced run's metrics")(
        names == Layers.Names.map(_._1) ++ Seq("trace.run_s", "trace.probe_s"),
        s"${names.diff(Layers.Names.map(_._1))} / ${Layers.Names.map(_._1).diff(names)}")
    }
  }

  private def dailyChecks(spark: SparkSession, work: Path): Unit = {
    val rec = Recorder.install(spark)
    val p = LakeGen.Params(seed = 11, tickers = 6, historyRows = 60, holdingsRows = 4)
    val wl = new Daily(spark, rec, work, 11, fresh = false, p)
    wl.generate()
    ok("day-1 load lands every planted row")(wl.setup().isEmpty)

    def runUnit(i: Int): (Seq[String], Recorder.Window) = {
      wl.restore(i)
      val t0 = Main.now()
      val res = wl.unit(i)
      val w = rec.window(spark, t0, Main.now())
      (wl.check(i, res, w)._1, w)
    }
    def tables(f: Seq[String]) = f.flatMap(s => LakeGen.Tables.find(t => s.startsWith(t + " "))).toSet

    val (base, w) = runUnit(0)
    ok("attribution: every job of a unit sits in exactly one layer")(
      w.jobsByLayer.values.sum == w.jobs.size && w.jobs.nonEmpty)
    ok("attribution: at most 5% of a unit's jobs stay unattributed")(
      w.jobsIn("other").size * 20 <= w.jobs.size, w.jobsByLayer.toString)
    ok("attribution: MergeSink jobs are found")(w.jobsIn("merge").nonEmpty)
    ok("attribution: layer tasks sum to the unit's tasks")(
      w.jobsByLayer.keys.toSeq.map(l => w.tasksIn(l).size).sum == w.tasks.size)
    ok("check: history merges as planted on the reference lake shape")(
      !tables(base).contains("stg_price_history"), base.mkString("; "))

    // a planted wrong merge count: the manifest expects one more insert
    val real = wl.manifest
    val hist2 = real.batches(2)("stg_price_history") + ("TKX|ETF|Nowhere|2024-01-01" -> "x")
    wl.manifest = real.copy(batches = real.batches.updated(2,
      real.batches(2).updated("stg_price_history", hist2)))
    val (wrongCount, _) = runUnit(1)
    ok("check: a wrong merge count fails the unit")(
      tables(wrongCount.diff(base)) == Set("stg_price_history"), wrongCount.mkString("; "))
    wl.manifest = real

    // a row the pipeline drops silently: a month-13 date in one history file,
    // which parses to null and is filtered before the merge
    val f = Files.walk(wl.lake(2).resolve("history")).iterator().asScala
      .find(_.getFileName.toString.endsWith("_history.csv")).get
    Files.writeString(f, "2024-13-01,10.00,11.20,9.20,10.30,1000\n",
      java.nio.file.StandardOpenOption.APPEND)
    val ticker = f.getFileName.toString.takeWhile(_ != '_')
    val at = if (f.toString.contains("/etf/")) "ETF" else "FUND"
    val source = LakeGen.Sources.find(s => f.toString.contains(s"/$s/")).get
    wl.manifest = real.copy(batches = real.batches.updated(2, real.batches(2).updated(
      "stg_price_history", real.batches(2)("stg_price_history") +
        (s"$ticker|$at|$source|2024-13-01" -> "month-13"))))
    val (dropped, _) = runUnit(2)
    def droppedRows(f: Seq[String]) = f.flatMap(s =>
      "^(\\d+) planted rows neither landed".r.findFirstMatchIn(s).map(_.group(1).toLong)).sum
    ok("check: a silently dropped lake row fails the unit")(
      droppedRows(dropped) == droppedRows(base) + 1 &&
        tables(dropped.diff(base)).contains("stg_price_history"), dropped.mkString("; "))
  }

  private def freshChecks(spark: SparkSession, work: Path): Unit = {
    val rec = Recorder.install(spark)
    val p = LakeGen.Params(seed = 12, tickers = 6, historyRows = 60, holdingsRows = 4)
    val wl = new Daily(spark, rec, work, 12, fresh = true, p)
    wl.generate()
    ok("fresh: set-up load lands every planted row")(wl.setup().isEmpty)
    def runUnit(i: Int): Seq[String] = {
      wl.restore(i)
      val t0 = Main.now()
      val res = wl.unit(i)
      wl.check(i, res, rec.window(spark, t0, Main.now()))._1
    }
    val (first, second) = (runUnit(0), runUnit(1))
    ok("fresh: two units land every planted row, the same warehouse")(
      first.isEmpty && second.isEmpty, (first ++ second).mkString("; "))
  }
}
