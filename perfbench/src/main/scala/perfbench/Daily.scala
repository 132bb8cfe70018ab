package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.operators.MergeSink
import graft.pipeline.DailyPipeline
import graft.pipeline.DailyPipeline.StageResult
import graft.schema.Schemas
import graft.sources.CsvLake
import graft.stages.{DetailSync, HoldingsSync, MasterSync, PerformanceSync}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Main.{deleteTree, now, timed}

/** The daily ETL, `DailyPipeline.run` on a seeded `LakeGen` lake. Set-up
  * generates the day-1 and day-2 lakes and loads day 1 into an empty
  * warehouse (cold, and checked against the manifest).
  *
  *  - `daily_fresh` (`fresh = true`): each unit loads the day-1 lake into
  *    an empty warehouse again; the set-up load is its warm-up.
  *  - `daily_merge` (`fresh = false`): each unit starts from a copy of the
  *    day-1 warehouse, restored untimed, and merges the day-2 lake into it.
  */
final class Daily(spark: SparkSession, rec: Recorder, work: Path, seed: Long,
                  val fresh: Boolean, val params: LakeGen.Params)
    extends Main.Workload {

  def this(spark: SparkSession, rec: Recorder, work: Path, seed: Long, fresh: Boolean) =
    this(spark, rec, work, seed, fresh, LakeGen.Params(seed, tickers = 24,
      historyRows = 400, holdingsRows = 30))

  private val GenReps = 3
  /** The lake day each unit loads. */
  private val day = if (fresh) 1 else 2

  private[perfbench] var manifest: LakeGen.Manifest = _
  private[perfbench] def lake(day: Int) = work.resolve(s"lake/day$day")
  private val base = work.resolve("wh_day1")
  private[perfbench] def wh(i: Int) = work.resolve(s"wh_unit$i")
  private var baseRows: Map[String, Map[String, String]] = Map.empty
  private var baseFiles: Map[String, Map[String, Set[String]]] = Map.empty
  private var warehouseDigest: Option[String] = None

  def generate(): Seq[Double] = {
    val runs = (0 until GenReps).map { r =>
      val root = work.resolve(if (r == 0) "lake" else s"lake_rep$r")
      deleteTree(root)
      val (m, s) = timed(LakeGen.generate(root, params))
      (root, m, Digest.ofTree(root), s)
    }
    runs.tail.foreach { case (root, m, d, _) =>
      require(m.digest == runs.head._2.digest && d == runs.head._3,
        s"lake generator is not deterministic for seed $seed")
      deleteTree(root)
    }
    manifest = runs.head._2
    runs.map(_._4)
  }

  def setup(): Seq[String] = {
    deleteTree(base)
    val res = DailyPipeline.run(spark, lake(1).toString, base.toString, lit(manifest.asOf1))
    baseRows = LakeGen.Tables.map(t => t -> keyed(table(base, t), t)._1).toMap
    baseFiles = LakeGen.Tables.map(t => t -> bucketFiles(base.resolve(t))).toMap
    stageFailures(res).map("day 1: " + _) ++ LakeGen.Tables.flatMap { t =>
      val n = baseRows(t).size
      if (n != manifest.landed1(t)) Some(s"day 1: $t landed $n rows, lake planted ${manifest.landed1(t)}")
      else None
    }
  }

  def restore(i: Int): Unit = {
    if (i > 0) deleteTree(wh(i - 1))
    deleteTree(wh(i))
    if (!fresh) copyTree(base, wh(i))
  }

  private def asOfDay(d: Int) = if (d == 1) manifest.asOf1 else manifest.asOf2

  def unit(i: Int): Seq[StageResult] =
    DailyPipeline.run(spark, lake(day).toString, wh(i).toString, lit(asOfDay(day)))

  private def table(root: Path, t: String): DataFrame =
    MergeSink.readTable(spark, root.resolve(t).toString)

  private def stageFailures(res: Seq[StageResult]): Seq[String] =
    (if (res.map(_.stage) != Layers.DailyStages)
       Seq(s"stages run ${res.map(_.stage).mkString(",")}, expected ${Layers.DailyStages.mkString(",")}")
     else Nil) ++
      res.filterNot(_.ok).map(r => s"stage ${r.stage} failed: ${r.error.getOrElse("")}")

  /** One pass over a table: natural key -> payload signature (`row_hash`
    * where the table has one, else every column but the bookkeeping ones),
    * and an order-independent digest of the whole rows. */
  private def keyed(df: DataFrame, t: String): (Map[String, String], String) = {
    val keys = Schemas.naturalKeys(t)
    val keyCol = concat_ws("|", keys.map(k => coalesce(col(k).cast("string"), lit("<null>"))): _*)
    val cols = df.columns.filterNot(_ == "origin_file").toSeq
    val payload =
      if (cols.contains("row_hash")) col("row_hash")
      else to_json(struct(cols.filterNot(_ == "updated_at").map(col): _*))
    val rows = df.select(keyCol, payload, xxhash64(to_json(struct(cols.map(col): _*))))
      .collect()
    (rows.map(r => r.getString(0) -> r.getString(1)).toMap,
      s"${rows.length}:${rows.map(r => BigInt(r.getLong(2))).sum}")
  }

  /** `__bucket=N` dir (or "" for an unbucketed table) -> its file names. */
  private def bucketFiles(dir: Path): Map[String, Set[String]] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .toSeq.groupBy(f => dir.relativize(f.getParent).toString)
      .map { case (d, fs) => d -> fs.map(_.getFileName.toString).toSet }

  private def rejectRows(root: Path): Long = {
    val dir = root.resolve("rejects")
    if (!Files.exists(dir)) 0L
    else Files.list(dir).iterator().asScala.toSeq.map { d =>
      Files.walk(d).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".csv"))
        .map(f => math.max(0L, Files.readAllLines(f).size - 1L)).sum
    }.sum
  }

  def check(i: Int, res: Seq[StageResult], w: Recorder.Window): (Seq[String], Map[String, Double]) = {
    val root = wh(i)
    val failures = Seq.newBuilder[String]
    failures ++= stageFailures(res)
    var ins, upd, same, dropped, touched = 0L
    val tableDigests = LakeGen.Tables.map { t =>
      // a fresh load inserts every planted row into an empty warehouse
      val exp = if (fresh) LakeGen.Outcome(manifest.landed1(t), 0, 0) else manifest.outcome(t)
      val (after, tableDigest) = keyed(table(root, t), t)
      val before = if (fresh) Map.empty[String, String] else baseRows(t)
      val gotIns = after.keysIterator.count(k => !before.contains(k)).toLong
      val gotUpd = after.iterator.count { case (k, p) => before.get(k).exists(_ != p) }.toLong
      val gotSame = before.size - gotUpd
      if (after.size.toLong != exp.landed)
        failures += s"$t landed ${after.size} rows, manifest expects ${exp.landed}"
      if ((gotIns, gotUpd, gotSame) != (exp.inserted, exp.updated, exp.unchanged))
        failures += s"$t merge outcome inserted/updated/unchanged = $gotIns/$gotUpd/$gotSame, " +
          s"planted ${exp.inserted}/${exp.updated}/${exp.unchanged}"
      if (before.keysIterator.exists(k => !after.contains(k)))
        failures += s"$t lost day-1 keys"
      if (fresh && after != baseRows(t))
        failures += s"$t rows differ from the set-up load's"
      dropped += math.max(0L, exp.landed - after.size)
      ins += gotIns; upd += gotUpd; same += gotSame
      val now = bucketFiles(root.resolve(t))
      val was = if (fresh) Map.empty[String, Set[String]] else baseFiles(t)
      touched += now.count { case (d, fs) => !was.get(d).contains(fs) }
      s"$t=$tableDigest"
    }
    // lake rows that neither landed nor reached rejects/
    dropped = math.max(0L, dropped - rejectRows(root))
    if (dropped > 0) failures += s"$dropped planted rows neither landed nor were rejected"
    val digest = Digest.ofStrings(tableDigests)
    warehouseDigest match {
      case None => warehouseDigest = Some(digest)
      case Some(d) if d != digest => failures += s"warehouse digest $digest differs from unit 0's $d"
      case _ =>
    }
    (failures.result(), Map(
      "merge.rows_inserted" -> ins.toDouble, "merge.rows_updated" -> upd.toDouble,
      "merge.rows_unchanged" -> same.toDouble, "merge.buckets_touched" -> touched.toDouble,
      "stages.rows_dropped" -> dropped.toDouble))
  }

  /** The lake readers `DailyPipeline.run` uses on the unit's lake, one
    * frame per category and source, with the stage's own
    * clean/validate/hash on top when `prepared`. */
  private def frames(prepared: Boolean): Seq[DataFrame] = {
    val root = lake(day)
    val asOf = lit(asOfDay(day))
    def dirs(cat: String): Seq[(String, String)] =
      Files.list(root.resolve(cat)).iterator().asScala.toSeq
        .map(p => p.getFileName.toString -> p.toString).sortBy(_._1)
    val master = dirs("master").map { case (_, d) => CsvLake.readCsv(spark, d) }
    val nav = CsvLake.readSourceDirs(spark, dirs("nav").toMap)
    val details = dirs("details").map { case (s, d) => s -> CsvLake.readCsv(spark, d) }
    def recursive(cat: String, must: String, mustNot: String = "") =
      dirs(cat).map { case (s, d) => s -> CsvLake.readRecursive(spark, d, must, mustNot) }
    val hist = recursive("history", "history", "holdings")
    val divs = recursive("dividends", "dividend")
    val holds = recursive("holdings", "holdings")
    val allocs = recursive("allocations", "allocations")
    if (!prepared) master ++ Seq(nav) ++ (details ++ hist ++ divs ++ holds ++ allocs).map(_._2)
    else Seq(
      MasterSync.toWarehouse(MasterSync.validate(MasterSync.consolidate(
        master.map(MasterSync.clean)))._1, asOf),
      PerformanceSync.validateNav(PerformanceSync.cleanNav(nav), asOf)._1) ++
      details.map { case (s, df) => DetailSync.prepareWide(df, s) } ++
      hist.map { case (s, df) => PerformanceSync.hashHistory(PerformanceSync.cleanHistory(df, s), asOf) } ++
      divs.map { case (s, df) => PerformanceSync.hashDividends(PerformanceSync.cleanDividends(df, s), asOf) } ++
      holds.map { case (s, df) => HoldingsSync.cleanHoldings(df, s) } ++
      allocs.map { case (s, df) => HoldingsSync.cleanAllocations(df, s, "sector") }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def probes(): (Map[String, Double], Seq[String]) = {
    Main.cleanBlocks(spark)
    val t0 = now()
    val (_, scanS) = timed(frames(prepared = false).foreach(noop))
    val scan = rec.window(spark, t0, now())
    val (_, prepS) = timed(frames(prepared = true).foreach(noop))
    (Map(
      "sources.scan_s" -> scanS,
      "sources.files" -> manifest.files(day).toDouble,
      "sources.rows" -> scan.inputRecords.toDouble,
      "stages.prepare_self_s" -> math.max(0.0, prepS - scanS)), Nil)
  }

  def digests: Map[String, String] =
    Map("lake" -> manifest.digest) ++ warehouseDigest.map("warehouse" -> _)

  def inputsJson: String = {
    val p = params
    s"""{"tickers":${p.tickers},"history_rows":${p.historyRows},""" +
      s""""holdings_rows":${p.holdingsRows},"changed_frac":${LakeGen.ChangedFrac},""" +
      s""""new_key_frac":${LakeGen.NewKeyFrac},"manifest":${LakeGen.summaryJson(manifest)}}"""
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    }
}
