package perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.functions.{CleanTextKernel, ShingleKernel, TextStatsKernel}
import graft.pipeline.CorpusPipeline
import graft.pipeline.DailyPipeline.StageResult
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import Main.{deleteTree, median, now, timed}

/** `corpus_curate`: `CorpusPipeline.run` with the default `Config` over a
  * seeded corpus; the `doc_id % 997 == 0` slice is the decontamination
  * reference and is held out of the input.
  *
  * Its traced run also carries the `functions` probes (the text kernels,
  * driver-side, on this corpus) and the `query` probes (the operator
  * queries ROADMAP item 3 targets, through `SparkEntry.benchQueries`).
  */
final class CorpusCurate(spark: SparkSession, rec: Recorder, work: Path, seed: Long)
    extends Main.Workload {

  val params: CorpusGen.Params = CorpusGen.Params(seed, docs = 2500)
  private val GenReps = 3
  /** Scale of the `GenScaleData` star schema the query probes read. */
  private val QuerySf = 0.01

  private var planted: CorpusGen.Planted = _
  private var genDigest = ""
  private var texts: Vector[String] = Vector.empty
  private val docsDir = work.resolve("docs")
  private def out(i: Int) = work.resolve(s"out_unit$i")
  private lazy val all = spark.read.parquet(docsDir.toString)
  private lazy val docs = all.filter(col("doc_id") % 997 =!= 0)
  private lazy val benchmark = all.filter(col("doc_id") % 997 === 0).select(col("text"))
  private var inputDocs = 0L
  private var reference: Option[(Seq[(String, Long)], String)] = None

  def generate(): Seq[Double] = {
    val runs = (0 until GenReps).map { _ =>
      val ((ds, pl), s) = timed(CorpusGen.generate(params))
      (Digest.ofStrings(ds.map(d => s"${d.docId}|${d.source}|${d.text}")), ds, pl, s)
    }
    require(runs.map(_._1).distinct.size == 1, s"corpus generator is not deterministic for seed $seed")
    val (digest, ds, pl, _) = runs.head
    genDigest = digest
    texts = ds.map(_.text)
    planted = pl
    deleteTree(docsDir)
    import spark.implicits._
    ds.map(d => (d.docId, d.text, d.source)).toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(docsDir.toString)
    runs.map(_._4)
  }

  def setup(): Seq[String] = {
    inputDocs = docs.count()
    // warm-up run: it also fixes the reference every timed unit must match
    deleteTree(out(-1))
    val res = unit(-1)
    reference = Some((res.map(r => r.stage -> r.rows), outputDigest(-1)))
    deleteTree(out(-1))
    stageFailures(res).map("warm-up: " + _)
  }

  def restore(i: Int): Unit = {
    if (i > 0) deleteTree(out(i - 1))
    deleteTree(out(i))
  }

  def unit(i: Int): Seq[StageResult] =
    CorpusPipeline.run(spark, docs, benchmark, out(i).toString)

  private def rows(res: Seq[StageResult], s: String): Long =
    res.find(_.stage == s).map(_.rows).getOrElse(-1L)

  private def stageFailures(res: Seq[StageResult]): Seq[String] =
    (if (res.map(_.stage) != Layers.CorpusStages)
       Seq(s"stages run ${res.map(_.stage).mkString(",")}, expected ${Layers.CorpusStages.mkString(",")}")
     else Nil) ++
      res.filterNot(_.ok).map(r => s"stage ${r.stage} failed: ${r.error.getOrElse("")}") ++
      (if (rows(res, "clean") != inputDocs)
         Seq(s"clean kept ${rows(res, "clean")} of $inputDocs docs; the corpus has no empty docs")
       else Nil) ++
      (if (rows(res, "quality") > inputDocs - planted.short)
         Seq(s"quality kept ${rows(res, "quality")} docs; ${planted.short} planted docs are too short")
       else Nil) ++
      (if (planted.exact > 0 && rows(res, "exact_dedup") >= rows(res, "ppl_gate"))
         Seq(s"exact_dedup removed nothing; ${planted.exact} exact duplicates were planted")
       else Nil)

  private def outputDigest(i: Int): String = {
    val o = out(i)
    Digest.ofStrings(Seq(
      "shards=" + Digest.ofFrame(spark.read.option("recursiveFileLookup", "true")
        .parquet(o.resolve("s9_shards").toString)),
      "packed=" + Digest.ofFrame(spark.read.parquet(o.resolve("s8_packed").toString))))
  }

  def check(i: Int, res: Seq[StageResult], w: Recorder.Window): (Seq[String], Map[String, Double]) = {
    val (refRows, refDigest) = reference.get
    val f = stageFailures(res) ++
      (if (res.map(r => r.stage -> r.rows) != refRows)
         Seq(s"stage rows ${res.map(r => s"${r.stage}=${r.rows}").mkString(",")} differ from the warm-up run's")
       else Nil) ++ {
      val d = outputDigest(i)
      if (d != refDigest) Seq(s"shard digest $d differs from the warm-up run's $refDigest") else Nil
    }
    (f, Map.empty)
  }

  // ------------------------------------------------------------ probes

  /** Median ns per pass over `n` passes of `f` (after one warm pass). */
  private def nsPerPass(n: Int)(f: => Unit): Double = {
    f
    median((0 until n).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })
  }

  private def functionProbes(): Map[String, Double] = {
    val sample = texts.take(2000)
    val utf = sample.map(UTF8String.fromString).toArray
    val chars = sample.map(_.length.toLong).sum.toDouble
    val stop = new java.util.HashSet[String]()
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
      "on", "with", "as", "was", "at", "by").foreach(stop.add)
    var sink = 0L
    val shingle = nsPerPass(5) {
      sample.foreach(t => sink += ShingleKernel.minhashSignature(
        ShingleKernel.shingleSetData(t, 3), 64).numElements())
    }
    val maxStop = stop.iterator().asScala.map(_.length).max
    val stats = nsPerPass(5)(utf.foreach(u => sink += TextStatsKernel.stats(u, stop, maxStop).numFields))
    val clean = nsPerPass(5)(utf.foreach(u => sink += CleanTextKernel.clean(u).numBytes()))
    require(sink > 0)
    Map("functions.shingle_ns_per_doc" -> shingle / sample.size,
      "functions.textstats_ns_per_char" -> stats / chars,
      "functions.cleantext_ns_per_char" -> clean / chars)
  }

  /** Sums the planner phases of every query execution it sees. */
  private final class PlanningTotal extends QueryExecutionListener {
    @volatile var ms = 0L
    private def add(qe: QueryExecution): Unit =
      ms += qe.tracker.phases.values.map(_.durationMs).sum
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private def queryProbes(): (Map[String, Double], Seq[String]) = {
    val dir = work.resolve("sf").toString
    graft.tools.GenScaleData.writeAll(spark, dir, QuerySf)
    val order = new scala.util.Random(seed).shuffle(Layers.TargetQueries)
    val planning = new PlanningTotal
    spark.listenerManager.register(planning)
    def q(name: String): DataFrame = SparkEntry.benchQueries(name)(spark, dir)
    // two passes: the first warms the query's code paths, the second is
    // reported; each pass's outputs are digested untimed and must agree
    val passes = (0 until 2).map { _ =>
      order.map { name =>
        Main.cleanBlocks(spark)
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        val p0 = planning.ms
        spark.sparkContext.setJobGroup(name, name)
        val t0 = now()
        val (_, s) = timed(q(name).write.format("noop").mode("overwrite").save())
        val w = rec.window(spark, t0, now())
        spark.sparkContext.clearJobGroup()
        val planS = (planning.ms - p0) / 1000.0
        name -> (s, w.jobs.size.toDouble, planS, Digest.ofFrame(q(name)))
      }.toMap
    }
    spark.listenerManager.unregister(planning)
    val last = passes.last
    val failures = order.filter(n => passes.head(n)._4 != last(n)._4)
      .map(n => s"$n output ${last(n)._4} differs from the previous pass's ${passes.head(n)._4}")
    (Layers.TargetQueries.map(n => s"query.${Layers.short(n)}_s" -> last(n)._1).toMap ++
      Layers.RoundQueries.map(n => s"query.${Layers.short(n)}_jobs" -> last(n)._2) ++
      Map("query.planning_s" -> last.values.map(_._3).sum), failures)
  }

  def probes(): (Map[String, Double], Seq[String]) = {
    val (qm, qf) = queryProbes()
    (functionProbes() ++ qm, qf)
  }

  def digests: Map[String, String] =
    Map("corpus" -> genDigest) ++ reference.map("shards" -> _._2)

  def inputsJson: String =
    s"""{"docs":${params.docs},"vocab":${CorpusGen.Vocab},"input_docs":$inputDocs,""" +
      s""""planted_exact":${planted.exact},"planted_near":${planted.near},""" +
      s""""planted_short":${planted.short},"digest":"$genDigest","query_sf":$QuerySf}"""
}
