package perfbench

import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

/** Seeded generator for the daily fund lake: a day-1 scrape and a day-2
  * re-scrape in the staging layout `DailyPipeline` reads (per-source
  * master/nav/screener CSVs, per-ticker history/dividend/holdings/
  * allocations CSVs).
  *
  * Dates walk a real Mon–Fri calendar, so no history length produces an
  * impossible date. The day-2 lake re-sends every day-1 row, changes the
  * value of a seeded `ChangedFrac` of them, and adds about `NewKeyFrac`
  * new keys (new trading days, holdings, dividends and tickers).
  *
  * Alongside the files the generator returns a [[Manifest]]: per warehouse
  * table, the natural keys it planted and a payload signature per key,
  * for the day-1 and day-2 batches. The expected landed rows and merge
  * outcomes follow from those maps alone.
  */
object LakeGen {

  final case class Params(seed: Long, tickers: Int, historyRows: Int, holdingsRows: Int)

  /** Share of re-sent day-1 rows whose value changes on day 2. */
  val ChangedFrac = 0.05
  /** New keys on day 2, as a share of the day-1 keys. */
  val NewKeyFrac = 0.02

  /** Expected outcome of merging one day-2 batch into one table. */
  final case class Outcome(inserted: Long, updated: Long, unchanged: Long) {
    def landed: Long = inserted + unchanged + updated
  }

  /** `batches(day)(table)` = natural key -> payload signature. */
  final case class Manifest(asOf1: String, asOf2: String,
                            batches: Map[Int, Map[String, Map[String, String]]],
                            files: Map[Int, Int], lakeRows: Map[Int, Long],
                            digest: String) {
    def landed1(table: String): Long = batches(1)(table).size.toLong
    def outcome(table: String): Outcome = {
      val w1 = batches(1)(table)
      val b2 = batches(2)(table)
      val inserted = b2.keysIterator.count(k => !w1.contains(k)).toLong
      val updated = b2.iterator.count { case (k, p) => w1.get(k).exists(_ != p) }.toLong
      Outcome(inserted, updated, w1.size - updated)
    }
  }

  val Sources: Seq[String] = Seq("Financial Times", "Yahoo Finance", "Stock Analysis")
  val Tables: Seq[String] = Seq("stg_security_master", "stg_daily_nav",
    "stg_price_history", "stg_dividend_history", "stg_fund_info",
    "stg_fund_fees", "stg_fund_risk", "stg_fund_policy", "stg_fund_holdings",
    "stg_allocations")
  private val Sectors = Seq("Technology", "Financials", "Health Care",
    "Energy", "Industrials", "Utilities", "Consumer Staples", "Materials")

  /** Independent stream per (seed, ticker, tag): a ticker's rows do not
    * depend on how many tickers came before it. */
  private def rng(seed: Long, t: Int, tag: String): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + t * 0xc2b2ae3d27d4eb4fL +
      tag.hashCode)

  private def businessDays(end: LocalDate, n: Int): Vector[LocalDate] =
    Iterator.iterate(end)(_.minusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toVector.reverse

  private def nextBusinessDays(after: LocalDate, n: Int): Vector[LocalDate] =
    Iterator.iterate(after.plusDays(1))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toVector

  private final class Lake(root: Path) {
    var files = 0
    var rows = 0L
    def write(rel: String, header: String, lines: Seq[String]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, (header +: lines).mkString("", "\n", "\n"))
      files += 1
      rows += lines.size
    }
  }

  /** One ticker's generated state on one day. */
  private final case class Ticker(t: Int, newOnDay2: Boolean) {
    val id: String = f"TK$t%05d"
    val si: Int = t % Sources.size
    val source: String = Sources(si)
    val assetType: String = if (t % 2 == 0) "ETF" else "FUND"
    val cat: String = assetType.toLowerCase
  }

  private def fmt2(x: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, x)

  /** Writes `<root>/day1` and `<root>/day2` and returns their manifest. */
  def generate(root: Path, p: Params): Manifest = {
    require(p.tickers >= 3 && p.historyRows >= 20 && p.holdingsRows >= 2,
      s"lake too small: $p")
    val base = LocalDate.of(2024, 6, 28)
    val day1 = businessDays(base.minusDays(Math.floorMod(p.seed, 97L)), 1).head
    val newDays = math.max(1, math.round(p.historyRows * NewKeyFrac).toInt)
    val day2Dates = nextBusinessDays(day1, newDays)
    val day2 = day2Dates.last
    val hist1 = businessDays(day1, p.historyRows)
    val nNew = math.max(1, math.round(p.tickers * NewKeyFrac).toInt)
    val tickers1 = (0 until p.tickers).map(Ticker(_, newOnDay2 = false))
    val tickers2 = tickers1 ++ (p.tickers until p.tickers + nNew).map(Ticker(_, newOnDay2 = true))

    def changed(r: SplittableRandom): Boolean = r.nextDouble() < ChangedFrac

    val batches = Map(1 -> tickers1, 2 -> tickers2).map { case (day, tks) =>
      val asOf = if (day == 1) day1 else day2
      val lake = new Lake(root.resolve(s"day$day"))
      val tables = Tables.map(_ -> Map.newBuilder[String, String]).toMap
      def put(table: String, key: String, payload: String): Unit =
        tables(table) += key -> payload
      val masters = Array.fill(Sources.size)(Seq.newBuilder[String])
      val navs = Array.fill(Sources.size)(Seq.newBuilder[String])
      val screeners = Array.fill(Sources.size)(Seq.newBuilder[String])

      tks.foreach { tk =>
        import tk._
        val d2 = day == 2 && !newOnDay2
        // master: a changed name on day 2 moves the row hash
        val rn = rng(p.seed, t, "name")
        val name = s"Fund $id" + (if (d2 && changed(rn)) " Class B" else "")
        masters(si) += s"$id,$assetType,$name,new,$source,$asOf"
        put("stg_security_master", s"$id|$assetType|$source", name)
        // nav: one row per ticker for the lake's own date
        val nav = fmt2(50 + rng(p.seed, t, s"nav$asOf").nextInt(15000) / 100.0)
        navs(si) += s"$id,$assetType,$source,$nav,USD,$asOf,$asOf"
        put("stg_daily_nav", s"$id|$assetType|$source|$asOf", nav)
        // screener -> stg_fund_{info,fees,risk,policy}; source 1 has no
        // asset_type column, so its rows key as FUND (DetailSync default)
        val re = rng(p.seed, t, "er")
        val er = 10 + re.nextInt(90) + (if (d2 && changed(re)) 7 else 0)
        val aum = 10 + rng(p.seed, t, "aum").nextInt(900)
        val detailAt = if (si == 1) "FUND" else assetType
        screeners(si) += (if (si == 1) s"$id,Fund $id,0.$er%,$aum.5m USD"
                          else s"$id,$assetType,Fund $id,0.$er%,$aum.5m USD")
        val dk = s"$id|$detailAt|$source"
        put("stg_fund_info", dk, s"Fund $id")
        put("stg_fund_fees", dk, s"$er|$aum")
        put("stg_fund_risk", dk, "")
        put("stg_fund_policy", dk, "")

        // history: the day-1 window, re-sent on day 2 with changes, plus
        // the trading days between the two scrapes
        val dates = if (day == 1) hist1 else hist1 ++ day2Dates
        val hr = rng(p.seed, t, "hist")
        val hc = rng(p.seed, t, "histchg")
        val hist = dates.map { d =>
          val px = 20 + hr.nextInt(20000) / 100.0
          val vol = 1000 + hr.nextInt(100000)
          val bump = if (d2 && !d.isAfter(day1) && changed(hc)) 0.37 else 0.0
          val close = px + 0.3 + bump
          val row = s"$d,${fmt2(px)},${fmt2(px + 1.2)},${fmt2(px - 0.8)},${fmt2(close)},$vol"
          put("stg_price_history", s"$id|$assetType|$source|$d", row)
          row
        }
        lake.write(s"history/$source/$cat/$asOf/${id}_history.csv",
          "Date,Open,High,Low,Close,Volume", hist)

        // dividends: quarterly ex-dates inside the window; amount is part
        // of the natural key, so day 2 only appends
        val dr = rng(p.seed, t, "div")
        val divDates = hist1.indices.filter(_ % 63 == t % 63).map(hist1) ++
          (if (d2 && rng(p.seed, t, "divnew").nextDouble() < 0.1) Seq(day2) else Nil)
        val divs = divDates.map { d =>
          val amt = s"0.${10 + dr.nextInt(80)}"
          put("stg_dividend_history", s"$id|$assetType|$source|$d|$amt", "")
          s"$d,$amt"
        }
        lake.write(s"dividends/$source/$cat/$asOf/${id}_dividend.csv",
          "Date,Dividend", divs)

        // holdings: weights drift on day 2, a few new positions appear
        val hold = rng(p.seed, t, "hold")
        val holdChg = rng(p.seed, t, "holdchg")
        val extra = if (d2) (0 until p.holdingsRows)
          .count(_ => holdChg.nextDouble() < NewKeyFrac) else 0
        val holds = (0 until p.holdingsRows + extra).map { i =>
          val sym = s"H${hold.nextInt(5000)}"
          val w = 1 + hold.nextInt(80) / 10.0 +
            (if (d2 && i < p.holdingsRows && changed(holdChg)) 0.5 else 0.0)
          put("stg_fund_holdings", s"$id|$assetType|$source|Holding $i", s"$sym|${fmt2(w)}")
          s"$id,$assetType,Holding $i,$sym,${fmt2(w)}%"
        }
        lake.write(s"holdings/$source/$cat/$asOf/${id}_${cat}_holdings.csv",
          "ticker,asset_type,name,symbol,weight", holds)

        // allocations: the file carries ticker but neither asset_type nor a
        // date column, so both key parts land null
        val ar = rng(p.seed, t, "alloc")
        val ac = rng(p.seed, t, "allocchg")
        val nSec = 4 + ar.nextInt(4)
        val allocs = Sectors.take(nSec).map { sec =>
          val pct = 5 + ar.nextInt(250) / 10.0 + (if (d2 && changed(ac)) 1.0 else 0.0)
          put("stg_allocations", s"$id|$source|$sec", fmt2(pct))
          s"$id,$sec,${fmt2(pct)}%,$asOf"
        }
        lake.write(s"allocations/$source/$asOf/${id}_allocations.csv",
          "ticker,sector,percentage,scrape_date", allocs)
      }

      Sources.zipWithIndex.foreach { case (s, i) =>
        lake.write(s"master/$s/master.csv",
          "ticker,asset_type,name,status,source,date_added", masters(i).result())
        lake.write(s"nav/$s/nav.csv",
          "ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date",
          navs(i).result())
        lake.write(s"details/$s/screener.csv",
          if (i == 1) "symbol,name,expense,aum"
          else "ticker,asset_type,name,expense_ratio,assets_aum",
          screeners(i).result())
      }
      day -> ((tables.map { case (k, b) => k -> b.result() }, lake.files, lake.rows))
    }

    val tableMaps = batches.map { case (d, (t, _, _)) => d -> t }
    Manifest(day1.toString, day2.toString, tableMaps,
      batches.map { case (d, (_, f, _)) => d -> f },
      batches.map { case (d, (_, _, r)) => d -> r },
      Digest.ofStrings(Tables.flatMap(t => Seq(1, 2).flatMap(d =>
        tableMaps(d)(t).toSeq.sorted.map { case (k, v) => s"$d|$t|$k=$v" }))))
  }

  /** Writes the manifest summary (counts, not the key maps) as JSON. */
  def summaryJson(m: Manifest): String = {
    val tables = Tables.map { t =>
      val o = m.outcome(t)
      s""""$t":{"landed_day1":${m.landed1(t)},"inserted":${o.inserted},""" +
        s""""updated":${o.updated},"unchanged":${o.unchanged}}"""
    }.mkString(",")
    s"""{"as_of_day1":"${m.asOf1}","as_of_day2":"${m.asOf2}",""" +
      s""""files":{"day1":${m.files(1)},"day2":${m.files(2)}},""" +
      s""""lake_rows":{"day1":${m.lakeRows(1)},"day2":${m.lakeRows(2)}},""" +
      s""""digest":"${m.digest}","tables":{$tables}}"""
  }
}
