package perfbench

import java.time.LocalDate
import java.util.{Locale, SplittableRandom}

import graft.ingest.SeriesSource
import graft.etl.Merge

/** Sizes of one seeded ETL corpus. Sizes are fixed per workload; the seed
  * only changes ids, values, missing markers and which series are revised. */
final case class EtlShape(
    fredMonthly: Int,
    fredDaily: Int,
    fredYears: Int,
    blsSeries: Int,
    blsYears: Int,
    revised: Int)

/** One observation as the API sends it: `raw` is the value string, with
  * FRED's "." and BLS's "-" meaning missing. */
final case class Obs(date: LocalDate, raw: String)

/** What the source serves on one run date. */
final case class SourceData(
    fred: Map[String, Vector[Obs]],
    bls: Map[String, Vector[Obs]],
    today: LocalDate)

final case class FactRow(
    seriesId: String, seriesName: String, date: LocalDate,
    value: Option[Double], source: String)

/** Fact and dim counts one `Pipeline.run` should report. */
final case class Counts(inserted: Long, updated: Long, unchanged: Long,
    dimInserted: Long, dimUnchanged: Long)

final case class Step(name: String, data: SourceData, expected: Counts)

/** A seeded corpus of FRED- and BLS-shaped payloads and the fixed run
  * sequence the ETL workload times: a cold load, an unchanged re-run, a
  * revision of the latest value of a few series, and one new observation
  * appended to every series.
  *
  * The expected warehouse and per-run counts come from a Spark-free model
  * of the pipeline's contract: FRED fetches start at the stored last
  * observation date, BLS fetches cover `blsStartYear` to the run year,
  * and each fetched row is inserted, updated or unchanged under the
  * null-safe epsilon comparison. */
class EtlCorpus(seed: Long, shape: EtlShape) {
  private val rng = new SplittableRandom(seed)
  private val end = LocalDate.of(2024, 12, 1)

  private def code(prefix: String, i: Int): String =
    f"$prefix$i%03d${rng.nextInt(1 << 20)}%05X"

  /** (name, id) pairs, as the series registry holds them: the monthly
    * series first, then the daily ones. */
  val fredSeries: Seq[(String, String)] =
    (0 until shape.fredMonthly + shape.fredDaily).map(i => s"FRED_$i" -> code("F", i))
  private val daily: Set[String] = fredSeries.drop(shape.fredMonthly).map(_._2).toSet
  val blsSeries: Seq[(String, String)] =
    (0 until shape.blsSeries).map(i => s"BLS_$i" -> code("CU", i))

  /** The BLS history starts a year before the requested range, so the
    * source's year filter has rows to drop. */
  val blsStartYear: Int = end.getYear - shape.blsYears + 2

  private def value(prev: Double): Double = prev + rng.nextGaussian() * 0.8

  private def render(v: Double): String = String.format(Locale.ROOT, "%.3f", v)

  private def walk(dates: Seq[LocalDate], missing: String): Vector[Obs] = {
    var v = 20 + rng.nextDouble() * 200
    dates.map { d =>
      v = value(v)
      Obs(d, if (rng.nextInt(50) == 0) missing else render(v))
    }.toVector
  }

  private def fredNext(id: String)(d: LocalDate): LocalDate =
    if (daily(id)) d.plusDays(1) else d.plusMonths(1)

  private def dates(from: LocalDate, to: LocalDate, next: LocalDate => LocalDate) =
    Iterator.iterate(from)(next).takeWhile(!_.isAfter(to)).toSeq

  private val cold: SourceData = {
    val start = end.minusYears(shape.fredYears).plusMonths(1)
    val lastDay = end.plusMonths(1).minusDays(1)
    SourceData(
      fredSeries.map { case (_, id) =>
        id -> walk(dates(start, if (daily(id)) lastDay else end, fredNext(id)), ".")
      }.toMap,
      blsSeries.map { case (_, id) =>
        id -> walk(dates(end.minusYears(shape.blsYears).plusMonths(1), end, _.plusMonths(1)), "-")
      }.toMap,
      lastDay.plusDays(3))
  }

  private val revision: SourceData = {
    val picked = fredSeries.map(s => (rng.nextLong(), s._2)).sorted.map(_._2)
      .take(shape.revised).toSet
    cold.copy(fred = cold.fred.map { case (id, obs) =>
      if (!picked(id)) id -> obs
      else {
        val last = obs.last
        val old = last.raw.toDoubleOption.getOrElse(100.0)
        id -> obs.updated(obs.length - 1, last.copy(raw = render(old + 1 + rng.nextDouble())))
      }
    })
  }

  private val appended: SourceData = {
    def extend(obs: Vector[Obs], next: LocalDate => LocalDate): Vector[Obs] = {
      val v = obs.reverseIterator.flatMap(_.raw.toDoubleOption).nextOption().getOrElse(100.0)
      obs :+ Obs(next(obs.last.date), render(value(v)))
    }
    val fred = revision.fred.map { case (id, o) => id -> extend(o, fredNext(id)) }
    val bls = revision.bls.map { case (id, o) => id -> extend(o, _.plusMonths(1)) }
    SourceData(fred, bls, Seq(fred.values.map(_.last.date).max,
      bls.values.map(_.last.date).max).max.plusDays(3))
  }

  /** The timed run sequence with each run's expected counts, and the
    * expected fact table after the last run. */
  val (steps: Seq[Step], expectedFact: Seq[FactRow]) = {
    var table = Map.empty[(String, LocalDate), FactRow]
    var offsets = Map.empty[String, LocalDate]
    var dimSeen = Set.empty[String]
    val runs = Seq("cold" -> cold, "unchanged" -> cold, "revision" -> revision,
      "append" -> appended).map { case (name, data) =>
      val fredRows = fredSeries.flatMap { case (sname, id) =>
        val got = BenchSource.fredWindow(data.fred(id), offsets.get(id))
        got.lastOption.foreach(o => offsets += id -> o.date)
        got.map(o => FactRow(id, sname, o.date, o.raw.toDoubleOption, "FRED"))
      }
      val blsRows = blsSeries.flatMap { case (sname, id) =>
        BenchSource.blsWindow(data.bls(id), blsStartYear, data.today.getYear)
          .map(o => FactRow(id, sname, o.date, o.raw.toDoubleOption, "BLS"))
      }
      var ins, upd, same = 0L
      (fredRows ++ blsRows).foreach { r =>
        table.get((r.seriesId, r.date)) match {
          case None => ins += 1
          case Some(old) if unchanged(old.value, r.value) => same += 1
          case Some(_) => upd += 1
        }
        table += (r.seriesId, r.date) -> r
      }
      val ids = (fredSeries ++ blsSeries).map(_._2)
      val dimNew = ids.count(!dimSeen(_)).toLong
      dimSeen ++= ids
      Step(name, data, Counts(ins, upd, same, dimNew, ids.size - dimNew))
    }
    (runs, table.values.toSeq.sortBy(r => (r.seriesId, r.date.toEpochDay)))
  }

  private def unchanged(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) < Merge.Epsilon
    case _ => false
  }

  /** (series_id, series_name, source) rows the dim table should hold. */
  val expectedDim: Set[(String, String, String)] =
    fredSeries.map { case (n, id) => (id, n, "FRED") }.toSet ++
      blsSeries.map { case (n, id) => (id, n, "BLS") }
}

/** Serves one [[SourceData]] the way the live APIs answer: FRED honors
  * `observationStart`, BLS honors the requested ids and year range and
  * lists data most-recent-first. */
final class BenchSource(data: SourceData) extends SeriesSource {
  override def fetchFred(seriesId: String, observationStart: Option[String]): String = {
    val obs = BenchSource.fredWindow(data.fred(seriesId),
      observationStart.map(LocalDate.parse))
    val sb = new StringBuilder(64 + obs.size * 96)
    sb.append(s"""{"realtime_start":"${data.today}","realtime_end":"${data.today}",""")
    sb.append(s""""units":"lin","output_type":1,"file_type":"json","count":${obs.size},""")
    sb.append(""""offset":0,"limit":100000,"observations":[""")
    obs.iterator.zipWithIndex.foreach { case (o, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"realtime_start":"${o.date}","realtime_end":"9999-12-31",""")
      sb.append(s""""date":"${o.date}","value":"${o.raw}"}""")
    }
    sb.append("]}").toString
  }

  override def fetchBls(seriesIds: Seq[String], startYear: Int, endYear: Int): String = {
    val sb = new StringBuilder(256)
    sb.append("""{"status":"REQUEST_SUCCEEDED","responseTime":150,"message":[],""")
    sb.append(""""Results":{"series":[""")
    seriesIds.zipWithIndex.foreach { case (id, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"seriesID":"$id","data":[""")
      BenchSource.blsWindow(data.bls(id), startYear, endYear).reverseIterator
        .zipWithIndex.foreach { case (o, j) =>
          if (j > 0) sb.append(',')
          val m = o.date.getMonthValue
          sb.append(f"""{"year":"${o.date.getYear}","period":"M$m%02d",""")
          sb.append(s""""periodName":"${o.date.getMonth}","value":"${o.raw}","footnotes":[{}]}""")
        }
      sb.append("]}")
    }
    sb.append("]}}").toString
  }
}

object BenchSource {
  def fredWindow(obs: Vector[Obs], start: Option[LocalDate]): Vector[Obs] =
    start.fold(obs)(s => obs.filter(!_.date.isBefore(s)))

  def blsWindow(obs: Vector[Obs], startYear: Int, endYear: Int): Vector[Obs] =
    obs.filter { o => val y = o.date.getYear; y >= startYear && y <= endYear }
}

/** Times every fetch through the wrapped source. */
final class TimedSource(inner: SeriesSource) extends SeriesSource {
  var calls = 0L
  var nanos = 0L
  var bytes = 0L

  private def timed(f: => String): String = {
    val t0 = System.nanoTime()
    val out = f
    nanos += System.nanoTime() - t0
    calls += 1
    bytes += out.length
    out
  }

  override def fetchFred(seriesId: String, observationStart: Option[String]): String =
    timed(inner.fetchFred(seriesId, observationStart))

  override def fetchBls(seriesIds: Seq[String], startYear: Int, endYear: Int): String =
    timed(inner.fetchBls(seriesIds, startYear, endYear))
}
