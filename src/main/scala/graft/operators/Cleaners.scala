package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{Dates, Luggage, Normalize}
import graft.schema.FlightVocab._

/** Per-source cleaning stages (SURVEY §2: P1/P2, F-C, F6-F8, F10, F11, F5).
  *
  * Each cleaner is a pure `DataFrame => DataFrame` plan transform —
  * renames are metadata-only, every value transform is a codegen'd
  * `Column` expression, and the invalid-row drop is a single filter that
  * Catalyst pushes toward the scan.
  */
object Cleaners {

  /** P1: cola raw -> standard vocabulary
    * (`etl/transform/cola_transformer.py:121-168`). */
  val ColaRenames: Map[String, String] = {
    val perLeg = Legs.flatMap { i =>
      Seq(
        s"去程航班編號$i" -> depFlight(i), s"回程航班編號$i" -> retFlight(i),
        s"去程艙等與艙等編碼$i" -> depCabin(i), s"回程艙等與艙等編碼$i" -> retCabin(i),
        s"去程起飛時間$i" -> depDepTime(i), s"去程降落時間$i" -> depArrTime(i),
        s"回程起飛時間$i" -> retDepTime(i), s"回程降落時間$i" -> retArrTime(i),
        s"去程起飛機場$i" -> depDepAirport(i), s"去程降落機場$i" -> depArrAirport(i),
        s"回程起飛機場$i" -> retDepAirport(i), s"回程降落機場$i" -> retArrAirport(i),
        s"去程飛機公司及型號$i" -> depAircraft(i), s"回程飛機公司及型號$i" -> retAircraft(i),
        s"去程飛行時間$i" -> depDuration(i), s"回程飛行時間$i" -> retDuration(i))
    }.toMap
    perLeg ++ Map(
      "基礎票價" -> TicketPrice, "票價加價成數" -> TicketPriceMarkup,
      "總售價" -> FinalPrice, "票型" -> NetOrFace, "公式類型" -> RuleType,
      "GDS Type" -> GdsType, "折讓百分比" -> Kp)
  }

  /** P2: competitor raw -> standard vocabulary + supplier-specific
    * price/tax names (`etl/transform/set_transformer.py:28-58` and its
    * four clones). */
  def competitorRenames(priceCol: String, taxCol: String): Map[String, String] =
    Map("去程日期" -> DepartureDate, "回程日期" -> ReturnDate,
      "票面價格" -> priceCol, "稅金" -> taxCol) ++
      Legs.flatMap { i =>
        Seq(s"去程航班編號$i" -> depFlight(i), s"去程艙等$i" -> depCabin(i),
          s"回程航班編號$i" -> retFlight(i), s"回程艙等$i" -> retCabin(i))
      }.toMap

  /** Cola cleaning chain (`cola_transformer.py:29-48`): rename ->
    * cabin-class whitespace strip -> luggage recompose -> date/year
    * derivation from the first-leg departure time -> ensure key columns
    * -> ensure metadata. `nowEpoch` parameterizes the reference's
    * `time.time()` fill for determinism. Two projections after the
    * rename: the value transforms, then the pads and defaults. */
  def cleanCola(raw: DataFrame, nowEpoch: Double = 0d): DataFrame = {
    val renamed = Conform.renameColumns(raw, ColaRenames)
    val has = renamed.columns.toSet
    // F11 (`cola_transformer.py:232-245`): strip literal spaces in 艙等 cols
    val cabins = renamed.columns.toSeq.filter(_.contains("艙等"))
      .map(c => c -> Normalize.normalizeCabinClass(col(c)))
    // F5 (`cola_transformer.py:247-269`): luggage recompose
    val luggage = renamed.columns.toSeq.filter(_.contains("行李"))
      .map(c => c -> Luggage.recomposeLuggage(col(c)))
    // F6/F7/F8 (`cola_transformer.py:211-228`): dates from leg-1 times
    def dates(time: String, date: String, year: String) =
      if (!has(time)) Nil
      else Seq(
        date -> Dates.isoSliceToMmDd(Dates.toDateYyyySlashMmSlashDd(col(time))),
        year -> Dates.yearPrefix(col(time)))
    val cleaned = Conform.project(renamed, cabins ++ luggage ++
      dates(depDepTime(1), DepartureDate, DepartureYear) ++
      dates(retDepTime(1), ReturnDate, ReturnYear))
    // P3 (`cola_transformer.py:271-287`) + P4 (`cola_transformer.py:289-300`)
    Conform.project(cleaned,
      Conform.nullPads(cleaned,
        (FlightKeyCols ++ Seq(DepartureDate, ReturnDate)).map(_ -> StringType)) ++
        Seq(Conform.withDefault(cleaned, CreationTime, lit(nowEpoch)),
          Conform.withDefault(cleaned, Kp, lit(""))))
  }

  /** P7 (`cola_transformer.py:170-201`): split each composite
    * `去程_航班號{n}` / `回程_航班號{n}` column ("CI073 K") on the FIRST
    * space into `…航班編號{n}` (trimmed) and `…艙等{n}` (the untouched
    * remainder, so "CI073  K" keeps its leading space exactly as the
    * reference's `str.split(' ', n=1)` does), dropping the original.
    * The reference's all-null branch (manufacture both columns as
    * nulls) is subsumed: splitting a null yields null in both outputs,
    * with no data-dependent schema decision — the same plan shape at
    * any scale. */
  def splitFlightAndClass(df: DataFrame): DataFrame = {
    val composites = df.columns.toSeq.filter(c =>
      c.startsWith("去程_航班號") || c.startsWith("回程_航班號"))
    val parts = composites.flatMap { c =>
      val leg = c.takeRight(1)
      val prefix = c.dropRight(1).replace("航班號", "")
      val pieces = split(col(c), " ", 2)
      Seq(s"${prefix}航班編號$leg" -> trim(get(pieces, lit(0))),
        s"${prefix}艙等$leg" -> get(pieces, lit(1)))
    }
    Conform.project(df, parts, drop = composites.toSet)
  }

  private def flightCols(df: DataFrame): Seq[String] =
    (Legs.map(depFlight) ++ Legs.map(retFlight)).filter(df.columns.contains)

  /** F10 (`set_transformer.py:85-92`) over every flight-number column. */
  private def normalizedFlights(df: DataFrame): Seq[(String, Column)] =
    flightCols(df).map(c => c -> Normalize.normalizeFlightNumber(col(c)))

  /** Competitor cleaning chain (`set_transformer.py:13-26` + 4 clones):
    * rename -> flight-number normalize (F10) and ISO date slice to
    * MM/DD (F7) in one projection -> invalid-row drop (F-C). */
  def cleanCompetitor(raw: DataFrame, priceCol: String, taxCol: String): DataFrame = {
    val renamed = Conform.renameColumns(raw, competitorRenames(priceCol, taxCol))
    // F7 (`set_transformer.py:60-66`; guarded like the foreign variant)
    val dates = Seq(DepartureDate, ReturnDate).filter(renamed.columns.contains)
      .map(c => c -> Dates.isoSliceToMmDd(col(c)))
    val df = Conform.project(renamed, normalizedFlights(renamed) ++ dates)
    // F-C (`set_transformer.py:94-109`); the reference logs each dropped
    // row — distributed engines expose the reject side as a branch
    // instead (see `invalidRows`).
    val flights = flightCols(df)
    if (flights.isEmpty) df
    else df.filter(Normalize.allFlightNumbersValid(flights.map(col)))
  }

  /** The complement of F-C's keep-filter — the reference logs these rows
    * (`set_transformer.py:103-107`); at scale they go to a reject sink. */
  def invalidRows(df: DataFrame): DataFrame =
    Conform.project(df, normalizedFlights(df))
      .filter(!Normalize.allFlightNumbersValid(flightCols(df).map(col)))
}
