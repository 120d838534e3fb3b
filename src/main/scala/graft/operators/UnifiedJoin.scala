package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{Airline, Dates, Durations, Luggage, Normalize}
import graft.schema.FlightVocab._

/** The unifier: J2 key canonicalization, the 14-key five-way left join
  * (J1), year re-attachment (F9), the ~85-column English projection
  * (P5 with F1-F14), the any-competitor-tax filter (F-D) and the final
  * blank-string scrub (F14). Reference:
  * `etl/transform/unified_transformer.py:149-544`.
  *
  * Spark-first design notes:
  *  - Join keys are normalized to non-null strings ("" for missing), so
  *    a plain equi-join reproduces pandas' null-key-matching behavior by
  *    construction (SURVEY §2.4 J1 note).
  *  - Each competitor side is pre-projected to keys + payload before the
  *    join — this both reproduces the reference's suffix-cleanup
  *    semantics (P6) and hands Catalyst a pruned build side, which AQE
  *    typically broadcasts (competitors are subsets of the primary).
  *  - At 100 TB the five joins share one shuffle partitioning on the
  *    14-key tuple: Catalyst reuses the exchange of the cola side across
  *    the join chain instead of re-shuffling per join.
  */
object UnifiedJoin {

  /** J2: canonicalize the 14 join keys on one frame
    * (`unified_transformer.py:216-258`), in one projection. A missing
    * key column enters as a typed null, normalized like the rest. */
  def normalizeForJoin(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    Conform.project(df, JoinKeys.map { k =>
      val base = Normalize.normalizeKey(
        if (present(k)) col(k) else lit(null).cast(StringType))
      val v =
        if (FlightNumberKeyCols.contains(k) || CabinKeyCols.contains(k))
          regexp_replace(base, "\\s+", "")
        else if (k == DepartureDate || k == ReturnDate)
          Normalize.normalizeDateKeyMMDD(base)
        else base
      k -> v
    })
  }

  /** J1: cola ⟕ set ⟕ lion ⟕ eztravel ⟕ foreign-eztravel ⟕ rich on the
    * 14-key tuple (`unified_transformer.py:260-270`). */
  def joinPriceAndTax(cola: DataFrame, set: DataFrame, lion: DataFrame,
                      eztravel: DataFrame, foreignEztravel: DataFrame,
                      rich: DataFrame): DataFrame = {
    val colaN = normalizeForJoin(cola)
    val competitors = Seq(set, lion, eztravel, foreignEztravel, rich).map { c =>
      val n = normalizeForJoin(c)
      // pre-select keys + supplier payload (P6 semantics; column pruning)
      val payload = n.columns.filter(cn =>
        SupplierPriceTaxCols.exists { case (p, t) => cn == p || cn == t })
      n.select((JoinKeys ++ payload).map(col): _*)
    }
    competitors.foldLeft(colaN)((acc, right) => acc.join(right, JoinKeys, "left"))
  }

  /** F9: `出發日期 = 出發年份 + "/" + MM/DD` then drop the year columns
    * (`unified_transformer.py:518-537`). */
  def handleDate(df: DataFrame): DataFrame =
    Conform.project(df, Seq(
        DepartureDate -> Dates.attachYear(col(DepartureYear), col(DepartureDate)),
        ReturnDate -> Dates.attachYear(col(ReturnYear), col(ReturnDate))),
      drop = Set(DepartureYear, ReturnYear))

  /** P5: the wide English projection (`unified_transformer.py:290-503`).
    * One `select` of aliased expressions — a single codegen'd stage. */
  def project(df: DataFrame): DataFrame = {
    def has(c: String): Boolean = df.columns.contains(c)
    def opt(c: String): Column = if (has(c)) col(c) else lit(null).cast(StringType)

    val airlineCols = Legs.flatMap { i =>
      Seq(Airline.extractAirlineCode(opt(depFlight(i))).as(s"departure_airline_$i"),
        Airline.extractAirlineCode(opt(retFlight(i))).as(s"return_airline_$i"))
    }
    val airportCols = Legs.flatMap { i =>
      Seq(
        Airline.airportHeadToken(opt(depDepAirport(i))).as(s"departure_airport_$i"),
        Airline.airportHeadToken(opt(depArrAirport(i))).as(s"departure_arrival_airport_$i"),
        Airline.airportHeadToken(opt(retDepAirport(i))).as(s"return_airport_$i"),
        Airline.airportHeadToken(opt(retArrAirport(i))).as(s"return_arrival_airport_$i"))
    }
    val timeCols = Legs.flatMap { i =>
      Seq(
        Dates.toTimeHhmm(opt(depDepTime(i))).as(s"departure_flight_time_$i"),
        Dates.toTimeHhmm(opt(depArrTime(i))).as(s"departure_arrival_flight_time_$i"),
        Dates.toTimeHhmm(opt(retDepTime(i))).as(s"return_flight_time_$i"),
        Dates.toTimeHhmm(opt(retArrTime(i))).as(s"return_arrival_flight_time_$i"))
    }
    val aircraftCols = Legs.flatMap { i =>
      Seq(opt(depAircraft(i)).as(s"departure_aircraft_type_$i"),
        opt(retAircraft(i)).as(s"return_aircraft_type_$i"))
    }
    val luggageCols = Legs.flatMap { i =>
      Seq(
        Luggage.luggageValue(opt(depLuggage(i))).as(s"departure_luggage_value_$i"),
        Luggage.luggageUnit(opt(depLuggage(i))).as(s"departure_luggage_unit_$i"),
        Luggage.luggageValue(opt(retLuggage(i))).as(s"return_luggage_value_$i"),
        Luggage.luggageUnit(opt(retLuggage(i))).as(s"return_luggage_unit_$i"))
    }
    val durationCols = Legs.flatMap { i =>
      Seq(
        Durations.durationToMinutes(opt(depDuration(i))).as(s"departure_flight_duration_$i"),
        Durations.durationToMinutes(opt(retDuration(i))).as(s"return_flight_duration_$i"))
    }
    val passthroughFlightCols = Legs.flatMap { i =>
      Seq(opt(depFlight(i)).as(s"departure_flight_number_$i"),
        opt(retFlight(i)).as(s"return_flight_number_$i"))
    }
    val cabinCols = Legs.flatMap { i =>
      Seq(opt(depCabin(i)).as(s"departure_cabin_class_$i"),
        opt(retCabin(i)).as(s"return_cabin_class_$i"))
    }
    // A1 (`unified_transformer.py:427-436`)
    val transferCols = Seq(
      Airline.transferCount(Legs.map(i => opt(depFlight(i)))).as("departure_transfer_count"),
      Airline.transferCount(Legs.map(i => opt(retFlight(i)))).as("return_transfer_count"))
    val scalarCols = Seq(
      col(GdsType).as("gds_type"),
      col(TicketPrice).as("ticket_price"),
      col(TicketPriceMarkup).as("ticket_price_markup_percentage"),
      col(Tax).as("tax"),
      col(TaxMarkup).as("tax_markup_percentage"),
      col(FinalPrice).as("final_price"),
      col(DepartureDate).as("departure_date"),
      col(ReturnDate).as("return_date"),
      col(CreationTime).as("creation_time"))
    // F13 (`unified_transformer.py:475-487`): finite float -> int
    val supplierCols = SupplierPriceTaxCols.flatMap { case (p, t) =>
      Seq(
        (if (has(p)) col(p).cast("long") else lit(null).cast("long")).as(p),
        (if (has(t)) col(t).cast("long") else lit(null).cast("long")).as(t))
    }
    val tailCols = Seq(
      col(NetOrFace).as("net_price_or_ticket_price"),
      col(RuleType).as("ticket_rule_type"),
      col(Kp).as("kp"),
      col(Discount).as("discount"),
      col(FixedFee).as("activity_fee_adjustment"))

    df.select(airlineCols ++ airportCols ++ timeCols ++ aircraftCols ++
      luggageCols ++ durationCols ++ passthroughFlightCols ++ cabinCols ++
      transferCols ++ scalarCols ++ supplierCols ++ tailCols: _*)
  }

  /** F-D: keep rows with at least one competitor tax
    * (`unified_transformer.py:505-516`). */
  def removeNoTaxData(df: DataFrame): DataFrame =
    df.filter(coalesce(CompetitorTaxCols.map(col): _*).isNotNull)

  /** F14: frame-wide blank/whitespace-string -> NULL
    * (`unified_transformer.py:539-544`). */
  def blankStringsToNull(df: DataFrame): DataFrame = {
    val exprs = df.schema.fields.map { f =>
      if (f.dataType == StringType) Normalize.blankToNull(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(exprs.toSeq: _*)
  }

  /** Full unifier (`unified_transformer.py:149-173`). */
  def unify(cola: DataFrame, set: DataFrame, lion: DataFrame,
            eztravel: DataFrame, foreignEztravel: DataFrame,
            rich: DataFrame): DataFrame = {
    val joined = joinPriceAndTax(cola, set, lion, eztravel, foreignEztravel, rich)
    blankStringsToNull(removeNoTaxData(project(handleDate(joined))))
  }
}
