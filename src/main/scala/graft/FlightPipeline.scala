package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Cleaners, Dedupe, UnifiedJoin}
import graft.sources.{FlightSynth, Tables}

/** E1/E2: the full flight-price comparison pipeline as one lazy Spark
  * DAG (`etl/pipeline.py:29-57`): six source subtrees -> per-source
  * clean -> 14-key unified left-join + wide projection -> keep-latest
  * dedup. The reference runs these stages eagerly and single-threaded;
  * here they are a single declarative plan evaluated by the sink action,
  * so Catalyst prunes/pushes across stage boundaries and the six
  * extract+clean branches execute concurrently.
  *
  * Building the plan reads `lineitem` once for all six sources, and
  * each cleaning stage adds one projection, so `run` costs at most the
  * source read's schema inference before the sink's action.
  */
object FlightPipeline {

  /** The cleaned six-source unify + dedup over synthesized raw sources
    * read from `sfDir`'s lineitem. */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val lineitem = Tables.computeTable(spark, sfDir, "lineitem")
    val cola = Cleaners.cleanCola(FlightSynth.cola(lineitem))
    val set = Cleaners.cleanCompetitor(FlightSynth.set(lineitem),
      "settour_air_tickets_price", "settour_tax")
    val lion = Cleaners.cleanCompetitor(FlightSynth.lion(lineitem),
      "lion_air_tickets_price", "lion_tax")
    val ez = Cleaners.cleanCompetitor(FlightSynth.eztravel(lineitem),
      "eztravel_ticket_air_tickets_price", "eztravel_tax")
    val fez = Cleaners.cleanCompetitor(FlightSynth.foreignEztravel(lineitem),
      "foreign_supplier_eztraval_ticket_air_tickets_price", "foreign_supplier_eztraval_tax")
    val rich = Cleaners.cleanCompetitor(FlightSynth.rich(lineitem),
      "rich_mond_air_tickets_price", "rich_mond_tax")
    val unified = UnifiedJoin.unify(cola, set, lion, ez, fez, rich)
    // D2 (`etl/pipeline.py:56`): keep newest creation_time per payload.
    Dedupe.keepLatestAllCols(unified, "creation_time")
  }
}
