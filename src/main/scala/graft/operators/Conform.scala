package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** P3/P4: schema conformance — add absent columns as typed nulls so wide
  * unions/joins never fail on shape. This is the Spark analogue of the
  * reference's `if col not in df.columns: df[col] = pd.NA`
  * (`etl/transform/unified_transformer.py:197-207`,
  * `etl/transform/cola_transformer.py:271-287`).
  *
  * Purely a plan rewrite (adds `Alias(Literal(null))` projections), so it
  * costs nothing at runtime and Catalyst prunes unused pads. Each stage
  * is one projection ([[project]]): a per-column `withColumn` chain
  * re-analyzes the growing plan once per column.
  */
object Conform {

  /** Add every missing column of `schema` as a typed null literal. */
  def conformSchema(df: DataFrame, schema: StructType): DataFrame =
    project(df, nullPads(df, schema.fields.toSeq.map(f => f.name -> f.dataType)))

  /** Ensure named columns exist (default StringType nulls). */
  def ensureColumns(df: DataFrame, cols: Seq[String], dt: DataType = StringType): DataFrame =
    project(df, nullPads(df, cols.map(_ -> dt)))

  /** A typed null for each of `cols` that `df` lacks, in `cols` order. */
  def nullPads(df: DataFrame, cols: Seq[(String, DataType)]): Seq[(String, Column)] = {
    val present = df.columns.toSet
    cols.filterNot(c => present(c._1)).map { case (name, dt) => name -> lit(null).cast(dt) }
  }

  /** P4: `name`'s value made non-null with `fill`, or `fill` where the
    * column is absent (`cola_transformer.py:289-300` — `建立時間`
    * defaults to now-epoch, `KP` to ""). */
  def withDefault(df: DataFrame, name: String, fill: Column): (String, Column) =
    name -> (if (df.columns.contains(name)) coalesce(col(name), fill) else fill)

  /** One projection that sets `cols` — a column `df` has is replaced in
    * place, a new one appended in `cols` order — and leaves out `drop`:
    * the column order a chain of `withColumn` calls and a final `drop`
    * gives, at the analysis cost of one plan node instead of one per
    * column. Every expression reads `df`'s columns, never a sibling in
    * `cols`. */
  def project(df: DataFrame, cols: Seq[(String, Column)],
              drop: Set[String] = Set.empty): DataFrame =
    if (cols.isEmpty && drop.isEmpty) df
    else {
      val set = cols.toMap
      val present = df.columns.toSet
      val kept = df.columns.toSeq.filterNot(drop).map(c =>
        set.get(c).fold(col("`" + c.replace("`", "``") + "`"))(_.as(c)))
      val added = cols.map(_._1).distinct.filterNot(present).map(n => set(n).as(n))
      df.select(kept ++ added: _*)
    }

  /** Bulk rename via map, ignoring absent sources — P1/P2
    * (`cola_transformer.py:121-168`, `set_transformer.py:28-58`). */
  def renameColumns(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.withColumnsRenamed(renames.filter { case (from, _) => df.columns.contains(from) })
}
