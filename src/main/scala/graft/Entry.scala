package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** One query of the correctness gate: its Spark function, the DuckDB oracle
  * that computes the same rows, and its cost tier. [[SparkEntry.registry]]
  * holds one record per query; nothing else names a query.
  *
  * `tier` orders the gate run: [[Entry.Light]] for the bulk, then 1, 2, …
  * for the measured heavy tail, costliest last. A time-budgeted gate that
  * kills the run mid-way then still finds complete dumps for the bulk of the
  * suite — partial, never empty.
  */
final case class Entry(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    tier: Int = Entry.Light
)

object Entry {

  val Light = 0

  /** The gate's run order: light queries by name, then the heavy tail. */
  def inRunOrder(entries: Seq[Entry]): Seq[Entry] = entries.sortBy(e => (e.tier, e.name))

  /** The output contract every query meets, as the list of its breaches
    * (empty when it holds): no array, map or struct column — the driver
    * compares sorted scalar rows — and at least one row, so a match is
    * never two empty results agreeing.
    */
  def contract(schema: StructType, rows: Long): Seq[String] =
    schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
        s"column ${f.name} is ${f.dataType.simpleString}"
    } ++ (if (rows < 1) Seq("no rows") else Nil)
}
