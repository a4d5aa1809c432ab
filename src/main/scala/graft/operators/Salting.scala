package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Skew mitigation for aggregations whose key distribution has hot keys
  * (one detector source producing 100× the events of the rest): salt the
  * hot key into `factor` sub-keys, aggregate per (key, salt), then merge
  * per key, turning one hot partition into `factor` even ones
  * (`events_type_counts_salted`).
  *
  * AQE's skew-join handles this at runtime for sort-merge joins
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default in our sessions);
  * explicit salting remains the tool for hot-key aggregations.
  */
object Salting {

  /** Deterministic salt derived from a row-unique column (offset / id) —
    * reproducible runs, unlike `rand()`.
    */
  def salt(uniqueCol: Column, factor: Int): Column =
    pmod(xxhash64(uniqueCol), lit(factor)).cast("int")
}
