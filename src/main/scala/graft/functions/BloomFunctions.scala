package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Bloom-filter build/probe Columns over Spark's own `util.sketch
  * .BloomFilter` — the same machinery Catalyst's runtime shuffle-join
  * filters use, surfaced as library functions so an operator can make the
  * build/probe sides explicit (Catalyst only injects them between the two
  * sides of one join; the decontamination screen probes a filter built by a
  * DIFFERENT branch of the plan).
  *
  * `bloomAgg` aggregates LONG keys into a serialized filter (binary);
  * `mightContain` probes it. The probe side needs the filter as a FOLDABLE
  * expression (Catalyst's type check rejects a non-constant filter column),
  * so callers materialize the one-row build aggregate and inline it as a
  * byte literal — exactly the shape Catalyst's `InjectRuntimeFilter`
  * produces, where the build side becomes a materialized scalar subquery. */
object BloomFunctions {
  val AggName = "graft_bloom_agg"
  val ProbeName = "graft_bloom_might_contain"

  /** Bloom filter over a LONG key column, sized for `numItems` expected
    * distinct keys at `bitsPerItem` bits each (8 bits/item ≈ 2% false-
    * positive rate). Returns one BINARY row. */
  def bloomAgg(key: Column, numItems: Long, bitsPerItem: Int = 8): Column =
    call_function(AggName, key,
      org.apache.spark.sql.functions.lit(numItems),
      org.apache.spark.sql.functions.lit(numItems * bitsPerItem))

  /** Probe: true iff `key` MIGHT be in the serialized filter (false
    * positives possible at the configured rate, false negatives never).
    * `bloom` must be foldable (a literal). */
  def mightContain(key: Column, bloom: Column): Column =
    call_function(ProbeName, key, bloom)
}
