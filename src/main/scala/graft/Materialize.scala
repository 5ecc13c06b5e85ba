package graft

import org.apache.spark.sql.DataFrame

/** Materialization policy for corpus-derived intermediates that are
  * read more than once (MinHash signature tables, LSH edge sets, the
  * deduped pipeline corpus, connected-components rounds).
  *
  * [[stage]] is `localCheckpoint`: the blocks live in the executors'
  * block managers, not replicated, and the lineage is truncated. Every
  * session is a `GraftSession.local` one, so the executors are the
  * driver JVM and a lost block means a lost driver: nothing here would
  * recompute it. Every call site goes through [[stage]], so the count
  * of staged intermediates is one grep.
  */
object Materialize {

  /** `df.localCheckpoint(eager)`. With `eager = false` the
    * materialization is deferred to the first action, but only for a
    * plan without an exchange: under AQE the shuffle stages beneath
    * `df` run at the call (MaterializeSpec).
    */
  def stage(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)
}
