package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Event-time conversion for the `events` table. `ts` is canonical
  * epoch-nanos LongType once read through
  * [[graft.core.Tables.normalizeEventTs]]; event-time windows need it
  * as a proper timestamp.
  */
object EventStream {

  /** Epoch-nanos long → timestamp (microsecond precision). Integer
    * division (`div`): the double-division form `(c / 1000)` has a
    * ~256 ns ulp at 1.7e18, which would make an event-time window
    * diverge from the batch q14 bucketing (`ts div 1000`) near hour
    * edges.
    */
  def nanosToTs(c: Column): Column =
    timestamp_micros(call_function("div", c, lit(1000L)))
}
