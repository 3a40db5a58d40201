package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time formatting helpers (SURVEY.md §2.8 X15).
  *
  * Reference semantics: ports_scan.py:92-94 (+3 more apps) epoch-ms →
  * `%Y-%m-%dT%H:%M:%S.%03dZ`.
  */
object TimeFunctions {

  /** Epoch-ms → ISO8601 with milliseconds and a literal Z (UTC), exactly
    * the reference's emission format.
    *
    * The instant → wall-clock conversion is PINNED to UTC at the
    * expression (instant cast to TIMESTAMP_NTZ with an explicit zone,
    * then formatted zone-free): `date_format` alone renders in
    * spark.sql.session.timeZone, which would stamp a local wall-clock
    * next to the literal Z on any session built without Graft.tune. */
  def isoTimestamp(ms: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.TimestampNTZType
    date_format(
      ColumnBridge.column(Cast(
        ColumnBridge.expression(timestamp_millis(ms)),
        TimestampNTZType, Some("UTC"))),
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
  }
}
