package graft

import org.apache.spark.sql.types.TimestampType
import graft.core.Tables

/** Harness-parity regression: read events the way an external caller
  * does — a session with NO graft-specific confs, reading the real
  * generated testdata. Round 4 failed precisely because the repo's own
  * entry points carried a legacy parquet workaround while the
  * regenerated `events.parquet` (ts: timestamp[us]) made every
  * vanilla-session read resolve `ts` as TIMESTAMP_NTZ and the `ts DIV
  * 1000` arithmetic fail analysis. This spec pins the contract:
  * loading `events` must yield TimestampType with zero session
  * prerequisites beyond UTC, which every entry point pins.
  * `Tables.load` reads with declared schemas; that they match the
  * parquet footers is TablesSpec's contract, and QueriesSmokeSpec
  * executes every query in such a vanilla session.
  */
class HarnessParitySpec extends SparkSpec {

  test("events.ts resolves to TimestampType with no legacy confs") {
    val vanilla = spark.newSession()
    vanilla.conf.set("spark.sql.session.timeZone", "UTC")
    val ev = Tables.load(vanilla, sfDir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
  }
}
