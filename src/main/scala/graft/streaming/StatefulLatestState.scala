package graft.streaming

/** The row shape of the CDC upsert table that
  * [[Materializer.startUpsert]] writes through [[Sinks.upsertByKey]]:
  * one row per key, the highest-lsn change seen so far. The table keeps
  * no streaming state beside it; the latest-state rule lives in
  * [[graft.cdc.Cdc.latestByKey]]. */
object StatefulLatestState {

  /** One key's current row. A delete stays as a tombstone
    * (`deleted = true`), so a lower-lsn replay cannot resurrect the key;
    * [[Sinks.readLatest]] hides tombstones. */
  case class KeyState(orderid: Int, lsn: Long, deleted: Boolean,
                      custid: Int, amount: Int, city: String)
}
