package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ID generation (reference F28: uuid.uuid4() throughout, e.g.
  * document_collector.py:177-182) with the determinism escape hatch
  * FIXTURES.md requires: real runs use random UUIDs, oracle-checked runs
  * derive UUID-shaped ids from content so both engines can reproduce
  * them. */
object Ids {

  /** Deterministic UUID-format id derived from key columns: md5 the
    * concatenated keys and format as 8-4-4-4-12. Stable across engines
    * (md5 is identical in Spark and DuckDB) and across runs — the
    * seedable substitute the oracle gate needs. */
  def uuidDeterministic(keys: Column*): Column = {
    val h = md5(concat_ws("", keys: _*))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }
}
