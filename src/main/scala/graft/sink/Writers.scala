package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sink-side conflict semantics (SURVEY.md §2.10, K3–K9), replacing the
  * reference's Postgres ON CONFLICT upserts
  * (reference src/load/load_to_postgis.py:151-328) with pure-DataFrame
  * algorithms over parquet tables:
  *
  *  - K3/K4 insert-if-absent (DO NOTHING)  → left-anti join + append
  *  - K5/K6 merge (DO UPDATE)              → union + row_number, new wins
  *  - K7 per-row error isolation           → valid/reject split
  *
  * Atomicity is Spark's job-level commit; the reference's staged
  * `conn.commit()` per table (K9, load_to_postgis.py:370-384) maps to
  * ordered write jobs. At 100 TB the merge shuffles once on the key — at
  * that scale you'd bucket the target table by the merge key so the window
  * runs shuffle-free.
  */
object Writers {

  /** K3/K4: rows of `incoming` whose key is absent from `existing`
    * (ON CONFLICT DO NOTHING). Broadcast the smaller side when existing
    * keys are dimension-sized. */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame,
                     keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(),
      keys, "left_anti")

  /** K5/K6: merge with last-writer-wins on the conflict key — new rows
    * replace old on key collision; among duplicate-key rows within one
    * side, the LARGEST `tieBreak` (the newest) wins, matching the
    * last-writer-wins contract. */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
            tieBreak: String): DataFrame = {
    val unioned = existing.withColumn("_is_new", lit(0))
      .unionByName(incoming.withColumn("_is_new", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_is_new").desc, col(tieBreak).desc)
    unioned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_is_new", "_rn")
  }

  /** K7: split rows by a validity predicate → (valid, rejects). The rejects
    * side carries the reason for the A3 run-summary accounting. */
  def splitRejects(df: DataFrame, valid: org.apache.spark.sql.Column,
                   reason: String): (DataFrame, DataFrame) =
    (df.filter(valid),
     df.filter(!valid).withColumn("reject_reason", lit(reason)))
}
