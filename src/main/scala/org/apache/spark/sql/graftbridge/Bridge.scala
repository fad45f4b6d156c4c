package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved Column↔Expression conversion behind private[sql]
  * (org.apache.spark.sql.classic.ExpressionUtils). Custom Catalyst
  * expressions (SURVEY.md §7) need both directions; this bridge lives in a
  * subpackage of org.apache.spark.sql solely to re-export them. */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Clone a session: same SparkContext/cache/catalog, but an
    * independent SQLConf *copied* from the parent (unlike the public
    * `newSession()`, which resets runtime conf to builder defaults).
    * Lets a writer scope a conf override to one job without mutating —
    * or even locking — the user's session. */
  def cloneSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Re-bind a DataFrame's logical plan to another session (the write
    * path then resolves conf from that session, not the plan's origin). */
  def ofRows(s: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.logical)

  /** A frame with `schema` whose rows are `f` over each partition of
    * `df`'s internal rows: a flatMap that hands Spark InternalRows
    * directly (no encoder, so no per-element boxing of array columns).
    * The input rows may be reused buffers; `f` must copy what it keeps. */
  def flatMapRows(s: org.apache.spark.sql.SparkSession,
                  df: org.apache.spark.sql.DataFrame,
                  schema: org.apache.spark.sql.types.StructType)(
      f: Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.toRdd.mapPartitions(f), schema)

  /** Materialize a DataFrame ONCE as a persisted InternalRow RDD and
    * wrap it as a fresh DataFrame whose plan is a bare LogicalRDD.
    * Like `localCheckpoint()` but WITHOUT carrying the origin plan's
    * constraints/statistics into the new leaf — Spark 4.1's
    * localCheckpoint copies `originConstraints` whose expression ids can
    * escape the new output when the checkpointed frame lands under a
    * Union (UnionBase.rewriteConstraints throws key-not-found; hit by
    * graft's merge-source materialization, r18). The rows are copied
    * (toRdd reuses UnsafeRow buffers) and persisted MEMORY_AND_DISK;
    * `count()` makes materialization eager so exactly one evaluation of
    * the origin plan ever runs. */
  def materialize(s: org.apache.spark.sql.SparkSession,
                  df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    materializeReleasable(s, df)._1

  /** [[materialize]], returning alongside the frame a RELEASE handle that
    * unpersists the backing RDD (non-blocking). The cached blocks are
    * otherwise only reclaimed when the RDD object is GC'd — a long-lived
    * writer replaying thousands of merge batches would accumulate cached
    * blocks and lean on LRU eviction under pressure (r18 verdict). Delta's
    * materializeSource releases its RDD when the merge finishes; callers
    * here do the same in a `finally` after the commit. Release only once
    * the frame has no further consumers (re-evaluating an unpersisted
    * lineage would forfeit the fixed-nondeterminism guarantee); the merge
    * paths qualify — the commit is the last consumer. */
  def materializeReleasable(s: org.apache.spark.sql.SparkSession,
                            df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val (frame, n @ _, release) = materializeCount(s, df)
    (frame, release)
  }

  /** [[materializeReleasable]], also surfacing the materialized ROW
    * COUNT — the eager evaluation already counts, so an iterative
    * driver loop (BFS frontier emptiness, convergence tests) gets its
    * per-round scalar for free instead of submitting a separate
    * isEmpty/count job against the checkpointed rows (r19). */
  def materializeCount(s: org.apache.spark.sql.SparkSession,
                       df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long, () => Unit) = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count()
    (cs.internalCreateDataFrame(rdd, df.schema), n,
      () => { rdd.unpersist(blocking = false); () })
  }
}
