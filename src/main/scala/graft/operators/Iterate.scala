package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.InternalBridge

/** Helpers for DataFrame fixpoint loops (d06 / g06 / c03 style). */
object Iterate {

  /** Eager localCheckpoint + STATS RESET — the companion to the lineage
    * cut the iterative operators already document.
    *
    * `Dataset.localCheckpoint` truncates the plan but COPIES the
    * checkpointed plan's statistics onto the new leaf. A loop whose body
    * reads its state k times (a self-join, or joining state against two
    * arms) therefore multiplies sizeInBytes into the next round's stats:
    * after N rounds the BigInt is ~k^N times the bit LENGTH, and
    * Catalyst's size estimation starts multiplying million-bit integers
    * — measured on c03's 3-reference body: planning grew from 0.3 s to
    * 17 s per round by round 12, with task time flat at ~150 ms (the
    * driver burns the wall time in BigInteger.multiply). Rebuilding the
    * Dataset from the checkpointed RDD gives the leaf the session's
    * default size estimate, so every round plans identically.
    *
    * The row conversion this adds runs once per round over state-sized
    * (frontier-sized) data — noise next to one shuffle.
    */
  def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** [[checkpointFresh]] fused with a convergence count: materializes
    * `df` AND counts `boolCol`-true rows in the SAME job, via an
    * accumulator ticked during the persist pass. A fixpoint loop
    * otherwise pays two jobs per round — materialize, then a
    * `filter(moved).count()` scan over the just-persisted blocks — and
    * on a many-round frontier loop the second job is pure scheduling
    * floor (the data was already in memory). Accumulator caveat: a
    * retried/speculated task can double-count, so the value may
    * OVERSTATE — fine for a `changed > 0` convergence test, where the
    * worst case is one extra (idempotent, frontier-sized) round; do not
    * use it as a result value.
    *
    * Persist + rebuild instead of `localCheckpoint` because the counting
    * map has to run inside the materialized pass. The pass runs on
    * InternalRow (`toRdd` in, [[org.apache.spark.sql.graft.InternalBridge]]
    * out; rows copied before persisting — the sort/scan buffers are
    * reused): a first cut persisted `df.rdd`, and storing EXTERNAL Row
    * objects read measurably slower (c03 ~5.5 -> ~7.0 s same-hour A/B)
    * — every downstream read paid the external->internal conversion the
    * internal blocks avoid. [[release]] finds the persisted ancestor by
    * walking the dependency chain, as for checkpointFresh.
    */
  def checkpointFreshCounted(df: DataFrame, boolCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val acc = spark.sparkContext.longAccumulator
    val idx = df.schema.fieldIndex(boolCol)
    val mapped = df.queryExecution.toRdd.map { r =>
      if (!r.isNullAt(idx) && r.getBoolean(idx)) acc.add(1L)
      r.copy()
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    mapped.count() // the one materialization job
    (InternalBridge.internalCreateDataFrame(spark, mapped, df.schema), acc.value)
  }

  /** [[checkpointFresh]] fused with an exact ROW count: materializes `df`
    * and returns its cardinality from the SAME persist job (the count
    * action over the mapped RDD both materializes the blocks and reports
    * the row total — exact, unlike the accumulator in
    * [[checkpointFreshCounted]], so it can drive a set-equality fixpoint
    * test on a monotone loop). A shrinking-set loop otherwise pays a
    * second count job per round just to detect its fixpoint — which is
    * why g06 used to run its full fixed round budget unconditionally.
    */
  def checkpointFreshRowCount(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession
    val mapped = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = mapped.count() // the one materialization job
    (InternalBridge.internalCreateDataFrame(spark, mapped, df.schema), n)
  }

  /** Unpersist the checkpoint blocks behind a SUPERSEDED loop state.
    *
    * A fixpoint loop that assigns `state = nextCheckpoint` each round
    * leaves every prior round's `localCheckpoint(true)` blocks pinned in
    * the block manager for the life of the process — in a 361-query
    * bench JVM the dead rounds accumulate into real memory pressure (the
    * r7 adjudication's median-above-first signature on g16/d16). Call
    * this on the round's PREVIOUS state right after the new one is
    * materialized; never on state still referenced (the edge list, the
    * final result).
    *
    * Works on both checkpoint spellings: a plain `localCheckpoint` result
    * (LogicalRDD over the persisted internal RDD) and a
    * [[checkpointFresh]] result (LogicalRDD over a row-conversion RDD a
    * few narrow dependencies above the persisted one) — [[releaseRDD]]
    * walks each leaf's dependency chain to the first persisted ancestor.
    * A non-RDD-backed plan is a no-op, so calling it on a never-
    * checkpointed frame is safe.
    *
    * True when at least one persisted ancestor block set was released —
    * exposed so loops (and Round8OpsSpec) can ASSERT the release took,
    * instead of the call failing open.
    */
  def release(df: DataFrame): Boolean = {
    // collect EVERY RDD-backed leaf (handles a .select/.filter layered
    // over the checkpoint — the r8 spelling matched only a BARE
    // LogicalRDD root and silently no-opped otherwise)
    val released = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => releaseRDD(l.rdd)
    }.contains(true)
    if (!released)
      org.apache.logging.log4j.LogManager.getLogger("graft.operators.Iterate")
        .warn("Iterate.release: no persisted ancestor found — the frame was " +
          "not checkpointed (or already released); checkpoint blocks may leak")
    released
  }

  /** Drops the blocks of the first persisted ancestor of `rdd` (itself
    * included) on every dependency path; true when any were dropped.
    *
    * The one block-release path of the library: loop state, session
    * memos and superseded solver supersteps all go through it. "Persisted"
    * means registered in `getPersistentRDDs` — `sc.unpersistRDD` leaves
    * an RDD's storage level set, so a second call finds nothing.
    * Releasing through [[InternalBridge.unpersistRDD]] rather than
    * `RDD.unpersist` skips the WARN the latter logs for a locally
    * checkpointed RDD, whose lineage is truncated on purpose here.
    */
  private[graft] def releaseRDD(rdd: RDD[_]): Boolean = {
    val persisted = rdd.sparkContext.getPersistentRDDs
    def walk(r: RDD[_]): Boolean =
      if (persisted.contains(r.id)) {
        InternalBridge.unpersistRDD(r.sparkContext, r.id)
        true
      } else r.dependencies.map(dep => walk(dep.rdd)).contains(true)
    walk(rdd)
  }
}
