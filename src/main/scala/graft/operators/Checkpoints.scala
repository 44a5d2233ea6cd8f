package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage cuts for iterative DataFrame operators ([[Graph]], [[Markov]],
  * [[Dedup.clusters]]): each iteration must truncate the growing plan or
  * the optimizer re-analyzes an exponentially deeper tree every round.
  *
  * Two implementations, selected per session:
  *  - default: eager `localCheckpoint` — blocks live in executor
  *    storage. Fastest, and correct on `local[*]`; on a real cluster a
  *    lost executor loses blocks whose lineage was truncated, failing
  *    the job (Spark cannot recompute past a localCheckpoint).
  *  - `spark.graft.checkpoint.reliable=true`: reliable `checkpoint()` to
  *    the configured checkpoint directory
  *    (`SparkContext.setCheckpointDir`, an HDFS/S3 path on a cluster) —
  *    executor loss replays from durable storage, the posture a
  *    1000-executor run wants. Same results, same plans downstream (both
  *    cuts scan a materialized RDD); CheckpointSpec pins that.
  *
  * Storage note for the reliable path: Spark deletes reliable
  * checkpoint data only when `spark.cleaner.referenceTracking
  * .cleanCheckpoints=true` (set it at session build — it cannot change
  * at runtime) AND the RDD is GC'd; otherwise each iteration leaves one
  * durable copy of its working frame under the checkpoint dir. Long-
  * running drivers should set the cleaner conf or point the dir at a
  * storage-lifecycle-managed path (e.g. an S3 prefix with expiry).
  */
object Checkpoints {

  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Run an iterative operator's loop with planning sized to the LOOP
    * frames instead of the session defaults. Iterative operators whose
    * per-iteration frames are known-small at loop entry (rank vectors,
    * chain-state grids, BFS frontiers over an aggregated click graph —
    * all bounded by an already-materialized setup frame) pay two fixed
    * session-level costs per iteration that dwarf the actual work:
    * AQE's stage-by-stage materialization schedules one JOB per
    * exchange (measured r15: ~8 one-task jobs per PageRank iteration),
    * and without AQE every tiny exchange fans out to
    * `spark.sql.shuffle.partitions` near-empty tasks. Since the loop
    * input sizes are exact counts (the setup frames are checkpointed),
    * partitioning is derived from THEM — guide §2's "derive from input
    * size", not a constant: AQE off + shuffle partitions =
    * ceil(rows / rowsPerPartition) clamped to the session value, so a
    * vocabulary-sized loop runs one single-task job per iteration
    * while a billion-row loop keeps the session's full fan-out (and a
    * caller that wants runtime re-planning back can set
    * `spark.graft.iterate.aqe=true`). Event-scale setup stays OUTSIDE
    * this scope, under AQE. Rows-per-partition is deliberately small
    * (256k — loop rows are id+decimal sized) and tunable via
    * `spark.graft.iterate.rowsPerPartition`.
    *
    * CONF ISOLATION (r16): the overrides live on a CLONED session
    * (same SparkContext, own session state — checkpointed RDD blocks
    * are context-scoped, so the loop frames stay materialized), passed
    * to `body`. The caller's session is NEVER mutated: a query planned
    * concurrently on it mid-loop sees the session confs — the r15
    * implementation set/restored the confs on the shared session,
    * which silently mis-planned concurrent callers (a normal situation
    * on a shared 100 TB cluster session). `body` re-binds its loop
    * entry frames onto the loop session ([[rebind]] — the frames are
    * checkpointed `LogicalRDD`s, session-independent by construction)
    * and re-binds its result back to the caller's session, so callers
    * never observe the clone. CheckpointSpec pins the isolation.
    * Measured cost of the clone (r16, interleaved quiet-machine A/B on
    * q_pagerank/q_markov_attribution): within rep-to-rep noise of the
    * shared-session mutation it replaces (cloneSession ≈ 2–8 ms,
    * per-action cost identical).
    */
  val IterateAqeKey = "spark.graft.iterate.aqe"
  val IterateRowsPerPartitionKey = "spark.graft.iterate.rowsPerPartition"
  def withIterationPlanning[T](spark: org.apache.spark.sql.SparkSession,
      loopRows: Long)(body: org.apache.spark.sql.SparkSession => T): T = {
    if (spark.conf.getOption(IterateAqeKey).exists(_.toBoolean)) body(spark)
    else {
      val perPart = spark.conf.getOption(IterateRowsPerPartitionKey)
        .map(_.toLong).getOrElse(1L << 18)
      val sessionParts = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val loopParts = math.max(1L, math.min(sessionParts.toLong,
        (loopRows + perPart - 1) / perPart)).toInt
      val loopSession = org.apache.spark.sql.graftbridge.SessionBridge
        .cloneSession(spark)
      loopSession.conf.set("spark.sql.adaptive.enabled", "false")
      loopSession.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
      body(loopSession)
    }
  }

  /** Re-bind `df` onto `session` (plan under ITS confs). Loop operators
    * use it to move checkpointed entry frames onto the loop session and
    * their result back onto the caller's.
    */
  def rebind(df: DataFrame,
      session: org.apache.spark.sql.SparkSession): DataFrame =
    if (df.sparkSession eq session) df
    else org.apache.spark.sql.graftbridge.SessionBridge.rebind(df, session)

  /** Cut `df`'s lineage eagerly via the session-selected mechanism. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableKey).exists(_.toBoolean)
    if (!reliable) df.localCheckpoint(true)
    else {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableKey=true requires SparkContext.setCheckpointDir " +
          "(a durable cluster path, e.g. on HDFS/S3)")
      df.checkpoint(true)
    }
  }
}
