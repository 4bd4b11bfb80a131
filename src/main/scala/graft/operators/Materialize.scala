package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** The materialization primitive behind every iterative/staged operator
  * (graph supersteps, dedup pair gates, corpus-prep shared subtrees).
  *
  * Default mode is `localCheckpoint(eager)`: it truncates lineage for the
  * price of the job the operator must run anyway, and on `local[*]` it is
  * free of any durability concern. On a REAL cluster, localCheckpoint
  * stores the blocks executor-locally with NO replication and cuts the
  * recompute path — losing one executor (crash, preemption, dynamic
  * deallocation) fails the whole job with no recovery. For that posture
  * set `spark.graft.checkpointDir` to a reliable (HDFS/object-store)
  * path: every operator materialization then goes through
  * `Dataset.checkpoint(eager)` into that directory instead — same
  * results, same plan truncation, executor-loss-safe — and observed
  * scalars are read back from the checkpointed blocks with one
  * node-sized aggregate job (the `Dataset.observe` delivery guarantee is
  * only pinned for the localCheckpoint path).
  *
  * Reliable mode writes one checkpoint per materialization and never
  * deletes it: iterative operators (pageRank, SCC, connected components
  * checkpoint every superstep) would fill the checkpoint store over a
  * long session. Start such sessions with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
  * SparkContext setting, fixed at start-up), so Spark's context cleaner
  * deletes a checkpoint once its frame is garbage-collected.
  */
object Materialize {

  val ConfKey = "spark.graft.checkpointDir"

  private def reliableDir(df: DataFrame): Option[String] =
    Option(df.sparkSession.conf.get(ConfKey, null)).filter(_.nonEmpty)

  /** Eagerly materialize `df` and truncate its lineage —
    * `localCheckpoint` (default) or a reliable `checkpoint` when
    * [[ConfKey]] is set. */
  def ck(df: DataFrame): DataFrame = reliableDir(df) match {
    case None => df.localCheckpoint()
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir appends a per-call UUID subdir — startsWith, not
      // equality, or every ck() would mint a fresh directory
      if (!sc.getCheckpointDir.exists(_.startsWith(dir)))
        sc.setCheckpointDir(dir)
      df.checkpoint()
  }

  /** [[ck]] unless `df` is ALREADY a materialized (checkpointed) frame —
    * the idempotent form for operators that materialize a parameter a
    * caller may have materialized already (e.g. one change feed fanned
    * out to several delta-maintenance operators): a LogicalRDD plan is
    * what both checkpoint flavors leave behind, and re-checkpointing it
    * would copy the blocks for nothing. */
  def ckIfLazy(df: DataFrame): DataFrame =
    if (df.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) df
    else ck(df)

  /** [[ck]] plus observed aggregate metrics riding the SAME
    * materialization (the measure-free-convergence discipline): in local
    * mode the metrics are delivered by the localCheckpoint job itself;
    * in reliable mode they come from one aggregate job over the
    * already-checkpointed (node-sized, materialized) frame — identical
    * values, still no re-execution of the plan. */
  def ckObserved(df: DataFrame, metrics: Column*)
      : (DataFrame, Map[String, Any]) = reliableDir(df) match {
    case None =>
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs, metrics.head, metrics.tail: _*)
        .localCheckpoint()
      (ck, obs.get)
    case Some(_) =>
      val c = ck(df)
      val row = c.agg(metrics.head, metrics.tail: _*).head()
      val m = row.schema.fieldNames.zipWithIndex
        .map { case (n, i) => n -> row.get(i) }.toMap
      (c, m)
  }
}
