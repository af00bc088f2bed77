package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, Repartition}
import org.apache.spark.sql.util.QueryExecutionListener

/** The interpreted session the scheduled monitor path runs in.
  *
  * A monitor run is a few small queries over a window of at most a few
  * hours (a few thousand rows on a store of a few series), and its
  * window bounds and `window_end` are timestamp literals that Spark
  * inlines into generated Java: under code generation every run (every
  * cohort tick, every hourly monitor) compiles ~9-19 new Janino classes
  * at ~20 ms each, which costs more than evaluating its rows. An engine
  * session evaluates the same queries with whole-stage codegen off and
  * the expression factories in `NO_CODEGEN` mode, so they run
  * interpreted and compile nothing. The settings live on the engine
  * session only; the caller's session is never changed.
  *
  * An engine session snapshots the caller's runtime SQL confs and its
  * `QueryExecutionListener`s. A caller that runs many ticks holds a
  * [[Current]], which hands out the same engine session for as long as
  * that snapshot still matches the caller and derives a new one when it
  * does not: a later conf change or listener registration on the
  * caller's session reaches the next tick, and a steady caller does not
  * build (and leave behind, until the context cleaner drops its
  * listener bus) a session per tick.
  *
  * `sessionState`, `listListeners`, `Dataset.ofRows` and `withActive`
  * are `private[sql]`, which is why this bridge lives here, beside
  * [[ColumnBridge]]. */
object EngineSession {

  /** Codegen off, the engine's tasks in the executor's default
    * artifact session, and local files created without a subprocess.
    *
    * With Spark's default (isolation on) every session gets an executor
    * class loader of its own, and compiled classes are cached per class
    * loader: the few classes that have no interpreted form (the
    * cached-batch column accessor, the aggregation row joiner) would
    * then recompile on every tick.
    *
    * A tick creates ~50 local files and directories (`job_data`,
    * `job_errors`, the throttle state, the delivery audit, their `.crc`
    * files and `_temporary` staging), and Hadoop's stock `file:`
    * FileSystem forks a `chmod` for each. The engine's Hadoop conf names
    * [[graft.store.NioLocalFileSystem]] instead
    * ([[graft.store.NioLocalFileSystem.Conf]], with the `file:` cache off
    * for this session). So the scheduled path forks nothing, whatever
    * session the caller built.
    *
    * These settings are applied after the caller's confs are copied, so
    * they win: the scheduled path (`job_data`, `job_errors`, the
    * throttle state, the delivery audit) always writes through
    * `NioLocalFileSystem`, even when the caller's session names another
    * `file:` FileSystem (`fs.file.impl` or
    * `fs.AbstractFileSystem.file.impl`, say a `RawLocalFileSystem` that
    * skips `.crc` files). Only the caller's own session keeps its
    * choice. */
  private val Settings = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.artifact.isolation.enabled" -> "false") ++
    _root_.graft.store.NioLocalFileSystem.Conf

  /** A copy of `spark` that evaluates every expression interpreted: a
    * new session over the same shared state (cache, catalog, context)
    * with the caller's SQL confs, as set now, plus [[Settings]], and
    * exactly the caller's query-execution listener instances.
    * `cloneSession()` would copy the same, but it builds the clone's
    * artifact manager from the caller's conf, which fixes the isolation
    * flag before it can be turned off.
    *
    * A session without a parent also builds fresh instances of every
    * listener class named in `spark.sql.queryExecutionListeners`; the
    * caller already holds its own, so those are dropped first, or every
    * engine query would reach such a listener twice. */
  def derive(spark: SparkSession): SparkSession = {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val engine = caller.newSession()
    val conf = engine.sessionState.conf
    caller.sessionState.conf.getAllConfs.foreach { case (k, v) => conf.setConfString(k, v) }
    Settings.foreach { case (k, v) => conf.setConfString(k, v) }
    engine.listenerManager.clear()
    caller.listenerManager.listListeners().foreach(engine.listenerManager.register)
    engine
  }

  /** The engine session of one caller across its ticks: [[get]] returns
    * the session it derived last while `spark`'s SQL confs and listener
    * instances are the ones that session was derived from, and derives a
    * new one otherwise. Comparing them costs a map of the set confs per
    * call, no Spark work. */
  final class Current(spark: SparkSession) {
    private var last: Option[(Map[String, String], Seq[QueryExecutionListener], SparkSession)] =
      None

    def get(): SparkSession = synchronized {
      val caller = spark.asInstanceOf[classic.SparkSession]
      val confs = caller.sessionState.conf.getAllConfs
      val listeners = caller.listenerManager.listListeners().toSeq
      last match {
        case Some((c, l, engine)) if c == confs && l.size == listeners.size &&
            l.zip(listeners).forall { case (a, b) => a eq b } => engine
        case _ =>
          val engine = derive(spark)
          last = Some((confs, listeners, engine))
          engine
      }
    }
  }

  /** `df`'s analyzed plan as a frame of `engine`, so it is optimized,
    * planned and executed there. */
  def adopt(engine: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq engine) df
    else classic.Dataset.ofRows(engine.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** The Hadoop conf `spark`'s own reads and writes use: the context's
    * conf plus the session's SQL confs (for an engine session, the
    * `file:` FileSystem of [[Settings]]). Driver-side FileSystem calls
    * take it, so they create files as the session's writes do. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The rows of `df`'s cached relation once a job has filled it: the
    * cache counts them as it builds its batches, so reading the count
    * runs no job. None while `df` is not cached or not filled. */
  def cachedRows(df: DataFrame): Option[Long] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.rowCountStats.value.longValue)
  }

  /** `df` with a `coalesce(1)` above each full outer join. Over inputs
    * of one partition such a join is one partition too, but Spark
    * reports its output partitioning as unknown, so an aggregation above
    * it (a monitor's reductions over `divideSeries`, `asPercent`, ...)
    * would plan a shuffle. The coalesce moves no data; it restates the
    * partitioning. For plans whose scans are all one partition. */
  def onePartitionJoins(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed.transformUp {
        case j: Join if j.joinType == FullOuter => Repartition(1, shuffle = false, j)
      })

  /** Run `body` with `engine` as the thread's active session, so the
    * encoders and projections built on the driver take its settings. */
  def withActive[T](engine: SparkSession)(body: => T): T = engine.withActive(body)
}
