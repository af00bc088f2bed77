package org.apache.spark.sql.graft

import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase

/** A no-op listener a host names in `spark.sql.queryExecutionListeners`. */
class HostListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The engine session's listener set, read where `listListeners` and
  * the context's conf are visible. */
class EngineSessionListenersSpec extends SparkTestBase {

  test("an engine session holds exactly the caller's listener instances") {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val registered = new HostListener
    caller.listenerManager.register(registered)
    // a host that names a listener class in the static conf: a session
    // built without a parent makes a fresh instance of it
    val key = StaticSQLConf.QUERY_EXECUTION_LISTENERS.key
    caller.sparkContext.conf.set(key, classOf[HostListener].getName)
    try {
      val engine = EngineSession.derive(caller).asInstanceOf[classic.SparkSession]
      val want = caller.listenerManager.listListeners().toSeq
      val got = engine.listenerManager.listListeners().toSeq
      assert(want.exists(_ eq registered))
      assert(got.size == want.size, s"engine listeners $got, caller's $want")
      assert(got.zip(want).forall { case (g, w) => g eq w })
    } finally {
      caller.sparkContext.conf.remove(key)
      caller.listenerManager.unregister(registered)
    }
  }
}
