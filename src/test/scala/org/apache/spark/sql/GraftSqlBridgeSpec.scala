package org.apache.spark.sql

import graft.SparkSpec

/** Pins what [[GraftSqlBridge.child]] and `GraftSession.state` cost the
  * SparkContext: every registry query runs on a child, and Smoke reads the
  * state of its caller around each one, so either registering a listener
  * on the context's bus would grow it by one per query, for good. (The
  * bus is `private[spark]`, hence this package.)
  */
class GraftSqlBridgeSpec extends SparkSpec {

  test("children of a session with no streaming listener add no bus listener") {
    // each a child of a child, as when a registry query opens a scope
    val parent = spark.newSession()
    assert(parent.streams.listListeners().isEmpty)
    val bus = spark.sparkContext.listenerBus
    val before = bus.listeners.size
    (1 to 50).foreach(_ => GraftSqlBridge.child(GraftSqlBridge.child(parent)))
    assert(bus.listeners.size === before)
  }

  test("state on a fresh session adds no bus listener") {
    val fresh = spark.newSession()
    val bus = spark.sparkContext.listenerBus
    val before = bus.listeners.size
    graft.GraftSession.state(fresh)
    assert(bus.listeners.size === before)
  }
}
