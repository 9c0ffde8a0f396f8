package org.apache.spark.sql

import graft.SparkSpec

/** Pins what [[GraftSqlBridge.child]] costs the SparkContext: every
  * registry query runs on a child, so a child that registered a listener
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
}
