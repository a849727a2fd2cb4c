package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Build a sibling SparkSession with extra SparkSessionExtensions on an
  * EXISTING SparkContext. The session builder's `withExtensions(...)
  * .getOrCreate()` silently ignores extensions when a session already
  * exists, and the classic constructor that takes them is `private[sql]` —
  * so tests exercising [[graft.GraftExtensions]] against the shared test
  * context need this shim (same rationale as [[ColumnBridge]]). */
object SessionBridge {
  def withExtensions(base: SparkSession,
      f: SparkSessionExtensions => Unit): SparkSession = {
    val ext = new SparkSessionExtensions
    f(ext)
    // the (sc, sharedState, sessionState, extensions, options, parameters)
    // constructor is package-private below `sql`; it is public in bytecode,
    // so reflection reaches it without shading anything
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6)
      .getOrElse(sys.error("classic.SparkSession 6-arg constructor not found"))
    ctor.setAccessible(true)
    ctor.newInstance(base.sparkContext, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
