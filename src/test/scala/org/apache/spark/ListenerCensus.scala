package org.apache.spark

import scala.jdk.CollectionConverters._

/** Test access to the listeners registered on a context (`listenerBus` is
  * `private[spark]`). */
object ListenerCensus {
  def listeners(sc: SparkContext): Seq[AnyRef] = sc.listenerBus.listeners.asScala.toSeq
}
