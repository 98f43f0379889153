package org.apache.spark {

  /** The listener bus's drain is `private[spark]`: block until every
    * event posted so far has reached its listeners. */
  object ListenerBusDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.{ListenerBusDrain, SparkContext}
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession

  /** Spark jobs fired while a DataFrame is BUILT (before any action):
    * a local property tags every job submitted from inside `build`
    * (Spark copies it onto broadcast and subquery threads too), one
    * listener counts the tagged job starts, and the listener bus is
    * drained before the count is read. */
  object BuildJobs {
    private val Prop = "graft.build"
    private val counts = new ConcurrentHashMap[String, AtomicInteger]()
    private var installedOn: Option[SparkContext] = None

    private object Listener extends SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
          .foreach(counts.computeIfAbsent(_, _ => new AtomicInteger()).incrementAndGet())
    }

    /** `build`'s result and the number of Spark jobs it fired. */
    def apply[T](spark: SparkSession)(build: => T): (T, Int) = {
      val sc = spark.sparkContext
      synchronized {
        if (!installedOn.contains(sc)) {
          sc.addSparkListener(Listener)
          installedOn = Some(sc)
        }
      }
      val tag = java.util.UUID.randomUUID().toString
      val outer = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, tag)
      val out = try build finally sc.setLocalProperty(Prop, outer)
      ListenerBusDrain(sc)
      (out, Option(counts.remove(tag)).fold(0)(_.get))
    }
  }
}
