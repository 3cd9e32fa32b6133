package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (SURVEY §5 → one fixture
  * session like the reference's BaseTest). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.create("local[4]", shufflePartitions = 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs. Listener events post asynchronously,
    * so the bus is drained before the listener is attached (earlier work
    * stays out) and again before the count is read (none of `f`'s is lost). */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }
}
