package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: [[Harness.session]] at 4 cores,
  * the session every registry runner opens (classic eval, UTC,
  * nanos-as-long, no UI).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A new directory under `target/` whose name starts with `prefix`;
    * `afterAll` deletes it with everything in it. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get("target"), prefix)
    tempDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try {
      if (tempDirs.nonEmpty) {
        // a streaming query still running would keep writing into them
        spark.streams.active.foreach(_.stop())
        tempDirs.foreach { d =>
          val paths = java.nio.file.Files.walk(d)
          try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally paths.close()
        }
      }
    } finally super.afterAll()

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Jobs `body` starts on this thread, counted by a listener after the
    * listener bus is drained (suites sharing the session cannot leak in). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      org.apache.spark.graft.ListenerBridge.drain(sc, 30000L)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Harness.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
