package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  override def afterAll(): Unit = () // session shared across suites

  /** The descriptions of the SQL executions `body` starts, in order;
    * an action's description is its call site ("collect at
    * Upsert.scala:NN"). A sentinel action marks the end: the listener
    * bus delivers in order, so once it is seen every execution before
    * it has been too. */
  def sqlExecutions(body: => Unit): Seq[String] = {
    val sentinel = "sql-executions-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          if (x.description.contains(sentinel)) sentinelSeen = true
          else if (!sentinelSeen) seen.add(x.description)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!sentinelSeen && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(sentinelSeen, "listener never saw the sentinel action")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
}

object SparkSuite {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
