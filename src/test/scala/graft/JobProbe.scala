package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** The specs' one Spark job probe. */
object JobProbe {

  /** The Spark jobs `body` starts, in start order, each named by its SQL
    * execution (description and physical-plan root) and its stages' task
    * counts; a job outside any SQL execution is named by its last stage.
    * Every job counts whatever thread submitted it: AQE submits stage jobs
    * from planner threads, and a streaming query from its own. A marker
    * job run after `body` flushes the asynchronous listener bus, which
    * delivers in order, so once it arrives every job of `body` was seen.
    */
  def jobs(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = "job-probe-marker-" + java.util.UUID.randomUUID()
    val seen = new ConcurrentLinkedQueue[String]()
    val executions = new ConcurrentHashMap[String, String]()
    val markerSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.description + " | " +
            s.physicalPlanDescription.split("\n").lift(1).getOrElse("?").trim)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.map(_.getProperty("spark.jobGroup.id")).orNull == marker)
          markerSeen.countDown()
        else seen.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(executions.get(id)))
          .getOrElse(j.stageInfos.maxBy(_.stageId).name) +
          s", tasks ${j.stageInfos.map(_.numTasks).mkString("+")}")
      }
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobGroup(marker, "listener-bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  /** How many Spark jobs `body` starts (see [[jobs]]). */
  def count(spark: SparkSession)(body: => Unit): Int = jobs(spark)(body).size
}
