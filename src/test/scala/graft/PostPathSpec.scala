package graft

import graft.api.Router
import graft.model.Canon.Datapoint
import graft.sources.TieredStore
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

/** The POST path against the driver-side memory tier: a non-spilling
  * single-point POST costs a fixed, small number of Spark jobs however
  * deep the buffer is, and buffered points keep their arrival order.
  */
class PostPathSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1704067200000000L // 2024-01-01 UTC

  private final class Counting extends SparkListener {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  }

  /** (jobs, tasks) that `f` runs. */
  private def cost(f: => Unit): (Int, Int) = {
    ListenerDrain(spark.sparkContext)
    val l = new Counting
    spark.sparkContext.addSparkListener(l)
    try { f; ListenerDrain(spark.sparkContext); (l.jobs.get, l.tasks.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def postOne(st: TieredStore, i: Int): Unit = {
    val ack = Router.runPost(st, "ts/s", s"""{"value": $i}""", T0 + i,
      spillThreshold = 100000L).as[(Long, Long)].collect().toSeq
    assert(ack == Seq((1L, 0L)))
  }

  test("a non-spilling single-point POST runs at most 2 jobs, the same at depth 1 and 500") {
    val st = new TieredStore(spark, tmpDir("post_cost"))
    postOne(st, 0) // plans and compiles once
    val shallow = cost(postOne(st, 1))
    assert(st.bufferedCount() == 2L)
    st.appendMemory((2 until 500).map(i => Datapoint("s", T0 + i, None, i.toDouble, i))
      .toDF().withColumn(TieredStore.SEQ, col("rid")), TieredStore.SEQ)
    val deep = cost(postOne(st, 500))
    assert(st.bufferedCount() == 501L)
    assert(shallow._1 <= 2, s"single-point POST ran ${shallow._1} jobs")
    assert(deep == shallow, s"POST cost grew with buffer depth: $shallow at 2, $deep at 501")
  }

  test("single-point POSTs that ascend past the disk bound keep last/1 off disk") {
    val st = new TieredStore(spark, tmpDir("post_order"))
    Router.runPost(st, "ts/s", """{"value": 100}""", T0)
    st.sync() // one point on disk at T0
    // the reference client's server-stamped POSTs, ascending in arrival order
    (1 to 8).foreach(i => Router.runPost(st, "ts/s", s"""{"value": $i}""", T0 + i))
    val q = Router.run(st, "ts/s/last/1")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan)
    assert(q.select("value").as[Double].collect().toSeq == Seq(8.0))
    assert(st.bufferedCount() == 8L) // no forced flush
  }

  test("an array body buffers in element order") {
    val st = new TieredStore(spark, tmpDir("post_array"))
    Router.runPost(st, "ts/s", """{"timestamp": 10, "value": 0}""")
    st.sync()
    val body = (1 to 6).map(i => s"""{"timestamp": ${10 + i}, "value": $i}""")
      .mkString("[", ",", "]")
    Router.runPost(st, "ts/s", body)
    val q = Router.run(st, "ts/s/last/3")
    assert(!q.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(q.select("value").as[Double].collect().toSeq == Seq(6.0, 5.0, 4.0))
    assert(st.bufferedCount() == 6L)
  }
}
