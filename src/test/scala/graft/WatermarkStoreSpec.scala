package graft

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.runtime.{WatermarkState, WatermarkStore}

/** The watermark store serves reads from its driver-side snapshot and
  * writes the whole table once per advance; the on-disk table stays the
  * source of truth for a fresh store, including after an interrupted swap. */
class WatermarkStoreSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def ts(min: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2024-05-01 00:00:00").getTime + min * 60000L)

  /** Runs `body`; returns the Spark jobs it started and the physical plans
    * of the queries it executed. */
  private def observe(body: => Unit): (Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      body
      ListenerBusDrain(sc)
      (jobs.get, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  private def scans(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(p => collect(p) { case s: FileSourceScanExec => s })

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("after the first load reads run no Spark job; advance only writes") {
    val dir = tmpDir("wmjobs")
    val seed = new WatermarkStore(spark, dir)
    seed.advance("a", 3, ts(1), ts(1))
    seed.advance("b", 4, ts(2), ts(2))

    val store = new WatermarkStore(spark, dir)
    val (loadJobs, loadPlans) = observe(store.all())
    assert(loadJobs > 0 && scans(loadPlans).nonEmpty, "first use loads the table")

    val (readJobs, readPlans) = observe {
      assert(store.all().keySet == Set("a", "b"))
      assert(store.get("a").get.rowsLastRun == 3)
      assert(store.since("b", 60) == ts(1))
      assert(store.get("missing").isEmpty)
    }
    assert(readJobs == 0 && readPlans.isEmpty)

    val (advJobs, advPlans) = observe(store.advance("a", 5, ts(3), ts(3)))
    assert(advJobs == 1, s"advance ran $advJobs jobs")
    assert(scans(advPlans).isEmpty, "advance must not scan the watermark table")
    assert(advPlans.exists(p => collect(p) { case w: DataWritingCommandExec => w }.nonEmpty))

    val (afterJobs, _) = observe {
      val a = store.get("a").get
      assert(a.lastFetchedAt == ts(3) && a.rowsLastRun == 5 && a.totalRowsEver == 8)
    }
    assert(afterJobs == 0)
  }

  test("concurrent advances all reach the on-disk table") {
    val dir = tmpDir("wmconc")
    val live = new WatermarkStore(spark, dir)
    val streams = (0 until 6).map(i => s"s$i")
    val rounds = 3
    def rows(i: Int, k: Int): Long = 10L * i + k + 1
    val pool = Executors.newFixedThreadPool(streams.size)
    val gate = new CountDownLatch(1)
    try {
      val done = streams.zipWithIndex.map { case (s, i) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            gate.await()
            (0 until rounds).foreach(k => live.advance(s, rows(i, k), ts(10 * k + i), ts(10 * k + i)))
          }
        })
      }
      gate.countDown()
      done.foreach(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdown()

    val fresh = new WatermarkStore(spark, dir).all()
    assert(fresh == live.all())
    assert(fresh.keySet == streams.toSet)
    streams.zipWithIndex.foreach { case (s, i) =>
      val st = fresh(s)
      assert(st.totalRowsEver == (0 until rounds).map(rows(i, _)).sum, s)
      assert(st.rowsLastRun == rows(i, rounds - 1), s)
      assert(st.lastFetchedAt == ts(10 * (rounds - 1) + i), s)
    }
    assert(spark.read.parquet(dir).count() == streams.size) // one row per stream
  }

  test("a store opened over an interrupted swap loads the recovered state") {
    val dir = tmpDir("wmcrash")
    val live = new WatermarkStore(spark, dir)
    live.advance("a", 5, ts(1), ts(1))
    live.advance("b", 7, ts(2), ts(2))
    val committed = live.all()
    // another table state to leave behind as swap debris
    def debris(name: String): Path = {
      val other = tmpDir(name)
      new WatermarkStore(spark, other).advance("a", 99, ts(9), ts(9))
      new Path(other)
    }
    val p = new Path(dir)
    val (bak, tmp) = (new Path(dir + "__bak"), new Path(dir + "__tmp"))

    // crashed between the two renames: live dir gone, backup and staging left
    assert(fs(dir).rename(p, bak) && fs(dir).rename(debris("wmtmp"), tmp))
    val reopened = new WatermarkStore(spark, dir)
    assert(reopened.all() == committed)
    assert(!fs(dir).exists(bak) && !fs(dir).exists(tmp))

    // crashed before the backup was deleted: the live dir wins
    assert(fs(dir).rename(debris("wmbak"), bak))
    assert(new WatermarkStore(spark, dir).all() == committed)
    assert(!fs(dir).exists(bak))

    // the recovered store keeps advancing, and a fresh store sees it
    reopened.advance("c", 1, ts(3), ts(3))
    assert(new WatermarkStore(spark, dir).all() ==
      committed + ("c" -> WatermarkState("c", ts(3), 1, ts(3), 1)))
  }
}
