package graft.operators

import graft.SparkTestBase
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** ResultMemo under concurrent sessions and threads: one build per key
  * however many threads race for it, nested builds, independent keys that
  * do not serialize, and per-session keys. */
class ResultMemoSpec extends SparkTestBase {

  private val dir = "result-memo-spec"

  private def withPool[T](n: Int)(f: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try f(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(30, TimeUnit.SECONDS) }
  }

  test("N threads racing for one key see exactly one build") {
    val n = 8
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val rows = withPool(n) { implicit ec =>
      val fs = (1 to n).map { _ =>
        Future {
          start.await()
          ResultMemo.materialized("race", spark, dir) {
            builds.incrementAndGet()
            // hold the build open so every other thread arrives mid-build
            Thread.sleep(300L)
            spark.range(10).toDF("id")
          }.count()
        }
      }
      start.countDown()
      Await.result(Future.sequence(fs), 2.minutes)
    }
    assert(builds.get == 1, s"${builds.get} builds for one key")
    assert(rows.forall(_ == 10L))
    ResultMemo.clearSession(spark)
  }

  test("a build may request other keys, and independent keys build concurrently") {
    // key a's build blocks until key b's build has started on another
    // thread: a lock shared across keys would deadlock here
    val bStarted = new CountDownLatch(1)
    val (na, nb) = withPool(2) { implicit ec =>
      val fa = Future {
        ResultMemo.materialized("outer_a", spark, dir) {
          assert(bStarted.await(60, TimeUnit.SECONDS), "key b never started")
          val inner = ResultMemo.materialized("inner", spark, dir)(
            spark.range(3).toDF("id"))
          inner.crossJoin(spark.range(2).toDF("j"))
        }.count()
      }
      val fb = Future {
        ResultMemo.materialized("outer_b", spark, dir) {
          bStarted.countDown()
          spark.range(5).toDF("id")
        }.count()
      }
      (Await.result(fa, 2.minutes), Await.result(fb, 2.minutes))
    }
    assert(na == 6L && nb == 5L)
    ResultMemo.clearSession(spark)
  }

  test("memos are per session, and clearSession drops only that session's") {
    val other = spark.newSession()
    val builds = new AtomicInteger(0)
    def get(s: org.apache.spark.sql.SparkSession) =
      ResultMemo.materialized("per_session", s, dir) {
        builds.incrementAndGet()
        s.range(4).toDF("id")
      }
    get(spark); get(other); get(spark); get(other)
    assert(builds.get == 2)
    ResultMemo.clearSession(other)
    get(spark)
    assert(builds.get == 2, "clearing one session dropped another's memo")
    get(other)
    assert(builds.get == 3)
    ResultMemo.clearSession(spark)
    ResultMemo.clearSession(other)
  }
}
