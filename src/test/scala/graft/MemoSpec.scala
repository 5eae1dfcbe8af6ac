package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The memo registry's contract (build once, nested builds, retry after a
  * failed build, per-dir release, release at context end) and the two
  * temp-dir fixtures it owns (q170's rollup, q268's segment snapshots).
  * Every test uses its own dir key, so none disturbs the shared gate dir's
  * memos. */
class MemoSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(): String =
    "memo-spec/" + java.util.UUID.randomUUID().toString

  test("a repeat get does not rebuild") {
    val d = freshDir()
    val builds = new AtomicInteger
    val a = Memo.get(spark, d, "n") { builds.incrementAndGet(); 41L + 1 }
    val b = Memo.get(spark, d, "n") { builds.incrementAndGet(); -1L }
    assert(a == 42L && b == 42L && builds.get == 1)
  }

  test("8 threads racing on one cold key build it once") {
    val d = freshDir()
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val fs = (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          gate.await()
          Memo.get(spark, d, "slow") {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }))
      gate.countDown()
      val got = fs.map(_.get())
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdown()
  }

  test("a build may get another key") {
    val d = freshDir()
    val outer = Memo.get(spark, d, "outer") {
      Memo.get(spark, d, "inner")(20) + 1
    }
    assert(outer == 21)
    assert(Memo.get(spark, d, "inner")(-1) == 20)
  }

  test("a build that throws caches nothing and is retried") {
    val d = freshDir()
    intercept[IllegalStateException] {
      Memo.get[Int](spark, d, "flaky")(throw new IllegalStateException("boom"))
    }
    assert(Memo.get(spark, d, "flaky")(7) == 7)
  }

  test("invalidate unpersists every frame of one dir and leaves other dirs alone") {
    import spark.implicits._
    val (d, other) = (freshDir(), freshDir())
    val f1 = Seq(1, 2, 3).toDF("x").persist()
    val f2 = Seq(4, 5).toDF("y").persist()
    val f3 = Seq(6).toDF("z").persist()
    Seq(f1, f2, f3).foreach(_.count())
    Memo.get(spark, d, "frame")(f1)
    Memo.get(spark, d, "pair")((1L, f2))
    Memo.get(spark, d, "count")(3L)
    Memo.get(spark, other, "frame")(f3)
    // a count is not a chain; a frame, or a tuple holding one, is
    assert(Memo.labels(spark, d) == Set("frame", "pair"))

    Memo.invalidate(spark, d)
    assert(Memo.labels(spark, d).isEmpty)
    assert(f1.storageLevel == StorageLevel.NONE)
    assert(f2.storageLevel == StorageLevel.NONE)
    assert(Memo.get(spark, d, "count")(4L) == 4L, "the count was dropped too")
    assert(Memo.labels(spark, other) == Set("frame"))
    assert(f3.storageLevel != StorageLevel.NONE)
    Memo.invalidate(spark, other)
  }

  test("when a session's SparkContext ends, its entries are released") {
    import spark.implicits._
    val d = freshDir()
    val ended = spark.newSession()
    val fixture = Memo.get(ended, d, "fixture")(Memo.tempDir("graft_memospec_"))
    Memo.get(ended, d, "frame")(Seq(1).toDF("x"))
    Memo.get(spark, d, "frame")(Seq(2).toDF("x"))
    assert(Files.exists(fixture.path))
    // the listener Memo registers on the context, scoped to one session so
    // the shared test context keeps running
    val end = new Memo.ContextEnd
    end.sids.add(Bridge.sessionId(ended))
    end.onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!Files.exists(fixture.path))
    assert(Memo.labels(ended, d).isEmpty)
    assert(Memo.labels(spark, d) == Set("frame"))
    Memo.invalidate(spark, d)
  }

  /** Run `body` over a private table dir holding copies of the gate
    * tables `names`, then delete the dir. */
  private def withTableDir(names: String*)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_memospec_tables_")
    val copies = names.map(n => Files.copy(Paths.get(Tables.path(sf, n)),
      Paths.get(Tables.path(dir.toString, n))))
    try body(dir.toString)
    finally { copies.foreach(Files.delete); Files.delete(dir) }
  }

  test("q170's rollup fixture is deleted on invalidate and rebuilt on rerun") {
    import spark.implicits._
    withTableDir("events") { d =>
      val q = SparkEntry.queries("q170_rollup_serving")
      val before = q(spark, d).collect().toSeq
      val fixture = Memo.get[Memo.TempDir](spark, d, "events.rollupDir")(
        fail("q170 did not memoize its rollup dir"))
      assert(Files.exists(fixture.path))
      Memo.invalidate(spark, d)
      assert(!Files.exists(fixture.path))
      // the rollup registration outlives the fixture: raw reads still answer
      val raw = spark.read.parquet(Tables.path(d, "events"))
      assert(raw.groupBy($"event_type").count().collect().map(_.getLong(1)).sum
        == raw.count())
      assert(q(spark, d).collect().toSeq == before)
      Memo.invalidate(spark, d)
    }
  }

  test("q268's snapshot fixture is deleted on invalidate and rebuilt on rerun") {
    withTableDir("documents") { d =>
      val q = SparkEntry.queries("q268_manifest_count_drift")
      val before = q(spark, d).collect().toSeq
      val fixture = Memo.get[Memo.TempDir](spark, d, "curation.segSnap")(
        fail("q268 did not memoize its snapshots"))
      assert(Files.exists(fixture.path))
      Memo.invalidate(spark, d)
      assert(!Files.exists(fixture.path))
      assert(q(spark, d).collect().toSeq == before)
      Memo.invalidate(spark, d)
    }
  }

  test("registerViewOnce re-registers a view dropped from the catalog") {
    val name = "graft_memospec_view"
    var builds = 0
    def reg(): Unit = Tables.registerViewOnce(spark, sf, name) {
      builds += 1
      Tables.nation(spark, sf)
    }
    reg(); reg()
    assert(builds == 1)
    spark.catalog.dropTempView(name)
    reg()
    assert(builds == 2 && spark.catalog.tableExists(name))
    spark.catalog.dropTempView(name)
  }

  test("registerViewOnce re-registers a view after its dir is invalidated") {
    val name = "graft_memospec_rewritten"
    val dir = Files.createTempDirectory("graft_memospec_view_").toString
    def write(n: Long): Unit =
      spark.range(n).write.mode("overwrite").parquet(Tables.path(dir, "t"))
    def reg(): Unit =
      Tables.registerViewOnce(spark, dir, name)(Tables.df(spark, dir, "t"))
    try {
      write(3)
      reg()
      assert(spark.table(name).count() == 3)
      write(5)
      Memo.invalidate(spark, dir)
      reg()
      assert(spark.table(name).count() == 5)
    } finally {
      spark.catalog.dropTempView(name)
      Memo.invalidate(spark, dir)
      val walk = Files.walk(Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}
