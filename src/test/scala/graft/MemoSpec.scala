package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The [[Memo]] contract: one build per key under concurrency, builds that
  * call the memo themselves, no entry after a failed build, per-session
  * release, and the stderr line format the benchmark harness counts. Each
  * test keys on its own small `range` source, so tests share no entries. */
class MemoSpec extends SparkSpec {

  test("four threads asking for one key run the build once") {
    val src = spark.range(101).toDF()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (1 to 4).map(_ => pool.submit(new Callable[DataFrame] {
        def call(): DataFrame = {
          start.await()
          Memo.frame(src, "once") {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            src.selectExpr("id * 2 AS x")
          }
        }
      }))
      start.countDown()
      val frames = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(frames.forall(_ eq frames.head), "every caller gets the one frame")
    } finally {
      pool.shutdownNow()
      Memo.releaseAll(spark)
    }
  }

  test("a build may call Memo.frame for another key") {
    val src = spark.range(102).toDF()
    try {
      val outer = Memo.frame(src, "outer") {
        val inner = Memo.frame(src, "inner")(src.selectExpr("id + 1 AS y"))
        inner.selectExpr("y * 2 AS z")
      }
      assert(outer.count() == 102L)
      assert(Memo.frame(src, "inner")(fail("inner entry was built twice"))
        .count() == 102L)
    } finally Memo.releaseAll(spark)
  }

  test("a build that throws leaves nothing cached; the next call builds") {
    val src = spark.range(103).toDF()
    try {
      intercept[IllegalStateException] {
        Memo.frame(src, "flaky-frame")(throw new IllegalStateException("boom"))
      }
      intercept[IllegalStateException] {
        Memo.value[String](src, "flaky-value")(throw new IllegalStateException("boom"))
      }
      val f = Memo.frame(src, "flaky-frame")(src.selectExpr("id AS x"))
      assert(f.count() == 103L)
      assert(Memo.value(src, "flaky-value")("built") == "built")
      assert(Memo.frame(src, "flaky-frame")(fail("frame rebuilt")) eq f)
      assert(Memo.value[String](src, "flaky-value")(fail("value rebuilt")) == "built")
    } finally Memo.releaseAll(spark)
  }

  test("releaseAll(a) unpersists a's frames and leaves session b's entries alone") {
    val a = spark
    val b = spark.newSession()
    try {
      val fa = Memo.frame(a.range(104).toDF(), "r")(a.range(104).toDF().selectExpr("id AS x"))
      val fb = Memo.frame(b.range(105).toDF(), "r")(b.range(105).toDF().selectExpr("id AS x"))
      Memo.value(a.range(104).toDF(), "v")("a-value")
      Memo.value(b.range(105).toDF(), "v")("b-value")
      assert(fa.storageLevel == StorageLevel.MEMORY_AND_DISK)
      Memo.releaseAll(a)
      assert(fa.storageLevel == StorageLevel.NONE)
      assert(fb.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(Memo.frame(b.range(105).toDF(), "r")(fail("b's frame was released")) eq fb)
      assert(Memo.value[String](b.range(105).toDF(), "v")(fail("b's value was released")) == "b-value")
      assert(Memo.value(a.range(104).toDF(), "v")("rebuilt") == "rebuilt",
        "a's value is forgotten, so the next call builds")
    } finally {
      Memo.releaseAll(a)
      Memo.releaseAll(b)
    }
  }

  test("build, hit and release print the line format the harness parses") {
    val src = spark.range(106).toDF()
    val buf = new ByteArrayOutputStream
    val err = System.err
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try {
      Memo.frame(src, "fmt")(src.selectExpr("id AS x"))
      Memo.frame(src, "fmt")(src.selectExpr("id AS x"))
      Memo.frame(src, "fmt-disk", StorageLevel.DISK_ONLY)(src.selectExpr("id AS y"))
      Memo.value(src, "fmt-value")("v")
      Memo.releaseAll(spark)
    } finally System.setErr(err)
    val lines = buf.toString("UTF-8").linesIterator
      .filter(l => l.startsWith("[graft.memo] ") && l.contains(" role=fmt")).toSeq
    assert(lines.take(4) == Seq(
      "[graft.memo] build role=fmt storage=MEMORY_AND_DISK",
      "[graft.memo] hit role=fmt storage=MEMORY_AND_DISK",
      "[graft.memo] build role=fmt-disk storage=DISK_ONLY",
      "[graft.memo] build role=fmt-value storage=driver-value"))
    assert(lines.drop(4).sorted == Seq(
      "[graft.memo] release role=fmt storage=MEMORY_AND_DISK",
      "[graft.memo] release role=fmt-disk storage=DISK_ONLY",
      "[graft.memo] release role=fmt-value storage=driver-value"))
  }
}
