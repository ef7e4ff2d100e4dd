package graft.queries

import graft.SparkSpec
import graft.operators.Scoped
import org.apache.commons.io.FileUtils

import java.io.File
import java.util.concurrent.CyclicBarrier

/** The query builders' stream runner and scratch owner: confs restored
 * on failure, scratch released with its scope (and not before), one
 * dir per scope, fixtures staged once. */
class StreamRunSpec extends SparkSpec {

  import spark.implicits._

  private val Partitions = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("the session confs are restored after a stream that throws mid-feed") {
    val before = (spark.conf.get(Partitions), spark.conf.get(NoData))
    val mem = StreamRun.source[Long](spark)
    var during: (String, String) = null
    val err = intercept[IllegalStateException] {
      StreamRun.toMemory(mem.toDS(), StreamRun.Fed(Seq(
          () => { mem.addData(1L, 2L); () },
          () => {
            during = (spark.conf.get(Partitions), spark.conf.get(NoData))
            throw new IllegalStateException("feed failed")
          })),
        partitions = 3, noDataBatches = false)
    }
    assert(err.getMessage == "feed failed")
    assert(during == ("3", "false"), "the run must see its own confs")
    assert((spark.conf.get(Partitions), spark.conf.get(NoData)) == before)
    assert(spark.streams.active.isEmpty, "the failed stream must be stopped")
  }

  test("a scope's scratch dir lives through its action and is gone after") {
    var d: String = null
    val n = Scoped.withCached {
      d = Scratch.dir("spec")
      spark.range(5).write.parquet(s"$d/t")
      spark.read.parquet(s"$d/t") // read lazily, by the action
    } { df =>
      assert(new File(d).isDirectory)
      df.count()
    }
    assert(n == 5)
    assert(!new File(d).exists(), s"$d must be released with its scope")
  }

  test("nested and concurrent scopes get distinct dirs") {
    var outer, inner: String = null
    Scoped.withCached {
      outer = Scratch.dir("spec")
      Scoped.withCached {
        inner = Scratch.dir("spec")
        spark.range(1).toDF()
      }(_.count())
      assert(inner != outer)
      assert(!new File(inner).exists(), "the inner scope releases only its own dir")
      assert(new File(outer).isDirectory)
      spark.range(1).toDF()
    }(_.count())
    assert(!new File(outer).exists())

    // two threads, each inside its own scope at the same time
    val barrier = new CyclicBarrier(2)
    val dirs = new Array[String](2)
    val threads = (0 until 2).map { i =>
      new Thread(() => Scoped.withCached {
        dirs(i) = Scratch.dir("spec")
        barrier.await() // both dirs exist at once
        spark.range(1).toDF()
      }(_ => ()))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(dirs.forall(_ != null) && dirs(0) != dirs(1))
    assert(dirs.forall(d => !new File(d).exists()))
  }

  test("a second fixture call reuses the staged copy; a changed dataset restages") {
    val dataset = Scratch.dir("dataset") // outside any scope: kept to JVM exit
    FileUtils.writeStringToFile(new File(dataset, "t.txt"), "v1", "UTF-8")
    var writes = 0
    def stage(): String = Scratch.fixture(dataset, "lines") { p =>
      writes += 1
      Seq("a", "b").toDF("value").write.text(p)
    }
    val first = stage()
    try {
      val stamp = new File(first).listFiles().map(_.lastModified()).max
      val second = stage()
      assert(second == first && writes == 1, "the second call must not rewrite")
      assert(new File(second).listFiles().map(_.lastModified()).max == stamp)
      assert(spark.read.text(second).count() == 2)
      FileUtils.writeStringToFile(new File(dataset, "u.txt"), "v2", "UTF-8")
      assert(stage() != first && writes == 2,
        "regenerated data must not reuse the stale copy")
    } finally FileUtils.deleteQuietly(new File(first).getParentFile)
  }
}
