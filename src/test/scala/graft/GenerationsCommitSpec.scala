package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[Generations.commit]] is one atomic create-exclusive of the
  * generation's marker: of several writers committing the same
  * generation at once, exactly one wins and every other one throws.
  * [[Generations.swap]] commits only after its write returns, and
  * [[Generations.batchIds]] is the one `__batch=` listing.
  */
class GenerationsCommitSpec extends AnyFunSuite {

  private val local = FileSystem.getLocal(new Configuration())

  test("racing commits of one generation on the local filesystem: exactly one wins") {
    val root = new Path(java.nio.file.Files.createTempDirectory("graft-gen-commit").toString)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      for (round <- 1 to 50) {
        val base = s"data$round"
        val (staged, gen) = Generations.stage(local, root, base)
        assert(local.mkdirs(staged))
        val start = new java.util.concurrent.CountDownLatch(1)
        val outcomes = (0 until 4).map(_ => pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try { Generations.commit(local, root, base, gen); true }
            catch { case _: FileAlreadyExistsException => false }
          }
        }))
        start.countDown()
        assert(outcomes.count(_.get()) === 1, s"round $round")
        assert(Generations.currentGen(local, root, base) === gen)
      }
    } finally pool.shutdown()
  }

  test("committing an already committed generation throws") {
    val root = new Path(java.nio.file.Files.createTempDirectory("graft-gen-recommit").toString)
    val (staged, gen) = Generations.stage(local, root, "data")
    assert(local.mkdirs(staged))
    Generations.commit(local, root, "data", gen)
    intercept[FileAlreadyExistsException](Generations.commit(local, root, "data", gen))
  }

  private def tmpRoot(prefix: String) =
    new Path(java.nio.file.Files.createTempDirectory(prefix).toString)

  private def watermark(root: Path): Option[Long] =
    StateFiles.read(local, new Path(Generations.currentDir(local, root, "data"), "_wm"))(_.toLong)

  test("a swap whose write throws commits nothing; the next swap takes the same number") {
    val root = tmpRoot("graft-gen-swap-fail")
    assert(Generations.swap(local, root, "data") { dir =>
      StateFiles.replace(local, new Path(dir, "_wm"), "7".getBytes("UTF-8"))
    } === 1L)
    intercept[IllegalStateException] {
      Generations.swap(local, root, "data") { dir =>
        StateFiles.replace(local, new Path(dir, "_wm"), "9".getBytes("UTF-8"))
        throw new IllegalStateException("write failed")
      }
    }
    assert(!local.exists(new Path(root, "_data_commit_2")), "a failed write must not commit")
    assert(Generations.currentGen(local, root, "data") === 1L)
    assert(watermark(root) === Some(7L), "the served marker is the committed one")

    assert(Generations.swap(local, root, "data") { dir =>
      StateFiles.replace(local, new Path(dir, "_wm"), "9".getBytes("UTF-8"))
    } === 2L, "the failed generation's number is reused")
    assert(Generations.currentGen(local, root, "data") === 2L)
    assert(watermark(root) === Some(9L))
  }

  test("batchIds lists __batch= ids sorted and distinct, per layout dir, Nil when absent") {
    val root = tmpRoot("graft-gen-batch-ids")
    def touch(p: Path): Unit = local.create(p, true).close()
    val flat = new Path(root, "flat")
    Seq("__batch=3", "__batch=-1", "__batch=10", "tb=0", "_gen").foreach(n => local.mkdirs(new Path(flat, n)))
    touch(new Path(flat, "_SUCCESS"))
    touch(new Path(flat, "part-00000.parquet"))
    assert(Generations.batchIds(local, flat) === Seq(-1L, 3L, 10L))

    val nested = new Path(root, "nested")
    Seq("tb=0/__batch=0", "tb=0/__batch=2", "tb=1/__batch=2", "cell=5/__batch=4")
      .foreach(n => local.mkdirs(new Path(nested, n)))
    touch(new Path(nested, "tb=2/part-00000.parquet")) // a flat child
    assert(Generations.batchIds(local, new Path(nested, "tb=0")) === Seq(0L, 2L))
    assert(Generations.batchIds(local, new Path(nested, "tb=1")) === Seq(2L))
    assert(Generations.batchIds(local, new Path(nested, "cell=5")) === Seq(4L))
    assert(Generations.batchIds(local, new Path(nested, "tb=2")).isEmpty)
    assert(Generations.batchIds(local, nested).isEmpty, "only direct children count")

    assert(Generations.batchIds(local, new Path(root, "missing")) === Nil)
  }
}
