package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[Generations.commit]] is one atomic create-exclusive of the
  * generation's marker: of several writers committing the same
  * generation at once, exactly one wins and every other one throws.
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
}
