package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.ops.StateFiles
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** Kill-point walk of the small-file protocols in [[StateFiles]]: every
  * mutating filesystem step of `replace` and of the claimed append is
  * made to crash in turn (a crash inside the tmp write leaves a torn
  * prefix), and the state left behind is read back through the real
  * protocol. No Spark session: the protocols are plain Hadoop FS calls.
  */
class StateFilesSpec extends AnyFunSuite {

  private val local = FileSystem.getLocal(new Configuration())

  private def tmpDir(p: String) =
    new Path(java.nio.file.Files.createTempDirectory(p).toUri)

  private final class Crash extends RuntimeException("injected crash")

  /** A filesystem that dies at its `crashAt`-th mutating step (create,
    * delete or rename; 1-based). A crash on a create lands half the
    * bytes written to the stream before throwing — a torn file.
    */
  private final class CrashingFs(crashAt: Int) extends FilterFileSystem(local) {
    private var step = 0
    private def tick(): Boolean = { step += 1; step == crashAt }
    override def create(f: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      val torn = tick()
      val out = super.create(f, perm, overwrite, bufferSize, replication, blockSize, progress)
      if (!torn) out
      else new FSDataOutputStream(new java.io.OutputStream {
        def write(b: Int): Unit = throw new Crash
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          out.write(b, off, len / 2); out.close(); throw new Crash
        }
        override def close(): Unit = { out.close(); throw new Crash }
      }, null)
    }
    override def delete(f: Path, recursive: Boolean): Boolean =
      if (tick()) throw new Crash else super.delete(f, recursive)
    override def rename(src: Path, dst: Path): Boolean =
      if (tick()) throw new Crash else super.rename(src, dst)
  }

  /** Values are JSON objects, so a torn prefix never parses. */
  private def json(v: String) = s"""{"v":"$v"}""".getBytes(UTF_8)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def parse(s: String): String = {
    val n = mapper.readTree(s)
    require(n != null && n.has("v"), s"not a value: '$s'")
    n.get("v").asText()
  }
  private def readV(p: Path) = StateFiles.read(local, p)(parse)

  private def jsonNames(dir: Path): Seq[String] =
    local.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".json")).sorted.toSeq

  // replace does: 1 create+write tmp, 2 delete main, 3 rename tmp → main
  test("replace: every crash point reads back the old value, the new value, or (first write) nothing") {
    for (withOld <- Seq(false, true); crashAt <- 1 to 4) {
      val p = new Path(tmpDir("graft-sf-replace"), "_state")
      if (withOld) StateFiles.replace(local, p, json("old"))
      val crashed =
        try { StateFiles.replace(new CrashingFs(crashAt), p, json("new")); false }
        catch { case _: Crash => true }
      assert(crashed === (crashAt <= 3), s"crashAt=$crashAt")
      val expect = crashAt match {
        case 1 | 2 => if (withOld) Some("old") else if (crashAt == 1) None else Some("new")
        case _     => Some("new")
      }
      assert(readV(p) === expect, s"withOld=$withOld crashAt=$crashAt")
      // the next replace recovers from any leftover: new value, no tmp
      StateFiles.replace(local, p, json("next"))
      assert(readV(p) === Some("next"))
      assert(!local.exists(p.suffix(".tmp")))
    }
  }

  test("replace: the named read windows — torn tmp, tmp beside an old main, tmp after the delete") {
    val dir = tmpDir("graft-sf-windows")
    def put(name: String, bytes: Array[Byte]): Unit = {
      val out = local.create(new Path(dir, name), true)
      try out.write(bytes) finally out.close()
    }
    val p = new Path(dir, "_state")
    put("_state.tmp", json("new").take(5))
    assert(readV(p) === None, "a torn tmp with no main reads as absent")
    put("_state.tmp", json("new"))
    assert(readV(p) === Some("new"), "a complete tmp with the main deleted is the new value")
    // a tmp whose bytes no longer match its checksum is torn too
    val raw = local.getRawFileSystem.create(new Path(dir, "_state.tmp"), true)
    try raw.write(json("NEW")) finally raw.close()
    assert(readV(p) === None, "a tmp failing its checksum reads as absent")
    put("_state", json("old"))
    assert(readV(p) === Some("old"), "a tmp beside an old main never shadows it")
    put("_state", json("old").take(5))
    intercept[Exception](readV(p)) // a torn MAIN is real corruption: loud
    assert(StateFiles.read(local, new Path(dir, "_absent"))(parse) === None)
  }

  // claimAndWrite does: 1 create claim, 2 create+write json.tmp,
  // 3 delete json, 4 rename json.tmp → json
  test("claimed append: a crash at any step leaves no torn or visible entry, and the next append skips the claim") {
    for (crashAt <- 1 to 4) {
      val dir = tmpDir("graft-sf-claim")
      StateFiles.appendNumbered(local, dir, 0L)(n => json(s"e$n"))
      val crashed =
        try { StateFiles.appendNumbered(new CrashingFs(crashAt), dir, 1L)(n => json(s"e$n")); false }
        catch { case _: Crash => true }
      assert(crashed, s"crashAt=$crashAt")
      assert(jsonNames(dir) === Seq("0000000000.json"),
        s"crashAt=$crashAt: no entry becomes visible before its rename")
      // the next appender starts from the same number the crashed one had
      val landed = StateFiles.appendNumbered(local, dir, 1L)(n => json(s"e$n"))
      assert(landed === 2L,
        s"crashAt=$crashAt: a standing claim's number is burnt, never reused")
      assert(jsonNames(dir).map(n => readV(new Path(dir, n)).get) ===
        Seq("e0", s"e$landed"))
      assert(local.exists(new Path(dir, "0000000000.claim")), "claims are never deleted")
    }
  }

  test("claimed append: appenders starting from the same number land distinct numbers, none overwritten") {
    // sequential, through both createExclusive branches (JDK O_EXCL on
    // the local FS, Hadoop create(overwrite = false) elsewhere)
    for (fs <- Seq[FileSystem](local, new FilterFileSystem(local.getRawFileSystem))) {
      val dir = tmpDir("graft-sf-rivals")
      val a = StateFiles.appendNumbered(fs, dir, 0L)(_ => json("a"))
      val b = StateFiles.appendNumbered(fs, dir, 0L)(_ => json("b"))
      assert((a, b) === ((0L, 1L)))
      assert(readV(new Path(dir, "0000000000.json")) === Some("a"))
      assert(readV(new Path(dir, "0000000001.json")) === Some("b"))
    }
    // concurrent: every writer always starts from 0
    val dir = tmpDir("graft-sf-race")
    val writers = 4
    val perWriter = 25
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (0 until perWriter).map(i =>
            StateFiles.appendNumbered(local, dir, 0L)(_ => json(s"w$w-$i")))
        })
      }
      val seqs = futures.flatMap(_.get())
      assert(seqs.distinct.size === writers * perWriter, "every append got its own number")
      val bodies = jsonNames(dir).map(n => readV(new Path(dir, n)).get)
      assert(bodies.size === writers * perWriter)
      assert(bodies.toSet === (for (w <- 0 until writers; i <- 0 until perWriter)
        yield s"w$w-$i").toSet, "no entry was overwritten by a rival")
    } finally pool.shutdown()
  }

  test("createExclusive: exactly one of many racing creators wins; a broken path throws") {
    val dir = tmpDir("graft-sf-excl")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      for (round <- 0 until 50) {
        val p = new Path(dir, s"marker-$round")
        val start = new java.util.concurrent.CountDownLatch(1)
        val wins = (0 until 4).map(_ => pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = { start.await(); StateFiles.createExclusive(local, p) }
        }))
        start.countDown()
        assert(wins.count(_.get()) === 1, s"round $round")
      }
    } finally pool.shutdown()
    // a file squatting on the parent dir is a fault, not a rival's claim:
    // a claim loop reading it as "taken" would spin forever
    val squat = new Path(dir, "squat")
    local.create(squat, true).close()
    intercept[java.io.IOException](StateFiles.createExclusive(local, new Path(squat, "x")))
    intercept[java.io.IOException](
      StateFiles.createExclusive(new FilterFileSystem(local.getRawFileSystem), new Path(squat, "x")))
  }
}
