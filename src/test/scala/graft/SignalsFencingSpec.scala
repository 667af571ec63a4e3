package graft

import graft.cdc.{IncrementalSnapshot, Signals}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B16 round-17 hardening: writer-epoch fencing, in-driver writer
  * serialization (the blocking-drain gate), lenient stream application,
  * snapshot-read replay safety, newest-execute-wins on conflicting
  * re-executes, the job-free progress readout, and the 50-collection /
  * 200-signal protocol soak.
  */
class SignalsFencingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def tableOf(n: String) = n match {
    case "t1" => (0L until 40L).map(i => (i, s"a$i")).toDF("k", "payload")
    case "t2" => (0L until 20L).map(i => (i, s"b$i")).toDF("k", "payload")
    case other => fail(s"unexpected collection $other")
  }

  private def sig(rows: (String, String, String, Long)*) =
    rows.toDF("id", "type", "data", "lsn")

  private def turn(root: String, maxChunks: Int = 2,
                   epoch: Option[Long] = None) =
    Signals.turn(spark, root, tableOf, _ => Seq("k"), _ => 10,
      (_, cid) => 100L + cid, maxChunks, epoch)

  test("a zombie driver's fenced writes refuse after a successor acquires the epoch") {
    val root = tmp("graft-sig-fence")
    val e1 = Signals.acquireWriter(spark, root)
    assert(e1 === 1L)
    Signals.applySignals(spark, root, sig(
      ("a", "execute-snapshot", """{"data-collections":["t2"]}""", 1L)),
      epoch = Some(e1))
    assert(Signals.state(spark, root).queue === Seq("t2"))
    // successor takes over
    val e2 = Signals.acquireWriter(spark, root)
    assert(e2 === 2L)
    // the zombie's applySignals refuses and the state is untouched
    val ex1 = intercept[Signals.StaleWriterException] {
      Signals.applySignals(spark, root, sig(
        ("b", "stop-snapshot", null, 2L)), epoch = Some(e1))
    }
    assert(ex1.getMessage.contains("epoch"))
    assert(Signals.state(spark, root).queue === Seq("t2"),
      "the refused write must not clobber the state")
    // the zombie's turn refuses at entry
    intercept[Signals.StaleWriterException] { turn(root, epoch = Some(e1)) }
    // the successor proceeds normally
    assert(turn(root, epoch = Some(e2)) === 2)
  }

  test("a takeover DURING a turn refuses the pop instead of clobbering") {
    val root = tmp("graft-sig-fence-pop")
    val e1 = Signals.acquireWriter(spark, root)
    Signals.applySignals(spark, root, sig(
      ("a", "execute-snapshot", """{"data-collections":["t2"]}""", 1L)),
      epoch = Some(e1))
    // the table resolver fires INSIDE the turn (after the entry fence
    // check): acquiring a new epoch there simulates a takeover landing
    // mid-drain — with the r18 per-chunk fence the refusal now fires at
    // the FIRST chunk (before the old pop-only check ever ran), so the
    // zombie lands nothing and the pop write never happens
    val hijack: String => org.apache.spark.sql.DataFrame = n => {
      Signals.acquireWriter(spark, root)
      tableOf(n)
    }
    val ex = intercept[Signals.StaleWriterException] {
      Signals.turn(spark, root, hijack, _ => Seq("k"), _ => 10,
        (_, cid) => 100L + cid, maxChunks = 5, epoch = Some(e1))
    }
    assert(ex.getMessage.contains("turn chunk"))
    assert(Signals.state(spark, root).queue === Seq("t2"),
      "the stale pop must not complete — the successor owns the drain")
  }

  test("lenient stream mode logs-and-skips malformed signals; strict mode still throws") {
    val root = tmp("graft-sig-lenient")
    // one malformed execute (no collections), one unsupported type, one
    // valid execute — lenient applies the valid one and skips the rest
    val batch = sig(
      ("a", "execute-snapshot", null, 1L),
      ("b", "execute-snapshot", """{"data-collections":["t1"],"type":"read-only"}""", 2L),
      ("c", "execute-snapshot", """{"data-collections":["t2"]}""", 3L))
    val st = Signals.applySignals(spark, root, batch, lenient = true)
    assert(st.queue === Seq("t2"),
      "the valid signal applies; the malformed ones skip instead of failing the batch")
    // strict (programmatic) mode keeps the loud failure
    intercept[IllegalArgumentException] {
      Signals.applySignals(spark, root, sig(("d", "execute-snapshot", null, 4L)))
    }
  }

  test("lenient mode also skips UNPARSEABLE JSON data (r18 advice: not just IAE)") {
    val root = tmp("graft-sig-lenient-json")
    // `{not json` throws JsonProcessingException (an IOException) from
    // mapper.readTree — the pre-r18 IAE-only catch let it fail the whole
    // foreachBatch and retry forever
    val batch = sig(
      ("a", "execute-snapshot", """{not json""", 1L),
      ("b", "execute-snapshot", """{"data-collections":["t1"]}""", 2L))
    val st = Signals.applySignals(spark, root, batch, lenient = true)
    assert(st.queue === Seq("t1"),
      "the corrupt-JSON signal skips; the valid one applies")
    // strict mode surfaces the parse failure loudly
    intercept[Exception] {
      Signals.applySignals(spark, root,
        sig(("c", "execute-snapshot", """{not json""", 3L)))
    }
  }

  test("file channel: claim-sequenced drops apply in order; a corrupt file skips leniently") {
    val root = tmp("graft-sig-filech")
    // two conflicting executes: the SECOND drop (higher claimed lsn)
    // must win — newest-execute-wins rides the channel's total order
    Signals.dropSignal(spark, root, "f1", "execute-snapshot",
      """{"data-collections":["t1"],"additional-conditions":[
        |{"data-collection":"t1","filter":"k < 10"}]}"""
        .stripMargin.replace("\n", ""))
    Signals.dropSignal(spark, root, "f2", "execute-snapshot",
      """{"data-collections":["t1"]}""")
    // a corrupt dropped file: the json source parses it to a null-typed
    // row, which lenient application logs and skips
    val w = new java.io.FileWriter(s"$root/_signal_channel/0000000099.json")
    w.write("this is not a signal"); w.close()
    val q = Signals.fileChannel(spark, root)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Signals.applySignals(spark, root, b, lenient = true): Unit
      }
      .option("checkpointLocation", tmp("graft-sig-filech-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val st = Signals.state(spark, root)
    assert(st.queue === Seq("t1"))
    assert(st.conditions.isEmpty,
      "the later unconditioned execute wins — channel order is the lsn order")
    // concurrent droppers never collide on a sequence number
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 4).map(w => new Thread(() => {
      for (i <- 0 until 5)
        ids.add(Signals.dropSignal(spark, root, s"c$w-$i", "pause-snapshot", null))
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(ids.asScala.toSeq.distinct.length === 20,
      "every concurrent drop claimed a unique lsn")
    // retention: consumed drops prune behind a watermark; numbering
    // continues past the retired range (fresh consumers see the tail)
    val maxLsn = ids.asScala.max
    assert(Signals.pruneChannel(spark, root, maxLsn) > 0L)
    // claims fold under the watermark with their signals (r18 verdict
    // #8): everything at or below the watermark retires — including the
    // corrupt fixture file — so a dropper's listing is bounded by the
    // retained tail, not channel lifetime
    val names = new java.io.File(s"$root/_signal_channel").list().toSeq
    assert(names.count(_.endsWith(".claim")) === 0,
      s"claims at or below the watermark must fold: $names")
    assert(names.count(_.startsWith("_pruned_")) === 1)
    val next = Signals.dropSignal(spark, root, "f9", "resume-snapshot", null)
    assert(next === maxLsn + 1L,
      "lsn numbering never restarts into the pruned range")
  }

  test("a mid-turn epoch takeover stops the zombie within one chunk (r18 advice)") {
    val root = tmp("graft-sig-midturn")
    val e1 = Signals.acquireWriter(spark, root)
    Signals.applySignals(spark, root, sig(
      ("a", "execute-snapshot", """{"data-collections":["t1"]}""", 1L)),
      epoch = Some(e1))
    // t1 is 40 rows at chunk size 10 → 4 chunks; the loLsnOf callback
    // runs inside the chunk loop, so a successor acquiring the epoch
    // during chunk 1's landing must fence chunk 2 — the entry-only check
    // of r17 would have let all 4 land
    var calls = 0
    val ex = intercept[Signals.StaleWriterException] {
      Signals.turn(spark, root, tableOf, _ => Seq("k"), _ => 10,
        (_, cid) => {
          calls += 1
          if (calls == 1) Signals.acquireWriter(spark, root) // successor
          100L + cid
        },
        maxChunks = 4, epoch = Some(e1))
    }
    assert(ex.getMessage.contains("turn chunk"))
    val landed = IncrementalSnapshot.cursorStats(
      spark, Signals.collectionPath(root, "t1")).map(_._1).getOrElse(0L)
    assert(landed === 1L,
      s"the zombie must stop within one chunk of the takeover, landed $landed")
  }

  test("snapshot reads of the signal table do not replay as live signals by default") {
    import graft.cdc.Envelope
    import org.apache.spark.sql.types._
    val root = tmp("graft-sig-replay")
    val sigSchema = StructType(Seq(StructField("id", StringType),
      StructField("type", StringType), StructField("data", StringType)))
    def env(id: String, typ: String, data: String, op: String, lsn: Long) = {
      val d = if (data == null) "null" else
        s""""${data.replace("\"", "\\\"")}""""
      s"""{"before":null,"after":{"id":"$id","type":"$typ","data":$d},
         |"source":{"connector":"pg","db":"d","schema":"s","table":"signals",
         |"lsn":$lsn,"snapshot":false,"ts_ms":1},"op":"$op","ts_ms":1}"""
        .stripMargin.replace("\n", "")
    }
    // an op='r' replay of a historical execute (the signal table being
    // re-snapshotted) plus a live op='c' pause
    val raw = Seq(
      env("old", "execute-snapshot", """{"data-collections":["t2"]}""", "r", 5L),
      env("new", "pause-snapshot", null, "c", 10L)).toDF("value")
    val parsed = Envelope.parse(raw, sigSchema)
    Signals.applySignals(spark, root, Signals.fromEnvelope(parsed))
    val st = Signals.state(spark, root)
    assert(st.queue.isEmpty && st.paused,
      "the replayed snapshot-read execute is ignored; the live insert applies")
    // opt-in keeps the r16 behavior for insert-once signal tables
    val root2 = tmp("graft-sig-replay2")
    Signals.applySignals(spark, root2,
      Signals.fromEnvelope(parsed, includeSnapshotReads = true))
    assert(Signals.state(spark, root2).queue === Seq("t2"))
  }

  test("re-executing a QUEUED collection with a different condition adopts the newest signal") {
    val root = tmp("graft-sig-newest")
    Signals.applySignals(spark, root, sig(
      ("a", "execute-snapshot",
        """{"data-collections":["t1"],"additional-conditions":[{"data-collection":"t1","filter":"k % 2 = 0"}]}""",
        1L)))
    assert(turn(root) === 2, "two chunks of the 20 even keys land")
    // the operator changes the filter: the queued collection adopts it —
    // chunk state resets so the NEW condition applies from row zero
    Signals.applySignals(spark, root, sig(
      ("b", "execute-snapshot",
        """{"data-collections":["t1"],"additional-conditions":[{"data-collection":"t1","filter":"k < 10"}]}""",
        2L)))
    val st = Signals.state(spark, root)
    assert(st.queue === Seq("t1") && st.conditions === Map("t1" -> "k < 10"))
    assert(!new java.io.File(Signals.collectionPath(root, "t1")).exists,
      "a condition change restarts the collection's chunk state")
    assert(turn(root) === 1 && Signals.state(spark, root).done === Seq("t1"))
    val landed = IncrementalSnapshot.landedChunks(spark,
      Signals.collectionPath(root, "t1"))
    assert(landed.count() === 10L && landed.where(col("k") >= 10).count() === 0L,
      "exactly the new condition's rows landed — no mixed coverage")
    // a blocking-flag change adopts too
    val root2 = tmp("graft-sig-newest2")
    Signals.applySignals(spark, root2, sig(
      ("a", "execute-snapshot", """{"data-collections":["t1"]}""", 1L)))
    Signals.applySignals(spark, root2, sig(
      ("b", "execute-snapshot", """{"data-collections":["t1"],"type":"blocking"}""", 2L)))
    assert(Signals.state(spark, root2).blocking === Seq("t1"))
    assert(turn(root2) === 4, "the adopted blocking flag drains t1 in one turn")
    // an IDENTICAL re-execute stays a pure dedup (no reset)
    val root3 = tmp("graft-sig-newest3")
    Signals.applySignals(spark, root3, sig(
      ("a", "execute-snapshot", """{"data-collections":["t1"]}""", 1L)))
    assert(turn(root3) === 2)
    Signals.applySignals(spark, root3, sig(
      ("b", "execute-snapshot", """{"data-collections":["t1"]}""", 2L)))
    assert(new java.io.File(
      Signals.collectionPath(root3, "t1") + "/chunks").exists,
      "an identical re-execute must not wipe in-flight chunk state")
  }

  test("progress launches ZERO Spark jobs — the readout is pure driver FS reads") {
    val root = tmp("graft-sig-jobfree")
    Signals.applySignals(spark, root, sig(
      ("a", "execute-snapshot", """{"data-collections":["t1","t2"]}""", 1L)))
    assert(turn(root) === 2) // 2 of t1's 4 chunks
    Signals.applySignals(spark, root, sig(
      ("b", "stop-snapshot", """{"data-collections":["t1"]}""", 2L)))
    assert(turn(root) === 2 && turn(root) === 0) // t2 drains and pops
    var rows: Array[org.apache.spark.sql.Row] = null
    val jobs = JobProbe.count(spark) {
      rows = Signals.progress(spark, root).collect()
    }
    assert(jobs === 0, s"progress must be job-free, launched $jobs jobs")
    val p = rows.map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
      r.getLong(3)))).toMap
    assert(p("t1") === (("stopped", 2L, 20L)),
      "cursor-carried stats match the landed volume")
    assert(p("t2") === (("done", 2L, 20L)))
  }

  test("a gated change sink waits out a blocking drain and lands after the watermark") {
    val root = tmp("graft-sig-gate")
    val chDir = tmp("graft-sig-gate-ch") + "/changes"
    Signals.applySignals(spark, root, sig(
      ("a", "execute-snapshot", """{"data-collections":["t1"],"type":"blocking"}""", 1L)))
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // the resolver fires inside the turn (lock held): signal the main
    // thread, then hold the drain open until it has dispatched the sink
    val slowTable: String => org.apache.spark.sql.DataFrame = n => {
      started.countDown()
      release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      tableOf(n)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future {
      Signals.turn(spark, root, slowTable, _ => Seq("k"), _ => 10,
        (n, cid) => { order.add(s"chunk-$cid"); 100L } , maxChunks = 1)
    }
    assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // dispatch the change sink while the blocking drain holds the lock
    val sinkDone = new java.util.concurrent.CountDownLatch(1)
    val sink = graft.streaming.Ingest.gatedChangeSink(root) { (b, _) =>
      order.add("sink-ran")
      b.write.mode("append").parquet(chDir)
      sinkDone.countDown()
    }
    val change = Seq((5L, "updated", "u", 200L))
      .toDF("k", "payload", "op", "lsn")
    Future { sink(change, 0L) }
    Thread.sleep(200) // give the sink thread time to block on the gate
    order.add("drain-still-open")
    release.countDown()
    val landedChunks = Await.result(fut, scala.concurrent.duration.Duration(60, "s"))
    assert(landedChunks === 4, "the blocking head drains fully in one turn")
    assert(sinkDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
    val seq = order.toArray(Array.empty[String]).toSeq
    val lastChunk = seq.lastIndexWhere(_.startsWith("chunk-"))
    assert(seq.indexOf("sink-ran") > lastChunk,
      s"the gated sink must wait out the whole drain: $seq")
    assert(seq.indexOf("sink-ran") > seq.indexOf("drain-still-open"), s"$seq")
    // the waited-out change lands after the blocking watermark and WINS
    // the merge — the consistency the blocking contract promises
    val merged = Signals.collectionState(spark, root, "t1",
      spark.read.parquet(chDir), Seq("k"), "lsn").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(r.fieldIndex("src")))))
      .toMap
    assert(merged(5L) === (("updated", "stream")),
      "the post-drain change outranks its chunk row")
    assert(merged(6L)._2 === "chunk")
    assert(merged.size === 40)
  }

  test("law: random scripts WITH conditions and blocking match the protocol model (seeded)") {
    // extends SignalsSpec's model-based law to the r17 semantics: random
    // executes carry additional-conditions and blocking flags, and a
    // re-execute of a QUEUED collection with different settings adopts
    // the newest signal (chunk-state reset) while an identical one
    // dedups. The model is ~30 lines of driver arithmetic; after a
    // final drain the landed coverage per collection must agree exactly.
    val rnd = new scala.util.Random(20260817L)
    val total = Map("t1" -> 40L, "t2" -> 20L)
    val condChoices = Seq(None, Some("k < 10"), Some("k % 2 = 0"))
    def matching(t: String, cond: Option[String]): Long = cond match {
      case None               => total(t)
      case Some("k < 10")     => 10L
      case Some("k % 2 = 0")  => total(t) / 2
      case other              => fail(s"unmodeled condition $other")
    }
    for (trial <- 0 until 6) {
      val root = tmp(s"graft-sig-law17-$trial")
      // model state
      var q = Vector.empty[String]
      var paused = false
      var landed = Map("t1" -> 0L, "t2" -> 0L)
      var condOf = Map.empty[String, Option[String]].withDefaultValue(None)
      var blockingOf = Set.empty[String]
      // chunkSize 10, maxChunks 2: a paced turn lands ceil(rem/10) capped
      // at 2 chunks and pops when it landed FEWER than 2 (the empty
      // probe); a blocking head drains fully and pops the same turn
      def modelTurn(): Unit = if (!paused && q.nonEmpty) {
        val h = q.head
        val rem = matching(h, condOf(h)) - landed(h)
        if (blockingOf.contains(h)) {
          landed += h -> (landed(h) + rem)
          q = q.tail; blockingOf -= h; condOf -= h
        } else {
          val chunks = math.min(2L, (rem + 9L) / 10L)
          landed += h -> (landed(h) + math.min(rem, chunks * 10L))
          if (chunks < 2L) { q = q.tail; condOf -= h }
        }
      }
      var sigId = 0
      def apply(typ: String, data: String): Unit = {
        sigId += 1
        Signals.applySignals(spark, root,
          sig((f"s$sigId%03d", typ, data, sigId.toLong)))
      }
      def modelExecute(c: String, cond: Option[String], blocking: Boolean): Unit = {
        val fresh = !q.contains(c)
        val changed = !fresh &&
          (condOf(c) != cond || blockingOf.contains(c) != blocking)
        if (fresh || changed) {
          landed += c -> 0L
          condOf += c -> cond
          blockingOf = if (blocking) blockingOf + c else blockingOf - c
          if (fresh) q = q :+ c
        }
      }
      for (_ <- 0 until 10) rnd.nextInt(6) match {
        case 0 | 1 =>
          val c = if (rnd.nextBoolean()) "t1" else "t2"
          val cond = condChoices(rnd.nextInt(condChoices.length))
          val blocking = rnd.nextInt(4) == 0
          val condJson = cond.map(f =>
            s""","additional-conditions":[{"data-collection":"$c","filter":"$f"}]""")
            .getOrElse("")
          val typJson = if (blocking) ""","type":"blocking"""" else ""
          apply("execute-snapshot",
            s"""{"data-collections":["$c"]$typJson$condJson}""")
          modelExecute(c, cond, blocking)
        case 2 =>
          val c = if (rnd.nextBoolean()) "t1" else "t2"
          apply("stop-snapshot", s"""{"data-collections":["$c"]}""")
          q = q.filterNot(_ == c); blockingOf -= c; condOf -= c
        case 3 => apply("pause-snapshot", null); paused = true
        case 4 => apply("resume-snapshot", null); paused = false
        case 5 => turn(root); modelTurn()
      }
      // final drain in lockstep
      apply("resume-snapshot", null); paused = false
      var guard = 0
      while (q.nonEmpty && guard < 30) { turn(root); modelTurn(); guard += 1 }
      assert(turn(root) === 0)
      for ((c, rows) <- landed) {
        val p = Signals.collectionPath(root, c)
        val real =
          if (new java.io.File(s"$p/chunks").exists)
            IncrementalSnapshot.landedChunks(spark, p).count()
          else 0L
        assert(real === rows,
          s"trial $trial: $c landed $real, model says $rows")
      }
    }
  }

  test("soak: 50 collections x 200 random signals — state stays O(collections), turns stay O(chunks)") {
    val root = tmp("graft-sig-soak")
    val names = (0 until 50).map(i => f"c$i%02d")
    def soakTable(n: String) =
      (0L until 30L).map(i => (i, s"$n-$i")).toDF("k", "v")
    var turns = 0
    var maxTurnJobs = 0
    def soakTurn(): Int = {
      var landed = 0
      val jobs = JobProbe.count(spark) {
        landed = Signals.turn(spark, root, soakTable, _ => Seq("k"), _ => 30,
          (_, cid) => 100L + cid, maxChunks = 2)
      }
      turns += 1
      maxTurnJobs = math.max(maxTurnJobs, jobs)
      landed
    }
    val rnd = new scala.util.Random(20260816L)
    var sent = 0
    var sigId = 0
    def batch(k: Int): Unit = {
      val rows = (0 until k).map { _ =>
        sigId += 1
        rnd.nextInt(10) match {
          case x if x < 6 =>
            val c = names(rnd.nextInt(names.length))
            val blocking = if (rnd.nextInt(10) == 0) ""","type":"blocking"""" else ""
            (f"s$sigId%04d", "execute-snapshot",
              s"""{"data-collections":["$c"]$blocking}""", sigId.toLong)
          case x if x < 8 =>
            val c = names(rnd.nextInt(names.length))
            (f"s$sigId%04d", "stop-snapshot",
              s"""{"data-collections":["$c"]}""", sigId.toLong)
          case 8 => (f"s$sigId%04d", "pause-snapshot", null, sigId.toLong)
          case _ => (f"s$sigId%04d", "resume-snapshot", null, sigId.toLong)
        }
      }
      sent += k
      Signals.applySignals(spark, root, rows.toDF("id", "type", "data", "lsn"))
      val sz = new java.io.File(root, "_signals").length()
      assert(sz < 8192,
        s"state file grew to $sz bytes after $sent signals — not O(collections)")
    }
    // the random management traffic, turns interleaved
    for (_ <- 0 until 19) { batch(10); soakTurn() }
    batch(10)
    assert(sent === 200)
    // final deterministic drain: resume everything and re-execute ALL 50
    // collections (wiping whatever partial coverage the script left), so
    // the converged end state is exact
    sigId += 1
    Signals.applySignals(spark, root, sig(
      (f"s$sigId%04d", "resume-snapshot", null, sigId.toLong),
      (f"s${sigId + 1}%04d", "execute-snapshot",
        names.map(n => s""""$n"""")
          .mkString("""{"data-collections":[""", ",", "]}"), sigId + 1L)))
    var guard = 0
    while (Signals.state(spark, root).queue.nonEmpty && guard < 120) {
      soakTurn(); guard += 1
    }
    assert(Signals.state(spark, root).queue.isEmpty, "the drain converged")
    assert(Signals.state(spark, root).done.toSet === names.toSet)
    for (c <- names)
      assert(IncrementalSnapshot.landedChunks(spark,
        Signals.collectionPath(root, c)).count() === 30L, s"$c landed fully")
    // every turn stayed O(chunks-landed) Spark jobs — a turn that scanned
    // state proportional to collections or corpus would blow this bound
    assert(maxTurnJobs <= 15,
      s"a turn launched $maxTurnJobs jobs over $turns turns — not O(chunks)")
    // and the management readout over all 50 collections is job-free
    var nRows = 0
    val progressJobs = JobProbe.count(spark) {
      nRows = Signals.progress(spark, root).collect().length
    }
    assert(nRows === 50 && progressJobs === 0,
      s"50-collection progress must be job-free, launched $progressJobs")
  }
}
