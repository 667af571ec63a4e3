package graft.cdc

import graft.ops.StateFiles
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** B18 — the NOTIFICATION CHANNEL (r18, the r17 verdict's #3): snapshot
  * lifecycle events PUSHED to a consumable, replayable record instead of
  * polled through [[Signals.progress]]. [PK: Debezium's notification API
  * emits incremental-snapshot lifecycle events — started, in-progress,
  * table-scan-completed, completed, aborted, paused, resumed — to a
  * channel (topic/log/JMX) that operators and tooling consume; REF
  * README.md:13 fronts the connectors whose snapshots those notifications
  * narrate.] A real operator watches the channel, not a polling API: the
  * progress readout answers "where are we NOW", this log answers "what
  * happened, in order" — and it survives the driver that emitted it.
  *
  * Layout and protocol are [[SchemaHistory]]'s, applied to a second
  * event family: `<root>/_notifications/<seq>.json`, ONE file per event,
  * landed by [[graft.ops.StateFiles.appendNumbered]] — concurrent
  * emitters can never lose or overwrite an event, a crashed emitter
  * burns a number (a gap, never a torn row), and the one-file-per-event
  * shape makes the log a natural Structured Streaming file source
  * ([[stream]]).
  *
  * Event vocabulary (emitted by [[Signals]], each carrying the
  * collection and its landed (chunks, rows) where meaningful):
  *  - `started`     — a collection's chunk loop begins (fresh or reset);
  *                    emitted BEFORE the first landing attempt, deduped
  *                    on retry by a persisted `_started` marker (r19)
  *  - `chunk-landed`— a maintenance turn landed chunks; counts are the
  *                    collection's CUMULATIVE coverage (the in-progress
  *                    heartbeat, one per turn rather than per chunk)
  *  - `table-scan-completed` — the collection exhausted and popped;
  *                    final counts (Debezium's per-table terminal)
  *  - `completed`   — AGGREGATE (no collection): the pop emptied the
  *                    queue — every requested collection has drained;
  *                    the event an operator pages on (r19)
  *  - `stopped`     — a stop-snapshot NAMING collections cut this one
  *                    off; counts show the coverage it keeps
  *  - `aborted`     — a stop-snapshot with NO collections (stop
  *                    everything) killed this queued collection
  *  - `paused` / `resumed` — the protocol gate flipped (no collection)
  *
  * Scale shape: events are turn-rate (operator/maintenance actions),
  * never data-plane volume; counts ride the B15 cursor the chunk loop
  * already maintains, so emission is driver FS I/O only — zero Spark
  * jobs (spec-asserted alongside the progress readout's).
  */
object Notifications {

  private val Dir = "_notifications"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Append one lifecycle event; returns its seq. Callers inside the
    * signal protocol already hold the root's [[Signals.gated]] lock
    * (reentrant); external emitters are serialized by the claim protocol
    * alone, which is enough — claims make seqs unique, the lock only
    * keeps in-JVM appends from burning numbers.
    *
    * Cost note: each append lists the channel directory once to find the
    * next seq. [[prune]] retires the event files AND their `.claim`
    * markers below its watermark (safe there — see the prune body), so
    * the listing is bounded at O(retained events + claims since the last
    * prune), not channel lifetime (r18 verdict #8; soak-asserted in
    * NotificationsSpec).
    */
  def append(spark: org.apache.spark.sql.SparkSession, root: String,
             typ: String, collection: Option[String] = None,
             chunks: Option[Long] = None, rows: Option[Long] = None,
             tsMs: Long = System.currentTimeMillis): Long = Signals.gated(root) {
    val fs = fsOf(spark, root)
    val dir = new Path(root, Dir)
    fs.mkdirs(dir)
    // fail FAST, with a clear message, when the channel path is unusable
    // (e.g. a file squatting on the directory name)
    if (!fs.getFileStatus(dir).isDirectory)
      throw new java.io.IOException(
        s"notification channel path $dir exists and is not a directory")
    val content = {
      val node = mapper.createObjectNode()
      node.put("ts_ms", tsMs)
      node.put("type", typ)
      collection.foreach(node.put("collection", _))
      chunks.foreach(node.put("chunks_landed", _))
      rows.foreach(node.put("rows_landed", _))
      node
    }
    StateFiles.appendNumbered(fs, dir, nextSeq(fs, dir)) { seq =>
      content.put("seq", seq)
      mapper.writeValueAsBytes(content)
    }
  }

  private val PrunedPrefix = "_pruned_"

  /** The next seq to try in a pruned channel dir — shared with the
    * signal file channel ([[Signals.dropSignal]]), whose retention is
    * this channel's too.
    */
  private[cdc] def nextSeq(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Long = {
    if (!fs.exists(dir)) 0L
    else {
      // the prune watermark counts: after retention deletes old events,
      // numbering must CONTINUE past the deleted range — a restart would
      // alias retired seqs and break consumers' seq-watermark dedup
      val ns = fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.endsWith(".json") || n.startsWith(PrunedPrefix))
        .flatMap(n => scala.util.Try(
          n.stripPrefix(PrunedPrefix).stripSuffix(".json").toLong).toOption)
      if (ns.isEmpty) 0L else ns.max + 1L
    }
  }

  /** B18 RETENTION (r18): delete every event at or below `uptoSeq` —
    * the notification channel is an operator FEED, not a state log, so
    * its retention is Kafka-topic-shaped (drop the old tail) rather
    * than the schema history's fold-into-checkpoint: there is no net
    * state to fold, a consumed lifecycle event is simply old news.
    * A `_pruned_<seq>` watermark marker lands FIRST (create-exclusive),
    * so numbering continues past the retired range even when every
    * event file is gone, and a crash mid-delete just leaves files a
    * re-prune removes. Returns the number of event files deleted.
    *
    * Streaming consumers are unaffected going forward (the file source
    * tracks seen files; deletion never retracts) — a FRESH stream
    * starting after a prune sees only the retained tail, which is
    * retention's whole meaning.
    */
  def prune(spark: org.apache.spark.sql.SparkSession, root: String,
            uptoSeq: Long): Long = Signals.gated(root) {
    pruneSeqDir(fsOf(spark, root), new Path(root, Dir), uptoSeq, "prune")
  }

  /** THE channel-retention protocol, shared verbatim by this channel and
    * the B16 signal channel ([[Signals.pruneChannel]]) — one
    * implementation, so a protocol fix cannot be applied to one channel
    * and missed on the other (r19 review; the two had grown as
    * hand-mirrored copies).
    *
    * Watermark first: monotone (only ever raised), claim-idempotent, and
    * only regular FILES count as markers — a directory squatting on a
    * marker name must read as "no watermark", never as a valid floor.
    * A failed create-exclusive ASSUMES a rival made the marker, and a
    * squatting directory fails it the same way; the deletes would then
    * run with NO watermark, so the next append's seq would restart at 0
    * and alias retired seqs, breaking consumers' seq-watermark dedup
    * (r18 advice) — hence the re-list verification, aborting BEFORE any
    * delete.
    * Then `.json` events at or below the watermark retire WITH their
    * `.claim` markers (r18 verdict #8 — this bounds each append's
    * listing to O(retained + claims-since-prune) instead of channel
    * lifetime). Deleting a claim is safe ONLY below the watermark:
    * seq numbering computes past the `_pruned_` marker, so no future
    * appender can ever claim a retired seq again; the residual cross-JVM
    * window — an appender that computed its seq before this prune
    * re-claiming a just-deleted number — lands its event at or below the
    * watermark, where readers already hide it: a lost event (documented
    * best-effort delivery), never a clobbered or aliased one. Contrast
    * SchemaHistory.compact, which keeps claims forever because its log
    * is at-least-once state.
    */
  private[cdc] def pruneSeqDir(fs: org.apache.hadoop.fs.FileSystem,
                               dir: Path, upto: Long,
                               label: String): Long = {
    if (!fs.exists(dir)) return 0L
    def seqOf(s: String) = scala.util.Try(
      s.stripSuffix(".claim").stripSuffix(".json").toLong).toOption
    def markers() = fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filter(_.startsWith(PrunedPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(PrunedPrefix).toLong).toOption)
    val mark = markers().sorted.lastOption.getOrElse(-1L)
    if (upto > mark) {
      // false: a rival pruned the same seq (verified just below)
      StateFiles.createExclusive(fs, new Path(dir, s"$PrunedPrefix$upto"))
      val after = markers()
      val newMark = if (after.isEmpty) -1L else after.max
      if (newMark < upto)
        throw new java.io.IOException(
          s"$label at $dir: the $PrunedPrefix$upto watermark did not land " +
            s"(highest marker: $newMark) — aborting before any deletes")
      after.filter(_ < newMark).foreach(m =>
        fs.delete(new Path(dir, s"$PrunedPrefix$m"), false))
    }
    var dropped = 0L
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      val n = p.getName
      if (!n.startsWith(PrunedPrefix) && seqOf(n).exists(_ <= upto)) {
        if (n.endsWith(".json")) dropped += 1
        if (n.endsWith(".json") || n.endsWith(".claim")) fs.delete(p, false)
      }
    }
    dropped
  }

  /** The event schema [[read]] and [[stream]] share. */
  val eventSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_ms",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("collection",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("chunks_landed",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rows_landed",
        org.apache.spark.sql.types.LongType)))

  /** The channel as a LIVE STREAM: every append is a new file the file
    * source picks up next micro-batch; in-flight `.tmp` writes and bare
    * `.claim` markers never match the glob.
    */
  def stream(spark: org.apache.spark.sql.SparkSession,
             root: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("pathGlobFilter", "*.json")
      .json(s"$root/$Dir")

  /** The channel as a DataFrame — complete events only, in seq order.
    * Driver FS reads; no Spark job until the caller acts on the frame.
    */
  def read(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, root)
    val dir = new Path(root, Dir)
    // the prune watermark is authoritative: events at or below it are
    // retired even if a crash mid-[[prune]] left their files behind
    val floor: Long =
      if (!fs.exists(dir)) -1L
      else fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
        .filter(_.startsWith(PrunedPrefix))
        .flatMap(n => scala.util.Try(n.stripPrefix(PrunedPrefix).toLong).toOption)
        .sorted.lastOption.getOrElse(-1L)
    val events: Seq[(Long, Long, String, String, Option[Long], Option[Long])] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir)
        .map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.endsWith(".json") && scala.util.Try(
            n.stripSuffix(".json").toLong).toOption.forall(_ > floor)
        }
        .sortBy(_.getName)
        .map { p =>
          StateFiles.read(fs, p) { txt =>
            val n = mapper.readTree(txt)
            def str(f: String) = Option(n.get(f)).map(_.asText()).orNull
            def lng(f: String) = Option(n.get(f)).map(_.asLong())
            (n.get("seq").asLong(), n.get("ts_ms").asLong(), str("type"),
              str("collection"), lng("chunks_landed"), lng("rows_landed"))
          }.getOrElse(throw new java.io.FileNotFoundException(s"listed event file is gone: $p"))
        }.toSeq
    events.toDF("seq", "ts_ms", "type", "collection",
      "chunks_landed", "rows_landed")
  }
}
