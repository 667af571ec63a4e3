package graft.cdc

import graft.ops.StateFiles
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** B15 — DBLog-style INCREMENTAL SNAPSHOT: re-snapshot a live table in
  * key-ordered chunks interleaved with its change stream, converging on
  * the current state without ever locking the table or replaying the
  * full history (Netflix DBLog; the signal-based incremental snapshots
  * Debezium's connectors ship — the reference platform's most-used
  * consumer feature the engine still lacked through round 14).
  *
  * The algorithm, re-expressed as ORDERING instead of a dedup buffer:
  * each chunk read carries the LOW watermark `__lo_lsn` — the log
  * position observed just before the chunk SELECT ran. The chunk's rows
  * are therefore AT LEAST as fresh as every change at or below that
  * watermark, and STALER than any change above it (the read may or may
  * not have seen an in-flight change inside the watermark window —
  * which is exactly why in-window changes must win). Both facts are one
  * sort key: give the chunk row effective LSN `__lo_lsn` and let it
  * outrank a CHANGE at the same LSN (the change was committed before
  * the watermark was written, so the read saw it). The B5 latest-per-key
  * window then implements the whole dedup — one shuffle on the key, no
  * chunk-window buffer state, batch-boundary invariant by construction.
  *
  * Scale shape: each chunk read is ONE bounded key-ordered `LIMIT`
  * against the source (the DBLog pacing unit — a snapshot of a 100 TB
  * table is thousands of bounded reads spread over days, never one
  * scan), landing is an O(chunk) partitioned write, and the merge is the
  * single keyed shuffle every materialization pays. The chunk CURSOR is
  * a two-value marker file, so a killed snapshot resumes from its last
  * completed chunk; re-landing a chunk is dynamic-overwrite idempotent
  * (the Ingest.scala replay rule).
  */
object IncrementalSnapshot {

  private val CursorFile = "_cursor"

  private def cursorPath(statePath: String) = new Path(statePath, CursorFile)

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One chunk SELECT against a (live) table: the `chunkSize` smallest
    * keys strictly above `afterKey`, whole rows. This is the bounded
    * TakeOrdered the source pays per chunk — O(chunkSize) rows move,
    * never the table.
    *
    * NULL keys are excluded (r15 review): the chunk key is the table's
    * primary key, which cannot be null in any real source — but Spark
    * sorts nulls FIRST ascending, so an unguarded all-null first chunk
    * would never advance the cursor (max(key) is null) and the paced
    * loop would re-land it forever.
    */
  def nextChunk(table: DataFrame, keyCol: String, afterKey: Option[Long],
                chunkSize: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1: $chunkSize")
    // the Long path's cursor serializes as "id,key" and resumes through
    // toLong — a string/date key would land chunks fine and then corrupt
    // every resume; route those through the composite path, whose JSON
    // cursor round-trips any supported key type
    require({
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(table.schema(keyCol).dataType)
    }, s"snapshotChunks chunks over an integral key ('$keyCol' is " +
      s"${table.schema(keyCol).dataType.simpleString}) — use " +
      "snapshotChunksCk for string/date/composite keys")
    val nonNull = table.where(col(keyCol).isNotNull)
    val base = afterKey match {
      case Some(k) => nonNull.where(col(keyCol) > k)
      case None    => nonNull
    }
    base.orderBy(col(keyCol).asc).limit(chunkSize)
  }

  /** The persisted cursor: (next chunk id, last completed key) — None
    * before the first completed chunk. Written and read through
    * [[graft.ops.StateFiles]]: a torn first write reads as "no cursor"
    * and the chunk re-lands (idempotent by the dynamic-overwrite rule).
    */
  def cursor(spark: org.apache.spark.sql.SparkSession,
             statePath: String): Option[(Long, Long)] =
    StateFiles.read(fsOf(spark, statePath), cursorPath(statePath)) { s =>
      val parts = s.split(",")
      (parts(0).toLong, parts(1).toLong)
    }

  /** The chunk-schema pin: chunks land over a LIVE table across a long
    * window, and a mid-snapshot DDL would otherwise mix schemas inside
    * `chunks/` where the merge's plain parquet read resolves them by
    * footer luck. Debezium's own posture for DDL-during-snapshot is
    * restart — so the FIRST landed chunk pins the schema and any later
    * chunk that disagrees refuses loudly with the restart instruction.
    * Persisted through [[graft.ops.StateFiles]] like the cursor.
    */
  private def pinChunkSchema(spark: org.apache.spark.sql.SparkSession,
                             statePath: String,
                             schema: org.apache.spark.sql.types.StructType): Unit = {
    val fs = fsOf(spark, statePath)
    val pin = new Path(statePath, "_chunk_schema")
    def canon(st: org.apache.spark.sql.types.StructType) =
      st.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    StateFiles.read(fs, pin)(org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType]) match {
      case Some(pinned) =>
        if (canon(pinned) != canon(schema)) {
          // the rejected DDL is a B17 schema-history event before the
          // loud failure — the refusal is exactly what the log records
          SchemaHistory.append(spark, statePath, "refuse",
            Some(pinned), Some(schema))
          throw new IllegalArgumentException(
            s"requirement failed: chunk schema changed mid-snapshot at " +
              s"$statePath (pinned ${pinned.simpleString}, got " +
              s"${schema.simpleString}) — a DDL during an incremental " +
              "snapshot is restart-level: clear the state dir and " +
              "re-execute the snapshot")
        }
      case None =>
        // history first, pin second: a crash between re-pins on the next
        // chunk and re-appends — at-least-once, never silently missing
        SchemaHistory.append(spark, statePath, "pin", None, Some(schema))
        StateFiles.replace(fs, pin, schema.json.getBytes("UTF-8"))
    }
  }

  /** Land one chunk read under `chunks/__chunk=<id>` stamped with its
    * low watermark, then advance the cursor. Ordering is the crash
    * contract: rows land BEFORE the cursor moves, so a kill between the
    * two re-lands the same chunk on resume and the dynamic overwrite
    * rewrites exactly itself — never a skipped or doubled chunk.
    */
  def landChunk(spark: org.apache.spark.sql.SparkSession, statePath: String,
                chunkRows: DataFrame, keyCol: String, chunkId: Long,
                loLsn: Long): Unit = {
    pinChunkSchema(spark, statePath, chunkRows.schema)
    chunkRows
      .withColumn("__lo_lsn", lit(loLsn))
      .withColumn("__chunk", lit(chunkId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__chunk").parquet(s"$statePath/chunks")
    // max key + chunk row count in ONE agg job: the count rides along so
    // the cursor carries cumulative (chunks, rows) and progress readouts
    // become pure driver FS reads (r17, the r16 verdict's #3)
    val lastKey = chunkRows.agg(max(col(keyCol)), count(lit(1))).head()
    if (!lastKey.isNullAt(0)) {
      val priorRows = cursorStats(spark, statePath).map(_._2).getOrElse(0L)
      StateFiles.replace(fsOf(spark, statePath), cursorPath(statePath),
        s"${chunkId + 1},${lastKey.get(0)},${chunkId + 1},${priorRows + lastKey.getLong(1)}"
          .getBytes("UTF-8"))
    }
  }

  /** Cumulative (chunks_landed, rows_landed) carried IN the cursor —
    * None for pre-r17 cursors (both formats) or before the first chunk.
    * The re-land crash window stays consistent: a re-landed chunk
    * recomputes its cumulative from the UNMOVED prior cursor, so the
    * stats never double-count.
    */
  def cursorStats(spark: org.apache.spark.sql.SparkSession,
                  statePath: String): Option[(Long, Long)] =
    StateFiles.read(fsOf(spark, statePath), cursorPath(statePath)) { s =>
      if (s.startsWith("{")) {
        val n = jsonMapper.readTree(s)
        val (c, r) = (n.get("chunks"), n.get("rows"))
        if (c == null || r == null) None else Some((c.asLong(), r.asLong()))
      } else {
        val parts = s.split(",")
        if (parts.length >= 4) Some((parts(2).toLong, parts(3).toLong)) else None
      }
    }.flatten

  // ---------------- composite-key chunking (r16, the r15 verdict's #2) ---------

  /** Lexicographic `(k1, k2, …) > (v1, v2, …)`: the resume predicate a
    * composite-PK chunk SELECT pushes down. `after` values arrive as
    * their serialized string forms and are cast back to each key
    * column's own type, so the comparison runs natively (and
    * sargable — a conjunction/disjunction of column comparisons, never
    * a struct construction the scan can't prune on).
    */
  private def ckAfter(table: DataFrame, keyCols: Seq[String],
                      after: Seq[String]): Column = {
    val cmp = keyCols.zip(after).map { case (k, v) =>
      (col(k), lit(v).cast(table.schema(k).dataType))
    }
    cmp.foldRight(lit(false)) { case ((k, v), rest) =>
      (k > v) || (k === v && rest)
    }
  }

  /** [[nextChunk]] generalized to an ORDERED COMPOSITE key — real CDC
    * tables chunk over arbitrary primary keys ((order, line), string
    * UUIDs, …), not just a single Long (Debezium's incremental
    * snapshots chunk over whatever the PK is). `afterKey` carries the
    * last completed key's serialized values; supported key types are
    * the ones whose string form round-trips through a cast — integral,
    * string, date (exactly the types real PKs use). NULL keys are
    * excluded for the same never-advances reason as [[nextChunk]];
    * a composite PK cannot be null-componented in any real source.
    */
  def nextChunkCk(table: DataFrame, keyCols: Seq[String],
                  afterKey: Option[Seq[String]], chunkSize: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1: $chunkSize")
    require(keyCols.nonEmpty, "composite chunking needs at least one key column")
    val nonNull = table.where(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val base = afterKey match {
      case Some(vs) =>
        require(vs.length == keyCols.length,
          s"cursor carries ${vs.length} key values for ${keyCols.length} key columns")
        nonNull.where(ckAfter(table, keyCols, vs))
      case None => nonNull
    }
    base.orderBy(keyCols.map(col(_).asc): _*).limit(chunkSize)
  }

  private def jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The composite cursor: (next chunk id, last completed key values,
    * serialized) — persisted as one JSON object
    * `{"next":N,"key":["v1","v2",…]}` through [[graft.ops.StateFiles]]
    * like [[cursor]]. A state directory is either
    * Long-keyed or composite-keyed for its whole life — the two
    * formats never mix.
    */
  def cursorCk(spark: org.apache.spark.sql.SparkSession,
               statePath: String): Option[(Long, Seq[String])] =
    StateFiles.read(fsOf(spark, statePath), cursorPath(statePath)) { s =>
      val n = jsonMapper.readTree(s)
      val ks = Seq.newBuilder[String]
      n.get("key").elements().forEachRemaining(v => ks += v.asText())
      (n.get("next").asLong(), ks.result())
    }

  /** [[landChunk]] for composite keys: rows land BEFORE the cursor
    * moves (the same crash contract), the cursor records the chunk's
    * lexicographic max key.
    */
  def landChunkCk(spark: org.apache.spark.sql.SparkSession, statePath: String,
                  chunkRows: DataFrame, keyCols: Seq[String], chunkId: Long,
                  loLsn: Long): Unit = {
    pinChunkSchema(spark, statePath, chunkRows.schema)
    chunkRows
      .withColumn("__lo_lsn", lit(loLsn))
      .withColumn("__chunk", lit(chunkId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__chunk").parquet(s"$statePath/chunks")
    // max key + count in one job; cumulative stats ride the cursor so
    // progress is job-free (see [[cursorStats]])
    val lastKey = chunkRows
      .agg(max(struct(keyCols.map(col): _*)).as("k"), count(lit(1))).head()
    if (!lastKey.isNullAt(0)) {
      val priorRows = cursorStats(spark, statePath).map(_._2).getOrElse(0L)
      val vals = lastKey.getStruct(0)
      val node = jsonMapper.createObjectNode()
      node.put("next", chunkId + 1)
      node.put("chunks", chunkId + 1)
      node.put("rows", priorRows + lastKey.getLong(1))
      val arr = node.putArray("key")
      keyCols.indices.foreach(i => arr.add(String.valueOf(vals.get(i))))
      StateFiles.replace(fsOf(spark, statePath), cursorPath(statePath),
        jsonMapper.writeValueAsBytes(node))
    }
  }

  /** [[snapshotChunks]] for composite keys — the same paced, resumable,
    * re-land-idempotent loop over [[nextChunkCk]]/[[landChunkCk]].
    */
  def snapshotChunksCk(spark: org.apache.spark.sql.SparkSession, statePath: String,
                       table: DataFrame, keyCols: Seq[String], chunkSize: Int,
                       loLsnOf: Long => Long,
                       maxChunks: Int = Int.MaxValue): Int = {
    var landed = 0
    var cur = cursorCk(spark, statePath)
    var done = false
    while (!done && landed < maxChunks) {
      val (chunkId, afterKey) = cur match {
        case Some((next, lastKey)) => (next, Some(lastKey))
        case None                  => (0L, None)
      }
      val chunk = nextChunkCk(table, keyCols, afterKey, chunkSize)
        .localCheckpoint(true) // two consumers (write + max-key), chunk-sized
      if (chunk.isEmpty) done = true
      else {
        landChunkCk(spark, statePath, chunk, keyCols, chunkId, loLsnOf(chunkId))
        landed += 1
        cur = cursorCk(spark, statePath)
      }
    }
    landed
  }

  /** Drive the chunked re-snapshot of `table` from wherever the cursor
    * left off: repeatedly take the next key-ordered chunk, stamp it with
    * `loLsnOf(chunkId)` (the caller's view of the current log position —
    * in production the log head at SELECT time), land, advance. Stops
    * when the table is exhausted or after `maxChunks` (the pacing knob —
    * a production snapshot lands a few chunks per maintenance turn).
    * Returns the number of chunks landed this call.
    */
  def snapshotChunks(spark: org.apache.spark.sql.SparkSession, statePath: String,
                     table: DataFrame, keyCol: String, chunkSize: Int,
                     loLsnOf: Long => Long,
                     maxChunks: Int = Int.MaxValue): Int = {
    var landed = 0
    var cur = cursor(spark, statePath)
    var done = false
    while (!done && landed < maxChunks) {
      val (chunkId, afterKey) = cur match {
        case Some((next, lastKey)) => (next, Some(lastKey))
        case None                  => (0L, None)
      }
      val chunk = nextChunk(table, keyCol, afterKey, chunkSize)
        .localCheckpoint(true) // two consumers (write + max-key), chunk-sized
      if (chunk.isEmpty) done = true
      else {
        landChunk(spark, statePath, chunk, keyCol, chunkId, loLsnOf(chunkId))
        landed += 1
        cur = cursor(spark, statePath)
      }
    }
    landed
  }

  /** Every landed chunk row with its watermark — the merge input.
    * Refuses loudly (instead of an obscure path error) before the first
    * chunk has landed: "usable at every chunk boundary" starts at the
    * first boundary.
    */
  def landedChunks(spark: org.apache.spark.sql.SparkSession,
                   statePath: String): DataFrame = {
    require(fsOf(spark, statePath).exists(new Path(statePath, "chunks")),
      s"no chunks landed at $statePath yet — run snapshotChunks (or " +
        "landChunk) before reading the snapshot state")
    spark.read.parquet(s"$statePath/chunks").drop("__chunk")
  }

  /** THE window-dedup merge: chunk reads ∪ change stream → current
    * state, with provenance. Chunk rows rank at their low watermark and
    * WIN a tie against a change at the same LSN (the read saw it);
    * any in-window or later change outranks the chunk row. The winner's
    * `op = deleteOp` drops the key. Output: the table columns +
    * `last_lsn` (the winner's effective LSN) + `src`
    * ('chunk' | 'stream'). ONE shuffle on the key.
    *
    * `chunks` carries the table row columns + `__lo_lsn`; `changes`
    * carries the same row columns + `lsnCol` + `opCol`.
    */
  def merge(chunks: DataFrame, changes: DataFrame, keyCols: Seq[String],
            lsnCol: String, opCol: String = "op",
            deleteOp: String = "d"): DataFrame = {
    val rowCols = chunks.columns.filterNot(_ == "__lo_lsn").toSeq
    val cSide = chunks.select(
      rowCols.map(col) :+ col("__lo_lsn").as("__lsn") :+
        lit(1).as("__side") :+ lit("r").as(opCol): _*)
    val sSide = changes.select(
      rowCols.map(col) :+ col(lsnCol).cast("long").as("__lsn") :+
        lit(0).as("__side") :+ col(opCol): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__lsn").desc, col("__side").desc)
    cSide.unionByName(sSide)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .select(rowCols.map(col) :+ col("__lsn").as("last_lsn") :+
        when(col("__side") === 1, "chunk").otherwise("stream").as("src"): _*)
  }

  /** The composed read: current state from everything landed so far plus
    * the change stream — what a consumer queries while the snapshot is
    * still in flight (DBLog's core promise: the table is usable at every
    * chunk boundary, converging monotonically).
    */
  def state(spark: org.apache.spark.sql.SparkSession, statePath: String,
            changes: DataFrame, keyCols: Seq[String], lsnCol: String,
            opCol: String = "op", deleteOp: String = "d"): DataFrame =
    merge(landedChunks(spark, statePath), changes, keyCols, lsnCol, opCol, deleteOp)

  /** B19 × B15 (r19) — the TRUNCATE-AWARE merge: reconcile landed chunks
    * with a change stream that contains TRUNCATE events (op='t', keyless
    * — [[graft.cdc.Materialize.changelogWithTruncates]]'s batch
    * semantics lifted into the DBLog merge). A truncate at LSN T clears
    * the whole key-space at T but carries NO per-key deletes, so the
    * plain [[merge]] would let a chunk read taken BEFORE the truncate
    * resurrect the cleared table: its rows have no per-key rivals to
    * outrank them. The fix is the batch operator's scalar cutoff applied
    * to BOTH sides before the window merge — chunk rows at
    * `__lo_lsn <= T` and change rows at `lsn <= T` are discarded.
    *
    * Discarding a whole chunk is SAFE, not lossy: any row actually live
    * after the truncate was inserted after it, and that insert is in the
    * change stream with LSN > T — the stream side re-delivers everything
    * a discarded chunk could legitimately have contributed, and a
    * re-snapshot chunk landed after the truncate re-reads the rest.
    * Ties (a chunk watermarked AT the truncate's LSN, a change at its
    * exact LSN) go to the truncate, matching the batch operator. Note
    * the deliberate asymmetry with [[merge]]'s chunk-wins-tie rule:
    * there the tie is between two sightings of the SAME row; here it is
    * against an event that destroyed the table, where a chunk whose
    * watermark equals T may have read either side of the truncate — and
    * only the discard direction is re-deliverable.
    *
    * Cost: one filter-pushed scalar agg over the (rare) truncate rows,
    * broadcast back over both sides — the keyed-shuffle count stays at
    * [[merge]]'s one, so the operator scales exactly as the
    * truncate-free form.
    */
  def mergeWithTruncates(chunks: DataFrame, changes: DataFrame,
                         keyCols: Seq[String], lsnCol: String,
                         opCol: String = "op", deleteOp: String = "d",
                         truncateOp: String = "t"): DataFrame = {
    val cut = changes.where(col(opCol) === truncateOp)
      .agg(max(col(lsnCol).cast("long")).as("__t_ver")) // one row; null when no truncate
    def live(df: DataFrame, ver: Column) =
      df.crossJoin(broadcast(cut))
        .where(col("__t_ver").isNull || ver > col("__t_ver"))
        .drop("__t_ver")
    // keep null-op (tombstone) rows mainline — `=!=` alone drops them
    merge(live(chunks, col("__lo_lsn")),
      live(changes.where(col(opCol) =!= truncateOp || col(opCol).isNull),
        col(lsnCol).cast("long")),
      keyCols, lsnCol, opCol, deleteOp)
  }
}
