package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("graft").load(root)` — the STREAMING twin
  * of the batch façade: third-party Structured Streaming jobs consume
  * a registered lake incrementally without importing the library.
  * Implemented as a DataSource V1 `Source` (the Delta-source
  * technique) rather than a DSv2 `MicroBatchStream`, for the same
  * reason the batch façade delegates to a resolution rule: `getBatch`
  * returns the library's OWN read plan (keep-set-pruned scan over
  * exactly the window's registered files) re-flagged streaming, so
  * there is ONE read path — a DSv2 stream would force a second,
  * drift-prone implementation of partition readers behind the Scan
  * interface. Needs no session extensions (like the V1 write sink).
  *
  * OFFSETS ARE MANIFEST POSITIONS. An offset is a `registered_at`
  * instant (micros); a batch `(start, end]` is exactly the rows of
  * APPEND commits registered in that window — [[LogSync.tableSince]]'s
  * semantics, re-expressed as a replayable range read. This is sound
  * as an engine-checkpointed offset BECAUSE sync registration is
  * atomically visible with strictly-monotone round stamps
  * ([[LogSync.appendManifestAtomic]]): an offered offset can never
  * split a round or tie two rounds, and a window's manifest rows are
  * immutable afterwards (tombstones only add `removed_at`; manifest
  * folds are row-preserving), so a replayed `getBatch` after restart
  * returns byte-identical rows until vacuum reclaims the files — the
  * consumer-lag horizon is the vacuum retention, exactly tableSince's.
  * Spark's checkpoint WAL is therefore the ONLY offset store, which is
  * what makes single-batch triggers (`Trigger.AvailableNow`/`Once`)
  * exactly-once across restarts: the engine never calls
  * `Source.commit` for the final batch of a stopped query, so any
  * source-side offset store (e.g. [[graft.streaming.LakeFollow]]'s
  * consumed-path marks) would lag the WAL forever and wedge the next
  * run. LakeFollow remains the LIBRARY-API consumption surface; its
  * consumed-PATH offsets additionally absorb the lost-registration
  * self-heal (a healed path is already in its set), where this
  * timestamp surface re-emits healed rows under their fresh instant —
  * the documented timestamp-mark duplicate; sinks idempotent per row
  * or path (the foreachBatch norm) see exactly-once either way.
  *
  * Rewrites are INVISIBLE by the same rule as tableSince: compaction /
  * DML copy-on-write files register `op="rewrite"` (upsert inserts
  * `op="upsert"`) and never enter the append stream. MOR deletes are
  * deliberately NOT applied — an appended row surfaces exactly once
  * even if later deleted (Iceberg's incremental-append default).
  *
  * `maxFilesPerTrigger` bounds each offered batch in FILES, advancing
  * whole rounds only (an offset must sit between rounds); a backlog
  * drains over successive micro-batches. The chunk cursor — the
  * newest instant ever OFFERED — persists under the source's
  * checkpoint metadata dir so a restarted query resumes chunking from
  * where it offered rather than re-offering history; it is never read
  * for correctness (the engine's own start offset defines every
  * batch), so a torn/missing cursor merely widens the next chunk.
  */
private[graft] class GraftLakeSource(spark: SparkSession, root: String,
                                     metaDir: String,
                                     maxFilesPerTrigger: Int) extends Source {

  private def fs = new Path(metaDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val cursorPath = new Path(s"$metaDir/graft_offset_cursor")

  private def readCursor(): Option[Long] =
    try {
      val in = fs.open(cursorPath)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      scala.util.Try(txt.trim.toLong).toOption
    } catch { case _: java.io.IOException => None }

  private def writeCursor(micros: Long): Unit =
    try {
      val out = fs.create(cursorPath, true)
      try out.write(micros.toString.getBytes("UTF-8")) finally out.close()
    } catch { case _: java.io.IOException => () } // advisory only

  private def microsOf(o: OffsetV1): Long =
    java.lang.Long.parseLong(o.json.trim)

  private def appendRows(): DataFrame =
    LogSync.manifest(spark, root)
      .filter(col("op").isNull || col("op") === "append")

  override def schema: StructType = LogSync.table(spark, root).schema

  /** The next offset to offer: whole append rounds past the chunk
    * cursor, up to `maxFilesPerTrigger` files (always at least one
    * round — a single round larger than the cap must still advance).
    * No new rounds → re-offer the cursor (NOT None: the engine may
    * still be behind it after a pre-WAL crash and needs the offset to
    * build that batch).
    */
  override def getOffset: Option[OffsetV1] = {
    val cursor = readCursor()
    val past = cursor.map(c => appendRows()
        .filter(unix_micros(col("registered_at")) > c))
      .getOrElse(appendRows())
    // one row per ROUND (rounds share one instant by construction);
    // the collect is bounded by the chunk cap, not by history
    val rounds = past.groupBy(col("registered_at"))
      .agg(count(lit(1)).as("files"))
      .orderBy(col("registered_at"))
      .limit(math.max(maxFilesPerTrigger, 1))
      .collect()
    if (rounds.isEmpty) cursor.map(LongOffset(_))
    else {
      var taken = 0L
      var end = 0L
      var i = 0
      while (i < rounds.length && (taken == 0 || taken + rounds(i).getLong(1) <= maxFilesPerTrigger)) {
        taken += rounds(i).getLong(1)
        end = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(rounds(i).getTimestamp(0))
        i += 1
      }
      writeCursor(end)
      Some(LongOffset(end))
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endM = microsOf(end)
    val windowed = appendRows()
      .filter(unix_micros(col("registered_at")) <= endM)
    val bounded = start.map(s => windowed
        .filter(unix_micros(col("registered_at")) > microsOf(s)))
      .getOrElse(windowed)
    val keep = bounded.select(
      LogSync.normPath(col("path")).as("__registered_path"))
    GraftSqlBridge.asStreaming(LogSync.tableForPaths(spark, root, keep))
  }

  override def commit(end: OffsetV1): Unit = () // the WAL is the store

  override def stop(): Unit = ()

  override def toString: String = s"GraftLakeSource[$root]"
}
