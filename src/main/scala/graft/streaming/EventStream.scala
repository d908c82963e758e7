package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.ParquetTables

/** Structured-Streaming surface over the events table.
  *
  * The reference has no event-time streaming at all (SURVEY §2.10 —
  * its "streaming" is volcano-style batch pull, plan.rs:12), so this
  * module *exceeds* parity: the same transforms a batch user writes run
  * incrementally with watermarked state. Local smoke drives a parquet
  * directory through the stream (file source) into a memory sink.
  */
object EventStream {

  /** Event-time windowed aggregation with a watermark: counts + value
    * sums per (window, event_type). Late data beyond the watermark is
    * dropped — bounded state at any scale. The value sum accumulates in
    * DECIMAL(18,6) (repo-wide bit-determinism pattern): streaming state
    * merges in arrival order, so a double sum would carry ULP noise
    * across runs. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      // explicit TimestampType: the session may alias the "timestamp"
      // string to NTZ (Engine sets spark.sql.timestampType for oracle
      // parity), but watermarks require the LTZ type
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(18, 6))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(nEvents: Long, lastTs: Long)
  final case class SessionUpdate(userId: Long, nEvents: Long, closed: Boolean)

  /** Custom stateful sessionization via mapGroupsWithState: counts
    * events per user session (gap-based), emitting running updates.
    * KeyValueGroupedDataset state is the Spark-native replacement for
    * hand-rolled operator state. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        case (userId, evs, state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(_.ts.getTime)
          val prev = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          var n = prev.nEvents
          var last = prev.lastTs
          var closed = false
          sorted.foreach { e =>
            if (last != Long.MinValue && e.ts.getTime - last > gapMs) {
              closed = true
              n = 0
            }
            n += 1
            last = e.ts.getTime
          }
          state.update(SessionState(n, last))
          SessionUpdate(userId, n, closed)
      }
  }

  /** NATIVE session-window aggregation (gap-based `session_window`,
    * Spark's merging-sessions state store — a different operator class
    * than the custom [[sessionize]] state): per (user, session) event
    * counts and decimal value sums. Append mode emits a session once
    * the watermark passes its end (last event + gap). */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(18, 6))).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Streaming exact dedup: drop duplicate event_ids within the
    * watermark horizon — the incremental form of Dedup.exact (state is
    * bounded by the watermark; the batch analogue is a hash aggregate). */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream inner join: clicks joined to views by
    * the same user within a bounded event-time gap. Both sides carry
    * watermarks and the join condition carries the time-range bound, so
    * state is evictable — the only shape that runs unbounded at scale
    * (an un-range-bounded stream join accumulates state forever). The
    * batch analogue is `operators.AsOf.join` with a tolerance. */
  def clickViewJoin(events: DataFrame, maxGap: String = "30 minutes"): DataFrame = {
    val ts = col("ts").cast(org.apache.spark.sql.types.TimestampType)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), ts.as("c_ts"), col("event_id").as("click_id"))
      .withWatermark("c_ts", maxGap)
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), ts.as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", maxGap)
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("v_ts") <= col("c_ts") &&
        col("v_ts") >= col("c_ts") - expr(s"INTERVAL $maxGap"))
  }

  /** Stream-static ingest dedup: each micro-batch of new documents is
    * LSH-banded row-locally and left-semi joined against the STATIC
    * corpus's band keys. Stream-static equi-joins keep NO streaming
    * state and need no watermark — the corpus stays on the static side
    * as ordinary partitioned data (100 TB-ready), re-planned each
    * batch. Output is the stream of (doc_id, band) collision hits:
    * a doc may hit in several bands; the downstream exact-verify step
    * (the stateful part of any dedup) collapses them, exactly as the
    * batch analogue `Dedup.incrementalLshPairs` verifies candidates. */
  def ingestDedupStream(newDocs: DataFrame, corpus: DataFrame,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions.col
    val corpusBands = graft.operators.Dedup
      .bandKeys(corpus, col("doc_id"), col("text"), n, bands, rowsPerBand)
      .select(col("band"), col("band_hash")).distinct()
    graft.operators.Dedup.bandKeys(newDocs, col("doc_id"), col("text"), n, bands, rowsPerBand)
      .join(corpusBands, Seq("band", "band_hash"), "left_semi")
  }

  /** Stream-static ingest dedup CANDIDATE PAIRS: like
    * [[ingestDedupStream]] but an inner equi-join keeping the colliding
    * corpus doc id, so the exact-verify step
    * (`Dedup.verifyCrossPairs`) can run on the finished batch. Still
    * stateless on the stream side — band keys are row-local; the
    * corpus (with its hot-bucket skew guard) is the static side,
    * re-planned per micro-batch. One row per colliding band; the
    * verify step dedups. */
  def ingestDedupPairsStream(newDocs: DataFrame, corpus: DataFrame,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 10000): DataFrame =
    graft.operators.Dedup
      .bandKeys(newDocs, col("doc_id"), col("text"), n, bands, rowsPerBand)
      .withColumnRenamed("doc_id", "new_id")
      .join(graft.operators.Dedup.guardedCorpusBands(
          corpus, col("doc_id"), col("text"), n, bands, rowsPerBand, maxBucket),
        Seq("band", "band_hash"))
      .select(col("new_id"), col("corpus_id"))

  /** Streaming CDC UPSERT into an IcebergLite table: each micro-batch
    * keeps its last record per key (CDC sequence = `event_id`, the
    * log sequence number), then copy-on-write MERGEs it with
    * `precedence = event_id` — on a key match the higher sequence
    * wins and the source wins ties. This is effectively-once WITHOUT
    * a transactional sink, the production CDC-ingest pattern: the
    * checkpoint gives at-least-once batch delivery, a replayed batch
    * re-merges the same (key → winning row) set (a no-op for the end
    * state), and batch BOUNDARIES don't matter either — whatever
    * order records arrive in, the stored row per key is the global
    * max-sequence record (SourcesSpec proves a stale late batch
    * cannot clobber a newer stored row, and that a re-run from
    * scratch over differently-split input lands byte-identical).
    * Combined with merge's key-bounds file pruning, a micro-batch
    * touching k keys rewrites only the files those keys live in —
    * the CDC shape a 100 TB lakehouse table needs.
    *
    * The defaults bind the events-table CDC shape (key = `user_id`,
    * sequence = `event_id`); any keyed changelog works — ScaleSweep's
    * 1M-row anchor drives this same function over a (k, seq) table. */
  /** `eqDeleteTombstones = true` routes each micro-batch's winning
    * DELETE records through [[graft.sources.IcebergLite.deleteEquality]]
    * instead of the copy-on-write merge: the tombstone keys land as a
    * parquet equality-delete file (bounded snapshot metadata, ZERO
    * data-file rewrite on the ingest path — the v2 form a CDC feed
    * deleting 10⁶ keys per batch needs), and only the batch's upserts
    * go through the merge rewrite. Deletes commit BEFORE the same
    * batch's upserts, so a key whose batch winner is an upsert is
    * never touched by that batch's delete file (per-key winners are
    * disjoint), and sequence scoping spares every later re-insert.
    * Replay safety matches the foreachBatch contract: a restarted
    * batch replays in order, so a re-issued delete file can only
    * re-kill rows the original already killed (later batches have not
    * run yet); the duplicate pending entry is effect-idempotent and
    * compaction clears it.
    *
    * `toBranch` lands every commit on the named branch instead of
    * main — the write-audit-publish CDC pattern: stream onto a
    * branch, audit the result, [[graft.sources.IcebergLite
    * .fastForwardMain]] to publish (not combinable with
    * `eqDeleteTombstones`, whose delete commit targets main). */
  def upsertStream(events: DataFrame, tablePath: String,
      checkpointDir: String, keyCol: String = "user_id",
      seqCol: String = "event_id",
      carryCols: Seq[String] = Seq("ts", "event_type", "value"),
      tombstoneCol: Option[String] = None,
      eqDeleteTombstones: Boolean = false,
      toBranch: Option[String] = None): Unit = {
    require(!(eqDeleteTombstones && toBranch.nonEmpty),
      "equality-delete routing commits to main; branch CDC uses merge tombstones")
    val q = events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
          // the per-key winner may be a DELETE record (CDC tombstone):
          // it flows through to the merge, which drops the stored row
          val latest = batch
            .select((keyCol +: seqCol +: (carryCols ++ tombstoneCol)).map(col): _*)
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          // a merge that loses a commit race re-plans against the new
          // current snapshot and re-runs — safe because merge derives
          // its whole rewrite from the table state at call time, and
          // the ordered precedence makes re-application idempotent
          var attempts = 0
          var committed = false
          // the delete-file commit is latched OUT of the retry: only
          // the merge validates against a planned parent and can
          // conflict, and re-running deleteEquality on a merge retry
          // would write a fresh key file + duplicate pending entry per
          // attempt (effect-idempotent but unbounded metadata growth
          // under contention)
          var deletesDone = false
          while (!committed) try {
            if (eqDeleteTombstones && tombstoneCol.nonEmpty) {
              val t = tombstoneCol.get
              val flag = coalesce(col(t).cast("boolean"), lit(false))
              val delKeys = latest.filter(flag).select(col(keyCol))
              val ups = latest.filter(!flag).drop(t)
              if (!deletesDone) {
                graft.sources.IcebergLite.deleteEquality(
                  batch.sparkSession, tablePath, delKeys)
                deletesDone = true
              }
              if (!ups.isEmpty)
                graft.sources.IcebergLite.merge(batch.sparkSession, tablePath,
                  ups, Seq(keyCol), whenMatched =
                    graft.sources.IcebergLite.WhenMatched.UpdateAll(Some(seqCol)))
            } else {
              graft.sources.IcebergLite.merge(batch.sparkSession, tablePath,
                latest, Seq(keyCol), toBranch = toBranch, whenMatched =
                  graft.sources.IcebergLite.WhenMatched.UpdateAll(Some(seqCol), tombstoneCol))
            }
            committed = true
          } catch {
            case _: graft.sources.IcebergLite.CommitConflictException
                if attempts < 5 => attempts += 1
          }
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** A testdata table as a file-source STREAM. Streaming readers need
    * an explicit schema, so the batch footer is read once. */
  /** SQL-DRIVEN streaming CDC: run a `MERGE INTO <graft table> USING
    * <view> ...` statement against every micro-batch — the
    * `writeStream.foreachBatch` upsert pattern, declared as the SQL a
    * warehouse user already writes. The single-part relation name in
    * the USING clause is the PER-BATCH BINDING: each micro-batch
    * registers under it (a subquery source `USING (SELECT ... FROM
    * batch ...) s` works — the inner view is what binds), so dedup /
    * winner selection lives in the statement, and a branch-scoped
    * target (`cat.db.t.branch_x`) gives the write-audit-publish
    * pattern end-to-end from SQL.
    *
    * The statement parses ONCE, and its SHAPE is validated before the
    * stream starts by running the ANALYZER (not execution) over the
    * statement with a zero-row stand-in source of the stream's schema —
    * an unsupported MERGE form fails at declaration, not on batch 17.
    * Batches retry on commit conflicts like [[upsertStream]]; replay
    * idempotence follows the same foreachBatch contract (make the
    * statement a precedence merge — `WHEN MATCHED AND s.seq >= t.seq`
    * — for at-least-once safety). */
  def sqlMergeStream(events: DataFrame, mergeSql: String,
      checkpointDir: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, MergeIntoTable}
    val spark = events.sparkSession
    val merge = spark.sessionState.sqlParser.parsePlan(mergeSql) match {
      case m: MergeIntoTable => m
      case other => throw new IllegalArgumentException(
        s"sqlMergeStream needs a MERGE INTO statement, got ${other.nodeName}")
    }
    val names = merge.sourceTable.collect {
      case UnresolvedRelation(parts, _, _) if parts.length == 1 => parts.head
    }.distinct
    require(names.size == 1,
      s"the USING clause must reference exactly one single-part view " +
        s"(the per-batch binding), found: ${names.mkString(", ")}")
    val sourceName = names.head
    val probeAttrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(events.schema)
    val probe: LogicalPlan = merge.transformUp {
      case UnresolvedRelation(parts, _, _) if parts == Seq(sourceName) =>
        LocalRelation(probeAttrs)
    }
    spark.sessionState.analyzer.execute(probe) // shape refusals fire HERE
    val q = events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          batch.createOrReplaceTempView(sourceName)
          var attempts = 0
          var committed = false
          while (!committed) try {
            batch.sparkSession.sql(mergeSql)
            committed = true
          } catch {
            case _: graft.sources.IcebergLite.CommitConflictException
                if attempts < 5 => attempts += 1
          }
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** `table` under `sfDir` as a file stream, with the schema of its
    * parquet footer (NANOS columns as raw longs). */
  def tableStream(spark: SparkSession, sfDir: String, table: String): DataFrame =
    streamOf(spark, sfDir, table, ParquetTables.footer(spark, s"$sfDir/$table.parquet"))

  private def streamOf(spark: SparkSession, sfDir: String, table: String,
      footer: ParquetTables.Footer): DataFrame =
    spark.readStream
      .schema(footer.schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(sfDir)

  /** The events table as a stream with the same footer-aware NANOS→NTZ
    * ts repair as the batch reader (ParquetTables.read): the raw-long
    * repair is applied ONLY when the parquet footer actually annotates
    * `ts` as TIMESTAMP(NANOS). Testdata written with ordinary
    * TIMESTAMP_MICROS arrives as a timestamp column already and needs
    * at most a cast to TIMESTAMP_NTZ (session tz is pinned UTC, so the
    * cast is value-preserving either way). One footer read serves both
    * the stream's schema and that check. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val footer = ParquetTables.footer(spark, s"$sfDir/events.parquet")
    val repaired =
      if (footer.nanoColumns.contains("ts")) ParquetTables.repairNanos("ts")
      else expr("cast(ts as timestamp_ntz)")
    streamOf(spark, sfDir, "events", footer).withColumn("ts", repaired)
  }

  /** Run a streaming DataFrame to completion into an in-memory table
    * and return the finished result: start → processAllAvailable (which
    * also runs the no-data batch that flushes watermark-finalized
    * state) → stop. The sink table is dropped first so re-runs in a
    * long-lived session (Verify, tests) start clean. */
  def runToMemory(df: DataFrame, queryName: String,
      mode: OutputMode = OutputMode.Append): DataFrame = {
    val spark = df.sparkSession
    spark.catalog.dropTempView(queryName)
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Run a streaming DataFrame into a parquet FILE SINK with a real
    * `checkpointLocation`, until all currently-available input is
    * processed (including the no-data batch that flushes
    * watermark-finalized state), then stop. Unlike [[runToMemory]]
    * this is the RECOVERABLE form a deployment uses: the checkpoint
    * carries source offsets, the watermark, and operator state, and
    * the file sink's `_spark_metadata` commit log makes output
    * exactly-once — stopping and calling this again with the same
    * dirs resumes precisely where the stream stopped, never
    * re-emitting a committed window (SourcesSpec proves the
    * kill-restart roundtrip is row-identical to an uninterrupted
    * run). */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Run the custom [[sessionize]] (mapGroupsWithState) stream in its
    * RECOVERABLE form: update-mode via foreachBatch into an
    * append-only parquet log of (update, batch_id) rows. The
    * checkpoint carries the user-defined SessionState, so stop +
    * restart resumes per-user counters instead of restarting them —
    * the custom-state analogue of [[runToParquet]]'s built-in-state
    * recovery (SourcesSpec proves the kill-restart roundtrip). The
    * log is replay-tolerant by construction: readers reduce to the
    * per-user row with the highest batch_id, so a re-run batch
    * overwrites itself rather than double-counting. */
  def runSessionizeToParquet(events: DataFrame, gapMs: Long,
      outDir: String, checkpointDir: String): Unit = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"),
        col("ts").cast(org.apache.spark.sql.types.TimestampType).as("ts"),
        col("event_type")).as[Event]
    val q = sessionize(typed, gapMs).writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[SessionUpdate], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Latest per-user session state from a [[runSessionizeToParquet]]
    * log: the row with the highest batch_id per user. (The window here
    * partitions by user over at most one row per micro-batch — bounded
    * by batch count, not data volume, so it is not the posting-list
    * window shape the dedup guards avoid.) */
  def latestSessionStates(spark: SparkSession, outDir: String): DataFrame = {
    val log = spark.read.parquet(outDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("userId")).orderBy(col("batch_id").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("userId"), col("nEvents"), col("closed"))
  }

  /** Drive the events parquet through the file-stream source into an
    * in-memory table; returns the completed batch result. */
  def runFileStream(spark: SparkSession, sfDir: String, queryName: String): DataFrame =
    runToMemory(windowedCounts(eventsStream(spark, sfDir)), queryName)

  /** CHECKPOINTED CHANGELOG CONSUMER — the CDC-OUT half of the
    * lakehouse streaming story ([[upsertStream]] is CDC-in): each tick
    * turns every commit since the checkpointed snapshot into ONE
    * changelog micro-batch ([[graft.sources.IcebergLite.changelogRead]]
    * — per-row `_change_type` + `_commit_snapshot_id`), hands it to
    * the caller, and advances the checkpoint ONLY AFTER the handler
    * returns — the foreachBatch contract: a crash mid-handler replays
    * the same batch on restart (at-least-once; handlers idempotent by
    * key+snapshot get exactly-once effects). A missing checkpoint
    * initializes AT the current snapshot and emits nothing — the
    * stream starts "now", like a latest-offset subscription; pass
    * `startFromSnapshot` to begin from table history instead. Returns
    * the processed (from, to] range, or None when caught up. A
    * rollback of the table below the checkpoint breaks ancestry and
    * throws — the consumer must be re-seeded, the same contract a
    * Kafka consumer has after a topic recreation. */
  def changelogTick(spark: SparkSession, tablePath: String,
      checkpointDir: String,
      startFromSnapshot: Option[Long] = None)
      (handler: DataFrame => Unit): Option[(Long, Long)] = {
    import java.nio.file.{Files, Paths}
    val ckpt = Paths.get(checkpointDir, "changelog-offset")
    Files.createDirectories(ckpt.getParent)
    val cur = graft.sources.IcebergLite.currentSnapshotId(tablePath)
      .getOrElse(return None)
    if (!Files.exists(ckpt)) {
      val init = startFromSnapshot.getOrElse(cur)
      Files.writeString(ckpt, init.toString)
      if (init == cur) return None
    }
    val last = Files.readString(ckpt).trim.toLong
    if (last == cur) return None
    val batch = graft.sources.IcebergLite
      .changelogRead(spark, tablePath, last, Some(cur))
    handler(batch)
    // advance AFTER the handler — the at-least-once commit point
    val tmp = Paths.get(checkpointDir, s".changelog-offset.tmp")
    Files.writeString(tmp, cur.toString)
    Files.move(tmp, ckpt, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Some((last, cur))
  }
}
