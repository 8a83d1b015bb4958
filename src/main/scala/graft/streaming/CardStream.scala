package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.model.{ImageStatus, Schemas}
import graft.operators.{Blocks, GraphBuild, Parse}

/** Structured Streaming shell of the ingest pipeline (SURVEY §3.1).
  *
  * Reference topology: one text stream fans out to three independent
  * consumers — ES upsert, Neptune upsert, Firehose S3 archive — each
  * with its own checkpoint (octember_bizcard_stack.py:505-506,758,562),
  * plus a DynamoDB status table keyed by image_id
  * (trigger_text_extract_from_s3_image.py:50-92).
  *
  * Spark restatement: one `readStream` source DataFrame; three
  * `writeStream` queries with separate checkpoints; `foreachBatch`
  * idempotent merges for the keyed tables (exactly-once via
  * deterministic ids — J1); a `mapGroupsWithState` status machine (J4);
  * gzip JSON archive partitioned y/m/d/h (A5).
  */
object CardStream {

  /** A1/A2: file-based card-event source (the Kinesis seam in tests —
    * maxFilesPerTrigger mirrors the reference's batch-100 consumption).
    */
  def readCardEvents(spark: SparkSession, dir: String,
                     maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(Schemas.cardEvent)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)
      .select(col("s3_bucket"), col("s3_key"), col("owner"), col("data.*"))

  /** B7 validity predicate + enrichment, with `observe` counters for the
    * reads/writes/invalid tallies the reference logs (D4/J5).
    */
  def validated(cards: DataFrame): DataFrame =
    Parse.enrich(
      cards.observe("ingest",
          count(lit(1)).as("reads"),
          count(when(col("owner").isNull || col("s3_key").isNull ||
            col("name").isNull, 1)).as("invalid"))
        .filter(col("owner").isNotNull && col("s3_key").isNotNull &&
          col("name").isNotNull))

  // ------------------------------------------------------------- merges

  /** Replay-idempotent last-write-wins merge of `batch` into the parquet
    * table at `path`, keyed by `keyCols`, newest by `ordCol` (ties: all
    * remaining columns — deterministic). One window over table ∪ batch,
    * so `batch` may hold several rows per key: they are resolved with
    * the stored rows in the same shuffle. Columns only the table has are
    * kept (null in new rows), except the `retired` ones, which the merge
    * drops. Plain parquet + atomic directory swap (SURVEY §7.5-2): write
    * to `<path>__stage`, then rename over the live dir, so readers see
    * either the old or the new table, never a partial write. Returns the
    * schema it wrote.
    */
  def mergeLww(spark: SparkSession, batch: DataFrame, path: String,
               keyCols: Seq[String], ordCol: String,
               retired: Seq[String] = Nil): StructType = {
    recoverSwap(spark, path) // writer path — recovery serialized with the swap
    val existing = tableOrEmpty(spark, path, batch).drop(retired: _*)
    val all = existing.unionByName(batch, allowMissingColumns = true)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(desc(ordCol) +: all.columns.filterNot(keyCols.contains)
        .map(c => desc(c)): _*)
    val merged = all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    swapInto(spark, merged, path)
  }

  /** The graph fold (upsert_bizcard_to_graph_db.py:89-113): the cards'
    * [[GraphBuild.vertexRows]] LWW-merged into `vPath` by id, newest
    * `created_at` first, and their [[GraphBuild.edgeRows]] into `ePath`
    * by (src, dst) — one [[mergeLww]] window per table, no batch dedup
    * before it. Its order (created_at desc, then every other column
    * desc) is [[GraphBuild.buildGraph]]'s, and the winner's created_at
    * is the batch maximum, so the tables equal buildGraph's dedup
    * merged with its per-id max(created_at). A card without an e-mail
    * adds no vertex and no edge. The edges are ordered by their own
    * columns; the `_ord` helper column older folds stored is dropped.
    * Returns the vertex and the edge fold, each returning the schema it
    * wrote: they share no output, so a caller runs them in either order
    * or concurrently. Unlike the reference — which loses edges when the
    * owner's own card arrives late (README.md:711-713) — the fold is
    * order-independent.
    */
  def graphFold(spark: SparkSession, cards: DataFrame, vPath: String,
                ePath: String): (() => StructType, () => StructType) =
    (() => mergeLww(spark, GraphBuild.vertexRows(cards).filter(col("id").isNotNull),
       vPath, Seq("id"), "created_at"),
     () => mergeLww(spark, GraphBuild.edgeRows(cards), ePath,
       Seq("src", "dst"), "weight", retired = Seq("_ord")))

  /** Replace the parquet table at `path` with `df` (which may itself be
    * derived from reading `path` — the stage write materializes before
    * the swap). The two-rename swap (live→__old, __stage→live) has an
    * unavoidable window on rename-only filesystems where the live path
    * does not exist; crash-safety comes from keeping `__old` until the
    * new live dir is in place: the writer restores it on its next swap
    * ([[recoverSwap]]) and readers ([[tableOrEmpty]]) fall back to
    * reading `__old` in place, without mutating, so a concurrent reader
    * can never race the writer's renames. Checkpoint replay then
    * re-merges the interrupted batch idempotently (LWW keys), so no
    * accumulated history is lost. Every rename result is checked — a
    * failed rename aborts the swap with `__old` still intact rather
    * than deleting the only complete copy of the table. Returns the
    * schema it wrote, which a reader can pass to [[tableOrEmpty]]. */
  def swapInto(spark: SparkSession, df: DataFrame, path: String,
               partitionCols: Seq[String] = Nil): StructType = {
    recoverSwap(spark, path)
    val stage = new Path(path + "__stage")
    val writer = if (partitionCols.isEmpty) df.write
      else df.write.partitionBy(partitionCols: _*)
    writer.mode("overwrite").parquet(stage.toString)
    swapStaged(spark, path)
    df.schema
  }

  /** The rename tail of the swap protocol: promote an already-written
    * `<path>__stage` directory over the live path (clear stale `__old`,
    * live→`__old`, stage→live, drop `__old`). Shared by [[swapInto]]
    * and multi-table writers that stage several tables under one
    * parent dir and need a SINGLE atomic cutover
    * ([[graft.operators.SearchIndex.mergeStored]]) — one copy of the
    * crash-recovery-critical rename sequence, not per-caller clones. */
  def swapStaged(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val stage = new Path(path + "__stage")
    val old = new Path(path + "__old")
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"swapStaged: cannot clear stale $old")
    if (fs.exists(live)) renameOrThrow(fs, live, old)
    renameOrThrow(fs, stage, live)
    fs.delete(old, true)
  }

  private def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                            src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"swapInto: rename $src -> $dst failed")

  /** Crash recovery for [[swapInto]]: if a previous swap died between
    * rename(live→__old) and rename(__stage→live), the live dir is
    * missing but `__old` holds the full pre-swap table — restore it.
    * (The completed `__stage` from the dead swap is discarded; its
    * batch is re-applied by checkpoint replay.) WRITER-ONLY: each table
    * path has a single writer (its streaming query / engine call), so
    * recovery here is serialized with the swap itself; readers must use
    * the non-mutating [[tableOrEmpty]] instead, otherwise a reader's
    * restore of `__old`→live can interleave between the writer's two
    * renames and corrupt the swap. */
  def recoverSwap(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val old = new Path(path + "__old")
    if (!fs.exists(live) && fs.exists(old)) renameOrThrow(fs, old, live)
  }

  /** Read the merged table at `path` without mutating anything: if the
    * live dir is missing but a crashed swap left `__old` complete, read
    * `__old` in place (the writer restores it on its next swap). Returns
    * `fallbackSchema.limit(0)` when neither exists or the dir is empty
    * (a parquet read of an empty dir cannot infer a schema). With
    * `readSchema` the files are read with that schema instead of an
    * inferred one (partition directory values included), which also
    * skips the Spark job that schema inference launches. */
  def tableOrEmpty(spark: SparkSession, path: String,
                   fallbackSchema: DataFrame,
                   readSchema: Option[StructType] = None): DataFrame =
    readTable(spark, path, readSchema).getOrElse(fallbackSchema.limit(0))

  /** [[tableOrEmpty]] without the fallback: None when there is no table
    * to read. Without `readSchema` the schema is the one a plain
    * `spark.read.parquet` infers, taken without a Spark job where
    * [[footerSchema]]'s rule applies; elsewhere Spark infers it, in a
    * job. */
  private[graft] def readTable(spark: SparkSession, path: String,
                                readSchema: Option[StructType] = None): Option[DataFrame] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val old = new Path(path + "__old")
    Seq(live, old).find(fs.exists).flatMap { p =>
      val schema = readSchema.orElse(footerSchema(spark, fs, p))
      try Some(schema.fold(spark.read)(spark.read.schema).parquet(p.toString))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    }
  }

  /** The schema Spark's parquet inference gives the table directory
    * `dir`: with `mergeSchema` off, Spark reads one footer — of the
    * first data file by path — in a job, and takes the schema it stored
    * there under `org.apache.spark.sql.parquet.row.metadata`. This reads
    * that footer (row groups skipped) in this process, so no job runs.
    * None — Spark infers — where the rule is not Spark's: `mergeSchema`
    * on, subdirectories (partition columns), `_metadata` /
    * `_common_metadata` summary files, a footer that cannot be read or
    * that holds no Spark schema. Hidden names are skipped as Spark's
    * file listing skips them. */
  private def footerSchema(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                           dir: Path): Option[StructType] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    def hidden(n: String): Boolean =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !(n.startsWith("_metadata") || n.startsWith("_common_metadata"))
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
    else {
      val visible = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      if (visible.exists(s => s.isDirectory || s.getPath.getName.startsWith("_"))) None
      else visible.sortBy(_.getPath.toString).headOption.flatMap { file =>
        val conf = spark.sparkContext.hadoopConfiguration
        try {
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
            HadoopReadOptions.builder(conf)
              .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
          val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
              .get(ParquetReadSupport.SPARK_METADATA_KEY)
            finally reader.close()
          Option(json).map(j =>
            org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  /** A3: Kinesis-style framed emit shape — every row serialized to one
    * JSON payload (`to_json(struct(*))`) with a `part-%05d` partition
    * key, physically repartitioned by that key (the shard routing of a
    * record stream put; trigger_text_extract_from_s3_image.py:21-47 —
    * the reference keys by `'part-%05d' % random`, we derive the key
    * deterministically from `keyExpr` so the emit is replay-stable and
    * oracle-checkable). Output is the wire shape: (partition_key,
    * payload) only.
    */
  def framedRecords(df: DataFrame, shards: Int,
                    keyExpr: org.apache.spark.sql.Column): DataFrame =
    df.select(
        format_string("part-%05d", pmod(keyExpr, lit(shards))).as("partition_key"),
        to_json(struct(df.columns.map(col): _*)).as("payload"))
      .repartition(col("partition_key"))

  /** A3 streaming sink: every micro-batch emitted in the framed wire
    * shape ([[framedRecords]]), written shard-partitioned
    * (`partition_key=part-NNNNN/` directories — the Kinesis shard
    * layout as a file sink). At-least-once like the reference's
    * `put_records` (retries are replay, downstream consumers dedup by
    * payload key — J1). */
  def startFramedEmit(cards: DataFrame, shards: Int,
                      keyExpr: org.apache.spark.sql.Column,
                      path: String, checkpoint: String): StreamingQuery =
    cards.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        framedRecords(batch, shards, keyExpr)
          .write.mode("append").partitionBy("partition_key").json(path)
      }
      .start()

  /** A6: search-table sink — LWW by doc_id ordered by created_at
    * (upsert_bizcard_to_es.py:77-90; ES doc _id upsert). */
  def startSearchMerge(cards: DataFrame, tablePath: String,
                       checkpoint: String): StreamingQuery =
    cards.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeLww(batch.sparkSession, batch, tablePath,
          Seq("doc_id"), "created_at")
        ()
      }
      .start()

  /** A6 at scale: incremental search-INDEX maintenance as a streaming
    * sink — each micro-batch's postings folded into the stored bucketed
    * index ([[graft.operators.SearchIndex.mergeStored]]); never a full
    * rebuild (the reference's ES upsert is incremental,
    * upsert_bizcard_to_es.py:77-90, and at 100 TB rebuild-per-batch is
    * not an option). Batches must carry disjoint doc ids (route
    * replays through the LWW table first — the merge contract). The
    * first batch bootstraps the index. */
  def startIndexMerge(cards: DataFrame, indexDir: String, checkpoint: String,
                      idCol: String, fields: Seq[String]): StreamingQuery =
    cards.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // recover a crashed swap BEFORE the bootstrap check: after a
        // crash between mergeStored's renames the whole index lives in
        // __old and meta is "missing" — bootstrapping then would drop
        // every previously indexed doc
        recoverSwap(spark, indexDir)
        val fs = new Path(indexDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new Path(s"$indexDir/meta"))) {
          // batchId is the replay fence: a re-delivered micro-batch
          // (crash after swap, before checkpoint commit) is skipped
          // instead of double-merged
          graft.operators.SearchIndex.mergeStored(
            spark, indexDir, batch, idCol, fields, batchId)
          ()
        } else {
          val (p, s, n) = graft.operators.SearchIndex.build(batch, idCol, fields)
          graft.operators.SearchIndex.writeIndex(p, s, n, indexDir, batchId)
        }
      }
      .start()

  /** Streaming incremental rollup sink: [[mergeAdditive]] per
    * micro-batch (its meta `last_batch` is the replay fence — same
    * contract as [[startIndexMerge]]). The rollup table is the
    * always-queryable materialized aggregate; the raw stream never
    * needs rescanning. */
  def startRollup(records: DataFrame, dir: String, checkpoint: String,
                  keyCols: Seq[String], sumCols: Seq[String]): StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeAdditive(batch.sparkSession, batch, dir, keyCols, sumCols, batchId)
        ()
      }
      .start()

  /** Graph sink: [[graphFold]] per micro-batch, vertices then edges. */
  def startGraphMerge(cards: DataFrame, vPath: String, ePath: String,
                      checkpoint: String): StreamingQuery =
    cards.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (vertices, edges) = graphFold(batch.sparkSession, batch, vPath, ePath)
        vertices()
        edges()
        ()
      }
      .start()

  /** A5: Firehose-style archive — gzip JSON, hour-partitioned
    * `y/m/d/h` path layout, 60 s flush (octember_bizcard_stack.py:562-584).
    */
  def startArchive(cards: DataFrame, path: String, checkpoint: String,
                   trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    cards
      .withColumn("_ts", coalesce(
        to_timestamp(col("created_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        current_timestamp()))
      .withColumn("year", date_format(col("_ts"), "yyyy"))
      .withColumn("month", date_format(col("_ts"), "MM"))
      .withColumn("day", date_format(col("_ts"), "dd"))
      .withColumn("hour", date_format(col("_ts"), "HH"))
      .drop("_ts")
      .writeStream
      .format("json")
      .option("compression", "gzip")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day", "hour")
      .trigger(trigger)
      .start()

  // ------------------------------------------- event-time windows (J2/J3)

  /** Event-time tumbling-window counts with a watermark — the J2/J3
    * extension the reference lacks (its `created_at` is processing
    * time and Firehose's 60 s buffer is a sink flush, not a query
    * window; SURVEY §2.J2-J3). The watermark bounds state: windows
    * older than (max event time − `lateness`) are finalized and
    * dropped from the store, so state size is O(active windows), not
    * O(stream history) — the property that lets this run forever at
    * scale. Late rows beyond the watermark are dropped (counted by the
    * driver's streaming metrics).
    */
  def windowedEventCounts(events: DataFrame, tsCol: String = "ts",
                          lateness: String = "10 minutes",
                          windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("events"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("events"))

  /** Watermarked stream-stream interval join — the click-attribution
    * shape (every left event joined to same-key right events in the
    * trailing `joinWindow`), the one Structured Streaming join class
    * the rest of this file doesn't cover: BOTH sides buffer in state.
    * The watermark plus the interval bound are what make that state
    * finite — a right row can only match left rows in the next
    * `joinWindow`, so once the watermark passes `ts + joinWindow` the
    * row is evicted; state is O(events per window), not O(stream
    * history). `left_outer` additionally emits unmatched left rows
    * (with NULL right columns) once their watermark horizon closes —
    * exactly Spark's documented outer-join-with-watermark semantics.
    *
    * The same call works on BATCH frames (withWatermark is a no-op
    * there), which is the batch-equivalence contract StreamingSpec
    * pins: streamed micro-batches must produce the batch join's rows.
    *
    * @return left.* + right columns prefixed `r_`.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                         leftTs: String, rightTs: String,
                         lateness: String = "10 minutes",
                         joinWindow: String = "1 hour",
                         joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.columns
      .foldLeft(right)((df, c) => df.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$rightTs", lateness)
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$rightTs") >= col(leftTs) - expr(s"INTERVAL $joinWindow") &&
        col(s"r_$rightTs") <= col(leftTs),
      joinType)
  }

  /** Incremental additive rollup — streaming materialized-view
    * maintenance for SUM/COUNT-shaped aggregates: fold a micro-batch's
    * per-key partials into a stored rollup table, so the serving-side
    * aggregate never rescans history (at 100 TB the raw stream is
    * unreplayable; the rollup is the queryable state).
    *
    * Store: a [[BucketStore]] with one `rollup` table hash-bucketed by
    * key — the same O(touched buckets) fold as [[nearDupSuppress]] /
    * [[ivfMerge]]. A micro-batch's partials touch only the key buckets
    * they hash into: those buckets are read, re-summed, and written
    * under a new generation; every other bucket carries over by
    * manifest pointer (the earlier form rewrote the WHOLE rollup —
    * O(#distinct keys) I/O per trigger, the last full-table-rewrite
    * store in the streaming family). The manifest `last_batch` is the
    * at-least-once replay fence (additive merges are NOT idempotent —
    * a replayed batch would double-count; the fence makes replay a
    * no-op). Counts must be maintained as SUM over partial counts
    * (`count(…)` of the batch, `sum` here).
    *
    * @return merged row count of the touched buckets (0 on a fenced
    *         replay).
    */
  def mergeAdditive(spark: SparkSession, batch: DataFrame, dir: String,
                    keyCols: Seq[String], sumCols: Seq[String],
                    batchId: Long = -1L,
                    storeBuckets: Int = BucketStore.StoreBuckets): Long = {
    migrateLegacyRollup(spark, dir, keyCols, storeBuckets)
    // one manifest snapshot per fold — see nearDupSuppress
    val man = Some(BucketStore.loadManifest(spark, dir))
    if (batchId >= 0 && man.get.lastBatch == batchId)
      return 0L // replayed micro-batch: no-op
    // the touched-bucket set rides the partial checkpoint as an
    // observed metric (≤ StoreBuckets longs)
    val pObs = org.apache.spark.sql.Observation()
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(sumCols.map(c => sum(col(c)).as(c)).head,
        sumCols.map(c => sum(col(c)).as(c)).tail: _*)
      .withColumn("bucket",
        pmod(xxhash64(keyCols.map(col): _*), lit(storeBuckets.toLong)))
      .observe(pObs, collect_set(col("bucket")).as("bks"))
      .localCheckpoint(true) // reused as the merge input
    val touched = pObs.get("bks").asInstanceOf[Seq[Long]].sorted
    // merged stays LAZY: the commit write is its only computation, and
    // the returned row count rides that same job as an observed metric
    // — a fold is 2 jobs (partial+buckets, write), not the 5 the
    // checkpoint+count+collect form paid (measured on the per-trigger-
    // bound stream gates, where fixed jobs ARE the cost).
    val obs = org.apache.spark.sql.Observation()
    val merged = BucketStore.read(spark, dir, "rollup", Some(touched),
        partial, man)
      .unionByName(partial)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(sumCols.map(c => sum(col(c)).as(c)).head,
        sumCols.map(c => sum(col(c)).as(c)).tail: _*)
      .observe(obs, count(lit(1)).as("n"))
    BucketStore.commit(spark, dir,
      Seq(("rollup", merged, "bucket", touched)), batchId, man,
      buckets = storeBuckets.toLong)
    obs.get("n").asInstanceOf[Long]
  }

  /** One-time fold of a pre-BucketStore rollup (`dir/data` + `dir/meta`
    * staged-swap layout) into the bucketed store — a store written by
    * the earlier mergeAdditive would otherwise be silently IGNORED by
    * the manifest-driven reader and its accumulated sums lost on the
    * first post-upgrade fold. Restores a half-finished legacy swap
    * first, carries the legacy `last_batch` into the manifest (the
    * replay fence survives the migration), and renames the legacy
    * data out of the way so the migration itself is idempotent. */
  private def migrateLegacyRollup(spark: SparkSession, dir: String,
                                  keyCols: Seq[String],
                                  storeBuckets: Int): Unit = {
    recoverSwap(spark, dir) // restore a half-swapped legacy layout
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/data")) ||
        fs.exists(new Path(s"$dir/manifest"))) return
    val legacy = spark.read.parquet(s"$dir/data")
      .withColumn("bucket",
        pmod(xxhash64(keyCols.map(col): _*), lit(storeBuckets.toLong)))
      .localCheckpoint(true)
    val legacyBatch = spark.read.parquet(s"$dir/meta").head().getLong(0)
    val buckets = legacy.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    BucketStore.commit(spark, dir,
      Seq(("rollup", legacy, "bucket", buckets)), legacyBatch,
      buckets = storeBuckets.toLong)
    fs.rename(new Path(s"$dir/data"), new Path(s"$dir/data__migrated"))
    fs.rename(new Path(s"$dir/meta"), new Path(s"$dir/meta__migrated"))
  }

  /** Non-mutating reader for a [[mergeAdditive]] rollup (manifest
    * resolution with the crash-safe `__old` fallback inside
    * [[BucketStore.read]]). */
  def readRollup(spark: SparkSession, dir: String): DataFrame =
    BucketStore.read(spark, dir, "rollup", None, spark.emptyDataFrame)
      .drop("bucket")

  /** Trending top-k over a [[mergeAdditive]] rollup keyed
    * (groupCols…, itemCol) — the streaming leaderboard: the rollup
    * absorbs micro-batches additively (O(touched buckets) per
    * trigger), and the read side ranks items per group with the
    * bounded-heap top-k. Reading is a pure query over the store —
    * rank freshness equals rollup freshness, no extra state.
    *
    * @return (groupCols…, item, n) top-k per group by (n desc, item).
    */
  def trendingTopK(spark: SparkSession, dir: String,
                   groupCols: Seq[String], itemCol: String, sumCol: String,
                   k: Int): DataFrame = {
    val rollup = readRollup(spark, dir)
    graft.operators.TopK.grouped(
        rollup.select((groupCols.map(col) :+ col(itemCol).as("item") :+
          col(sumCol).cast("long").as("n")): _*),
        groupCols,
        struct((-col("n")).as("nn"), col("item").as("i")), k)
      .select((groupCols.map(col) :+ col("best.i").as("item") :+
        (-col("best.nn")).as("n")): _*)
      .orderBy((groupCols.map(col) :+ col("n").desc :+ col("item")): _*)
  }

  /** Streaming ADMISSION GATE — [[graft.operators.Profile.checkConstraints]]
    * wired into the ingest path: every micro-batch is validated against
    * the declarative constraint suite BEFORE it folds into the rollup
    * store, turning the Deequ-model table from a batch report into
    * admission control.
    *
    *  - all checks pass → the batch folds via [[mergeAdditive]]
    *    (same store, same replay fence);
    *  - any check fails → the batch is QUARANTINED verbatim under
    *    `dir/quarantine/b=<batchId>` (overwrite per batch id, so an
    *    at-least-once redelivery rewrites the same directory instead
    *    of duplicating rows) and the rollup is untouched — a broken
    *    ingest can never contaminate the accumulated sums;
    *  - either way the per-batch constraint report (plus batch_id and
    *    admitted flag) lands under `dir/gate_metrics/b=<batchId>` —
    *    additive per-batch metric rows: each batch appends its own
    *    partition, history is never rewritten, and replays overwrite
    *    their own partition (idempotent).
    *
    * An EMPTY micro-batch is a no-op (admitted, nothing written):
    * streams deliver empty triggers routinely and checkConstraints'
    * n=0 → all-fail contract is for broken ingests, not idle ones.
    *
    * Cost per batch: the |checks|-row validation fold + the usual
    * O(touched buckets) rollup fold; quarantine/metrics writes are
    * O(batch) / O(checks).
    *
    * @return (admitted, merged-or-quarantined row count).
    */
  def gatedMergeAdditive(spark: SparkSession, batch: DataFrame, dir: String,
                         keyCols: Seq[String], sumCols: Seq[String],
                         checks: Seq[graft.operators.Profile.Check],
                         batchId: Long = -1L,
                         storeBuckets: Int = BucketStore.StoreBuckets)
      : (Boolean, Long) = {
    if (batch.isEmpty) return (true, 0L)
    // |checks| rows by construction: resolve driver-side in one job
    // (was checkpoint + verdict agg + metrics-write re-scan)
    val reportDf = graft.operators.Profile.checkConstraints(batch, checks)
    val rows = reportDf.collect()
    val admitted = rows.forall(_.getAs[Boolean]("passed"))
    val bTag = if (batchId >= 0) batchId else 0L
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), reportDf.schema)
      .withColumn("batch_id", lit(bTag))
      .withColumn("admitted", lit(admitted))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/gate_metrics/b=$bTag")
    if (admitted) {
      (true, mergeAdditive(spark, batch, dir, keyCols, sumCols, batchId,
        storeBuckets))
    } else {
      batch.write.mode("overwrite").parquet(s"$dir/quarantine/b=$bTag")
      (false, batch.count())
    }
  }

  /** [[mergeAdditive]] with a DRIFT tripwire — the streaming face of
    * [[graft.operators.Drift.psi]], completing the admission-control
    * pair: [[gatedMergeAdditive]] rejects batches that violate
    * CONSTRAINTS (nulls, ranges), this rejects batches whose value
    * DISTRIBUTION has shifted from a fixed baseline sample even when
    * every row is individually valid (the upstream-bug shape
    * constraint checks cannot see). Each micro-batch is PSI-scored
    * against `baseline` over the declared bins; total PSI above
    * `psiThresholdMicros` quarantines the batch verbatim (per-batch-id
    * overwrite, replay-idempotent) and leaves the rollup untouched.
    * The full per-bin PSI report lands under `drift_metrics/b=<id>`
    * whatever the verdict — partitioned additive metric rows, never a
    * read-modify-write. Empty batches are admitted no-ops.
    *
    * @return (admitted, rows merged | rows quarantined).
    */
  def driftMonitoredMerge(spark: SparkSession, batch: DataFrame,
                          dir: String, keyCols: Seq[String],
                          sumCols: Seq[String], baseline: DataFrame,
                          valueCol: String, lo: Double, hi: Double,
                          bins: Int, psiThresholdMicros: Long,
                          batchId: Long = -1L,
                          storeBuckets: Int = BucketStore.StoreBuckets)
      : (Boolean, Long) = {
    if (batch.isEmpty) return (true, 0L)
    // the report is bins+1 rows BY CONSTRUCTION — resolve it into
    // driver memory once (one job) instead of checkpoint + verdict
    // scan + metrics-write re-scan (three)
    val psiDf = graft.operators.Drift
      .psi(baseline, batch, valueCol, lo, hi, bins)
    val rows = psiDf.collect()
    val psiTotal = rows.find(_.getAs[Long]("bin") == -1L).get
      .getAs[Long]("term_micros")
    val admitted = psiTotal <= psiThresholdMicros
    val bTag = if (batchId >= 0) batchId else 0L
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), psiDf.schema)
      .withColumn("batch_id", lit(bTag))
      .withColumn("psi_micros", lit(psiTotal))
      .withColumn("admitted", lit(admitted))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/drift_metrics/b=$bTag")
    if (admitted) {
      (true, mergeAdditive(spark, batch, dir, keyCols, sumCols, batchId,
        storeBuckets))
    } else {
      batch.write.mode("overwrite").parquet(s"$dir/quarantine/b=$bTag")
      (false, batch.count())
    }
  }

  /** All per-batch drift reports of a [[driftMonitoredMerge]] store
    * (bin rows + bin=-1 total, batch_id, psi_micros, admitted). */
  def readDriftMetrics(spark: SparkSession, dir: String): DataFrame =
    readBatchDirs(spark, s"$dir/drift_metrics")

  /** All per-batch admission reports of a [[gatedMergeAdditive]] store
    * (batch_id, constraint, metric/threshold micros, passed, admitted);
    * empty frame with that schema when no batch has been gated. */
  def readGateMetrics(spark: SparkSession, dir: String): DataFrame =
    readBatchDirs(spark, s"$dir/gate_metrics")

  /** Quarantined batches of a [[gatedMergeAdditive]] store, verbatim
    * input rows (empty when nothing was rejected). */
  def readQuarantine(spark: SparkSession, dir: String): DataFrame =
    readBatchDirs(spark, s"$dir/quarantine")

  private def readBatchDirs(spark: SparkSession, root: String): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(root)
    if (!fs.exists(p)) return spark.emptyDataFrame
    val parts = fs.listStatus(p).map(_.getPath.toString)
      .filter(_.matches(".*/b=\\d+$"))
    if (parts.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(parts: _*)
  }

  /** One micro-batch of streaming NEAR-dup suppression — the streaming
    * face of [[graft.operators.Dedup.minhashLshPairs]] (X3), applied
    * first-arrival-wins: a new document is dropped when it MinHash-
    * verifies (jaccard ≥ `minJaccard`) against either (a) a smaller-id
    * document of its own batch (the semDeDup drop-if-any-smaller
    * convention — a mid-chain dup does not resurrect its followers) or
    * (b) ANY already-accepted document of the accumulated corpus.
    *
    * Store: a [[BucketStore]] of two tables — `data` = surviving
    * rows WITH their shingle sets (column `sh`), hash-bucketed by id;
    * `posts` = their (band, key) postings, hash-bucketed by
    * (band, key). Per batch the fold READS only the posting buckets
    * the batch's own postings hash into (candidate probe), the data
    * buckets of the candidate ids (verification side), and the
    * data/posts buckets the survivors land in; it WRITES only
    * new-generation files for those buckets and swaps the manifest —
    * O(touched buckets) I/O per trigger on a store that grows without
    * bound, never an O(corpus) rewrite. Untouched buckets keep their
    * files byte-for-byte (StreamingSpec pins this). The manifest swap
    * is the replay fence's home (`last_batch`) — acceptance is NOT
    * idempotent: a replayed batch would re-test docs against
    * themselves and drop them.
    *
    * @return number of surviving rows in this batch (history count on
    *         a replayed fence hit is NOT included — the fold is a
    *         no-op then).
    */
  def nearDupSuppress(spark: SparkSession, batch: DataFrame, dir: String,
                      textCol: String, idCol: String,
                      n: Int = 2, k: Int = 64, bands: Int = 16,
                      minJaccard: Double = 0.5,
                      batchId: Long = -1L,
                      storeBuckets: Int = BucketStore.StoreBuckets): Long = {
    import graft.operators.Dedup
    require(!batch.columns.contains("sh") && !batch.columns.contains("bucket")
        && !batch.columns.contains("bks"),
      "nearDupSuppress reserves the column names 'sh', 'bucket' and 'bks'")
    // manifest resolved ONCE for the whole fold — a driver-side file
    // read, no Spark job (fence + 3 table reads + commit base);
    // single-writer, so the snapshot stays valid for the fold
    val man0 = BucketStore.loadManifest(spark, dir)
    // one-time fold of the pre-fused layout (separate data/sh tables):
    // the fused reader selects `sh` FROM the data table, so a store
    // written by the 3-table release would crash its first post-
    // upgrade fold — the migrateLegacyRollup argument. One O(store)
    // rewrite, fence preserved, then never fires again.
    val man = Some(if (man0.rows.exists(_._1 == "sh"))
        migrateFusedNearDup(spark, batch, dir, idCol, storeBuckets, man0)
      else man0)
    if (batchId >= 0 && man.get.lastBatch == batchId)
      return 0L // replayed micro-batch: no-op
    val nb = lit(storeBuckets.toLong)
    // ONE checkpoint of the batch's derived state: caller columns +
    // shingle set + id-hash store bucket + the (band, key, bucket)
    // POSTINGS array (r16). The minhash signature is computed exactly
    // once into `bks`; the posting frame, both candidate joins and the
    // survivor append all re-derive rows from these blocks with a
    // cheap explode — the separate posting checkpoint job is gone, and
    // the posting-bucket set rides THIS job's observation. Empty-
    // shingle docs get an empty array: they post nothing and can never
    // be dropped, exactly as before.
    val bkType = "array<struct<band:int,key:bigint,bucket:bigint>>"
    val postObs = org.apache.spark.sql.Observation()
    val base = batch
      .withColumn("sh", Dedup.shingles(col(textCol), n))
      .withColumn("bucket", pmod(xxhash64(col(idCol)), nb))
      .withColumn("bks", when(size(col("sh")) > 0,
          transform(Dedup.lshBands(
              graft.functions.expr.TextExprs.minhash_sig(col("sh"), k),
              k, bands),
            b => struct(b.getField("band").as("band"),
              b.getField("key").as("key"),
              pmod(xxhash64(b.getField("band"), b.getField("key")), nb)
                .as("bucket"))))
        .otherwise(array().cast(bkType)))
      .observe(postObs,
        bucketWords(col("bks.bucket"), storeBuckets).as("pbks"))
      .localCheckpoint(true)
    // every driver-side bucket set below is ≤ storeBuckets longs
    val postBuckets = bucketsIn(postObs.get("pbks"))
    val posts = base
      .select(col(idCol).as("id"), explode(col("bks")).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"),
        col("bk.bucket").as("bucket"))
    val storedPosts = BucketStore.read(spark, dir, "posts",
        Some(postBuckets.toSeq), posts, man)
      .select(col("id").as("_oid"), col("band"), col("key"))
    // candidate pairs of BOTH passes in one frame, tagged by side:
    // in-batch (the semDeDup drop-if-any-smaller convention — a
    // mid-chain dup does not resurrect its followers, so the smaller
    // side is ANY batch doc, dropped or not) and history (any
    // already-accepted doc). Testing in-batch-dropped docs against
    // history too is harmless: their drop is already decided, and the
    // final drop set is the union either way.
    val inCand = Blocks.pairs(posts, Seq("band", "key"), "id")
      .select(col("b_id").as("id"), col("a_id").as("_oid"),
        lit(true).as("_inbatch")).distinct()
    val histCand = posts.join(storedPosts, Seq("band", "key"))
      .select(col("id"), col("_oid"), lit(false).as("_inbatch")).distinct()
    // the history-candidate data-bucket set rides the checkpoint job
    // (collect_set skips the in-batch rows' null) — one job, not two
    val candObs = org.apache.spark.sql.Observation()
    val cand = inCand.unionAll(histCand)
      .observe(candObs, collect_set(when(!col("_inbatch"),
        pmod(xxhash64(col("_oid")), nb))).as("obks"))
      .localCheckpoint(true) // reused by the verify join
    val oidBuckets = candObs.get("obks").asInstanceOf[Seq[Long]].sorted
    val storedSh = BucketStore.read(spark, dir, "data",
        Some(oidBuckets.toSeq), base.drop("bks"), man)
      .select(col(idCol).as("_oid"), col("sh").as("_osh"),
        lit(false).as("_inbatch"))
    val batchSh = base
      .select(col(idCol).as("_oid"), col("sh").as("_osh"),
        lit(true).as("_inbatch"))
    // ONE verification join for both passes; round(…, 4) keeps a
    // threshold-edge pair judged identically regardless of which
    // micro-batch boundary the duplicate landed on (the batch oracle
    // convention of Dedup.minhashLshPairs)
    val dropped = cand
      .join(base.select(col(idCol).as("id"), col("sh")), "id")
      .join(batchSh.unionAll(storedSh), Seq("_oid", "_inbatch"))
      .withColumn("_inter", size(array_intersect(col("sh"), col("_osh"))))
      .filter(round(col("_inter").cast("double") /
        (size(col("sh")) + size(col("_osh")) - col("_inter")), 4) >= minJaccard)
      .select(col("id").as("_drop")).distinct()
    // the survivors' id-bucket set, the returned row count AND the
    // surviving postings' bucket set (the survivor rows carry their
    // posting arrays) ALL ride the checkpoint job — 1 job where the
    // checkpoint + union-collect + count form paid 3 (r16: the
    // standalone survPostBuckets collect is gone)
    val survObs = org.apache.spark.sql.Observation()
    val survivors = base.join(dropped,
        base(idCol) === col("_drop"), "left_anti")
      .observe(survObs, collect_set(col("bucket")).as("ibks"),
        count(lit(1)).as("n"),
        bucketWords(col("bks.bucket"), storeBuckets).as("pbks"))
      .localCheckpoint(true) // reused: posting probe, data append
    val idBuckets = survObs.get("ibks").asInstanceOf[Seq[Long]].sorted
    val nSurvivors = survObs.get("n").asInstanceOf[Long]
    val survPostBuckets = bucketsIn(survObs.get("pbks"))
    // the surviving postings re-derive from the survivors' own arrays
    // — no posts ⋈ survivors join
    val newPosts = survivors
      .select(col(idCol).as("id"), explode(col("bks")).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"),
        col("bk.bucket").as("bucket"))
    // merge = stored bucket content ∪ accepted rows, for ONLY the
    // buckets the survivors land in (append-only: accepted docs never
    // change, so untouched buckets carry over by manifest pointer);
    // the posting-array column stays checkpoint-local — the stored
    // data table's schema is unchanged
    val mergedData = BucketStore.read(spark, dir, "data",
      Some(idBuckets), survivors.drop("bks"), man)
      .unionByName(survivors.drop("bks"))
    val mergedPosts = BucketStore.read(spark, dir, "posts",
      Some(survPostBuckets), newPosts, man).unionByName(newPosts)
    BucketStore.commit(spark, dir, Seq(
      ("data", mergedData, "bucket", idBuckets),
      ("posts", mergedPosts, "bucket", survPostBuckets)), batchId, man,
      buckets = storeBuckets.toLong)
    nSurvivors
  }

  /** The distinct values of an array<bigint> column over all rows
    * (each in [0, storeBuckets)), as one aggregate of
    * ⌈storeBuckets/64⌉ `bit_or` words: bit b of word w is bucket
    * 64·w + b. An Observation of it ships storeBuckets bits to the
    * driver whatever the batch size (a set of per-row arrays ships
    * rows × bands longs); [[bucketsIn]] decodes it. */
  private[graft] def bucketWords(buckets: Column, storeBuckets: Int): Column =
    array((0 until (storeBuckets + 63) / 64).map(w => bit_or(aggregate(buckets,
      lit(0L), (acc, b) => acc.bitwiseOR(when(shiftright(b, 6) === w,
        call_function("shiftleft", lit(1L), b.bitwiseAND(63).cast("int")))
        .otherwise(lit(0L)))))): _*)

  /** The sorted buckets of a [[bucketWords]] value (null words, from
    * no rows, are empty). */
  private[graft] def bucketsIn(words: Any): Seq[Long] =
    words.asInstanceOf[scala.collection.Seq[Any]].toSeq.zipWithIndex.flatMap {
      case (w: Long, i) => (0 until 64).filter(b => (w >>> b & 1L) == 1L).map(64L * i + _)
      case _ => Nil
    }

  /** The accepted corpus of a [[nearDupSuppress]] store (the `data`
    * table in the caller's schema; store bucket column stripped). */
  def nearDupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val fallback = spark.range(0).select(lit(0L).as("doc_id"),
      lit("").as("text"), array().cast("array<string>").as("sh"),
      lit(0L).as("bucket"))
    BucketStore.read(spark, dir, "data", None, fallback)
      .drop("bucket", "sh")
  }

  /** One-time migration of a pre-fused near-dup store (separate
    * `data`/`sh` tables) to the fused layout: shingles fold INTO the
    * data table (left join — the old layout stored no row for
    * empty-shingle docs, which post nothing and are never verified,
    * so a missing set becomes an empty array), every surviving table
    * REBUCKETS under the caller's modulus (the old store may have
    * hashed with a different one), and the `sh` table's pointers drop
    * via an empty update. Committed under the legacy `lastBatch`, so
    * the at-least-once replay fence survives the migration. */
  private def migrateFusedNearDup(spark: SparkSession, batch: DataFrame,
                                  dir: String, idCol: String,
                                  storeBuckets: Int,
                                  man0: BucketStore.Manifest)
      : BucketStore.Manifest = {
    val nb = lit(storeBuckets.toLong)
    def buckets(t: String): Seq[Long] =
      man0.rows.filter(_._1 == t).map(_._2)
    // touched = every old pointer plus every bucket the rebucketed
    // content can land in (a modulus change moves rows across buckets)
    def touched(t: String): Seq[Long] =
      (buckets(t) ++ (0L until storeBuckets.toLong)).distinct
    val oldData = BucketStore.read(spark, dir, "data", None,
      batch.withColumn("bucket", lit(0L)), Some(man0))
    val oldSh = BucketStore.read(spark, dir, "sh", None,
      spark.range(0).select(lit(0L).as("id"),
        array().cast("array<string>").as("sh"), lit(0L).as("bucket")),
      Some(man0))
    val oldPosts = BucketStore.read(spark, dir, "posts", None,
      spark.range(0).select(lit(0L).as("id"), lit(0).as("band"),
        lit(0L).as("key"), lit(0L).as("bucket")), Some(man0))
    // sh side renamed before the join: a caller whose idCol is
    // literally "id" would otherwise make col("id") ambiguous, and
    // drop("id") drops EVERY column of that name, the data id too
    val fused = oldData.drop("bucket")
      .join(oldSh.select(col("id").as("_mig_id"), col("sh").as("_mig_sh")),
        col(idCol) === col("_mig_id"), "left")
      .withColumn("sh",
        coalesce(col("_mig_sh"), array().cast("array<string>")))
      .drop("_mig_id", "_mig_sh")
      .withColumn("bucket", pmod(xxhash64(col(idCol)), nb))
    val rePosts = oldPosts
      .withColumn("bucket", pmod(xxhash64(col("band"), col("key")), nb))
    BucketStore.commit(spark, dir, Seq(
      ("data", fused, "bucket", touched("data")),
      ("posts", rePosts, "bucket", touched("posts")),
      ("sh", oldSh.limit(0), "bucket", buckets("sh"))),
      man0.lastBatch, Some(man0), buckets = storeBuckets.toLong)
    BucketStore.loadManifest(spark, dir)
  }

  /** One micro-batch of streaming IMAGE near-dup suppression — the
    * streaming face of the dHash pipeline
    * ([[graft.operators.Multimodal.imageDHash]] →
    * [[graft.operators.Dedup.hammingBandPairs]], X103), first-arrival-
    * wins like [[nearDupSuppress]]: a new image is dropped when its
    * 64-bit dHash lands within `maxDist` Hamming of a smaller-id image
    * in its own batch or ANY already-accepted image.
    *
    * `batch` carries (idCol, hashCol) — compose `imageDHash` upstream
    * (decode stays a narrow per-partition map in the stream). Store: a
    * [[BucketStore]] with `data` (id, hash) bucketed by id and
    * `chunks` postings (chunk, key, id, hash) bucketed by the
    * (chunk, key) hash. The probe reads ONLY the posting buckets the
    * batch's own 8 chunk keys hash into, and verification needs no
    * second table — the postings carry the full 64-bit hash, so the
    * Hamming check runs on the candidate rows directly (simpler than
    * the MinHash store, which must re-read shingle sets). O(touched
    * buckets) I/O per trigger; manifest `last_batch` is the replay
    * fence (acceptance is not idempotent).
    *
    * @return surviving rows of this batch (0 on a fenced replay).
    */
  def imageDupSuppress(spark: SparkSession, batch: DataFrame, dir: String,
                       idCol: String = "id", hashCol: String = "dhash",
                       maxDist: Int = 3, batchId: Long = -1L): Long = {
    import graft.operators.Dedup
    import BucketStore.StoreBuckets
    // one manifest snapshot per fold — see nearDupSuppress
    val man = Some(BucketStore.loadManifest(spark, dir))
    if (batchId >= 0 && man.get.lastBatch == batchId)
      return 0L // replayed micro-batch: no-op
    val hashed = batch.select(col(idCol).as("id"), col(hashCol).as("sh"))
    // in-batch pass: first arrival (smallest id) wins
    val inBatchDropped = Dedup.hammingBandPairs(hashed, maxDist)
      .select(col("id2").as("_drop")).distinct()
    val afterSelf = hashed.join(inBatchDropped,
        col("id") === col("_drop"), "left_anti")
      .localCheckpoint(true) // reused: probe, survivors, store append
    // chunk postings of the surviving batch rows (one row per
    // pigeonhole chunk — 4×16-bit for maxDist ≤ 3, 8×8-bit beyond;
    // the store's chunking follows the suppressor's maxDist, so a
    // store must keep one maxDist for its lifetime)
    def chunkPosts(df: DataFrame): DataFrame = df
      .select(col("id"), col("sh"), Blocks.chunks(col("sh"), maxDist))
      .withColumn("bucket",
        pmod(xxhash64(col("chunk"), col("key")), lit(StoreBuckets.toLong)))
    // posting-bucket set rides the checkpoint job as an observed
    // metric — see nearDupSuppress (the fold's cost is fixed job count)
    val postObs = org.apache.spark.sql.Observation()
    val posts = chunkPosts(afterSelf)
      .observe(postObs, collect_set(col("bucket")).as("bks"))
      .localCheckpoint(true)
    val postBuckets = postObs.get("bks").asInstanceOf[Seq[Long]].sorted
    val storedPosts = BucketStore.read(spark, dir, "chunks",
        Some(postBuckets), posts, man)
      .select(col("chunk"), col("key"), col("sh").as("_osh"))
    val histDropped = posts.join(storedPosts, Seq("chunk", "key"))
      .filter(bit_count(col("sh").bitwiseXOR(col("_osh"))) <= maxDist)
      .select(col("id").as("_drop")).distinct()
    // survivors' id-bucket set + returned count ride the checkpoint;
    // only the surviving postings' bucket set still needs a collect
    val survObs = org.apache.spark.sql.Observation()
    val survivors = afterSelf.join(histDropped,
        col("id") === col("_drop"), "left_anti")
      .observe(survObs,
        collect_set(pmod(xxhash64(col("id")), lit(StoreBuckets.toLong)))
          .as("ibks"),
        count(lit(1)).as("n"))
      .localCheckpoint(true)
    val idBuckets = survObs.get("ibks").asInstanceOf[Seq[Long]].sorted
    val nSurvivors = survObs.get("n").asInstanceOf[Long]
    val newData = survivors.withColumn("bucket",
      pmod(xxhash64(col("id")), lit(StoreBuckets.toLong)))
    val newPosts = chunkPosts(survivors)
    val survPostBuckets = newPosts.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val mergedData = BucketStore.read(spark, dir, "data",
      Some(idBuckets), newData, man).unionByName(newData)
    val mergedPosts = BucketStore.read(spark, dir, "chunks",
      Some(survPostBuckets), newPosts, man).unionByName(newPosts)
    BucketStore.commit(spark, dir, Seq(
      ("data", mergedData, "bucket", idBuckets),
      ("chunks", mergedPosts, "bucket", survPostBuckets)), batchId, man,
      buckets = StoreBuckets.toLong)
    nSurvivors
  }

  /** The accepted images of an [[imageDupSuppress]] store. */
  def imageDupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val fallback = spark.range(0).select(lit(0L).as("id"),
      lit(0L).as("sh"), lit(0L).as("bucket"))
    BucketStore.read(spark, dir, "data", None, fallback).drop("bucket")
  }

  /** [[imageDupSuppress]] as a streaming sink. */
  def startImageDupSuppress(hashed: DataFrame, dir: String,
                            checkpoint: String, idCol: String = "id",
                            hashCol: String = "dhash",
                            maxDist: Int = 3): StreamingQuery =
    hashed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        imageDupSuppress(batch.sparkSession, batch, dir, idCol, hashCol,
          maxDist, batchId)
        ()
      }
      .start()

  /** [[nearDupSuppress]] as a streaming sink. */
  def startNearDupSuppress(docs: DataFrame, dir: String, checkpoint: String,
                           textCol: String = "text", idCol: String = "doc_id",
                           n: Int = 2, k: Int = 64, bands: Int = 16,
                           minJaccard: Double = 0.5,
                           storeBuckets: Int = BucketStore.StoreBuckets): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupSuppress(batch.sparkSession, batch, dir, textCol, idCol,
          n, k, bands, minJaccard, batchId, storeBuckets)
        ()
      }
      .start()

  /** Streaming IVF vector-index maintenance — the vector twin of
    * [[startIndexMerge]] (X29): each micro-batch's embeddings are
    * assigned to their nearest-centroid cell
    * ([[graft.operators.Similarity.ivfAssign]] — centroids broadcast)
    * and folded into a CELL-BUCKETED [[BucketStore]], so an ANN query
    * reads only its nprobe cells' files and a fold rewrites only the
    * cells the batch touches. Assignment is deterministic given the
    * centroid table, so replay needs no fence: the fold is an id-keyed
    * LWW merge (replayed rows collapse onto themselves).
    */
  def startIvfMerge(vectors: DataFrame, centroids: DataFrame, dir: String,
                    checkpoint: String, idCol: String,
                    vecCol: String): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ivfMerge(batch.sparkSession, batch, centroids, dir, idCol, vecCol,
          batchId)
      }
      .start()

  /** One [[startIvfMerge]] fold, testable directly.
    *
    * Store: a [[BucketStore]] of two tables — `vecs` (id, vec, cell,
    * _ord) bucketed BY CELL (the read layout: a probe reads nprobe
    * cells' files), and a `pk` sidecar (id, cell, _ord) hash-bucketed
    * by id — the primary-key index that makes LWW re-assignment
    * O(touched buckets): when a re-ingested id's new embedding moves
    * it to a different cell, the sidecar lookup (pruned to the batch
    * ids' hash buckets) names the prior cell, so the stale row is
    * dropped by rewriting THAT cell too — never by scanning the store.
    * Touched cells = batch assignment cells ∪ prior cells of
    * re-ingested ids; everything else carries over by manifest
    * pointer, byte-identical (StreamingSpec pins this).
    */
  def ivfMerge(spark: SparkSession, batch: DataFrame, centroids: DataFrame,
               dir: String, idCol: String, vecCol: String,
               batchId: Long = 0L,
               storeBuckets: Int = BucketStore.StoreBuckets): Unit = {
    // one manifest snapshot per fold — see nearDupSuppress
    val man = Some(BucketStore.loadManifest(spark, dir))
    val assigned0 = graft.operators.Similarity
      .ivfAssign(batch, centroids, idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        col("cid").as("cell"))
      .withColumn("_ord", lit(batchId))
    // in-batch LWW first (same id twice in one batch keeps one row;
    // same convention as the previous whole-store window merge)
    val w = Window.partitionBy(col("id")).orderBy(desc("_ord"))
    // the pk-bucket set AND the batch's assignment-cell set both ride
    // the checkpoint job as observed metrics (each ≤ StoreBuckets resp.
    // |centroids| longs — driver-small by construction); the only
    // remaining collect is the re-ingested ids' prior cells, a probe of
    // the pk sidecar pruned to those very buckets
    val aObs = org.apache.spark.sql.Observation()
    val assigned = assigned0.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .observe(aObs,
        collect_set(pmod(xxhash64(col("id")), lit(storeBuckets.toLong)))
          .as("ibks"),
        collect_set(col("cell")).as("cells"))
      .localCheckpoint(true) // feeds pk probe, stale probe, both merges
    val idBuckets = aObs.get("ibks").asInstanceOf[Seq[Long]].sorted
    val batchCells = aObs.get("cells").asInstanceOf[Seq[Long]]
    val pkBucket = pmod(xxhash64(col("id")), lit(storeBuckets.toLong))
    val newPk = assigned.select(col("id"), col("cell"), col("_ord"))
      .withColumn("bucket", pkBucket)
    val storedPk = BucketStore.read(spark, dir, "pk", Some(idBuckets),
      newPk, man)
    val batchIds = assigned.select("id").distinct()
    val staleCells = storedPk.join(batchIds, "id").select("cell").distinct()
      .collect().map(_.getLong(0))
    val touchedCells = (batchCells ++ staleCells).distinct.sorted
    val newVecs = assigned.withColumn("bucket", col("cell"))
    // batch rows win unconditionally (their _ord is newest): drop every
    // stored row carrying a batch id — the same-cell older version AND
    // the stale row in a prior cell — then append the batch
    val keep = BucketStore.read(spark, dir, "vecs", Some(touchedCells),
        newVecs, man)
      .join(batchIds, Seq("id"), "left_anti")
    val mergedVecs = keep.unionByName(newVecs)
    val mergedPk = storedPk.join(batchIds, Seq("id"), "left_anti")
      .unionByName(newPk)
    // declare the pk sidecar's hash modulus so the manifest records it
    // on first commit and commit() REJECTS any later fold (e.g. a
    // default-bucketed startIvfMerge over a custom-bucketed store)
    // whose modulus disagrees — mixed moduli would silently miss the
    // stale-cell pk lookup and leave duplicate rows in the store
    BucketStore.commit(spark, dir, Seq(
      ("vecs", mergedVecs, "bucket", touchedCells),
      ("pk", mergedPk, "bucket", idBuckets)), batchId, man,
      buckets = storeBuckets.toLong)
  }

  /** The stored vectors of an [[ivfMerge]] store (bucket stripped). */
  def ivfStored(spark: SparkSession, dir: String,
                cells: Option[Seq[Long]] = None): DataFrame = {
    val fallback = spark.range(0).select(lit(0L).as("id"),
      typedLit(Seq.empty[Float]).as("vec"), lit(0L).as("cell"),
      lit(0L).as("_ord"), lit(0L).as("bucket"))
    BucketStore.read(spark, dir, "vecs", cells, fallback).drop("bucket")
  }

  /** ANN top-k against an [[startIvfMerge]] store: rank cells per
    * query over the broadcast centroids, read ONLY the probed cells'
    * files (manifest-driven pruning — the stored layout is the
    * pruning), exact cosine re-rank inside them. */
  def ivfQueryStored(spark: SparkSession, dir: String, centroids: DataFrame,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int, nprobe: Int): DataFrame = {
    import graft.functions.GraftFunctions.cosine
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(desc("qcsim"), asc("cid"))
    val probes = q.join(broadcast(centroids.select(col("cid"), col("cvec"))))
      .withColumn("qcsim", round(cosine(col("qvec"), col("cvec")), 6))
      .withColumn("_rn", row_number().over(wProbe))
      .filter(col("_rn") <= nprobe)
      .select(col("qid"), col("qvec"), col("cid").as("cell"))
    val cells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)) // nprobe · |queries| cells, driver-small
    val scored = broadcast(probes)
      .join(ivfStored(spark, dir, Some(cells.toSeq)), Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", round(cosine(col("qvec"), col("vec")), 4))
    graft.operators.TopK.grouped(scored, Seq("qid"),
        struct((-col("sim")).as("ns"), col("id").as("i")), k)
      .select(col("qid"), col("best.i").as("id"), (-col("best.ns")).as("sim"))
      .orderBy(col("qid"), desc("sim"), col("id"))
  }

  /** Streaming exact dedup — the streaming face of
    * [[graft.operators.Dedup.exact]] (J1 replay idempotence applied to
    * content keys rather than checkpoint offsets): drop every record
    * whose `idCols` key was already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keeps one state entry per key
    * ONLY until the watermark passes it, so state is O(keys per
    * `lateness` window), not O(stream history) — same boundedness
    * argument as [[windowedEventCounts]]. Exactly-once output for
    * at-least-once delivery whenever redelivery lag ≤ `lateness`.
    */
  def dedupStream(records: DataFrame, idCols: Seq[String],
                  tsCol: String = "ts",
                  lateness: String = "10 minutes"): DataFrame =
    records
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** Event-time SESSION windows on a stream — gap-merged activity
    * bursts per key ([[graft.queries.RelationalQueries]] qX_session_window
    * is the batch twin). State per (key, open session) only; the
    * watermark closes sessions whose gap horizon has passed, emitting
    * them append-mode and dropping their state — same boundedness
    * argument as [[windowedEventCounts]]. */
  def sessionizedCounts(events: DataFrame, keyCol: String = "user_id",
                        tsCol: String = "ts",
                        gap: String = "30 minutes",
                        lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("events"))
      .select(col(keyCol),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("events"))

  // ------------------------------------------------------- status machine

  /** Input shape of the status stream (J4). */
  case class StatusEvent(image_id: String, s3_bucket: String, s3_key: String,
                         mts: Long, status: String)

  /** J4: the DynamoDB status machine START → PROCESS → END as
    * `mapGroupsWithState` keyed by image_id; state = latest (mts,
    * status) with last-write-wins on mts (ties: rank by the status
    * progression so a replayed START never regresses an END).
    */
  val StatusRank = Map("START" -> 1, "PROCESS" -> 2, "END" -> 3)

  def latestStatus(key: String, events: Iterator[StatusEvent],
                   state: GroupState[ImageStatus]): ImageStatus = {
    val candidates = events.map(e =>
      ImageStatus(e.image_id, e.s3_bucket, e.s3_key, e.mts, e.status)) ++
      state.getOption.iterator
    val best = candidates.maxBy(s => (s.mts, StatusRank.getOrElse(s.status, 0)))
    state.update(best)
    best
  }

  def statusTable(events: org.apache.spark.sql.Dataset[StatusEvent]): DataFrame = {
    import events.sparkSession.implicits._
    events.groupByKey(_.image_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(latestStatus)
      .toDF()
  }
}
