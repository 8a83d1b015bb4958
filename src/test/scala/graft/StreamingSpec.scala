package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{BucketStore, CardStream}
import graft.streaming.CardStream.StatusEvent

/** Streaming semantics (SURVEY §2.J): replay-idempotent keyed merges,
  * status last-write-wins state machine, three-sink fan-out from one
  * source, hour-partitioned gzip archive.
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def fixtureLines =
    Files.readAllLines(Paths.get(fixturePath("card_events.jsonl")))

  test("file-source pipeline: parse + enrich + three-sink fan-out") {
    val src = tmp("cards_src")
    val (search, v, e, arch) = (tmp("search"), tmp("v"), tmp("e"), tmp("arch"))
    val (c1, c2, c3) = (tmp("cp1"), tmp("cp2"), tmp("cp3"))
    val lines = fixtureLines
    // two micro-batch files: first 6 records, then the remaining 5 with
    // the last 2 REPLAYED (at-least-once duplicate delivery — J1)
    Files.write(Paths.get(s"$src/b1.json"),
      String.join("\n", lines.subList(0, 6)).getBytes)
    val cards = CardStream.validated(CardStream.readCardEvents(spark, src))

    val q1 = CardStream.startSearchMerge(cards, search, c1)
    val q2 = CardStream.startGraphMerge(cards, v, e, c2)
    val q3 = CardStream.startArchive(cards, arch, c3,
      trigger = Trigger.ProcessingTime(0))
    q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()

    Files.write(Paths.get(s"$src/b2.json"),
      (String.join("\n", lines.subList(6, 11)) + "\n" +
        String.join("\n", lines.subList(9, 11))).getBytes)
    q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
    q1.stop(); q2.stop(); q3.stop()

    // search table: one row per doc_id (11 distinct images), replay-safe
    val searchDf = spark.read.parquet(search)
    assert(searchDf.count() == 11)
    assert(searchDf.select("doc_id").distinct().count() == 11)
    // graph tables match the batch build exactly (order-independence)
    val vDf = spark.read.parquet(v)
    val eDf = spark.read.parquet(e)
    assert(vDf.count() == 6)
    assert(eDf.count() == 8)
    assert(eDf.filter(col("src") === col("dst")).count() == 0)
    // archive: gzip json under year=/month=/day=/hour= partitions
    val archived = spark.read.json(arch)
    assert(archived.count() == 13) // 11 + 2 replayed (append archive keeps dups)
    assert(archived.columns.contains("year") && archived.columns.contains("hour"))
  }

  test("pymk sees a card one micro-batch after ingest (streaming read-your-writes)") {
    // The reference serves PYMK straight after ingest: the ES/graph
    // upserts are read-your-writes (refresh=True). Streaming twin: a
    // card merged by startGraphMerge must be visible to engine.pymk
    // after ONE trigger + the refresh fence.
    val src = tmp("fresh_src")
    val wh = tmp("fresh_wh")
    val engine = new api.GraftEngine(spark, wh)
    val lines = fixtureLines
    val cards = CardStream.validated(CardStream.readCardEvents(spark, src))
    val q = CardStream.startGraphMerge(cards, engine.vertexPath,
      engine.edgePath, tmp("fresh_cp"))

    // batch 1: edy's + poby's first cards — Edy's 1-hop circle is
    // {crong, harry, poby} and none of them know anyone else yet
    Files.write(Paths.get(s"$src/b1.json"),
      String.join("\n", lines.subList(0, 6)).getBytes)
    q.processAllAvailable()
    engine.refresh()
    assert(engine.pymk("Edy Kim").isEmpty, "no 2-hop candidates yet")

    // batch 2: poby's and pororo's cards add poby->pororo/rody and
    // pororo->{crong, harry}. Pororo's path bag: via poby TWICE (the
    // edy->poby and poby->edy edges are distinct directed rows, and
    // both() walks each) + via crong + via harry = 4
    Files.write(Paths.get(s"$src/b2.json"),
      String.join("\n", lines.subList(6, 11)).getBytes)
    q.processAllAvailable() // exactly one more trigger
    engine.refresh()
    val recs = engine.pymk("Edy Kim").collect()
    q.stop()
    assert(recs.nonEmpty, "new edges visible one micro-batch after ingest")
    val top = recs.head
    assert(top.getSeq[String](top.fieldIndex("name")) == Seq("Pororo Kim"))
    assert(top.getAs[Double]("score") == 4.0)
    assert(recs.map(r => r.getSeq[String](r.fieldIndex("name")).head)
      .contains("Rody Park"))
  }

  test("A3 framed-emit sink: shard-keyed JSON payloads round-trip") {
    val src = tmp("framed_src"); val out = tmp("framed_out"); val cp = tmp("framed_cp")
    Files.write(Paths.get(s"$src/b1.json"),
      String.join("\n", fixtureLines).getBytes)
    val cards = CardStream.validated(CardStream.readCardEvents(spark, src))
    val q = CardStream.startFramedEmit(cards, 8,
      xxhash64(col("s3_key")), out, cp)
    q.processAllAvailable(); q.stop()
    val emitted = spark.read.json(out)
    assert(emitted.count() == 11)
    // keys carry the part-%05d shape and stay inside the shard range
    val keys = emitted.select("partition_key").distinct()
      .collect().map(_.getString(0))
    assert(keys.nonEmpty && keys.forall(_.matches("part-0000[0-7]")))
    // payloads are lossless frames: parse back to the full record set
    val parsed = spark.read.json(emitted.select("payload").as[String])
    assert(parsed.select("doc_id").distinct().count() == 11)
    assert(parsed.columns.toSet.contains("s3_key"))
  }

  test("streaming index merge: per-batch folds equal one full rebuild") {
    val src = tmp("idx_src"); val idx = tmp("idx_out"); val cp = tmp("idx_cp")
    val lines = fixtureLines
    Files.write(Paths.get(s"$src/b1.json"),
      String.join("\n", lines.subList(0, 6)).getBytes)
    val cards = CardStream.validated(CardStream.readCardEvents(spark, src))
    val q = CardStream.startIndexMerge(cards, idx, cp, "doc_id",
      Seq("name", "company"))
    q.processAllAvailable()
    Files.write(Paths.get(s"$src/b2.json"),
      String.join("\n", lines.subList(6, 11)).getBytes)
    q.processAllAvailable(); q.stop()
    // stored incrementally-merged index == one-shot rebuild over all 11
    val all = CardStream.validated(
      spark.read.schema(graft.model.Schemas.cardEvent)
        .json(fixturePath("card_events.jsonl"))
        .select(col("s3_bucket"), col("s3_key"), col("owner"), col("data.*")))
    val (fp, fs2, fn) = graft.operators.SearchIndex.build(all, "doc_id",
      Seq("name", "company"))
    def probe(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc"), round(col("_score"), 4).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val stored = probe(graft.operators.SearchIndex.queryStored(spark, idx,
      Seq("name" -> 3.0, "company" -> 1.0), "kim amazon", 100))
    val rebuilt = probe(graft.operators.SearchIndex.query(fp, fs2, fn,
      Seq("name" -> 3.0, "company" -> 1.0), "kim amazon", 100))
    assert(stored == rebuilt && stored.nonEmpty)
  }

  test("status machine: last-write-wins by mts, replay never regresses END") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StatusEvent]
    val out = CardStream.statusTable(mem.toDS())
      .writeStream.format("memory").queryName("status_out")
      .outputMode("update").start()

    mem.addData(
      StatusEvent("img1", "b", "k1", 20191025011254L, "START"),
      StatusEvent("img2", "b", "k2", 20191025011254L, "START"))
    out.processAllAvailable()
    mem.addData(
      StatusEvent("img1", "b", "k1", 20191025011255L, "PROCESS"),
      StatusEvent("img1", "b", "k1", 20191025011256L, "END"),
      // replayed stale START for img1 (same batch, older mts) — must lose
      StatusEvent("img1", "b", "k1", 20191025011254L, "START"))
    out.processAllAvailable()
    out.stop()

    val last = spark.table("status_out")
      .groupBy("image_id").agg(max(struct(col("mts"), col("status"))).as("s"))
      .select(col("image_id"), col("s.status").as("status"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(last("img1") == "END")
    assert(last("img2") == "START")
  }

  test("windowed event counts: watermark finalizes windows, drops late rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val out = CardStream.windowedEventCounts(
        mem.toDS().toDF("ts", "event_type"),
        lateness = "10 minutes", windowLen = "1 hour")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()

    mem.addData((ts(5), "click"), (ts(20), "click"), (ts(30), "view"))
    out.processAllAvailable()
    // advance event time past window 1 + lateness → finalize [0h,1h)
    mem.addData((ts(135), "click"))
    out.processAllAvailable()
    // a LATE row for window 1 (watermark is now ~2h05) — must be dropped
    mem.addData((ts(25), "click"))
    out.processAllAvailable()
    mem.addData((ts(260), "click")) // flush window of ts(135)
    out.processAllAvailable()
    out.stop()

    val rows = spark.table("win_out")
      .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
        r.getLong(2))).toSet
    // window [0,60): 2 clicks + 1 view — the late click NOT counted
    assert(rows.contains((0L, "click", 2L)), rows)
    assert(rows.contains((0L, "view", 1L)), rows)
    assert(rows.contains((120L, "click", 1L)), rows)
  }

  test("stream-stream interval join: window bound, late drop, outer null after horizon") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val clicks = MemoryStream[(Long, String, java.sql.Timestamp)]
    val views = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = CardStream.streamIntervalJoin(
        clicks.toDS().toDF("event_id", "user_id", "ts"),
        views.toDS().toDF("event_id", "user_id", "ts"),
        "user_id", "ts", "ts",
        lateness = "10 minutes", joinWindow = "1 hour",
        joinType = "left_outer")
      .select(col("event_id"), col("user_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    // views at 10 and 30; click at 60 joins both (trailing 1 h);
    // view at 120 is AFTER the click -> no match
    views.addData((100L, "u1", ts(10)), (101L, "u1", ts(30)),
      (102L, "u1", ts(120)))
    clicks.addData((1L, "u1", ts(60)), (2L, "u2", ts(60)))
    out.processAllAvailable()
    // advance both watermarks far past every horizon so the unmatched
    // u2 click emits its outer NULL row
    views.addData((199L, "zz", ts(600)))
    clicks.addData((99L, "zz", ts(600)))
    out.processAllAvailable()
    out.stop()
    val rows = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows.contains((1L, 100L)) && rows.contains((1L, 101L)), rows)
    assert(!rows.contains((1L, 102L)), "future view must not join")
    assert(rows.contains((2L, -1L)), s"outer null for u2 missing: $rows")
    // batch-equivalence: the same transform on batch frames yields the
    // same inner pairs
    import spark.implicits._
    val bc = Seq((1L, "u1", ts(60))).toDF("event_id", "user_id", "ts")
    val bv = Seq((100L, "u1", ts(10)), (101L, "u1", ts(30)),
      (102L, "u1", ts(120))).toDF("event_id", "user_id", "ts")
    val batch = CardStream.streamIntervalJoin(bc, bv, "user_id",
        "ts", "ts").select(col("event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((1L, 100L), (1L, 101L)))
  }

  test("streaming session windows: gap-merge, extension, and watermark finalization") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val out = CardStream.sessionizedCounts(
        mem.toDS().toDF("ts", "user_id"),
        gap = "30 minutes", lateness = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // u1: events at 0 and 20 min — one session (gap < 30), extended to 50
    mem.addData((ts(0), "u1"), (ts(20), "u1"), (ts(0), "u2"))
    out.processAllAvailable()
    // u1 at 100: beyond the 30-min gap — NEW session; also advances the
    // watermark past the first sessions' horizon, finalizing them
    mem.addData((ts(100), "u1"))
    out.processAllAvailable()
    mem.addData((ts(300), "u9")) // flush u1@100's session
    out.processAllAvailable()
    out.stop()
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 60000,
        r.getTimestamp(2).getTime / 60000, r.getLong(3))).toSet
    // u1 session [0, 20+30), 2 events; u2 [0, 30), 1; u1 [100, 130), 1
    assert(rows.contains(("u1", 0L, 50L, 2L)), rows)
    assert(rows.contains(("u2", 0L, 30L, 1L)), rows)
    assert(rows.contains(("u1", 100L, 130L, 1L)), rows)
  }

  test("streaming near-dup suppression: first arrival wins across batches, replay fenced") {
    val (src, dir, cp) = (tmp("nd_src"), tmp("nd_store") + "/nd", tmp("nd_cp"))
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val other = "spark shuffles hash the join keys into partitions before the merge step runs"
    def j(id: Long, text: String) = s"""{"doc_id": $id, "text": "$text"}"""
    val schema = "doc_id LONG, text STRING"
    Files.write(Paths.get(s"$src/b1.json"),
      String.join("\n", j(1, base), j(2, other)).getBytes)
    val docs = spark.readStream.schema(schema).json(src)
    val q = CardStream.startNearDupSuppress(docs, dir, cp)
    q.processAllAvailable()
    // batch 2: 11 = near-dup of doc 1 (last word dropped -> high
    // jaccard), 12 = fresh, 13 = in-batch near-dup of 12
    Files.write(Paths.get(s"$src/b2.json"), String.join("\n",
      j(11, base.substring(0, base.lastIndexOf(' '))),
      j(12, "entirely new content describing watermarks sessions and state stores in streams"),
      j(13, "entirely new content describing watermarks sessions and state stores in here")).getBytes)
    q.processAllAvailable(); q.stop()
    val survivors = CardStream.nearDupSurvivors(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 12L),
      "cross-batch dup 11 and in-batch dup 13 suppressed, first arrivals kept")
    // equivalence with the batch drop-if-any-smaller convention
    val all = Seq((1L, base), (2L, other),
      (11L, base.substring(0, base.lastIndexOf(' '))),
      (12L, "entirely new content describing watermarks sessions and state stores in streams"),
      (13L, "entirely new content describing watermarks sessions and state stores in here"))
      .toDF("doc_id", "text")
    val batchDropped = graft.operators.Dedup
      .minhashLshPairs(all, "text", "doc_id", n = 2, k = 64, bands = 16, 0.5)
      .select("id2").collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 11L, 12L, 13L) -- batchDropped == survivors,
      "streamed survivors equal the batch semDeDup convention in id order")
    // replay fence: re-folding the last batchId is a no-op
    val before = CardStream.nearDupSurvivors(spark, dir).count()
    val lastBatch = BucketStore.lastBatch(spark, dir)
    val replayed = CardStream.nearDupSuppress(spark,
      all.filter(col("doc_id") >= 11), dir, "text", "doc_id",
      batchId = lastBatch)
    assert(replayed == 0L &&
      CardStream.nearDupSurvivors(spark, dir).count() == before,
      "fenced replay must not re-test or re-append")
  }

  /** Every parquet leaf file under a BucketStore bucket dir, keyed by
    * its manifest-relative identity, with a content fingerprint. */
  private def bucketFiles(dir: String): Map[String, (Long, String)] = {
    val root = Paths.get(s"$dir/files")
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p))
      .map { p =>
        val bytes = java.nio.file.Files.readAllBytes(p)
        root.relativize(p).toString ->
          ((bytes.length.toLong,
            md.digest(bytes).map("%02x".format(_)).mkString))
      }.toMap
  }

  test("near-dup store fold touches ONLY the batch's buckets; others byte-identical") {
    val dir = tmp("nd_bucket") + "/nd"
    // batch 1 populates many id/posting buckets
    val b1 = (1L to 40L).map(i =>
        (i, s"unique document number $i speaking about topic ${i % 7} and subject ${i % 11} today"))
      .toDF("doc_id", "text")
    CardStream.nearDupSuppress(spark, b1, dir, "text", "doc_id", batchId = 0L)
    val before = bucketFiles(dir)
    assert(before.nonEmpty)
    // batch 2: one fresh doc — touches its own id bucket + its posting
    // buckets, nothing else
    val b2 = Seq((100L,
        "an entirely different sentence mentioning streams manifests and buckets only"))
      .toDF("doc_id", "text")
    CardStream.nearDupSuppress(spark, b2, dir, "text", "doc_id", batchId = 1L)
    val after = bucketFiles(dir)
    // every surviving pre-fold file is bit-identical (untouched buckets
    // keep their generation dirs; touched buckets get NEW paths, so any
    // shared path must be carried over unchanged)
    val shared = before.keySet.intersect(after.keySet)
    assert(shared.nonEmpty, "some buckets must be untouched by a 1-doc fold")
    shared.foreach { p => assert(before(p) == after(p), s"$p rewritten") }
    // and the fold really was incremental: far fewer new paths than the
    // store has buckets
    val newPaths = after.keySet -- before.keySet
    assert(newPaths.nonEmpty && newPaths.size < before.size,
      s"expected a small delta, got ${newPaths.size} new of ${after.size}")
    // semantics unchanged: both docsets survive
    assert(CardStream.nearDupSurvivors(spark, dir).count() == 41)
  }

  test("near-dup bucket words: the distinct bucket set in <= storeBuckets entries, not rows x bands") {
    val rnd = new scala.util.Random(11)
    for (storeBuckets <- Seq(64, 100)) {
      // 2,000 docs x 16 bands, every bucket in [0, storeBuckets)
      val rows = Seq.fill(2000)(Seq.fill(16)(rnd.nextInt(storeBuckets).toLong))
      val bks = rows.toDF("b").select(
        transform(col("b"), x => struct(x.as("bucket"))).as("bks"))
      val words = bks.agg(CardStream.bucketWords(col("bks.bucket"), storeBuckets))
        .head().get(0)
      val got = CardStream.bucketsIn(words)
      assert(got == rows.flatten.distinct.sorted, s"storeBuckets $storeBuckets")
      assert(got.size <= storeBuckets)
      // an Observation of it ships the same words
      val obs = org.apache.spark.sql.Observation()
      bks.observe(obs, CardStream.bucketWords(col("bks.bucket"), storeBuckets)
        .as("w")).count()
      assert(CardStream.bucketsIn(obs.get("w")) == got)
    }
    // no rows: every word is null, the set is empty
    val none = Seq.empty[Seq[Long]].toDF("bks")
      .agg(CardStream.bucketWords(col("bks"), 64)).head().get(0)
    assert(CardStream.bucketsIn(none).isEmpty)
  }

  test("streaming image dedup: re-encoded/rescaled dups dropped, replay fenced, buckets incremental") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{MediaMeta, MediaRecord}
    import graft.functions.expr.PortableHash
    val dir = tmp("img_dedup") + "/img"
    def rec(id: Long, src: Long, scale: Int) = MediaRecord(id, "image",
      Multimodal.renderBitPatternPng(PortableHash.md5_32(src.toString), scale),
      MediaMeta("png", 9 * scale, 8 * scale, 1, 0L))
    // batch 1: 30 distinct pattern images, all accepted
    val b1 = Multimodal.imageDHash((1L to 30L).map(i => rec(i, i, 1)).toDS())
    assert(CardStream.imageDupSuppress(spark, b1, dir, batchId = 0L) == 30L)
    val before = bucketFiles(dir)
    assert(before.nonEmpty)
    // batch 2: a 2×-rescaled duplicate of image 7 (identical dHash by
    // the area-resample contract) must be dropped; a fresh image and
    // an in-batch duplicate pair keep only the smaller id
    val b2 = Multimodal.imageDHash(Seq(
      rec(100L, 7L, 2),   // history dup — dropped
      rec(101L, 201L, 1), // fresh — accepted
      rec(102L, 202L, 1), // fresh — accepted
      rec(103L, 202L, 2)  // in-batch dup of 102 — dropped
    ).toDS())
    assert(CardStream.imageDupSuppress(spark, b2, dir, batchId = 1L) == 2L)
    // at-least-once redelivery: the fence no-ops the replayed batch
    assert(CardStream.imageDupSuppress(spark, b2, dir, batchId = 1L) == 0L)
    // untouched buckets carried over byte-identical; small delta
    val after = bucketFiles(dir)
    val shared = before.keySet.intersect(after.keySet)
    assert(shared.nonEmpty, "untouched buckets must keep their files")
    shared.foreach { p => assert(before(p) == after(p), s"$p rewritten") }
    val survivors = CardStream.imageDupSurvivors(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == (1L to 30L).toSet ++ Set(101L, 102L))
  }

  test("streaming IVF merge: cell-partitioned store equals batch assignment; replay is LWW no-op") {
    import graft.operators.Similarity
    val dir = tmp("ivf_store") + "/ivf"
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 60).select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // two micro-batch folds + a replay of the second
    val b1 = emb.filter(col("vec_id") < 30)
    val b2 = emb.filter(col("vec_id") >= 30)
    CardStream.ivfMerge(spark, b1, cents, dir, "vec_id", "embedding", 0L)
    val afterB1 = bucketFiles(dir)
    CardStream.ivfMerge(spark, b2, cents, dir, "vec_id", "embedding", 1L)
    CardStream.ivfMerge(spark, b2, cents, dir, "vec_id", "embedding", 2L)
    // the manifest pinned the pk modulus on the first fold: a fold
    // declaring a different storeBuckets must be refused, not split
    // the pk keys across two hashings
    val e2 = intercept[IllegalArgumentException] {
      CardStream.ivfMerge(spark, b2, cents, dir, "vec_id", "embedding",
        3L, storeBuckets = 8)
    }
    assert(e2.getMessage.contains("bucketed with"))
    val stored = CardStream.ivfStored(spark, dir)
    assert(stored.count() == 60, "replay collapses by id (LWW), no duplicates")
    // store bucketed by cell: vecs leaf dirs are cell ids
    val afterAll = bucketFiles(dir)
    assert(afterAll.keySet.exists(_.startsWith("vecs/")))
    // b2 touches only ITS cells + the pk buckets of its ids — every b1
    // file whose path survives the folds is bit-identical
    val carried = afterB1.keySet.intersect(afterAll.keySet)
    carried.foreach { p => assert(afterB1(p) == afterAll(p), s"$p rewritten") }
    val batchAssign = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
      .select(col("vec_id").as("id"), col("cid").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val storedAssign = stored.select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedAssign == batchAssign)
    // queries through the store match ivfTopK over the same inputs
    val q = emb.filter(col("vec_id") < 3)
    val viaStore = CardStream.ivfQueryStored(spark, dir, cents, q,
        "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = Similarity.ivfTopK(q, emb, cents, "vec_id", "embedding",
        "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaStore == direct)
  }

  test("IVF re-ingestion: an id that moves cells leaves no stale row behind") {
    val dir = tmp("ivf_move") + "/ivf"
    // two well-separated centroids on the first axis
    def v(x: Float, y: Float) = Seq(x, y)
    val cents = Seq((0L, v(1f, 0f)), (1L, v(-1f, 0f))).toDF("cid", "cvec")
    val b1 = Seq((10L, v(0.9f, 0.1f)), (20L, v(-0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    CardStream.ivfMerge(spark, b1, cents, dir, "vec_id", "embedding", 0L)
    val before = CardStream.ivfStored(spark, dir).select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == Map(10L -> 0L, 20L -> 1L))
    // id 10 re-ingested with an embedding near the OTHER centroid: the
    // pk sidecar names cell 0 as its prior home, so the fold rewrites
    // cell 0 (dropping the stale row) although the batch assigns cell 1
    val b2 = Seq((10L, v(-0.95f, 0.05f))).toDF("vec_id", "embedding")
    CardStream.ivfMerge(spark, b2, cents, dir, "vec_id", "embedding", 1L)
    val rows = CardStream.ivfStored(spark, dir).select("id", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.count(_._1 == 10L) == 1, s"stale row left: ${rows.toSeq}")
    assert(rows.find(_._1 == 10L).get._2 == 1L, "moved to the new cell")
    assert(rows.count(_._1 == 20L) == 1 && rows.find(_._1 == 20L).get._2 == 1L)
  }

  test("streaming dedup: redelivered keys within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, String)]
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val out = CardStream.dedupStream(
        mem.toDS().toDF("ts", "doc_id", "payload"),
        idCols = Seq("doc_id"), lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()

    // batch 1: d1 twice in-batch, d2 once
    mem.addData((ts(1), "d1", "a"), (ts(2), "d1", "b"), (ts(3), "d2", "c"))
    out.processAllAvailable()
    // batch 2: at-least-once redelivery of d1/d2 within lateness + a new d3
    mem.addData((ts(4), "d1", "a"), (ts(5), "d2", "c"), (ts(6), "d3", "d"))
    out.processAllAvailable()
    // batch 3: advance the watermark far past d1's state, then re-emit d1:
    // its dedup state has been expired, so the key passes again (the
    // documented horizon contract: exactly-once only within lateness)
    mem.addData((ts(120), "d9", "x"))
    out.processAllAvailable()
    mem.addData((ts(125), "d1", "again"))
    out.processAllAvailable()
    out.stop()

    val got = spark.table("dedup_out").collect()
      .map(r => (r.getString(1), r.getString(2))).toList.sorted
    assert(got == List(("d1", "a"), ("d1", "again"), ("d2", "c"),
      ("d3", "d"), ("d9", "x")), got)
  }

  test("crashed swap: reader falls back to __old without mutating; writer recovers") {
    val path = tmp("swap") + "/table"
    val b1 = Seq(("k1", 1L, "v1")).toDF("id", "ts", "value")
    CardStream.mergeLww(spark, b1, path, Seq("id"), "ts")
    // simulate a crash between rename(live->__old) and rename(__stage->live)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    // reader: sees the __old copy, does NOT restore it
    val seen = CardStream.tableOrEmpty(spark, path, b1)
    assert(seen.count() == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)),
      "reader must not mutate the swap state")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
    // writer: next merge recovers __old then applies the batch
    val b2 = Seq(("k1", 2L, "v2")).toDF("id", "ts", "value")
    CardStream.mergeLww(spark, b2, path, Seq("id"), "ts")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
    val got = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got == Map("k1" -> "v2"))
  }

  test("mergeAdditive: batched rollup equals full aggregate; replay fenced") {
    val dir = tmp("rollup") + "/counts"
    val all = (1 to 300).map(i => (s"k${i % 7}", i.toLong, 1L))
      .toDF("key", "v", "n")
    val b1 = all.filter(col("v") <= 100)
    val b2 = all.filter(col("v") > 100 && col("v") <= 200)
    val b3 = all.filter(col("v") > 200)
    CardStream.mergeAdditive(spark, b1, dir, Seq("key"), Seq("v", "n"), 0L)
    CardStream.mergeAdditive(spark, b2, dir, Seq("key"), Seq("v", "n"), 1L)
    // at-least-once redelivery of batch 1 — the fence must no-op it
    CardStream.mergeAdditive(spark, b2, dir, Seq("key"), Seq("v", "n"), 1L)
    CardStream.mergeAdditive(spark, b3, dir, Seq("key"), Seq("v", "n"), 2L)
    val got = CardStream.readRollup(spark, dir).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("v"), r.getAs[Long]("n")))).toMap
    val want = all.groupBy("key")
      .agg(sum("v").as("v"), sum("n").as("n")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("gatedMergeAdditive: clean batches fold like mergeAdditive; bad batch quarantined") {
    import graft.operators.Profile._
    val dir = tmp("gated_rollup") + "/counts"
    val checks = Seq(
      Completeness("key", 1.0),
      Compliance("v_positive", "v", col("v") > 0, 1.0))
    val all = (1 to 200).map(i => (s"k${i % 5}", i.toLong, 1L))
      .toDF("key", "v", "n")
    val b1 = all.filter(col("v") <= 100)
    val b2 = all.filter(col("v") > 100)
    // batch-equivalence: two admitted batches == one full aggregate
    assert(CardStream.gatedMergeAdditive(spark, b1, dir,
      Seq("key"), Seq("v", "n"), checks, 0L)._1)
    assert(CardStream.gatedMergeAdditive(spark, b2, dir,
      Seq("key"), Seq("v", "n"), checks, 1L)._1)
    def rollup() = CardStream.readRollup(spark, dir).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("v"), r.getAs[Long]("n")))).toMap
    val want = all.groupBy("key")
      .agg(sum("v").as("v"), sum("n").as("n")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rollup() == want)
    // a violating batch (negative v) is rejected: rollup UNTOUCHED,
    // rows land in quarantine verbatim, metrics carry the failing row
    val bad = Seq(("k0", -5L, 1L), ("k1", 10L, 1L)).toDF("key", "v", "n")
    val (adm, nQ) = CardStream.gatedMergeAdditive(spark, bad, dir,
      Seq("key"), Seq("v", "n"), checks, 2L)
    assert(!adm && nQ == 2L)
    assert(rollup() == want)
    val quar = CardStream.readQuarantine(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(quar == Set(("k0", -5L), ("k1", 10L)))
    // redelivery of the bad batch overwrites its partition, no dup rows
    CardStream.gatedMergeAdditive(spark, bad, dir,
      Seq("key"), Seq("v", "n"), checks, 2L)
    assert(CardStream.readQuarantine(spark, dir).count() == 2L)
    // per-batch additive metrics: one report row set per batch id
    val m = CardStream.readGateMetrics(spark, dir).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("constraint"),
        r.getAs[Boolean]("passed"), r.getAs[Boolean]("admitted")))
    assert(m.count(_._1 == 0L) == 2 && m.count(_._1 == 1L) == 2)
    assert(m.filter(_._1 < 2L).forall(t => t._3 && t._4))
    val badRows = m.filter(_._1 == 2L)
    assert(badRows.forall(!_._4))
    assert(badRows.exists(t => t._2 == "v_positive" && !t._3))
    assert(badRows.exists(t => t._2 == "completeness(key)" && t._3))
    // an empty micro-batch is an admitted no-op, not a quarantined one
    val (admE, nE) = CardStream.gatedMergeAdditive(spark,
      all.filter(lit(false)), dir, Seq("key"), Seq("v", "n"), checks, 3L)
    assert(admE && nE == 0L)
    assert(rollup() == want)
    assert(!CardStream.readGateMetrics(spark, dir).collect()
      .exists(_.getAs[Long]("batch_id") == 3L))
  }

  test("driftMonitoredMerge: in-distribution folds, shifted batch quarantined, replay fenced") {
    val dir = tmp("drift_rollup") + "/counts"
    // baseline: values uniform over bins 0..9 of [0, 100)
    val baseline = (0 until 200).map(i => (s"k${i % 5}", i % 100 * 1.0, 1L))
      .toDF("key", "v", "n")
    // batch 0: same uniform shape → tiny PSI → admitted
    val b0 = (0 until 100).map(i => (s"k${i % 5}", i % 100 * 1.0, 1L))
      .toDF("key", "v", "n")
    val (a0, n0) = CardStream.driftMonitoredMerge(spark, b0, dir,
      Seq("key"), Seq("n"), baseline, "v", 0.0, 100.0, 10, 100000L, 0L)
    assert(a0 && n0 > 0L)
    def rollup() = CardStream.readRollup(spark, dir).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    val want = Map("k0" -> 20L, "k1" -> 20L, "k2" -> 20L, "k3" -> 20L,
      "k4" -> 20L)
    assert(rollup() == want)
    // batch 1: all mass in one bin → PSI blows the threshold →
    // quarantined verbatim, rollup untouched
    val b1 = (0 until 100).map(i => (s"k${i % 5}", 99.0, 1L))
      .toDF("key", "v", "n")
    val (a1, n1) = CardStream.driftMonitoredMerge(spark, b1, dir,
      Seq("key"), Seq("n"), baseline, "v", 0.0, 100.0, 10, 100000L, 1L)
    assert(!a1 && n1 == 100L)
    assert(rollup() == want)
    assert(CardStream.readQuarantine(spark, dir).count() == 100L)
    // replayed rejected batch overwrites its partition — no dup rows
    CardStream.driftMonitoredMerge(spark, b1, dir,
      Seq("key"), Seq("n"), baseline, "v", 0.0, 100.0, 10, 100000L, 1L)
    assert(CardStream.readQuarantine(spark, dir).count() == 100L)
    // drift metrics: 11 rows (10 bins + total) per batch, verdicts set
    val m = CardStream.readDriftMetrics(spark, dir).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("bin"),
        r.getAs[Boolean]("admitted")))
    assert(m.count(_._1 == 0L) == 11 && m.count(_._1 == 1L) == 11)
    assert(m.filter(_._1 == 0L).forall(_._3) &&
      m.filter(_._1 == 1L).forall(!_._3))
    // empty batch: admitted no-op, no metric rows
    val (aE, nE) = CardStream.driftMonitoredMerge(spark,
      b0.filter(lit(false)), dir, Seq("key"), Seq("n"), baseline,
      "v", 0.0, 100.0, 10, 100000L, 2L)
    assert(aE && nE == 0L && rollup() == want)
    assert(!CardStream.readDriftMetrics(spark, dir).collect()
      .exists(_.getAs[Long]("batch_id") == 2L))
  }

  test("trendingTopK: leaderboard over merged batches equals the batch aggregate") {
    val dir = tmp("trending") + "/counts"
    // two micro-batches of (day, item, n) interaction counts
    val b1 = Seq(("d1", "a", 3L), ("d1", "b", 1L), ("d2", "a", 1L))
      .toDF("day", "item", "n")
    val b2 = Seq(("d1", "b", 4L), ("d1", "c", 2L), ("d2", "z", 9L))
      .toDF("day", "item", "n")
    CardStream.mergeAdditive(spark, b1, dir, Seq("day", "item"), Seq("n"), 0L)
    CardStream.mergeAdditive(spark, b2, dir, Seq("day", "item"), Seq("n"), 1L)
    val got = CardStream.trendingTopK(spark, dir, Seq("day"), "item", "n",
        k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // d1: b=5, a=3 (c=2 cut); d2: z=9, a=1
    assert(got.toSeq == Seq(("d1", "b", 5L), ("d1", "a", 3L),
      ("d2", "z", 9L), ("d2", "a", 1L)))
    // replayed batch is fenced — leaderboard unchanged
    CardStream.mergeAdditive(spark, b2, dir, Seq("day", "item"), Seq("n"), 1L)
    assert(CardStream.trendingTopK(spark, dir, Seq("day"), "item", "n", 2)
      .count() == 4L)
  }

  test("mergeAdditive migrates a legacy data/meta rollup; fence and sums survive") {
    val dir = tmp("rollup_legacy") + "/counts"
    // hand-write the pre-BucketStore staged-swap layout
    Seq(("a", 10L, 2L), ("b", 5L, 1L)).toDF("key", "v", "n")
      .write.parquet(s"$dir/data")
    spark.range(1).select(lit(7L).as("last_batch")).write.parquet(s"$dir/meta")
    // a replay of the legacy batch id must be fenced AFTER migration —
    // the legacy last_batch rides into the manifest
    assert(CardStream.mergeAdditive(spark,
      Seq(("a", 99L, 1L)).toDF("key", "v", "n"),
      dir, Seq("key"), Seq("v", "n"), 7L) == 0L)
    // a new batch folds onto the migrated sums, not a silent reset
    CardStream.mergeAdditive(spark,
      Seq(("a", 1L, 1L), ("c", 3L, 1L)).toDF("key", "v", "n"),
      dir, Seq("key"), Seq("v", "n"), 8L)
    val got = CardStream.readRollup(spark, dir).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("v"), r.getAs[Long]("n")))).toMap
    assert(got == Map("a" -> (11L, 3L), "b" -> (5L, 1L), "c" -> (3L, 1L)))
  }

  test("nearDupSuppress migrates a legacy 3-table (data/sh/posts) store") {
    import graft.operators.Dedup
    import graft.functions.expr.TextExprs
    val dir = tmp("nd_legacy") + "/nd"
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val other = "spark shuffles hash the join keys into partitions before the merge step runs"
    // hand-write the pre-fused layout exactly as the 3-table release
    // did: data without shingles, a separate sh table, mod-64 buckets
    val docs0 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val data0 = docs0.withColumn("bucket",
      pmod(xxhash64(col("doc_id")), lit(64L)))
    val sh0 = docs0.select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 2).as("sh"))
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(64L)))
    val posts0 = sh0
      .select(col("id"), TextExprs.minhash_sig(col("sh"), 64).as("sig"))
      .select(col("id"), explode(Dedup.lshBands(col("sig"), 64, 16)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("bucket", pmod(xxhash64(col("band"), col("key")), lit(64L)))
    def bs(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket").distinct().collect().map(_.getLong(0)).toSeq
    BucketStore.commit(spark, dir, Seq(
      ("data", data0, "bucket", bs(data0)),
      ("sh", sh0, "bucket", bs(sh0)),
      ("posts", posts0, "bucket", bs(posts0))), 0L)
    // post-upgrade fold: 11 is a near-dup of MIGRATED doc 1 (last
    // word dropped), 12 is fresh — history verification must work
    // against the fused store
    val b2 = Seq((11L, base.substring(0, base.lastIndexOf(' '))),
      (12L, "entirely new content describing watermarks sessions and state stores in streams"))
      .toDF("doc_id", "text")
    CardStream.nearDupSuppress(spark, b2, dir, "text", "doc_id", batchId = 1L)
    val survivors = CardStream.nearDupSurvivors(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 12L),
      "migrated history suppresses 11; old docs and fresh 12 survive")
    val man = BucketStore.loadManifest(spark, dir)
    assert(!man.rows.exists(_._1 == "sh"), "sh table pointers dropped")
    assert(man.lastBatch == 1L && man.buckets == 64L)
    // fence still works after migration
    assert(CardStream.nearDupSuppress(spark, b2, dir, "text", "doc_id",
      batchId = 1L) == 0L)
  }

  test("nearDupSuppress migration works when the caller's idCol is 'id'") {
    // the sh table's join column is also named "id": the migration
    // must disambiguate, and must not drop the data id with drop("id")
    import graft.operators.Dedup
    import graft.functions.expr.TextExprs
    val dir = tmp("nd_legacy_id") + "/nd"
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val docs0 = Seq((1L, base)).toDF("id", "text")
    val data0 = docs0.withColumn("bucket",
      pmod(xxhash64(col("id")), lit(64L)))
    val sh0 = docs0.select(col("id"), Dedup.shingles(col("text"), 2).as("sh"))
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(64L)))
    val posts0 = sh0
      .select(col("id"), TextExprs.minhash_sig(col("sh"), 64).as("sig"))
      .select(col("id"), explode(Dedup.lshBands(col("sig"), 64, 16)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("bucket", pmod(xxhash64(col("band"), col("key")), lit(64L)))
    def bs(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket").distinct().collect().map(_.getLong(0)).toSeq
    BucketStore.commit(spark, dir, Seq(
      ("data", data0, "bucket", bs(data0)),
      ("sh", sh0, "bucket", bs(sh0)),
      ("posts", posts0, "bucket", bs(posts0))), 0L)
    val b2 = Seq((11L, base.substring(0, base.lastIndexOf(' '))),
      (12L, "entirely new content describing watermarks sessions and state stores in streams"))
      .toDF("id", "text")
    CardStream.nearDupSuppress(spark, b2, dir, "text", "id", batchId = 1L)
    val survivors = BucketStore.read(spark, dir, "data", None,
        data0.withColumn("sh", array().cast("array<string>")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 12L),
      "migrated history suppresses 11; doc 1 keeps its id column")
  }

  test("loadManifest falls back to a v1 parquet manifest; commit upgrades it") {
    val dir = tmp("manifest_v1") + "/store"
    // hand-write the pre-TSV layout: parquet manifest rows (incl. the
    // _meta sentinel) + one bucket's data under its generation dir
    Seq(("rollup", 3L, 2L, 5L), ("_meta", -1L, 2L, 5L))
      .toDF("table", "bucket", "gen", "last_batch")
      .write.parquet(s"$dir/manifest")
    Seq(("a", 10L, 3L)).toDF("key", "v", "bucket")
      .write.parquet(s"$dir/files/rollup/g=2/p=3")
    val man = BucketStore.loadManifest(spark, dir)
    assert(man.rows == Seq(("rollup", 3L, 2L)) && man.lastBatch == 5L &&
      man.maxGen == 2L, "v1 rows, fence and gen floor must all survive")
    val got = BucketStore.read(spark, dir, "rollup", Some(Seq(3L)),
      Seq.empty[(String, Long, Long)].toDF("key", "v", "bucket"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("a"))
    // first v2 commit rewrites the manifest as TSV: the accumulated
    // bucket must carry over by pointer, and the fallback never fires
    // again (the TSV now exists)
    val add = Seq(("b", 1L, 7L)).toDF("key", "v", "bucket")
    BucketStore.commit(spark, dir, Seq(("rollup", add, "bucket", Seq(7L))),
      6L, Some(man))
    val man2 = BucketStore.loadManifest(spark, dir)
    assert(man2.lastBatch == 6L && man2.maxGen == 3L &&
      man2.rows.toSet == Set(("rollup", 3L, 2L), ("rollup", 7L, 3L)),
      "untouched v1 bucket carried over; new bucket at the next gen")
  }

  test("rollup fold touches ONLY the batch's key buckets; others byte-identical") {
    val dir = tmp("rollup_bucket") + "/counts"
    // 200 distinct keys spread across (virtually) all 64 store buckets
    val b1 = (1 to 200).map(i => (s"k$i", i.toLong, 1L)).toDF("key", "v", "n")
    CardStream.mergeAdditive(spark, b1, dir, Seq("key"), Seq("v", "n"), 0L)
    val before = bucketFiles(dir)
    assert(before.nonEmpty)
    // one-key batch: only that key's bucket may be rewritten
    val b2 = Seq(("k1", 5L, 1L)).toDF("key", "v", "n")
    CardStream.mergeAdditive(spark, b2, dir, Seq("key"), Seq("v", "n"), 1L)
    val after = bucketFiles(dir)
    val shared = before.keySet.intersect(after.keySet)
    assert(shared.nonEmpty, "untouched buckets must keep their files")
    shared.foreach { p => assert(before(p) == after(p), s"$p rewritten") }
    val newPaths = after.keySet -- before.keySet
    assert(newPaths.nonEmpty && newPaths.size < before.size,
      s"expected a small delta, got ${newPaths.size} new of ${after.size}")
    // and the touched key really merged
    val k1 = CardStream.readRollup(spark, dir)
      .filter(col("key") === "k1").collect().head
    assert(k1.getAs[Long]("v") == 6L && k1.getAs[Long]("n") == 2L)
  }

  test("startRollup: streamed micro-batches materialize the full aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("srollup") + "/counts"
    val cp = tmp("srollup_cp")
    val mem = MemoryStream[(String, Long)]
    val q = CardStream.startRollup(
      mem.toDS().toDF("key", "v").withColumn("n", lit(1L)),
      dir, cp, Seq("key"), Seq("v", "n"))
    mem.addData(("a", 1L), ("a", 2L), ("b", 10L))
    q.processAllAvailable()
    mem.addData(("a", 4L), ("c", 7L))
    q.processAllAvailable()
    q.stop()
    val got = CardStream.readRollup(spark, dir).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("v"), r.getAs[Long]("n")))).toMap
    assert(got == Map("a" -> (7L, 3L), "b" -> (10L, 1L), "c" -> (7L, 1L)))
  }

  test("mergeLww is idempotent and order-independent across batches") {
    val path = tmp("lww") + "/table"
    val b1 = Seq(("k1", 1L, "v1"), ("k2", 1L, "v2")).toDF("id", "ts", "value")
    val b2 = Seq(("k1", 2L, "v1b")).toDF("id", "ts", "value")
    CardStream.mergeLww(spark, b1, path, Seq("id"), "ts")
    CardStream.mergeLww(spark, b2, path, Seq("id"), "ts")
    CardStream.mergeLww(spark, b2, path, Seq("id"), "ts") // replay
    CardStream.mergeLww(spark, b1, path, Seq("id"), "ts") // stale replay
    val got = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(got == Map("k1" -> "v1b", "k2" -> "v2"))
  }
}
