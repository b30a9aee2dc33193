package graft

import graft.operators.{Dedup, Multimodal}
import graft.streaming.Streaming
import org.apache.spark.sql.functions._

/** Streaming (memory-sink) and multimodal plumbing suites. */
class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed counts match the batch equivalent") {
    val stream = Streaming.readEventsStream(spark, sfDir)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.windowedCounts(stream, "1 hour"),
      "win_counts"
    )
    val batch = graft.operators.Sessionize
      .tumblingWindowAgg(ScaleQueries.events(spark, sfDir), "1 hour")
    // streaming groups by (window, type); roll up to compare totals
    val streamTotal = got.agg(sum("n_events")).collect()(0).getLong(0)
    val batchTotal = batch.agg(sum("n_events")).collect()(0).getLong(0)
    assert(streamTotal == batchTotal)
    assert(got.count() > 0)
  }

  test("streaming session windows produce per-user sessions") {
    val stream = Streaming.readEventsStream(spark, sfDir)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.sessionWindows(stream, "30 minutes"),
      "sess_win"
    )
    assert(got.count() > 0)
    // session bounds are ordered and counts positive
    got.collect().foreach { r =>
      assert(!r.getTimestamp(1).after(r.getTimestamp(2)))
      assert(r.getLong(3) > 0)
    }
  }

  test("streaming archive upsert converges to the batch upsert") {
    val batchEvents = ScaleQueries.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // stale seed snapshot: 50 keys with a sentinel value and same ts —
    // ties go to the update side, so every sentinel must be replaced
    val initial = batchEvents
      .filter(col("event_id") < 50)
      .withColumn("value", lit(-1.0))
    var batches = 0
    val finalSnap = Streaming.upsertStreamIntoArchive(
      Streaming.readEventsStream(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      initial,
      Seq("event_id"),
      "ts"
    ) { _ => batches += 1 }
    assert(batches >= 1)
    assert(finalSnap.count() == batchEvents.count())
    assert(finalSnap.filter(col("value") === -1.0).count() == 0,
      "stale seed rows must be overwritten by same-ts updates")
  }

  test("streaming drift monitor: zero PSI vs the full snapshot as reference") {
    val stream = Streaming.readEventsStream(spark, sfDir)
    val batchEvents = ScaleQueries.events(spark, sfDir)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    // reference = one specific window's own rows -> that window must
    // report PSI exactly 0; other windows report >= 0 and all windows
    // account for every non-null value
    val firstWindow = batchEvents
      .select(window(col("ts"), "7 days").as("__w"))
      .select(col("__w.start").as("s"))
      .orderBy("s")
      .head()
      .getTimestamp(0)
    val refWindow = batchEvents.filter(
      window(col("ts"), "7 days")("start") === lit(firstWindow)
    )
    Streaming.driftPerWindow(
      stream, refWindow, "value", lo = 0.0, hi = 1000.0, nBins = 10,
      width = "7 days", watermark = "14 days"
    ) { out => snaps += out.collect() }
    assert(snaps.nonEmpty && snaps.last.nonEmpty)
    val byWindow = snaps.last
      .map(r =>
        (r.getTimestamp(0), (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      )
      .toMap
    val (nRef, psiRef, w1Ref) = byWindow(firstWindow)
    assert(psiRef == 0.0, s"self-reference window must have zero drift: $psiRef")
    assert(w1Ref == 0.0, s"self-reference window must have zero W1: $w1Ref")
    assert(nRef == refWindow.filter(col("value").isNotNull).count())
    assert(byWindow.values.forall(_._2 >= 0.0))
    assert(byWindow.values.forall(_._3 >= 0.0))
    val totalCounted = byWindow.values.map(_._1).sum
    assert(totalCounted == batchEvents.filter(col("value").isNotNull).count())
  }

  test("drift monitor W1: a full one-bin mass shift reports exactly one bin width") {
    import spark.implicits._
    import java.nio.file.Files
    // one window, 2 bins over [0, 100): stream mass entirely in bin 0,
    // reference entirely in bin 1 -> cumulative share gap 1 across one
    // bin boundary -> binned W1 = 1 * 50.0 exactly; PSI needs its eps
    // floor (both bins empty on one side) and just reads "huge"
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val streamDir = Files.createTempDirectory("graft-drift-w1").toString
    Seq((base, 10.0), (base, 20.0), (base, 30.0))
      .toDF("ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(streamDir)
    val ref = Seq((base, 60.0), (base, 90.0)).toDF("ts", "value")
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema).parquet(streamDir)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    Streaming.driftPerWindow(
      stream, ref, "value", lo = 0.0, hi = 100.0, nBins = 2,
      width = "1 hour", watermark = "1 hour"
    ) { out => snaps += out.collect() }
    val last = snaps.last
    assert(last.length == 1)
    assert(last(0).getLong(1) == 3)
    assert(last(0).getDouble(3) == 50.0,
      s"full cross-bin shift must cost exactly one bin width: ${last(0)}")
    assert(last(0).getDouble(2) > 1.0, s"PSI should flag the shift: ${last(0)}")
  }

  test("append-mode drift monitor emits each closed window exactly once across a multi-batch drain") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // 9 hourly windows, each with the SAME value distribution (one event
    // in each of 2 bins) -> every window's PSI against the full dataset
    // is exactly 0, so any nonzero PSI flags a partial/duplicated window
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(h: Int, m: Int) = new java.sql.Timestamp(base + (h * 60L + m) * 60000L)
    val df = (0 to 8)
      .flatMap(h => Seq((ts(h, 0), 10.0), (ts(h, 30), 90.0)))
      .toDF("ts", "value")
    // three files in strict event-time order (mod-times forced) so the
    // 1-file-per-trigger drain advances the watermark monotonically
    val streamDir = Files.createTempDirectory("graft-drift-append").toString
    val stageDir = Files.createTempDirectory("graft-drift-stage").toString
    Seq(0 to 2, 3 to 5, 6 to 8).zipWithIndex.foreach { case (hs, i) =>
      val tmp = s"$stageDir/g$i"
      df.filter(hour(col("ts")).isin(hs: _*))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(s"$streamDir/f$i.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$streamDir/f0.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(streamDir)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    Streaming.driftPerWindowAppend(
      stream, df, "value", lo = 0.0, hi = 100.0, nBins = 2,
      width = "1 hour", watermark = "45 minutes"
    ) { out => snaps += out.collect() }
    // final watermark = 08:30 - 45min = 07:45 -> windows 0..6 closed,
    // 7 and 8 still open (withheld by design)
    val all = snaps.flatten
    val starts = all.map(_.getTimestamp(0))
    assert(snaps.count(_.nonEmpty) >= 2,
      s"closed windows must surface across MULTIPLE batches, got ${snaps.size} sink calls")
    assert(starts.distinct.size == starts.size,
      s"append mode must emit each window exactly once: $starts")
    assert(starts.toSet == (0 to 6).map(h => ts(h, 0)).toSet,
      s"expected exactly the 7 watermark-closed windows, got ${starts.sorted.toSeq}")
    all.foreach { r =>
      assert(r.getLong(1) == 2, s"each closed window holds 2 events: $r")
      assert(r.getDouble(2) == 0.0, s"identical distribution must give PSI 0: $r")
      assert(r.getDouble(3) == 0.0, s"identical distribution must give W1 0: $r")
    }
  }

  test("append-mode drift monitor: late in-horizon data lands in its window's single emission") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // 5 hourly windows, each FINALLY holding {10, 90, 90} (bin shares
    // 1/3, 2/3 — identical to the full-dataset reference, so a correctly
    // assembled closed window reports PSI exactly 0 and n_cur = 3).
    // Window 0's third event (00:40) is delivered LATE: file 1 carries it
    // AFTER file 0 already advanced max event time to 01:00 — but the
    // watermark during file 1's batch is 01:00 - 45min = 00:15, so the
    // event is inside the horizon and MUST be absorbed into the still-open
    // window. Exactly-once-per-closed-window then requires window 0 to
    // surface once, complete (n_cur = 3, psi = 0) — an early emission
    // without the late row would show n_cur = 2 / psi != 0, a re-emission
    // would show a duplicate window_start.
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(h: Int, m: Int) = new java.sql.Timestamp(base + (h * 60L + m) * 60000L)
    def rows(hs: Seq[(Int, Int, Double)]) = hs.map { case (h, m, v) => (ts(h, m), v) }
    val files = Seq(
      // file 0: window 0 partial + window 1 opener; max ts 01:00
      rows(Seq((0, 0, 10.0), (0, 15, 90.0), (1, 0, 10.0))),
      // file 1: the LATE window-0 event (00:40 < max seen, >= watermark
      // 00:15) + the rest of window 1 + window 2 opener; max ts 02:00
      rows(Seq((0, 40, 90.0), (1, 15, 90.0), (1, 40, 90.0), (2, 0, 10.0))),
      // file 2: watermark is now 01:15 -> window 0 closes THIS batch
      rows(Seq((2, 15, 90.0), (2, 40, 90.0), (3, 0, 10.0), (3, 15, 90.0), (3, 40, 90.0))),
      // file 3: watermark 02:55 closes window 1; final flush (04:40 ->
      // watermark 03:55) closes window 2; windows 3-4 stay open
      rows(Seq((4, 0, 10.0), (4, 15, 90.0), (4, 40, 90.0)))
    )
    val ref = files.flatten.toDF("ts", "value")
    val streamDir = Files.createTempDirectory("graft-drift-late").toString
    val stageDir = Files.createTempDirectory("graft-drift-late-stage").toString
    files.zipWithIndex.foreach { case (f, i) =>
      val tmp = s"$stageDir/g$i"
      f.toDF("ts", "value").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(s"$streamDir/f$i.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val schema = spark.read.parquet(s"$streamDir/f0.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(streamDir)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    Streaming.driftPerWindowAppend(
      stream, ref, "value", lo = 0.0, hi = 100.0, nBins = 2,
      width = "1 hour", watermark = "45 minutes"
    ) { out => snaps += out.collect() }
    val all = snaps.flatten
    val starts = all.map(_.getTimestamp(0))
    assert(starts.distinct.size == starts.size,
      s"append mode must emit each window exactly once: ${starts.toSeq}")
    assert(starts.toSet == (0 to 2).map(h => ts(h, 0)).toSet,
      s"expected exactly windows 0-2 closed, got ${starts.sorted.toSeq}")
    all.foreach { r =>
      assert(r.getLong(1) == 3,
        s"closed window must hold all 3 events incl. the late one: $r")
      assert(r.getDouble(2) == 0.0,
        s"complete window matches the reference -> PSI 0: $r")
      assert(r.getDouble(3) == 0.0,
        s"complete window matches the reference -> W1 0: $r")
    }
  }

  test("streaming heavy hitters rank equals the batch ranking") {
    val stream = Streaming.readEventsStream(spark, sfDir)
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    Streaming.heavyHittersPerWindow(stream, k = 2, width = "1 hour") { ranked =>
      snaps += ranked.collect()
    }
    assert(snaps.nonEmpty)
    val last = snaps.last
    assert(last.nonEmpty)
    // ground truth: batch windowed counts ranked the same way
    val batchCounts = ScaleQueries.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("__w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("__w.start").as("window_start"), col("event_type"), col("n_events"))
    val expect = graft.operators.TopN
      .firstRow(
        batchCounts,
        n = 2,
        partitionBy = Seq(col("window_start")),
        orderBy = Seq(col("n_events").desc, col("event_type")),
        returnIndexColumn = true,
        indexColumnName = "rank"
      )
      .select("window_start", "event_type", "rank")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getInt(2)))
      .toSet
    val got = last
      .map(r => (r.getTimestamp(0), r.getString(1), r.getAs[Int]("rank")))
      .toSet
    assert(got == expect)
  }

  test("flatMapGroupsWithState running totals cover every user") {
    val stream = Streaming.readEventsStream(spark, sfDir)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.runningUserTotals(stream),
      "user_totals",
      outputMode = "update"
    )
    val users = spark.read
      .parquet(s"$sfDir/events.parquet")
      .select(countDistinct("user_id"))
      .collect()(0)
      .getLong(0)
    assert(got.select("user_id").distinct().count() == users)
  }

  test("streaming dedup drops duplicate event ids") {
    val stream = Streaming.readEventsStream(spark, sfDir)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.dedupEvents(stream),
      "dedup_events",
      outputMode = "append"
    )
    val total = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(got.count() == total) // source has unique ids; all survive
    assert(got.select("event_id").distinct().count() == total)
  }

  test("streaming fingerprint dedup keeps one doc per canonical text") {
    val stream = Streaming.readDocumentsStream(spark, sfDir)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.dedupDocumentsByFingerprint(stream),
      "dedup_docs_fp",
      outputMode = "append"
    )
    // ground truth from the batch side: distinct canonical fingerprints
    val distinctFps = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .distinct()
      .count()
    assert(got.count() == distinctFps)
    // survivors are fingerprint-unique
    val survivors = got
      .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .distinct()
      .count()
    assert(survivors == got.count())
  }

  test("streaming near-dedup ingest equals sequential batch incremental dedup") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reference = docs.filter(col("doc_id") % 3 === 0)
    val batches =
      Seq(docs.filter(col("doc_id") % 3 === 1), docs.filter(col("doc_id") % 3 === 2))
    // two stream files drained one per trigger, in forced mod-time order
    val streamDir = Files.createTempDirectory("graft-neardedup-stream").toString
    val stageDir = Files.createTempDirectory("graft-neardedup-stage").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$stageDir/g$i"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(s"$streamDir/f$i.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngest(stream, reference) { out =>
      perBatch += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(perBatch.size == 2, s"expected 2 micro-batches, got ${perBatch.size}")
    // ground truth: the same incremental operator applied batch-by-batch
    // with the same growing signature store
    var store = Dedup
      .minHashSignatures(reference, "doc_id", "text", 1, 16)
    val expected = batches.map { b =>
      val surv = Dedup.dedupNearMinHashIncremental(b, "doc_id", "text", store)
      store = store
        .union(Dedup.minHashSignatures(surv, "doc_id", "text", 1, 16))
        .localCheckpoint()
      surv.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(perBatch(0) == expected(0),
      s"batch 0 diverges: extra=${perBatch(0) -- expected(0)} lost=${expected(0) -- perBatch(0)}")
    assert(perBatch(1) == expected(1),
      s"batch 1 diverges: extra=${perBatch(1) -- expected(1)} lost=${expected(1) -- perBatch(1)}")
    // the second batch must have been checked against batch-1 SURVIVORS:
    // at least one drop overall proves the gate is not a pass-through
    val dropped = batches.map(_.count()).sum - perBatch.map(_.size).sum
    assert(dropped > 0, "test corpus must exercise at least one near-dup drop")
  }

  test("durable near-dedup ingest: 10-batch drain, bounded store, output equality") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reference = docs.filter(col("doc_id") % 12 === 0)
    val batches = (1 to 10).map(k => docs.filter(col("doc_id") % 12 === k))
    def stage(tag: String): String = {
      val streamDir = Files.createTempDirectory(s"graft-durable-$tag").toString
      val stageDir = Files.createTempDirectory(s"graft-durable-stage-$tag").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        val tmp = s"$stageDir/g$i"
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = Paths.get(f"$streamDir/f$i%02d.parquet")
        Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
      }
      streamDir
    }
    def stream(dir: String) = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    // durable run: parquet-backed store
    val storePath = Files.createTempDirectory("graft-durable-store").toString + "/sigs"
    val durable = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngestDurable(stream(stage("a")), reference, storePath) { out =>
      durable += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // in-memory run over the SAME batches: the reference implementation
    val inMem = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngest(stream(stage("b")), reference) { out =>
      inMem += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(durable.size == 10, s"expected a 10-batch drain, got ${durable.size}")
    assert(inMem.size == 10, s"expected a 10-batch drain, got ${inMem.size}")
    (0 until 10).foreach { i =>
      assert(durable(i) == inMem(i),
        s"batch $i diverges: extra=${durable(i) -- inMem(i)} lost=${inMem(i) -- durable(i)}")
    }
    assert(durable.map(_.size).sum < batches.map(_.count()).sum,
      "drain must exercise at least one near-dup drop")
    // bounded state: the store is a flat parquet dir whose ROW count is
    // exactly reference + accepted signatures (storage ~ accepted docs,
    // not batches), and whose read plan is one scan — no per-batch
    // union/checkpoint accretion survives the drain
    val store = spark.read.parquet(storePath)
    assert(store.count() == reference.count() + durable.map(_.size).sum,
      "store must hold exactly the reference + survivor signatures")
    val planStr = store.queryExecution.optimizedPlan.toString
    assert(!planStr.contains("Union"), s"store read must be one flat scan:\n$planStr")
    // restart reuses the store: a second drain over one MORE batch must
    // dedup against everything accepted above without re-signing
    val extraDir = Files.createTempDirectory("graft-durable-extra").toString
    val extraStage = Files.createTempDirectory("graft-durable-extra-stage").toString
    docs.filter(col("doc_id") % 12 === 11).coalesce(1)
      .write.mode("overwrite").parquet(s"$extraStage/g")
    val part = new java.io.File(s"$extraStage/g").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$extraDir/f0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val before = store.count()
    val restart = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngestDurable(
      spark.readStream.schema(docs.schema).parquet(extraDir),
      // a poisoned reference proves the store, not the reference, is used
      reference.limit(0), storePath) { out =>
      restart += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(spark.read.parquet(storePath).count() ==
      before + restart.map(_.size).sum,
      "restart must append survivors only — never re-sign the reference")
  }

  /** Stage `batches` as one parquet file each (forced mod-time order) into
    * a fresh stream dir; shared by the durable crash-recovery tests. */
  private def stageBatchFiles(
      tag: String,
      batches: Seq[org.apache.spark.sql.DataFrame]
  ): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val streamDir = Files.createTempDirectory(s"graft-crash-$tag").toString
    val stageDir = Files.createTempDirectory(s"graft-crash-stage-$tag").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$stageDir/g$i"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(f"$streamDir/f$i%02d.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    streamDir
  }

  test("durable ingest crash recovery: crash after emit, before store append") {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reference = docs.filter(col("doc_id") % 12 === 0)
    val batches = (1 to 6).map(k => docs.filter(col("doc_id") % 12 === k))
    def stream(dir: String) = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    // ground truth: an uninterrupted durable drain over the same batches
    val truthStore = Files.createTempDirectory("graft-crashA-truth").toString + "/sigs"
    val truth = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngestDurable(
      stream(stageBatchFiles("a-truth", batches)), reference, truthStore) { out =>
      truth += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(truth.size == 6 && truth.forall(_.nonEmpty),
      "fixture must yield 6 non-empty batches")
    // crashing drain: the sink records its emission, THEN dies on batch 2 —
    // the crash lands in the emit->append window (the store append and the
    // checkpoint commit for batch 2 both never happen)
    val storePath = Files.createTempDirectory("graft-crashA-store").toString + "/sigs"
    val ckpt = Files.createTempDirectory("graft-crashA-ckpt").toString
    val srcDir = stageBatchFiles("a-run", batches)
    val beforeCrash = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streaming.nearDedupIngestDurable(
        stream(srcDir), reference, storePath, checkpointDir = ckpt) { out =>
        beforeCrash += out.select("doc_id").collect().map(_.getLong(0)).toSet
        if (beforeCrash.size == 3) sys.error("injected crash")
      }
    }
    assert(thrown.getMessage.contains("injected crash"))
    assert(beforeCrash.size == 3, "crash must land on the third batch")
    assert(spark.read.parquet(storePath).count() ==
      reference.count() + truth.take(2).map(_.size).sum,
      "crashed batch's signatures must NOT be in the store (append never ran)")
    // restart from the same checkpoint: resumes AT the failed batch (no
    // re-read of batches 0-1), re-emits it identically (at-least-once
    // duplicate delivery), then drains the rest
    val after = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngestDurable(
      stream(srcDir), reference, storePath, checkpointDir = ckpt) { out =>
      after += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(after.size == 4,
      s"restart must resume at the failed batch, not re-read the source: ${after.size}")
    assert(after(0) == truth(2), "replayed batch must recompute the identical survivor set")
    (1 until 4).foreach { i =>
      assert(after(i) == truth(2 + i), s"post-crash batch ${2 + i} diverges")
    }
    (0 until 2).foreach { i =>
      assert(beforeCrash(i) == truth(i), s"pre-crash batch $i diverges")
    }
    // no duplicate admissions: every accepted doc's signature is stored
    // exactly once, and the store equals the uninterrupted run's
    val store = spark.read.parquet(storePath)
    assert(store.count() == store.select("__id").distinct().count(),
      "store must hold each accepted signature exactly once")
    assert(store.count() == spark.read.parquet(truthStore).count(),
      "post-recovery store must equal the uninterrupted run's")
  }

  test("durable ingest crash recovery: crash after append, before checkpoint commit") {
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reference = docs.filter(col("doc_id") % 12 === 0)
    val batches = (1 to 6).map(k => docs.filter(col("doc_id") % 12 === k))
    def stream(dir: String) = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val truthStore = Files.createTempDirectory("graft-crashB-truth").toString + "/sigs"
    val truth = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngestDurable(
      stream(stageBatchFiles("b-truth", batches)), reference, truthStore) { out =>
      truth += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val storePath = Files.createTempDirectory("graft-crashB-store").toString + "/sigs"
    val ckpt = Files.createTempDirectory("graft-crashB-ckpt").toString
    val srcDir = stageBatchFiles("b-run", batches)
    val beforeCrash = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streaming.nearDedupIngestDurable(
        stream(srcDir), reference, storePath, checkpointDir = ckpt) { out =>
        beforeCrash += out.select("doc_id").collect().map(_.getLong(0)).toSet
        if (beforeCrash.size == 3) sys.error("injected crash")
      }
    }
    // manufacture the OTHER crash window: the batch-2 append ran but the
    // checkpoint commit didn't — append the crashed batch's survivor
    // signatures by hand, exactly what the interrupted foreachBatch body
    // would have done next
    Dedup.minHashSignatures(
      docs.filter(col("doc_id").isInCollection(beforeCrash(2))),
      "doc_id", "text", 1, 16
    ).write.mode("append").parquet(storePath)
    // restart: the replayed batch collides with its own stored signatures,
    // so the replay must emit NOTHING and admit nothing twice
    val after = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    Streaming.nearDedupIngestDurable(
      stream(srcDir), reference, storePath, checkpointDir = ckpt) { out =>
      after += out.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(after.size == 4, s"restart must resume at the failed batch: ${after.size}")
    assert(after(0).isEmpty,
      "replayed batch must be swallowed by its own stored signatures")
    (1 until 4).foreach { i =>
      assert(after(i) == truth(2 + i), s"post-crash batch ${2 + i} diverges")
    }
    // the accepted-document stream (crash-run emissions + restart
    // emissions, replay-deduplicated) equals the uninterrupted run's
    val delivered = (beforeCrash ++ after).reduce(_ ++ _)
    assert(delivered == truth.reduce(_ ++ _), "delivered set diverges from truth")
    val store = spark.read.parquet(storePath)
    assert(store.count() == store.select("__id").distinct().count(),
      "store must hold each accepted signature exactly once")
    assert(store.count() == spark.read.parquet(truthStore).count(),
      "post-recovery store must equal the uninterrupted run's")
  }

  test("stream-stream interval join equals the batch join") {
    val stream = Streaming.readEventsStream(spark, sfDir)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.purchasesWithRecentViews(stream),
      "purchase_views",
      outputMode = "append"
    )
    val ev = ScaleQueries.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"), col("event_id").as("vid"))
    val batch = p.join(
      v,
      col("user_id") === col("vu") &&
        col("vts") >= col("pts") - expr("INTERVAL 1 hour") &&
        col("vts") <= col("pts")
    )
    val gotPairs = got.select("purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = batch.select("pid", "vid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == batchPairs, s"stream ${gotPairs.size} vs batch ${batchPairs.size}")
    assert(gotPairs.nonEmpty)
  }

  test("streaming decontamination equals the batch anti-join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val staticTest = docs.filter(col("doc_id") % 10 === 0)
    val stream = Streaming
      .readDocumentsStream(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.decontaminateStream(stream, staticTest, "text", n = 3),
      "decontam_stream",
      outputMode = "append"
    )
    val batch = graft.operators.Decontam
      .decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0), staticTest, "doc_id", "text", n = 3
      )
    val gotIds = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == batchIds, s"stream kept ${gotIds.size}, batch ${batchIds.size}")
    assert(gotIds.nonEmpty && gotIds.size < 450) // some dropped, some kept
  }

  test("streaming Bloom decontamination equals the batch Bloom gate; literal bound guards") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val staticTest = docs.filter(col("doc_id") % 10 === 0)
    val stream = Streaming
      .readDocumentsStream(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
    val got = Streaming.runToMemorySink(
      spark,
      Streaming.decontaminateStreamBloom(stream, staticTest, "text", n = 3),
      "decontam_bloom_stream",
      outputMode = "append"
    )
    // same filter bytes + same per-gram probe -> the stateless exists()
    // gate keeps EXACTLY the batch Bloom survivors
    val batch = graft.operators.Decontam.bloomDecontaminate(
      docs.filter(col("doc_id") % 10 =!= 0), staticTest, "doc_id", "text", n = 3
    )
    val gotIds = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == batchIds, s"stream kept ${gotIds.size}, batch ${batchIds.size}")
    // no false negatives: the Bloom survivors are a subset of the exact
    // literal gate's survivors
    val exact = Streaming
      .decontaminateStream(
        docs.filter(col("doc_id") % 10 =!= 0), staticTest, "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds.subsetOf(exact))

    // the literal-plan gate refuses an eval set beyond its bound and
    // points at the Bloom path
    val e = intercept[IllegalArgumentException] {
      Streaming.decontaminateStream(
        docs, staticTest, "text", n = 3, maxLiteralGrams = 10)
    }
    assert(e.getMessage.contains("decontaminateStreamBloom"))
  }

  test("streaming k-means assignment equals the batch assignment") {
    // train on the batch snapshot, apply the frozen codebook to the
    // stream: kmeansAssign is stateless per-row compute, so it runs
    // unchanged under append mode — the model-apply half of
    // cluster-then-curate on an ingest pipeline
    import graft.operators.Similarity
    val emb = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val centroids = Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 4)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$sfDir/embeddings.parquet").schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
      .select("vec_id", "embedding")
    val got = Streaming.runToMemorySink(
      spark,
      Similarity.kmeansAssign(stream, "embedding", centroids),
      "kmeans_stream",
      outputMode = "append"
    )
    def assignments(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cluster")
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    val batch = Similarity.kmeansAssign(emb, "embedding", centroids)
    assert(assignments(got) == assignments(batch))
    assert(assignments(got).size == emb.count())
  }

  test("streaming PQ encoding equals the batch encoding") {
    // train PQ on the batch snapshot, encode the stream under the frozen
    // codebooks: pqEncode is stateless per-row compute (plan-asserted
    // shuffle-free), so the compressed-ingest half of an IVF-PQ pipeline
    // runs unchanged in append mode
    import graft.operators.Similarity
    val emb = spark.read
      .parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
      numSubspaces = 4, k = 8, rounds = 1)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$sfDir/embeddings.parquet").schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
      .select("vec_id", "embedding")
    val got = Streaming.runToMemorySink(
      spark,
      Similarity.pqEncode(stream, "embedding", cbs),
      "pq_stream",
      outputMode = "append"
    )
    def codes(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "pq_codes")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
      .toMap
    val batch = Similarity.pqEncode(emb, "embedding", cbs)
    assert(codes(got) == codes(batch))
    assert(codes(got).size == emb.count())
  }

  test("streaming quality gate equals the batch classifier filter") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = TextAnalysis.trainTokenClassifier(
      docs.filter(col("source").isin("src0", "src1")),
      docs.filter(!col("source").isin("src0", "src1")),
      "text",
      numBuckets = 1024
    )
    val scored = TextAnalysis
      .classifierScore(docs, "doc_id", "text", model, numBuckets = 1024)
    // pick a threshold that genuinely splits this corpus (its median score)
    val thr = scored.stat.approxQuantile("nb_logodds", Array(0.5), 0.0).head
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    Streaming.qualityGateStream(
      Streaming.readDocumentsStream(spark, sfDir),
      model,
      "doc_id",
      "text",
      numBuckets = 1024,
      minLogOdds = thr
    ) { b => kept ++= b.select("doc_id").collect().map(_.getLong(0)) }
    val gotIds = kept.toSet
    val batchIds = scored
      .filter(col("nb_logodds") >= thr)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(gotIds == batchIds, s"stream ${gotIds.size} vs batch ${batchIds.size}")
    assert(gotIds.nonEmpty && gotIds.size < docs.count())
  }

  test("streaming anomaly gate equals the batch MAD filter") {
    import graft.operators.Stats
    val events = graft.ScaleQueries.events(spark, sfDir)
    val model = Stats.madModel(events, "value", Seq("event_type"))
    val gated = Streaming.anomalyGateStream(
      Streaming.readEventsStream(spark, sfDir),
      model, "event_type", "value", threshold = 3.5
    )
    val q = gated.writeStream
      .format("memory")
      .queryName("anomaly_gate")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("anomaly_gate")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val batch = Stats.madOutliers(events, "value", Seq("event_type"))
      .filter(!col("is_outlier"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == batch, s"stream ${got.size} vs batch ${batch.size}")
    // the gate really drops something, and the dropped set is the outliers
    assert(got.size < events.count())
  }

  test("media table round trip: schema, features, determinism") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val media = Multimodal.toMediaTable(docs, "doc_id", "text")
    assert(
      media.schema.fields.map(_.name).toSeq == Seq("media_id", "media", "meta")
    )
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == 50)
    rows.foreach { f =>
      assert(f.brightness > 0 && f.brightness <= 1.0)
      assert(f.n_bytes > 0)
    }
    // deterministic: same input, same features
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.brightness).toSeq == again.map(_.brightness).toSeq)
  }

  test("resize stub shrinks payload and updates metadata") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(5)
    val media = Multimodal.toMediaTable(docs, "doc_id", "text")
    val resized = Multimodal.resize(media, 8, 8)
    resized.collect().foreach { r =>
      val meta = r.getStruct(2)
      assert(meta.getInt(1) == 8 && meta.getInt(2) == 8)
      assert(r.getAs[Array[Byte]](1).length == meta.getLong(3))
    }
  }

  /** Real PNG built in-memory: left half black, right half white — known
    * brightness (0.5) and exactly one luma edge per row. */
  private def halfWhitePng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("image dHash: stable under recompression-scale noise, dedups near-identical images") {
    import spark.implicits._
    // gradient image + a copy with one corner pixel flipped (tiny edit) +
    // a structurally different image (inverted gradient)
    def gradientPng(w: Int, h: Int, invert: Boolean, tweak: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / (w - 1)
        val g = if (invert) 255 - v else v
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      if (tweak) img.setRGB(0, 0, 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def mediaRow(id: Long, png: Array[Byte]) =
      Multimodal.MediaRow(id, png, Multimodal.MediaMeta("image/png", 36, 16, png.length.toLong))
    val media = Seq(
      mediaRow(1L, gradientPng(36, 16, invert = false, tweak = false)),
      mediaRow(2L, gradientPng(36, 16, invert = false, tweak = true)),
      mediaRow(3L, gradientPng(36, 16, invert = true, tweak = false)),
      Multimodal.MediaRow(4L, "not an image".getBytes, Multimodal.MediaMeta("image/png", 0, 0, 12L))
    ).toDF()
    val hashes = Multimodal
      .imageDHash(media)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(hashes.keySet == Set(1L, 2L, 3L), "undecodable payloads must be omitted")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a one-pixel tweak moves at most a couple of gradient-sign bits
    assert(hamming(hashes(1L), hashes(2L)) <= 3,
      s"near-identical images too far apart: ${hamming(hashes(1L), hashes(2L))}")
    // the inverted gradient flips (nearly) every gradient sign
    assert(hamming(hashes(1L), hashes(3L)) > 30,
      s"distinct images too close: ${hamming(hashes(1L), hashes(3L))}")
    // hamming dedup keeps one of {1, 2} and keeps 3
    val kept = Dedup
      .dedupByHamming(Multimodal.imageDHash(media), "media_id", "dhash", maxHamming = 3)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"expected near-dup 2 dropped: $kept")
  }

  test("real PNG decode: feature extraction reads actual pixels") {
    import spark.implicits._
    val png = halfWhitePng(16, 8)
    val media = Seq(
      Multimodal.MediaRow(
        1L, png, Multimodal.MediaMeta("image/png", 16, 8, png.length.toLong)
      )
    ).toDF()
    val f = Multimodal.extractFeatures(media).collect()(0)
    // half black / half white: mean luma = 0.5 exactly (0 and 255 average);
    // one >32/255 horizontal transition per row => 8 edges / 128 pixels
    assert(math.abs(f.brightness - 0.5) < 0.01, s"brightness ${f.brightness}")
    assert(math.abs(f.edge_density - 8.0 / 128) < 1e-12, s"edges ${f.edge_density}")
    assert(f.format == "image/png" && f.n_bytes == png.length.toLong)
  }

  test("real PNG resize: output decodes at target dimensions") {
    import spark.implicits._
    val png = halfWhitePng(16, 8)
    val media = Seq(
      Multimodal.MediaRow(
        7L, png, Multimodal.MediaMeta("image/png", 16, 8, png.length.toLong)
      )
    ).toDF()
    val r = Multimodal.resize(media, 4, 4).collect()(0)
    val bytes = r.getAs[Array[Byte]](1)
    val meta = r.getStruct(2)
    assert(meta.getString(0) == "image/png")
    assert(meta.getInt(1) == 4 && meta.getInt(2) == 4)
    assert(meta.getLong(3) == bytes.length.toLong)
    val round = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(round.getWidth == 4 && round.getHeight == 4)
    // still half dark / half bright after bilinear downscale
    val leftLuma = round.getRGB(0, 0) & 0xff
    val rightLuma = round.getRGB(3, 0) & 0xff
    assert(leftLuma < 64 && rightLuma > 191, s"left $leftLuma right $rightLuma")
  }

  /** Real 16-bit PCM WAV built in-memory: a full-scale square wave at
    * sampleRate/(2*halfPeriod) Hz — RMS exactly 1.0 (every sample is
    * ±32767/32768 ~ 1) and one zero crossing every halfPeriod samples. */
  private def squareWav(nSamples: Int, halfPeriod: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v: Short = if ((i / halfPeriod) % 2 == 0) 32767 else -32767
      pcm(2 * i) = (v & 0xff).toByte // little-endian
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong
      ),
      AudioFileFormat.Type.WAVE,
      out
    )
    out.toByteArray
  }

  test("audio fingerprint: level-invariant, dedups re-leveled copies") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // amplitude ramp (rising envelope) at two volumes + a falling ramp
    def rampWav(nSamples: Int, scale: Double, falling: Boolean): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      for (i <- 0 until nSamples) {
        val pos = if (falling) nSamples - 1 - i else i
        val amp = (scale * 30000 * (pos.toDouble / nSamples)).toInt
        val v: Short = (if (i % 2 == 0) amp else -amp).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong),
        AudioFileFormat.Type.WAVE, out
      )
      out.toByteArray
    }
    def row(id: Long, wav: Array[Byte]) =
      Multimodal.MediaRow(id, wav, Multimodal.MediaMeta("audio/wav", 0, 0, wav.length.toLong))
    val media = Seq(
      row(1L, rampWav(6500, 1.0, falling = false)),
      row(2L, rampWav(6500, 0.5, falling = false)),  // same shape, half volume
      row(3L, rampWav(6500, 1.0, falling = true)),   // reversed envelope
      row(4L, "not audio".getBytes)                  // undecodable
    ).toDF()
    val fp = Multimodal
      .audioFingerprint(media)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(fp.keySet == Set(1L, 2L, 3L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // gradient signs are volume-invariant: scaled copy hashes identically
    assert(hamming(fp(1L), fp(2L)) == 0, s"${hamming(fp(1L), fp(2L))}")
    // reversed envelope flips (nearly) every gradient sign
    assert(hamming(fp(1L), fp(3L)) > 50, s"${hamming(fp(1L), fp(3L))}")
    val kept = Dedup
      .dedupByHamming(Multimodal.audioFingerprint(media), "media_id", "afp", maxHamming = 3)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"$kept")
  }

  test("real WAV decode: feature extraction reads actual samples") {
    import spark.implicits._
    val wav = squareWav(nSamples = 800, halfPeriod = 8)
    val media = Seq(
      Multimodal.MediaRow(
        2L, wav, Multimodal.MediaMeta("audio/wav", 0, 0, wav.length.toLong)
      )
    ).toDF()
    val f = Multimodal.extractFeatures(media).collect()(0)
    // full-scale square wave: RMS = 32767/32768; crossings every 8th sample
    assert(math.abs(f.brightness - 32767.0 / 32768.0) < 1e-9, s"rms ${f.brightness}")
    assert(math.abs(f.edge_density - (800 / 8 - 1) / 800.0) < 1e-9, s"zcr ${f.edge_density}")
    assert(f.format == "audio/wav" && f.n_bytes == wav.length.toLong)
  }

  /** Real MJPEG AVI built in-memory: RIFF('AVI ') containing a
    * LIST('movi') of '00dc' chunks, each a complete JDK-encoded JPEG
    * frame of the given gray level. */
  private def mjpegAvi(grays: Seq[Int]): Array[Byte] = {
    def jpegFrame(gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      val rgb = (gray << 16) | (gray << 8) | gray
      for (x <- 0 until 8; y <- 0 until 8) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    def le32(n: Int): Array[Byte] =
      Array(n, n >> 8, n >> 16, n >> 24).map(_.toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    val movi = "movi".getBytes("US-ASCII") ++
      grays.toArray.flatMap(g => chunk("00dc", jpegFrame(g)))
    val riffBody = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
    "RIFF".getBytes("US-ASCII") ++ le32(riffBody.length) ++ riffBody
  }

  test("video dHash: first-frame hash matches across re-muxes, dedups copies") {
    import spark.implicits._
    def jpegGradient(w: Int, h: Int, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 255) / (w - 1)
        val g = if (invert) 255 - v else v
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    def le32(n: Int): Array[Byte] = Array(n, n >> 8, n >> 16, n >> 24).map(_.toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val movi = "movi".getBytes("US-ASCII") ++
        frames.toArray.flatMap(f => chunk("00dc", f))
      val riffBody = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
      "RIFF".getBytes("US-ASCII") ++ le32(riffBody.length) ++ riffBody
    }
    val first = jpegGradient(36, 16, invert = false)
    val a = avi(Seq(first))
    val aRemux = avi(Seq(first, jpegGradient(36, 16, invert = true))) // extra tail frame
    val b = avi(Seq(jpegGradient(36, 16, invert = true)))
    def row(id: Long, bytes: Array[Byte]) = Multimodal.MediaRow(
      id, bytes, Multimodal.MediaMeta("video/x-msvideo", 36, 16, bytes.length.toLong)
    )
    val media = Seq(row(1L, a), row(2L, aRemux), row(3L, b),
      row(4L, "not a riff".getBytes)).toDF()
    val got = Multimodal.videoDHash(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(got(1L), got(2L)) == 0, "same first frame must hash identically")
    assert(hamming(got(1L), got(3L)) > 30, s"${hamming(got(1L), got(3L))}")
    val kept = Dedup
      .dedupByHamming(Multimodal.videoDHash(media), "media_id", "dhash", maxHamming = 3)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"$kept")
  }

  test("video dHash multi-frame vote dedups copies with a swapped first frame") {
    import spark.implicits._
    def jpeg(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB
      )
      for (y <- 0 until h; x <- 0 until w) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    def le32(n: Int): Array[Byte] = Array(n, n >> 8, n >> 16, n >> 24).map(_.toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val movi = "movi".getBytes("US-ASCII") ++
        frames.toArray.flatMap(f => chunk("00dc", f))
      val riffBody = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
      "RIFF".getBytes("US-ASCII") ++ le32(riffBody.length) ++ riffBody
    }
    // shared footage: 4 distinct content frames
    val content = Seq(
      jpeg(36, 16, (x, _) => x * 7),
      jpeg(36, 16, (x, y) => x * 5 + y * 3),
      jpeg(36, 16, (x, _) => 255 - x * 6),
      jpeg(36, 16, (_, y) => y * 15)
    )
    val titleA = jpeg(36, 16, (x, _) => x * 7)        // original opener
    val titleB = jpeg(36, 16, (x, _) => 255 - x * 7)  // REPLACED opener
    val original = avi(titleA +: content)
    val retitled = avi(titleB +: content)             // same footage, new first frame
    val different = avi(Seq(
      jpeg(36, 16, (x, y) => (x * y) % 255),
      jpeg(36, 16, (x, y) => 255 - (x + y) * 4),
      jpeg(36, 16, (_, y) => 255 - y * 14),
      jpeg(36, 16, (x, y) => (x ^ y) * 11),
      jpeg(36, 16, (x, _) => if (x % 2 == 0) 0 else 255)
    ))
    def row(id: Long, bytes: Array[Byte]) = Multimodal.MediaRow(
      id, bytes, Multimodal.MediaMeta("video/x-msvideo", 36, 16, bytes.length.toLong)
    )
    val media = Seq(row(1L, original), row(2L, retitled), row(3L, different)).toDF()
    // first-frame-only hashing misses the retitled copy...
    val firstOnly = Multimodal.videoDHash(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(firstOnly(1L), firstOnly(2L)) > 3,
      "planted case must defeat the first-frame hash")
    // ...the 5-frame vote catches it: 4 shared frames out-vote the opener
    val voted = Multimodal.videoDHash(media, maxFrames = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hamming(voted(1L), voted(2L)) <= 3,
      s"voted hashes must agree: ${hamming(voted(1L), voted(2L))} bits apart")
    assert(hamming(voted(1L), voted(3L)) > 3, "different footage must stay apart")
    val kept = Dedup
      .dedupByHamming(
        Multimodal.videoDHash(media, maxFrames = 5),
        "media_id", "dhash", maxHamming = 3
      )
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"retitled copy must dedup away: $kept")
  }

  test("real MJPEG-AVI demux: frame sampling returns decodable JPEG frames") {
    import spark.implicits._
    val avi = mjpegAvi(Seq(0, 128, 255))
    val media = Seq(
      Multimodal.MediaRow(
        7L, avi, Multimodal.MediaMeta("video/x-msvideo", 8, 8, avi.length.toLong)
      )
    ).toDF()
    val frames = Multimodal
      .sampleFrames(media, frameBytes = 9999, stride = 1)
      .orderBy("frame_index")
      .collect()
    assert(frames.length == 3)
    // each emitted frame is a real JPEG the JDK can decode back
    frames.zip(Seq(0, 128, 255)).foreach { case (row, gray) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("frame"))
      )
      assert(img != null && img.getWidth == 8 && img.getHeight == 8)
      val got = img.getRGB(4, 4) & 0xff
      assert(math.abs(got - gray) <= 8, s"gray $gray decoded as $got") // JPEG is lossy
    }
    // stride skips frames
    assert(Multimodal.sampleFrames(media, 9999, 2).count() == 2)
  }

  test("real MJPEG-AVI decode: features average actual frame brightness") {
    import spark.implicits._
    val avi = mjpegAvi(Seq(0, 255)) // black + white frames -> mean ~0.5
    val media = Seq(
      Multimodal.MediaRow(
        8L, avi, Multimodal.MediaMeta("video/x-msvideo", 8, 8, avi.length.toLong)
      )
    ).toDF()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(math.abs(f.brightness - 0.5) < 0.05, s"brightness ${f.brightness}")
    assert(f.edge_density < 0.05, "solid frames have no edges")
  }

  test("frame sampling explodes stride-selected chunks") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(3)
    val media = Multimodal.toMediaTable(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
    assert(frames.count() > 0)
    frames.collect().foreach { r =>
      assert(r.getInt(1) % 2 == 0)
      assert(r.getAs[Array[Byte]](2).length <= 16)
    }
  }

  test("supportedCodecs: the capability report matches actual decode behavior") {
    import spark.implicits._
    val report = Multimodal.supportedCodecs().map(c => c.format -> c.real).toMap
    // this JDK's expected boundary: ImageIO readers minus webp, 16-bit PCM
    // audio, MJPEG-AVI only for video
    assert(report("image/png") && report("image/jpeg") &&
      report("image/bmp") && report("image/gif"))
    assert(!report("image/webp"))
    assert(report("audio/wav") && !report("audio/mpeg"))
    assert(report("video/x-msvideo") && !report("video/mp4") &&
      !report("video/webm"))

    // image parity: every writable real=true format round-trips through
    // the PUBLIC imageDHash tier; a webp-magic payload yields nothing
    Seq("image/png" -> "png", "image/jpeg" -> "jpg",
        "image/bmp" -> "bmp", "image/gif" -> "gif").foreach {
      case (mime, fmt) =>
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until 16).foreach(x => (0 until 16).foreach(y =>
          img.setRGB(x, y, (x * 16) << 16 | (y * 16) << 8)))
        val bos = new java.io.ByteArrayOutputStream()
        assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
        val media = Seq(Multimodal.MediaRow(
          1L, bos.toByteArray,
          Multimodal.MediaMeta(mime, 16, 16, bos.size.toLong))).toDF()
        assert((Multimodal.imageDHash(media).count() == 1L) == report(mime), mime)
    }
    val webp = "RIFF0000WEBPVP8 not really".getBytes("US-ASCII")
    val webpDf = Seq(Multimodal.MediaRow(
      9L, webp, Multimodal.MediaMeta("image/webp", 0, 0, webp.length.toLong))).toDF()
    assert((Multimodal.imageDHash(webpDf).count() == 1L) == report("image/webp"))

    // audio parity: the real route yields the hand-computed PCM features;
    // an mp3 payload's features equal the explicit stub route's over the
    // same bytes (fallback confirmed), per the report
    val wav = squareWav(nSamples = 800, halfPeriod = 8)
    val wavDf = Seq(Multimodal.MediaRow(
      2L, wav, Multimodal.MediaMeta("audio/wav", 0, 0, wav.length.toLong))).toDF()
    val wf = Multimodal.extractFeatures(wavDf).collect()(0)
    assert((math.abs(wf.brightness - 32767.0 / 32768.0) < 1e-9) ==
      report("audio/wav"))
    val mp3 = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00) ++
      Array.tabulate(413)(i => (i % 251).toByte)
    def feats(fmt: String) = Multimodal
      .extractFeatures(Seq(Multimodal.MediaRow(
        3L, mp3, Multimodal.MediaMeta(fmt, 0, 0, mp3.length.toLong))).toDF())
      .collect()(0)
    val viaMpeg = feats("audio/mpeg")
    val viaStub = feats("application/octet-stream")
    assert((viaMpeg.brightness == viaStub.brightness &&
      viaMpeg.edge_density == viaStub.edge_density) == !report("audio/mpeg"))

    // video parity: MJPEG-AVI hashes through the public videoDHash tier,
    // mp4/webm magic yields no row
    val avi = mjpegAvi(Seq(100))
    val aviDf = Seq(Multimodal.MediaRow(
      4L, avi, Multimodal.MediaMeta("video/x-msvideo", 0, 0, avi.length.toLong))).toDF()
    assert((Multimodal.videoDHash(aviDf).count() == 1L) == report("video/x-msvideo"))
    val mp4 = Array[Byte](0, 0, 0, 20) ++ "ftypisom".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 2, 0) ++ "isom".getBytes("US-ASCII")
    val mp4Df = Seq(Multimodal.MediaRow(
      5L, mp4, Multimodal.MediaMeta("video/mp4", 0, 0, mp4.length.toLong))).toDF()
    assert((Multimodal.videoDHash(mp4Df).count() == 0L) == !report("video/mp4"))

    // the routing column: real formats flagged true, stub routes false,
    // and a NULL format routes FALSE (not NULL — a null would vanish from
    // both sides of the real-vs-stub split)
    val nullFmtDf = Seq(Multimodal.MediaRow(
      6L, Array[Byte](1, 2, 3), Multimodal.MediaMeta(null, 0, 0, 3L))).toDF()
    val routed = Multimodal
      .withDecodePath(wavDf.unionByName(mp4Df).unionByName(nullFmtDf))
      .select("media_id", "decode_real")
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(1))
      .toMap
    assert(routed == Map(2L -> true, 5L -> false, 6L -> false))
  }

  test("streaming JSONL ingest equals the batch read over mixed-codec shards") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_stream").toString
    // one zstd shard, one plain shard carrying a corrupt line
    val zo = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.FileOutputStream(s"$dir/a.jsonl.zst"))
    zo.write("{\"id\": 1, \"text\": \"uno\"}\n{\"id\": 2, \"text\": \"dos\"}\n".getBytes("UTF-8"))
    zo.close()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/b.jsonl"),
      "{\"id\": 3, \"text\": \"tres\"}\n{nope\n")
    val got = Streaming.runToMemorySink(
      spark,
      graft.sources.Jsonl.readJsonlStream(spark, dir, "id BIGINT, text STRING"),
      "jsonl_stream_sink",
      outputMode = "append"
    )
    val batch = graft.sources.Jsonl.readJsonlFor(
      graft.sources.Ingest.listFiles(spark, s"$dir/*"),
      Some("id BIGINT, text STRING"))
    assert(got.count() == 4)
    assert(
      got.orderBy("id").collect().map(r => (Option(r.get(0)), r.getString(1))).toSeq ==
        batch.orderBy("id").collect().map(r => (Option(r.get(0)), r.getString(1))).toSeq)
    assert(got.filter(col("_corrupt_record") === "{nope").count() == 1)
    // schema collision rejected, streams demand a schema by signature
    intercept[IllegalArgumentException](
      graft.sources.Jsonl.readJsonlStream(spark, dir, "id BIGINT, _corrupt_record STRING"))
  }
}
