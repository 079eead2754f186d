package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.model.{FieldSch, FieldType}
import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingestion E2E: line-protocol text files stream through the
  * typed decode and the watermark-bounded dedup into a checkpointed
  * parquet sink (SURVEY.md §2.9); the persistent LSH / IVF / PQ indexes
  * grow one `*IngestBatch` micro-batch at a time. */
class StreamIngestSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  val fields = Map(
    "v" -> FieldSch("v", FieldType.Float),
    "n" -> FieldSch("n", FieldType.Integer))

  def minuteNs(m: Long): Long = m * 60L * 1000000000L

  def writeBatch(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8)): Unit

  test("typed decode streams to a checkpointed parquet sink") {
    val in = Files.createTempDirectory("graft_ing_in").toString
    val out = Files.createTempDirectory("graft_ing_out").toString
    val ckpt = Files.createTempDirectory("graft_ing_ck").toString
    writeBatch(in, "b0.lp", Seq(
      s"m,host=h1 v=1.5,n=7i ${minuteNs(1)}",
      s"m,host=h2 v=2.5 ${minuteNs(2)}"))
    val typed = StreamIngest.typedStream(spark, in, Seq("host"), fields)
    val q = StreamIngest.toParquet(typed, out, ckpt)
    try {
      q.processAllAvailable()
      // second file arrives — offsets ensure it's processed exactly once
      writeBatch(in, "b1.lp", Seq(s"m,host=h1 v=9.0,n=1i ${minuteNs(3)}"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 3)
    val r = got.filter(col("time_ns") === minuteNs(1)).head()
    assert(r.getAs[String]("tag_host") == "h1")
    assert(r.getAs[Double]("v") == 1.5)
    assert(r.getAs[Long]("n") == 7L)
    // field absent on the wire → null after decode
    assert(got.filter(col("time_ns") === minuteNs(2))
      .head().isNullAt(got.columns.indexOf("n")))
  }

  test("poison lines (blank / malformed) are dropped, not crash-looped") {
    val in = Files.createTempDirectory("graft_poison_in").toString
    val out = Files.createTempDirectory("graft_poison_out").toString
    val ckpt = Files.createTempDirectory("graft_poison_ck").toString
    writeBatch(in, "b0.lp", Seq(
      s"m,host=h1 v=1.0 ${minuteNs(1)}",
      "",                       // blank
      "garbage with no fields", // malformed: parseLine would throw
      s"m,host=h2 v=2.0 notanumber", // bad timestamp
      s"m,host=h3 v=3.0 ${minuteNs(3)}"))
    val typed = StreamIngest.typedStream(spark, in, Seq("host"),
      Map("v" -> FieldSch("v", FieldType.Float)))
    val q = StreamIngest.toParquet(typed, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 2) // the two well-formed lines survived
  }

  test("streaming dedup suppresses replayed (series, ts) points within " +
    "the watermark and state does not block fresh points") {
    val in = Files.createTempDirectory("graft_dd_in").toString
    val out = Files.createTempDirectory("graft_dd_out").toString
    val ckpt = Files.createTempDirectory("graft_dd_ck").toString
    writeBatch(in, "b0.lp", Seq(
      s"m,host=h1 v=1.0 ${minuteNs(10)}",
      s"m,host=h1 v=1.0 ${minuteNs(10)}", // in-batch duplicate
      s"m,host=h2 v=5.0 ${minuteNs(10)}")) // same ts, OTHER series → kept
    val typed = StreamIngest.typedStream(spark, in, Seq("host"),
      Map("v" -> FieldSch("v", FieldType.Float)))
    val dedup = StreamIngest.dedupStream(typed, Seq("tag_host"),
      watermarkDelay = "10 minutes")
    val q = StreamIngest.toParquet(dedup, out, ckpt)
    try {
      q.processAllAvailable()
      // a replayed copy of the h1 point arrives a batch later (the
      // sink-retry/upsert scenario) plus one genuinely new point
      writeBatch(in, "b1.lp", Seq(
        s"m,host=h1 v=1.0 ${minuteNs(10)}", // cross-batch duplicate
        s"m,host=h1 v=2.0 ${minuteNs(12)}"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 3) // h1@10, h2@10, h1@12 — duplicates gone
    assert(got.filter(col("tag_host") === "h1" &&
      col("time_ns") === minuteNs(10)).count() == 1)
  }

  test("growing-index dedup: lshIngestBatch micro-batches mark " +
    "against and extend the ON-DISK banded index (state is the shared " +
    "persistent index, not executor memory); batch-mode ingest of the " +
    "same increments produces identical marks, and duplicates never " +
    "enter the index") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_lsh_idx").toString
    val marks = Files.createTempDirectory("graft_lsh_mk").toString
    def ingest(batchId: Long, rows: (Long, String)*): Unit =
      StreamIngest.lshIngestBatch(rows.toDF("id", "text"), "id", "text",
        idx, marks, batchId, 8, 4, 3, 4)
    // batch 0: two novel docs
    ingest(0L, 1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five")
    // batch 1: a dup of doc 1, a novel doc, and a within-batch
    // duplicate pair (12, 13)
    ingest(1L, 10L -> "alpha beta gamma delta epsilon",
      11L -> "completely different words here now",
      12L -> "brand new template words appear",
      13L -> "brand new template words appear")
    val m = spark.read.parquet(marks).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(m === Map(1L -> false, 2L -> false, 10L -> true,
      11L -> false, 12L -> false, 13L -> true), m.toString)
    // the index holds exactly the canonicals, 4 band rows each
    val (bandsDf, sigsDf) = StreamIngest.readLshIndex(spark, idx)
    val ids = bandsDf.select("id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 11L, 12L), ids.toString)
    assert(bandsDf.count() === 16L)
    assert(sigsDf.select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 11L, 12L))
    // differential: batch-mode sequential ingest of the same two
    // increments yields the same final decision for the second batch
    def sigsOf(rows: Seq[(Long, String)]) =
      graft.operators.Dedup.minhashSignatures(
        rows.toDF("doc_id", "text"), "doc_id", "text", 8, 3)
    val storeSigs = sigsOf(Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five"))
    val (bMarks, _) = graft.operators.Dedup.lshIndexIngest(
      sigsOf(Seq(10L -> "alpha beta gamma delta epsilon",
        11L -> "completely different words here now",
        12L -> "brand new template words appear",
        13L -> "brand new template words appear")),
      graft.operators.Dedup.lshBandsFromSig(storeSigs, 4, 8),
      storeSigs, 4, 8, minMatches = 4, withinBatch = true)
    val bm = bMarks.collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(bm === m.filter(_._1 >= 10L), s"$bm vs $m")
  }

  test("IVF index ingest: ivfIngestBatch micro-batches assign against " +
    "the persisted codebook and grow the on-disk index; the " +
    "index-served nProbe=1 top-k equals the batch ivfTopKFixed over " +
    "the same corpus (stored assignments are never recomputed)") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_ivf_idx").toString
    val anchors = Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
    StreamIngest.ivfIndexInit(spark, idx, anchors)
    assert(StreamIngest.readIvfCentroids(spark, idx) != null)
    def ingest(batchId: Long, rows: (Long, Seq[Double])*): Unit =
      StreamIngest.ivfIngestBatch(rows.toDF("id", "vec"), "id", "vec",
        idx, batchId)
    ingest(0L, 1L -> Seq(0.9, 0.1), 2L -> Seq(0.1, 0.9))
    ingest(1L, 3L -> Seq(0.8, 0.2), 4L -> Seq(0.2, 0.8),
      5L -> Seq(0.7, 0.7))
    val index = StreamIngest.readIvfIndex(spark, idx)
    assert(index.count() == 5L)
    // stored assignments match the operator's rule
    val lists = index.select("vec_id", "list").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lists === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L,
      5L -> 0L), lists.toString) // tie at 5 → smallest list
    // differential: index-served top-k == batch ivfTopKFixed over the
    // same corpus frame
    val corpus = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)),
      (3L, Seq(0.8, 0.2)), (4L, Seq(0.2, 0.8)), (5L, Seq(0.7, 0.7)))
      .toDF("id", "vec")
    val queries = corpus.filter(col("id") <= 2L)
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val served = asRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx, k = 3))
    val batchMode = asRows(graft.operators.Similarity.ivfTopKFixed(
      queries, corpus, "id", "vec", anchors, k = 3))
    assert(served === batchMode, s"$served vs $batchMode")
    assert(served.nonEmpty)
    // epoch compaction: row-identical index, identical served answers
    assert(StreamIngest.compactIvfIndex(spark, idx) == 5L)
    assert(StreamIngest.readIvfIndex(spark, idx).count() == 5L)
    assert(asRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx, k = 3)) === batchMode)
  }

  test("compactLshIndex folds per-batch partitions into one epoch: " +
    "row-identical contents, one partition dir left, and a later " +
    "ingest still dedups against the compacted index") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_lshc_idx").toString
    val marks = Files.createTempDirectory("graft_lshc_mk").toString
    def batchDf(rows: (Long, String)*) = rows.toDF("id", "text")
    StreamIngest.lshIngestBatch(
      batchDf(1L -> "alpha beta gamma delta epsilon"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    StreamIngest.lshIngestBatch(
      batchDf(2L -> "one two three four five"),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    def bandSet = {
      val (b, _) = StreamIngest.readLshIndex(spark, idx)
      b.select("id", "band", "band_hash").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    }
    val before = bandSet
    assert(before.size == 8)
    val (nb, ns) = StreamIngest.compactLshIndex(spark, idx)
    assert(nb == 8L && ns == 2L, s"($nb, $ns)")
    assert(bandSet === before, "compaction changed the index contents")
    // hot tail cleared; epoch carries the pruned layout (bb= dirs +
    // _layout descriptor with the watermark and bucket count)
    val hotLeft = Option(new java.io.File(s"$idx/bands").listFiles())
      .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    assert(hotLeft == 0, s"$hotLeft hot dirs left after compaction")
    val epochDirs = Option(
      new java.io.File(s"$idx/bands_epoch").listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .map(d => Option(d.listFiles()).toSeq.flatten
        .count(_.getName.startsWith("bb=")))
      .sum
    assert(epochDirs >= 1, s"$epochDirs bb= partitions in the epoch")
    val layout = StreamIngest.readLayout(spark, s"$idx/bands_epoch")
    // watermark = highest folded batch; bucket count auto-sized from
    // bytes (tiny fixture -> 1) and recorded per segment for the
    // probes; both folded batches landed in ONE segment
    assert(layout.exists(l => l.wm == 1L && l.segs.nonEmpty &&
      l.segs.forall(_.buckets == 1)), layout.toString)
    // a later micro-batch still marks against the compacted epoch
    StreamIngest.lshIngestBatch(
      batchDf(10L -> "alpha beta gamma delta epsilon",
        11L -> "novel unseen words entirely fresh"),
      "id", "text", idx, marks, 2L, 8, 4, 3, 4)
    val m = spark.read.parquet(marks)
      .filter(col("batch") === 2).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(m === Map(10L -> true, 11L -> false), m.toString)
    // the dup stayed out; the novel doc joined the compacted epoch
    assert(bandSet.map(_._1) === Set(1L, 2L, 11L))
  }

  test("lshIngestBatch replay (same batchId) is idempotent: the " +
    "retry never matches the batch against its own prior attempt's " +
    "rows, so marks and index contents equal the first attempt's " +
    "(the foreachBatch at-least-once contract)") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_lshr_idx").toString
    val marks = Files.createTempDirectory("graft_lshr_mk").toString
    def batchDf(rows: (Long, String)*) = rows.toDF("id", "text")
    StreamIngest.lshIngestBatch(
      batchDf(1L -> "alpha beta gamma delta epsilon"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    val b1 = Seq(10L -> "alpha beta gamma delta epsilon",
      11L -> "novel unseen words entirely fresh")
    def marksOf(batch: Long) = spark.read.parquet(marks)
      .filter(col("batch") === batch).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap
    def indexIds = {
      val (b, s) = StreamIngest.readLshIndex(spark, idx)
      (b.select("id").distinct().collect().map(_.getLong(0)).toSet,
        s.select("id").distinct().collect().map(_.getLong(0)).toSet)
    }
    StreamIngest.lshIngestBatch(batchDf(b1: _*),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    val firstMarks = marksOf(1L)
    val firstIndex = indexIds
    assert(firstMarks === Map(10L -> true, 11L -> false), firstMarks)
    assert(firstIndex === (Set(1L, 11L), Set(1L, 11L)), firstIndex)
    // replay the SAME batchId — pre-fix this marked 10 AND 11 dup
    // (self-match against the prior attempt) and erased 11's rows
    StreamIngest.lshIngestBatch(batchDf(b1: _*),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    assert(marksOf(1L) === firstMarks, marksOf(1L))
    assert(indexIds === firstIndex, indexIds)
  }

  test("index retention (r16): an expiry fold drops expired ids from " +
    "bands+sigs, a copy of the EXPIRED canonical's content is NOT a " +
    "dup (it becomes the new canonical and enters the index), and " +
    "later copies chain to the successor") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_lshex_idx").toString
    val marks = Files.createTempDirectory("graft_lshex_mk").toString
    def batchDf(rows: (Long, String)*) = rows.toDF("id", "text")
    val textA = "alpha beta gamma delta epsilon zeta"
    val textB = "one two three four five six"
    StreamIngest.lshIngestBatch(batchDf(1L -> textA, 2L -> textB),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    StreamIngest.compactLshIndex(spark, idx)
    // canonical 1 alive: its copy is a dup and stays OUT of the index
    StreamIngest.lshIngestBatch(batchDf(20L -> textA),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    def marksOf(b: Long) = spark.read.parquet(marks)
      .filter(col("batch") === b).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(marksOf(1L) === Map(20L -> true))
    // retention: id 1 expires; the fold drops its rows from BOTH frames
    StreamIngest.compactLshIndex(spark, idx,
      liveIds = Some(Seq(2L).toDF("id")))
    val (b, sg) = StreamIngest.readLshIndex(spark, idx)
    assert(b.select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(2L))
    assert(sg.select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(2L))
    // successor rule: the next copy of A is NOT a dup — it becomes
    // the new canonical and enters the index
    StreamIngest.lshIngestBatch(batchDf(21L -> textA),
      "id", "text", idx, marks, 2L, 8, 4, 3, 4)
    assert(marksOf(2L) === Map(21L -> false))
    // and later copies chain to the SUCCESSOR, not the ghost
    StreamIngest.lshIngestBatch(batchDf(22L -> textA),
      "id", "text", idx, marks, 3L, 8, 4, 3, 4)
    assert(marksOf(3L) === Map(22L -> true))
    val ids = StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 21L), ids.toString)
  }

  test("SemDeDup over the persistent IVF index (r16): " +
    "semanticIngestBatch micro-batches take within-list verdicts " +
    "against the GROWN index (no re-clustering), non-dups extend the " +
    "same index top-k serves, and batch-mode ingest of the same " +
    "increments produces identical marks — incl. the within-batch " +
    "earlier-sibling rule and same-batchId replay idempotence") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_sem_idx").toString
    val marks = Files.createTempDirectory("graft_sem_mk").toString
    val anchors = Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))
    StreamIngest.ivfIndexInit(spark, idx, anchors)
    def ingest(batchId: Long, rows: (Long, Seq[Double])*): Unit =
      StreamIngest.semanticIngestBatch(rows.toDF("id", "vec"), "id",
        "vec", idx, marks, batchId, threshold = 0.95)
    // batch 0: two canonicals, one per list
    ingest(0L, 1L -> Seq(1.0, 0.05), 2L -> Seq(0.05, 1.0))
    // batch 1: a near-copy of 1 (dup), a diagonal newcomer in
    // list 0 (novel), and 12/13: 12 is a within-batch near-dup of
    // 11 (cos ~ 0.965) AND 13 of 12 -- the earlier-sibling chain
    ingest(1L, 10L -> Seq(0.99, 0.08), 11L -> Seq(0.75, 0.66),
      12L -> Seq(0.9, 0.44), 13L -> Seq(0.89, 0.45))
    val m = spark.read.parquet(marks).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("is_dup")).toMap
    assert(m === Map(1L -> false, 2L -> false, 10L -> true,
      11L -> false, 12L -> true, 13L -> true), m.toString)
    // the index holds exactly the canonicals — and SERVES them
    val index = StreamIngest.readIvfIndex(spark, idx)
    assert(index.select("vec_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 11L))
    val served = StreamIngest.ivfIndexTopK(spark,
      Seq((100L, Seq(1.0, 0.0))).toDF("id", "vec"), "id", "vec",
      idx, 2).select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(served === Set(1L, 11L), served.toString)
    // batch-mode differential: the same increments through
    // semanticDedupIngest give the SAME batch-1 decisions
    val stored = Seq((1L, 0L, Seq(1.0, 0.05)), (2L, 1L, Seq(0.05, 1.0)))
      .toDF("vec_id", "list", "vec")
    val b1 = Seq((10L, Seq(0.99, 0.08)), (11L, Seq(0.75, 0.66)),
      (12L, Seq(0.9, 0.44)), (13L, Seq(0.89, 0.45))).toDF("id", "vec")
    val (bm, _) = graft.operators.Similarity.semanticDedupIngest(
      b1, "id", "vec", stored, anchors, threshold = 0.95)
    assert(bm.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      === m.filter(_._1 >= 10L))
    // replay (foreachBatch at-least-once): same batchId, same result
    StreamIngest.semanticIngestBatch(b1.withColumnRenamed("id", "vid")
      .select(col("vid").as("id"), col("vec")), "id", "vec", idx,
      marks, 1L, threshold = 0.95)
    val m2 = spark.read.parquet(marks).filter(col("batch") === 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("is_dup")).toMap
    assert(m2 === m.filter(_._1 >= 10L), m2.toString)
    assert(StreamIngest.readIvfIndex(spark, idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 11L))
  }

  test("compaction cadence (r16): lshIngestBatch micro-batches grow " +
    "hot batch dirs; the tick-side policy folds past the threshold " +
    "(below it: no-op), and served dedup decisions are identical " +
    "before and after the fold") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_cad_idx").toString
    val marks = Files.createTempDirectory("graft_cad_mk").toString
    for (b <- 0 until 3)
      StreamIngest.lshIngestBatch(Seq(
        (10L * b + 1, s"unique batch $b words alpha$b beta$b"),
        (10L * b + 2, s"other batch $b words gamma$b delta$b"))
        .toDF("id", "text"), "id", "text", idx, marks, b.toLong,
        8, 4, 3, 4)
    def hotDirs = Option(new java.io.File(s"$idx/bands").listFiles())
      .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    assert(hotDirs == 3)
    // served decision BEFORE the fold: a dup of batch 0's doc
    val probe = Seq(100L -> "unique batch 0 words alpha0 beta0")
      .toDF("id", "text")
    def decide(): Map[Long, Boolean] = {
      val sigs = graft.operators.Dedup.minhashSignatures(
        probe, "id", "text", 8, 3)
      val (sb, ss) = StreamIngest.readLshIndex(spark, idx)
      graft.operators.Dedup.lshIndexIngest(sigs, sb, ss, 4, 8, 4)._1
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val before = decide()
    assert(before === Map(100L -> true))
    // below threshold: no-op (ingest is quiesced — the contract)
    assert(!StreamIngest.maybeCompactLshIndex(spark, idx,
      maxHotBatches = 3))
    assert(hotDirs == 3)
    // past threshold: the tick folds, hot tail clears, decisions hold
    assert(StreamIngest.maybeCompactLshIndex(spark, idx,
      maxHotBatches = 2))
    assert(hotDirs == 0)
    assert(new java.io.File(s"$idx/bands_epoch").exists())
    assert(decide() === before)
    // maintainIndexes detects the face from the layout alone
    assert(StreamIngest.maintainIndexes(spark, Seq(idx),
      maxHotBatches = 2) === Seq(idx -> false)) // freshly folded
  }

  test("IVF index retention (r16): the expiry fold drops expired " +
    "vec_ids and the served top-k ranks only survivors") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_ivfex_idx").toString
    StreamIngest.ivfIndexInit(spark, idx, Seq(
      0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    val corpus = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.8, 0.2)),
      (3L, Seq(0.7, 0.3)), (4L, Seq(0.1, 0.9))).toDF("id", "vec")
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    // vec 2 expires
    assert(StreamIngest.compactIvfIndex(spark, idx,
      liveIds = Some(Seq(1L, 3L, 4L).toDF("vec_id"))) == 3L)
    val queries = Seq((100L, Seq(0.95, 0.05))).toDF("id", "vec")
    val got = StreamIngest.ivfIndexTopK(spark, queries, "id", "vec",
      idx, 5).select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L), got.toString) // list-0 survivors only
  }

  test("multi-probe index serve (r16): nProbe=2 recalls a cross-list " +
    "true neighbor nProbe=1 misses; nProbe=nlist equals brute-force " +
    "over the stored index (exhaustive differential); the serve stays " +
    "deterministic end to end") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_mp_idx").toString
    // anchors 45 degrees apart on the circle: a query BETWEEN lists
    // has near neighbors in its second-best list too
    StreamIngest.ivfIndexInit(spark, idx, Seq(
      0 -> Array(1.0, 0.0), 1 -> Array(math.sqrt(0.5), math.sqrt(0.5)),
      2 -> Array(0.0, 1.0)))
    def v(a: Double) = Seq(math.cos(a), math.sin(a))
    val corpus = Seq(
      (1L, v(0.05)), (2L, v(0.30)),          // list 0
      (3L, v(0.55)), (4L, v(0.80)),          // list 1
      (5L, v(1.35)), (6L, v(1.50)))          // list 2
      .toDF("id", "vec")
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.compactIvfIndex(spark, idx)
    // query at 0.35 rad: best list 1 wait -- assignment picks its own
    // best anchor; its TRUE 2-NN straddle the list-0/list-1 boundary
    val q = Seq((100L, v(0.40))).toDF("id", "vec")
    def serve(nProbe: Int) = StreamIngest.ivfIndexTopK(spark, q,
      "id", "vec", idx, 2, nProbe)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val one = serve(1)
    val two = serve(2)
    // true 2-NN of 0.40 are 2 (0.30) and 3 (0.55) -- different lists;
    // nProbe=1 can only see ONE list's side, nProbe=2 sees both
    assert(two === Set(2L, 3L), two.toString)
    assert(one !== two, s"nProbe=1 $one should miss a cross-list NN")
    // exhaustive differential: nProbe = nlist == brute force over the
    // stored index (same rounded ranking, same exclusions)
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine_r"))).toSet
    val all = asRows(StreamIngest.ivfIndexTopK(spark, q, "id", "vec",
      idx, 4, nProbe = 3))
    val brute = asRows(graft.operators.Similarity.bruteForceTopK(
      q.toDF("vec_id", "embedding"),
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", 4))
    assert(all === brute, s"$all vs $brute")
  }

  test("PQ/codes face of the persistent IVF index (r17): the index " +
    "stores codes only (no raw vectors), the IVFADC serve re-ranks " +
    "against the corpus frame, the exhaustive corner equals brute " +
    "force before AND after compaction, and nProbe=1 stays within " +
    "the probed list") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_pq_idx").toString
    StreamIngest.ivfIndexInit(spark, idx, Seq(
      0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    def v(a: Double) = Seq(math.cos(a), math.sin(a))
    val corpus = Seq(
      (1L, v(0.05)), (2L, v(0.30)), (3L, v(0.55)),
      (4L, v(1.00)), (5L, v(1.30)), (6L, v(1.50)),
      (7L, v(0.70)), (8L, v(1.15))).toDF("id", "vec")
    StreamIngest.pqBooksInit(spark, idx,
      graft.operators.Similarity.trainPqBooks(corpus, "id", "vec",
        numSub = 2, ksub = 4, iters = 5, sampleN = 8))
    assert(StreamIngest.readPqBooks(spark, idx).length == 2)
    StreamIngest.ivfPqIngestBatch(corpus, "id", "vec", idx, 0L)
    // the codes face must never store a raw vector
    val hotCols = spark.read
      .parquet(s"$idx/codes/batch=0").columns.toSet
    assert(hotCols === Set("vec_id", "list", "codes"), hotCols)
    val q = Seq((100L, v(0.40)), (101L, v(1.20))).toDF("id", "vec")
    def asRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine_r"))).toSet
    val brute = asRows(graft.operators.Similarity.bruteForceTopK(
      q.toDF("vec_id", "embedding"),
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", 3))
    def degenerate() = asRows(StreamIngest.ivfPqIndexTopK(spark, q,
      "id", "vec", idx, corpus, k = 3, nProbe = 2, refine = 100))
    // hot-tier serve (pre-compaction)
    assert(degenerate() === brute)
    // fold into the list= epoch; same answers from the pruned serve
    assert(StreamIngest.compactIvfIndex(spark, idx) == 8L)
    assert(degenerate() === brute)
    // nProbe=1 ranks only within each query's own best list
    val one = StreamIngest.ivfPqIndexTopK(spark, q, "id", "vec", idx,
      corpus, k = 8, nProbe = 1, refine = 100)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    // query 100 (0.40 rad) assigns to list 0 = {1,2,3,7}; query 101
    // (1.20 rad) to list 1 = {4,5,6,8}
    assert(one === Set(100L -> 1L, 100L -> 2L, 100L -> 3L,
      100L -> 7L, 101L -> 4L, 101L -> 5L, 101L -> 6L, 101L -> 8L),
      one.toString)
  }

  test("LSM-tiered epoch (r17): a fold with a small hot tail leaves " +
    "the big bottom segment UNTOUCHED (O(hot), not O(store)); " +
    "same-size segments merge geometrically; contents and dedup " +
    "decisions are identical throughout") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_lsm_idx").toString
    val marks = Files.createTempDirectory("graft_lsm_mk").toString
    def batchDf(rows: (Long, String)*) = rows.toDF("id", "text")
    def segNames = StreamIngest
      .readLayout(spark, s"$idx/bands_epoch").toSeq
      .flatMap(_.segs.map(s => (s.name, s.bytes)))
    // a BIG bottom segment (big enough that parquet's per-file
    // metadata floor can't bring a one-doc tail within the merge
    // ratio of it): 300 docs folded once
    val store = (1L to 300L).map(i =>
      (i, s"stored document $i alpha$i beta$i gamma$i delta$i"))
    StreamIngest.lshIngestBatch(batchDf(store: _*), "id", "text",
      idx, marks, 0L, 8, 4, 3, 4)
    StreamIngest.compactLshIndex(spark, idx)
    val bottom = segNames
    assert(bottom.length == 1, bottom.toString)
    def allIds = StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    val idsAfterBottom = allIds
    // ONE tiny hot batch folds -> a NEW small segment; the bottom
    // segment survives BY NAME with IDENTICAL bytes (never re-read,
    // never rewritten — the r16 weak was rewriting it every fold)
    StreamIngest.lshIngestBatch(
      batchDf(1001L -> "tiny novel tail document epsilon zeta eta"),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    StreamIngest.compactLshIndex(spark, idx)
    val twoTiers = segNames
    assert(twoTiers.length == 2 && twoTiers.head == bottom.head,
      s"bottom segment must be untouched: $bottom -> $twoTiers")
    assert(allIds === idsAfterBottom + 1001L)
    // similar-size tails MERGE (the log policy) instead of accreting
    // unbounded segments: fold several more tiny batches — the stack
    // never exceeds bottom + O(log) small segments, and the newest
    // two always satisfy the geometric invariant
    for (b <- 2L to 6L) {
      StreamIngest.lshIngestBatch(
        batchDf((1000L + b) -> s"tail doc $b theta$b iota$b kappa$b"),
        "id", "text", idx, marks, b, 8, 4, 3, 4)
      StreamIngest.compactLshIndex(spark, idx)
      val segs = segNames
      assert(segs.head == bottom.head, s"bottom rewritten: $segs")
      assert(segs.length <= 4, s"stack must stay logarithmic: $segs")
    }
    assert(allIds === idsAfterBottom ++ (1001L to 1006L).toSet)
    // and the probe still dedups against every tier
    StreamIngest.lshIngestBatch(
      batchDf(2000L -> "stored document 7 alpha7 beta7 gamma7 delta7",
        2001L -> "tiny novel tail document epsilon zeta eta",
        2002L -> "fresh unseen content nothing matches this"),
      "id", "text", idx, marks, 7L, 8, 4, 3, 4)
    val m = spark.read.parquet(marks).filter(col("batch") === 7)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup"))
      .toMap
    assert(m === Map(2000L -> true, 2001L -> true, 2002L -> false), m)
  }

  test("single-writer gate (r17): an _inflight_ marker (a batch that " +
    "failed mid-write) stops the fold at the stalled batch — its " +
    "rows never reach the epoch, the watermark never passes it, and " +
    "the successful retry clears the stall so the next fold " +
    "proceeds") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_gate_idx").toString
    val marks = Files.createTempDirectory("graft_gate_mk").toString
    def batchDf(rows: (Long, String)*) = rows.toDF("id", "text")
    StreamIngest.lshIngestBatch(
      batchDf(1L -> "alpha beta gamma delta epsilon"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    // batch 1 "fails mid-write": its bands/sigs landed but the marks
    // write didn't — simulated as the on-disk state such a failure
    // leaves: batch=1 dirs present AND the _inflight_1 marker present
    StreamIngest.lshIngestBatch(
      batchDf(10L -> "novel words entirely fresh content"),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    val markerPath = java.nio.file.Paths.get(idx, "_inflight_1")
    java.nio.file.Files.createFile(markerPath): Unit
    // batch 2 succeeds after the stall
    StreamIngest.lshIngestBatch(
      batchDf(20L -> "another later acknowledged batch text"),
      "id", "text", idx, marks, 2L, 8, 4, 3, 4)
    // the fold must stop BELOW batch 1: folding batch 2 past the
    // stall would advance the watermark over it and make the retry's
    // rewritten batch=1 dir invisible to every reader
    StreamIngest.compactLshIndex(spark, idx)
    val l1 = StreamIngest.readLayout(spark, s"$idx/bands_epoch").get
    assert(l1.wm == 0L, s"fold passed an in-flight batch: $l1")
    assert(new java.io.File(s"$idx/bands/batch=1").exists())
    assert(new java.io.File(s"$idx/bands/batch=2").exists())
    // every reader still sees all three batches exactly once
    assert(StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(1L, 10L, 20L))
    // the retry rewrites batch 1 whole and clears the marker; the
    // next fold folds everything
    StreamIngest.lshIngestBatch(
      batchDf(10L -> "novel words entirely fresh content"),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    assert(!java.nio.file.Files.exists(markerPath),
      "successful retry must clear its in-flight marker")
    StreamIngest.compactLshIndex(spark, idx)
    val l2 = StreamIngest.readLayout(spark, s"$idx/bands_epoch").get
    assert(l2.wm == 2L, l2.toString)
    assert(StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(1L, 10L, 20L))
  }

  test("empty expiry fold (r17): retention that drops EVERY row " +
    "commits an empty epoch (no crash on the empty write), clears " +
    "the hot tail, and the index restarts cleanly from the next " +
    "ingest") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_empty_idx").toString
    val marks = Files.createTempDirectory("graft_empty_mk").toString
    def batchDf(rows: (Long, String)*) = rows.toDF("id", "text")
    StreamIngest.lshIngestBatch(
      batchDf(1L -> "alpha beta gamma delta epsilon",
        2L -> "one two three four five"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    // liveIds disjoint from the index: everything expires — r16 threw
    // 'Unable to infer schema' reading back the fileless empty epoch
    val (nb, ns) = StreamIngest.compactLshIndex(spark, idx,
      liveIds = Some(Seq(999L).toDF("id")))
    assert(nb == 0L && ns == 0L, s"($nb, $ns)")
    val (b, sg) = StreamIngest.readLshIndex(spark, idx)
    assert(b.count() == 0L && sg.count() == 0L)
    val hotLeft = Option(new java.io.File(s"$idx/bands").listFiles())
      .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    assert(hotLeft == 0, s"$hotLeft hot dirs after the empty fold")
    // the next copy of an expired canonical is the new canonical
    StreamIngest.lshIngestBatch(
      batchDf(30L -> "alpha beta gamma delta epsilon"),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    val m = spark.read.parquet(marks).filter(col("batch") === 1)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_dup"))
      .toMap
    assert(m === Map(30L -> false), m.toString)
    // and a fold AFTER the restart works (wm advances past the void)
    StreamIngest.compactLshIndex(spark, idx)
    assert(StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(30L))
  }

  test("manifest crash recovery (r17): a crash between the manifest " +
    "delete and the tmp rename leaves only _layout.tmp — readers " +
    "recover it as the committed state (no silent empty-index " +
    "window; the r16 two-rename epoch swap had an unrecoverable " +
    "gap)") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_rec_idx").toString
    val marks = Files.createTempDirectory("graft_rec_mk").toString
    StreamIngest.lshIngestBatch(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("id", "text"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    StreamIngest.compactLshIndex(spark, idx)
    val layout = java.nio.file.Paths.get(idx, "bands_epoch", "_layout")
    val tmp = java.nio.file.Paths.get(idx, "bands_epoch", "_layout.tmp")
    // simulate the crash window: the new manifest was fully written
    // as tmp, the old was deleted, the rename never ran
    java.nio.file.Files.move(layout, tmp): Unit
    val recovered = StreamIngest
      .readLayout(spark, s"$idx/bands_epoch")
    assert(recovered.exists(_.wm == 0L), recovered.toString)
    assert(java.nio.file.Files.exists(layout) &&
      !java.nio.file.Files.exists(tmp),
      "recovery must promote the tmp manifest")
    assert(StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(1L))
  }

  test("manifest format-version gate (r20): a manifest NEWER than " +
    "this binary refuses loudly instead of misparsing (the r18→r19 " +
    "retired-stamp change showed silent downgrade misparses weaken " +
    "the grace and id-reuse guards); current and key-less manifests " +
    "read fine") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_ver_idx").toString
    val marks = Files.createTempDirectory("graft_ver_mk").toString
    StreamIngest.lshIngestBatch(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("id", "text"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    StreamIngest.compactLshIndex(spark, idx)
    val layout = java.nio.file.Paths.get(idx, "bands_epoch", "_layout")
    val txt = new String(java.nio.file.Files.readAllBytes(layout),
      "UTF-8")
    assert(txt.startsWith("manifest=3\n"),
      s"this binary must stamp its format version: $txt")
    // out-of-band rewrites must drop the local-FS checksum sidecar
    def rewrite(body: String): Unit = {
      java.nio.file.Files.write(layout, body.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(
        layout.resolveSibling("._layout.crc")): Unit
    }
    // current version reads
    assert(StreamIngest.readLayout(spark, s"$idx/bands_epoch").nonEmpty)
    // a key-less (pre-r20) manifest reads — the key is opt-in history
    rewrite(txt.stripPrefix("manifest=3\n"))
    assert(StreamIngest.readLayout(spark, s"$idx/bands_epoch").nonEmpty)
    // a NEWER version refuses loudly
    rewrite("manifest=99\n" + txt.stripPrefix("manifest=3\n"))
    val e = intercept[IllegalArgumentException] {
      StreamIngest.readLayout(spark, s"$idx/bands_epoch")
    }
    assert(e.getMessage.contains("format v99"), e.getMessage)
  }

  test("tombstone retention (r18): an expiry fold writes O(expired) " +
    "tombstones instead of rewriting the store — data segments stay " +
    "byte-identical on disk, reads suppress expired ids, an id " +
    "re-added AFTER the tombstone is NOT suppressed (covers " +
    "scoping), and the next geometric merge drops the dead rows " +
    "physically and retires the spent tombstone") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_tomb_idx").toString
    val marks = Files.createTempDirectory("graft_tomb_mk").toString
    def batchDf(rows: (Long, String)*) = rows.toDF("id", "text")
    StreamIngest.lshIngestBatch(batchDf(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    StreamIngest.compactLshIndex(spark, idx)
    def segState(seg: String) = Option(new java.io.File(
      s"$idx/bands_epoch/$seg").listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    val seg1Before = segState("seg_1")
    assert(seg1Before.nonEmpty)
    // expiry: id 1 dies — O(expired) tombstone, NOT a store rewrite
    val (nb, ns) = StreamIngest.compactLshIndex(spark, idx,
      liveIds = Some(Seq(2L).toDF("id")))
    assert(nb == 4L && ns == 1L, s"live rows after expiry: ($nb, $ns)")
    val l1 = StreamIngest.readLayout(spark, s"$idx/bands_epoch").get
    assert(l1.tombs.map(t => (t.rows, t.covers)) === Seq((1L, 1L)),
      l1.toString)
    assert(l1.segs.map(_.name) === Seq("seg_1"), l1.toString)
    assert(l1.segs.head.rows == 8L, "physical rows untouched")
    assert(segState("seg_1") === seg1Before,
      "expiry must not rewrite the data segment")
    // reads suppress the expired id everywhere
    val (b1, s1) = StreamIngest.readLshIndex(spark, idx)
    assert(b1.select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(2L))
    assert(s1.select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(2L))
    // the stats frame sees the tombstone
    val st = StreamIngest.indexStats(spark, Seq(idx)).collect()
      .find(_.getString(1) == "bands").get
    assert(st.getInt(st.fieldIndex("tombstones")) == 1)
    assert(st.getLong(st.fieldIndex("tomb_rows")) == 1L)
    // id 1 re-added with NEW content: younger than the tombstone's
    // coverage, so it must NOT be suppressed (the successor rule
    // extends to id re-use) — visible from the hot tail...
    StreamIngest.lshIngestBatch(batchDf(
      1L -> "fresh successor content entirely new",
      3L -> "nine ten eleven twelve thirteen"),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    assert(StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // ...and after the fold: similar segment sizes force the
    // geometric merge, which drops the dead rows PHYSICALLY and
    // retires the spent tombstone
    StreamIngest.compactLshIndex(spark, idx)
    val l2 = StreamIngest.readLayout(spark, s"$idx/bands_epoch").get
    assert(l2.tombs.isEmpty,
      s"merged-away coverage must retire the tombstone: $l2")
    assert(l2.segs.map(_.rows).sum == 12L,
      s"dead rows must be physically gone: $l2")
    assert(StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
  }

  test("LSM merge policy under adversarial shapes (r18): many tiny " +
    "batches keep the stack logarithmic (cascades run), a giant " +
    "batch lands cleanly, expiry interleaves without breaking " +
    "either, and a kill mid-cascade (orphan segment dirs) never " +
    "changes a read and is cleaned by the next fold's commit") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_casc_idx").toString
    val marks = Files.createTempDirectory("graft_casc_mk").toString
    def doc(id: Long) = (id,
      (1 to 8).map(k => s"w${id}_$k").mkString(" "))
    var batch = 0L
    def ingest(ids: Seq[Long]): Unit = {
      StreamIngest.lshIngestBatch(ids.map(doc).toDF("id", "text"),
        "id", "text", idx, marks, batch, 8, 4, 3, 4)
      batch += 1
    }
    // 12 tiny batches, folding after each: the stack must stay
    // logarithmic in fold count, never one segment per batch
    (0 until 12).foreach { k =>
      ingest((k * 3 until (k + 1) * 3).map(_.toLong))
      StreamIngest.compactLshIndex(spark, idx)
      val l = StreamIngest.readLayout(spark, s"$idx/bands_epoch").get
      val bound = math.ceil(math.log(k + 2.0) / math.log(2.0)).toInt + 1
      assert(l.segs.length <= bound,
        s"fold $k: ${l.segs.length} segments > O(log) bound $bound")
    }
    assert(StreamIngest.readLshIndex(spark, idx)._1.count() == 144L)
    // giant batch: 3x everything so far in ONE micro-batch
    ingest((100L until 208L))
    StreamIngest.compactLshIndex(spark, idx)
    assert(StreamIngest.readLshIndex(spark, idx)._1.count() == 576L)
    // interleaved expiry (every id % 3 == 0 dies) over the stack
    val live = ((0L until 36L) ++ (100L until 208L))
      .filter(_ % 3 != 0)
    StreamIngest.compactLshIndex(spark, idx,
      liveIds = Some(live.toDF("id")))
    def liveIdSet = StreamIngest.readLshIndex(spark, idx)._1
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(liveIdSet === live.toSet)
    assert(StreamIngest.readLshIndex(spark, idx)._1.count() ==
      live.length * 4L)
    // kill mid-cascade: a crashed cascade leaves fully-written but
    // UNCOMMITTED segment dirs — readers must ignore them and the
    // next fold's commit must clean them
    Seq(1L, 2L).toDF("id")
      .write.parquet(s"$idx/bands_epoch/seg_999")
    assert(liveIdSet === live.toSet,
      "an uncommitted segment must be invisible")
    ingest(Seq(300L, 301L))
    StreamIngest.compactLshIndex(spark, idx)
    assert(!new java.io.File(s"$idx/bands_epoch/seg_999").exists(),
      "the next commit must clear crashed-cascade garbage")
    assert(liveIdSet === live.toSet ++ Set(300L, 301L))
  }

  // ---- codebook drift repair (r18) ---------------------------------

  /** Drift fixture: two clean clusters that BOTH assign to list 0
    * under the stale 2-anchor codebook ([1,0] / [0,1]) — cluster A
    * hugs [1, 0], cluster B hugs [0.8, 0.6] (cos 0.8 vs 0.6 against
    * the stale anchors → list 0 for all) — so the stored index is
    * maximally skewed (skew = 2.0) and a k=2 re-train must separate
    * them (balanced lists, skew 1.0). */
  private def driftCorpus = {
    import spark.implicits._
    val a = (0 until 7).map(i => (10L + i, Seq(1.0, 0.01 * i)))
    val b = (0 until 7).map(i => (20L + i, Seq(0.8, 0.6 + 0.01 * i)))
    (a ++ b).toDF("id", "vec")
  }

  private def staleAnchors =
    Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0))

  private def asTopkRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "rank", "neighbor_id", "cosine_r")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet

  test("codebook drift repair on the tick (r18, r19 per-list): a " +
    "skewed stream crosses the index-max-skew threshold, " +
    "maintainIndexes runs the INCREMENTAL repair (splitIvfLists: " +
    "sub-centroids for the skewed list only, delta segments + " +
    "ltombs, starved-anchor pruning, per-face versioned manifests), " +
    "lists come out balanced, and BOTH faces' serves still equal " +
    "brute force across the swap") {
    val idx = Files.createTempDirectory("graft_drift_idx").toString
    val corpus = driftCorpus
    StreamIngest.ivfIndexInit(spark, idx, staleAnchors)
    StreamIngest.pqBooksInit(spark, idx,
      graft.operators.Similarity.trainPqBooks(corpus, "id", "vec",
        numSub = 2, ksub = 4))
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.ivfPqIngestBatch(corpus, "id", "vec", idx, 1L)
    assert(StreamIngest.compactIvfIndex(spark, idx) == 28L)
    // every vector crowded into list 0 under the stale codebook
    val skew0 = StreamIngest.ivfListSkew(spark, idx)
    assert(skew0 > 1.9, s"fixture must be skewed, got $skew0")
    // below the threshold: the tick does NOT re-cluster
    assert(StreamIngest.maintainIndexes(spark, Seq(idx),
      maxHotBatches = 8, maxSkew = 2.5).forall(!_._2))
    assert(StreamIngest.ivfListSkew(spark, idx) == skew0)
    // above it: the tick re-clusters
    val ticked = StreamIngest.maintainIndexes(spark, Seq(idx),
      maxHotBatches = 8, maxSkew = 1.5)
    assert(ticked.forall(_._2), ticked.toString)
    // lists balanced: the two real clusters separated (skew 1.0)
    val skew1 = StreamIngest.ivfListSkew(spark, idx)
    assert(skew1 < 1.2, s"re-cluster must balance lists, got $skew1")
    // BOTH faces committed the same versioned codebook
    for (face <- Seq("assign", "codes")) {
      val l = StreamIngest.readLayout(spark, s"$idx/${face}_epoch")
      assert(l.flatMap(_.codebook)
        === Some("centroids_v2.parquet"), s"$face: $l")
    }
    // serves across the swap still equal brute force at the
    // degenerate-exact corner (nProbe = nlist = 2, shortlist ≥ all)
    val queries = corpus.filter(col("id").isin(10L, 20L, 15L))
    val brute = asTopkRows(graft.operators.Similarity
      .bruteForceTopK(queries, corpus, "id", "vec", 3))
    assert(brute.nonEmpty)
    assert(asTopkRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx, 3, nProbe = 2)) === brute, "assign serve")
    assert(asTopkRows(StreamIngest.ivfPqIndexTopK(spark, queries,
      "id", "vec", idx, corpus, 3, nProbe = 2, refine = 10))
      === brute, "codes serve")
    // a re-cluster with NO codes face also works (assign-only root)
    val idx2 = Files.createTempDirectory("graft_drift2_idx").toString
    StreamIngest.ivfIndexInit(spark, idx2, staleAnchors)
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx2, 0L)
    StreamIngest.compactIvfIndex(spark, idx2): Unit
    assert(StreamIngest.reclusterIvfIndex(spark, idx2))
    assert(asTopkRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx2, 3, nProbe = 2)) === brute)
  }

  test("index observability (r18): indexStats reports per-tier " +
    "manifest state, hot depth, and live _inflight_ stalls; a " +
    "stalled root past the cadence threshold WARNS on the tick " +
    "instead of silently re-skipping forever") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_obs_idx").toString
    val marks = Files.createTempDirectory("graft_obs_mk").toString
    StreamIngest.lshIngestBatch(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("id", "text"),
      "id", "text", idx, marks, 0L, 8, 4, 3, 4)
    StreamIngest.compactLshIndex(spark, idx): Unit
    StreamIngest.lshIngestBatch(
      Seq((2L, "one two three four five")).toDF("id", "text"),
      "id", "text", idx, marks, 1L, 8, 4, 3, 4)
    val st = StreamIngest.indexStats(spark, Seq(idx))
      .collect().map(r => r.getString(1) -> r).toMap
    assert(st.keySet === Set("bands", "sigs"), st.keySet.toString)
    val b = st("bands")
    assert(b.getLong(b.fieldIndex("wm")) == 0L)
    assert(b.getInt(b.fieldIndex("segments")) == 1)
    assert(b.getLong(b.fieldIndex("seg_rows")) == 4L) // 4 bands/doc
    assert(b.getLong(b.fieldIndex("seg_bytes")) > 0L)
    assert(b.getInt(b.fieldIndex("hot_batches")) == 1)
    assert(b.getLong(b.fieldIndex("hot_rows")) == 4L)
    assert(b.getInt(b.fieldIndex("inflight")) == 0)
    assert(b.isNullAt(b.fieldIndex("codebook")), "LSH tier: no book")
    assert(b.isNullAt(b.fieldIndex("list_skew")))
    // an abandoned stream's marker (written, never cleared) stalls
    // the fold at batch 1 — the stats surface it with an age
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(idx, "_inflight_1")): Unit
    val st2 = StreamIngest.indexStats(spark, Seq(idx)).collect()
    assert(st2.forall(r => r.getInt(r.fieldIndex("inflight")) == 1))
    assert(st2.forall(r =>
      r.getLong(r.fieldIndex("oldest_inflight_ms")) >= 0L))
    // the tick refuses to fold past the marker AND warns once the
    // hot tail has outgrown the cadence threshold
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try StreamIngest.maintainIndexes(spark, Seq(idx),
      maxHotBatches = 0): Unit
    finally System.setErr(old)
    val warned = buf.toString("UTF-8")
    assert(warned.contains("stalling compaction") &&
      warned.contains(idx), warned)
    assert(StreamIngest.indexStats(spark, Seq(idx)).collect()
      .find(_.getString(1) == "bands")
      .exists(r => r.getInt(r.fieldIndex("hot_batches")) == 1))
    // marker cleared (operator action) -> the next tick folds
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(idx, "_inflight_1"))
    StreamIngest.maintainIndexes(spark, Seq(idx),
      maxHotBatches = 0): Unit
    val b3 = StreamIngest.indexStats(spark, Seq(idx)).collect()
      .find(_.getString(1) == "bands").get
    assert(b3.getLong(b3.fieldIndex("wm")) == 1L)
    assert(b3.getInt(b3.fieldIndex("hot_batches")) == 0)
    assert(b3.getLong(b3.fieldIndex("seg_rows")) == 8L)
  }

  test("re-cluster kill between the two face commits (r18): the " +
    "codes face lands on the new codebook, the assign face stays on " +
    "the old — BOTH serves stay correct (per-face codebook " +
    "resolution pairs each face's rows with its own anchors), a new " +
    "codes ingest labels against the CODES manifest's anchors, and " +
    "the next re-cluster converges the versions") {
    val idx = Files.createTempDirectory("graft_kill_idx").toString
    val corpus = driftCorpus
    StreamIngest.ivfIndexInit(spark, idx, staleAnchors)
    StreamIngest.pqBooksInit(spark, idx,
      graft.operators.Similarity.trainPqBooks(corpus, "id", "vec",
        numSub = 2, ksub = 4))
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.ivfPqIngestBatch(corpus, "id", "vec", idx, 1L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    StreamIngest.reclusterCrashBeforeAssignCommit = true
    try intercept[RuntimeException] {
      StreamIngest.reclusterIvfIndex(spark, idx)
    } finally StreamIngest.reclusterCrashBeforeAssignCommit = false
    // the crash window: faces one codebook version apart...
    assert(StreamIngest.readLayout(spark, s"$idx/codes_epoch")
      .flatMap(_.codebook) === Some("centroids_v2.parquet"))
    assert(StreamIngest.readLayout(spark, s"$idx/assign_epoch")
      .flatMap(_.codebook) === None, "assign must still be stale")
    // ...but each self-consistent: both serves still equal brute
    // force (the r17 shape resolved the codes face through the
    // ASSIGN manifest and served wrong pruned answers here)
    val queries = corpus.filter(col("id").isin(10L, 20L, 15L))
    val brute = asTopkRows(graft.operators.Similarity
      .bruteForceTopK(queries, corpus, "id", "vec", 3))
    assert(asTopkRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx, 3, nProbe = 2)) === brute,
      "assign serve in the crash window")
    assert(asTopkRows(StreamIngest.ivfPqIndexTopK(spark, queries,
      "id", "vec", idx, corpus, 3, nProbe = 2, refine = 10))
      === brute, "codes serve in the crash window")
    // a NEW codes ingest inside the window labels with the CODES
    // manifest's (new) anchors, keeping the face self-consistent
    import spark.implicits._
    val late = Seq((30L, Seq(0.81, 0.59))).toDF("id", "vec")
    StreamIngest.ivfPqIngestBatch(late, "id", "vec", idx, 2L)
    val v2 = StreamIngest.readIvfCentroidsFace(spark, idx, "codes")
    val expected = graft.operators.Similarity
      .ivfAssignFixed(late, "id", "vec", v2)
      .select("vec_id", "list").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stored = spark.read
      .parquet(s"$idx/codes/batch=2")
      .select("vec_id", "list").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored === expected, s"$stored vs $expected")
    // recovery: the next re-cluster converges both faces (v3) and
    // serves stay exact (corpus now includes the late row)
    assert(StreamIngest.reclusterIvfIndex(spark, idx))
    for (face <- Seq("assign", "codes"))
      assert(StreamIngest.readLayout(spark, s"$idx/${face}_epoch")
        .flatMap(_.codebook) === Some("centroids_v3.parquet"), face)
    val corpus2 = corpus.unionByName(late)
    val brute2 = asTopkRows(graft.operators.Similarity
      .bruteForceTopK(queries, corpus2, "id", "vec", 3))
    assert(asTopkRows(StreamIngest.ivfPqIndexTopK(spark, queries,
      "id", "vec", idx, corpus2, 3, nProbe = 2, refine = 10))
      === brute2, "codes serve after recovery")
  }

  test("_hist sidecars survive a re-cluster (r18): the re-assigned " +
    "segment carries a fresh sidecar labeled with the NEW lists, so " +
    "the drift trigger keeps reading O(segments) after the swap it " +
    "itself caused") {
    val idx = Files.createTempDirectory("graft_histrc_idx").toString
    val corpus = driftCorpus
    StreamIngest.ivfIndexInit(spark, idx, staleAnchors)
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    // all 14 vectors crowd list 0 under the stale codebook
    assert(StreamIngest.ivfListHistogram(spark, idx)
      === Map(0L -> 14L))
    assert(StreamIngest.reclusterIvfIndex(spark, idx))
    val l = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    for (s <- l.segs)
      assert(new java.io.File(
        s"$idx/assign_epoch/${s.name}/_hist").exists(),
        s"re-clustered segment ${s.name} must carry a sidecar")
    // sidecar answers equal a live scan AND reflect the new balance
    val hist = StreamIngest.ivfListHistogram(spark, idx)
    val brute = StreamIngest.readIvfIndex(spark, idx)
      .groupBy("list").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist === brute)
    assert(hist.values.toSeq.sorted === Seq(7L, 7L),
      s"re-cluster must separate the two true clusters: $hist")
    assert(StreamIngest.ivfListSkew(spark, idx) === 1.0)
  }

  test("cross-process single-writer lease (r18): a LIVE foreign " +
    "_maint_lease fails maintenance fast, a STALE one is broken and " +
    "work proceeds, and the lease is released on success AND on " +
    "failure") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_lease_idx").toString
    val corpus = (0 until 8).map(i => (i.toLong, Seq(1.0, 0.01 * i)))
      .toDF("id", "vec")
    StreamIngest.ivfIndexInit(spark, idx,
      Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    // success path: no residue
    assert(StreamIngest.compactIvfIndex(spark, idx) == 8L)
    val lease = new java.io.File(s"$idx/_maint_lease")
    assert(!lease.exists(), "lease must be released after success")
    // a LIVE foreign lease (fresh mtime, different owner id): the
    // single-writer contract fails the op fast instead of running two
    // writers' folds interleaved
    StreamIngest.ivfIngestBatch(corpus
      .withColumn("id", col("id") + lit(100L)), "id", "vec", idx, 1L)
    java.nio.file.Files.write(lease.toPath,
      "some-other-process".getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      StreamIngest.compactIvfIndex(spark, idx)
    }
    assert(e.getMessage.contains("another process"), e.getMessage)
    assert(lease.exists() &&
      new String(java.nio.file.Files.readAllBytes(lease.toPath),
        "UTF-8") == "some-other-process",
      "a live foreign lease must never be deleted")
    // STALE foreign lease (its owner crashed): broken, work proceeds,
    // and the new owner's release leaves nothing behind
    assert(lease.setLastModified(System.currentTimeMillis() -
      StreamIngest.LeaseBreakMs - 60000L))
    assert(StreamIngest.compactIvfIndex(spark, idx) == 16L)
    assert(!lease.exists(), "broken-then-reacquired lease must be " +
      "released after the fold")
    // failure path: a poisoned manifest makes the fold throw AFTER
    // lease acquisition — the lease must still be released
    StreamIngest.ivfIngestBatch(corpus
      .withColumn("id", col("id") + lit(200L)), "id", "vec", idx, 2L)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/assign_epoch/_layout"),
      "wm=notanumber\nbuckets=2\nsegs=0\n".getBytes("UTF-8"))
    intercept[Exception] {
      StreamIngest.compactIvfIndex(spark, idx)
    }
    assert(!lease.exists(), "lease must be released after a failure")
  }

  test("maintainIndexes fault isolation (r18): a poisoned root " +
    "(unparseable manifest) is logged and reported false — it does " +
    "NOT abort the tick for the healthy roots behind it") {
    import spark.implicits._
    val bad = Files.createTempDirectory("graft_badroot_idx").toString
    val good = Files.createTempDirectory("graft_goodroot_idx").toString
    // poison: a manifest whose wm= is not a number
    new java.io.File(s"$bad/assign_epoch").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$bad/assign_epoch/_layout"),
      "wm=notanumber\nbuckets=2\nsegs=0\n".getBytes("UTF-8"))
    val corpus = (0 until 8).map(i => (i.toLong, Seq(1.0, 0.01 * i)))
      .toDF("id", "vec")
    StreamIngest.ivfIndexInit(spark, good,
      Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", good, 0L)
    // bad roots FIRST in the list: a poisoned manifest AND a root
    // whose fs/probe construction itself fails (unparseable URI —
    // r19: the guard must wrap the fs construction and has() probes
    // too, not only the stage bodies) must not stop the good root
    val badUri = "hdfs://:-1/nonsense"
    val out = StreamIngest.maintainIndexes(
      spark, Seq(badUri, bad, good), maxHotBatches = 0).toMap
    assert(out(badUri) === false)
    assert(out(bad) === false)
    assert(out(good) === true, out.toString)
    assert(StreamIngest.readLayout(spark, s"$good/assign_epoch")
      .exists(_.wm == 0L), "the healthy root must have folded")
  }

  test("retirement grace (r18): a commit RETIRES the prior manifest's " +
    "merged-away segments instead of deleting them — a concurrent " +
    "reader holding that manifest can still open its files for one " +
    "fold cycle — the NEXT commit deletes them, and fresh ids never " +
    "re-use a name still on grace") {
    import spark.implicits._
    // grace age floor 0: this spec pins the fold-COUNT half of the
    // grace in isolation (the time half has its own spec below)
    val priorGrace = StreamIngest.retireGraceMs
    StreamIngest.retireGraceMs = 0L
    try {
    val idx = Files.createTempDirectory("graft_grace_idx").toString
    def batch(off: Long) = (0 until 16)
      .map(i => (off + i, Seq(1.0, 0.01 * i))).toDF("id", "vec")
    StreamIngest.ivfIndexInit(spark, idx,
      Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    StreamIngest.ivfIngestBatch(batch(0L), "id", "vec", idx, 0L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    val l1 = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    assert(l1.segs.map(_.name) === Seq("seg_1") && l1.retired.isEmpty)
    // a second same-sized fold cascades: seg_2 (the tail) merges with
    // seg_1 into seg_3. seg_1 was COMMITTED (a reader could hold it)
    // -> retired; seg_2 never reached any manifest (no reader could
    // ever list it) -> deleted immediately
    StreamIngest.ivfIngestBatch(batch(100L), "id", "vec", idx, 1L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    val l2 = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    assert(l2.segs.map(_.name) === Seq("seg_3"), l2.toString)
    assert(l2.retired.map(_._1) === Seq("seg_1"), l2.toString)
    assert(!new java.io.File(s"$idx/assign_epoch/seg_2").exists(),
      "a never-committed intermediate must not linger")
    for ((n, _) <- l2.retired)
      assert(new java.io.File(s"$idx/assign_epoch/$n").exists(),
        s"$n must stay on disk for the grace cycle")
    // the stale reader's view: the PRIOR manifest's segment is still
    // fully readable after the swap
    assert(spark.read.parquet(s"$idx/assign_epoch/seg_1").count()
      == 16L)
    // the next commit clears the grace generation
    StreamIngest.ivfIngestBatch(batch(200L), "id", "vec", idx, 2L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    val l3 = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    assert(!new java.io.File(s"$idx/assign_epoch/seg_1").exists(),
      "seg_1 must be deleted one commit later")
    // fresh ids cleared the retired names at every step: no live
    // segment ever re-used a name that was on grace when it was born
    assert(l3.segs.map(_.name).toSet
      .intersect(l2.retired.map(_._1).toSet).isEmpty, l3.toString)
    assert((l3.segs.map(_.name) ++ l3.retired.map(_._1))
      .distinct.length == l3.segs.length + l3.retired.length)
    } finally StreamIngest.retireGraceMs = priorGrace
  }

  test("time-bounded retirement grace (r19): under a rapid fold " +
    "cadence a retiree SURVIVES multiple commits until past the age " +
    "floor — a paused reader outlives two back-to-back folds — while " +
    "never-committed crash dirs are still deleted instantly") {
    import spark.implicits._
    val priorGrace = StreamIngest.retireGraceMs
    StreamIngest.retireGraceMs = 3000L
    try {
      val idx = Files.createTempDirectory("graft_tgrace_idx").toString
      def batch(off: Long) = (0 until 16)
        .map(i => (off + i, Seq(1.0, 0.01 * i))).toDF("id", "vec")
      StreamIngest.ivfIndexInit(spark, idx,
        Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
      StreamIngest.ivfIngestBatch(batch(0L), "id", "vec", idx, 0L)
      StreamIngest.compactIvfIndex(spark, idx): Unit
      // two RAPID further folds: each cascades seg_1 away and then
      // re-commits — under the r18 one-fold rule the second commit
      // deleted seg_1 milliseconds after its retirement
      StreamIngest.ivfIngestBatch(batch(100L), "id", "vec", idx, 1L)
      StreamIngest.compactIvfIndex(spark, idx): Unit
      StreamIngest.ivfIngestBatch(batch(200L), "id", "vec", idx, 2L)
      StreamIngest.compactIvfIndex(spark, idx): Unit
      val l = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
      assert(l.retired.map(_._1).contains("seg_1"),
        s"young retiree must stay on grace across rapid folds: $l")
      // the paused reader's view still opens
      assert(spark.read.parquet(s"$idx/assign_epoch/seg_1").count()
        == 16L)
      // crash garbage (a dir no manifest ever referenced) is NOT
      // granted grace — same commit cleans it
      val junk = new java.io.File(s"$idx/assign_epoch/seg_999")
      junk.mkdirs()
      StreamIngest.ivfIngestBatch(batch(300L), "id", "vec", idx, 3L)
      StreamIngest.compactIvfIndex(spark, idx): Unit
      assert(!junk.exists(),
        "never-committed dirs must be cleared instantly")
      // past the age floor, the next commit finally deletes
      Thread.sleep(3200L)
      StreamIngest.ivfIngestBatch(batch(400L), "id", "vec", idx, 4L)
      StreamIngest.compactIvfIndex(spark, idx): Unit
      assert(!new java.io.File(s"$idx/assign_epoch/seg_1").exists(),
        "a retiree past both the fold and the age floor must go")
      val lf = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
      assert(!lf.retired.map(_._1).contains("seg_1"))
    } finally StreamIngest.retireGraceMs = priorGrace
  }

  test("ivfListHistogram (r18): answered from per-segment _hist " +
    "sidecars — sidecar-exact vs a live scan, hot tail rides on " +
    "top, a missing sidecar falls back to the scan, and a live " +
    "tombstone's segment counts LIVE rows only") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_hist_idx").toString
    // two real lists under the stale anchors: ids 0-9 -> list 0,
    // ids 100-105 -> list 1
    val b0 = ((0 until 10).map(i => (i.toLong, Seq(1.0, 0.01 * i))) ++
      (0 until 6).map(i => (100L + i, Seq(0.01 * i, 1.0))))
      .toDF("id", "vec")
    StreamIngest.ivfIndexInit(spark, idx, staleAnchors)
    StreamIngest.ivfIngestBatch(b0, "id", "vec", idx, 0L)
    assert(StreamIngest.compactIvfIndex(spark, idx) == 16L)
    def bruteHist = StreamIngest.readIvfIndex(spark, idx)
      .groupBy("list").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val layout0 = StreamIngest.readLayout(spark, s"$idx/assign_epoch")
      .get
    assert(layout0.segs.nonEmpty)
    for (s <- layout0.segs)
      assert(new java.io.File(
        s"$idx/assign_epoch/${s.name}/_hist").exists(),
        s"segment ${s.name} must carry a _hist sidecar")
    assert(StreamIngest.ivfListHistogram(spark, idx) === bruteHist)
    assert(bruteHist === Map(0L -> 10L, 1L -> 6L))
    // hot tail (unfolded batch) rides on top of the sidecar answers
    val b1 = (0 until 4).map(i => (200L + i, Seq(0.01 * i, 1.0)))
      .toDF("id", "vec")
    StreamIngest.ivfIngestBatch(b1, "id", "vec", idx, 1L)
    assert(StreamIngest.ivfListHistogram(spark, idx) === bruteHist)
    assert(StreamIngest.ivfListHistogram(spark, idx)(1L) == 10L)
    // a segment without a sidecar (pre-r18 store) scans instead
    for (s <- layout0.segs)
      new java.io.File(s"$idx/assign_epoch/${s.name}/_hist").delete()
    assert(StreamIngest.ivfListHistogram(spark, idx) === bruteHist)
    // fold, then expire every even id WITHOUT new hot rows: the
    // expiry is a tombstone (no segment rewrite) and the histogram
    // must count live rows only
    assert(StreamIngest.compactIvfIndex(spark, idx) == 20L)
    val live = ((0L until 10L) ++ (100L until 106L) ++
      (200L until 204L)).filter(_ % 2 == 1)
    StreamIngest.compactIvfIndex(spark, idx,
      liveIds = Some(live.toDF("id"))): Unit
    val lt = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    assert(lt.tombs.nonEmpty,
      "the expiry must have committed a live tombstone")
    assert(StreamIngest.ivfListHistogram(spark, idx) === bruteHist)
    assert(StreamIngest.ivfListHistogram(spark, idx)
      .values.sum == live.length)
  }

  // ---- per-list incremental drift repair (r19) ----------------------

  /** 20 rows crowding list 0 as two separable true clusters, 6 rows
    * honestly in list 1; anchor 2 is starved (nothing ever lands
    * there). */
  private def splitCorpus = {
    import spark.implicits._
    val c1 = (0 until 12).map(i => (10L + i, Seq(1.0, 0.01 * i)))
    val c2 = (0 until 8).map(i => (30L + i, Seq(0.85, 0.5 + 0.01 * i)))
    val b = (0 until 6).map(i => (50L + i, Seq(0.05 * i, 1.0)))
    (c1 ++ c2 ++ b).toDF("id", "vec")
  }

  private def splitAnchors = Seq(
    0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0),
    2 -> Array(-1.0, -1.0))

  test("splitIvfLists (r19): ONLY the over-threshold list is split " +
    "— its rows land in a fresh delta segment under new sub-list " +
    "ids, an ltomb suppresses the old partitions, untouched lists " +
    "keep their segments byte-for-byte, the starved anchor is " +
    "pruned, the histogram stays sidecar-exact, and both faces' " +
    "serves still equal brute force") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_split_idx").toString
    val corpus = splitCorpus
    StreamIngest.ivfIndexInit(spark, idx, splitAnchors)
    StreamIngest.pqBooksInit(spark, idx,
      graft.operators.Similarity.trainPqBooks(corpus, "id", "vec",
        numSub = 2, ksub = 4))
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.ivfPqIngestBatch(corpus, "id", "vec", idx, 1L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    val pre = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    val preHist = StreamIngest.ivfListHistogram(spark, idx)
    assert(preHist === Map(0L -> 20L, 1L -> 6L))
    val skew0 = StreamIngest.ivfListSkew(spark, idx)

    assert(StreamIngest.splitIvfLists(spark, idx, maxSkew = 1.3))

    val post = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    // old segments survive untouched (same names AND bytes) — the
    // repair never rewrites the store
    for (s <- pre.segs)
      assert(post.segs.exists(p =>
        p.name == s.name && p.bytes == s.bytes),
        s"pre-split segment ${s.name} must survive byte-for-byte")
    assert(post.segs.length == pre.segs.length + 1,
      "exactly one delta segment")
    assert(post.ltombs.map(_.lists) === Seq(Seq(0L)),
      s"one ltomb over the split list: ${post.ltombs}")
    // codebook: list 0 split away, starved anchor 2 pruned, list 1
    // kept, two fresh sub-lists (base = 3)
    // k = ceil(20 / mean(26/3)) = 3 sub-lists at base id 3
    val cb = StreamIngest.readIvfCentroids(spark, idx).map(_._1)
    assert(cb === Seq(1, 3, 4, 5), cb.toString)
    // live rows: same vec_ids, list-1 rows bit-identical, split rows
    // relabeled into the sub-lists
    val live = StreamIngest.readIvfIndex(spark, idx)
    val brute = live.groupBy("list").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(brute(1L) == 6L)
    assert(brute.values.sum == 26L)
    val subs = brute.filter(_._1 >= 3L)
    assert(subs.values.sum == 20L,
      s"every split row must land in a sub-list: $brute")
    assert(subs.size >= 2 && subs.values.max < 20L,
      s"the crowded list must really split: $brute")
    val keptRows = live.filter(col("list") === 1L)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(keptRows === (50L until 56L).toArray)
    // histogram: sidecar-subtraction path equals the live scan
    assert(StreamIngest.ivfListHistogram(spark, idx) === brute)
    assert(StreamIngest.ivfListSkew(spark, idx) < skew0)
    // fold return (liveTotal) is exact under live ltombs on BOTH
    // faces (assign 26 + codes 26)
    assert(StreamIngest.compactIvfIndex(spark, idx) == 52L)
    // serves at the exhaustive corner equal brute force
    val queries = corpus.filter(col("id").isin(10L, 30L, 50L))
    val bf = asTopkRows(graft.operators.Similarity
      .bruteForceTopK(queries, corpus, "id", "vec", 3))
    val nAll = cb.length
    assert(asTopkRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx, 3, nProbe = nAll)) === bf, "assign serve")
    assert(asTopkRows(StreamIngest.ivfPqIndexTopK(spark, queries,
      "id", "vec", idx, corpus, 3, nProbe = nAll, refine = 10))
      === bf, "codes serve")
    // both faces on the same fresh codebook version
    for (face <- Seq("assign", "codes"))
      assert(StreamIngest.readLayout(spark, s"$idx/${face}_epoch")
        .flatMap(_.codebook) === Some("centroids_v2.parquet"), face)
    // observability: the repair residue is visible per tier
    val st = StreamIngest.indexStats(spark, Seq(idx)).collect()
      .map(r => r.getString(1) ->
        (r.getInt(r.fieldIndex("ltombs")),
          r.getInt(r.fieldIndex("retired")))).toMap
    assert(st("assign")._1 == 1 && st("codes")._1 == 1,
      s"each face must report its live ltomb: $st")
  }

  test("splitIvfLists IO pruning (r19): the repair reads ONLY the " +
    "skewed lists' partitions — with every OTHER list's data file " +
    "corrupted on disk, the repair still succeeds (touching one of " +
    "them would throw)") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_splitio_idx").toString
    val corpus = splitCorpus
    StreamIngest.ivfIndexInit(spark, idx, splitAnchors)
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    // corrupt every parquet under list=1 in every assign segment:
    // any read of a non-skewed partition now fails loudly
    val epoch = new java.io.File(s"$idx/assign_epoch")
    val poisoned = epoch.listFiles().filter(_.isDirectory).flatMap {
      seg =>
        val l1 = new java.io.File(seg, "list=1")
        if (!l1.exists()) Array.empty[java.io.File]
        else l1.listFiles().filter(_.getName.endsWith(".parquet"))
    }
    assert(poisoned.nonEmpty, "fixture must have list=1 files")
    for (f <- poisoned)
      java.nio.file.Files.write(f.toPath,
        "not a parquet file".getBytes("UTF-8"))
    assert(StreamIngest.splitIvfLists(spark, idx, maxSkew = 1.3),
      "repair must succeed without opening non-skewed partitions")
    // and the split lists really did move
    assert(StreamIngest.ivfListHistogram(spark, idx)
      .filterNot(_._1 == 1L).values.sum == 20L)
    // the read-side half of the same proof, pinned at the PLAN: the
    // ltomb suppression must reach the covered segment's scan as a
    // PartitionFilter (pruned at the file listing), never as a
    // post-scan row filter. (Corruption can't prove this half —
    // schema inference legitimately opens one footer per segment
    // dir — so the pin is on the physical plan, PlanSpec-style.)
    val live = StreamIngest.readIvfIndex(spark, idx)
    val plan = live.queryExecution.executedPlan.toString
    val scans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("seg_1"))
      .toSeq
    assert(scans.nonEmpty, s"covered-segment scan not found:\n$plan")
    assert(scans.forall(l => l.contains("PartitionFilters") &&
      l.replaceAll(".*PartitionFilters", "").contains("list")),
      "the ltomb NOT-IN must be a PartitionFilter on the covered " +
        s"segment's scan:\n${scans.mkString("\n")}")
    // and the data really is gone from the live view
    assert(live.filter(col("list").cast("long") === 0L).count() == 0L)
  }

  test("splitIvfLists crash between the face commits (r19): codes " +
    "lands on the new codebook, assign stays stale, BOTH serves " +
    "stay correct in the window, and re-running the repair " +
    "CONVERGES the faces (deterministic sub-anchors: same ids, same " +
    "content, bumped version) with no codes row stranded") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_splitkill_idx").toString
    val corpus = splitCorpus
    StreamIngest.ivfIndexInit(spark, idx, splitAnchors)
    StreamIngest.pqBooksInit(spark, idx,
      graft.operators.Similarity.trainPqBooks(corpus, "id", "vec",
        numSub = 2, ksub = 4))
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.ivfPqIngestBatch(corpus, "id", "vec", idx, 1L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    StreamIngest.reclusterCrashBeforeAssignCommit = true
    try intercept[RuntimeException] {
      StreamIngest.splitIvfLists(spark, idx, maxSkew = 1.3)
    } finally StreamIngest.reclusterCrashBeforeAssignCommit = false
    assert(StreamIngest.readLayout(spark, s"$idx/codes_epoch")
      .flatMap(_.codebook) === Some("centroids_v2.parquet"))
    assert(StreamIngest.readLayout(spark, s"$idx/assign_epoch")
      .flatMap(_.codebook) === None, "assign must still be stale")
    // each face self-consistent in the window
    val queries = corpus.filter(col("id").isin(10L, 30L, 50L))
    val bf = asTopkRows(graft.operators.Similarity
      .bruteForceTopK(queries, corpus, "id", "vec", 3))
    // window nlists: assign still v1 (3 anchors), codes on v2 (4)
    assert(asTopkRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx, 3, nProbe = 3)) === bf,
      "assign serve in the crash window")
    assert(asTopkRows(StreamIngest.ivfPqIndexTopK(spark, queries,
      "id", "vec", idx, corpus, 3, nProbe = 4, refine = 10))
      === bf, "codes serve in the crash window")
    // recovery: the repair re-derives the SAME sub-anchors from the
    // unchanged assign face, so the codes rows labeled by v2 stay
    // addressable under v3
    assert(StreamIngest.splitIvfLists(spark, idx, maxSkew = 1.3))
    for (face <- Seq("assign", "codes"))
      assert(StreamIngest.readLayout(spark, s"$idx/${face}_epoch")
        .flatMap(_.codebook) === Some("centroids_v3.parquet"), face)
    val cbIds = StreamIngest.readIvfCentroids(spark, idx)
      .map(_._1.toLong).toSet
    val codesLists = StreamIngest
      .readLayout(spark, s"$idx/codes_epoch").get.segs
    assert(codesLists.nonEmpty)
    val codeRows = spark.read.option("basePath", s"$idx/codes_epoch")
      .parquet(s"$idx/codes_epoch/${codesLists.last.name}")
      .select(col("list").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(codeRows.subsetOf(cbIds),
      s"no codes row may sit in a list the codebook lacks: " +
        s"$codeRows vs $cbIds")
    assert(asTopkRows(StreamIngest.ivfPqIndexTopK(spark, queries,
      "id", "vec", idx, corpus, 3, nProbe = cbIds.size,
      refine = 10)) === bf, "codes serve after convergence")
  }

  test("ltomb lifecycle (r19): the split composes with an id " +
    "tombstone (retention before repair), a SECOND split stacks its " +
    "own ltomb, and a cascading fold merges the suppressed " +
    "partitions OUT physically — the spent ltombs fall off the " +
    "manifest and no suppressed list survives on disk") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_ltlife_idx").toString
    val corpus = splitCorpus
    StreamIngest.ivfIndexInit(spark, idx, splitAnchors)
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    // retention first: expire half of list 1 (ids 50,52,54) — an id
    // tombstone now covers the segment the split will also suppress
    val live = corpus.select(col("id"))
      .filter(col("id") < 50L || pmod(col("id"), lit(2)) === 1L)
    StreamIngest.compactIvfIndex(spark, idx,
      liveIds = Some(live)): Unit
    assert(StreamIngest.readLayout(spark, s"$idx/assign_epoch")
      .get.tombs.nonEmpty, "fixture needs a live id tombstone")
    def brute = StreamIngest.readIvfIndex(spark, idx)
      .groupBy("list").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(brute === Map(0L -> 20L, 1L -> 3L))
    // split over the tombstoned store: exact through both mechanisms
    assert(StreamIngest.splitIvfLists(spark, idx, maxSkew = 1.3))
    assert(StreamIngest.ivfListHistogram(spark, idx) === brute)
    assert(brute.values.sum == 23L)
    val l1 = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    assert(l1.ltombs.map(_.lists) === Seq(Seq(0L)))
    // SECOND split: crowd one surviving sub-list with fresh separable
    // rows, fold, repair again — its ltomb stacks on the first
    val hist1 = StreamIngest.ivfListHistogram(spark, idx)
    val hot = hist1.filterNot(_._1 == 1L).maxBy(_._2)._1
    val anchors1 = StreamIngest.readIvfCentroids(spark, idx)
    val target = anchors1.find(_._1.toLong == hot).get._2
    val flood = (0 until 40).map { i =>
      val v = target.clone()
      v(0) = v(0) + (if (i % 2 == 0) 0.0 else 0.15)
      (900L + i, v.toSeq)
    }.toDF("id", "vec")
    StreamIngest.ivfIngestBatch(flood, "id", "vec", idx, 1L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    assert(StreamIngest.splitIvfLists(spark, idx, maxSkew = 1.5))
    val l2 = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    assert(l2.ltombs.length == 2, l2.ltombs.toString)
    assert(l2.ltombs.flatMap(_.lists).contains(hot))
    val full = brute
    assert(StreamIngest.ivfListHistogram(spark, idx) === full)
    assert(full.values.sum == 63L)
    assert(!full.keySet.contains(hot) && !full.keySet.contains(0L),
      s"split lists must be empty in the live view: $full")
    // serve exact at the exhaustive corner over the stacked state
    val all = StreamIngest.readIvfIndex(spark, idx)
      .select(col("vec_id").as("id"), col("vec"))
    val queries = all.filter(col("id").isin(10L, 51L, 900L))
    val bf = asTopkRows(graft.operators.Similarity
      .bruteForceTopK(queries, all, "id", "vec", 3))
    assert(asTopkRows(StreamIngest.ivfIndexTopK(spark, queries,
      "id", "vec", idx, 3,
      nProbe = StreamIngest.readIvfCentroids(spark, idx).length))
      === bf)
    // cascade: grow fresh batches until the geometric merge consumes
    // every covered segment — suppressed partitions drop PHYSICALLY,
    // spent ltombs fall off the manifest (the merge policy is
    // byte-ratio-driven, so the batch doubles until the stack folds)
    var bulkRows = 0L
    var batchId = 2L
    var n = 80
    while (StreamIngest.readLayout(spark, s"$idx/assign_epoch")
        .get.ltombs.nonEmpty && batchId < 10L) {
      val bulk = (0 until n).map(i =>
        (100000L * batchId + i, Seq(0.02 * (i % 7), 1.0)))
        .toDF("id", "vec")
      StreamIngest.ivfIngestBatch(bulk, "id", "vec", idx, batchId)
      StreamIngest.compactIvfIndex(spark, idx): Unit
      bulkRows += n; batchId += 1; n *= 2
    }
    val l3 = StreamIngest.readLayout(spark, s"$idx/assign_epoch").get
    assert(l3.ltombs.isEmpty,
      s"ltombs with no covered live segment must drop: $l3")
    assert(l3.tombs.isEmpty, "the id tombstone must also be spent")
    val suppressed = Set("list=0", s"list=$hot")
    for (seg <- l3.segs) {
      val segDir = new java.io.File(s"$idx/assign_epoch/${seg.name}")
      val lists = Option(segDir.listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getName).toSet
      assert(lists.intersect(suppressed).isEmpty,
        s"merged segment ${seg.name} must not carry suppressed " +
          s"partitions: $lists")
    }
    // and nothing was lost in the cascade
    assert(StreamIngest.readIvfIndex(spark, idx).count()
      == 63L + bulkRows)
  }

  test("_hist backfill (r19): a pre-r18 store (segments without " +
    "sidecars) gets them written by ONE maintenance tick, after " +
    "which the histogram is answered WITHOUT opening any data file " +
    "— proven by moving the data partitions aside and asking again") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_backfill_idx").toString
    val corpus = splitCorpus
    StreamIngest.ivfIndexInit(spark, idx, splitAnchors)
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    val expected = StreamIngest.ivfListHistogram(spark, idx)
    assert(expected === Map(0L -> 20L, 1L -> 6L))
    // simulate the pre-sidecar layout
    val epoch = new java.io.File(s"$idx/assign_epoch")
    val sidecars = epoch.listFiles().filter(_.isDirectory)
      .map(d => new java.io.File(d, "_hist")).filter(_.exists())
    assert(sidecars.nonEmpty)
    sidecars.foreach(f => assert(f.delete()))
    // one tick backfills (and reports the root as changed)
    val out = StreamIngest.maintainIndexes(spark, Seq(idx),
      maxHotBatches = 8).toMap
    assert(out(idx) === true, "backfill must report a change")
    for (f <- sidecars)
      assert(f.exists(), s"sidecar ${f.getPath} must be rewritten")
    // second tick: nothing left to do
    assert(StreamIngest.maintainIndexes(spark, Seq(idx),
      maxHotBatches = 8).toMap.apply(idx) === false)
    // the no-data-open proof: with every data partition moved aside,
    // the histogram still answers exactly (a data open would throw)
    val moved = epoch.listFiles().filter(_.isDirectory).flatMap(seg =>
      seg.listFiles().filter(d =>
        d.isDirectory && d.getName.startsWith("list=")).map { d =>
        val dst = new java.io.File(d.getParentFile,
          s"moved_${d.getName}")
        assert(d.renameTo(dst)); (dst, d)
      })
    assert(moved.nonEmpty)
    try
      assert(StreamIngest.ivfListHistogram(spark, idx) === expected,
        "sidecar-only answer must survive without data files")
    finally moved.foreach { case (dst, orig) =>
      assert(dst.renameTo(orig))
    }
  }

  test("splitIvfLists guards (r19): a clone-heavy list (<2 distinct " +
    "vectors) is reported unsplittable, not split forever; below " +
    "the threshold nothing commits") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_splitdup_idx").toString
    val clones = (0 until 20).map(i => (10L + i, Seq(1.0, 0.0)))
    val b = (0 until 6).map(i => (50L + i, Seq(0.05 * i, 1.0)))
    val corpus = (clones ++ b).toDF("id", "vec")
    StreamIngest.ivfIndexInit(spark, idx,
      Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    StreamIngest.ivfIngestBatch(corpus, "id", "vec", idx, 0L)
    StreamIngest.compactIvfIndex(spark, idx): Unit
    // over threshold but all-clones: refuses, commits nothing
    assert(!StreamIngest.splitIvfLists(spark, idx, maxSkew = 1.3))
    assert(StreamIngest.readLayout(spark, s"$idx/assign_epoch")
      .get.ltombs.isEmpty)
    // below threshold: no-op
    assert(!StreamIngest.splitIvfLists(spark, idx, maxSkew = 10.0))
  }
}
