package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.operators.Flags

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("row-local flag expressions run unchanged on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val flagged = input.toDF().toDF("ts", "v")
      .withColumn("flag", Flags.rangeFlag(col("v"), 0.0, 10.0))
    val q = flagged.writeStream.format("memory").queryName("flags_out")
      .outputMode(OutputMode.Append).start()
    input.addData((ts("2020-01-01 00:00:00"), 5.0), (ts("2020-01-01 00:10:00"), 25.0))
    q.processAllAvailable()
    val got = spark.sql("select v, flag from flags_out order by v")
      .as[(Double, Boolean)].collect().toSeq
    q.stop()
    assert(got == Seq((5.0, false), (25.0, true)))
  }

  test("resampleAgg aggregates tumbling windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingOps.resampleAgg(input.toDF().toDF("ts", "id", "v"),
      "ts", "v", "10 minutes", keyCols = Seq("id"))
    val q = agg.writeStream.format("memory").queryName("resample_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(
      (ts("2020-01-01 00:01:00"), "a", 1.0), (ts("2020-01-01 00:05:00"), "a", 2.0),
      (ts("2020-01-01 00:11:00"), "a", 10.0))
    q.processAllAvailable()
    val got = spark.sql("select v_sum, n from resample_out order by window.start")
      .as[(Double, Long)].collect().toSeq
    q.stop()
    assert(got == Seq((3.0, 2L), (10.0, 1L)))
  }

  test("topItemsPerWindow surfaces the window's heavy items with MG state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = StreamingOps.topItemsPerWindow(input.toDF().toDF("ts", "item"),
      "ts", "item", "10 minutes", k = 4)
    val q = agg.writeStream.format("memory").queryName("topitems_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(
      Seq.fill(5)((ts("2020-01-01 00:01:00"), "hot")) ++
        Seq.fill(2)((ts("2020-01-01 00:02:00"), "warm")) ++
        Seq((ts("2020-01-01 00:03:00"), "cold")) ++
        Seq((ts("2020-01-01 00:11:00"), "next")): _*)
    q.processAllAvailable()
    val got = spark.sql(
      "select window.start, top_items, n_rows from topitems_out order by window.start")
      .collect()
    q.stop()
    assert(got.length == 2)
    val first = got(0).getSeq[org.apache.spark.sql.Row](1)
    assert(first.head.getString(0) == "hot" && first.head.getLong(1) == 5L)
    assert(got(0).getLong(2) == 8L)
    assert(got(1).getSeq[org.apache.spark.sql.Row](1).map(_.getString(0)) == Seq("next"))
  }

  test("dedupExact keeps the first arrival per fingerprint on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingOps.dedupExact(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (ts("2020-01-01 00:00:00"), 1L, "alpha"),
      (ts("2020-01-01 00:01:00"), 2L, "beta"),
      (ts("2020-01-01 00:02:00"), 3L, "ALPHA")) // normalizes to the same text
    q.processAllAvailable()
    val got = spark.sql("select doc_id from dedup_out order by doc_id")
      .as[Long].collect().toSeq
    q.stop()
    assert(got == Seq(1L, 2L))
  }

  test("nearDupSuppress drops same-signature near-dups, keeps distinct docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val kept = StreamingOps.nearDupSuppress(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text")
    val q = kept.writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (ts("2020-01-01 00:00:00"), 1L, "the quick brown fox jumps over the lazy dog"),
      // token-identical up to punctuation/case -> same signature
      (ts("2020-01-01 00:01:00"), 2L, "The QUICK brown fox, jumps over the lazy dog!"),
      (ts("2020-01-01 00:02:00"), 3L, "completely different content about spark plans"))
    q.processAllAvailable()
    val got = spark.sql("select doc_id from neardup_out order by doc_id")
      .as[Long].collect().toSeq
    q.stop()
    assert(got == Seq(1L, 3L))
  }

  test("withActiveStatus attaches interval-valid status to a fact stream") {
    implicit val sqlCtx = spark.sqlContext
    val status = Seq(
      (ts("2020-01-01 00:00:00"), "T1", "normal"),
      (ts("2020-01-01 01:00:00"), "T1", "fault"),
      (ts("2020-01-01 02:00:00"), "T1", "normal"))
      .toDF("time", "asset_id", "status_code")
    val input = MemoryStream[(Timestamp, String, Double)]
    val joined = StreamingOps.withActiveStatus(
      input.toDF().toDF("time", "asset_id", "WTUR_W"), status)
    val q = joined.writeStream.format("memory").queryName("status_stream_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (ts("2020-01-01 00:30:00"), "T1", 1.0),
      (ts("2020-01-01 01:30:00"), "T1", 2.0),
      (ts("2020-01-01 03:00:00"), "T1", 3.0),
      (ts("2019-12-31 23:00:00"), "T1", 4.0)) // before any status event
    q.processAllAvailable()
    val got = spark.sql("select WTUR_W, status_code from status_stream_out order by WTUR_W")
      .as[(Double, String)].collect().toSeq
    q.stop()
    assert(got == Seq((1.0, "normal"), (2.0, "fault"), (3.0, "normal"), (4.0, null)))
  }

  test("prepTextStream samples, scores, and chunks a live document stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val prepped = StreamingOps.prepTextStream(
      input.toDF().toDF("doc_id", "lang", "text"),
      "text", "doc_id", "lang",
      rates = Map("en" -> 1.0), defaultRate = 0.0,
      chunkSize = 10, overlap = 2)
    val q = prepped.writeStream.format("memory").queryName("prep_out")
      .outputMode(OutputMode.Append).start()
    val text = "the quick brown fox jumps over it" // 33 chars -> 5 chunks @ step 8
    input.addData((1L, "en", text), (2L, "fr", text))
    q.processAllAvailable()
    val got = spark.sql("select id, chunk_start, chunk from prep_out order by chunk_start")
      .collect()
    q.stop()
    // stratum "fr" sampled out entirely; "en" chunked at step 8
    assert(got.forall(_.getLong(0) == 1L))
    assert(got.map(_.getInt(1)).toSeq == Seq(1, 9, 17, 25, 33))
    assert(got.head.getString(2) == "the quick ")
    // chunks re-assemble the document (drop the 2-char overlaps)
    val reassembled = got.map(_.getString(2)).reduce((a, b) => a + b.drop(2))
    assert(reassembled == text)
  }

  test("prepTextStream redacts PII and drops repetitive docs, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val prepped = StreamingOps.prepTextStream(
      input.toDF().toDF("doc_id", "lang", "text"),
      "text", "doc_id", "lang",
      rates = Map("en" -> 1.0), defaultRate = 0.0,
      chunkSize = 200, overlap = 0,
      redactPii = true, maxTopBigramFraction = 0.5)
    val q = prepped.writeStream.format("memory").queryName("prep_pii_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (1L, "en", "please write to alice@example.com about the order we discussed"),
      (2L, "en", "spam spam spam spam spam spam")) // top bigram covers all tokens
    q.processAllAvailable()
    val got = spark.sql("select id, chunk from prep_pii_out").collect()
    q.stop()
    assert(got.map(_.getLong(0)).toSet == Set(1L))
    assert(got.head.getString(1).contains("<EMAIL>"))
    assert(!got.head.getString(1).contains("alice@"))
  }

  test("c4Filter runs unchanged on a stream (stateless array/regexp exprs)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val good = Seq.fill(5)("this sentence has enough words and ends properly.")
      .mkString("\n")
    val out = graft.operators.Cleanse.c4Filter(
      input.toDF().toDF("doc_id", "text"), "text")
    val q = out.writeStream.format("memory").queryName("c4_out")
      .outputMode(OutputMode.Append).start()
    input.addData((1L, good), (2L, good + "\nlorem ipsum dolor sit amet line."))
    q.processAllAvailable()
    val got = spark.sql("select doc_id, n_lines_kept, keep from c4_out")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    q.stop()
    assert(got(1L) == (5L, true) && got(2L) == (6L, false))
  }

  test("ccnetNormalize runs unchanged on a stream (stateless codegen exprs)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.operators.TextAnalysis.ccnetNormalize(col("text")).as("norm"))
    val q = out.writeStream.format("memory").queryName("ccnet_out")
      .outputMode(OutputMode.Append).start()
    input.addData((1L, "Café #42, s'il vous plaît!"))
    q.processAllAvailable()
    val got = spark.sql("select norm from ccnet_out").head().getString(0)
    q.stop()
    assert(got == "cafe 00 s il vous plait")
  }

  test("file-source ingest pipeline: JSONL in, routed parquet out, incremental") {
    // the deployment loop the MemoryStream twins abstract away: files
    // arrive in a watched dir, a checkpointed query routes them to
    // parquet, later files process incrementally without reprocessing
    val root = java.nio.file.Files.createTempDirectory("ingest_e2e")
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    def writeBatch(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$root/stage_$name"
      graft.sources.Sinks.writeJsonl(rows.toDF("id", "text", "url"), tmp,
        codec = None)
      val src = new java.io.File(tmp)
      new java.io.File(inDir).mkdirs()
      src.listFiles().filter(_.getName.endsWith(".json"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$inDir/$name-${f.getName}")))
    }
    val batch1 = Seq(
      (1L, "plain english text", "https://ok.org/a"),
      (2L, "def f(x):\n    return [x]; y_val = {1: (2 < 3)}\n    z = f(1);",
        "https://ok.org/b"),
      (3L, "spam text", "https://ads.spam.net/x"))
    writeBatch("b1", batch1)
    val schema = "id LONG, text STRING, url STRING"
    val stream = spark.readStream.schema(schema).json(inDir)
    val routed = StreamingOps.routeStream(stream, "id", "text", "url",
      Seq("spam.net"))
    val q = routed.select("id", "route", "blocked")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    val after1 = spark.read.parquet(outDir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(after1 == Map(1L -> ("latin", false), 2L -> ("code", false),
      3L -> ("blocked", true)), after1.toString)
    // second file batch: incremental append only
    writeBatch("b2", Seq((4L, "привет мир текст", "https://ok.org/c")))
    q.processAllAvailable()
    q.stop()
    val after2 = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2.size == 4 && after2(4L) == "cyrillic", after2.toString)
  }

  test("chatFlatten runs unchanged on a stream (stateless from_json + HOFs)") {
    implicit val sqlCtx = spark.sqlContext
    val msgs = """[{"role":"user","content":"hi"},
      |{"role":"assistant","content":"hello there"}]""".stripMargin
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Conversations.chatFlatten(
        input.toDF().toDF("id", "msgs"), "id", "msgs")
      .writeStream.format("memory").queryName("chat_out")
      .outputMode(OutputMode.Append).start()
    input.addData((1L, msgs), (2L, "broken json"))
    q.processAllAvailable()
    val got = spark.sql(
      "select id, text, response_start, response_chars from chat_out")
      .collect().map(r => r.getLong(0) -> r).toMap
    q.stop()
    val r1 = got(1L)
    assert(r1.getString(1) == "user: hi\nassistant: hello there\n")
    val span = r1.getString(1).substring(r1.getInt(2), r1.getInt(2) + r1.getInt(3))
    assert(span == "hello there")
    assert(got(2L).isNullAt(1)) // unparseable stays null on the stream too
  }

  test("routeStream matches the batch routing operators row for row") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "plain english prose about nothing much", "https://ok.org/a"),
      (2L, "привет мир это текст на русском языке", "https://ok.org/b"),
      (3L, "def f(x):\n    return [x]; total_n = {1: (2 < 3)}\n    y = f(2);",
        "https://ok.org/c"),
      (4L, "fine text on a blocked zone", "https://ads.spam.net/x"))
    val model = graft.fitting.Logistic.LogisticModel(
      1, 4L, Array(0.0, 1.0), 0.0, Array.empty)
    def route(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.routeStream(
        df.withColumn("feats", array(length(col("text")).cast("double") / 10)),
        "id", "text", "url", Seq("spam.net"), Some((model, "feats")))
        .select("id", "script", "is_code", "blocked", "route", "quality_prob")
    val batch = route(rows.toDF("id", "text", "url")).collect().toSet
    val input = MemoryStream[(Long, String, String)]
    val q = route(input.toDF().toDF("id", "text", "url"))
      .writeStream.format("memory").queryName("route_out")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql(
      "select id, script, is_code, blocked, route, quality_prob from route_out")
      .collect().toSet
    q.stop()
    assert(streamed == batch, s"stream:\n$streamed\nbatch:\n$batch")
    val routes = batch.map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(routes == Map(1L -> "latin", 2L -> "cyrillic", 3L -> "code",
      4L -> "blocked"))
  }

  test("decontaminateStream drops streamed docs overlapping the static benchmark") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val clean = StreamingOps.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), bench, "text", n = 5)
    val q = clean.writeStream.format("memory").queryName("decontam_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (1L, "we saw the quick brown fox jumps over a fence"), // shares a 5-gram
      (2L, "totally unrelated text with no overlap at all"),
      (3L, "short text")) // fewer than n tokens -> never contaminated
    q.processAllAvailable()
    val got = spark.sql("select doc_id from decontam_out order by doc_id")
      .as[Long].collect().toSeq
    q.stop()
    assert(got == Seq(2L, 3L))
  }

  test("bloomNovelOnly passes novel docs, drops corpus-known ones") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("known document one", "known document two").toDF("text")
    val bloom = corpus
      .select(graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
      .stat.bloomFilter("fp", 100L, 0.001)
    val input = MemoryStream[(Long, String)]
    val novel = StreamingOps.bloomNovelOnly(
      input.toDF().toDF("doc_id", "text"), "text", bloom)
    val q = novel.writeStream.format("memory").queryName("novel_out")
      .outputMode(OutputMode.Append).start()
    input.addData((1L, "Known DOCUMENT one!"), // normalizes to a corpus hit
      (2L, "genuinely fresh content"),
      (3L, null)) // null text must pass as novel, not kill the stream
    q.processAllAvailable()
    val got = spark.sql("select doc_id from novel_out").as[Long].collect().toSet
    q.stop()
    assert(got == Set(2L, 3L))
  }

  test("encodeBpeStream applies a pre-trained model per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val model = graft.functions.Bpe.BpeModel(graft.functions.Bpe.trainOnWordFreq(
      Array(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)), 50))
    val input = MemoryStream[(Long, String)]
    val encoded = StreamingOps.encodeBpeStream(
      input.toDF().toDF("doc_id", "text"), "text", model)
    val q = encoded.writeStream.format("memory").queryName("bpe_out")
      .outputMode(OutputMode.Append).start()
    input.addData((1L, "the newest widget"), (2L, "low lower lowest"))
    q.processAllAvailable()
    val got = spark.sql("select doc_id, subwords from bpe_out order by doc_id")
      .as[(Long, Seq[String])].collect().toMap
    q.stop()
    // streamed output == batch encoder output for the same model
    assert(got(1L) == Seq("the", "newest", "widget").flatMap(model.encodeWord))
    assert(got(2L) == Seq("low", "lower", "lowest").flatMap(model.encodeWord))
  }

  test("sessionAgg groups events into gap-bounded sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingOps.sessionAgg(input.toDF().toDF("ts", "id", "v"),
      "ts", Seq("id"), gap = "30 minutes", valueCol = "v")
    val q = agg.writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(
      (ts("2020-01-01 10:00:00"), "u", 1.0), (ts("2020-01-01 10:10:00"), "u", 2.0),
      (ts("2020-01-01 12:00:00"), "u", 5.0))
    q.processAllAvailable()
    val got = spark.sql("select n_events, v_sum from session_out order by n_events desc")
      .as[(Long, Double)].collect().toSeq
    q.stop()
    assert(got == Seq((2L, 3.0), (1L, 5.0)))
  }

  test("funnelStream advances per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.funnelStream(input.toDF().toDF("user", "ts", "typ"),
      "user", "ts", "typ", Seq("view", "click", "purchase"))
    val q = out.writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    // batch 1: u1 views+clicks (delivered out of ts order within the
    // batch); u2 clicks without viewing
    input.addData(
      (1L, ts("2020-01-01 11:00:00"), "click"),
      (1L, ts("2020-01-01 10:00:00"), "view"),
      (2L, ts("2020-01-01 10:00:00"), "click"))
    q.processAllAvailable()
    // batch 2: u1 purchases (state remembered across batches); u2 views
    // then re-clicks BEFORE its view -> ignored; a stale u1 view too
    input.addData(
      (1L, ts("2020-01-01 12:00:00"), "purchase"),
      (1L, ts("2020-01-01 09:00:00"), "view"), // before frontier: ignored
      (2L, ts("2020-01-01 11:00:00"), "view"))
    q.processAllAvailable()
    val got = spark.sql("select user, step, name from funnel_out order by user, step")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    q.stop()
    assert(got == Seq(
      (1L, 0, "view"), (1L, 1, "click"), (1L, 2, "purchase"),
      (2L, 0, "view")))
  }

  test("driftPerWindow: calm window scores near zero, shifted window alarms") {
    implicit val sqlCtx = spark.sqlContext
    // reference: uniform scores 1..1000
    val ref = (1 to 1000).map(_.toDouble).toDF("score")
    val (bounds, shares) = StreamingOps.referenceDistribution(ref, "score", bins = 10)
    assert(bounds.length == 9 && shares.length == 10)
    assert(shares.forall(s => math.abs(s - 0.1) < 0.01))
    val input = MemoryStream[(Timestamp, Double)]
    val drift = StreamingOps.driftPerWindow(input.toDF().toDF("ts", "score"),
      "ts", "score", bounds, shares, "10 minutes")
    val q = drift.writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Complete).start()
    // window 1: same uniform distribution; window 2: everything above ref max
    input.addData(
      (1 to 500).map(i => (ts("2020-01-01 00:01:00"), i * 2.0)) ++
        (1 to 500).map(i => (ts("2020-01-01 00:12:00"), 5000.0 + i)): _*)
    q.processAllAvailable()
    val got = spark.sql(
      "select window.start, n_rows, psi from drift_out order by window.start")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(got.length == 2)
    assert(got(0)._1 == 500L && got(0)._2 < 0.05, s"calm psi ${got(0)._2}")
    assert(got(1)._1 == 500L && got(1)._2 > 1.0, s"drift psi ${got(1)._2}")
  }

  test("pqEncodeStream codes match the batch encoder exactly") {
    implicit val sqlCtx = spark.sqlContext
    val r = new java.util.Random(9L)
    val vecs = (0L until 20L).map(i => (i, Seq.fill(16)(r.nextGaussian() * 5)))
    val batch = vecs.toDF("vec_id", "v")
    val model = graft.operators.Similarity.pqTrain(batch, "v", dims = 16,
      m = 4, ksub = 8, seed = 11L)
    val expected = graft.operators.Similarity.pqEncode(batch, "v", model)
      .select("vec_id", "codes").collect()
      .map(row => row.getLong(0) -> row.getSeq[Int](1)).toMap
    val input = MemoryStream[(Long, Seq[Double])]
    val coded = StreamingOps.pqEncodeStream(
      input.toDF().toDF("vec_id", "v"), "v", model)
    val q = coded.writeStream.format("memory").queryName("pq_out")
      .outputMode(OutputMode.Append).start()
    input.addData(vecs: _*)
    q.processAllAvailable()
    val got = spark.sql("select vec_id, codes from pq_out").collect()
      .map(row => row.getLong(0) -> row.getSeq[Int](1)).toMap
    q.stop()
    assert(got == expected)
    assert(got.size == 20)
  }

  test("graphInsertStream: streamed micro-batches land on the sequential-insert graph") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.KnnGraph
    // 3 planted clusters as the standing corpus; two later clusters
    // arrive as micro-batches (disjoint ids)
    val rnd = new scala.util.Random(7)
    def cluster(c: Int, idBase: Long, n: Int) = (0 until n).map { j =>
      (idBase + j, Seq.tabulate(6)(d =>
        (if (d == c) 1.0 else 0.0) + 0.05 * rnd.nextGaussian()))
    }
    val corpus = (0 until 3).flatMap(c => cluster(c, c * 10L, 10))
      .toDF("vec_id", "v")
    val b1 = cluster(3, 1000L, 8)
    val b2 = cluster(4, 2000L, 8)
    val g0 = KnnGraph.nnDescent(corpus, "vec_id", "v", k = 4, iterations = 2)
      .localCheckpoint(true)
    // the state holds the graphIndex ASSET (r13: index-native insert —
    // no per-batch corpus re-materialization); batch path = two
    // sequential index-native inserts
    val idx0 = KnnGraph.graphIndex(g0, corpus, "vec_id", "v")
      .localCheckpoint(true)
    val i1 = KnnGraph.insertIncrementalIndexed(idx0, b1.toDF("vec_id", "v"),
      "vec_id", "v", k = 4).localCheckpoint(true)
    val i2 = KnnGraph.insertIncrementalIndexed(i1, b2.toDF("vec_id", "v"),
      "vec_id", "v", k = 4).localCheckpoint(true)
    // stream path: same batches as two micro-batches through foreachBatch
    val state = new StreamingOps.GraphInsertState(idx0, "vec_id", "v",
      k = 4)
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.graphInsertStream(input.toDF().toDF("vec_id", "v"),
      state)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // bit-identical parity with the sequential inserts, both directions
    // (cosine included), on the full index rows — vectors, k-lists,
    // bridges, entries
    assert(state.index.exceptAll(i2).isEmpty)
    assert(i2.exceptAll(state.index).isEmpty)
    assert(state.index.count() === 46)
    assert(state.graph.select("id").distinct().count() === 46)
    // compaction cadence is pure lineage hygiene — a compact-every-batch
    // state lands on the bit-identical asset (compaction materializes
    // the base∪overlay view; it never rewrites rows)
    val s2 = new StreamingOps.GraphInsertState(idx0, "vec_id", "v", k = 4,
      compactEvery = 1)
    s2.addBatch(b1.toDF("vec_id", "v"))
    s2.addBatch(b2.toDF("vec_id", "v"))
    assert(s2.index.exceptAll(state.index).isEmpty &&
      state.index.exceptAll(s2.index).isEmpty)
  }

  test("a graph insert state pins its index in one job and counts no rows per batch") {
    // construction is the index's pin; a batch is the insert alone. With
    // a running row count (read by a per-round delta/full refine choice)
    // construction ran 3 jobs and this batch 54
    import graft.operators.KnnGraph
    import org.apache.spark.sql.graft.ListenerBus
    val rnd = new scala.util.Random(11)
    def vecs(idBase: Long, n: Int) = (0 until n).map(j =>
      (idBase + j, Seq.tabulate(6)(_ => rnd.nextGaussian()))).toDF("vec_id", "v")
    val corpus = vecs(0L, 30)
    val idx = KnnGraph.graphIndex(KnnGraph.nnDescent(corpus, "vec_id", "v", k = 4,
      iterations = 2), corpus, "vec_id", "v").localCheckpoint(true)
    val batch = vecs(1000L, 6).localCheckpoint(true)
    val sc = spark.sparkContext
    var state: StreamingOps.GraphInsertState = null
    val buildJobs = ListenerBus.countJobs(sc) {
      state = new StreamingOps.GraphInsertState(idx, "vec_id", "v", k = 4)
    }
    val batchJobs = ListenerBus.countJobs(sc)(state.addBatch(batch))
    assert(buildJobs === 1, s"construction: $buildJobs jobs")
    assert(batchJobs <= 44, s"addBatch: $batchJobs jobs")
    assert(state.index.count() === 36)
  }

  test("uniquesPerWindow sketches merge into the batch cumulative curve") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val input = MemoryStream[(Timestamp, Long)]
    val uw = StreamingOps.uniquesPerWindow(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id", "1 hour",
      watermark = "0 seconds")
    val q = uw.writeStream.format("memory").queryName("uniq_out")
      .outputMode(OutputMode.Update).start()
    def t(s: String) = Timestamp.valueOf(s)
    input.addData(
      (t("2024-05-01 10:05:00"), 1L), (t("2024-05-01 10:10:00"), 2L),
      (t("2024-05-01 10:20:00"), 1L),
      (t("2024-05-01 11:05:00"), 2L), (t("2024-05-01 11:30:00"), 3L))
    q.processAllAvailable()
    val rows = spark.sql(
      "select window.start, n_rows, unique_est, id_sketch from uniq_out order by 1")
      .collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(1)).toSeq == Seq(3L, 2L))
    assert(rows.map(_.getLong(2)).toSeq == Seq(2L, 2L)) // exact regime
    // persisted sketches union into the cumulative distinct (users 1,2,3)
    val merged = spark.sql(
      """select hll_sketch_estimate(hll_union_agg(id_sketch)) from uniq_out""")
      .collect().head.getLong(0)
    assert(merged == 3L)
  }

  test("calibrateStream matches the batch calibration exactly") {
    implicit val sqlCtx = spark.sqlContext
    val fit = ((1 to 40).map(i => ("en", i.toDouble)) ++
      (1 to 10).map(i => ("fr", i * 3.0))).toDF("lang", "score")
    val model = graft.operators.Diagnostics.calibrationModel(fit, "lang", "score")
      .localCheckpoint(true)
    val batchExpected = graft.operators.Diagnostics
      .applyCalibration(fit, model, "lang", "score")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val input = MemoryStream[(String, Double)]
    val cal = StreamingOps.calibrateStream(
      input.toDF().toDF("lang", "score"), model, "lang", "score")
    val q = cal.writeStream.format("memory").queryName("cal_out")
      .outputMode(OutputMode.Append).start()
    input.addData(("en", 10.0), ("en", 40.0), ("fr", 3.0), ("de", 1.0))
    q.processAllAvailable()
    val got = spark.sql("select lang, score, pct_rank from cal_out").collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    q.stop()
    assert(got(("en", 10.0)) == Some(batchExpected(("en", 10.0))))
    assert(got(("en", 40.0)) == Some(1.0))
    assert(got(("fr", 3.0)) == Some(batchExpected(("fr", 3.0))))
    assert(got(("de", 1.0)) == None) // unseen group -> null, not dropped
  }

  test("phraseBlocklistStats runs unchanged on a stream (broadcast automaton)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val scanned = graft.operators.TextAnalysis.phraseBlocklistStats(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      Seq("table scan", "hash join"))
    val q = scanned.writeStream.format("memory").queryName("blocklist_out")
      .outputMode(OutputMode.Append).start()
    input.addData((1L, "a Table Scan and a hash join here"), (2L, "clean"))
    q.processAllAvailable()
    val got = spark.sql("select id, n_matches, flagged from blocklist_out order by id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    q.stop()
    assert(got == Seq((1L, 2L, true), (2L, 0L, false)))
  }

  test("scd2Stream + scd2Materialize equals the chained batch scd2Apply") {
    implicit val sqlCtx = spark.sqlContext
    // three snapshots: id1 stable throughout, id2 changes at t20, id3
    // removed at t30, id4 added at t20 and changed at t30
    val s1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "text")
    val s2 = Seq((1L, "alpha"), (2L, "BETA two"), (3L, "gamma"),
      (4L, "delta")).toDF("id", "text")
    val s3 = Seq((1L, "alpha"), (2L, "BETA two"), (4L, "delta v2"))
      .toDF("id", "text")
    var hist = Seq.empty[(Long, String, Long, Option[Long])]
      .toDF("id", "fp", "valid_from", "valid_to")
    for ((asOf, snap) <- Seq((10L, s1), (20L, s2), (30L, s3)))
      hist = graft.operators.Dedup.scd2Apply(hist, snap, "id", "text", asOf)
        .localCheckpoint(true)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "fp", "valid_from", "valid_to").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet

    // the same snapshots as a CDC change feed: upserts + null tombstones
    // (an unchanged upsert like (1, t20) must be a state no-op)
    val input = MemoryStream[(Long, Long, String)]
    val out = StreamingOps.scd2Stream(input.toDF().toDF("id", "asof", "text"),
      "id", "text", "asof")
    val q = out.writeStream.format("memory").queryName("scd2_out")
      .outputMode(OutputMode.Append).start()
    input.addData((1L, 10L, "alpha"), (2L, 10L, "beta"), (3L, 10L, "gamma"))
    q.processAllAvailable()
    input.addData((1L, 20L, "alpha"), (2L, 20L, "BETA two"), (4L, 20L, "delta"))
    q.processAllAvailable()
    input.addData((3L, 30L, null), (4L, 30L, "delta v2"), (7L, 30L, null))
    q.processAllAvailable()
    val got = canon(StreamingOps.scd2Materialize(spark.table("scd2_out")))
    q.stop()
    assert(got == canon(hist), s"stream $got != batch ${canon(hist)}")
    // spot-check the shape: id3 closed at 30, id4 has one closed + one open
    assert(got.exists(r => r._1 == 3L && r._4 == 30L))
    assert(got.count(_._1 == 4L) == 2)
  }

  test("sftIngestStream: one stateless map stage, batch-parity rows") {
    implicit val sqlCtx = spark.sqlContext
    val convs = Seq(
      (1L, """[{"role":"user","content":"q"},{"role":"assistant","content":"I cannot say"}]"""),
      (2L, """[{"role":"user","content":"q"},{"role":"assistant","content":"sure thing"}]"""),
      (3L, "broken"))
    val input = MemoryStream[(Long, String)]
    val out = StreamingOps.sftIngestStream(input.toDF().toDF("id", "msgs"),
      "id", "msgs", Seq("i cannot"))
    val q = out.writeStream.format("memory").queryName("sft_out")
      .outputMode(OutputMode.Append).start()
    input.addData(convs: _*)
    q.processAllAvailable()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "conv_fp", "is_refusal", "response_words", "n_turns")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getBoolean(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4)))).toSet
    val streamed = canon(spark.table("sft_out"))
    q.stop()
    val batch = canon(StreamingOps.sftIngestStream(
      convs.toDF("id", "msgs"), "id", "msgs", Seq("i cannot")))
    assert(streamed == batch && streamed.size == 3)
    assert(streamed.exists(r => r._1 == 1L && r._3.contains(true)))
    assert(streamed.exists(r => r._1 == 3L && r._2.isEmpty))
  }

  test("winnowFingerprints is stream-safe: fingerprints match batch") {
    // the codegen'd WinnowExpr path is one map + explode stage — the
    // streaming ingest can fingerprint documents as they arrive and feed
    // the incremental-dedup join against a standing fingerprint index
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "tiny doc"),
      (3L, "one two three four five six seven eight nine ten"))
    val input = MemoryStream[(Long, String)]
    val fp = graft.operators.Dedup.winnowFingerprints(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = fp.writeStream.format("memory").queryName("winnow_out")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("select id, pos, fp from winnow_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val batch = graft.operators.Dedup.winnowFingerprints(
      rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("fellegiSunterScore is stream-safe: scored pairs match batch") {
    // linkage scoring is one row-local map stage (fixed-association sum
    // of literal weights), so the SAME operator call works unchanged on
    // a stream of blocked candidate pairs — parity pinned here
    implicit val sqlCtx = spark.sqlContext
    val fields = Seq(graft.operators.Linkage.LinkField("f1", 0.8, 0.1),
      graft.operators.Linkage.LinkField("f2", 0.9, 0.2))
    val rows = Seq((1L, 2L, true, true), (1L, 3L, false, true),
      (2L, 3L, false, false))
    val input = MemoryStream[(Long, Long, Boolean, Boolean)]
    val scored = graft.operators.Linkage.fellegiSunterScore(
      input.toDF().toDF("id_a", "id_b", "f1", "f2"), fields,
      upper = 3.0, lower = 0.0)
    val q = scored.writeStream.format("memory").queryName("fs_out")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql(
      "select id_a, id_b, weight, decision from fs_out").collect().toSet
    q.stop()
    val batch = graft.operators.Linkage.fellegiSunterScore(
      rows.toDF("id_a", "id_b", "f1", "f2"), fields, 3.0, 0.0)
      .select("id_a", "id_b", "weight", "decision").collect().toSet
    assert(streamed == batch && streamed.size == 3)
  }

  test("spanCorrupt is stream-safe: denoising pairs match batch") {
    // span placement is a PRF of (id, block, seed) — no state, no order
    // dependence — so the SAME operator runs unchanged per micro-batch
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ("tok " * 45).trim),
      (2L, "short doc only"),
      (3L, ("word " * 25).trim))
    val input = MemoryStream[(Long, String)]
    val out = graft.operators.Chunking.spanCorrupt(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("spancorrupt_out")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql(
      "select id, n_spans, input_text, target_text from spancorrupt_out")
      .collect().toSet
    q.stop()
    val batch = graft.operators.Chunking.spanCorrupt(
      rows.toDF("doc_id", "text"), "doc_id", "text")
      .select("id", "n_spans", "input_text", "target_text").collect().toSet
    assert(streamed == batch && streamed.size == 3)
  }

  test("checksum PII ops are stream-safe: card redaction + IBAN verdicts") {
    // both are row-local regex + integer-fold columns — the live-ingest
    // scrub shape: no state, no shuffle, identical per micro-batch
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "pay 4111 1111 1111 1111 ref 4111111111111112",
        "GB82WEST12345698765432"),
      (2L, "no pii", "GB82WEST12345698765431"))
    val input = MemoryStream[(Long, String, String)]
    val out = input.toDF().toDF("id", "text", "acct")
      .select(col("id"),
        graft.operators.Cleanse.redactValidCards(col("text")).as("t"),
        graft.operators.Cleanse.ibanValid(col("acct")).as("iban_ok"))
    val q = out.writeStream.format("memory").queryName("checksum_out")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("select id, t, iban_ok from checksum_out")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .toSet
    q.stop()
    assert(streamed == Set(
      (1L, "pay <CARD> ref 4111111111111112", true),
      (2L, "no pii", false)))
  }

  test("Isotonic.calibrate is stream-safe: a pre-fit model applies per batch") {
    // the step table is driver-sized and broadcast — scoring a stream is
    // a stateless map + broadcast join, the serving shape for a
    // calibrated quality filter on live ingest
    implicit val sqlCtx = spark.sqlContext
    val model = graft.fitting.Isotonic.fitBinned(
      Seq((0.1, 0), (0.2, 0), (0.6, 1), (0.9, 1)).toDF("score", "label"),
      "score", "label", nBins = 10)
    val rows = Seq((1L, 0.15), (2L, 0.65), (3L, 0.95))
    val input = MemoryStream[(Long, Double)]
    val out = graft.fitting.Isotonic.calibrate(
      input.toDF().toDF("id", "score"), "score", model, nBins = 10)
    val q = out.writeStream.format("memory").queryName("isotonic_out")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql("select id, calibrated from isotonic_out")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    val batch = graft.fitting.Isotonic.calibrate(
      rows.toDF("id", "score"), "score", model, nBins = 10)
      .select("id", "calibrated")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch && streamed.size == 3)
  }

  test("contentExtract is stream-safe: paragraph classes match batch") {
    implicit val sqlCtx = spark.sqlContext
    val stop = Seq("the", "a", "of")
    val rows = Seq(
      (1L, "<a href=\"/\">nav</a>\n\n" +
        ("the body of a long paragraph " * 5).trim),
      (2L, "just the one short line"))
    val input = MemoryStream[(Long, String)]
    val out = graft.operators.Cleanse.contentExtract(
      input.toDF().toDF("id", "html"), "id", "html", stop)
    val q = out.writeStream.format("memory").queryName("content_out")
      .outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.sql(
      "select id, para_idx, is_content from content_out").collect().toSet
    q.stop()
    val batch = graft.operators.Cleanse.contentExtract(
      rows.toDF("id", "html"), "id", "html", stop)
      .select("id", "para_idx", "is_content").collect().toSet
    assert(streamed == batch && streamed.size == 3)
  }
}
