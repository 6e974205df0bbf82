package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins
import org.apache.spark.sql.types.DecimalType

/** Shared gate-harness helpers: determinism combinators, the
  * ANN claims row, media/WET fixture synthesis, and shared
  * constructions referenced by more than one gate family.
  * Split from SparkEntry (r8) — see its scaladoc for the
  * determinism rules every gate follows.
  */
private[graft] object GateHelpers {
  // ---- determinism helpers -------------------------------------------------
  private[graft] val Dec = DecimalType(38, 10)
  /** Exact sum: decimal-accumulated, emitted as double. */
  private[graft] def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")
  /** Exact revenue-style sum over 2-dp money inputs as INTEGER arithmetic:
    * price*(1-discount)*10^4 == cents(price) * (100 - cents(discount)), a
    * per-row long product summed as longs — exact, vectorizable, and ~4x
    * faster than a DECIMAL(38,10) sum (BigDecimal-backed aggregation
    * measured 1.4s vs 0.3s double / 0.5s long-cents on sf0.1 q1_agg). The
    * final long->double conversion rounds identically in both engines at
    * any magnitude. Long overflow headroom: ~1e9/row -> safe past 1e9 rows
    * per group; beyond that switch back to decimal sums.
    */
  private[graft] def dsumRevenue(price: Column, discount: Column): Column =
    sum(round(price * 100).cast("long") * (lit(100L) - round(discount * 100).cast("long")))
      .cast("double") / 10000.0
  /** Exact money sum via integer cents (see dsumRevenue). */
  private[graft] def dsumMoney(c: Column): Column =
    sum(round(c * 100).cast("long")).cast("double") / 100.0
  /** Exact mean: exact sum / non-null count. */
  private[graft] def davg(c: Column): Column = dsum(c) / count(c)
  /** Epoch seconds of a timestamp as BIGINT. */
  private[graft] def epochS(c: Column): Column = unix_timestamp(c)

  /** Claims row for an ANN gate (r7 rows-only -> oracle conversion): the
    * codebooks/buckets aren't SQL, but the CONTRACT is checkable as
    * booleans — every query answered (covered_ok), per-query ranks dense
    * 1..n with scores monotone in rank (shape_ok), and mean recall@k vs
    * the exact brute-force top-k at least `chanceFactor` times the
    * k/corpus chance level (recall_ok: "the index beats random by >=
    * 10x" — measured margins 2.3x-67x across sf0.01/0.1). All inputs are
    * seed-fixed, so the booleans are deterministic; DuckDB reproduces
    * (n_queries, true, true, true).
    *
    * `minRecall` raises the recall bar to an ABSOLUTE floor on top of
    * the chance-relative one (r11 VERDICT ask 5): the chance bar alone
    * (10k/n) goes to ~0 as n grows, so a regression to a known bad
    * operating point (e.g. the K=5 NN-Descent plateau at 0.29) could
    * still pass. Gates with measured operating points pass ~half the
    * measured recall at their scale; 0.0 keeps the old behavior.
    */
  private[graft] def annClaims(ann0: DataFrame, exact0: DataFrame, corpusCount: Column,
                        k: Int, scoreCol: String,
                        ascending: Boolean, minRecall: Double = 0.0): DataFrame = Pins.scoped { pins =>
    // pinned: the ann/exact subtrees are referenced by 2-3 claim branches
    // each, and lazy plans re-execute per branch. r7 measured lazy as the
    // win at gate scale (q_pq_topk 1.51 -> 1.65 s when pinned), but at
    // sf10 re-running a 40 s LSH candidate plan 3x put q_lsh_topk at
    // 125.7 s; both inputs are <= |queries| x k rows, so the pins cost
    // ~0.1 s at any scale. The returned claims row reads both pins, so
    // they outlive this scope until the gate's state is released.
    val ann = pins.pin(ann0)
    val exact = pins.pin(exact0)
    val perQ = ann.groupBy("query_id").agg(
      count(lit(1)).as("__nq"),
      max(col("rank").cast("long")).as("__maxr"),
      countDistinct(col("rank")).as("__ndr"),
      array_sort(collect_list(struct(col("rank").cast("long").as("r"),
        col(scoreCol).cast("double").as("sc")))).as("__byrank"))
    val mono = {
      val a = col("__byrank")
      val n = size(a)
      val pairsOk = zip_with(slice(a, lit(1), n - 1), slice(a, lit(2), n - 1),
        (x, y) => if (ascending) x.getField("sc") <= y.getField("sc")
                  else x.getField("sc") >= y.getField("sc"))
      when(n <= 1, lit(true)).otherwise(forall(pairsOk, b => b))
    }
    val shape = perQ.select(col("query_id"),
      (col("__nq") <= k && col("__maxr") === col("__nq") &&
        col("__ndr") === col("__nq") && mono).as("__shape_ok"))
    val nQ = exact.agg(countDistinct(col("query_id")).as("n_queries"))
    val hits = ann.select(col("query_id"), col("neighbor_id")).distinct()
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("__hits"))
    val covered = ann.agg(countDistinct(col("query_id")).as("__covered"))
    val shapeAll = shape.agg(
      coalesce(min(col("__shape_ok").cast("int")), lit(1)).as("__shape_min"))
    nQ.crossJoin(hits).crossJoin(covered).crossJoin(shapeAll)
      .select(col("n_queries"),
        (col("__covered") === col("n_queries")).as("covered_ok"),
        (col("__shape_min") === 1).as("shape_ok"),
        (col("__hits").cast("double") / (col("n_queries") * k) >=
          greatest(lit(10.0) * k / corpusCount, lit(minRecall)))
          .as("recall_ok"))
  }

  // ---- media fixture synthesis (q_image_dedup / q_audio_dedup) ------------
  // The driver tables carry no image/audio bytes, so — like q_wet_pipeline
  // synthesizes WET files — these gates synthesize REAL media files on disk
  // from `documents` row ids and push them through the real distributed
  // path (binaryFile scan -> mapPartitions decode -> banded Hamming join).
  // The construction makes the expected pairs recomputable in SQL from the
  // generating parameters alone:
  //  - image: a 36x32 PNG of 4x4 grey blocks; block luminance = pattern
  //    P(doc_id % 10) plus a PER-DOC uniform shift. dHash compares adjacent
  //    area-averaged cells, so a uniform shift cancels — every doc in a
  //    group hashes IDENTICALLY — while distinct groups differ (the block
  //    pattern (g*7 + cell*5) % 12 means adjacent cells always differ and
  //    the >=7 wraparound indicator is distinct for every g < 10).
  //  - audio: a 3900-sample PCM16 WAV, constant |amplitude| per envelope
  //    bucket = A(doc_id % 8, bucket) scaled by a PER-DOC gain. The
  //    envelope hash compares adjacent bucket means, so positive gain
  //    cancels — same-group WAVs hash identically, distinct groups differ.
  // => near-dup pairs at Hamming 0 are EXACTLY the same-group pairs, a
  // plain self-join on doc_id % G in DuckDB. Corrupt payloads (ids past
  // the group range) must produce null hashes and never pair.
  /** Synthesize the sharded WET fixture (4 .warc files, 2 uris per doc,
    * deterministic page text from `documents`) into a scratch dir and
    * return its path — shared by q_wet_pipeline (RDD front door) and
    * q_warc_dsv2 (DataSource V2 front door).
    */
  private[graft] def wetFixture(s: SparkSession, dir: String,
                         tag: String): java.nio.file.Path = {
    val words = slice(split(col("text"), " "), 1, 64)
    val nch = ceil(size(words) / lit(8.0)).cast("int")
    val body = transform(sequence(lit(0), nch - 1),
      i => concat(array_join(slice(words, i * 8 + 1, lit(8)), " "), lit(".")))
    val extra = when(col("doc_id") % 7 === 0,
      array(lit("enable javascript now please friend."), lit("too short."),
        lit("lorem ipsum dolor sit amet today.")))
      .otherwise(
        array(lit("enable javascript now please friend."), lit("too short.")))
    val pages = Tables.documents(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        array_join(concat(body, extra), "\n").as("wet_text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val outDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${Integer.toHexString(dir.hashCode)}")
    java.nio.file.Files.createDirectories(outDir)
    Option(outDir.toFile.listFiles()).foreach(_.foreach(_.delete()))
    pages.groupBy { case (id, _) => id % 4 }.foreach { case (shard, docs) =>
      val bytes = docs.flatMap { case (id, text) =>
        graft.sources.Warc.recordBytes("conversion",
          f"http://m.example/$id%05d", "2024-01-02T00:00:00Z", text) ++
          graft.sources.Warc.recordBytes("conversion",
            f"http://x.example/$id%05d", "2024-01-02T00:00:00Z", text)
      }
      java.nio.file.Files.write(outDir.resolve(f"part$shard%02d.warc"),
        graft.sources.Warc.recordBytes("warcinfo", null, null,
          "software: graft-gate") ++ bytes)
    }
    outDir
  }

  private[graft] def mediaFixtureDir(kind: String, dir: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_${Integer.toHexString(dir.hashCode)}")
    java.nio.file.Files.createDirectories(p)
    p
  }

  private[graft] def imageFixtures(ids: Seq[Long], corrupt: Seq[Long],
                            out: java.nio.file.Path): Unit = {
    ids.foreach { id =>
      val img = new java.awt.image.BufferedImage(36, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = (id % 10).toInt
      val shift = ((id / 10) % 12).toInt // uniform: cancels in dHash
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 36) {
          val cell = (y / 4) * 9 + (x / 4) // exact dHash 9x8 grid cells
          val v = ((g * 7 + cell * 5) % 12) * 16 + 16 + shift // 16..203
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      java.nio.file.Files.write(out.resolve(f"img$id%05d.png"), bos.toByteArray)
    }
    corrupt.foreach { id => // PNG magic + junk: decodes to None, never pairs
      java.nio.file.Files.write(out.resolve(f"img$id%05d.png"),
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10) ++
          Array.fill[Byte](64)((id % 97).toByte))
    }
  }

  private[graft] def audioFixtures(ids: Seq[Long], corrupt: Seq[Long],
                            out: java.nio.file.Path): Unit = {
    val n = 3900 // 65 envelope buckets x exactly 60 samples
    ids.foreach { id =>
      val g = (id % 8).toInt
      val gain = 1.0 - 0.05 * ((id / 8) % 8) // 0.65..1.0: cancels in hash
      val samples = Array.tabulate(n) { i =>
        val b = i * 65 / n
        val amp = ((g * 7 + b * 5) % 12) * 2000 + 1000 // adjacent always differ
        val v = math.round(amp * gain).toInt
        (if (i % 2 == 0) v else -v).toShort
      }
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + 2 * n); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(1)
      bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(2 * n)
      samples.foreach(bb.putShort)
      java.nio.file.Files.write(out.resolve(f"aud$id%05d.wav"), bb.array())
    }
    corrupt.foreach { id => // RIFF magic + junk: not decodable audio
      java.nio.file.Files.write(out.resolve(f"aud$id%05d.wav"),
        "RIFF".getBytes ++ Array.fill[Byte](40)((id % 89).toByte))
    }
  }


  /** Shared edge construction for q_communities / q_modularity: intra-
    * clique edges (node -> another member of its 6-clique, picked by the
    * event id) plus sparse arithmetic noise edges. Mirrored verbatim in
    * the oracle SQL.
    */
  private[graft] def communityEdges(ev: DataFrame): DataFrame = {
    val intra = ev.select(
      expr("event_id % 600").as("src"),
      expr("((event_id % 600) div 6) * 6 + ((event_id div 600) % 6)").as("dst"))
    val noise = ev.filter(expr("event_id % 97 = 0")).select(
      expr("event_id % 600").as("src"),
      expr("(event_id * 31) % 600").as("dst"))
    intra.unionByName(noise)
  }

  /** Corpus + an id-shifted EXACT copy in one scan (r14, VERDICT ask 5):
    * the `docs.unionByName(docs.select(id + off, ...))` twin fixture
    * scanned the base table once per union branch — 2x the parquet read
    * inside every consumer of the fixture (and the planted-recall gates
    * consume it several times). One explode emits both rows per input
    * row; same multiset, and every consumer is a hash/shingle/pair
    * aggregate, so gate outputs are unchanged.
    */
  private[graft] def withTwin(df: DataFrame, idCol: String,
                              off: Long): DataFrame = {
    val cols = df.columns
    // both copies carry the id as the type of `id + off` (long for an int
    // id), so array() gets one struct type instead of widening field by field
    val idType = df.select(col(idCol) + off).schema.head.dataType
    def copy(id: Column => Column) = struct(cols.map(c =>
      if (c == idCol) id(col(c)).cast(idType).as(c) else col(c)): _*)
    df.select(explode(array(copy(identity), copy(_ + off))).as("__t"))
      .select(cols.map(c => col(s"__t.$c").as(c)): _*)
  }

  /** The SDXL-resolution aspect buckets used by q_aspect_buckets — the
    * standard 1024^2-area ladder in 64-px steps (public SDXL recipe).
    */
  private[graft] val SdxlBuckets: Seq[(Int, Int)] = Seq(
    (1024, 1024), (1152, 896), (896, 1152), (1216, 832), (832, 1216),
    (1344, 768), (768, 1344), (1536, 640), (640, 1536))

}
