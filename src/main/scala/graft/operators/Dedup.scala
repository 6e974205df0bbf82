package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard near-dup.
  *
  * Scale design (100 TB): exact dedup is a hash-groupBy (single shuffle on a
  * 128-bit key — the only fact-grain shuffle); MinHash/LSH shuffles on
  * (band, bandHash) bucket keys so candidate pairs are generated per-bucket
  * instead of via an O(n^2) cross join; SimHash groups on the 64-bit
  * signature (optionally banded for Hamming-distance tolerance). Nothing
  * here collects fact-grain data to the driver.
  *
  * Materialization follows [[org.apache.spark.sql.graft.Pins]]: each
  * operator pins inside one `Pins.scoped`, and every pin names what
  * re-reads it.
  */
object Dedup {

  /** Exact dedup on normalized content: keeps the lowest `idCol` per
    * fingerprint group. Returns the input plus (fingerprint, is_duplicate).
    * Assumes ids are unique (rows tying on the group-min id all read as
    * canonical).
    *
    * Scale shape: groupBy(fingerprint).min(id) + join — a partial aggregate
    * that map-side-combines a fingerprint duplicated 10^8 times down to one
    * row per partition, where a row_number window over the same key would
    * sort the entire hot group in a single task. Null text (null
    * fingerprint) forms its own group via the null-safe join key instead of
    * silently dropping.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val batch = df.withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))
    val firsts = batch.groupBy("fingerprint")
      .agg(min(col(idCol)).as("__first_id"))
      .withColumnRenamed("fingerprint", "__fp")
    batch.join(firsts, col("fingerprint") <=> col("__fp"))
      .withColumn("is_duplicate", !(col(idCol) <=> col("__first_id")))
      .drop("__fp", "__first_id")
  }

  /** Character shingles (n-grams) of the normalized text as an array column. */
  def shingles(text: Column, n: Int = 5): Column = {
    val norm = TextAnalysis.normalize(text)
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(length(norm) - n, lit(0))),
          i => substring(norm, lit(1) + i, lit(n))),
        s => length(s) === n))
  }

  /** Distinct character shingles as ROWS (id, shingle) — the scale path.
    * Array-building higher-order functions (`transform`/`filter`) are
    * interpreted, not codegen'd, and measured ~25s per 5k docs; exploding
    * POSITIONS and substring-ing a pre-materialized normalized column keeps
    * the whole pipeline in whole-stage codegen (measured ~1s for the same
    * input). The normalize() runs once per doc in the projection below the
    * generator, not once per position.
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int,
                  dedup: Boolean = true): DataFrame = {
    val rows = df
      .select(col(idCol).as("id"), TextAnalysis.normalize(col(textCol)).as("__norm"))
      .select(col("id"), col("__norm"),
        explode(sequence(lit(0), greatest(length(col("__norm")) - n, lit(0)))).as("__pos"))
      .select(col("id"), substring(col("__norm"), col("__pos") + 1, lit(n)).as("shingle"))
      .filter(length(col("shingle")) === n)
    // set semantics (Jaccard) need the dedup shuffle; min-aggregates
    // (MinHash) are duplicate-insensitive and should skip it
    if (dedup) rows.distinct() else rows
  }

  /** Distinct word n-gram shingles as ROWS (id, shingle) plus any
    * passthrough columns — codegen'd (element_at + concat_ws), same output
    * strings as [[wordShingles]].
    */
  def wordShingleRows(df: DataFrame, idCol: String, textCol: String, n: Int,
                      passthrough: Seq[String] = Seq.empty,
                      dedup: Boolean = true): DataFrame = {
    val gram = concat_ws(" ",
      (0 until n).map(j => element_at(col("__toks"), col("__pos") + j + 1)): _*)
    val rows = df.select((col(idCol).as("id") +:
        split(TextAnalysis.normalize(col(textCol)), " ").as("__toks") +:
        passthrough.map(col)): _*)
      .select((col("id") +: col("__toks") +:
        explode(sequence(lit(0), greatest(size(col("__toks")) - n, lit(0)))).as("__pos") +:
        passthrough.map(col)): _*)
      .filter(col("__pos") + n <= size(col("__toks")))
      .select((col("id") +: gram.as("shingle") +: passthrough.map(col)): _*)
    if (dedup) rows.distinct() else rows
  }

  /** Word shingles (n-gram of tokens) as an array column. */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = split(TextAnalysis.normalize(text), " ")
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => array_join(slice(toks, i + 1, lit(n)), " ")),
        s => size(split(s, " ")) === n))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum over shingles of xxhash64(shingle, seed). Row-local `transform`
    * + `array_min` — no shuffle, no UDF.
    */
  def minHashSignature(shingleArr: Column, numHashes: Int = 128): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), seed =>
      array_min(transform(shingleArr, s => xxhash64(s, seed))))

  /** LSH banding: split a signature of length numHashes into `bands` bands of
    * rows and hash each band -> (band_id, band_hash) struct array. Docs
    * sharing any band bucket are near-dup candidates.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(array_join(
          transform(slice(signature, b * rowsPerBand + lit(1), lit(rowsPerBand)),
            x => x.cast("string")), ",")).as("band_hash")))

  /** Full MinHash-LSH near-dup candidate pairs: returns (id_a, id_b,
    * est_jaccard) for pairs sharing >= 1 band bucket, with the MinHash
    * Jaccard estimate from signature agreement. Bucket-local self-join: the
    * shuffle key is (band, band_hash), never an all-pairs cross join.
    */
  /** MinHash signature table (id, sig: array<long>) — the reusable
    * near-dup INDEX. Persist this for a standing corpus and dedup incoming
    * batches against it with [[minHashCandidatesAgainst]].
    *
    * Signatures via shingle ROWS + grouped min-aggregates rather than
    * array-lambda minhashing: higher-order functions are interpreted (no
    * codegen) and re-evaluate the shingle array per seed. Each exploded
    * (doc, shingle) row feeds numHashes codegen'd min aggregates with
    * map-side partial aggregation, so the shuffle carries only
    * #docs x numHashes longs.
    * No dedup: min() is duplicate-insensitive, so the distinct shuffle of
    * fact-grain shingle strings would be pure cost. The numHashes hash
    * family is DOUBLE HASHING, g_i = h1 + i*h2 over two base xxhash64
    * values projected once per row — per aggregate the row expression is a
    * long multiply-add instead of a fresh seeded xxhash64 (numHashes x
    * #shingleRows hash evaluations saved; the standard MinHash
    * construction, cf. Kirsch & Mitzenmacher's two-hash scheme).
    */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 5,
                        numHashes: Int = 128): DataFrame =
    shingleRows(FanOut(df), idCol, textCol, shingleSize, dedup = false)
      .select(col("id"), xxhash64(col("shingle")).as("__h1"),
        xxhash64(col("shingle"), lit(1)).as("__h2"))
      .groupBy("id")
      .agg(graft.functions.VectorExprs
        .minHashSignature(col("__h1"), col("__h2"), numHashes).as("sig"))

  def minHashCandidates(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 5, numHashes: Int = 128,
                        bands: Int = 32,
                        maxBucketSize: Int = 2000): DataFrame = Pins.scoped { pins =>
    val rowsPerBand = numHashes / bands
    // pinned: both self-join sides and both per-pair re-attachments re-read
    // it — tiny (#docs x numHashes longs) while its lineage (shingling over
    // the full corpus) is not
    val sigs = pins.pin(minHashSignatures(df, textCol, idCol, shingleSize, numHashes))
    // Candidate pairs carry ONLY ids through the (possibly huge) bucket
    // self-join — a hot band bucket of n docs emits n^2/2 pair rows, and
    // shipping the numHashes-long signature arrays through that join is the
    // dominant cost at scale. Signatures re-attach per UNIQUE pair
    // afterwards. The signature table is per-DOCUMENT (numHashes longs ≈
    // 1 KB/doc), so it must NOT be force-broadcast: at 10^9 docs that is a
    // ~500 GB broadcast. No hint — AQE broadcasts it when small and falls
    // back to a shuffle join at scale.
    val keyed0 = sigs
      .withColumn("bandkey", explode(lshBands(col("sig"), bands, rowsPerBand)))
      .select("bandkey", "id")
    // Skew guard: a band bucket of b docs emits b^2/2 pair rows; buckets
    // beyond maxBucketSize are near-identical cliques (or degenerate hash
    // collisions) whose pairs add quadratic cost without new information.
    // r11 (the q_simhash_neardup sf10 lesson, applied to its sibling
    // BEFORE it bites): dropping hot buckets outright loses recall for
    // IDENTICAL documents — an identical pair shares every band key, so
    // its bucket is hot in all 32 bands at once and no band rescues it.
    // Hot buckets degrade to per-identical-signature STAR pairs (group
    // min -> member, linear): CC reconnects the full identical group and
    // est_jaccard comes out 1.0 through the normal re-attachment below.
    // Only cross-signature pairs inside hot buckets stay capped. The sig
    // grouping key is xxhash64(sig) — a collision merely adds a spurious
    // candidate whose true est_jaccard is computed (and thresholded)
    // downstream from the REAL signatures.
    // pinned: the emptiness probe, the anti-join and the star subtree re-read
    // it — bounded tiny (buckets past the cap only), so the common no-hot
    // case pays one agg pass and skips the star subtree entirely
    val hot = pins.pin(keyed0.groupBy("bandkey").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize).select("bandkey"))
    val keyed = keyed0.join(broadcast(hot), Seq("bandkey"), "left_anti")
    val hotStars = if (hot.isEmpty) None else Some {
      val hotIds = keyed0.join(broadcast(hot), Seq("bandkey"))
        .select("id").distinct()
      val hotSigs = sigs.join(hotIds, Seq("id"))
        .withColumn("__sigkey", xxhash64(col("sig")))
      hotSigs.groupBy("__sigkey").agg(min("id").as("__min"))
        .join(hotSigs, Seq("__sigkey"))
        .filter(col("id") =!= col("__min"))
        .select(col("__min").as("id_a"), col("id").as("id_b"))
    }
    val coldPairs = keyed.join(keyed.withColumnRenamed("id", "id_b"), Seq("bandkey"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
    val candPairs = hotStars.fold(coldPairs)(coldPairs.union).distinct()
    candPairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          x => x)).cast("double") / numHashes).as("est_jaccard"))
  }

  /** 64-bit SimHash of the token stream: per bit, sum +1/-1 weighted by each
    * token's hash bit, take the sign. Row-local aggregate over tokens.
    */
  def simHash(text: Column): Column = {
    val toks = split(TextAnalysis.normalize(text), " ")
    val hashes = transform(toks, t => xxhash64(t))
    // For each bit position, count tokens with that bit set vs total.
    val bitSums = transform(sequence(lit(0), lit(63)), bit =>
      aggregate(hashes, lit(0L),
        (acc, h) => acc + when(call_function("shiftright", h, bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, bit) => when(s > 0, call_function("shiftleft", lit(1L), bit)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash signatures as a TABLE (id, sig) via exploded tokens + ONE
    * imperative signature aggregate — value-identical to [[simHash]] but
    * avoids both the interpreted per-bit array lambdas AND a 64-wide
    * generated aggregate class (same pathology and same fix as the MinHash
    * signature path; see [[org.apache.spark.sql.graft.SimHashAgg]]).
    */
  def simHashTable(df0: DataFrame, textCol: String, idCol: String): DataFrame = {
    val df = FanOut(df0)
    val toks = df.select(col(idCol).as("id"),
        explode(split(TextAnalysis.normalize(col(textCol)), " ")).as("tok"))
      .withColumn("__h", xxhash64(col("tok")))
    toks.groupBy("id")
      .agg(graft.functions.VectorExprs.simHashSignature(col("__h")).as("sig"))
  }

  /** Hamming distance between two 64-bit signatures: popcount of the XOR —
    * pure codegen'd built-ins. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs with Hamming distance <= maxHamming.
    * Banding: a pair within Hamming distance k must agree exactly on at
    * least one of k+1 disjoint bit-bands (pigeonhole), so candidates come
    * from equality joins on band values — shuffle key (band, value), never
    * an all-pairs scan.
    */
  def simHashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame =
    Pins.scoped { pins =>
      // pinned: the banding passes and the hot-bucket stars re-read it
      hammingCandidates(pins.pin(simHashTable(df, textCol, idCol)), maxHamming, maxBucketSize)
    }

  /** Near-dup candidate pairs over ANY precomputed 64-bit signature table
    * (id, sig) with Hamming distance <= maxHamming — the banding engine
    * behind [[simHashCandidates]] and the image-dHash path
    * ([[graft.multimodal.Multimodal.dHashNearDupPairs]]). Pigeonhole over
    * maxHamming+1 disjoint bit-bands turns the all-pairs problem into
    * equality joins on (band, value); a per-bucket size cap keeps one
    * degenerate signature value (all-black images, empty documents) from
    * going quadratic.
    *
    * Operating-point math (the 100-TB selectivity rule): bands are
    * 64/(maxHamming+1) bits wide, so expected bucket size is
    * n / 2^(64/(maxHamming+1)). maxHamming=3 -> 16-bit bands, selective
    * past 10^8 rows; maxHamming=7 -> 8-bit bands whose 256 values per band
    * SATURATE near ~500k rows — every bucket crosses the cap and recall
    * collapses (measured: 13% of planted exact copies lost at 1M rows).
    * Keep maxHamming <= 3 for large corpora (the Manku et al. WWW'07
    * production point); for looser thresholds, band a second permuted
    * signature instead of widening the Hamming budget.
    */
  def hammingCandidates(sigs: DataFrame, maxHamming: Int = 3,
                        maxBucketSize: Int = 2000,
                        bandsOverride: Int = 0): DataFrame = Pins.scoped { pins =>
    require(maxHamming >= 0 && maxHamming < 64, s"bad maxHamming $maxHamming")
    // bandsOverride decouples band WIDTH from the distance filter: the
    // multi-table path bands at the selective 4x16-bit point while keeping
    // a looser emit threshold (full recall then only for d < bands, by
    // pigeonhole; the extra tables buy the rest probabilistically)
    val bands = if (bandsOverride > 0) bandsOverride else maxHamming + 1
    val bandBits = 64 / bands
    // wrap-safe mask: maxHamming=0 (exact-match dedup) gives bandBits=64,
    // where (1L << 64) - 1 wraps to 0 on the JVM (shift count is mod 64)
    // and would silently mask every signature to band_val 0
    val bandMask = -1L >>> (64 - bandBits)
    val banded0 = sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("sig"), b * bandBits)
          .bitwiseAND(lit(bandMask))
      }: _*)).as(Seq("band", "band_val")))
    // Same skew guard as minHashCandidates: cap per-(band, value) bucket
    // size so one degenerate band value can't go quadratic — but DEGRADE,
    // don't drop. r11 (found by the sf10 oracle adjudication): dropping
    // hot buckets outright lost 32% of planted EXACT copies at 1M rows —
    // replicated corpora concentrate identical signatures until whole
    // band buckets cross the cap, and an identical pair dropped from one
    // band is identical (hence hot, hence dropped) in EVERY band, so no
    // other band rescues it. Hot buckets now emit per-identical-signature
    // STAR pairs (group min -> member): linear in bucket size, and
    // exactly the edges clustering needs — CC reconnects the full
    // identical group through the star, so Hamming-0 recall is preserved
    // at ANY scale. Only cross-signature pairs inside hot buckets stay
    // capped (the genuinely quadratic part; other bands still find them
    // probabilistically).
    // pinned: the emptiness probe, the anti-join and the star subtree re-read
    // it — bounded tiny (buckets past the cap only), so the common no-hot
    // case pays one agg pass and skips the star subtree entirely
    val hot = pins.pin(banded0.groupBy("band", "band_val").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize).select("band", "band_val"))
    val banded = banded0.join(broadcast(hot), Seq("band", "band_val"), "left_anti")
    val hotStars = if (hot.isEmpty) None else Some {
      val hotRows = banded0.join(broadcast(hot), Seq("band", "band_val"))
      hotRows
        .groupBy("band", "band_val", "sig").agg(min("id").as("__min"))
        .join(hotRows, Seq("band", "band_val", "sig"))
        .filter(col("id") =!= col("__min"))
        .select(col("__min").as("id_a"), col("id").as("id_b"),
          hammingDistance(col("sig"), col("sig")).as("hamming"))
    }
    val a = banded.select(col("band"), col("band_val"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_val"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    val coldPairs = a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).as("hamming"))
      // filter BEFORE the distinct: the Hamming predicate is row-local and
      // deterministic, so the result is identical but the dedup shuffle
      // only carries the (rare) qualifying pairs, not every banded collision
      .filter(col("hamming") <= maxHamming)
    hotStars.fold(coldPairs)(coldPairs.union).distinct()
  }

  /** Multi-table banded Hamming candidates — the SCALABLE loose-threshold
    * path the single-table pigeonhole can't offer (Lesson 11: one table at
    * maxHamming=7 needs 8-bit bands, which saturate near ~500k rows).
    * Each table bands a BIT-ROTATED copy of the signature at a selective
    * operating point ([[adaptiveBandCount]]: 4x16-bit bands up to ~131M
    * rows, wider beyond); rotation preserves Hamming distance, so each
    * table guarantees recall for Hamming < bands and adds
    * an independent chance that a looser pair's differing bits straddle
    * band boundaries. Recall for 3 < d <= maxHamming grows with `tables`
    * (probabilistic, spec-measured >= 90% at d=5 with 4 tables) while
    * bucket sizes stay n/65536 per table — the Manku et al. WWW'07
    * multiple-permutation design, with rotations standing in for general
    * permutations so each table is one codegen'd shift-or expression, no
    * per-table shuffle of reordered bits.
    */
  /** Band count for [[hammingCandidatesMulti]] as a FUNCTION OF CORPUS
    * SIZE (the adaptiveLshBits sizing rule applied to signature bands):
    * expected bucket occupancy is n / 2^(64/bands), so band WIDTH must
    * grow with log2(n) once 16-bit bands stop being selective —
    * n/65536 > targetBucket (~131M rows at the 2000 default) is where
    * the r7 SimHash lesson recurs one level up. Returns 4 (the proven
    * 4x16-bit point, behavior-identical) until that threshold, then 3
    * (21-bit) / 2 (32-bit) as n demands; per-table guaranteed-recall
    * radius shrinks to d < bands, which extra `tables` buy back
    * probabilistically (the Manku WWW'07 trade).
    */
  def adaptiveBandCount(corpusCount: Long, targetBucket: Long = 2000): Int = {
    require(targetBucket >= 1, s"bad targetBucket $targetBucket")
    val n = math.max(1L, corpusCount)
    val needed = math.ceil(
      math.log(n.toDouble / targetBucket.toDouble) / math.log(2.0)).toInt
    math.max(2, 64 / math.max(16, needed))
  }

  /** `corpusCount`: pre-counted signature count for the adaptive sizing
    * (-1 = count here). The default `bands = 0` path needs n; when
    * `sigs` is a derived plan (simhash over text, typically), counting
    * it would recompute that upstream lineage — so the signatures are
    * pinned ONCE up front and both the count and every
    * per-table rotation read the materialized copy. Callers that
    * already know n (a prior `.count()`, a catalog row count) pass it
    * and skip the count job entirely; spec-pinned equal to the
    * adaptive path.
    */
  def hammingCandidatesMulti(sigs: DataFrame, maxHamming: Int = 7,
                             tables: Int = 4,
                             maxBucketSize: Int = 2000,
                             bands: Int = 0,
                             corpusCount: Long = -1L): DataFrame = Pins.scoped { pins =>
    require(tables >= 1 && tables <= 16, s"bad tables $tables")
    require(maxHamming >= 0 && maxHamming < 64, s"bad maxHamming $maxHamming")
    require(bands >= 0 && bands <= 64, s"bad bands $bands")
    // pinned: the adaptive count() and the `tables` rotated banding passes
    // re-read it; each would re-run the upstream signature computation
    // (often an expensive simhash-over-text plan) otherwise.
    val mat = pins.pin(sigs)
    // bands = 0 (default) -> adaptive: one count over the MATERIALIZED
    // signatures sizes the operating point (skipped when the caller
    // supplies corpusCount); pass explicit bands only with a
    // corpus-size rationale
    val useBands =
      if (bands > 0) bands
      else adaptiveBandCount(
        if (corpusCount >= 0) corpusCount else mat.count(), maxBucketSize)
    // odd rotation stride decorrelates tables' band boundaries; any fixed
    // stride works, 13 spreads 4 tables across 52 of the 64 bit positions
    def rot(c: org.apache.spark.sql.Column, r: Int) =
      if (r == 0) c
      else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
    val perTable = (0 until tables).map { t =>
      val rotated = mat.select(col("id"), rot(col("sig"), (t * 13) % 64).as("sig"))
      // rotation preserves Hamming distance, so the emitted distances ARE
      // the original-signature distances — no re-join needed
      hammingCandidates(rotated, maxHamming,
        maxBucketSize, bandsOverride = useBands)
    }
    perTable.reduce(_ unionByName _).distinct()
  }

  /** Connected components over an undirected candidate-pair edge list —
    * the step that turns near-dup PAIRS (from [[minHashCandidates]],
    * [[simHashCandidates]], [[ngramJaccardPairs]], or embedding-cosine
    * pairs) into duplicate CLUSTERS. Returns (id, component) where
    * `component` is the minimum node id in the component; nodes not present
    * in any edge are absent (callers left-join and coalesce to own id).
    *
    * Algorithm: iterated min-CONTRACTION (the Kiveris et al. MapReduce-CC
    * family, specialized to min-preserving quotients). Each round: (1)
    * every node computes the minimum of its closed neighborhood (one
    * partial-aggregated shuffle over the CURRENT edge set), (2) that
    * node→min mapping is pointer-jumped twice on itself (node-table-sized
    * self-joins — collapses chains, where a single hop shrinks a sorted
    * path by only one node per round), (3) the edge set is CONTRACTED
    * through the jumped mapping (endpoints rewritten to representatives,
    * self-loops dropped, distinct). The quotient preserves connectivity
    * and the component minimum, so composing the per-round mappings when
    * the edge set reaches empty yields component = min node id.
    *
    * Why contraction, not label propagation: a relax-labels loop
    * re-shuffles the FULL edge set every round — rounds x |E| work even
    * when round 1 already collapsed most structure (measured r10,
    * q_cc_dedup sf10, 174M symmetrized edges in n_chars-band chain
    * components: 14 rounds x ~20 s = ~340 s in the loop, 510-535 s for
    * the gate, OOM-flaky under 48g at 256 initial partitions).
    * Contraction does its |E|-sized work once: near-cliques (the dedup
    * shape) become single supernodes in round 1 and every later round
    * runs on a geometrically smaller residue — same corpus, measured:
    * 174.16M -> 780 -> 50 -> 2 -> 0 edges in 4 rounds, ~28 s in the
    * loop, 118 s for the gate (identical 1,478 components).
    *
    * Scale (100 TB): everything that shuffles is (long, long) rows — no
    * text, no signatures. The mapping tables are node-sized and shrink
    * with the contraction; the contract joins broadcast the mapping when
    * it fits (AQE runtime-converts) and degrade to shuffle joins keyed on
    * the endpoint otherwise. Each round's edge set and labels are loop
    * pins (lesson 14: carried stats square through iterative
    * checkpoints). Map-side partial aggregation
    * collapses the contracted duplicates before the distinct's shuffle —
    * a clique's C(k,2) edges leave the mapper as ONE row per partition.
    */
  def connectedComponents(pairs: DataFrame, srcCol: String = "id_a",
                          dstCol: String = "id_b", maxIter: Int = 30,
                          driverEdgeThreshold: Long = 4L * 1000 * 1000)
      : DataFrame = Pins.scoped { pins =>
    // r14 (VERDICT ask 5): both directions via ONE explode pass — the
    // self-union executed the candidate-pair subtree once per branch
    // (2x the generator's work when the caller passes it lazy). Same
    // multiset into the distinct. Pinned: the count and the collect (or
    // the initial labels and the first round) re-read it.
    val edges = pins.pin(pairs.select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct())
    // Size-aware short-circuit (the KMeansLite altitude rule): candidate-
    // pair graphs are usually FAR smaller than the corpus that produced
    // them, and the distributed loop pays ~0.3-0.8 s of job overhead per
    // round regardless of size (measured: the sf0.1 gate graph is 12k
    // edges yet ran 14 rounds ~ 5 s). Below the threshold (~64 MB of long
    // pairs at the default), collect the edge list once and run exact
    // union-find driver-side; the O(log diameter) distributed loop below
    // remains the path for graphs that cannot fit. Integral id types only —
    // driver min/ordering must agree with Catalyst's for the labels to be
    // identical.
    val integralIds = edges.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && edges.count() <= driverEdgeThreshold) {
      val spark = pairs.sparkSession
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // union-find with path halving, union by min root (the component
      // label is the minimum node id, as in the distributed path)
      val idx = scala.collection.mutable.HashMap.empty[Long, Int]
      es.foreach { case (a, b) =>
        idx.getOrElseUpdate(a, idx.size); idx.getOrElseUpdate(b, idx.size)
      }
      val ids = new Array[Long](idx.size)
      idx.foreach { case (id, i) => ids(i) = id }
      val parent = Array.tabulate(idx.size)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      es.foreach { case (a, b) =>
        val ra = find(idx(a)); val rb = find(idx(b))
        if (ra != rb) {
          // keep the root whose node id is smaller
          if (ids(ra) <= ids(rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
      // root id is min of its component only if unions always kept the
      // min-id root — they did; still take min over members for safety
      val minOf = scala.collection.mutable.HashMap.empty[Int, Long]
      ids.indices.foreach { i =>
        val r = find(i)
        minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), ids(i))
      }
      val rows = ids.indices.map(i => (ids(i), minOf(find(i))))
      import spark.implicits._
      val idType = edges.schema("src").dataType
      rows.toDF("id", "comp")
        .select(col("id").cast(idType), col("comp").cast(idType))
    } else {
      // Final labels for every node of the ORIGINAL graph, folded through
      // the per-round contraction mappings at the end. Loop state: the
      // first round's fold re-reads it.
      var labels = pins.loop(edges.select(col("src").as("id"))
        .distinct()
        .withColumn("comp", col("id")))
      var cur = edges // symmetrized; both directions present
      var iter = 0
      var live = true
      while (live && iter < maxIter) {
        // (1) min of the closed neighborhood — partial-aggregated shuffle
        // over the current (shrinking) edge set; output is node-sized.
        val m1 = cur.groupBy("src")
          .agg(min("dst").as("mn"))
          .select(col("src").as("node"), least(col("src"), col("mn")).as("rep"))
        // (2) two pointer jumps on the node-sized mapping: rep := rep(rep).
        // One jump contracts stars/cliques; the second halves chains (a
        // sorted path shrinks by only one node per round under a single
        // hop). Jump joins are mapping x mapping — never edge-sized.
        def jump(m: DataFrame): DataFrame = m.as("a")
          .join(m.select(col("node").as("n2"), col("rep").as("r2")).as("b"),
            col("a.rep") === col("n2"), "left")
          .select(col("a.node").as("node"),
            coalesce(col("r2"), col("a.rep")).as("rep"))
        // pinned: both contraction joins and the label fold re-read it
        val mapping = pins.pin(jump(jump(m1)))
        // (3) contract: rewrite both endpoints through the mapping, drop
        // self-loops. Map-side partial agg collapses a clique's C(k,2)
        // rewritten duplicates before the distinct's shuffle.
        // shuffle_hash on the node-sized mapping: SMJ would SORT the
        // edge set twice per round (measured r10: sys-time-dominated disk
        // spill at 174M edges); hash-building the small side streams the
        // edges unsorted, and AQE still upgrades to broadcast when the
        // mapping fits.
        val contracted = cur
          .join(mapping.withColumnRenamed("node", "src").hint("shuffle_hash"),
            "src")
          .select(col("rep").as("src"), col("dst"))
          .join(mapping.withColumnRenamed("node", "dst").hint("shuffle_hash"),
            "dst")
          .select(col("src"), col("rep").as("dst"))
          .filter(col("src") =!= col("dst"))
        // r14 (VERDICT ask 5): the self-union re-executed BOTH contraction
        // joins once per branch every round; one explode pass emits both
        // directions (same multiset into the distinct). Loop state: the
        // liveness probe and the next round re-read it.
        val next = pins.loop(
          contracted.select(explode(array(
              struct(col("src"), col("dst")),
              struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
            .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
            .distinct())
        // Fold this round's mapping into the accumulated labels (labels
        // stay original-node-sized; the mapping shrinks every round).
        // Loop state, re-read by the next round's fold.
        labels = pins.loop(labels.as("l")
          .join(mapping.as("m"), col("l.comp") === col("m.node"), "left")
          .select(col("l.id").as("id"),
            coalesce(col("m.rep"), col("l.comp")).as("comp")))
        cur = next
        live = cur.limit(1).count() > 0L
        iter += 1
      }
      // Silent partial contraction would violate the 'component = min node
      // id' contract (nodes of one component under different labels) — fail
      // loudly instead. Convergence is logarithmic in the longest path
      // (measured r10: 174M edges -> 0 in 4 rounds), so 30 rounds means a
      // pathological input, not a tuning issue.
      require(!live,
        s"connectedComponents did not converge in $maxIter contraction rounds")
      labels
    }
  }

  /** Quality-aware canonical selection: like [[dedupClusters]], but the
    * surviving member of each duplicate cluster is the one with the HIGHEST
    * `scoreCol` (ties break to the minimum id) instead of the minimum id —
    * what production dedup actually keeps (drop the boilerplate-ridden
    * copy, keep the clean one). One skew-safe groupBy(component)
    * .max(struct(score, -id)) aggregate picks canonicals; no windows.
    * Requires a numeric id column (the tie-break negates it).
    */
  def dedupClustersBy(df: DataFrame, idCol: String, scoreCol: String,
                      pairs: DataFrame, srcCol: String = "id_a",
                      dstCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, srcCol, dstCol)
      .withColumnRenamed("id", idCol)
    val withComp = df.join(comps, Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol))).drop("comp")
    // max over (score, -id): highest score wins, then smallest id
    val best = withComp.groupBy("component")
      .agg(max(struct(col(scoreCol), (col(idCol) * -1).as("__negid"))).as("__best"))
      .select(col("component"), (col("__best.__negid") * -1).as("__canonical_id"))
    withComp.join(best, Seq("component"))
      .withColumn("is_duplicate", col(idCol) =!= col("__canonical_id"))
      .withColumnRenamed("__canonical_id", "canonical_id")
  }

  /** Full dedup-clustering pass: attach each row's duplicate-cluster id and
    * an `is_duplicate` flag (true for every row except the minimum-id
    * canonical member of its cluster). Rows in no candidate pair form
    * singleton clusters of themselves.
    */
  def dedupClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                    srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, srcCol, dstCol)
      .withColumnRenamed("id", idCol)
    df.join(comps, Seq(idCol), "left")
      .withColumn("component", coalesce(col("comp"), col(idCol))).drop("comp")
      .withColumn("is_duplicate", col("component") =!= col(idCol))
  }

  /** n-gram Jaccard similarity between two shingle-array columns (row-local,
    * for already-paired candidates). */
  def jaccard(aShingles: Column, bShingles: Column): Column = {
    val inter = size(array_intersect(aShingles, bShingles)).cast("double")
    val union = size(array_union(aShingles, bShingles)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Exact n-gram Jaccard near-dup pairs within blocking groups (e.g. same
    * source): explode shingles, self-join on shingle within the block to
    * count intersections, recover |union| from per-doc sizes. The shuffle key
    * is (block, shingle).
    *
    * Scale guards: one hot shingle of frequency f inside a block emits
    * O(f^2) join rows, so shingles above `maxShingleFreq` are dropped
    * BEFORE the self-join (a shingle shared by thousands of docs is
    * boilerplate carrying no dedup signal; jaccard is then computed on the
    * capped shingle sets, sizes included). The hot-shingle set is found with
    * a cheap aggregate + broadcast anti-join — NOT a count-over-window pass,
    * which would sort the whole shingle table. Only ids transit the
    * self-join; per-doc sizes attach to the (much smaller) aggregated pair
    * table afterwards.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: String, n: Int = 3, minJaccard: Double = 0.1,
                        maxShingleFreq: Int = 1000): DataFrame =
    ngramPairCore(df, textCol, idCol, blockCol, n, maxShingleFreq)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("block", "id_a", "id_b", "jaccard")

  /** Directional n-gram containment pairs: containment of A in B =
    * |A ∩ B| / |A| — the ASYMMETRIC near-dup signal Jaccard misses: a
    * paragraph quoted inside a 100x-longer document has tiny Jaccard but
    * containment ~1 for the short side (quote/subset/excerpt detection,
    * the Lee et al. "contained documents" case). Emits both directions on
    * the canonical (id_a < id_b) pair; filter keeps pairs where EITHER
    * direction clears `minContainment`. Same blocked, hot-shingle-capped
    * pair plan as [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            blockCol: String, n: Int = 3,
                            minContainment: Double = 0.5,
                            maxShingleFreq: Int = 1000): DataFrame =
    ngramPairCore(df, textCol, idCol, blockCol, n, maxShingleFreq)
      .withColumn("containment_a", col("inter").cast("double") / col("size_a"))
      .withColumn("containment_b", col("inter").cast("double") / col("size_b"))
      .filter(col("containment_a") >= minContainment ||
        col("containment_b") >= minContainment)
      .select("block", "id_a", "id_b", "containment_a", "containment_b")

  private def ngramPairCore(df: DataFrame, textCol: String, idCol: String,
                            blockCol: String, n: Int,
                            maxShingleFreq: Int): DataFrame = Pins.scoped { pins =>
    // Shingles become 8-byte xxhash64 longs BEFORE the dedup shuffle and the
    // self-join: intersection/union COUNTS are what Jaccard needs, and longs
    // cut the shuffled bytes ~3x vs ~20-char gram strings (collision odds at
    // 2^-64 per in-block pair are irrelevant next to FP tolerance).
    // Pinned: four consumers read this table (hot-shingle aggregate,
    // per-doc sizes, both self-join sides) — materializing the
    // ~3-longs-per-shingle rows once beats re-running tokenize+shingle 4x
    // (same reuse pattern as minHashCandidates' signature table).
    val sh = pins.pin(wordShingleRows(FanOut(df), idCol, textCol, n,
        passthrough = Seq(blockCol), dedup = false)
      .withColumnRenamed(blockCol, "block")
      .select(col("block"), col("id"), xxhash64(col("shingle")).as("shingle"))
      .distinct())
    val (filtered, hotStars) =
      if (maxShingleFreq >= Int.MaxValue / 2) (sh, None)
      else {
        // pinned: the emptiness probe and the anti-join re-read it. hot is
        // BOUNDED tiny by construction (only buckets past the cap), so the
        // no-hot common case costs one agg pass and skips the star subtree
        // entirely (the sf1 A/B measured the unconditional star plan at
        // +1-3 s per gate on corpora with zero hot shingles — two extra
        // distinct passes over the shingle table)
        val hot = pins.pin(sh.groupBy("block", "shingle").agg(count(lit(1)).as("__freq"))
          .filter(col("__freq") > maxShingleFreq)
          .select("block", "shingle"))
        val kept = sh.join(broadcast(hot), Seq("block", "shingle"), "left_anti")
        // r11 (the hot-bucket star lesson, third sibling): a doc family
        // duplicated past maxShingleFreq has EVERY shingle hot, so the
        // whole family vanishes from the join and the most-duplicated
        // content — exactly what dedup must catch — produces zero pairs.
        // Docs with no surviving shingle degrade to per-identical-
        // shingle-SET star pairs (jaccard/containment exactly 1.0 for
        // identical sets, so inter = size_a = size_b = raw set size);
        // hot-shingle docs that still have cold shingles keep flowing
        // through the normal path (their capped-set jaccard is 1.0 for
        // identical docs already).
        val stars = if (hot.isEmpty) None else {
          val lostDocs = sh.select("block", "id").distinct()
            .join(kept.select("block", "id").distinct(),
              Seq("block", "id"), "left_anti")
          val lostSets = sh.join(lostDocs, Seq("block", "id"))
            .groupBy("block", "id")
            .agg(xxhash64(sort_array(collect_list(col("shingle"))))
              .as("__setkey"), count(lit(1)).as("__sz"))
          Some(lostSets.groupBy("block", "__setkey")
            .agg(min("id").as("__min"))
            .join(lostSets, Seq("block", "__setkey"))
            .filter(col("id") =!= col("__min"))
            .select(col("block"), col("__min").as("id_a"), col("id").as("id_b"),
              col("__sz").as("inter"), col("__sz").as("size_a"),
              col("__sz").as("size_b")))
        }
        (kept, stars)
      }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sh_size"))
    val a = filtered.select(col("block"), col("shingle"), col("id").as("id_a"))
    val b = filtered.select(col("block"), col("shingle"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("block", "shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("block", "id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val joined = pairs
      .join(sizes.select(col("id").as("id_a"), col("sh_size").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sh_size").as("size_b")), Seq("id_b"))
      .select("block", "id_a", "id_b", "inter", "size_a", "size_b")
    hotStars.fold(joined)(s => joined.union(s))
  }

  /** Cross-corpus MinHash candidates: near-dup pairs between a NEW batch's
    * signatures and a standing corpus INDEX (both from
    * [[minHashSignatures]], same shingleSize/numHashes). Returns
    * (new_id, corpus_id, est_jaccard) for pairs sharing >= 1 band bucket —
    * the incremental-crawl dedup path: the 100 TB corpus is banded once
    * and persisted; each incoming batch bands itself and joins on
    * (band, band_hash), so per-batch cost scales with the BATCH, not the
    * corpus.
    */
  def minHashCandidatesAgainst(newSigs: DataFrame, corpusSigs: DataFrame,
                               numHashes: Int = 128, bands: Int = 32,
                               maxBucketSize: Int = 2000): DataFrame = Pins.scoped { pins =>
    val rowsPerBand = numHashes / bands
    def banded(sigs: DataFrame, idName: String) = sigs
      .select(col("id").as(idName),
        explode(lshBands(col("sig"), bands, rowsPerBand)).as("bandkey"))
    val nb = banded(newSigs, "new_id")
    val cb0 = banded(corpusSigs, "corpus_id")
    // skew cap on the CORPUS side (boilerplate buckets): same aggregate +
    // broadcast anti-join shape as the self-join variant.
    // r11: hot corpus buckets keep ONE representative per identical
    // corpus signature (min corpus_id) instead of vanishing — an incoming
    // doc identical to a 10^5-member boilerplate family must still match
    // SOMETHING to be flagged; the match lands on the family
    // representative at est_jaccard 1.0. Linear in hot-bucket size.
    val cb = {
      // pinned: the emptiness probe, the anti-join and the hot
      // representatives re-read it
      val hot = pins.pin(cb0.groupBy("bandkey").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBucketSize).select("bandkey"))
      val cold = cb0.join(broadcast(hot), Seq("bandkey"), "left_anti")
      if (hot.isEmpty) cold else {
        val hotReps = cb0.join(broadcast(hot), Seq("bandkey"))
          .join(corpusSigs.select(col("id").as("corpus_id"),
            xxhash64(col("sig")).as("__sigkey")), Seq("corpus_id"))
          .groupBy("bandkey", "__sigkey").agg(min("corpus_id").as("corpus_id"))
          .select("corpus_id", "bandkey")
        cold.unionByName(hotReps)
      }
    }
    val pairs = nb.join(cb, Seq("bandkey"))
      .select("new_id", "corpus_id").distinct()
    pairs
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_a")), Seq("new_id"))
      .join(corpusSigs.select(col("id").as("corpus_id"), col("sig").as("sig_b")),
        Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          x => x)).cast("double") / numHashes).as("est_jaccard"))
  }

  /** Incremental exact dedup: flag rows of a NEW batch whose normalized
    * content already exists in a standing corpus, or earlier (by id) within
    * the batch itself. The corpus contributes only its DISTINCT fingerprint
    * set (an aggregate — at 100 TB this is the persisted dedup index, not a
    * rescan); the batch-internal first-occurrence rule is the same
    * skew-safe groupBy-min as [[paragraphDedup]], no window over hot
    * fingerprints.
    *
    * Null text (null fingerprint): such rows dedup among themselves within
    * the batch (first by id is canonical) via the null-safe join key, and
    * are never matched against the corpus — every batch row gets a verdict,
    * none silently drop. [[bloomExactAgainst]] shares this contract.
    */
  def exactAgainst(newDf: DataFrame, corpus: DataFrame, textCol: String,
                   idCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val corpusFp = corpus.select(fp.as("__fp_c"))
      .filter(col("__fp_c").isNotNull).distinct()
      .withColumn("__in_corpus", lit(true))
    val batch = newDf.withColumn("fingerprint", fp)
    val firsts = batch.groupBy("fingerprint")
      .agg(min(col(idCol)).as("__first_id"))
      .withColumnRenamed("fingerprint", "__fp_f")
    batch
      .join(firsts, col("fingerprint") <=> col("__fp_f"))
      .join(corpusFp, col("fingerprint") === col("__fp_c"), "left")
      .withColumn("is_duplicate",
        coalesce(col("__in_corpus"), lit(false)) || !(col(idCol) <=> col("__first_id")))
      .drop("__fp_f", "__fp_c", "__first_id", "__in_corpus")
  }

  /** Exact substring-span deduplication (the "deduplicating training data"
    * rule at span grain): every window of `k` consecutive normalized tokens
    * that occurs more than once in the corpus keeps only its FIRST
    * occurrence — ordered by (doc id, position) — and every token covered
    * by a later duplicate window is removed; documents are rebuilt from the
    * surviving tokens. A document that is a full copy of an earlier one
    * rebuilds to empty text.
    *
    * Duplicate windows are keyed on a 96-bit composite hash of the gram
    * (xxhash64 + murmur3), NOT the verbatim string: a verbatim confirm
    * would shuttle k-token gram strings through a fact-grain join, while at
    * the 100 TB north star (~10^13 windows) the birthday bound on 96 bits
    * is ~10^26/2^97 ≈ 6e-4 expected collisions — a hash-collision
    * approximation, stated plainly, with effectively zero wrongful cuts.
    *
    * Scale shape: the window table is one row per token position carrying
    * a 12-byte gram hash (codegen'd element_at window, no string explode
    * beyond the grams), the first-occurrence rule is a skew-safe
    * groupBy(hash).min(struct(id, pos)) partial aggregate, and only
    * DUPLICATE windows explode to covered token positions (x k on the
    * duplicated fraction only). The rebuild is the [[paragraphDedup]]
    * pattern: anti-join covered positions, one groupBy(id) with an
    * array_sort — no windows over skewed partitions anywhere.
    * Returns (id, text_dedup, n_tokens_kept, n_tokens_dropped).
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // NOT checkpointed: the window pass and the rebuild explode each re-run
    // the scan + split — tokenizing is cheap codegen'd streaming work,
    // while materializing the tokenized CORPUS (what a pin would
    // store) is a fact-grain cache that cannot fit executor storage at the
    // 100 TB north star. Measured at sf0.1: 3.7s vs 3.0s checkpointed —
    // inside the per-query noise band, and the recompute trade is the one
    // that survives scale.
    val toks = df.select(col(idCol).as("id"),
        split(TextAnalysis.normalize(col(textCol)), " ").as("__toks"))
      .withColumn("__toks", filter(col("__toks"), t => length(t) > 0))
    val gram = concat_ws(" ",
      (0 until k).map(j => element_at(col("__toks"), col("__pos") + j + 1)): _*)
    val windows = toks
      .select(col("id"),
        explode(sequence(lit(0), greatest(size(col("__toks")) - k, lit(0)))).as("__pos"),
        col("__toks"))
      .filter(col("__pos") + k <= size(col("__toks")))
      .select(col("id"), col("__pos"),
        xxhash64(gram).as("__g"), hash(gram).as("__g2"))
    val firsts = windows.groupBy("__g", "__g2")
      .agg(min(struct(col("id"), col("__pos"))).as("__first"))
    val dupWindows = windows.join(firsts, Seq("__g", "__g2"))
      .filter(col("id") =!= col("__first.id") || col("__pos") =!= col("__first.__pos"))
      .select(col("id"), col("__pos"))
    val covered = dupWindows
      .select(col("id"), explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__idx"))
      .distinct()
    val tokens = toks
      .select(col("id"), posexplode(col("__toks")).as(Seq("__idx", "__tok")))
    rebuildAfterCuts(df.select(col(idCol).as("id")), tokens, covered)
  }

  /** Shared corpus-rebuild tail for span-cut dedup operators
    * ([[substringDedup]], [[SuffixDedup.dedup]]): anti-join the covered
    * token positions (already distinct), rebuild texts via the
    * array_sort-struct groupBy (no window), account kept/dropped.
    * `base` fixes the output id universe — one row per id it contains;
    * callers decide the null-id policy there.
    */
  private[operators] def rebuildAfterCuts(base: DataFrame, tokens: DataFrame,
                                          covered: DataFrame): DataFrame = {
    val kept = tokens.join(covered, Seq("id", "__idx"), "left_anti")
    val dropped = covered.groupBy("id").agg(count(lit(1)).as("n_tokens_dropped"))
    val rebuilt = kept.groupBy("id")
      .agg(array_sort(collect_list(struct(col("__idx"), col("__tok")))).as("__ts"))
      .select(col("id"),
        concat_ws(" ", transform(col("__ts"), t => t.getField("__tok"))).as("text_dedup"),
        size(col("__ts")).cast("long").as("n_tokens_kept"))
    base
      .join(rebuilt, Seq("id"), "left")
      .join(dropped, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("n_tokens_dropped"), lit(0L)).as("n_tokens_dropped"))
  }

  /** Incremental exact dedup with a Bloom-filter prefilter: same output
    * contract as [[exactAgainst]] (bloom false positives are resolved by an
    * exact confirm join, and the filter has no false negatives), but the
    * corpus-index join only sees batch rows the sketch says MIGHT be known.
    *
    * Scale shape: at 100 TB the standing fingerprint index is ~10^9 rows;
    * joining every new batch against it shuffles the whole batch. The
    * bloom (built once per index refresh by one tree-aggregation over the
    * DISTINCT fingerprints; ~1.2 GB at 10^9 items / 1% fpp) broadcasts to
    * executors and discards the ~99% of genuinely-novel rows row-locally,
    * so the exact join's left side shrinks to (true dups + fpp of the
    * batch). The UDF is a deliberate exception to the no-UDF rule: a
    * branch-free bit probe per row, with the exact join preserving
    * correctness end-to-end.
    */
  def bloomExactAgainst(newDf: DataFrame, corpus: DataFrame, textCol: String,
                        idCol: String, fpp: Double = 0.01,
                        expectedItems: Long = 0L,
                        prebuilt: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val corpusFp = corpus.select(fp.as("fingerprint"))
      .filter(col("fingerprint").isNotNull).distinct()
    // a standing dedup index builds its filter once per refresh and knows
    // its own size — pass `prebuilt` (and persist corpusFp) so each batch
    // pays a broadcast probe, not a corpus rescan; without it this call
    // builds the filter itself (fine for one-shot use, stated plainly)
    val bloom = prebuilt.getOrElse {
      val expected =
        if (expectedItems > 0) expectedItems else math.max(corpusFp.count(), 1L)
      corpusFp.stat.bloomFilter("fingerprint", expected, fpp)
    }
    // fingerprint(null text) is null → never in corpus, matching the
    // exactAgainst null contract (batch-internal dedup only)
    val mightContain = udf((x: String) => x != null && bloom.mightContainString(x))

    val batch = newDf.withColumn("fingerprint", fp)
    // batch-internal first occurrence: skew-safe groupBy-min, as exactAgainst;
    // the null-safe join key keeps null-fingerprint rows in the output
    val firsts = batch.groupBy("fingerprint")
      .agg(min(col(idCol)).as("__first_id"))
      .withColumnRenamed("fingerprint", "__fp_f")
    // only sketch-positive rows pay the corpus join
    val candidates = batch.select(col("fingerprint")).distinct()
      .filter(mightContain(col("fingerprint")))
      .join(corpusFp.withColumn("__in_corpus", lit(true)), Seq("fingerprint"))
      .withColumnRenamed("fingerprint", "__fp_c")
    batch
      .join(firsts, col("fingerprint") <=> col("__fp_f"))
      .join(candidates, col("fingerprint") === col("__fp_c"), "left")
      .withColumn("is_duplicate",
        coalesce(col("__in_corpus"), lit(false)) || !(col(idCol) <=> col("__first_id")))
      .drop("__fp_f", "__fp_c", "__first_id", "__in_corpus")
  }

  /** Paragraph-level exact dedup (the CCNet / RefinedWeb line-grain rule):
    * split each document on `sepRegex`, drop every paragraph whose
    * normalized content already appeared in an earlier position — globally,
    * first occurrence ordered by (doc id, paragraph index) — and rebuild
    * each document from its surviving paragraphs joined by `joinSep`.
    *
    * Scale: paragraphs explode to fact grain, but the duplicate decision is
    * one groupBy(hash).min(struct(id, idx)) — an aggregate whose output is
    * one row per DISTINCT paragraph — joined back on the 64-bit hash (no
    * window over a skewed hash partition, so a paragraph repeated 10^8
    * times costs a map-side partial aggregate, not a single-task sort).
    * The rebuild is a per-document sort_values over arrays of surviving
    * paragraphs — array_sort on (idx, para) structs, no extra shuffle
    * beyond the groupBy(id).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sepRegex: String = "\n\\s*\n",
                     joinSep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("idx", "para")))
      .filter(length(trim(col("para"))) > 0)
      .withColumn("__h", xxhash64(TextAnalysis.normalize(col("para"))))
    val firsts = paras.groupBy("__h")
      .agg(min(struct(col("id"), col("idx"))).as("__first"))
      .select(col("__h"), col("__first.id").as("__fid"), col("__first.idx").as("__fidx"))
    val kept = paras.join(firsts, Seq("__h"))
      .filter(col("id") === col("__fid") && col("idx") === col("__fidx"))
    val rebuilt = kept.groupBy("id")
      .agg(array_sort(collect_list(struct(col("idx"), col("para")))).as("__ps"))
      .select(col("id"),
        concat_ws(joinSep, transform(col("__ps"), p => p.getField("para"))).as("text_dedup"),
        size(col("__ps")).as("n_paras_kept"))
    // left join so paragraph-free documents survive with empty text
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_paras_kept"), lit(0)).as("n_paras_kept"))
  }

  /** Sentence-level exact dedup — the grain below [[paragraphDedup]] (the
    * Lee et al. 2022 observation: boilerplate sentences repeat across
    * documents whose paragraphs differ). Splitting is on terminal
    * punctuation + whitespace WITHOUT lookbehind (RE2-compatible, so the
    * oracle and any engine reproduce the same boundaries); terminal
    * punctuation is consumed by the split and re-normalized to ". " on
    * rebuild — a dedup normalization, not a text-preserving transform.
    * Same skew-safe groupBy-min plan as the paragraph grain.
    */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    paragraphDedup(df, idCol, textCol, sepRegex = "[.!?]+\\s+", joinSep = ". ")

  /** Corpus snapshot diff — the version-control primitive for curation
    * runs: given an old and a new snapshot keyed by document id, classify
    * every id as added (new only), removed (old only), changed (both,
    * different normalized fingerprint), or unchanged. Returns
    * (id, status, fp_old, fp_new) — feed to a groupBy(status).count()
    * for the release-note rollup, or filter status != 'unchanged' for
    * the incremental-processing frontier (only re-embed/re-score what
    * actually changed).
    *
    * Scale: both sides reduce to (id, md5) before the join — the
    * full-outer join shuffles 2 x 16-byte-ish rows per document, never
    * text. Fingerprints use [[TextAnalysis.fingerprint]] (md5 of the
    * normalized text), so formatting-only edits classify as unchanged —
    * the semantics dedup already uses.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    def fps(d: DataFrame, fpName: String) = d.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as(fpName))
    fps(oldDf, "fp_old").join(fps(newDf, "fp_new"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "unchanged")
          .otherwise("changed").as("status"),
        col("fp_old"), col("fp_new"))
  }

  /** SCD2 history maintenance from a corpus snapshot — [[corpusDiff]]'s
    * incremental frontier taken one step further: maintain per-id validity
    * intervals so every historical fingerprint stays queryable ("what did
    * doc X say when we trained model M"). `history` rows are (id, fp,
    * valid_from, valid_to) with valid_to null for the open row; `snapshot`
    * is the new corpus at time `asOf` (epoch seconds). Open rows close at
    * `asOf` when their id disappears or its fingerprint changes; changed
    * and new ids open a fresh row; closed rows pass through untouched.
    *
    * One full-outer join of the OPEN slice against the snapshot's
    * fingerprints plus a union with the closed slice — id-keyed equi
    * plans, no window, no driver state; history grows only by actual
    * changes.
    */
  def scd2Apply(history: DataFrame, snapshot: DataFrame, idCol: String,
                textCol: String, asOf: Long): DataFrame = {
    val closed = history.filter(col("valid_to").isNotNull)
      .select(col("id"), col("fp"), col("valid_from"), col("valid_to"))
    val open = history.filter(col("valid_to").isNull)
      .select(col("id"), col("fp").as("fp_open"),
        col("valid_from").as("vf_open"))
    val snap = snapshot.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp_new"))
    // ONE pass over the full-outer join: each id CASEs to its 1-2 history
    // rows and explodes — three filtered union branches would re-execute
    // the join (and its fingerprint scans) per branch, and the replication
    // compounds when histories chain (measured 4.8x at sf1 before this)
    def row(fp: Column, vf: Column, vt: Column) =
      struct(fp.as("fp"), vf.as("valid_from"), vt.as("valid_to"))
    val nul = lit(null).cast("long")
    val rows = open.join(snap, Seq("id"), "full_outer")
      .select(col("id"), explode(
        when(col("fp_open") === col("fp_new"),
          array(row(col("fp_open"), col("vf_open"), nul)))
        .when(col("fp_open").isNull,
          array(row(col("fp_new"), lit(asOf), nul)))
        .when(col("fp_new").isNull,
          array(row(col("fp_open"), col("vf_open"), lit(asOf))))
        .otherwise(array(
          row(col("fp_open"), col("vf_open"), lit(asOf)),
          row(col("fp_new"), lit(asOf), nul)))).as("r"))
      .select(col("id"), col("r.fp").as("fp"),
        col("r.valid_from").as("valid_from"), col("r.valid_to").as("valid_to"))
    closed.unionByName(rows)
  }

  /** Blocked edit-distance near-dup pairs for SHORT strings (titles, URLs,
    * product names — the record-linkage modality the hash families can't
    * cover: a one-character typo breaks every shingle of a 20-char title).
    * Candidate blocking is (block key, first `prefixBlock` chars, length
    * band of width maxDist+1, adjacent bands joined) — the standard
    * linkage approximation (pairs differing in the first chars are
    * missed; documented, caller-tunable). A per-bucket size cap drops
    * pathological buckets (the hammingCandidates skew guard).
    * Returns (block, id_a, id_b, dist) with dist <= maxDist.
    *
    * The levenshtein carries the threshold argument — Spark's codegen'd
    * early-exit computes only the banded O(len * maxDist) strip.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        blockCol: String, maxDist: Int = 2,
                        prefixBlock: Int = 1,
                        maxBucketSize: Int = 5000): DataFrame = {
    require(maxDist >= 1 && prefixBlock >= 0, s"bad params $maxDist/$prefixBlock")
    val w = maxDist + 1
    val base = df.select(col(idCol).as("id"), col(blockCol).as("block"),
        TextAnalysis.normalize(col(strCol)).as("s"))
      .filter(length(col("s")) > 0)
      .withColumn("len", length(col("s")))
      .withColumn("band", floor(col("len") / w))
      .withColumn("pfx", substring(col("s"), 1, prefixBlock))
    val sizes = base.groupBy("block", "pfx", "band")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select("block", "pfx", "band")
    val capped = base.join(sizes, Seq("block", "pfx", "band"), "left_anti")
    val left = capped.select(col("block"), col("pfx"), col("band"),
      col("id").as("id_a"), col("s").as("s_a"), col("len").as("len_a"))
    val right = capped.select(col("block"), col("pfx"),
        explode(array(col("band") - 1, col("band"), col("band") + 1)).as("band"),
        col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"))
    left.join(right, Seq("block", "pfx", "band"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0)
      .select("block", "id_a", "id_b", "dist")
  }

  /** Dedup impact report: a cluster-size histogram over [[exact]]'s
    * fingerprint clusters — for each duplicate-cluster size, how many
    * clusters, documents, removable duplicates, and removable bytes. The
    * "what did dedup actually buy" audit every curation run publishes
    * before committing to a corpus drop.
    *
    * Returns (cluster_size, n_clusters, n_docs, n_dup_docs, chars_total,
    * chars_removed) where chars_removed counts every non-canonical copy.
    *
    * Scale: two map-side-combined aggregates (fingerprint grain, then
    * size grain). The fingerprint aggregate is the same shuffle [[exact]]
    * already pays; the histogram is at most |distinct sizes| rows — tiny.
    * min(sizeCol) per cluster stands in for "canonical copy's size"
    * deterministically (all copies of an EXACT cluster normalize alike,
    * but raw char counts can differ by whitespace/markup stripped in
    * normalization — keeping the min is the conservative bytes-kept
    * choice).
    */
  def auditReport(df: DataFrame, textCol: String, idCol: String,
                  sizeCol: String): DataFrame = {
    val clusters = df
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("__fp")
      .agg(count(lit(1)).as("cluster_size"),
        sum(col(sizeCol)).as("__chars"),
        min(col(sizeCol)).as("__chars_kept"))
    clusters.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_dup_docs"),
        sum(col("__chars")).as("chars_total"),
        sum(col("__chars") - col("__chars_kept")).as("chars_removed"))
  }

  /** Per-node degree in a near-dup candidate graph — the node-grain
    * complement of [[auditReport]]'s cluster-grain histogram: a document's
    * degree is how many candidate pairs touch it. High-degree nodes are
    * the templates/boilerplate hubs that connected components will chain
    * into giant clusters — the standard pre-clustering diagnostic (find
    * the hubs BEFORE transitive closure welds everything they touch), and
    * the place a pipeline inserts a degree cap or hub quarantine.
    *
    * `pairs` is any (id_a, id_b) candidate table ([[minHashCandidates]],
    * [[simHashCandidates]], [[ngramJaccardPairs]], embedding pairs…).
    * Every document in `df` gets a row (degree 0 when untouched). Scale:
    * one union + map-side-combined count per endpoint and a left join back
    * — pair-table-bounded, no window, no collect.
    */
  def pairDegrees(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // r14 (VERDICT ask 5): one explode pass over the pair table, not a
    // self-union scanning it (and any lazy generator behind it) twice
    val deg = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    df.select(col(idCol).as("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** Per-node triangle counts in a near-dup candidate graph — the
    * cohesion diagnostic that separates genuine duplicate CLIQUES (a
    * template with N fills: every pair matches, triangle-rich) from
    * chain-of-coincidence CLUSTERS (A~B~C where A and C share nothing:
    * triangle-free) BEFORE transitive closure welds both into identical
    * components. High triangle count = safe to collapse; high degree with
    * low triangles = a hub chaining unrelated documents ([[pairDegrees]]'
    * complement — use both).
    *
    * `pairs` is any (id_a, id_b) candidate table. Returns every node of
    * the pair table with its triangle participation count (nodes in no
    * triangle report 0). Standard two-join triangle enumeration on
    * canonicalized a<b edges: wedges b->(a,c) then closure check on
    * (a,c) — shuffle keys are node ids, wedge fan-out is bounded by the
    * same per-bucket caps the candidate generators enforce upstream.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val wedges = e.select(col("a").as("w_a"), col("b").as("w_b"))
      .join(e.select(col("a").as("w_b"), col("b").as("w_c")), Seq("w_b"))
    val tris = wedges.join(
      e.select(col("a").as("w_a"), col("b").as("w_c")), Seq("w_a", "w_c"))
    val nodeTris = tris
      .select(explode(array(col("w_a"), col("w_b"), col("w_c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    // r14 (VERDICT ask 5): one explode pass, not a self-union that
    // re-executes the canonicalized-edge distinct once per branch
    val nodes = e.select(explode(array(col("a"), col("b"))).as("id"))
      .distinct()
    nodes.join(nodeTris, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Evidence for near-dup pairs — the audit view a human reviews before
    * trusting a dedup run: for each candidate pair, how many normalized
    * word shingles the two documents share and a deterministic sample of
    * them (lexicographically first `sampleK` — reproducible, unlike any
    * "first seen" order). Joins the pair table to the shared-shingle
    * counts; pairs sharing nothing still appear with n_shared = 0, which
    * is itself the audit signal (a banding false positive).
    *
    * Scale: shingle tables are distinct-per-doc grain; the pair table
    * (already bounded by the candidate generators) drives the join, so
    * cost follows CANDIDATES, not the corpus. The sample is a bounded
    * slice of a sorted collect_list at pair grain — pair-table-sized
    * state, never corpus-sized.
    */
  def pairEvidence(df: DataFrame, textCol: String, idCol: String,
                   pairs: DataFrame, shingleSize: Int = 3,
                   sampleK: Int = 5): DataFrame = {
    val sh = wordShingleRows(df, idCol, textCol, shingleSize)
      .select(col("id"), col("shingle"))
    val shared = pairs.select("id_a", "id_b")
      .join(sh.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b"), Seq("id_b", "shingle"))
      .select("id_a", "id_b", "shingle")
    pairs.select("id_a", "id_b")
      .join(shared.groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_shared"),
          slice(array_sort(collect_list(col("shingle"))), 1, sampleK)
            .as("__sample")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        concat_ws(" | ", coalesce(col("__sample"),
          array().cast("array<string>"))).as("shared_sample"))
  }

  /** MinHash-LSH collision probability for a pair of Jaccard similarity
    * `s` under `bands` bands of `rows` rows: 1 - (1 - s^rows)^bands (the
    * MMDS S-curve). */
  def lshCollisionProb(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** (bands, rows) chosen for a target Jaccard `threshold` within a
    * `numHashes` signature budget, with the integrated S-curve areas the
    * choice minimized. */
  case class BandParams(bands: Int, rows: Int, fpArea: Double, fnArea: Double)

  /** Optimal MinHash banding for a similarity threshold — the knob-to-math
    * bridge for [[minHashCandidates]]: instead of hand-picking (bands,
    * numHashes), give the target threshold and the hash budget, and get
    * the banding whose S-curve hugs it. Minimizes fpWeight * (area of the
    * collision curve BELOW the threshold — candidate pairs that waste
    * verification work) + fnWeight * (area of 1 - curve ABOVE it — true
    * near-dups the banding misses), over all (rows, bands = budget/rows)
    * splits; fixed 1000-step midpoint integration, deterministic
    * (datasketch's optimal_param, independently formulated from the MMDS
    * S-curve). Driver-side arithmetic — O(numHashes * steps) flops, no
    * Spark job.
    */
  def minHashBandParams(threshold: Double, numHashes: Int,
                        fpWeight: Double = 0.5,
                        fnWeight: Double = 0.5): BandParams = {
    require(threshold > 0 && threshold < 1, s"bad threshold $threshold")
    require(numHashes >= 2, s"bad numHashes $numHashes")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      s"bad weights ($fpWeight, $fnWeight)")
    val steps = 1000
    var best: BandParams = null
    var bestCost = Double.MaxValue
    for (r <- 1 to numHashes; b = numHashes / r; if b >= 1) {
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = lshCollisionProb(s, b, r)
        if (s < threshold) fp += p / steps else fn += (1.0 - p) / steps
        i += 1
      }
      val cost = fpWeight * fp + fnWeight * fn
      if (cost < bestCost) { bestCost = cost; best = BandParams(b, r, fp, fn) }
    }
    best
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every `k`-token gram, slide a window of
    * `window` consecutive gram hashes, and select each window's MINIMUM
    * hash (rightmost on ties). The guarantee that makes this the standard
    * local-similarity fingerprint: any shared substring of at least
    * k + window - 1 tokens contributes at least one IDENTICAL selected
    * fingerprint to both documents, while the expected density is only
    * 2/(window+1) — a position-robust sample of the document, unlike
    * fixed-stride sampling (which an insertion shifts) or MinHash (which
    * is global, not local).
    *
    * Returns (id, pos — 1-based gram index, fp) with consecutive-window
    * duplicate selections collapsed (the classic output). The hash is the
    * engine-portable md5-prefix (the [[Sampling.hashBucket]] family), so
    * fingerprints match across engines and runs. Pair mining downstream
    * is a plain equi-join on fp — the same banded-join altitude as every
    * other candidate generator here.
    *
    * Scale: entirely row-local (token/gram/hash arrays are staged as
    * materialized projection columns per the HOF-once rule; the window
    * argmin is an O(window) fold per position). Cost O(n_tokens x window)
    * per document, one map stage, no shuffle.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, window: Int = 4): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(window >= 1, s"bad window $window")
    import org.apache.spark.sql.graft.{ColumnBridge, WinnowExpr}
    FanOut(df).select(col(idCol).as("id"),
        filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
          .as("__toks"))
      .select(col("id"), explode(ColumnBridge.column(
        WinnowExpr(ColumnBridge.expression(col("__toks")), k, window)))
        .as("__s"))
      .select(col("id"), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** The declarative HOF twin of [[winnowFingerprints]] — kept as the
    * cross-implementation parity reference for the codegen'd
    * [[org.apache.spark.sql.graft.WinnowExpr]] (spec-pinned equal output
    * on random corpora; the expression is ~39x faster at sf1 because the
    * argmin runs as a monotonic deque instead of O(window) fold steps of
    * interpreted lambda/struct work per position).
    */
  private[graft] def winnowFingerprintsHof(df: DataFrame, idCol: String,
      textCol: String, k: Int = 5, window: Int = 4): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(window >= 1, s"bad window $window")
    val toksDf = FanOut(df).select(col(idCol).as("id"),
      filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
        .as("__toks"))
    val gramsDf = toksDf.select(col("id"),
      when(size(col("__toks")) >= k,
        transform(sequence(lit(1), size(col("__toks")) - k + 1),
          i => concat_ws(" ", slice(col("__toks"), i, lit(k)))))
        .otherwise(array().cast("array<string>")).as("__grams"))
    val hashDf = gramsDf.select(col("id"),
      transform(col("__grams"), g =>
        conv(substring(md5(g), 1, 8), 16, 10).cast("long")).as("__h"))
    // per window start j (1-based): argmin over hashes[j .. j+window-1],
    // RIGHTMOST position wins ties (<= replace in the left-to-right fold).
    // The hash array is LET-BOUND via the transform-over-singleton trick:
    // the fold references __h window times per window position, and
    // CollapseProject would inline the whole md5-gram chain at every
    // element_at — O(len x window) md5-array builds per document
    // (measured: q_winnow alone >540 s at sf0.1; 2.6 s after this fix).
    // A lambda variable binds ONCE (the q_code_switch lesson).
    val selected = hashDf.select(col("id"),
      element_at(transform(array(col("__h")), hs =>
        when(size(hs) >= window,
          array_distinct(transform(
            sequence(lit(1), size(hs) - window + 1),
            j => aggregate(sequence(lit(0L), lit(window - 1L)),
              struct(lit(0L).as("pos"), lit(Long.MaxValue).as("h")),
              (acc, o) => {
                val cand = element_at(hs, (j + o).cast("int"))
                when(cand <= acc.getField("h"),
                  struct((j + o).cast("long").as("pos"), cand.as("h")))
                  .otherwise(acc)
              }))))
          .otherwise(array().cast("array<struct<pos:bigint,h:bigint>>"))),
        1).as("__sel"))
    selected.select(col("id"), explode(col("__sel")).as("__s"))
      .select(col("id"), col("__s.pos").as("pos"), col("__s.h").as("fp"))
  }

  /** Local-overlap pair mining over [[winnowFingerprints]] — the MOSS
    * report stage: candidate pairs are documents sharing at least one
    * selected fingerprint, scored by how many DISTINCT fingerprints they
    * share and by coverage = n_shared / min(n_fp) (the fraction of the
    * smaller document's fingerprint set that also appears in the other —
    * the winnowing analog of directional containment, which catches a
    * small document pasted into a large one where symmetric Jaccard
    * dilutes away). Returns (id_a, id_b, n_shared, n_fp_a, n_fp_b,
    * coverage) with id_a < id_b and n_shared >= minShared.
    *
    * Scale: the join key is the fingerprint itself — winnowing already
    * sampled the gram stream down to ~2/(window+1) density, so the
    * candidate join is that much cheaper than shingle-grain joins. A
    * fingerprint appearing in more than `maxFpDocFreq` documents is
    * boilerplate (license headers, navigation chrome) and is dropped
    * before pairing — the hot-shingle cap rule every pair generator here
    * follows: without it one fingerprint shared by 10^5 docs emits
    * C(10^5, 2) candidate rows from a single bucket.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, window: Int = 4, minShared: Int = 2,
                  maxFpDocFreq: Int = 100): DataFrame = Pins.scoped { pins =>
    require(minShared >= 1, s"bad minShared $minShared")
    require(maxFpDocFreq >= 2, s"bad maxFpDocFreq $maxFpDocFreq")
    // pair grain wants the fingerprint SET: collapse repeated window
    // selections of the same hash within one document first.
    // Pinned: the (id, fp) table feeds FOUR consumers (per-doc counts, the
    // hot-fp aggregate, both self-join sides) and its lineage is the
    // gram-hash chain — unpinned, the chain re-executed ~6x (measured
    // 6.45 -> 4.80 s at sf0.1 on the HOF chain; same reuse rule as
    // minHashCandidates' signature table).
    val fps = pins.pin(winnowFingerprints(df, idCol, textCol, k, window)
      .select(col("id"), col("fp")).distinct())
    val nFp = fps.groupBy("id").agg(count(lit(1)).as("__n_fp"))
    val cold = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxFpDocFreq).select("fp"), Seq("fp"))
    val pairs = cold.select(col("fp"), col("id").as("id_a"))
      .join(cold.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(nFp.select(col("id").as("id_a"), col("__n_fp").as("n_fp_a")),
        Seq("id_a"))
      .join(nFp.select(col("id").as("id_b"), col("__n_fp").as("n_fp_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_fp_a"),
        col("n_fp_b"),
        (col("n_shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")))
          .as("coverage"))
  }
}
