package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import org.apache.spark.sql.graft.Pins

/** Exact repeated-substring detection with ARBITRARY-LENGTH longest-match
  * semantics — the suffix-array formulation of "Deduplicating Training
  * Data Makes Language Models Better" (Lee et al. 2022, ExactSubstr:
  * cut every substring of >= minTokens tokens that occurs elsewhere in
  * the corpus, reference implementation a single-node suffix array),
  * re-expressed as the DISTRIBUTED prefix-doubling algorithm
  * (Manber–Myers by iterative joins; cf. Flick & Aluru SC'15 for the
  * MPI formulation):
  *
  *  1. rank_0 = dense code of each token (one global sort of the vocab);
  *  2. rank_m(p) = dense code of (rank_{m-1}(p), rank_{m-1}(p + 2^{m-1}))
  *     — each level is ONE equi-join on (id, pos) plus one sort of the
  *     distinct key pairs, so a corpus-wide suffix ordering over prefixes
  *     of length L costs log2(L) shuffle rounds, never a per-document
  *     loop and never a quadratic pair scan;
  *  3. suffixes sort by their final rank; the longest match of a suffix
  *     against the WHOLE corpus is its LCP with an adjacent suffix in
  *     that order (the suffix-array adjacency property), and each
  *     adjacent LCP is computed EXACTLY by a descending ladder over the
  *     retained rank tables — extend by 2^m when the two suffixes' level-m
  *     ranks at offset lcp agree and both windows are in bounds. Ranks
  *     (not hashes) make every answer exact: no collision caveat.
  *
  * Against the fixed-k [[Dedup.substringDedup]] (every duplicated
  * k-window cuts exactly k tokens): spans here carry their TRUE length,
  * so "how much of this corpus is duplicated text, and where" is
  * answered exactly up to the `maxLen` cap, and the cut list removes a
  * long duplicated passage as ONE span with first-occurrence semantics.
  *
  * Cut-rule contract (PRESERVATION): each non-keeper member of a
  * duplicate run is cut by its LCP WITH THE KEEPER (the (id,
  * pos)-earliest member), and each run's keeper PREFIX (up to the run's
  * longest cut) is protected from every other run's cuts. Together
  * these guarantee that every >= minTokens token sequence occurring
  * more than once in the corpus still occurs at least once after
  * dedup (spec-pinned as a property test). Naive greedy span-cutting —
  * including cutting each member's own longest match — destroys text
  * shared only among non-keepers, and overlapping runs can shred a
  * keeper's copy (a known hazard of suffix-array span dedup). The cut
  * is therefore CONSERVATIVE: duplicated extensions the keeper lacks,
  * and protected keeper prefixes, survive in multiple copies — iterate
  * the operator to fixpoint when residual duplication matters (content
  * is never lost at any iteration).
  *
  * Scale notes. Positions are fact-grain (one row per token); every
  * stage is an equi-join, a groupBy, or a per-document window; the only
  * global sorts are the per-level distinct-key orderings and the final
  * suffix ordering (Spark range-partitioned sorts). Each level is a
  * [[Pins]] loop pin (lesson 14: carried stats square through iterative
  * checkpoints). Doubling stops early when all ranks are distinct
  * (random text reaches distinctness in a few levels; the cap bounds
  * adversarial corpora). At 100 TB the retained level tables would
  * persist to disk rather than executor memory — they are (id, pos,
  * long) triples, ~24 bytes/token/level, log2(maxLen) levels.
  */
object SuffixDedup {

  /** Dense ordinal of `df`'s rows under `sortCols`, appended as `out`.
    * RDD zipWithIndex is the one imperative step (global index
    * assignment after a range-partitioned sort — no window, no driver
    * collect); rows with EQUAL sort keys get distinct ordinals, so use
    * [[denseCodes]] when equal keys must share a code.
    */
  private def ordinalize(df: DataFrame, sortCols: Seq[Column],
                         out: String): DataFrame = {
    val sorted = df.orderBy(sortCols: _*)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex()
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Dense codes for the DISTINCT values of `keyCols` in sort order:
    * returns (keyCols..., out) with equal keys sharing one code. */
  private def denseCodes(df: DataFrame, keyCols: Seq[String],
                         out: String): DataFrame =
    ordinalize(df.select(keyCols.map(col): _*).distinct(),
      keyCols.map(col), out)

  /** Below this many token positions the whole pipeline runs on the
    * driver (same outputs, spec-pinned parity): the distributed path is
    * ~40 Spark jobs of per-round fixed overhead — the q_cc_dedup /
    * KMeansLite size-aware short-circuit lesson (SURVEY §6 r3 lesson 3)
    * applied to suffix construction. 2M positions ≈ tens of MB of
    * tokens; the distributed path takes over beyond it. The threshold
    * is SIZE-only: a pathologically repetitive corpus near the bound
    * (thousands of full copies of one long document) degrades the local
    * comparison sort to O(n log n * maxLen) token compares — pass
    * maxDriverPositions = 0 to force the distributed path there.
    */
  val MaxDriverPositions: Long = 1L << 21

  /** Driver-side corpus image for the short-circuit path. */
  private case class LocalCorpus(ids: Array[Any],
                                 docTok: Array[Array[String]],
                                 fd: Array[Int], fp: Array[Int],
                                 order: Array[Int], lcpPrev: Array[Long])

  /** Code-POINT string order — Spark's UTF8String binary order. Plain
    * String.compareTo is UTF-16 code-UNIT order, which diverges above
    * U+FFFF and would flip keeper selection against the distributed
    * min(struct(id, pos)). */
  private def cmpCodePoints(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => cmpCodePoints(x, y)
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** The driver path needs ids with JVM value equality and an ordering
    * that matches Spark's (integral types; strings compare by code
    * point). Binary/struct/decimal ids take the distributed path at any
    * size — a collected byte-array id has REFERENCE equality, which
    * would fragment documents. */
  private def driverIdSupported(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Collect the token table and build the suffix order + adjacent LCPs
    * locally — output-equivalent to the distributed path: suffixes
    * compare token-wise up to L = highestOneBit(maxLen) with
    * shorter-is-prefix first (the rank sentinel), capped ties break on
    * (id, pos) (the final-ordinal tie), and adjacent LCPs cap at 2L-1
    * (the ladder's power-sum bound). Token ORDER need not match the
    * distributed rank order bit-for-bit: the outputs (max-adjacent LCP,
    * run membership, pairwise LCP via path mins) are invariant to the
    * choice of token total order — only the keeper's ID comparison must
    * match Spark's, hence [[cmpCodePoints]] for strings.
    */
  private def localSuffixes(toks: DataFrame, maxLen: Int): LocalCorpus = {
    val L = Integer.highestOneBit(maxLen)
    val cap = 2 * L - 1
    val rows = toks.select("id", "pos", "__tok").collect()
    val byDoc = rows.groupBy(_.get(0)).toArray.sortBy(_._1.hashCode())
    val ids = byDoc.map(_._1)
    val docTok = byDoc.map { case (_, rs) =>
      val a = new Array[String](rs.length)
      rs.foreach(r => a(r.getLong(1).toInt) = r.getString(2))
      a
    }
    val n = rows.length
    val fd = new Array[Int](n)
    val fp = new Array[Int](n)
    var k = 0
    for (d <- docTok.indices; p <- docTok(d).indices) {
      fd(k) = d; fp(k) = p; k += 1
    }
    def cmpSuf(x: Int, y: Int): Int = {
      val tx = docTok(fd(x)); val ty = docTok(fd(y))
      val rx = tx.length - fp(x); val ry = ty.length - fp(y)
      val lim = math.min(math.min(rx, ry), L)
      var i = 0
      while (i < lim) {
        val c = tx(fp(x) + i).compareTo(ty(fp(y) + i))
        if (c != 0) return c
        i += 1
      }
      if (math.min(rx, ry) < L && rx != ry) return rx - ry
      val ci = cmpAny(ids(fd(x)), ids(fd(y)))
      if (ci != 0) ci else Integer.compare(fp(x), fp(y))
    }
    val order = Array.range(0, n)
      .sortWith((a, b) => cmpSuf(a, b) < 0)
    val lcpPrev = new Array[Long](n)
    var i = 1
    while (i < n) {
      val x = order(i - 1); val y = order(i)
      val tx = docTok(fd(x)); val ty = docTok(fd(y))
      var l = 0
      while (l < cap && fp(x) + l < tx.length && fp(y) + l < ty.length &&
        tx(fp(x) + l) == ty(fp(y) + l)) l += 1
      lcpPrev(i) = l.toLong
      i += 1
    }
    LocalCorpus(ids, docTok, fd, fp, order, lcpPrev)
  }

  private def idDataType(df: DataFrame, idCol: String) =
    df.schema(idCol).dataType

  private def emptyOut(df: DataFrame, idCol: String,
                       names: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val fields = StructField(names.head, idDataType(df, idCol)) +:
      names.tail.map(StructField(_, LongType))
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.emptyRDD[Row],
      StructType(fields))
  }

  /** Tokenize like [[Dedup.substringDedup]] (normalized, whitespace).
    * Null ids drop — a null identity has no stable first-occurrence
    * semantics (the subsampleReplicates rationale), and the driver
    * path's id ordering would NPE on one. */
  private def tokenize(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        filter(split(TextAnalysis.normalize(col(textCol)), " "),
          t => length(t) > 0).as("__toks"))
      .select(col("id"), size(col("__toks")).cast("long").as("ntok"),
        posexplode(col("__toks")).as(Seq("pos", "__tok")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        col("ntok"), col("__tok"))

  /** Pointer doubling with a CARRIED MIN — the distributed prefix-min
    * along the pointer path: state (ord, ptr, v) where anchors are
    * ptr == ord (v ignored, Long.MaxValue) and every other row starts at
    * its neighbor with v = that hop's edge value. Each round composes
    * (ptr, v) <- (ptr(ptr), min(v, v(ptr))); at the fixpoint v is the
    * min of the edge values along the open path (anchor, ord]. O(log
    * path length) join rounds, loop-pinned per round (lesson 14). `init`
    * is a projection of a pin and stays lazy.
    */
  private def doubleToAnchor(pins: Pins, init: DataFrame): DataFrame = {
    var st = init
    var converged = false
    while (!converged) {
      val hop = st.select(col("ord").as("__o2"), col("ptr").as("__p2"),
        col("v").as("__v2"))
      val j = st.join(hop, st("ptr") === hop("__o2"))
        .select(col("ord"), col("__p2").as("ptr"),
          least(col("v"), col("__v2")).as("v"),
          (col("ptr") =!= col("__p2")).cast("long").as("__moved"))
      // loop state: the convergence sum and the next round re-read it
      val rb = pins.loop(j)
      converged = rb.agg(sum(col("__moved"))).head().getLong(0) == 0L
      st = rb.drop("__moved")
    }
    st
  }

  /** Build suffix order + adjacent exact LCPs for the whole corpus:
    * returns (id, pos, ntok, ord, lcp_prev). */
  private def suffixLcp(pins: Pins, tokens: DataFrame, maxLen: Int): DataFrame = {
    // rank_0: dense token codes (vocab-sized sort)
    val vocab = denseCodes(tokens, Seq("__tok"), "__c")
    // loop state: the count, the next level and the LCP ladder re-read
    // every level
    var lvl = pins.loop(tokens.join(vocab, Seq("__tok"))
      .select(col("id"), col("pos"), col("__c").as("r")))
    var len = 1L
    val levels = scala.collection.mutable.ArrayBuffer((len, lvl))
    val nPos = lvl.count()
    var distinct = false
    while (2 * len <= maxLen && !distinct) {
      // OOB partner sorts first (-1 sentinel): a truncated suffix is a
      // strict prefix of any longer suffix sharing its tokens
      val shifted = lvl.select(col("id"), (col("pos") - len).as("pos"),
        col("r").as("__r2"))
      val pairs = lvl.join(shifted, Seq("id", "pos"), "left")
        .select(col("id"), col("pos"), col("r"),
          coalesce(col("__r2"), lit(-1L)).as("r2"))
      val codes = denseCodes(pairs, Seq("r", "r2"), "__nr")
      lvl = pins.loop(pairs.join(codes, Seq("r", "r2"))
        .select(col("id"), col("pos"), col("__nr").as("r")))
      len *= 2
      levels += ((len, lvl))
      // early exit: once every rank is unique the order is final and
      // deeper levels can never report equality
      distinct =
        lvl.agg(countDistinct(col("r")).as("d")).head().getLong(0) == nPos
    }
    // final suffix order (equal ranks = equal capped prefixes, adjacent)
    val ntoks = tokens.select("id", "pos", "ntok")
    // pinned: both ladder sides and the final join re-read it
    val ordered = pins.pin(ordinalize(
      lvl.join(ntoks, Seq("id", "pos")),
      Seq(col("r"), col("id"), col("pos")), "ord"))
    // adjacent pairs: (ord of the RIGHT suffix, left = ord-1)
    val left = ordered.select((col("ord") + 1).as("ord"),
      col("id").as("__ia"), col("pos").as("__pa"), col("ntok").as("__na"))
    var pr = ordered.select(col("ord"), col("id").as("__ib"),
        col("pos").as("__pb"), col("ntok").as("__nb"))
      .join(left, Seq("ord"))
      .withColumn("lcp", lit(0L))
    // exact LCP ladder, largest level first
    levels.sortBy(-_._1).foreach { case (l, tbl) =>
      val ta = tbl.select(col("id").as("__ia"), col("pos").as("__qa"),
        col("r").as("__ra"))
      val tb = tbl.select(col("id").as("__ib"), col("pos").as("__qb"),
        col("r").as("__rb"))
      val ext = pr
        .join(ta, pr("__ia") === ta("__ia") &&
          pr("__pa") + pr("lcp") === ta("__qa"), "left")
        .drop(ta("__ia"))
        .join(tb, pr("__ib") === tb("__ib") &&
          pr("__pb") + pr("lcp") === tb("__qb"), "left")
        .drop(tb("__ib"))
      val ok = col("__ra").isNotNull && col("__rb").isNotNull &&
        col("__ra") === col("__rb") &&
        col("__pa") + col("lcp") + l <= col("__na") &&
        col("__pb") + col("lcp") + l <= col("__nb")
      // loop state, re-read by the next ladder step
      pr = pins.loop(ext
        .withColumn("lcp", col("lcp") + when(ok, l).otherwise(0L))
        .select("ord", "__ia", "__pa", "__na", "__ib", "__pb", "__nb",
          "lcp"))
    }
    val lcpPrev = pr.select(col("ord"), col("lcp").as("lcp_prev"))
    val withLcp = ordered.join(lcpPrev, Seq("ord"), "left")
      .withColumn("lcp_prev", coalesce(col("lcp_prev"), lit(0L)))
    // pinned: the callers' self-joins re-read it
    pins.pin(withLcp)
  }

  /** Per token position: the length of the longest substring starting
    * there that also occurs somewhere else in the corpus. EXACT for
    * match lengths <= L = highestOneBit(maxLen): suffixes sharing an
    * L-token prefix form an equal-rank class ordered by (id, pos) — not
    * by lexicographic continuation — so a suffix's true longest partner
    * beyond L can be non-adjacent in that class, and any value above L
    * is a FLOOR (at least L, at most the 2L-1 ladder bound when the
    * adjacent neighbor happens to extend). Conservative for dedup:
    * every >= minTokens <= L duplicate is found exactly. Returns
    * (id, pos, ntok, match_len).
    */
  def repeatedMatchLengths(df: DataFrame, idCol: String, textCol: String,
                           maxLen: Int = 256,
                           maxDriverPositions: Long = MaxDriverPositions)
      : DataFrame = {
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    val toks = tokenize(df, idCol, textCol)
    val nPos = toks.count()
    if (nPos == 0)
      emptyOut(df, idCol, Seq("id", "pos", "ntok", "match_len"))
    else if (nPos <= maxDriverPositions &&
        driverIdSupported(idDataType(df, idCol))) {
      val c = localSuffixes(toks, maxLen)
      val n = c.order.length
      val out = new Array[Row](n)
      var i = 0
      while (i < n) {
        val x = c.order(i)
        val nxt = if (i + 1 < n) c.lcpPrev(i + 1) else 0L
        out(x) = Row(c.ids(c.fd(x)), c.fp(x).toLong,
          c.docTok(c.fd(x)).length.toLong, math.max(c.lcpPrev(i), nxt))
        i += 1
      }
      import org.apache.spark.sql.types.{StructField, StructType}
      df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.parallelize(out.toSeq),
        StructType(StructField("id", idDataType(df, idCol)) ::
          StructField("pos", LongType) :: StructField("ntok", LongType) ::
          StructField("match_len", LongType) :: Nil))
    } else Pins.scoped { pins =>
      val s = suffixLcp(pins, toks, maxLen)
      val next = s.select((col("ord") - 1).as("ord"),
        col("lcp_prev").as("__lcp_next"))
      s.join(next, Seq("ord"), "left")
        .select(col("id"), col("pos"), col("ntok"),
          greatest(col("lcp_prev"), coalesce(col("__lcp_next"), lit(0L)))
            .as("match_len"))
    }
  }

  /** The ExactSubstr CUT LIST: maximal merged spans of tokens covered by
    * a >= minTokens repeated match, EXCLUDING each duplicate group's
    * first occurrence (suffixes sharing a >= minTokens prefix form a
    * run in suffix order; the run's (id, pos)-minimum keeps its copy).
    * Run heads are found by pointer doubling over the suffix order —
    * O(log run-length) join rounds, no unpartitioned window. Returns
    * (id, span_start, span_end, n_tok), span_end exclusive.
    */
  def maximalRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                           minTokens: Int = 20, maxLen: Int = 256,
                           maxDriverPositions: Long = MaxDriverPositions)
      : DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    require(maxLen >= minTokens,
      s"maxLen $maxLen must be >= minTokens $minTokens")
    val toks = tokenize(df, idCol, textCol)
    val nPos = toks.count()
    if (nPos == 0)
      emptyOut(df, idCol, Seq("id", "span_start", "span_end", "n_tok"))
    else if (nPos <= maxDriverPositions &&
        driverIdSupported(idDataType(df, idCol))) {
      val c = localSuffixes(toks, maxLen)
      val n = c.order.length
      // runs of consecutive lcp >= minTokens; keeper = (id, pos)-min.
      // Cut length = LCP(member, KEEPER) (running min of adjacent lcps
      // outward from the keeper); the keeper PREFIX covering the run's
      // longest cut is PROTECTED from every other run's cuts — without
      // the protection, overlapping runs can cut a keeper's copy and
      // destroy a duplicated gram corpus-wide (see the operator
      // scaladoc's preservation contract).
      val cuts = scala.collection.mutable
        .Map.empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      val prot = scala.collection.mutable
        .Map.empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      var i = 0
      while (i < n) {
        var j = i
        while (j + 1 < n && c.lcpPrev(j + 1) >= minTokens) j += 1
        if (j > i) { // run [i..j] in suffix order, >= 2 members
          var keep = i
          for (t <- i to j) {
            val x = c.order(t); val kx = c.order(keep)
            val ci = cmpAny(c.ids(c.fd(x)), c.ids(c.fd(kx)))
            if (ci < 0 || (ci == 0 && c.fp(x) < c.fp(kx))) keep = t
          }
          var maxCut = 0L
          def cut(t: Int, len: Long): Unit =
            if (len >= minTokens) {
              maxCut = math.max(maxCut, len)
              val x = c.order(t)
              cuts.getOrElseUpdate(c.fd(x),
                scala.collection.mutable.ArrayBuffer.empty)
                .append((c.fp(x).toLong, c.fp(x) + len))
            }
          var m = Long.MaxValue
          for (t <- keep + 1 to j) {
            m = math.min(m, c.lcpPrev(t)); cut(t, m)
          }
          m = Long.MaxValue
          for (t <- keep - 1 to i by -1) {
            m = math.min(m, c.lcpPrev(t + 1)); cut(t, m)
          }
          if (maxCut > 0L) {
            val kx = c.order(keep)
            prot.getOrElseUpdate(c.fd(kx),
              scala.collection.mutable.ArrayBuffer.empty)
              .append((c.fp(kx).toLong, c.fp(kx) + maxCut))
          }
        }
        i = j + 1
      }
      val spanRows = cuts.toSeq.flatMap { case (d, iv) =>
        val removed = new Array[Boolean](c.docTok(d).length)
        iv.foreach { case (st, en) =>
          var u = st.toInt
          while (u < en) { removed(u) = true; u += 1 }
        }
        prot.getOrElse(d, Nil).foreach { case (st, en) =>
          var u = st.toInt
          while (u < en && u < removed.length) { removed(u) = false; u += 1 }
        }
        val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var u = 0
        while (u < removed.length) {
          if (removed(u)) {
            var e = u
            while (e < removed.length && removed(e)) e += 1
            merged.append((u.toLong, e.toLong))
            u = e
          } else u += 1
        }
        merged.map { case (st, en) => Row(c.ids(d), st, en, en - st) }
      }
      import org.apache.spark.sql.types.{StructField, StructType}
      df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.parallelize(spanRows),
        StructType(StructField("id", idDataType(df, idCol)) ::
          StructField("span_start", LongType) ::
          StructField("span_end", LongType) ::
          StructField("n_tok", LongType) :: Nil))
    } else Pins.scoped { pins =>
      val sfx = suffixLcp(pins, toks, maxLen)
      val next = sfx.select((col("ord") - 1).as("ord"),
        col("lcp_prev").as("__lcp_next"))
      // pinned: the run-head doubling and the run join re-read it
      val nodes = pins.pin(sfx.join(next, Seq("ord"), "left")
        .select(col("ord"), col("id"), col("pos"),
          col("lcp_prev"), coalesce(col("__lcp_next"), lit(0L))
            .as("lcp_next")))
      // run head: ord with lcp_prev < minTokens; pointer-double to it
      // (doubleToAnchor with an unused carried value)
      val headPtr = doubleToAnchor(pins, nodes.select(col("ord"),
        when(col("lcp_prev") < minTokens, col("ord"))
          .otherwise(col("ord") - 1).as("ptr"),
        lit(Long.MaxValue).as("v")))
      val withRun = nodes.join(
        headPtr.select(col("ord"), col("ptr").as("run")), Seq("ord"))
      val keepers = withRun.groupBy("run")
        .agg(min(struct(col("id"), col("pos"))).as("__keep"))
      val kOrd = withRun.join(keepers, Seq("run"))
        .filter(col("id") === col("__keep.id") &&
          col("pos") === col("__keep.pos"))
        .select(col("run"), col("ord").as("kord"))
      // pinned: both carried-min doublings and the cut join re-read it
      val members = pins.pin(withRun.join(kOrd, Seq("run")))
      // cut length = LCP(member, KEEPER): the min of adjacent lcps
      // strictly between them (the suffix-array LCP lemma). Cutting each
      // member's own max adjacent LCP instead would remove text shared
      // only among NON-keepers from every copy — content destroyed
      // corpus-wide; anchoring on the keeper guarantees every cut span
      // survives verbatim at the keeper's copy. Two carried-min pointer
      // doublings (rightward-of-keeper members pull mins leftward to the
      // keeper anchor; leftward members symmetrically); run boundaries
      // are also anchors so propagation never crosses runs.
      val minR = doubleToAnchor(pins, members.select(col("ord"),
        when(col("lcp_prev") < minTokens || col("ord") === col("kord"),
          col("ord")).otherwise(col("ord") - 1).as("ptr"),
        when(col("lcp_prev") < minTokens || col("ord") === col("kord"),
          lit(Long.MaxValue)).otherwise(col("lcp_prev")).as("v")))
        .select(col("ord"), col("v").as("__vr"))
      val minL = doubleToAnchor(pins, members.select(col("ord"),
        when(col("lcp_next") < minTokens || col("ord") === col("kord"),
          col("ord")).otherwise(col("ord") + 1).as("ptr"),
        when(col("lcp_next") < minTokens || col("ord") === col("kord"),
          lit(Long.MaxValue)).otherwise(col("lcp_next")).as("v")))
        .select(col("ord"), col("v").as("__vl"))
      // pinned: the protections and the covered positions re-read it
      val cutsRaw = pins.pin(
        members.join(minR, Seq("ord")).join(minL, Seq("ord"))
          .withColumn("__len",
            when(col("ord") > col("kord"), col("__vr"))
              .when(col("ord") < col("kord"), col("__vl"))
              .otherwise(lit(0L)))
          .filter(col("__len") >= minTokens &&
            col("__len") < lit(Long.MaxValue))
          .select(col("run"), col("id"), col("pos"), col("__len")))
      // keeper-prefix protection (see scaladoc): each run that cut
      // anything protects its keeper's first max-cut-length tokens from
      // EVERY run's cuts, so a duplicated >= minTokens gram always
      // survives at its run's keeper
      val protections = keepers
        .join(cutsRaw.groupBy("run").agg(max(col("__len")).as("__plen")),
          Seq("run"))
        .select(col("__keep.id").as("id"),
          explode(sequence(col("__keep.pos"),
            col("__keep.pos") + col("__plen") - 1)).as("__idx"))
      val covered = cutsRaw
        .select(col("id"),
          explode(sequence(col("pos"), col("pos") + col("__len") - 1))
            .as("__idx"))
        .distinct()
        .join(protections, Seq("id", "__idx"), "left_anti")
      // merge removed positions into maximal spans per document (per-id
      // window — the partition is one document, bounded by its length)
      val w = Window.partitionBy("id").orderBy("__idx")
      val islands = covered
        .withColumn("__prev", lag(col("__idx"), 1).over(w))
        .withColumn("__new",
          when(col("__prev").isNull || col("__idx") > col("__prev") + 1, 1L)
            .otherwise(0L))
        .withColumn("__island", sum(col("__new"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      islands.groupBy("id", "__island")
        .agg(min(col("__idx")).as("span_start"),
          (max(col("__idx")) + 1).as("span_end"))
        .select(col("id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start")).as("n_tok"))
    }
  }

  /** Rebuild the corpus with the [[maximalRepeatedSpans]] cut list
    * removed — same output contract as [[Dedup.substringDedup]]:
    * (id, text_dedup, n_tokens_kept, n_tokens_dropped), via the shared
    * [[Dedup.rebuildAfterCuts]] tail. Null-id rows are EXCLUDED from the
    * output (they are excluded from the pipeline at tokenization, and
    * emitting them as ("", 0, 0) would report text vanishing with zero
    * tokens dropped — silent, unaccountable data loss).
    */
  def dedup(df: DataFrame, idCol: String, textCol: String,
            minTokens: Int = 20, maxLen: Int = 256,
            maxDriverPositions: Long = MaxDriverPositions): DataFrame = {
    val spans = maximalRepeatedSpans(df, idCol, textCol, minTokens, maxLen,
      maxDriverPositions)
    val covered = spans.select(col("id"),
      explode(sequence(col("span_start"), col("span_end") - 1)).as("__idx"))
    val tokens = tokenize(df, idCol, textCol)
      .select(col("id"), col("pos").as("__idx"), col("__tok"))
    Dedup.rebuildAfterCuts(
      df.filter(col(idCol).isNotNull).select(col(idCol).as("id")),
      tokens, covered)
  }

  /** Iterate [[dedup]] to a fixpoint. The preservation-correct cut is
    * deliberately conservative — protected keeper prefixes and
    * extensions shared only among non-keepers survive in multiple
    * copies — so one pass can leave residual duplication. Re-running on
    * the rebuilt corpus removes it one keeper generation at a time,
    * and the preservation contract holds at EVERY pass, so content is
    * never lost on the way to the fixpoint. Stops when a pass drops
    * nothing or after `maxIters` passes (fixpoint is typically 2-3
    * passes; the count is data-dependent, not scale-dependent — each
    * pass is one full pipeline run). Returns the [[dedup]] contract
    * with n_tokens_dropped summed across passes.
    */
  def dedupToFixpoint(df: DataFrame, idCol: String, textCol: String,
                      minTokens: Int = 20, maxLen: Int = 256,
                      maxIters: Int = 5,
                      maxDriverPositions: Long = MaxDriverPositions)
      : DataFrame = Pins.scoped { pins =>
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    // loop state: the drop count and the next pass re-read it
    var cur = pins.loop(dedup(df, idCol, textCol, minTokens, maxLen,
      maxDriverPositions))
    var iters = 1
    var lastDropped =
      cur.agg(sum(col("n_tokens_dropped"))).head().getLong(0)
    while (lastDropped > 0L && iters < maxIters) {
      // pinned: the drop count and the carried-count join re-read it
      val step = pins.pin(dedup(cur, "id", "text_dedup", minTokens, maxLen,
        maxDriverPositions))
      lastDropped =
        step.agg(sum(col("n_tokens_dropped"))).head().getLong(0)
      // carry the cumulative drop count through the pass
      cur = pins.loop(step.withColumnRenamed("n_tokens_dropped", "__d")
        .join(cur.select(col("id"), col("n_tokens_dropped").as("__prev")),
          Seq("id"))
        .withColumn("n_tokens_dropped", col("__d") + col("__prev"))
        .select("id", "text_dedup", "n_tokens_kept", "n_tokens_dropped"))
      iters += 1
    }
    cur
  }
}
