package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.IndexStore

/** Unit tests for the text-analysis / dedup operators, on injected
  * documents fixtures (tempTableDir) so edge semantics are controlled.
  */
class TextOpsSpec extends SparkSpec {

  private def docsDir(texts: Seq[String], lang: String = "en"): String = {
    val s = spark; import s.implicits._
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, lang, "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    tempTableDir("documents", df)
  }

  test("tokens: whitespace count and ceil(len/4) BPE estimate") {
    val dir = docsDir(Seq("aa bb ccccc"))
    val r = TextOps.tokens(spark, dir).head()
    assert(r.getAs[Long]("n_tokens_ws") === 3L)
    // ceil(2/4)+ceil(2/4)+ceil(5/4) = 1+1+2
    assert(r.getAs[Long]("n_tokens_bpe") === 4L)
  }

  /** Classic BPE encoder (the reference loop): repeatedly find the
    * LOWEST-RANK adjacent pair present and fuse all its occurrences
    * left-to-right, until no table pair remains. The production
    * expression sweeps the merge list once instead; the "faithful BPE"
    * test below proves the two agree on every corpus word — the
    * single sweep is exact because the table is valid (asserted).
    */
  private def classicBpe(word: String): Seq[String] = {
    val rank = TextOps.BpeMerges.zipWithIndex.toMap
    var toks: Vector[String] = word.map(_.toString).toVector
    var done = false
    while (!done && toks.size > 1) {
      val best = toks.zip(toks.tail).flatMap(p => rank.get(p).map(p -> _))
        .sortBy(_._2).headOption
      best match {
        case None => done = true
        case Some(((a, b), _)) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < toks.size) {
            if (i + 1 < toks.size && toks(i) == a && toks(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += toks(i); i += 1 }
          }
          toks = out.result()
      }
    }
    toks
  }

  test("BPE merge table is valid (single-sweep-exact) and delimiter-safe") {
    // a != b everywhere: the left-to-right fold's skip semantics and
    // the oracle's '|a|b|' replace device both rely on it
    assert(TextOps.BpeMerges.forall { case (a, b) => a != b })
    // no side contains the oracle's token delimiter
    assert(TextOps.BpeMerges.forall { case (a, b) => !a.contains("|") && !b.contains("|") })
    // validity: every multi-char side is the result of an EARLIER merge
    // — the property that makes one rank-ordered sweep equal to the
    // repeat-lowest-rank-first loop
    TextOps.BpeMerges.zipWithIndex.foreach { case ((a, b), r) =>
      Seq(a, b).filter(_.length > 1).foreach { side =>
        val maker = TextOps.BpeMerges.take(r).indexWhere(m => m._1 + m._2 == side)
        assert(maker >= 0, s"merge $r side '$side' is not an earlier merge's result")
      }
    }
    // the sf0.001 corpus contains no '|' (oracle delimiter precondition)
    val pipeDocs = graft.sources.Tables.documents(spark, sfDir)
      .where(org.apache.spark.sql.functions.col("text").contains("|")).count()
    assert(pipeDocs === 0L)
  }

  test("tokensBpe: faithful merge-order piece counts against the merge table") {
    // the: t,h -> th (rank 0), th,e -> the (rank 1) — one piece;
    // data: rank-7 (a,t) fires FIRST -> d|at|a — the lower-rank merge
    //   pre-empts (d,a)/(da,ta), where greedy longest-match found the
    //   single piece 'data' (exactly the divergence the greedy scheme
    //   approximated away);
    // table: (l,e) then (t,a) -> ta|b|le;
    // xyz: no table pair ever applies — 3 single-char pieces
    val dir = docsDir(Seq("the data table xyz"))
    val r = TextOps.tokensBpe(spark, dir).head()
    assert(r.getAs[Long]("n_words") === 4L)
    assert(r.getAs[Long]("n_pieces") === (1 + 3 + 3 + 3).toLong)
    assert(r.getAs[Double]("pieces_per_word") === 10.0 / 4)
    // batch -> b|at|ch (rank-7 again), merge -> merge (full chain),
    // sort -> s|or|t ((o,r) pre-empts (s,o)/(so,rt)), join -> join
    val dir2 = docsDir(Seq("batch merge sort join"))
    val r2 = TextOps.tokensBpe(spark, dir2).head()
    assert(r2.getAs[Long]("n_pieces") === (3 + 1 + 3 + 1).toLong)
  }

  test("faithful BPE: expression equals the classic lowest-rank-first loop on corpus words") {
    val s = spark; import s.implicits._
    // every distinct word of the real fixture + the adversarial shapes
    // (runs, repeats, empties) through BOTH the production expression
    // and the reference loop
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0))
    val words = (corpus ++ Seq("", "a", "thethe", "datadata", "batchbatch",
      "merge", "sortsort", "joinjoin", "tthh", "aaaa", "keykey")).distinct
    val viaExpr = words.toSeq.toDF("w")
      .selectExpr("w", TextOps.bpeWordPiecesForTest("w") + " AS np")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(viaExpr(w) === classicBpe(w).size.toLong,
        s"word '$w': expression ${viaExpr(w)} vs classic ${classicBpe(w).size}")
    }
  }

  /** Classic BPE TRAINER (Sennrich et al.'s loop, driver-side): count
    * every adjacent token pair weighted by word frequency (self-pairs
    * excluded — the operator's documented guard), take the arg-max
    * under (count DESC, a ASC, b ASC), fuse it greedily left-to-right
    * in every word, repeat.
    */
  private def classicTrain(wordFreq: Map[String, Long],
      rounds: Int): Seq[(String, String, Long)] = {
    def fuse(ts: Vector[String], a: String, b: String): Vector[String] =
      ts.foldLeft(Vector.empty[String]) { (acc, t) =>
        if (acc.nonEmpty && acc.last == a && t == b) acc.init :+ (a + b)
        else acc :+ t
      }
    var toks: Seq[(Vector[String], Long)] =
      wordFreq.toSeq.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((ts, f) <- toks; i <- 0 until ts.size - 1 if ts(i) != ts(i + 1))
        counts((ts(i), ts(i + 1))) = counts.getOrElse((ts(i), ts(i + 1)), 0L) + f
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        out += ((a, b, c))
        toks = toks.map { case (ts, f) => fuse(ts, a, b) -> f }
        r += 1
      }
    }
    out.result()
  }

  test("bpeTrain learns the classic trainer's merges; the encoder reproduces its segmentation") {
    val texts = Seq(
      "the data table stores the data rows",
      "spark merges the sorted data stream",
      "the stream joins the data table")
    val dir = docsDir(texts)
    val learned = TextOps.bpeTrain(spark, dir).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("pair_count"))).toSeq
    val wf = texts.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val expect = classicTrain(wf, TextOps.BpeTrainRounds)
    assert(learned === expect, "learned table diverges from the classic trainer")
    // round trip: the LEARNED table fed through the production encoder
    // segments every corpus word exactly as a classic trainer's own
    // iterative state does (re-apply the merges rank by rank)
    val merges = learned.map(t => (t._1, t._2))
    def classicApply(w: String): String = {
      var ts = w.map(_.toString).toVector
      for ((a, b) <- merges)
        ts = ts.foldLeft(Vector.empty[String]) { (acc, t) =>
          if (acc.nonEmpty && acc.last == a && t == b) acc.init :+ (a + b)
          else acc :+ t
        }
      ts.mkString("|")
    }
    val s = spark; import s.implicits._
    val viaExpr = wf.keys.toSeq.sorted.toDF("w")
      .selectExpr("w", TextOps.bpeEncodeForTest(merges, "w") + " AS seg")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    wf.keys.foreach { w =>
      assert(viaExpr(w) === classicApply(w),
        s"word '$w': encoder ${viaExpr(w)} vs classic ${classicApply(w)}")
    }
  }

  /** Independent reference hard-EM unigram trainer — re-derives the
    * compositions, the b3 grid, and the prune rule from scratch (no
    * TextOps helpers), so a bug in any shared generator cannot hide.
    */
  private def classicUnigram(wordFreq: Map[String, Long]): Seq[(Long, String, Long)] = {
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    def b3(x: Long): Long = {
      val s = math.max(bitlen(x) - 21, 0)
      val m = x >> s
      3L * s + bitlen(m * m * m) - 1
    }
    def comps(n: Int): Seq[Seq[Int]] =
      if (n == 0) Seq(Seq.empty)
      else (1 to math.min(TextOps.UnigramMaxPiece, n))
        .flatMap(p => comps(n - p).map(p +: _))
    val words = wordFreq.filter(_._1.length <= TextOps.UnigramMaxWord)
    val alphabet = words.keys.flatMap(_.map(_.toString)).toSet
    def prune(counts: Map[String, Long], k: Int): Map[String, Long] = {
      val top = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(k).toMap
      top ++ alphabet.filterNot(top.contains)
        .map(ch => ch -> counts.getOrElse(ch, 0L))
    }
    val seed = words.toSeq.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        j <- 1 to math.min(TextOps.UnigramMaxPiece, w.length - i)
      } yield w.substring(i, i + j) -> f
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    var vocab = prune(seed, TextOps.UnigramSeedVocab)
    for (_ <- 1 to TextOps.UnigramRounds) {
      val z = b3(vocab.values.sum + vocab.size)
      val counts = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- words) {
        val segs = comps(w.length).zipWithIndex.flatMap { case (comp, cid) =>
          val pieces = comp.scanLeft(0)(_ + _).zip(comp)
            .map { case (off, len) => w.substring(off, off + len) }
          if (pieces.forall(vocab.contains))
            Some((pieces.map(p => b3(vocab(p) + 1)).sum - comp.size * z,
              cid, pieces))
          else None
        }
        val (_, _, pieces) = segs.sortBy { case (s, cid, _) => (-s, cid) }.head
        pieces.foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      vocab = prune(counts.toMap, TextOps.UnigramVocab)
    }
    vocab.toSeq.sortBy { case (p, c) => (-c, p) }.zipWithIndex
      .map { case ((p, c), i) => ((i + 1).toLong, p, c) }
  }

  test("unigramTrain replays the classic hard-EM trainer; char coverage holds") {
    val texts = Seq(
      "the data table stores the data rows",
      "spark merges the sorted data stream",
      "the stream joins the data table")
    val dir = docsDir(texts)
    val learned = TextOps.unigramTrain(spark, dir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("piece"),
        r.getAs[Long]("cnt"))).toSeq.sortBy(_._1)
    val wf = texts.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val expect = classicUnigram(wf)
    assert(learned === expect, "learned vocab diverges from the classic trainer")
    // full char coverage: every dictionary character survives pruning,
    // so every word remains segmentable
    val chars = wf.keys.flatMap(_.map(_.toString)).toSet
    val pieces = learned.map(_._2).toSet
    assert(chars.subsetOf(pieces), s"missing chars: ${chars -- pieces}")
    // the corpus's repeated subwords earn multi-char pieces
    assert(pieces.exists(_.length > 1), "no multi-char piece learned")
  }

  test("decontaminateMulti: both signals compose; each catches leakage the other misses") {
    val got = TextOps.decontaminateMulti(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(3), r.getBoolean(6),
        r.getBoolean(7)))).toMap
    // candidate domain: docs in NEITHER eval role (coprime strides)
    got.keys.foreach { id =>
      assert(id % TextOps.EvalStride != 0 && id % operators.VectorOps.EvalMod != 0, s"doc $id")
    }
    // keep arithmetic + consistency with the component operators
    val surf = TextOps.decontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2) > 0)).toMap
    val sem = operators.VectorOps.embDecontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) > 0)).toMap
    got.foreach { case (id, (sh, eh, keep)) =>
      assert(sh === surf(id) && eh === sem(id) && keep === (!sh && !eh), s"doc $id")
    }
    // the composition is load-bearing: each filter catches docs the
    // other passes (verbatim leakage vs paraphrase leakage)
    assert(got.values.exists { case (sh, eh, _) => sh && !eh },
      "no surface-only contamination on the fixture")
    assert(got.values.exists { case (sh, eh, _) => !sh && eh },
      "no semantic-only contamination on the fixture")
  }

  test("tokensUnigram: encoder replays the reference Viterbi under the learned vocab") {
    val texts = Seq(
      "the data table stores the data rows",
      "spark merges the sorted data stream",
      "the stream joins the data table")
    val dir = docsDir(texts)
    val wf = texts.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    // reference: final vocab from the classic trainer, then one more
    // Viterbi pass under it (z from the FINAL vocab)
    val vocab = classicUnigram(wf).map { case (_, p, c) => p -> c }.toMap
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    def b3(x: Long): Long = {
      val s = math.max(bitlen(x) - 21, 0)
      3L * s + bitlen((x >> s) * (x >> s) * (x >> s)) - 1
    }
    def comps(n: Int): Seq[Seq[Int]] =
      if (n == 0) Seq(Seq.empty)
      else (1 to math.min(TextOps.UnigramMaxPiece, n))
        .flatMap(p => comps(n - p).map(p +: _))
    val z = b3(vocab.values.sum + vocab.size)
    def bestNp(w: String): Long =
      if (w.length > TextOps.UnigramMaxWord) w.length.toLong
      else comps(w.length).zipWithIndex.flatMap { case (comp, cid) =>
        val pieces = comp.scanLeft(0)(_ + _).zip(comp)
          .map { case (off, len) => w.substring(off, off + len) }
        if (pieces.forall(vocab.contains))
          Some((pieces.map(p => b3(vocab(p) + 1)).sum - comp.size * z,
            cid, comp.size.toLong))
        else None
      }.sortBy { case (s, cid, _) => (-s, cid) }.head._3
    val want = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.split(" ")
      (i.toLong, ws.length.toLong, ws.map(bestNp).sum)
    }.toSet
    val got = TextOps.tokensUnigram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want, s"encoder drifted: $got vs $want")
  }

  test("bpeTrain: a corpus that runs out of pairs stops early without failing") {
    // two one-or-two-char words: only one mergeable pair exists
    val dir = docsDir(Seq("ab ab a"))
    val learned = TextOps.bpeTrain(spark, dir).collect()
    assert(learned.length === 1)
    assert(learned(0).getAs[String]("a") === "a")
    assert(learned(0).getAs[String]("b") === "b")
    assert(learned(0).getAs[Long]("pair_count") === 2L)
  }

  test("pack/mixWeights: default tokenizer unchanged, bpe variant re-budgets") {
    val dir = docsDir(Seq("the data table", "batch merge", "xyz xyz xyz"))
    // default ("ws") must equal an explicit ws selection row-for-row
    val d = TextOps.pack(spark, dir).collect().toSet
    val ws = TextOps.pack(spark, dir, tokenizer = "ws").collect().toSet
    assert(d === ws)
    // bpe counts differ from word counts wherever words split to >1
    // piece, so the packed token totals must differ on this fixture
    val bpe = TextOps.pack(spark, dir, tokenizer = "bpe").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    val wsTok = ws.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(bpe(0L) === 7L && wsTok(0L) === 3L) // the + d|at|a + ta|b|le
    assert(bpe(2L) === 9L && wsTok(2L) === 3L) // xyz -> 3 single-char pieces
    val mwWs = TextOps.mixWeights(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_tokens")).toMap
    val mwBpe = TextOps.mixWeights(spark, dir, tokenizer = "bpe").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_tokens")).toMap
    assert(mwWs("spec") === 8L)
    assert(mwBpe("spec") === (7 + 4 + 9).toLong) // b|at|ch merge = 4

    intercept[IllegalArgumentException](TextOps.pack(spark, dir, tokenizer = "nope"))
  }

  test("quality: exact ratios on a controlled doc") {
    val dir = docsDir(Seq("aa bb aa the"))
    val r = TextOps.quality(spark, dir).head()
    assert(r.getAs[Long]("n_chars") === 12L)
    assert(r.getAs[Long]("n_words") === 4L)
    assert(r.getAs[Double]("uniq_ratio") === 3.0 / 4)
    assert(r.getAs[Double]("stopword_ratio") === 1.0 / 4)
    assert(r.getAs[Double]("avg_token_len") === 12.0 / 4)
  }

  test("langid picks the language with the most stopword hits") {
    val dir = docsDir(Seq(
      "the cat is on the mat and a dog",
      "el perro y la casa que en madrid",
      "der hund und das haus ist ein gross",
      "le chat et les maisons un une paris"))
    val preds = TextOps.langid(spark, dir).orderBy("doc_id")
      .select("lang_pred").collect().map(_.getString(0)).toSeq
    assert(preds === Seq("en", "es", "de", "fr"))
  }

  test("fingerprint is order-insensitive over the vocabulary") {
    val dir = docsDir(Seq("alpha beta gamma", "gamma alpha beta", "alpha beta delta"))
    val fps = TextOps.fingerprint(spark, dir).orderBy("doc_id")
      .select("fingerprint").collect().map(_.getString(0)).toSeq
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("dedupExact groups identical texts and keeps the smallest doc_id") {
    val dir = docsDir(Seq("same text here", "same text here", "different text"))
    val groups = TextOps.dedupExact(spark, dir)
      .select("canonical_doc_id", "n_copies").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups === Map(0L -> 2L, 2L -> 1L))
  }

  test("minhash: identical docs share the full signature; LSH pairs them at est 1.0") {
    val a = "one two three four five six seven eight nine ten"
    val dir = docsDir(Seq(a, a, "completely unrelated words with zero overlap whatsoever here"))
    val sigs = TextOps.minhash(spark, dir).orderBy("doc_id")
      .select("sig").collect().map(_.getString(0)).toSeq
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))

    val pairs = TextOps.dedupMinhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.get((0L, 1L)).contains(1.0))
    // est_jaccard always within [0, 1]
    assert(pairs.values.forall(j => j >= 0.0 && j <= 1.0))
  }

  test("ngram Jaccard verification confirms exact duplicates at 1.0") {
    val a = "one two three four five six seven eight nine ten"
    val dir = docsDir(Seq(a, a))
    val out = TextOps.dedupNgramJaccard(spark, dir).collect()
    assert(out.length === 1)
    assert(out.head.getDouble(2) === 1.0)
  }

  test("simhash clusters identical docs; near-identical codes differ little") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val dir = docsDir(Seq(a, a, "unrelated totally different content goes here now"))
    val clusters = TextOps.dedupSimhash(spark, dir).collect()
    assert(clusters.length === 1)
    assert(clusters.head.getAs[Long]("cluster_size") === 2L)
    // 32-bit bitstring shape
    val codes = TextOps.simhash(spark, dir).select("simhash")
      .collect().map(_.getString(0))
    assert(codes.forall(c => c.length === 32 && c.forall(ch => ch == '0' || ch == '1')))
  }

  test("short docs (<3 words) produce no shingles and drop out of minhash") {
    val dir = docsDir(Seq("one two", "a much longer document with plenty of words"))
    val ids = TextOps.minhash(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids === Seq(1L))
  }

  test("memo lifecycle: sibling sessions memoize independently; release unpins and forgets") {
    val dir = docsDir(Seq(
      "alpha beta gamma delta epsilon zeta", "alpha beta gamma delta epsilon eta"))
    // sibling sessions share the JVM + SparkContext (the multi-session
    // shape the memo must survive); a full stopped-context sweep can't
    // run here without killing the suite's shared context — Verify and
    // Bench exercise that path end-to-end every round.
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val before = IndexStore.entriesTotal
    val sig1 = TextOps.minhashSignatures(s1, dir)
    val sig2 = TextOps.minhashSignatures(s2, dir)
    sig1.count(); sig2.count()
    // memoization: the same (session, dir) returns the SAME cached frame
    assert(TextOps.minhashSignatures(s1, dir) eq sig1)
    // isolation: one entry per session, keyed apart
    assert(IndexStore.entriesFor(s1) === 1)
    assert(IndexStore.entriesFor(s2) === 1)
    assert(IndexStore.entriesTotal === before + 2)
    assert(sig1.storageLevel.useMemory)
    // the shared CacheManager gives both sessions ONE cache entry for
    // the identical plan: releasing s1 must drop s1's memo entry but
    // keep the blocks pinned while s2's entry still references them
    IndexStore.release(s1)
    assert(IndexStore.entriesFor(s1) === 0)
    assert(IndexStore.entriesFor(s2) === 1)
    assert(sig2.storageLevel.useMemory,
      "sibling release must not unpin a still-referenced shared artifact")
    // last reference released → blocks unpinned, registry back to start
    IndexStore.release(s2)
    assert(IndexStore.entriesFor(s2) === 0)
    assert(sig2.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(IndexStore.entriesTotal === before)
  }

  test("propagateToFixpoint upgrades to reliable checkpoints when a checkpoint dir is set") {
    val s = spark; import s.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val pairs = (0 until 5).map(i => (i.toLong, (i + 1).toLong))
      val edges = pairs.toDF("doc_a", "doc_b")
      val sym = edges.unionAll(
        edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val labels = TextOps.propagateToFixpoint(sym).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.values.toSet === Set(0L))
      // reliable (driver-recoverable) checkpoint data actually landed
      val landed = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(landed > 0, "no reliable checkpoint files written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("fixpoint propagation converges on a chain LONGER than the bounded rounds") {
    val s = spark; import s.implicits._
    // 9-node path 0-1-...-8: diameter 8 > CcRounds=3, so the bounded
    // unroll CANNOT finish this graph — the fixpoint loop must
    val n = 9
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val edges = pairs.toDF("doc_a", "doc_b")
    val sym = edges.unionAll(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val labels = TextOps.propagateToFixpoint(sym).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === n)
    assert(labels.values.toSet === Set(0L), s"not fully converged: $labels")
  }

  private def docsDirSrc(rows: Seq[(String, String)]): String = {
    val s = spark; import s.implicits._
    val df = rows.zipWithIndex
      .map { case ((t, src), i) => (i.toLong, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    tempTableDir("documents", df)
  }

  test("fuzzyJoin links near-dups ACROSS sides only, never within a side") {
    val textA = (1 to 20).map(i => s"alpha$i beta$i").mkString(" ")
    val textB = (1 to 20).map(i => s"gamma$i delta$i").mkString(" ")
    val dir = docsDirSrc(Seq(
      (textA, "src0"), // doc 0: LEFT  (even source index)
      (textA, "src1"), // doc 1: RIGHT — dup of 0 and 2 across sides
      (textA, "src2"), // doc 2: LEFT  — dup of 0 WITHIN the left side
      (textB, "src3"), // doc 3: RIGHT — dup of 4 WITHIN the right side
      (textB, "src5"))) // doc 4: RIGHT
    val got = TextOps.fuzzyJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly the two cross-side pairs; the within-side dups (0,2) and
    // (3,4) band-collide but the side predicate drops them pre-pairing
    assert(got.map(t => (t._1, t._2)).toSet === Set((0L, 1L), (2L, 1L)))
    assert(got.forall(_._3 === 1.0), s"identical texts must verify at 1.0: ${got.toSeq}")
  }

  test("fuzzyJoin drops band-colliding pairs below the Jaccard threshold") {
    // two cross-side docs sharing ONE long run of words (enough for a
    // probable band collision via shared shingle minima) amid mostly
    // disjoint text → est collision possible, exact jaccard < 0.5
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val left = shared + " " + (1 to 40).map(i => s"l$i").mkString(" ")
    val right = shared + " " + (1 to 40).map(i => s"r$i").mkString(" ")
    val dir = docsDirSrc(Seq((left, "src0"), (right, "src1")))
    val got = TextOps.fuzzyJoin(spark, dir).collect()
    // jaccard = 10 shared shingles / (2·50 − 10 + 2... ) ≈ 0.1 ≪ 0.5:
    // whatever the bands surface, verification must reject it
    assert(got.isEmpty, s"sub-threshold pair leaked: ${got.toSeq}")
  }

  test("dupSpans merges overlapping duplicated windows into maximal spans") {
    // docs 0 and 1 share an 8-token run at different offsets: the four
    // duplicated 5-windows in each doc must merge into ONE span
    // covering exactly the shared tokens
    val shared = (1 to 8).map(i => s"dup$i").mkString(" ")
    val dir = docsDir(Seq(
      "a1 a2 " + shared + " a3 a4",
      "b1 b2 b3 " + shared,
      "c1 c2 c3 c4 c5 c6"))
    val got = TextOps.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((0L, 2L, 10L, 4L), (1L, 3L, 11L, 4L)))
  }

  test("dupSpans: within-doc repeats form islands; adjacent windows merge") {
    val phrase = (1 to 5).map(i => s"p$i").mkString(" ")
    val dir = docsDir(Seq(
      phrase + " z1 z2 " + phrase, // gap 7 > 5 → two separate spans
      phrase + " " + phrase + " q1")) // gap 5 = window len → one merged span
    val got = TextOps.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(
      (0L, 0L, 5L, 1L), (0L, 7L, 12L, 1L),
      (1L, 0L, 10L, 2L)))
  }

  test("corpusScorecard: integer sums recompute exactly; dup share counts corpus-wide") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (0L, "the cat sat on the mat", "en", "srcA"),
      (1L, "the cat sat on the mat", "en", "srcB"), // exact dup ACROSS sources
      (2L, "unique words only here now", "de", "srcA"),
      (3L, "a b c", "fr", "srcB"))
    val df = rows.map { case (i, t, l, src) => (i, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempTableDir("documents", df)
    val got = TextOps.corpusScorecard(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = got("srcA"); val b = got("srcB")
    assert(a.getAs[Long]("n_docs") === 2L && b.getAs[Long]("n_docs") === 2L)
    assert(a.getAs[Long]("n_langs") === 2L && b.getAs[Long]("n_langs") === 2L)
    assert(a.getAs[Long]("n_tokens") === 11L) // 6 + 5
    assert(b.getAs[Long]("n_tokens") === 9L) // 6 + 3
    // uniq: 5 + 5 ("the" twice in doc 0); stopwords: the, on, the
    assert(a.getAs[Double]("uniq_token_share") === 10.0 / 11.0)
    assert(a.getAs[Double]("stopword_share") === 3.0 / 11.0)
    // the corpus-wide dup pair spans sources: BOTH sides report a dup doc
    assert(a.getAs[Double]("dup_doc_share") === 0.5)
    assert(b.getAs[Double]("dup_doc_share") === 0.5)
    assert(a.getAs[Double]("avg_doc_tokens") === 11.0 / 2.0)
  }

  test("dsir: exact integer recompute; target-vocab docs outscore source-vocab docs") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (0L, "apple banana cherry apple banana", "en"),
      (1L, "apple cherry banana banana apple", "en"),
      (2L, "katze hund maus katze hund", "de"),
      (3L, "hund maus katze maus hund", "de"),
      (4L, "apple banana katze cherry apple", "en"))
    val df = rows.map { case (i, t, l) => (i, t, l, "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempTableDir("documents", df)
    val got = TextOps.dsir(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def bits(n: Long): Long = java.lang.Long.toBinaryString(n).length.toLong
    val words = rows.flatMap { case (i, t, l) => t.split(" ").map(w => (i, l, w)) }
    val ct = words.filter(_._2 == "en").groupBy(_._3)
      .map { case (w, g) => w -> g.size.toLong }.withDefaultValue(0L)
    val cs = words.filter(_._2 != "en").groupBy(_._3)
      .map { case (w, g) => w -> g.size.toLong }.withDefaultValue(0L)
    val tt = ct.values.sum; val ss = cs.values.sum
    rows.foreach { case (i, t, _) =>
      val exp = t.split(" ").map(w =>
        (bits(ss) - bits(cs(w) + 1)) - (bits(tt) - bits(ct(w) + 1))).sum
      assert(got(i)._1 === t.split(" ").length.toLong, s"n_words doc $i")
      assert(got(i)._2 === exp, s"dsir_bits doc $i")
    }
    assert(got(0L)._3 > got(2L)._3,
      "an en-vocab doc must outscore a de-vocab doc under the en target")
  }

  test("dedupSegments drops corpus-repeated segments and keeps segment order") {
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val uniq = (1 to 12).map(i => s"u$i").mkString(" ")
    val dir = docsDir(Seq(s"$shared x y", s"$shared z", uniq))
    val r = TextOps.dedupSegments(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // docs 0 and 1 share their first 10-word segment → boilerplate
    assert(r(0L).getAs[Long]("n_segs") === 2L)
    assert(r(0L).getAs[Long]("n_segs_kept") === 1L)
    assert(r(0L).getAs[String]("text_kept") === "x y")
    assert(r(1L).getAs[String]("text_kept") === "z")
    // doc 2 is unique end-to-end: reconstruction must equal the original
    assert(r(2L).getAs[Long]("n_segs_kept") === 2L)
    assert(r(2L).getAs[String]("text_kept") === uniq)
  }

  test("shard: content-deterministic assignment with exact balance stats") {
    val dir = docsDir(Seq("alpha beta", "alpha beta", "gamma delta epsilon"))
    val rows = TextOps.shard(spark, dir).collect()
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // identical content → identical shard, independent of doc_id
    assert(byDoc(0L).getAs[Long]("shard") === byDoc(1L).getAs[Long]("shard"))
    for (r <- rows) {
      val sh = r.getAs[Long]("shard")
      assert(sh >= 0L && sh < TextOps.NumShards.toLong)
    }
    val byShard = rows.groupBy(_.getAs[Long]("shard"))
    for ((_, rs) <- byShard) {
      assert(rs.head.getAs[Long]("shard_docs") === rs.length.toLong)
      assert(rs.head.getAs[Long]("shard_tokens") ===
        rs.map(_.getAs[Long]("n_tokens")).sum)
    }
  }

  test("ngramStats: occurrence counts, document reach, stable tiebreak") {
    val dir = docsDir(Seq("a b c a b c", "a b c d"))
    val rows = TextOps.ngramStats(spark, dir).collect()
    assert(rows.head.getAs[String]("ngram") === "a b c")
    assert(rows.head.getAs[Long]("n_occurrences") === 3L)
    assert(rows.head.getAs[Long]("n_docs") === 2L)
    // equal-count tail must come out in ngram order (the tiebreak)
    val ties = rows.tail.map(_.getAs[String]("ngram")).toSeq
    assert(ties === ties.sorted)
  }

  test("scrub removes deny-listed tokens; fully-denied docs scrub to empty") {
    val dir = docsDir(Seq("customer data vector pipeline", "customer vector"))
    val r = TextOps.scrub(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[String]("text_scrubbed") === "data pipeline")
    assert(r(0L).getAs[Long]("n_removed") === 2L)
    assert(r(1L).getAs[String]("text_scrubbed") === "")
    assert(r(1L).getAs[Long]("n_removed") === 2L)
  }

  test("phraseSearch: adjacency is load-bearing — scattered terms and wrong order do not match") {
    val dir = docsDir(Seq(
      "alpha beta gamma",            // 0: adjacent -> match at 1
      "beta alpha gamma beta",       // 1: both words present, never adjacent
      "alpha gamma beta",            // 2: scattered (one word apart)
      "alpha beta x alpha beta",     // 3: two occurrences
      "beta beta alpha",             // 4: reverse order only
      "x beta beta beta y"))         // 5: repeated-term phrase, 2 occurrences
    val workload = Seq(0L -> Seq("alpha", "beta"), 1L -> Seq("beta", "beta"))
    val got = TextOps.phraseSearch(spark, dir, workload).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        ((r.getAs[Long]("n_occurrences"), r.getAs[Long]("first_pos")))).toMap
    // docs 1 and 2 (scattered) and reverse-order-only matches are absent;
    // doc 5's repeated-term run counts OVERLAPPING starts 2 and 3
    assert(got === Map(
      (0L, 0L) -> ((1L, 1L)),   // "alpha beta" at position 1
      (0L, 3L) -> ((2L, 1L)),   // twice, first at 1
      (1L, 4L) -> ((1L, 1L)),   // "beta beta" at 1
      (1L, 5L) -> ((2L, 2L))))
  }

  test("corpusExport: attrition conserves documents, stages chain, manifest sums to the survivor set") {
    val stages = TextOps.corpusExportStages(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("stage_ord"))
    assert(stages.map(_.getAs[String]("stage")).toSeq ===
      Seq("quality", "dedup_exact", "dedup_near", "decontaminate", "mix_sample"))
    stages.foreach { r =>
      assert(r.getAs[Long]("docs_in") ===
        r.getAs[Long]("docs_kept") + r.getAs[Long]("docs_dropped"),
        s"stage ${r.getAs[String]("stage")} does not conserve documents")
      assert(r.getAs[Long]("docs_dropped") >= 0L)
    }
    stages.sliding(2).foreach { case Array(p, c) =>
      assert(c.getAs[Long]("docs_in") === p.getAs[Long]("docs_kept"),
        s"stage ${c.getAs[String]("stage")} does not chain from its predecessor")
    }
    // every gate on this fixture actually gates (no vacuous stage except
    // exact-dedup, whose fixture corpus has no byte-identical copies)
    assert(stages.head.getAs[Long]("docs_in") === 500L)
    assert(stages.last.getAs[Long]("docs_kept") <
      stages.head.getAs[Long]("docs_in"))
    // manifest totals equal the final survivor set, doc for doc and token
    // for token (independent recompute through the survivor seam)
    val manifest = TextOps.corpusExport(spark, sfDir).collect()
    val survivors = TextOps.exportStages(spark, sfDir).last._2
    val (nDocs, nToks) = {
      val r = survivors.agg(count(lit(1)), sum(col("n_tokens"))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(manifest.map(_.getAs[Long]("n_docs")).sum === nDocs)
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum === nToks)
    assert(nDocs === stages.last.getAs[Long]("docs_kept"))
    manifest.foreach { r =>
      val (t, s) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_seqs"))
      assert(s === (t + TextOps.PackBudget - 1) / TextOps.PackBudget)
    }
  }

  test("redact: planted and in-text PII spans are replaced and counted per family") {
    // doc 0 (email plant) carries TWO more PII spans in its text;
    // doc 1 (phone plant), doc 2 (IPv4 plant), doc 3 (key plant) are clean
    val dir = docsDir(Seq(
      "mail bob@corp.io or ping 10.1.2.3 today",
      "plain text here",
      "nothing sensitive",
      "also clean"))
    val r = TextOps.redact(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 0: in-text email + in-text IP + planted user0@example.com
    assert(r(0L).getAs[Long]("n_email") === 2L)
    assert(r(0L).getAs[Long]("n_ip") === 1L)
    assert(r(0L).getAs[Long]("n_redacted") === 3L)
    assert(r(0L).getAs[String]("text_redacted") ===
      "mail <EMAIL> or ping <IP> today <EMAIL>")
    // doc 1: only the planted phone 555-123-0001
    assert(r(1L).getAs[Long]("n_phone") === 1L)
    assert(r(1L).getAs[Long]("n_redacted") === 1L)
    assert(r(1L).getAs[String]("text_redacted") === "plain text here <PHONE>")
    // doc 2: only the planted 10.0.2.7
    assert(r(2L).getAs[Long]("n_ip") === 1L)
    assert(r(2L).getAs[String]("text_redacted") === "nothing sensitive <IP>")
    // doc 3: only the planted AKIA + 16 upper-hex chars
    assert(r(3L).getAs[Long]("n_key") === 1L)
    assert(r(3L).getAs[String]("text_redacted") === "also clean <KEY>")
  }

  test("mixWeights: exact shares, sqrt temperature, weights normalize to 1") {
    val dir = docsDirSrc(Seq(
      (Seq.fill(9)("w").mkString(" "), "sA"),
      (Seq.fill(16)("w").mkString(" "), "sB")))
    val rows = TextOps.mixWeights(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows("sA").getAs[Long]("n_tokens") === 9L)
    assert(rows("sA").getAs[Double]("share") === 9.0 / 25)
    // sqrt temperature: weights ∝ (0.6, 0.8) → sA gets 0.6/1.4 of the mix
    assert(math.abs(rows("sA").getAs[Double]("mix_weight") - 0.6 / 1.4) < 1e-9)
    assert(math.abs(rows.values.map(_.getAs[Double]("mix_weight")).sum - 1.0) < 1e-9)
  }

  test("novelty: unique-shingle fraction matches a driver-side recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def g60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        r.getLong(0) -> (if (w.length >= 3)
          (0 to w.length - 3).map(i => g60(w.slice(i, i + 3).mkString(" "))).toSet
        else Set.empty[Long])
      }.toMap
    val freq = docs.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val got = TextOps.novelty(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet === docs.filter(_._2.nonEmpty).keySet)
    got.foreach { case (id, (n, u, s)) =>
      val set = docs(id)
      val uniq = set.count(g => freq(g) == 1)
      assert(n === set.size.toLong && u === uniq.toLong, s"doc $id")
      assert(s === uniq.toDouble / set.size.toDouble, s"doc $id ratio")
    }
    // the corpus has both boilerplate-ish and fresh docs
    assert(got.values.exists(_._3 < 1.0) && got.values.exists(_._3 > 0.0))
  }

  test("sourceOverlap: matrix matches a driver-side shingle-set recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // same 60-bit cut as TextOps.rotLong(h, 0)
    def g60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val sets = graft.sources.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .groupBy(_.getString(0)).map { case (src, rows) =>
        src -> rows.flatMap { r =>
          val w = r.getString(1).split(" ", -1)
          if (w.length >= 3)
            (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" "))
          else Seq.empty
        }.map(g60).toSet
      }
    val got = TextOps.sourceOverlap(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got.nonEmpty, "the corpus should have overlapping source pairs")
    val srcs = sets.keys.toSeq.sorted
    for (a <- srcs; b <- srcs if a < b) {
      val inter = (sets(a) & sets(b)).size.toLong
      got.get((a, b)) match {
        case None => assert(inter === 0L, s"missing pair $a/$b with overlap $inter")
        case Some((ov, na, nb, jac)) =>
          assert(ov === inter, s"$a/$b overlap")
          assert(na === sets(a).size.toLong && nb === sets(b).size.toLong)
          assert(jac === inter.toDouble / (na + nb - inter).toDouble)
      }
    }
  }

  test("bm25: top-k ranking matches a driver-side recompute of the scoring tree") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => Option(r.getString(1)).map(t => r.getLong(0) -> t.split(" ", -1).toSeq))
      .toMap
    val n = docs.size
    val avgdl = docs.values.map(_.size.toLong).sum.toDouble / n.toDouble
    val qterms = TextOps.bm25Queries.flatMap(_._2).distinct.toSet
    val tf: Map[(Long, String), Long] = docs.toSeq
      .flatMap { case (id, ws) => ws.filter(qterms).map(w => (id, w)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dfm: Map[String, Long] =
      tf.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def cg(id: Long, t: String): Long = {
      val tfd = tf((id, t)).toDouble
      val idf = (n.toDouble - dfm(t).toDouble + 0.5) / (dfm(t).toDouble + 0.5) + 1.0
      val norm = 0.25 + 0.75 * (docs(id).size.toDouble / avgdl)
      math.floor(idf * ((tfd * 2.2) / (tfd + 1.2 * norm)) * math.pow(2, 40)).toLong
    }
    val want = TextOps.bm25Queries.flatMap { case (q, ts) =>
      val scores = docs.keys.toSeq
        .map(id => (id, ts.filter(t => tf.contains((id, t)))))
        .filter(_._2.nonEmpty)
        .map { case (id, hit) => (id, hit.map(t => cg(id, t)).sum, hit.size.toLong) }
        .sortBy { case (id, s, _) => (-s, id) }
        .take(TextOps.Bm25TopK)
      scores.zipWithIndex.map { case ((id, s, m), i) => (q, i + 1L, id, s, m) }
    }.toSet
    val got = TextOps.bm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === want)
    assert(got.nonEmpty && got.exists(_._5 > 1L), "multi-term matches should occur")
  }

  test("sigTerms: JLH matches a driver-side recompute on the real corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    val dt = docs.flatMap { case (id, src, t) =>
      t.toSeq.flatMap(_.split(" ", -1).distinct.map(w => (id, src, w)))
    }.distinct
    val fgTotal = docs.groupBy(_._2).view.mapValues(_.size).toMap
    val n = docs.length
    val bg = dt.groupBy(_._3).view.mapValues(_.length).toMap
    val want = dt.groupBy(x => (x._2, x._3)).map { case ((src, term), rows) =>
      val fgPct = rows.length.toDouble / fgTotal(src).toDouble
      val bgPct = bg(term).toDouble / n.toDouble
      (src, term) -> ((rows.length.toLong, bg(term).toLong,
        (fgPct - bgPct) * (fgPct / bgPct)))
    }
    val topWant = want.groupBy(_._1._1).flatMap { case (src, m) =>
      m.toSeq.map { case ((_, term), (fg, bgc, jlh)) => (term, fg, bgc, jlh) }
        .sortBy { case (term, _, _, jlh) => (-jlh, term) }
        .take(TextOps.SigTermsTopK).zipWithIndex
        .map { case ((term, fg, bgc, jlh), i) => (src, i + 1L, term, fg, bgc, jlh) }
    }.toSet
    val got = TextOps.sigTerms(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got === topWant)
  }

  test("sigTerms: a term concentrated in one source tops that source; ubiquitous terms score ~0") {
    val s = spark; import s.implicits._
    val df = Seq(
      (0L, "anomaly pad", "en", "a", 11L), (1L, "anomaly pad", "en", "a", 11L),
      (2L, "pad filler", "en", "b", 10L), (3L, "pad filler", "en", "b", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempTableDir("documents", df)
    val out = TextOps.sigTerms(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(5)))
    val topA = out.filter(r => r._1 == "a" && r._2 == 1L).head
    assert(topA._3 === "anomaly" && topA._4 > 0.0)
    // 'pad' occurs in every doc: fgPct == bgPct == 1 -> jlh == 0 in both sources
    out.filter(_._3 == "pad").foreach(r => assert(r._4 === 0.0))
  }

  test("bm25: rarer term outranks common term; ties break on doc_id; no-match docs absent") {
    // 'rare' occurs in 1 doc, 'common' in 3; the fourth doc matches nothing.
    val dir = docsDir(Seq(
      "rare pad pad pad", "common pad pad pad", "common pad pad pad", "pad pad pad pad"))
    val out = TextOps.bm25(spark, dir, Seq(0L -> Seq("rare", "common")))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // equal dl and tf everywhere, so idf decides: doc0 (df=1 term) first,
    // then docs 1 and 2 (equal score) in doc_id order; doc3 absent.
    assert(out.toSeq.sorted === Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("surprisal: integer-log2 bits match a driver recompute; predictable text scores lower") {
    // doc0/doc1 repeat one bigram pattern (predictable); doc2 is all
    // unique transitions from shared contexts (surprising).
    val dir = docsDir(Seq(
      "a b a b a b a b", "a b a b a b a b", "a c a d a e b f b g"))
    val out = TextOps.surprisal(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // driver recompute of the exact grid
    val docs = Seq("a b a b a b a b", "a b a b a b a b", "a c a d a e b f b g")
      .map(_.split(" ").toSeq)
    val bgs = docs.zipWithIndex.flatMap { case (ws, i) =>
      ws.zip(ws.tail).map(bg => (i.toLong, bg)) }
    val cBg = bgs.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val cCtx = cBg.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    def bits(n: Long) = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val expected = bgs.groupBy(_._1).map { case (d, rows) =>
      val bs = rows.map { case (_, bg) => bits(cCtx(bg._1)) - bits(cBg(bg)) }
      d -> ((bs.size.toLong, bs.sum, bs.sum.toDouble / bs.size))
    }
    assert(out === expected)
    // the repetitive docs are more predictable than the unique-transition doc
    assert(out(0L)._3 < out(2L)._3 && out(1L)._3 < out(2L)._3)
  }

  test("chunkDedup: repeated chunk text reported once with the lowest (doc, chunk) keeper") {
    // docs 0 and 2 are identical (36 tokens → chunks at 0 and 24, both
    // duplicated); doc 1 is unique filler
    val toks = (0 until 36).map(i => s"t$i").mkString(" ")
    val dir = docsDir(Seq(toks, "lone words here", toks))
    val out = TextOps.chunkDedup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // two duplicated chunk texts (windows 0 and 1 of the twin docs)
    assert(out.length === 2)
    out.foreach { case (_, occ, docs, kd, _) =>
      assert(occ === 2L && docs === 2L && kd === 0L)
    }
    assert(out.map(_._5).sorted.toSeq === Seq(0L, 1L))
  }

  test("chunkDedup keeper survives a >1024-chunk document (pack radix)") {
    // doc 5's chunk 1300 and doc 6's chunk 2 share a hash: (5, 1300)
    // is the lexicographic keeper. Under a 1024 radix the packings
    // invert (5·1024+1300 = 6420 > 6·1024+2 = 6146) and the arg-min
    // silently names the WRONG occurrence — the 100 TB long-document
    // case (a 1300-chunk doc is ~31k tokens at the fixture's 24-stride).
    val s = spark; import s.implicits._
    val dup = Seq((5L, 1300L), (6L, 2L), (6L, 9L))
      .map { case (d, c) => (d, c, 7L, "shared text") }
    val uniq = (0L until 1500L).map(c => (5L, c, 7L, s"u$c"))
      .filterNot(_._2 == 1300L)
    val ch = (dup ++ uniq)
      .toDF("doc_id", "chunk_id", "n_tokens", "chunk_text")
      .withColumn("chunk_hash", md5(col("chunk_text")))
    val out = TextOps.chunkDedupFrom(ch).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_occurrences") === 3L)
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("keeper_doc") === 5L)
    assert(r.getAs[Long]("keeper_chunk") === 1300L)
  }

  test("containment: wrapped doc reported at 1.0 where Jaccard-LSH misses it") {
    // doc1 = doc0 wrapped in 60 tokens of unique filler: containment of
    // doc0 in doc1 is 1.0 while Jaccard ≈ |A|/|B| ≈ 0.14 — far below
    // the LSH threshold (~0.69), the case this operator exists for.
    // doc2 shares nothing.
    val core = (0 until 12).map(i => s"core$i").mkString(" ")
    val pre = (0 until 30).map(i => s"pre$i").mkString(" ")
    val post = (0 until 30).map(i => s"post$i").mkString(" ")
    val dir = docsDir(Seq(core, s"$pre $core $post", "alpha beta gamma delta"))
    val out = TextOps.dedupContainment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5)))
    assert(out.length === 1)
    val (contained, container, nContained, inter, c) = out.head
    assert(contained === 0L && container === 1L)
    assert(nContained === 10L && inter === 10L && c === 1.0)
    // the symmetric near-dup family must NOT pair them (low Jaccard)
    assert(TextOps.dedupMinhashLsh(spark, dir)
      .where(col("est_jaccard") >= 0.5).count() === 0L)
  }

  test("containment: common-shingle pairs are blocked; sub-threshold pairs drop") {
    // All three docs share the SAME 20-token prefix (df = 3 > blocked
    // only if df > ContainMaxDf=16 — here df=3 so NOT blocked) and
    // differ in suffixes: overlap is the prefix only, containment
    // 18/28 < 0.9 → no pair reports.
    val prefix = (0 until 20).map(i => s"p$i").mkString(" ")
    val dir = docsDir(Seq(
      s"$prefix suffixa0 suffixa1 suffixa2 suffixa3 suffixa4 suffixa5 suffixa6 suffixa7 suffixa8 suffixa9",
      s"$prefix suffixb0 suffixb1 suffixb2 suffixb3 suffixb4 suffixb5 suffixb6 suffixb7 suffixb8 suffixb9",
      s"$prefix suffixc0 suffixc1 suffixc2 suffixc3 suffixc4 suffixc5 suffixc6 suffixc7 suffixc8 suffixc9"))
    assert(TextOps.dedupContainment(spark, dir).count() === 0L)
  }

  test("chunks: window/stride offsets, short trailing chunk, empty doc") {
    // 60 tokens w0..w59 with window 32 / stride 24: starts 0, 24, 48 →
    // slices [0,32), [24,56), [48,60) — the middle chunk overlaps both.
    val toks = (0 until 60).map(i => s"w$i")
    val dir = docsDir(Seq(toks.mkString(" "), ""))
    val out = TextOps.chunks(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out.size === 4)
    assert(out((0L, 0L)) === ((0L, 32L, toks.slice(0, 32).mkString(" "))))
    assert(out((0L, 1L)) === ((24L, 32L, toks.slice(24, 56).mkString(" "))))
    assert(out((0L, 2L)) === ((48L, 12L, toks.slice(48, 60).mkString(" "))))
    // empty text tokenizes to [""] (the wordsCte contract) → one
    // empty chunk of one token, not zero chunks
    assert(out((1L, 0L)) === ((0L, 1L, "")))
    // every overlap window is the previous chunk's suffix = next's prefix
    val c0 = out((0L, 0L))._3.split(" "); val c1 = out((0L, 1L))._3.split(" ")
    assert(c0.takeRight(8).sameElements(c1.take(8)))
  }

  test("nb classifier: separable fixture classifies held-out docs; OOV falls back to prior") {
    val s = spark; import s.implicits._
    // Disjoint vocabularies per class; doc_ids chosen so each class has
    // train docs (id % 5 != 0) and one held-out doc (id % 5 == 0).
    // doc 15 is OOV-only (words unseen in training) → all word terms
    // are b3(1) = 0 for every class, so the argmax is decided by the
    // smoothing normalizer −n·b3(N_c+V): the two classes with NO
    // training mass (fr, zh) have the smallest penalty and tie;
    // the alphabetical tiebreak picks 'fr'.
    val df = Seq(
      (1L, "aa bb aa bb aa", "de", "spec", 1L),
      (2L, "aa bb bb aa aa", "de", "spec", 1L),
      (5L, "aa aa bb aa bb", "de", "spec", 1L), // held out
      (3L, "cc dd cc dd cc", "en", "spec", 1L),
      (4L, "cc dd dd cc cc", "en", "spec", 1L),
      (10L, "cc cc dd cc dd", "en", "spec", 1L), // held out
      (6L, "ee ff ee ff ee", "es", "spec", 1L),
      (7L, "ee ff ff ee ee", "es", "spec", 1L),
      (20L, "ee ee ff ee ff", "es", "spec", 1L), // held out
      (15L, "zz yy zz", "fr", "spec", 1L)) // held out, fully OOV
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempTableDir("documents", df)
    val out = TextOps.nbClassifier(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("pred_lang"), r.getAs[Boolean]("is_train")))).toMap
    // every vocab-covered doc classifies correctly, held-out included
    for ((id, want) <- Seq(1L -> "de", 2L -> "de", 5L -> "de",
      3L -> "en", 4L -> "en", 10L -> "en",
      6L -> "es", 7L -> "es", 20L -> "es"))
      assert(out(id)._1 === want, s"doc $id")
    assert(out(5L)._2 === false && out(1L)._2 === true)
    // OOV doc: least-penalized unseen classes tie → alphabetical first
    assert(out(15L)._1 === "fr")
  }

  test("nb classifier: third-bit grid scores are exact b3 sums on a hand-computable case") {
    val s = spark; import s.implicits._
    // One class, one train doc "aa aa aa" (3 tokens of one word), one
    // held-out doc "aa" (1 token). V = 1, N_de = 3, D = 1.
    // s_de(held-out) = 1·b3(3+1) − 1·b3(3+1) + b3(1+1) − b3(1+5)
    //                = 0 + 3 − 7 = −4   (b3(2)=3, b3(6)=⌊3·2.585⌋=7)
    val df = Seq(
      (1L, "aa aa aa", "de", "spec", 1L),
      (5L, "aa", "de", "spec", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempTableDir("documents", df)
    val r = TextOps.nbClassifier(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("s_de")).toMap
    assert(r(5L) === -4L)
    // train doc: 3·b3(4) − 3·b3(4) + b3(2) − b3(6) = 3 − 7 = −4 too
    assert(r(1L) === -4L)
  }

  test("vocab coverage: piece accounting matches the faithful encoder on known words") {
    val s = spark; import s.implicits._
    // "the": t+h → th, th+e → the = 1 piece (ranks 0, 1).
    // "data": rank-7 (a,t) preempts → d|at|a = 3 pieces (the
    //   bpeWordPieces Scaladoc example).
    // "xq": no merges apply → x|q = 2 pieces.
    val df = Seq(
      (1L, "the data", "en", "srcA", 8L),
      (2L, "the xq", "en", "srcB", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempTableDir("documents", df)
    val out = TextOps.vocabCoverage(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = out("srcA")
    assert(a.getAs[Long]("n_words") === 2L)
    assert(a.getAs[Long]("n_pieces") === 4L) // the=1, data=3
    assert(a.getAs[Long]("n_chars") === 7L)
    assert(a.getAs[Double]("pieces_per_word") === 2.0)
    assert(a.getAs[Double]("chars_per_piece") === 7.0 / 4.0)
    assert(a.getAs[Double]("single_piece_share") === 0.5)
    val b = out("srcB")
    assert(b.getAs[Long]("n_pieces") === 3L) // the=1, xq=2
    assert(b.getAs[Double]("single_piece_share") === 0.5)
  }

  test("rare terms: df-counted 4-gram tail, common grams excluded, df not tf") {
    // "a b c d" occurs in 3 docs (df=3 > cutoff 2) → excluded even
    // though rare-by-tf would keep nothing else; "b c d e" df=1 and
    // "b c d f" df=2 are in. doc4 repeats its gram TWICE in one doc —
    // df counts documents, not occurrences, so it stays at df=1.
    val dir = docsDir(Seq(
      "a b c d e",
      "a b c d f",
      "a b c d f",
      "x y z w x y z w"))
    val out = TextOps.rareTerms(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!out.contains("a b c d"))
    assert(out("b c d e") === 1L)
    assert(out("b c d f") === 2L)
    assert(out("x y z w") === 1L, "df counts docs, not occurrences")
    // ordering: df ascending then term ascending
    val rows = TextOps.rareTerms(spark, dir).collect()
      .map(r => (r.getLong(1), r.getString(0)))
    assert(rows.sameElements(rows.sorted))
  }

  test("ppl_buckets: rank terciles per language, conservation, head = lowest bits") {
    val rows = TextOps.pplBuckets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(4),
        r.getLong(5), r.getString(6)))
    // every scored doc appears exactly once, buckets map 1/2/3
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.forall(r => Seq("head", "middle", "tail").contains(r._5)))
    assert(rows.forall(r =>
      (r._4 == 1L) == (r._5 == "head") && (r._4 == 3L) == (r._5 == "tail")))
    rows.groupBy(_._2).foreach { case (lang, ls) =>
      // ntile balance: tercile sizes differ by at most 1
      val sizes = ls.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.values.max - sizes.values.min <= 1, s"$lang balance")
      // ordering respects the score: every head score <= every tail score
      val head = ls.filter(_._4 == 1L).map(_._3)
      val tail = ls.filter(_._4 == 3L).map(_._3)
      if (head.nonEmpty && tail.nonEmpty)
        assert(head.max <= tail.min, s"$lang head<=tail")
    }
    // drops exactly the no-bigram docs, nothing else
    val scored = graft.operators.TextOps.surprisal(spark, sfDir).count()
    assert(rows.length.toLong === scored)
  }

  test("langid_cng: out-of-place rank distance replays on the fixture") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def trigrams(t: String): Seq[String] =
      if (t.length < 3) Nil else (0 to t.length - 3).map(i => t.substring(i, i + 3))
    def topK(counts: Map[String, Int]): Map[String, Long] =
      counts.toSeq.sortBy { case (g, c) => (-c, g) }
        .take(TextOps.CngK).zipWithIndex
        .map { case ((g, _), i) => g -> (i + 1).toLong }.toMap
    val docTop = docs.map { case (id, _, t) =>
      id -> topK(trigrams(t).groupBy(identity).view.mapValues(_.length).toMap)
    }.toMap
    val langTop = docs.groupBy(_._2).map { case (l, ds) =>
      l -> topK(ds.flatMap(d => trigrams(d._3))
        .groupBy(identity).view.mapValues(_.length).toMap)
    }
    val k = TextOps.CngK.toLong
    val want = docs.collect { case (id, lang, t) if t.length >= 3 =>
      val dists = langTop.keys.toSeq.sorted.map { l =>
        val prof = langTop(l)
        l -> docTop(id).map { case (g, dr) =>
          prof.get(g).map(lr => math.abs(dr - lr)).getOrElse(k)
        }.sum
      }
      val (pl, pd) = dists.minBy { case (l, d) => (d, l) }
      id -> ((lang, pl, pd, lang == pl))
    }.toMap
    val got = TextOps.langidCng(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got === want)
  }

  test("dedup_eval: confusion counts on planted near/far/exact pairs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = ((1 to 39).map(i => s"w$i") :+ "zz").mkString(" ") // high Jaccard
    val far = (1 to 40).map(i => s"w$i q$i").mkString(" ")        // shares some shingles? none of 3-grams
    val dir = docsDir(Seq(base, base, near, far,
      (1 to 40).map(i => s"u$i").mkString(" ")))
    val row = TextOps.dedupEval(spark, dir).head()
    // truth: (0,1) identical J=1; (0,2)/(1,2) share 37/41 shingles ≥ 1/2
    assert(row.getLong(0) === 3L, "n_true_pairs")
    // every true pair must also be an LSH candidate on this fixture
    assert(row.getLong(2) === 3L, "n_tp")
    assert(row.getDouble(4) === 1.0, "recall")
    // precision defined and within (0, 1]
    assert(row.getDouble(3) > 0.0 && row.getDouble(3) <= 1.0)
    // confusion arithmetic is internally consistent
    assert(row.getLong(2) <= math.min(row.getLong(0), row.getLong(1)))
  }

  test("gopher rules: each rule trips on its planted violation, conjunction gates") {
    val okWords = (1 to 48).map(i => s"word$i") ++ Seq("the", "a")  // 50 words, stopwords, varied
    val ok = okWords.mkString(" ")
    val short = "the a tiny doc"                                     // < 50 words
    val longWords = ((1 to 48).map(i => "w" * 20 + i) ++ Seq("the", "a")).mkString(" ") // mean len > 10
    val noStop = (1 to 50).map(i => s"word$i").mkString(" ")         // no stopwords
    val chant = (Seq("the", "a") ++ Seq.fill(24)(Seq("spam", "ham")).flatten
      ++ (1 to 2).map(i => s"w$i")).mkString(" ")                    // top bigram > 20%
    val dups = (Seq("the", "a") ++ Seq.fill(48)("word")).mkString(" ") // dup ratio > 30%
    val dir = docsDir(Seq(ok, short, longWords, noStop, chant, dups))
    val rows = TextOps.gopherRules(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = (1 to 5).map(i => rows(id).getBoolean(i + 1))
    assert(rows(0L).getBoolean(7), "clean doc keeps")
    assert(!rows(1L).getBoolean(2) && !rows(1L).getBoolean(7), "short doc fails word count")
    assert(!rows(2L).getBoolean(3), "long words fail mean length")
    assert(!rows(3L).getBoolean(4), "no stopwords fails")
    assert(!rows(4L).getBoolean(5), "chant fails top-bigram")
    assert(!rows(5L).getBoolean(6), "dup words fail")
    // conjunction: keep == AND of the five rules, every row
    rows.values.foreach { r =>
      assert(r.getBoolean(7) === (2 to 6).forall(r.getBoolean))
    }
    assert(flags(0L).forall(identity))
  }

  test("winnowing: two-window selection equals per-window argmin; density guarantee holds") {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val (k, w) = (TextOps.WinnowK, TextOps.WinnowW)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= k)
    val got = TextOps.winnowing(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
      .toMap
    assert(got.keySet === docs.map(_._1).toSet)
    docs.foreach { case (id, text) =>
      val hs = (0 to text.length - k).map(i => h60(text.substring(i, i + k)))
      // classic winnowing replay: every window (truncated at the left
      // boundary, like the operator) selects its minimum position(s)
      val sel = (hs.indices).flatMap { e =>
        val lo = math.max(0, e - w + 1)
        val win = (lo to e)
        val m = win.map(hs).min
        win.filter(p => hs(p) == m)
      }.toSet
      val (ng, ns, dig) = got(id)
      assert(ng === hs.length.toLong, s"doc $id n_grams")
      assert(ns === sel.size.toLong, s"doc $id n_selected")
      val wantDig = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val s = sel.map(hs).toSeq.distinct.sorted.mkString(",")
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      assert(dig === wantDig, s"doc $id digest")
      // the density guarantee: every FULL window contains a selection
      (w - 1 until hs.length).foreach { e =>
        assert((e - w + 1 to e).exists(sel.contains), s"doc $id window at $e")
      }
    }
  }

  test("collocations: PMI lift ratio replays on the fixture corpus") {
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val bigrams = texts.flatMap { t =>
      val w = t.split(" ", -1)
      if (w.length < 2) Nil else w.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val c12 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = bigrams.length.toLong
    val want = c12.filter(_._2 >= TextOps.CollocMinCount).toSeq
      .map { case (p, c) =>
        (p, c, (c * n).toDouble / (c1(p._1) * c2(p._2)).toDouble)
      }
      .sortBy { case (p, _, r) => (-r, p._1, p._2) }
      .take(TextOps.CollocTopK)
    val got = TextOps.collocations(spark, sfDir).collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, (p, c, r)) =>
      assert((g.getString(0), g.getString(1)) === p)
      assert(g.getLong(2) === c)
      assert(g.getLong(3) === c1(p._1) && g.getLong(4) === c2(p._2))
      assert(g.getLong(5) === n)
      assert(g.getDouble(6) === r)
    }
    // an associated pair outranks a chance pair: the top ratio exceeds 1
    assert(got.head.getDouble(6) > 1.0)
  }
}
