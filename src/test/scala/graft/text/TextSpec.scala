package graft.text

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite with SharedSpark {
  private val dir = "/root/testdata/sf0.01"

  test("lang-id scores every doc; this all-English-vocab corpus → en") {
    val rows = TextQueries.textLangId(spark, dir).collect()
    assert(rows.length === 500)
    // the synthetic corpus draws every doc from one English-ish vocab,
    // whatever its lang label says — a correct stopword voter says 'en'
    assert(rows.forall(r => Set("en", "unknown")(r.getString(2))))
    assert(rows.count(_.getString(2) == "en") > 450)
  }

  test("quality metrics are internally consistent") {
    val rows = TextQueries.textQuality(spark, dir).collect()
    rows.foreach { r =>
      val (chars, toks) = (r.getInt(1), r.getInt(2))
      assert(toks >= 1 && chars >= toks * 2 - 1) // words >=1 char + separators
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("token counters agree where they should") {
    val df = TextQueries.textTokens(spark, dir)
    // all-lowercase alpha corpus: alpha runs == whitespace tokens
    assert(df.filter(col("ws_tokens") =!= col("alpha_tokens")).count() === 0)
    // bpe estimate >= token count (every word is >=1 subword)
    assert(df.filter(col("bpe_est") < col("ws_tokens")).count() === 0)
  }

  test("BM25: top-10 ranked by quantized score; idf orders rare above common") {
    val rows = TextQueries.textBm25(spark, dir).collect()
    assert(rows.length === 10)
    val scores = rows.map(_.getLong(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(scores.forall(_ > 0L))
    // every winner matched at least one of the query terms
    assert(rows.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 3L))
  }

  test("repetition signals stay in [0,1]; small-vocab corpus reads as " +
    "repetitive") {
    val rows = TextQueries.textRepetition(spark, dir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
      // top bigram can repeat at most every other position
      assert(r.getLong(3) <= (r.getLong(1) + 1) / 2)
    }
    // ~30-word vocabulary over 25-80-word docs: duplicate-word fraction
    // must read high — the signal a Gopher-style filter thresholds on
    assert(rows.map(_.getDouble(2)).max > 0.5)
  }

  test("textrank keywords: deterministic, damped floor holds, and " +
    "centrality is not a frequency re-sort") {
    val a = TextQueries.textTextrank(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val b = TextQueries.textTextrank(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.nonEmpty && a.length <= TextQueries.TextRankTopN)
    // every node keeps at least the damping floor 0.15e6
    assert(a.forall(_.getLong(2) >= 150000L))
    // emitted in rank order, word-tiebroken
    val keys = a.map(r => (-r.getLong(2), r.getString(0))).toSeq
    assert(keys === keys.sorted)
    // the ranking must disagree with raw co-occurrence mass somewhere
    // (otherwise the iteration added nothing over counting)
    val byMass = a.sortBy(r => (-r.getLong(1), r.getString(0))).map(_.getString(0))
    assert(byMass.toSeq !== a.map(_.getString(0)).toSeq,
      "textrank order identical to frequency order — iteration inert?")
  }

  test("Jelinek-Mercer interpolation beats add-one bigram smoothing " +
    "on held-out NLL, over identical pairs") {
    val jm = TextQueries.textPerplexityJm(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val laplace = TextQueries.textPerplexity(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    // identical held-out docs and pair counts (same split, same bigrams)
    val jmByDoc = jm.map(r => r.getLong(0) -> r).toMap
    assert(jm.length === laplace.length)
    laplace.foreach { l =>
      val j = jmByDoc(l.getLong(0))
      assert(j.getLong(1) === l.getLong(1), "pair counts diverged")
      assert(j.getLong(2) === l.getLong(2), "unseen counts diverged")
    }
    // the smoothing claim, in aggregate: total held-out NLL mass is
    // strictly lower under JM (per-doc means weighted by pair counts)
    def mass(rows: Array[org.apache.spark.sql.Row]): Long =
      rows.map(r => r.getLong(3) * r.getLong(1)).sum
    assert(mass(jm) < mass(laplace),
      s"JM ${mass(jm)} did not beat Laplace ${mass(laplace)}")
  }

  test("Kneser-Ney tracks JM and add-one within 1% on this flat " +
    "corpus, over identical pairs") {
    val kn = TextQueries.textPerplexityKn(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val jm = TextQueries.textPerplexityJm(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val laplace = TextQueries.textPerplexity(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val knByDoc = kn.map(r => r.getLong(0) -> r).toMap
    assert(kn.length === jm.length)
    jm.foreach { j =>
      val k = knByDoc(j.getLong(0))
      assert(k.getLong(1) === j.getLong(1), "pair counts diverged")
      assert(k.getLong(2) === j.getLong(2), "unseen counts diverged")
    }
    def mass(rows: Array[org.apache.spark.sql.Row]): Long =
      rows.map(r => r.getLong(3) * r.getLong(1)).sum
    // On NATURAL Zipfian corpora KN wins outright (Chen & Goodman);
    // this synthetic corpus draws from one near-flat vocabulary where
    // continuation counts carry no extra signal — all three smoothers
    // land within 0.25% of each other (KN +0.23% vs JM, +0.01% vs
    // add-one). Assert the comparative shape that IS stable: KN stays
    // within 1% of both (a broken backoff would be off by far more).
    assert(mass(kn) < (mass(jm) * 101L) / 100L,
      s"KN ${mass(kn)} more than 1% above JM ${mass(jm)}")
    assert(mass(kn) < (mass(laplace) * 101L) / 100L,
      s"KN ${mass(kn)} more than 1% above Laplace ${mass(laplace)}")
  }

  test("LLR collocations: non-negative G2, deterministic, and the " +
    "ranking disagrees with PMI's (evidence vs rarity)") {
    val llr = TextQueries.textCollocationsLlr(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val llr2 = TextQueries.textCollocationsLlr(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(llr.map(_.toSeq).toSeq === llr2.map(_.toSeq).toSeq)
    assert(llr.nonEmpty && llr.length <= TextQueries.CollocTopN)
    // G2 is 2x a KL divergence — >= 0 up to one micro of float noise
    assert(llr.forall(_.getLong(5) >= -1L))
    // emitted in rank order
    val keys = llr.map(r => (-r.getLong(5), r.getString(0), r.getString(1)))
    assert(keys.toSeq === keys.sorted.toSeq)
    val pmi = TextQueries.textCollocations(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    val lp = llr.map(r => (r.getString(0), r.getString(1))).toSeq
    val pp = pmi.map(r => (r.getString(0), r.getString(1))).toSeq
    assert(lp !== pp, "LLR top list identical to PMI's — G2 added nothing")
  }

  test("Kneser-Ney matches an exact in-memory reference, " +
    "doc for doc") {
    val d = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
      .filter(_._2.length >= 2)
    val tr = docs.filter(_._1 % 5 != 0)
    val ho = docs.filter(_._1 % 5 == 0)
    val trPairs = tr.flatMap { case (_, w) => w.sliding(2).map(p => (p(0), p(1))) }
    val big = trPairs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cn = trPairs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val n1fwd = big.keys.toSeq.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val n1rev = big.keys.toSeq.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val bTypes = big.size.toLong
    val n1 = big.values.count(_ == 1L).toLong
    val n2 = big.values.count(_ == 2L).toLong
    val kd = n1.toDouble / (n1 + 2L * n2).toDouble
    val vocab = tr.flatMap(_._2).distinct.length.toLong + 1
    val denom = (bTypes + vocab).toDouble
    def refDoc(w: Seq[String]): (Long, Long, Long) = {
      val pairs = w.sliding(2).map(p => (p(0), p(1))).toSeq
      val nlls = pairs.map { case (prev, cur) =>
        val pc = (n1rev.getOrElse(cur, 0L) + 1L).toDouble / denom
        val p = cn.get(prev) match {
          case None => pc
          case Some(c) =>
            (math.max(big.getOrElse((prev, cur), 0L).toDouble - kd, 0.0) +
              kd * n1fwd(prev).toDouble * pc) / c.toDouble
        }
        BigDecimal(-math.log(p) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      (pairs.length.toLong,
        pairs.count { case pr => !big.contains(pr) }.toLong,
        nlls.sum / pairs.length)
    }
    val got = TextQueries.textPerplexityKn(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    graft.CachedFrames.releaseAll()
    assert(got.size === ho.length)
    ho.foreach { case (id, w) =>
      assert(got(id) === refDoc(w), s"doc $id diverged from reference")
    }
  }

  /** Independent in-memory reference BPE (Sennrich-style greedy merge
    * on a word-frequency list, recounting every round) — the semantics
    * the incremental trainer must reproduce merge-for-merge. Symbols
    * start as code points; ties break by the UTF-8 bytes of (l, r).
    */
  private def refBpe(words: Seq[(String, Long)],
                     rounds: Int): Seq[(Int, String, String, Long)] = {
    import scala.math.Ordering.Implicits.seqOrdering
    def utf8(x: String): Seq[Int] = x.getBytes("UTF-8").toSeq.map(_ & 0xff)
    var vocab: Seq[(Vector[String], Long)] = words.map { case (w, c) =>
      (codePoints(w) :+ TextQueries.BpeMark, c)
    }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var k = 1
    while (k <= rounds) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), cnt) =
          counts.toSeq.minBy { case ((pl, pr), c) => (-c, utf8(pl), utf8(pr)) }
        out += ((k, l, r, cnt))
        vocab = vocab.map { case (syms, c) => (refMerge(syms, l, r), c) }
      }
      k += 1
    }
    out.result()
  }

  private def codePoints(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  /** greedy left-to-right non-overlapping single-pair merge */
  private def refMerge(syms: Vector[String], l: String,
                       r: String): Vector[String] = {
    val nb = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        nb += (l + r); i += 2
      } else { nb += syms(i); i += 1 }
    }
    nb.result()
  }

  /** encode one word by applying the learned merges in order */
  private def refEncode(w: String,
                        merges: Seq[(Int, String, String, Long)]): Vector[String] =
    merges.foldLeft(codePoints(w) :+ TextQueries.BpeMark) {
      case (syms, (_, l, r, _)) => refMerge(syms, l, r)
    }

  test("BPE: the trainer matches a reference merge-for-merge on " +
    "planted vocabularies") {
    // planted: shared subword structure ("an"/"ana"), a run of repeats
    // ("aaaa" exercises the non-overlapping rule), count-weighted ties
    val planted = Seq(
      ("banana", 5L), ("bandana", 3L), ("ana", 7L), ("nab", 2L),
      ("aaaa", 4L), ("abab", 6L), ("b", 9L))
    val (got, _) = TextQueries.trainBpe(planted, 6)
    val want = refBpe(planted, 6)
    assert(got === want,
      s"trained merges $got diverged from reference $want")
    // the merge table must chain: some round merges a multi-char symbol
    assert(got.exists { case (_, l, r, _) => l.length > 1 || r.length > 1 },
      "no merge consumed an earlier round's symbol — chaining broken")
  }

  test("BPE fuzz: seeded random vocabularies over {a,b,c} — maximal " +
    "merge collisions and repeat runs — reproduce the reference merge " +
    "sequences exactly") {
    // a 3-letter alphabet forces the adversarial cases: long repeat
    // runs (the non-overlap rule), count-weighted ties (the (cnt,l,r)
    // tiebreak), and merged symbols immediately re-merging
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { t =>
      val raw = (1 to 3 + rnd.nextInt(6)).map { _ =>
        val len = 1 + rnd.nextInt(6)
        ((1 to len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString,
          1L + rnd.nextInt(9))
      }
      val planted = raw.groupBy(_._1).map { case (w, xs) =>
        (w, xs.map(_._2).sum)
      }.toSeq
      val (got, _) = TextQueries.trainBpe(planted, 5)
      val want = refBpe(planted, 5)
      assert(got === want,
        s"trial $t vocab $planted: trained $got != reference $want")
    }
  }

  test("BPE encode: post-merge vocabulary token counts equal the " +
    "reference encoder applying the merge table in order") {
    val planted = Seq(
      ("banana", 5L), ("bandana", 3L), ("ana", 7L), ("nab", 2L),
      ("aaaa", 4L), ("abab", 6L), ("b", 9L))
    val (merges, syms) = TextQueries.trainBpe(planted, 6)
    planted.foreach { case (w, _) =>
      val ref = refEncode(w, merges)
      assert(syms(w) === ref,
        s"'$w': trained symbols ${syms(w).mkString("|")} != reference " +
          s"${ref.mkString("|")}")
      // merging only ever shrinks: cost ≤ chars + end marker
      assert(syms(w).length <= w.length + 1)
    }
    // the trained tokenizer compresses the planted subword structure
    assert(syms("banana").length < "banana".length + 1,
      "no merge applied to 'banana' — training not compressing")
  }

  test("BPE on non-BMP words: symbols are code points, count ties and " +
    "symbol ids follow UTF-8 byte order, as pinned from the SQL trainer") {
    import spark.implicits._
    val (pua, grin, beam, repl) = ("\uE000", "\uD83D\uDE00", "\uD83D\uDE01",
      "\uFFFD")
    val m = TextQueries.BpeMark
    val words = Seq((pua + "b", 5), (grin + "b", 5), (grin + pua, 2),
      ("a" + beam + repl + "a", 3), (repl + beam, 1))
    // rounds 2/3 and 8/9 tie a U+E000 symbol against a non-BMP one: UTF-8
    // order puts U+E000 first, UTF-16 order (String.compareTo) the other
    val want = Seq((1, "b", m, 5 * 2L), (2, pua, "b" + m, 5L),
      (3, grin, "b" + m, 5L), (4, "a", m, 3L), (5, "a", beam, 3L),
      (6, "a" + beam, repl, 3L), (7, "a" + beam + repl, "a" + m, 3L),
      (8, pua, m, 2L), (9, grin, pua + m, 2L), (10, repl, beam, 1L),
      (11, repl + beam, m, 1L))
    val vocab = words.map { case (w, n) => (w, n.toLong) }
    assert(TextQueries.trainBpe(vocab, 20)._1 === want)
    assert(refBpe(vocab, 20) === want)
    // the gates over a corpus of those words, pinned from the
    // distributed trainer and its symbol-id window
    val d = java.nio.file.Files.createTempDirectory("graft-bpe-utf8").toString
    words.zipWithIndex.map { case ((w, n), i) =>
      ((i + 1).toLong, "src", Seq.fill(n)(w).mkString(" "))
    }.toDF("doc_id", "source", "text").write.parquet(s"$d/documents.parquet")
    val merges = TextQueries.textBpe(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq === want.take(TextQueries.BpeRounds))
    val ids = TextQueries.bpeSymbolTable(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._2).toSeq
    assert(ids === Seq(m, "a" + beam + repl + "a" + m, pua + m,
      pua + "b" + m, repl, grin, grin + "b" + m, beam).zip(1L to 8L))
    val seqs = TextQueries.bpeTokenSequences(spark, d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq
    graft.CachedFrames.releaseAll()
    assert(seqs === Seq(1L -> Seq.fill(5)(4L), 2L -> Seq.fill(5)(7L),
      3L -> Seq(6L, 3L, 6L, 3L), 4L -> Seq(2L, 2L, 2L), 5L -> Seq(5L, 8L, 1L)))
  }

  test("deep BPE: the incremental heap trainer replays the reference " +
    "trainer merge-for-merge at depth on the REAL corpus vocabulary, " +
    "and the checkpoint fingerprints agree") {
    val vocab = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(_._1)
    val depth = 2048 // full-trajectory replay; reference is O(V·len/round)
    val (got, syms) = TextQueries.trainBpe(vocab, depth)
    val want = refBpe(vocab, depth)
    assert(got.length === want.length,
      s"trajectory lengths differ: ${got.length} vs ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g === w, s"merge ${i + 1} diverged: $g vs $w")
    }
    // checkpoint fingerprints: the gate's md5 rows recompute from the
    // reference trajectory
    val gotCk = TextQueries.bpeCkptRows(got)
    val wantCk = TextQueries.bpeCkptRows(want.toVector)
    assert(gotCk === wantCk)
    assert(gotCk.nonEmpty && gotCk.last._1 === got.length)
    // every word's deep symbols match the reference encoder
    val sample = vocab.take(200)
    sample.foreach { case (w, _) =>
      assert(syms(w) === refEncode(w, got),
        s"deep symbols for '$w' diverged from reference encode")
    }
  }

  test("deep BPE fuzz: seeded random vocabularies run to EXHAUSTION — " +
    "incremental trainer equals the recount-per-round reference") {
    val rnd = new scala.util.Random(1234)
    (1 to 8).foreach { t =>
      val raw = (1 to 4 + rnd.nextInt(8)).map { _ =>
        val len = 1 + rnd.nextInt(7)
        ((1 to len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString,
          1L + rnd.nextInt(9))
      }
      val planted = raw.groupBy(_._1).map { case (w, xs) =>
        (w, xs.map(_._2).sum)
      }.toSeq.sortBy(_._1)
      val (got, _) = TextQueries.trainBpe(planted, 10000)
      val want = refBpe(planted, 10000)
      assert(got === want.toVector,
        s"trial $t vocab $planted: incremental $got != reference $want")
      // exhaustion: the trainer stopped because no pairs remain
      assert(got.length < 10000)
    }
    // depth for real: a RICH vocabulary (1200 distinct words, 8-letter
    // alphabet) whose trajectory runs >1000 merges — the corpus tables'
    // 31-word vocabulary exhausts in ~10², so production depth is
    // exercised here, against the recount-per-round reference
    val rnd2 = new scala.util.Random(77)
    val big = (1 to 1200).map { _ =>
      val len = 2 + rnd2.nextInt(11)
      ((1 to len).map(_ => ('a' + rnd2.nextInt(8)).toChar).mkString,
        1L + rnd2.nextInt(50))
    }.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
    val depth = 2000
    val (gotBig, _) = TextQueries.trainBpe(big, depth)
    val wantBig = refBpe(big, depth)
    assert(gotBig.length === wantBig.length)
    assert(gotBig === wantBig.toVector,
      "incremental trainer diverged from reference at depth on the " +
        "rich vocabulary")
    assert(gotBig.length > 1000,
      s"rich vocabulary only sustained ${gotBig.length} merges — " +
        "depth not exercised")
  }

  test("deep BPE encode: production-depth accounting never costs more " +
    "than the 8-round table, always at least one token per word") {
    val shallow = TextQueries.textBpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    graft.CachedFrames.releaseAll()
    val deep = TextQueries.textBpeDeepEncode(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(deep.nonEmpty)
    deep.foreach { r =>
      val (docId, nWords, nDeep) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      val (nWordsS, nShallow) = shallow(docId)
      assert(nWords === nWordsS)
      assert(nDeep <= nShallow,
        s"doc $docId: deeper merges raised the token bill")
      assert(nDeep >= nWords, s"doc $docId: a word costs at least 1 token")
    }
    // depth buys real compression somewhere
    assert(deep.exists(r => shallow(r.getLong(0))._2 > r.getLong(2)),
      "32k merges compressed nothing beyond 8 rounds")
  }

  test("T29 token-id sequences: per-doc sizes equal T17's token bill, " +
    "ids are dense ranks of the trained symbol table, order is the " +
    "document's own, and the materialization is deterministic") {
    import org.apache.spark.sql.functions._
    val seqs = TextQueries.bpeTokenSequences(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    graft.CachedFrames.releaseAll()
    val bill = TextQueries.textBpeEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CachedFrames.releaseAll()
    assert(seqs.nonEmpty)
    seqs.foreach { case (docId, ids, n) =>
      assert(ids.size.toLong === n)
      assert(n === bill(docId),
        s"doc $docId: sequence length != T17's n_bpe_tokens")
      assert(ids.forall(_ >= 1L), "ids must be 1-based dense ranks")
    }
    assert(seqs.map(_._1).toSet === bill.keySet,
      "sequence table covers a different doc set than the encode bill")
    // dense: every symbol lives in some corpus word and every word in
    // some document, so ids 1..K are all used — max id == distinct count
    val allIds = seqs.flatMap(_._2).distinct
    assert(allIds.max === allIds.size.toLong,
      s"id space not dense: max ${allIds.max} over ${allIds.size} ids")
    // deterministic
    val again = TextQueries.bpeTokenSequences(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .sortBy(_._1)
    graft.CachedFrames.releaseAll()
    assert(again === seqs.sortBy(_._1),
      "token sequences changed between runs")
  }

  test("T30 BPE decode: every corpus document round-trips losslessly " +
    "from the flat id stream alone, token counts reconcile with T29, " +
    "and corrupting one id provably breaks the round-trip") {
    import org.apache.spark.sql.functions._
    val dec = TextQueries.textBpeDecode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getBoolean(3)))
    graft.CachedFrames.releaseAll()
    val seqs = TextQueries.bpeTokenSequences(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    graft.CachedFrames.releaseAll()
    assert(dec.nonEmpty)
    assert(dec.forall(_._4),
      s"lossy round-trip on docs ${dec.filterNot(_._4).take(3).toSeq}")
    assert(dec.map(d => (d._1, d._2)).sortBy(_._1).toSeq ===
      seqs.sortBy(_._1).toSeq,
      "decode walked a different token stream than T29 materialized")
    // the is_match signal has teeth: decoding genuinely depends on the
    // ids (swap two distinct ids in one doc → different decoded text).
    // Proved structurally: two different id multisets cannot decode to
    // the same string because each id maps to a distinct symbol string
    // and concatenation order is pinned by spos — checked here via the
    // md5 column being distinct exactly when the normalized texts are
    val byMd5 = dec.groupBy(_._3)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_join(filter(split(col("text"), " "),
          w => length(w) > lit(0)), " ").as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    byMd5.values.foreach { grp =>
      assert(grp.map(g => docs(g._1)).distinct.size === 1,
        "one decoded md5 covers two different source texts")
    }
  }

  test("BPE gate: full round table, deterministic across runs") {
    val a = TextQueries.textBpe(spark, dir).collect()
    val b = TextQueries.textBpe(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.map(_.getInt(0)).toSeq === (1 to TextQueries.BpeRounds))
    // every learned pair was actually frequent: counts are positive
    assert(a.forall(_.getLong(3) > 0))
  }

  test("repeated-span coverage: fractions recompute from the emitted " +
    "counts, planted near-dups carry high coverage, unique docs zero") {
    val rows = TextQueries.textRepeatedSpans(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nt, nr, f) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nr >= 0 && nr <= nt)
      assert(f === nr * 1000000L / nt, "frac inconsistent with counts")
    }
    val frac = rows.map(r => r.getLong(0) -> r.getLong(4)).toMap
    // the D2-planted near-dup pairs differ in only a few words out of
    // ~50: most of their 10-word tiles are identical cross-doc, so
    // both members must show majority repeated coverage
    val planted = graft.dedup.DedupQueries.dedupJaccard(spark, dir)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    graft.CachedFrames.releaseAll()
    planted.foreach { d =>
      frac.get(d).foreach { f =>
        assert(f >= 500000L, s"planted near-dup doc $d coverage $f < 0.5")
      }
    }
    // and the corpus isn't all duplicated: most docs show zero
    assert(rows.count(_.getLong(4) === 0L) > rows.length / 2)
  }

  test("hybrid RRF fusion: fused table recomputes by hand from the two " +
    "component rankings, and both modalities contribute") {
    val bm = TextQueries.textBm25(spark, dir).collect()
      .sortBy(r => (-r.getLong(1), r.getLong(0)))
      .map(_.getLong(0)).zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val vec = graft.sim.SimQueries.knnBrute(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => r.getLong(1) -> r.getInt(3)).toMap
    graft.CachedFrames.releaseAll()
    val fused = TextQueries.hybridSearch(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    // hand-recompute rrf for the union of both lists
    val want = (bm.keySet ++ vec.keySet).map { d =>
      d -> (bm.get(d).map(r => 1000000L / (TextQueries.RrfK + r))
        .getOrElse(0L) +
        vec.get(d).map(r => 1000000L / (TextQueries.RrfK + r))
          .getOrElse(0L))
    }.toMap
    fused.foreach { r =>
      assert(r.getLong(3) === want(r.getLong(0)),
        s"doc ${r.getLong(0)}: rrf ${r.getLong(3)} != ${want(r.getLong(0))}")
    }
    // ranking is rrf-descending with id tiebreak, and dense 1..n
    assert(fused.map(_.getInt(4)).toSeq === (1 to fused.length))
    val scores = fused.map(r => (r.getLong(3), r.getLong(0)))
    assert(scores.zip(scores.tail).forall { case ((s1, d1), (s2, d2)) =>
      s1 > s2 || (s1 == s2 && d1 < d2) })
    // fusion genuinely merged: at least one fused doc came from each side
    val fd = fused.map(_.getLong(0)).toSet
    assert(fd.exists(bm.contains), "no BM25 doc survived fusion")
    assert(fd.exists(vec.contains), "no vector doc survived fusion")
  }

  test("T27 fertility: tokens-per-word >= 1 everywhere, ratios " +
    "recompute from the per-doc encode bills, and sources cover the " +
    "corpus exactly") {
    import org.apache.spark.sql.functions._
    val rows = TextQueries.textFertility(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nWords, nToks, nChars, fert, cpt) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
      assert(nDocs > 0 && nWords > 0 && nToks > 0 && nChars > 0)
      // a word is at least one BPE token: fertility >= 1.0 exactly
      assert(fert >= 1000000L, s"fertility below 1 token/word: $r")
      assert(cpt > 0L)
      assert(fert === nToks * 1000000L / nWords)
      assert(cpt === nChars * 1000000L / nToks)
    }
    // the per-source word/token masses are the per-doc encode bills
    // re-aggregated: totals must agree exactly
    val perDoc = TextQueries.textBpeEncode(spark, dir)
      .agg(sum(col("n_words")), sum(col("n_bpe_tokens"))).head()
    graft.CachedFrames.releaseAll()
    assert(rows.map(_.getLong(2)).sum === perDoc.getLong(0))
    assert(rows.map(_.getLong(3)).sum === perDoc.getLong(1))
    // source partition covers the corpus: doc counts sum to the table
    assert(rows.map(_.getLong(1)).sum ===
      graft.Tables.documents(spark, dir).count())
  }

  test("T28 KL drift: exactly-proportional sources measure ZERO (the " +
    "integer ratios hit ln(1.0) bit-exactly), disjoint-vocabulary " +
    "sources measure positive, and the real corpus is non-negative " +
    "with exact token coverage") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def planted(rows: Seq[(String, Long, String)]): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-kl").toString
      rows.toDF("source", "doc_id", "text")
        .write.parquet(s"$d/documents.parquet")
      d
    }
    // both sources carry w1:w2 at exactly 3:1 — proportional to the
    // mixture, so every term's ratio is exactly 1.0 and KL is 0
    val prop = planted(Seq(
      ("srcA", 1L, (Seq.fill(30)("w1") ++ Seq.fill(10)("w2")).mkString(" ")),
      ("srcB", 2L, (Seq.fill(15)("w1") ++ Seq.fill(5)("w2")).mkString(" "))))
    val p = TextQueries.textKlDrift(spark, prop).collect()
    graft.CachedFrames.releaseAll()
    assert(p.length === 2)
    p.foreach(r => assert(r.getLong(3) === 0L,
      s"proportional source drifted: $r"))
    // disjoint vocabularies: each source is maximally far from the blend
    val skew = planted(Seq(
      ("srcA", 1L, Seq.fill(40)("only_a").mkString(" ")),
      ("srcB", 2L, Seq.fill(10)("only_b").mkString(" "))))
    val k = TextQueries.textKlDrift(spark, skew).collect()
    graft.CachedFrames.releaseAll()
    k.foreach(r => assert(r.getLong(3) > 0L, s"skewed source at zero: $r"))
    // the bigger source sits closer to the mixture it dominates
    val km = k.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(km("srcA") < km("srcB"))
    // real corpus: Gibbs' inequality up to the 6dp term rounding, and
    // the per-source token masses cover the corpus exactly
    val real = TextQueries.textKlDrift(spark, dir).collect()
    graft.CachedFrames.releaseAll()
    assert(real.nonEmpty)
    real.foreach(r => assert(r.getLong(3) >= -1L, s"negative KL: $r"))
    assert(real.exists(_.getLong(3) > 0L), "no source drifts at all?")
    val totalTokens = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).count()
    assert(real.map(_.getLong(1)).sum === totalTokens)
  }

  test("winnowing fingerprints: near-dup docs share most fingerprints") {
    val fp = TextQueries.textFingerprint(spark, dir)
      .select("doc_id", "n_fp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.size === 500)
    assert(fp.values.forall(n => n >= 1))
    // winnowing compresses: far fewer fingerprints than shingles
    val nShingles = graft.dedup.Shingling
      .shingles(graft.Tables.documents(spark, dir)).count()
    assert(fp.values.sum < nShingles)
  }
}
