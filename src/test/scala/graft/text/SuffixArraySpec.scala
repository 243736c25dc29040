package graft.text

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

class SuffixArraySpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force token suffix order: lexicographic on the token seq,
    * shorter-prefix-first, ties by (doc, pos) — the contract the
    * distributed prefix doubling must reproduce exactly. */
  private def bruteSa(docs: Seq[(Long, String)]): Seq[(Long, Long)] = {
    val sufs = for {
      (id, text) <- docs
      toks = text.toLowerCase.replaceAll("[^a-z0-9\\s]+", " ").trim
        .split("\\s+").toSeq
      p <- 1 to toks.length
    } yield (id, p.toLong, toks.drop(p - 1))
    implicit val ord: Ordering[Seq[String]] =
      Ordering.Iterable[String].on[Seq[String]](identity)
    sufs.sortBy { case (id, p, s) => (s, id, p) }
      .map { case (id, p, _) => (id, p) }
  }

  private def bruteLcp(a: Seq[String], b: Seq[String]): Int =
    a.zip(b).takeWhile { case (x, y) => x == y }.size

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a banana a banana a ban"),
    (2L, "the quick brown fox sleeps"),   // shared 4-token prefix with 0
    (3L, "a banana a banana a ban"),      // exact dup of 1
    (4L, "zz"),                           // single token
    (5L, "over the lazy dog the quick")   // internal overlaps with 0
  )

  test("a doubling span past lead()'s Int offset fails loudly") {
    assert(SuffixArray.leadOffset(Int.MaxValue.toLong) === Int.MaxValue)
    intercept[IllegalArgumentException] {
      SuffixArray.leadOffset(Int.MaxValue.toLong + 1L)
    }
  }

  test("suffixArray matches brute-force lexicographic suffix order") {
    val df = corpus.toDF("doc_id", "text")
    val got = SuffixArray.suffixArray(df, "doc_id", "text")
      .orderBy("sa_rank")
      .collect().map { case Row(id: Long, p: Long, _) => (id, p) }.toSeq
    assert(got === bruteSa(corpus))
  }

  test("suffixArray brute-force match on docs long enough to force " +
    "doubling rounds past the wider init span") {
    // initSpan = 16: the corpus fixture above (≤9 tokens) resolves
    // entirely in round 0, so this fixture pins the doubling loop
    // itself — 60+-token docs sharing a long internal run (equal
    // beyond 32 tokens, distinct only near the end) need rounds at
    // covered = 16 and 32 to disambiguate
    val shared = (1 to 40).map(i => s"tok${i % 7}").mkString(" ")
    val longCorpus = Seq(
      (10L, s"$shared alpha beta gamma delta epsilon zeta"),
      (11L, s"$shared alpha beta gamma delta epsilon eta"),
      (12L, s"prefix $shared alpha beta gamma delta epsilon zeta"),
      (13L, (1 to 70).map(i => s"w${i % 5}").mkString(" ")))
    val df = longCorpus.toDF("doc_id", "text")
    val got = SuffixArray.suffixArray(df, "doc_id", "text")
      .orderBy("sa_rank")
      .collect().map { case Row(id: Long, p: Long, _) => (id, p) }.toSeq
    assert(got === bruteSa(longCorpus))
  }

  test("fused final round ≡ dense re-rank: suffixArray matches the " +
    "prefix sum over ranks()") {
    // suffixArray skips the LAST doubling round's dense re-rank and
    // sorts on the raw (r, r2) pair (rankKeys fuseFinal); ranks() still
    // re-ranks every round. The two must order identically — pinned on
    // the doubling-exercising corpus so the fused branch actually fires
    val shared = (1 to 40).map(i => s"tok${i % 7}").mkString(" ")
    val longCorpus = Seq(
      (10L, s"$shared alpha beta gamma delta epsilon zeta"),
      (11L, s"$shared alpha beta gamma delta epsilon eta"),
      (12L, s"prefix $shared alpha beta gamma delta epsilon zeta"),
      (13L, (1 to 70).map(i => s"w${i % 5}").mkString(" ")))
    val df = longCorpus.toDF("doc_id", "text")
    val fused = SuffixArray.suffixArray(df, "doc_id", "text")
      .orderBy("sa_rank")
      .collect().map { case Row(id: Long, p: Long, r: Long) =>
        (id, p, r) }.toSeq
    val unfused = graft.ops.windows.distributedPrefixSum(
        SuffixArray.ranks(df, "doc_id", "text"),
        Seq(col("r"), col("doc_id"), col("pos")), lit(0L),
        cumName = "__c", rankName = "sa_rank")
      .select(col("doc_id"), col("pos"),
        col("sa_rank").cast("long").as("sa_rank"))
      .orderBy("sa_rank")
      .collect().map { case Row(id: Long, p: Long, r: Long) =>
        (id, p, r) }.toSeq
    assert(fused === unfused)
  }

  test("sa_rank is a 1..n permutation") {
    val df = corpus.toDF("doc_id", "text")
    val ranks = SuffixArray.suffixArray(df, "doc_id", "text")
      .select("sa_rank").as[Long].collect().sorted
    assert(ranks.toSeq === (1L to ranks.length).toSeq)
  }

  test("lcpAdjacent matches brute-force capped common prefixes") {
    val cap = 5
    val df = corpus.toDF("doc_id", "text")
    val toks = corpus.map { case (id, t) =>
      (id, t.toLowerCase.replaceAll("[^a-z0-9\\s]+", " ").trim
        .split("\\s+").toSeq)
    }.toMap
    val order = bruteSa(corpus)
    val want = order.sliding(2).zipWithIndex.collect {
      case (Seq((ai, ap), (bi, bp)), i) =>
        val a = toks(ai).drop(ap.toInt - 1).take(cap)
        val b = toks(bi).drop(bp.toInt - 1).take(cap)
        (i + 1L, ai, ap, bi, bp, bruteLcp(a, b).toLong)
    }.toSeq
    val got = SuffixArray.lcpAdjacent(df, "doc_id", "text", cap)
      .orderBy("sa_rank")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === want)
  }

  test("dupPositions flags exactly the spans occurring twice") {
    // hand model: a position is duplicated iff its full minLen-token
    // span (positions with fewer than minLen tokens left never qualify)
    // occurs at >=2 (doc, pos) starting points corpus-wide — within-doc
    // repeats included
    val minLen = 3
    val df = corpus.toDF("doc_id", "text")
    val toks = corpus.map { case (id, t) =>
      (id, t.toLowerCase.replaceAll("[^a-z0-9\\s]+", " ").trim
        .split("\\s+").toSeq)
    }
    val allSufs = for {
      (id, ts) <- toks
      p <- 1 to ts.length
    } yield (id, p, ts.drop(p - 1).take(minLen))
    val dupKeys = allSufs.groupBy(_._3).filter { case (k, v) =>
      k.size == minLen && v.size >= 2
    }.values.flatten.map(s => (s._1, s._2)).toSet
    val want = toks.map { case (id, ts) =>
      (id, ts.length.toLong,
        (1 to ts.length).count(p => dupKeys((id, p))).toLong)
    }.sortBy(_._1)
    val got = SuffixArray.dupPositions(df, "doc_id", "text", minLen)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
  }

  /** Brute dup-position set: start positions whose full minLen-token
    * span occurs at >=2 (doc, pos) starting points corpus-wide. */
  private def bruteDupPositions(docs: Seq[(Long, String)], minLen: Int)
  : Set[(Long, Int)] = {
    val toks = docs.map { case (id, t) =>
      (id, t.toLowerCase.replaceAll("[^a-z0-9\\s]+", " ").trim
        .split("\\s+").toSeq)
    }
    val allSufs = for {
      (id, ts) <- toks
      p <- 1 to ts.length
    } yield (id, p, ts.drop(p - 1).take(minLen))
    allSufs.groupBy(_._3).filter { case (k, v) =>
      k.size == minLen && v.size >= 2
    }.values.flatten.map(s => (s._1, s._2)).toSet
  }

  test("deltaDupPositions ≡ from-scratch dupPositions over old ∪ delta") {
    // the incremental contract: probing the old snapshot's at-rest
    // artifacts (gram blocks, stats, dup set, totals) reproduces the
    // full-rebuild report bit for bit — all three verdict paths fire
    // here (delta-vs-old dup, within-delta dup, old position flipping
    // to dup because a previously-unique gram was re-introduced)
    val minLen = 3
    val old = corpus
    val delta = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // re-crawl of 0
      (101L, "completely fresh tokens appear here twice"),
      (102L, "completely fresh tokens appear here twice"),   // within-delta dup
      (103L, "fox sleeps tonight alone"),  // re-introduces 2's unique tail? (no 3-gram match)
      (104L, "nothing shared at all"))
    val oldDf = old.toDF("doc_id", "text")
    val deltaDf = delta.toDF("doc_id", "text")
    val sa = SuffixArray.suffixArray(oldDf, "doc_id", "text")
    val gramPos = SuffixArray.gramBlocks(sa, oldDf, "doc_id", "text",
      minLen)
    val gramStats = gramPos.groupBy("gram")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_occ"))
    val oldReport = SuffixArray.dupPositionsFrom(sa, oldDf, "doc_id",
      "text", minLen)
    val got = SuffixArray.deltaDupPositions(gramPos, gramStats,
        oldReport, deltaDf, "doc_id", "text", minLen)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    val want = SuffixArray.dupPositions(
        oldDf.unionByName(deltaDf), "doc_id", "text", minLen)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
    // the old-flip path really fired: doc 0's positions must now be
    // duplicated (its re-crawl is in the delta) though none were before
    val before = SuffixArray.dupPositions(oldDf, "doc_id", "text",
        minLen).filter($"doc_id" === 0L)
      .as[(Long, Long, Long)].head()
    val after = got.find(_._1 == 0L).get
    assert(after._3 > before._3, s"doc 0: $before -> $after")
  }

  test("deltaDupPositions rejects delta ids colliding with the old " +
    "report") {
    // a re-crawl arriving under the SAME id would emit two rows for
    // that doc (the merge is a union, not a keyed merge) and silently
    // split its position accounting — the precondition must fail loud
    val minLen = 3
    val oldDf = corpus.toDF("doc_id", "text")
    val sa = SuffixArray.suffixArray(oldDf, "doc_id", "text")
    val gramPos = SuffixArray.gramBlocks(sa, oldDf, "doc_id", "text",
      minLen)
    val gramStats = gramPos.groupBy("gram")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_occ"))
    val oldReport = SuffixArray.dupPositionsFrom(sa, oldDf, "doc_id",
      "text", minLen)
    val badDelta = Seq((corpus.head._1, "same id as the old corpus"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SuffixArray.deltaDupPositions(gramPos, gramStats, oldReport,
        badDelta, "doc_id", "text", minLen).collect()
    }
    assert(e.getMessage.contains("collide"))
  }

  test("dupSpansExact merges flagged covers into maximal spans") {
    val minLen = 3
    val df = corpus.toDF("doc_id", "text")
    val dupKeys = bruteDupPositions(corpus, minLen)
    // brute interval union per doc: covered = ∪ [p, p+minLen-1]
    val want = dupKeys.groupBy(_._1).flatMap { case (id, ps) =>
      val covered = ps.flatMap(p => p._2 until p._2 + minLen).toSet
      // maximal runs of covered positions
      val sorted = covered.toSeq.sorted
      sorted.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.map { case (s, e) => (id, s.toLong, e.toLong) }
    }.toSet
    val sa = SuffixArray.suffixArray(df, "doc_id", "text")
    val got = SuffixArray.dupSpansExact(sa, df, "doc_id", "text", minLen)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty, "fixture must contain duplicated spans")
  }

  test("docPrefixOverlap ≡ brute max-over-all-pairs capped prefix lcp") {
    val cap = 4
    val df = corpus.toDF("doc_id", "text")
    val sa = SuffixArray.suffixArray(df, "doc_id", "text")
    val toks = corpus.map { case (id, t) =>
      (id, t.toLowerCase.replaceAll("[^a-z0-9\\s]+", " ").trim
        .split("\\s+").toSeq.take(cap))
    }
    val want = toks.map { case (id, w) =>
      val best = toks.filter(_._1 != id).map { case (_, w2) =>
        bruteLcp(w, w2) }.max
      (id, best.toLong)
    }.toMap
    val got = SuffixArray.docPrefixOverlap(sa, df, "doc_id", "text",
        cap = cap)
      .as[(Long, Long)].collect().toMap
    assert(got === want)
    // the fixture exercises both extremes: exact-dup docs 1/3 hit the
    // cap, the singleton doc 4 shares nothing
    assert(got(1L) === cap.toLong && got(3L) === cap.toLong)
    assert(got(4L) === 0L)
  }

  test("contaminatedPositions: SA blocks equal the brute gram criterion") {
    val minLen = 3
    val df = corpus.toDF("doc_id", "text")
    val sa = SuffixArray.suffixArray(df, "doc_id", "text")
    // bench = even doc ids; brute truth: train positions whose
    // minLen-gram occurs in ANY bench doc
    val toks = corpus.map { case (id, t) =>
      (id, t.toLowerCase.replaceAll("[^a-z0-9\\s]+", " ").trim
        .split("\\s+").toSeq)
    }
    def grams(ts: Seq[String]) =
      (1 to ts.length - minLen + 1).map(p =>
        (p.toLong, ts.slice(p - 1, p - 1 + minLen).mkString(" ")))
    val benchGrams = toks.filter(_._1 % 2 == 0)
      .flatMap { case (_, ts) => grams(ts).map(_._2) }.toSet
    val want = toks.filter(_._1 % 2 != 0).flatMap { case (id, ts) =>
      val hits = grams(ts).count { case (_, g) => benchGrams(g) }
      if (hits > 0) Some((id, hits.toLong)) else None
    }.toMap
    val got = SuffixArray.contaminatedPositions(sa, df, "doc_id",
        "text", isBench = _ % 2 === 0, minLen = minLen)
      .as[(Long, Long)].collect().toMap
    assert(got === want)
    assert(want.nonEmpty, "fixture must contain cross-corpus overlap")
    // doc 3 (train) is an exact dup of bench doc... doc 3 is odd, its
    // twin doc 1 is also odd — overlap must come from real shared spans
    // (docs 1/3 share "a banana a" etc. only with each other: excluded)
    assert(!got.contains(4L) && !got.contains(2L) && !got.contains(0L))
  }

  test("scrubSegments: survivors carry NO minLen-gram occurring twice") {
    val minLen = 3
    val df = corpus.toDF("doc_id", "text")
    val sa = SuffixArray.suffixArray(df, "doc_id", "text")
    val segs = SuffixArray.scrubSegments(sa, df, "doc_id", "text", minLen)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(segs.nonEmpty)
    // segments reassemble to exactly the original minus merged spans
    val dupKeys = bruteDupPositions(corpus, minLen)
    val toks = corpus.map { case (id, t) =>
      (id, t.toLowerCase.replaceAll("[^a-z0-9\\s]+", " ").trim
        .split("\\s+").toSeq)
    }.toMap
    segs.foreach { case (id, _, start, n, text) =>
      val ts = toks(id).slice(start.toInt - 1, start.toInt - 1 + n.toInt)
      assert(text === ts.mkString(" "), s"doc $id seg at $start")
      // no position inside a kept segment was flagged
      (start.toInt until start.toInt + n.toInt).foreach { p =>
        val covered = dupKeys.exists { case (did, dp) =>
          did == id && p >= dp && p < dp + minLen
        }
        assert(!covered, s"kept position ($id,$p) was duplicated-covered")
      }
    }
    // THE guarantee: across all segments, every minLen-gram is unique
    val grams = segs.flatMap { case (id, segId, _, _, text) =>
      val ts = text.split("\\s+").toSeq
      ts.sliding(minLen).filter(_.size == minLen).map(_.mkString(" "))
    }
    assert(grams.groupBy(identity).forall(_._2.size == 1),
      "a duplicated gram survived the scrub")
    // a doc with no duplicated span survives whole
    val seg0 = segs.filter(_._1 == 4L)
    assert(seg0 === Seq((4L, 1L, 1L, 1L, "zz")))
  }
}
