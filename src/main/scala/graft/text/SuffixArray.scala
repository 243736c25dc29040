package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Staging.{stageObserved, StageOps}
import graft.ops.windows

/** Distributed token-level suffix array over a document corpus, by prefix
  * doubling (Manber–Myers), plus the adjacent-LCP index on top of it —
  * the data structure behind EXACT substring-level dedup (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better": their
  * suffix-array pass finds every verbatim span shared across documents,
  * which shingle methods like [[Text.dupSpans]] only approximate at one
  * fixed width).
  *
  * Scale shape (the whole point): a corpus of n token positions is ranked
  * in ceil(log2 maxDocLen) rounds; each round is ONE exchange-free
  * self-join on (doc, pos) (round state stays doc-clustered) plus ONE
  * dense re-rank of the (rank, rank') pairs via [[denseRankBucketed]] —
  * every stage shuffles on a data-sized key, nothing funnels through a
  * single task, and each round's state is staged (reliable-checkpoint-
  * aware) so lineage stays flat. At 100 TB that is ~20 rounds of linear
  * shuffles; the only driver-side values are two scalars per round
  * (observed metrics riding the checkpoint job, no extra pass).
  *
  * Suffixes do not cross document boundaries (the corpus is a document
  * SET, not one string); a missing continuation ranks below every real
  * rank (rank 0), so a suffix that is a proper prefix of another sorts
  * first — exactly lexicographic order on the token lists.
  */
object SuffixArray {

  /** One row per token position: (doc_id, pos 1-based, tok) — 1-based so
    * the DuckDB twin's `toks[pos:]` slice lines up with no off-by-one. */
  private def positions(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("tok"))

  /** Tokens the initial rank covers per position — doubling then starts
    * at this span. Round count is ceil(log2(maxDocLen / initSpan)), so
    * a wider init trades round-0 exchange width (initSpan tokens ride
    * each position row into the first dense rank) for whole doubling
    * rounds (each a full corpus-sized shuffle + re-rank + checkpoint).
    * 16 cuts two rounds vs the previous 4 at any maxDocLen; measured
    * at sf0.1 (maxDocLen 100: 5 rounds → 3) the build dropped ~25%,
    * and at lake scale the saved rounds are saved corpus shuffles. */
  private val initSpan = 16

  /** The per-doc `lead()` offset of a doubling round: `lead()` takes an
    * Int, and a wrapped offset would silently pair the wrong suffixes —
    * documents past 2³¹ tokens need the shift-join form instead. */
  private[text] def leadOffset(covered: Long): Int = {
    require(covered <= Int.MaxValue,
      s"suffix array: a span of $covered tokens exceeds lead()'s Int " +
        "offset; documents past 2^31 tokens are not supported")
    covered.toInt
  }

  /** Final prefix-doubling equivalence ranks: (doc_id, pos, r) where
    * r is equal iff the full suffixes are equal token sequences, and
    * r's order IS lexicographic suffix order. Rounds run until either
    * every rank is unique or the doubled span covers the longest
    * document, whichever comes first (convergence is observed on the
    * round's own checkpoint job — no extra scan per round). */
  def ranks(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    rankKeys(docs, idCol, textCol, fuseFinal = false)._1

  /** The prefix-doubling loop behind [[ranks]], generalized so the
    * FINAL round can skip its dense re-rank: with `fuseFinal` the last
    * round (final by the covered-span condition) returns the raw
    * (r, r2) pair plus the ordering keys — the pair is equal iff the
    * full suffixes are equal and its lexicographic order IS suffix
    * order, which is all [[suffixArray]]'s global sort needs. The
    * re-rank of that round existed only to compress the pair back to
    * one dense column; for a consumer that immediately range-sorts,
    * that is one whole corpus-sized exchange + in-partition rank +
    * checkpoint paid for nothing (guide §2.4 — remove shuffles
    * outright). Returns (frame, ordering keys ("r" or "r", "r2")). */
  private def rankKeys(docs: DataFrame, idCol: String, textCol: String,
                       fuseFinal: Boolean): (DataFrame, Seq[Column]) = {
    // round 0: dense rank of the leading initSpan-token slice, built
    // SCAN-LOCAL — slice(toks, pos, k) in the same projection as the
    // posexplode, so no per-doc window (the lead()-struct form paid a
    // full doc-keyed exchange + sort before the first rank). A slice
    // near the document end is simply SHORTER, and Spark's array
    // ordering puts a proper prefix before its extensions — exactly
    // the shorter-suffix-sorts-first contract the NULL-padded struct
    // encoded (and a real token can never collide with "absent").
    val grams = docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), col("__t"),
        posexplode(col("__t")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        slice(col("__t"), col("p0") + 1, lit(initSpan)).as("g"))
    // NO repartition(doc_id) before the stage: a checkpoint ERASES
    // outputPartitioning, so the next round's per-doc window re-exchanges
    // regardless — the repartition was one dead corpus-sized exchange
    // per round (caught in the r13 plan dumps)
    val (first, m0) = stageObserved(
      windows.distributedDenseRank(grams, Seq(col("g")), rankName = "r")
        .select(col("doc_id"), col("pos"), col("r")),
      count(lit(1)).as("n"), max(col("r")).as("k"),
      max(col("pos")).as("maxlen"))
    var cur = first
    val n = m0("n").asInstanceOf[Long]
    val maxLen = m0("maxlen").asInstanceOf[Long]
    var distinctRanks = m0("k").asInstanceOf[Long]
    var covered = initSpan.toLong
    while (covered < maxLen && distinctRanks < n) {
      // rank of the suffix `covered` positions later, same doc (0 =
      // none). Positions are consecutive 1..len within a doc, so that
      // row is exactly `covered` rows later in (doc_id, pos) order —
      // ONE per-doc lead() window over the already-doc-partitioned
      // staged frame (no exchange, one in-partition sort) where the
      // shift self-join paid two sorts + a merge join per round.
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val paired = cur.select(col("doc_id"), col("pos"), col("r"),
        coalesce(lead(col("r"), leadOffset(covered)).over(wDoc), lit(0L))
          .as("r2"))
      if (fuseFinal && covered * 2 >= maxLen) {
        // final round by the covered condition: hand the (r, r2) pair
        // straight to the caller's global sort — no re-rank, no
        // checkpoint, no doc_id re-partition
        return (paired, Seq(col("r"), col("r2")))
      }
      // dense re-rank of the (r, r2) pairs: r is last round's dense
      // rank 1..K with K ON THE DRIVER (observed), so the range bucket
      // is plain arithmetic — no repartitionByRange, whose hidden
      // per-round SAMPLING job re-executes the whole join subtree
      val (staged, m) = stageObserved(
        denseRankBucketed(paired, distinctRanks, rankName = "nr")
          .select(col("doc_id"), col("pos"), col("nr").as("r")),
        max(col("r")).as("k"))
      cur = staged
      distinctRanks = m("k").asInstanceOf[Long]
      covered *= 2
    }
    (cur, Seq(col("r")))
  }

  /** Dense rank of (r, r2) pairs where r ∈ 1..`k` is ALREADY a dense
    * rank — the prefix-doubling inner loop. The order bucket is
    * arithmetic on r (⌊(r−1)·P/k⌋): contiguous r ranges land in the
    * same bucket, equal pairs can never straddle buckets, and unlike
    * `repartitionByRange` no sampling pass over the input is needed.
    * One hash exchange on the bucket; in-bucket dense rank + bucket
    * offsets exactly as [[windows.distributedDenseRank]]. Bucket skew
    * is bounded by the duplicate-suffix mass of the corpus (each r
    * group is one equivalence class of suffixes). */
  private def denseRankBucketed(df: DataFrame, k: Long,
                                rankName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = math.max(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt, 1)
    val parted = df
      .withColumn("__b", // integer DIV — Column./ on longs is DOUBLE
        expr(s"CAST(((r - 1) * $p) DIV ${math.max(k, 1L)} AS BIGINT)"))
      .repartition(p, col("__b"))
    val wIn = Window.partitionBy(col("__b"))
      .orderBy(col("r"), col("r2"))
    val ks = struct(col("r"), col("r2"))
    val inPart = parted
      .withColumn("__new",
        when(lag(ks, 1).over(wIn).isNull ||
          lag(ks, 1).over(wIn) =!= ks, 1L).otherwise(0L))
      .withColumn("__dr_in", sum(col("__new")).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .stage()
    val wOff = Window.partitionBy(windows.boundedGlobal(col("__b"))).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = inPart.groupBy(col("__b"))
      .agg(max(col("__dr_in")).as("__pk"))
      .withColumn("__doff",
        coalesce(sum(col("__pk")).over(wOff), lit(0L)))
      .select(col("__b"), col("__doff"))
    inPart.join(broadcast(offsets), Seq("__b"))
      .withColumn(rankName, col("__dr_in") + col("__doff"))
      .drop("__b", "__new", "__dr_in", "__doff")
  }

  /** The suffix array itself: every (doc_id, pos) with its 1-based global
    * rank `sa_rank` in lexicographic token-suffix order, ties (equal
    * suffixes across documents) broken by (doc_id, pos). The final
    * doubling round's (r, r2) pair feeds the global range sort directly
    * (`fuseFinal` — see [[rankKeys]]): the pair orders exactly like the
    * dense rank the old final re-rank produced, so sa_rank is identical
    * and the build saves one corpus-sized exchange + rank + checkpoint. */
  def suffixArray(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val (keyed, keys) = rankKeys(docs, idCol, textCol, fuseFinal = true)
    windows.distributedPrefixSum(keyed,
        keys ++ Seq(col("doc_id"), col("pos")), lit(0L),
        cumName = "__c", rankName = "sa_rank")
      .select(col("doc_id"), col("pos"),
        col("sa_rank").cast("long").as("sa_rank"))
  }

  /** Common-prefix length of two already-`cap`-bounded token slices:
    * zip_with pads the shorter side with null (≠ anything), the sentinel
    * `false` bounds array_position — pure codegen HOFs, scan-local. */
  private def commonPrefixLen(a: Column, b: Column): Column =
    (array_position(
      concat(zip_with(a, b, (x, y) => coalesce(x === y, lit(false))),
        array(lit(false))),
      false) - 1).cast("long")

  /** Adjacent-LCP index: for every consecutive suffix pair in SA order,
    * the length of their longest common token prefix, capped at `cap`
    * (dedup only ever thresholds the LCP, so the cap is the threshold's
    * ceiling, not an approximation). One self-join on sa_rank; the token
    * slices ride a broadcast-or-shuffle join back to the docs frame.
    * Output: (sa_rank, doc_id, pos, nxt_doc_id, nxt_pos, lcp). */
  def lcpAdjacent(docs: DataFrame, idCol: String, textCol: String,
                  cap: Int): DataFrame =
    lcpFrom(suffixArray(docs, idCol, textCol), docs, idCol, textCol, cap)

  /** [[lcpAdjacent]] over a PREBUILT suffix array — the at-rest-index
    * path: a production SA is materialized once per corpus snapshot
    * (it IS the dedup index Lee et al. persist) and every downstream
    * consumer (LCP, dup report, scrub) reads it, rather than re-running
    * ~log₂(maxDocLen) prefix-doubling rounds per query. `sa` must carry
    * (doc_id, pos, sa_rank) as produced by [[suffixArray]] over the SAME
    * docs frame. */
  def lcpFrom(sa: DataFrame, docs: DataFrame, idCol: String,
              textCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"lcp cap must be >= 1, got $cap")
    val toks = docs.select(col(idCol).as("doc_id"),
      Text.tokens(col(textCol)).as("t"))
    val sliced = sa.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("sa_rank"),
        slice(col("t"), col("pos"), lit(cap)).as("w"))
      .stage() // both sides of the adjacency join read it
    val nxt = sliced.select((col("sa_rank") - 1).as("sa_rank"),
      col("doc_id").as("nxt_doc_id"), col("pos").as("nxt_pos"),
      col("w").as("w2"))
    sliced.join(nxt, Seq("sa_rank"))
      .select(col("sa_rank"), col("doc_id"), col("pos"),
        col("nxt_doc_id"), col("nxt_pos"),
        commonPrefixLen(col("w"), col("w2")).as("lcp"))
  }

  /** Per-document exact-substring dup report: a position is DUPLICATED
    * iff the `minLen`-token span starting there also occurs somewhere
    * else in the corpus — which in SA terms is max(lcp with the previous
    * suffix, lcp with the next) >= minLen, the classic suffix-array dup
    * criterion (each repeated span's occurrences are adjacent in SA
    * order, so only neighbors need comparing — never all pairs).
    * Output: (doc_id, n_positions, n_dup_positions) for every doc. */
  def dupPositions(docs: DataFrame, idCol: String, textCol: String,
                   minLen: Int): DataFrame =
    dupPositionsFrom(suffixArray(docs, idCol, textCol), docs, idCol,
      textCol, minLen)

  /** [[dupPositions]] over a prebuilt suffix array (see [[lcpFrom]]). */
  def dupPositionsFrom(sa: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, minLen: Int): DataFrame = {
    val hits = dupPositionRows(sa, docs, idCol, textCol, minLen)
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_positions"))
    positions(docs, idCol, textCol)
      .groupBy("doc_id").agg(count(lit(1)).as("n_positions"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_positions"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"))
  }

  /** The raw duplicated positions behind [[dupPositions]]: every
    * (doc_id, pos) whose `minLen`-token span recurs anywhere in the
    * corpus — both sides of each qualifying SA adjacency, distinct. */
  private def dupPositionRows(sa: DataFrame, docs: DataFrame,
                              idCol: String, textCol: String,
                              minLen: Int): DataFrame = {
    val lcp = lcpFrom(sa, docs, idCol, textCol, cap = minLen)
      .filter(col("lcp") >= minLen)
      .stage() // read twice: once per adjacency direction
    lcp.select(col("doc_id"), col("pos"))
      .union(lcp.select(col("nxt_doc_id").as("doc_id"),
        col("nxt_pos").as("pos")))
      .distinct()
  }

  /** The raw duplicated positions behind a prebuilt SA's dup report —
    * public so the position set can be persisted as an at-rest
    * artifact next to the index (the incremental-maintenance inputs,
    * see [[deltaDupPositions]]). */
  def dupPositionRowsFrom(sa: DataFrame, docs: DataFrame, idCol: String,
                          textCol: String, minLen: Int): DataFrame =
    dupPositionRows(sa, docs, idCol, textCol, minLen)

  /** The `minLen`-BLOCK membership table of a suffix-array snapshot:
    * (doc_id, pos, gram) for every position with ≥ `minLen` tokens
    * remaining, gram = the space-joined `minLen`-token slice. Equal
    * grams ⟺ same SA block at adjacent-LCP ≥ `minLen` (lcp(i, j) is
    * the min of the adjacent LCPs between i and j, so suffixes sharing
    * a ≥minLen prefix are exactly the contiguous block — the
    * [[contaminatedPositions]] partition), which makes this the
    * persistable PROBE INDEX for incremental dedup: a delta batch
    * tests block membership by one equi-join on the gram, no prefix
    * doubling, no SA rebuild. Tokens never contain whitespace, so the
    * space join is a bijection — gram string equality IS token-slice
    * equality. Scan-local off the index + token arrays. */
  def gramBlocks(sa: DataFrame, docs: DataFrame, idCol: String,
                 textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val toks = docs.select(col(idCol).as("doc_id"),
      Text.tokens(col(textCol)).as("__t"))
    sa.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        slice(col("__t"), col("pos").cast("int"), lit(minLen)).as("w"))
      .filter(size(col("w")) === minLen)
      .select(col("doc_id"), col("pos"),
        array_join(col("w"), " ").as("gram"))
  }

  /** Build and persist the PROBE-STORE seed for a corpus snapshot —
    * the three at-rest artifacts incremental/streaming exact-substring
    * maintenance probes ([[deltaDupPositions]]): the gram membership
    * log (`gram_positions`), its per-gram rollup tagged as seed shard
    * -1 (`gram_stats` — the append-log form the streaming store grows
    * in), and the corpus dup report (`seed_report`). One SA build
    * feeds all three (staged — prefix doubling must not re-run per
    * consumer). */
  def seedProbeStore(corpus: DataFrame, idCol: String, textCol: String,
                     minLen: Int, path: String): Unit = {
    val sa = suffixArray(corpus, idCol, textCol).stage()
    val gp = gramBlocks(sa, corpus, idCol, textCol, minLen).stage()
    gp.write.mode("overwrite").parquet(s"$path/gram_positions")
    gp.groupBy("gram").agg(count(lit(1)).as("n_occ"))
      .withColumn("shard_id", lit(-1L))
      .write.mode("overwrite").parquet(s"$path/gram_stats")
    dupPositionsFrom(sa, corpus, idCol, textCol, minLen)
      .write.mode("overwrite").parquet(s"$path/seed_report")
  }

  /** All sliding `minLen`-token grams of `docs` — (doc_id, pos, gram):
    * the batch-side analog of [[gramBlocks]] (which derives the same
    * rows from an at-rest SA), i.e. what an arriving delta contributes
    * to the gram membership log. Scan-local. */
  def slidingGrams(docs: DataFrame, idCol: String, textCol: String,
                   minLen: Int): DataFrame =
    slidingGramsFromTokens(docs.select(col(idCol).as("doc_id"),
      Text.tokens(col(textCol)).as("__t")), minLen)

  private def slidingGramsFromTokens(toks: DataFrame, minLen: Int)
  : DataFrame =
    toks
      .select(col("doc_id"),
        posexplode(col("__t")).as(Seq("p0", "tok")), col("__t"))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        slice(col("__t"), (col("p0") + 1).cast("int"), lit(minLen))
          .as("w"))
      .filter(size(col("w")) === minLen)
      .select(col("doc_id"), col("pos"),
        array_join(col("w"), " ").as("gram"))

  /** INCREMENTAL maintenance of the exact-substring dup report: the
    * merged per-doc report over corpus ∪ delta computed by PROBING the
    * old snapshot's at-rest artifacts — never rebuilding the corpus SA
    * (the delta analog of the dedup side's
    * [[graft.dedup.Dedup.incrementalNearDupsIndexed]]). Exactness rests
    * on the block criterion: a position is duplicated iff its
    * `minLen`-gram occurs ≥ 2 times in the combined corpus, so the
    * delta only has to change verdicts for grams IT contains —
    * everything else is already answered by the old report.
    *
    *  - a DELTA position is duplicated iff its gram exists in the old
    *    corpus (n_old ≥ 1) or recurs within the delta (n_new ≥ 2);
    *  - an OLD position flips to duplicated iff its gram was
    *    previously UNIQUE (n_old = 1) and the delta re-introduces it —
    *    provably disjoint from the old dup set (those grams all have
    *    n_old ≥ 2), so the union needs no dedup;
    *  - every other old verdict is unchanged.
    *
    * Plan shape at 100 TB: the batch is scanned once (gram projection
    * + per-doc totals); the two index files are each scanned ONCE with
    * the batch's gram set broadcast into the probe (an equi-join —
    * the index is never shuffled, and a bucketed-by-gram-hash layout
    * would prune the scan itself); the old REPORT is patched by a
    * broadcast join of the batch-bounded extras — it is re-emitted
    * (this query's output is the full merged report) but never
    * shuffled or re-aggregated. Per-batch COMPUTE is
    * O(|delta| + matches + one index read), independent of how many
    * deltas preceded it; a deployment that only wants the CHANGED rows
    * keeps the extras/new frames and skips the re-emission.
    *
    * PRECONDITION (validated loudly): delta doc ids are DISJOINT from
    * the old report's — the merge is a unionByName, not a keyed merge,
    * so a re-crawl arriving under an EXISTING id would emit two rows
    * for that doc and split its position accounting where the
    * from-scratch rebuild emits one. Re-crawls must arrive under new
    * ids (or retract the old row upstream first). The check is one
    * scan of the doc-level report against the batch-bounded id set
    * broadcast — report rows are per-DOC, so this is index-sized, not
    * corpus-sized, and it rides before any output is produced.
    *
    * @param gramPos   at-rest [[gramBlocks]] of the old snapshot; may
    *                  be an append log grown by [[slidingGrams]]
    *                  batches (duplicate rows from at-least-once
    *                  appends are absorbed on probe)
    * @param gramStats at-rest (gram, n_occ) rollup of `gramPos`; may
    *                  be an append log of per-shard rollups — rows
    *                  are summed per gram after the probe, and an
    *                  optional `shard_id` column dedups replayed
    *                  shards
    * @param oldReport at-rest [[dupPositionsFrom]] of the old corpus —
    *                  (doc_id, n_positions, n_dup_positions)
    * @param delta     the arriving batch (idCol, textCol); ids must
    *                  not collide with `oldReport`'s (see above)
    * @return (doc_id, n_positions, n_dup_positions) over old ∪ delta —
    *         identical to [[dupPositions]] over the combined corpus */
  def deltaDupPositions(gramPos: DataFrame, gramStats: DataFrame,
                        oldReport: DataFrame,
                        delta: DataFrame, idCol: String, textCol: String,
                        minLen: Int): DataFrame = {
    // ONE tokenize pass over the batch: the staged tokens frame feeds
    // both the gram projection and the per-doc totals (tokenizing
    // twice would double the batch's scan+regex cost)
    val dToks = delta.select(col(idCol).as("doc_id"),
        Text.tokens(col(textCol)).as("__t"))
      .stage()
    // disjoint-id precondition, checked loudly: the id set is batch-
    // bounded (broadcast probe into the per-doc report), and a silent
    // violation would split that doc's accounting across two rows
    val collided = oldReport.join(
        broadcast(dToks.select("doc_id").distinct()), Seq("doc_id"))
      .limit(5).collect()
    require(collided.isEmpty,
      s"delta doc ids collide with the old report (re-crawls must " +
        s"arrive under new ids): ${collided.map(_.get(0)).mkString(", ")}")
    val dGram = slidingGramsFromTokens(dToks, minLen)
      .stage() // two consumers: the gram agg + the flag join
    val dAgg = dGram.groupBy("gram").agg(count(lit(1)).as("n_new"))
    // old-side occurrence counts for EXACTLY the delta's grams: scan
    // the stats file once with the (small) gram set broadcast — an
    // inner probe first, then the left join runs on two batch-bounded
    // frames (a direct left join would shuffle the whole index: a
    // small LEFT side cannot be the broadcast build of an outer join).
    // The stats side may be an APPEND LOG of per-shard rollups (the
    // streaming store's form): multiple rows per gram are summed after
    // the probe — the sketch-store shard-merge contract — and a
    // `shard_id` column, when present, dedups replayed shards first
    // (at-least-once appends re-emit a whole shard verbatim).
    val probedRaw = gramStats.join(broadcast(dAgg.select("gram")),
      Seq("gram"))
    val deduped =
      if (probedRaw.columns.contains("shard_id"))
        probedRaw.dropDuplicates("gram", "shard_id")
      else probedRaw
    val oldCnt = deduped.groupBy("gram")
      .agg(sum(col("n_occ")).as("n_occ"))
    val probed = dAgg.join(oldCnt, Seq("gram"), "left")
      .select(col("gram"), col("n_new"),
        coalesce(col("n_occ"), lit(0L)).as("n_old"))
      .stage() // new-side flags + old-side probe both read it
    val newDupCnt = dGram
      .join(broadcast(probed
        .filter(col("n_old") >= 1L || col("n_new") >= 2L)
        .select("gram")), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("__nd"))
    // old positions flipping to duplicated: previously-UNIQUE grams
    // (n_old = 1) the delta re-introduces — one position per such gram
    // (that's what unique means), disjoint from the old dup counts
    // (those grams all had n_old ≥ 2), so the report patch is pure
    // addition; the extras frame is bounded by the BATCH's gram count
    val extras = gramPos
      .join(broadcast(probed.filter(col("n_old") === 1L)
        .select("gram")), Seq("gram"))
      // batch-bounded dedup: the membership side may be an append log
      // whose at-least-once appends replay exact duplicate rows; a
      // (doc_id, pos) is one position regardless of how many log rows
      // carry it
      .dropDuplicates("doc_id", "pos")
      .groupBy("doc_id").agg(count(lit(1)).as("__extra"))
    // per-doc totals off the SAME staged tokens frame (token count =
    // position count; 0-token docs are absent, matching the
    // positions-groupBy form in dupPositionsFrom)
    val dNPos = dToks
      .select(col("doc_id"), size(col("__t")).cast("long")
        .as("n_positions"))
      .filter(col("n_positions") >= 1L)
    oldReport
      .join(broadcast(extras), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_positions"),
        (col("n_dup_positions") + coalesce(col("__extra"), lit(0L)))
          .as("n_dup_positions"))
      .unionByName(dNPos.join(newDupCnt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_positions"),
          coalesce(col("__nd"), lit(0L)).as("n_dup_positions")))
  }

  /** EXACT cross-corpus decontamination via the suffix array: for every
    * non-benchmark ("train") document, the number of token positions
    * whose `minLen`-token span also occurs verbatim in some benchmark
    * document — the position-level exactness the Bloom/shingle probes
    * ([[graft.dedup.Dedup.bloomContaminated]]) only answer at document
    * granularity, and the reason Lee et al. 2022 persist the SA in the
    * first place.
    *
    * SA-block criterion (exact, never all-pairs): split SA order into
    * maximal BLOCKS where every adjacent LCP ≥ `minLen`. Since
    * lcp(i, j) = min of the adjacent LCPs between them, two suffixes
    * share a ≥`minLen` prefix iff they land in the same block — so a
    * train position is contaminated iff its block contains a benchmark
    * suffix. Plan shape: one adjacency join (the LCP index), one range
    * exchange for the block ids ([[graft.ops.windows.distributedPrefixSum]]
    * over the break indicators), then the contains-benchmark flag as a
    * partially-aggregated groupBy + hash join back (NOT a
    * whole-partition window: a boilerplate span occurring 10⁷ times is
    * ONE block, and map-side combine absorbs it where a window sort
    * would funnel it through a single task) — linear shuffles only,
    * driver-free.
    *
    * @param isBench corpus-tag predicate on the doc-id column (e.g.
    *                `_ % 97 === 0`) — evaluated scan-local, no tag join
    * @return (doc_id, n_contaminated_positions) per contaminated train
    *         doc */
  def contaminatedPositions(sa: DataFrame, docs: DataFrame, idCol: String,
                            textCol: String, isBench: Column => Column,
                            minLen: Int): DataFrame = {
    val lcp = lcpFrom(sa, docs, idCol, textCol, cap = minLen)
    // a block break sits BEFORE rank r+1 iff lcp(r, r+1) < minLen; the
    // first rank (no predecessor) always starts a block
    val withBreak = sa.join(
        lcp.select((col("sa_rank") + 1).as("sa_rank"),
          col("lcp").as("__pl")), Seq("sa_rank"), "left")
      .withColumn("__brk",
        when(col("__pl").isNull || col("__pl") < minLen, 1L)
          .otherwise(0L))
    val blocks = windows.distributedPrefixSum(withBreak,
        Seq(col("sa_rank")), col("__brk"), cumName = "__blk",
        rankName = "__r")
      .select(col("doc_id"), col("__blk"),
        when(isBench(col("doc_id")), 1L).otherwise(0L).as("__isb"))
      .stage() // per-block flags + the probe side both read it
    val benchBlocks = blocks.groupBy("__blk")
      .agg(max(col("__isb")).as("__hasb"))
      .filter(col("__hasb") === 1L)
      .select("__blk")
    blocks.filter(col("__isb") === 0L)
      .join(benchBlocks, Seq("__blk"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated_positions"))
  }

  /** Per-document longest SHARED PREFIX with any other document, capped
    * at `cap` tokens — the KV-cache-sharing / template-detection
    * report: serving stacks reuse a prefix cache across requests with
    * common prompts, and a corpus whose docs share long prefixes is
    * template-heavy. In sorted order the best prefix match is always a
    * SORT NEIGHBOR (lcp to anything further is the min of the adjacent
    * lcps between), so the answer needs only the doc-START suffixes of
    * the (at-rest) SA, densely re-ranked, each compared to its two
    * neighbors — never all pairs. min(·, cap) commutes with the max,
    * so capping the compared slices loses nothing below the cap.
    * Output: (doc_id, shared_prefix_len), one row per doc with ≥1
    * token; a doc with no shared first token reports 0. */
  def docPrefixOverlap(sa: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val starts = windows.distributedPrefixSum(
        sa.filter(col("pos") === 1L), Seq(col("sa_rank")), lit(0L),
        cumName = "__c", rankName = "__r")
      .select(col("doc_id"), col("__r"))
    val toks = docs.select(col(idCol).as("doc_id"),
      slice(Text.tokens(col(textCol)), 1, cap).as("w"))
    val withW = starts.join(toks, Seq("doc_id"))
      .stage() // self + both neighbor directions read it
    val nxt = withW.select((col("__r") - 1).as("__r"),
      col("w").as("__wn"))
    val prv = withW.select((col("__r") + 1).as("__r"),
      col("w").as("__wp"))
    withW.join(nxt, Seq("__r"), "left")
      .join(prv, Seq("__r"), "left")
      .select(col("doc_id"),
        greatest(
          coalesce(commonPrefixLen(col("w"), col("__wn")), lit(0L)),
          coalesce(commonPrefixLen(col("w"), col("__wp")), lit(0L)))
          .as("shared_prefix_len"))
  }

  /** Maximal duplicated token SPANS per document — the removal half of
    * the Lee et al. 2022 exact-substring pipeline: every duplicated
    * position p covers tokens [p, p+minLen−1]; overlapping/adjacent
    * covers merge into maximal spans by the classic gaps-and-islands
    * fold (a new island starts when the gap to the previous flagged
    * position exceeds minLen). The merge window is PER DOCUMENT (the
    * per-key shuffle every W-operator uses) — nothing global.
    * Output: (doc_id, span_start, span_end), 1-based inclusive. */
  def dupSpansExact(sa: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPositionRows(sa, docs, idCol, textCol, minLen)
      .withColumn("__ni",
        when(lag(col("pos"), 1).over(wDoc).isNull ||
          col("pos") > lag(col("pos"), 1).over(wDoc) + minLen, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__ni")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (minLen - 1)).as("span_end"))
      .drop("__isl")
  }

  /** Exact substring SCRUB: remove every maximal duplicated span and
    * emit the surviving text as contiguous SEGMENTS — one row per
    * maximal kept interval, never re-joined across a cut (concatenating
    * across a removed gap would fabricate token juxtapositions that
    * never existed). By construction every position inside a kept
    * segment had a corpus-unique `minLen`-gram, so the segment corpus
    * contains NO ≥minLen span occurring twice — the end-to-end
    * guarantee [[graft.text.Text.dupSpans]]'s fixed-width shingles only
    * approximate. Output: (doc_id, seg_id, seg_start, n_seg_tokens,
    * seg_text); a document with no duplicated span survives as one
    * whole segment. */
  def scrubSegments(sa: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = dupSpansExact(sa, docs, idCol, textCol, minLen)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("span_start"))
    val toks = docs.select(col(idCol).as("doc_id"),
      Text.tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), col("__t"), size(col("__t")).as("__n"))
      .stage() // three consumers: pre/tail segments + whole-doc case
    // kept interval BEFORE each span: (prev span end, span start)
    val sp = spans
      .withColumn("__pe",
        coalesce(lag(col("span_end"), 1).over(wDoc), lit(0L)))
      .withColumn("__rn", row_number().over(wDoc))
      .withColumn("__nsp",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .stage() // pre + tail both read it
    val pre = sp.filter(col("span_start") - 1 >= col("__pe") + 1)
      .select(col("doc_id"), (col("__pe") + 1).as("seg_start"),
        (col("span_start") - 1).as("seg_end"))
    val tail = sp.filter(col("__rn") === col("__nsp"))
      .join(toks, Seq("doc_id"))
      .filter(col("__n") >= col("span_end") + 1)
      .select(col("doc_id"), (col("span_end") + 1).as("seg_start"),
        col("__n").cast("long").as("seg_end"))
    val whole = toks
      .join(spans.select("doc_id").distinct(), Seq("doc_id"),
        "left_anti")
      .filter(col("__n") >= 1)
      .select(col("doc_id"), lit(1L).as("seg_start"),
        col("__n").cast("long").as("seg_end"))
    val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("seg_start"))
    pre.union(tail).union(whole)
      .join(toks, Seq("doc_id"))
      .select(col("doc_id"),
        row_number().over(wSeg).cast("long").as("seg_id"),
        col("seg_start"),
        (col("seg_end") - col("seg_start") + 1).as("n_seg_tokens"),
        array_join(slice(col("__t"), col("seg_start").cast("int"),
          (col("seg_end") - col("seg_start") + 1).cast("int")), " ")
          .as("seg_text"))
  }
}
