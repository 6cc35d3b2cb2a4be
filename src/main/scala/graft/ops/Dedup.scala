package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: every pairwise method goes through a BLOCKING key
  * (LSH band bucket, simhash prefix, or a caller-supplied block column)
  * so the candidate join is an equi-join on the block — never an O(n²)
  * cross join. At 100 TB the block key is also the shuffle key, so one
  * exchange feeds signature, candidate generation, and verification.
  */
object Dedup {

  /** Exact dedup: group on a content fingerprint, keep the smallest id as
    * the canonical representative (deterministic). Pure hash-aggregate —
    * one shuffle on the fingerprint. */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(TextAnalysis.fingerprint(text).as("fp"), id.as("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct (id, block, token) triples — the shared explode for the
    * set-similarity methods. */
  private def wordSet(docs: DataFrame, id: Column, block: Column,
      text: Column): DataFrame =
    docs.select(id.as("doc_id"), block.as("block"),
        explode(array_distinct(TextAnalysis.tokens(text))).as("w"))

  /** Exact n-gram (word-set) Jaccard similarity for all pairs within a
    * block, keeping pairs with similarity >= threshold.
    *
    * The block column bounds the candidate space (same role the LSH
    * bucket plays for MinHash); inverted-index self-join on token —
    * shuffles on (block, token), never materializes the cross product.
    *
    * `maxDocFreq` caps the posting-list length: a token appearing in more
    * than that many docs of a block (a stopword) is dropped from the
    * inverted index BEFORE the self-join — without the cap one hot token
    * makes the join quadratic in its posting list, the stage that never
    * finishes at 100 TB. Set sizes stay exact (computed pre-cap), so a
    * dropped token only shrinks the intersection count: reported Jaccard
    * is a lower bound, and a stopword shared by >maxDocFreq docs
    * contributes almost nothing to a >= 0.8 similarity anyway. The
    * default (`Int.MaxValue`) disables the cap and skips the
    * document-frequency pass entirely.
    *
    * `hotBlockPostings` is the hot-block defense for the capped
    * (group-pairs) path: the in-partition expansion is block-granular,
    * so one dominant block — the degenerate constant blocking key —
    * would serialize it. A block whose posting mass (Σ expandable-list
    * lengths) exceeds the bound splits into `ceil(mass / bound)`
    * token-hash sub-blocks (capped at the shuffle parallelism): each
    * sub-block expands independently, a pair's shared tokens span at
    * most that many sub-blocks, so the final exchange still carries
    * pair-bounded rows (≤ salts per pair, never token-share-bounded),
    * and the pair-count sum across sub-blocks reassembles the EXACT
    * intersection — output identical to the unsalted plan, spec-pinned.
    * Only the repartition key changes; cold blocks keep salt 0 and the
    * single-row-per-pair complete combine. */
  def ngramJaccardPairs(docs: DataFrame, id: Column, block: Column,
      text: Column, threshold: Double,
      maxDocFreq: Int = Int.MaxValue,
      hotBlockPostings: Long = 1L << 22): DataFrame = {
    val words = wordSet(docs, id, block, text)
    val sizes = words.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    val posting = if (maxDocFreq == Int.MaxValue) words else {
      // words is distinct per (doc, token), so count(*) IS document
      // frequency; the hot-token list is tiny → broadcast anti-join.
      val hot = words.groupBy(col("block"), col("w"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq)
        .select(col("block"), col("w"))
      words.join(broadcast(hot), Seq("block", "w"), "left_anti")
    }
    // Pair counting in three bounded exchanges instead of a posting
    // self-join. The self-join shape shuffles one ROW PER SHARED TOKEN
    // PER PAIR into the (doc_a, doc_b) aggregation — partitioned by
    // (block, token), a pair's shared tokens scatter across partitions,
    // so map-side combine never fires (measured at the sf1 10× point:
    // 524 MB shuffled for 56M token-share events, avg 9 per pair).
    // Instead: (1) posting lists per (block, token) — same volume as
    // the self-join's one reused exchange, and each list bounded by
    // the maxDocFreq cap; (2) repartition the DOC-ID ARRAYS by block
    // (21 MB at sf1, the lists are just longs; the explicit partition
    // count keeps AQE from coalescing the small exchange under the
    // 56M-row expansion it feeds); (3) expand pairs IN-PARTITION with
    // codegen'd nested explodes. Every shared token of a pair now
    // lives in ONE partition (a pair is within-block by construction),
    // partial aggregation is COMPLETE, and the final exchange carries
    // one row per distinct candidate pair — bounded by
    // Σ_block C(|block|, 2), never by shared-token volume. Parallelism
    // of the expansion is block-granular, like any blocked pair stage:
    // keep block cardinality above cluster cores.
    //
    // The group-pairs shape REQUIRES the df cap: it bounds both the
    // collected list (≤ maxDocFreq longs per buffer) and the
    // per-partition expansion. With the cap disabled a hot token's
    // list is block-sized (a multi-GB aggregation buffer at corpus
    // scale) — so that path keeps the streaming self-join, which
    // never materializes a posting list.
    val inter =
      if (maxDocFreq == Int.MaxValue) {
        posting.as("a").hint("shuffle_hash")
          .join(posting.as("b"),
            col("a.w") === col("b.w") &&
              col("a.block") === col("b.block") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
      } else {
        val nParts =
          docs.sparkSession.sessionState.conf.numShufflePartitions
        val plists0 = posting.groupBy(col("block"), col("w"))
          .agg(collect_list(col("doc_id")).as("ds"))
          .filter(size(col("ds")) > 1)
          .localCheckpoint(eager = false) // mass pass + join share one agg
        // hot-block salt: mass per block over the LIST frame (one row
        // per (block, token) — cheap), blocks over the bound get a
        // token-hash sub-block key; everything else keeps salt 0
        val hotBlocks = plists0.groupBy(col("block"))
          .agg(sum(size(col("ds"))).as("m"))
          .filter(col("m") > hotBlockPostings)
          .select(col("block"),
            least(ceil(col("m") / lit(hotBlockPostings.toDouble)),
              lit(nParts.toLong)).cast("long").as("salts"))
        val plists = plists0
          .join(broadcast(hotBlocks), Seq("block"), "left")
          .withColumn("salt", when(col("salts").isNull, lit(0L))
            .otherwise(pmod(xxhash64(col("w")), col("salts"))))
          .repartition(nParts, col("block"), col("salt"))
        plists
          .select(col("ds"), explode(col("ds")).as("da"))
          .select(col("da"), explode(col("ds")).as("db"))
          .filter(col("da") < col("db"))
          .groupBy(col("da").as("doc_a"), col("db").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
      }
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        Num.floor4(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash signatures via single-pass aggregation: explode distinct
    * tokens once, then ONE `minhash_agg` buffer aggregate
    * (graft.functions.MinHashAgg) builds all `numHashes` lanes — each
    * token hashed once, partial aggregation before the exchange, and no
    * 64-agg-column codegen blow-up. Lane s is bit-identical to
    * `min(xxhash64(token, seed = s))`. */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column,
      numHashes: Int): DataFrame =
    docs.select(id.as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(text))).as("w"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SignatureAggregates
        .minhash(col("w"), numHashes).as("sig"))

  /** LSH banding over a MinHash signature: `numBands` buckets of
    * `rowsPerBand` signature entries each, hashed to a bucket id.
    * Docs sharing any (band, bucket) — within the same blocking key —
    * become candidate pairs. The banded frame is checkpointed so the
    * signature aggregation runs once, not once per self-join side. */
  def minhashCandidatePairs(docs: DataFrame, id: Column, text: Column,
      numBands: Int, rowsPerBand: Int,
      block: Column = lit(true)): DataFrame = {
    val numHashes = numBands * rowsPerBand
    val toks = docs.select(id.as("doc_id"), block.as("_block"),
      explode(array_distinct(TextAnalysis.tokens(text))).as("w"))
    val banded = toks.groupBy(col("doc_id"), col("_block"))
      .agg(graft.functions.SignatureAggregates
        .minhash(col("w"), numHashes).as("sig"))
      .select(col("doc_id"), col("_block"), posexplode(
        array((0 until numBands).map(b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as(Seq("band", "bucket")))
      .localCheckpoint(eager = false)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a._block") <=> col("b._block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash near-dup: LSH candidates verified with exact word-set
    * Jaccard (candidates only — the verify join is semi-bounded by LSH).
    * `block` optionally confines pairs to a partition key (e.g. source,
    * language) exactly like the other near-dup operators. */
  def minhashNearDup(docs: DataFrame, id: Column, text: Column,
      threshold: Double, numBands: Int = 8, rowsPerBand: Int = 8,
      block: Column = lit(true)): DataFrame = {
    val cands = minhashCandidatePairs(docs, id, text, numBands,
      rowsPerBand, block)
    val words = docs.select(id.as("doc_id"),
      array_distinct(TextAnalysis.tokens(text)).as("toks"))
    cands
      .join(words.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
      .join(words.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
      .withColumn("jaccard", Num.floor4(
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 64-bit SimHash signatures via single-pass aggregation: explode
    * distinct tokens, then ONE `simhash_agg` buffer aggregate
    * (graft.functions.SimHashAgg) — each token hashed once, all 64
    * sign-sums in a single primitive-array buffer (bit i of the signature
    * is 1 when its sum is positive), partial aggregation before the
    * exchange, and no 64-agg-column codegen blow-up. */
  def simhashSignatures(docs: DataFrame, id: Column,
      text: Column): DataFrame =
    docs.select(id.as("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(text))).as("w"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SignatureAggregates.simhash(col("w")).as("sh"))

  /** SimHash near-dup with GENERALIZED PIGEONHOLE banding: the 64-bit
    * signature is split into `maxHamming + c` contiguous blocks; two
    * signatures within Hamming distance `maxHamming` differ in at most
    * `maxHamming` blocks, so they AGREE on at least `c` blocks — hence
    * at least one of the C(numBlocks, c) c-block combinations is
    * bit-identical, and keying candidates on every (combo_idx,
    * packed combo value) keeps recall exactly 1.0. `c` is the smallest
    * combination size whose compound key retains >= 12 discriminating
    * bits: at small radii c = 1 (the classic maxHamming+1 split — e.g.
    * 4 x 16-bit blocks at radius 3), but at radius 8 single blocks are
    * ~7 bits (~128 values — a constant ~14x pair reduction, not real
    * blocking at scale), so c = 2 compounds two ~6.4-bit blocks into a
    * ~13-bit key: candidate volume drops from ~9n^2/2^7 to ~45n^2/2^13
    * (~11x) and, unlike a single narrow block, keeps shrinking
    * geometrically as radius-vs-key-bits is tuned. Still a pure
    * equi-join on the key — no cross join; verification is full 64-bit
    * Hamming on the candidate pairs. The signature frame is
    * checkpointed so the aggregation runs once, not per self-join
    * side. */
  def simhashNearDup(docs: DataFrame, id: Column, text: Column,
      maxHamming: Int): DataFrame =
    hammingNearDup(simhashSignatures(docs, id, text), col("doc_id"),
      col("sh"), maxHamming)

  /** GENERIC 64-bit-signature Hamming near-dup — the pigeonhole-banded
    * engine behind [[simhashNearDup]], factored over ANY (id,
    * signature) frame so every 64-bit fingerprint family rides it:
    * SimHash over tokens, perceptual image hashes (aHash — the
    * multimodal analog of MinHash; see [[Multimodal]]), rolling-hash
    * sketches. The banding is exact (recall 1.0 at the radius): pairs
    * returned equal brute-force Hamming ≤ `maxHamming` pairs, with
    * candidate volume cut by the compound block keys instead of an
    * all-pairs join. (The [[AnnIndex]] binary family serves ranked
    * top-k over 128-bit sign vectors; THIS is the set-shaped
    * "all pairs within radius" operator, where banding — not a
    * shortlist — is the scale mechanism.) Output: (doc_a, doc_b,
    * hamming), doc_a < doc_b. */
  /** The packed c-combination pigeonhole band keys of a 64-bit
    * signature column at radius `maxHamming` — the banding engine
    * shared by [[hammingNearDup]] and the persisted
    * [[FingerprintIndex]], factored so a probe bands EXACTLY like the
    * store it probes (a drifting banding would silently lose the
    * recall-1.0 guarantee). One native codegen'd expression
    * ([[graft.functions.BandKeys64]] — the combination table is data,
    * not generated code, so wide radii stay inside whole-stage
    * codegen instead of tripping janino's method limit). Element i is
    * combination i's block values packed into one long. */
  private[ops] def hammingBandKeys(sig: Column, maxHamming: Int): Column =
    graft.functions.BandKeysExpression.bandKeys64(sig, maxHamming)

  def hammingNearDup(sigs0: DataFrame, id: Column, sig: Column,
      maxHamming: Int): DataFrame = {
    val sigs = sigs0.select(id.as("doc_id"), sig.as("sh"))
      .localCheckpoint(eager = false)
    val banded = sigs.select(col("doc_id"), col("sh"),
      posexplode(hammingBandKeys(col("sh"), maxHamming))
        .as(Seq("block_idx", "block_val")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** ENGINE-PORTABLE MinHash+LSH near-dup: lanes are minima of md5
    * hex prefixes (identical strings on every engine that has md5),
    * band buckets are md5 over the lane concat — so unlike
    * [[minhashNearDup]] (xxhash64 lanes — the fast Spark-specific
    * path), every intermediate here is reproducible in external SQL
    * and the WHOLE sketch pipeline is oracle-checkable end to end,
    * candidates included. Same scale shape: one signature aggregation
    * (numLanes min-aggs, map-side combined), banded equi-join
    * candidates within the blocking key, exact word-set verification
    * bounded by the candidates. md5-per-lane costs more per token than
    * the one-hash buffer aggregate — portability is the trade. */
  /** Engine-portable md5 MinHash lanes: one row per (doc, block) with
    * lane columns `l0..l{numLanes-1}`, lane s = min over distinct
    * tokens of the 8-hex slice `[8·(s mod 4), 8·(s mod 4)+8)` of
    * md5((s div 4) + ":" + token), held as an unsigned-32 LONG (for
    * fixed-width lowercase hex, string order = unsigned numeric order,
    * so the mins are bit-identical to the hex-substring form the oracle
    * SQL computes). Shared by [[minhashNearDupPortable]] and the
    * persisted [[DedupIndex.writeMinhashIndex]]. */
  private[ops] def portableLanes(docs: DataFrame, id: Column,
      block: Column, text: Column, numLanes: Int): DataFrame = {
    // One md5 yields FOUR independent 32-bit lanes — its bit slices are
    // independent uniform hashes of the token — so a token pays
    // ceil(numLanes/4) digests instead of numLanes. The digest runs in
    // the native [[graft.functions.Md5Lanes]] expression (bytes straight
    // to a primitive long array — no 32-hex string, no substring
    // garbage; measured 2-3x on the signature aggregation, the hot
    // stage of the portable pipeline). The lane array materializes in
    // an explicit projection BEFORE the min-aggs so the digests run
    // once per token regardless of subexpression-elimination behavior.
    val numChunks = (numLanes + 3) / 4
    val hashed = docs.select(id.as("doc_id"), block.as("block"),
        explode(array_distinct(TextAnalysis.tokens(text))).as("w"))
      .select(col("doc_id"), col("block"),
        graft.functions.Md5Lanes.lanes(col("w"), numChunks).as("lv"))
    val laneAggs = (0 until numLanes).map(s =>
      min(col("lv").getItem(s)).as(s"l$s"))
    hashed.groupBy(col("doc_id"), col("block"))
      .agg(laneAggs.head, laneAggs.tail: _*)
  }

  /** LSH banding over [[portableLanes]] output: (doc_id, block, band,
    * bucket) rows, bucket = md5 over the band's lane concat — lanes
    * formatted back to their 8-hex form (`%08x` of an unsigned-32 value
    * IS the original md5 substring), so bucket strings are unchanged
    * and the oracle's `md5(l0 || l1)` reproduces them exactly. */
  private[ops] def portableBanded(sig: DataFrame, numLanes: Int,
      rowsPerBand: Int): DataFrame = {
    require(numLanes % rowsPerBand == 0, "rowsPerBand must divide numLanes")
    val numBands = numLanes / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat((0 until rowsPerBand)
          .map(r => format_string("%08x", col(s"l${b * rowsPerBand + r}")))
          : _*)).as("bucket"))
    }
    sig
      .select(col("doc_id"), col("block"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("block"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  def minhashNearDupPortable(docs: DataFrame, id: Column, block: Column,
      text: Column, threshold: Double, numLanes: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    val sig = portableLanes(docs, id, block, text, numLanes)
    val banded = portableBanded(sig, numLanes, rowsPerBand)
      .localCheckpoint(eager = false)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val toks = docs.select(id.as("doc_id"),
      array_distinct(TextAnalysis.tokens(text)).as("t"))
    val inter = size(array_intersect(col("ta"), col("tb")))
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .withColumn("jaccard", Num.floor4(inter.cast("double") /
        (size(col("ta")) + size(col("tb")) - inter).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Cross-document shared-passage detection: pairs of documents sharing
    * at least `minShared` distinct n-token grams — the passage-level
    * near-dup signal (quote/boilerplate reuse) that token-set Jaccard
    * washes out. The inverted index drops grams occurring in more than
    * `maxDocFreq` documents BEFORE the self-join; unlike
    * [[ngramJaccardPairs]] (where the cap is a recall trade-off), here
    * the cap is part of the CONTRACT — a "passage" present in half the
    * corpus is boilerplate, not shared authorship — so an external
    * engine reproduces results exactly by mirroring the cap. Plan: one
    * shuffle on the gram (df window + self-join reuse it), one on the
    * pair for the count. */
  def sharedPassages(docs: DataFrame, id: Column, text: Column, n: Int,
      maxDocFreq: Int, minShared: Int): DataFrame = {
    // Grams reduce to 8-byte xxhash64 keys BEFORE the first exchange:
    // the gram text never appears in the output, so every downstream
    // shuffle (df window, self-join) moves fixed-width longs instead of
    // n-word strings (~4× fewer bytes at the sf1 point). Same internal-
    // key discipline as the LSH band buckets; a 2^-64 collision merges
    // two grams' posting lists, the accepted risk class of any hashed
    // inverted index.
    val grams = docs.select(id.as("doc_id"),
        explode(Decontaminate.ngrams(text, n)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
    val kept = grams
      .withColumn("_df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("_df") <= maxDocFreq)
      .drop("_df")
    kept.as("a").hint("shuffle_hash")
      .join(kept.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** ENGINE-PORTABLE SimHash near-dup: the md5-lane twin of
    * [[simhashNearDup]] (whose xxhash64 token hashes no external engine
    * reproduces). Each distinct token contributes a 64-bit hash built
    * from the first two unsigned-32 slices of md5("0:" + token) (the
    * [[graft.functions.Md5Lanes]] contract), per-bit ±1 sums are exact
    * integers, and a bit of the signature is set when its sum ≥ 0 — so
    * signatures, candidate blocks AND verified pairs are all
    * reproducible in external SQL, making the WHOLE sketch
    * oracle-checkable (the qd24 move, applied to SimHash). The
    * signature is held as two unsigned-32 longs (`hi`, `lo`) so no
    * value ever needs the sign bit on either engine. Blocking is the
    * standard radius-3 pigeonhole: 4 × 16-bit blocks, equi-join on
    * (block idx, value) — recall 1.0 for hamming ≤ 3 since some block
    * must match exactly. Plan shape: one explode + 64 integer sum-aggs
    * (map-side combined), banded equi-join, exact hamming verify on
    * candidates only. */
  /** The ENGINE-PORTABLE simhash signature frame (doc_id, hi, lo) —
    * md5-laned bit sums packed into two unsigned 32-bit halves;
    * factored out of [[simhashNearDupPortable]] so the persisted
    * fingerprint store can serve the same portable signatures
    * (packed hi‖lo) that the oracle re-derives in SQL. */
  private[graft] def simhashSignaturesPortable(docs: DataFrame,
      id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      explode(array_distinct(TextAnalysis.tokens(text))).as("w"))
    val lanes = toks.select(col("doc_id"),
      graft.functions.Md5Lanes.lanes(col("w"), 1).as("ln"))
      .select(col("doc_id"), col("ln").getItem(0).as("c0"),
        col("ln").getItem(1).as("c1"))
    def bitSums(src: String, prefix: String) = (0 until 32).map(j =>
      sum(shiftright(col(src), j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"$prefix$j"))
    val allSums = bitSums("c0", "h") ++ bitSums("c1", "l")
    val sums = lanes.groupBy(col("doc_id"))
      .agg(allSums.head, allSums.tail: _*)
    def pack(prefix: String): Column = (0 until 32).map(j =>
      when(col(s"$prefix$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    sums.select(col("doc_id"), pack("h").as("hi"), pack("l").as("lo"))
  }

  def simhashNearDupPortable(docs: DataFrame, id: Column,
      text: Column, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-block pigeonhole guarantees recall only to radius 3: $maxHamming")
    val sigs = simhashSignaturesPortable(docs, id, text)
      .localCheckpoint(eager = false)
    val blocks = sigs.select(col("doc_id"), col("hi"), col("lo"),
      posexplode(array(
        shiftrightunsigned(col("hi"), 16),
        col("hi").bitwiseAND(lit(0xffffL)),
        shiftrightunsigned(col("lo"), 16),
        col("lo").bitwiseAND(lit(0xffffL)))).as(Seq("bidx", "bval")))
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.bidx") === col("b.bidx") &&
          col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
          bit_count(col("a.lo").bitwiseXOR(col("b.lo"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Source-priority exact dedup: one survivor per content fingerprint,
    * chosen by SOURCE PRIORITY first (curated beats crawl — the merge
    * rule when unioning corpora that overlap), doc id as the final
    * deterministic tiebreak. Unlisted sources rank after all listed
    * ones. One shuffle on the fingerprint (the same key exact dedup
    * already shuffles on); the per-fingerprint window touches only each
    * duplicate family. Returns the surviving rows with their `fp`. */
  def priorityDedup(docs: DataFrame, id: Column, source: Column,
      text: Column, priority: Seq[String]): DataFrame = {
    val rank = priority.zipWithIndex.foldLeft(when(lit(false), lit(0))) {
      case (acc, (s, i)) => acc.when(source === s, lit(i))
    }.otherwise(lit(priority.size))
    val w = Window.partitionBy(col("_fp")).orderBy(col("_rank"), id)
    docs.withColumn("_fp", TextAnalysis.fingerprint(text))
      .withColumn("_rank", rank)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rank", "_rn")
      .withColumnRenamed("_fp", "fp")
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many DISTINCT token n-grams they share — the curation diagnostic
    * that answers "how much of source A is already in source B" before
    * committing a mix (mirrors/scrapes show up as hot cells). The
    * (source, gram) frame is deduplicated first, so each gram's posting
    * list is bounded by |sources| and the self-join fan-out is at most
    * |sources|² per gram — subquadratic in the corpus no matter how hot
    * a gram is (unlike doc-level inverted indexes, which need a df cap).
    * One shuffle on the gram, one tiny aggregation on the pair. */
  def sourceOverlap(docs: DataFrame, source: Column, text: Column,
      n: Int): DataFrame = {
    // Same 8-byte-key discipline as [[sharedPassages]]: hash grams
    // before the distinct/join exchanges — the output only counts them.
    val grams = docs.select(source.as("src"),
        explode(Decontaminate.ngrams(text, n)).as("gram"))
      .select(col("src"), xxhash64(col("gram")).as("gram"))
      .distinct()
    grams.as("a")
      .join(grams.as("b"), col("a.gram") === col("b.gram") &&
        col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Resolve near-dup PAIRS into duplicate CLUSTERS (connected
    * components): every document in a component gets the component's
    * minimum doc id as its cluster label, so "keep one per cluster"
    * becomes a trivial filter. Iterative min-label propagation — each
    * round every node takes the min of its own and its neighbors'
    * labels; rounds = graph diameter, each ONE equi-join + ONE
    * aggregation on the (small) pair graph, with edges and labels
    * checkpointed so no lineage re-execution compounds. Near-dup
    * components are tiny and shallow in practice (dup families, not web
    * graphs), so the loop converges in a few rounds; for adversarially
    * deep graphs at 100 TB swap in the large-star/small-star contraction
    * (Kiveris et al.) — same join shape, fewer rounds. */
  def dupClusters(pairs: DataFrame, a: Column, b: Column): DataFrame = {
    // No distinct on the doubled edge list: callers hand unique (a, b)
    // pairs (and a duplicate edge is absorbed by the min-agg anyway), so
    // the dedup shuffle would be pure cost. Edges are partitioned on dst
    // ONCE before the checkpoint — localCheckpoint preserves the
    // physical partitioning, so every round's edges⋈labels comes
    // pre-clustered on the join key and only the node-sized side moves.
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("lab")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("lab")).as("nlab"))
      val stepped = labels.join(neighborMin, Seq("id"))
        .select(col("id"), least(col("lab"), col("nlab")).as("lab"),
          (col("nlab") < col("lab")).as("_chg"))
        .localCheckpoint()
      changed = stepped.filter(col("_chg")).count()
      labels = stepped.select(col("id"), col("lab"))
    }
    labels.select(col("id").as("doc_id"), col("lab").as("cluster"))
  }

  /** Canonical-document selection per duplicate cluster: instead of the
    * keep-LOWEST-ID policy the dedup queries default to, keep the
    * HIGHEST-`score` member (quality score, length, source priority —
    * ties to the lowest id so the choice is deterministic), the policy
    * a curation pipeline actually wants ("keep the cleanest copy, not
    * the oldest"). Input: cluster labels from [[dupClusters]] /
    * [[dupClustersStar]] plus a per-document score frame; output one
    * row per clustered document with its cluster's canonical id and
    * score. Plan shape: one (cluster)-keyed aggregation picking
    * max(struct(score, -id)) — map-side partial, no window, no sort —
    * then a broadcast-friendly join back on the cluster id. */
  def clusterCanonical(clusters: DataFrame, scored: DataFrame,
      id: Column, score: Column): DataFrame = {
    val s = scored.select(id.as("doc_id"), score.as("_score"))
    val members = clusters.select(col("doc_id"), col("cluster")).join(s, "doc_id")
    val canon = members
      .groupBy(col("cluster"))
      .agg(max(struct(col("_score").as("s"), (-col("doc_id")).as("nid")))
        .as("_m"))
      .select(col("cluster"), (-col("_m.nid")).as("canonical_id"),
        col("_m.s").as("canonical_score"))
    members.join(canon, "cluster")
      .select(col("doc_id"), col("cluster"), col("canonical_id"),
        col("canonical_score"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale path promised in [[dupClusters]]'s
    * doc, now real: rounds grow with log(diameter) instead of diameter,
    * so adversarially deep dup graphs (chained near-dups, boilerplate
    * families spanning shards at 100 TB) converge in a handful of
    * shuffle rounds where min-label propagation needs hundreds. Each
    * round is two groupBy+join passes over the (pair-sized) edge set;
    * the edge set is checkpointed per round so lineage never compounds.
    *
    * Large-star hangs every node's strictly-LARGER neighbors off
    * m = min(neighborhood ∪ self) — long upward chains shortcut toward
    * minima; small-star then re-hangs each node's smaller-or-equal
    * neighbors (and itself) off their local min. At the fixpoint every
    * component is a star centered on its minimum id, so the label read
    * is one projection. Output contract identical to [[dupClusters]]:
    * every node in `pairs` labeled with its component's minimum id. */
  def dupClustersStar(pairs: DataFrame, a: Column, b: Column): DataFrame = {
    var edges = pairs
      .select(least(a, b).as("lo"), greatest(a, b).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .localCheckpoint()
    // Edge-set signature for the fixpoint test: (count, XOR of per-edge
    // hashes) — one map-side-combined aggregate per round where an
    // except() would cost a full extra shuffle. XOR is order-insensitive
    // and overflow-free; edges are distinct so nothing self-cancels.
    // Sets of distinct canonical edges with equal count and equal 64-bit
    // hash-XOR are equal for any practical purpose; the spec's
    // equality-vs-min-label tests and the shared oracle pin the
    // end-to-end labels regardless.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        bit_xor(xxhash64(col("lo"), col("hi")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(edges)
    var done = false
    while (!done) {
      // LARGE-STAR on the bidirectional view: for each node u attach its
      // neighbors v > u to m = min(N(u) ∪ {u}); m <= u < v keeps the
      // (lo, hi) canonical orientation for free.
      val bidir = edges.select(col("lo").as("u"), col("hi").as("v"))
        .union(edges.select(col("hi").as("u"), col("lo").as("v")))
      val mins = bidir.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // No distinct here: small-star's groupBy/min tolerates duplicate
      // edges and its own distinct dedups the round's output — saves a
      // full shuffle per round.
      val large = bidir.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .filter(col("lo") =!= col("hi"))
      // SMALL-STAR: orient each edge toward its smaller endpoint (v < u
      // after the swap), then attach every smaller neighbor AND u itself
      // to m = min(N(u)); m is the group min so (m, *) stays canonical.
      val oriented = large.select(col("hi").as("u"), col("lo").as("v"))
      val mins2 = oriented.groupBy("u").agg(min("v").as("m"))
      val small = oriented.join(mins2, "u")
        .select(col("m").as("lo"), col("v").as("hi"))
        .union(mins2.select(col("m").as("lo"), col("u").as("hi")))
        .filter(col("lo") =!= col("hi"))
        .distinct()
        .localCheckpoint()
      val nextSig = signature(small)
      done = nextSig == sig
      sig = nextSig
      edges = small
    }
    val members = edges
      .select(col("hi").as("doc_id"), col("lo").as("cluster"))
    val nodes = pairs.select(a.as("doc_id"))
      .union(pairs.select(b.as("doc_id"))).distinct()
    nodes.join(members, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** Embedding-cosine near-dup WITHOUT a caller blocking key: the
    * hyperplane-LSH bucket is the block, so the pair join is subquadratic
    * on an unblocked corpus (expected bucket size |corpus| / 2^numPlanes).
    * Precision is exact (every candidate is verified with the true
    * cosine); recall is the LSH trade — a near-dup pair split by a
    * hyperplane is missed, and more planes = smaller buckets but lower
    * recall. Identical vectors always share a bucket. This is the
    * 100 TB default when no natural partition key exists; with one,
    * prefer [[embeddingNearDup]] (exact within blocks). */
  def embeddingNearDupLsh(embs: DataFrame, id: Column, vec: Column,
      threshold: Double, numPlanes: Int = 8): DataFrame = {
    val dHead = embs.select(size(vec).as("d")).head(1)
    if (dHead.isEmpty)
      return embs.select(id.as("vec_a"), id.as("vec_b"),
        lit(0.0d).as("cos")).limit(0)
    val planes = Similarity.planeVectors(numPlanes, dHead(0).getInt(0))
    embeddingNearDup(embs, id, Similarity.lshBucket(vec, planes), vec,
      threshold)
  }

  /** Embedding-cosine near-dup: pairs within a blocking key whose cosine
    * similarity >= threshold. Vectors are L2-normalized once up front so
    * the pair step is a pure dot product. */
  def embeddingNearDup(embs: DataFrame, id: Column, block: Column,
      vec: Column, threshold: Double): DataFrame = {
    val normed = embs.select(id.as("vec_id"), block.as("block"),
      Similarity.l2Normalize(vec).as("v"))
    normed.as("a")
      .join(normed.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(Similarity.dot(col("a.v"), col("b.v")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("cos"))
  }
}
