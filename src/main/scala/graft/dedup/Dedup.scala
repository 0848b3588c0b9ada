package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB): signatures (minhash, simhash, fingerprints)
  * are pure per-row expressions — map-only, no shuffle, no UDFs, all
  * inside codegen. The only shuffles are the candidate-generation
  * equi-joins on (band, hash) / shingles, which is the canonical
  * LSH trick: it turns an O(n²) similarity join into hash-partitioned
  * buckets. Stop-shingle removal (document-frequency cap) bounds bucket
  * skew the same way stop-words bound posting lists in search engines.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: canonical (minimum) id per identical key. The returned
    * frame maps every group to its canonical id and multiplicity —
    * a groupBy with partial aggregation, the cheapest possible dedup. */
  def exactCanonical(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("dedup_key"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles (space-joined), as an array column; documents
    * with fewer than n tokens get an empty array. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  // -------------------------------------------------------------- minhash

  /** Fixed affine permutation parameters (a odd, b arbitrary; mod 2^31-1
    * via Portable.affine). Deterministic so the DuckDB oracle can embed
    * the same constants. */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (1 to k).map(i => (2L * i * 104729L + 1L, i * 7919L))

  /** MinHash signature as an array<long> of length k — computed entirely
    * per-row (transform + array_min per permutation), zero shuffle.
    * Empty shingle set → null entries (callers filter). */
  def minhashSignature(text: Column, k: Int, shingleN: Int = 3): Column = {
    val hashed = transform(shingles(text, shingleN), s => Portable.h60(s))
    array(minhashParams(k).map { case (a, b) =>
      array_min(transform(hashed, h => Portable.affine(h, a, b)))
    }: _*)
  }

  /** Staged minhash: adds `out` (array<long> signature of length k) via
    * three narrow projections — tokens, shingle hashes, signature.
    *
    * Why staged: subtrees captured inside higher-order-function lambdas
    * are re-evaluated per array element AND per permutation (no common-
    * subexpression elimination across lambdas), so the single-Column form
    * re-tokenizes and re-hashes the document k× per shingle. Binding each
    * step to a column makes the inner references attribute reads: one
    * tokenize + one md5 per shingle per row, total.
    *
    * The signature fold itself is the native MinhashSignature expression
    * (one codegen'd pass, k running minima) rather than k interpreted
    * `array_min(transform(...))` passes — bit-identical values
    * (DedupSpec asserts against the fold form below). */
  def withMinhashSignature(df: DataFrame, textCol: Column, k: Int,
                           shingleN: Int, out: String): DataFrame =
    withShingleHashes(df, textCol, shingleN) { shh =>
      call_function("minhash_sig", shh, lit(k))
    }(out)

  /** The composed-builtin form of the signature fold — k interpreted
    * array_min/transform passes. Registration-free; kept as the
    * cross-check MinhashSignature is asserted against. */
  def withMinhashSignatureFold(df: DataFrame, textCol: Column, k: Int,
                               shingleN: Int, out: String): DataFrame =
    withShingleHashes(df, textCol, shingleN) { shh =>
      array(minhashParams(k).map { case (a, b) =>
        array_min(transform(shh, h => Portable.affine(h, a, b)))
      }: _*)
    }(out)

  /** Shared staging: tokens → shingle h60 hashes → `build(hashCol)`. */
  private[dedup] def withShingleHashes(df: DataFrame, textCol: Column, shingleN: Int)
                               (build: Column => Column)(out: String): DataFrame = {
    val toks = "__mh_toks"
    val shh = "__mh_shh"
    df.withColumn(toks, TextAnalysis.tokens(textCol))
      .withColumn(shh,
        when(size(col(toks)) < shingleN, array().cast("array<bigint>"))
          .otherwise(transform(
            sequence(lit(0), size(col(toks)) - shingleN),
            i => Portable.h60(array_join(slice(col(toks), i + 1, lit(shingleN)), " ")))))
      .withColumn(out, build(col(shh)))
      .drop(toks, shh)
  }

  /** Band-combine modulus/multiplier: fold step is
    * `(acc * BandA + entry) % BandM` with acc < BandM < 2^31 and
    * entry < 2^31, so every intermediate stays under 2^62 — no signed-64
    * wraparound for ANY rowsPerBand (Spark would wrap silently while
    * DuckDB BIGINT raises, breaking oracle parity). */
  val BandM: Long = 2147483629L // largest prime < 2^31 - 1
  val BandA: Long = Portable.MersenneP

  /** LSH band keys from a signature: bands of `rowsPerBand` adjacent
    * signature entries combined into one bounded key via a mod-BandM
    * Horner fold. Explode these and equi-join on
    * (band_index, band_hash) for candidate pairs. */
  def lshBands(signature: Column, k: Int, rowsPerBand: Int): Column = {
    require(k % rowsPerBand == 0, "k must divide into bands")
    val nBands = k / rowsPerBand
    transform(sequence(lit(0), lit(nBands - 1)), b => {
      (0 until rowsPerBand).foldLeft(lit(0L)) { (acc, r) =>
        (acc * BandA + element_at(signature, b * rowsPerBand + r + 1)) % BandM
      }
    })
  }

  // -------------------------------------------------------------- simhash

  /** Per-token 60-bit hashes (precomputed once per row; simhash folds
    * over this). */
  private def tokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(text), t => Portable.h60(t))

  /** SimHash over the low `bits` bits of the token hashes: bit b of the
    * result is 1 iff Σ_tokens (2·((h>>b)&1) − 1) > 0. Pure per-row
    * expression; `bits` ≤ 62 keeps everything in signed-long math for
    * DuckDB parity. */
  def simhash(text: Column, bits: Int): Column = {
    require(bits <= 62, "stay in signed-long math for DuckDB parity")
    val th = tokenHashes(text)
    (0 until bits).map { b =>
      // literal shift per bit keeps everything in exact integer math
      val bitSum = aggregate(th, lit(0L), (acc, h) =>
        acc + (shiftrightunsigned(h, b) % 2) * 2 - 1)
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Staged simhash (same rationale as withMinhashSignature: hash each
    * token once). The per-bit fold is the native Simhash expression —
    * one codegen'd pass accumulating all `bits` counters, vs `bits`
    * interpreted aggregate() folds (DedupSpec asserts bit-parity against
    * withSimhashFold). */
  def withSimhash(df: DataFrame, textCol: Column, bits: Int, out: String): DataFrame = {
    require(bits <= 62, "stay in signed-long math for DuckDB parity")
    val th = "__sh_th"
    df.withColumn(th, transform(TextAnalysis.tokens(textCol), t => Portable.h60(t)))
      .withColumn(out, call_function("simhash64", col(th), lit(bits)))
      .drop(th)
  }

  /** Composed-builtin simhash fold (registration-free cross-check). */
  def withSimhashFold(df: DataFrame, textCol: Column, bits: Int, out: String): DataFrame = {
    require(bits <= 62, "stay in signed-long math for DuckDB parity")
    val th = "__sh_th"
    df.withColumn(th, transform(TextAnalysis.tokens(textCol), t => Portable.h60(t)))
      .withColumn(out, (0 until bits).map { b =>
        val bitSum = aggregate(col(th), lit(0L), (acc, h) =>
          acc + (shiftrightunsigned(h, b) % 2) * 2 - 1)
        when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _))
      .drop(th)
  }

  /** Hamming distance between two simhash values (xor + bit_count). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Corpus-adaptive SimHash signature width. Banded candidate
    * generation puts every document into `bands` buckets of
    * 2^(bits/bands) values each; with the width FIXED, bucket occupancy
    * grows linearly with the corpus and candidate pairs grow
    * quadratically — the 100× scale run measured exactly that (3 bands
    * of 8 bits = 256 buckets → ~1.5B candidate pairs at 500k docs,
    * >75 GB of shuffle). Worse, a narrow signature is statistically
    * broken at scale regardless of cost: at 24 bits and 500k docs,
    * C(n,2)·P[hamming ≤ 2] ≈ 2M pairs arise from RANDOM collisions
    * alone. Standard SimHash practice scales signature bits with
    * log(corpus); this picks the smallest per-band width that keeps
    * expected bucket occupancy ≤ `targetOccupancy`, floored at 8 (the
    * legacy width — gate corpora ≤ 32·2⁸ docs are unaffected, so the
    * static DuckDB oracles remain exact there) and capped so
    * bands·width stays in signed-long math. */
  def simhashBitsFor(nDocs: Long, bands: Int = 3,
                     targetOccupancy: Int = 32): Int = {
    // cap at 60, not 62: Portable.h60 token hashes carry 60 usable
    // bits, so signature bits past 60 are constant 0 and would
    // silently weaken the occupancy guarantee (for bands < 3 the
    // signed-long 62 cap alone admits them)
    val maxWidth = math.min(62, 60) / bands
    // exact ceil(log2(n / occ)) in integer bit math — the double
    // ln-ratio is off by one at exact powers of two
    val m = (math.max(nDocs, 1L) - 1L) / targetOccupancy + 1L
    val need = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    bands * math.max(8, math.min(maxWidth, need))
  }

  /** Banded Hamming near-dup pairs: (id_a, id_b, hamming) for every
    * pair with hamming(simhash_a, simhash_b) ≤ `maxHamming`. EXACT —
    * not approximate — for maxHamming ≤ bands−1: flipping ≤ maxHamming
    * bits can corrupt at most maxHamming of the `bands` disjoint bands,
    * so every qualifying pair still agrees on ≥1 full band (pigeonhole)
    * and is generated by the band equi-join; the explicit Hamming
    * filter then removes false candidates. `bits` must be divisible by
    * `bands`; pick it with [[simhashBitsFor]] so bucket occupancy (and
    * with it the candidate-pair volume) stays bounded as the corpus
    * grows. */
  def simhashBandedPairs(df: DataFrame, idCol: String, textCol: Column,
                         bits: Int, bands: Int = 3, maxHamming: Int = 2,
                         scope: graft.CacheScope = graft.CacheScope.unmanaged): DataFrame = {
    require(bits % bands == 0, s"bits=$bits not divisible by bands=$bands")
    require(maxHamming < bands,
      s"maxHamming=$maxHamming needs bands ≥ ${maxHamming + 1} for pigeonhole exactness")
    val width = bits / bands
    // cache: the banded self-join consumes the signature twice; the
    // per-token-hash fold is the expensive stage.
    val sig = scope.cache(
      withSimhash(df, textCol, bits, "simhash")
        .select(col(idCol), col("simhash")))
    // band value j = bits [j·width, (j+1)·width) of the signature;
    // simhash ≥ 0 (bits ≤ 62), so % matches the oracle's // and %
    val bandVals = (0 until bands).map { j =>
      shiftrightunsigned(col("simhash"), j * width) % (1L << width)
    }
    val bandRows = sig.select(col(idCol), col("simhash"),
      posexplode_outer(array(bandVals: _*)).as(Seq("band", "bv")))
    val a = bandRows.toDF("id_a", "sim_a", "band", "bv")
    val b = bandRows.toDF("id_b", "sim_b", "band", "bv")
    // Hamming-filter BEFORE the distinct: the filter is one map-side
    // xor+bit_count on the join output, while distinct is a full
    // shuffle of every candidate row — and candidates outnumber
    // surviving edges ~56:1 at the 100× measurement (2.9B vs 52M,
    // SCALE100_r09.json "pair_probe"). Filtering first shrinks the distinct's shuffle by
    // that factor; multi-band duplicates of a surviving pair agree on
    // hamming, so the post-distinct row set is identical.
    a.join(b, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------------- n-gram Jaccard join

  /** Hashed distinct-shingle posting lists with the document-frequency
    * cap applied: (id, h, df) where h = h60(shingle). Shared stage of
    * the jaccard joins below.
    *
    * Shingles are HASHED to 60-bit longs before the join phase — the
    * same move MinHash makes: posting shuffles carry 8-byte keys
    * instead of ~n-word strings, and every downstream equi-join and
    * intersection runs on longs. (Collisions are ~|shingles|²/2⁶¹ —
    * immaterial for near-dup detection, and the DuckDB oracle applies
    * the identical hash so the gate stays exact.)
    *
    * The df cap rides a count window over the hash partition: ONE
    * shuffle of the exploded postings, whose hashpartitioning(h) the
    * pair self-join then reuses. (A broadcast anti-join against the
    * stop-shingle set was measured 3× slower at sf0.1 — it recomputes
    * the explode on both sides and serializes on the broadcast.)
    *
    * persist: the posting list is consumed by sizes + both join sides;
    * uncached, each consumer re-tokenizes and re-shuffles the corpus.
    * At 100 TB this materialization is the standard "posting list"
    * intermediate — cache-or-write-it is the design, not a local trick. */
  private def hashedPostings(df: DataFrame, idCol: String, textCol: Column,
                             shingleN: Int, maxShingleDf: Long,
                             scope: graft.CacheScope): DataFrame = {
    // explode_outer, not explode: InferFiltersFromGenerate would
    // synthesize `size(hs) > 0` and pushdown inlines the whole
    // tokenize+hash pipeline into an interpreted Filter (the q41 trap).
    // Empty-shingle docs surface as null h and are filtered ABOVE the
    // generate, where the column is a plain attribute.
    val hs = "__jj_hs"
    val exploded = withShingleHashes(df, textCol, shingleN) { shh =>
      array_distinct(shh)
    }(hs)
      .select(col(idCol).as("id"), explode_outer(col(hs)).as("h"))
      .filter(col("h").isNotNull)
    scope.cache(exploded
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("df") <= maxShingleDf))
  }

  /** (id_a, id_b, inter, sz_a, sz_b) → jaccard + threshold filter. */
  private def finishScore(withSizes: DataFrame, minJ: Double): DataFrame =
    withSizes
      .withColumn("jaccard",
        graft.functions.Fx.fx(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"), col("jaccard"))

  private def scoreAndFilter(inter: DataFrame, sizes: DataFrame, minJ: Double): DataFrame =
    finishScore(
      inter
        .join(sizes.toDF("id_a", "sz_a"), "id_a")
        .join(sizes.toDF("id_b", "sz_b"), "id_b"),
      minJ)

  /** N-gram Jaccard similarity join over hashed distinct shingles:
    * candidate pairs share ≥1 surviving shingle hash (after the df cap
    * removes stop-shingles — the skew bound), |∩| counted by a
    * co-occurrence groupBy. Returns pairs (id_a < id_b) with
    * jaccard ≥ minJ.
    *
    * This co-occurrence form is the right default for RECALL-ORIENTED
    * thresholds (minJ ≲ 0.5), where prefix filtering keeps ≳ half of
    * every posting list anyway (measured at sf0.1/minJ=0.2: the naive
    * pair phase beats prefix+intersect 2.7s vs 7.1s). For high
    * thresholds use [[jaccardJoinPrefix]]. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: Column,
                  shingleN: Int = 3, maxShingleDf: Long = 50,
                  minJ: Double = 0.2,
                  scope: graft.CacheScope = graft.CacheScope.unmanaged): DataFrame = {
    val filtered = hashedPostings(df, idCol, textCol, shingleN, maxShingleDf, scope)
    val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val a = filtered.select(col("id").as("id_a"), col("h"))
    val b = filtered.select(col("id").as("id_b"), col("h"))
    val inter = a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    scoreAndFilter(inter, sizes, minJ)
  }

  /** Jaccard join with PREFIX FILTERING (Bayardo et al. "Scaling Up All
    * Pairs Similarity Search" / Chaudhuri et al. SSJoin — public
    * literature): order each document's shingle hashes by global rarity
    * (df asc), index only the first ⌊(1−minJ)·sz⌋+1 per document for
    * candidate generation, then score candidates exactly by sorted-array
    * intersection. Lossless: a pair with J ≥ minJ must share a prefix
    * element — had the intersection avoided the prefix,
    * |∩| ≤ sz − p < t·sz ⟹ J < t (t margined just below minJ to cover
    * the rounded-filter boundary). Same output as [[jaccardJoin]].
    *
    * Wins when minJ is HIGH (short prefixes → candidate pairs collapse);
    * at permissive thresholds the co-occurrence form is faster. */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, textCol: Column,
                        shingleN: Int = 3, maxShingleDf: Long = 50,
                        minJ: Double = 0.2,
                        scope: graft.CacheScope = graft.CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val filtered = hashedPostings(df, idCol, textCol, shingleN, maxShingleDf, scope)
    // full sorted hash set + size per doc — exact scoring input (tiny
    // relative to the corpus: one row per doc; broadcast to score
    // candidates map-side)
    val sets = filtered.groupBy(col("id"))
      .agg(count(lit(1)).as("sz"), sort_array(collect_list(col("h"))).as("arr"))
    // prefix postings: rarest-first total order (df, h). The prefix
    // length is computed for tEff = minJ − 1e-4, NOT minJ: the final
    // filter compares the ROUNDED jaccard (4 decimals, oracle parity),
    // which admits true similarities down to minJ − 5e-5 — a prefix
    // sized for minJ exactly could drop those boundary pairs that the
    // co-occurrence form returns. The 1e-9 nudge guards float
    // under-rounding at exact integers — rounding p DOWN would lose
    // pairs, rounding up only admits extra candidates.
    val tEff = minJ - 1e-4
    val ranked = filtered
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("h"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("id"))))
    val prefix = ranked
      .filter(col("rn") <= floor(lit(1.0 - tEff) * col("sz") + lit(1e-9)) + lit(1))
      .select(col("id"), col("h"))
    val cand = prefix.toDF("id_a", "h")
      .join(prefix.toDF("id_b", "h"), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // no broadcast hint: `sets` carries every document's full hash
    // array — per-doc rows but corpus-sized payload; let Spark choose
    // (it shuffles when the relation outgrows the broadcast threshold)
    val scored = cand
      .join(sets.toDF("id_a", "sz_a", "arr_a"), "id_a")
      .join(sets.toDF("id_b", "sz_b", "arr_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
    finishScore(scored, minJ)
  }

  /** The original string-keyed all-co-occurrence form — kept as the
    * hash-free cross-check both hashed variants are asserted against
    * in DedupSpec. */
  def jaccardJoinAllPairs(df: DataFrame, idCol: String, textCol: Column,
                          shingleN: Int = 3, maxShingleDf: Long = 50,
                          minJ: Double = 0.2,
                          scope: graft.CacheScope = graft.CacheScope.unmanaged): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        explode(array_distinct(shingles(textCol, shingleN))).as("sh"))
    val filtered = scope.cache(sh
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .filter(col("df") <= maxShingleDf)
      .drop("df"))
    val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val a = filtered.toDF("id_a", "sh")
    val b = filtered.toDF("id_b", "sh")
    val inter = a.join(b, Seq("sh")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    scoreAndFilter(inter, sizes, minJ)
  }
}
