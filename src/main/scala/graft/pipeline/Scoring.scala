package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._

/** Batched pairwise similarity scoring.
  *
  * Reference analog: MLM/NLLR candidate scoring
  * (nordlys/retrieval/scorer.py:197-269, query_sim_feat.py:70-122) — a
  * weighted mixture of per-field evidence. The graft's mixture is
  * token-Jaccard (set overlap, the dominant signal), Jaro-Winkler (custom
  * codegen'd Catalyst expression) and bounded Levenshtein similarity over a
  * normalized prefix. All three stay inside whole-stage codegen.
  *
  * Scale notes: the two joins that attach doc features to pairs shuffle by
  * conv_id; the feature payload is kept narrow (tokens + a `prefixChars`
  * slice of the normalized text, never the full turns array). Levenshtein
  * uses the threshold variant — O(maxDist·len), not O(len²) — and both
  * string kernels run on the bounded prefix, so per-pair cost is constant
  * regardless of document length.
  */
object Scoring {

  case class Weights(jaccard: Double = 0.6, jaroWinkler: Double = 0.25,
                     levenshtein: Double = 0.15)

  /** pairs(conv_a, conv_b, ...) × docs(conv_id, tokens[, prefix]) →
    * scored(conv_a, conv_b, jaccard, jw, lev_sim, score)
    *
    * `pruneBelowThreshold`: when the caller only consumes matches at a
    * score threshold t (the pipeline's matchedPairs cut), pairs whose
    * token-Jaccard is already too low to reach t EVEN WITH perfect
    * string scores — jaccard < (t − w_jw − w_lev)/w_jac — skip the
    * O(prefix²) Jaro-Winkler/Levenshtein kernels outright (their jw /
    * lev_sim columns read 0 and their score w_jac·jaccard, both safely
    * below t). The matched-edge set is provably unchanged: a skipped
    * pair's true score is ≤ w_jac·jaccard + w_jw + w_lev < t by the
    * guard (with a 1e-9 slack dwarfing double rounding), so no pair
    * that could match is ever skipped and no skipped pair can appear
    * above t. Callers that read per-pair jw/lev values (q13-style
    * scoring surfaces) must NOT set it — default off.
    *
    * `pairIdCol`: name of the docs column whose VALUES the pair ids refer
    * to. Default "conv_id" (pairs carry the document ids themselves). The
    * pipeline passes "hid" — a 64-bit hash of conv_id that blocking and
    * pair-dedup shuffle instead of id strings (16-byte fixed rows and
    * primitive agg keys through the two heaviest exchanges). The output
    * always carries the true string conv_a/conv_b: the doc-feature join
    * this stage already does restores them for free. Collision semantics:
    * a collision BETWEEN the two sides of a pair makes the join fan out —
    * extra VERIFIED candidates (scored by the exact kernels, dropped
    * unless truly similar), pure filterable noise. A collision of two
    * docs on ONE hid is different: they become a single blocking
    * identity, so the direct pair between them is never generated —
    * a recall loss with expected count ≈ n²/2⁶⁵ (~3·10⁻⁶ pairs at 10¹²
    * docs), the accepted price of 16-byte shuffle rows.
    */
  def scorePairs(pairs: DataFrame, docs: DataFrame, w: Weights = Weights(),
                 prefixChars: Int = 256, levMaxDist: Int = 128,
                 pairIdCol: String = "conv_id",
                 pruneBelowThreshold: Option[Double] = None): DataFrame = {
    val prefixCol =
      if (docs.columns.contains("prefix")) col("prefix")
      else substring(col("norm_text"), 1, prefixChars)
    // token sets carried as distinct 64-bit hashes (array<long>), not
    // strings: the pair joins + repartition ship this payload 3× per pair,
    // and long equality beats string hashing in the intersect kernel —
    // measured 182 s → (see BENCH) on 733k pairs at local-cluster[1,4].
    // Collision risk per pair ≈ |toks|²/2⁶⁵ — immaterial to a ratio.
    // Docs that already carry positional token hashes (`tokh`, the
    // pipeline's bandwidth-light payload) just dedup them.
    val tokSetCol =
      if (docs.columns.contains("tokh")) array_distinct(col("tokh"))
      else shingle_hashes(col("tokens"), 1)
    val feat = docs.select(
      col(pairIdCol).as("k"),
      col("conv_id").as("id"),
      tokSetCol.as("tok_set"),
      prefixCol.as("prefix"))

    val a = feat.select(col("k").as("conv_a"), col("id").as("id_a"),
      col("tok_set").as("tok_a"), col("prefix").as("pref_a"))
    val b = feat.select(col("k").as("conv_b"), col("id").as("id_b"),
      col("tok_set").as("tok_b"), col("prefix").as("pref_b"))

    val n = pairs.sparkSession.sessionState.conf.numShufflePartitions
    // shuffle-hash the doc-feature side: per-partition docs are bounded
    // (|docs|/N rows), and SHJ skips the two full sorts of the fat pair
    // rows that SMJ would do
    pairs.join(a.hint("shuffle_hash"), "conv_a")
      .join(b.hint("shuffle_hash"), "conv_b")
      // explicit fixed-N repartition before the kernels: the stage is
      // CPU-bound (JW is O(prefix²) per pair), and AQE's byte-based
      // coalescing would otherwise shrink it to a handful of tasks
      // (measured 118 s → ~12 s at 8 executors on 560k turns)
      .repartition(n, col("conv_a"), col("conv_b"))
      .withColumn("jaccard", token_jaccard(col("tok_a"), col("tok_b")))
      // conditional branches codegen lazily: pruned pairs never run the
      // string kernels (guide §1.2 step 1 — don't compute what the
      // threshold cut throws away)
      .withColumn("need_str", pruneBelowThreshold match {
        // with no Jaccard weight the guard's division is 0/0 or ±∞ — no
        // Jaccard value can tell pairs apart, so every pair is scored
        case Some(t) if w.jaccard > 0 =>
          col("jaccard") >= lit((t - w.jaroWinkler - w.levenshtein) / w.jaccard - 1e-9)
        case _ => lit(true)
      })
      .withColumn("jw", when(col("need_str"),
        jaro_winkler(col("pref_a"), col("pref_b"))).otherwise(0d))
      .withColumn("lev_sim", when(col("need_str"),
        levenshtein_sim(col("pref_a"), col("pref_b"), levMaxDist)).otherwise(0d))
      .withColumn("score",
        lit(w.jaccard) * col("jaccard") + lit(w.jaroWinkler) * col("jw") +
          lit(w.levenshtein) * col("lev_sim"))
      .select(col("id_a").as("conv_a"), col("id_b").as("conv_b"),
        col("jaccard"), col("jw"), col("lev_sim"), col("score"))
  }

  /** Threshold prune — the reference's commonness/score threshold pushdown
    * (query.py:249-256, greedy.py:68-74). Edges for the clustering stage.
    */
  def matchedPairs(scored: DataFrame, threshold: Double): DataFrame =
    scored.where(col("score") >= threshold).select("conv_a", "conv_b", "score")
}
