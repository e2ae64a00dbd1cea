package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance ≤ 1) self-join by deletion-neighborhood blocking
  * (FastSS, Bocek et al. 2007): each string emits itself plus every
  * single-character deletion; two strings within edit distance 1 MUST
  * share a variant (substitution ⟹ same-index deletions collide;
  * insertion/deletion ⟹ one string equals the other's deletion; equality
  * ⟹ self), so an equi-join on the variant finds every true pair and a
  * cheap exact `levenshtein` verify discards the false candidates the
  * blocking admits (e.g. "ab"/"ba" share variants at distance 2).
  *
  * Scale posture: candidate generation is a per-row flatMap with fan-out
  * ≤ len+1 — no n² compare anywhere; the join is a plain equi-join on the
  * variant key (hash the variant at 100 TB so the exchange carries 8-byte
  * keys), and each true pair is found at most len+1 times, so the
  * verify+distinct stage is linear in candidates. This is the entity-
  * resolution primitive: near-identical names/URLs/titles pair up without
  * a cartesian product.
  */
object FuzzyJoin {

  /** All single-character deletions of `s`, plus `s` itself (distinct). */
  private[graft] def deletionVariants(s: Column): Column = {
    val dels = transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    // guard: sequence(1, 0) would be the DESCENDING sequence [1, 0], not
    // empty — an empty string contributes only itself
    array_distinct(when(length(s) === 0, array(s))
      .otherwise(concat(array(s), dels)))
  }

  /** Pairs (id_a < id_b) whose strings are within edit distance 1, with
    * the exact distance. The join key is `xxhash64(variant)`, not the
    * variant string: the exchange carries 8-byte keys regardless of
    * string length, and a 64-bit collision can only ADD a candidate,
    * never lose one — the exact levenshtein verify below removes it, so
    * hashing costs nothing in correctness.
    */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val variants = df
      .select(col(idCol).as("id"), col(strCol).as("s"),
        explode(deletionVariants(col(strCol))).as("v0"))
      .select(col("id"), col("s"), xxhash64(col("v0")).as("v"))
    // Verify order, A/B-measured at sf1 on dd12:
    // FILTER FIRST, distinct after — 6.98 s vs 8.93 s for
    // distinct-then-verify. The inverted shape looked attractive (one
    // levenshtein per DISTINCT pair instead of two per raw candidate —
    // Filter and Project re-evaluate the expression), but a ≤1-edit
    // levenshtein over ~20-char strings is ~10² cheap ops while the
    // distinct is a full-width EXCHANGE: filtering 9.8M raw candidates
    // down to the ~2.6M true pairs BEFORE that exchange moves strictly
    // fewer bytes, and distinct's own partial aggregation dedups
    // map-side besides. Candidate volume itself is LINEAR in rows
    // (measured exactly 10× for 10× rows — FastSS block density is a
    // property of the name space, not the row count), so no block cap
    // is needed.
    variants.as("a").join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("name_a"), col("b.s").as("name_b"))
      .where(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("d"))
      .distinct()
  }
}
