package graft

import org.apache.spark.sql.functions._
import graft.functions.ColumnFunctions._

/** Cross-engine FUZZ surface (round-3 verdict item #8): reads a
  * parquet of generated strings `(id BIGINT, s STRING)` — arbitrary
  * Unicode incl. CJK and astral-plane emoji, produced seeded by
  * `tools/check_oracle.py --fuzz N` — and evaluates every native hash
  * expression over them; the tool then recomputes the same values
  * INDEPENDENTLY in DuckDB SQL and compares. This is the end-to-end
  * complement of HashPropertySpec, which only proves the native
  * expressions equal Spark's own interpreted HOF forms: here the
  * second engine's string/code-point machinery is the referee, so a
  * divergence in UTF-8 decoding, tokenization of empty/double-space
  * tokens, or 64-bit modular arithmetic shows up as a value diff.
  *
  * Columns (each folds an array surface to ONE comparable value with
  * the same h=(h*31+x)%p fold the engine uses everywhere):
  *  - poly_fp:    PolyHashExpr over the whole string
  *  - token_fold: fold of TokenHashesExpr (split(" ", -1) semantics —
  *                leading/trailing/double spaces yield empty tokens)
  *  - sig_fp:     fold of the 16-perm MinHashSigExpr signature;
  *                -1 when fewer than 3 tokens (null contract)
  *  - simhash:    30-bit SimHashExpr bit-majority
  *  - ngram_fp:   fold of PolyHashExpr over each code-point 3-gram
  *                from CharNgramsExpr
  *  - canon_fp:   PolyHashExpr of CanonicalNormExpr's output — the
  *                single-pass native normalization vs DuckDB's own
  *                lower + regex pipeline (round 8)
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val Array(inputParquet, outDir) = args.take(2)
    val spark = Harness.session()
    try {
      val in = spark.read.parquet(inputParquet)
      val p = lit(HashP)
      def fold(arr: org.apache.spark.sql.Column) =
        aggregate(arr, lit(0L), (a, c) => pmod(a * lit(31L) + c, p))
      val th = tokenHashesNative(col("s"))
      // consecutive pairing for the binary Levenshtein expression;
      // ASCII-only domain (chars == bytes ⟺ DuckDB's byte distance
      // equals code-point distance, so the builtin is a valid referee
      // there; the CJK domain is oracle-pinned by cjk_edit_sim)
      val asciiOnly = length(col("s")) === octet_length(col("s"))
      val hashes = in.select(
        col("id"), col("s"), asciiOnly.as("is_ascii"),
        polyHash(col("s")).as("poly_fp"),
        fold(th).as("token_fold"),
        coalesce(fold(minhashSigNative(th, 16)), lit(-1L)).as("sig_fp"),
        simhashNative(th).as("simhash"),
        fold(transform(charNgrams(col("s"), 3), g => polyHash(g))).as("ngram_fp"),
        polyHash(canonicalNormNative(col("s"))).as("canon_fp"))
      val out = hashes.as("a")
        .join(hashes.as("b"), col("b.id") === col("a.id") + 1, "left")
        .select(
          col("a.id").as("id"), col("a.poly_fp").as("poly_fp"),
          col("a.token_fold").as("token_fold"), col("a.sig_fp").as("sig_fp"),
          col("a.simhash").as("simhash"), col("a.ngram_fp").as("ngram_fp"),
          col("a.canon_fp").as("canon_fp"),
          coalesce(
            when(col("a.is_ascii") && col("b.is_ascii"),
              levenshteinCp(col("a.s"), col("b.s")).cast("long")),
            lit(-1L)).as("lev_next"))
        .orderBy("id")
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/fuzz_hashes")
    } finally spark.stop()
  }
}
