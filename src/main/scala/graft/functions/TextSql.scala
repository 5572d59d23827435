package graft.functions

import org.apache.spark.sql.{graftbridge, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.operators.TextOps

/** SQL-surface registration of the engine's reusable text/LSH column
  * combinators, so `spark.sql` users can compose the dedup pipeline
  * (shingles → signature → band key), the quality score and the content
  * hashes without touching the Scala API.
  *
  * Each function is a COMPOSITION of built-in Catalyst expressions (the
  * `Column` combinators in [[TextOps]], bridged through the
  * `graftbridge` Column↔Expression converters) — not a UDF: the
  * registered builder inlines the expression tree into the caller's
  * plan, so the optimizer sees through it and whole-stage codegen is
  * unbroken. Registered names:
  *
  *   - `graft_shingles(ws ARRAY<STRING>) → ARRAY<STRING>` — distinct
  *     word-3-gram shingles of a token array;
  *   - `graft_shingle_hashes(sh ARRAY<STRING>) → ARRAY<BIGINT>` — the
  *     60-bit md5-prefix base hashes (mod the MinHash prime);
  *   - `graft_minhash_sig(hs ARRAY<BIGINT>) → ARRAY<BIGINT>` — the
  *     k-permutation MinHash signature;
  *   - `graft_band_key(sig ARRAY<BIGINT>, band INT) → STRING` — the LSH
  *     band hash at a 0-based band index;
  *   - `graft_simhash(ws ARRAY<STRING>) → BIGINT` — the 32-bit SimHash
  *     fingerprint (majority bit over distinct-token hashes);
  *   - `graft_quality_score(text STRING) → DOUBLE` — the pretraining
  *     quality heuristic (length/stopword/TTR blend);
  *   - `graft_bow_hash(text STRING) → STRING` — the normalized
  *     bag-of-words dedup key.
  *
  * All constants (permutation coefficients, band geometry, fingerprint
  * width) come from the SAME [[TextOps]] values the DataFrame pipeline
  * and the DuckDB oracles use, so a SQL re-statement of a dedup query
  * is hash-identical to the Scala form (proven by the
  * q_minhash_neardup_sql oracle row and SqlSurfaceSpec).
  */
object TextSql {

  /** name → (arity, Column builder). */
  private[graft] val combinators: Seq[(String, Int, Seq[Column] => Column)] = Seq(
    ("graft_shingles", 1, cs => TextOps.shinglesOf(cs.head)),
    ("graft_shingle_hashes", 1, cs => TextOps.shingleHashesOf(cs.head)),
    ("graft_minhash_sig", 1, cs => TextOps.minhashSigOf(cs.head)),
    ("graft_band_key", 2, cs => TextOps.bandKeyOf(cs.head, cs(1))),
    ("graft_simhash", 1, cs => TextOps.simhashOf(cs.head)),
    ("graft_quality_score", 1, cs => TextOps.qualityScoreOf(cs.head)),
    ("graft_bow_hash", 1, cs => TextOps.bowHashOf(cs.head)))

  private[graft] def builderOf(
      name: String, arity: Int, f: Seq[Column] => Column): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == arity,
        s"$name expects $arity argument(s), got ${exprs.length}")
      graftbridge.expressionOf(f(exprs.map(graftbridge.columnOf)))
    }

  /** Register every combinator as a SQL-callable function on `spark`. */
  def registerAll(spark: SparkSession): Unit =
    combinators.foreach { case (name, arity, f) =>
      Registry.registerOnce(spark, name, TextSql.getClass.getName, builderOf(name, arity, f))
    }
}
