package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass MinHash signature of a text column: K min-hash
  * components over 3-word shingles, in a single fused loop per row.
  *
  * Exists because the declarative in-row spelling —
  * `array((0 until K).map(j => array_min(transform(hs, h =>
  * xxhash64(j, h)))))` — is catastrophically slow for a per-row hot
  * path: higher-order functions evaluate INTERPRETED (no whole-stage
  * codegen), and Catalyst cannot factor the shared `hs` subtree out of
  * the K+1 sibling lambdas, so every component re-splits the text and
  * re-hashes every shingle — measured 33× duplicated interpreted work,
  * ~1.5 ms/doc at K=32 (the at-ingest probe's first cut ran at ~600
  * docs/s/core-32; COVERAGE.md's "At-ingest recall gap closed" row has
  * the later numbers). This expression is the same computation as ONE
  * loop: split once, hash each shingle once, fold the K mins in place.
  *
  * The hash family is BIT-IDENTICAL to both other spellings
  * (NeardupIngestSpec asserts it against the batch explode+groupBy
  * form): shingle id = xxhash64 over the UTF-8 bytes of
  * `w[i] ++ " " ++ w[i+1] ++ " " ++ w[i+2]` at Spark's default seed 42;
  * component j = min over shingles of xxhash64(j: int, id: long), which
  * chains as XXH64.hashLong(id, XXH64.hashInt(j, 42)) exactly like the
  * two-child `xxhash64(lit(j), col)` expression. Word splitting is
  * UTF8String.split on the literal-space pattern with limit -1 — the
  * same call `split(text, " ")` lowers to, empty tokens from repeated
  * spaces included. Sub-3-word docs (no shingles) yield NULL, matching
  * the grouped form where such docs simply have no row.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |${ev.value} = graft.functions.MinHashSig.compute($t, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val Space = UTF8String.fromString(" ")
  private val DefaultSeed = 42L

  /** Called from both eval and generated code. Returns null for sub-3-word
    * input (no shingles → no signature). */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val words = text.split(Space, -1)
    if (words.length < 3) return null
    // seeds[j] = state of xxhash64 after (seed 42, int j) — the constant
    // prefix of every component-j hash; 32 hashInt per row is noise next
    // to the shingles × K hashLong folds.
    val seeds = new Array[Long](k)
    var j = 0
    while (j < k) { seeds(j) = XXH64.hashInt(j, DefaultSeed); j += 1 }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    val last = words.length - 3
    while (i <= last) {
      val sh = UTF8String.concat(words(i), Space, words(i + 1), Space, words(i + 2))
      val id = XXH64.hashUnsafeBytes(
        sh.getBaseObject, sh.getBaseOffset, sh.numBytes, DefaultSeed)
      j = 0
      while (j < k) {
        val v = XXH64.hashLong(id, seeds(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
