package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Row-local MinHash signature over a PRE-HASHED shingle array —
  * `sig(i) = min over elements h of XXH64(h ⊕ salt_i, 42)`, the whole
  * signature computed inside one projection. The engine's one MinHash
  * signature implementation (SURVEY §2.12), registered as SQL
  * `graft_minhash_sig`.
  *
  * The signature frames this engine builds are ONE ROW PER DOCUMENT
  * (`(id, shingles array)`), so each row folds its own array: the plan is
  * Scan → Project with no Exchange, and the expression participates in
  * whole-stage codegen (the loop body is one static call; the per-element
  * work — [[MinHashKernel.NPerms]] XXH64 rounds — dwarfs the call
  * overhead). The per-perm hash is Spark's own XXH64 with seed 42, i.e.
  * the SQL `xxhash64(h ⊕ salt)` on a BIGINT.
  *
  * NULL for a NULL input, an empty array, or an all-NULL array; callers
  * drop those rows explicitly. Bit-identity with the explode +
  * 64-`min`-column relational form is asserted in the sbt suite.
  */
case class MinHashSignature(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> (shingle hashes), got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.compute(input.asInstanceOf[ArrayData], MinHashKernel.salts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltsRef = ctx.addReferenceObj("minhashSalts", MinHashKernel.salts, "long[]")
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.functions.MinHashKernel.compute($a, $saltsRef);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** The MinHash family (signature width, salt seed, salts) and the static
  * kernel shared by [[MinHashSignature]]'s interpreted and generated paths
  * (a standalone object so the codegen call resolves through the Java
  * static forwarder). */
object MinHashKernel {

  /** Signature width: permutations per signature. */
  val NPerms: Int = 64

  /** Salt seed: fixed, so every executor and every run agrees on the
    * signature function. */
  val Seed: Long = 7L

  /** Per-permutation salts, `Random(Seed)`'s first [[NPerms]] longs. */
  val salts: Array[Long] = {
    val r = new scala.util.Random(Seed)
    Array.fill(NPerms)(r.nextLong())
  }

  def compute(hashes: ArrayData, salts: Array[Long]): GenericArrayData = {
    val m = hashes.numElements()
    val out = Array.fill(salts.length)(Long.MaxValue)
    var any = false
    var j = 0
    while (j < m) {
      // NULL elements are skipped (unreachable from the engine's
      // pipelines — element hashes come from xxhash64).
      if (!hashes.isNullAt(j)) {
        any = true
        val h = hashes.getLong(j)
        var i = 0
        while (i < salts.length) {
          val p = XXH64.hashLong(h ^ salts(i), 42L)
          if (p < out(i)) out(i) = p
          i += 1
        }
      }
      j += 1
    }
    if (!any) null else new GenericArrayData(out)
  }
}
