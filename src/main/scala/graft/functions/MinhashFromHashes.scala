package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Full k-permutation MinHash signature of a shingle set in ONE row-level
  * pass over PRE-HASHED shingles (the [[ShingleHashes]] output): for each
  * shingle hash, k cheap long-rehashes (`XXH64.hashLong(h, perm)`),
  * tracking k minima. The base hash is XXH64(bytes, seed 42) of each
  * shingle string, so the signature equals one computed from the shingle
  * strings themselves.
  *
  * Structural win over the aggregate formulation (explode → shuffle →
  * groupBy with k min-aggregates): the signature becomes a pure
  * projection — no posting-list materialization, no shuffle at all until
  * the LSH band join. */
case class MinhashFromHashes(child: Expression, k: Int)
    extends UnaryExpression {

  // input: array<bigint> (shingle hashes); output: array<bigint> length k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_from_hashes"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var p = 0
      while (p < k) {
        val hp = XXH64.hashLong(h, p)
        if (hp < sig(p)) sig(p) = hp
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n"); val sig = ctx.freshName("sig")
      val i = ctx.freshName("i"); val p = ctx.freshName("p")
      val h = ctx.freshName("h"); val hp = ctx.freshName("hp")
      s"""
         |int $n = $x.numElements();
         |long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $x.getLong($i);
         |  for (int $p = 0; $p < $k; $p++) {
         |    long $hp = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($h, (long) $p);
         |    if ($hp < $sig[$p]) $sig[$p] = $hp;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashFromHashes =
    copy(child = newChild)
}

object MinhashFromHashes {
  def minhashFromHashes(hashes: Column, k: Int): Column =
    ColumnShim.column(MinhashFromHashes(ColumnShim.expression(hashes), k))
}
