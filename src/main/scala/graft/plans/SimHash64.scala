package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass SimHash: 64-bit fingerprint of a document's distinct
  * lower-cased whitespace tokens, rendered as a 64-char '0'/'1' string.
  *
  * Semantically identical to the composed explode×64 + two-aggregation
  * form the q25 oracle spells out (`SimHash64Spec` keeps it as the
  * reference) but runs as a single scalar expression inside whole-stage
  * codegen: no explode, no shuffle, no 64×tokens intermediate rows.
  * `operators.NearDup.simHash` is this expression plus a non-null filter. This is the preferred extension shape when
  * built-in operators can't express an operator efficiently — a custom
  * Catalyst `Expression` with `doGenCode`, before reaching for a custom
  * physical plan.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  // NULL for token-less (empty/whitespace-only) docs, not just null input.
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val fp = SimHash64.compute(input.asInstanceOf[UTF8String].toString)
    if (fp == null) null else UTF8String.fromString(fp)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // freshName: a fixed name collides when the expression appears twice
      // in one codegen stage (compile error → interpreted fallback).
      val fp = ctx.freshName("graftFp")
      s"""
         |String $fp = graft.plans.SimHash64.compute($c.toString());
         |if ($fp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($fp);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(child = newChild)
}

object SimHash64 {

  /** Bit-vote simhash over distinct tokens; md5-derived bits so the result
    * matches the SQL-oracle formulation bit-for-bit. Returns `null` for
    * token-less (empty/whitespace-only) text — the oracle's `words` CTE
    * drops such docs, so the expression mirrors that by emitting NULL
    * rather than a degenerate all-'1' zero-vote fingerprint. */
  def compute(text: String): String = {
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[String]()
    val digest = java.security.MessageDigest.getInstance("MD5")
    // Locale.ROOT: locale-independent, matching Spark's and DuckDB's lower().
    val tokens = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
    var t = 0
    while (t < tokens.length) {
      val w = tokens(t)
      if (w.nonEmpty && seen.add(w)) {
        val h = digest.digest(w.getBytes("UTF-8"))
        var b = 0
        while (b < 64) {
          val digit = (h(b / 8) >> (if (b % 8 < 4) 4 else 0)) & 0xf
          val bit = (digit >> (3 - b % 4)) & 1
          votes(b) += (if (bit == 1) 1 else -1)
          b += 1
        }
      }
      t += 1
    }
    if (seen.isEmpty) return null
    val sb = new java.lang.StringBuilder(64)
    var b = 0
    while (b < 64) { sb.append(if (votes(b) >= 0) '1' else '0'); b += 1 }
    sb.toString
  }
}
