package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The curation clean stage — `redactText(stripMarkupText(text))` — as
  * ONE native expression (guide §1.2 "per-task work" / §4 "built-ins
  * over chains"). The chained form is 6 `regexp_replace` + 6 `replace`
  * + 1 `trim` expression nodes: every node converts UTF8String →
  * java.lang.String → UTF8String and walks the whole document, so each
  * row pays ~13 full-string passes and as many copies. This expression
  * materializes the String ONCE and applies the SAME passes in the
  * SAME order — each regex pass gated on a cheap necessary-character
  * scan (`indexOf`), so a document that cannot contain a match (no '<',
  * no '&', no '@', no digit, no '+') skips that regex engine pass
  * entirely. The passes themselves are byte-identical to the chained
  * form: same java.util.regex patterns applied sequentially (NOT fused
  * into one alternation — sequential replacement can create or destroy
  * later matches at replacement boundaries, e.g. "a@b.com1.2.3.4"
  * where the <EMAIL> substitution manufactures the \b the IPv4 pattern
  * needs), same entity-decode order, and a whitespace collapse+trim
  * that replicates `trim(regexp_replace(s, " +", " "))` exactly
  * (ASCII 0x20 only, like Spark's StringTrim). Pinned by
  * CleanTextSpec against the chained form on adversarial inputs.
  */
case class CleanTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def prettyName: String = CleanTextExpr.Name

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${CleanTextExpr.Name} needs string, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    CleanTextExpr.clean(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CleanTextExpr.clean($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CleanTextExpr {
  val Name = "graft_clean_text"

  // the exact patterns of TextAnalysis.stripMarkupText / .redactText —
  // compiled once per JVM instead of once per regexp_replace node
  private val Comments = Pattern.compile("<!--.*?-->")
  private val Tags = Pattern.compile("<[^<>]+>")
  private val Email =
    Pattern.compile("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
  private val Ipv4 =
    Pattern.compile("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")
  private val Phone = Pattern.compile("\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}")

  private def hasDigit(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') return true
      i += 1
    }
    false
  }

  /** `trim(regexp_replace(s, " +", " "))` in one pass: collapse runs
    * of ASCII spaces to one, drop leading/trailing spaces. Only 0x20 —
    * Spark's StringTrim and the " +" regex both touch nothing else. */
  private def collapseTrim(s: String): String = {
    // fast path: nothing to collapse and nothing to trim
    val n = s.length
    if (n == 0) return s
    if (s.charAt(0) != ' ' && s.charAt(n - 1) != ' ' && !s.contains("  "))
      return s
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ') {
        if (sb.length() > 0) pendingSpace = true // leading run: dropped
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString // trailing run: pendingSpace never flushed
  }

  /** The full clean chain, sequential passes with necessary-character
    * gates. Each gate is a strictly necessary condition of its pattern
    * (a literal the regex cannot match without), so a skipped pass is
    * provably a no-op — semantics are gate-independent. */
  def clean(u: UTF8String): UTF8String = {
    var s = u.toString
    // stripMarkupText: comments before tags, entities after tags
    if (s.indexOf("<!--") >= 0) s = Comments.matcher(s).replaceAll(" ")
    if (s.indexOf('<') >= 0) s = Tags.matcher(s).replaceAll(" ")
    if (s.indexOf('&') >= 0) {
      // MarkupEntities order: &amp; LAST (single-pass decode convention)
      s = s.replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&#39;", "'")
        .replace("&nbsp;", " ").replace("&amp;", "&")
    }
    s = collapseTrim(s)
    // redactText: PiiPatterns order (email, ipv4, phone); replacement
    // tokens carry no digits or '@', so they never feed a later gate
    if (s.indexOf('@') >= 0) s = Email.matcher(s).replaceAll("<EMAIL>")
    if (hasDigit(s)) s = Ipv4.matcher(s).replaceAll("<IP>")
    if (s.indexOf('+') >= 0) s = Phone.matcher(s).replaceAll("<PHONE>")
    UTF8String.fromString(s)
  }

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, Name)

  def of(c: Column): Column = call_function(Name, c)
}
